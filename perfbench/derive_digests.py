#!/usr/bin/env python3
"""Derive perfbench/expected/digests.json, the batch workloads' output check.

Usage (from the repository root): python3 perfbench/derive_digests.py

For each batch entry, the expected digest comes from DuckDB running the
entry's `SparkEntry.oracleSql` over perfbench/data (source "duckdb"). An
entry whose oracle SQL is missing, fails, or runs past the time limit keeps
the digest the engine produces at the commit this file was derived at
(source "recorded"). The engine's own digest is printed beside DuckDB's, so
a disagreement shows here, before it shows as a failed benchmark check.

The digest is the one `perfbench/src/graftbench/Digest.scala` computes:
row count, and the sum modulo 2^64 of the first 8 MD5 bytes of each row's
canonical text.
"""
import argparse
import calendar
import datetime
import decimal
import hashlib
import json
import os
import sys
import threading
import time
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

TABLES = "orders lineitem events documents".split()
LIMIT_S = 300
CTX = decimal.Context(prec=200)
SIX = decimal.Decimal("0.000001")


def number(d: decimal.Decimal) -> str:
    if d.is_nan():
        return "NaN"
    if d.is_infinite():
        return "Infinity" if d > 0 else "-Infinity"
    q = d.quantize(SIX, rounding=decimal.ROUND_HALF_EVEN, context=CTX)
    if q == 0:
        return "0"
    s = format(q, "f")
    return s.rstrip("0").rstrip(".") if "." in s else s


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return '"' + v + '"'
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(calendar.timegm(v.timetuple()) * 1000000 + v.microsecond)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def duck_digest(con, sql: str) -> str:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    n = total = 0
    while True:
        rows = cur.fetchmany(10000)
        if not rows:
            break
        for r in rows:
            s = "".join(canon(r[i]) + "\u0001" for i in order)
            total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
            n += 1
    return f"{n}:{total % (1 << 64):016x}"


def jvm_json(workload: str, mode: str) -> dict:
    a = argparse.Namespace(workload=workload, seed=0, seconds=0, trace=0)
    work = HERE.parent / ".bench_build" / "graftbench" / "derive" / f"{workload}-{mode}"
    return run.jvm(a, work, run.nproc(), time.time() + 3600, mode=mode)


def main() -> int:
    build.build()
    oracle = jvm_json("batch_scan", "oracle")
    spark = {}
    for w in ("batch_eager", "batch_scan"):
        spark.update(jvm_json(w, "record")["digests"])
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA / (t + '.parquet')}'")
    entries = {}
    for name in sorted(spark):
        digest, source, note = spark[name], "recorded", "no oracle SQL"
        if name in oracle:
            timer = threading.Timer(LIMIT_S, con.interrupt)
            t0 = time.time()
            timer.start()
            try:
                digest, source = duck_digest(con, oracle[name]), "duckdb"
                note = f"{time.time() - t0:.1f} s in DuckDB; engine {spark[name]}"
                if digest != spark[name]:
                    note += "  <-- DISAGREES"
            except Exception as e:  # oracle SQL DuckDB cannot run in time
                digest, note = spark[name], f"oracle failed: {str(e).splitlines()[0][:100]}"
            finally:
                timer.cancel()
        if digest.startswith("error"):
            print(f"{name}: engine failed, no digest", file=sys.stderr)
            return 1
        entries[name] = {"digest": digest, "source": source}
        print(f"{name}: {digest} ({source}; {note})")
    out = HERE / "expected" / "digests.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({"data": "perfbench/data (sf0.01)", "entries": entries},
                              indent=2, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
