#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <twitter_stream|batch_eager|batch_scan>
      --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM at local[nproc], checks its outputs, and prints a
human summary followed, as the last line, by one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}
With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics; with
--trace 1 they are its per-layer metrics (0 where a layer does not apply to
the workload). See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("twitter_stream", "batch_eager", "batch_scan")
DATA = HERE / "data"
EXPECTED = HERE / "expected" / "digests.json"
# a run must end within 180 s; leave room to report a timeout
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs these (build.sbt's jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list:
    """Aggregate CPU ticks from /proc/stat (user … steal), or [] off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_share(t0: list, t1: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between t0 and t1."""
    if not t0 or not t1 or sum(t1) == sum(t0):
        return 0.0
    return (t1[7] - t0[7]) / (sum(t1) - sum(t0))


def commit() -> str:
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def jvm(args, work: Path, cpus: int, deadline: float, mode: str = "run") -> dict:
    """Run the benchmark JVM once; its result JSON plus its peak RSS."""
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    out = work / "result.json"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=str(work / "spark-local"))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    # a fixed heap and young generation keep peak RSS a measure of what the
    # run holds, not of how far the collector chose to grow the heap
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", str(DATA), "--work", str(work), "--out", str(out),
              "--expected", str(EXPECTED), "--start-ms", str(int(time.time() * 1000)),
              "--mode", mode])
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    code, usage = wait(proc, deadline)
    if code != 0 or not out.exists():
        raise RuntimeError(f"benchmark JVM exited with {code}")
    res = json.loads(out.read_text())
    res["peak_rss_mb"] = usage.ru_maxrss / 1024.0
    return res


def wait(proc, deadline: float):
    """Reap the JVM, killing it at the deadline: (exit code, its rusage)."""
    try:
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, usage
            if time.time() > deadline:
                raise RuntimeError("benchmark JVM ran past the deadline and was stopped")
            time.sleep(0.05)
    finally:
        if proc.returncode is None:
            proc.kill()
            os.wait4(proc.pid, 0)
            proc.returncode = -9


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for need in (ROOT / "src" / "main" / "scala", DATA, EXPECTED):
        if not need.exists():
            print(f"perfbench: missing {need.relative_to(ROOT)}; run from a full checkout",
                  file=sys.stderr)
            return 2
    build.build()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    cpus = nproc()
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    base = ROOT / ".bench_build" / "graftbench"
    work = base / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        res = jvm(args, work, cpus, deadline)
        single = None
        if args.trace and args.workload == "twitter_stream":
            # the reference runs the job at setParallelism(1): the same job at
            # local[1], over half the time so the traced run stays short
            half = argparse.Namespace(**dict(vars(args), seconds=args.seconds / 2, trace=0))
            single = jvm(half, work / "single-core", 1, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()[0]
    steal = steal_share(ticks_start, cpu_ticks())

    failed, attempted = res["failed"], res["attempted"]
    if single is not None:
        failed += single["failed"]
        attempted += single["attempted"]
    context = {"nproc": cpus, "local_width": res["info"].get("local_width"),
               "load1_start": load_start, "load1_end": load_end, "cpu_steal_share": round(steal, 4),
               "commit": commit(), "source_digest": build.stamp()[:16],
               "seed": args.seed, "seconds": args.seconds}
    for k, v in res["info"].items():
        print(f"info {k}: {v}")
    for n in res["notes"]:
        print(n)
    print("context " + json.dumps(context, sort_keys=True))

    if args.trace:
        layers = dict(res["layers"])
        if single is not None:
            layers["streaming.single_core_tweets_per_s"] = single["e2e"]["throughput_per_s"]
        traces = base / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        if res.get("trace"):
            (traces / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(res["trace"]))
        metrics = {}
        for m in spec["per_layer"]:
            v = layers.get(m["name"])
            metrics[m["name"]] = v if v is not None else {"value": 0, "unit": m["unit"]}
            if v is None:
                print(f"layer {m['name']}: n/a for {args.workload}")
        for k in sorted(set(layers) - set(metrics)):
            print(f"layer {k} (not listed): {layers[k]['value']} {layers[k]['unit']}")
    else:
        e2e = dict(res["e2e"], peak_rss_mb={"value": res["peak_rss_mb"], "unit": "MB"})
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
        if missing:
            print(f"perfbench: the run measured no {', '.join(missing)}", file=sys.stderr)
            return 1
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        print(summary(args.workload, e2e, failed, attempted))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def summary(workload: str, e2e: dict, failed: int, attempted: int) -> str:
    """The end-to-end metrics under the names each workload's users read them by."""
    v = {k: m["value"] for k, m in e2e.items()}
    parts = [f"setup_s={v['setup_s']:.3f} s"]
    if workload == "twitter_stream":
        parts += [f"tweets_per_s={v['throughput_per_s']:.1f} 1/s",
                  f"commit_latency_p50_s={v['latency_p50_s']:.3f} s"]
    else:
        parts += [f"pass_s={v['latency_p50_s']:.3f} s",
                  f"entries_per_s={v['throughput_per_s']:.3f} 1/s"]
    parts += [f"peak_rss_mb={v['peak_rss_mb']:.0f} MB",
              f"failed_ratio={failed / attempted:.4f} ({failed}/{attempted})"]
    return f"{workload}: " + " ".join(parts)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
