package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: String,
    workDir: String,
    out: String,
    expected: Option[String],
    startMs: Long,
    mode: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv.get("expected"), kv("start-ms").toLong,
      kv.getOrElse("mode", "run"))
  }
}

/** What one run measured and checked; written as one JSON object. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, String]
  val digests = mutable.LinkedHashMap.empty[String, String]
  val notes = mutable.ArrayBuffer.empty[String]
  var spans: Option[Spans] = None

  def fail(msg: String): Unit = { failed += 1; note(s"FAILED $msg") }
  def note(msg: String): Unit = { notes += msg; System.err.println(s"[perfbench] $msg") }

  def toJson: String = {
    def metrics(m: Iterable[(String, Metric)]) = Json.obj(m.toSeq.map { case (k, v) =>
      k -> s"""{"value":${Json.num(v.value)},"unit":${Json.str(v.unit)}}""" })
    Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "e2e" -> metrics(e2e),
      "layers" -> metrics(layers),
      "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "digests" -> Json.obj(digests.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "notes" -> notes.map(Json.str).mkString("[", ",", "]"),
      "trace" -> spans.fold("null")(_.toJson)))
  }
}

/** Benchmark JVM: one workload, one seed, one run. `perfbench/run.py`
  * builds and launches it; see `perfbench/README.md`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spans = new Spans
    val t0 = System.nanoTime()
    val spark = spans("engine.session")(graft.Engine.localSession("graft-perfbench"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    def sinceStart(): Double = (System.currentTimeMillis() - args.startMs) / 1e3
    val res = try {
      args.mode match {
        case "oracle" =>
          val sql = graft.SparkEntry.oracleSql
          val names = BatchWorkload.eager ++ BatchWorkload.scan
          write(args.out, Json.obj(names.flatMap(n => sql.get(n).map(s => n -> Json.str(s)))))
          None
        case "record" =>
          val r = new Result
          val runner = new BatchWorkload.Runner(spark, args.dataDir, None, new Spans)
          runner.digests(BatchWorkload.entries(args.workload)).foreach { case (n, d) =>
            r.digests(n) = d.fold(e => s"error: $e", identity)
          }
          Some(r)
        case "run" if args.workload == "twitter_stream" =>
          Some(StreamWorkload.run(spark, args, spans, () => sinceStart()))
        case "run" =>
          Some(BatchWorkload.run(spark, args, spans, expectedDigests(args.expected), () => sinceStart()))
      }
    } finally spark.stop()
    res.foreach { r =>
      if (args.trace) {
        r.layers("engine.session_s") = Metric(sessionS, "s")
        r.spans = Some(spans)
      }
      r.info("local_width") = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      r.info("spark_version") = spark.version
      write(args.out, r.toJson)
    }
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  /** `{"entries": {name: {"digest": d, "source": s}}}` → name → (d, s). */
  private def expectedDigests(path: Option[String]): Map[String, (String, String)] = {
    import org.json4s._
    path.map { p =>
      val j = org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
      (j \ "entries") match {
        case JObject(fs) => fs.map { case (n, e) =>
          val JString(d) = e \ "digest": @unchecked
          val JString(s) = e \ "source": @unchecked
          n -> (d, s)
        }.toMap
        case _ => Map.empty[String, (String, String)]
      }
    }.getOrElse(Map.empty)
  }
}
