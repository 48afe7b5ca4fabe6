package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The two batch workloads: declared queries from `SparkEntry.queries`,
  * each entry built, planned and written to the `noop` sink, with
  * `graft.Bench`'s cleanup between entries. */
object BatchWorkload {

  /** Entries that spend most of their time in eager Spark jobs run while
    * the DataFrame is built: `Cumulative`'s two-pass rank (q120) and a
    * `Graph` fixpoint loop (q125). */
  val eager: Seq[String] = Seq("q120_score_deciles", "q125_graph_pagerank")

  /** The reference's pipelines as batch queries: construction runs no
    * jobs; the time is scan, codegen, shuffle and expression evaluation. */
  val scan: Seq[String] = Seq(
    "q01_scan_filter_project", "q02_json_extract", "q03_tokenize_explode",
    "q05_tumbling_count", "q07_trending_single_stage", "q08_trending_two_stage")

  def entries(workload: String): Seq[String] = workload match {
    case "batch_eager" => eager
    case "batch_scan" => scan
  }

  /** One entry of one timed pass. */
  final case class EntryRun(name: String, ok: Boolean, constructS: Double, planS: Double,
      execS: Double, construct: Counters.Snap, exec: Counters.Snap,
      persistedBytes: Long, persistedRdds: Long, phasesMs: Map[String, Double]) {
    def totalS: Double = constructS + planS + execS
  }

  /** Drop every cached frame, rank cache and persisted RDD an entry left
    * behind, then nudge the ContextCleaner, as `graft.Bench` does between
    * entries. */
  def deepClean(spark: SparkSession): Unit = {
    graft.operators.Cumulative.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  final class Runner(spark: SparkSession, dataDir: String, counters: Option[Counters],
      spans: Spans) {
    private val queries = graft.SparkEntry.queries

    private def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }

    private def snap(): Counters.Snap = counters.fold(Counters.zero)(_.snap(spark))

    /** Build → plan → `noop` write, each timed on its own. */
    def entry(name: String): EntryRun = spans("entry") {
      deepClean(spark)
      val q = queries(name)
      val c0 = snap()
      try {
        val (df, constructS) = timed(spans("operators.construct")(q(spark, dataDir)))
        val c1 = snap()
        val (bytes, rdds) =
          if (counters.isEmpty) (0L, 0L)
          else spans("bridge.storage") {
            val info = spark.sparkContext.getRDDStorageInfo
            (info.map(i => i.memSize + i.diskSize).sum, spark.sparkContext.getPersistentRDDs.size.toLong)
          }
        val (_, planS) = timed(spans("plans.plan")(df.queryExecution.executedPlan))
        val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        val c2 = snap()
        val (_, execS) = timed(spans("exec.execute")(
          df.write.format("noop").mode("overwrite").save()))
        val c3 = snap()
        System.err.println(f"[perfbench] $name%-28s construct $constructS%.3f s, plan $planS%.3f s, execute $execS%.3f s")
        EntryRun(name, ok = true, constructS, planS, execS, c1 - c0, c3 - c2, bytes, rdds, phases)
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          EntryRun(name, ok = false, 0, 0, 0, Counters.zero, Counters.zero, 0, 0, Map.empty)
      }
    }

    def pass(order: Seq[String]): Seq[EntryRun] = spans("pass")(order.map(entry))

    /** Untimed: build each entry and digest its rows. A built frame is
      * executed once only: iterative engines release their checkpoint
      * leaves after the first execution. */
    def digests(order: Seq[String]): Seq[(String, Either[String, String])] = order.map { name =>
      deepClean(spark)
      val r = try Right(Digest.of(queries(name)(spark, dataDir)))
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(String.valueOf(e.getMessage)) }
      System.err.println(s"[perfbench] $name warm-up done")
      name -> r
    }
  }

  def run(spark: SparkSession, args: Args, spans: Spans,
      expected: Map[String, (String, String)], setupDone: () => Double): Result = {
    val names = entries(args.workload)
    // the seed fixes the order the entries run in; the tables are fixed
    val order = new Random(args.seed).shuffle(names)
    val res = new Result
    res.info("entry_order") = order.mkString(",")

    val plain = new Runner(spark, args.dataDir, None, new Spans)
    // warm-up pass: JIT, codegen caches and parquet footers, plus the output check
    plain.digests(order).foreach { case (name, got) =>
      res.attempted += 1
      val (want, source) = expected.getOrElse(name, ("", "missing"))
      got match {
        case Left(err) =>
          res.fail(s"$name: failed in the warm-up pass: $err")
        case Right(d) if d != want =>
          res.fail(s"$name: digest $d, expected $want ($source)")
        case Right(d) =>
          res.note(s"check $name: digest $d matches ($source)")
      }
      res.digests(name) = got.getOrElse("")
    }
    // a second, untimed pass as the timed ones run it: the first pass after
    // the digest pass still compiles the `noop` write's generated code
    val second = plain.pass(order)
    res.attempted += second.size
    second.filterNot(_.ok).foreach(e => res.fail(s"${e.name}: failed in the warm-up pass"))
    val setupS = setupDone()

    // traced runs interleave untraced and traced passes as U T T U U T T U …,
    // so a steady speed-up over the run (JIT) favours neither side and the
    // difference is the tracing overhead
    val counters = new Counters
    val tracer = new Runner(spark, args.dataDir, Some(counters), spans)
    val untraced = mutable.ArrayBuffer.empty[Seq[EntryRun]]
    val traced = mutable.ArrayBuffer.empty[Seq[EntryRun]]
    val budget = args.seconds * (if (args.trace) 2 else 1)
    val t0 = System.nanoTime()
    while (untraced.isEmpty || (args.trace && traced.isEmpty) || (System.nanoTime() - t0) / 1e9 < budget) {
      val tracing = args.trace && Set(1, 2)((untraced.size + traced.size) % 4)
      val p =
        if (tracing) {
          spark.sparkContext.addSparkListener(counters)
          try tracer.pass(order) finally spark.sparkContext.removeSparkListener(counters)
        } else plain.pass(order)
      res.attempted += p.size
      p.filterNot(_.ok).foreach(e => res.fail(s"${e.name}: failed in a timed pass"))
      (if (tracing) traced else untraced) += p
    }

    val passS = untraced.map(_.map(_.totalS).sum).toSeq
    res.info("pass_s_samples") = passS.mkString(",")
    res.e2e("setup_s") = Metric(setupS, "s")
    res.e2e("latency_p50_s") = Metric(Stats.median(passS), "s")
    res.e2e("throughput_per_s") = Metric(untraced.map(_.size).sum / passS.sum, "1/s")

    if (args.trace) {
      val perPass = traced.map(layers).toSeq
      perPass.head.keys.foreach(k => res.layers(k) = Metric(Stats.median(perPass.map(_(k).value)), perPass.head(k).unit))
      res.layers("trace.overhead_ratio") =
        Metric(Stats.median(traced.map(_.map(_.totalS).sum).toSeq) / Stats.median(passS) - 1, "ratio")
    }
    res
  }

  /** Per-layer metrics of one traced pass; a traced run reports each one
    * as its median over the run's traced passes. */
  def layers(pass: Seq[EntryRun]): Map[String, Metric] = {
    val c = pass.map(_.construct).foldLeft(Counters.zero)(_ + _)
    val x = pass.map(_.exec).foldLeft(Counters.zero)(_ + _)
    def phase(p: String) = pass.map(_.phasesMs.getOrElse(p, 0.0)).sum / 1000
    val m = mutable.LinkedHashMap[String, Metric](
      "operators.construct_s" -> Metric(pass.map(_.constructS).sum, "s"),
      "operators.construct_jobs" -> Metric(c.jobs.toDouble, "count"),
      "operators.construct_stages" -> Metric(c.stages.toDouble, "count"),
      "operators.construct_tasks" -> Metric(c.tasks.toDouble, "count"),
      "plans.plan_s" -> Metric(pass.map(_.planS).sum, "s"),
      "plans.analysis_s" -> Metric(phase("analysis"), "s"),
      "plans.optimization_s" -> Metric(phase("optimization"), "s"),
      "plans.planning_s" -> Metric(phase("planning"), "s"),
      "exec.execute_s" -> Metric(pass.map(_.execS).sum, "s"),
      "exec.jobs" -> Metric(x.jobs.toDouble, "count"),
      "exec.stages" -> Metric(x.stages.toDouble, "count"),
      "exec.tasks" -> Metric(x.tasks.toDouble, "count"),
      "exec.task_cpu_s" -> Metric(x.cpuNs / 1e9, "s"),
      "exec.gc_s" -> Metric(x.gcMs / 1e3, "s"),
      "exec.shuffle_write_bytes" -> Metric(x.shuffleWrite.toDouble, "bytes"),
      "exec.shuffle_read_bytes" -> Metric(x.shuffleRead.toDouble, "bytes"),
      "exec.spill_bytes" -> Metric(x.spill.toDouble, "bytes"),
      "exec.peak_execution_memory_bytes" -> Metric(x.peakExec.toDouble, "bytes"),
      "bridge.persisted_bytes" -> Metric(pass.map(_.persistedBytes).sum.toDouble, "bytes"),
      "bridge.persisted_rdds" -> Metric(pass.map(_.persistedRdds).sum.toDouble, "count"))
    pass.filter(e => eager.contains(e.name)).foreach { e =>
      m(s"operators.${e.name}.construct_s") = Metric(e.constructS, "s")
      m(s"operators.${e.name}.construct_jobs") = Metric(e.construct.jobs.toDouble, "count")
    }
    m.toMap
  }
}
