package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.TwitterJob

/** The reference job, `TwitterJob.start` (pipelines A–D, line-protocol file
  * sinks, `Trigger.ProcessingTime(0)`), fed a seeded synthetic tweet stream
  * through `MemoryStream` in a closed loop with one client: micro-batch
  * k+1 is added only after all four queries have committed micro-batch k. */
object StreamWorkload {

  val TweetsPerBatch = 5000
  val Tags = 5000
  /** Event time advances this much per micro-batch. */
  val StepMs = 2000L
  val WatermarkMs = 300000L
  val T0 = 1700000000000L

  val pipelines: Seq[(String, String)] = Seq(
    "a_trending2" -> "twitter-a-trending2", "b_trending1" -> "twitter-b-trending1",
    "c_total" -> "twitter-c-total", "d_persecond" -> "twitter-d-persecond")

  final case class Ev(ts: Long, tags: Array[String])

  /** Seeded input: per micro-batch, 5,000 tweets in the reference's `Tweet`
    * JSON shape with 0–3 hashtags drawn Zipf-like from 5,000 tags. About
    * 10% arrive up to 240 s out of order (inside the 300 s watermark) and
    * 0.5% arrive 310–400 s late (beyond it). */
  final class Input(seed: Long, batches: Int) {
    private val rnd = new Random(seed)
    private val cdf = {
      val w = (1 to Tags).map(r => 1.0 / math.pow(r, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private def tag(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"#t${if (i >= 0) i else math.min(-i - 1, Tags - 1)}"
    }
    private val langs = Array("en", "en", "en", "es", "de", "fr", "ja")

    val events: Array[Array[Ev]] = Array.tabulate(batches) { k =>
      val base = T0 + StepMs * k
      Array.fill(TweetsPerBatch) {
        val r = rnd.nextDouble()
        val ts =
          if (r < 0.005) base - 310000L - rnd.nextInt(90000)
          else if (r < 0.105) base - rnd.nextInt(240000)
          else base + rnd.nextInt(StepMs.toInt)
        val n = rnd.nextDouble() match {
          case x if x < 0.3 => 0
          case x if x < 0.65 => 1
          case x if x < 0.9 => 2
          case _ => 3
        }
        Ev(ts, Array.fill(n)(tag()))
      }
    }

    val json: Array[Array[String]] = events.map(_.map { e =>
      val words = Array.fill(3 + rnd.nextInt(6))(s"w${rnd.nextInt(1000)}")
      val text = (words ++ e.tags).sortBy(_ => rnd.nextInt()).mkString(" ")
      s"""{"text":"$text","createdAt":${e.ts},"lang":"${langs(rnd.nextInt(langs.length))}"}"""
    })

    def digest: String = {
      val md = MessageDigest.getInstance("MD5")
      json.foreach(_.foreach { s => md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) })
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
  }

  /** The four pipelines' expected output, computed in plain Scala from the
    * micro-batches as fed. A row is late when its window ends at or before
    * the watermark, i.e. the largest event time of earlier micro-batches
    * less 300 s; a late stateful-operator row is one (window, key) of one
    * micro-batch. */
  final class Model {
    private val a5 = mutable.Map.empty[(Long, String), Long] // (5 s window start, tag)
    private val b = mutable.Map.empty[(Long, String), Long] // (30 s/5 s window start, tag)
    private val d = mutable.Map.empty[Long, Long] // 1 s window start
    var total = 0L
    var droppedA = 0L
    var droppedD = 0L
    private var maxTs = Long.MinValue

    private def wm: Long = if (maxTs == Long.MinValue) 0L else maxTs - WatermarkMs

    def feed(batch: Seq[Ev]): Unit = {
      val late = wm
      val a = mutable.Map.empty[(Long, String), Long]
      val s = mutable.Map.empty[Long, Long]
      batch.foreach { e =>
        total += 1
        s(floor(e.ts, 1000)) = s.getOrElse(floor(e.ts, 1000), 0L) + 1
        e.tags.foreach { t =>
          val k = (floor(e.ts, 5000), t)
          a(k) = a.getOrElse(k, 0L) + 1
          (0 until 6).foreach { i =>
            val w = (floor(e.ts, 5000) - 5000L * i, t)
            b(w) = b.getOrElse(w, 0L) + 1
          }
        }
        maxTs = math.max(maxTs, e.ts)
      }
      a.foreach { case (k, n) =>
        if (k._1 + 5000 <= late) droppedA += 1 else a5(k) = a5.getOrElse(k, 0L) + n
      }
      s.foreach { case (k, n) =>
        if (k + 1000 <= late) droppedD += 1 else d(k) = d.getOrElse(k, 0L) + n
      }
    }

    private def floor(ts: Long, w: Long): Long = Math.floorDiv(ts, w) * w

    private def top(counts: Iterable[((Long, String), Long)], size: Long): Map[Long, (String, Long)] =
      counts.groupBy(_._1._1).map { case (start, xs) =>
        val (tag, n) = xs.map { case ((_, t), n) => (t, n) }
          .minBy { case (t, n) => (-n, t) }
        (start + size) -> (tag, n)
      }

    /** Pipeline A: top tag per closed 30 s window (end ≤ final watermark). */
    def expectA: Map[Long, (String, Long)] = {
      val per30 = a5.toSeq.groupMapReduce { case ((s, t), _) => (floor(s, 30000), t) }(_._2)(_ + _)
      top(per30, 30000).filter(_._1 <= wm)
    }
    /** Pipeline B: top tag per 30 s window sliding by 5 s, every tweet counted. */
    def expectB: Map[Long, (String, Long)] = top(b, 30000)
    /** Pipeline D: tweets per closed second. */
    def expectD: Map[Long, Long] = d.collect { case (s, n) if s + 1000 <= wm => (s + 1000) -> n }.toMap
  }

  /** Progress events of traced micro-batches, per query name. */
  final class ProgressLog extends StreamingQueryListener {
    val events = mutable.Map.empty[String, mutable.ArrayBuffer[StreamingQueryProgress]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      events.getOrElseUpdate(e.progress.name, mutable.ArrayBuffer.empty) += e.progress
    }
  }

  def run(spark: SparkSession, args: Args, spans: Spans, setupDone: () => Double): Result = {
    val res = new Result
    // enough micro-batches for a system four times faster than a 1 s commit
    val batches = 2 + math.ceil(args.seconds * (if (args.trace) 2 else 1) * 4).toInt
    val input = new Input(args.seed, batches)
    res.info("input_digest") = input.digest
    res.info("input_batches_generated") = batches.toString
    val model = new Model

    val work = new File(args.workDir)
    val influx = new File(work, "influx").getPath
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val t0 = System.nanoTime()
    val queries = spans("streaming.start")(TwitterJob.start(spark, in.toDF(), TwitterJob.Config(
      influxDir = influx, trigger = Trigger.ProcessingTime(0),
      checkpointDir = Some(new File(work, "checkpoints").getPath))))
    val startS = (System.nanoTime() - t0) / 1e9

    var fed = 0
    /** Feed one micro-batch and wait until all four queries committed it. */
    def commit(batch: Array[String], evs: Seq[Ev]): Double = spans("streaming.micro_batch") {
      val t = System.nanoTime()
      res.attempted += 1
      spans("streaming.add_data")(in.addData(batch.toSeq))
      queries.foreach(q => spans(s"streaming.await.${q.name}")(q.processAllAvailable()))
      val s = (System.nanoTime() - t) / 1e9
      model.feed(evs)
      s
    }
    def next(): Double = {
      val s = commit(input.json(fed), input.events(fed).toSeq)
      fed += 1
      s
    }

    try {
      val firstBatchS = next()
      // a second untimed micro-batch: the first one after the first still
      // runs a third slower while the JIT compiles the steady-state paths
      next()
      val setupS = setupDone()

      val counters = new Counters
      val progress = new ProgressLog
      val untraced = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[Double]
      var tracedCounts = Counters.zero
      val budget = args.seconds * (if (args.trace) 2 else 1)
      val tStart = System.nanoTime()
      // traced runs interleave untraced and traced micro-batches as
      // U T T U U T T U …, so state growth and JIT warm-up over the run
      // favour neither side and the difference is the tracing overhead
      while ((untraced.isEmpty || (args.trace && traced.isEmpty) ||
          (System.nanoTime() - tStart) / 1e9 < budget) && fed < batches) {
        if (args.trace && Set(1, 2)((untraced.size + traced.size) % 4)) {
          spark.sparkContext.addSparkListener(counters)
          spark.streams.addListener(progress)
          val c0 = counters.snap(spark)
          traced += next()
          tracedCounts = tracedCounts + (counters.snap(spark) - c0)
          spark.streams.removeListener(progress)
          spark.sparkContext.removeSparkListener(counters)
        } else untraced += next()
      }
      val timedS = (System.nanoTime() - tStart) / 1e9
      if (fed >= batches) res.note(s"ran out of generated input after $fed micro-batches")

      // close every window: one tweet far past the last, then the no-data
      // micro-batches that move the watermark past it
      val flushTs = input.events.take(fed).flatten.map(_.ts).max + 2 * WatermarkMs
      commit(Array(s"""{"text":"flush","createdAt":$flushTs,"lang":"en"}"""),
        Seq(Ev(flushTs, Array.empty)))

      res.info("micro_batches_timed") = (untraced.size + traced.size).toString
      res.info("commit_latency_samples_s") = untraced.mkString(",")
      res.e2e("setup_s") = Metric(setupS, "s")
      res.e2e("latency_p50_s") = Metric(Stats.median(untraced.toSeq), "s")
      res.e2e("throughput_per_s") =
        Metric((untraced.size + traced.size) * TweetsPerBatch / timedS, "1/s")

      val recent = pipelines.map { case (short, name) =>
        short -> queries.find(_.name == name).get.recentProgress.toSeq
      }.toMap
      spans("sink.check")(check(res, model, influx, recent))

      if (args.trace) {
        val n = traced.size.toDouble
        res.layers ++= Seq(
          "streaming.start_s" -> Metric(startS, "s"),
          "streaming.first_batch_s" -> Metric(firstBatchS, "s"),
          "streaming.jobs_per_batch" -> Metric(tracedCounts.jobs / n, "count"),
          "streaming.tasks_per_batch" -> Metric(tracedCounts.tasks / n, "count"),
          "streaming.shuffle_write_bytes_per_batch" -> Metric(tracedCounts.shuffleWrite / n, "bytes"),
          "trace.overhead_ratio" ->
            Metric(Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1, "ratio"))
        pipelines.foreach { case (short, name) =>
          res.layers ++= pipelineLayers(short,
            progress.events.getOrElse(name, mutable.ArrayBuffer.empty).toSeq, recent(short))
        }
        res.layers ++= sinkLayers(new File(influx))
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        res.fail(s"stream failed after $fed micro-batches: $e")
    } finally queries.foreach(_.stop())
    res.info("micro_batches_fed") = fed.toString
    res
  }

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def dropped(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** Per-pipeline metrics: phase medians over traced data micro-batches,
    * state size at the end, and counts over the whole run. */
  def pipelineLayers(short: String, traced: Seq[StreamingQueryProgress],
      all: Seq[StreamingQueryProgress]): Seq[(String, Metric)] = {
    val data = traced.filter(_.numInputRows > 0)
    def phase(k: String) = p50(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val last = all.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    Seq(
      "addBatch_ms_p50" -> Metric(phase("addBatch"), "ms"),
      "queryPlanning_ms_p50" -> Metric(phase("queryPlanning"), "ms"),
      "walCommit_ms_p50" -> Metric(phase("walCommit"), "ms"),
      "commitOffsets_ms_p50" -> Metric(phase("commitOffsets"), "ms"),
      "triggerExecution_ms_p50" -> Metric(phase("triggerExecution"), "ms"),
      "state_commit_ms_p50" -> Metric(p50(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms"),
      "batches" -> Metric(all.size.toDouble, "count"),
      "state_rows_end" -> Metric(last.map(_.numRowsTotal).sum.toDouble, "count"),
      "state_memory_bytes_end" -> Metric(last.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
      "rows_dropped_by_watermark" -> Metric(dropped(all).toDouble, "count")
    ).map { case (k, v) => s"streaming.$short.$k" -> v }
  }

  def sinkLayers(root: File): Seq[(String, Metric)] = {
    val files = Option(root.listFiles).toSeq.flatten.flatMap(d => Option(d.listFiles).toSeq.flatten)
    val lines = files.map(f => java.nio.file.Files.readAllLines(f.toPath).size.toLong).sum
    Seq("sink.files" -> Metric(files.size.toDouble, "count"),
      "sink.lines" -> Metric(lines.toDouble, "count"),
      "sink.bytes" -> Metric(files.map(_.length).sum.toDouble, "bytes"))
  }

  /** Lines of one measurement directory as (epoch, time_ms, fields). */
  private def read(dir: File): Seq[(Long, Long, Map[String, String])] = {
    val FileName = """part-\d+-(\d+)\.lp""".r
    val Line = """(\S+) (.*) (\d+)""".r
    val Field = """(\w+)="([^"]*)"""".r
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      val FileName(epoch) = f.getName: @unchecked
      java.nio.file.Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString).collect {
        case Line(_, fields, ns) =>
          (epoch.toLong, ns.toLong / 1000000L,
            Field.findAllMatchIn(fields).map(m => m.group(1) -> m.group(2)).toMap)
      }
    }
  }

  private def check(res: Result, model: Model, influx: String,
      recent: Map[String, Seq[StreamingQueryProgress]]): Unit = {
    def outcome(name: String, want: Any, got: Any): Unit = {
      res.attempted += 1
      def size(x: Any) = x match { case m: Map[_, _] => s"${m.size} rows"; case v => v.toString }
      if (want == got) res.note(s"check $name: matches (${size(want)})")
      else {
        val detail = (want, got) match {
          case (w: Map[_, _], g: Map[_, _]) =>
            val wm = w.asInstanceOf[Map[Any, Any]]
            val gm = g.asInstanceOf[Map[Any, Any]]
            val diff = (wm.keySet ++ gm.keySet).filter(k => wm.get(k) != gm.get(k))
            s"${w.size} expected, ${g.size} written, ${diff.size} differ; e.g. " +
              diff.take(3).map(k => s"$k: ${wm.get(k)} vs ${gm.get(k)}").mkString("; ")
          case _ => s"expected $want, got $got"
        }
        res.fail(s"check $name: $detail")
      }
    }
    def lastEpoch(rows: Seq[(Long, Long, Map[String, String])]) =
      if (rows.isEmpty) rows else rows.filter(_._1 == rows.map(_._1).max)
    def tops(rows: Seq[(Long, Long, Map[String, String])]): Map[Long, (String, Long)] = {
      val m = rows.map(r => r._2 -> (r._3("hashtag"), r._3("count").toLong))
      if (m.map(_._1).distinct.size != m.size) Map(-1L -> ("duplicate window", m.size.toLong))
      else m.toMap
    }
    val a = read(new File(influx, "TrendingHashTagFlink2"))
    val b = read(new File(influx, "TrendingHashTagFlink1"))
    val c = read(new File(influx, "TotalTweetCountFlink"))
    val d = read(new File(influx, "TweetPerSecondCountFlink"))
    outcome("a_trending2", model.expectA, tops(a))
    outcome("b_trending1", model.expectB, tops(lastEpoch(b)))
    outcome("c_total", model.total, lastEpoch(c).map(_._3("count").toLong).headOption.getOrElse(-1L))
    val dGot = d.map(r => r._2 -> r._3("count").toLong)
    outcome("d_persecond", model.expectD,
      if (dGot.map(_._1).distinct.size != dGot.size) Map(-1L -> -1L) else dGot.toMap)
    outcome("rows_dropped_by_watermark", (model.droppedA, model.droppedD),
      (dropped(recent("a_trending2")), dropped(recent("d_persecond"))))
  }
}
