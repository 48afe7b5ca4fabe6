package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative job, stage and task counts of one SparkContext, read as
  * differences between two [[Counters.Snap]]s taken around a call. */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, cpuNs, gcMs, shWrite, shRead, spill = new AtomicLong
  private val peakExec = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExec.accumulateAndGet(m.peakExecutionMemory, (a: Long, b: Long) => math.max(a, b))
    }
  }

  /** Snapshot after every event posted so far has been delivered. The peak
    * is reset at each snapshot, so a difference reports the largest task
    * peak seen since the previous snapshot. */
  def snap(spark: SparkSession): Counters.Snap = {
    BenchBus.drain(spark.sparkContext)
    Counters.Snap(jobs.get, stages.get, tasks.get, cpuNs.get, gcMs.get,
      shWrite.get, shRead.get, spill.get, peakExec.getAndSet(0L))
  }
}

object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, peakExec: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, peakExec)
    def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
      shuffleRead + o.shuffleRead, spill + o.spill, math.max(peakExec, o.peakExec))
  }
  val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** In-memory spans: name, start, end and parent. Written out once, when
  * the run ends, so recording costs two clock reads and one append. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var next = 0

  def apply[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  /** Total and self seconds per span name; self time is a span's duration
    * minus the time its direct children cover. */
  def byName: Seq[(String, Int, Double, Double)] = {
    val childNs = done.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    done.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum
      (n, ss.size, total / 1e9, self / 1e9)
    }
  }

  def toJson: String = {
    val spans = done.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val names = byName.map { case (n, c, t, s) =>
      s"""{"name":${Json.str(n)},"count":$c,"total_s":$t,"self_s":$s}""" }
    s"""{"spans":[${spans.mkString(",")}],"by_name":[${names.mkString(",")}]}"""
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** A measured value and its unit. */
final case class Metric(value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
