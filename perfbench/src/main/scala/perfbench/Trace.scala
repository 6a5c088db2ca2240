package perfbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One traced interval: a call into a layer's public function, or an
  * action the benchmark runs on a layer's frame. Times are seconds on
  * the epoch clock, so they line up with Spark's job event times. */
final case class Span(id: Long, parent: Long, layer: String, op: String,
                      start: Double, end: Double)

/** Spark work the listener attributed to one span. */
final class SpanCounts {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var cacheBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Records spans around the benchmark's calls into the library. Off,
  * it only runs the body. On, it keeps every span in memory and tags
  * the driver thread with the active span id (a Spark local property,
  * which every job submitted from the thread carries), so the
  * [[SpanListener]] can bill each job to the span that ran it. The
  * benchmark drives the library from one thread, so the open spans
  * form a stack. */
final class Tracer(sc: Option[SparkContext]) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Long, String, String, Double)]
  private var nextId = 1L
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() / 1e3

  private def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e9
  def spans: Seq[Span] = done.toSeq

  def span[A](layer: String, op: String)(body: => A): A = sc match {
    case None => body
    case Some(ctx) =>
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0L)
      open = (id, layer, op, now) :: open
      ctx.setLocalProperty(Tracer.SpanKey, id.toString)
      try body
      finally {
        val (_, l, o, start) = open.head
        open = open.tail
        done += Span(id, parent, l, o, start, now)
        ctx.setLocalProperty(Tracer.SpanKey, open.headOption.map(_._1.toString).orNull)
      }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Bills Spark work to spans. A job carries the span id of the thread
  * that submitted it; its stages, tasks and the RDDs its stages
  * compute inherit the id. Lazy work is billed to the span whose
  * action runs it. Work outside any span (id 0), and everything
  * before [[activate]], is not billed to a layer. */
final class SpanListener extends SparkListener {
  private val counts = mutable.Map.empty[Long, SpanCounts]
  private val jobSpan = mutable.Map.empty[Int, (Long, Double)]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val rddSpan = mutable.Map.empty[Int, Long]
  @volatile private var active = false
  var gcMs = 0L
  var spillBytes = 0L
  var failedTasks = 0L

  /** Start billing (call after draining the bus of set-up events). */
  def activate(): Unit = synchronized { active = true }

  def countsOf(span: Long): SpanCounts = synchronized(counts.getOrElseUpdate(span, new SpanCounts))

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      val s = spanOf(e.properties)
      jobSpan(e.jobId) = (s, e.time / 1e3)
      e.stageInfos.foreach { si =>
        stageSpan(si.stageId) = s
        si.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, s))
      }
      counts.getOrElseUpdate(s, new SpanCounts).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) =>
      counts.getOrElseUpdate(s, new SpanCounts).jobIntervals += ((start, e.time / 1e3))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (active) {
      val c = counts.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0L), new SpanCounts)
      c.tasks += 1
      if (e.reason != Success) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        gcMs += m.jvmGCTime
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    (info.blockId, active) match {
      case (RDDBlockId(rdd, _), true) if info.storageLevel.isValid =>
        counts.getOrElseUpdate(rddSpan.getOrElse(rdd, 0L), new SpanCounts).cacheBytes +=
          info.memSize + info.diskSize
      case _ =>
    }
  }
}

/** Interval and percentile arithmetic behind the reported figures. */
object Stats {

  /** Length covered by the union of `xs`. */
  def unionLength(xs: Seq[(Double, Double)]): Double =
    merge(xs).map { case (a, b) => b - a }.sum

  private def merge(xs: Seq[(Double, Double)]): List[(Double, Double)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** `from` minus the union of `cut`. */
  def subtract(from: (Double, Double), cut: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val (lo, hi) = from
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    var at = lo
    for ((a, b) <- merge(cut) if b > lo && a < hi) {
      if (a > at) out += ((at, a))
      at = math.max(at, b)
    }
    if (at < hi) out += ((at, hi))
    out.toSeq
  }

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover. Returns the uncovered intervals per span. */
  def selfIntervals(spans: Seq[Span]): Map[Long, Seq[(Double, Double)]] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> subtract((s.start, s.end),
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }

  /** Median of `xs` (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  val Percentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The reporting rule for a timing: the median, and the highest
    * percentile that has at least ten samples beyond it (None when
    * there are too few samples for any), with the sample count. */
  def summary(xs: Seq[Double]): (Double, Option[(Double, Double)], Int) = {
    val n = xs.length
    val hi = Percentiles.find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
      .map(p => (p, percentile(xs, p)))
    (median(xs), hi, n)
  }
}

/** Per-layer figures of a traced run. */
object Layers {
  val Names: Seq[String] = Seq(
    "core.Tables", "text.TextOps", "text.Dedup", "text.Similarity", "text.Curate",
    "sink.CuratedSink", "echem.PoscarCodec", "echem.SlabGen", "echem.ProcessRunner",
    "echem.JdftxOutParser", "echem.Analysis", "echem.Figure", "Pipeline",
    "sink.JdbcUpsert", "core.Warehouse")

  val Metrics: Seq[String] = Seq("calls", "self_s", "driver_s", "jobs", "tasks",
    "task_cpu_s", "shuffle_write_mb", "cache_mb")

  private val MB = 1024.0 * 1024.0

  /** name -> value for every layer metric, zero for a layer the run
    * never called. `counts` gives the listener's figures per span. */
  def metrics(spans: Seq[Span], counts: Long => SpanCounts): Seq[(String, Double)] = {
    val unknown = spans.map(_.layer).distinct.filterNot(Names.contains)
    require(unknown.isEmpty, s"spans of undeclared layers: ${unknown.mkString(", ")}")
    val self = Stats.selfIntervals(spans)
    val byLayer = spans.groupBy(_.layer)
    Names.flatMap { layer =>
      val ss = byLayer.getOrElse(layer, Nil)
      val cs = ss.map(s => counts(s.id))
      val selfS = ss.map(s => self(s.id).map { case (a, b) => b - a }.sum).sum
      val driverS = ss.zip(cs).map { case (s, c) =>
        self(s.id).map(iv => Stats.unionLength(Stats.subtract(iv, c.jobIntervals.toSeq))).sum
      }.sum
      Seq(
        "calls" -> ss.length.toDouble,
        "self_s" -> selfS,
        "driver_s" -> driverS,
        "jobs" -> cs.map(_.jobs).sum.toDouble,
        "tasks" -> cs.map(_.tasks).sum.toDouble,
        "task_cpu_s" -> cs.map(_.taskCpuNs).sum / 1e9,
        "shuffle_write_mb" -> cs.map(_.shuffleWriteBytes).sum / MB,
        "cache_mb" -> cs.map(_.cacheBytes).sum / MB,
      ).map { case (m, v) => s"$layer.$m" -> v }
    }
  }

  def global(l: SpanListener): Seq[(String, Double)] = Seq(
    "spark.gc_s" -> l.gcMs / 1e3,
    "spark.spill_mb" -> l.spillBytes / MB,
    "spark.failed_tasks" -> l.failedTasks.toDouble)
}
