package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import graft.core.Sessions

/** One timed operation of a pass. `digest` identifies its output
  * independently of row order; it must repeat on every pass. */
final case class OpRec(pass: Int, kind: String, name: String, seconds: Double,
                       ok: Boolean, digest: String, error: String)

/** Times the operations of the closed loop. An operation that throws,
  * or whose output cannot be digested, is recorded as failed and the
  * loop goes on. */
final class Ops {
  val recs = mutable.ArrayBuffer.empty[OpRec]
  var pass = 0

  def op[A](kind: String, name: String)(body: => A)(digest: A => String): Unit = {
    val t0 = System.nanoTime()
    val r = Try(body)
    val dt = (System.nanoTime() - t0) / 1e9
    recs += (r.flatMap(v => Try(digest(v))) match {
      case Success(d) => OpRec(pass, kind, name, dt, ok = true, d, "")
      case Failure(e) => OpRec(pass, kind, name, dt, ok = false, "", e.toString.take(500))
    })
  }
}

/** A workload: one pass is the unit the closed loop repeats; it reads
  * its inputs from the manifest's "main" part. A pass numbered below 0
  * is the warm-up. */
trait Workload {
  def pass(spark: SparkSession, t: Tracer, ops: Ops, part: JValue, p: Int): Unit

  /** Output-check artifacts, computed after the timed loop. */
  def checks(spark: SparkSession, manifest: JValue): JValue = JObject()
}

/** The benchmark's JVM side: set up, run passes until the time is up,
  * and write the figures to `--out`.
  *
  * Usage: perfbench.Main --workload W --manifest M --work DIR
  *   --seconds S --trace 0|1 --launch-ms EPOCH_MS --out FILE
  * With S = 0 it stops after the set-up and writes nothing. */
object Main {
  implicit val formats: Formats = DefaultFormats

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    val manifest = parse(new String(Files.readAllBytes(Paths.get(args("manifest"))),
      StandardCharsets.UTF_8))
    val trace = args("trace") == "1"
    val workload: Workload = args("workload") match {
      case "curate" => new CurateWorkload(work)
      case "echem_screen" => new EchemWorkload(work)
      case "lakehouse" => new LakehouseWorkload(work)
      case w => sys.error(s"unknown workload $w")
    }
    val cores = Runtime.getRuntime.availableProcessors()

    // set-up, from process launch: JVM start, session build, tune and an
    // untimed warm-up pass over the same inputs, so the timed pass runs
    // plans whose adaptive shape, generated code and JIT state are
    // already in place
    val spark = session(cores, work)
    val listener = new SpanListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    workload.pass(spark, new Tracer(None), new Ops, manifest \ "main", -1)
    val setupS = (System.currentTimeMillis() - args("launch-ms").toLong) / 1e3
    if (args("seconds").toDouble <= 0) {
      // a class-data priming run loads the classes of the set-up only
      spark.stop()
      return
    }

    val sc = spark.sparkContext
    if (trace) {
      org.apache.spark.BenchBridge.drainListeners(sc)
      listener.activate()
    }
    val tracer = new Tracer(if (trace) Some(sc) else None)
    val ops = new Ops
    val loopStart = System.nanoTime()
    val deadline = loopStart + (args("seconds").toDouble * 1e9).toLong
    // closed loop: the next pass starts when the previous one is done,
    // and only if it is expected to end by the deadline
    var p = 0
    while (p == 0 || System.nanoTime() + (System.nanoTime() - loopStart) / p < deadline) {
      ops.pass = p
      workload.pass(spark, tracer, ops, manifest \ "main", p)
      p += 1
    }
    if (trace) org.apache.spark.BenchBridge.drainListeners(sc)
    val checks = Try(workload.checks(spark, manifest)) match {
      case Success(j) => j
      case Failure(e) => JObject("error" -> JString(e.toString.take(500)))
    }
    val peakRssMb = vmHwmMb()

    val passWalls = ops.recs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.seconds).sum)
    def timing(xs: Seq[Double]): JValue =
      if (xs.isEmpty) JNull
      else {
        val (med, hi, n) = Stats.summary(xs)
        JObject("median" -> JDouble(med), "n" -> JInt(n),
          "high" -> hi.map { case (pc, v) =>
            JObject("percentile" -> JDouble(pc), "value" -> JDouble(v))
          }.getOrElse(JNull))
      }
    val out = JObject(
      "setup_s" -> JDouble(setupS),
      "passes" -> JInt(p),
      "wall" -> timing(passWalls),
      "write" -> timing(ops.recs.filter(_.kind == "write").map(_.seconds).toSeq),
      "read" -> timing(ops.recs.filter(_.kind == "read").map(_.seconds).toSeq),
      "peak_rss_mb" -> JDouble(peakRssMb),
      "ops" -> JArray(ops.recs.map(r => JObject(
        "pass" -> JInt(r.pass), "kind" -> JString(r.kind), "name" -> JString(r.name),
        "s" -> JDouble(r.seconds), "ok" -> JBool(r.ok), "digest" -> JString(r.digest),
        "error" -> JString(r.error))).toList),
      "checks" -> checks,
      "layers" -> (if (!trace) JNull else JObject(
        (Layers.metrics(tracer.spans, listener.countsOf) ++ Layers.global(listener))
          .map { case (k, v) => k -> JDouble(v) }.toList)),
      "spans" -> JInt(tracer.spans.length))
    Files.write(Paths.get(args("out")), compact(render(out)).getBytes(StandardCharsets.UTF_8))
    if (trace) writeSpans(tracer.spans, args("out") + ".spans.jsonl")
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession =
    Sessions.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", Sessions.CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate())

  /** The JVM's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val lines = spans.map(s => compact(render(JObject(
      "id" -> JInt(s.id), "parent" -> JInt(s.parent), "layer" -> JString(s.layer),
      "op" -> JString(s.op), "start" -> JDouble(s.start), "end" -> JDouble(s.end)))))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
