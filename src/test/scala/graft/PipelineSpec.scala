package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.echem.ProcessRunner
import graft.echem.ProcessRunner.{Exec, RunOutput}
import graft.sink.JdbcUpsert

/** EP1 — full pipeline with a stubbed external binary, plus the
  * idempotent-load property (SURVEY.md §5 item 4).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Stub that replays the golden 0.0 log for every charge, with mu
    * shifted so the 3 runs differ (keeps regr_slope finite). */
  case object SyntheticExec extends Exec {
    def run(key: String, input: String): RunOutput = {
      val charge = key.substring(key.lastIndexOf('_') + 1).toDouble
      val mu = -0.188377150 + 0.015 * charge
      val ne = 250.0 + charge
      val out = (1 to 5).map(i =>
        s"FillingsUpdate:  mu: ${mu - 0.001 * (5 - i)}  nElectrons: $ne").mkString("\n")
      RunOutput(key, out, 0)
    }
  }

  test("EP1: bulks → slabs → charges → stub DFT → results (one row)") {
    val existing = Seq.empty[String].toDF("mp_id")
    val res = Pipeline.full(spark,
      bulkPoscarDir = fixturePath("slab_poscars"),
      facets = Seq("111"),
      nBulkSample = 2,
      nShifts = 5,
      charges = Seq(-0.1, 0.0, 0.1),
      exec = SyntheticExec,
      existing = existing)
    val rows = res.collect()
    assert(rows.length == 1) // one slab picked (`dags/my_dag.py:109-111`)
    val r = rows.head
    // CPython-bit-exact pick: random.seed(20); random.sample(keys, 1)
    // over the 5 sorted slab keys selects index 1 (verified against
    // the stdlib)
    assert(r.getAs[String]("mp_id").startsWith("mp-755394-111-3-111-1"))
    assert(!r.getAs[Double]("pzc").isNaN)
    assert(!r.getAs[Double]("capacitance").isNaN)
  }

  test("idempotent load: second run of the same batch appends nothing (ops #21/#35)") {
    val batch = Seq(("a", 1.0, 2.0), ("a", 1.0, 2.0), ("b", 3.0, 4.0))
      .toDF("mp_id", "pzc", "capacitance")
    val empty = Seq.empty[String].toDF("mp_id")
    val first = JdbcUpsert.newRows(batch, empty, "mp_id")
    assert(first.count() == 2) // intra-batch dedup
    val second = JdbcUpsert.newRows(batch, first.select("mp_id"), "mp_id")
    assert(second.count() == 0) // ON CONFLICT DO NOTHING semantics
  }

  test("seededSample: exactly min(n, count) rows, same keys under any partitioning") {
    val atom = graft.echem.Schemas.Atom(0.0, 0.0, 0.0, "V")
    val slabs = (0 until 40).map(i => graft.echem.Schemas.Slab(f"mp-$i%03d", "t", 1.0,
      Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0)),
      Seq("V"), Seq(1), Seq(atom), Nil)).toDS()
    for (n <- Seq(0, 1, 10, 40, 100)) {
      def keys(parts: Int): Seq[String] =
        Pipeline.seededSample(slabs.repartition(parts), n, seed = 20).collect().map(_.mpKey).toSeq
      val one = keys(1)
      assert(one.length == math.min(n, 40), s"n=$n")
      assert(one.distinct.length == one.length, s"n=$n: duplicate rows")
      assert(keys(7).sorted == one.sorted, s"n=$n: keys depend on the partitioning")
    }
  }

  test("ProcessRunner.BinaryExec pipes a real process with timeout") {
    val runs = Seq(ProcessRunner.Run("k1", "hello-deck")).toDS()
    val out = ProcessRunner.run(runs, ProcessRunner.BinaryExec(Seq("cat"), timeoutSec = 60))
      .collect().head
    assert(out.exitCode == 0)
    assert(out.output.contains("hello-deck")) // `cat <deckfile>` prints the deck back
  }

  test("BinaryExec timeout fires on a hung process that keeps stdout open") {
    // `sleep 30` never writes or exits — the regression case where a
    // pipe read before waitFor(timeout) blocks until the child exits
    val t0 = System.nanoTime()
    // the deck path is appended as the last arg; with `sh -c` it
    // lands in $0 and the command still just hangs
    val out = ProcessRunner.BinaryExec(Seq("sh", "-c", "sleep 30"), timeoutSec = 2).run("hang", "x")
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(out.exitCode == -1)
    assert(elapsedSec < 15.0, s"timeout did not fire promptly: ${elapsedSec}s")
  }

  test("BinaryExec captures partial output from a timed-out process") {
    val script = java.nio.file.Files.createTempFile("graft-partial", ".sh")
    java.nio.file.Files.write(script,
      "#!/bin/sh\necho started\nsleep 30\necho never\n".getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    try {
      val out = ProcessRunner.BinaryExec(Seq("sh", script.toString), timeoutSec = 2).run("partial", "x")
      assert(out.exitCode == -1)
      assert(out.output.contains("started"), s"partial output lost: '${out.output}'")
      assert(!out.output.contains("never"))
    } finally java.nio.file.Files.deleteIfExists(script)
  }

  test("diamond: one cached plan feeds both the load and the report (§2j)") {
    val res = Pipeline.analyzeFixtures(spark,
      fixturePath("gc_dft"), fixturePath("slab_poscars"))
    var loaded = 0L
    val md = Pipeline.runDiamond(res)(df => loaded = df.count())
    assert(loaded == 1L)
    assert(md.contains("mp-755394-111-3"))
    assert(res.storageLevel == org.apache.spark.storage.StorageLevel.NONE) // released
  }

  test("EP2 report render") {
    val res = Pipeline.analyzeFixtures(spark,
      fixturePath("gc_dft"), fixturePath("slab_poscars"))
    val md = Pipeline.reportMarkdown(res)
    assert(md.contains("mp-755394-111-3"))
    assert(md.contains("0.46601"))
  }

  test("report renders NA for null pzc/capacitance instead of throwing") {
    val results = Seq(
      ("m-ok", Some(0.5), Some(2.0)),
      ("m-no-zero-charge", None: Option[Double], Some(3.0)),
      ("m-one-point", Some(0.1), None: Option[Double]))
      .toDF("mp_id", "pzc", "capacitance")
    val md = Pipeline.reportMarkdown(results)
    assert(md.contains("| m-no-zero-charge | NA | 3.00000 |"), md)
    assert(md.contains("| m-one-point | 0.10000 | NA |"), md)
    // writeReport skips figures for the NA rows but keeps their table
    // rows — INCLUDING when the NA material's series rows carry the
    // null pot/rhoe electrochemSeries actually emits for it (getDouble
    // on those NPE'd before the null filter)
    val series = Seq(
      ("m-ok", 0.0, Some(0.0), Some(0.0)),
      ("m-no-zero-charge", 0.0, Some(1.0), None: Option[Double]),
      ("m-no-zero-charge", 1.0, None: Option[Double], None: Option[Double]))
      .toDF("mp_id", "charge", "pot", "rhoe")
    val outDir = Files.createTempDirectory("graft-report-na").toString
    val full = Pipeline.writeReport(results, series, outDir)
    assert(full.contains("m-no-zero-charge"))
    assert(!full.contains("![](visualize/m-no-zero-charge"), full)
    assert(full.contains("![](visualize/m-ok_echem.svg)"))
  }

  test("run keys round-trip tiny charges (plain decimal, never scientific)") {
    // Double.toString(1.0E-4) cannot be parsed back by KeyRe; the
    // plain-decimal rendering must round-trip through the regex
    val c = 1.0e-4
    val key = s"mp-1-111-1_${java.math.BigDecimal.valueOf(c).toPlainString}"
    val parsed = Seq((key, "x")).toDF("key", "output")
      .select(
        org.apache.spark.sql.functions.regexp_extract(
          $"key", graft.echem.JdftxOutParser.KeyRe, 1).as("mp_key"),
        org.apache.spark.sql.functions.regexp_extract(
          $"key", graft.echem.JdftxOutParser.KeyRe, 2).cast("double").as("charge"))
      .collect().head
    assert(parsed.getString(0) == "mp-1-111-1" && parsed.getDouble(1) == c,
      s"key '$key' must parse back to the exact charge, got $parsed")
  }

  test("EP2 report with figures: SVG per material + embedding markdown") {
    val metrics = graft.echem.JdftxOutParser.metrics(spark, fixturePath("gc_dft"))
    val geometry = Pipeline.slabGeometry(
      graft.echem.PoscarCodec.read(spark, fixturePath("slab_poscars")))
    val results = graft.echem.Analysis.electrochem(metrics, geometry)
    val series = graft.echem.Analysis.electrochemSeries(metrics, geometry)
    val outDir = Files.createTempDirectory("graft-report").toString
    val md = Pipeline.writeReport(results, series, outDir,
      poscarDir = Some(fixturePath("slab_poscars")))
    // the reference's report shape: table + ![](visualize/{id}...) embed
    assert(md.contains("| MP id |"))
    assert(md.contains("![](visualize/mp-755394-111-3_echem.svg)"), md)
    val svgPath = Paths.get(outDir, "visualize", "mp-755394-111-3_echem.svg")
    assert(Files.exists(svgPath))
    // the raster artifact set of the reference's visualize task:
    // echem PNG twin + structure side view + composite
    for (n <- Seq("mp-755394-111-3_echem.png", "mp-755394-111-3_struct.png",
                  "mp-755394-111-3.png"))
      assert(Files.exists(Paths.get(outDir, "visualize", n)), n)
    val svg = new String(Files.readAllBytes(svgPath), StandardCharsets.UTF_8)
    // 3 charge points, the fitted line, and the fit annotations
    assert("<circle ".r.findAllIn(svg).length == 3)
    assert(svg.contains("stroke-dasharray"))
    assert(svg.contains("PZC: "), svg)
    assert(new String(Files.readAllBytes(Paths.get(outDir, "report.md")),
      StandardCharsets.UTF_8) == md)
  }
}
