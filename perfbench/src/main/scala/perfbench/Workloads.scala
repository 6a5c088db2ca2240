package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.sql.DriverManager
import java.util.{Locale, Properties}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import org.json4s._
import graft.Pipeline
import graft.core.{Tables, Warehouse}
import graft.echem.{Analysis, Figure, JdftxDeck, JdftxOutParser, PoscarCodec, ProcessRunner, SlabGen}
import graft.echem.ProcessRunner.{Exec, Run, RunOutput}
import graft.sink.{CuratedSink, JdbcUpsert}
import graft.text.{Curate, Dedup, Similarity, TextOps}

/** Order-independent output digests. */
object Digest {
  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .take(12).map(b => f"${b & 0xff}%02x").mkString

  def rows(rs: Array[Row]): String = sha(rs.map(_.mkString("\u0001")).sorted.mkString("\n"))

  /** Row count and the sum of a 64-bit hash of every row: one job,
    * whatever the frame's size. */
  def frame(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** `curate`: the README training-data chain as one export, the
  * flagship curation query, and a semantic-dedup pass over the
  * corpus's embeddings. The chain's parameters are the README's:
  * token budgets en 2,000,000 and de 500,000 (other languages are not
  * sampled), 100,000-token shards, 50,000 records per file. Each stage
  * consumes the previous stage's output; the quality tile is written
  * beside every sampled document. */
final class CurateWorkload(work: String) extends Workload {
  implicit val formats: Formats = DefaultFormats
  val Budgets = Map("en" -> 2000000L, "de" -> 500000L)
  val ShardTokens = 100000L
  val RecordsPerFile = 50000L
  val EmbedThreshold = 0.8
  val FlagshipRuns = 3
  private var mixtureRows = Array.empty[Row]

  def pass(spark: SparkSession, t: Tracer, ops: Ops, part: JValue, p: Int): Unit = {
    val dir = (part \ "dir").extract[String]
    val out = s"$work/curated"
    // the flagship query runs first, on a heap the export has not yet
    // filled, and several times in a timed pass: read_p50_s is its
    // median latency
    for (_ <- 1 to (if (p < 0) 1 else FlagshipRuns))
      ops.op("read", "curation_pipeline") {
        val docs = t.span("core.Tables", "documents")(Tables.documents(spark, dir))
        val mixture = t.span("text.Curate", "curationPipeline")(
          Curate.curationPipeline(docs, minStopwords = 0))
        t.span("text.Curate", "collect")(mixture.collect())
      } { rows => mixtureRows = rows; Digest.rows(rows) }
    ops.op("write", "curated_export") {
      val docs = t.span("core.Tables", "documentsSpread")(Tables.documentsSpread(spark, dir))
      val normed = t.span("text.TextOps", "normalizeText")(
        TextOps.normalizeText(docs).select(col("doc_id"), col("clean").as("text")))
      val clean = t.span("text.TextOps", "stripMarkup")(
        TextOps.stripMarkup(normed).select(col("doc_id"), col("clean_text").as("text")))
        .join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
      val best = t.span("text.Dedup", "keepBestPerCluster")(Dedup.keepBestPerCluster(clean, 0.8))
      val kept = clean.join(best.select(col("best_doc").as("doc_id")), "doc_id")
      val tiles = t.span("text.TextOps", "qualityNtile")(TextOps.qualityNtile(kept, 10))
      val mix = t.span("text.TextOps", "mixtureByTokenBudget")(
        TextOps.mixtureByTokenBudget(kept, Budgets))
      val sampled = kept.join(mix.select("doc_id"), "doc_id")
      val shards = t.span("text.TextOps", "packShards")(TextOps.packShards(sampled, ShardTokens))
      t.span("sink.CuratedSink", "write")(CuratedSink.write(
        sampled.join(shards.select("doc_id", "shard"), "doc_id")
          .join(tiles.select("doc_id", "quality", "tile"), "doc_id"), out,
        partitionCols = Seq("lang"), sortCols = Seq("doc_id"), maxRecordsPerFile = RecordsPerFile))
    }(_ => Digest.frame(spark.read.parquet(out)))
    // kind "other": counted in the pass's wall time, not in read_p50_s,
    // which on this workload is the flagship query's latency alone
    ops.op("other", "semantic_dedup") {
      val emb = t.span("core.Tables", "embeddingsSpread")(Tables.embeddingsSpread(spark, dir))
      val comps = t.span("text.Similarity", "embeddingComponents")(
        Similarity.embeddingComponents(emb, EmbedThreshold))
      t.span("text.Similarity", "collect")(comps.collect())
    }(Digest.rows)
  }

  /** The flagship query's rows from the last pass, and the near-dup
    * cluster selection over the small "check" corpus: both have a
    * declared DuckDB oracle (`q_curation_pipeline`, `q_cluster_best`). */
  override def checks(spark: SparkSession, manifest: JValue): JValue = {
    val best = s"$work/check_cluster_best"
    Dedup.keepBestPerCluster(
      Tables.documentsSpread(spark, (manifest \ "check" \ "dir").extract[String]), 0.8)
      .write.mode("overwrite").parquet(best)
    JObject(
      "q_cluster_best" -> JString(best),
      "q_curation_pipeline" -> JArray(mixtureRows.toList.map(r =>
        JObject(r.schema.fieldNames.toList.map(f => f -> (r.getAs[Any](f) match {
          case s: String => JString(s)
          case n: Long => JLong(n)
          case null => JNull
        }))))),
      "oracle" -> JObject(Seq("q_cluster_best", "q_curation_pipeline").map(q =>
        q -> JString(graft.SparkEntry.oracleSql(q))).toList))
  }
}

/** The synthetic DFT step: a golden-length JDFTx log whose final
  * FillingsUpdate line carries mu linear in the charge and one
  * electron less per unit charge. */
final case class SyntheticDft(template: String, mu0: Double, dmu: Double, ne0: Double)
    extends Exec {
  def run(key: String, input: String): RunOutput = {
    val q = key.substring(key.lastIndexOf('_') + 1).toDouble
    val mu = String.format(Locale.ROOT, "%.9f", Double.box(mu0 + dmu * q))
    val ne = String.format(Locale.ROOT, "%.6f", Double.box(ne0 - q))
    RunOutput(key, template.replace("@MU@", mu).replace("@NE@", ne), 0)
  }
}

/** `echem_screen`: the paper's DAG as a screening campaign. Each pass
  * runs EP1 plus its diamond once per bulk batch into a fresh Derby
  * table, then EP2 over each directory of finished runs.
  *
  * EP1 is composed here from the public calls `Pipeline.full` makes,
  * in its order and with its parameters, so that the traced run can
  * bill the POSCAR parse, the slab fan-out and the DFT step to their
  * layers: called whole, `full` is one lazy plan and all of its work
  * is billed to `Pipeline`. The three frames are persisted and
  * materialized in their layer's span (`full` scope-caches the first
  * two, and runs the third once), then released after the run's last
  * action. The checks compare the composed run with `Pipeline.full`. */
final class EchemWorkload(work: String) extends Workload {
  implicit val formats: Formats = DefaultFormats
  val Facets = Seq("100", "110", "111")
  val NSample = 60
  val NShifts = 3
  val Url = "jdbc:derby:memory:perfbench;create=true"
  private val RowRe = """\| (\S+) \| (\S+) \| (\S+) \|""".r
  private val picked = scala.collection.mutable.LinkedHashSet.empty[String]
  private var firstReport = ""

  private def props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private def jdbc[A](f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(Url, props)
    try f(c) finally c.close()
  }

  /** (mp_id, pzc, capacitance) rows of a rendered report table. */
  def reportRows(md: String): Seq[(String, String, String)] =
    md.split("\n").toSeq.collect { case RowRe(id, pzc, cap) => (id, pzc, cap) }

  def pass(spark: SparkSession, t: Tracer, ops: Ops, part: JValue, p: Int): Unit = {
    import spark.implicits._
    val dft = part \ "dft"
    val exec = SyntheticDft(
      new String(Files.readAllBytes(Paths.get((part \ "template").extract[String])),
        StandardCharsets.UTF_8),
      (dft \ "mu0").extract[Double], (dft \ "dmu").extract[Double], (dft \ "ne0").extract[Double])
    val charges = (part \ "charges").extract[Seq[Double]]
    val table = s"SCREEN_${p + 1}"
    jdbc { c =>
      val st = c.createStatement()
      scala.util.Try(st.execute(s"DROP TABLE $table"))
      st.execute(s"CREATE TABLE $table (mp_id VARCHAR(200) PRIMARY KEY, pzc DOUBLE, capacitance DOUBLE)")
    }
    var previous = Seq.empty[(String, Double, Double)]
    for ((batch, k) <- (part \ "batches").extract[Seq[String]].zipWithIndex) {
      ops.op("write", s"ep1_run_$k") {
        val existing = spark.read.jdbc(Url, table, props).select("mp_id")
        val (results, held) = ep1(spark, t, batch, charges, exec, existing)
        // the previous run's rows ride along, so the idempotent load
        // meets keys it already holds
        val overlap = previous.toDF("mp_id", "pzc", "capacitance")
        try t.span("Pipeline", "runDiamond")(Pipeline.runDiamond(results) { df =>
          t.span("sink.JdbcUpsert", "upsertAppend")(
            JdbcUpsert.upsertAppend(spark, df.unionByName(overlap), "mp_id", Url, table, props))
        })
        finally held.foreach(_.unpersist())
      } { md =>
        if (k == 0) firstReport = md
        val rows = reportRows(md)
        require(rows.length == 1, s"EP1 run $k reported ${rows.length} materials, want 1")
        previous = rows.map { case (id, pzc, cap) => (id, pzc.toDouble, cap.toDouble) }
        picked ++= rows.map(_._1)
        val keys = jdbc { c =>
          val rs = c.createStatement().executeQuery(s"SELECT mp_id FROM $table")
          Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
        }
        require(keys.length == k + 1 && keys.distinct.length == keys.length,
          s"Derby holds ${keys.length} rows (${keys.distinct.length} distinct) after run $k")
        rows.map { case (id, pzc, cap) => s"| $id | $pzc | $cap |" }.mkString
      }
    }
    for ((ep2, d) <- (part \ "ep2").extract[Seq[JObject]].zipWithIndex)
      ops.op("read", s"ep2_analysis_$d") {
        val logs = (ep2 \ "logs").extract[String]
        val slabDir = (ep2 \ "slabs").extract[String]
        val out = s"$work/report_$d"
        val bad = t.span("echem.JdftxOutParser", "metricsQuarantine")(
          JdftxOutParser.metricsQuarantine(spark, logs).filter(!col("ok")).count())
        require(bad == 0, s"$bad run logs failed the quarantine scan")
        val metrics = t.span("echem.JdftxOutParser", "metrics")(JdftxOutParser.metrics(spark, logs))
        val slabs = t.span("echem.PoscarCodec", "read")(PoscarCodec.read(spark, slabDir))
        val geometry = t.span("Pipeline", "slabGeometry")(Pipeline.slabGeometry(slabs))
        val results = t.span("echem.Analysis", "electrochem")(Analysis.electrochem(metrics, geometry))
        val series = t.span("echem.Analysis", "electrochemSeries")(
          Analysis.electrochemSeries(metrics, geometry))
        val md = t.span("Pipeline", "writeReport")(Pipeline.writeReport(results, series, out))
        // the reference's visualize task: structure side view and the
        // echem/structure composite per material
        val ids = reportRows(md).map(_._1)
        val parsed = t.span("echem.PoscarCodec", "parse")(ids.map(id => PoscarCodec.parse(id,
          new String(Files.readAllBytes(Paths.get(slabDir, s"$id.poscar")), StandardCharsets.UTF_8))))
        t.span("echem.Figure", "structPanels")(parsed.foreach { slab =>
          val struct = Figure.structPng(slab)
          val echem = Files.readAllBytes(Paths.get(out, "visualize", s"${slab.mpKey}_echem.png"))
          Files.write(Paths.get(out, "visualize", s"${slab.mpKey}.png"), Figure.combinedPng(echem, struct))
        })
        md
      }(md => Digest.sha(md))
    jdbc(_.createStatement().execute(s"DROP TABLE $table"))
  }

  /** The reports carry the fits at five decimals; their recomputation
    * also needs each picked slab's cell diagonals, cut here on the
    * driver from the picked bulk (the `slabGeometry` projection). */
  override def checks(spark: SparkSession, manifest: JValue): JValue = {
    import spark.implicits._
    val main = manifest \ "main"
    val dft = main \ "dft"
    val exec = SyntheticDft(
      new String(Files.readAllBytes(Paths.get((main \ "template").extract[String])),
        StandardCharsets.UTF_8),
      (dft \ "mu0").extract[Double], (dft \ "dmu").extract[Double], (dft \ "ne0").extract[Double])
    val full = Pipeline.reportMarkdown(Pipeline.full(spark,
      (main \ "batches").extract[Seq[String]].head, Facets, NSample, NShifts,
      (main \ "charges").extract[Seq[Double]], exec, Seq.empty[String].toDF("mp_id")))
    val geometry = picked.map { id =>
      val bulkKey = id.split("-").dropRight(2).mkString("-")
      val file = (manifest \ "main" \ "batches").extract[Seq[String]]
        .map(b => Paths.get(b, s"$bulkKey.poscar")).find(Files.exists(_))
        .getOrElse(sys.error(s"no bulk POSCAR for $id"))
      val bulk = PoscarCodec.parse(bulkKey,
        new String(Files.readAllBytes(file), StandardCharsets.UTF_8))
      val slab = Facets.flatMap(f => SlabGen.cut(bulk, f, NShifts)).find(_.mpKey == id)
        .getOrElse(sys.error(s"no slab $id"))
      id -> JArray(List(JDouble(slab.lattice(0)(0) * slab.scale),
        JDouble(slab.lattice(1)(1) * slab.scale)))
    }
    JObject("geometry" -> JObject(geometry.toList),
      "ep1_matches_full" -> JBool(firstReport.nonEmpty && firstReport == full))
  }

  /** `Pipeline.full`'s plan, call by call (see the class comment).
    * Returns the results frame and the frames to release after it. */
  def ep1(spark: SparkSession, t: Tracer, batch: String, charges: Seq[Double], exec: Exec,
          existing: DataFrame): (DataFrame, Seq[Dataset[_]]) = {
    import spark.implicits._
    val bulkAll = t.span("echem.PoscarCodec", "read")(PoscarCodec.read(spark, batch))
      .persist(StorageLevel.MEMORY_AND_DISK)
    t.span("echem.PoscarCodec", "count")(bulkAll.count())
    val bulks = t.span("Pipeline", "seededSamplePy")(Pipeline.seededSamplePy(bulkAll, NSample, 27L))
    val slabs = t.span("echem.SlabGen", "generate")(SlabGen.generate(bulks, Facets, NShifts))
      .persist(StorageLevel.MEMORY_AND_DISK)
    t.span("echem.SlabGen", "count")(slabs.count())
    val picked = t.span("Pipeline", "seededSamplePy")(Pipeline.seededSamplePy(slabs, 1, 20L))
    val runs = picked.flatMap(s => charges.map(c =>
      Run(s"${s.mpKey}_${java.math.BigDecimal.valueOf(c).toPlainString}", JdftxDeck.render(s, c))))
    val outputs = t.span("echem.ProcessRunner", "run")(ProcessRunner.run(runs, exec))
      .persist(StorageLevel.MEMORY_AND_DISK)
    t.span("echem.ProcessRunner", "count")(outputs.count())
    val metrics = t.span("echem.JdftxOutParser", "metricsFromRuns")(
      JdftxOutParser.metricsFromRuns(outputs.filter(col("exitCode") === 0).toDF()))
    val geometry = t.span("Pipeline", "slabGeometry")(Pipeline.slabGeometry(slabs))
    val results = t.span("echem.Analysis", "electrochem")(Analysis.electrochem(metrics, geometry))
    (t.span("sink.JdbcUpsert", "newRows")(JdbcUpsert.newRows(results, existing, "mp_id")),
      Seq(bulkAll, slabs, outputs))
  }
}

/** `lakehouse`: a zone-mapped table under a seeded interleave of
  * copy-on-write merges, pruned range reads and time-travel reads. */
final class LakehouseWorkload(work: String) extends Workload {
  implicit val formats: Formats = DefaultFormats
  val Key = "o_orderkey"

  /** Row count, key sum and price sum in cents: exact integers that
    * the check recomputes in DuckDB. */
  private def summary(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(col(Key)),
      sum(round(col("o_totalprice") * 100).cast("long"))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  def pass(spark: SparkSession, t: Tracer, ops: Ops, part: JValue, p: Int): Unit = {
    val dir = s"$work/lake"
    val merges = (part \ "merges").extract[Seq[String]]
    ops.op("other", "write") {
      val orders = spark.read.parquet((part \ "orders").extract[String])
      t.span("core.Warehouse", "writeZoneMapped")(Warehouse.writeZoneMapped(orders, dir, Key, 16))
    }(_ => "")
    for ((step, i) <- (part \ "plan").extract[Seq[JObject]].zipWithIndex) {
      (step \ "op").extract[String] match {
        case "merge" =>
          val m = (step \ "batch").extract[Int]
          ops.op("write", s"merge_$m") {
            t.span("core.Warehouse", "mergeZoneMapped")(Warehouse.mergeZoneMapped(spark, dir, Key,
              spark.read.parquet(merges(m)), retainForTimeTravel = true))
          }(r => s"${r._1}/${r._2}")
        case "pruned" =>
          val (lo, hi) = ((step \ "lo").extract[Long], (step \ "hi").extract[Long])
          ops.op("read", s"pruned_$i") {
            val df = t.span("core.Warehouse", "readZoneMapPruned")(
              Warehouse.readZoneMapPruned(spark, dir, Key, lo, hi))
            t.span("core.Warehouse", "aggregate")(summary(df))
          }(identity)
        case "version" =>
          val v = (step \ "version").extract[Int]
          ops.op("read", s"version_$i") {
            val df = t.span("core.Warehouse", "readZoneMapVersion")(
              Warehouse.readZoneMapVersion(spark, dir, v))
            t.span("core.Warehouse", "aggregate")(summary(df))
          }(identity)
      }
    }
    ops.op("other", "vacuum") {
      val cur = Warehouse.zoneMapCurrentVersion(dir)
      t.span("core.Warehouse", "vacuumZoneMapped")(Warehouse.vacuumZoneMapped(spark, dir, cur))
    }(r => s"${r._1}/${r._2}:" + summary(Warehouse.readZoneMapVersion(spark, dir,
      Warehouse.zoneMapCurrentVersion(dir))))
  }
}
