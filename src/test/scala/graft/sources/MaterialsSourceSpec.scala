package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** DSv2 connector: filter pushdown, column pruning, pagination. */
class MaterialsSourceSpec extends SparkSpec {

  private def catalog = fixturePath("materials_catalog.psv")

  private def load() = spark.read
    .format("graft.sources.MaterialsSource")
    .option("path", catalog).option("pages", "3").load()

  test("full scan reads all rows across pages") {
    assert(load().count() == 10)
  }

  test("pages <= 0 fails fast instead of planning an empty scan") {
    // a non-numeric value gets the same named error, not a bare
    // NumberFormatException
    Seq("0", "four").foreach { pages =>
      val bad = spark.read.format("graft.sources.MaterialsSource")
        .option("path", catalog).option("pages", pages).load()
      val e = intercept[Exception] { bad.count() }
      assert(e.getMessage != null && e.getMessage.contains("pages"),
        s"expected a pages validation error, got: ${e.getMessage}")
    }
  }

  test("EqualTo filter on chemsys is pushed into the backend scan") {
    val df = load().filter(col("chemsys") === "V-O")
    assert(df.count() == 6)
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("PushedBackendQuery=[EqualTo(chemsys,V-O)"))
  }

  test("In-list filter (the id point-lookup, op #2) is pushed") {
    val df = load().filter(col("material_id").isin("mp-1002", "mp-1005"))
    assert(df.collect().map(_.getAs[String]("material_id")).sorted.toSeq ==
      Seq("mp-1002", "mp-1005"))
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("In(material_id"))
  }

  test("conjunctive chemistry filter (op #11) pushes both predicates") {
    val df = load().filter(col("chemsys") === "V-O" && col("possible_species") === "V4+")
    assert(df.count() == 3)
    val d = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get.scan.description()
    assert(d.contains("EqualTo(chemsys,V-O)") && d.contains("EqualTo(possible_species,V4+)"))
  }

  test("two pushed In filters on the SAME column intersect, not last-wins") {
    // both conjuncts are accepted by pushFilters (no residual), so a
    // last-wins merge would return {mp-1002, mp-1005} instead of the
    // correct singleton — rows Spark would never re-filter
    val df = load().filter(
      col("material_id").isin("mp-1002", "mp-1005") &&
      col("material_id").isin("mp-1005", "mp-1008"))
    assert(df.collect().map(_.getAs[String]("material_id")).toSeq == Seq("mp-1005"))
    // contradictory equalities → empty, not last-wins (NOTE: this
    // shape is folded to an empty relation by Catalyst's
    // ConstantPropagation and never reaches the source — kept as an
    // end-to-end fact; the SOURCE-reaching contradiction is the
    // disjoint-IN case below)
    val none = load().filter(col("chemsys") === "V-O" && col("chemsys") === "Pt")
    assert(none.count() == 0)
    // DISJOINT In-lists survive to pushFilters and intersect to the
    // empty set on the scan: the backend must match nothing
    val disjoint = load().filter(
      col("material_id").isin("mp-1002", "mp-1005") &&
      col("material_id").isin("mp-1008", "mp-1009"))
    assert(disjoint.collect().isEmpty)
  }

  test("unsupported predicates stay above the scan and still apply") {
    val df = load().filter(col("nsites") > 10) // not pushable → Spark-side filter
    assert(df.count() == 4) // nsites 14, 16, 22, 14
  }

  test("column pruning reaches the reader") {
    val df = load().select("material_id", "nsites")
    assert(df.schema.fieldNames.toSeq == Seq("material_id", "nsites"))
    assert(df.collect().length == 10)
  }

  test("pagination partitions the scan") {
    val df = load()
    assert(df.rdd.getNumPartitions == 3)
    // pages are disjoint and complete
    assert(df.select("material_id").distinct().count() == 10)
  }

  test("missing path/url option fails at planning with a clear message") {
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft.sources.MaterialsSource").load().collect())
    assert(e.getMessage.contains("option 'path'"), e.getMessage)
  }
}
