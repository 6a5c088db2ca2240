package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** The native SQL functions must resolve like built-ins, both through
  * `FunctionBridge.registerAll` on a built session and through the
  * `GraftExtensions` session-extensions entry point. (The portable
  * fold formulation they replace lives in VectorExpressionsSpec as
  * the reference its bit-parity test compares against.)
  */
class VectorFoldRewriteSpec extends SparkSpec {

  test("registered SQL functions accept NULL literals like built-ins") {
    // ImplicitCastInputTypes: a NullType argument coerces and yields
    // NULL — previously a DATATYPE_MISMATCH AnalysisException
    org.apache.spark.sql.graft.FunctionBridge.registerAll(spark)
    val r = spark.sql(
      "SELECT jaro_winkler(NULL, 'abc') AS j, nfc_normalize(NULL) AS s").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("GraftExtensions installs the SQL functions in a fresh session") {
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val df = Seq((1L, Array(1f, 2f, 3f)), (2L, Array(0.5f, -1f, 2f)))
        .toDF("id", "v")
      df.createOrReplaceTempView("ext_vecs")
      // injected SQL function
      val viaSql = s2.sql("SELECT id, dot_f(v, v) AS d, norm2_f(v) AS n FROM ext_vecs")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(viaSql(1L) == ((1.0 + 4.0 + 9.0, 14.0)))
      val jw = s2.sql("SELECT jaro_winkler('martha', 'marhta') AS jw")
        .collect()(0).getDouble(0)
      assert(math.abs(jw - 0.9611111111111111) < 1e-12)
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }
}
