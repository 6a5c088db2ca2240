package graft.core

import graft.SparkSpec

/** SQL-facing registration of the native expressions. */
class SessionsSpec extends SparkSpec {

  // first in the suite, so no tune() call in it has run yet: the
  // shared session must be tuned by its constructor alone
  test("the shared session is tuned by Sessions.local, without a tune() call") {
    val r = spark.sql(
      """SELECT dot_f(array(cast(1.0 as float), cast(2.0 as float)),
        |             array(cast(3.0 as float), cast(4.0 as float))) AS d""".stripMargin)
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("dot_f / norm2_f are callable from SQL after tune()") {
    Sessions.tune(spark)
    val r = spark.sql(
      """SELECT dot_f(array(cast(1.0 as float), cast(2.0 as float)),
        |             array(cast(3.0 as float), cast(4.0 as float))) AS d,
        |       norm2_f(array(cast(3.0 as float), cast(4.0 as float))) AS n""".stripMargin)
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 25.0)
  }

  test("tune enables nanos parquet reads on a fresh query path") {
    Sessions.tune(spark)
    assert(spark.read.parquet("/root/testdata/sf0.001/events.parquet").count() == 1000)
  }

  test("repo-built sessions carry the sized codegen class cache") {
    // The −29% suite-total finding (SCALING.md round-11) lives
    // entirely in a builder config; nothing else fails if a refactor
    // drops the conf. This case turns that silent regression red:
    // every session this repo starts comes from Sessions.local (the
    // shared test session here; the builder lint keeps it the only
    // builder), which must set this STATIC conf at build time.
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries")
      == Sessions.CodegenCacheEntries)
  }

  test("wrong arity raises WRONG_NUM_ARGS analysis error, not IndexOutOfBounds") {
    Sessions.tune(spark)
    for (sql <- Seq(
        "SELECT jaro_winkler('only-one')",
        "SELECT jaro_winkler('a', 'b', 'c')",
        "SELECT dot_f(array(cast(1.0 as float)))",
        "SELECT norm2_f()")) {
      val ex = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect())
      assert(ex.getMessage.toUpperCase.contains("WRONG_NUM_ARGS"), s"$sql -> ${ex.getMessage}")
    }
  }
}
