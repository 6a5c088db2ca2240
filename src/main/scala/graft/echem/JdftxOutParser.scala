package graft.echem

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JDFTx output-log scanner (ops #4, #12-14, #29). The reference
  * loops over lines, overwriting `fermi`/`ne` on every
  * `FillingsUpdate:  mu:` match so the *last* (converged) value wins
  * (`dags/my_dag.py:153-158`).
  *
  * Spark-first form: read each log as one `wholetext` row and take
  * `element_at(regexp_extract_all(...), -1)` — last-match semantics
  * without depending on line ordering across splits, entirely in
  * codegen'd expressions. Logs are KBs–MBs, so one row per file
  * distributes fine at any corpus size.
  */
object JdftxOutParser {

  private val MetricRe = "FillingsUpdate:\\s+mu:\\s+(\\S+)\\s+nElectrons:\\s+(\\S+)"
  private val FileRe = "([^/]+)_(-?[0-9.]+)\\.out$"

  /** Core extraction over any (mp_key, charge, text) frame: one row
    * per log with the final FillingsUpdate values; n_updates is the
    * match cardinality (72/9/9 for the golden fixtures, BASELINE.md).
    * Used both by the directory scan below and by the in-flight
    * ProcessRunner outputs in the full pipeline (no re-read from
    * disk between stages — the reference re-parses files per task,
    * we keep it one plan). */
  def metricsFromText(logs: DataFrame, textCol: String): DataFrame = {
    // guard the no-match case: element_at(empty, -1) ABORTS the job
    // under Spark 4's default ANSI mode, so one crashed/timed-out
    // run (empty or truncated log) would kill the whole metrics
    // stage; the reference's loop semantics simply leave the metric
    // unset -> NULL here. try_cast, not cast, for the same reason
    // one step deeper (found by the fuzz sweep): the regex captures
    // \S+, so a garbled line like "mu: abc nElectrons: def" MATCHES
    // and a plain ANSI cast of 'abc' kills the stage — a non-numeric
    // capture is a corrupt run, which quarantines as NULL like every
    // other malformed shape.
    val lastMatch = (group: Int) => {
      val all = regexp_extract_all(col(textCol), lit(MetricRe), lit(group))
      when(size(all) > 0, element_at(all, -1)).try_cast(DoubleType)
    }
    logs.withColumn("mu", lastMatch(1))
      .withColumn("nelectrons", lastMatch(2))
      .withColumn("n_updates",
        size(regexp_extract_all(col(textCol), lit(MetricRe), lit(0))).cast(LongType))
      .drop(textCol)
  }

  /** (mp_key, charge) parsed from `src` by a `(key)_(charge)` regex —
    * the ONE key parser of the filename form (`FileRe`) and the
    * run-key form ([[KeyRe]]). A source that does not parse yields a
    * NULL key and/or charge, never a failure: nullif maps the empty
    * extraction to NULL, and try_cast covers a charge group
    * ([0-9.]+) that captured a non-castable shape like "0..5" (under
    * default ANSI a plain cast would abort the scan). */
  private def parsedKey(src: Column, re: String): Seq[Column] = Seq(
    nullif(regexp_extract(src, re, 1), lit("")).as("mp_key"),
    nullif(regexp_extract(src, re, 2), lit("")).try_cast(DoubleType).as("charge"))

  private val keyParsed: Column = col("mp_key").isNotNull && col("charge").isNotNull

  /** Directory scan form: one row per `.out` file whose name parses
    * as `{mp_key}_{charge}.out` (`dags/my_dag.py:131,153`) — the
    * [[metricsQuarantine]] scan with unparsed names dropped, and its
    * `file` and `ok` columns dropped. A parsed file with no final
    * FillingsUpdate keeps its row with NULL metrics. */
  def metrics(spark: SparkSession, dir: String): DataFrame =
    metricsQuarantine(spark, dir).filter(keyParsed).drop("file", "ok")

  /** Quarantine-style ingest twin of [[metrics]] (the
    * `MediaOps.decodeQuarantine` pattern applied to `.out` scans): one
    * row per `.out` FILE — nothing silently dropped — with
    * `ok = false` for any file whose name does not parse as
    * `{mp_key}_{charge}.out` or whose content yields no final
    * FillingsUpdate metrics (crashed/truncated/garbage run). A
    * corrupt `.out` is the most likely real-world input in this
    * domain (semi-structured text from an external binary), and the
    * production posture is quarantine-and-continue: `filter(ok)` is
    * the metrics feed, `filter(!ok)` the reprocess/alert feed with
    * the file path naming the culprit. Codegen'd expressions only —
    * zero shuffle, one row per file. */
  def metricsQuarantine(spark: SparkSession, dir: String): DataFrame =
    metricsFromText(
      // pathGlobFilter prunes at LISTING time: a real run directory
      // holds multi-GB binary siblings (wavefunctions, densities)
      // beside the logs, and a post-read filter on input_file_name
      // would wholetext-materialize each one as a single row first.
      // The endsWith filter stays as the semantic contract the glob
      // implements.
      spark.read.option("wholetext", "true").option("pathGlobFilter", "*.out")
        .text(dir)
        .select(input_file_name().as("file"), col("value"))
        .filter(col("file").endsWith(".out"))
        .select(col("file") +: parsedKey(col("file"), FileRe) :+ col("value"): _*),
      "value")
      .withColumn("ok", keyParsed && col("mu").isNotNull && col("nelectrons").isNotNull)

  /** Run-key form for in-flight outputs keyed `{mp_key}_{charge}`.
    * Rows whose key does not parse DROP, the [[metrics]] convention
    * (previously they sailed through with mp_key = "" and a null
    * charge, then vanished untraceably at the downstream geometry
    * join; a caller that must see every row uses the quarantine
    * twin's ok-flag pattern instead). */
  val KeyRe = "(.+)_(-?[0-9.]+)$"
  def metricsFromRuns(runs: DataFrame): DataFrame =
    metricsFromText(
      runs.select(parsedKey(col("key"), KeyRe) :+ col("output"): _*).filter(keyParsed),
      "output")
}
