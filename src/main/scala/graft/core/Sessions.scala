package graft.core

import org.apache.spark.sql.SparkSession

/** Session configuration for the engine.
  *
  * `tune` applies the runtime-settable confs every session needs
  * (safe on sessions we did not build); `local` is the one builder:
  * every session this repo starts — Verify, Bench, PlanDump, Plans,
  * the test session, the probes — comes from it, so the oracle is
  * checked under the session shape the benchmark times.
  */
object Sessions {

  /** Generated-class cache size (STATIC conf — builder-time only).
    *
    * Spark's default caps the whole-stage-codegen class cache at 100
    * entries. A session running this library's full surface compiles
    * far more distinct codegen units than that (150 queries × several
    * units each), so at the default every re-execution RE-COMPILES
    * nearly every stage — measured on the 150-query bench suite:
    * 66.7 s → 47.1 s total (−29%, min-of-3 idle runs, zero per-query
    * regressions) from this one knob. The cache (CodeGenerator's
    * Guava cache) is a size-bounded LRU with STRONG keys — entries
    * are retained until evicted by count, so 4096 entries means up to
    * ~a few hundred MB of driver class/metadata retention that will
    * NOT be reclaimed under memory pressure; size the count, not the
    * hope of GC. The right trade for any long-lived session serving
    * many distinct plans, which is exactly the deployment shape of an
    * analytics library; single-query batch jobs never notice either
    * way. */
  val CodegenCacheEntries = "4096"

  /** Runtime confs: AQE on (coalescing + skew-join split), nanos
    * timestamps readable, UTC semantics. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // WindowExec's "No Partition Defined" warning is EXPECTED from
    // this library: the exact-ntile verification harnesses
    // (rfmSegments/equiDepthHistogram/paretoFront at relErr = 0) run
    // a deliberate global window — their documented 100 TB twins
    // (the `_approx` operators, approx cut arrays + comparison
    // bucketing, zero windows) are the scale path, and the exact
    // forms exist to oracle-check them. Eight copies of the warning
    // per run buried real warnings (r15 verdict), so this one logger
    // drops to ERROR; everything else keeps the session level.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // logging backend is best-effort
    org.apache.spark.sql.graft.FunctionBridge.registerAll(spark)
    spark
  }

  /** A tuned `local[cores]` session: `shuffle.partitions = cores`,
    * the sized codegen class cache, UI off, size-based AQE coalescing,
    * plus `confs` (static ones included: a path such as
    * `spark.local.dir` or `spark.sql.warehouse.dir`).
    *
    * `parallelismFirst=false`: Spark's default keeps ~2×cores
    * post-shuffle partitions for "parallelism", which on small inputs
    * means dozens of near-empty tasks per exchange — pure scheduling
    * floor. Size-targeted coalescing (partitions sized by
    * `advisoryPartitionSizeInBytes`, not by a core-count heuristic) is
    * also the right cluster setting, and no answer may depend on it.
    *
    * `cores` defaults to `$SPARK_GRAFT_CPUS`, else the machine's
    * processor count. */
  def local(
      cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(
        Runtime.getRuntime.availableProcessors())(_.trim.toInt),
      confs: Map[String, String] = Map.empty): SparkSession =
    tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config(confs)
      .getOrCreate())
}
