package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed table loaders for the driver testdata layout
  * (`TESTDATA.md`): one parquet file per TPC-H-ish table under a
  * scale-factor directory.
  *
  * Scale notes: loaders return raw scans — predicate pushdown and
  * column pruning are left to Catalyst, so callers compose
  * `.select/.filter` and the parquet reader sees `PushedFilters`.
  * No DATA is ever cached or materialized driver-side; what IS
  * memoized (per session × dir × table) is the resolved DataFrame,
  * i.e. the scan's METADATA: `spark.read.parquet` re-lists files
  * and re-reads footers for schema inference on every call, and
  * `events` additionally re-runs its driver-side unit-detection
  * footer pass — across a 148-query driver run that is hundreds of
  * redundant driver metadata passes, pure per-query floor. A
  * DataFrame is an immutable logical plan, so handing the same one
  * to every query is safe; the testdata dirs are immutable for a
  * session's lifetime (each test that writes its own events file
  * uses a fresh temp dir). Keyed weakly on the session so stopped
  * sessions' plans are collectable.
  */
object Tables {

  private val cache = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()

  private def cached(spark: SparkSession, dir: String, name: String)
                    (load: => DataFrame): DataFrame = {
    val per = cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
        cache.put(spark, m)
      }
      m
    }
    // a failed load (missing file, refused unit guess) propagates
    // and caches nothing — the error stays reproducible per call
    per.getOrElseUpdate((dir, name), load)
  }

  /** Set a session conf only when it differs — repeated same-value
    * sets are cheap but show up as per-query churn in profiles. */
  private def ensureConf(spark: SparkSession, k: String, v: String): Unit =
    if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cached(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))

  /** Spread target derived from INPUT SIZE, capped at the cluster
    * parallelism (r16, guide §2.2/§2.5): an unconditional
    * `defaultParallelism` target made every KB-sized local scan fan
    * out to 32 map partitions, and each downstream exchange then paid
    * the per-(map task × reduce partition) shuffle-stream setup —
    * measured ~5 ms CPU per stream on this box, i.e. ~5 s of pure
    * stream-setup CPU across a dedup query's ~10 shuffles at 32×32
    * (the whole "components family anti-scales 8→32 cores" anomaly in
    * PERF_r15: cores were never the problem, M×R block count was; at
    * a fixed partition count 32 cores ≥ 8 cores on every family
    * query). Deriving M from scan bytes keeps the fold parallel
    * enough to matter while bounding stream-setup waste; at cluster
    * scale `bytes/minBytesPerTask` exceeds any parallelism and the
    * cap returns exactly the old behavior, so this is scale-inert.
    * The bytes-per-task floor is PER TABLE, because what the spread
    * parallelizes is per-ROW compute and rows-per-byte differ by an
    * order of magnitude between the two spread tables: a documents
    * row is ~120 B of text whose fold cost amortizes ~256 KiB/task
    * (measured best across 1 B–256 KiB on the 9-query dedup family,
    * −25 to −53% vs the old unconditional fan-out), while an
    * embeddings row is ~400 B of dense doubles whose distance
    * kernels are CPU-bound enough that q_embed_neardup LOSES 15–70%
    * below ~32 map partitions — so embeddings keep a floor small
    * enough to reproduce the old full fan-out at bench scale.
    * `spark.graft.spread.minBytesPerTask` overrides both (probe
    * knob / denser deployments). One entry per spread table: its
    * unique id column (the hash-spread key) and its floor. */
  private val spreadSpec =
    Map("documents" -> ("doc_id", 262144L), "embeddings" -> ("vec_id", 16384L))

  /** Hash-repartition on the table's unique id, NOT round-robin
    * `repartition(n)` (r15): a keyless repartition pays a LOCAL SORT
    * of its whole input inside the (single) scan task
    * (`spark.sql.execution.sortBeforeRepartition`, on by default so
    * retried tasks reproduce their row→partition assignment), i.e. a
    * serial corpus sort per spread consumer. Hashing the unique id is
    * retry-deterministic BY CONSTRUCTION — the guide's recommended
    * form for synthetic spread keys — spreads evenly (ids are
    * unique), and skips the sort entirely: measured 5 × solo at
    * sf0.1/local[32], repartition(32) 218–248 ms vs
    * repartition(32, id) 152–194 ms on the same count, ≈ −50 ms per
    * consuming query. */
  private def spread(df: DataFrame, idCol: String, minBytesPerTask: Long): DataFrame = {
    val spark = df.sparkSession
    val max = spark.sparkContext.defaultParallelism.toLong
    val perTask = spark.conf.getOption("spark.graft.spread.minBytesPerTask")
      .map(_.toLong).getOrElse(minBytesPerTask)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = ((bytes + perTask - 1) / perTask)
      .min(BigInt(max)).max(BigInt(1)).toInt
    if (df.rdd.getNumPartitions < target) df.repartition(target, col(idCol)) else df
  }

  /** Small-scan parallelizer for the FACT tables, self-disabling at
    * scale. The driver testdata ships each table as ONE parquet file
    * with ONE row group; parquet row groups are the split unit, so
    * every scan plans exactly ONE task and every narrow stage above
    * it — minhash folds, shingling, tokenize-heavy text scoring,
    * per-vector distance math — runs on 1 of N cores. Byte-range
    * splitting cannot fix this (rows belong to the split holding the
    * row-group start), and AQE only COALESCES partitions, it never
    * splits them; a round-robin repartition to the cluster's
    * parallelism is the one lever that exists.
    *
    * Why this is scale-correct and not a local hack: the repartition
    * is GATED on the scan actually under-supplying partitions. At
    * 100 TB a fact table has thousands of row groups, the gate sees
    * partitions ≥ parallelism, and the plan is untouched — no added
    * exchange, no blanket shuffle. The gate fires exactly in the
    * undersplit-layout regime (tiny table, or a few giant
    * single-row-group files — a real ingest pathology), where one
    * bounded shuffle of a small input buys N× on every stage above.
    * Catalyst still pushes filters and column pruning THROUGH the
    * Repartition into the scan, so pushdown contracts are unchanged.
    * Dimension tables (region/nation/supplier/customer/part) are NOT
    * spread: they ride broadcast joins, where an added exchange is
    * pure cost. Memoized with the plan, so the partition probe runs
    * once per (session, dir, table).
    *
    * Round-8 refinement: spreading is OPT-IN per consumer, not the
    * table default. The blanket fact-table spread (round 7) traded
    * ~2× regressions on every query whose FIRST operation is a
    * reducing aggregate or a shuffle join (the added exchange feeds
    * an operator that was about to repartition anyway) for wins on
    * the narrow-heavy family. The property that decides is the
    * CONSUMER's shape, not the table's: per-doc signature folds,
    * shingling, per-vector distance math — work that runs entirely
    * inside the scan's partitions — wants the spread; anything whose
    * first exchange re-partitions regardless does not. So the plain
    * loaders return raw scans and the `*Spread` variants serve the
    * narrow-heavy call sites (the dedup/ANN/components family).
    * The shape rule is the heuristic; every call-site flip was
    * decided by sf0.1/local[32] head-to-head timing, and several
    * queries the rule nominates stay UNSPREAD because the exchange
    * outweighed the parallelism win at their input size (measured:
    * q_simhash 1.41×, q_incremental_dedup 1.20×, q_jaccard_clusters
    * 1.34×, q_embed_components 1.11× WITH spread) — tiny inputs
    * amortize an exchange worse than they amortize a 1-core scan. */
  private def spreadTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (idCol, minBytesPerTask) = spreadSpec.getOrElse(name,
      sys.error(s"no spread id column registered for table '$name' — " +
        "add it to Tables.spreadSpec"))
    cached(spark, dir, s"$name#spread")(
      spread(spark.read.parquet(s"$dir/$name.parquet"), idCol, minBytesPerTask))
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
  def documentsSpread(s: SparkSession, d: String): DataFrame = spreadTable(s, d, "documents")
  def embeddingsSpread(s: SparkSession, d: String): DataFrame = spreadTable(s, d, "embeddings")

  /** `events.parquet` has shipped with two physical `ts` encodings
    * across driver testdata generations: INT64 TIMESTAMP(NANOS)
    * (which Spark's parquet reader rejects by default,
    * [PARQUET_TYPE_ILLEGAL]) and INT64 TIMESTAMP(MICROS). Normalize
    * both to the engine contract — `ts`: LONG ns since epoch — so
    * every downstream `ts div 1000` sees the exact integer the
    * DuckDB oracle's `epoch_us(ts)` sees:
    *  - NANOS: `nanosAsLong` reads the raw int64 ns directly.
    *  - MICROS: read as TIMESTAMP (NTZ inference off, so the stored
    *    int64 µs IS the unix_micros value — no session-timezone
    *    reinterpretation), then widen µs→ns in long arithmetic.
    * Runtime confs — safe to set on a session we did not build.
    * The normalized plan (including the unit decision its footer
    * pass derives) is memoized per (session, dir); the two confs
    * are idempotent session state the cached plan's execution also
    * relies on, so they are (re-)ensured on every call — a no-op
    * when already set.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureConf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    ensureConf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    cached(spark, dir, "events#normalized")(eventsUncached(spark, dir))
  }

  private def eventsUncached(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => eventsFromLongTs(spark, dir, raw)
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP (µs precision) under either tz flavor
        raw.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
      case other =>
        // the Long path's whole design is "fail loudly rather than
        // guess" — a DOUBLE-seconds or STRING ts would cast to a
        // silently wrong (or null) timestamp here
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other under $dir; " +
          "expected INT64 (ns/us) or TIMESTAMP")
    }
  }

  /** A LongType `ts` is EITHER INT64 TIMESTAMP(NANOS) surfaced by
    * `nanosAsLong` OR a plain unannotated INT64 whose unit nobody
    * declared — and the driver has already changed the physical
    * encoding once between testdata generations, so "assume ns"
    * would turn a future plain-µs file into a silent 1000× time
    * error in every `ts div 1000` downstream. Decide from the
    * parquet metadata instead (one driver-side footer read, the
    * manifest-style cost model): trust the logical-type annotation
    * when present; for an unannotated column fall back to the
    * row-group max statistic, whose magnitude separates ns from µs
    * epochs by three orders (ns dates land above 1e17 ≈ 1973; µs
    * dates land in (1e14, 1e17) ≈ 1973–5138). Anything else —
    * millis, seconds, empty stats — fails loudly rather than guess. */
  private def eventsFromLongTs(spark: SparkSession, dir: String, raw: DataFrame): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    // Hadoop FS listing, not java.io.File: the same code must find
    // part files on s3a://, hdfs://, and nested/partitioned layouts
    // (listFiles(recursive) walks date=... subdirs) — the footer
    // reads below already go through HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), "events.parquet")
    val fs = base.getFileSystem(conf)
    val files: Seq[org.apache.hadoop.fs.Path] = {
      if (!fs.exists(base))
        throw new IllegalArgumentException(s"no parquet data under $base")
      val st = fs.getFileStatus(base)
      if (st.isFile) Seq(base)
      else {
        val it = fs.listFiles(base, true)
        val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f.getPath
        }
        buf.sortBy(_.toString).toSeq
      }
    }
    if (files.isEmpty)
      throw new IllegalArgumentException(s"no parquet data under $base")
    // ONE footer read per file: either the logical-type annotation
    // decides (Left), or the row-group max statistic does (Right); a
    // file with NEITHER — e.g. an empty part file with zero row
    // groups, which Spark writes after a filter+repartition — gives
    // no signal and the NEXT part file is consulted instead of
    // aborting the whole load.
    def inspect(file: org.apache.hadoop.fs.Path): Option[Either[TimeUnit, Long]] = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          file, spark.sparkContext.hadoopConfiguration))
      try {
        val footer = reader.getFooter
        footer.getFileMetaData.getSchema.getType(Seq("ts"): _*)
          .asPrimitiveType().getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            Some(Left(t.getUnit))
          case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation | null =>
            // plain width tag or unannotated: fall back to statistics
            import scala.jdk.CollectionConverters._
            val stats = footer.getBlocks.asScala.flatMap(
              _.getColumns.asScala.find(_.getPath.toDotString == "ts"))
              .map(_.getStatistics)
              .filter(s => s != null && s.hasNonNullValue)
            if (stats.isEmpty) None
            else Some(Right(
              stats.map(_.genericGetMax.asInstanceOf[Number].longValue).max))
          case other =>
            throw new IllegalArgumentException(
              s"events.ts carries unexpected logical type $other in $file")
        }
      } finally reader.close()
    }
    val (file, decision) = files.iterator
      .flatMap(f => inspect(f).map(d => (f, d))).nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"events.ts is INT64 with no timestamp annotation and no column " +
        s"statistics in any part file under $base; refusing to guess its unit"))
    decision match {
      case Left(TimeUnit.NANOS)  => raw
      case Left(TimeUnit.MICROS) => raw.withColumn("ts", col("ts") * lit(1000L))
      case Left(other) =>
        throw new IllegalArgumentException(
          s"events.ts is INT64 TIMESTAMP($other); only NANOS/MICROS are known in $file")
      case Right(maxTs) =>
        // unannotated INT64: magnitude decides, from footer stats only
        if (maxTs > 100000000000000000L) raw // > 1e17: ns epoch band
        else if (maxTs > 100000000000000L)  // (1e14, 1e17]: µs epoch band
          raw.withColumn("ts", col("ts") * lit(1000L))
        else throw new IllegalArgumentException(
          s"events.ts is unannotated INT64 with max=$maxTs — neither the ns nor µs " +
          s"epoch band; refusing to guess the unit for $file")
    }
  }

  /** Events with `ts` converted to a proper microsecond timestamp
    * (`ts_t`) via exact integer division — `ts div 1000` stays in
    * long arithmetic; a double division would lose precision above
    * 2^53 ns.
    */
  def eventsWithTs(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
}
