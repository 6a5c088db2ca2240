package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetBridge

/** Physical-layout helpers for the 100 TB design point (SCALING.md):
  * bucketing for exchange-free co-located joins, salting for skewed
  * keys. Both are pure plan/layout devices — results are identical
  * to the unoptimized forms (property-tested).
  */
object Warehouse {

  /** Persist a table bucketed + sorted by the join key. Two tables
    * bucketed the same way join with NO shuffle exchange on either
    * side — at 100 TB this converts the nightly fact-fact join from
    * a full-network shuffle into local merges. (Local session
    * catalog here; on a cluster this is the metastore + object
    * store.) */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    writeBucketed(df, table, Seq(key), buckets)

  /** Managed-table location of a simple table name in the current
    * database, resolved through the Hadoop [[FileSystem]] OF THE
    * WAREHOUSE URI — a java.io.File resolution of URI.getPath only
    * ever saw a local file: warehouse, so on hdfs/s3 the
    * surviving-location guards below silently passed and the opaque
    * CTAS "location is not empty" error they exist to preempt
    * returned. */
  private def managedTableLocation(spark: SparkSession, table: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val wh = new org.apache.hadoop.fs.Path(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val db = spark.catalog.currentDatabase.toLowerCase(java.util.Locale.ROOT)
    val dbDir = if (db == "default") wh else new org.apache.hadoop.fs.Path(wh, s"$db.db")
    (fs, new org.apache.hadoop.fs.Path(dbDir, table.toLowerCase(java.util.Locale.ROOT)))
  }

  /** Composite-key form — a join keyed on ALL bucket columns (e.g.
    * the LSH band store's `(band, bkey)`) reads this side
    * exchange-free the same way. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String], buckets: Int): Unit = {
    require(keys.nonEmpty, "writeBucketed needs at least one bucket key")
    // simple (unqualified) names only: the backticked DROP below
    // would treat "db.tbl" as ONE identifier and the computed
    // location ignores the db.db/ directory layer — the stale-
    // location cleanup would silently miss, resurrecting the exact
    // "location is not empty" failure it exists to prevent
    require(!table.contains("."),
      s"writeBucketed takes a simple table name in the current database, got '$table'")
    val spark = df.sparkSession
    // a fresh (in-memory) catalog may not know a table whose previous
    // location survives on disk — clear both before writing
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // the session catalog lowercases table names on disk — computing
    // the location from the caller's casing would miss the surviving
    // directory and the saveAsTable below would fail on "location is
    // not empty", the exact failure this cleanup exists to prevent.
    // The CURRENT DATABASE owns the directory layer: default-database
    // tables live directly under the warehouse dir, any other under
    // <db>.db/ — a cleanup that ignored it deleted warehouse/<table>
    // while the surviving location was warehouse/<db>.db/<table>
    val (fs, loc) = managedTableLocation(spark, table)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Append a batch to an existing bucketed table (creating it on
    * first use), preserving the bucket spec — the band-store ingest
    * path: each admitted micro-batch's band rows land in the SAME
    * (band, bkey) bucketing, so the next batch's probe join still
    * reads the whole table exchange-free. Spark verifies the spec
    * against the existing table's, so a drifted bucketing fails
    * loudly instead of silently de-bucketing the store. */
  def appendBucketed(df: DataFrame, table: String, keys: Seq[String], buckets: Int): Unit = {
    require(keys.nonEmpty, "appendBucketed needs at least one bucket key")
    require(!table.contains("."),
      s"appendBucketed takes a simple table name in the current database, got '$table'")
    val spark = df.sparkSession
    // first-use with a SURVIVING on-disk directory (fresh in-memory
    // catalog after a JVM restart, warehouse dir persisted — the
    // writeBucketed cleanup scenario): the create path would CTAS
    // into a non-empty location and fail with Spark's opaque error —
    // and silently deleting would destroy data an APPEND caller
    // clearly wants kept (the bucket spec lives in the lost catalog
    // entry, so the directory alone cannot be re-attached as a
    // bucketed table). Fail with the recovery options instead. A
    // production deployment's durable metastore never hits this; it
    // is the local in-memory-catalog artifact.
    if (!spark.catalog.tableExists(table)) {
      val (fs, loc) = managedTableLocation(spark, table)
      require(!fs.exists(loc) || fs.listStatus(loc).isEmpty,
        s"appendBucketed: '$table' is not in this session's catalog but its " +
          s"location $loc survives from a previous session. The bucket spec " +
          "lived in the lost catalog entry, so the directory cannot be " +
          "re-attached: either re-seed the store with writeBucketed (rebuild), " +
          "or read the old files and writeBucketed them into a fresh table.")
    }
    df.write.mode(SaveMode.Append)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Morton (Z-order) interleave of two `bits`-bit ranks: bit b of
    * `x` lands at position 2b, bit b of `y` at 2b+1. Rows close in
    * BOTH dimensions get close z-values — the property the clustered
    * layout below exploits. Pure bit arithmetic, codegen'd. */
  def zValue(x: Column, y: Column, bits: Int = 12): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b))
        .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }

  /** Z-order clustered parquet layout over two numeric dimensions:
    * rank-normalize both columns (min-max to `bits`-bit ranks),
    * range-partition + sort by the interleaved z-value, write. A
    * 2-D range query then finds its rows concentrated in FEW files
    * instead of smeared across all of them, so parquet footer
    * min/max pruning (file- and row-group-level) skips most of the
    * table — the data-skipping layout a 100 TB fact table wants when
    * queries slice on two dimensions at once (a single-column sort
    * clusters only its own dimension; the z-curve spends each bit of
    * ordering alternately on both). Property-tested: fewer files
    * touched than the same data in an unclustered layout, identical
    * content.
    *
    * One stats pass (exact min/max, order-independent), one range
    * shuffle — the same cost as any sorted write. `nFiles` bounds
    * output file count (the anti-small-files knob, as in
    * CuratedSink). */
  def writeZOrdered(df: DataFrame, dir: String, colA: String, colB: String,
                    nFiles: Int = 16, bits: Int = 12): Unit = {
    require(nFiles >= 1 && bits >= 1 && bits <= 31,
      s"need nFiles >= 1 and bits in [1, 31], got ($nFiles, $bits)")
    // non-finite guard (the drift family's finiteSample discipline):
    // one NaN reaching max() would make (mx - mn) NaN and collapse
    // EVERY row's rank to a constant — single-column (or no)
    // clustering silently shipped under a z-order label. Stats come
    // from finite values only; non-finite rows rank 0 (they land in
    // the lowest z-range file and never poison the layout).
    def finite(c: Column) = graft.core.Validate.finiteSample(c)
    val stats = df.agg(
      min(when(finite(col(colA)), col(colA))).cast("double").as("__amn"),
      max(when(finite(col(colA)), col(colA))).cast("double").as("__amx"),
      min(when(finite(col(colB)), col(colB))).cast("double").as("__bmn"),
      max(when(finite(col(colB)), col(colB))).cast("double").as("__bmx"))
    val maxRank = (1L << bits) - 1
    def rank(c: Column, mn: Column, mx: Column) =
      when(mx <=> mn, lit(0L)).when(!finite(c), lit(0L)).otherwise(
        least(lit(maxRank), floor((c.cast("double") - mn) / (mx - mn) * maxRank).cast("long")))
    df.crossJoin(broadcast(stats))
      .withColumn("__z", zValue(rank(col(colA), col("__amn"), col("__amx")),
                                rank(col(colB), col("__bmn"), col("__bmx")), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__amn", "__amx", "__bmn", "__bmx")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Test-only failpoint for crash-injection specs: invoked with a
    * step name at the named points of the zone-map commit protocol;
    * a spec installs a throwing hook to simulate a crash between
    * steps. No-op in production. */
  private[graft] var crashHook: String => Unit = _ => ()

  /** The committed manifest version of a zone-mapped table: the
    * content of the `_current` pointer file. Every reader resolves
    * through this ONE file, and every writer publishes by atomically
    * renaming a fresh pointer over it — the Iceberg/Delta commit
    * model, where a version either is or is not visible and no
    * reader ever observes a half-swapped manifest. */
  def zoneMapCurrentVersion(dir: String): Int = {
    val ptr = new java.io.File(dir, "_current")
    require(ptr.exists(), s"no committed zone-map table under $dir (missing _current)")
    val s = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
    s.stripPrefix("v").toIntOption.getOrElse(
      throw new IllegalArgumentException(s"corrupt _current pointer under $dir: '$s'"))
  }

  /** Publish `version` as the live one: write the pointer content to
    * a temp file, then ATOMIC_MOVE it over `_current`. The rename is
    * the commit — everything before it (data files, manifest dir) is
    * invisible staging; a crash anywhere before the rename leaves
    * the previous version fully intact and readable. */
  private def commitZoneMapVersion(dir: String, version: Int): Unit = {
    val tmp = new java.io.File(dir, s"_current.tmp$version")
    java.nio.file.Files.write(tmp.toPath, s"v$version".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, "_current").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** An optimistic zone-map commit lost its race: the `_current`
    * pointer moved between the merge's snapshot read and its commit
    * attempt, so the staged manifest was derived from a superseded
    * file set. The staged attempt is discarded (its appended data
    * files become orphans a vacuum reclaims); the caller re-reads
    * the table and retries — the Iceberg optimistic-concurrency
    * contract. */
  final class ZoneMapConflictException(dir: String, expected: Int, found: Int)
    extends RuntimeException(
      s"zone-map commit conflict under $dir: snapshot was v$expected " +
        s"but _current is now v$found — re-read and retry the merge")

  /** Per-table JVM-level monitors: java.nio file locks are held
    * per-JVM, so two threads of the SAME driver attempting the file
    * lock concurrently would throw OverlappingFileLockException — an
    * exception type the documented retry contract (catch
    * ZoneMapConflictException, re-read, retry) does not include.
    * Same-JVM committers serialize here first; the file lock then
    * guards cross-JVM writers as before. */
  private val commitMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Monitor key: CANONICAL path, so two same-JVM threads addressing
    * one table via different spellings ("/t", "/./t", a symlink)
    * share the monitor — getAbsolutePath keys them apart and the
    * second thread hits OverlappingFileLockException, an exception
    * the documented retry contract does not include. Falls back to
    * the absolute path if the filesystem refuses canonicalization. */
  private def canonicalKey(dir: String): String = {
    val f = new java.io.File(dir)
    try f.getCanonicalPath catch { case _: java.io.IOException => f.getAbsolutePath }
  }

  /** Compare-and-swap commit of a STAGED manifest dir: under an
    * exclusive `_commit.lock` file lock (advisory, works across
    * JVMs on a shared filesystem — the local stand-in for a catalog
    * service's conditional swap), verify `_current` still names the
    * version the merge planned against, claim the next version
    * number by renaming the staging dir to `v{expected+1}`, and move
    * the pointer. Two concurrent merges from the same snapshot thus
    * serialize: the first commits, the second observes the moved
    * pointer and throws [[ZoneMapConflictException]] instead of
    * silently last-write-winning a version whose manifest resurrects
    * files the winner deleted. Returns the committed version. */
  private def commitStagedZoneMapVersion(dir: String, expected: Int,
                                         staged: java.io.File): Int =
    commitMonitors.computeIfAbsent(canonicalKey(dir), _ => new Object).synchronized {
      commitStagedLocked(dir, expected, staged)
    }

  private def commitStagedLocked(dir: String, expected: Int,
                                 staged: java.io.File): Int = {
    val ch = java.nio.channels.FileChannel.open(
      new java.io.File(dir, "_commit.lock").toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try {
        val found = zoneMapCurrentVersion(dir)
        if (found != expected) {
          Demo.recursiveDelete(staged)
          throw new ZoneMapConflictException(dir, expected, found)
        }
        val next = expected + 1
        val vDir = new java.io.File(dir, s"_zonemap_history/v$next")
        // a v$next left by a CRASHED attempt is uncommitted (its
        // pointer rename never ran) — replacing it keeps retries safe
        if (vDir.exists()) Demo.recursiveDelete(vDir)
        java.nio.file.Files.move(staged.toPath, vDir.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        commitZoneMapVersion(dir, next)
        next
      } finally lock.release()
    } finally ch.close()
  }

  /** The manifest rows (file, mn, mx, n_rows) of the committed
    * `versions` — the one reader of `_zonemap_history`. A manifest is
    * file-count-sized, so its parts are read on the driver into a
    * local relation ([[ParquetBridge.readLocal]]): the read runs no
    * Spark job, and filters and collects over it fold on the driver.
    * The frame is a snapshot — later commits and cleanups cannot
    * change it. A missing version dir, like a part deleted mid-read,
    * throws `FileNotFoundException`: the shape a concurrent merge's
    * cleanup leaves behind. */
  private def manifest(spark: SparkSession, dir: String, versions: Seq[Int]): DataFrame =
    ParquetBridge.readLocal(spark, versions.flatMap { v =>
      val d = new java.io.File(dir, s"_zonemap_history/v$v")
      if (!d.isDirectory) throw new java.io.FileNotFoundException(s"no manifest dir $d")
      parquetParts(d)
    })

  /** The live manifest: per-file (file, mn, mx, n_rows), resolved
    * through the `_current` pointer and read on the driver. */
  def zoneMapManifest(spark: SparkSession, dir: String): DataFrame =
    manifest(spark, dir, Seq(zoneMapCurrentVersion(dir)))

  /** The data files a manifest names, each once. A manifest is
    * file-count-sized, so the dedup runs on the driver — a Spark
    * `distinct()` here would cost a shuffle job per call. */
  private def filesIn(man: DataFrame): Seq[String] =
    man.select("file").collect().map(_.getString(0)).distinct.toSeq

  /** Manifest `file` strings are percent-ENCODED URIs (the
    * input_file_name() form). Spark's path-string reader does NOT
    * decode them (`new Path(str)` keeps "%20" literal), so every
    * consumer that reads, compares or deletes a manifest-listed file
    * goes through this one decode — otherwise a table dir containing
    * a space/%/# names a nonexistent literal path. */
  private def fileOf(uri: String): java.io.File = new java.io.File(new java.net.URI(uri))

  /** Read a manifest's file set under the schema Spark's inference
    * would give it, taken from one footer on the driver
    * ([[ParquetBridge.footerSchema]]) — inference itself is a job per
    * read. An empty set — a pruned read no zone matches, or a table
    * written from an empty frame — is an empty local relation under
    * the footer schema of a `data/` part (which keeps its zero-row
    * schema part, see [[vacuumZoneMapped]]): a plan that runs no job. */
  private def readFiles(spark: SparkSession, dir: String, uris: Seq[String]): DataFrame = {
    val files = uris.map(fileOf)
    val schema = ParquetBridge.footerSchema(spark,
      files.headOption.orElse(parquetParts(new java.io.File(dir, "data")).headOption)
        .getOrElse(throw new java.io.FileNotFoundException(s"no parquet part under $dir/data")))
    if (files.isEmpty) ParquetBridge.ofLocalRelation(spark, schema, Nil)
    else spark.read.schema(schema).parquet(files.map(_.getPath): _*)
  }

  /** The parquet part files directly under `dir`, absolute, by name.
    * java.io like the rest of the table: `_current`, `_commit.lock`,
    * the ATOMIC_MOVE commit and vacuum's deletes all need a local
    * filesystem. */
  private def parquetParts(dir: java.io.File): Seq[java.io.File] =
    Option(dir.getAbsoluteFile.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** A parquet file's row count from its footer — no data read. */
  private def recordCount(hconf: org.apache.hadoop.conf.Configuration, f: java.io.File): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), hconf))
    try r.getRecordCount finally r.close()
  }

  /** Signals [[footerZoneStats]] cannot serve a table — falls back to
    * the scan-derived stats job. Control flow only, never escapes. */
  private case object FooterStatsUnavailable
    extends Exception with scala.util.control.NoStackTrace

  /** Per-file zone stats (file, mn, mx, n_rows) read from the parquet
    * FOOTERS instead of re-scanning the written data: row-group
    * statistics for an INT32/INT64 column are the exact min/max of
    * its non-null values, and the record count is footer metadata —
    * so the post-write stats pass needs zero data reads.
    * Binary/floating columns fall back to the scan job (None):
    * parquet binary stats may be truncated by writers, and double
    * stats are dropped when NaN is present — only the integral types
    * are unconditionally trustworthy.
    *
    * Matches the scan-derived stats row-for-row: `file` strings are
    * the `file:///`-form URIs `input_file_name()` produces, files
    * with zero rows are OMITTED (the groupBy never saw them), and an
    * all-null file carries null mn/mx (min/max skip nulls). Any stats
    * gap — missing column chunk, absent statistics, unknown null
    * count — abandons the footer path for the whole table rather than
    * guessing. */
  private[core] def footerZoneStats(spark: org.apache.spark.sql.SparkSession,
                              files: Seq[String], statCol: String,
                              statType: org.apache.spark.sql.types.DataType)
      : Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // an empty file list is a broken LISTING, not an empty table — a
    // Some(empty manifest) here would commit a zone map that prunes
    // every read to nothing; fail loudly instead
    require(files.nonEmpty,
      "footerZoneStats: empty file list — the caller's data-dir listing " +
        "found no parquet files; refusing to derive an empty manifest")
    if (statType != LongType && statType != IntegerType) return None
    val hconf = spark.sparkContext.hadoopConfiguration
    try {
      val rows = files.flatMap { uri =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(uri), hconf))
        try {
          val blocks = r.getFooter.getBlocks.asScala
          var n = 0L
          var mn: Option[Long] = None
          var mx: Option[Long] = None
          blocks.foreach { b =>
            n += b.getRowCount
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == statCol)
              .getOrElse(throw FooterStatsUnavailable)
            val expected = if (statType == LongType)
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
            else org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
            if (cc.getPrimitiveType.getPrimitiveTypeName != expected)
              throw FooterStatsUnavailable
            val st = cc.getStatistics
            if (st == null) throw FooterStatsUnavailable
            if (st.hasNonNullValue) {
              val (lo, hi) = (st.genericGetMin, st.genericGetMax) match {
                case (a: java.lang.Long, b: java.lang.Long) => (a.longValue, b.longValue)
                case (a: java.lang.Integer, b: java.lang.Integer) =>
                  (a.intValue.toLong, b.intValue.toLong)
                case _ => throw FooterStatsUnavailable
              }
              mn = Some(mn.fold(lo)(math.min(_, lo)))
              mx = Some(mx.fold(hi)(math.max(_, hi)))
            } else if (st.getNumNulls != cc.getValueCount) {
              // not provably all-null (stats dropped or null count
              // unknown) — the scan job is the only exact source
              throw FooterStatsUnavailable
            }
          }
          if (n == 0L) Nil // the scan-derived groupBy never emits empty files
          else {
            def box(v: Option[Long]): Any =
              if (statType == LongType) v.map(java.lang.Long.valueOf).orNull
              else v.map(l => java.lang.Integer.valueOf(l.toInt)).orNull
            // percent-ENCODED URI, exactly the string input_file_name()
            // produces for the same file — a raw "file://" + path is
            // no URI on paths with a space/%/#, and [[fileOf]] parses
            // every manifest string as one, so footer- and scan-derived
            // rows must stay interchangeable for ANY path. Hadoop Path
            // encodes on construction; makeQualified pins the
            // file:/// spelling the scan job emits. (WarehouseSpec
            // asserts footer==scan row-for-row under a space-dir.)
            val fileUri = {
              val p = new org.apache.hadoop.fs.Path(uri)
              val q = p.getFileSystem(hconf).makeQualified(p).toUri
              // scheme + "://" + authority + raw (encoded) path — the
              // exact spelling input_file_name() emits ("file:///…",
              // not java.net.URI's authority-less "file:/…")
              q.getScheme + "://" +
                Option(q.getRawAuthority).getOrElse("") + q.getRawPath
            }
            Seq(org.apache.spark.sql.Row(fileUri, box(mn), box(mx), n))
          }
        } finally r.close()
      }
      val schema = StructType(Seq(
        StructField("file", StringType, nullable = true),
        StructField("mn", statType, nullable = true),
        StructField("mx", statType, nullable = true),
        StructField("n_rows", LongType, nullable = true)))
      Some(spark.createDataFrame(rows.asJava, schema))
    } catch { case FooterStatsUnavailable => None }
  }

  /** Zone stats of freshly written `parts`: from their footers when
    * [[footerZoneStats]] can serve the stat column, otherwise one
    * re-scan job over just those parts. */
  private def zoneStats(spark: SparkSession, parts: Seq[java.io.File], statCol: String,
                        statType: org.apache.spark.sql.types.DataType): DataFrame = {
    val paths = parts.map(_.getPath)
    footerZoneStats(spark, paths, statCol, statType).getOrElse(
      spark.read.parquet(paths: _*)
        .select(input_file_name().as("file"), col(statCol))
        .groupBy("file")
        .agg(min(col(statCol)).as("mn"), max(col(statCol)).as("mx"),
             count(lit(1)).as("n_rows")))
  }

  /** Range-clustered parquet layout + a zone-map MANIFEST (the
    * Iceberg/Delta data-skipping pattern, one level above parquet's
    * own footer pruning): rows are range-partitioned and sorted on
    * `statCol` into ≤ `nFiles` files under `dir/data`, and a tiny
    * parquet manifest of per-file (min, max, rows) is written to
    * `dir/_zonemap_history/v1`, published via the atomic `_current`
    * pointer ([[commitZoneMapVersion]]). [[readZoneMapPruned]]
    * consults the manifest BEFORE the scan is planned, so a
    * selective range predicate never even lists the non-matching
    * files — at 100 TB the win over footer pruning is that skipping
    * needs no file OPEN at all (footer pruning still opens every
    * footer; a manifest is one driver-side read of nFiles rows).
    *
    * The stats pass reads the written files' FOOTERS for integral
    * stat columns (exact row-group min/max — zero data re-read; see
    * [[footerZoneStats]]) and falls back to a one-column re-scan
    * otherwise; a cluster writer collects the same per-file min/max
    * from the write tasks' commit messages instead — the manifest
    * FORMAT and the prune path are what this models. */
  def writeZoneMapped(df: DataFrame, dir: String, statCol: String, nFiles: Int = 16): Unit = {
    require(nFiles >= 1, s"need nFiles >= 1, got $nFiles")
    // CREATE OR REPLACE: any previous incarnation's metadata restarts.
    // REPLACE is deliberately NOT crash-atomic — data/ is shared
    // across versions, so overwriting it consumes the previous
    // incarnation regardless of metadata ordering; crash-safe
    // evolution of a committed table is mergeZoneMapped's staged CAS
    // path. What the ordering below DOES guarantee is fail-CLOSED
    // reads throughout the window: the `_current` pointer dies FIRST,
    // so a reader racing a replace (or arriving after a mid-replace
    // crash) gets the clean "no committed zone-map table" error, never
    // a committed-looking manifest whose files are being deleted
    // under it.
    val ptr = new java.io.File(dir, "_current")
    if (ptr.exists()) ptr.delete()
    val hist = new java.io.File(dir, "_zonemap_history")
    if (hist.exists()) Demo.recursiveDelete(hist)
    df.repartitionByRange(nFiles, col(statCol))
      .sortWithinPartitions(col(statCol))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/data")
    zoneStats(df.sparkSession, parquetParts(new java.io.File(dir, "data")), statCol,
        df.schema(statCol).dataType)
      .coalesce(1).write.parquet(s"$dir/_zonemap_history/v1")
    commitZoneMapVersion(dir, 1)
  }

  /** Committed manifest versions of a [[writeZoneMapped]] table, in
    * ascending order — v1 is the initial write, each retained merge
    * appends one, a non-retained merge leaves only the live version.
    * Staged-but-uncommitted manifest dirs (a writer crashed before
    * its pointer rename) are invisible here: only versions ≤ the
    * `_current` pointer are real. */
  def zoneMapVersions(dir: String): Seq[Int] = {
    if (!new java.io.File(dir, "_current").exists()) return Seq.empty
    val cur = zoneMapCurrentVersion(dir)
    val hist = new java.io.File(dir, "_zonemap_history")
    Option(hist.listFiles).getOrElse(Array.empty)
      .flatMap(f => f.getName.stripPrefix("v").toIntOption)
      .filter(_ <= cur)
      .sorted.toIndexedSeq
  }

  /** Time-travel read: the table EXACTLY as of manifest `version`.
    * The manifest IS the snapshot — a version pins its file set, so
    * reading an old version is just scanning the files its manifest
    * names (the Iceberg/Delta snapshot-isolation model: data files
    * are immutable, versions differ only in which files are
    * members). Requires the merges since then to have run with
    * `retainForTimeTravel = true`; [[vacuumZoneMapped]] reclaims. */
  def readZoneMapVersion(spark: SparkSession, dir: String, version: Int): DataFrame = {
    require(new java.io.File(dir, s"_zonemap_history/v$version").exists() &&
        version <= zoneMapCurrentVersion(dir),
      s"no committed manifest version v$version under $dir " +
      s"(have: ${zoneMapVersions(dir).mkString(", ")})")
    readFiles(spark, dir, filesIn(manifest(spark, dir, Seq(version))))
  }

  /** Reclaim storage: drop manifest versions older than `keepFrom`,
    * delete data files referenced ONLY by them, and sweep ORPHANS —
    * data files no committed version references (the staging debris
    * of crashed writers, which the atomic commit makes harmless but
    * not free). The standard VACUUM trade — storage back, history
    * gone. Returns (manifestsDropped, dataFilesDeleted). Single-
    * writer model: with concurrent writers the orphan sweep would
    * need an age threshold so it cannot eat another writer's
    * in-flight staging (Iceberg's remove-orphan-files caveat).
    *
    * Zero-row parts are never orphans: no manifest lists them (the
    * stats omit empty files), yet a table written from an empty frame
    * has nothing else carrying its schema for [[readFiles]].
    *
    * Crash ordering: the dropped manifest DIRS go first, the dead
    * data files second — a vacuum that dies mid-way then leaves
    * orphan data files (harmless, re-vacuumable) instead of
    * committed versions advertising files that are gone. */
  def vacuumZoneMapped(spark: SparkSession, dir: String, keepFrom: Int): (Int, Int) = {
    val cur = zoneMapCurrentVersion(dir)
    require(keepFrom <= cur, s"vacuum keepFrom=v$keepFrom would drop the live v$cur")
    val (drop, keep) = zoneMapVersions(dir).partition(_ < keepFrom)
    require(keep.nonEmpty, s"vacuum would drop every version under $dir")
    def filesOf(vs: Seq[Int]): Set[java.io.File] =
      if (vs.isEmpty) Set.empty else filesIn(manifest(spark, dir, vs)).map(fileOf).toSet
    val kept = filesOf(keep)
    val dropped = filesOf(drop)
    val dead = dropped -- kept
    val hconf = spark.sparkContext.hadoopConfiguration
    val orphans = (parquetParts(new java.io.File(dir, "data")).toSet -- kept -- dropped)
      .filter(recordCount(hconf, _) > 0)
    drop.foreach(v => Demo.recursiveDelete(new java.io.File(dir, s"_zonemap_history/v$v")))
    // crashed/conflicted merge attempts leave `_staging-*` manifest
    // dirs behind — uncommitted by construction, reclaim them too.
    // (Don't vacuum concurrently with an in-flight merge: its staging
    // dir would vanish and the merge fails at commit — retryably.)
    Option(new java.io.File(dir, "_zonemap_history").listFiles)
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("_staging-"))
      .foreach(Demo.recursiveDelete)
    // ...as do crashed merges' data-staging dirs under the table root
    // (files not yet moved into data/, referenced by no manifest)
    Option(new java.io.File(dir).listFiles)
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("_merge-tmp-"))
      .foreach(Demo.recursiveDelete)
    crashHook("vacuum:post-manifest-drop")
    (dead ++ orphans).foreach(_.delete())
    (drop.size, dead.size + orphans.size)
  }

  /** Range scan over a [[writeZoneMapped]] table: the manifest (nFiles
    * rows, driver-side) selects only files whose [min, max] intersects
    * [lo, hi]; the residual filter on the survivors keeps the result
    * EXACTLY equal to a full scan + filter (zone pruning is a file-set
    * optimization, never a semantics change — the same contract as the
    * DSv2 pushdowns). Empty survivor set → empty result with the
    * table's schema, no job. */
  def readZoneMapPruned(spark: SparkSession, dir: String,
                        statCol: String, lo: Any, hi: Any): DataFrame = {
    val kept = filesIn(zoneMapManifest(spark, dir)
      .filter(col("mx") >= lit(lo) && col("mn") <= lit(hi)))
    readFiles(spark, dir, kept).filter(col(statCol) >= lit(lo) && col(statCol) <= lit(hi))
  }

  /** Copy-on-write MERGE (upsert) into a [[writeZoneMapped]] table:
    * rows in `updates` REPLACE stored rows with the same `statCol`
    * key; unmatched update keys INSERT. Only the files whose zone
    * [mn, mx] intersects an update key are rewritten — the manifest
    * decides the touched set with a broadcast range join against the
    * DISTINCT update keys, so at 100 TB a point-heavy merge rewrites
    * a handful of files while the untouched thousands keep their
    * bytes AND their manifest rows. The stats pass for the manifest
    * delta scans ONLY the newly written files (merge-sized, not
    * table-sized).
    *
    * Returns (filesRewritten, filesTotalBefore).
    *
    * COMMIT PROTOCOL (the Iceberg/Delta model, atomic AND optimistic):
    *   1. stage — append the rewritten+inserted data files (invisible:
    *      readers resolve file sets through manifests, never by
    *      listing `data/`), then write the new manifest to an
    *      attempt-unique `_zonemap_history/_staging-*` dir;
    *   2. commit — a compare-and-swap under the `_commit.lock` file
    *      lock ([[commitStagedZoneMapVersion]]): verify `_current`
    *      still names the snapshot this merge planned against, claim
    *      v{N+1} by renaming the staging dir, move the pointer. A
    *      concurrent merge that committed first makes this one throw
    *      [[ZoneMapConflictException]] — re-read and retry; without
    *      the check the loser would last-write-win a manifest that
    *      resurrects files the winner rewrote. A crash anywhere
    *      before the pointer rename leaves v{N} live and every byte
    *      it references intact (the staged files are orphans a
    *      vacuum can reclaim);
    *   3. clean — only AFTER the commit, and only when
    *      `retainForTimeTravel = false`: superseded manifest dirs go
    *      first, then the superseded data files, so a crash mid-clean
    *      leaves orphan files, never a committed version with missing
    *      files. With retention both survive for
    *      [[readZoneMapVersion]]; [[vacuumZoneMapped]] reclaims.
    *
    * Update keys must be non-null and UNIQUE within the batch, and
    * every merge checks both before touching the table. A null key
    * matches no zone and would silently become a permanent
    * insert-only row. The merge contract is REPLACE-by-key, and a
    * batch carrying two different values for one key has no
    * well-defined survivor — committing an arbitrary one would make
    * table content nondeterministic (the Delta-style
    * multiple-source-matches error). A caller whose upstream
    * produces redundant rows collapses the batch first, e.g.
    * `updates.dropDuplicates(statCol)`. */
  def mergeZoneMapped(spark: SparkSession, dir: String, statCol: String,
                      updates0: DataFrame, retainForTimeTravel: Boolean = false): (Int, Int) = {
    // Persisted for the merge's lifetime: the plan is otherwise
    // re-executed by the key checks, the touched-file probe, the
    // anti-join, and the rewrite union.
    val updates = updates0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // one pass for all admission stats: total rows, null keys and
    // distinct keys (count_distinct skips nulls, but the null check
    // fires first, so the dup check only ever sees a null-free batch)
    val adm = updates.agg(count(lit(1)), count(when(col(statCol).isNull, 1)),
      count_distinct(col(statCol))).collect()(0)
    val (nUpd, nNull, nKeys) = (adm.getLong(0), adm.getLong(1), adm.getLong(2))
    require(nNull == 0L, s"mergeZoneMapped: $nNull update row(s) carry a null '$statCol' key")
    require(nKeys == nUpd,
      s"mergeZoneMapped: update batch carries ${nUpd - nKeys} duplicate '$statCol' key(s) — " +
        "REPLACE-by-key has no defined survivor for an intra-batch duplicate; " +
        s"collapse the batch first, e.g. updates.dropDuplicates(\"$statCol\")")
    val curVersion = zoneMapCurrentVersion(dir)
    // any read failure below, when the table version has moved
    // meanwhile, IS a concurrency casualty (the winner deleted files
    // this merge's plans referenced) — classify it as the documented
    // retryable conflict instead of leaking the raw error. Runtime
    // (SparkException: FAILED_READ_FILE), plan-time
    // (AnalysisException: PATH_NOT_FOUND when a whole touched file
    // vanished before the read was even planned) and driver-side
    // (IOException: a manifest or footer gone mid-read) shapes occur.
    def classifyConflict[A](body: => A): A =
      try body catch {
        case e @ (_: org.apache.spark.SparkException |
                  _: org.apache.spark.sql.AnalysisException |
                  _: java.io.IOException) =>
          val now = try zoneMapCurrentVersion(dir) catch { case _: Exception => -1 }
          if (now != curVersion) throw new ZoneMapConflictException(dir, curVersion, now)
          else throw e
      }
    // the manifest of the version this merge planned against, read
    // once on the driver: a snapshot, so the two uses below cannot
    // race a concurrent winner's post-commit cleanup, and `touched`
    // and the staged manifest are pinned to the version the CAS
    // verifies. The read itself races that cleanup (the winner may
    // drop _zonemap_history/v{cur} mid-read), so it runs classified.
    val man = classifyConflict(manifest(spark, dir, Seq(curVersion)))
    val before = filesIn(man)
    if (nUpd == 0L) return (0, before.size)
    classifyConflict {
    val touched = updates.select(col(statCol).as("k")).distinct()
      .join(broadcast(man), col("k") >= col("mn") && col("k") <= col("mx"))
      .select("file").distinct().collect().map(_.getString(0)).toSet
    val keep =
      if (touched.isEmpty) {
        // the insert-only fast path never reads a stored file, so the
        // unionByName below cannot compare schemas the way the
        // touched path does — check the stored footers explicitly, or
        // a schema-divergent batch (disjoint key range, different
        // columns) would COMMIT silently and poison every later read
        // that mixes the files. mergeSchema makes the check
        // DETERMINISTIC over every committed file (a plain read
        // samples one arbitrary footer, so on a table that mixed
        // schemas before this guard existed, acceptance would depend
        // on which file got sampled) and fail-closed: any stored
        // field the batch lacks — or a stored int/long fork — surfaces
        // as a mismatch or a merge error instead of a silent commit.
        // Footer-only metadata cost, |before| small by construction.
        if (before.nonEmpty) {
          val stored = spark.read.option("mergeSchema", "true")
            .parquet(before.map(fileOf(_).getPath): _*).schema
          val a = stored.fields.map(f => (f.name, f.dataType)).toSet
          val b = updates.schema.fields.map(f => (f.name, f.dataType)).toSet
          require(a == b,
            s"mergeZoneMapped: update batch schema ${updates.schema.simpleString} " +
              s"does not match the stored table schema ${stored.simpleString} under $dir")
        }
        updates.limit(0)
      }
      else readFiles(spark, dir, touched.toSeq)
        .join(updates.select(col(statCol)).distinct(), Seq(statCol), "left_anti")
    // fresh = files this merge creates, identified DETERMINISTICALLY:
    // write to a merge-private staging dir, then move each part file
    // into data/ (parquet part names carry a write-UUID, so moves
    // never collide). A before/after listing DIFF of data/ would race
    // a concurrent merge — its freshly appended files would land in
    // the diff window and be absorbed into THIS merge's manifest,
    // committing the loser's rows alongside the winner's (duplicate
    // keys) despite the CAS. A crash between moves leaves orphan
    // files in data/ (never referenced by a committed manifest) and
    // possibly a _merge-tmp dir; vacuum reclaims both.
    val mergeTmp = new java.io.File(dir,
      s"_merge-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    keep.unionByName(updates)
      .repartitionByRange(math.max(1, touched.size), col(statCol))
      .sortWithinPartitions(col(statCol))
      .write.mode(SaveMode.Overwrite).parquet(mergeTmp.getPath)
    val dataDir = new java.io.File(dir, "data").getAbsoluteFile
    val fresh = parquetParts(mergeTmp).map { f =>
      val dest = new java.io.File(dataDir, f.getName)
      java.nio.file.Files.move(f.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      dest
    }
    Demo.recursiveDelete(mergeTmp)
    // manifest delta: stats from the NEW files only
    val freshStats = zoneStats(spark, fresh, statCol, updates.schema(statCol).dataType)
    // stage to an attempt-unique dir: two concurrent merges must
    // never overwrite each other's staged manifest — the commit CAS
    // below decides which one claims the version number
    val staged = new java.io.File(dir,
      s"_zonemap_history/_staging-${java.util.UUID.randomUUID().toString.take(8)}")
    man.filter(!col("file").isin(touched.toSeq: _*))
      .unionByName(freshStats)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(staged.getPath)
    crashHook("merge:pre-commit")
    val next = commitStagedZoneMapVersion(dir, curVersion, staged)
    crashHook("merge:post-commit")
    // clean: only after the commit, only when nothing else references
    // the superseded bytes. An insert-only merge (touched empty)
    // deletes no file, so prior snapshots stay valid and SURVIVE even
    // without retention; a destructive one drops manifest dirs first,
    // data files second (see protocol).
    if (!retainForTimeTravel && touched.nonEmpty) {
      (1 until next).foreach { v =>
        val d = new java.io.File(dir, s"_zonemap_history/v$v")
        if (d.exists()) Demo.recursiveDelete(d)
      }
      crashHook("merge:post-history-drop")
      touched.foreach(fileOf(_).delete())
    }
    (touched.size, before.size)
    }
    } finally updates.unpersist(blocking = false)
  }

  /** Snapshot diff (table-version compare): classify every key as
    * `added` / `removed` / `changed` between two versions of a table
    * with identical schemas, dropping unchanged keys. The CDC
    * primitive for lakehouse table maintenance — the output IS the
    * change feed an incremental consumer replays.
    *
    * Plan shape: ONE full-outer sort-merge join on the key columns —
    * each side shuffles once on the key (zero exchanges if both
    * snapshots were written bucketed on it, [[writeBucketed]]) — and
    * the value comparison is a null-safe column-wise predicate, no
    * row hashing, no second pass. At 100 TB this is the minimum
    * possible data movement for an unordered diff; the `unchanged`
    * drop happens before anything is materialized.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(oldDf.columns.sorted.sameElements(newDf.columns.sorted),
      s"snapshot schemas differ: ${oldDf.columns.mkString(",")} vs ${newDf.columns.mkString(",")}")
    keys.foreach(k => require(oldDf.columns.contains(k), s"missing key column '$k'"))
    val valCols = oldDf.columns.filterNot(keys.contains).toIndexedSeq
    // keys renamed per side and joined NULL-SAFELY (<=>): a plain
    // name-based equi-join never matches null keys, so an identical
    // null-key row present in both snapshots would surface as a
    // spurious added+removed pair — a CDC consumer replaying that
    // feed deletes and re-inserts a row that never changed. <=> is
    // still an equi-join key to the planner (hash/merge joinable).
    val o = oldDf.select(keys.map(k => col(k).as(s"__o_k_$k"))
      ++ valCols.map(c => col(c).as(s"__o_$c")) :+ lit(true).as("__in_old"): _*)
    val n = newDf.select(keys.map(k => col(k).as(s"__n_k_$k"))
      ++ valCols.map(c => col(c).as(s"__n_$c")) :+ lit(true).as("__in_new"): _*)
    val changed = valCols.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val joinCond = keys.map(k => col(s"__o_k_$k") <=> col(s"__n_k_$k")).reduce(_ && _)
    o.join(n, joinCond, "full_outer")
      .select(keys.map(k => coalesce(col(s"__o_k_$k"), col(s"__n_k_$k")).as(k))
        :+ when(col("__in_old").isNull, lit("added"))
        .when(col("__in_new").isNull, lit("removed"))
        .when(changed, lit("changed"))
        .otherwise(lit("unchanged")).as("change_type"): _*)
      .filter(col("change_type") =!= "unchanged")
  }

  /** Partial-aggregate STATE for (count, exact decimal sum) per
    * group — the algebraic building block of incremental view
    * maintenance: states from disjoint slices of a table merge by
    * addition into the state of their union, so a materialized
    * aggregate absorbs a delta batch by merging delta state instead
    * of recomputing over the full history. Decimal accumulation
    * keeps the merged sum bit-identical to the full recompute (and
    * order/partitioning-independent — the moneySum contract). */
  def aggState(df: DataFrame, groupCols: Seq[String], valueCol: String,
               scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // fail-loud on poison values, BY DESIGN (the moneySum convention):
    // a NaN/Infinity (or |value| ≥ 1e16) in valueCol aborts the job
    // via the ANSI double→Decimal cast rather than silently skewing a
    // materialized aggregate. A pipeline that prefers to quarantine
    // filters with Validate.finiteSample upstream.
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
           sum(round(col(valueCol), scale).cast(DecimalType(18, scale))).as("val_dec"))
  }

  /** Merge [[aggState]] frames (base ∪ deltas) into the state of the
    * combined data: one small shuffle over GROUPS (not rows). The
    * output is ITSELF an aggState — (groups, n, val_dec) — so states
    * are CLOSED under merging, which is the whole point of the IVM
    * loop: a materialized base state absorbs the next cycle's delta
    * state by another merge (a double cast here would make round 2
    * of the loop a schema mismatch and silently surrender the
    * exact-decimal guarantee). Cast to a presentation value at the
    * edge with [[finishAggState]]. */
  def mergeAggStates(states: Seq[DataFrame], groupCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeAggStates needs at least one state")
    states.reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("val_dec")).as("val_dec"))
  }

  /** Presentation finisher for an [[aggState]]: the exact decimal sum
    * becomes a double `value_sum`. Terminal — the result is no longer
    * mergeable state. */
  def finishAggState(state: DataFrame): DataFrame =
    state.withColumn("value_sum", col("val_dec").cast("double")).drop("val_dec")

  /** Small-file compaction (OPTIMIZE): rewrite a parquet directory
    * into ⌈rows / targetFileRows⌉ files, content-preserved. The
    * anti-small-files pass every streaming/merge-heavy 100 TB table
    * needs — thousands of KB-sized files turn scans into metadata
    * storms (one open + footer read each) and kill split planning.
    * Round-robin repartition (not coalesce) so output files are
    * even-sized regardless of input skew.
    *
    * One data pass, not two: the row count that sizes the output
    * comes from the parquet FOOTERS (driver-side metadata reads —
    * the same information a manifest system carries), so the data is
    * read exactly once, by the rewrite itself. The swap is two
    * directory renames (old aside → new in → delete old): a reader
    * in the window between them fails fast on a missing directory
    * rather than silently seeing both copies at once (fail-closed; a
    * manifest-committed table closes even that window with the
    * atomic `_current` pointer — see [[mergeZoneMapped]]'s commit
    * protocol — but a plain parquet directory has no manifest to
    * point at).
    * Returns (filesBefore, filesAfter). */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                   targetFileRows: Long): (Int, Int) = {
    require(targetFileRows >= 1, s"need targetFileRows >= 1, got $targetFileRows")
    val dirFile = new java.io.File(dir)
    val old = new java.io.File(dirFile.getParentFile, dirFile.getName + "__old")
    // crash recovery: a previous run that died between the two swap
    // renames left the data at __old and no live dir — restore it
    // before doing anything else (see swap comment below)
    if (!dirFile.exists() && old.exists())
      require(old.renameTo(dirFile), s"compactFiles: crash recovery rename failed for $dir")
    // a manifest-committed table's data/ directory passes the foreign
    // check below (only parquet inside) but MUST NOT be compacted:
    // the rewrite renames every file and strands the committed
    // manifest's URIs, breaking all subsequent pruned/versioned reads.
    // Detect the sibling metadata and refuse loudly.
    val parentMeta = Option(dirFile.getParentFile)
      .map(p => new java.io.File(p, "_zonemap_history"))
    require(!parentMeta.exists(_.exists()),
      s"$dir is the data directory of a manifest-committed zone-map table; " +
        "compacting it would rename files out from under the committed manifest. " +
        "Rebuild the table at the target file count with writeZoneMapped (or evolve " +
        "it through mergeZoneMapped, whose COW rewrite re-manifests) instead")
    // the whole-directory swap REPLACES dir: refuse if it holds
    // anything beyond parquet + write-marker files (e.g. a zone-map
    // manifest subdir) — a caller compacting a table ROOT would
    // silently lose that content otherwise
    val foreign = Option(dirFile.listFiles).getOrElse(Array.empty).filterNot(f =>
      (f.isFile && (f.getName.endsWith(".parquet") || f.getName.startsWith("_")
        || f.getName.startsWith("."))))
    require(foreign.isEmpty,
      s"compactFiles compacts plain parquet directories only; $dir contains " +
        s"${foreign.map(_.getName).mkString(", ")}")
    val before = parquetParts(dirFile)
    // nothing to compact (e.g. a sink dir holding only marker files):
    // a no-op, not a schema-inference failure from reading zero files
    if (before.isEmpty) return (0, 0)
    val hconf = spark.sparkContext.hadoopConfiguration
    // footers in parallel: a many-small-files dir is exactly the case
    // where a serial driver loop over file opens becomes the wall; the
    // sum is order-independent
    val nRows = java.util.Arrays.stream(before.toArray).parallel()
      .mapToLong(recordCount(hconf, _)).sum
    val nOut = math.max(1L, (nRows + targetFileRows - 1) / targetFileRows).toInt
    val tmp = new java.io.File(dirFile.getParentFile, dirFile.getName + "__compacting")
    spark.read.parquet(dir)
      .repartition(nOut).write.mode(SaveMode.Overwrite).parquet(tmp.getPath)
    val nAfter = parquetParts(tmp).length
    // swap: dir aside, compacted in, old deleted. A crash between the
    // renames leaves no live dir — the recovery block above restores
    // __old on the next invocation (and a reader meanwhile fails fast
    // on a missing path rather than silently double-reading)
    if (old.exists()) Demo.recursiveDelete(old)
    require(dirFile.renameTo(old), s"compactFiles: could not move $dir aside")
    require(tmp.renameTo(dirFile), s"compactFiles: could not move compacted dir into $dir")
    Demo.recursiveDelete(old)
    (before.length, nAfter)
  }

  /** Skew-salted equi-join that preserves inner-join semantics
    * exactly: the big (skewed) side gets a deterministic salt in
    * [0, n) per row; the small side is exploded n× so every
    * (key, salt) replica exists. One degenerate hot key is thereby
    * spread over n reducers. AQE's skew split handles moderate skew
    * automatically — explicit salting is for the pathological keys
    * you know about (LSH buckets, null-ish defaults, celebrity
    * users). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, nSalts: Int): DataFrame = {
    // fail fast: nSalts = 0 makes pmod(h, 0) null on the big side
    // (null never equi-joins) and sequence(0, -1) on the small side
    // — a silently EMPTY join instead of an error
    require(nSalts >= 1, s"need nSalts >= 1, got $nSalts")
    // salt from the row's POSITION, not its content: a
    // content hash (xxhash64 of all columns) gives every byte-
    // identical duplicate of the hot key the SAME salt, so the exact
    // degenerate case this function exists for — millions of
    // identical rows on one key — stayed on one reducer. The
    // monotonic id spreads consecutive rows round-robin across salts
    // regardless of content; the salt routes rows but never changes
    // the join result, so layout-dependence is harmless.
    val salted = big.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(nSalts.toLong)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
