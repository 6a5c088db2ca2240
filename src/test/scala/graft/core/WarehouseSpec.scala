package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-layout helpers: bucketed joins must plan without shuffle
  * exchanges; salted joins must preserve results exactly.
  */
class WarehouseSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobsIn[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.TestBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.sql.graft.TestBridge.drainListenerBus(spark)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bucketed fact-fact join plans with zero shuffle exchanges") {
    val d = "/root/testdata/sf0.001"
    Warehouse.writeBucketed(Tables.lineitem(spark, d), "li_b", "l_orderkey", 8)
    Warehouse.writeBucketed(
      Tables.orders(spark, d).withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_b", "l_orderkey", 8)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
      val n = joined.count()
      assert(n > 0)
      val exchanges = collectWithSubqueries(joined.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"expected no shuffle, found ${exchanges.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("zValue interleaves bits; z-ordered layout clusters 2-D range queries into few files") {
    // closed-form interleave: x=0b11, y=0b00 -> 0b0101; x=0b00, y=0b11 -> 0b1010
    val z = Seq((3L, 0L), (0L, 3L), (3L, 3L)).toDF("x", "y")
      .select(Warehouse.zValue(col("x"), col("y"), 4).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(z == Seq(5L, 10L, 15L))

    // 2-D grid: 64x64 points, one row per cell — a query box of 1/8th
    // of each dimension selects ~1.5% of rows
    val grid = (0 until 64).flatMap(a => (0 until 64).map(b => (a.toLong, b.toLong, a * 64L + b)))
      .toDF("a", "b", "id")
    val dirZ = java.nio.file.Files.createTempDirectory("graft-z").toString + "/t"
    val dirL = java.nio.file.Files.createTempDirectory("graft-l").toString + "/t"
    Warehouse.writeZOrdered(grid, dirZ, "a", "b", nFiles = 16, bits = 6)
    grid.repartition(16).write.parquet(dirL) // unclustered baseline
    def touched(dir: String): Long = spark.read.parquet(dir)
      .filter(col("a").between(8, 15) && col("b").between(8, 15))
      .select(input_file_name()).distinct().count()
    val (zFiles, lFiles) = (touched(dirZ), touched(dirL))
    assert(zFiles < lFiles,
      s"z-order must concentrate the query box: $zFiles vs $lFiles files")
    assert(zFiles <= 2, s"an aligned 8x8 box spans few z-runs, got $zFiles files")
    // layout must not change content
    assert(spark.read.parquet(dirZ).agg(sum("id"), count(lit(1))).collect().toSeq ==
           grid.agg(sum("id"), count(lit(1))).collect().toSeq)

    // and on NON-grid data (random doubles incl. negatives): content
    // conserved row-for-row, not just in aggregate
    val rnd = new scala.util.Random(5)
    val rand = (1 to 2000).map(i =>
      (i.toLong, rnd.nextDouble() * 200 - 100, rnd.nextDouble() * 50 - 25))
      .toDF("id", "a", "b")
    val dirR = java.nio.file.Files.createTempDirectory("graft-zr").toString + "/t"
    Warehouse.writeZOrdered(rand, dirR, "a", "b", nFiles = 8)
    assert(spark.read.parquet(dirR).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet ==
      rand.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet)
  }

  test("z-order layout survives non-finite values: stats from finite rows only") {
    // one NaN in each dimension — pre-guard, max() returned NaN, every
    // rank collapsed to a constant, and repartitionByRange put ALL
    // rows in one file (single-column or no clustering shipped under
    // a z-order label)
    val rnd = new scala.util.Random(7)
    val base = (1 to 2000).map(i =>
      (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
    val rows = (base :+ ((2001L, Double.NaN, 5.0)) :+ ((2002L, 5.0, Double.NaN)))
      .toDF("id", "a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-znan").toString + "/t"
    Warehouse.writeZOrdered(rows, dir, "a", "b", nFiles = 8)
    val back = spark.read.parquet(dir)
    // content conserved, including the non-finite rows
    assert(back.count() == 2002L)
    assert(back.filter(isnan(col("a")) || isnan(col("b"))).count() == 2L)
    // the layout is still clustered: rows spread over multiple files
    // (a poisoned constant z-value would range-partition into one)
    val nonEmpty = back.select(input_file_name()).distinct().count()
    assert(nonEmpty >= 4, s"NaN poisoned the z-ranks: $nonEmpty non-empty files")
    // and a 2-D box still prunes to a file subset
    val touched = back.filter(col("a").between(10, 30) && col("b").between(10, 30))
      .select(input_file_name()).distinct().count()
    assert(touched < nonEmpty, s"box touched all $nonEmpty files")
  }

  test("merge rejects intra-batch duplicate keys; a collapsed batch commits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mgdup").toString + "/t"
    Warehouse.writeZoneMapped((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, "k", 4)
    // a CDC batch carrying the same key twice (two DIFFERENT values)
    // has no defined survivor — the default contract fails loudly
    // instead of committing nondeterministic content
    val dup = Seq((50L, "X"), (50L, "Y"), (200L, "I"), (200L, "J")).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      Warehouse.mergeZoneMapped(spark, dir, "k", dup))
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    assert(Warehouse.zoneMapCurrentVersion(dir) == 1, "failed merge must not commit")
    // the caller collapses the batch: one (unspecified) row per key survives
    Warehouse.mergeZoneMapped(spark, dir, "k", dup.dropDuplicates("k"))
    val got = spark.read.parquet(s"$dir/data").groupBy("k").count()
      .filter(col("count") > 1).count()
    assert(got == 0L, "duplicate keys committed by a duplicated update batch")
    val all = spark.read.parquet(s"$dir/data").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all.size == 101 && Set("X", "Y").contains(all(50L)) &&
      Set("I", "J").contains(all(200L)))
    Warehouse.mergeZoneMapped(spark, dir, "k",
      Seq((50L, "Z"), (300L, "N")).toDF("k", "v"))
    val after = spark.read.parquet(s"$dir/data").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.size == 102 && after(50L) == "Z" && after(300L) == "N")
    // ...and the null-key check runs on every merge
    val eNull = intercept[IllegalArgumentException](
      Warehouse.mergeZoneMapped(spark, dir, "k",
        Seq((java.lang.Long.valueOf(1L), "a"),
          (null.asInstanceOf[java.lang.Long], "b")).toDF("k", "v")))
    assert(eNull.getMessage.contains("null"), eNull.getMessage)
  }

  test("insert-only merge rejects a schema-divergent batch instead of committing it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mgschema").toString + "/t"
    Warehouse.writeZoneMapped((1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, "k", 4)
    // keys entirely OUTSIDE every zone range → touched is empty → the
    // fast path never reads a stored file, so unionByName could not
    // catch the wrong columns; the explicit footer check must
    val divergent = Seq((500L, 1.5), (600L, 2.5)).toDF("k", "w")
    val e = intercept[IllegalArgumentException](
      Warehouse.mergeZoneMapped(spark, dir, "k", divergent))
    assert(e.getMessage.contains("schema"), e.getMessage)
    assert(Warehouse.zoneMapCurrentVersion(dir) == 1, "failed merge must not commit")
    // matching schema on the same insert-only path still commits
    Warehouse.mergeZoneMapped(spark, dir, "k", Seq((500L, "x")).toDF("k", "v"))
    assert(spark.read.parquet(s"$dir/data").count() == 51L)
  }

  test("writeBucketed cleans the stale location of the CURRENT database, not default's") {
    val d = "/root/testdata/sf0.001"
    spark.sql("CREATE DATABASE IF NOT EXISTS wbdb")
    spark.sql("USE wbdb")
    try {
      // simulate the fresh-catalog survivor: a stale non-empty
      // directory at the table's REAL location (warehouse/wbdb.db/
      // nat_b) with no catalog entry. A cleanup that computed
      // warehouse/<table> (ignoring the current database) missed it
      // and saveAsTable failed with "location is not empty"
      val wh = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      val stale = new java.io.File(new java.io.File(wh, "wbdb.db"), "nat_b")
      stale.mkdirs()
      val junk = new java.io.File(stale, "stale-part.parquet")
      java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
      Warehouse.writeBucketed(Tables.nation(spark, d), "nat_b", "n_nationkey", 4)
      assert(spark.table("nat_b").count() == Tables.nation(spark, d).count())
      assert(!junk.exists(), "the stale file must have been cleaned, not absorbed")
    } finally {
      spark.sql("USE default")
      spark.sql("DROP DATABASE IF EXISTS wbdb CASCADE")
    }
  }

  test("appendBucketed: appends preserve the spec; first-use against an orphaned location names the recovery") {
    import spark.implicits._
    // the append path: seed + two appends accumulate, still a catalog
    // bucketed table
    spark.sql("DROP TABLE IF EXISTS app_b")
    Warehouse.writeBucketed(Seq((1L, 10L)).toDF("band", "bkey"), "app_b",
      Seq("band", "bkey"), 4)
    Warehouse.appendBucketed(Seq((2L, 20L)).toDF("band", "bkey"), "app_b",
      Seq("band", "bkey"), 4)
    Warehouse.appendBucketed(Seq((3L, 30L)).toDF("band", "bkey"), "app_b",
      Seq("band", "bkey"), 4)
    assert(spark.table("app_b").count() == 3)
    spark.sql("DROP TABLE app_b")
    // orphaned survivor (fresh catalog, persisted warehouse dir): the
    // create path would CTAS into the non-empty location with Spark's
    // opaque error — and deleting would destroy data an APPEND caller
    // wants kept; the named failure explains the recovery instead
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val orphan = new java.io.File(wh, "orph_b")
    orphan.mkdirs()
    val part = new java.io.File(orphan, "old-part.parquet")
    java.nio.file.Files.write(part.toPath, Array[Byte](1, 2, 3))
    try {
      val e = intercept[IllegalArgumentException] {
        Warehouse.appendBucketed(Seq((1L, 10L)).toDF("band", "bkey"), "orph_b",
          Seq("band", "bkey"), 4)
      }
      assert(e.getMessage.contains("survives from a previous session"),
        s"expected the orphaned-location recovery message, got: ${e.getMessage}")
      assert(part.exists(), "the surviving store must NOT be deleted")
    } finally {
      part.delete(); orphan.delete()
    }
  }

  test("compactFiles on a directory with zero parquet files is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cmp0").toString + "/t"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "_SUCCESS").toPath, Array.empty[Byte])
    assert(Warehouse.compactFiles(spark, dir, 1000L) == ((0, 0)))
    assert(new java.io.File(dir, "_SUCCESS").exists, "no-op must not disturb the dir")
  }

  test("cross-process OCC: two JVMs contending on one table, no corruption in 10 rounds") {
    // the same-JVM test below never reaches the advisory _commit.lock
    // FILE lock (threads serialize on the per-table monitor first);
    // this one exercises the lock's actual purpose: a SECOND JVM
    // contending on the same table directory. Per round, both
    // processes start a merge near-simultaneously from the same
    // snapshot; each retries on ZoneMapConflictException. Asserted:
    // the child saw no OTHER exception type (exit 0), every commit
    // landed (final version = 1 + 20), content is exact, and the
    // contention was real (>= 1 conflict across 10 overlapped rounds).
    val rounds = 10
    val dir = java.nio.file.Files.createTempDirectory("graft-occ").toString + "/t"
    val sync = java.nio.file.Files.createTempDirectory("graft-occ-sync").toString
    Warehouse.writeZoneMapped((1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, "k", 4)
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(m => Seq("--add-opens", s"java.base/$m=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq("-Xmx4g", "-cp",
      sys.props("java.class.path"), "graft.core.OccChild",
      dir, sync, rounds.toString)).toArray
    val child = new ProcessBuilder(cmd: _*)
      .redirectOutput(new java.io.File(sync, "child_stdout"))
      .redirectErrorStream(true).start()
    try {
      val ready = new java.io.File(sync, "child_ready")
      val readyBy = System.nanoTime() + 120L * 1000000000L
      while (!ready.exists() && child.isAlive && System.nanoTime() < readyBy)
        Thread.sleep(50)
      assert(ready.exists(), "child session never came up; see child_stdout")
      var parentConflicts = 0
      (1 to rounds).foreach { i =>
        java.nio.file.Files.write(
          new java.io.File(sync, s"go_$i").toPath, Array.empty[Byte])
        val upd = (1L to 1000L).filter(_ % 100 == i).map(k => (k, s"P$i")).toDF("k", "v")
        var done = false
        var attempts = 0
        while (!done) {
          try { Warehouse.mergeZoneMapped(spark, dir, "k", upd); done = true }
          catch {
            case _: Warehouse.ZoneMapConflictException =>
              parentConflicts += 1; attempts += 1
              assert(attempts <= 50, s"round $i: parent live-locked")
          }
        }
        val childDone = new java.io.File(sync, s"child_done_$i")
        val doneBy = System.nanoTime() + 120L * 1000000000L
        while (!childDone.exists() && child.isAlive && System.nanoTime() < doneBy)
          Thread.sleep(20)
        assert(childDone.exists(), s"round $i: child never finished; see child_log")
      }
      assert(child.waitFor(60, java.util.concurrent.TimeUnit.SECONDS),
        "child did not exit")
      val childLog = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(sync, "child_log").toPath), "UTF-8")
      assert(child.exitValue() == 0,
        s"child saw a non-conflict failure:\n$childLog")
      // every one of the 20 merges committed exactly once
      assert(Warehouse.zoneMapCurrentVersion(dir) == 1 + 2 * rounds,
        s"expected v${1 + 2 * rounds}; child log:\n$childLog")
      // exact content THROUGH THE MANIFEST: the raw data/ dir legally
      // holds orphan part files from conflicted attempts (a loser's
      // staged parts are already moved when its CAS fails — harmless
      // because no committed manifest references them, reclaimed by
      // vacuum), so a raw-directory read would see stale duplicate
      // keys; the table view IS the manifest
      val cur = Warehouse.zoneMapCurrentVersion(dir)
      val rows = Warehouse.readZoneMapVersion(spark, dir, cur).collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(rows.length == 1000, s"row count ${rows.length}")
      val got = rows.toMap
      assert(got.size == 1000, "duplicate keys in the committed table")
      (1L to 1000L).foreach { k =>
        val want = (k % 100) match {
          case m if m >= 1 && m <= rounds => s"P$m"
          case m if m >= 51 && m <= 50 + rounds => s"C${m - 50}"
          case _ => s"v$k"
        }
        assert(got(k) == want, s"key $k: got ${got(k)}, want $want")
      }
      // manifest integrity: every live manifest row points at a file
      // that exists and the zone-pruned read still works
      val man = Warehouse.zoneMapManifest(spark, dir).collect()
      man.foreach { r =>
        val f = r.getAs[String]("file")
        val p = if (f.startsWith("file:")) new java.io.File(new java.net.URI(f))
                else new java.io.File(f)
        assert(p.exists(), s"manifest references a missing file: $f")
      }
      assert(man.map(_.getAs[Long]("n_rows")).sum == 1000L)
      // vacuum sweeps the conflict orphans; afterwards the raw
      // directory and the manifest view must coincide exactly
      Warehouse.vacuumZoneMapped(spark, dir, cur)
      val raw = spark.read.parquet(s"$dir/data").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(raw.length == 1000 && raw.toMap == got,
        s"post-vacuum raw dir diverges from the manifest view (${raw.length} rows)")
      val childConflicts = "after (\\d+) conflicts".r
        .findAllMatchIn(childLog).map(_.group(1).toInt).sum
      assert(parentConflicts + childConflicts >= 1,
        "10 simultaneous rounds produced zero conflicts — the processes never overlapped")
    } finally if (child.isAlive) child.destroyForcibly()
  }

  test("same-JVM concurrent merges serialize: loser gets ZoneMapConflictException") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mgthr").toString + "/t"
    Warehouse.writeZoneMapped((1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, "k", 4)
    val updA = (1L to 1000L).filter(_ % 100 == 0).map(k => (k, "A")).toDF("k", "v")
    val updB = (1L to 1000L).filter(_ % 100 == 50).map(k => (k, "B")).toDF("k", "v")
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Int]]()
    def runner(upd: org.apache.spark.sql.DataFrame) = new Thread(() => {
      start.await()
      try {
        Warehouse.mergeZoneMapped(spark, dir, "k", upd)
        results.add(Right(Warehouse.zoneMapCurrentVersion(dir)))
      } catch { case t: Throwable => results.add(Left(t)) }
    })
    val (ta, tb) = (runner(updA), runner(updB))
    ta.start(); tb.start(); start.countDown(); ta.join(120000); tb.join(120000)
    val (losers, winners) = results.toArray(Array.empty[Either[Throwable, Int]])
      .partition(_.isLeft)
    assert(winners.length == 1 && losers.length == 1,
      s"exactly one of two same-snapshot merges must commit, got $winners / $losers")
    // the loser sees the documented conflict type — never the
    // undocumented OverlappingFileLockException the raw file lock
    // throws for same-JVM contention
    losers.head.left.foreach(t =>
      assert(t.isInstanceOf[Warehouse.ZoneMapConflictException],
        s"loser threw ${t.getClass.getName}: ${t.getMessage}"))
    // the winner's table is consistent: 1000 rows, no duplicate keys,
    // and no absorption of the loser's files into the manifest
    val live = Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 1000L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live.size == 1000, s"committed table has ${live.size} keys")
    val winnerMark = if (live(100L) == "A") "A" else "B"
    if (winnerMark == "A") assert(live(50L) == "v50", "loser's rows leaked into the commit")
    else assert(live(100L) == "v100", "loser's rows leaked into the commit")
  }

  test("zone-map manifest prunes the file set; result equals full filter") {
    val rows = (0 until 4000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-zm").toString + "/t"
    Warehouse.writeZoneMapped(rows, dir, "k", nFiles = 16)
    // manifest: 16 files, disjoint sorted ranges covering 0..3999
    val manifest = Warehouse.zoneMapManifest(spark, dir)
      .collect().map(r => (r.getAs[Long]("mn"), r.getAs[Long]("mx"), r.getAs[Long]("n_rows")))
    assert(manifest.length == 16 && manifest.map(_._3).sum == 4000L)
    // a narrow range must touch few files and return exactly the filter
    val pruned = Warehouse.readZoneMapPruned(spark, dir, "k", 1000L, 1099L)
    val touched = pruned.select(input_file_name()).distinct().count()
    assert(touched <= 2, s"100-row range over 16 sorted files, got $touched files")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == (1000L to 1099L))
    // out-of-range probe: no surviving files, empty result, schema kept
    val empty = Warehouse.readZoneMapPruned(spark, dir, "k", 100000L, 200000L)
    assert(empty.columns.toSeq == Seq("k", "v") && empty.count() == 0L)
  }

  test("COW merge: upsert semantics, bounded rewrite, manifest stays prune-consistent") {
    val rows = (0 until 4000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-mg").toString + "/t"
    Warehouse.writeZoneMapped(rows, dir, "k", nFiles = 16)
    // updates: replace a narrow key band + insert beyond the table's range
    val updates = ((1000 until 1100).map(i => (i.toLong, s"NEW$i")) ++
      (9000 until 9010).map(i => (i.toLong, s"INS$i"))).toDF("k", "v")
    val (rewritten, total) = Warehouse.mergeZoneMapped(spark, dir, "k", updates)
    assert(total == 16)
    assert(rewritten <= 2, s"narrow band over 16 sorted files rewrote $rewritten")
    // post-merge content == anti-join ∪ updates, row for row
    val got = spark.read.parquet(s"$dir/data")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = (0 until 4000).filterNot(i => i >= 1000 && i < 1100)
      .map(i => (i.toLong, s"v$i")).toSet ++
      (1000 until 1100).map(i => (i.toLong, s"NEW$i")) ++
      (9000 until 9010).map(i => (i.toLong, s"INS$i"))
    assert(got == expect)
    // the rebuilt manifest still prunes exactly
    val pruned = Warehouse.readZoneMapPruned(spark, dir, "k", 1050L, 1059L)
    assert(pruned.collect().map(_.getString(1)).sorted.toSeq ==
      (1050 to 1059).map(i => s"NEW$i"))
    val ins = Warehouse.readZoneMapPruned(spark, dir, "k", 9000L, 9999L)
    assert(ins.count() == 10L)
    // empty updates: no-op, nothing rewritten
    assert(Warehouse.mergeZoneMapped(spark, dir, "k", updates.limit(0))._1 == 0)
    // null keys refuse loudly
    val badUpd = Seq((null.asInstanceOf[java.lang.Long], "x")).toDF("k", "v")
      .select(col("k").cast("long").as("k"), col("v"))
    intercept[IllegalArgumentException](
      Warehouse.mergeZoneMapped(spark, dir, "k", badUpd))
  }

  test("time travel: retained merges version the manifest; vacuum reclaims") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_tt_spec").getPath
    val base = (1L to 2000L).map(k => (k, s"V$k")).toDF("k", "v")
    Warehouse.writeZoneMapped(base, dir, "k", 8)
    assert(Warehouse.zoneMapVersions(dir) == Seq(1))
    val upd1 = base.filter(col("k") % 100 === 0).withColumn("v", lit("UPD1"))
    Warehouse.mergeZoneMapped(spark, dir, "k", upd1, retainForTimeTravel = true)
    val upd2 = base.filter(col("k") % 101 === 0).withColumn("v", lit("UPD2"))
    Warehouse.mergeZoneMapped(spark, dir, "k", upd2, retainForTimeTravel = true)
    assert(Warehouse.zoneMapVersions(dir) == Seq(1, 2, 3))
    // v1 is the untouched original; v3 (current) carries both merges
    val v1 = Warehouse.readZoneMapVersion(spark, dir, 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1.size == 2000 && v1(100L) == "V100" && v1(101L) == "V101")
    val v3 = Warehouse.readZoneMapVersion(spark, dir, 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v3(100L) == "UPD1" && v3(202L) == "UPD2" && v3(1L) == "V1")
    // v2 sees merge 1 but not merge 2
    val v2 = Warehouse.readZoneMapVersion(spark, dir, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2(100L) == "UPD1" && v2(202L) == "V202")
    // vacuum to v2: v1 gone, current + v2 reads intact
    val (dropped, deleted) = Warehouse.vacuumZoneMapped(spark, dir, keepFrom = 2)
    assert(dropped == 1 && deleted > 0)
    assert(Warehouse.zoneMapVersions(dir) == Seq(2, 3))
    intercept[IllegalArgumentException](Warehouse.readZoneMapVersion(spark, dir, 1))
    assert(Warehouse.readZoneMapVersion(spark, dir, 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == v3)
    assert(Warehouse.readZoneMapVersion(spark, dir, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == v2)
    // vacuum must refuse to drop everything
    intercept[IllegalArgumentException](
      Warehouse.vacuumZoneMapped(spark, dir, keepFrom = 99))
  }

  test("a table written from an empty frame reads, vacuums and merges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString + "/t"
    Warehouse.writeZoneMapped(Seq.empty[(Long, String)].toDF("k", "v"), dir, "k", 4)
    assert(Warehouse.readZoneMapVersion(spark, dir, 1).count() == 0L)
    assert(Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 10L).count() == 0L)
    // the empty-set read takes its schema from a data/ footer: no job
    val (none, noneJobs) = jobsIn(Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 10L))
    assert(noneJobs == 0 && none.columns.toSeq == Seq("k", "v"), s"$noneJobs job(s)")
    // no manifest lists the zero-row part, yet it is the only file
    // carrying the table's schema: vacuum must not sweep it
    assert(Warehouse.vacuumZoneMapped(spark, dir, keepFrom = 1) == ((0, 0)))
    assert(Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 10L).count() == 0L)
    Warehouse.mergeZoneMapped(spark, dir, "k", Seq((5L, "a")).toDF("k", "v"))
    assert(Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 10L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((5L, "a")))
    assert(Warehouse.readZoneMapVersion(spark, dir, 2).count() == 1L)
  }

  test("manifest, pruned, versioned reads and vacuum launch no Spark job before the caller's action") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zm-jobs").toString + "/t"
    Warehouse.writeZoneMapped((0 until 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      dir, "k", nFiles = 8)
    Warehouse.mergeZoneMapped(spark, dir, "k",
      (100 until 110).map(i => (i.toLong, s"u$i")).toDF("k", "v"), retainForTimeTravel = true)
    val (man, manJobs) = jobsIn(Warehouse.zoneMapManifest(spark, dir))
    val (hit, hitJobs) = jobsIn(Warehouse.readZoneMapPruned(spark, dir, "k", 100L, 199L))
    val (miss, missJobs) = jobsIn(Warehouse.readZoneMapPruned(spark, dir, "k", 5000L, 6000L))
    val (v1, v1Jobs) = jobsIn(Warehouse.readZoneMapVersion(spark, dir, 1))
    assert((manJobs, hitJobs, missJobs, v1Jobs) == ((0, 0, 0, 0)),
      "(manifest, pruned hit, pruned miss, version) jobs")
    // the manifest frame is local: collecting it runs no job either
    val (manRows, collectJobs) = jobsIn(man.collect())
    assert(collectJobs == 0 && manRows.map(_.getAs[Long]("n_rows")).sum == 2000L)
    // the caller's own action is where the jobs are (so the counts
    // above are not a deaf listener), and it reads the same rows
    val (hitRows, actionJobs) = jobsIn(hit.collect())
    assert(actionJobs > 0)
    assert(hitRows.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      (100 until 200).map(i => (i.toLong, if (i < 110) s"u$i" else s"v$i")))
    assert(miss.count() == 0L && miss.columns.toSeq == Seq("k", "v"))
    assert(v1.count() == 2000L && v1.filter(col("v").startsWith("u")).count() == 0L)
    val ((dropped, deleted), vacuumJobs) =
      jobsIn(Warehouse.vacuumZoneMapped(spark, dir, keepFrom = 2))
    assert(vacuumJobs == 0 && dropped == 1 && deleted > 0, s"$vacuumJobs job(s)")
    assert(Warehouse.readZoneMapVersion(spark, dir, 2).count() == 2000L)
  }

  test("driver-read manifests and footer-schema reads equal spark.read.parquet for every stat type") {
    // int/long stats come from footers, the other five from the scan
    // fallback, so every manifest column type goes through the reader
    val base = spark.range(0, 300).select(
      col("id").cast("int").as("i"), col("id").as("l"),
      format_string("s%05d", col("id")).as("s"), (col("id") / 7.0).as("d"),
      date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("dt"),
      timestamp_seconds(col("id") * 3601).as("ts"),
      (col("id") / 3).cast("decimal(12,3)").as("dec"),
      when(col("id") % 11 =!= 0, concat(lit("p"), col("id"))).as("payload"))
    Seq("i", "l", "s", "d", "dt", "ts", "dec").foreach { c =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-zm-type-$c").toString + "/t"
      Warehouse.writeZoneMapped(base, dir, c, nFiles = 4)
      val man = Warehouse.zoneMapManifest(spark, dir)
      val ref = spark.read.parquet(s"$dir/_zonemap_history/v1")
      assert(man.schema == ref.schema, s"$c: manifest schema")
      assert(man.schema("mn").dataType == base.schema(c).dataType, s"$c: stat type")
      assert(man.collect().sortBy(_.getString(0)).toSeq ==
        ref.collect().sortBy(_.getString(0)).toSeq, s"$c: manifest rows")
      val files = man.select("file").collect()
        .map(r => new java.io.File(new java.net.URI(r.getString(0))).getPath)
      val version = Warehouse.readZoneMapVersion(spark, dir, 1)
      val scan = spark.read.parquet(files.toIndexedSeq: _*)
      assert(version.schema == scan.schema, s"$c: data schema")
      assert(version.collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long]).toSeq ==
        scan.collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long]).toSeq, s"$c: data rows")
    }
  }

  test("non-retained merge drops history instead of advertising dead snapshots") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_tt_drop_spec").getPath
    val base = (1L to 500L).map(k => (k, s"V$k")).toDF("k", "v")
    Warehouse.writeZoneMapped(base, dir, "k", 4)
    assert(Warehouse.zoneMapVersions(dir) == Seq(1))
    // insert-only merge (keys beyond every zone): deletes no file, so
    // prior snapshots SURVIVE — only a destructive merge invalidates
    val ins = Seq((10001L, "NEW")).toDF("k", "v")
    Warehouse.mergeZoneMapped(spark, dir, "k", ins)
    assert(Warehouse.zoneMapVersions(dir) == Seq(1, 2))
    assert(Warehouse.readZoneMapVersion(spark, dir, 1).count() == 500)
    val upd = base.filter(col("k") % 50 === 0).withColumn("v", lit("UPD"))
    Warehouse.mergeZoneMapped(spark, dir, "k", upd) // default: no retention
    // v1/v2's files are gone, so only the live version remains listed
    assert(Warehouse.zoneMapVersions(dir) == Seq(3))
    intercept[IllegalArgumentException](Warehouse.readZoneMapVersion(spark, dir, 1))
    // the live table is intact
    val cur = Warehouse.readZoneMapVersion(spark, dir, 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur.size == 501 && cur(50L) == "UPD" && cur(1L) == "V1" && cur(10001L) == "NEW")
  }

  test("crash injection: a merge that dies before the pointer rename leaves the old version intact") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_crash_spec").getPath
    val base = (1L to 2000L).map(k => (k, s"V$k")).toDF("k", "v")
    Warehouse.writeZoneMapped(base, dir, "k", 8)
    val upd = base.filter(col("k") % 100 === 0).withColumn("v", lit("UPD"))
    // crash AFTER data append + manifest staging, BEFORE the commit rename
    Warehouse.crashHook = step => if (step == "merge:pre-commit") sys.error("injected crash")
    try intercept[RuntimeException](Warehouse.mergeZoneMapped(spark, dir, "k", upd))
    finally Warehouse.crashHook = _ => ()
    // the reader's world is untouched: v1 live, content exactly the base,
    // the staged-but-uncommitted v2 invisible
    assert(Warehouse.zoneMapCurrentVersion(dir) == 1)
    assert(Warehouse.zoneMapVersions(dir) == Seq(1))
    val seen = Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 2000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(seen.size == 2000 && seen(100L) == "V100")
    // retry succeeds: the staged manifest is overwritten, the commit lands
    val (rewritten, _) = Warehouse.mergeZoneMapped(spark, dir, "k", upd)
    assert(rewritten > 0)
    assert(Warehouse.zoneMapCurrentVersion(dir) == 2)
    val after = Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 2000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(100L) == "UPD" && after(1L) == "V1" && after.size == 2000)
    // vacuum sweeps the crashed attempt's orphaned data files
    val (_, deleted) = Warehouse.vacuumZoneMapped(spark, dir, keepFrom = 2)
    assert(deleted > 0, "expected the crashed attempt's staged files to be reclaimed")
    assert(Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 2000L).count() == 2000L)
  }

  test("crash injection: a merge that dies after the commit is already visible; cleanup debris is safe") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_crash2_spec").getPath
    val base = (1L to 1000L).map(k => (k, s"V$k")).toDF("k", "v")
    Warehouse.writeZoneMapped(base, dir, "k", 4)
    val upd = base.filter(col("k") % 100 === 0).withColumn("v", lit("UPD"))
    // crash AFTER the pointer rename, BEFORE any cleanup: the merge IS
    // committed — and the superseded v1 snapshot still reads (its
    // files die only in the cleanup that never ran)
    Warehouse.crashHook = step => if (step == "merge:post-commit") sys.error("injected crash")
    try intercept[RuntimeException](Warehouse.mergeZoneMapped(spark, dir, "k", upd))
    finally Warehouse.crashHook = _ => ()
    assert(Warehouse.zoneMapCurrentVersion(dir) == 2)
    val after = Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 1000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(100L) == "UPD" && after.size == 1000)
    assert(Warehouse.readZoneMapVersion(spark, dir, 1).count() == 1000L)
    // a crash between history-drop and file-delete leaves orphans,
    // never a committed version with missing files
    val upd2 = base.filter(col("k") % 101 === 0).withColumn("v", lit("UPD2"))
    Warehouse.crashHook = step => if (step == "merge:post-history-drop") sys.error("injected crash")
    try intercept[RuntimeException](Warehouse.mergeZoneMapped(spark, dir, "k", upd2))
    finally Warehouse.crashHook = _ => ()
    assert(Warehouse.zoneMapVersions(dir) == Seq(3))
    assert(Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 1000L).count() == 1000L)
    val (_, deleted) = Warehouse.vacuumZoneMapped(spark, dir, keepFrom = 3)
    assert(deleted > 0, "expected the un-deleted superseded files to be reclaimed as orphans")
    assert(Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 1000L).count() == 1000L)
  }

  test("optimistic concurrency: the losing concurrent merge detects the conflict") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_occ_spec").getPath
    val base = (1L to 1000L).map(k => (k, s"V$k")).toDF("k", "v")
    Warehouse.writeZoneMapped(base, dir, "k", 4)
    val updA = base.filter(col("k") % 100 === 0).withColumn("v", lit("A"))
    val updB = base.filter(col("k") % 100 === 50).withColumn("v", lit("B"))
    // interleave via the crash seam: while writer B sits between its
    // staging and its commit, writer A runs a COMPLETE merge from the
    // same v1 snapshot and commits v2. B's commit must then detect
    // the moved pointer and throw — not silently claim a version
    // whose manifest was built against A's superseded file set.
    Warehouse.crashHook = step => if (step == "merge:pre-commit") {
      Warehouse.crashHook = _ => () // A's nested merge runs clean
      Warehouse.mergeZoneMapped(spark, dir, "k", updA)
      ()
    }
    try {
      val ex = intercept[Warehouse.ZoneMapConflictException](
        Warehouse.mergeZoneMapped(spark, dir, "k", updB))
      assert(ex.getMessage.contains("v1") && ex.getMessage.contains("v2"),
        ex.getMessage)
    } finally Warehouse.crashHook = _ => ()
    // the live table is exactly A's committed result — B left no trace
    assert(Warehouse.zoneMapCurrentVersion(dir) == 2)
    assert(Warehouse.zoneMapVersions(dir) == Seq(2))
    val seen = Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 1000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(seen.size == 1000 && seen(100L) == "A" && seen(50L) == "V50")
    // B retried against the NEW snapshot succeeds and composes with A
    val (rewritten, _) = Warehouse.mergeZoneMapped(spark, dir, "k", updB)
    assert(rewritten > 0 && Warehouse.zoneMapCurrentVersion(dir) == 3)
    val after = Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 1000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(100L) == "A" && after(50L) == "B" && after.size == 1000)
    // vacuum reclaims B's aborted attempt: its orphaned data files
    // and any crashed staging dirs
    val (_, deleted) = Warehouse.vacuumZoneMapped(spark, dir, keepFrom = 3)
    assert(deleted > 0, "expected the conflicted attempt's files to be reclaimed")
    assert(Warehouse.readZoneMapPruned(spark, dir, "k", 1L, 1000L).count() == 1000L)
  }

  test("compactFiles refuses directories holding non-parquet content") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_compact_guard")
    val df = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    df.write.mode("overwrite").parquet(dir.getPath)
    new java.io.File(dir, "manifest").mkdir() // a subdir that must not be destroyed
    intercept[IllegalArgumentException](
      Warehouse.compactFiles(spark, dir.getPath, 50L))
    assert(new java.io.File(dir, "manifest").exists(), "foreign content must survive")
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "s", "v")
    val nxt = Seq((1L, "a", 10.0),            // unchanged -> dropped
                  (2L, "b", 99.0),            // changed (value)
                  (3L, "X", 30.0),            // changed (string)
                  (5L, "e", 50.0))            // added; 4 removed
      .toDF("k", "s", "v")
    val got = Warehouse.snapshotDiff(old, nxt, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "changed", 4L -> "removed", 5L -> "added"))
    // null-safe compare: null == null is unchanged, null vs value is changed
    val o2 = Seq((1L, Option.empty[String]), (2L, Option.empty[String])).toDF("k", "s")
    val n2 = Seq((1L, Option.empty[String]), (2L, Option("x"))).toDF("k", "s")
    val got2 = Warehouse.snapshotDiff(o2, n2, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == Map(2L -> "changed"))
    // schema mismatch refuses loudly
    intercept[IllegalArgumentException](
      Warehouse.snapshotDiff(old, old.drop("v"), Seq("k")))
    // NULL KEYS join null-safely (r12 review): an identical null-key
    // row in both snapshots is unchanged (dropped), not a spurious
    // added+removed pair; a changed null-key row classifies normally
    val o4 = Seq((Option(1L), "same"), (Option.empty[Long], "same"))
      .toDF("k", "s")
    val got3 = Warehouse.snapshotDiff(o4, o4, Seq("k"))
    assert(got3.count() == 0, "identical snapshots with a null key must diff empty")
    val got4 = Warehouse.snapshotDiff(
      Seq((Option.empty[Long], "was")).toDF("k", "s"),
      Seq((Option.empty[Long], "now")).toDF("k", "s"), Seq("k"))
      .collect().map(r => r.getString(1)).toSeq
    assert(got4 == Seq("changed"), s"null-key value change must classify as changed, got $got4")
  }

  test("aggState slices merge into the full-recompute state; states stay mergeable (IVM loop)") {
    val df = (1 to 1000).map(i => (s"g${i % 3}", i * 0.37)).toDF("g", "v")
    def finished(state: org.apache.spark.sql.DataFrame) =
      Warehouse.finishAggState(state)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val full = finished(Warehouse.mergeAggStates(
      Seq(Warehouse.aggState(df, Seq("g"), "v")), Seq("g")))
    // 3-way disjoint slicing by a different predicate than the group
    val slices = (0 to 2).map(m => Warehouse.aggState(
      df.filter(abs(hash(col("v"))) % 3 === m), Seq("g"), "v"))
    assert(finished(Warehouse.mergeAggStates(slices, Seq("g"))) == full)
    // CLOSED under merging — the IVM loop's round 2: a MERGED state
    // (base) absorbs a further delta state by another merge (the r12
    // review found the old value_sum cast broke exactly this)
    val base = Warehouse.mergeAggStates(slices.take(2), Seq("g"))
    val absorbed = Warehouse.mergeAggStates(Seq(base, slices(2)), Seq("g"))
    assert(finished(absorbed) == full) // decimal partials: bit-identical, not approx
  }

  test("compactFiles shrinks the file count, preserves content exactly") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_compact_spec").getPath
    val df = (1 to 5000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    df.repartition(32).write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
    val (nBefore, nAfter) = Warehouse.compactFiles(spark, dir, 2500L)
    assert(nBefore == 32 && nAfter == 2, s"got ($nBefore, $nAfter)")
    val after = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before)
  }

  test("footer-derived zone stats == scan-derived stats (nulls, merge delta, non-integral fallback)") {
    // integral key with nulls: the footer path must reproduce the
    // scan job's rows exactly — min/max skip nulls, an all-null file
    // carries null mn/mx, zero-row files are omitted
    val dir = java.nio.file.Files.createTempDirectory("graft_footerstats").toString
    val rows = (1 to 400).map { i =>
      (if (i % 7 == 0) None else Some(i.toLong * 3), s"v$i")
    }.toDF("k", "s")
    Warehouse.writeZoneMapped(rows, dir, "k", nFiles = 8)
    def scanStats(): Map[String, (Option[Long], Option[Long], Long)] =
      spark.read.parquet(s"$dir/data")
        .select(input_file_name().as("file"), col("k"))
        .groupBy("file")
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
             count(lit(1)).as("n_rows"))
        .collect()
        .map(r => r.getString(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))).toMap
    def manifest(): Map[String, (Option[Long], Option[Long], Long)] =
      Warehouse.zoneMapManifest(spark, dir).collect()
        .map(r => r.getString(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))).toMap
    assert(manifest() == scanStats(), "v1 manifest diverges from scan-derived stats")
    // the footer path must actually ENGAGE for an integral key (a
    // silent fallback to the scan job would make the equality above
    // vacuously true) and must refuse a non-integral one
    val dataFiles = Option(new java.io.File(s"$dir/data").listFiles).get
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toIndexedSeq
    assert(Warehouse.footerZoneStats(spark, dataFiles, "k",
      org.apache.spark.sql.types.LongType).isDefined,
      "footer stats did not engage for a bigint stat column")
    assert(Warehouse.footerZoneStats(spark, dataFiles, "s",
      org.apache.spark.sql.types.StringType).isEmpty,
      "footer stats must refuse a string stat column")
    // merge delta: the freshStats footer path must agree too
    val updates = (1 to 50).map(i => (Some(i.toLong * 3), s"u$i")).toDF("k", "s")
    Warehouse.mergeZoneMapped(spark, dir, "k", updates)
    assert(manifest() == scanStats(), "post-merge manifest diverges from scan-derived stats")
    // non-integral stat column: falls back to the scan job and the
    // committed manifest still prunes correctly end to end
    val dir2 = java.nio.file.Files.createTempDirectory("graft_footerstats2").toString
    val sRows = (1 to 100).map(i => (f"k$i%03d", i)).toDF("sk", "v")
    Warehouse.writeZoneMapped(sRows, dir2, "sk", nFiles = 4)
    val man2 = Warehouse.zoneMapManifest(spark, dir2).collect()
    assert(man2.map(_.getAs[Long]("n_rows")).sum == 100L)
    assert(man2.forall(r => r.getAs[String]("mn") <= r.getAs[String]("mx")))
    // a table dir with a SPACE (URI-hostile path): footer- and
    // scan-derived manifest rows must stay interchangeable — the file
    // strings are parsed as URIs by vacuum's pathOf and the merge
    // cleanup (r15 ADVICE: the raw "file://" + path concat produced
    // malformed URIs here). Equality vs the scan job pins the
    // encoding; the merge exercises the URI-parsing cleanup consumer.
    val dirSp = java.nio.file.Files.createTempDirectory("graft_footer sp").toString
    Warehouse.writeZoneMapped(rows, dirSp, "k", nFiles = 4)
    def scanStatsAt(d: String): Map[String, (Option[Long], Option[Long], Long)] =
      spark.read.parquet(s"$d/data")
        .select(input_file_name().as("file"), col("k"))
        .groupBy("file")
        .agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
             count(lit(1)).as("n_rows"))
        .collect()
        .map(r => r.getString(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))).toMap
    def manifestAt(d: String): Map[String, (Option[Long], Option[Long], Long)] =
      Warehouse.zoneMapManifest(spark, d).collect()
        .map(r => r.getString(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))).toMap
    assert(manifestAt(dirSp) == scanStatsAt(dirSp),
      "space-dir manifest diverges from scan-derived stats")
    // every manifest string must round-trip through the consumers'
    // parse (merge cleanup / vacuum do `new File(new URI(f))`)
    manifestAt(dirSp).keys.foreach { f =>
      assert(new java.io.File(new java.net.URI(f)).isFile, s"unparseable manifest URI $f")
    }
    Warehouse.mergeZoneMapped(spark, dirSp, "k",
      (1 to 30).map(i => (Some(i.toLong * 3), s"u$i")).toDF("k", "s"))
    assert(manifestAt(dirSp) == scanStatsAt(dirSp),
      "space-dir post-merge manifest diverges from scan-derived stats")
    // an EMPTY file list is a broken listing, never an empty manifest
    intercept[IllegalArgumentException] {
      Warehouse.footerZoneStats(spark, Seq.empty, "k",
        org.apache.spark.sql.types.LongType)
    }
  }

  test("salted join == plain join on skewed data") {
    // 90% of big-side rows hit one key — the salting target
    val big = (1 to 20000).map(i => (if (i % 10 == 0) i.toLong % 50 else 7L, i))
      .toDF("k", "payload")
    val small = (0L until 50L).map(k => (k, s"dim$k")).toDF("k", "name")

    val plain = big.join(small, "k")
    val salted = Warehouse.saltedJoin(big, small, "k", nSalts = 8)

    assert(salted.count() == plain.count())
    val a = plain.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = salted.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(salted.columns.toSet == plain.columns.toSet) // no salt leakage
    // nSalts = 0 would make pmod(h, 0) null-join to nothing — must
    // fail fast like every other validated knob in this file
    intercept[IllegalArgumentException] {
      Warehouse.saltedJoin(big, small, "k", nSalts = 0)
    }
  }
}
