package graft.core

import graft.SparkSpec
import graft.text.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Operator semantics on hand-built frames — the properties SURVEY.md
  * §5 flags as easy to get subtly wrong (last-per-group, baseline
  * diff, dedup idempotence) plus the text/similarity extension ops.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("lastPerGroup == imperative overwrite-loop semantics (op #29)") {
    // reference loop: for line in f: if match: fermi = ... (last wins)
    val events = Seq(
      (1L, 10L, "a", 1.0, 100L), (1L, 11L, "b", 2.0, 200L), (1L, 12L, "c", 3.0, 150L),
      (2L, 20L, "x", 9.0, 50L))
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Ops.lastPerGroup(events).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("event_type")).toMap
    // user 1: max ts = 200 → "b"; user 2 → "x"
    assert(got == Map(1L -> "b", 2L -> "x"))
  }

  test("baselineDiff subtracts the linenumber-1 row within each group (op #31)") {
    val li = Seq((1L, 1, 10.0), (1L, 2, 14.0), (1L, 3, 9.0), (2L, 1, 5.0))
      .toDF("l_orderkey", "l_linenumber", "l_quantity")
    val got = Ops.baselineDiff(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 4.0 && got((1L, 3L)) == -1.0 && got((2L, 1L)) == 0.0)
  }

  test("dedup is idempotent: dedup(dedup(df)) == dedup(df) (op #35)") {
    val df = Seq((1L, 1L), (1L, 1L), (2L, 3L)).toDF("l_partkey", "l_suppkey")
    val once = Ops.dedupDistinct(df)
    assert(once.count() == 2)
    assert(Ops.dedupDistinct(once).count() == once.count())
  }

  test("scrambleKey sample is deterministic across invocations (op #17)") {
    val orders = (1L to 500L).map(k => (k, k % 7)).toDF("o_orderkey", "o_custkey")
    val a = Ops.sampleN(orders, 50).collect().map(_.getLong(0)).toSeq
    val b = Ops.sampleN(orders, 50).collect().map(_.getLong(0)).toSeq
    assert(a == b && a.length == 50)
  }

  test("minhash LSH: identical token sets always pair; disjoint never do") {
    val docs = Seq(
      (1L, "spark window join filter"),
      (2L, "filter join window spark"),   // same token set, different order
      (3L, "completely different words entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical sets equal, near sets close in hamming distance") {
    val docs = Seq(
      (1L, "spark window join filter group"),
      (2L, "filter join window spark group"),
      (3L, "zq xv qqq ww eee rr"))
      .toDF("doc_id", "text")
    val h = Dedup.simhash(spark, docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    assert(h(1L) == h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) > 4)
  }

  test("cosine topk: nearest neighbor of a duplicated vector is its twin") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),  // duplicate of 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.7f, 0.7f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, nQueries = 1, k = 3).collect()
    val first = top.find(r => r.getAs[Long]("rk") == 1L).get
    assert(first.getAs[Long]("vec_id") == 1L)
    assert(first.getAs[Double]("sim") == 1.0)
  }

  test("bucketed ANN recall: duplicated vector lands in the same bucket") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.2f, -0.3f, 0.5f)),
      (1L, Array(1.0f, 0.2f, -0.3f, 0.5f)),
      (2L, Array(-1.0f, 0.9f, 0.1f, -0.8f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.cosineTopKBucketed(vecs, nQueries = 1, k = 2).collect()
    assert(top.exists(r => r.getAs[Long]("vec_id") == 1L && r.getAs[Double]("sim") == 1.0))
  }

  test("langId predicted column is total and deterministic") {
    val docs = Seq((1L, "the cat and the hat", "en"), (2L, "el la y de", "es"))
      .toDF("doc_id", "text", "lang")
    val got = TextOps.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted")).toMap
    assert(got(1L) == "en" && got(2L) == "es")
  }

  test("quality score stays in [0,1]") {
    val docs = Seq((1L, "a"), (2L, ("word " * 500).trim)).toDF("doc_id", "text")
    val qs = TextOps.qualityScore(docs).collect().map(_.getAs[Double]("quality"))
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("asofJoin == brute-force latest right <= left per user (equal ts matches)") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val got = Ops.asofJoin(events, "purchase", "click")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    // brute force on the driver
    val raw = events.select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val clicksByUser = raw.filter(_._4 == "click").groupBy(_._2)
    val truth = raw.filter(_._4 == "purchase").map { case (id, u, ts, _) =>
      val best = clicksByUser.getOrElse(u, Array.empty)
        .map(_._3).filter(_ <= ts).sorted.lastOption
      (id, u, ts / 1000, best.map(_ / 1000))
    }.toSet
    assert(got == truth)
    assert(truth.exists(_._4.isEmpty) || truth.nonEmpty) // sanity: non-trivial
  }

  test("asofJoin and rangeJoinCount match brute force on adversarial random corpora") {
    import scala.util.Random
    // heavy ts ties, tiny key space, empty-side cases — the edges the
    // real-events test can't hit
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new Random(seed)
      val n = 300
      val types = Seq("purchase", "click", "error")
      val rows = (0 until n).map { i =>
        // ts in NANOS (matching events.parquet), µs-aligned, from a
        // small pool so exact ties are common
        val tsUs = (rnd.nextInt(40) + 1).toLong * 60000000L
        (i.toLong, tsUs * 1000L, rnd.nextInt(5).toLong,
          types(rnd.nextInt(types.length)), 0.0, "{}")
      }
      val ev = spark.createDataFrame(rows).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

      val asofGot = Ops.asofJoin(ev, "purchase", "click").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      val clicks = rows.filter(_._4 == "click")
      rows.filter(_._4 == "purchase").foreach { case (id, ts, u, _, _, _) =>
        val best = clicks.filter(c => c._3 == u && c._2 <= ts).map(_._2 / 1000)
          .sorted.lastOption.getOrElse(-1L)
        assert(asofGot(id) == best, s"seed=$seed event=$id")
      }

      val w = 5L * 60000000L
      val rjGot = Ops.rangeJoinCount(ev, "error", "click", w).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      rows.filter(_._4 == "error").foreach { case (id, ts, _, _, _, _) =>
        val us = ts / 1000
        val cnt = clicks.count(c => { val cu = c._2 / 1000; cu >= us - w && cu <= us + w }).toLong
        assert(rjGot(id) == cnt, s"seed=$seed event=$id")
      }
    }
  }

  test("rangeJoinCount == brute-force window counts, no nested-loop join in plan") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val w = 300000000L // ±5 min in µs
    val df = Ops.rangeJoinCount(events, "error", "click", w)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = events.select("event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getString(2)))
    val clicks = raw.filter(_._3 == "click").map(_._2)
    val truth = raw.filter(_._3 == "error").map { case (id, us, _) =>
      id -> clicks.count(c => c >= us - w && c <= us + w).toLong
    }.toMap
    assert(got == truth)
    assert(truth.valuesIterator.exists(_ > 0), "test window must produce matches")
    // the grain bucketing must recover an equi-join: a nested-loop
    // plan here means the rewrite regressed to O(|L|*|R|)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("stratified sample: n per group in scramble order, heap-limited plan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Ops.sampleStratified(docs, "lang", "doc_id", 5)
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exactly min(5, |group|) per group, rk dense from 1
    val byLang = rows.groupBy(_._1)
    val sizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (lang, rs) =>
      assert(rs.length == math.min(5, sizes(lang).toInt))
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // reproducible: the per-group pick equals a driver-side sort
    val truth = docs.select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).toSeq.flatMap { case (lang, ks) =>
        ks.map(_._2).sortBy(k => ((k * 9973 + 12345) % 1000003, k)).take(5)
          .zipWithIndex.map { case (k, i) => (lang, k, i + 1L) }
      }.toSet
    assert(rows.toSet == truth)
    // plan: rank must be heap-limited per partition, not a full sort
    // of each stratum (WindowGroupLimit — O(n) memory per group)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("sessionize: gap boundary splits, exact-gap stays, totals conserved") {
    val gapUs = 1800L * 1000000L // 30 min
    def ns(us: Long) = us * 1000L
    // user 1: events at 0, exactly-gap, gap+1µs past that → the
    // exact-gap event extends session A; the +1 event opens B
    val events = Seq(
      (1L, 10L, ns(0L)), (1L, 11L, ns(gapUs)), (1L, 12L, ns(2 * gapUs + 1)),
      (2L, 20L, ns(5L)), (2L, 21L, ns(6L)))
      .toDF("user_id", "event_id", "ts")
    val got = Ops.sessionize(events, gapUs).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq"),
                 r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
                 r.getAs[Long]("end_us"), r.getAs[Long]("dur_us"))).toSet
    assert(got == Set(
      (1L, 1L, 2L, 0L, gapUs, gapUs),
      (1L, 2L, 1L, 2 * gapUs + 1, 2 * gapUs + 1, 0L),
      (2L, 1L, 2L, 5L, 6L, 1L)))
    // conservation: every event lands in exactly one session
    val total = Ops.sessionize(events, gapUs)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == 5L)
  }

  test("groupConcatTopN bounds members per group and is partitioning-invariant") {
    val df = (1L to 200L).map(i => (i, i % 7, (1000 - i).toDouble, s"name${"%03d".format(i)}"))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_name")
    def run(parts: Int) = Ops.groupConcatTopN(df.repartition(parts), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val a = run(1)
    assert(a == run(13), "member strings must not depend on partitioning")
    assert(a.forall(_._2 == 5L), "every group cuts to exactly top-5 here")
    // top-5 by acctbal desc = the 5 SMALLEST ids of each residue class,
    // members then sort lexicographically
    val expected = (0L until 7L).map { k =>
      val ids = (1L to 200L).filter(_ % 7 == k).sortBy(i => (-(1000 - i), i)).take(5)
      (k, 5L, ids.map(i => s"name${"%03d".format(i)}").sorted.mkString(","))
    }.toSet
    assert(a == expected)
  }

  test("funnel and cohortRetention match driver references on random streams") {
    val rnd = new scala.util.Random(23)
    val types = Array("signup", "click", "purchase", "view")
    val week = 7L * 86400L * 1000000L
    val win = 3L * 86400L * 1000000L
    val rows = (1 to 4000).map { i =>
      (rnd.nextInt(40).toLong, i.toLong,
       math.abs(rnd.nextLong() % (60L * 86400L * 1000000L)) * 1000L,
       types(rnd.nextInt(types.length)))
    }
    val df = rows.toDF("user_id", "event_id", "ts", "event_type")
      .withColumn("value", lit(0.0))

    // funnel reference
    val byUser = rows.groupBy(_._1)
    val fRef = byUser.flatMap { case (u, evs) =>
      def firstOf(t: String, after: Long, until: Long): Option[Long] =
        evs.filter(e => e._4 == t && e._3 / 1000 > after && e._3 / 1000 <= until)
          .map(_._3 / 1000).sorted.headOption
      evs.filter(_._4 == "signup").map(_._3 / 1000).sorted.headOption.map { t1 =>
        val t2 = firstOf("click", t1, t1 + win)
        val t3 = t2.flatMap(t => firstOf("purchase", t, t1 + win))
        (u, t1, t2, t3, 1L + t2.size + t3.size)
      }
    }.toSet
    val fGot = Ops.funnel(df, "signup", "click", "purchase", win).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("t1_us"),
        Option(r.getAs[java.lang.Long]("t2_us")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("t3_us")).map(_.toLong),
        r.getAs[Long]("steps"))).toSet
    assert(fGot == fRef)

    // cohort reference
    val cRef = byUser.toSeq.flatMap { case (u, evs) =>
      val weeks = evs.map(e => e._3 / 1000 / week).distinct
      val cohort = weeks.min
      weeks.map(w => (cohort, w - cohort))
    }.groupBy(identity).map { case ((c, o), xs) => (c, o, xs.size.toLong) }.toSet
    val cGot = Ops.cohortRetention(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cGot == cRef)
  }

  test("madOutliers flags only beyond k·MAD; timeWeightedAvg weights by interval length") {
    def ns(us: Long) = us * 1000L
    // group 'a': values 1..9 plus a wild 100 → med=5.5? (10 values:
    // 1..9,100 → interpolated med = 5.5, MAD = median(|x−5.5|) =
    // {4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,94.5} → 2.5+... compute:
    // sorted devs 0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,94.5 → med 2.5
    // threshold 7.5 → only 100 flags (|94.5| > 7.5)
    val events = (1 to 9).map(i => (i.toLong, "a", ns(i * 10), i.toDouble)) :+
      ((10L, "a", ns(100), 100.0))
    val flags = Ops.madOutliers(events.toDF("event_id", "event_type", "ts", "value"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags(10L), "the wild value must flag")
    assert((1L to 9L).forall(!flags(_)), "in-band values must not flag")

    // twa: value 10 held for 3s, then 20 for 1s → (10*3 + 20*1)/4 = 12.5
    val tw = Ops.timeWeightedAvg(Seq(
        (1L, 100L, ns(0), 10.0), (1L, 101L, ns(3000000), 20.0), (1L, 102L, ns(4000000), 99.0))
      .toDF("user_id", "event_id", "ts", "value")).collect()
    assert(tw.length == 1)
    assert(tw(0).getDouble(1) == 12.5 && tw(0).getLong(2) == 2L)
  }

  test("funnel: strict ordering, in-window chaining, stalls reported per step") {
    def ns(us: Long) = us * 1000L
    val week = 7L * 86400L * 1000000L
    val events = Seq(
      // user 1 completes: signup@10, click@20, purchase@30
      (1L, "signup", ns(10)), (1L, "click", ns(20)), (1L, "purchase", ns(30)),
      // user 2 stalls at click: purchase BEFORE the click doesn't count
      (2L, "signup", ns(10)), (2L, "purchase", ns(15)), (2L, "click", ns(20)),
      // user 3: click before signup -> never reaches step 2
      (3L, "click", ns(5)), (3L, "signup", ns(10)),
      // user 4: click outside the 7-day window
      (4L, "signup", ns(10)), (4L, "click", ns(10 + week + 1)),
      // user 5: no signup -> absent entirely
      (5L, "click", ns(10)))
      .toDF("user_id", "event_type", "ts")
    val got = Ops.funnel(events, "signup", "click", "purchase", week).collect()
      .map(r => r.getLong(0) -> ((Option(r.getAs[java.lang.Long]("t2_us")).map(_.toLong),
                                  Option(r.getAs[java.lang.Long]("t3_us")).map(_.toLong),
                                  r.getAs[Long]("steps")))).toMap
    assert(got(1L) == ((Some(20L), Some(30L), 3L)))
    assert(got(2L) == ((Some(20L), None, 2L)), "pre-click purchase must not complete the funnel")
    assert(got(3L) == ((None, None, 1L)))
    assert(got(4L) == ((None, None, 1L)), "out-of-window click must not count")
    assert(!got.contains(5L))
  }

  test("cohortRetention counts distinct users per (cohort week, offset)") {
    val week = 7L * 86400L * 1000000L
    def ns(w: Long, off: Long) = (w * week + off) * 1000L
    val events = Seq(
      (1L, ns(100, 5)), (1L, ns(100, 9)),   // two events same week -> one count
      (1L, ns(102, 0)),                     // active again at offset 2
      (2L, ns(100, 1)),                     // same cohort
      (3L, ns(101, 0)))                     // later cohort
      .toDF("user_id", "ts")
    val got = Ops.cohortRetention(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((100L, 0L, 2L), (100L, 2L, 1L), (101L, 0L, 1L)))
  }

  test("sampleWeighted == driver-side A-ES reference; non-positive weights excluded") {
    val rows = (1L to 500L).map(i => (i, if (i % 50 == 0) 0L else (i % 97) + 1))
    val df = rows.toDF("doc_id", "w")
    val got = Ops.sampleWeighted(df, "doc_id", "w", 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def key(id: Long, w: Long): Double = {
      val u = ((id * 9973 + 12345) % 1000003 + 1).toDouble / 1000004.0
      BigDecimal(-math.log(u) / w.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.filter(_._2 > 0)
      .map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, k) => (k, id) }.take(20)
    assert(got == expected)
    // the point of weighting: the selected rows skew heavy
    val meanSel = got.map(_._2).sum.toDouble / got.size
    val meanAll = rows.filter(_._2 > 0).map(_._2).sum.toDouble / rows.count(_._2 > 0)
    assert(meanSel > meanAll, s"weighted sample should skew heavy: $meanSel vs $meanAll")
  }

  test("samplers drop null keys: NULLS-FIRST ascending sort must not hand them a slot") {
    // scrambleKey(null) is null and Spark sorts nulls FIRST ascending,
    // so an unfiltered null-key row deterministically won a sample
    // slot on every run (r13 review) — and engines sorting nulls LAST
    // would disagree. All three samplers share the drop.
    val ordClean = Seq((1L, 10L), (2L, 11L), (3L, 12L)).toDF("o_orderkey", "o_custkey")
    val ordNull = ordClean.unionByName(Seq(
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(13L)))
      .toDF("o_orderkey", "o_custkey"))
    assert(Ops.sampleN(ordNull, 2).collect().toSeq ==
      Ops.sampleN(ordClean, 2).collect().toSeq)
    val docClean = Seq(("en", 1L, 10L), ("en", 2L, 20L), ("de", 3L, 30L))
      .toDF("lang", "doc_id", "n_chars")
    val docNull = docClean.unionByName(Seq(
      ("en", null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(40L)))
      .toDF("lang", "doc_id", "n_chars"))
    assert(Ops.sampleStratified(docNull, "lang", "doc_id", 1).collect().toSet ==
      Ops.sampleStratified(docClean, "lang", "doc_id", 1).collect().toSet)
    assert(Ops.sampleWeighted(docNull, "doc_id", "n_chars", 2).collect().toSeq ==
      Ops.sampleWeighted(docClean, "doc_id", "n_chars", 2).collect().toSeq)
  }

  test("sampleWeighted: negative ids get valid (0,1) priorities, never null-wins") {
    // scrambleKey keeps the sign; without the pmod fix a negative id
    // gave u <= 0 -> log null -> es_key null sorting FIRST and
    // deterministically winning regardless of weight
    val rows = Seq(-5L, -4L, -3L, -2L, -1L, 1L, 2L, 3L).map(id => (id, 10L))
    val df = rows.toDF("doc_id", "w")
    val got = Ops.sampleWeighted(df, "doc_id", "w", 8).collect()
    assert(got.length == 8 && got.forall(!_.isNullAt(2)),
      "every priority must be a defined double")
    def key(id: Long): Double = {
      val m = ((id * 9973 + 12345) % 1000003 + 1000003) % 1000003
      BigDecimal(-math.log((m + 1).toDouble / 1000004.0) / 10.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.map { case (id, w) => (id, w, key(id)) }
      .sortBy { case (id, _, k) => (k, id) }
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq == expected)
  }

  test("dedupKeyed: first-by-(orderkey, linenumber) even past 9 lines per order") {
    // with the old *10 ordering, ord(1,15)=25 > ord(2,2)=22 wrongly
    // preferred order 2's row as "first"
    val li = Seq(
      (100L, 1L, 15L, 100.0),
      (100L, 2L, 2L, 200.0))
      .toDF("l_partkey", "l_orderkey", "l_linenumber", "l_extendedprice")
    val out = Ops.dedupKeyed(li).collect()
    assert(out.length == 1)
    assert(out.head.getDouble(1) == 100.0,
      s"order 1 line 15 precedes order 2 line 2, got ${out.head}")
  }

  test("scd2: change rows get validity ranges, recurring value reopens, one current per key") {
    def ns(us: Long) = us * 1000L
    // user 1: 5.0, 5.0 (no change), 7.0, 5.0 (recurs after a change)
    // user 2: single event
    val events = Seq(
      (1L, 10L, ns(100L), 5.0), (1L, 11L, ns(200L), 5.0),
      (1L, 12L, ns(300L), 7.0), (1L, 13L, ns(400L), 5.0),
      (2L, 20L, ns(50L), 9.0))
      .toDF("user_id", "event_id", "ts", "value")
    val got = Ops.scd2(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"),
                 r.getAs[Long]("valid_from_us"),
                 Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
                 r.getAs[Boolean]("is_current"))).toSet
    assert(got == Set(
      (1L, 5.0, 100L, Some(300L), false), // 200L collapses into this range
      (1L, 7.0, 300L, Some(400L), false),
      (1L, 5.0, 400L, None, true),        // same value, new range after the change
      (2L, 9.0, 50L, None, true)))
    // invariant: ranges per key tile without gaps — each valid_to is
    // the next row's valid_from, exactly one open range per key
    val byKey = got.groupBy(_._1)
    for ((_, rows) <- byKey) {
      assert(rows.count(_._4.isEmpty) == 1)
      val sorted = rows.toSeq.sortBy(_._3)
      for (Seq(a, b) <- sorted.sliding(2) if sorted.size > 1)
        assert(a._4.contains(b._3))
    }
  }

  test("scd2: null attribute values — transition into null kept, consecutive nulls collapse") {
    def ns(us: Long) = us * 1000L
    // user 1: 5.0 → null (a real transition, previously DROPPED
    // because 'null =!= 5.0' is NULL) → null (collapses, previously
    // re-emitted because lag(value).isNull conflated "no previous
    // row" with "previous value was null") → 5.0 (reopens)
    // user 2: FIRST value null (needs the row_number marker)
    val events = Seq(
      (1L, 10L, ns(100L), Some(5.0)), (1L, 11L, ns(200L), None),
      (1L, 12L, ns(300L), None), (1L, 13L, ns(400L), Some(5.0)),
      (2L, 20L, ns(50L), None), (2L, 21L, ns(60L), Some(1.0)))
      .toDF("user_id", "event_id", "ts", "value")
    val got = Ops.scd2(events).collect()
      .map(r => (r.getAs[Long]("user_id"),
                 Option(r.getAs[java.lang.Double]("value")).map(_.toDouble),
                 r.getAs[Long]("valid_from_us"),
                 Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong))).toSet
    assert(got == Set(
      (1L, Some(5.0), 100L, Some(200L)),
      (1L, None, 200L, Some(400L)), // one range covering both null rows
      (1L, Some(5.0), 400L, None),
      (2L, None, 50L, Some(60L)),
      (2L, Some(1.0), 60L, None)), s"got $got")
  }

  test("rollingMedian: null values are not samples — windows slide over observations") {
    def ns(us: Long) = us * 1000L
    // 6 rows, one null at position 3: medians come from the 5
    // OBSERVED values around it, never a mis-indexed 4-element list
    val rows = Seq(
      (1L, 1L, ns(10L), Some(1.0)), (1L, 2L, ns(20L), Some(2.0)),
      (1L, 3L, ns(30L), None), (1L, 4L, ns(40L), Some(3.0)),
      (1L, 5L, ns(50L), Some(4.0)), (1L, 6L, ns(60L), Some(5.0)))
      .toDF("user_id", "event_id", "ts", "value")
    val got = Ops.rollingMedian(rows, 5).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("med")).toMap
    assert(got == Map(6L -> 3.0), s"got $got") // first FULL observed window ends at id 6
  }

  test("approxPercentileChecked ignores null values like percentile_approx does") {
    val df = ((1 to 50).map(i => ("a", Some(i.toDouble))) ++
      (1 to 50).map(_ => ("a", Option.empty[Double]))).toDF("g", "v")
    val got = Ops.approxPercentileChecked(df, "g", "v", 0.5, 0.01).collect()
    assert(got.length == 1)
    // exact median of the 50 NON-NULL values (rank ceil(0.5*50)=25),
    // not a null-shifted pick over 100 rows; and the sketch (which
    // never saw the nulls) must not be indicted by a null-inflated n
    assert(got.head.getAs[Double]("exact_q") == 25.0 &&
      got.head.getAs[Boolean]("within_bound"), s"got ${got.head}")
  }

  test("timeWeightedAvg: all-same-timestamp user emits a deliberate null twa") {
    def ns(us: Long) = us * 1000L
    val tw = Ops.timeWeightedAvg(Seq(
      (1L, 1L, ns(100L), 5.0), (1L, 2L, ns(100L), 9.0), // zero total duration
      (2L, 3L, ns(0L), 2.0), (2L, 4L, ns(10L), 8.0))    // normal: held 2.0 for 10us
      .toDF("user_id", "event_id", "ts", "value")).collect()
      .map(r => r.getAs[Long]("user_id") ->
        Option(r.getAs[java.lang.Double]("twa")).map(_.toDouble)).toMap
    assert(tw == Map(1L -> None, 2L -> Some(2.0)), s"got $tw")
  }

  test("scd2 matches a driver-side reference on random streams") {
    val rnd = new scala.util.Random(11)
    // few distinct values → plenty of holds, changes, and recurrences
    val rows = (1 to 3000).map { i =>
      (rnd.nextInt(25).toLong, i.toLong,
       math.abs(rnd.nextLong() % (86400L * 1000000L)) * 1000L,
       (rnd.nextInt(4) + 1).toDouble)
    }
    val got = Ops.scd2(rows.toDF("user_id", "event_id", "ts", "value")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"),
                 r.getAs[Long]("valid_from_us"),
                 Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong))).toSet
    val expected = rows.groupBy(_._1).flatMap { case (u, evs) =>
      val changes = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      for (e <- evs.sortBy(e => (e._3 / 1000, e._2))) {
        val us = e._3 / 1000
        if (changes.isEmpty || changes.last._1 != e._4) changes += ((e._4, us))
      }
      changes.zipWithIndex.map { case ((v, from), i) =>
        (u, v, from,
         if (i + 1 < changes.size) Some(changes(i + 1)._2) else None)
      }
    }.toSet
    assert(got == expected)
  }

  test("sessionize matches a driver-side reference on random streams") {
    val rnd = new scala.util.Random(3)
    val gapUs = 3600L * 1000000L
    val rows = (1 to 2000).map { i =>
      (rnd.nextInt(20).toLong, i.toLong,
       math.abs(rnd.nextLong() % (86400L * 1000000L)) * 1000L) // ns in one day
    }
    val got = Ops.sessionize(rows.toDF("user_id", "event_id", "ts"), gapUs).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq"),
                 r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
                 r.getAs[Long]("end_us"))).toSet
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.map(e => (e._3 / 1000L, e._2)).sortBy(identity)
      val sessions = sorted.foldLeft(List.empty[List[Long]]) { case (acc, (us, _)) =>
        acc match {
          case cur :: rest if us - cur.last <= gapUs => (cur :+ us) :: rest
          case _ => List(us) :: acc
        }
      }.reverse
      sessions.zipWithIndex.map { case (s, i) =>
        (u, i + 1L, s.length.toLong, s.head, s.last)
      }
    }.toSet
    assert(got == expected)
  }

  test("tfidf: rare-term-in-short-doc outranks common terms, closed-form score") {
    val docs = Seq((0L, "a a b"), (1L, "b c"), (2L, "c c c")).toDF("doc_id", "text")
    val got = TextOps.tfidfTopK(docs, 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) -> r.getAs[Double]("score")).toMap
    def score(tf: Int, dl: Int, df: Int) =
      BigDecimal((tf.toDouble / dl) * math.log(3.0 / df))
        .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((0L, "a")) == score(2, 3, 1)) // a: only in doc0, tf 2/3
    assert(got((2L, "c")) == score(3, 3, 2)) // c: in 2 docs
    assert(got((1L, "b")) == score(1, 2, 2))
    // top row is the highest score with deterministic tiebreak
    val top = TextOps.tfidfTopK(docs, 1).collect()(0)
    assert(top.getAs[Long]("doc_id") == 0L && top.getAs[String]("term") == "a")
  }

  test("piiScrub masks emails then IPs, counts both, leaves clean text intact") {
    val df = Seq(
      (1L, "write to bob.smith@mail.example from 192.168.0.1 now"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.com c.d@e.org one ip 10.0.0.255"),
      (4L, "mixed case Bob.Smith@Example.COM stays caught"),
      // digit-dotted mail domain: ONE email, ZERO ips — counts must
      // describe the redactions actually performed
      (5L, "odd domain bob@10.0.0.1.net here"))
      .toDF("doc_id", "text")
    val got = TextOps.piiScrub(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips"), r.getAs[String]("clean_text")))).toMap
    assert(got(1L) == ((1L, 1L, "write to <EMAIL> from <IP> now")))
    assert(got(2L) == ((0L, 0L, "no pii here at all")))
    assert(got(3L) == ((2L, 1L, "two mails <EMAIL> <EMAIL> one ip <IP>")))
    assert(got(4L) == ((1L, 0L, "mixed case <EMAIL> stays caught")))
    assert(got(5L) == ((1L, 0L, "odd domain <EMAIL> here")))
  }

  test("rollingMedian picks the exact middle of each full 5-window, in event order") {
    // user 1: values 10,1,8,3,6,100,2 → full windows start at rn 5:
    //   rn5 {10,1,8,3,6}→6, rn6 {1,8,3,6,100}→6, rn7 {8,3,6,100,2}→6
    // the 100-spike never surfaces — the point of a median smoother
    val rows = Seq(10.0, 1.0, 8.0, 3.0, 6.0, 100.0, 2.0).zipWithIndex.map {
      case (v, i) => (1L, (i + 1).toLong, i.toLong * 1000000L, v)
    } ++ Seq((2L, 100L, 0L, 42.0)) // user 2: only 1 event, no full window
    val got = Ops.rollingMedian(rows.toDF("user_id", "event_id", "ts", "value"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(got.toSet == Set((1L, 5L, 6.0), (1L, 6L, 6.0), (1L, 7L, 6.0)))
    intercept[IllegalArgumentException](
      Ops.rollingMedian(rows.toDF("user_id", "event_id", "ts", "value"), 4))
  }

  test("centsCorrelation: exact moments give ±1 on linear data, null on zero variance") {
    val df = Seq(
      ("up", 1.0, 0.01), ("up", 2.0, 0.02), ("up", 3.0, 0.03),
      ("dn", 1.0, 0.03), ("dn", 2.0, 0.02), ("dn", 3.0, 0.01),
      ("fl", 1.0, 0.02), ("fl", 2.0, 0.02), ("fl", 3.0, 0.02))
      .toDF("g", "x", "y")
    val got = Ops.centsCorrelation(df, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(got("up") == ((3L, 600L, 6L, Some(1.0))))
    assert(got("dn")._4 == Some(-1.0))
    assert(got("fl")._4 == None) // zero y-variance: null, not NaN
  }

  test("approxPercentileChecked: exact discrete quantile + GK bound holds") {
    val rows = (1 to 101).map(i => ("a", i.toDouble)) ++
      (1 to 10).map(i => ("b", math.pow(2.0, i))) // skewed group
    val df = rows.toDF("g", "v")
    val got = Ops.approxPercentileChecked(df, "g", "v", 0.5, 0.01)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(got("a") == ((51.0, true)))   // rank ceil(0.5*101) = 51
    assert(got("b") == ((32.0, true)))   // rank ceil(0.5*10) = 5 -> 2^5
    intercept[IllegalArgumentException](
      Ops.approxPercentileChecked(df, "g", "v", 1.5))
  }

  test("windowDedup floors negative timestamps into the window below zero") {
    val w = 1000000L // 1s windows
    val events = Seq(
      (1L, "a", 10L, -1L * 1000L),   // −1 µs → window −1, not 0
      (1L, "a", 11L, 1L * 1000L),    // +1 µs → window 0
      (1L, "a", 12L, 2L * 1000L))    // same window as 11 → deduped
      .toDF("user_id", "event_type", "event_id", "ts")
    val got = Ops.windowDedup(events, w).collect()
      .map(r => (r.getAs[Long]("win"), r.getAs[Long]("event_id"))).toSet
    assert(got == Set((-1L, 10L), (0L, 11L)))
  }

  test("dupSpans flags windows repeated anywhere in the corpus") {
    val docs = Seq((1L, "x y x y"), (2L, "x y q")).toDF("doc_id", "text")
    // width 2 → doc1: [x y][x y]; doc2: [x y][q] — "x y" occurs 3×
    val got = TextOps.dupSpans(docs, 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"), r.getAs[Double]("dup_ratio")))).toMap
    graft.core.ScopedCache.releaseAll()
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 1L, 0.5)))
  }

  test("simhashNearDupPairs == brute-force hamming filter (bands fully recall h <= 1)") {
    val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val docs = (0 until 40).map { i =>
      val words = if (i % 4 == 0) base else base.take(7) :+ s"w$i"
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(spark, docs, 1)
      .as[(Long, Long, Long)].collect().toSet
    val fp = Dedup.simhash(spark, docs).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- fp.keys; b <- fp.keys if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 1
    } yield (a, b, h.toLong)).toSet
    assert(got == brute)
    assert(got.exists(_._3 == 0L), "identical docs must pair at hamming 0")
  }

  test("editDistancePairs: known distances within blocks; lang/length/prefix blocks exclude") {
    val docs = Seq(
      (1L, "common kitten town", "en", 18L),
      (2L, "common sitting town", "en", 19L),  // lev = 3, shares 6-char prefix
      (3L, "common kitten town", "en", 18L),   // exact dup of 1 → 0
      (4L, "common kitten town", "de", 18L),   // other lang block
      (5L, "x" * 100, "en", 100L),             // other length bucket
      (6L, "KOMMON kitten town", "en", 18L))   // same block, different prefix → never compared
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = graft.text.Dedup.editDistancePairs(docs, 5, blockChars = 6).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Long]("dist")).toMap
    assert(got == Map((1L, 2L) -> 3L, (1L, 3L) -> 0L, (2L, 3L) -> 3L))
  }

  test("approxDistinct: HLL estimate within 3·rsd of exact, partial-aggregable plan") {
    val df = (1 to 5000).map(i => (s"g${i % 3}", s"v${i % 1217}")).toDF("g", "v")
    val rows = Ops.approxDistinct(df, "g", "v", rsd = 0.05, includeExact = true).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (approx, exact) = (r.getAs[Long]("approx_nd"), r.getAs[Long]("exact_nd"))
      assert(math.abs(approx - exact) <= math.max(3, (0.15 * exact).toLong),
        s"approx $approx vs exact $exact")
    }
    // default (production) shape: sketch only — no exact_nd column,
    // so the distinct-value shuffle never enters the plan
    val prod = Ops.approxDistinct(df, "g", "v")
    assert(prod.columns.toSeq == Seq("g", "approx_nd"))
    assert(!prod.queryExecution.executedPlan.toString.contains("count(distinct"))
    // the sketch aggregate must partial-aggregate (map-side combine)
    val plan = prod.queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_count_distinct") || plan.contains("HashAggregate"), plan)
  }

  test("approxDistinctChecked: oracle-able output — exact count + in-bound boolean") {
    val df = (1 to 5000).map(i => (s"g${i % 3}", s"v${i % 1217}")).toDF("g", "v")
    val rows = Ops.approxDistinctChecked(df, "g", "v").collect()
    assert(rows.length == 3)
    val exact = (1 to 5000).map(i => (s"g${i % 3}", s"v${i % 1217}"))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_nd") == exact(r.getAs[String]("g")))
      // Spark's HLL is a pure function of the value set, so for fixed
      // data the bound either holds or it doesn't — deterministically.
      // This is exactly what lets the DuckDB oracle assert literal TRUE.
      assert(r.getAs[Boolean]("within_bound"),
        s"sketch out of 3·rsd bound for group ${r.getAs[String]("g")}")
    }
    assert(Ops.approxDistinctChecked(df, "g", "v").collect().toSet == rows.toSet,
      "checked output must be deterministic across runs")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the 100 TB shape this guards: fact ⋈ selectively-filtered dim
    // where the dim is too big to broadcast — Spark injects a bloom
    // filter built from the dim's join keys into the fact scan, so
    // non-matching fact rows die before the shuffle. Declarative
    // plans get this for free; a hand-scheduled pipeline would not.
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    import spark.implicits._
    (1L to 20000L).map(i => (i, s"pay$i")).toDF("k", "payload")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (1L to 2000L).map(i => (i, i % 7)).toDF("k", "tag")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === 3)
      val j = fact.join(dim, "k")
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom filter injected into the probe side:\n$plan")
      // the filter is an optimization, never a semantics change
      assert(j.count() == 2000 / 7 + (if (2000 % 7 >= 3) 1 else 0))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("resampleFfill: per-slot last wins, gaps fill forward, per-user bounds") {
    // ts is ns (the Tables.events contract); gridUs=10 -> slot = us/10
    val ev = Seq(
      (1L, 5000L, 1L, 1.0),   // user 1, us 5,  slot 0
      (2L, 7000L, 1L, 2.0),   // user 1, us 7,  slot 0 (later -> wins)
      (3L, 35000L, 1L, 9.0),  // user 1, us 35, slot 3
      (4L, 12000L, 2L, 5.0)   // user 2, us 12, slot 1 (single-slot range)
    ).toDF("event_id", "ts", "user_id", "value")
    val got = Ops.resampleFfill(ev, gridUs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(
      (1L, 0L, 2.0), (1L, 1L, 2.0), (1L, 2L, 2.0), (1L, 3L, 9.0),
      (2L, 1L, 5.0)))
  }

  test("resampleFfill floors pre-1970 timestamps into the slot below zero (family bucket form)") {
    // -1000 µs is 1969-12-31 23:59:59.999 — FLOOR puts it in slot -1;
    // truncation would fuse it into slot 0 (double-width epoch slot)
    val ev = Seq(
      (1L, -1000L * 1000L, 1L, 1.0), // us -1000 -> slot -1
      (2L, 5000L * 1000L, 1L, 2.0)   // us  5000 -> slot 0 (grid 10000)
    ).toDF("event_id", "ts", "user_id", "value")
    val got = Ops.resampleFfill(ev, gridUs = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, -1L, 1.0), (1L, 0L, 2.0)))
  }

  test("approxDistinctChecked/hllMergeRollup: an all-null group reports a BOOLEAN, not null (0/0 guard)") {
    val df = Seq(("g1", "a"), ("g1", "b"),
      ("g2", null.asInstanceOf[String])).toDF("g", "v")
    val rows = Ops.approxDistinctChecked(df, "g", "v").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.isNullAt(2), r.getBoolean(2))).toMap
    assert(rows("g2") == ((0L, false, true)),
      s"all-null group must report within_bound=TRUE (0 approx == 0 exact), got ${rows("g2")}")
    assert(rows("g1")._1 == 2L && rows("g1")._3)
    // rollup twin: one group whose values are entirely null in a week
    val ev = Seq(("t1", null.asInstanceOf[java.lang.Long], 1000L))
      .toDF("event_type", "user_id", "us")
    val roll = Ops.hllMergeRollup(ev, "event_type", "user_id", "us").collect()
    assert(roll.length == 1 && !roll.head.isNullAt(3) && roll.head.getBoolean(3))
  }

  test("markovTransitions: consecutive-pair counts with per-from totals") {
    val ev = Seq(
      (1L, 1000L, 1L, "A"), (2L, 2000L, 1L, "B"), (3L, 3000L, 1L, "A"),
      (4L, 1000L, 2L, "A"), (5L, 2000L, 2L, "A")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = Ops.markovTransitions(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("A", "B") -> (1L, 2L), ("A", "A") -> (1L, 2L), ("B", "A") -> (1L, 1L)))
  }

  test("rfmSegments: monotone metrics map to monotone segment scores") {
    // 5 users, strictly increasing on every metric -> segments 1..5
    val ev = (1L to 5L).flatMap { u =>
      (0L until u).map(i => (u * 100 + i, (u * 1000 + i) * 1000L, u, i * 2.0))
    }.toDF("event_id", "ts", "user_id", "value")
    val got = Ops.rfmSegments(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    (1L to 5L).foreach { u =>
      assert(got(u) == (u, u, u), s"user $u got ${got(u)}")
    }
  }

  test("equiDepthHistogram: near-equal bucket sizes with exact bounds") {
    val df = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("value", "event_id")
    val got = Ops.equiDepthHistogram(df, "value", "event_id", 3)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    // SQL ntile: remainder rows go to the FIRST buckets: 4, 3, 3
    assert(got == Seq((1L, 1.0, 4.0, 4L), (2L, 5.0, 7.0, 3L), (3L, 8.0, 10.0, 3L)))
  }

  test("hllMergeRollup: daily-sketch union == direct weekly sketch; bound holds") {
    val rnd = new scala.util.Random(7)
    val dayUs = 86400L * 1000000L
    val rows = (1 to 5000).map { _ =>
      val day = rnd.nextInt(21) // 3 weeks
      ("g" + rnd.nextInt(2), rnd.nextInt(400).toLong,
        day * dayUs + rnd.nextInt(1000000))
    }
    val df = rows.toDF("grp", "uid", "us")
    val got = Ops.hllMergeRollup(df, "grp", "uid", "us")
      .collect().map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getBoolean(3)))).toMap
    // exact side matches a literal recompute; bound holds everywhere
    val exact = rows.groupBy(r => (r._1, r._3 / (7L * dayUs)))
      .map { case (k, v) => k -> v.map(_._2).distinct.size.toLong }
    assert(got.keySet == exact.keySet)
    got.foreach { case (k, (nd, ok)) =>
      assert(nd == exact(k), s"exact mismatch at $k")
      assert(ok, s"merged sketch estimate out of bound at $k")
    }
    // union-of-daily == direct weekly sketch state (re-aggregation
    // property): estimates agree exactly, not just within the bound
    val direct = df.select(col("grp"), col("uid"), expr(s"us div ${7L * dayUs}").as("week"))
      .groupBy("grp", "week")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("uid"))).as("est"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val merged = df.select(col("grp"), col("uid"),
        expr(s"us div $dayUs").as("day"), expr(s"us div ${7L * dayUs}").as("week"))
      .groupBy("grp", "week", "day").agg(hll_sketch_agg(col("uid")).as("sk"))
      .groupBy("grp", "week")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(merged == direct)
  }

  test("paretoFront == brute-force dominance filter (random points, dup-safe)") {
    val rnd = new scala.util.Random(42)
    val pts = (1L to 200L).map(k => (k, rnd.nextInt(8).toLong, (rnd.nextInt(12) * 0.5)))
    val df = pts.toDF("k", "sz", "pr")
    val got = Ops.paretoFront(df, "k", "sz", "pr")
      .collect().map(_.getLong(0)).toSet
    val expect = pts.filter { case (k, s, p) =>
      !pts.exists { case (k2, s2, p2) =>
        k2 != k && s2 >= s && p2 <= p && (s2 > s || p2 < p) }
    }.map(_._1).toSet
    assert(got == expect, s"frontier mismatch: got $got expected $expect")
    assert(expect.nonEmpty) // co-optimal duplicates exist at this density
  }
}
