package graft.text

import scala.util.Random
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Randomized equivalence tests: the shuffle-optimized near-dup
  * implementations must produce exactly the naive formulation's
  * results on arbitrary corpora (SURVEY.md §5 property-test plan).
  * Seeds are fixed — failures are reproducible.
  */
class DedupPropertySpec extends SparkSpec {
  import spark.implicits._

  // Every test runs with the sorted-input assertion baked into
  // every SortedIntersectCount it builds: the producer+kernel pair is
  // proven across every RANDOM corpus here, not just the crafted
  // fixtures in SetExpressionsSpec. Strict mode changes behavior only
  // by THROWING on a contract violation, so equivalence results are
  // untouched while any future producer refactor that stops sorting
  // fails this suite's randomized tests loudly.
  //
  // Scoped PER TEST (SetExpressionsSpec's withStrict pattern), not
  // suite-wide in beforeAll: the flag is read at column-construction
  // time, so wrapping each test body gives identical coverage while
  // the shared session's conf is mutated only inside a test's own
  // set/unset bracket — never left set across the suite's lifetime,
  // where it could bleed into columns other suites build if test
  // execution ever went parallel.
  private def withStrict[T](body: => T): T = {
    spark.conf.set(graft.functions.SetExpressions.StrictSortedConf, "true")
    try body
    finally spark.conf.unset(graft.functions.SetExpressions.StrictSortedConf)
  }

  private def strictTest(name: String)(body: => Unit): Unit =
    test(name)(withStrict(body))

  /** A cache-hygiene test starts from an empty scoped-cache registry
    * and no persisted RDDs (polled: releases finish asynchronously),
    * so a cache one test leaks fails that test only, and each test's
    * end-of-test emptiness assertions see just its own operators. */
  private def hygieneTest(name: String)(body: => Unit): Unit = strictTest(name) {
    graft.core.ScopedCache.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assertNoCachesLeft("caches left by an earlier test")
    body
  }

  /** Random corpus: vocab small enough to force heavy duplication
    * (the regime that broke the naive plans). */
  private def corpus(seed: Int, nDocs: Int, vocab: Int): DataFrame = {
    val rnd = new Random(seed)
    val words = (0 until vocab).map(i => s"w$i")
    (0 until nDocs).map { i =>
      val n = 1 + rnd.nextInt(12)
      val text = Seq.fill(n)(words(rnd.nextInt(vocab))).mkString(" ")
      (i.toLong, "en", text, text.length.toLong)
    }.toDF("doc_id", "lang", "text", "n_chars")
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  strictTest("co-count jaccard == naive array-based jaccard (3 random corpora)") {
    for (seed <- Seq(1, 2, 3)) {
      val docs = corpus(seed, nDocs = 120, vocab = 15)
      val fast = Dedup.jaccardNearDupPairs(docs, 0.6)

      val base = docs.select(col("doc_id"), col("lang"),
        expr("n_chars div 64").as("bkt"),
        array_distinct(TextOps.tokens(col("text"))).as("toks"))
      val j = size(array_intersect(col("x.toks"), col("y.toks"))).cast(DoubleType) /
              size(array_union(col("x.toks"), col("y.toks")))
      val naive = base.as("x").join(base.as("y"),
          col("x.lang") === col("y.lang") && col("x.bkt") === col("y.bkt") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"), round(j, 6).as("jaccard"))
        .filter(col("jaccard") >= 0.6)

      val f = fast.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val n = naive.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(f == n, s"seed=$seed: fast=${f.size} naive=${n.size}")
    }
  }

  strictTest("Scala twins match their Catalyst expressions: tokensOf/tokenCodeOf (adversarial strings)") {
    // the typed-map MinHash/SimHash folds are bit-identical to the
    // old expression folds ONLY IF the twins agree exactly — pin them
    // over strings the testdata never exercises: unicode whitespace,
    // combining marks, empty/blank, long tokens, control chars
    val rnd = new Random(77711L)
    val pool = "aA zZ09!@#€漢字éü  \t\n\r .,-_" // incl. NBSP, em-space, control
    val adversarial = Seq("", " ", "\t\n", "a", "a b", " a  b ", "a b",
      "é漢 字 x", "ctrl tok", "a" * 500) ++
      (1 to 300).map(_ => (1 to rnd.nextInt(40)).map(_ => pool(rnd.nextInt(pool.length))).mkString)
    val df = adversarial.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    // tokensOf == tokens (expression) on every string
    val exprToks = df.select(col("id"), TextOps.tokens(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).getOrElse(Seq.empty)).toMap
    adversarial.zipWithIndex.foreach { case (s, i) =>
      val scalaToks = TextOps.tokensOf(s)
      assert(scalaToks == exprToks(i.toLong).toSeq,
        s"tokensOf diverged on [${s.take(40).map(c => if (c < ' ') '?' else c)}]: " +
          s"$scalaToks vs ${exprToks(i.toLong)}")
    }
    // tokenCodeOf == tokenCode (expression) on every distinct token
    val toks = adversarial.flatMap(TextOps.tokensOf).distinct
    if (toks.nonEmpty) {
      val exprCodes = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("i", "tok")
        .select(col("i"), TextOps.tokenCode(col("tok")).as("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val md = java.security.MessageDigest.getInstance("MD5")
      toks.zipWithIndex.foreach { case (t, i) =>
        assert(TextOps.tokenCodeOf(md, t) == exprCodes(i.toLong),
          s"tokenCodeOf diverged on token [${t.take(30)}]")
      }
    }
  }

  strictTest("prefix-filtered set join == co-count set join (plans agree above the dispatch line)") {
    // setPairs dispatches by threshold; BOTH plans are exact, so on
    // any corpus and any prefix-legal threshold their (set_a, set_b,
    // jaccard) outputs must be identical. This directly guards the
    // prefix plan's recall bound (floor((1-t)|S|)+1 smallest tokens),
    // including the t-1e-6 backoff for the round-to-6 output filter —
    // an off-by-one there silently DROPS near-dup pairs, which no
    // oracle run on well-behaved testdata would catch.
    for {
      seed <- Seq(41, 42, 43)
      (nDocs, vocab) <- Seq((150, 8), (120, 25))   // heavy dup + sparser
      t <- Seq(0.5, 0.75, 0.8, 1.0)
      ngram <- Seq(1, 2)
    } {
      val docs = corpus(seed, nDocs, vocab)
      val withKey = Dedup.keyedTokenSets(docs, ngram)
      def norm(df: DataFrame): Map[(Long, Long), Double] =
        df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val co = norm(Dedup.coCountSetPairs(withKey, t))
      val pf = norm(Dedup.prefixSetPairs(withKey, t))
      assert(pf == co,
        s"seed=$seed n=$nDocs vocab=$vocab t=$t ngram=$ngram: " +
          s"prefix=${pf.size} co=${co.size}; " +
          s"missing=${(co.keySet -- pf.keySet).take(3)} extra=${(pf.keySet -- co.keySet).take(3)}")
    }
  }

  strictTest("setPairs dispatch boundary (t=0.5): both plans and the dispatched path agree at 0.499/0.5/0.501") {
    // The t >= 0.5 dispatch point is load-bearing: below it the
    // co-count plan runs, at and above it the prefix plan. This pins
    // the seam specifically — crafted docs with pairs at EXACTLY
    // J = 0.5 (|A∩B|=2, |A∪B|=4) so the >= threshold semantics and
    // the prefix plan's t−1e-6 recall backoff are both exercised at
    // the boundary, where an off-by-one would silently drop pairs.
    for (seed <- Seq(61, 62, 63)) {
      val rnd = new Random(seed)
      val vocab = (0 until 10).map(i => s"w$i")
      val crafted = Seq(
        (1000L, "en", "w0 w1 w2", 8L),        // J(1000,1001) = 2/4 = 0.5 exactly
        (1001L, "en", "w1 w2 w3", 8L),
        (1002L, "en", "w0 w1 w2 w3", 11L),    // J(1002,1003) = 3/5 = 0.6
        (1003L, "en", "w1 w2 w3 w4", 11L))
      val randomDocs = (0 until 120).map { i =>
        val n = 1 + rnd.nextInt(10)
        val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (i.toLong, "en", text, text.length.toLong)
      }
      val docs = (randomDocs ++ crafted).toDF("doc_id", "lang", "text", "n_chars")
      val withKey = Dedup.keyedTokenSets(docs, ngram = 1)
      def norm(df: DataFrame): Map[(Long, Long), Double] =
        df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      def docPairs(t: Double): Map[(Long, Long), Double] =
        Dedup.jaccardNearDupPairs(docs, t).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // straddle the line: 0.499 dispatches co-count, 0.5/0.501 prefix
      val coBelow = norm(Dedup.coCountSetPairs(withKey, 0.499))
      for (t <- Seq(0.5, 0.501)) {
        val pf = norm(Dedup.prefixSetPairs(withKey, t))
        val co = norm(Dedup.coCountSetPairs(withKey, t))
        assert(pf == co, s"seed=$seed t=$t: prefix=${pf.size} co=${co.size}; " +
          s"missing=${(co.keySet -- pf.keySet).take(3)} extra=${(pf.keySet -- co.keySet).take(3)}")
      }
      // threshold monotonicity ACROSS the seam: tightening 0.499 →
      // 0.5 → 0.501 only removes pairs, never adds or rescores
      val (p499, p500, p501) = (docPairs(0.499), docPairs(0.5), docPairs(0.501))
      assert(p500.toSet.subsetOf(p499.toSet) && p501.toSet.subsetOf(p500.toSet),
        s"seed=$seed: dispatched outputs not monotone across the 0.5 seam")
      // the crafted J = 0.5 pair sits exactly on the line: kept by
      // >= at 0.5 (prefix side) and at 0.499 (co-count side),
      // dropped at 0.501
      assert(p499.get((1000L, 1001L)).contains(0.5) &&
        p500.get((1000L, 1001L)).contains(0.5) && !p501.contains((1000L, 1001L)))
      // set-level: the co-count truth below the line is consistent
      // with the dispatched doc-level output (same pair count after
      // expanding identical-set clusters is covered by p499 == naive
      // elsewhere; here assert the J = 0.5 set pair survived)
      assert(coBelow.values.exists(_ == 0.5), s"seed=$seed: no J=0.5 set pair below the line")
      graft.core.ScopedCache.releaseAll()
    }
  }

  strictTest("cluster-collapsed LSH pairs == naive per-(doc,band) banding (3 random corpora)") {
    for (seed <- Seq(11, 12, 13)) {
      val docs = corpus(seed, nDocs = 100, vocab = 10)
      val fast = pairsOf(Dedup.minhashLshPairs(spark, docs))

      // naive formulation: band per (doc, band) group + self-join + distinct
      val sig = Dedup.minhashSignatures(spark, docs)
      val bands = sig.withColumn("band", expr("hid div 4"))
        .groupBy(col("doc_id"), col("band"))
        .agg(md5(array_join(
          transform(array_sort(collect_list(struct(col("hid"), col("mh")))),
            x => concat(x.getField("hid").cast("string"), lit(":"), x.getField("mh").cast("string"))),
          ",")).as("bkey"))
      val naive = pairsOf(bands.as("x").join(bands.as("y"), Seq("band", "bkey"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct())

      assert(fast == naive, s"seed=$seed: fast=${fast.size} naive=${naive.size}")
    }
  }

  strictTest("rep-mode clusters and pairs-mode output induce the same clustering") {
    for (seed <- Seq(31, 32)) {
      val docs = corpus(seed, nDocs = 120, vocab = 8) // heavy duplication

      // LSH: identical-signature clusters — every intra-cluster pair
      // must appear in pairs-mode output, sizes/reps must be coherent
      val clusters = Dedup.minhashClusters(spark, docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      clusters.groupBy(_._2).foreach { case (rep, ms) =>
        assert(ms.forall(_._3 == ms.length), s"cluster_size mismatch for rep $rep")
        assert(ms.map(_._1).min == rep, s"rep $rep is not the min doc_id")
      }
      val intra = clusters.groupBy(_._2).values
        .flatMap(ms => { val ids = ms.map(_._1).sorted.toSeq; for (a <- ids; b <- ids if a < b) yield (a, b) })
        .toSet
      val pairs = pairsOf(Dedup.minhashLshPairs(spark, docs))
      assert(intra.subsetOf(pairs),
        s"seed=$seed: ${intra.diff(pairs).size} intra-cluster pairs missing from pairs-mode")

      // Jaccard: pairs with J == 1.0 are EXACTLY the intra-cluster
      // pairs of the identical-set clustering
      val jMembers = Dedup.jaccardClusters(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val jIntra = jMembers.groupBy(_._2).values
        .flatMap(ms => { val ids = ms.map(_._1).sorted.toSeq; for (a <- ids; b <- ids if a < b) yield (a, b) })
        .toSet
      val jExact = Dedup.jaccardNearDupPairs(docs, 0.5).collect()
        .filter(_.getAs[Double]("jaccard") == 1.0)
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(jIntra == jExact, s"seed=$seed: jaccard rep-mode vs J==1.0 pairs diverge")
    }
  }

  strictTest("ngramTopK: agrees with the shingles() expression twin and plans a top-k, not a sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextOps.ngramTopK(docs, 2, 20)
    // expression-twin truth: shingles() column fold over the same corpus
    val truth = docs
      .select(explode(TextOps.shingles(TextOps.tokens(col("text")), 2)).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("shingle")).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == truth)
    // global top-k must be a per-partition heap (TakeOrderedAndProject),
    // never a full Sort + Limit — the difference at corpus scale
    assert(got.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      got.queryExecution.executedPlan.toString)
  }

  strictTest("bm25TopK matches a driver-side Okapi implementation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "table scan fast table"),
      (2L, "en", "table merge join merge join merge"),
      (3L, "en", "sort window batch"),
      (4L, "en", "fast fast fast scan")
    ).toDF("doc_id", "lang", "text")
    val terms = Seq("table", "scan", "fast")
    val got = TextOps.bm25TopK(docs, terms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // independent reference computation
    val corpus = Map(1L -> "table scan fast table", 2L -> "table merge join merge join merge",
      3L -> "sort window batch", 4L -> "fast fast fast scan")
      .map { case (id, t) => id -> t.split(" ").toSeq }
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.length).sum / n
    def score(toks: Seq[String]): Double = terms.map { t =>
      val df = corpus.values.count(_.contains(t)).toDouble
      val tf = toks.count(_ == t).toDouble
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (toks.length / avgdl)))
    }.sum
    val truth = corpus.map { case (id, toks) =>
      id -> BigDecimal(score(toks)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.filter(_._2 > 0).toSeq.sortBy { case (id, s) => (-s, id) }
    assert(got.toSeq == truth, s"got ${got.toSeq}, want $truth")
    // doc 3 has no query term -> excluded; doc 1 (2 terms + tf) should lead
    assert(got.head._1 == 1L && !got.map(_._1).contains(3L))
    // the scoped tf-frame persist is released through the shared hook
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.core.ScopedCache.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.keySet.size <= before.size)
  }

  strictTest("contamination: verbatim inclusion flagged with exact shared-gram count") {
    import spark.implicits._
    val probes = Seq((100L, "en", "the quick brown fox jumps")).toDF("doc_id", "lang", "text")
    val docs = Seq(
      (1L, "en", "prefix words the quick brown fox jumps suffix words"), // contains probe verbatim
      (2L, "en", "quick brown cat sleeps all day"),                       // shares 0 trigrams
      (3L, "en", "the quick brown dog")                                   // shares 1 trigram
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.contamination(docs, probes, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // probe has 3 distinct trigrams; doc 1 contains all 3, doc 3 one
    assert(got.toSeq == Seq((1L, 100L, 3L), (3L, 100L, 1L)))
  }

  strictTest("bloomContamination equals the exact screen (no false negatives survive confirm)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") >= 5)
    val probes = docs.filter(col("doc_id") < 5)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val exact = Dedup.contamination(corpus, probes, 3).collect().map(key).sorted.toSeq
    assert(exact.nonEmpty, "fixture should have contaminated docs")
    // generous sketch: zero-ish fpp — prefilter passes exactly the real hits
    val viaBloom = Dedup.bloomContamination(corpus, probes, 3, 1L << 16)
      .collect().map(key).sorted.toSeq
    assert(viaBloom == exact)
    // deliberately UNDERSIZED sketch (est 2 items for ~hundreds of
    // grams → fpp ≈ 1): correctness must hold — the confirm join
    // kills every false positive
    val saturated = Dedup.bloomContamination(corpus, probes, 3, 2L)
      .collect().map(key).sorted.toSeq
    assert(saturated == exact)
    // empty probe set → empty result, not a crash (null sketch path)
    assert(Dedup.bloomContamination(corpus, probes.filter(col("doc_id") < 0), 3, 16L)
      .collect().isEmpty)
    intercept[IllegalArgumentException](Dedup.bloomContamination(corpus, probes, 3, 0L))
    graft.core.ScopedCache.releaseAll()
  }

  strictTest("crossDupFraction: shared trigrams counted once per doc, short docs dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps"),       // grams: tqb,qbf,bfj — shares tqb with doc 2
      (2L, "en", "the quick brown dog barks loudly"),// shares tqb only
      (3L, "en", "completely different text entirely here"), // shares none
      (4L, "en", "too few")                          // < 3 tokens → dropped
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.crossDupFraction(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got(0) == ((1L, 3L, 1L, 1.0 / 3.0)))
    assert(got(1) == ((2L, 4L, 1L, 0.25)))
    assert(got(2) == ((3L, 3L, 0L, 0.0)))
    // a doc repeating its own gram does NOT count as shared (per-doc distinct)
    val solo = Seq((9L, "en", "x y z x y z")).toDF("doc_id", "lang", "text")
    val s = Dedup.crossDupFraction(solo, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // distinct grams of "x y z x y z": xyz, yzx, zxy — none shared with another doc
    assert(s.toSeq == Seq((9L, 3L, 0L, 0.0)))
    graft.core.ScopedCache.releaseAll()
  }

  strictTest("repetitionScore: known ratios on crafted docs, short docs dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b a b a b"),   // bigrams: ab,ba,ab,ba,ab → 5 total, 2 distinct
      (2L, "en", "w x y z"),       // 3 distinct of 3 → ratio 0
      (3L, "en", "solo")           // no bigram → dropped
    ).toDF("doc_id", "lang", "text")
    val got = TextOps.repetitionScore(docs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got(0) == ((1L, 5L, 2L, 1.0 - 2.0 / 5.0)))
    assert(got(1) == ((2L, 3L, 3L, 0.0)))
  }

  strictTest("chunk: overlapping windows tile the token stream and reconstruct it") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = TextOps.chunk(docs, size = 32, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val orig = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> TextOps.tokensOf(t) }.toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      // indices dense from 0; every chunk the declared length
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      sorted.foreach { case (_, idx, n, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        assert(toks.length == n)
        assert(toks.toSeq == orig(id).slice(idx.toInt * 24, idx.toInt * 24 + n.toInt))
      }
      // dropping each chunk's 8-token overlap reconstructs the doc
      val rebuilt = sorted.flatMap { case (_, idx, _, text) =>
        val toks = text.split(" ").filter(_.nonEmpty).toSeq
        if (idx == 0) toks else toks.drop(8)
      }.toSeq
      // (last chunk shorter than overlap re-emits tail tokens — the
      // documented overlap contract covers them; assert prefix match)
      assert(rebuilt.take(orig(id).length) == orig(id) || rebuilt == orig(id))
    }
    assert(chunks.nonEmpty)
  }

  strictTest("minhashComponents: exact + near dups merge transitively, strangers stay apart") {
    val base = (1 to 40).map(i => s"tok$i")
    val docs = Seq(
      (1L, base.mkString(" ")),                               // |
      (2L, base.mkString(" ")),                               // | exact dup of 1
      (3L, (base.drop(1) :+ "xx").mkString(" ")),             // near dup of 1 (J ≈ 0.95)
      (4L, (base.drop(2) ++ Seq("xx", "yy")).mkString(" ")),  // chains via 3
      (5L, (1 to 40).map(i => s"other$i").mkString(" ")),     // disjoint vocabulary
      (6L, (1 to 40).map(i => s"other$i").mkString(" ")))     // exact dup of 5
      .toDF("doc_id", "text")
    val got = Dedup.minhashComponents(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got(1L) == 1L && got(2L) == 1L, "exact duplicates must share a component")
    assert(got(3L) == 1L, "near dup must confirm (agreement >= 12/16) and merge")
    assert(got(4L) == 1L, "transitive chain 1~3~4 must close")
    assert(got(5L) == 5L && got(6L) == 5L, "disjoint docs must stay in their own component")
    // every confirmed component assignment is consistent with the
    // candidate-pair surface: docs sharing a component must at least
    // be LSH candidates transitively — spot-check via the pair list
    val pairs = Dedup.minhashLshPairs(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((5L, 6L)))
  }

  strictTest("minhashComponents requires confirmed edges (strict minAgree isolates near dups)") {
    val base = (1 to 40).map(i => s"tok$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.drop(6) ++ (1 to 6).map(i => s"zz$i")).mkString(" "))) // J ≈ 0.74
      .toDF("doc_id", "text")
    // at minAgree = 16 only IDENTICAL signatures may merge — the
    // moderately-similar pair must stay apart even if banding
    // produced the candidate
    val strict = Dedup.minhashComponents(spark, docs, minAgree = 16).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(strict(1L) == 1L && strict(2L) == 2L)
  }

  strictTest("incrementalLshPairs with an empty fresh batch is a no-op screen") {
    val corp = corpus(seed = 9, nDocs = 60, vocab = 10)
    val fresh = corp.filter(col("doc_id") < 0) // empty, same schema
    assert(Dedup.incrementalLshPairs(spark, corp, fresh).count() == 0,
      "no fresh docs -> no candidates, regardless of corpus-side duplicates")
  }

  strictTest("incrementalLshPairs == full banding restricted to fresh-touching pairs") {
    for (seed <- Seq(5, 6)) {
      val docs = corpus(seed, nDocs = 150, vocab = 12)
      val fresh = docs.filter(col("doc_id") % 3 === 0)
      val corp = docs.filter(col("doc_id") % 3 =!= 0)
      val got = Dedup.incrementalLshPairs(spark, corp, fresh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Dedup.minhashLshPairs(spark, docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = full.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
      assert(got == expected)
      // the incremental screen must not emit corpus-corpus pairs
      assert(got.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 })
    }
  }

  strictTest("bucketed band store: probe join reads the corpus side exchange-free, same pairs") {
    // The load-bearing 100-TB claim of the ingest-dedup story
    // (minhashBandStore scaladoc): persist the corpus band store
    // bucketed on (band, bkey) and the next batch's probe join never
    // re-shuffles (or re-reads, or re-hashes) the corpus. This test
    // makes the claim checked instead of asserted.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = corpus(seed = 11, nDocs = 150, vocab = 12)
    val fresh = docs.filter(col("doc_id") % 3 === 0)
    val corp = docs.filter(col("doc_id") % 3 =!= 0)
    graft.core.Warehouse.writeBucketed(
      Dedup.minhashBandStore(corp), "band_store", Seq("band", "bkey"), 8)
    graft.core.Warehouse.writeBucketed(
      Dedup.minhashMembers(corp), "member_store", Seq("sig_key"), 8)

    def pairsFromStore() = Dedup.incrementalLshPairsAgainstStore(spark,
      spark.table("band_store"), spark.table("member_store"), fresh)
    // correctness first: identical pair set to the recompute-the-
    // corpus formulation (itself property-equivalent to full banding)
    val expected = Dedup.incrementalLshPairs(spark, corp, fresh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsFromStore().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expected)

    // plan shape: with broadcast off (so the probe join cannot dodge
    // the question) and AQE off (so ShuffleExchangeExec/
    // FileSourceScanExec match the literal executed tree, not query-
    // stage wrappers — a miss here must mean ABSENT, not WRAPPED),
    // the band-store scan is bucket-aware and NO shuffle exchange
    // sits anywhere above it: the fresh side is the only side that
    // exchanges into the probe join.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = pairsFromStore().queryExecution.executedPlan
      // the operator scope-caches its sig-pair frame (r12), so parts
      // of the tree — including the probe join — live inside an
      // InMemoryRelation's cachedPlan; walk through cache boundaries
      // or the scan matcher sees nothing
      def cachedRoots(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            m.relation.cachedPlan
        }.flatMap(cp => cp +: cachedRoots(cp))
      val roots = plan +: cachedRoots(plan)
      def subtreeReadsStore(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collectLeaves().exists {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(_.toString.contains("band_store"))
          case _ => false
        }
      val storeScans = roots.flatMap(_.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("band_store")) => s
      })
      assert(storeScans.nonEmpty, "probe join must read the persisted band store")
      assert(storeScans.forall(_.bucketedScan), "band-store scan must be bucket-aware")
      // the claim is scoped to the PROBE join's store-side input: the
      // path from the bucketed scan up to the band join must carry no
      // exchange (sorts/projects are fine). Downstream stages (the
      // candidate distinct, the expansion joins) shuffle by design —
      // they group by different keys. Identify the probe input as a
      // join child whose subtree reads the store and contains no
      // further join.
      val probeStoreSides = roots.flatMap(_.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }).flatMap(_.children).filter { c =>
        subtreeReadsStore(c) && c.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty
      }
      assert(probeStoreSides.nonEmpty,
        "expected a join whose direct input reads the band store")
      for (side <- probeStoreSides) {
        val ex = side.collect { case e: ShuffleExchangeExec => e }
        assert(ex.isEmpty,
          s"corpus band store must flow exchange-free into the probe join, found:\n$side")
      }
      // non-vacuity: the plan DOES shuffle elsewhere (the fresh side,
      // the expansion joins) — the empty match above means the store
      // input specifically is exchange-free, not that the matcher
      // found nothing at all
      assert(roots.flatMap(_.collect { case e: ShuffleExchangeExec => e }).nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  strictTest("incremental screen PairMode: Star ⊆ Full with the SAME per-fresh-doc verdict on random splits; Bounded predicts exactly; Star keeps the exchange-free probe") {
    for (seed <- Seq(5, 6)) {
      val docs = corpus(seed, nDocs = 150, vocab = 12)
      val fresh = docs.filter(col("doc_id") % 3 === 0)
      val corp = docs.filter(col("doc_id") % 3 =!= 0)
      val full = Dedup.incrementalLshPairs(spark, corp, fresh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(full.nonEmpty, "fixture must produce candidates")
      val star = Dedup.incrementalLshPairs(spark, corp, fresh, mode = PairMode.Star)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // every star edge is a pair Full emits (rep edges are real pairs)
      assert(star.subsetOf(full), s"star emitted ${(star -- full).take(3)} not under Full")
      // the admit/drop verdict: exactly the same fresh docs are flagged
      def flagged(ps: Set[(Long, Long)]): Set[Long] =
        ps.flatMap(p => Seq(p._1, p._2)).filter(_ % 3 == 0)
      assert(flagged(star) == flagged(full),
        s"star verdict diverged: ${(flagged(star) diff flagged(full)) ++ (flagged(full) diff flagged(star))}")
      // Bounded: exact Full-count prediction, loud throw, bit-identical under budget
      val e = intercept[PairBudgetExceededException] {
        Dedup.incrementalLshPairs(spark, corp, fresh, mode = PairMode.Bounded(0L)).count()
      }
      assert(e.predictedPairs == full.size.toLong,
        s"predicted ${e.predictedPairs} != full output ${full.size}")
      assert(Dedup.incrementalLshPairs(spark, corp, fresh,
        mode = PairMode.Bounded(full.size.toLong))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == full)
    }
    // plan shape: the Star screen against the BUCKETED store keeps the
    // exchange-free probe (the rep aggregation groups by sig_key — a
    // different key — and must not re-shuffle the store into the band
    // join)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = corpus(seed = 11, nDocs = 150, vocab = 12)
    val fresh = docs.filter(col("doc_id") % 3 === 0)
    val corp = docs.filter(col("doc_id") % 3 =!= 0)
    graft.core.Warehouse.writeBucketed(
      Dedup.minhashBandStore(corp), "band_store_pm", Seq("band", "bkey"), 8)
    graft.core.Warehouse.writeBucketed(
      Dedup.minhashMembers(corp), "member_store_pm", Seq("sig_key"), 8)
    def starFromStore() = Dedup.incrementalLshPairsAgainstStore(spark,
      spark.table("band_store_pm"), spark.table("member_store_pm"), fresh,
      mode = PairMode.Star)
    val expected = Dedup.incrementalLshPairs(spark, corp, fresh, mode = PairMode.Star)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starFromStore().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = starFromStore().queryExecution.executedPlan
      def subtreeReadsStore(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collectLeaves().exists {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(_.toString.contains("band_store_pm"))
          case _ => false
        }
      val storeScans = plan.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("band_store_pm")) => s
      }
      assert(storeScans.nonEmpty, "star probe must read the persisted band store")
      assert(storeScans.forall(_.bucketedScan), "star band-store scan must be bucket-aware")
      val probeStoreSides = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.flatMap(_.children).filter { c =>
        subtreeReadsStore(c) && c.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty
      }
      assert(probeStoreSides.nonEmpty,
        "expected a join whose direct input reads the band store")
      for (side <- probeStoreSides)
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"star screen must keep the exchange-free store probe:\n$side")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  strictTest("simhashComponents: exact dups + hamming-close docs merge, disjoint stay apart") {
    val base = (1 to 60).map(i => s"tok$i")
    val docs = Seq(
      (1L, base.mkString(" ")),                               // |
      (2L, base.mkString(" ")),                               // | exact dup (hamming 0)
      (3L, (base.drop(1) :+ "xx").mkString(" ")),             // near: one token swapped
      (4L, (1 to 60).map(i => s"other$i").mkString(" ")))     // disjoint vocabulary
      .toDF("doc_id", "text")
    val got = Dedup.simhashComponents(spark, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L, "identical fingerprints must share a component")
    assert(got(4L) != got(1L), "disjoint doc must stay apart")
    // component assignment must equal the union-find closure of the
    // declared pair operator at the same maxHamming
    val edges = Dedup.simhashNearDupPairs(spark, docs, maxHamming = 1)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb }
    val expected = got.keySet.groupBy(find).flatMap { case (_, ms) =>
      val m = ms.min; ms.map(_ -> m)
    }
    assert(got == expected)
  }

  strictTest("simhashNearDupPairs == brute-force Hamming pairs (3 random corpora, h = 0..3)") {
    // independent reference for the banded join: every doc pair whose
    // fingerprints differ in <= h bits, found without any banding —
    // the 4 x 8-bit bands must recall each of them exactly
    var nonIdentical = 0
    for (seed <- Seq(11, 12, 13)) {
      val docs = corpus(seed, nDocs = 150, vocab = 15)
      val fps = Dedup.simhash(spark, docs).collect().map(r => r.getLong(0) -> r.getLong(1))
      for (h <- 0 to 3) {
        val want = (for {
          (a, fa) <- fps; (b, fb) <- fps if a < b
          d = java.lang.Long.bitCount(fa ^ fb) if d <= h
        } yield (a, b, d.toLong)).toSet
        val got = Dedup.simhashNearDupPairs(spark, docs, maxHamming = h)
          .select("doc_a", "doc_b", "hamming").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == want, s"seed=$seed h=$h: got ${got.size} pairs, brute force ${want.size}")
        nonIdentical += want.count(_._3 > 0)
      }
    }
    assert(nonIdentical > 0, "the corpora must exercise non-identical fingerprint pairs")
  }

  hygieneTest("invalid maxHamming fails fast with nothing left persisted") {
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    // the require must fire BEFORE register — an invalid argument
    // must not leave a persisted frame waiting for an unrelated action
    intercept[IllegalArgumentException](Dedup.simhashNearDupPairs(spark, docs, maxHamming = 9))
    intercept[IllegalArgumentException](Dedup.simhashComponents(spark, docs, maxHamming = -1))
    assert(graft.core.ScopedCache.registered.isEmpty,
      "failed validation must not leave an entry in the scoped-cache registry")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "failed validation must not leak persisted tables")
  }

  hygieneTest("near-dup operators leave no cached tables behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = corpus(seed = 21, nDocs = 80, vocab = 12)
    Dedup.jaccardNearDupPairs(docs, 0.5).count()
    Dedup.jaccardNearDupPairs(docs, 0.4, ngram = 2).count()
    Dedup.minhashLshPairs(spark, docs).count()
    graft.core.ScopedCache.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "dedup operators must not leak persisted tables into the session")
  }

  hygieneTest("scoped caches self-release after the consuming action, WITHOUT releaseCaches()") {
    val docs = corpus(seed = 33, nDocs = 60, vocab = 10)
    // both registry users, consumed by plain actions a library user
    // would run; no explicit release anywhere in this test
    val bm = TextOps.bm25TopK(docs, Seq("w1", "w2"), 5).count()
    TextOps.dupSpans(docs, 4).count()
    // signature/fingerprint caches: single-action registrations …
    Dedup.simhashNearDupPairs(spark, docs).count()
    Dedup.minhashLshPairs(spark, docs).count()
    // … and the component registrations, whose lifetime is derived
    // (edge materialization inside connectedComponents + this action,
    // + the guard's count when guarded) — every component operator,
    // both jaccard plans, unguarded and guarded
    for (mc <- Seq(None, Some(Long.MaxValue))) {
      Dedup.simhashComponents(spark, docs, maxCandidates = mc).count()
      Dedup.minhashComponents(spark, docs, maxCandidates = mc).count()
      Dedup.jaccardComponents(docs, 0.8, maxCandidates = mc).count()
      Dedup.jaccardComponents(docs, 0.3, ngram = 2, maxCandidates = mc).count()
      Dedup.keepBestPerCluster(docs, 0.8, maxCandidates = mc).count()
    }
    assert(bm >= 0)
    // the QueryExecutionListener fires on the listener-bus thread
    // after the action returns — poll briefly instead of racing it
    val deadline = System.currentTimeMillis() + 15000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"caches not self-released: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  hygieneTest("scoped caches outlive the operator's own eager jobs and end with the caller's first action") {
    import org.apache.spark.sql.graft.TestBridge
    val docs = corpus(seed = 35, nDocs = 60, vocab = 10)
    val probes = docs.filter(col("doc_id") % 5 === 0)
    // both have run their eager jobs before returning: the guard's
    // count and the connectedComponents edge job; the sketch build
    val comps = Dedup.minhashComponents(spark, docs, maxCandidates = Some(Long.MaxValue))
    val hits = Dedup.bloomContamination(docs, probes)
    TestBridge.drainListenerBus(spark)
    val held = graft.core.ScopedCache.registered
    assert(held.size >= 3, s"expected the signature, rep and probe-gram caches, got ${held.size}")
    assert(held.forall(TestBridge.cacheLoaded),
      "an operator's own eager jobs must leave its caches registered and materialized")
    assert(comps.count() > 0 && hits.count() >= 0)
    assertNoCachesLeft("the caller's first action on each output must release its caches")
  }

  hygieneTest("ScopedCache.register outside a scope throws") {
    val e = intercept[IllegalStateException](
      graft.core.ScopedCache.register(spark.range(3).toDF("x")))
    assert(e.getMessage.contains("outside ScopedCache.scope"))
    assert(graft.core.ScopedCache.registered.isEmpty)
  }

  strictTest("round-5 curation ops are invariant under repartitioning") {
    val rnd = new Random(29)
    val df = (1L to 400L).map { i =>
      (i, s"src${rnd.nextInt(7)}", rnd.nextInt(500).toLong,
        Seq.fill(3 + rnd.nextInt(8))(('a' + rnd.nextInt(5)).toChar).mkString + " " +
          Seq.fill(2 + rnd.nextInt(6))(('a' + rnd.nextInt(5)).toChar).mkString)
    }.toDF("doc_id", "source", "n_chars", "text")
    def run[A](parts: Int, f: org.apache.spark.sql.DataFrame => Array[A]): Array[A] =
      f(df.repartition(parts))
    // splitAssign: pure row function — identical rows at any layout
    def splits(p: Int) = run(p, d => TextOps.splitAssign(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1))
    assert(splits(1).sameElements(splits(17)))
    // sourceCap: integer priority + id tie-break pins the kept set
    def caps(p: Int) = run(p, d => TextOps.sourceCap(d, 20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).sortBy(_._1))
    assert(caps(1).sameElements(caps(17)))
    // bpePairStats: partial aggregation commutes with layout
    def pairs(p: Int) = run(p, d => TextOps.bpePairStats(d, 2L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted)
    assert(pairs(1).sameElements(pairs(17)))
    // bpeTrain: integer counts + total tie-break -> identical merges
    assert(TextOps.bpeTrain(df.repartition(1), 4, 2L) ==
           TextOps.bpeTrain(df.repartition(17), 4, 2L))
  }

  strictTest("decimal moneySum is invariant under repartitioning") {
    val rnd = new Random(7)
    val df = (1 to 5000).map(i => (i % 13, rnd.nextDouble() * 1000)).toDF("k", "v")
    def total(parts: Int): Map[Int, Double] =
      df.repartition(parts).groupBy("k")
        .agg(graft.core.Ops.moneySum(col("v"), 2).as("s"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(total(1) == total(32))
  }

  // ---- PairMode: the output-quadratic pair-emission contract ----

  /** Driver union-find for closure comparison — the shared
    * [[TestClosure.componentsOf]] (one copy across the PairMode
    * specs). */
  private def componentsOf(edges: Set[(Long, Long)], nodes: Set[Long]): Map[Long, Long] =
    TestClosure.componentsOf(edges, nodes)

  hygieneTest("nested cache brackets: an outer-operator throw after an inner success releases the inner call's registrations") {
    // inner scope registers + succeeds, outer throws AFTER — the
    // handed-up registrations must be released by the outer scope's
    // cleanup, not stranded until session teardown.
    val df = spark.range(10).toDF("x")
    val boom = intercept[RuntimeException] {
      graft.core.ScopedCache.scope {
        val inner = graft.core.ScopedCache.scope {
          graft.core.ScopedCache.register(df)
        }
        assert(inner != null)
        throw new RuntimeException("outer failure after inner success")
      }
    }
    assert(boom.getMessage.contains("outer failure"))
    assert(graft.core.ScopedCache.registered.isEmpty,
      "outer-bracket throw must release the inner call's propagated registrations")
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  strictTest("PairMode.Star: spanning subset of Full with the SAME transitive closure (3 families)") {
    val docs = corpus(seed = 91, nDocs = 150, vocab = 8) // heavy duplication
    val families: Seq[(String, PairMode => DataFrame)] = Seq(
      "minhash" -> (m => Dedup.minhashLshPairs(spark, docs, mode = m)),
      "simhash" -> (m => Dedup.simhashNearDupPairs(spark, docs, maxHamming = 1, mode = m)),
      "jaccard" -> (m => Dedup.jaccardNearDupPairs(docs, 0.8, mode = m)))
    for ((name, run) <- families) {
      val full = run(PairMode.Full).collect().map(_.toSeq).toSet
      val star = run(PairMode.Star).collect().map(_.toSeq).toSet
      assert(star.subsetOf(full),
        s"$name: star emitted ${(star -- full).take(3)} not present under Full")
      def edges(rows: Set[Seq[Any]]): Set[(Long, Long)] =
        rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      val fe = edges(full)
      val se = edges(star)
      val nodes = fe.flatMap(e => Seq(e._1, e._2))
      assert(componentsOf(se, nodes) == componentsOf(fe, nodes),
        s"$name: star closure diverged from full closure")
      // star's identical-cluster share is linear by construction:
      // n−1 member→rep edges per cluster can never exceed doc count
      assert(se.size <= fe.size, s"$name: star emitted more pairs than full")
    }
  }

  hygieneTest("PairMode on a colossal cluster: Star is O(n), Bounded throws the documented guard, under-budget is bit-identical") {
    // 400 identical docs (one exact-dup cluster) + 5 strangers: Full
    // must emit the 400·399/2 clique; Star must emit the 399-edge star
    val big = (0 until 400).map(i => (i.toLong, "en", "w1 w2 w3 w4 w5 w6", 17L))
    val lone = (400 until 405).map(i => (i.toLong, "en", s"x$i y$i z$i q$i r$i s$i", 23L))
    val docs = (big ++ lone).toDF("doc_id", "lang", "text", "n_chars")
    val clique = 400L * 399L / 2L

    val fullCnt = Dedup.minhashLshPairs(spark, docs).count()
    assert(fullCnt >= clique, s"full should contain the $clique-pair clique, got $fullCnt")
    val starPairs = Dedup.minhashLshPairs(spark, docs, mode = PairMode.Star)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the star of the colossal cluster: rep 0 to each of 1..399
    assert((1L until 400L).forall(m => starPairs.contains((0L, m))))
    assert(starPairs.size < 420, s"star must be O(n), got ${starPairs.size}")

    // the guard fires at CALL time, before any expansion job, with
    // the exact predicted count in the message
    val e = intercept[PairBudgetExceededException] {
      Dedup.minhashLshPairs(spark, docs, mode = PairMode.Bounded(maxPairs = 1000L))
    }
    assert(e.predictedPairs == fullCnt, s"predicted ${e.predictedPairs} != actual $fullCnt")
    assert(e.getMessage.contains("PairMode.Star") && e.getMessage.contains("1000"))

    // under budget: bit-identical to Full — for all three families
    val okMin = Dedup.minhashLshPairs(spark, docs, mode = PairMode.Bounded(fullCnt))
    assert(okMin.collect().map(_.toSeq).toSet ==
      Dedup.minhashLshPairs(spark, docs).collect().map(_.toSeq).toSet)
    val okSim = Dedup.simhashNearDupPairs(spark, docs, mode = PairMode.Bounded(Long.MaxValue))
    assert(okSim.collect().map(_.toSeq).toSet ==
      Dedup.simhashNearDupPairs(spark, docs).collect().map(_.toSeq).toSet)
    val okJac = Dedup.jaccardNearDupPairs(docs, 0.8, mode = PairMode.Bounded(Long.MaxValue))
    assert(okJac.collect().map(_.toSeq).toSet ==
      Dedup.jaccardNearDupPairs(docs, 0.8).collect().map(_.toSeq).toSet)

    // Bounded guard also fires on the jaccard and simhash paths
    intercept[PairBudgetExceededException] {
      Dedup.jaccardNearDupPairs(docs, 0.8, mode = PairMode.Bounded(10L))
    }
    intercept[PairBudgetExceededException] {
      Dedup.simhashNearDupPairs(spark, docs, maxHamming = 1, mode = PairMode.Bounded(10L))
    }
    // the CO-COUNT plan (t < 0.5) takes a different cache shape under
    // Bounded (keyed frame + cluster pairs both scope-cached across
    // the guard and the caller's action) — pin both its budget
    // branches; the emptiness poll below then catches any
    // mis-scoped cache this path would strand
    val okJacCo = Dedup.jaccardNearDupPairs(docs, 0.3, ngram = 2,
      mode = PairMode.Bounded(Long.MaxValue))
    assert(okJacCo.collect().map(_.toSeq).toSet ==
      Dedup.jaccardNearDupPairs(docs, 0.3, ngram = 2).collect().map(_.toSeq).toSet)
    intercept[PairBudgetExceededException] {
      Dedup.jaccardNearDupPairs(docs, 0.3, ngram = 2, mode = PairMode.Bounded(10L))
    }
    // the throwing guard path must strand nothing (the family's
    // fail-fast convention): the operator's scope releases its
    // registrations on the throw — no releaseAll() here, emptiness
    // is the assertion. Poll: the guard's own queries finish on the
    // listener-bus thread.
    val deadline = System.currentTimeMillis() + 15000
    while ((!graft.core.ScopedCache.registered.isEmpty ||
            spark.sparkContext.getPersistentRDDs.nonEmpty) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(graft.core.ScopedCache.registered.isEmpty,
      "budget-guard throw left scoped-cache registrations behind")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "budget-guard throw left persisted tables behind")
  }

  hygieneTest("PairMode on the blocked prefix families (edit/jw): Star spanning subset + same closure, Bounded exact guard, under-budget bit-identical") {
    // small vocab → heavy text duplication → identical-prefix clusters;
    // distinct texts sharing the first 8 chars give cross-cluster pairs
    val docs = corpus(seed = 77, nDocs = 150, vocab = 6)
    val families: Seq[(String, PairMode => DataFrame)] = Seq(
      "edit" -> (m => Dedup.editDistancePairs(docs, maxDist = 6, mode = m)),
      "jw"   -> (m => Dedup.jaroWinklerPairs(docs, mode = m)))
    for ((name, run) <- families) {
      val full = run(PairMode.Full).collect().map(_.toSeq).toSet
      assert(full.nonEmpty, s"$name: fixture produced no pairs — test is vacuous")
      val star = run(PairMode.Star).collect().map(_.toSeq).toSet
      assert(star.subsetOf(full),
        s"$name: star emitted ${(star -- full).take(3)} not present under Full")
      def edges(rows: Set[Seq[Any]]): Set[(Long, Long)] =
        rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      val fe = edges(full)
      val nodes = fe.flatMap(e => Seq(e._1, e._2))
      assert(componentsOf(edges(star), nodes) == componentsOf(fe, nodes),
        s"$name: star closure diverged from full closure")
      // Bounded: the guard predicts the EXACT Full output count
      // (cluster pairs are confirm-filtered before the count, so the
      // prediction is the output, not the candidate set)
      val e = intercept[PairBudgetExceededException] { run(PairMode.Bounded(0L)) }
      assert(e.predictedPairs == full.size.toLong,
        s"$name: predicted ${e.predictedPairs} != full output ${full.size}")
      assert(run(PairMode.Bounded(full.size.toLong)).collect().map(_.toSeq).toSet == full,
        s"$name: under-budget Bounded diverged from Full")
    }

    // the per-cluster intra payload: jw('','') = 0.0 (StringSimilarity's
    // probed empty-side convention), NOT the non-empty 1.0 — all three
    // modes must agree on the empty-prefix cluster
    val empties = Seq((900L, "en", "", 0L), (901L, "en", "", 0L), (902L, "en", "", 0L))
      .toDF("doc_id", "lang", "text", "n_chars")
    val fullE = Dedup.jaroWinklerPairs(empties).collect().map(_.toSeq).toSet
    assert(fullE == Set(Seq(900L, 901L, 0.0), Seq(900L, 902L, 0.0), Seq(901L, 902L, 0.0)))
    assert(Dedup.jaroWinklerPairs(empties, mode = PairMode.Star)
      .collect().map(_.toSeq).toSet ==
      Set(Seq(900L, 901L, 0.0), Seq(900L, 902L, 0.0)))
    assert(Dedup.jaroWinklerPairs(empties, mode = PairMode.Bounded(3L))
      .collect().map(_.toSeq).toSet == fullE)
    // and the edit-distance intra payload is the exact 0 distance
    assert(Dedup.editDistancePairs(empties, 0, mode = PairMode.Star)
      .collect().map(_.toSeq).toSet ==
      Set(Seq(900L, 901L, 0L), Seq(900L, 902L, 0L)))

    // failed guard must strand nothing (family fail-fast convention)
    val deadline = System.currentTimeMillis() + 15000
    while ((!graft.core.ScopedCache.registered.isEmpty ||
            spark.sparkContext.getPersistentRDDs.nonEmpty) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(graft.core.ScopedCache.registered.isEmpty && spark.sparkContext.getPersistentRDDs.isEmpty,
      "blocked-family budget guard left caches behind")
  }

  strictTest("store-probe Star payload contract: every edge is a REAL Full pair naming the corpus-preferring rep") {
    // crafted clusters where a collapsed-cluster expansion (min over
    // ALL members) and the contract (corpus-preferring rep) diverge:
    //   A: corpus member 50 + fresh members 5, 6 — the GLOBAL min (5)
    //      is fresh, so naive min-collapse would elect 5 and emit
    //      (5,6)/nothing-for-5; the contract points both fresh dups
    //      at the already-admitted corpus copy 50
    //   B: purely-fresh duplicates 7, 8 — min fresh member 7 is the
    //      elected survivor (no edge), 8 points at it
    //   C: corpus-only duplicates 60, 61 — no fresh side, NO edges
    def doc(id: Long, text: String) = (id, "en", text, text.length.toLong)
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "one two three four five six seven"
    val tC = "red green blue yellow purple orange"
    val corp = Seq(doc(50, tA), doc(60, tC), doc(61, tC))
      .toDF("doc_id", "lang", "text", "n_chars")
    val fresh = Seq(doc(5, tA), doc(6, tA), doc(7, tB), doc(8, tB))
      .toDF("doc_id", "lang", "text", "n_chars")
    graft.core.Warehouse.writeBucketed(
      Dedup.minhashBandStore(corp), "band_store_pp", Seq("band", "bkey"), 4)
    graft.core.Warehouse.writeBucketed(
      Dedup.minhashMembers(corp), "member_store_pp", Seq("sig_key"), 4)
    def run(m: PairMode): Set[(Long, Long)] =
      Dedup.incrementalLshPairsAgainstStore(spark,
        spark.table("band_store_pp"), spark.table("member_store_pp"), fresh, mode = m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = run(PairMode.Full)
    val star = run(PairMode.Star)
    // every Star edge is an actual Full pair — endpoints are real
    // qualifying docs, never a synthetic cluster artifact
    assert(star.subsetOf(full), s"star emitted ${(star -- full).take(3)} not under Full")
    // cluster A: both fresh dups point at the CORPUS rep
    assert(star.contains((5L, 50L)) && star.contains((6L, 50L)),
      s"fresh duplicates must name the admitted corpus copy, got $star")
    assert(!star.contains((5L, 6L)),
      "collapsed-min expansion detected: fresh members linked to their own min")
    // cluster B: survivor 7 has exactly the (7,8) edge; 8 is flagged
    assert(star.filter(p => p._1 == 7L || p._2 == 7L) == Set((7L, 8L)))
    // cluster C: corpus-only clusters are deliberately not re-emitted
    assert(!star.exists(p => p._1 >= 60L || p._2 >= 60L),
      "corpus-only cluster leaked into the ingest screen")
    // verdict equality on the crafted fixture
    val freshIds = Set(5L, 6L, 7L, 8L)
    def flagged(ps: Set[(Long, Long)]): Set[Long] =
      ps.flatMap(p => Seq(p._1, p._2)).intersect(freshIds)
    assert(flagged(star) == flagged(full))

    // and on a random corpus through the SAME store-probe path (the
    // batch families' star-subset property, previously pinned only on
    // the re-derived-corpus overload): subset + verdict equality
    val docs = corpus(seed = 13, nDocs = 150, vocab = 12)
    val f2 = docs.filter(col("doc_id") % 3 === 0)
    val c2 = docs.filter(col("doc_id") % 3 =!= 0)
    graft.core.Warehouse.writeBucketed(
      Dedup.minhashBandStore(c2), "band_store_pp2", Seq("band", "bkey"), 4)
    graft.core.Warehouse.writeBucketed(
      Dedup.minhashMembers(c2), "member_store_pp2", Seq("sig_key"), 4)
    def run2(m: PairMode): Set[(Long, Long)] =
      Dedup.incrementalLshPairsAgainstStore(spark,
        spark.table("band_store_pp2"), spark.table("member_store_pp2"), f2, mode = m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full2 = run2(PairMode.Full)
    val star2 = run2(PairMode.Star)
    assert(full2.nonEmpty, "random fixture produced no candidates — vacuous")
    assert(star2.subsetOf(full2))
    def flag2(ps: Set[(Long, Long)]): Set[Long] =
      ps.flatMap(p => Seq(p._1, p._2)).filter(_ % 3 == 0)
    assert(flag2(star2) == flag2(full2))
  }

  hygieneTest("maxCandidates guard on the component/cluster operators: boundary-exact prediction, accepted run identical, throw strands nothing") {
    // small vocab → heavy duplication → hot banding buckets, the
    // regime the guard exists for
    val docs = corpus(seed = 21, nDocs = 150, vocab = 8)

    // the contract, per operator: budget == predicted ACCEPTS and is
    // identical to the unguarded run; predicted − 1 REFUSES with the
    // same prediction (the count is exact and stable, not a bound)
    def boundaryCheck(name: String, run: Option[Long] => DataFrame): Long = {
      val unguarded = run(None).collect().map(_.toSeq).toSet
      val e = intercept[CandidateBudgetExceededException] { run(Some(0L)) }
      val p = e.predictedCandidates
      assert(p > 0L, s"$name: fixture produced no candidates — test is vacuous")
      assert(e.maxCandidates == 0L)
      assert(run(Some(p)).collect().map(_.toSeq).toSet == unguarded,
        s"$name: guarded-accepted run diverged from the unguarded run")
      val e2 = intercept[CandidateBudgetExceededException] { run(Some(p - 1)) }
      assert(e2.predictedCandidates == p,
        s"$name: prediction unstable (${e2.predictedCandidates} != $p)")
      p
    }

    val pMin = boundaryCheck("minhashComponents",
      mc => Dedup.minhashComponents(spark, docs, maxCandidates = mc))
    boundaryCheck("simhashComponents",
      mc => Dedup.simhashComponents(spark, docs, maxCandidates = mc))
    boundaryCheck("jaccardComponents(prefix)",
      mc => Dedup.jaccardComponents(docs, 0.8, maxCandidates = mc))
    boundaryCheck("jaccardComponents(co-count)",
      mc => Dedup.jaccardComponents(docs, 0.3, ngram = 2, maxCandidates = mc))
    boundaryCheck("keepBestPerCluster",
      mc => Dedup.keepBestPerCluster(docs, 0.8, maxCandidates = mc))

    // independent pin of one family's prediction: recompute the
    // minhash (band, bkey) histogram from the PUBLIC signature
    // operator with the documented band-key formula (xxhash64(b,
    // 4-slice) at rowsPerBand = 4) and sum n·(n−1)/2 — the guard's
    // number must be that, not merely self-consistent
    val sigs = Dedup.minhashSignatureArrays(docs)
      .select(xxhash64(col("mhs")).as("sig_key"), col("mhs")).distinct()
    val expected = sigs
      .select(col("sig_key"), posexplode(array((0 until 4).map(b =>
        xxhash64(lit(b), slice(col("mhs"), b * 4 + 1, 4))): _*)))
      .groupBy(col("pos"), col("col")).count()
      .agg(coalesce(sum(expr("count * (count - 1) div 2")), lit(0L)))
      .head().getLong(0)
    assert(pMin == expected,
      s"minhash prediction $pMin != independently recomputed $expected")

    // refused calls must strand nothing (the family's fail-fast
    // convention — poll: the release listener fires on the bus thread)
    val deadline = System.currentTimeMillis() + 15000
    while ((!graft.core.ScopedCache.registered.isEmpty ||
            spark.sparkContext.getPersistentRDDs.nonEmpty) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(graft.core.ScopedCache.registered.isEmpty && spark.sparkContext.getPersistentRDDs.isEmpty,
      "maxCandidates guard left caches behind")
  }

  strictTest("lastPerGroup == Scala overwrite loop on random events") {
    val rnd = new Random(5)
    val rows = (0 until 2000).map { i =>
      (i.toLong, rnd.nextInt(40).toLong, s"t${rnd.nextInt(5)}", rnd.nextDouble(),
        1600000000000000000L + rnd.nextInt(1000000) * 1000L)
    }
    val df = rows.toDF("event_id", "user_id", "event_type", "value", "ts")
    val got = graft.core.Ops.lastPerGroup(df).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
    // imperative reference: iterate in (ts, event_id) order, overwrite
    val expected = rows.groupBy(_._2).map { case (u, rs) =>
      u -> rs.maxBy(r => (r._5, r._1))._1
    }
    assert(got == expected)
  }
}
