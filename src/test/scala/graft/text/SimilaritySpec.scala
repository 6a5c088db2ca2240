package graft.text

import scala.util.Random
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN-path properties: hyperplane quality (bucket dispersion — the
  * regression an oracle-parity check cannot catch, since the oracle
  * mirrors the formula), multi-probe recall, and the probe-list
  * contract.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val realEmbeddings = "/root/testdata/sf0.001/embeddings.parquet"

  /** Clustered corpus: `nClusters` seeded centers, `perCluster` points
    * at small radius — the geometry real embedding corpora have and
    * the one LSH recall guarantees are stated for. */
  private def clustered(seed: Int, nClusters: Int, perCluster: Int, dim: Int,
                        noise: Float = 0.05f): DataFrame = {
    val rnd = new Random(seed)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian().toFloat)
    // interleave: point i belongs to cluster i % nClusters, so the
    // first `nQueries` vec_ids span distinct clusters
    (0 until nClusters * perCluster).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => x + noise * rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def recallAtK(approx: DataFrame, exact: DataFrame): Double = {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = pairs(exact)
    pairs(approx).intersect(e).size.toDouble / e.size
  }

  test("a NaN-component vector cannot poison top-k, near-dup pairs, or components") {
    // Spark orders NaN GREATER than every value and NaN >= t is true
    // (r12 review): unguarded, one embedder-failure vector outranks
    // every real neighbor and near-dups with everything it shares a
    // bucket with. The guards must exclude it like the zero-norm NULL.
    val good = (0L to 5L).map(i =>
      (i, Seq.fill(8)(0.1f * (i + 1))))            // colinear: sim 1.0 pairwise
    val bad = Seq((99L, Seq(Float.NaN) ++ Seq.fill(7)(0.1f)))
    val docs = (good ++ bad).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(docs, nQueries = 2, k = 3)
    assert(top.count() > 0)
    assert(!top.select("vec_id").as[Long].collect().contains(99L),
      "NaN vector must never fill a top-k slot")
    assert(top.select("sim").as[Double].collect().forall(s => !s.isNaN))
    val pairs = Similarity.embeddingNearDupPairs(docs, 0.9)
    assert(pairs.count() > 0)
    assert(pairs.select("id_a", "id_b").collect()
      .forall(r => r.getLong(0) != 99L && r.getLong(1) != 99L),
      "NaN vector must never pass the near-dup threshold")
    // components: the NaN vector stays its own singleton
    val comp = Similarity.embeddingComponents(docs, 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(99L) == 99L, "NaN vector must not chain into a component")
    // semanticDedup: never dropped by an undefined sim, and assigned
    // the SENTINEL cell −1, not a real cell (r13 review: NaN > x is
    // TRUE in Spark, so the unguarded argmax fold parked NaN vectors
    // in the LAST centroid's cell)
    val sdRows = Similarity.semanticDedup(docs, 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(!sdRows(99L)._2, "NaN vector must not be dropped by an undefined sim")
    assert(sdRows(99L)._1 == -1L,
      s"NaN vector must take the sentinel cell -1, got ${sdRows(99L)._1}")
    assert(sdRows.filter(_._1 != 99L).values.forall(_._1 >= 0L),
      "real vectors must keep real cells")
  }

  test("gramMatrix: a NULL embedding row is a vectorless row — dropped, not an executor NPE") {
    val clean = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(0.5f, -1.0f)))
    val withNull = (clean :+ (3L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    def cells(df: org.apache.spark.sql.DataFrame) =
      Similarity.gramMatrix(df).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(cells(withNull) == cells(clean.toDF("vec_id", "embedding")),
      "null-embedding row must contribute nothing to the Gram sum")
  }

  test("pqTopK: m = 0 fails with the named (m, dim) require, not a bare division error") {
    val docs = (0L to 3L).map(i => (i, Seq.fill(64)(0.1f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(docs, nQueries = 1, k = 1, m = 0)
    }
    assert(e.getMessage != null && e.getMessage.toLowerCase.contains("m"),
      s"expected the named require message, got: ${e.getMessage}")
  }

  test("minMaxScale: a NaN component stays on its own row, never smears its dimension") {
    val df = Seq((1L, Seq(1.0f, 5.0f)), (2L, Seq(3.0f, Float.NaN)), (3L, Seq(2.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.minMaxScale(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // dim 1 stats come from the finite values {5.0, 7.0} only
    assert(got((1L, 1L)) == 0.0 && got((3L, 1L)) == 1.0,
      s"finite rows of the poisoned dimension must scale normally: $got")
    assert(got((2L, 1L)).isNaN, "the poisoned row keeps its NaN visibly")
    assert(got((1L, 0L)) == 0.0 && got((2L, 0L)) == 1.0 && got((3L, 0L)) == 0.5)
  }

  test("gramMatrix fails loudly with row context on a non-finite component") {
    val df = Seq((7L, Seq(0.5f, Float.NaN))).toDF("vec_id", "embedding")
    val e = intercept[org.apache.spark.SparkException] {
      Similarity.gramMatrix(df).collect()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg != null && msg.contains("vec_id=7"),
      s"error must name the offending row, got: $msg")
  }

  test("gramMatrix: integer micro²-units closed form, upper triangle only") {
    val e = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, Seq(0.5f, -1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.gramMatrix(e).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    // q: (1e6, 2e6), (5e5, -1e6)
    assert(got((0L, 0L)) == (2L, 1000000L * 1000000L + 500000L * 500000L))
    assert(got((0L, 1L)) == (2L, 1000000L * 2000000L + 500000L * -1000000L))
    assert(got((1L, 1L)) == (2L, 2000000L * 2000000L + 1000000L * 1000000L))
    assert(got.size == 3, s"upper triangle of d=2 has 3 cells: ${got.keySet}")
  }

  test("gramMatrix: mixed-length vectors across many partitions match the brute force") {
    // r15 optimization pin: the per-partition triangular accumulator
    // (grow-on-longer-vector, per-cell counts, cross-partition merge)
    // must reproduce the naive cell-per-row-per-pair aggregation on a
    // corpus with ragged dimensions spread over more partitions than
    // rows-per-partition.
    val rnd = new Random(7)
    val rows = (1L to 37L).map { i =>
      val d = 1 + rnd.nextInt(5) // lengths 1..5
      (i, Seq.fill(d)((rnd.nextDouble() * 4 - 2).toFloat))
    }
    val got = Similarity.gramMatrix(rows.toDF("vec_id", "embedding").repartition(13))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    def quant(f: Float): Long =
      BigDecimal(f.toDouble * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expected = rows.flatMap { case (_, v) =>
      val q = v.map(quant)
      for (i <- q.indices; j <- i until q.length)
        yield (i.toLong, j.toLong) -> q(i) * q(j)
    }.groupBy(_._1).map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2).sum) }
    assert(got == expected,
      s"accumulated cells diverge from brute force: got ${got.size} cells, expected ${expected.size}")
  }

  test("topPrincipalComponent finds the dominant direction; removeTopPC orthogonalizes") {
    // corpus stretched along (3,4)/5: top PC must align with it
    val dir = Array(0.6, 0.8)
    val rnd = new Random(11)
    val e = (1 to 200).map { i =>
      val t = rnd.nextGaussian() * 10 // dominant axis
      val n = rnd.nextGaussian() * 0.1 // off-axis noise
      (i.toLong, Seq((t * dir(0) - n * dir(1)).toFloat, (t * dir(1) + n * dir(0)).toFloat))
    }.toDF("vec_id", "embedding")
    val v = Similarity.topPrincipalComponent(e)
    assert(math.abs(math.abs(v(0) * dir(0) + v(1) * dir(1)) - 1.0) < 1e-3,
      s"PC ${v.toSeq} should align with ${dir.toSeq}")
    // sign pinned: largest-|component| entry positive
    assert(v(v.indices.maxBy(i => math.abs(v(i)))) > 0)
    // residuals are orthogonal to the removed direction (up to the
    // 6-dp output rounding)
    val resid = Similarity.removeTopPC(e).collect()
      .groupBy(_.getLong(0)).values.map { rows =>
        rows.sortBy(_.getLong(1)).map(_.getDouble(2))
          .zip(v).map { case (x, vi) => x * vi }.sum
      }
    assert(resid.forall(r => math.abs(r) < 1e-4), s"max ${resid.map(math.abs).max}")
  }

  test("lshBucket disperses the real embeddings across ~2^h buckets") {
    val emb = spark.read.parquet(realEmbeddings)
    val counts = emb.select(Similarity.lshBucket(col("embedding"), 4).as("bkt"))
      .groupBy("bkt").count().collect().map(r => r.getLong(0) -> r.getLong(1))
    val total = counts.map(_._2).sum
    // the degenerate affine-parity planes yielded 2 buckets of ~n/2;
    // genuine mixing must give (nearly) all 16, none dominant
    assert(counts.length >= 12, s"only ${counts.length} distinct buckets: ${counts.toSeq}")
    assert(counts.map(_._2).max.toDouble / total < 0.3,
      s"a single bucket holds ${counts.map(_._2).max} of $total vectors")
  }

  test("probeBuckets: primary bucket first, distinct, nProbes entries") {
    val emb = spark.read.parquet(realEmbeddings).limit(50)
    val rows = emb.select(
        Similarity.lshBucket(col("embedding"), 4).as("bkt"),
        Similarity.probeBuckets(col("embedding"), 4, 3).as("probes"))
      .collect()
    rows.foreach { r =>
      val probes = r.getSeq[Long](1)
      assert(probes.length == 3)
      assert(probes.head == r.getLong(0), "first probe must be the vector's own bucket")
      assert(probes.distinct.length == probes.length, s"duplicate probes: $probes")
      // each extra probe differs from the primary in exactly one bit
      probes.tail.foreach(p => assert(java.lang.Long.bitCount(p ^ probes.head) == 1))
    }
  }

  test("2-probe ANN recall@5 >= 0.9 on clustered vectors") {
    val vecs = clustered(seed = 42, nClusters = 12, perCluster = 25, dim = 64)
    val exact = Similarity.cosineTopK(vecs, nQueries = 8, k = 5)
    val approx = Similarity.cosineTopKBucketed(vecs, nQueries = 8, k = 5, nPlanes = 4, nProbes = 2)
    val r = recallAtK(approx, exact)
    assert(r >= 0.9, s"recall@5 = $r")
  }

  test("embeddingNearDupPairs: subset of brute-force pairs, recall rises with bands") {
    val vecs = clustered(seed = 7, nClusters = 10, perCluster = 20, dim = 64, noise = 0.15f)
    val tau = 0.8
    // brute-force ground truth over all pairs
    val e = vecs.select(col("vec_id"), col("embedding"),
      Similarity.norm2(col("embedding")).as("nrm"))
    val truth = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", round(Similarity.dot(col("a.embedding"), col("b.embedding"))
        / sqrt(col("a.nrm") * col("b.nrm")), 6))
      .filter(col("sim") >= tau)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "test geometry must produce near-dup pairs")
    def found(nBands: Int): Set[(Long, Long)] =
      Similarity.embeddingNearDupPairs(vecs, tau, nPlanes = 4, nBands = nBands)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val f1 = found(1); val f4 = found(4)
    // every emitted pair is a true near-dup (precision 1 by construction)
    assert(f4.subsetOf(truth), s"false positives: ${f4.diff(truth).take(5)}")
    assert(f1.subsetOf(f4) || f1.size <= f4.size, "banding must not lose pairs")
    val recall = f4.size.toDouble / truth.size
    assert(recall >= 0.9, s"4-band recall = $recall (${f4.size}/${truth.size})")
  }

  test("embeddingNearDupPairs emits each pair once with id_a < id_b") {
    val vecs = spark.read.parquet(realEmbeddings)
    val rows = Similarity.embeddingNearDupPairs(vecs, 0.3).collect()
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length, "duplicate pairs emitted")
    keys.foreach { case (a, b) => assert(a < b) }
  }

  test("embeddingNearDupPairs PairMode: Star spanning subset + same closure, colossal clique is O(n), Bounded exact guard, under-budget bit-identical") {
    // clustered corpus + a 30-member exact-duplicate clique: Full must
    // emit the 30·29/2 = 435-pair clique; Star the 29-edge star
    val base = clustered(seed = 5, nClusters = 4, perCluster = 10, dim = 8)
    val dupVec = Seq.fill(8)(0.25f)
    val dups = (100L until 130L).map(i => (i, dupVec)).toDF("vec_id", "embedding")
    val docs = base.unionByName(dups)
    def run(m: PairMode) = Similarity.embeddingNearDupPairs(docs, 0.9, mode = m)

    val full = run(PairMode.Full).collect().map(_.toSeq).toSet
    assert(full.nonEmpty)
    val star = run(PairMode.Star).collect().map(_.toSeq).toSet
    assert(star.subsetOf(full), s"star emitted ${(star -- full).take(3)} not under Full")
    def edges(rows: Set[Seq[Any]]): Set[(Long, Long)] =
      rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    def componentsOf(es: Set[(Long, Long)], nodes: Set[Long]): Map[Long, Long] =
      TestClosure.componentsOf(es, nodes)
    val fe = edges(full)
    val nodes = fe.flatMap(e => Seq(e._1, e._2))
    assert(componentsOf(edges(star), nodes) == componentsOf(fe, nodes),
      "star closure diverged from full closure")
    // the clique term: Full quadratic, Star linear with sim = 1.0
    assert(full.count(r => r(0).asInstanceOf[Long] >= 100L &&
      r(1).asInstanceOf[Long] >= 100L) == 435)
    assert((101L until 130L).forall(m => star.contains(Seq(100L, m, 1.0))))

    // Bounded: predicts the EXACT Full output count before expanding
    val e = intercept[PairBudgetExceededException] { run(PairMode.Bounded(10L)) }
    assert(e.predictedPairs == full.size.toLong,
      s"predicted ${e.predictedPairs} != full output ${full.size}")
    assert(run(PairMode.Bounded(full.size.toLong)).collect().map(_.toSeq).toSet == full,
      "under-budget Bounded diverged from Full")

    // undefined-self-sim clusters (zero-norm, NaN) drop from every
    // mode identically — including Bounded's prediction
    val poisoned = docs.unionByName(Seq(
      (200L, Seq.fill(8)(0.0f)), (201L, Seq.fill(8)(0.0f)),
      (202L, Seq(Float.NaN) ++ Seq.fill(7)(0.1f))).toDF("vec_id", "embedding"))
    def runP(m: PairMode) = Similarity.embeddingNearDupPairs(poisoned, 0.9, mode = m)
    assert(runP(PairMode.Full).collect().map(_.toSeq).toSet == full)
    assert(runP(PairMode.Star).collect().map(_.toSeq).toSet == star)
    val e2 = intercept[PairBudgetExceededException] { runP(PairMode.Bounded(10L)) }
    assert(e2.predictedPairs == full.size.toLong)

    // threshold > 1 now fails loudly in every mode (cosine ≤ 1)
    intercept[IllegalArgumentException] { Similarity.embeddingNearDupPairs(docs, 1.5) }

    // failed guard must strand nothing (family fail-fast convention)
    val deadline = System.currentTimeMillis() + 15000
    while ((!graft.core.ScopedCache.registered.isEmpty ||
            spark.sparkContext.getPersistentRDDs.nonEmpty) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(graft.core.ScopedCache.registered.isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty,
      "embedding budget guard left caches behind")
  }

  test("embeddingComponents maxCandidates guard: boundary-exact prediction, accepted run identical, rep-collapse bounds the count, strands nothing") {
    // clustered corpus + a 20-member exact-duplicate clique: the
    // clique collapses to ONE rep before the candidate join, so the
    // prediction must be bounded by distinct vectors, not rows
    val base = clustered(seed = 7, nClusters = 3, perCluster = 12, dim = 8)
    val dupVec = Seq.fill(8)(0.25f)
    val dups = (100L until 120L).map(i => (i, dupVec)).toDF("vec_id", "embedding")
    val docs = base.unionByName(dups)
    def run(mc: Option[Long]) =
      Similarity.embeddingComponents(docs, 0.9, maxCandidates = mc)

    val unguarded = run(None).collect().map(_.toSeq).toSet
    val e = intercept[CandidateBudgetExceededException] { run(Some(0L)) }
    val p = e.predictedCandidates
    assert(p > 0L, "fixture produced no candidates — test is vacuous")
    assert(run(Some(p)).collect().map(_.toSeq).toSet == unguarded,
      "guarded-accepted run diverged from the unguarded run")
    val e2 = intercept[CandidateBudgetExceededException] { run(Some(p - 1)) }
    assert(e2.predictedCandidates == p, "prediction unstable")
    // rep collapse: with 4 bands the prediction can never exceed
    // nBands · nReps·(nReps−1)/2 — on this fixture far below the
    // row-level pair count the clique would otherwise contribute
    val nReps = docs.select("embedding").distinct().count()
    assert(p <= 4L * nReps * (nReps - 1L) / 2L,
      s"prediction $p exceeds the distinct-vector bound (nReps=$nReps)")

    val deadline = System.currentTimeMillis() + 15000
    while ((!graft.core.ScopedCache.registered.isEmpty ||
            spark.sparkContext.getPersistentRDDs.nonEmpty) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(graft.core.ScopedCache.registered.isEmpty &&
      spark.sparkContext.getPersistentRDDs.isEmpty,
      "embeddingComponents maxCandidates guard left caches behind")
  }

  test("ivfTopK equals brute-force when probing all cells") {
    val vecs = spark.read.parquet(realEmbeddings)
    val exact = Similarity.cosineTopK(vecs, nQueries = 8, k = 5)
    val all = Similarity.ivfTopK(vecs, nQueries = 8, k = 5, nCells = 16, nProbe = 16)
    assert(recallAtK(all, exact) == 1.0, "nProbe = nCells must recover the exact top-k")
  }

  test("ivfTopK recall@5 on clustered vectors with 2-probe") {
    val vecs = clustered(seed = 42, nClusters = 12, perCluster = 25, dim = 64)
    val exact = Similarity.cosineTopK(vecs, nQueries = 8, k = 5)
    val approx = Similarity.ivfTopK(vecs, nQueries = 8, k = 5, nCells = 16, nProbe = 2)
    val r = recallAtK(approx, exact)
    assert(r >= 0.8, s"IVF 2-probe recall@5 = $r")
  }

  test("lloyd-trained quantizer beats the seeded one at equal nProbe on clustered vectors") {
    // BLOCKED layout: the first 16 vec_ids — the quantizer seeds — all
    // fall inside cluster 0, the worst-case seed draw the first-nCells
    // stand-in suffers on sorted/grouped corpora. Training must pull
    // centroids out toward the true cluster centers.
    val rnd = new Random(3)
    val dim = 32; val nClusters = 8; val per = 30
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian().toFloat)
    val vecs = (0 until nClusters * per).map { i =>
      val c = centers(i / per)
      (i.toLong, c.map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(vecs, nQueries = 8, k = 5)
    val seeded = recallAtK(
      Similarity.ivfTopK(vecs, 8, 5, nCells = 16, nProbe = 2), exact)
    val trained = recallAtK(
      Similarity.ivfTopK(vecs, 8, 5, nCells = 16, nProbe = 2, lloydIters = 5), exact)
    // measured: seeded 0.25 → trained 0.625 (2.5×); k-means from a
    // fully degenerate draw settles in a local optimum, so the bar is
    // "decisively better", not "perfect"
    assert(trained >= seeded + 0.3,
      s"training must improve recall decisively: seeded=$seeded trained=$trained")
    assert(trained >= 0.6, s"trained recall@5 = $trained")
    // decimal-summed updates make training bit-reproducible
    val trained2 = recallAtK(
      Similarity.ivfTopK(vecs, 8, 5, nCells = 16, nProbe = 2, lloydIters = 5), exact)
    assert(trained == trained2, "lloyd training must be deterministic")

    // sampled training (the 100-TB path: each Lloyd round scans a
    // bounded fixed-seed sample, not the corpus) must still decisively
    // beat the degenerate seed draw, and stay deterministic
    val sampled = recallAtK(
      Similarity.ivfTopK(vecs, 8, 5, nCells = 16, nProbe = 2, lloydIters = 5,
        trainSampleFraction = 0.5), exact)
    assert(sampled >= seeded + 0.2,
      s"sampled training must still improve recall: seeded=$seeded sampled=$sampled")
    val sampled2 = recallAtK(
      Similarity.ivfTopK(vecs, 8, 5, nCells = 16, nProbe = 2, lloydIters = 5,
        trainSampleFraction = 0.5), exact)
    assert(sampled == sampled2, "sampled lloyd training must be deterministic")
    intercept[IllegalArgumentException](
      Similarity.ivfTopK(vecs, 8, 5, lloydIters = 1, trainSampleFraction = 0.0))
  }

  test("recall rises with nProbes on the real embeddings table") {
    val vecs = spark.read.parquet(realEmbeddings)
    val exact = Similarity.cosineTopK(vecs, nQueries = 8, k = 5)
    val rs = Seq(1, 2, 4).map { np =>
      recallAtK(Similarity.cosineTopKBucketed(vecs, 8, 5, nPlanes = 4, nProbes = np), exact)
    }
    // uniform-random vectors have no cluster structure, so absolute
    // recall is data-limited here; the probe dial must still move it
    assert(rs(1) >= rs(0) && rs(2) >= rs(1), s"recall not monotone in probes: $rs")
    assert(rs(2) > rs(0), s"4-probe must beat 1-probe: $rs")
  }

  test("persisted inverted file: indexed query == in-memory ivfTopK, scan prunes to probed cells") {
    val emb = spark.read.parquet(realEmbeddings)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeInvertedFile(emb, dir, nCells = 8)
    // layout contract: one hive directory per non-empty cell
    val cellDirs = new java.io.File(s"$dir/index").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 8)
    val queries = emb.filter(col("vec_id") < 8)
    val got = Similarity.ivfTopKIndexed(spark, dir, queries, k = 5, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
                 r.getAs[Double]("sim"), r.getAs[Long]("rk"))).toSet
    val mem = Similarity.ivfTopK(emb, nQueries = 8, k = 5, nCells = 8, nProbe = 2)
    assert(rows(got) == rows(mem),
      "index round-trip must not change the search result")
    // the index scan must carry a runtime pruning predicate on the
    // partition column — the reason the index exists
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.toLowerCase.contains("dynamic"),
      s"expected dynamic partition pruning on the index scan:\n$plan")
    // dim guard (r13 review): a query frame of the wrong dim used to
    // return a silently EMPTY result (every dot NULL under zip_with's
    // length contract) — it must now fail loudly naming both dims
    val wrongDim = queries.select(col("vec_id"),
      org.apache.spark.sql.functions.slice(col("embedding"), 1, 16).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(spark, dir, wrongDim, k = 5, nProbe = 2)
    }
    assert(e.getMessage.contains("stores dim-") && e.getMessage.contains("dim 16"),
      s"expected the dim-mismatch message, got: ${e.getMessage}")
  }

  test("embeddingComponents == driver union-find closure of the pair operator") {
    // equivalence against the ground truth the operator promises: the
    // transitive closure of exactly the edges embeddingNearDupPairs
    // emits (not of brute-force cosine — LSH recall is the pair
    // operator's documented contract, not the closure's)
    val base = clustered(seed = 31, nClusters = 5, perCluster = 8, dim = 8)
    // exact-dup rows exercise the identical-vector rep collapse
    val dup = base.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val emb = base.unionByName(dup)
    val threshold = 0.9
    val edges = Similarity.embeddingNearDupPairs(emb, threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb }
    // canonical label = min member id, matching the operator's contract
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    val expected = ids.groupBy(find).flatMap { case (_, members) =>
      val m = members.min; members.toSeq.map(_ -> m)
    }
    val got = Similarity.embeddingComponents(emb, threshold).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got(1000L) == got(0L), "bit-identical vectors must share a component")
  }

  test("embeddingComponents rep cache self-releases after the consuming action") {
    // same contract DedupPropertySpec pins for the lexical component
    // operators: a library user who runs one terminal action and
    // never calls ScopedCache.releaseAll() must leak no persisted blocks
    graft.core.ScopedCache.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val emb = clustered(seed = 41, nClusters = 4, perCluster = 6, dim = 8)
    Similarity.embeddingComponents(emb, 0.9).count()
    val deadline = System.currentTimeMillis() + 15000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"rep cache not self-released: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("semanticDedup: keep-first within cells, identical members always dropped") {
    // tight clusters -> within-cluster cosine ~1; vec 6 duplicates
    // vec 1 exactly (a non-rep member)
    val base = clustered(7, 3, 2, 16, noise = 0.01f) // vec_ids 0..5, cluster = id % 3
    val dupRow = base.filter(col("vec_id") === 1).select(lit(6L).as("vec_id"), col("embedding"))
    val d = base.union(dupRow)
    val out = Similarity.semanticDedup(d, threshold = 0.95, nCells = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == 7)
    // ids 0,1,2 seed the quantizer and are each their cluster's earliest: kept
    for (i <- 0L to 2L) assert(!out(i)._2, s"vec $i should be kept: $out")
    // 3,4,5 land in the cell of their near-identical earlier clustermate: dropped
    for (i <- 3L to 5L) assert(out(i)._2, s"vec $i should be dropped: $out")
    // 6 is an exact copy of 1 -> non-rep member, dropped, same cell as 1
    assert(out(6L) == ((out(1L)._1, true)))
    // exactly one keeper per cell
    assert(out.filterNot(_._2._2).values.map(_._1).toSeq.distinct.size == 3)
  }

  test("minMaxScale is partitioning-invariant (exact min/max aggregates)") {
    val emb = clustered(seed = 41, nClusters = 4, perCluster = 20, dim = 8)
    def run(parts: Int) = Similarity.minMaxScale(emb.repartition(parts)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(run(1) == run(17), "scaled values must not depend on partitioning")
  }

  test("minMaxScale: closed-form per-dim scaling, constant dims map to 0") {
    val emb = Seq(
      (1L, Seq(0f, 10f)),
      (2L, Seq(5f, 10f)),
      (3L, Seq(10f, 10f))).toDF("vec_id", "embedding")
    val got = Similarity.minMaxScale(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 0L)) == 0.0 && got((2L, 0L)) == 0.5 && got((3L, 0L)) == 1.0)
    assert(Seq(1L, 2L, 3L).forall(id => got((id, 1L)) == 0.0),
      "constant dimension must scale to 0, not NaN")
  }

  test("randomProjection signs reproduce lshBucket bits; projection is length-preserving-ish") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(realEmbeddings).limit(50)
    val h = 4
    val rows = vecs.select(
        col("vec_id"),
        Similarity.randomProjection(col("embedding"), h).as("projs"),
        Similarity.lshBucket(col("embedding"), h).as("bkt"))
      .collect()
    rows.foreach { r =>
      val projs = r.getAs[scala.collection.Seq[Double]]("projs")
      val expected = projs.zipWithIndex.map { case (p, i) => if (p > 0) 1L << i else 0L }.sum
      assert(expected == r.getAs[Long]("bkt"),
        s"vec ${r.getAs[Long]("vec_id")}: bucket ${r.getAs[Long]("bkt")} != sign pattern $expected")
      // no degenerate all-equal projections (the parity-collapse bug)
      assert(projs.distinct.size > 1)
    }
  }

  /** Driver-side PQ reference: encode + ADC on plain arrays, same
    * tie rules (argmin strict <, lowest cid; rank by (adist, vec_id)). */
  private def pqReference(vecs: Seq[(Long, Array[Float])], nQueries: Int, k: Int,
                          m: Int, nBooks: Int, dim: Int): Seq[(Long, Long, Double, Long)] = {
    val sub = dim / m
    val books = vecs.filter(_._1 < nBooks).sortBy(_._1)
    def subDist2(a: Array[Float], b: Array[Float], j: Int): Double = {
      var s = 0.0; var i = j * sub
      while (i < (j + 1) * sub) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val recon = vecs.map { case (id, v) =>
      val r = new Array[Float](dim)
      for (j <- 0 until m) {
        var best = Double.MaxValue; var cid = -1L
        for ((bid, bv) <- books) {
          val d = subDist2(v, bv, j)
          if (d < best) { best = d; cid = bid }
        }
        System.arraycopy(books.find(_._1 == cid).get._2, j * sub, r, j * sub, sub)
      }
      (id, r)
    }
    vecs.filter(_._1 < nQueries).flatMap { case (qid, qv) =>
      recon.filter(_._1 != qid)
        .map { case (vid, rv) =>
          var s = 0.0; var i = 0
          while (i < dim) { val d = qv(i).toDouble - rv(i).toDouble; s += d * d; i += 1 }
          (vid, s)
        }
        .sortBy { case (vid, d) => (d, vid) }
        .take(k).zipWithIndex
        .map { case ((vid, d), r) => (qid, vid, d, (r + 1).toLong) }
    }
  }

  test("pqTopK equals the driver-side PQ/ADC reference bit-for-bit") {
    val rnd = new Random(99)
    val dim = 8
    val vecs = (0L until 20L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df, nQueries = 3, k = 4, m = 2, nBooks = 4, dim = dim)
      .orderBy("q_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val want = pqReference(vecs, nQueries = 3, k = 4, m = 2, nBooks = 4, dim = dim)
    assert(got == want) // == on the doubles: the path has no libm, order is fixed
  }

  test("pqEncode: codebook vectors encode to their own id, codes within range") {
    val rnd = new Random(7)
    val dim = 8
    val df = (0L until 16L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(df, m = 2, nBooks = 4, dim = dim)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("codes")).toMap
    assert(codes.size == 16)
    codes.foreach { case (_, cs) =>
      assert(cs.length == 2)
      assert(cs.forall(c => c >= 0 && c < 4))
    }
    // a seed vector's own subvector is at distance 0: random gaussians
    // don't tie, so each book vector encodes to itself
    (0L until 4L).foreach(i => assert(codes(i) == Seq(i, i)))
  }

  test("pqTopK: quantization error vanishes when every vector is a codebook seed") {
    val rnd = new Random(13)
    val dim = 8
    val df = (0L until 6L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // nBooks = corpus size: recon == vector, ADC == exact squared L2
    val adc = Similarity.pqTopK(df, nQueries = 2, k = 5, m = 2, nBooks = 6, dim = dim)
      .select("q_id", "vec_id", "adist").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val vecs = df.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    adc.foreach { case ((q, v), d) =>
      val exact = vecs(q).zip(vecs(v)).map { case (a, b) =>
        val x = a.toDouble - b.toDouble; x * x }.sum
      assert(d == exact, s"($q,$v): adc $d != exact $exact")
    }
  }

  test("pqTopK neighbors stay in the query's cluster (codes preserve geometry)") {
    // recall vs an exact ranker is the WRONG yardstick for PQ: same-
    // cluster vectors quantize to identical codes, so ADC ties break
    // by vec_id, not true distance. The meaningful claim is cluster
    // purity: every returned neighbor is from the query's cluster
    // (point i belongs to cluster i % 4).
    val df = clustered(seed = 31, nClusters = 4, perCluster = 25, dim = 16)
    val approx = Similarity.pqTopK(df, nQueries = 4, k = 5, m = 4, nBooks = 8, dim = 16)
      .select("q_id", "vec_id").collect()
    assert(approx.length == 4 * 5)
    approx.foreach { r =>
      assert(r.getLong(1) % 4 == r.getLong(0) % 4,
        s"neighbor ${r.getLong(1)} not in query ${r.getLong(0)}'s cluster")
    }
  }

  test("ivfPqTopK with all cells probed == full-corpus pqTopK") {
    val emb = spark.read.parquet(realEmbeddings)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
                 r.getAs[Double]("adist"), r.getAs[Long]("rk"))).toSet
    val all = Similarity.ivfPqTopK(emb, nQueries = 5, k = 5, nCells = 8, nProbe = 8)
    val full = Similarity.pqTopK(emb, nQueries = 5, k = 5)
    assert(rows(all) == rows(full))
    // narrow probe returns a subset of candidates but the same shape
    val narrow = Similarity.ivfPqTopK(emb, nQueries = 5, k = 5, nCells = 8, nProbe = 2)
    assert(narrow.count() <= 25 && narrow.count() > 0)
  }

  test("pqTopK: a null embedding element never fills a top-k slot (null adist excluded)") {
    val emb = spark.read.parquet(realEmbeddings)
    // poison a CORPUS vector (vec_id 50 — not a query, not one of the
    // first nBooks codebook seeds) with one null element: its codes
    // reconstruct through null, adist is NULL against every query;
    // ascending order puts NULL FIRST in Spark, so an unguarded rank
    // would hand every query the poisoned vector as neighbor #1
    val poisoned = emb.withColumn("embedding",
      when(col("vec_id") === 50L,
        concat(slice(col("embedding"), 1, 63),
          array(lit(null).cast("float")))).otherwise(col("embedding")))
    val got = Similarity.pqTopK(poisoned, nQueries = 5, k = 5).collect()
    assert(!got.exists(_.isNullAt(2)), "null adist rows must be excluded, not ranked")
    assert(!got.exists(_.getAs[Long]("vec_id") == 50L),
      "the poisoned vector has no defined distance — it must never be a neighbor")
    assert(got.map(_.getAs[Long]("q_id")).distinct.length == 5 && got.length == 25)
  }

  test("pqTopK: a NaN query component yields no neighbors, never NaN-ranked slots") {
    val emb = spark.read.parquet(realEmbeddings)
    // poison a QUERY vector: its adist is NaN (non-null!) against
    // every corpus row — NaN passed the old isNotNull-only guard and
    // ranked, filling all k slots with meaningless neighbors where
    // the cosine paths (simDefined) correctly return nothing
    val poisoned = emb.withColumn("embedding",
      when(col("vec_id") === 2L,
        concat(slice(col("embedding"), 1, 63),
          array(lit(Float.NaN)))).otherwise(col("embedding")))
    val got = Similarity.pqTopK(poisoned, nQueries = 5, k = 5).collect()
    assert(!got.exists(r => r.getAs[Long]("q_id") == 2L),
      "a query with no defined distances must return no neighbors")
    assert(got.forall(r => !r.getDouble(2).isNaN))
    assert(got.map(_.getAs[Long]("q_id")).distinct.length == 4 && got.length == 20)
  }

  test("ivfPqTopKIndexed rejects a (m, dim) mismatch with the stored index") {
    val emb = spark.read.parquet(realEmbeddings)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-dim").toString
    Similarity.writePqIndex(emb, dir, nCells = 8, m = 4, nBooks = 8, dim = 64)
    val queries = emb.filter(col("vec_id") < 2)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfPqTopKIndexed(spark, dir, queries, k = 3, nProbe = 2, m = 8))
    assert(e.getMessage.contains("-code rows"), e.getMessage)
    // and a dim mismatch is caught at the codebook, before any scan
    val e2 = intercept[IllegalArgumentException](
      Similarity.ivfPqTopKIndexed(spark, dir, queries, k = 3, nProbe = 2, m = 4, dim = 32))
    assert(e2.getMessage.contains("holds dim-"), e2.getMessage)
  }

  test("persisted IVF-PQ: all-cells probe == in-memory pqTopK, codes prune + compress") {
    val emb = spark.read.parquet(realEmbeddings)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.writePqIndex(emb, dir, nCells = 8, m = 4, nBooks = 8, dim = 64)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
                 r.getAs[Double]("adist"), r.getAs[Long]("rk"))).toSet
    // probing every cell makes the indexed search the full-corpus ADC
    val all = Similarity.ivfPqTopKIndexed(spark, dir, queries, k = 5, nProbe = 8)
    val mem = Similarity.pqTopK(emb, nQueries = 5, k = 5)
    assert(rows(all) == rows(mem),
      "all-cells IVF-PQ must equal the in-memory PQ search")
    // narrow probe still prunes: runtime predicate on the partition col
    val probed = Similarity.ivfPqTopKIndexed(spark, dir, queries, k = 5, nProbe = 2)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.toLowerCase.contains("dynamic"),
      s"expected dynamic partition pruning on the code scan:\n$plan")
    // the compression claim: stored code rows are far smaller than raw vectors
    def bytes(d: java.io.File): Long =
      if (d.isFile) d.length else Option(d.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    val idxBytes = bytes(new java.io.File(s"$dir/index"))
    val rawBytes = bytes(new java.io.File(realEmbeddings.stripSuffix("/")))
    assert(idxBytes < rawBytes / 2,
      s"codes index ($idxBytes B) should be far smaller than raw embeddings ($rawBytes B)")
  }

  /** Mean squared quantization error of the corpus under the given
    * PQ parameters — the Lloyd objective. */
  private def pqDistortion(df: DataFrame, m: Int, nBooks: Int, dim: Int,
                           iters: Int): Double = {
    // every vector queried against only itself is awkward; measure the
    // reconstruction error directly from the coded frame instead
    val coded = Similarity.pqEncode(df, m, nBooks, dim, iters)
    val n = coded.count().toDouble
    val errs = coded.select(col("vec_id"), col("embedding"), col("codes"), col("books"))
      .collect().map { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding").toArray
      val codes = r.getAs[scala.collection.Seq[Long]]("codes")
      val books = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("books")
        .map(b => b.getLong(0) -> b.getAs[scala.collection.Seq[Float]](1).toArray).toMap
      val sub = dim / m
      codes.zipWithIndex.map { case (cid, j) =>
        (j * sub until (j + 1) * sub).map { i =>
          val d = v(i).toDouble - books(cid)(i).toDouble; d * d
        }.sum
      }.sum
    }
    errs.sum / n
  }

  test("pqTrainBooks: Lloyd rounds cut quantization error; deterministic") {
    val df = clustered(seed = 47, nClusters = 4, perCluster = 20, dim = 16)
    val seedErr = pqDistortion(df, m = 4, nBooks = 8, dim = 16, iters = 0)
    val trainedErr = pqDistortion(df, m = 4, nBooks = 8, dim = 16, iters = 2)
    assert(trainedErr <= seedErr,
      s"training must not increase distortion: seed $seedErr -> trained $trainedErr")
    assert(trainedErr < seedErr * 0.9,
      s"on clustered data 2 Lloyd rounds should cut distortion: $seedErr -> $trainedErr")
    // bit-reproducible rounds (DECIMAL sums): identical books twice
    def booksOf(): Seq[(Long, Seq[Float])] =
      Similarity.pqTrainBooks(df, m = 4, nBooks = 8, dim = 16, iters = 2)
        .select(explode(col("books")).as("b"))
        .select(col("b.cid"), col("b.c_vec")).collect()
        .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq)).toSeq
    assert(booksOf() == booksOf())
  }

  test("pqEncode rejects a dim not divisible by m; drops wrong-width vectors") {
    val df = Seq((0L, Seq.fill(8)(0.1f)), (1L, Seq.empty[Float])).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.pqEncode(df, m = 3, nBooks = 2, dim = 8)
    }
    val coded = Similarity.pqEncode(df, m = 2, nBooks = 1, dim = 8)
    assert(coded.count() == 1) // the empty vector never encodes
  }

  test("zero-norm vectors yield NULL sims (excluded), never an ANSI div-by-zero abort") {
    // a zero vector is a common embedder failure/padding output; the
    // nullif denominator guard must drop it from every result rather
    // than DIVIDE_BY_ZERO-kill the job under Spark 4's default ANSI
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // zero norm
      (2L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.5f, 0.0f, 0.5f, 0.0f)))
      .toDF("vec_id", "embedding")
    val hits = Similarity.cosineTopK(df, nQueries = 2, k = 3).collect()
    assert(hits.nonEmpty)
    assert(!hits.exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L),
      s"zero vector must appear in no pair, got ${hits.toSeq}")
    val pairs = Similarity.embeddingNearDupPairs(df, 0.1).collect()
    assert(!pairs.exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L))
  }

  test("ANN index writers reject bad arguments before writing anything") {
    // a writer used to build part of the index before its arguments
    // were checked: writePqIndex wrote centroids/ and then failed in
    // codebook training, and writeInvertedFile read lloydIters = -1 as 0
    val emb = spark.read.parquet(realEmbeddings)
    def rejects(write: String => Unit): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft-ann-args").toString
      intercept[IllegalArgumentException](write(dir))
      assert(new java.io.File(dir).list().isEmpty,
        s"a rejected build left files behind: ${new java.io.File(dir).list().mkString(",")}")
    }
    rejects(Similarity.writeInvertedFile(emb, _, nCells = 8, lloydIters = -1))
    rejects(Similarity.writePqIndex(emb, _, nCells = 8, lloydIters = -1))
    rejects(Similarity.writePqIndex(emb, _, nCells = 8, nBooks = 0))
    rejects(Similarity.writeInvertedFile(emb, _, nCells = 8, trainSampleFraction = 0.0))
  }

  test("Lloyd-trained indexes: in-memory search == indexed search over the written index") {
    val emb = spark.read.parquet(realEmbeddings)
    val (iters, frac) = (5, 0.5)
    def rows(df: DataFrame, score: String) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
                 r.getAs[Double](score), r.getAs[Long]("rk"))).toSet
    def stored(path: String, id: String) = spark.read.parquet(path).collect()
      .map(r => r.getAs[Long](id) -> r.getAs[scala.collection.Seq[Float]]("c_vec").toSeq).toMap
    val seeds = emb.filter(col("vec_id") < 8).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Float]]("embedding").toSeq)
      .toMap

    val ivfDir = java.nio.file.Files.createTempDirectory("graft-ivf-trained").toString
    Similarity.writeInvertedFile(emb, ivfDir, nCells = 8, lloydIters = iters,
      trainSampleFraction = frac)
    assert(stored(s"$ivfDir/centroids", "cell") != seeds, "training must move the centroids")
    val ivfMem = Similarity.ivfTopK(emb, nQueries = 8, k = 5, nCells = 8, nProbe = 2,
      lloydIters = iters, trainSampleFraction = frac)
    val ivfIdx = Similarity.ivfTopKIndexed(spark, ivfDir, emb.filter(col("vec_id") < 8),
      k = 5, nProbe = 2)
    assert(rows(ivfMem, "sim").nonEmpty)
    assert(rows(ivfIdx, "sim") == rows(ivfMem, "sim"),
      "the written trained inverted file must search like the unwritten one")

    val pqDir = java.nio.file.Files.createTempDirectory("graft-ivfpq-trained").toString
    Similarity.writePqIndex(emb, pqDir, nCells = 8, m = 4, nBooks = 8, dim = 64,
      lloydIters = iters, trainSampleFraction = frac)
    assert(stored(s"$pqDir/books", "cid") != seeds, "training must move the codebook")
    val pqMem = Similarity.pqTopK(emb, nQueries = 5, k = 5,
      lloydIters = iters, trainSampleFraction = frac)
    val pqIdx = Similarity.ivfPqTopKIndexed(spark, pqDir, emb.filter(col("vec_id") < 5),
      k = 5, nProbe = 8)
    assert(rows(pqMem, "adist").size == 25)
    assert(rows(pqIdx, "adist") == rows(pqMem, "adist"),
      "an all-cells probe of the trained IVF-PQ index must equal the trained PQ search")
  }
}
