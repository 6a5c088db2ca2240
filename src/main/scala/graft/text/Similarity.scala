package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ScopedCache

/** Nearest-neighbor search and near-duplicate detection over an
  * embedding column (`Array[Float]`).
  *
  * Five search paths, each returning (q_id, vec_id, sim or adist, rk):
  *  - exact, `cosineTopK`: broadcast the (small) query set against
  *    the full corpus; O(|corpus|·|queries|), the recall yardstick.
  *  - LSH, `cosineTopKBucketed`: hash every vector into a 2^h
  *    hyperplane-sign bucket and score only same-bucket pairs (plus
  *    multi-probe neighbors); the corpus shuffles once on the bucket
  *    key. The near-dup views (`embeddingNearDupPairs`,
  *    `embeddingComponents`) band the same hyperplanes.
  *  - IVF, `ivfTopK` / `writeInvertedFile` + `ivfTopKIndexed`: assign
  *    every vector to its nearest coarse-quantizer cell and score only
  *    the `nProbe` cells nearest each query.
  *  - PQ, `pqTopK` (`pqEncode`, `pqTrainBooks`): rank by asymmetric
  *    distance to each vector's product-quantized reconstruction.
  *  - IVF-PQ, `ivfPqTopK` / `writePqIndex` + `ivfPqTopKIndexed`: IVF
  *    cells with PQ codes as the stored payload.
  *
  * One index path: each IVF index kind is built in one place and
  * searched in one place, and the in-memory search (`ivfTopK`,
  * `ivfPqTopK`) IS the indexed search run over the frame the writer
  * would persist, left unwritten. Every quantizer and codebook is seeded by one rule
  * ([[seedBooks]]) and trained by one Lloyd loop ([[lloyd]]), every
  * vector is assigned to its cell by one projection
  * ([[assignCells]]), and every search ends in one ranking tail
  * ([[topK]]).
  *
  * All arithmetic is codegen'd column expressions (`zip_with` +
  * ordered `aggregate` fold, native dot/norm) — no UDFs; the corpus
  * is never collected (quantizer training collects only the
  * `nCells × dim` centroids).
  */
object Similarity {
  // Every cosine division guards its denominator with nullif: a
  // zero-norm vector (a common embedder failure/padding output)
  // would otherwise DIVIDE_BY_ZERO-abort the whole job under
  // Spark 4's default ANSI mode. NULL sim propagates instead —
  // which is also what DuckDB's x/0 yields, so the oracle agrees —
  // and every downstream threshold/top-k predicate drops it.

  /** Cosine of two float-array columns given their squared norms,
    * rounded to 6 decimals — the score every similarity site ranks
    * and thresholds on, with the nullif guard above. */
  private def cosine(a: Column, b: Column, nrmA: Column, nrmB: Column): Column =
    round(dot(a, b) / nullif(sqrt(nrmA * nrmB), lit(0.0)), 6)

  /** Dot product of two float-array columns accumulated in double.
    * Backed by the native codegen'd Catalyst expression
    * (`graft.functions.VectorExpressions.DotProductF`) — bit-identical
    * to the higher-order fold (left-to-right, per-term double cast)
    * that VectorExpressionsSpec compares it against, but it stays
    * inside whole-stage codegen with no intermediate array per row. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_f(a, b)

  def norm2(a: Column): Column =
    graft.functions.VectorExpressions.norm2_f(a)

  /** Defined-similarity guard, shared by every ranking/threshold
    * site: a sim is usable iff non-NULL AND non-NaN. NULL is the
    * zero-norm case (the nullif guards); NaN means a NaN/∞ component
    * reached the dot product — and Spark ORDERS NaN greater than
    * every value and evaluates `NaN >= t` as TRUE, so one poisoned
    * vector would otherwise outrank every real neighbor in top-k and
    * pass every near-dup threshold (the same NaN-is-not-null trap
    * Learn/Validate/Warehouse each guard on their own columns). */
  private def simDefined(sim: Column): Column = sim.isNotNull && !isnan(sim)

  /** The ONE ranking tail of every top-k search: rank `scored`
    * (q_id, vec_id, `score`) per query — a similarity descending, a
    * distance (`ascending`) ascending — with a vec_id tiebreak that
    * keeps ranks deterministic under float noise, and keep the first
    * `k`. */
  private def topK(scored: DataFrame, k: Int, score: String = "sim",
                   ascending: Boolean = false): DataFrame = {
    val order = if (ascending) col(score).asc else col(score).desc
    val w = Window.partitionBy(col("q_id")).orderBy(order, col("vec_id"))
    // an undefined score is excluded from the ranking entirely so it
    // can never fill a top-k slot when candidates are scarce: Spark
    // orders NaN above every value and NULL first ascending, so
    // either would otherwise take slots (a null embedding element, a
    // length-mismatched reconstruction, a NaN component)
    scored.filter(simDefined(col(score)))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select("q_id", "vec_id", score, "rk")
  }

  /** Exact cosine top-k: queries = vec_id < nQueries (broadcast),
    * rank by rounded similarity with vec_id tiebreak (deterministic
    * under float noise). */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // fail loudly like every sibling: k or nQueries <= 0 would
    // silently return the empty frame, reading as "no neighbors"
    require(nQueries >= 1 && k >= 1, s"need nQueries, k >= 1, got ($nQueries, $k)")
    val e = embeddings.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("nrm").as("q_nrm"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("embedding"), col("q_vec"), col("nrm"), col("q_nrm")))
    topK(scored, k)
  }

  /** Deterministic pseudo-hyperplanes: component j of plane p is ±1
    * by a middle bit of an LCG-style integer mix — literal-generated,
    * identical on any engine (pure 64-bit integer arithmetic), no RNG
    * state.
    *
    * The mix must be genuinely non-linear in (p, j) mod 2: any affine
    * parity (the previous `(j·(2p+3) + p·7919) % 2`, or `j² + 3jp + p`
    * since j² ≡ j) makes every plane equal or complementary to one of
    * two base patterns, collapsing 2^h buckets to ~2–4 and silently
    * turning the ANN path into a half-corpus scan. Bit 16 of
    * `j·2654435761 + p·40503 + 12345` (Knuth multiplicative constant)
    * mixes via carries, so the 2^h buckets fill near-uniformly. */
  private def planeSign(p: Int, j: Column): Column =
    when(shiftright(j.cast(LongType) * lit(2654435761L) + lit(p * 40503L + 12345L), 16)
           .bitwiseAND(lit(1L)) === 0, 1.0).otherwise(-1.0)

  private def planeProjection(vec: Column, p: Int): Column =
    aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, j) => x.cast(DoubleType) * planeSign(p, j)),
      lit(0.0), (acc, x) => acc + x)

  /** Random-signs projection (Johnson–Lindenstrauss style) of an
    * embedding column onto `outDims` pseudo-random ±1 hyperplanes —
    * the dimensionality-reduction pass that runs BEFORE clustering /
    * ANN at scale (a 1024-dim corpus shrinks ~128× before any
    * shuffle). Deterministic (same integer mix as [[lshBucket]]), a
    * pure per-row map: zero shuffle, reproducible on any engine.
    * Output element p = Σ_j vec[j]·sign(p, j). */
  def randomProjection(vec: Column, outDims: Int): Column = {
    require(outDims >= 1, s"need outDims >= 1, got $outDims")
    array((0 until outDims).map(p => planeProjection(vec, p)): _*)
  }

  /** Sign-LSH bucket id from `nPlanes` hyperplanes (bucket = bit
    * pattern of projection signs): band 0 of [[lshBandBucket]]. */
  def lshBucket(vec: Column, nPlanes: Int): Column = lshBandBucket(vec, 0, nPlanes)

  /** Multi-probe bucket list: the vector's own bucket first, then
    * `nProbes − 1` neighbors obtained by flipping the sign bit of the
    * plane with the i-th smallest |projection| — the planes the
    * vector sits closest to, i.e. where a true near neighbor most
    * likely landed on the other side. Standard single-bit multi-probe
    * (Lv et al., VLDB'07); recall rises with `nProbes` at the cost of
    * scoring proportionally more buckets. */
  def probeBuckets(vec: Column, nPlanes: Int, nProbes: Int): Column = {
    require(nProbes >= 1 && nProbes <= nPlanes + 1,
      s"nProbes must be in [1, nPlanes+1], got $nProbes")
    val projs = array((0 until nPlanes).map(p => planeProjection(vec, p)): _*)
    // evaluate the projections ONCE into a fold accumulator, then
    // derive bucket + flips from the evaluated array (element access
    // on a bound lambda variable — no re-inlining of the folds)
    aggregate(
      array(projs),
      lit(null).cast("array<bigint>"),
      (_, pr) => {
        val bucket = (0 until nPlanes).map { p =>
          when(element_at(pr, p + 1) > 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
        // margins rounded to 6 before ordering: the projection is a
        // summation, so its last ulp is engine/order dependent — the
        // rounded compare (plus the index tiebreak) keeps the chosen
        // flip plane identical on any engine that mirrors this
        // construction (same contract as every rounded sim column)
        val order = array_sort(zip_with(pr, sequence(lit(0), lit(nPlanes - 1)),
          (x, i) => struct(round(abs(x), 6).as("a"), i.as("i"))))
        val flips = (0 until nProbes - 1).map { i =>
          bucket.bitwiseXOR(
            call_function("shiftleft", lit(1L), element_at(order, i + 1).getField("i")))
        }
        array((bucket +: flips): _*)
      })
  }

  /** Sign-LSH bucket id for band `b` of a multi-band family: plane
    * indices `b·nPlanes … b·nPlanes+nPlanes−1`, so each band is an
    * independent set of hyperplanes. */
  def lshBandBucket(vec: Column, band: Int, nPlanes: Int): Column = {
    require(band >= 0 && nPlanes >= 1 && nPlanes <= 63,
      s"need band >= 0 and nPlanes in [1, 63] (bucket bits live in one long), " +
        s"got ($band, $nPlanes)")
    (0 until nPlanes).map { p =>
      when(planeProjection(vec, band * nPlanes + p) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023):
    * coarse-cluster the corpus, then within each cluster drop every
    * vector that has an EARLIER (lower vec_id) cluster-mate with
    * cosine ≥ `threshold` — keep-first, the paper's keep-one-per-
    * duplicate-group policy made deterministic. Complements
    * [[embeddingNearDupPairs]]: centroid-cell blocking instead of
    * LSH bands, and a per-vector keep/drop verdict instead of a pair
    * list. Clusters are the same deterministic seeded quantizer the
    * IVF path declares (first `nCells` corpus vectors, argmax
    * rounded cosine, ties to the lower cell).
    *
    * Scale shape (the dedup-family contract): identical vectors
    * collapse to their min-id rep BEFORE the pair search — checking
    * reps only is exact for "exists an earlier duplicate", because a
    * group's rep is its minimum member and cosine is constant across
    * identical vectors; the within-cell join therefore expands on
    * distinct vectors only, pinned shuffle_hash so a hot cell
    * streams. Assignment itself is the zero-shuffle broadcast argmax
    * fold. Returns (vec_id, cell, dropped).
    *
    * Edge semantics, stated precisely: BYTE-IDENTICAL embeddings are
    * exact duplicates and every non-rep member is ALWAYS dropped —
    * including zero-norm identicals whose pairwise cosine is
    * undefined (exact-duplicate collapse is prior to, not governed
    * by, the cosine threshold). The threshold governs only DISTINCT
    * embeddings; an undefined sim (zero-norm pair, NaN component)
    * never drops a distinct vector. Zero-norm reps carry the
    * assignment sentinel cell = -1 (no defined cosine to any
    * centroid). Rows with a NULL embedding are excluded — no
    * similarity is defined on them (the family's tokenless-doc
    * convention). */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
                    nCells: Int = 16): DataFrame = {
    require(nCells >= 1, s"need nCells >= 1, got $nCells")
    val e = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    // r_emb alias keeps the rep table's lineage distinct from e's so
    // the member rejoin below isn't an ambiguous self-join
    val reps = e.groupBy(col("embedding")).agg(min(col("vec_id")).as("rep_id"))
      .select(col("embedding").as("r_emb"), col("rep_id"))
    // reps already carries the rep's embedding (it IS the group key),
    // so the rep frame needs no join back to the corpus — norm2 is a
    // cheap native expression, recomputing it beats a full-corpus
    // exchange
    val re = reps.select(col("rep_id").as("vec_id"),
      col("r_emb").as("embedding"), norm2(col("r_emb")).as("nrm"))
    val assigned = assignCells(re, quantizer(e, nCells, 0, 1.0))
    val earlier = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("vec_b"), col("nrm").as("nrm_b"))
    val pairSim = cosine(col("embedding"), col("vec_b"), col("nrm"), col("nrm_b"))
    val dupReps = assigned.join(earlier.hint("shuffle_hash"), Seq("cell"))
      .filter(col("id_b") < col("vec_id"))
      .filter(simDefined(pairSim) && pairSim >= threshold)
      .select(col("vec_id")).distinct()
      .withColumn("rep_dropped", lit(true))
    // members rejoin through their rep: a non-rep member is dropped
    // by construction (its rep is an identical earlier duplicate)
    val repVerdict = assigned.select(col("vec_id").as("rep_id"), col("cell"))
      .join(dupReps.withColumnRenamed("vec_id", "rep_id").hint("shuffle_hash"),
        Seq("rep_id"), "left")
    e.select(col("vec_id"), col("embedding"))
      .join(reps.hint("shuffle_hash"), col("embedding") === col("r_emb"))
      .join(repVerdict.hint("shuffle_hash"), "rep_id")
      .select(col("vec_id"), col("cell"),
        (col("vec_id") =!= col("rep_id") ||
          coalesce(col("rep_dropped"), lit(false))).as("dropped"))
  }

  /** Embedding-cosine near-duplicate pairs, banded sign-LSH.
    *
    * OR-of-ANDs banding (the MinHash-LSH construction applied to
    * random-hyperplane signatures): `nBands` independent families of
    * `nPlanes` hyperplanes each; a pair is *scored* iff it lands in
    * the same bucket of at least one band, and *emitted* iff its
    * exact cosine ≥ `threshold`. Per-band collision probability for
    * vectors at angle θ is (1 − θ/π)^nPlanes; banding drives recall
    * to 1 − (1 − p^nPlanes)^nBands while keeping the candidate set
    * far below all-pairs.
    *
    * Scale shape: the corpus is exploded ×nBands (a constant), each
    * (band, bucket) group self-joins ([[Dedup.bandedPairs]]) — a
    * single shuffle on the composite key, never a cross join. The
    * terminal distinct is bounded by the *output* pair count (a pair
    * can match in ≤ nBands bands), not the candidate count, because
    * the threshold filter runs before it. Near-dup output is
    * linear-ish in corpus size by construction (few true near-dups),
    * so the distinct is cheap even at 100 TB.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double,
                            nPlanes: Int = 4, nBands: Int = 4,
                            mode: PairMode = PairMode.Full): DataFrame =
      ScopedCache.scope {
    requireBanding(threshold, nBands)
    mode match {
      case PairMode.Full => cosinePairs(embeddings, "vec_id", threshold, nPlanes, nBands)
      case _ =>
        // identical-vector clusters: byte-identical embeddings share
        // every band bucket, and any member pair's cosine equals the
        // rep pair's (cosine is a function of the two vectors) — the
        // embedding-space instance of the lexical families' identical-
        // content collapse. Clusters whose self-sim is UNDEFINED
        // (zero-norm / NaN / ∞ reps) are dropped from members AND
        // cluster pairs: the nullif/NaN guards make every Full pair
        // touching such a vector undefined too, so exclusion is exact
        // — and it keeps Bounded's predicted count exact. For the
        // defined rest, self-sim is exactly 1.0 ≥ threshold (the
        // require above), so every cluster is intra-eligible with the
        // literal payload.
        val e = embeddings
          .filter(col("embedding").isNotNull && col("vec_id").isNotNull)
          .select(col("vec_id"), col("embedding"))
        val selfSim = {
          // Full's own per-pair sim expression, evaluated on (v, v)
          val x = dot(col("embedding"), col("embedding"))
          round(x / nullif(sqrt(x * x), lit(0.0)), 6)
        }
        val reps0 = e.groupBy(col("embedding")).agg(min(col("vec_id")).as("rep_id"))
          .filter(simDefined(selfSim))
        // Bounded spans two actions (the guard's + the caller's) with
        // no plan-level sharing between them — the cross-action cache
        // shape (minhashLshPairs' Bounded rationale); the one-action
        // modes keep Spark's own branch sharing instead.
        val reps = mode match {
          case PairMode.Bounded(_) => ScopedCache.register(reps0)
          case _ => reps0
        }
        val members = e.join(reps.hint("shuffle_hash"), "embedding")
          .select(col("vec_id").as("doc_id"), col("rep_id").as("ckey"))
        val cp = cosinePairs(reps, "rep_id", threshold, nPlanes, nBands)
        // ckey IS the rep id for this family — hand the rep frame to
        // the expansion so Star reuses the existing rep subtree
        // instead of re-aggregating the membership corpus-wide
        Dedup.expandDocPairs(members, cp, Seq("sim"), Seq(lit(1.0).as("sim")),
            mode, "embeddingNearDupPairs",
            repsOpt = Some(reps.select(col("rep_id").as("ckey"), col("rep_id"))))
          .withColumnRenamed("doc_a", "id_a").withColumnRenamed("doc_b", "id_b")
    }
  }

  /** Shared by the banded cosine operators. cosine ≤ 1: a threshold
    * above 1 excludes everything (the jaccard family's same guard) —
    * and it is what makes the non-Full intra expansion exact: every
    * defined identical-vector pair scores exactly 1.0 ≥ threshold. */
  private def requireBanding(threshold: Double, nBands: Int): Unit = {
    require(nBands >= 1, s"nBands must be >= 1 (0 bands silently emits no pairs), got $nBands")
    require(threshold <= 1.0, s"cosine threshold above 1 excludes everything, got $threshold")
  }

  /** `vecs` (carrying `embedding`) with its squared norm `nrm` and
    * one row per sign-LSH band ([[Dedup.withBands]]) — the ONE banding
    * of the cosine family, shared by the pair and component views.
    * Each rep's vector and norm ride its band rows to the confirm. */
  private def cosineBanded(vecs: DataFrame, nPlanes: Int, nBands: Int): DataFrame =
    Dedup.withBands(vecs.withColumn("nrm", norm2(col("embedding"))),
      (0 until nBands).map(b => lshBandBucket(col("embedding"), b, nPlanes)))

  /** Exact cosine of a [[cosineBanded]] pair's x/y sides. */
  private def bandSim: Column =
    cosine(col("x.embedding"), col("y.embedding"), col("x.nrm"), col("y.nrm"))

  /** The ONE cosine confirm of the pair and component views. */
  private def cosineEdge(threshold: Double): Column =
    simDefined(bandSim) && bandSim >= threshold

  /** (id_a, id_b, sim): the cosine-confirmed banded pairs of `vecs`
    * keyed by `id` ([[Dedup.bandedPairs]]) — the pair search of
    * [[embeddingNearDupPairs]], over every vector (Full) or over the
    * identical-vector reps. */
  private def cosinePairs(vecs: DataFrame, id: String, threshold: Double,
                          nPlanes: Int, nBands: Int): DataFrame =
    Dedup.bandedPairs(cosineBanded(vecs.select(col(id), col("embedding")), nPlanes, nBands),
      id, cosineEdge(threshold), bandSim.as("sim"))

  /** Uncentered second-moment (Gram) matrix of the embedding corpus:
    * G[i][j] = Σ_rows v[i]·v[j], upper triangle (i ≤ j) only. THE
    * "reduce a petabyte of vectors to a d×d driver matrix" primitive
    * — covariance/whitening, common-component removal
    * ([[removeTopPC]]), and linear-probe statistics all start here.
    *
    * Scale shape: one narrow flatMap emitting d(d+1)/2 cells per row,
    * one partial-aggregable shuffle over the d(d+1)/2 cell keys —
    * map-side combine collapses each partition to ≤ 2080 rows (d=64)
    * before anything crosses the wire; no self-join of the exploded
    * table. Float parity: components are quantized to exact
    * micro-unit INTEGERS (round(x·10⁶) of the bit-identical double —
    * integer rounding of a shared double is boundary-safe, unlike
    * fractional-dp rounding), so product and sum are exact int64
    * arithmetic and `gram_u2` hashes identically on any engine;
    * divide by 10¹² for the real-valued Gram.
    *
    * Range contract, stated honestly: each PRODUCT q_i·q_j must fit
    * int64, i.e. |x| ≤ ~3·10³ (q ≤ 3·10⁹); the per-cell SUM then
    * accumulates in DECIMAL(38,0) — exact to 10³⁸, mirroring the
    * oracle's 128-bit HUGEINT sum — and only the final declared
    * cast back to long can overflow, LOUDLY under ANSI (for
    * unit-scale embeddings that cast holds to ~9·10⁶·d rows per
    * diagonal cell; beyond it, read the decimal sum directly —
    * drop the one final cast). A raw long sum would instead wrap
    * SILENTLY in the typed flatMap path. */
  def gramMatrix(embeddings: DataFrame): DataFrame = {
    import embeddings.sparkSession.implicits._
    // Partial aggregation INSIDE the typed pass (r15): the old
    // flatMap emitted one encoded (i, j, p) tuple per cell per row —
    // rows × d(d+1)/2 tuples through the object/Tungsten boundary and
    // the hash aggregate (4.2M at sf0.1) just to collapse map-side to
    // ≤ 2080 keys anyway. The per-partition triangular accumulator
    // below does the same collapse in primitive long arrays (one
    // multiplyExact + one addExact per cell per row, no allocation),
    // emits ≤ d(d+1)/2 rows per partition, and leaves the final
    // cross-partition merge to the same decimal-exact aggregate.
    //
    // Exactness/overflow: every partial is an int64 accumulated with
    // addExact. This cannot overflow on any input whose DECLARED
    // output exists: diagonal partials are monotone nondecreasing
    // (q_i² ≥ 0) and bounded by their final cell value, which the
    // final LongType cast requires to fit int64; every off-diagonal
    // running sum is bounded by (Σ|q_i·q_j| ≤ (Σq_i² + Σq_j²)/2),
    // i.e. by the two diagonals that must themselves fit. An input
    // past the documented range still fails LOUDLY — addExact in the
    // accumulator instead of the ANSI cast at the end. (The
    // docstring's "drop the final cast to read sums past int64"
    // escape hatch consequently also requires widening this
    // accumulator — both edits live in this one method.)
    embeddings.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        var d = 0
        // triangular jagged layout: cell (i, j) at (i)(j - i)
        var cnt: Array[Array[Long]] = Array.empty
        var acc: Array[Array[Long]] = Array.empty
        def ensure(len: Int): Unit = if (len > d) {
          val nc = Array.tabulate(len)(i => new Array[Long](len - i))
          val na = Array.tabulate(len)(i => new Array[Long](len - i))
          var i = 0
          while (i < d) {
            System.arraycopy(cnt(i), 0, nc(i), 0, d - i)
            System.arraycopy(acc(i), 0, na(i), 0, d - i)
            i += 1
          }
          cnt = nc; acc = na; d = len
        }
        it.foreach { case (id, v) =>
          // a NULL embedding is a vectorless row — the family's
          // convention (semanticDedup/embeddingComponents filter the
          // same rows; removeTopPC's posexplode drops them): it
          // contributes nothing to the Gram sum.
          if (v != null) {
            val n = v.length
            val q = new Array[Long](n)
            var i = 0
            while (i < n) {
              val x = v(i).toDouble
              // explicit, named failure for the two silent paths the
              // r12 review found: BigDecimal(NaN/∞) throws an opaque
              // NumberFormatException with no row context, and
              // .toLong WRAPS for |x·1e6| past 2^63 — before
              // multiplyExact could ever observe the documented
              // range violation
              require(!x.isNaN && !x.isInfinity,
                s"gramMatrix: non-finite embedding component $x in vec_id=$id — " +
                  "quarantine upstream (Validate.finiteSample)")
              val bd = BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP)
              require(bd.abs <= BigDecimal(Long.MaxValue),
                s"gramMatrix: component $x in vec_id=$id overflows the 1e6 fixed-point " +
                  "long range (|x| <= ~9.2e12)")
              q(i) = bd.toLong
              i += 1
            }
            ensure(n)
            i = 0
            while (i < n) {
              val qi = q(i); val ci = cnt(i); val ai = acc(i)
              var j = i
              while (j < n) {
                val k = j - i
                // multiplyExact enforces the documented fail-loudly
                // range contract — a bare * would wrap silently
                ai(k) = Math.addExact(ai(k), Math.multiplyExact(qi, q(j)))
                ci(k) += 1L
                j += 1
              }
              i += 1
            }
          }
        }
        (0 until d).iterator.flatMap { i =>
          (i until d).iterator
            .filter(j => cnt(i)(j - i) > 0L)
            .map(j => (i.toLong, j.toLong, cnt(i)(j - i), acc(i)(j - i)))
        }
      }
      .toDF("i", "j", "cnt", "psum")
      .groupBy("i", "j")
      .agg(sum(col("cnt")).as("n_rows"),
        sum(col("psum").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast(org.apache.spark.sql.types.LongType).as("gram_u2"))
  }

  /** Dominant eigenvector of the corpus Gram matrix by power
    * iteration — ON THE DRIVER, over the d×d matrix [[gramMatrix]]
    * already reduced (the IVF-quantizer pattern: corpus-sized work
    * stays distributed, d²-sized math is driver metadata). Fixed
    * deterministic init (uniform 1/√d — never orthogonal to the top
    * component of a PSD Gram unless the matrix is degenerate), fixed
    * iteration count, sign pinned so the largest-|component| entry is
    * positive: reproducible on any engine or rerun. */
  def topPrincipalComponent(embeddings: DataFrame, iters: Int = 30): Array[Double] = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val cells = gramMatrix(embeddings).select("i", "j", "gram_u2").collect()
    require(cells.nonEmpty, "empty embedding corpus has no principal component")
    val d = cells.iterator.map(_.getLong(1)).max.toInt + 1
    val g = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      // micro²-units: a constant scale never moves an eigenvector
      val (i, j, x) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toDouble)
      g(i)(j) = x; g(j)(i) = x
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => g(i)(j) * v(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      // a zero Gram (all-zero vectors) keeps the init direction
      if (n > 0) v = w.map(_ / n)
    }
    val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(pivot) < 0) v.map(-_) else v
  }

  /** Common-component removal (Arora et al. 2017, "A Simple but
    * Tough-to-Beat Baseline"): subtract each vector's projection on
    * the corpus' top principal direction — the post-processing step
    * that strips the shared "frequency" direction before cosine
    * similarity or semantic dedup. The direction comes from
    * [[topPrincipalComponent]] (driver metadata, broadcast with the
    * plan); the subtraction is a pure per-row map — zero shuffle.
    * Returns (vec_id, dim, x_resid) exploded rows, x_resid rounded
    * to 6 dp (the minMaxScale output contract). */
  def removeTopPC(embeddings: DataFrame, iters: Int = 30): DataFrame = {
    val v = topPrincipalComponent(embeddings, iters)
    val vCol = array(v.map(lit).toIndexedSeq: _*)
    val proj = aggregate(
      zip_with(col("embedding"), vCol, (a, b) => a.cast(DoubleType) * b),
      lit(0.0), (acc, x) => acc + x)
    embeddings
      .withColumn("__proj", proj)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")),
              col("__proj"))
      .select(col("vec_id"), col("dim").cast(LongType).as("dim"),
        round(col("xf").cast(DoubleType)
          - col("__proj") * element_at(vCol, (col("dim") + 1).cast(IntegerType)), 6)
          .as("x_resid"))
  }

  /** Per-dimension min-max standardization of the embedding column:
    * x → (x − min_d)/(max_d − min_d), the feature-scaling step before
    * distance-based ops (ANN, clustering) when dimensions are on
    * different scales. Constant dimensions map to 0. Output is long
    * form (vec_id, dim, x_scaled).
    *
    * Min/max — not mean/std — on purpose: they are exact,
    * order-independent aggregates, so the scaled values are
    * bit-deterministic under ANY partitioning (a mean of floats is a
    * summation-order lottery; making it deterministic costs a
    * DECIMAL detour). The statistics shuffle is per-dimension
    * partials — `nDims × nPartitions` rows regardless of corpus
    * size — and the application side joins one BROADCAST stats row
    * per dimension, so the corpus itself never shuffles. */
  def minMaxScale(embeddings: DataFrame): DataFrame = {
    val ex = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast(LongType).as("dim"),
              col("xf").cast(DoubleType).as("x"))
    // stats from FINITE values only (the writeZOrdered guard,
    // Validate.finiteSample): one NaN reaching max() — Spark orders
    // NaN greatest — would make (mx − mn) NaN and poison EVERY row's
    // x_scaled in that dimension. Non-finite inputs keep their own
    // raw value in the output (poison stays visible on its own row,
    // never smeared across the dimension).
    val finite = graft.core.Validate.finiteSample(col("x"))
    val stats = ex.groupBy(col("dim")).agg(
      min(when(finite, col("x"))).as("mn"), max(when(finite, col("x"))).as("mx"))
    ex.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        when(!finite, col("x"))
          .when(col("mx") <=> col("mn"), lit(0.0))
          .otherwise(round((col("x") - col("mn")) / (col("mx") - col("mn")), 6))
          .as("x_scaled"))
  }

  /** Semantic (embedding-space) transitive near-dup clusters:
    * connected components of the [[embeddingNearDupPairs]] graph,
    * every vector labeled with its cluster's minimum vec_id — the
    * embedding-space member of the cluster family
    * ([[graft.text.Dedup.jaccardComponents]] /
    * `minhashComponents` / `simhashComponents` are the lexical
    * members). This is the "semantic dedup" step of a training-data
    * pipeline: paraphrases and re-encodings that share no tokens
    * still collapse when their embeddings agree.
    *
    * Edges are already exact-cosine-confirmed by the pair operator
    * (LSH only generates candidates), so closure cannot chain a
    * false positive the confirm would have rejected — the transitive
    * chain itself is the semantics (A≈B≈C groups A,C even when
    * cos(A,C) < threshold), same contract as the lexical components.
    *
    * Scale shape: [[Dedup.bandedComponents]] over the distinct
    * vectors — bit-identical vectors collapse to their min-id rep
    * BEFORE the pair search (a colossal exact-dup cluster is one
    * vertex of the band join, not a quadratic clique — at 100 TB
    * you'd key this collapse on a 128-bit content fingerprint of the
    * vector bytes rather than shuffling the arrays themselves; the
    * array key keeps the declared form exactly oracle-mirrorable),
    * each rep's vector and norm ride its band rows to the exact-cosine
    * confirm, and members rejoin their rep's component.
    *
    * @param maxCandidates optional budget on the internal banded
    *        candidate join (Σ_(band,bkt) n·(n−1)/2 over rep vectors
    *        — [[Dedup.guardCandidates]]); breach throws
    *        [[CandidateBudgetExceededException]] before the join
    *        launches. None (default) = historical unguarded path. */
  def embeddingComponents(embeddings: DataFrame, threshold: Double,
                          nPlanes: Int = 4, nBands: Int = 4,
                          maxCandidates: Option[Long] = None): DataFrame =
      ScopedCache.scope {
    requireBanding(threshold, nBands)
    // NULL embeddings are excluded EXPLICITLY (family convention:
    // tokenless docs drop) — a null-safe join would instead merge all
    // null rows into one bogus "cluster" of unmeasurable vectors
    val keyed = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    // zero-norm reps are banded too (their sims drop at the confirm),
    // so the guard counts every pair the join evaluates
    Dedup.bandedComponents(keyed,
      keyed.groupBy(col("embedding")).agg(min(col("vec_id")).as("rep_id")),
      cosineBanded(_, nPlanes, nBands), cosineEdge(threshold), maxCandidates,
      "embeddingComponents")
  }

  /** ANN top-k: score only pairs sharing an LSH bucket. Recall is
    * approximate (cosine-close vectors agree on hyperplane signs with
    * high probability) and tunable: `nProbes > 1` additionally scores
    * the buckets adjacent across the query's lowest-margin
    * hyperplanes. The corpus shuffles once on its (single) bucket key;
    * only the tiny broadcast query block fans out ×nProbes. */
  def cosineTopKBucketed(embeddings: DataFrame, nQueries: Int, k: Int,
                         nPlanes: Int = 4, nProbes: Int = 1): DataFrame = {
    require(nQueries >= 1 && k >= 1, s"need nQueries, k >= 1, got ($nQueries, $k)")
    require(nPlanes >= 1 && nProbes >= 1, s"need nPlanes, nProbes >= 1, got ($nPlanes, $nProbes)")
    val e = embeddings.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("nrm"), lshBucket(col("embedding"), nPlanes).as("bkt"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              norm2(col("embedding")).as("q_nrm"),
              explode(probeBuckets(col("embedding"), nPlanes, nProbes)).as("q_bkt"))
    val scored = e.join(broadcast(q), col("bkt") === col("q_bkt") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("embedding"), col("q_vec"), col("nrm"), col("q_nrm")))
    topK(scored, k)
  }

  // ---- IVF / PQ indexes: one build and one search per index kind ----

  /** IVF (inverted-file) top-k: coarse-quantize the corpus into
    * `nCells` cells, search only the `nProbe` cells nearest each
    * query. This is [[ivfTopKIndexed]]'s search run over the inverted
    * file [[writeInvertedFile]] would write, left unwritten — the two
    * differ only by the write.
    *
    * Centroids: `lloydIters = 0` (the declared, oracle-mirrored form)
    * uses the first `nCells` corpus vectors as a deterministic seed
    * quantizer ([[seedBooks]]); `lloydIters > 0` runs that many
    * k-means rounds from the same seeds ([[lloyd]]) — on clustered
    * corpora this is what makes `nProbe` recall claims meaningful
    * (unit-tested: recall@5 rises vs the seeded quantizer at equal
    * nProbe). Assignment = argmax cosine(centroid), ties broken by
    * lower cell id.
    *
    * Scale shape: the coarse quantizer collapses to ONE broadcast row
    * (an nCells-element array of centroid structs), and assignment is
    * a per-row argmax fold over it — pure map, zero corpus shuffle,
    * no aggregate at all (the earlier groupBy-argmax formulation fell
    * to SortAggregate: an array-bearing buffer cannot hash-aggregate).
    * Queries fan out ×nProbe on the broadcast side only, so the only
    * shuffle in the whole search is the final top-k over candidate
    * rows.
    *
    * @param trainSampleFraction fraction of the corpus each Lloyd
    *        round scans during quantizer training (seeds always come
    *        from the full corpus). 1.0 trains on everything; a 100-TB
    *        corpus passes e.g. 0.01 so training costs a sample pass,
    *        not `lloydIters` full scans — FAISS practice, where the
    *        quantizer is always fit on a bounded sample. Deterministic
    *        (fixed-seed Bernoulli sample). */
  def ivfTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              nCells: Int = 16, nProbe: Int = 2, lloydIters: Int = 0,
              trainSampleFraction: Double = 1.0): DataFrame = {
    requireCells(nCells, nProbe, k)
    requireTraining(lloydIters, trainSampleFraction)
    val (cent, index) = invertedFile(embeddings, nCells, lloydIters, trainSampleFraction)
    ivfSearch(index, cent, embeddings.filter(col("vec_id") < nQueries), k, nProbe)
  }

  /** Argument rules of the IVF/PQ entry points. Every entry point that
    * builds an index checks all of its arguments before it reads,
    * trains or writes anything: a writer that failed midway (say in
    * codebook training, after `centroids/` was written) would leave a
    * half-built index. */
  private def requireCells(nCells: Int, nProbe: Int = 1, k: Int = 1): Unit =
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells && k >= 1,
      s"need 1 <= nProbe <= nCells and k >= 1, got (nCells=$nCells, nProbe=$nProbe, k=$k)")

  private def requireTraining(lloydIters: Int, trainSampleFraction: Double): Unit = {
    require(lloydIters >= 0, s"need lloydIters >= 0, got $lloydIters")
    require(trainSampleFraction > 0.0 && trainSampleFraction <= 1.0,
      s"need trainSampleFraction in (0, 1], got $trainSampleFraction")
  }

  private def requirePq(m: Int, nBooks: Int, dim: Int): Unit = {
    require(m >= 1 && dim % m == 0, s"need dim divisible by m, got (dim=$dim, m=$m)")
    require(nBooks >= 1, s"need nBooks >= 1, got $nBooks")
  }

  /** Argmax cosine over the broadcast `cents` centroid array: strict
    * > keeps the lowest cell id on ties (matches the oracle's c_sim
    * DESC, cell ASC ranking). */
  private def bestCellExpr(vec: Column, nrm: Column): Column =
    aggregate(
      col("cents"),
      struct(lit(-2.0).as("best_sim"), lit(-1L).as("cell")),
      (acc, c) => {
        val sim = cosine(vec, c.getField("c_vec"), nrm, c.getField("c_nrm"))
        // simDefined, not bare >: Spark evaluates NaN > x as TRUE, so
        // a NaN-component vector would win EVERY fold step and land in
        // the LAST centroid's cell instead of the documented "no
        // defined cosine ⇒ sentinel cell −1" (null sim already falls
        // through via three-valued logic)
        when(simDefined(sim) && sim > acc.getField("best_sim"),
          struct(sim.as("best_sim"), c.getField("cell").as("cell")))
          .otherwise(acc)
      },
      acc => acc.getField("cell"))

  /** The ONE corpus-assignment projection: `e`'s columns plus `cell`,
    * the [[bestCellExpr]] argmax over the broadcast `cent` frame. `e`
    * needs (embedding, nrm). */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .select(e.columns.toSeq.map(col) :+ bestCellExpr(col("embedding"), col("nrm")).as("cell"): _*)

  /** One-row `books` frame (array of (cid, c_vec) structs sorted by
    * cid) from a (cid, c_vec) table. */
  private def booksRow(table: DataFrame): DataFrame =
    table.agg(array_sort(collect_list(struct(col("cid"), col("c_vec")))).as("books"))

  /** The quantizer form of a books frame: one row `cents`, each
    * centroid as (cell, c_vec, c_nrm) — the broadcast side of
    * assignment and probing. */
  private def centsOf(books: DataFrame): DataFrame =
    books.select(transform(col("books"), b =>
      struct(b.getField("cid").as("cell"), b.getField("c_vec").as("c_vec"),
        norm2(b.getField("c_vec")).as("c_nrm"))).as("cents"))

  /** The ONE seed rule of every quantizer and codebook: the first `n`
    * vectors by vec_id, renumbered DENSELY 0..n-1 in vec_id order, as
    * a one-row `books` frame. Dense labels are the invariant the rest
    * relies on: [[pqReconExpr]] decodes by array position, and
    * [[lloyd]] keeps the seeds' labels, so cells and codes written
    * under one `lloydIters` setting read under another. On dense
    * 0-based corpora (every fixture and oracle) cid == vec_id.
    *
    * The array position is the cid: sorting the collected seed
    * structs avoids a partition-less row_number window, which planned
    * a global sort even over `n` rows. Zero seed rows (no vec_id < n,
    * e.g. a re-keyed shard) fail loudly from inside the plan: an empty
    * quantizer would assign cell = -1 everywhere, and an empty
    * codebook NULL codes, both reading as "no neighbors". */
  private def seedBooks(e: DataFrame, n: Int, what: String): DataFrame =
    e.filter(col("vec_id") < n)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding").as("c_vec"))))
        .as("seeds"))
      .select(when(
          assert_true(size(col("seeds")) >= 1,
            lit(s"$what found no rows with vec_id < $n to seed from — " +
              "re-key vec_ids to start at 0")).isNull,
        transform(col("seeds"), (s, i) =>
          struct(i.cast(LongType).as("cid"), s.getField("c_vec").as("c_vec")))).as("books"))

  /** The ONE Lloyd loop of every quantizer and codebook: `iters`
    * k-means rounds from the one-row `seeds` frame over `e`; 0 rounds
    * returns the seeds themselves (lazy, the declared form).
    *
    * Per round, `members(train, books)` maps the training rows to
    * (cid, pos, x): the centroid a component is assigned to under the
    * current `books`, its position in that centroid's vector and its
    * value. The update is the per-(cid, pos) mean, aggregated in ONE
    * partial-aggregable shuffle of at most `n × dim` narrow keys and
    * summed as DECIMAL so a round is independent of partition order
    * (bit-reproducible training). An empty cell keeps its centroid.
    * The per-round collect is the codebook itself — `n × dim` values,
    * driver metadata by nature (FAISS trains exactly this way, in
    * memory, on at most a corpus sample); the corpus is never
    * collected. Seeds come from the full corpus; `frac < 1` bounds
    * each round's scan to a deterministic fixed-seed sample — the
    * 100-TB path, where `iters` full corpus passes just to fit
    * `n × dim` floats would dominate the whole index build. */
  private def lloyd(e: DataFrame, seeds: DataFrame, iters: Int, frac: Double)(
      members: (DataFrame, DataFrame) => DataFrame): DataFrame =
    if (iters == 0) seeds
    else {
      val spark = e.sparkSession
      import spark.implicits._
      def frame(books: Array[(Long, Array[Float])]): DataFrame =
        booksRow(spark.createDataset(books.toIndexedSeq).toDF("cid", "c_vec"))
      val train = if (frac >= 1.0) e else e.sample(withReplacement = false, frac, seed = 27L)
      val start = seeds.select(explode(col("books")).as("b"))
        .select(col("b.cid"), col("b.c_vec")).as[(Long, Array[Float])].collect()
      frame((1 to iters).foldLeft(start) { (books, _) =>
        val stats = members(train, frame(books))
          .groupBy(col("cid"), col("pos"))
          .agg(sum(col("x").cast(DecimalType(30, 10))).as("s"), count(lit(1)).as("n"))
          .collect().groupBy(_.getLong(0))
        books.map { case (cid, old) =>
          val v = old.clone()
          stats.getOrElse(cid, Array.empty).foreach { r =>
            v(r.getInt(1)) = (r.getDecimal(2).doubleValue() / r.getLong(3)).toFloat
          }
          (cid, v)
        }
      })
    }

  /** The IVF coarse quantizer of `e` (vec_id, embedding, nrm): the
    * seeded `nCells` centroids, Lloyd-trained by cell membership. */
  private def quantizer(e: DataFrame, nCells: Int, lloydIters: Int,
                        trainSampleFraction: Double): DataFrame =
    centsOf(lloyd(e, seedBooks(e, nCells, "IVF quantizer"), lloydIters, trainSampleFraction) {
      (train, books) =>
        assignCells(train, centsOf(books))
          .select(col("cell").as("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
    })

  /** The inverted file [[writeInvertedFile]] persists, unwritten: the
    * quantizer frame and the index rows (vec_id, embedding, nrm,
    * cell). */
  private def invertedFile(embeddings: DataFrame, nCells: Int, lloydIters: Int,
                           trainSampleFraction: Double): (DataFrame, DataFrame) = {
    val e = embeddings.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val cent = quantizer(e, nCells, lloydIters, trainSampleFraction)
    (cent, assignCells(e, cent))
  }

  /** Store a quantizer (`cents`, ids as `cell`) or a codebook
    * (`books`, ids as `cid`) next to its index as (id, c_vec) rows —
    * a reader must probe with exactly the centroids the assignment
    * used, and decode with the codebook the encoding used. */
  private def writeBooks(frame: DataFrame, array: String, id: String, path: String): Unit =
    frame.select(explode(col(array)).as("b"))
      .select(col(s"b.$id").as(id), col("b.c_vec").as("c_vec"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** A stored quantizer (`centroids/` as written by [[writeBooks]])
    * as a quantizer frame. */
  private def storedCents(stored: DataFrame): DataFrame =
    centsOf(booksRow(stored.select(col("cell").as("cid"), col("c_vec"))))

  /** Write index rows as the hive-partitioned `dir/index/cell=<id>/…`
    * layout; repartitioning on cell first makes each cell a contiguous
    * file set, not `nPartitions × nCells` fragments. */
  private def writeCells(index: DataFrame, dir: String): Unit =
    index.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/index")

  /** Persisted inverted file: the IVF assignment materialized as a
    * hive-partitioned parquet layout (`index/cell=<id>/…`) plus the
    * quantizer it was built with (`centroids/`). This is the index
    * form of [[ivfTopK]] — build once, then every query batch reads
    * ONLY its probed cells instead of rescanning the corpus
    * ([[ivfTopKIndexed]]). The assignment itself is the same
    * zero-shuffle broadcast-argmax map; the write's one shuffle is
    * the partitioned layout. */
  def writeInvertedFile(embeddings: DataFrame, dir: String,
                        nCells: Int = 16, lloydIters: Int = 0,
                        trainSampleFraction: Double = 1.0): Unit = {
    requireCells(nCells)
    requireTraining(lloydIters, trainSampleFraction)
    val (cent, index) = invertedFile(embeddings, nCells, lloydIters, trainSampleFraction)
    writeBooks(cent, "cents", "cell", s"$dir/centroids")
    writeCells(index, dir)
  }

  /** Query a persisted inverted file: rank the stored centroids per
    * query, probe the `nProbe` best cells, and let DYNAMIC PARTITION
    * PRUNING cut the index scan to exactly those `cell=` directories
    * — the probe list is data-dependent, so the pruning is the
    * runtime kind (a broadcast-join subquery on the partition
    * column), not a static filter. Same search as [[ivfTopK]] over
    * the same quantizer; plan-asserted in the spec. */
  def ivfTopKIndexed(spark: SparkSession, dir: String, queries: DataFrame,
                     k: Int, nProbe: Int = 2): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"need k >= 1 and nProbe >= 1, got ($k, $nProbe)")
    // loud dim guard: a query frame whose embedding dim differs from
    // the stored index makes every dot NULL (zip_with's length
    // contract), so probes degrade to arbitrary cells and every
    // scored sim drops at the simDefined filter — the result silently
    // reads as "no neighbors". The PQ reader fails loudly on the same
    // mismatch via the stored codebook; here the stored centroid dim
    // (nCells rows, driver metadata) plus ONE bounded scan of the
    // query frame — small by contract, it broadcasts — buys the flat
    // reader the same contract.
    val centStored = spark.read.parquet(s"$dir/centroids")
    val storedDims = centStored.select(size(col("c_vec")).as("d")).distinct()
      .collect().map(_.getInt(0))
    // empty is its own failure: "mix dims []" would misname a
    // missing/truncated index as a dim mismatch
    require(storedDims.nonEmpty,
      s"IVF index at $dir/centroids is empty — build it with writeInvertedFile")
    require(storedDims.length == 1,
      s"stored IVF centroids at $dir/centroids mix dims [${storedDims.mkString(",")}] " +
        "— rebuild the index with writeInvertedFile")
    val badQ = queries
      .filter(col("embedding").isNotNull && size(col("embedding")) =!= storedDims.head)
      .select(col("vec_id"), size(col("embedding")).as("d")).limit(1).collect()
    require(badQ.isEmpty,
      s"ivfTopKIndexed: query vec_id=${badQ.headOption.map(_.get(0)).getOrElse("")} has " +
        s"dim ${badQ.headOption.map(_.get(1)).getOrElse("")} but the index at $dir " +
        s"stores dim-${storedDims.head} vectors — query with matching embeddings or rebuild")
    ivfSearch(spark.read.parquet(s"$dir/index"), storedCents(centStored), queries, k, nProbe)
  }

  /** The probe join of both IVF index kinds: rank the broadcast
    * centroids per query by ROUNDED cosine (round-6 before ordering —
    * the cross-libm contract the DuckDB oracles mirror; ties → lowest
    * cell), keep the `nProbe` best cells, and join them to the
    * `index` rows of those cells, self-pairs excluded. `queries` needs
    * (vec_id, embedding); the join adds (q_id, q_vec, q_nrm). Over a
    * written index the cell key is the partition column, so dynamic
    * partition pruning cuts the scan to the probed directories. */
  private def probeJoin(index: DataFrame, cent: DataFrame, queries: DataFrame,
                        nProbe: Int): DataFrame = {
    val probes = queries
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("nrm"), explode(col("cents")).as("c"))
      .withColumn("c_sim", cosine(col("embedding"), col("c.c_vec"), col("nrm"), col("c.c_nrm")))
      .withColumn("c_rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_sim").desc, col("c.cell"))))
      .filter(col("c_rk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nrm").as("q_nrm"), col("c.cell").as("cell"))
    index.join(broadcast(probes), Seq("cell")).filter(col("vec_id") =!= col("q_id"))
  }

  /** The ONE flat IVF search: [[ivfTopKIndexed]] runs it over the
    * written inverted file, [[ivfTopK]] over the unwritten one. */
  private def ivfSearch(index: DataFrame, cent: DataFrame, queries: DataFrame,
                        k: Int, nProbe: Int): DataFrame =
    topK(probeJoin(index, cent, queries, nProbe)
      .withColumn("sim", cosine(col("embedding"), col("q_vec"), col("nrm"), col("q_nrm"))), k)

  // ---- product quantization (the FAISS IVF-PQ compression half) ----

  /** Squared L2 between subspace `j` of `vec` and the same subspace
    * of `cvec` — [[pqAdist]] over the two slices. */
  private def pqSubDist2(vec: Column, cvec: Column, j: Column, sub: Int): Column =
    pqAdist(slice(vec, j * sub + 1, lit(sub)), slice(cvec, j * sub + 1, lit(sub)))

  /** Argmin centroid id for subspace `j` over the broadcast `books`
    * array: `array_min` over (d, cid) structs — struct ordering is
    * lexicographic, so ties on d resolve to the lowest cid (matches
    * the oracle's `ORDER BY d, cid` ranking), and each candidate's
    * distance fold is evaluated exactly once (an `aggregate` with a
    * `when(d < best)` guard would evaluate it twice — HOF lambdas get
    * no common-subexpression elimination). */
  private def pqBestCode(vec: Column, j: Column, sub: Int): Column =
    array_min(transform(col("books"), b =>
      struct(pqSubDist2(vec, b.getField("c_vec"), j, sub).as("d"),
        b.getField("cid").as("cid")))).getField("cid")

  /** The `m` per-subspace code columns as one array expression
    * (requires a `books` column in scope). */
  private def pqCodesExpr(vec: Column, m: Int, sub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j => pqBestCode(vec, j, sub))

  /** ADC reconstruction from a `codes` array and an in-scope `books`
    * column: the chosen centroids' subvectors concatenated in
    * subspace order. O(1) positional lookup per code — cids are
    * dense 0..n-1 and `books` is sorted by cid ([[seedBooks]]
    * invariant), so code k sits at array position k+1. */
  private def pqReconExpr(codes: Column, sub: Int): Column =
    flatten(transform(codes, (code, j) =>
      slice(element_at(col("books"), (code + 1).cast(IntegerType))
        .getField("c_vec"), j * sub + 1, lit(sub))))

  /** Fixed-order squared-L2 fold between two vectors — the ADC
    * distance; exact-cast floats, correctly-rounded double ops, no
    * libm. */
  private def pqAdist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast(DoubleType) - y.cast(DoubleType)) *
        (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v)

  /** (vec_id, embedding, nrm) of the `dim`-wide vectors — the rows
    * every PQ path encodes, trains on and queries with. */
  private def pqVectors(embeddings: DataFrame, dim: Int): DataFrame =
    embeddings.filter(size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))

  /** The PQ codebook of `e`: the seeded `nBooks` centroids, Lloyd-
    * trained per (subspace, centroid) for ALL `m` subspaces in one
    * pass per round — a component at position `pos` of subspace `j`
    * updates position `j·sub + pos` of its subspace's centroid. */
  private def pqBooks(e: DataFrame, m: Int, nBooks: Int, sub: Int, iters: Int,
                      trainSampleFraction: Double): DataFrame =
    lloyd(e, seedBooks(e, nBooks, "PQ codebook"), iters, trainSampleFraction) { (train, books) =>
      train.crossJoin(broadcast(books))
        .select(col("embedding"),
          posexplode(pqCodesExpr(col("embedding"), m, sub)).as(Seq("j", "cid")))
        .select(col("cid"), col("j"),
          posexplode(slice(col("embedding"), col("j") * sub + 1, lit(sub))).as(Seq("p", "x")))
        .select(col("cid"), (col("j") * sub + col("p")).as("pos"), col("x"))
    }

  /** Lloyd-refined PQ codebook ([[lloyd]] over [[seedBooks]]): the
    * one-row books frame [[pqEncode]] consumes. */
  def pqTrainBooks(embeddings: DataFrame, m: Int = 4, nBooks: Int = 8,
                   dim: Int = 64, iters: Int = 1,
                   trainSampleFraction: Double = 1.0): DataFrame = {
    requirePq(m, nBooks, dim)
    requireTraining(iters, trainSampleFraction)
    pqBooks(pqVectors(embeddings, dim), m, nBooks, dim / m, iters, trainSampleFraction)
  }

  /** Product-quantization codes: split each `dim`-vector into `m`
    * subspaces and store, per subspace, the dense id of the nearest
    * codebook centroid — `m` small ints instead of `dim` floats, the
    * FAISS-PQ compression that makes a 100-TB embedding corpus fit
    * an ANN index (64×4 B → `m` bytes/vector at nBooks ≤ 256).
    *
    * Codes are a zero-shuffle map over the corpus: the one-row
    * codebook frame broadcasts, every vector encodes in a single
    * codegen'd projection. Returns (vec_id, embedding, codes, books)
    * — embedding and the broadcast books ride along for in-plan
    * composition ([[pqTopK]]'s reconstruction, training rounds);
    * the PERSISTED artifact is `select("vec_id", "codes")` only
    * (what [[writePqIndex]] stores — never the codebook per row). */
  def pqEncode(embeddings: DataFrame, m: Int = 4, nBooks: Int = 8,
               dim: Int = 64, lloydIters: Int = 0,
               trainSampleFraction: Double = 1.0): DataFrame = {
    requirePq(m, nBooks, dim)
    requireTraining(lloydIters, trainSampleFraction)
    val e = pqVectors(embeddings, dim)
    e.crossJoin(broadcast(pqBooks(e, m, nBooks, dim / m, lloydIters, trainSampleFraction)))
      .select(col("vec_id"), col("embedding"),
        pqCodesExpr(col("embedding"), m, dim / m).as("codes"), col("books"))
  }

  /** PQ top-k by asymmetric distance (ADC): rank the corpus for each
    * query by the squared L2 distance between the query and each
    * vector's QUANTIZED RECONSTRUCTION (the concatenation of its
    * chosen centroids). Algebraically identical to the classic
    * per-subspace lookup-table sum — reconstructing makes the
    * distance ONE fixed-order 64-term fold, so it is bit-identical
    * in any engine and needs no rounding contract before ranking.
    *
    * Scale shape: the persisted artifact is (vec_id, codes) — the
    * 32×-compressed scan side; `recon` is a transient projection
    * inside the scoring pass, never stored. Queries broadcast
    * (nQueries rows), the corpus never shuffles for the expansion,
    * and the final per-query rank is the [[topK]] window. Returns
    * (q_id, vec_id, adist, rk), self-pairs excluded. */
  def pqTopK(embeddings: DataFrame, nQueries: Int, k: Int,
             m: Int = 4, nBooks: Int = 8, dim: Int = 64,
             lloydIters: Int = 0, trainSampleFraction: Double = 1.0): DataFrame = {
    require(nQueries >= 1 && k >= 1, s"need nQueries, k >= 1, got ($nQueries, $k)")
    val coded = pqEncode(embeddings, m, nBooks, dim, lloydIters, trainSampleFraction)
    // AFTER pqEncode's (m, dim) require — m = 0 would otherwise die
    // in this division as a bare ArithmeticException before the
    // named message
    val sub = dim / m
    val q = pqVectors(embeddings, dim).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = coded
      .select(col("vec_id"), pqReconExpr(col("codes"), sub).as("recon"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", pqAdist(col("q_vec"), col("recon")))
    topK(scored, k, "adist", ascending = true)
  }

  /** In-memory IVF-PQ search: [[ivfPqTopKIndexed]]'s search run over
    * the index [[writePqIndex]] would write, left unwritten. The
    * corpus is read once: every vector is cell-assigned AND PQ-encoded
    * in one broadcast projection, and never shuffles. Declared-query
    * twin with a full DuckDB oracle: the cell stage is the
    * [[ivfTopK]] rounded-cosine contract, the distance stage the
    * [[pqTopK]] no-libm exact-fold contract. */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                nCells: Int = 16, nProbe: Int = 2, m: Int = 4,
                nBooks: Int = 8, dim: Int = 64): DataFrame = {
    require(nQueries >= 1 && k >= 1, s"need nQueries, k >= 1, got ($nQueries, $k)")
    requireCells(nCells, nProbe)
    requirePq(m, nBooks, dim)
    val (cent, books, index) = pqIndex(embeddings, nCells, m, nBooks, dim, 0, 1.0)
    ivfPqSearch(index, cent, books, embeddings.filter(col("vec_id") < nQueries),
      k, nProbe, m, dim)
  }

  /** The IVF-PQ index [[writePqIndex]] persists, unwritten: the
    * quantizer frame, the codebook frame and the index rows
    * (vec_id, codes, cell). */
  private def pqIndex(embeddings: DataFrame, nCells: Int, m: Int, nBooks: Int, dim: Int,
                      lloydIters: Int, trainSampleFraction: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = pqVectors(embeddings, dim)
    val cent = quantizer(e, nCells, lloydIters, trainSampleFraction)
    val books = pqBooks(e, m, nBooks, dim / m, lloydIters, trainSampleFraction)
    val index = assignCells(e.crossJoin(broadcast(books)), cent)
      .select(col("vec_id"), pqCodesExpr(col("embedding"), m, dim / m).as("codes"), col("cell"))
    (cent, books, index)
  }

  /** Persist an IVF-PQ index: the [[writeInvertedFile]] cell layout
    * (hive `cell=` partitions → dynamic partition pruning at query
    * time) with PQ CODES as the payload instead of raw vectors — the
    * full FAISS IVF-PQ composition. The stored index row is
    * (vec_id, codes): `m` small ints instead of `dim` floats, so the
    * per-cell scan a probe touches is ~32× smaller than the
    * inverted-file one. Both quantizers ship with the index. */
  def writePqIndex(embeddings: DataFrame, dir: String, nCells: Int = 16,
                   m: Int = 4, nBooks: Int = 8, dim: Int = 64,
                   lloydIters: Int = 0, trainSampleFraction: Double = 1.0): Unit = {
    requireCells(nCells)
    requirePq(m, nBooks, dim)
    requireTraining(lloydIters, trainSampleFraction)
    val (cent, books, index) =
      pqIndex(embeddings, nCells, m, nBooks, dim, lloydIters, trainSampleFraction)
    writeBooks(cent, "cents", "cell", s"$dir/centroids")
    writeBooks(books, "books", "cid", s"$dir/books")
    writeCells(index, dir)
  }

  /** Query a persisted IVF-PQ index: rank the stored cells per query
    * ([[ivfTopKIndexed]] probe pattern — dynamic partition pruning
    * cuts the scan to the probed `cell=` directories), then ADC-rank
    * the probed cells' CODES against the query. The corpus-sized
    * side of the plan is a scan of `m`-int code rows — never the raw
    * vectors, never a shuffle. Same output contract as [[pqTopK]]
    * ((q_id, vec_id, adist, rk), self-pairs excluded). */
  def ivfPqTopKIndexed(spark: SparkSession, dir: String, queries: DataFrame,
                       k: Int, nProbe: Int = 2, m: Int = 4, dim: Int = 64): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"need k >= 1 and nProbe >= 1, got ($k, $nProbe)")
    require(m >= 1 && dim % m == 0, s"need dim divisible by m, got (dim=$dim, m=$m)")
    val storedBooks = spark.read.parquet(s"$dir/books")
    // positional decode ([[pqReconExpr]]) requires the dense 0..n-1
    // labels writePqIndex stores; a stale index written under a
    // different labeling would silently mis-decode — fail loudly
    // instead. One collect of the nBooks-row table serves both
    // validations (cid density + stored dim): two separate driver
    // jobs were two scheduling round-trips before the real query.
    val bookFacts = storedBooks.select(col("cid"), size(col("c_vec")).as("s"))
      .collect()
    val cids = bookFacts.map(_.getLong(0)).sorted
    require(cids.sameElements(cids.indices.map(_.toLong)),
      s"stored PQ codebook at $dir/books must have dense cids 0..n-1, " +
        s"got [${cids.mkString(",")}] — rebuild the index with writePqIndex")
    // the reader's (m, dim) must match what the index was WRITTEN
    // with: a mismatch makes the reconstruction length differ from
    // the query dim, zip_with pads with nulls, and every adist goes
    // NULL — a silently empty result. dim is encoded in the stored
    // codebook vectors (nBooks rows, free to check); m in the stored
    // code arrays (one-row probe).
    val storedDim = bookFacts.map(_.getInt(1)).distinct
    require(storedDim.sameElements(Array(dim)),
      s"stored PQ codebook at $dir/books holds dim-${storedDim.mkString(",")} " +
        s"vectors but the query asked for dim=$dim — query with the index's " +
        "own parameters or rebuild")
    val index = spark.read.parquet(s"$dir/index")
    index.select(size(col("codes")).as("s")).limit(1).collect()
      .headOption.map(_.getInt(0)).foreach(storedM =>
        require(storedM == m,
          s"stored PQ index at $dir/index holds $storedM-code rows but the " +
            s"query asked for m=$m — query with the index's own parameters or rebuild"))
    ivfPqSearch(index, storedCents(spark.read.parquet(s"$dir/centroids")),
      booksRow(storedBooks), queries, k, nProbe, m, dim)
  }

  /** The ONE IVF-PQ search: [[ivfPqTopKIndexed]] runs it over the
    * written index, [[ivfPqTopK]] over the unwritten one. The probed
    * cells' codes are ADC-scored against the `dim`-wide queries. */
  private def ivfPqSearch(index: DataFrame, cent: DataFrame, books: DataFrame,
                          queries: DataFrame, k: Int, nProbe: Int, m: Int,
                          dim: Int): DataFrame =
    topK(probeJoin(index, cent, queries.filter(size(col("embedding")) === dim), nProbe)
      .crossJoin(broadcast(books))
      .withColumn("adist", pqAdist(col("q_vec"), pqReconExpr(col("codes"), dim / m))),
      k, "adist", ascending = true)
}
