package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ScopedCache

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths:
  *  - `cosineTopK`: brute-force baseline — broadcast the (small)
  *    query set against the full corpus; exact, O(|corpus|·|queries|).
  *  - `cosineTopKBucketed`: sign-LSH scale path — hash every vector
  *    into a 2^h hyperplane-sign bucket and only score same-bucket
  *    pairs; the corpus is shuffled once on the bucket key, so cost
  *    is O(|corpus|) + per-bucket products instead of a cross join.
  *
  * All arithmetic is codegen'd column expressions (`zip_with` +
  * ordered `aggregate` fold) — no UDFs, no driver collect.
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
    * (`graft.functions.VectorExpressions.DotProductF`) — identical
    * results to the higher-order fold (left-to-right, per-term
    * double cast), but it stays inside whole-stage codegen with no
    * intermediate array per row. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_f(a, b)

  def norm2(a: Column): Column =
    graft.functions.VectorExpressions.norm2_f(a)

  /** Reference formulation via built-in higher-order functions — kept
    * for the equivalence property test (and as the fallback shape on
    * engines without the custom expression). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def norm2Fold(a: Column): Column =
    aggregate(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  /** Defined-similarity guard, shared by every ranking/threshold
    * site: a sim is usable iff non-NULL AND non-NaN. NULL is the
    * zero-norm case (the nullif guards); NaN means a NaN/∞ component
    * reached the dot product — and Spark ORDERS NaN greater than
    * every value and evaluates `NaN >= t` as TRUE, so one poisoned
    * vector would otherwise outrank every real neighbor in top-k and
    * pass every near-dup threshold (r12 review; same NaN-is-not-null
    * trap Learn/Validate/Warehouse each guard on their own columns). */
  private def simDefined(sim: Column): Column = sim.isNotNull && !isnan(sim)

  /** Shared ranking tail of every top-k search: rank `scored`
    * (q_id, vec_id, sim) per query by (sim desc, vec_id) — the
    * vec_id tiebreak keeps ranks deterministic under float noise —
    * and keep the first `k`. One place defines the ranking contract
    * for the exact, IVF, and ANN paths. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    // an undefined sim is excluded from the ranking entirely so it
    // can never fill a top-k slot when candidates are scarce
    scored.filter(simDefined(col("sim")))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select("q_id", "vec_id", "sim", "rk")
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
    * mixes via carries; measured on the test embeddings it yields all
    * 2^4 buckets with near-uniform occupancy. */
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
    val cent = quantizer(e, nCells, 0)
    val assigned = re.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        bestCellExpr(col("embedding"), col("nrm")).as("cell"))
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

  /** IVF (inverted-file) top-k: coarse-quantize the corpus into
    * `nCells` cells, search only the `nProbe` cells nearest each
    * query.
    *
    * Centroids: `lloydIters = 0` (the declared, oracle-mirrored form)
    * uses the first `nCells` corpus vectors as a deterministic seed
    * quantizer; `lloydIters > 0` runs that many k-means rounds from
    * the same seeds ([[trainedQuantizer]]) and slots the trained
    * centroids into the same broadcast seam — on clustered corpora
    * this is what makes `nProbe` recall claims meaningful (unit-
    * tested: recall@5 rises vs the seeded quantizer at equal nProbe).
    * Assignment = argmax cosine(centroid), ties broken by lower cell
    * id.
    *
    * Scale shape: the coarse quantizer collapses to ONE broadcast row
    * (an nCells-element array of centroid structs), and assignment is
    * a per-row argmax fold over it — pure map, zero corpus shuffle,
    * no aggregate at all (the earlier groupBy-argmax formulation fell
    * to SortAggregate: an array-bearing buffer cannot hash-aggregate).
    * Queries fan out ×nProbe on the broadcast side only, so the only
    * shuffle in the whole search is the final top-k over candidate
    * rows. A *persisted* inverted file is the same assignment column
    * written `repartition/bucketBy(cell)` so repeated query batches
    * prune partitions instead of rescanning.
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
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells && k >= 1,
      s"need 1 <= nProbe <= nCells and k >= 1, got (nCells=$nCells, nProbe=$nProbe, k=$k)")
    require(lloydIters >= 0, s"need lloydIters >= 0, got $lloydIters")
    val e = embeddings.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val cent = quantizer(e, nCells, lloydIters, trainSampleFraction)
    val assigned = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        bestCellExpr(col("embedding"), col("nrm")).as("cell"))
    // query side is tiny (nQueries × nCells rows): expand and rank
    val qCells = probeCells(e.filter(col("vec_id") < nQueries), cent, nProbe)
    val scored = assigned.join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("embedding"), col("q_vec"), col("nrm"), col("q_nrm")))
    topK(scored, k)
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
        // simDefined, not bare > (r13 review): Spark evaluates
        // NaN > x as TRUE, so a NaN-component vector would win EVERY
        // fold step and land in the LAST centroid's cell instead of
        // the documented "no defined cosine ⇒ sentinel cell −1"
        // (null sim already falls through via three-valued logic)
        when(simDefined(sim) && sim > acc.getField("best_sim"),
          struct(sim.as("best_sim"), c.getField("cell").as("cell")))
          .otherwise(acc)
      },
      acc => acc.getField("cell"))

  /** One-row quantizer frame (the broadcast side of assignment) from
    * a (cell, c_vec) table. */
  private def centsRow(cellVec: DataFrame): DataFrame =
    cellVec.select(col("cell"), col("c_vec"), norm2(col("c_vec")).as("c_nrm"))
      .agg(array_sort(collect_list(struct(col("cell"), col("c_vec"), col("c_nrm")))).as("cents"))

  /** The query-side probe shared by every IVF search path: rank the
    * broadcast centroids per query by ROUNDED cosine (round-6 before
    * ordering — the cross-libm contract the DuckDB oracles mirror;
    * ties → lowest cell) and keep the `nProbe` best cells. Input
    * needs (vec_id, embedding, nrm); output is
    * (q_id, q_vec, q_nrm, cell), one row per probed cell. ONE
    * definition so a change to the probe contract cannot drift
    * between the in-memory/indexed, flat/PQ variants. */
  private def probeCells(q: DataFrame, cent: DataFrame, nProbe: Int): DataFrame =
    q.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("nrm"), explode(col("cents")).as("c"))
      .withColumn("c_sim", cosine(col("embedding"), col("c.c_vec"), col("nrm"), col("c.c_nrm")))
      .withColumn("c_rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("c_sim").desc, col("c.cell"))))
      .filter(col("c_rk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nrm").as("q_nrm"), col("c.cell").as("cell"))

  /** Store a quantizer next to its index — the reader must probe
    * with exactly the centroids the assignment used. */
  private def writeCentroids(cent: DataFrame, dir: String): Unit =
    cent.select(explode(col("cents")).as("c"))
      .select(col("c.cell").as("cell"), col("c.c_vec").as("c_vec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")

  /** Quantizer selection shared by the in-memory and persisted IVF
    * paths: the deterministic first-`nCells` seed, optionally Lloyd-
    * trained from those same seeds. */
  private def quantizer(e: DataFrame, nCells: Int, lloydIters: Int,
                        trainSampleFraction: Double = 1.0): DataFrame =
    if (lloydIters == 0)
      // dense 0..n-1 cell ids in vec_id order (the pqBooksFrame
      // renumbering trick), NOT raw vec_ids: the trained path
      // renumbers densely, so raw ids made cell labels inconsistent
      // across lloydIters settings on sparse-id corpora (r12 review);
      // on dense 0-based corpora (every fixture and oracle) the two
      // labelings coincide. The assert_true rides the one-row frame:
      // zero seed rows (no vec_id < nCells — e.g. a re-keyed shard)
      // used to silently assign cell=-1 everywhere and read as "no
      // neighbors"; now ANY consumer of the quantizer fails loudly,
      // matching trainedQuantizer's require.
      e.filter(col("vec_id") < nCells)
        .select(col("vec_id").as("cell"), col("embedding").as("c_vec"), col("nrm").as("c_nrm"))
        .agg(array_sort(collect_list(struct(col("cell"), col("c_vec"), col("c_nrm")))).as("seeds"))
        .select(when(
            assert_true(size(col("seeds")) >= 1,
              lit(s"IVF seed quantizer found no rows with vec_id < $nCells — " +
                "re-key vec_ids to start at 0 or use lloydIters > 0 with a trained quantizer"))
              .isNull,
          transform(col("seeds"), (s, i) =>
            struct(i.cast(LongType).as("cell"),
              s.getField("c_vec").as("c_vec"), s.getField("c_nrm").as("c_nrm")))).as("cents"))
    else
      trainedQuantizer(e, nCells, lloydIters, trainSampleFraction)

  /** Lloyd-trained coarse quantizer: k-means rounds over the corpus,
    * seeded deterministically with the first `nCells` vectors (the
    * same seeds the untrained path uses, so `lloydIters` only ever
    * ADDS training).
    *
    * Per round: assignment is the usual zero-shuffle broadcast argmax
    * over the corpus; the update aggregates per-(cell, dimension)
    * component sums in ONE partial-aggregable shuffle of `nCells ×
    * dim` narrow rows, summed as DECIMAL so the result is independent
    * of partition order (bit-reproducible training). The per-round
    * collect is the quantizer itself — `nCells × dim` values, driver
    * metadata by nature (FAISS trains exactly this way, in memory, on
    * at most a corpus sample); the corpus is never collected.
    * `trainSampleFraction < 1` bounds each round's scan to a
    * deterministic fixed-seed sample — the 100-TB path, where
    * `iters` full corpus passes just to fit `nCells × dim` floats
    * would dominate the whole index build. */
  private def trainedQuantizer(e: DataFrame, nCells: Int, iters: Int,
                               trainSampleFraction: Double = 1.0): DataFrame = {
    require(trainSampleFraction > 0.0 && trainSampleFraction <= 1.0,
      s"need trainSampleFraction in (0, 1], got $trainSampleFraction")
    val spark = e.sparkSession
    import spark.implicits._
    var centroids: Array[(Long, Array[Float])] =
      e.filter(col("vec_id") < nCells).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
        .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    require(centroids.nonEmpty, s"corpus has no vectors with vec_id < $nCells to seed from")
    // seeds come from the FULL corpus (deterministic first-nCells);
    // only the per-round training scan is sampled
    val trainSet =
      if (trainSampleFraction >= 1.0) e
      else e.sample(withReplacement = false, trainSampleFraction, seed = 27L)
    for (_ <- 1 to iters) {
      val centDf = centsRow(spark.createDataset(centroids.toIndexedSeq).toDF("cell", "c_vec"))
      val assigned = trainSet.crossJoin(broadcast(centDf))
        .select(col("embedding"), bestCellExpr(col("embedding"), col("nrm")).as("cell"))
      val stats = assigned.select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col").cast(DecimalType(30, 10))).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = stats.groupBy(_.getLong(0))
      centroids = centroids.map { case (cell, old) =>
        byCell.get(cell) match {
          case Some(rows) =>
            val v = old.clone()
            rows.foreach { r =>
              v(r.getInt(1)) = (r.getDecimal(2).doubleValue() / r.getLong(3)).toFloat
            }
            (cell, v)
          case None => (cell, old) // empty cell keeps its centroid
        }
      }
    }
    centsRow(spark.createDataset(centroids.toIndexedSeq).toDF("cell", "c_vec"))
  }

  /** Persisted inverted file: the IVF assignment materialized as a
    * hive-partitioned parquet layout (`index/cell=<id>/…`) plus the
    * quantizer it was built with (`centroids/`). This is the index
    * form of [[ivfTopK]] — build once, then every query batch reads
    * ONLY its probed cells instead of rescanning the corpus
    * ([[ivfTopKIndexed]]). The assignment itself is the same
    * zero-shuffle broadcast-argmax map; the write's one shuffle is
    * the partitioned layout (repartition on cell so each cell is a
    * contiguous file set, not `nPartitions × nCells` fragments). */
  def writeInvertedFile(embeddings: DataFrame, dir: String,
                        nCells: Int = 16, lloydIters: Int = 0,
                        trainSampleFraction: Double = 1.0): Unit = {
    require(nCells >= 1, s"need nCells >= 1, got $nCells")
    val e = embeddings.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val cent = quantizer(e, nCells, lloydIters, trainSampleFraction)
    writeCentroids(cent, dir)
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        bestCellExpr(col("embedding"), col("nrm")).as("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/index")
  }

  /** Query a persisted inverted file: rank the stored centroids per
    * query, probe the `nProbe` best cells, and let DYNAMIC PARTITION
    * PRUNING cut the index scan to exactly those `cell=` directories
    * — the probe list is data-dependent, so the pruning is the
    * runtime kind (a broadcast-join subquery on the partition
    * column), not a static filter. Same semantics as [[ivfTopK]]
    * over the same quantizer; plan-asserted in the spec. */
  def ivfTopKIndexed(spark: SparkSession, dir: String, queries: DataFrame,
                     k: Int, nProbe: Int = 2): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"need k >= 1 and nProbe >= 1, got ($k, $nProbe)")
    val centStored = spark.read.parquet(s"$dir/centroids")
    // loud dim guard (r13 review): a query frame whose embedding dim
    // differs from the stored index makes every dot NULL (zip_with's
    // length contract), so probes degrade to arbitrary cells and
    // every scored sim drops at the simDefined filter — the result
    // silently reads as "no neighbors". The PQ reader fails loudly
    // on the same mismatch via the stored codebook; here the stored
    // centroid dim (nCells rows, driver metadata) plus ONE bounded
    // scan of the query frame — small by contract, it broadcasts —
    // buys the flat reader the same contract.
    val storedDims = centStored.select(size(col("c_vec")).as("d")).distinct()
      .collect().map(_.getInt(0))
    // empty is its own failure (r13 advisor): "mix dims []" would
    // misname a missing/truncated index as a dim mismatch
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
    val cent = centsRow(centStored)
    val q = probeCells(
      queries.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm")),
      cent, nProbe)
    val index = spark.read.parquet(s"$dir/index")
    val scored = index.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("embedding"), col("q_vec"), col("nrm"), col("q_nrm")))
    topK(scored, k)
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

  /** One-row PQ codebook frame (the broadcast side of encoding):
    * the deterministic first-`nBooks` seed vectors, with cids
    * RENUMBERED DENSELY 0..n-1 in vec_id order. Dense labels are the
    * invariant both downstream paths rely on: [[pqReconExpr]] does an
    * O(1) positional `element_at`, and [[pqTrainBooks]] (which
    * renumbers the same way) stays label-compatible, so codes written
    * with one `lloydIters` setting decode under another. On the
    * test corpora vec_id 0..nBooks-1 all exist, so dense cid ==
    * vec_id and the DuckDB oracles may use vec_id directly. */
  private def pqBooksFrame(e: DataFrame, nBooks: Int): DataFrame =
    // dense renumbering WITHOUT a partition-less row_number window
    // (even bounded to nBooks rows it planned a global sort): sort the
    // collected seed structs by vec_id, then the array POSITION is the
    // cid — same dense 0..n-1 labels in vec_id order, window-free
    e.filter(col("vec_id") < nBooks)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding").as("c_vec"))))
        .as("seeds"))
      // loud on zero seeds, like the IVF quantizer: an empty codebook
      // used to yield NULL codes → NULL distances → a silently empty
      // top-k (pqTrainBooks requires nonEmpty; the seeded path now
      // fails the same way, from inside the plan)
      .select(when(
          assert_true(size(col("seeds")) >= 1,
            lit(s"PQ seed codebook found no rows with vec_id < $nBooks — " +
              "re-key vec_ids to start at 0 or train with lloydIters > 0")).isNull,
        transform(col("seeds"), (s, i) =>
          struct(i.cast(LongType).as("cid"), s.getField("c_vec").as("c_vec")))).as("books"))

  /** The `m` per-subspace code columns as one array expression
    * (requires a `books` column in scope). */
  private def pqCodesExpr(vec: Column, m: Int, sub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j => pqBestCode(vec, j, sub))

  /** ADC reconstruction from a `codes` array and an in-scope `books`
    * column: the chosen centroids' subvectors concatenated in
    * subspace order. O(1) positional lookup per code — cids are
    * dense 0..n-1 and `books` is sorted by cid ([[pqBooksFrame]]
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

  /** Lloyd-refined PQ codebook: per-(subspace, centroid) k-means
    * rounds over the assignment the current books produce — the
    * [[trainedQuantizer]] recipe applied jointly to ALL `m`
    * subspaces in ONE partial-aggregated pass per round (keys are
    * (j, cid, pos): at most m·nBooks·sub cells of driver metadata,
    * FAISS-style). Sums are DECIMAL so rounds are bit-reproducible
    * in any partition order; empty (j, cid) cells keep their
    * subvector; seeds are the deterministic first-`nBooks` vectors
    * and only the training scan is sampled. Returns the one-row
    * books frame [[pqEncode]] consumes. */
  def pqTrainBooks(embeddings: DataFrame, m: Int = 4, nBooks: Int = 8,
                   dim: Int = 64, iters: Int = 1,
                   trainSampleFraction: Double = 1.0): DataFrame = {
    require(m >= 1 && dim % m == 0, s"need dim divisible by m, got (dim=$dim, m=$m)")
    require(iters >= 0, s"need iters >= 0, got $iters")
    require(trainSampleFraction > 0.0 && trainSampleFraction <= 1.0,
      s"need trainSampleFraction in (0, 1], got $trainSampleFraction")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sub = dim / m
    val e = embeddings.filter(size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding"))
    var books: Array[(Long, Array[Float])] =
      e.filter(col("vec_id") < nBooks).orderBy(col("vec_id"))
        .as[(Long, Array[Float])].collect()
        .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    require(books.nonEmpty, s"corpus has no vectors with vec_id < $nBooks to seed from")
    val trainSet =
      if (trainSampleFraction >= 1.0) e
      else e.sample(withReplacement = false, trainSampleFraction, seed = 27L)
    def booksRow(bs: Array[(Long, Array[Float])]): DataFrame =
      spark.createDataset(bs.toIndexedSeq).toDF("cid", "c_vec")
        .agg(array_sort(collect_list(struct(col("cid"), col("c_vec")))).as("books"))
    for (_ <- 1 to iters) {
      val stats = trainSet.crossJoin(broadcast(booksRow(books)))
        .select(col("embedding"),
          posexplode(pqCodesExpr(col("embedding"), m, sub)).as(Seq("j", "cid")))
        .select(col("j"), col("cid"),
          posexplode(slice(col("embedding"), col("j") * sub + 1, lit(sub))).as(Seq("pos", "x")))
        .groupBy(col("j"), col("cid"), col("pos"))
        .agg(sum(col("x").cast(DecimalType(30, 10))).as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = stats.groupBy(r => (r.getInt(0), r.getLong(1)))
      books = books.map { case (cid, old) =>
        val v = old.clone()
        for (j <- 0 until m) byKey.get((j, cid)).foreach(_.foreach { r =>
          v(j * sub + r.getInt(2)) = (r.getDecimal(3).doubleValue() / r.getLong(4)).toFloat
        })
        (cid, v)
      }
    }
    booksRow(books)
  }

  /** Codebook for the requested training setting: the deterministic
    * seed frame, or the Lloyd-refined one — the single switch every
    * PQ entry point shares (both produce the same dense-cid labels,
    * so codes from one setting decode under the other). */
  private def pqBooksFor(embeddings: DataFrame, e: DataFrame, m: Int, nBooks: Int,
                         dim: Int, lloydIters: Int, trainSampleFraction: Double): DataFrame =
    if (lloydIters == 0) pqBooksFrame(e, nBooks)
    else pqTrainBooks(embeddings, m, nBooks, dim, lloydIters, trainSampleFraction)

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
    require(m >= 1 && dim % m == 0, s"need dim divisible by m, got (dim=$dim, m=$m)")
    require(nBooks >= 1, s"need nBooks >= 1, got $nBooks")
    val sub = dim / m
    val e = embeddings.filter(size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding"))
    val books = pqBooksFor(embeddings, e, m, nBooks, dim, lloydIters, trainSampleFraction)
    e.crossJoin(broadcast(books))
      .select(col("vec_id"), col("embedding"),
        pqCodesExpr(col("embedding"), m, sub).as("codes"),
        col("books"))
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
    // named message (the sibling entry points already order it so)
    val sub = dim / m
    val q = embeddings.filter(size(col("embedding")) === dim)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = coded
      .select(col("vec_id"), pqReconExpr(col("codes"), sub).as("recon"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", pqAdist(col("q_vec"), col("recon")))
    pqRank(scored, k)
  }

  /** Ascending-distance twin of [[topK]]: rank per query by
    * (adist asc, vec_id) and keep the first `k`. */
  private def pqRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("vec_id"))
    // [[topK]]'s null contract, mirrored for distances: an undefined
    // adist (null embedding element, length-mismatched reconstruction
    // — zip_with pads the shorter array with nulls) must be EXCLUDED,
    // not ranked — ascending order puts NULL FIRST in Spark, so
    // unfiltered it would fill every top-k slot. NaN too (the full
    // simDefined contract): a NaN query/corpus component makes adist
    // NaN, which is non-null and still ranks — rows with no defined
    // distance must not occupy neighbor slots the cosine paths would
    // leave empty.
    scored.filter(simDefined(col("adist")))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select("q_id", "vec_id", "adist", "rk")
  }

  /** In-memory IVF-PQ search — the composition [[writePqIndex]] /
    * [[ivfPqTopKIndexed]] persist, as one lazy plan: coarse-assign
    * every vector to its best cell AND PQ-encode it in a single
    * broadcast projection (corpus reads once, never shuffles), probe
    * the `nProbe` best cells per query, ADC-rank the probed cells'
    * reconstructions. Declared-query twin with a full DuckDB oracle:
    * the cell stage reuses the [[ivfTopK]] rounded-cosine contract,
    * the distance stage the [[pqTopK]] no-libm exact-fold contract. */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                nCells: Int = 16, nProbe: Int = 2, m: Int = 4,
                nBooks: Int = 8, dim: Int = 64): DataFrame = {
    require(nQueries >= 1 && k >= 1, s"need nQueries, k >= 1, got ($nQueries, $k)")
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      s"need 1 <= nProbe <= nCells, got (nCells=$nCells, nProbe=$nProbe)")
    require(m >= 1 && dim % m == 0, s"need dim divisible by m, got (dim=$dim, m=$m)")
    require(nBooks >= 1, s"need nBooks >= 1, got $nBooks")
    val sub = dim / m
    val e = embeddings.filter(size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val cent = quantizer(e, nCells, lloydIters = 0)
    val books = pqBooksFrame(e.select(col("vec_id"), col("embedding")), nBooks)
    val corpus = e.crossJoin(broadcast(cent)).crossJoin(broadcast(books))
      .select(col("vec_id"),
        bestCellExpr(col("embedding"), col("nrm")).as("cell"),
        pqReconExpr(pqCodesExpr(col("embedding"), m, sub), sub).as("recon"))
    val qProbed = probeCells(e.filter(col("vec_id") < nQueries), cent, nProbe)
      .drop("q_nrm")
    val scored = corpus.join(broadcast(qProbed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", pqAdist(col("q_vec"), col("recon")))
    pqRank(scored, k)
  }

  /** Persist an IVF-PQ index: the [[writeInvertedFile]] cell layout
    * (hive `cell=` partitions → dynamic partition pruning at query
    * time) with PQ CODES as the payload instead of raw vectors — the
    * full FAISS IVF-PQ composition. The stored index row is
    * (vec_id, codes): `m` small ints instead of `dim` floats, so the
    * per-cell scan a probe touches is ~32× smaller than the
    * inverted-file one. Both quantizers ship with the index (a
    * reader must probe with the centroids the assignment used, and
    * decode with the codebook the encoding used). */
  def writePqIndex(embeddings: DataFrame, dir: String, nCells: Int = 16,
                   m: Int = 4, nBooks: Int = 8, dim: Int = 64,
                   lloydIters: Int = 0, trainSampleFraction: Double = 1.0): Unit = {
    require(nCells >= 1, s"need nCells >= 1, got $nCells")
    require(m >= 1 && dim % m == 0, s"need dim divisible by m, got (dim=$dim, m=$m)")
    val sub = dim / m
    val e = embeddings.filter(size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val cent = quantizer(e, nCells, lloydIters, trainSampleFraction)
    writeCentroids(cent, dir)
    val books = pqBooksFor(embeddings, e, m, nBooks, dim, lloydIters, trainSampleFraction)
    books.select(explode(col("books")).as("b"))
      .select(col("b.cid").as("cid"), col("b.c_vec").as("c_vec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
    e.crossJoin(broadcast(cent)).crossJoin(broadcast(books))
      .select(col("vec_id"),
        pqCodesExpr(col("embedding"), m, sub).as("codes"),
        bestCellExpr(col("embedding"), col("nrm")).as("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/index")
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
    val sub = dim / m
    val cent = centsRow(spark.read.parquet(s"$dir/centroids"))
    val storedBooks = spark.read.parquet(s"$dir/books")
    // positional decode ([[pqReconExpr]]) requires the dense 0..n-1
    // labels writePqIndex stores; a stale index written under a
    // different labeling would silently mis-decode — fail loudly
    // instead (the books table is nBooks rows, the check is free)
    // one collect serves both validations (cid density + stored dim)
    // — these were two separate driver jobs over the same nBooks-row
    // table, i.e. two scheduling round-trips before the real query
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
    val booksRow = storedBooks
      .agg(array_sort(collect_list(struct(col("cid"), col("c_vec")))).as("books"))
    val qProbed = probeCells(
      queries.filter(size(col("embedding")) === dim)
        .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm")),
      cent, nProbe).drop("q_nrm")
    val index = spark.read.parquet(s"$dir/index")
    // m lives in the stored code arrays — one-row probe, same
    // fail-loudly contract as the dim/cid checks above
    index.select(size(col("codes")).as("s")).limit(1).collect()
      .headOption.map(_.getInt(0)).foreach(storedM =>
        require(storedM == m,
          s"stored PQ index at $dir/index holds $storedM-code rows but the " +
            s"query asked for m=$m — query with the index's own parameters or rebuild"))
    val scored = index.join(broadcast(qProbed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .crossJoin(broadcast(booksRow))
      .withColumn("adist", pqAdist(col("q_vec"), pqReconExpr(col("codes"), sub)))
    pqRank(scored, k)
  }
}
