package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ScopedCache

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Scale design: every candidate-generation step is a key-partitioned
  * shuffle (band bucket / block key), never an all-pairs cross join.
  * At 100 TB the LSH band join is the only quadratic-risk stage and
  * its blow-up is bounded by bucket size — salt the band key or raise
  * the band count if a degenerate corpus (many identical docs) skews
  * a bucket; AQE's skew-join split covers the moderate cases.
  */
object Dedup {

  /** The shared `maxCandidates` guard of the component/cluster
    * operators: computes the EXACT number of candidate pairs the
    * bucket-keyed self-join over `banded` will evaluate —
    * Σ over `keys`-groups of n·(n−1)/2, the count of `<`-ordered
    * row pairs per bucket — and throws
    * [[CandidateBudgetExceededException]] BEFORE that join launches
    * if it exceeds the budget.
    *
    * Exactness contract: every guarded join is an equi-join on
    * `keys` over a frame with at most one row per (item, bucket), so
    * n·(n−1)/2 is precisely the rows the join's confirm/residual
    * predicates will evaluate (residual predicates — jaccard's
    * size/positional bounds, minhash agreement, simhash hamming,
    * cosine — filter per matched row and cannot reduce the matched
    * count). The count runs as ONE narrow aggregation over the
    * bucket keys: group-count then sum, no arrays, no wide columns —
    * the same metadata-pass shape as [[PairMode.Bounded]]'s guard.
    * n·(n−1) on a colossal bucket can overflow Long; under ANSI that
    * throws rather than wrapping — a bucket past 3B distinct items
    * is itself the loudest possible budget breach. shiftright halves
    * exactly on the guaranteed-even product. */
  private[text] def guardCandidates(banded: DataFrame, keys: Seq[String],
                                    maxCandidates: Long, family: String): Unit = {
    require(maxCandidates >= 0L, s"need maxCandidates >= 0, got $maxCandidates")
    val predicted = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(shiftright(col("n") * (col("n") - 1L), 1).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
    if (predicted > maxCandidates)
      throw new CandidateBudgetExceededException(predicted, maxCandidates, family)
  }

  /** `df` with one row per (row, band): every input column passes
    * through, plus `band` (the band index) and `bkey` (that band's
    * bucket key from `bandKeys`). Carrying the payload here, BEFORE
    * the quadratic band expansion, costs a constant per row; fetching
    * it onto the collision stream afterwards would cost it per
    * collision. */
  private[text] def withBands(df: DataFrame, bandKeys: Seq[Column]): DataFrame =
    df.select(df.columns.toSeq.map(col) :+ posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")): _*)

  /** The component operators' shared skeleton: (id, component) where
    * `component` is the smallest rep_id reachable through the
    * confirmed near-dup graph over the collapsed reps.
    *
    *  - `members` is exactly (id, key): every item and its collapse key.
    *  - `reps` is (key, rep_id, payload…): one row per distinct key,
    *    rep_id = min id of the key's members. rep_id is therefore
    *    unique per key (the members of two keys are disjoint), so a
    *    rep pair names a key pair and `x.rep_id < y.rep_id` orders it.
    *  - `band` adds (band, bkey) rows to the reps ([[withBands]]).
    *  - `confirm` is the edge predicate over the `x.*`/`y.*` sides of
    *    the (band, bkey) self-join.
    *
    * The guard counts over the same banded frame the join reads, so it
    * predicts exactly the rows the confirm evaluates. The join
    * strategy is the family's: a band function may pin one with a
    * hint on the banded frame. */
  private[text] def bandedComponents(members: DataFrame, reps: DataFrame,
                                     band: DataFrame => DataFrame, confirm: Column,
                                     maxCandidates: Option[Long], family: String): DataFrame =
    repComponents(members, reps) {
      val banded = band(reps)
      maxCandidates.foreach(guardCandidates(banded.select(col("band"), col("bkey")),
        Seq("band", "bkey"), _, family))
      bandedPairs(banded, "rep_id", confirm)
    }

  /** The ONE symmetric (band, bkey) self-join of the LSH families:
    * (id_a, id_b, carry…) for every two rows of `banded`
    * ([[withBands]]) that share a bucket, ordered `x.id < y.id` and
    * passing `confirm`, an edge predicate over the `x.*`/`y.*` sides.
    * A pair colliding in several bands is confirmed once per band and
    * merged by the `distinct` AFTER the filter: filtering first
    * commutes exactly with the distinct while shrinking its map-side
    * hash state from every banded collision to the confirmed edges —
    * at cluster scale that per-task hash table is the memory hazard.
    * `carry` columns must be functions of the pair, so the distinct
    * stays a pure dedup. */
  private[text] def bandedPairs(banded: DataFrame, id: String, confirm: Column,
                                carry: Column*): DataFrame =
    banded.as("x").join(banded.as("y"), Seq("band", "bkey"))
      .filter(col(s"x.$id") < col(s"y.$id") && confirm)
      .select(col(s"x.$id").as("id_a") +: col(s"y.$id").as("id_b") +: carry: _*)
      .distinct()

  /** The second half of [[bandedComponents]], shared with the jaccard
    * plans that build their rep pairs their own way. Scope-caches
    * `reps`, then evaluates `repPairs` — (id_a, id_b) edges over
    * rep ids — so an eager guard inside it reads the cache it fills.
    * The component search runs on the rep graph only; members join
    * their rep's component back through `componentJoinSide`
    * (broadcast when the local solve ran, shuffled-hash over the
    * distributed closure). A rep with no edge is its own component. */
  private def repComponents(members: DataFrame, reps: DataFrame)
                           (repPairs: => DataFrame): DataFrame = {
    val Array(idCol, keyCol) = members.columns
    ScopedCache.register(reps)
    val comp = graft.core.Graph.connectedComponents(repPairs, "id_a", "id_b")
    members.join(reps.select(col(keyCol), col("rep_id")).hint("shuffle_hash"), keyCol)
      .join(graft.core.Graph.componentJoinSide(comp), col("rep_id") === col("node"), "left")
      .select(col(idCol), coalesce(col("comp"), col("rep_id")).as("component"))
  }

  /** Exact dedup via content hash: one shuffle on md5(text).
    * `min(doc_id)` is the canonical survivor (deterministic).
    *
    * NULL-text rows deliberately keep SQL GROUP BY semantics (pinned
    * in NullInputSpec, mirrored by the DuckDB oracle): md5(null) is
    * null and ALL null-text docs land in one text_hash=null group.
    * That group is "docs with no content", NOT a verified duplicate
    * cluster — a pipeline that deletes everything but keep_id should
    * filter null text first (decode failures are not each other's
    * duplicates); the typed-map family (minhash/simhash/jaccard)
    * drops such docs instead. */
  def exactDedup(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  val MinhashFuncs = 16
  val MinhashPrime = 2147483647L // 2^31 - 1; keeps a*code+b inside long

  /** MinHash signatures as ONE fold per document: (doc_id, mhs[k])
    * where mhs[p] = min over distinct tokens of
    * ((code·(2p+1) + 101p+7) mod P), code = tokenCode mod P.
    *
    * The universal-hash family lives inside the fold as arithmetic on
    * the lambda index — no parameter table, no explode, no shuffle:
    * at 100 TB the signature stage is a pure map over the corpus.
    * Docs with no tokens carry no signature (dropped, matching the
    * explode/unnest formulations). */
  def minhashSignatureArrays(documents: DataFrame): DataFrame = {
    // Typed map, not a Catalyst aggregate-over-zip_with fold: the
    // expression form allocated a fresh 16-element accumulator array
    // PLUS a sequence(0,15) array per TOKEN per document (the fold
    // rebuilds both on every lambda step — array churn the optimizer
    // cannot elide), where this loop updates 16 longs in place. Same
    // md5 count (one per distinct token on both paths), bit-identical
    // arithmetic via the tokenCodeOf/tokensOf Scala twins. Fully
    // distributed narrow map — the same escape hatch tokenSets uses.
    import documents.sparkSession.implicits._
    // null doc_id rows are DROPPED (the family's silent-drop
    // convention, like token-less docs) — without the filter the
    // typed encoder's non-nullable Long field would kill the whole
    // job on one null key, where the old Catalyst fold passed it
    // through. A null key cannot join or cluster anyway.
    documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull).as[(Long, String)]
      .mapPartitions { it =>
        // per-partition code memo, not a bare MessageDigest (r15):
        // the md5 per distinct-token-per-doc dominated this fold, and
        // a Zipf vocabulary repeats tokens across the partition's docs
        val memo = new TextOps.TokenCodeMemo()
        it.flatMap { case (id, text) =>
          val toks = TextOps.tokensOf(text)
          if (toks.isEmpty) Iterator.empty
          else {
            val mhs = Array.fill(MinhashFuncs)(MinhashPrime)
            val seen = new java.util.HashSet[String]()
            toks.foreach { t =>
              if (seen.add(t)) {
                val code = memo.code(t) % MinhashPrime
                var p = 0
                while (p < MinhashFuncs) {
                  val h = (code * (p * 2L + 1L) + (p * 101L + 7L)) % MinhashPrime
                  if (h < mhs(p)) mhs(p) = h
                  p += 1
                }
              }
            }
            Iterator.single((id, mhs.toSeq))
          }
        }
      }
      .toDF("doc_id", "mhs")
  }

  /** MinHash signatures, long form (doc_id, hid, mh) — the array
    * form exploded for consumers (and the oracle) that want one row
    * per hash function. */
  def minhashSignatures(spark: SparkSession, documents: DataFrame): DataFrame =
    minhashSignatureArrays(documents)
      .select(col("doc_id"), posexplode(col("mhs")))
      .select(col("doc_id"), col("pos").cast(LongType).as("hid"), col("col").as("mh"))

  /** (doc_id, mhs, sig_key): every document keyed by its FULL MinHash
    * signature — exact-duplicate sets share a `sig_key`. Internal
    * keys are xxhash64 (8-byte join/shuffle keys, not 32-char md5
    * strings); per-pair collision ~2^-64, and by the birthday bound
    * the EXPECTED spurious merges over n distinct signatures are
    * n²/2^65 — ~3 falsely merged clusters at n = 10^10, each costing
    * one wrongly-deduped document. Acceptable here because MinHash
    * clustering is itself probabilistic; a zero-tolerance deployment
    * swaps in md5 (128-bit: bound ~10^-19 at the same n) for wider
    * shuffle keys, the `exactDedup` choice. No persist: the
    * signature fold is a pure map, and the downstream self-joins
    * shuffle structurally identical subtrees that ReuseExchange
    * dedupes — caching would only pin memory. */
  // private[graft]: the streaming ingest screen (StreamingOps.
  // lshScreenForeachBatch) computes this ONCE per micro-batch and
  // feeds the sig-based variants below — the per-token MD5 + 16-hash
  // fold is the expensive step and must not run three times per batch
  private[graft] def signatureClusters(documents: DataFrame): DataFrame =
    minhashSignatureArrays(documents)
      .select(col("doc_id"), col("mhs"), xxhash64(col("mhs")).as("sig_key"))

  /** Rep-mode dedup output: (doc_id, rep_id, cluster_size) where a
    * cluster is an identical-full-signature set and the rep is its
    * min doc_id. LINEAR in corpus size — the output mode to use when
    * a colossal duplicate cluster would make pair output quadratic
    * (pairs-mode emits |C|·(|C|−1)/2 rows for a cluster of |C|).
    *
    * Shape: partial-aggregable groupBy on sig_key, then a streamed
    * hash join back to the members — NOT a window over sig_key, which
    * would buffer the colossal cluster's whole partition in one task. */
  def minhashClusters(spark: SparkSession, documents: DataFrame): DataFrame = {
    val members = signatureClusters(documents).select(col("doc_id"), col("sig_key"))
    val reps = members.groupBy(col("sig_key"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("cluster_size"))
    members.join(reps.hint("shuffle_hash"), "sig_key")
      .select(col("doc_id"), col("rep_id"), col("cluster_size"))
  }

  /** Band-key columns for one signature row (shared by every banding
    * shape). Also the central banding guard: a non-divisor would
    * silently band only part of the signature (changing the
    * documented per-band collision probability), and rowsPerBand >
    * MinhashFuncs would make nBands = 0 — zero band rows, a silent
    * recall collapse with no error. */
  private def bandKeyCols(rowsPerBand: Int): Seq[Column] = {
    require(rowsPerBand >= 1 && rowsPerBand <= MinhashFuncs &&
        MinhashFuncs % rowsPerBand == 0,
      s"rowsPerBand must divide MinhashFuncs=$MinhashFuncs, got $rowsPerBand")
    val nBands = MinhashFuncs / rowsPerBand
    (0 until nBands).map { b =>
      xxhash64(lit(b), slice(col("mhs"), b * rowsPerBand + 1, rowsPerBand))
    }
  }

  /** A signature frame's rows with their (band, bkey) band keys, input
    * columns passed through ([[withBands]]). */
  private def bandedSigs(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    withBands(sigs, bandKeyCols(rowsPerBand))

  /** Distinct (sig_key, band, bkey) band keys of a signature frame —
    * the probe/build primitive shared by the full self-join and the
    * incremental (fresh-probes-corpus) banding.
    *
    * Band keys are derived WITHOUT a first(mhs) collapse: an
    * array-valued aggregation buffer cannot hash-aggregate, so
    * groupBy(sig_key).agg(first(mhs)) plans two SortAggregates per
    * reference. Exploding the band keys first and distinct-ing the
    * (sig_key, band, bkey) primitive triple is the same set —
    * identical-signature docs collapse per band — in one
    * hash-aggregable shuffle of narrow rows. */
  private def sigBandKeys(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    bandedSigs(sigs.select(col("sig_key"), col("mhs")), rowsPerBand)
      .select(col("sig_key"), col("band"), col("bkey")).distinct()

  /** Incremental near-dup screen: LSH candidate pairs with at least
    * one side in the `fresh` batch — the ingest-time shape of dedup.
    * A pipeline receiving a daily batch must NOT re-band the corpus
    * against itself (that work is done and its result immutable);
    * only fresh-vs-corpus and fresh-vs-fresh candidates are new.
    *
    * Exactly the `minhashLshPairs(corpus ∪ fresh)` pair set
    * restricted to pairs touching `fresh` (unit-tested equivalence),
    * but the band join probes with FRESH band keys only, so
    * corpus-vs-corpus candidates never exist in the plan: cost is
    * O(batch × collision rate), not O(corpus²). This overload
    * re-derives the corpus side from documents (convenient for
    * one-shot screens); the 100 TB ingest pipeline persists
    * [[minhashBandStore]] + [[minhashMembers]] between batches and
    * calls [[incrementalLshPairsAgainstStore]] instead — with the
    * store bucketed on `(band, bkey)` via
    * [[graft.core.Warehouse.writeBucketed]], the probe join reads
    * the corpus side exchange-free (DEMONSTRATED: the plan-shape +
    * equivalence test in DedupPropertySpec, r12). Caller contract:
    * the two frames' doc_ids are disjoint.
    */
  def incrementalLshPairs(spark: SparkSession, corpus: DataFrame, fresh: DataFrame,
                          rowsPerBand: Int = 4,
                          mode: PairMode = PairMode.Full): DataFrame =
    // The corpus signature table is DELIBERATELY not cached across its
    // band-store/membership references: the minhashLshPairs trade
    // (cache measured 19% slower in the one-action shape — the
    // array-bearing cache round-trip loses to recompute), re-measured
    // here in r12 (cached variant +80% on q_incremental_dedup), and a
    // corpus-sized persist is the r2 anti-pattern at scale regardless.
    // A pipeline that cannot afford the repeated corpus fold persists
    // the store once via [[minhashBandStore]]/[[minhashMembers]] and
    // calls [[incrementalLshPairsAgainstStore]] — the actual ingest
    // shape, where the corpus is never re-derived at all.
    incrementalLshPairsAgainstStore(spark,
      minhashBandStore(corpus, rowsPerBand), minhashMembers(corpus),
      fresh, rowsPerBand, mode)

  /** The persistable corpus side of incremental dedup, part 1: the
    * distinct (sig_key, band, bkey) band store. A pipeline seeds the
    * table once via
    * `Warehouse.writeBucketed(store, table, Seq("band", "bkey"), n)`
    * and lands each ingested batch's rows with
    * [[graft.core.Warehouse.appendBucketed]] (append-only — band
    * rows of immutable documents never change; the append preserves
    * the bucket spec or fails loudly); the next batch's probe join
    * then reads the corpus side EXCHANGE-FREE (plan-shape-tested in
    * DedupPropertySpec; proven across a stream restart on the
    * appended table in StreamingSpec). */
  def minhashBandStore(documents: DataFrame, rowsPerBand: Int = 4): DataFrame =
    bandStoreOfSigs(signatureClusters(documents), rowsPerBand)

  private[graft] def bandStoreOfSigs(sig: DataFrame, rowsPerBand: Int): DataFrame =
    sigBandKeys(sig.select(col("sig_key"), col("mhs")).distinct(), rowsPerBand)

  /** The persistable corpus side of incremental dedup, part 2: the
    * (doc_id, sig_key) membership map the candidate expansion joins
    * back through. */
  def minhashMembers(documents: DataFrame): DataFrame =
    membersOfSigs(signatureClusters(documents))

  private[graft] def membersOfSigs(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sig_key"))

  /** Guard against a silently mismatched band layout: a store written
    * with a different `rowsPerBand` than the probe makes fresh band
    * keys collide with stored keys essentially never — the screen
    * quietly returns (almost) nothing, the exact "silent recall
    * collapse" the in-plan banding guard fails loudly on. Every
    * signature emits ALL its bands, so any non-empty store must show
    * max(band) == nBands−1. COST: one narrow column scan of the
    * store — call once per pipeline/stream start (the streaming
    * screen does), not per batch. An empty store (cold start)
    * validates trivially. */
  def validateBandStore(bandStore: DataFrame, rowsPerBand: Int = 4): Unit = {
    require(rowsPerBand >= 1 && rowsPerBand <= MinhashFuncs &&
        MinhashFuncs % rowsPerBand == 0,
      s"rowsPerBand must divide MinhashFuncs=$MinhashFuncs, got $rowsPerBand")
    val nBands = MinhashFuncs / rowsPerBand
    val mx = bandStore.agg(max(col("band"))).head()
    if (!mx.isNullAt(0)) {
      val got = mx.getAs[Number](0).longValue()
      require(got == nBands - 1L,
        s"band store layout mismatch: store has bands 0..$got but the probe expects " +
          s"$nBands bands (rowsPerBand=$rowsPerBand) — it was written with a " +
          "different rowsPerBand; probing it would silently collapse recall")
    }
  }

  /** [[incrementalLshPairs]] probing a PERSISTED corpus — the shape a
    * 100 TB ingest pipeline actually runs: `bandStore` and
    * `corpusMembers` come off disk ([[minhashBandStore]] /
    * [[minhashMembers]] persisted by the previous batch), so the
    * corpus documents are never re-read, let alone re-hashed. The
    * fresh-vs-corpus and fresh-vs-fresh candidate joins are split
    * (their union is exactly the one probe against corpus∪fresh:
    * least/greatest + distinct collapse the orientations, and an
    * identical signature appearing on both sides is excluded by the
    * sig_key inequality in either formulation — those doc pairs come
    * from the `intra` branch), which is what lets the corpus side
    * keep its bucketed layout through the join. */
  def incrementalLshPairsAgainstStore(spark: SparkSession, bandStore: DataFrame,
                                      corpusMembers: DataFrame, fresh: DataFrame,
                                      rowsPerBand: Int = 4,
                                      mode: PairMode = PairMode.Full): DataFrame =
    incrementalLshPairsAgainstStoreSigs(spark, bandStore, corpusMembers,
      signatureClusters(fresh), rowsPerBand, mode)

  /** [[incrementalLshPairsAgainstStore]] with the fresh side already
    * signature-folded — the streaming screen persists ONE signature
    * frame per micro-batch and derives screen + band-store + members
    * from it (three actions, one tokenize+hash pass).
    *
    * @param mode pair-emission contract for the ADMISSION decision
    *        (the 100-TB blind-caller site the batch families' guard
    *        exists for: ONE colossal corpus-side cluster turns a
    *        small fresh batch into fresh×|cluster| pairs at admit
    *        time). [[PairMode.Full]] keeps the historical every-pair
    *        output. [[PairMode.Star]] emits O(fresh × collisions):
    *        each fresh doc links to its cluster's REP — the minimum
    *        CORPUS member when the cluster has one (the
    *        already-admitted copy a duplicate should point at), else
    *        the minimum fresh member (a purely-new duplicate group
    *        elects the one copy to admit) — plus one edge per fresh
    *        doc × colliding near-dup cluster, to THAT cluster's rep.
    *        Exact for the per-fresh-doc admit/drop verdict (a fresh
    *        doc has an edge iff it has ≥1 Full partner, and the edge
    *        names the canonical surviving copy); corpus-side cliques
    *        are deliberately NOT re-emitted, so unlike the batch
    *        families the Star edge set is not a spanning subset over
    *        corpus-only nodes — admission never needs those.
    *        [[PairMode.Bounded]] predicts the EXACT Full pair count
    *        in one narrow metadata action (per sig cluster
    *        C(n,2)−C(n_corpus,2); per colliding cluster pair
    *        n_a·n_b−nc_a·nc_b) and throws
    *        [[PairBudgetExceededException]] BEFORE the expansion job
    *        launches — inside a foreachBatch, catch it to quarantine
    *        the batch ([[graft.streaming.StreamingOps.lshScreenForeachBatch]]
    *        does). */
  private[graft] def incrementalLshPairsAgainstStoreSigs(
      spark: SparkSession, bandStore: DataFrame, corpusMembers: DataFrame,
      fSig: DataFrame, rowsPerBand: Int = 4,
      mode: PairMode = PairMode.Full): DataFrame = ScopedCache.scope {
    val freshBanded = sigBandKeys(fSig.select(col("sig_key"), col("mhs")).distinct(), rowsPerBand)
    // fresh-vs-corpus probe: NO hint — when the store side is
    // bucketed on (band, bkey) the planner proves its distribution
    // from the layout and only the (small) fresh side exchanges
    val vsCorpus = freshBanded.as("x").join(bandStore.as("y"), Seq("band", "bkey"))
    // fresh-vs-fresh: tiny self-join within the batch
    val vsFresh = freshBanded.as("x").join(freshBanded.as("y"), Seq("band", "bkey"))
    def normalized(collided: DataFrame): DataFrame = collided
      .filter(col("x.sig_key") =!= col("y.sig_key"))
      .select(least(col("x.sig_key"), col("y.sig_key")).as("sig_a"),
              greatest(col("x.sig_key"), col("y.sig_key")).as("sig_b"))
    val sigPairs0 = normalized(vsCorpus).unionByName(normalized(vsFresh)).distinct()
    // Bounded spans two actions (guard + caller) with no plan-level
    // sharing between them — the candidate probe would otherwise run
    // twice; the one-action modes keep the family's measured
    // no-cache default (r12: caching this shape was 80% slower)
    val sigPairs = mode match {
      case PairMode.Bounded(_) => ScopedCache.register(sigPairs0)
      case _ => sigPairs0
    }
    // Per-batch cost, stated exactly (r12 — an earlier draft semi-join-
    // restricted the corpus membership to fresh-touching sig_keys and
    // measured +70% at sf0.1: the extra band-join evaluations and the
    // broadcast sync point cost more than the shuffle they saved):
    // CANDIDATES are batch-bounded (fresh band keys probe the store;
    // corpus×corpus is never planned), while the MEMBERSHIP expansion
    // below reads and shuffles the narrow (doc_id, sig_key) corpus
    // membership once per batch — the four expansion references are
    // structurally identical exchanges that ReuseExchange shares, so
    // it is ONE corpus-membership shuffle of 16-byte rows, not four.
    // Corpus-linear per batch in that one narrow table only; the wide
    // data (text, signatures, band rows) never shuffles.
    val members = corpusMembers.withColumn("is_fresh", lit(false))
      .unionByName(fSig.select(col("doc_id"), col("sig_key")).withColumn("is_fresh", lit(true)))
    def fullExpansion(sp: DataFrame): DataFrame = {
      val intra = members.as("ma").join(members.as("mb").hint("shuffle_hash"), "sig_key")
        .filter(col("ma.doc_id") < col("mb.doc_id") &&
                (col("ma.is_fresh") || col("mb.is_fresh")))
        .select(col("ma.doc_id").as("doc_a"), col("mb.doc_id").as("doc_b"))
      val cross = sp
        .join(members.as("ma").hint("shuffle_hash"), col("sig_a") === col("ma.sig_key"))
        .join(members.as("mb").hint("shuffle_hash"), col("sig_b") === col("mb.sig_key"))
        .filter(col("ma.is_fresh") || col("mb.is_fresh"))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
                greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"))
      intra.unionByName(cross)
    }
    mode match {
      case PairMode.Full => fullExpansion(sigPairs)
      case PairMode.Star =>
        // corpus-preferring rep election (scaladoc): a fresh
        // duplicate's edge names the already-admitted copy when one
        // exists; a purely-fresh cluster elects its min member as the
        // one copy to admit (it gets no edge — exactly the survivor)
        val reps = members.groupBy(col("sig_key")).agg(
          coalesce(min(when(!col("is_fresh"), col("doc_id"))),
                   min(when(col("is_fresh"), col("doc_id")))).as("rep_id"))
        val freshM = members.filter(col("is_fresh")).select(col("doc_id"), col("sig_key"))
        val intra = freshM.join(reps.hint("shuffle_hash"), "sig_key")
          .filter(col("doc_id") =!= col("rep_id"))
          .select(least(col("doc_id"), col("rep_id")).as("doc_a"),
                  greatest(col("doc_id"), col("rep_id")).as("doc_b"))
        // one edge per (fresh member, colliding near-dup cluster):
        // the fresh doc links to the OTHER cluster's rep
        def crossSide(mySig: String, otherSig: String): DataFrame = sigPairs
          .join(freshM.select(col("sig_key").as(mySig), col("doc_id"))
            .hint("shuffle_hash"), mySig)
          .join(reps.select(col("sig_key").as(otherSig), col("rep_id"))
            .hint("shuffle_hash"), otherSig)
          .select(least(col("doc_id"), col("rep_id")).as("doc_a"),
                  greatest(col("doc_id"), col("rep_id")).as("doc_b"))
        // distinct: the rep–rep edge of two purely-fresh colliding
        // clusters arrives from both sides' crossSide — output is
        // star-bounded (O(fresh × collisions)), so the dedup shuffle
        // is on the small end by construction
        intra.unionByName(crossSide("sig_a", "sig_b"))
          .unionByName(crossSide("sig_b", "sig_a")).distinct()
      case PairMode.Bounded(maxPairs) =>
        // EXACT Full-output prediction in one narrow action —
        // per-cluster pairs-with-≥1-fresh = C(n,2) − C(n_corpus,2),
        // per colliding cluster pair n_a·n_b − nc_a·nc_b; the
        // shiftright halving is LONG-exact and ANSI fails loudly
        // past 2^63 (the batch families' same arithmetic)
        val sizes = members.groupBy(col("sig_key")).agg(
          count(lit(1)).as("n"),
          count(when(!col("is_fresh"), lit(1))).as("nc"))
        val intraCnt = sizes.select(
          (shiftright(col("n") * (col("n") - 1L), 1) -
           shiftright(col("nc") * (col("nc") - 1L), 1)).as("c"))
        val crossCnt = sigPairs
          .join(sizes.select(col("sig_key").as("sig_a"),
            col("n").as("na"), col("nc").as("nca")).hint("shuffle_hash"), "sig_a")
          .join(sizes.select(col("sig_key").as("sig_b"),
            col("n").as("nb"), col("nc").as("ncb")).hint("shuffle_hash"), "sig_b")
          .select((col("na") * col("nb") - col("nca") * col("ncb")).as("c"))
        val predicted = intraCnt.unionByName(crossCnt)
          .agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
        if (predicted > maxPairs)
          throw new PairBudgetExceededException(predicted, maxPairs,
            "incrementalLshPairsAgainstStore")
        fullExpansion(sigPairs)
    }
  }

  /** Cluster→doc pair expansion shared by the three pair-emitting
    * families, dispatching on [[PairMode]]. `members` is
    * (doc_id, ckey) — doc to identical-content cluster key;
    * `clusterPairs` is (id_a, id_b, payload…) — one row per
    * qualifying DISTINCT-cluster pair, `payloadCols` carried through
    * unchanged; `intraPayload` supplies the (aliased) literal payload
    * for identical-cluster pairs (J = 1.0 / hamming 0 by
    * construction).
    *
    * All expansion joins pin shuffled-hash: they are many-to-many
    * with deliberately hot keys (a duplicate-heavy cluster IS one
    * key), and a sort-merge plan buffers every matched group —
    * observed as multi-10s spill stalls when the planner drifts
    * there. A hash build streams the fan-out, and unlike broadcast
    * it also holds at corpus scale.
    *
    * `intraPayload` columns may reference member attributes through
    * the `ma` alias (e.g. `col("ma.ip")` for a per-cluster payload
    * carried on the members frame — the jaro-winkler empty-prefix
    * case); every intra branch binds the members side as `ma`.
    *
    * `repsOpt`: a precomputed (ckey, rep_id) frame for families whose
    * cluster key already encodes the rep (the embedding family's
    * ckey IS the min vec_id) — Star then skips the members-wide
    * groupBy re-derivation, reusing the caller's existing rep subtree
    * (one shared exchange instead of a second corpus aggregation).
    * Must satisfy rep_id = min(doc_id) per ckey, the invariant the
    * derived form computes. */
  private[text] def expandDocPairs(members: DataFrame, clusterPairs: DataFrame,
                             payloadCols: Seq[String], intraPayload: Seq[Column],
                             mode: PairMode, family: String,
                             repsOpt: Option[DataFrame] = None): DataFrame = {
    val payload = payloadCols.map(col)
    def fullExpansion(cp: DataFrame): DataFrame = {
      val intra = members.as("ma").join(members.as("mb").hint("shuffle_hash"), "ckey")
        .filter(col("ma.doc_id") < col("mb.doc_id"))
        .select(col("ma.doc_id").as("doc_a") +: col("mb.doc_id").as("doc_b") +:
          intraPayload: _*)
      val cross = cp
        .join(members.as("ma").hint("shuffle_hash"), col("id_a") === col("ma.ckey"))
        .join(members.as("mb").hint("shuffle_hash"), col("id_b") === col("mb.ckey"))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a") +:
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b") +: payload: _*)
      intra.unionByName(cross)
    }
    mode match {
      case PairMode.Full => fullExpansion(clusterPairs)
      case PairMode.Star =>
        // spanning subset, same transitive closure (PairMode.Star
        // scaladoc): member→rep stars inside each cluster, one
        // rep→rep edge per distinct-cluster pair. rep = min doc_id,
        // so intra pairs are already (smaller, larger)-ordered.
        val reps = repsOpt.getOrElse(
          members.groupBy(col("ckey")).agg(min(col("doc_id")).as("rep_id")))
        val intra = members.as("ma").join(reps.hint("shuffle_hash"), "ckey")
          .filter(col("doc_id") =!= col("rep_id"))
          .select(col("rep_id").as("doc_a") +: col("doc_id").as("doc_b") +:
            intraPayload: _*)
        val cross = clusterPairs
          .join(reps.select(col("ckey").as("id_a"), col("rep_id").as("rep_a"))
            .hint("shuffle_hash"), "id_a")
          .join(reps.select(col("ckey").as("id_b"), col("rep_id").as("rep_b"))
            .hint("shuffle_hash"), "id_b")
          .select(least(col("rep_a"), col("rep_b")).as("doc_a") +:
            greatest(col("rep_a"), col("rep_b")).as("doc_b") +: payload: _*)
        intra.unionByName(cross)
      case PairMode.Bounded(maxPairs) =>
        // predict the EXACT Full output size before launching it:
        // Σ n·(n−1)/2 over clusters + Σ |A|·|B| over edges — ONE
        // driver action over narrow key/count columns (the Long
        // product is exact to ~4.3e9-member clusters and ANSI mode
        // fails loudly past that, never silently under-counts).
        // n·(n−1) is even, so the shift-right halving is exact — and
        // stays LONG (SQL `/` would promote to double and lose
        // exactness past 2^53).
        //
        // The cluster-pair frame is scope-cached across the guard
        // action and the caller's: it is the narrow END of the
        // candidate pipeline (two 8-byte keys + payload per
        // DISTINCT-cluster edge), and without the cache the accepted
        // expansion would re-run the whole candidate/verify join a
        // second time — the r13 review finding on the co-count path,
        // where the re-run doubled the family's dominant Σdf² term.
        // An over-budget guard materializes then releases it (the
        // scope's throw path); that storage transient is the
        // price of not recomputing an accepted run.
        val cp = ScopedCache.register(clusterPairs)
        val sizes = members.groupBy(col("ckey")).agg(count(lit(1)).as("n"))
        val intraCnt = sizes.select(shiftright(col("n") * (col("n") - 1L), 1).as("c"))
        val crossCnt = cp.select(col("id_a"), col("id_b"))
          .join(sizes.select(col("ckey").as("id_a"), col("n").as("na"))
            .hint("shuffle_hash"), "id_a")
          .join(sizes.select(col("ckey").as("id_b"), col("n").as("nb"))
            .hint("shuffle_hash"), "id_b")
          .select((col("na") * col("nb")).as("c"))
        val predicted = intraCnt.unionByName(crossCnt)
          .agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
        if (predicted > maxPairs)
          throw new PairBudgetExceededException(predicted, maxPairs, family)
        fullExpansion(cp)
    }
  }

  /** LSH banding over the signatures (bands of 4 → collision prob
    * ≈ J⁴ per band) + same-bucket collision → candidate near-dup
    * pairs.
    *
    * Scale structure — a naive per-(doc, band) self-join is
    * catastrophic on duplicate-heavy corpora: documents with the
    * SAME full signature collide in every band, so each such pair is
    * produced `bands` times and a giant distinct has to un-duplicate
    * a quadratic blow-up. Instead:
    *
    *  1. collapse documents to their full-signature cluster
    *     (`sig_key` = md5 of all 16 minhashes — exact-duplicate sets
    *     share it),
    *  2. band-join only the DISTINCT signatures (buckets shrink from
    *     cluster size to 1),
    *  3. expand: intra-cluster pairs via one self-join on `sig_key`,
    *     cross-cluster pairs via the deduped signature-pair list.
    *
    * Each candidate pair is emitted exactly once — no distinct over
    * the expansion. Output is identical to the naive banding. */
  def minhashLshPairs(spark: SparkSession, documents: DataFrame, rowsPerBand: Int = 4,
                      mode: PairMode = PairMode.Full): DataFrame = ScopedCache.scope {
    // NOT cached in the one-action modes: all references live in ONE
    // output plan, and a clean sf0.1 A/B (medians of 3) put the
    // cached variant 19% SLOWER (1.68 s → 2.00 s) — the array-bearing
    // cache round-trip loses to Spark's own branch sharing. Contrast
    // minhashComponents, whose references span two actions where no
    // plan-level sharing exists — which is exactly Bounded's shape
    // (the guard action + the caller's), so Bounded takes the
    // two-action cache.
    val base = signatureClusters(documents)
    val full = mode match {
      case PairMode.Bounded(_) => ScopedCache.register(base)
      case _ => base
    }
    val members = full.select(col("doc_id"), col("sig_key").as("ckey"))
    // distinct signatures, unconfirmed: the pair list IS the candidate set
    val sigPairs = bandedPairs(sigBandKeys(full, rowsPerBand), "sig_key", lit(true))
    expandDocPairs(members, sigPairs, Nil, Nil, mode, "minhashLshPairs")
  }

  /** Transitive MinHash near-dup clustering: (doc_id, component)
    * where `component` is the smallest doc_id reachable through the
    * CONFIRMED MinHash near-dup graph — the MinHash analogue of
    * [[jaccardComponents]], at banding's far cheaper candidate cost.
    *
    * The confirm step is load-bearing: a banding collision alone is a
    * probabilistic event (≈ J⁴ per band), and under transitive
    * closure its false positives CHAIN — one bad edge per thousand
    * docs merges whole swaths of the corpus into a mega-component
    * (observed; that failure is why [[minhashLshPairs]] is shipped as
    * a pair list, not components). An edge therefore requires
    * signature agreement on ≥ `minAgree` of the 16 minhash functions
    * (agreement/16 is the standard unbiased Jaccard estimate, so the
    * default 12 ≈ Ĵ ≥ 0.75), computed with one zip_with fold on the
    * already-joined DISTINCT signature pairs — no token re-scan.
    *
    * Scale shape: [[bandedComponents]] over the distinct signatures —
    * identical signatures collapse to their min-doc rep before the
    * graph exists, the 16-int signature rides each band row so the
    * agreement confirm evaluates in the join output, and members
    * rejoin their rep's component.
    *
    * @param maxCandidates optional budget on the internal banded
    *        candidate join (Σ_bucket n·(n−1)/2 over distinct
    *        signatures — see [[guardCandidates]]); breach throws
    *        [[CandidateBudgetExceededException]] before the join
    *        launches. None (default) is the historical unguarded
    *        path, bit-identical. */
  def minhashComponents(spark: SparkSession, documents: DataFrame,
                        minAgree: Int = 12, rowsPerBand: Int = 4,
                        maxCandidates: Option[Long] = None): DataFrame =
      ScopedCache.scope {
    require(minAgree >= 1 && minAgree <= MinhashFuncs,
      s"need minAgree in [1, $MinhashFuncs], got $minAgree")
    // the signature fold feeds both the rep collapse and the member
    // side, in actions no plan-level branch sharing can bridge —
    // uncached, each would repeat the tokenize+16-hash corpus pass
    val full = ScopedCache.register(signatureClusters(documents))
    val agree = aggregate(
      zip_with(col("x.mhs"), col("y.mhs"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    // grouping KEYS may hold the array (an UnsafeRow key
    // hash-aggregates; only array-valued aggregation BUFFERS fall to
    // SortAggregate), and the min(doc_id) buffer is one primitive long.
    // The band join pins shuffled-hash: it is many-to-many on
    // deliberately hot band keys (a duplicate-heavy cluster IS one
    // key), and a sort-merge would buffer each matched group.
    bandedComponents(full.select(col("doc_id"), col("sig_key")),
      full.groupBy(col("sig_key"), col("mhs")).agg(min(col("doc_id")).as("rep_id")),
      bandedSigs(_, rowsPerBand).hint("shuffle_hash"), agree >= minAgree, maxCandidates,
      "minhashComponents")
  }

  /** (id, gram) rows of the DISTINCT word n-grams of each document —
    * the ONE gram extractor of the whole decontamination family.
    * [[contamination]], [[bloomContamination]], [[probeSketch]] and
    * [[crossDupFraction]] all promise bit-identical gram sets to each
    * other (bloom fallback equivalence, sketch hash compatibility at
    * ingest) — a single definition makes that drift-proof. */
  private def docGrams(df: DataFrame, idCol: String, ngram: Int): DataFrame = {
    import df.sparkSession.implicits._
    // null ids are DROPPED (the family's silent-drop convention, the
    // minhashSignatureArrays rationale): the typed decode below reads
    // doc_id into a primitive Long, so one null id would abort the
    // whole job with "Null value appeared in non-nullable field"
    df.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull).as[(Long, String)]
      .flatMap { case (id, text) =>
        TextOps.shinglesOf(TextOps.tokensOf(text), ngram).distinct.map(g => (id, g))
      }
      .toDF(idCol, "gram")
  }

  /** Contamination screen: which corpus documents share word n-grams
    * with a probe set (benchmark/eval texts) — the decontamination
    * step of a training-data pipeline. Returns (doc_id, probe_id,
    * n_shared) = count of DISTINCT n-grams in common, for pairs
    * sharing at least one.
    *
    * Scale shape: both sides explode to distinct (id, gram) rows; the
    * probe side is a benchmark — small by nature — so it broadcasts
    * and the corpus never shuffles; the per-pair count is a
    * partial-aggregable groupBy bounded by |docs| × |probes|. A
    * corpus-sized probe set degrades to one hash join on the gram. */
  def contamination(documents: DataFrame, probes: DataFrame, ngram: Int = 3): DataFrame = {
    docGrams(documents, "doc_id", ngram)
      .join(broadcast(docGrams(probes, "probe_id", ngram)), "gram")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-prefiltered contamination screen — [[contamination]] for
    * probe sets too big to broadcast as a hash relation. The exact
    * screen broadcasts the probe grams; once the benchmark suite
    * reaches tens of millions of grams that broadcast stops fitting,
    * but its BLOOM FILTER still does (~1.2 bytes/gram at 1% fpp vs
    * tens of bytes per gram entry). Three stages:
    *
    *  1. build: `BloomFilterAggregate` folds xxhash64(gram) over the
    *     probe side — partial-aggregable (sketch merge is bit-OR), so
    *     only numBits-sized sketches cross the wire;
    *  2. prefilter: corpus grams probe the sketch inside whole-stage
    *     codegen; no false negatives, so nothing real is lost — at
    *     1% fpp, 99% of clean corpus grams drop BEFORE any shuffle;
    *  3. confirm: survivors join the probe grams exactly (shuffle-
    *     hash on gram — the big-probe path does NOT broadcast), so
    *     bloom false positives die here and the output is
    *     BIT-IDENTICAL to [[contamination]]: (doc_id, probe_id,
    *     n_shared).
    *
    * `expectedProbeGrams`/`fpp` size the sketch
    * (`BloomFilter.optimalNumOfBits`); undersizing degrades fpp —
    * more confirm-join traffic — never correctness. The sketch build
    * is an eager action over the probe-gram cache (see
    * [[graft.core.ScopedCache]] for an abandoned output). */
  def bloomContamination(documents: DataFrame, probes: DataFrame, ngram: Int = 3,
                         expectedProbeGrams: Long = 1L << 20,
                         fpp: Double = 0.01): DataFrame = ScopedCache.scope {
    require(expectedProbeGrams > 0, s"need expectedProbeGrams > 0, got $expectedProbeGrams")
    require(fpp > 0.0 && fpp < 1.0, s"need fpp in (0, 1), got $fpp")
    // the probe-gram table feeds two actions: the sketch build
    // (collects one numBits-sized row) and the confirm join
    val probeGrams = ScopedCache.register(docGrams(probes, "probe_id", ngram))
    val bits = sketchOf(probeGrams, expectedProbeGrams, fpp)
    docGrams(documents, "doc_id", ngram)
      .filter(org.apache.spark.sql.graft.BloomBridge
        .mightContain(bits, xxhash64(col("gram"))))
      .join(probeGrams.hint("shuffle_hash"), "gram")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Build the serialized probe-set bloom sketch over word n-grams —
    * the reusable artifact of the decontamination family: feed it to
    * [[bloomContamination]]'s prefilter shape, or to
    * [[graft.streaming.StreamingOps.bloomScreen]] to screen documents
    * AT INGEST, long after the probe corpus itself is gone (ship the
    * kilobytes of sketch, not the benchmark). Distributed build —
    * sketch merge is bit-OR, so only numBits-sized sketches cross the
    * wire. Null (no grams) means "empty probe set". */
  def probeSketch(probes: DataFrame, ngram: Int = 3,
                  expectedProbeGrams: Long = 1L << 20,
                  fpp: Double = 0.01): Array[Byte] = {
    require(expectedProbeGrams > 0, s"need expectedProbeGrams > 0, got $expectedProbeGrams")
    require(fpp > 0.0 && fpp < 1.0, s"need fpp in (0, 1), got $fpp")
    sketchOf(docGrams(probes, "probe_id", ngram).select("gram"),
      expectedProbeGrams, fpp)
  }

  private def sketchOf(grams: DataFrame, expectedItems: Long, fpp: Double): Array[Byte] = {
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    grams
      .select(org.apache.spark.sql.graft.BloomBridge
        .bloomAgg(xxhash64(col("gram")), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Cross-document duplicate-text fraction: for each document, the
    * share of its DISTINCT word n-grams that also occur in at least
    * one other document — the corpus-level repeated-substring signal
    * (Lee et al. 2022: data repeated across documents is what exact
    * substring dedup removes; this is its cheap n-gram estimator,
    * complementing [[graft.text.TextOps.dupSpans]] which is
    * intra-document only). Returns (doc_id, n_grams, n_shared,
    * dup_fraction) for documents with ≥ 1 n-gram.
    *
    * Scale shape: the per-doc-distinct gram table shuffles once on
    * gram for the document-frequency aggregation (partial-aggregable
    * — map-side combine collapses before the wire), then the SAME
    * persisted table probes the df side with a shuffle-hash join on
    * gram — never a collect_list of doc-ids per gram, which buffers
    * a stopword-gram's entire posting list in one row at corpus
    * scale; the join streams it. The per-doc rollup is the second
    * and last shuffle. */
  def crossDupFraction(documents: DataFrame, ngram: Int = 3): DataFrame = ScopedCache.scope {
    val grams = ScopedCache.register(docGrams(documents, "doc_id", ngram))
    val docFreq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams.join(docFreq.hint("shuffle_hash"), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("df") > 1L, 1L).otherwise(0L)).as("n_shared"))
      // unrounded division: single fixed-order IEEE op on integer-
      // exact operands, bit-identical cross-engine
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (col("n_shared").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("dup_fraction"))
  }

  /** 32-bit SimHash fingerprint: per distinct token take bit b of the
    * portable token hash, sum ±1 votes per bit, set bit where the
    * vote is positive.
    *
    * Computed as ONE pass over each document — an `aggregate`
    * higher-order fold whose accumulator is (token count, 32 bit
    * counters). Bit b of the fingerprint is set iff
    * 2·ones_b > n  ⇔  Σ(2·bit_b − 1) > 0, identical to the per-bit
    * vote. Zero explode, zero shuffle, stays in whole-stage codegen;
    * the struct accumulator exists so `n` is a field of an
    * already-evaluated value rather than a re-inlined subexpression
    * (the projection-collapse pitfall, SCALING.md). */
  def simhash(spark: SparkSession, documents: DataFrame): DataFrame = {
    // Typed map, not the Catalyst aggregate-over-zip_with fold, for
    // the same measured reason as minhashSignatureArrays: the
    // expression form rebuilt a 32-long ones-counter array (plus the
    // bit-index array) per TOKEN per document; this loop bumps 32
    // ints in place. Bit-identical votes: code = tokenCodeOf (the
    // tokenCode twin, no modulus here), bit b of the fingerprint set
    // iff 2·ones_b > n over the doc's DISTINCT tokens; token-less
    // docs have no votes — excluded, matching the explode/unnest
    // formulations on both engines.
    import documents.sparkSession.implicits._
    // null doc_id dropped — same guard and rationale as
    // minhashSignatureArrays (typed Long field vs the family's
    // silent-drop convention)
    documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull).as[(Long, String)]
      .mapPartitions { it =>
        // per-partition code memo — same rationale as the minhash fold
        val memo = new TextOps.TokenCodeMemo()
        it.flatMap { case (id, text) =>
          val toks = TextOps.tokensOf(text)
          if (toks.isEmpty) Iterator.empty
          else {
            val ones = new Array[Long](32)
            var n = 0L
            val seen = new java.util.HashSet[String]()
            toks.foreach { t =>
              if (seen.add(t)) {
                val code = memo.code(t)
                n += 1L
                var b = 0
                while (b < 32) { ones(b) += (code >> b) & 1L; b += 1 }
              }
            }
            var fp = 0L
            var b = 0
            while (b < 32) { if (ones(b) * 2 > n) fp |= 1L << b; b += 1 }
            Iterator.single((id, fp))
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-duplicate pairs: Hamming distance ≤ `maxHamming`
    * between 32-bit fingerprints, candidates generated by 8-bit band
    * collision (a pair within Hamming distance h agrees on ≥ 4−h of
    * the 4 bands, so any h ≤ 3 is fully recalled by one shared band).
    *
    * Same scale structure as the MinHash-LSH path: identical
    * fingerprints collapse FIRST (an exact-dup cluster is one vertex
    * of the band join — its pairs expand afterwards in a streamed
    * hash join), the band self-join sees only DISTINCT fingerprints,
    * and each pair is emitted exactly once. `bit_count(a XOR b)` is a
    * single codegen'd instruction pair — the confirm step costs
    * nothing next to the join. */
  def simhashNearDupPairs(spark: SparkSession, documents: DataFrame,
                          maxHamming: Int = 1,
                          mode: PairMode = PairMode.Full): DataFrame = ScopedCache.scope {
    requireMaxHamming(maxHamming) // before register: an invalid
    // argument must not leave a persisted frame behind
    // (doc_id, simhash): two longs per doc, three references in the
    // output plan, and each recompute re-runs the md5-per-token fold
    // — the narrow-expensive shape the scoped cache exists for.
    val sh = ScopedCache.register(simhash(spark, documents))
    val members = sh.select(col("doc_id"), col("simhash").as("ckey"))
    expandDocPairs(members, simhashFpPairs(sh, maxHamming), Seq("hamming"),
      Seq(lit(0L).as("hamming")), mode, "simhashNearDupPairs")
  }

  /** Degree histogram of the SimHash near-dup graph, computed on the
    * CLUSTER graph (r15): bit-identical to
    * `Graph.degreeHistogram(simhashNearDupPairs(docs, h), …)` — the
    * GraphSpec equality property pins it — but via
    * [[graft.core.Graph.clusterDegreeHistogram]]'s cluster-size
    * arithmetic, so the quadratic doc-pair expansion is never
    * materialized: every member of a fingerprint cluster has the same
    * degree, and the histogram needs only the distinct-fingerprint
    * edge set plus cluster sizes. Output-linear on duplicate-heavy
    * corpora where the composed form is output-quadratic. `nodes`
    * must be unique and cover every fingerprinted doc (the declared
    * usage passes the corpus's own doc_id column). */
  def simhashDegreeHistogram(spark: SparkSession, documents: DataFrame,
                             maxHamming: Int, nodes: DataFrame,
                             nodeCol: String): DataFrame = ScopedCache.scope {
    requireMaxHamming(maxHamming)
    // (doc_id, simhash) scope-cached exactly as simhashNearDupPairs
    // does: the fingerprint fold feeds both the size aggregate and
    // the banded pair search
    val sh = ScopedCache.register(simhash(spark, documents))
    val members = sh.select(col("doc_id"), col("simhash").as("ckey"))
    val fpPairs = simhashFpPairs(sh, maxHamming)
      .select(col("id_a").as("ck_a"), col("id_b").as("ck_b"))
    graft.core.Graph.clusterDegreeHistogram(members, fpPairs, nodes, nodeCol)
  }

  /** The band guarantee (a pair within Hamming h agrees on ≥ 4−h of
    * the 4 bands) holds for h ≤ 3. */
  private def requireMaxHamming(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 3,
      s"band recall guarantee holds for maxHamming in [0, 3], got $maxHamming")

  /** 4 byte-slice bands per fingerprint, one row per (fp, band), input
    * columns passed through ([[withBands]]). The ONE banding of the
    * simhash family: the candidate self-join and the `maxCandidates`
    * guard count over the same frame, so the prediction cannot drift
    * from the join. */
  private def simhashBanded(fps: DataFrame): DataFrame =
    withBands(fps, (0 until 4).map(b => shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L))))

  /** The ONE simhash confirm over a [[simhashBanded]] pair's x/y sides,
    * shared by the pair and component views: `bit_count(xor)` is one
    * codegen'd instruction pair, nothing next to the join. */
  private def withinHamming(maxHamming: Int): Column =
    bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHamming

  /** (id_a, id_b, hamming): near-dup edges between DISTINCT
    * fingerprints ([[bandedPairs]] over [[simhashBanded]]). Callers
    * check `maxHamming` first ([[requireMaxHamming]]). */
  private def simhashFpPairs(sh: DataFrame, maxHamming: Int): DataFrame =
    bandedPairs(simhashBanded(sh.select(col("simhash")).distinct()), "simhash",
        withinHamming(maxHamming))
      // hamming recomputed on the distinct survivors only — keeping it
      // OUT of the distinct keeps the dedup key at the 16-byte pair
      .withColumn("hamming", bit_count(col("id_a").bitwiseXOR(col("id_b"))).cast(LongType))

  /** SimHash transitive near-dup clusters: connected components of
    * the Hamming-≤`maxHamming` fingerprint graph, every document
    * labeled with its cluster's minimum doc_id. Completes the
    * cluster view of the SimHash family the way
    * [[minhashComponents]] / [[jaccardComponents]] do for theirs —
    * a pipeline that wants "collapse each near-dup group to one
    * row" consumes this, not the quadratic pair list.
    *
    * SimHash needs no extra confirm step before closure (unlike the
    * MinHash banding, whose unconfirmed candidates chain false
    * positives): the Hamming bound IS the confirm, applied to every
    * edge before it exists.
    *
    * Scale shape: [[bandedComponents]] over the distinct fingerprints
    * — a colossal exact-dup cluster is ONE vertex, the component
    * search runs on the distinct-fingerprint graph, and members join
    * their rep's component back.
    *
    * @param maxCandidates optional budget on the internal banded
    *        candidate join (Σ_bucket n·(n−1)/2 over distinct
    *        fingerprints — [[guardCandidates]]); breach throws
    *        [[CandidateBudgetExceededException]] before the join
    *        launches. None (default) = historical unguarded path. */
  def simhashComponents(spark: SparkSession, documents: DataFrame,
                        maxHamming: Int = 1,
                        maxCandidates: Option[Long] = None): DataFrame =
      ScopedCache.scope {
    requireMaxHamming(maxHamming) // before register: fail fast with nothing persisted
    // the fingerprint fold feeds both the rep collapse and the member
    // side, across actions — cached so the md5-per-token fold runs once
    val sh = ScopedCache.register(simhash(spark, documents))
    bandedComponents(sh, sh.groupBy(col("simhash")).agg(min(col("doc_id")).as("rep_id")),
      simhashBanded, withinHamming(maxHamming), maxCandidates, "simhashComponents")
  }

  /** (doc_id, lang, bkt, toks): blocked, SORTED-ASCENDING-distinct
    * token/shingle CODE sets (`array<bigint>`,
    * [[TextOps.tokenHash64Of]]). Tokenize + shingle + hash + distinct
    * as one typed map, not a column expression: Catalyst's projection
    * collapse inlines a derived array column into every downstream
    * reference, and the shingle expression references its input
    * several times — the combined effect re-tokenized each document
    * O(refs²) times. A per-row Scala closure is evaluated exactly
    * once per document, stays fully distributed, and this is
    * precisely the "custom codec in a map" escape hatch (SURVEY.md
    * §2i) for logic the expression optimizer mishandles.
    *
    * CODES, not strings (r10, measured): every downstream consumer —
    * the prefix/co-count join keys, the candidate distinct, the
    * sorted-merge intersection kernel — works on 8-byte primitives
    * instead of UTF8Strings (2-gram shingles average ~13 bytes and
    * hash per comparison). Jaccard over the code sets equals jaccard
    * over the string sets up to the 2⁻⁶⁴-per-pair collision bound
    * documented on tokenHash64Of; the naive-string-formulation
    * property tests stay the equivalence oracle. The ascending sort
    * (required by [[graft.functions.SetExpressions]]'s merge kernel,
    * and the prefix filter's "any fixed total order") runs on
    * primitive longs — java.util.Arrays.sort, no comparator.
    * Shingle-less docs are dropped (undefined jaccard). */
  private def tokenSets(documents: DataFrame, ngram: Int): DataFrame = {
    import documents.sparkSession.implicits._
    documents
      // null-tolerant bkt: the typed map below decodes it into a
      // PRIMITIVE Long, so a null n_chars would crash the job
      // ("Null value appeared in non-nullable field") instead of the
      // family's silent-drop convention. n_chars is the text length
      // by contract — fall back to it, then 0 (null text).
      .select(col("doc_id"), col("lang"),
        expr("coalesce(n_chars, length(text), 0L) div 64").as("bkt"), col("text"))
      // doc_id decodes into a primitive Long too — null-id rows are
      // DROPPED (the minhashSignatureArrays convention), not allowed
      // to abort the whole jaccard family on one bad key
      .filter(col("doc_id").isNotNull)
      .as[(Long, String, Long, String)]
      .map { case (id, lang, bkt, text) =>
        val toks = TextOps.tokensOf(text).toIndexedSeq
        val m = if (ngram <= 1) toks.length else toks.length - ngram + 1
        val codes = new Array[Long](math.max(m, 0))
        var i = 0
        while (i < m) {
          codes(i) = if (ngram <= 1) TextOps.tokenHash64Of(toks(i))
                     else TextOps.shingleHash64Of(toks, i, ngram)
          i += 1
        }
        java.util.Arrays.sort(codes)
        // in-place dedup of the sorted array
        var w = 0
        i = 0
        while (i < codes.length) {
          if (w == 0 || codes(w - 1) != codes(i)) { codes(w) = codes(i); w += 1 }
          i += 1
        }
        (id, lang, bkt, if (w == codes.length) codes else codes.take(w))
      }
      .toDF("doc_id", "lang", "bkt", "toks")
      .filter(size(col("toks")) > 0)
  }

  /** 8-byte cluster key over (lang, bkt, token set) — the
    * signatureClusters trade restated: n²/2^65 expected spurious
    * set-merges by the birthday bound (~3 at 10^10 distinct sets,
    * each emitting one false J=1.0 pair family); md5 is the
    * zero-tolerance swap at 4× the key width. */
  private def setKey: Column =
    xxhash64(col("lang"), col("bkt"), col("toks"))

  /** Rep-mode exact-set dedup: (doc_id, rep_id, cluster_size) where a
    * cluster is an identical token/shingle set within a (lang,
    * length-bucket) block. Same linear-output rationale as
    * [[minhashClusters]]; one partial-aggregable shuffle plus a
    * streamed hash join — no window over a possibly-colossal cluster. */
  def jaccardClusters(documents: DataFrame, ngram: Int = 1): DataFrame = {
    val members = tokenSets(documents, ngram).select(col("doc_id"), setKey.as("set_key"))
    val reps = members.groupBy(col("set_key"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("cluster_size"))
    members.join(reps.hint("shuffle_hash"), "set_key")
      .select(col("doc_id"), col("rep_id"), col("cluster_size"))
  }

  /** Near-dup pairs between DISTINCT token sets: (set_a, set_b,
    * jaccard) over the `set_key`-collapsed sets of `withKey` — the
    * quadratic core of the pair expansion. Two exact plans, picked by
    * threshold. The prefix filter's candidate bound is
    * ⌊(1−t)·|S|⌋+1 tokens per side — a 5× cut at t=0.8 but only 30%
    * at t=0.3, where its extra machinery (the candidate distinct, two
    * array-fetch joins) costs more than the co-count rows it saves.
    * 0.5 is the crossover's conservative side: at t=0.5 the prefix is
    * still half the tokens → candidate join a quarter of the
    * co-count's df² term. */
  private def setPairs(withKey: DataFrame, threshold: Double): DataFrame =
    if (usesPrefixPlan(threshold)) prefixSetPairs(withKey, threshold)
    else coCountSetPairs(withKey, threshold)

  /** Shared by the jaccard entry points, before anything is cached:
    * threshold 0 would edge-connect all token-sharing docs —
    * catastrophic over-dedup, silently. */
  private def requireThreshold(threshold: Double): Unit = {
    require(threshold > 0.0, "the jaccard set join requires a positive threshold")
    require(threshold <= 1.0, "jaccard threshold above 1 excludes everything")
  }

  /** Which [[setPairs]] plan a threshold selects — exposed to the
    * entry points because the CACHING choice follows the plan: the
    * prefix plan reads the keyed corpus under four heterogeneous
    * exchange keys (cache wins), the co-count plan's references share
    * exchanges that ReuseExchange dedupes (the array round-trip of a
    * cache costs more than the recompute). */
  private def usesPrefixPlan(threshold: Double): Boolean = threshold >= 0.5

  /** (doc_id, lang, bkt, toks, set_key): [[tokenSets]] keyed by
    * [[setKey]] — uncached; the entry points scope-cache it to their
    * own action shape. */
  private[text] def keyedTokenSets(documents: DataFrame, ngram: Int): DataFrame =
    tokenSets(documents, ngram).withColumn("set_key", setKey)

  /** Token co-count plan — the low-threshold side of [[setPairs]]:
    * |A∩B| falls out of ONE (block, token) equi-join + count, and
    * |A∪B| = |A| + |B| − |A∩B|. Intermediate is Σ_token df(token)²
    * within each block — acceptable when the prefix filter cannot
    * shrink it much anyway. `withKey` may also be its collapsed sets
    * (one row per set_key), as on the components path. */
  private[text] def coCountSetPairs(withKey: DataFrame, threshold: Double,
                                    maxCandidates: Option[Long] = None): DataFrame = {
    // distinct-set token table WITHOUT a first(toks) collapse: an
    // array-valued aggregation buffer cannot hash-aggregate (plans a
    // SortAggregate — same fix as the LSH banding). Exploding every
    // member's tokens and distinct-ing the primitive quintuple is the
    // same relation, hash-aggregable, with map-side partial dedup
    // collapsing duplicate-heavy corpora before the shuffle.
    val tok0 = withKey.select(
        col("set_key"), col("lang"), col("bkt"),
        size(col("toks")).as("sz"), explode(col("toks")).as("tok"))
      .distinct()
    // guarded runs scope-cache the narrow token table across the
    // guard's count and the co-count join (2 actions) — the guard's
    // materialized frame IS the join input, so acceptance costs one
    // cache round-trip, not a second tokenize+explode+distinct pass.
    // Unguarded keeps the uncached plan, whose references share
    // exchanges.
    val tok = if (maxCandidates.isDefined) ScopedCache.register(tok0) else tok0
    maxCandidates.foreach(guardCandidates(tok, Seq("lang", "bkt", "tok"), _,
      "jaccardComponents (co-count plan)"))
    // shuffled-hash, not sort-merge: this is a many-to-many join
    // (every key repeats df(token) times per side) and SMJ buffers
    // each duplicate group; a per-partition hash build streams the
    // fan-out. Hash, not broadcast: the build side is
    // |distinct sets| × tokens and grows with the corpus.
    val co = tok.as("x").join(tok.as("y").hint("shuffle_hash"),
        col("x.lang") === col("y.lang") && col("x.bkt") === col("y.bkt") &&
        col("x.tok") === col("y.tok") && col("x.set_key") < col("y.set_key"))
      .groupBy(
        col("x.set_key").as("set_a"), col("y.set_key").as("set_b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"))
      .agg(count(lit(1)).cast(IntegerType).as("c"))
    val j = col("c").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("c"))
    co.select(col("set_a"), col("set_b"), round(j, 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Prefix-filtered plan — the high-threshold side of [[setPairs]] —
    * over one representative row per distinct set, WITHOUT a
    * first(toks) aggregation buffer (arrays force SortAggregate):
    * dropDuplicates on the 8-byte hash key is partial-aggregable, and
    * every row of a set_key group carries the identical toks array by
    * construction, so the surviving row is canonical whichever one it
    * is. Scope-cached: the prefix join and both verification joins
    * read it under DIFFERENT exchange keys (band key vs set_a vs
    * set_b), so ReuseExchange cannot dedupe them — uncached, each
    * would re-run the tokenize map over the whole corpus. */
  private[text] def prefixSetPairs(withKey: DataFrame, threshold: Double): DataFrame =
      ScopedCache.scope {
    require(usesPrefixPlan(threshold), s"prefix plan requires threshold >= 0.5, got $threshold")
    prefixPairsOfSets(ScopedCache.register(withKey
      .select(col("set_key"), col("lang"), col("bkt"), col("toks"), size(col("toks")).as("sz"))
      .dropDuplicates("set_key")), threshold)
  }

  /** The prefix plan over collapsed `sets` — (set_key, lang, bkt, toks,
    * sz), one row per set; callers dispatch on [[usesPrefixPlan]]. When
    * `sets` also carries rep_id (the components path), rep_a/rep_b ride
    * the verified pair stream out: they are functionally dependent on
    * (set_a, set_b), so the pair dedup key is unchanged and the caller
    * needs no rep-mapping joins. */
  private def prefixPairsOfSets(sets: DataFrame, threshold: Double,
                                maxCandidates: Option[Long] = None): DataFrame = {
    // Prefix filtering (the PPJoin family's candidate bound): under
    // ANY fixed total order of the token universe, two sets with
    // |A∩B| ≥ α must share a token among the first |S|−α+1 of each
    // (the smallest common token has at most α−1 common tokens after
    // it). J(A,B) ≥ t implies |A∩B| ≥ t·|A∪B| ≥ t·|S| for both
    // sides, so joining only the ⌊(1−t)·|S|⌋+1 smallest tokens of
    // each set is exact on recall while shrinking the quadratic term
    // from Σ_tok df(tok)² to the same sum over PREFIX tokens only.
    // `toks` is already sorted-distinct, so the lexicographic order is
    // free (a df-ascending order costs an aggregate + per-set window).
    // t is backed off by 1e-6 because the output filter is on
    // round(j, 6) ≥ t: a pair whose true j sits within half an ulp-
    // of-the-6th-decimal BELOW t still passes the rounded filter, so
    // the recall bound must be computed against that slightly laxer
    // effective threshold (over-inclusion only costs candidates).
    val tEff = threshold - 1e-6
    val withReps = sets.columns.contains("rep_id")
    // posexplode: `pos` is the 0-based index of the prefix token in
    // the FULL sorted array (the slice starts at 1), feeding the
    // positional bound below
    val pfx = sets.select(col("set_key"), col("lang"), col("bkt"), col("sz"),
      posexplode(expr(s"slice(toks, 1, cast(floor((1.0d - $tEff) * size(toks)) + 1 as int))")))
      .withColumnRenamed("col", "tok")
    // guard counts the EQUI-matched pairs of the candidate join below
    // (per (lang, bkt, prefix-token) bucket): the size/positional
    // residual predicates evaluate per matched row and cannot shrink
    // the matched count, so this is exactly the rows the join will
    // evaluate — the work metric, deliberately ≥ the post-residual
    // candidate output
    maxCandidates.foreach(guardCandidates(pfx, Seq("lang", "bkt", "tok"), _,
      "jaccardComponents (prefix plan)"))
    // Positional filter (PPJoin's second bound, exact on recall): let
    // w be the FIRST common token of a matching pair, at 0-based
    // sorted positions i in A, j in B. Every common token is ≥ w in
    // both arrays (anything smaller and common would precede w), so
    // |A∩B| ≤ min(|A|−i, |B|−j). J ≥ t forces |A∩B| ≥
    // t/(1+t)·(|A|+|B|), so the first-common-token collision row of
    // every true pair satisfies the bound — infeasible collisions are
    // dropped at the join — it narrows the verify stream, not the
    // distinct pair count (most pairs also collide early). The 1e-9
    // slack keeps a double-rounding of the exact rational bound from
    // ever rejecting an equality case (over-inclusion only costs
    // candidate rows).
    val alphaFrac = tEff / (1.0 + tEff)
    // shuffled-hash, not sort-merge: many-to-many on the prefix
    // tokens (every key repeats df_prefix(token) times per side) and
    // SMJ buffers each duplicate group. Hash, not broadcast: the
    // build side grows with the corpus. The size predicate is the
    // standard length filter (J ≥ t forces t·max(|A|,|B|) ≤
    // min(|A|,|B|)) — evaluated inside the join so mismatched pairs
    // never reach the candidate distinct.
    val cand = pfx.as("x").join(pfx.as("y").hint("shuffle_hash"),
        col("x.lang") === col("y.lang") && col("x.bkt") === col("y.bkt") &&
        col("x.tok") === col("y.tok") && col("x.set_key") < col("y.set_key") &&
        col("x.sz") >= col("y.sz") * tEff && col("y.sz") >= col("x.sz") * tEff &&
        least(col("x.sz") - col("x.pos"), col("y.sz") - col("y.pos"))
          .cast(DoubleType) >= lit(alphaFrac) * (col("x.sz") + col("y.sz")) - lit(1e-9))
      .select(col("x.set_key").as("set_a"), col("y.set_key").as("set_b"))
    // exact verification: |A∩B| as ONE allocation-free sorted-merge
    // per candidate ([[graft.functions.SetExpressions]] — the arrays
    // are sorted by construction; no per-pair hash set like
    // array_intersect's) — no df² co-count blowup, and
    // the arrays ride two narrow hash joins keyed on the 8-byte
    // set_key. Candidates are verified RAW, without a pre-verify
    // distinct: a pair colliding on several prefix tokens is merged
    // only AFTER the threshold filter, when survivors are few — the
    // full-candidate-stream distinct exchange costs more than the
    // duplicate merges it saves, and the positional bound caps the repeat
    // factor at the effective prefix length. Duplicate rows carry
    // identical jaccard by construction, so the post-filter
    // dropDuplicates is a pure dedup, never a choice.
    def side(x: String): Seq[Column] =
      Seq(col("set_key").as(s"set_$x"), col("toks").as(s"toks_$x"), col("sz").as(s"sz_$x")) ++
        (if (withReps) Seq(col("rep_id").as(s"rep_$x")) else Nil)
    val scored = cand
      .join(sets.select(side("a"): _*).hint("shuffle_hash"), "set_a")
      .join(sets.select(side("b"): _*).hint("shuffle_hash"), "set_b")
      .withColumn("c", graft.functions.SetExpressions
        .sorted_intersect_count(col("toks_a"), col("toks_b")))
    val j = col("c").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("c"))
    val outCols = Seq(col("set_a"), col("set_b"), round(j, 6).as("jaccard")) ++
      (if (withReps) Seq(col("rep_a"), col("rep_b")) else Nil)
    scored.select(outCols: _*)
      .filter(col("jaccard") >= threshold)
      .dropDuplicates("set_a", "set_b")
  }

  /** Blocked n-gram Jaccard near-dup pairs: block on
    * (lang, n_chars div 64), exact Jaccard over distinct token sets,
    * keep pairs ≥ threshold. Blocking keys bound the quadratic term;
    * at scale, block width trades recall for cost (near-dups of very
    * different length are missed — by design, mirroring
    * length-bucketed MinHash practice).
    *
    * Computed as a token co-count join, not per-pair array set ops:
    * |A∩B| falls out of a (block, token) equi-join + count, and
    * |A∪B| = |A| + |B| − |A∩B|. Everything is codegen'd
    * join/aggregate — no per-pair hash-set building — and the
    * intermediate is bounded by Σ_token df(token)² within each
    * block, the standard sparse-similarity-join shape. Pairs with
    * zero common tokens never materialize (they cannot pass any
    * threshold > 0).
    */
  def jaccardNearDupPairs(documents: DataFrame, threshold: Double, ngram: Int = 1,
                          mode: PairMode = PairMode.Full): DataFrame = ScopedCache.scope {
    requireThreshold(threshold)
    // collapse identical token sets (same trick as the LSH path):
    // J(identical sets) = 1.0 with no arithmetic, and the quadratic
    // verification stage only sees DISTINCT sets per block; 8-byte
    // xxhash64 cluster keys keep the joins narrow. Caching follows
    // the plan (see usesPrefixPlan); Bounded's guard reads the keyed
    // frame in an action of its own, which makes it cache-worthy on
    // the co-count plan too (single-action co-count stays uncached).
    val isBounded = mode match {
      case PairMode.Bounded(_) => true
      case _ => false
    }
    val keyed = keyedTokenSets(documents, ngram)
    val withKey =
      if (isBounded || usesPrefixPlan(threshold)) ScopedCache.register(keyed) else keyed
    val members = withKey.select(col("doc_id"), col("set_key").as("ckey"))
    val repPairs = setPairs(withKey, threshold)
      .select(col("set_a").as("id_a"), col("set_b").as("id_b"), col("jaccard"))
    // expand rep pairs to doc pairs; intra-cluster pairs are exact
    // duplicates (J = 1.0)
    expandDocPairs(members, repPairs, Seq("jaccard"), Seq(lit(1.0).as("jaccard")),
      mode, "jaccardNearDupPairs")
  }

  /** The ONE blocked-pair frame shared by [[editDistancePairs]] and
    * [[jaroWinklerPairs]] — their scaladoc promises IDENTICAL pair
    * selection (lang + length bucket + shared `blockChars` prefix),
    * so the blocking table and join predicate live in one place. */
  private def blockedTable(documents: DataFrame, prefixLen: Int,
                           blockChars: Int): DataFrame = {
    require(prefixLen >= 1, s"need prefixLen >= 1, got $prefixLen")
    require(blockChars >= 1 && blockChars <= prefixLen,
      s"need 1 <= blockChars <= prefixLen, got $blockChars")
    documents.select(col("doc_id"), col("lang"), expr("n_chars div 64").as("bkt"),
      substring(col("text"), 1, prefixLen).as("p"))
      .withColumn("pfx", substring(col("p"), 1, blockChars))
  }

  /** The ONE blocked self-join of the edit-distance and Jaro-Winkler
    * families, over a [[blockedTable]]-shaped frame `t` (docs, or the
    * identical-prefix clusters of [[blockedClusterView]]): rows
    * sharing (lang, length bucket, `pfx`), ordered `a.id < b.id`. */
  private def blockedJoin(t: DataFrame, id: String): DataFrame =
    t.as("a").join(t.as("b"),
      col("a.lang") === col("b.lang") && col("a.bkt") === col("b.bkt") &&
      col("a.pfx") === col("b.pfx") && col(s"a.$id") < col(s"b.$id"))

  /** Identical-prefix cluster view of the blocked families for the
    * non-Full [[PairMode]]s: docs sharing (lang, length-bucket,
    * scored prefix `p`) form one cluster — every within-cluster pair
    * scores dist = 0 / jw(p,p) by construction, so the identical-
    * prefix cluster is the expansion unit exactly as identical
    * content/signature is for the lexical families. Returns
    * (members = (doc_id, ckey, p), clusters = one row per distinct
    * (lang, bkt, pfx, p) with its 8-byte ckey). Rows with a NULL
    * blocking column (lang / n_chars / text) or NULL doc_id are
    * absent: under Full a NULL never survives the block equi-join or
    * the id inequality, so the exclusion is exact — and it keeps
    * Bounded's predicted count exact. ckey = xxhash64(lang, bkt, p):
    * an (astronomically unlikely) 64-bit collision would merge two
    * distinct-prefix clusters — the same accepted trade as the
    * jaccard family's xxhash64 set keys. */
  private def blockedClusterView(documents: DataFrame, prefixLen: Int,
                                 blockChars: Int): (DataFrame, DataFrame) = {
    val t = blockedTable(documents, prefixLen, blockChars)
      .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
              col("bkt").isNotNull && col("p").isNotNull)
      .withColumn("ckey", xxhash64(col("lang"), col("bkt"), col("p")))
    (t.select(col("doc_id"), col("ckey"), col("p")),
     t.select(col("ckey"), col("lang"), col("bkt"), col("pfx"), col("p")).distinct())
  }

  /** Edit-distance (Levenshtein) near-dup pairs — the fuzzy-dedup
    * complement to set-based Jaccard: order-sensitive, catches small
    * in-place edits that leave the token SET identical-ish but not
    * the sequence.
    *
    * Scale shape: (lang, length-bucket) blocking PLUS record-linkage
    * prefix blocking — candidates must share their first `blockChars`
    * characters, which collapses the within-block pair count from
    * quadratic to near-linear (measured 122k→1k candidate pairs at
    * sf0.1, 24 s→sub-second; the all-pairs variant blew the bench
    * envelope). The recall trade is explicit and standard: a pair
    * whose edit lands inside the first `blockChars` characters is
    * missed — shrink `blockChars` (or union several offset blocks)
    * to trade cost for recall. DP cost per surviving pair is bounded
    * by the fixed-length prefixes AND by the 3-arg THRESHOLDED
    * `levenshtein` (banded DP, early-abandon past `maxDist`:
    * O((2k+1)·n) cells instead of O(n²)): over-threshold pairs
    * return −1 and drop at the filter, so kept rows and their
    * distances are bit-identical to the unthresholded form the
    * oracle computes. The r14 measurement that motivated the switch:
    * on a colossal identical-prefix cluster the unthresholded DP
    * cost ~70 µs/pair × the clique — 200 s at 3× (SCALING.md). */
  def editDistancePairs(documents: DataFrame, maxDist: Int, prefixLen: Int = 64,
                        blockChars: Int = 8,
                        mode: PairMode = PairMode.Full): DataFrame = ScopedCache.scope {
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    val dist = levenshtein(col("a.p"), col("b.p"), maxDist).cast(LongType).as("dist")
    mode match {
      case PairMode.Full =>
        blockedJoin(blockedTable(documents, prefixLen, blockChars), "doc_id")
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), dist)
          .filter(col("dist") >= 0L)
      case _ =>
        // intra pairs are identical prefixes: dist = levenshtein(p,p)
        // = 0 ≤ maxDist always, so every cluster is intra-eligible and
        // the literal payload is exact; cross pairs confirm at the
        // CLUSTER level (levenshtein is a function of the two
        // prefixes, identical across members), so under budget the
        // expansion is bit-identical to Full.
        val (members, clusters) = blockedClusterView(documents, prefixLen, blockChars)
        val cp = blockedJoin(clusters, "ckey")
          .select(col("a.ckey").as("id_a"), col("b.ckey").as("id_b"), dist)
          .filter(col("dist") >= 0L)
        expandDocPairs(members, cp, Seq("dist"), Seq(lit(0L).as("dist")),
          mode, "editDistancePairs")
    }
  }

  /** Jaro-Winkler record-linkage pairs over the SAME blocking as
    * [[editDistancePairs]] (lang + length bucket + shared
    * `blockChars` prefix, scored on `prefixLen`-char prefixes),
    * scored by the native codegen'd
    * [[graft.functions.StringSimilarity.JaroWinklerSim]] expression.
    * Jaro-Winkler complements Levenshtein in linkage practice: it
    * rewards shared prefixes and tolerates transpositions, the
    * name/title typo shape. Pair SELECTION is block-determined
    * (integer-exact); the similarity is reported rounded to 6 —
    * thresholding belongs to the caller, on the rounded value. */
  def jaroWinklerPairs(documents: DataFrame, prefixLen: Int = 64,
                       blockChars: Int = 8,
                       mode: PairMode = PairMode.Full): DataFrame = ScopedCache.scope {
    val jw = round(graft.functions.StringSimilarity.jaro_winkler(col("a.p"), col("b.p")), 6)
      .as("jw")
    mode match {
      case PairMode.Full =>
        blockedJoin(blockedTable(documents, prefixLen, blockChars), "doc_id")
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), jw)
      case _ =>
        // the intra payload is PER-CLUSTER, not a constant:
        // jw(p, p) = 1.0 exactly for non-empty p (m = |p|, t = 0 —
        // the jaro terms are la/la = 1.0 exact and the winkler boost
        // adds l·0.1·(1−1.0) = 0) but the expression pins ''/'' to
        // 0.0 (StringSimilarity's probed empty-side convention), so
        // members carry the precomputed value and the intra branch
        // reads it through the `ma` alias.
        val (members0, clusters) = blockedClusterView(documents, prefixLen, blockChars)
        val members = members0.withColumn("ip",
          when(length(col("p")) === 0, lit(0.0)).otherwise(lit(1.0)))
        val cp = blockedJoin(clusters, "ckey")
          .select(col("a.ckey").as("id_a"), col("b.ckey").as("id_b"), jw)
        expandDocPairs(members, cp, Seq("jw"), Seq(col("ma.ip").as("jw")),
          mode, "jaroWinklerPairs")
    }
  }

  /** Transitive near-dup clustering: (doc_id, component) where
    * `component` is the smallest doc_id transitively reachable
    * through the blocked-Jaccard near-dup graph — the step that turns
    * "A~B, B~C" pairs into the {A,B,C} cluster a curation pipeline
    * actually deduplicates on. Docs whose token set is empty are
    * absent (no vertex); singletons map to themselves.
    *
    * Scale shape: identical token sets collapse to their min-doc rep
    * BEFORE the graph is built, so a colossal exact-duplicate cluster
    * contributes ONE vertex to the component search instead of a
    * quadratic pair clique; [[repComponents]] then runs the component
    * search over the rep graph only. The prefix plan fetches the token
    * arrays onto the candidate stream AFTER the candidate join (the
    * carried payload would be O(|S|) per prefix row), so this family
    * shares only that second half of [[bandedComponents]].
    *
    * @param maxCandidates optional budget on the internal candidate
    *        join's matched-pair volume ([[guardCandidates]]: prefix
    *        plan — equi-matched prefix-token pairs; co-count plan —
    *        token co-occurrence rows, the plan's Σ df² term); breach
    *        throws [[CandidateBudgetExceededException]] before the
    *        join launches. None (default) = historical unguarded
    *        path, bit-identical. */
  def jaccardComponents(documents: DataFrame, threshold: Double, ngram: Int = 1,
                        maxCandidates: Option[Long] = None): DataFrame =
      ScopedCache.scope {
    requireThreshold(threshold)
    // the token map feeds the sets collapse and the member side, in
    // actions exchange reuse never crosses — cached on BOTH plans
    val withKey = ScopedCache.register(keyedTokenSets(documents, ngram))
    // one row per set with its rep: rep_id = min(doc_id) rides the
    // collapse aggregate (one more partial-aggregable function)
    val sets = withKey
      .select(col("set_key"), col("doc_id"), col("lang"), col("bkt"), col("toks"),
        size(col("toks")).as("sz"))
      .groupBy(col("set_key"))
      .agg(min(col("doc_id")).as("rep_id"), first(col("lang")).as("lang"),
        first(col("bkt")).as("bkt"), first(col("toks")).as("toks"), first(col("sz")).as("sz"))
    repComponents(withKey.select(col("doc_id"), col("set_key")), sets) {
      val pairs =
        if (usesPrefixPlan(threshold)) prefixPairsOfSets(sets, threshold, maxCandidates)
        else {
          // the co-count join groups by set pair; map each side to its rep
          val reps = sets.select(col("set_key"), col("rep_id"))
          coCountSetPairs(sets, threshold, maxCandidates)
            .join(reps.toDF("set_a", "rep_a"), "set_a")
            .join(reps.toDF("set_b", "rep_b"), "set_b")
        }
      pairs.select(least(col("rep_a"), col("rep_b")).as("id_a"),
                   greatest(col("rep_a"), col("rep_b")).as("id_b"))
    }
  }

  /** Quality-priority dedup collapse: one row per near-dup cluster,
    * keeping the HIGHEST-quality member (ties → lowest doc_id) — the
    * curation-grade version of min-id rep selection. A pipeline that
    * keeps cluster reps by id throws away the best-written copy of
    * every duplicated page; this keeps the copy worth training on.
    *
    * Output: (component, n_members, best_doc, best_quality).
    *
    * Scale shape: the cluster search is [[jaccardComponents]]
    * unchanged; the selection is ONE partial-aggregable `max_by` over
    * (quality, −doc_id) struct order — no per-cluster window sort, so
    * a colossal cluster costs its row count, not a single-partition
    * sort. The struct ordering buffer does force SortAggregate
    * instead of HashAggregate, but that is the RIGHT trade here,
    * measured not assumed: the hash-friendly rewrite (group by
    * (component, quality) → min(doc_id), then component →
    * max_by(min_doc, quality), two primitive-buffer hash aggs) adds
    * a second full-width shuffle and benched ~35% SLOWER at sf0.1
    * (medians of 3: 6.9 s vs 5.1 s solo-harness); the sort-agg is
    * still partial-aggregable (collapses to |components| rows before
    * the exchange) and its sort is per-partition, so it scales the
    * same way. Quality is the shared `TextOps.qualityScore` blend,
    * identical on both engine and oracle. */
  def keepBestPerCluster(documents: DataFrame, threshold: Double,
                         ngram: Int = 1,
                         maxCandidates: Option[Long] = None): DataFrame = {
    // `maxCandidates` guards the cluster search's candidate join
    // (jaccardComponents' scaladoc) — the selection aggregate below
    // adds no quadratic term of its own.
    val comp = jaccardComponents(documents, threshold, ngram, maxCandidates)
    val quality = TextOps.qualityScore(documents).select(col("doc_id"), col("quality"))
    comp.join(quality, "doc_id")
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("quality"), (-col("doc_id")).as("nid")))
          .as("best_doc"),
        max(col("quality")).as("best_quality"))
  }
}
