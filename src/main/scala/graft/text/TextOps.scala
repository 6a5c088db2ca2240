package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Ops, ScopedCache}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID, quality scoring, token counting,
  * document fingerprinting. All pure column expressions (whole-stage
  * codegen, no UDFs) — each runs embarrassingly parallel over
  * partitions with zero shuffle, which is exactly what a 100 TB
  * document sweep needs.
  */
object TextOps {

  /** Whitespace tokens, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Scala twin of [[tokens]] for typed-map paths — identical output
    * (Java and Spark split on the same \s+ regex; the leading empty
    * string from leading whitespace is filtered on both sides).
    * Null text tokenizes to nothing, matching the expression path
    * (`split(null)` → null array → every `size(…) > 0` guard drops
    * the row); without this, every typed-map operator NPE'd on a
    * library user's nullable text column (probed, then pinned in
    * `NullInputSpec`). */
  // precompiled: String.split only fast-paths single-char literal
  // separators — "\\s+" went through Pattern.compile once per ROW in
  // every typed-map operator (and once per LINE in c4Clean), the
  // hottest path in the file. Pattern is immutable/thread-safe; each
  // executor JVM re-initializes it on object load.
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def tokensOf(text: String): Seq[String] =
    if (text == null) Nil else Ws.split(text).toSeq.filter(_.nonEmpty)

  /** Scala twin of [[shingles]] — the one word-n-gram definition every
    * typed-map path shares (n-gram top-k, Jaccard shingle sets), so
    * the separator and the short-document rule cannot drift between
    * operators. */
  def shinglesOf(toks: Seq[String], n: Int): Seq[String] =
    if (n <= 1) toks
    else toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq

  /** Scala twin of [[shinglesOf]] at n = 2, shared by the LM /
    * collocation / importance-weight extractors so the bigram rule
    * (space join, <2-token docs yield nothing) cannot drift between
    * them — same rationale as the tokensOf/shinglesOf twins. */
  def bigramPairsOf(toks: Seq[String]): Iterator[(String, String)] =
    if (toks.length < 2) Iterator.empty
    else toks.iterator.zip(toks.iterator.drop(1))

  def bigramsOf(toks: Seq[String]): Iterator[String] =
    bigramPairsOf(toks).map { case (a, b) => a + " " + b }

  /** The ONE (doc_id, text) typed decode every per-row operator
    * shares. Null doc_ids are DROPPED — the family's silent-drop
    * convention (Dedup's typed maps document the same choice): the
    * non-nullable Long encoder would otherwise abort the whole
    * 100 TB job on a single null id, where every sibling silently
    * drops the row. */
  private def docIdText(documents: DataFrame): org.apache.spark.sql.Dataset[(Long, String)] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull).as[(Long, String)]
  }

  /** (doc_id, text, toks) with the token array materialized ONCE per
    * row by a typed map. The operators below reference the token list
    * 3–5× per row; as a derived *expression* column those references
    * each re-run split() under projection collapse (SCALING.md
    * optimizer pitfall #1), while an attribute produced by a per-row
    * closure is tokenized exactly once and stays fully distributed. */
  private def tokenized(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    // lang rides along for langId; tolerate lang-less frames (the
    // stats/quality operators don't require one)
    val base = if (documents.columns.contains("lang")) documents
               else documents.withColumn("lang", lit(""))
    base.select(col("doc_id"), col("lang"), col("text"))
      .filter(col("doc_id").isNotNull) // silent-drop convention (docIdText)
      .as[(Long, String, String)]
      .map { case (id, lang, text) => (id, lang, text, tokensOf(text)) }
      .toDF("doc_id", "lang", "text", "toks")
  }

  /** Word n-gram shingles: ["a","b","c"] with n=2 → ["a b","b c"].
    *
    * Built by zipping shifted slices, NOT by
    * `transform(sequence, i => element_at(toks, i+k))`: Catalyst
    * duplicates the `toks` subtree into every `element_at`, so when
    * `toks` is itself an unmaterialized expression (the usual case —
    * `split(text)`), the per-element form re-tokenizes the document
    * O(tokens) times per shingle. Slices evaluate `toks` a constant
    * number of times per row. `greatest(0, …)` keeps slice lengths
    * legal for documents shorter than n. */
  def shingles(toks: Column, n: Int): Column =
    if (n <= 1) toks
    else {
      val cnt = greatest(lit(0), size(toks) - (n - 1))
      var acc = slice(toks, lit(1), cnt)
      for (k <- 1 until n)
        acc = zip_with(acc, slice(toks, lit(k + 1), cnt), (a, b) => concat(a, lit(" "), b))
      acc
    }

  /** 64-bit FNV-1a over UTF-16 code units — the INTERNAL token/
    * shingle code of the set-similarity join family ([[graft.text
    * .Dedup]] `tokenSets`). Unlike [[tokenCode]] this never needs
    * cross-engine parity (codes exist only between the tokenize map
    * and the join; the observable output is jaccard over the code
    * SETS), so the hash is chosen for per-token speed: no UTF-8
    * encode, no digest allocation. Collision effect: two distinct
    * tokens of one document colliding shrinks that document's set by
    * one (P ≈ n²/2⁶⁵ per doc, ~10⁻¹⁵ at 10³ tokens); a cross-doc
    * collision adds one spurious common element to pairs already
    * sharing a block. Both perturb jaccard by ~1/|set| with
    * negligible probability — the signatureClusters trade restated;
    * swap for the md5-based [[tokenCode]] when zero tolerance is
    * required. */
  def tokenHash64Of(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      h ^= (c & 0xffL); h *= 0x100000001b3L
      h ^= ((c >> 8) & 0xffL); h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** [[tokenHash64Of]] of the n-gram shingle starting at `i` WITHOUT
    * materializing the "a b" string: hashes the member tokens' chars
    * with the same ' ' separator [[shinglesOf]] uses, so by
    * construction `shingleHash64Of(toks, i, n) ==
    * tokenHash64Of(shinglesOf(toks, n)(i))` — the twin equivalence
    * DedupPropertySpec pins. */
  def shingleHash64Of(toks: IndexedSeq[String], i: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var k = 0
    while (k < n) {
      if (k > 0) { // the ' ' separator (one UTF-16 unit, high byte 0)
        h ^= 0x20L; h *= 0x100000001b3L
        h ^= 0L; h *= 0x100000001b3L
      }
      val t = toks(i + k)
      var p = 0
      while (p < t.length) {
        val c = t.charAt(p)
        h ^= (c & 0xffL); h *= 0x100000001b3L
        h ^= ((c >> 8) & 0xffL); h *= 0x100000001b3L
        p += 1
      }
      k += 1
    }
    h
  }

  /** Portable 32-bit token hash: first 8 hex digits of md5, as a
    * long. Chosen over Spark's murmur `hash()` because any engine
    * with md5 can reproduce it (DuckDB oracle, future Flink/Trino
    * parity). Cost: one md5 per token — fine off the hot join path;
    * swap for xxhash64 when cross-engine parity is not needed.
    */
  def tokenCode(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast(LongType)

  /** Scala twin of [[tokenCode]] for typed-map paths (the tokensOf
    * convention): the first 8 hex digits of md5 = the first 4 digest
    * bytes read as an unsigned 32-bit value. Pass a per-partition
    * MessageDigest — `digest()` resets it, so one instance serves the
    * whole partition without per-token allocation. */
  def tokenCodeOf(md5: java.security.MessageDigest, tok: String): Long = {
    val d = md5.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Size-capped per-partition memo around [[tokenCodeOf]] (r15): a
    * Zipf vocabulary repeats the same tokens across documents, so the
    * md5 per distinct-token-per-DOC of the minhash/simhash folds
    * recomputes the same code thousands of times per partition — and
    * those folds deliberately re-run per reference (the measured
    * no-corpus-cache trade), multiplying the md5 cost again. One memo
    * instance per partition makes the cost one md5 per distinct token
    * per PARTITION for the head of the distribution; identical codes
    * by construction. The cap (default 64k entries ≈ a few MB) bounds
    * task memory on open-vocabulary corpora — past it, tail tokens
    * just pay the md5 (first-come residency ≈ the Zipf head, which is
    * where the repeats are). */
  final class TokenCodeMemo(cap: Int = 1 << 16) {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val m = new java.util.HashMap[String, java.lang.Long](1024)
    def code(tok: String): Long = {
      val c = m.get(tok)
      if (c != null) c.longValue()
      else {
        val v = tokenCodeOf(md, tok)
        if (m.size < cap) m.put(tok, java.lang.Long.valueOf(v))
        v
      }
    }
  }

  /** Per-document token statistics: whitespace token count, distinct
    * count, BPE-ish subword count (letter runs / digit runs / single
    * punctuation), mean token length. Token-less documents (empty or
    * null text) are excluded — their mean length is undefined, and
    * under ANSI mode the 0/0 would abort the job rather than null
    * out (the convention every token-bearing operator here shares).
    */
  def tokenStats(documents: DataFrame): DataFrame = {
    val toks = col("toks")
    val sumLen = aggregate(transform(toks, t => length(t).cast(LongType)), lit(0L), (a, x) => a + x)
    tokenized(documents)
      .filter(size(toks) > 0)
      .select(
      col("doc_id"),
      size(toks).cast(LongType).as("n_tokens"),
      size(array_distinct(toks)).cast(LongType).as("n_uniq"),
      // letter runs CASE-INSENSITIVELY (r12 review: the lowercase-only
      // class counted every uppercase letter as its own one-char
      // "punctuation" subword, inflating acronym/title-heavy docs;
      // the DuckDB oracle twin carries the same class)
      // spelled-out whitespace class, NOT \s (the WsRunRe portability
      // contract): Java's \s includes \x0B where RE2's does not, so a
      // VT in the text would diverge n_subword cross-engine; both
      // sides now carry RE2's set explicitly (VT counts as a subword
      // char on both)
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\t\\n\\f\\r ]"), lit(0))).cast(LongType).as("n_subword"),
      round(sumLen.cast(DoubleType) / size(toks), 6).as("avg_tok_len"))
  }

  private val EnMarkers = Seq("the", "a", "of", "and")
  private val EsMarkers = Seq("el", "la", "de", "y")
  private val DeMarkers = Seq("der", "die", "das", "und")

  /** Case-insensitive: the tokenizer does not lowercase, and the
    * marker lists are high-frequency FUNCTION words that real cased
    * text capitalizes sentence-initially ("The", "El", "Der") —
    * case-sensitive matching would systematically deflate exactly
    * the strongest markers, and disagree with [[gopherRules]], which
    * lowercases before its stopword test. Oracle twin: `lower(x)`
    * inside each `list_contains`. */
  private def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(markers), lower(t)))).cast(LongType)

  /** N-gram-style language-ID heuristic: score text against per-
    * language marker-token lists, argmax with a fixed tie order.
    * Deterministic and shuffle-free; a real model slots in as a
    * richer scoring expression with the same shape.
    */
  def langId(documents: DataFrame): DataFrame = {
    val toks = col("toks")
    tokenized(documents)
      .select(
        col("doc_id"), col("lang"),
        markerCount(toks, EnMarkers).as("s_en"),
        markerCount(toks, EsMarkers).as("s_es"),
        markerCount(toks, DeMarkers).as("s_de"))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
  }

  /** The quality blend over a token-array column — shared by
    * [[qualityScore]] and [[qualityNtile]] so the definition cannot
    * drift. Deliberately UNROUNDED and exp-free: both engines
    * evaluate this fixed-order IEEE expression bit-identically, while
    * round() disagrees on decimal-boundary doubles (Spark BigDecimal
    * HALF_UP vs DuckDB float rounding — observed as a 1-ulp mismatch
    * at sf0.1). */
  private def qualityExpr(toks: Column): Column = {
    val nTok = size(toks).cast(DoubleType)
    // nullif guard: a token-less document would divide by zero —
    // a WHOLE-JOB abort under Spark 4's default ANSI mode. Dividing
    // by NULL instead propagates NULL quality, which is ALSO what
    // DuckDB's x/0 yields, so both engines agree without oracle
    // edits. Token-less docs therefore carry NULL quality/ratios;
    // gate them out upstream before feeding ranked cuts (ntile
    // null-ordering differs across engines).
    val nTokSafe = nullif(nTok, lit(0.0))
    val sumLen = aggregate(transform(toks, t => length(t).cast(LongType)), lit(0L), (a, x) => a + x)
    val meanTok = sumLen.cast(DoubleType) / nTokSafe
    lit(0.4) * least(nTok / 100.0, lit(1.0)) +
      lit(0.4) * stopRatioExpr(toks) +
      lit(0.2) * least(meanTok / 10.0, lit(1.0))
  }

  /** The stop-ratio term of [[qualityExpr]], shared with
    * [[qualityScore]]'s reported column so the two cannot drift
    * (same nullif guard: token-less → NULL). */
  private def stopRatioExpr(toks: Column): Column =
    markerCount(toks, EnMarkers).cast(DoubleType) /
      nullif(size(toks).cast(DoubleType), lit(0.0))

  /** Heuristic quality score in [0,1]: linear blend of token count,
    * stopword ratio, and mean token length (deliberately exp-free so
    * the arithmetic is bit-reproducible across engines).
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = col("toks")
    tokenized(documents).select(
      col("doc_id"),
      size(toks).cast(LongType).as("n_tokens"),
      stopRatioExpr(toks).as("stop_ratio"),
      qualityExpr(toks).as("quality"))
  }

  /** Per-language quality percentile buckets — the "keep the top 20%
    * of each language" filter of a curation pipeline, as a reusable
    * column rather than a corpus-wide sort-and-cut. `tile` 1 is the
    * BEST quality in its language.
    *
    * `relErr = 0` (oracle default): exact per-language `ntile(n)` —
    * one shuffle on the language key, one ordered pass per
    * partition. A colossal language is one partition there, which on
    * an English-dominant corpus is the same single-hot-task problem
    * as a global sort — so it is the test-scale harness. `relErr >
    * 0`: per-language cut points from one `percentile_approx`
    * partial-agg pass (|langs| rows of n−1 values, a broadcast
    * join), tiles assigned by comparison — no ordered window at all,
    * every language scales. Ties share a tile there instead of
    * splitting on the doc_id tie-break. */
  def qualityNtile(documents: DataFrame, n: Int = 10, relErr: Double = 0.0): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(relErr >= 0.0 && relErr < 0.5, s"need relErr in [0, 0.5), got $relErr")
    val scored = tokenized(documents)
      .select(col("doc_id"), col("lang"), qualityExpr(col("toks")).as("quality"))
    if (relErr == 0.0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("tile", ntile(n).over(w).cast(LongType))
    } else if (n == 1) scored.withColumn("tile", lit(1L))
    else {
      // Ascending bucket b over the quality cuts maps to descending
      // tile n+1−b (tile 1 = top of the distribution).
      val cuts = scored.groupBy("lang")
        .agg(Ops.approxCutsAgg(col("quality"), n, relErr).as("cuts"))
      // NULL-SAFE join: groupBy keeps a NULL-lang group in `cuts`,
      // and the exact path tiles NULL lang as a normal window
      // partition — an equi-join here would silently DROP those
      // documents, making relErr change which rows exist rather
      // than just tie behavior
      scored.as("s")
        .join(broadcast(cuts).as("c"), col("s.lang") <=> col("c.lang"))
        .withColumn("tile",
          (lit(n + 1) - Ops.bucketByCuts(col("quality"), col("cuts"))).cast(LongType))
        .select(col("doc_id"), col("s.lang").as("lang"), col("quality"), col("tile"))
    }
  }

  /** Corpus-level n-gram frequency top-k: the vocabulary-statistics
    * sweep of a training-data pipeline (stop-list construction,
    * contamination screening, tokenizer corpus analysis).
    *
    * Scale shape: explode → partial-aggregated count (map-side
    * combine collapses each partition's counts before the single
    * shuffle on the n-gram) → global top-k, which Spark plans as
    * TakeOrderedAndProject — per-partition heaps of k rows, never a
    * full sort. Deterministic total order (count desc, n-gram asc)
    * makes the k-boundary reproducible. */
  def ngramTopK(documents: DataFrame, n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got ($n, $k)")
    import documents.sparkSession.implicits._
    docIdText(documents)
      .flatMap { case (_, text) => shinglesOf(tokensOf(text), n) }
      .toDF("shingle")
      .groupBy("shingle").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("shingle"))
      .limit(k)
  }

  /** BM25 top-k: rank documents against a fixed query-term list
    * (Robertson/Okapi k1–b form) — the lexical-retrieval half of a
    * training-data search stack.
    *
    * Shape chosen for determinism as much as scale:
    *  - per-document term frequencies are `size(filter(toks, = term))`
    *    column arithmetic — no explode, zero shuffle over the corpus;
    *  - corpus stats (N, Σdl, per-term df) are ONE partial-aggregated
    *    row, broadcast back — all integer-valued doubles, so their
    *    sums are exact in any aggregation order;
    *  - each document's score sums its per-term contributions in
    *    FIXED column order (t0 + t1 + …), never a float sum across
    *    shuffled rows;
    *  - the score is rounded to 5 decimals because `ln` differs by
    *    1 ulp between the JVM and other libms (measured) — for
    *    irrational outputs the round absorbs it.
    * Output: (doc_id, score) for the top `k` by (score desc, doc_id).
    */
  def bm25TopK(documents: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = ScopedCache.scope {
    require(terms.nonEmpty && k >= 1, s"need terms and k >= 1, got ($terms, $k)")
    val toks = col("toks")
    // scope-cached (graft.core.ScopedCache): this
    // narrow frame — a few doubles per document — feeds both the
    // broadcast stats aggregate and the probe side, which share no
    // exchange; without the persist the corpus tokenizes twice
    val f = ScopedCache.register(tokenized(documents).select(
      col("doc_id") +: size(toks).cast(DoubleType).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === t)).cast(DoubleType).as(s"tf$i")
        }: _*))
    val aggCols = count(lit(1)).cast(DoubleType).as("n") +: sum(col("dl")).as("sumdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast(DoubleType).as(s"df$i"))
    val stats = f.agg(aggCols.head, aggCols.tail: _*)
    val scored = f.crossJoin(broadcast(stats))
    // nullif guard (the qualityExpr convention): a corpus whose
    // documents are ALL token-less has sumdl = 0 with n > 0 — the
    // mean length is undefined, scores go NULL, and the > 0 filter
    // yields the empty top-k instead of 0/0 NaN rows
    val norm = col("dl") / nullif(col("sumdl") / col("n"), lit(0.0))
    val score = terms.indices.map { i =>
      val idf = log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1.0)
      val tf = col(s"tf$i")
      idf * (tf * (k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * norm))
    }.reduce(_ + _)
    scored.select(col("doc_id"), round(score, 5).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** TF-IDF (document, term) scores, global top-k: the classic
    * lexical-salience ranking (BM25's idf-free cousin), used for
    * keyword extraction and corpus-level topic sweeps.
    *
    * Scale shape: explode to (doc, term) → ONE partial-aggregated
    * shuffle for tf (map-side combine collapses within-partition
    * repeats), a second partial-aggregated shuffle of the already
    * per-document-distinct tf rows for df, a broadcast one-row N, and
    * a shuffle join tf⋈df on the term. The global top-k plans as
    * TakeOrderedAndProject (per-partition k-heaps, no full sort).
    * Score = (tf/dl)·ln(N/df), rounded to 5 (ln differs by 1 ulp
    * across libms); deterministic total order (score desc, doc, term).
    */
  def tfidfTopK(documents0: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import documents0.sparkSession.implicits._
    // N counts the same rows tf/df see: docIdText drops null ids from
    // the tf table, so the unfiltered row count inflated every idf
    // (r12 review — denominator symmetry)
    val documents = documents0.filter(col("doc_id").isNotNull)
    // NOT scope-cached (r15, measured): `tf` feeds both the df
    // aggregate and the scoring join, so the tokenize flatMap runs
    // twice — but a scope-cached tf A/B'd +12–16% SLOWER at sf0.1
    // in three same-session captures (the persist write/read of the
    // corpus-expansion-sized (doc,term) table costs more than the
    // second streaming pass), and at 100 TB persisting a near-corpus-
    // sized intermediate is the wrong trade for the same reason.
    val tf = docIdText(documents)
      .flatMap { case (id, text) =>
        val toks = tokensOf(text)
        toks.map(t => (id, t, toks.length))
      }
      .toDF("doc_id", "term", "dl")
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).cast(DoubleType).as("n"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round((col("tf").cast(DoubleType) / col("dl").cast(DoubleType))
          * log(col("n") / col("df").cast(DoubleType)), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("term"))
      .limit(k)
  }

  /** Bigram language-model self-scoring: train add-one-smoothed
    * bigram counts on the corpus, score every document by its average
    * log-probability under that model — the perplexity-style quality
    * filter of a training-data pipeline (a KenLM stand-in whose model
    * IS the corpus, so "unusual" text scores low without any external
    * artifact). Output: (doc_id, n_bigrams, avg_logprob) for every
    * document with ≥ 1 bigram;
    * lp(w₁w₂) = ln((c(w₁w₂)+1) / (c(w₁·)+V)).
    *
    * Scale shape:
    *  - bigrams stream out of ONE typed flatMap per corpus pass (no
    *    posexplode+lag shuffle); counts partial-aggregate on the
    *    (w₁,w₂) key — far better distributed than unigram keys, whose
    *    Zipf head ("the") would hot-spot a reducer;
    *  - history counts derive from the already-aggregated bigram
    *    table (groupBy w₁ over DISTINCT bigrams — skew bounded by
    *    fan-out per word, not corpus instances), never a second
    *    corpus scan;
    *  - the model (counts ⋈ history ⋈ vocab-size) is assembled first,
    *    so scoring is a single join back on the well-distributed
    *    bigram key. At real scale the model table is what a pipeline
    *    would prune (KenLM-style count cutoffs) and bucket-write;
    *  - float parity without ordering: each lp rounds to 6 decimals
    *    and sums as DECIMAL — exact in any partition order (the
    *    moneySum rule). The final divide stays UNROUNDED on purpose:
    *    both engines correctly-round the same exact decimal sum and
    *    integer count, so the quotient is bit-identical, whereas a
    *    final `round(…, 6)` sits Spark's HALF_UP against DuckDB's
    *    float rounding on exact .5 boundaries (observed: 2/5000 docs
    *    off by 1e-6 at sf0.1). */
  def ngramLmScore(documents0: DataFrame): DataFrame = ScopedCache.scope {
    import documents0.sparkSession.implicits._
    // null-id rows drop from the bigram table AND the vocabulary —
    // the pmiCollocations denominator-symmetry rule (r12 review)
    val documents = documents0.filter(col("doc_id").isNotNull)
    // scope-cached (the bm25TopK pattern): the token table feeds the
    // model's count aggregate, the vocabulary count AND the scoring join, branches that share
    // no exchange — uncached, the corpus tokenize flatMap, THE
    // dominant cost at corpus scale, runs once per branch.
    // The bigram rows plus ONE tail row per non-empty doc (its last
    // token, null successor): rows with a successor are exactly the
    // bigrams, and distinct(w1) is exactly the vocabulary — every
    // token is w1 of a bigram row except each doc's last, which the
    // tail row covers (including single-token docs that produce no
    // bigram). This folds the former separate vocab pass (a full
    // corpus re-tokenize — it could not read the bigram cache because
    // bigrams lose last tokens and single-token docs) into the same
    // cached pass (r15, guide §1.2 step 1: 2 tokenize passes → 1).
    val tk = ScopedCache.register(
      docIdText(documents)
        .flatMap { case (id, text) =>
          val ts = tokensOf(text)
          if (ts.isEmpty) Iterator.empty
          else bigramPairsOf(ts).map { case (a, b) => (id, a, b) } ++
            Iterator((id, ts.last, null: String))
        }
        .toDF("doc_id", "w1", "w2"))
    val bi = tk.filter(col("w2").isNotNull).select("doc_id", "w1", "w2")
    val counts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val hist = counts.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = tk.agg(countDistinct(col("w1")).as("v"))
    val model = counts.join(hist, "w1").crossJoin(broadcast(vocab))
    val lp = round(log((col("c12") + 1).cast(DoubleType) / (col("c1") + col("v"))), 6)
      .cast(DecimalType(12, 6))
    bi.join(model, Seq("w1", "w2"))
      .select(col("doc_id"), lp.as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("lp")).cast(DoubleType) / count(lit(1))).as("avg_logprob"))
  }

  /** Vocabulary coverage: build the top-`vocabSize` corpus vocabulary
    * (by occurrence count, ties → lexicographic) and report each
    * document's out-of-vocabulary token rate — the tokenizer-fit /
    * filtering signal of a training-data pipeline (a doc whose words
    * the vocabulary doesn't cover is noise, code, or the wrong
    * language). Output: (doc_id, n_tokens, n_oov, oov_rate) for every
    * document with ≥ 1 token.
    *
    * Scale shape: two corpus passes by necessity (a vocabulary must
    * exist before it can be applied — the standard build-then-apply
    * split; at 100 TB the vocab table is an artifact you'd persist
    * between the passes). Pass 1 partial-aggregates token counts and
    * takes the top-V with TakeOrderedAndProject (per-partition heaps,
    * no global sort of the vocabulary table). Pass 2 re-streams token
    * occurrences against the BROADCAST vocabulary — V rows by
    * construction — so the corpus-sized side never shuffles for the
    * join, and the per-doc rollup is one partial-aggregable groupBy. */
  def vocabOov(documents: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"need vocabSize >= 1, got $vocabSize")
    import documents.sparkSession.implicits._
    def occurrences = docIdText(documents)
      .flatMap { case (id, text) => tokensOf(text).map(t => (id, t)) }
      .toDF("doc_id", "tok")
    val vocab = occurrences.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(true).as("in_vocab"))
    occurrences.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast(DoubleType) / col("n_tokens"), 6))
  }

  /** PMI collocations: every corpus bigram with count ≥ `minCount`,
    * scored by pointwise mutual information —
    * pmi = ln(p(w₁w₂) / (p(w₁)·p(w₂))), p(w₁w₂) = c₁₂/B,
    * p(w) = c/U (U = token occurrences, B = bigram occurrences).
    * The phrase-mining / tokenizer-merge-candidate signal ("new
    * york" scores high, "of the" scores low). Emitting the full
    * ≥ minCount set rather than a top-k keeps row selection purely
    * integer-determined: no ranking on a float that a 1-ulp libm
    * difference could reorder.
    *
    * Scale shape: bigram and unigram counts are each ONE partial-
    * aggregated corpus pass (bigram keys are well-distributed; the
    * unigram Zipf head is absorbed by map-side combine), and totals
    * are a third, NARROW pass (per-doc token count + scalar agg) —
    * three corpus reads total, the minimum for build-then-score
    * without persisting token tables. The min-count filter runs
    * BEFORE any join, and the two per-word lookups are ONE join: the
    * surviving bigrams melt to (side, word) rows so the unigram
    * table is built and probed once (two separate joins re-execute
    * the unigram subtree — exchange reuse does not bridge them;
    * measured, not assumed). Per-key fan-out on the word join is one
    * build row per key — no skew blow-up.
    *
    * Float parity: a single `round(ln(product-of-doubles), 5)` failed
    * the cross-engine hash on the driver's box (r4) — the product
    * accumulates several ulps before ln, and Spark's HALF_UP-on-
    * shortest-repr round vs DuckDB's binary round then disagree at a
    * boundary. The fixed contract decomposes
    * pmi = ln(c12) + 2·ln(U) − ln(c1) − ln(c2) − ln(B): every ln takes
    * ONE exact integer (correctly rounded to ≤ 1 ulp on any libm),
    * each term rounds to 6 and is cast to DECIMAL, and the sum runs in
    * exact decimal arithmetic — order-independent, with one final
    * correctly-rounded cast to double (the `ngramLmScore` rule). The
    * exact integer counts c1/c2 ride along in the output. */
  def pmiCollocations(documents0: DataFrame, minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    import documents0.sparkSession.implicits._
    // ONE null-id filter for numerators AND totals: docIdText drops
    // null-id rows from the bigram table, so totals computed over the
    // unfiltered frame would count tokens the c12/c1/c2 side never
    // sees — a biased denominator, not a dropped row (r12 review)
    val documents = documents0.filter(col("doc_id").isNotNull)
    val bi = docIdText(documents)
      .flatMap { case (_, text) => bigramPairsOf(tokensOf(text)) }
      .toDF("w1", "w2")
    val counts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    // U = Σ tokens, B = Σ max(tokens−1, 0): one NARROW corpus scan +
    // scalar aggregate, not aggregates over the uni/counts tables —
    // those subtrees re-execute per reference (exchange reuse does
    // not bridge the differing parents), which at 100 TB would be two
    // extra full corpus passes for two scalars
    val totals = documents
      .select(size(tokens(col("text"))).cast(LongType).as("n"))
      .agg(sum(col("n")).as("u_total"),
           sum(greatest(col("n") - 1L, lit(0L))).as("b_total"))
    val melted = counts.filter(col("c12") >= minCount)
      .select(col("w1"), col("w2"), col("c12"),
        explode(array(struct(lit(1).as("side"), col("w1").as("word")),
                      struct(lit(2).as("side"), col("w2").as("word")))).as("sw"))
      .select(col("w1"), col("w2"), col("c12"),
              col("sw.side").as("side"), col("sw.word").as("word"))
    melted.join(uni.withColumnRenamed("tok", "word"), "word")
      .groupBy(col("w1"), col("w2"), col("c12"))
      .agg(max(when(col("side") === 1, col("c"))).as("c1"),
           max(when(col("side") === 2, col("c"))).as("c2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        (lnTerm6(col("c12")) + lnTerm6(col("u_total")) * 2
          - lnTerm6(col("c1")) - lnTerm6(col("c2")) - lnTerm6(col("b_total")))
          .cast(DoubleType).as("pmi"))
  }

  /** `round(ln(n), 6)` as an exact DECIMAL term — the cross-engine
    * float contract for log-sums: ln of a single exact integer is
    * correctly rounded to ≤ 1 ulp on any libm, the 6-dp round pins it
    * to a decimal both engines agree on, and downstream +/− runs in
    * exact decimal arithmetic. */
  private def lnTerm6(n: Column): Column =
    round(log(n.cast(DoubleType)), 6).cast(DecimalType(18, 6))

  /** DSIR importance weights (Xie et al. 2023, Data Selection via
    * Importance Resampling): hash each document's bigrams into
    * `nBuckets` buckets, fit a raw (whole-corpus) and a target
    * (here: `targetLang` documents) bucket distribution with add-one
    * smoothing, and score every document by the log-likelihood ratio
    *   log w = Σ_f γ_f·(ln p_target[f] − ln p_raw[f]),
    * γ_f = the doc's count in bucket f. High-weight documents "look
    * like" the target distribution and survive the downstream
    * weighted resample ([[sampleWeighted]] is the companion step).
    *
    * Float parity: with p = (c_f+1)/(total+B), every ln argument is
    * an exact integer, so the sum decomposes into per-term
    * [[lnTerm6]] DECIMAL terms (the q_pmi/q_ngram_lm contract) —
    * γ_f·(ln6(t_f+1) − ln6(r_f+1)) summed in exact decimal, plus
    * n_feats·(ln6(R+B) − ln6(T+B)) from the denominators, one
    * correctly-rounded final cast to double.
    *
    * Scale shape: two partial-aggregated feature passes — ONE
    * conditional aggregation builds raw and target bucket counts
    * together (build), one per-doc rollup applies them (apply, the
    * [[vocabOov]] contract) — plus ONE narrow totals pass over
    * documents (the [[pmiCollocations]] rule: a scalar aggregate
    * over the feature subtree would re-execute the corpus flatMap
    * per reference). The bucket stats table is `nBuckets` rows by
    * construction and broadcasts.
    * Returns (doc_id, n_feats, logw) for docs with ≥ 1 bigram. */
  def dsirWeight(documents0: DataFrame, targetLang: String = "en",
                 nBuckets: Int = 256): DataFrame = ScopedCache.scope {
    require(nBuckets >= 1, s"need nBuckets >= 1, got $nBuckets")
    import documents0.sparkSession.implicits._
    // null-id rows drop from features AND totals together — the
    // pmiCollocations denominator-symmetry rule (r12 review)
    val documents = documents0.filter(col("doc_id").isNotNull)
    val feats = documents.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, lang, text) =>
        bigramsOf(tokensOf(text)).map(g => (id, lang, g))
      }
      .toDF("doc_id", "lang", "feat")
      .withColumn("bucket", pmod(tokenCode(col("feat")), lit(nBuckets.toLong)))
    // ONE feature pass (r15): the per-(doc, bucket) γ rollup is
    // computed first (scoped cache — two consumers, no shared
    // exchange) carrying the doc's target flag, and the 256-row
    // bucket stats table DERIVES from it: r_f = Σ_docs γ,
    // t_f = Σ_{target docs} γ — exactly the per-feat-row counts the
    // old second corpus pass recomputed (lang is constant per doc;
    // a null lang is not the target under both formulations). The
    // tokenize+md5 flatMap, THE dominant cost at corpus scale, now
    // runs once instead of twice, and the stats aggregate collapses
    // map-side to ≤ nBuckets rows per task over the already-rolled-up
    // γ table instead of the raw feature stream.
    val g = ScopedCache.register(
      feats.groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("gamma"),
             max(when(col("lang") === targetLang, 1L).otherwise(0L)).as("is_tgt")))
    val stats = g.groupBy("bucket")
      .agg(sum(col("gamma")).as("r_f"),
           sum(when(col("is_tgt") === 1L, col("gamma")).otherwise(0L)).as("t_f"))
    val totals = documents
      .select(col("lang"), size(tokens(col("text"))).cast(LongType).as("n"))
      .agg(sum(greatest(col("n") - 1L, lit(0L))).as("r_total"),
           sum(when(col("lang") === targetLang, greatest(col("n") - 1L, lit(0L)))
             .otherwise(0L)).as("t_total"))
    g.join(broadcast(stats), "bucket")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(sum(col("gamma")).as("n_feats"),
        sum(col("gamma") * (lnTerm6(col("t_f") + 1L) - lnTerm6(col("r_f") + 1L))).as("s_f"),
        // denominator terms are per-row constants; fold them into the
        // same decimal sum via the row's feature count
        sum(col("gamma") * (lnTerm6(col("r_total") + nBuckets.toLong)
          - lnTerm6(col("t_total") + nBuckets.toLong))).as("s_d"))
      .select(col("doc_id"), col("n_feats"),
        (col("s_f") + col("s_d")).cast(DoubleType).as("logw"))
  }

  /** Character-distribution Shannon entropy per document — the
    * gibberish/keysmash/binary-paste filter: natural text sits
    * around 4 bits (≈2.8 nats) of char entropy, "aaaa…" at 0, and
    * base64/hex blobs near the alphabet ceiling. Decomposed as
    *   H = ln N − (Σ_c count_c·ln count_c)/N
    * so every ln argument is an exact integer: each term is a
    * [[lnTerm6]] DECIMAL, the weighted sum is exact decimal
    * arithmetic, and the final subtract/divide are correctly-rounded
    * double ops on bit-identical inputs (the q_pmi contract; the
    * entropy column hashes unrounded). Chars are `[\s\S]` matches,
    * NOT `.`: Java's dot excludes \r and the Unicode line
    * separators while RE2's excludes only \n, but the union class
    * is every character in both engines (the spelled-out-class rule
    * the PII/whitespace patterns follow). regexp_extract_all yields
    * [] on empty text in both engines, so char-less documents are
    * excluded like every token operator.
    *
    * Scale shape: one (doc_id, char) partial-aggregated shuffle —
    * map-side combine collapses each document to ≤ |alphabet| rows
    * before anything moves — then a tiny per-doc rollup. Returns
    * (doc_id, n_chars, n_distinct, entropy) in nats. */
  def charEntropy(documents: DataFrame): DataFrame = {
    // null-id rows are DROPPED (the family convention) — unfiltered,
    // groupBy would merge EVERY null-id document's characters into one
    // bogus combined-entropy row (worse than a drop: wrong data out)
    val ch = documents.filter(col("doc_id").isNotNull).select(col("doc_id"),
      explode(regexp_extract_all(col("text"), lit("[\\s\\S]"), lit(0))).as("ch"))
    ch.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_chars"),
           count(lit(1)).as("n_distinct"),
           sum(col("c") * lnTerm6(col("c"))).as("s"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        (lnTerm6(col("n_chars")).cast(DoubleType)
          - col("s").cast(DoubleType) / col("n_chars")).as("entropy"))
  }

  /** Temperature-scaled language sampling weights (the multilingual
    * mixture rule of XLM-R / mT5): p_l ∝ (n_l)^α with α ∈ (0, 1]
    * flattening the head so low-resource languages are up-sampled.
    * Emitted in LOG space — log_weight = α·ln(n_tokens) — because the
    * normalizer Σ_l n_l^α needs exp, which is libm-divergent; the
    * unnormalized log-weight ranks identically and a consumer
    * softmaxes engine-side. Float parity: ln of an exact integer via
    * [[lnTerm6]], cast once to double, one IEEE multiply by the α
    * literal — bit-identical cross-engine (the q_pmi contract).
    *
    * Scale shape: one partial-aggregable groupBy(lang) — token counts
    * combine map-side, |langs| rows ever cross the wire. Returns
    * (lang, n_docs, n_tokens, log_weight), token-bearing langs only.
    * Feeds [[mixtureByTokenBudget]]: exp(log_weight) ratios set the
    * per-language budgets. */
  def mixtureTemperature(documents: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"need alpha in (0, 1], got $alpha")
    documents
      .select(col("lang"), size(tokens(col("text"))).cast(LongType).as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .filter(col("n_tokens") > 0L)
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        (lnTerm6(col("n_tokens")).cast(DoubleType) * lit(alpha)).as("log_weight"))
  }

  /** Data-mixture sampling by TOKEN budget: keep documents of each
    * language, in deterministic scramble order, until that language's
    * token budget is spent — the mixture-weights step of training-data
    * assembly ("200 M tokens of en, 50 M of de, …"), which row-count
    * sampling (`sampleStratified`) cannot express because documents
    * have wildly different lengths.
    *
    * A document is kept iff the tokens accumulated BEFORE it are
    * under budget, so each budget is exceeded by at most one document
    * (the standard fill rule — budgets are targets, not caps).
    * Languages absent from `budgets` are dropped. Order is the shared
    * scramble key (`Ops.scrambleKey`, oracle-reproducible), never an
    * RNG.
    *
    * Scale shape: one shuffle on the language key, one ordered pass
    * (running sum) per language partition — the same accepted-skew
    * contract as [[qualityNtile]]: a colossal language is one sort
    * partition; pre-shard it if that bites. */
  def mixtureByTokenBudget(documents: DataFrame,
                           budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "need at least one language budget")
    require(budgets.values.forall(_ > 0), s"budgets must be positive: $budgets")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(graft.core.Ops.scrambleKey(col("doc_id")), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") <
        element_at(typedLit(budgets), col("lang")))
  }

  /** Sequence packing into token shards: assign documents, in
    * deterministic order within each language, to consecutive shards
    * of ~`budgetTokens` — the batch-assembly step before example
    * packing (a shard is what one trainer worker streams). Shard
    * boundaries use the exclusive prefix sum, so a document straddles
    * its shard's end rather than opening a gap (contiguous fill — the
    * scalable, order-preserving discipline; true first-fit bin
    * packing is inherently sequential and buys ≤ one doc per shard).
    *
    * Output: (doc_id, lang, n_tokens, shard) with shard numbering
    * per-language from 0. Same per-language ordered-pass scale
    * contract as [[mixtureByTokenBudget]].
    *
    * Token-less documents (empty or null text) ARE assigned a shard
    * (n_tokens = 0 — null text normalizes to 0, never a NULL that
    * diverges from the empty case): shard assignment is whole-doc
    * bookkeeping and an empty doc still belongs somewhere. Contrast
    * [[packSequences]], which MUST drop them — a zero-width span has
    * no seq_first..seq_last. */
  def packShards(documents: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 1, s"need budgetTokens >= 1, got $budgetTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), col("lang"),
        coalesce(size(tokens(col("text"))), lit(0)).cast(LongType).as("n_tokens"))
      .withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer `div`, not `/`: same 2^52 contract as packSequences
      .withColumn("shard", expr(s"cum div $budgetTokens"))
      .drop("cum")
  }

  /** Fixed-length training-sequence packing — the step AFTER
    * [[packShards]] in a pretraining pipeline: lay each language's
    * documents end-to-end in doc_id order and cut the concatenated
    * token stream into `seqLen`-token sequences. Unlike shard
    * assignment (whole docs), sequences SPLIT documents: a doc whose
    * span crosses a boundary occupies seq_first..seq_last, which is
    * exactly what a loader needs to build attention-mask / position
    * bookkeeping. Returns per non-empty doc:
    * (doc_id, lang, n_tokens, tok_start, seq_first, seq_last), all
    * integer-exact (oracle-able with no float contract at all).
    *
    * Scale shape: identical to [[packShards]] — one shuffle per
    * language partition for the exclusive prefix sum; the divisions
    * are per-row projections. The same colossal-language caveat
    * applies (a single lang is one window partition; at 100 TB you'd
    * sub-bucket by shard first and offset per bucket). */
  def packSequences(documents: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"need seqLen >= 1, got $seqLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // SQL `div` is true integer division — Spark's `/` on longs is
      // DOUBLE division, which drifts from DuckDB's `//` past 2^52
      .withColumn("seq_first", expr(s"tok_start div $seqLen"))
      .withColumn("seq_last", expr(s"(tok_start + n_tokens - 1) div $seqLen"))
  }

  /** Intra-document line dedup — the CCNet-style "drop repeated
    * lines within a page" pass (nav bars, cookie banners, and footers
    * repeat INSIDE a page long before they repeat across pages): keep
    * the FIRST occurrence of each line, preserve order, report what
    * was cut. Complements [[dupSpans]]/[[spanClusters]] (cross-doc
    * spans) at the line granularity where web boilerplate actually
    * repeats.
    *
    * Shuffle-free typed-map pass: split on newline, keep each line's
    * first occurrence via a per-row seen-set (linear in a DOCUMENT's
    * line count), rejoin — never touches other rows.
    * Returns (doc_id, n_lines, n_kept, clean). */
  def dedupLines(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    // typed map, not expression columns: lines is referenced by all
    // four outputs, and as a derived expression each reference would
    // re-split the document per row (the [[tokenized]] pitfall); the
    // per-row set also makes first-occurrence linear instead of the
    // array_position quadratic. Null text = empty document (one
    // empty line), the NullInputSpec contract.
    docIdText(documents)
      .map { case (id, textOrNull) =>
        val text = if (textOrNull == null) "" else textOrNull
        val lines = text.split("\n", -1)
        val seen = scala.collection.mutable.HashSet.empty[String]
        // EMPTY lines are exempt from dedup (r12 review): they are
        // paragraph separators, not boilerplate — deduping them merged
        // every paragraph after the first blank line into one block
        // (CCNet-style line dedup exempts trivial lines for exactly
        // this reason). The oracle twin carries the same exemption.
        val kept = lines.filter(l => l.isEmpty || seen.add(l))
        (id, lines.length.toLong, kept.length.toLong, kept.mkString("\n"))
      }
      .toDF("doc_id", "n_lines", "n_kept", "clean")
  }

  /** C4-style line-and-page cleaning (Raffel et al. 2020 §2.2, the
    * rules that produced the C4 corpus): keep a line only if it ends
    * in terminal punctuation (`.` `!` `?` `"`), has at least
    * `minWords` whitespace words, and does not mention "javascript"
    * (case-insensitive); keep the PAGE only if at least
    * `minKeptLines` lines survive and the page contains neither the
    * phrase "lorem ipsum" nor a curly brace. Paper defaults are
    * minWords=3, minKeptLines=5.
    *
    * Scale shape: identical to [[dedupLines]] — a shuffle-free
    * typed-map pass, one split and one keep-predicate evaluation per
    * document; cost is linear in document length and never touches
    * other rows. Returns
    * (doc_id, n_lines, n_kept, keep_doc, clean). */
  def c4Clean(documents: DataFrame, minWords: Int = 3,
              minKeptLines: Int = 5): DataFrame = {
    require(minWords >= 1, s"need minWords >= 1, got $minWords")
    require(minKeptLines >= 0, s"need minKeptLines >= 0, got $minKeptLines")
    import documents.sparkSession.implicits._
    val terminal = Set('.', '!', '?', '"')
    // typed map (the [[dedupLines]]/[[tokenized]] rationale): one
    // split and one keep-predicate pass per row instead of one per
    // referencing output column. Case folds are ASCII
    // (Locale.ROOT = SQL lower() = the oracle's lower() on this
    // contract). Null text = empty document per NullInputSpec.
    docIdText(documents)
      .map { case (id, textOrNull) =>
        val text = if (textOrNull == null) "" else textOrNull
        // CRLF normalization: splitting on \n leaves a trailing \r
        // on every Windows-line-ending line, which would fail the
        // terminal-punctuation test and silently drop entire CRLF
        // pages — strip it before the checks and from the output
        val lines = text.split("\n", -1).map(_.stripSuffix("\r"))
        val kept = lines.filter { l =>
          l.nonEmpty && terminal.contains(l.charAt(l.length - 1)) &&
            tokensOf(l).length >= minWords &&
            !l.toLowerCase(java.util.Locale.ROOT).contains("javascript")
        }
        val keepDoc = kept.length >= minKeptLines &&
          !text.toLowerCase(java.util.Locale.ROOT).contains("lorem ipsum") &&
          !text.contains("{") && !text.contains("}")
        (id, lines.length.toLong, kept.length.toLong, keepDoc, kept.mkString("\n"))
      }
      .toDF("doc_id", "n_lines", "n_kept", "keep_doc", "clean")
  }

  /** Stopwords for the Gopher "contains at least two stopwords"
    * test (Rae et al. 2021, appendix A1.1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1):
    * word count within [minWords, maxWords], mean word length within
    * [3, 10], symbol-to-word ratio (`#` and ASCII `...`) at most
    * 1/10, at least 80% of words containing an ASCII letter, and at
    * least two distinct stopwords present. Paper bounds are 50 to
    * 100k words.
    *
    * Every ratio threshold is evaluated by INTEGER cross-
    * multiplication (e.g. `5·n_alpha >= 4·n_words`, `3·n <=
    * sum_len <= 10·n`), so the operator carries no float contract —
    * the counts and flags hash-match any engine bit-for-bit, and an
    * empty document can't hit a 0/0 (it just fails the word-count
    * rule). Shuffle-free codegen'd column pass. Returns (doc_id,
    * n_words, sum_word_len, n_alpha_words, n_symbols, n_stopwords,
    * five ok_* flags, gopher_keep). */
  def gopherRules(documents: DataFrame, minWords: Int = 50,
                  maxWords: Int = 100000): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got $minWords..$maxWords")
    // toks as a MATERIALIZED attribute ([[tokenized]]): the five
    // aggregates below reference the token list once each — as a
    // derived expression column every reference would re-run split()
    // per row (the SCALING.md optimizer pitfall tokenStats documents)
    val words = col("toks")
    val nWords = size(words).cast(LongType)
    val sumLen = aggregate(transform(words, w => length(w).cast(LongType)),
      lit(0L), (a, x) => a + x)
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast(LongType)
    // occurrence counts by delete-and-measure; '...' deletes 3 chars
    // per occurrence so the difference is an exact multiple of 3
    val nSymbols = (length(col("text")) - length(translate(col("text"), "#", ""))).cast(LongType) +
      ((length(col("text")) - length(replace(col("text"), lit("...")))) / 3).cast(LongType)
    // distinct-stopwords-present via a single bitmask fold (bit i =
    // stopword i seen) — one pass over the token list instead of one
    // array_contains scan per stopword; OR is order-independent so
    // any engine's fold order produces the same mask
    val stopBit = (w: Column) => GopherStopwords.zipWithIndex
      .map { case (s, i) => when(lower(w) === s, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    val nStop = bit_count(aggregate(words, lit(0L),
      (a, w) => a.bitwiseOR(stopBit(w)))).cast(LongType)
    tokenized(documents)
      .select(col("doc_id"), nWords.as("n_words"), sumLen.as("sum_word_len"),
        nAlpha.as("n_alpha_words"), nSymbols.as("n_symbols"), nStop.as("n_stopwords"))
      .withColumn("ok_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("sum_word_len") >= lit(3L) * col("n_words") &&
          col("sum_word_len") <= lit(10L) * col("n_words") && col("n_words") > 0)
      .withColumn("ok_symbol_ratio", lit(10L) * col("n_symbols") <= col("n_words"))
      .withColumn("ok_alpha_ratio", lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
      .withColumn("ok_stopwords", col("n_stopwords") >= 2L)
      .withColumn("gopher_keep",
        col("ok_word_count") && col("ok_mean_len") && col("ok_symbol_ratio") &&
          col("ok_alpha_ratio") && col("ok_stopwords"))
  }

  /** Control characters to delete in [[normalizeText]]: C0 controls
    * except the whitespace ones handled by [[WsRunRe]] (TAB LF CR —
    * and FF/VT, which are IN this class so the two regex engines
    * never disagree on whether `\s` covers them), plus DEL. NUL is
    * deliberately excluded: DuckDB cannot build it via `chr(0)`, so
    * keeping it out of the contract keeps the oracle expressible. */
  val CtrlRe = "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Whitespace runs to collapse in [[normalizeText]] — explicit
    * enumeration (ASCII whitespace + the Unicode space separators)
    * instead of `\s`, because Java regex and RE2 draw the `\s` class
    * differently; a spelled-out class is identical in both. Same
    * portability contract as the PII patterns. */
  val WsRunRe = "[\\t\\n\\r \\x{00A0}\\x{1680}\\x{2000}-\\x{200A}" +
    "\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]+"

  /** The cleaning column of [[normalizeText]], exposed for reuse:
    * NFC-compose (native [[graft.functions.TextNormalize]] codegen'd
    * expression), delete stray control characters, collapse every
    * whitespace run (including NBSP and the Unicode space block) to
    * one space, trim. */
  def normalizeClean(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.TextNormalize.nfc_normalize(text), CtrlRe, ""),
      WsRunRe, " "))

  /** Unicode text normalization: the ftfy/CCNet-style cleaning stage
    * a web corpus runs before ANY dedup or quality operator — NFC so
    * precomposed and decomposed spellings of the same text become the
    * same bytes, control-character deletion, and whitespace-run
    * collapse. Without it, exact dedup, shingles, and fingerprints
    * all silently treat `e`+COMBINING ACUTE and `é` as different
    * documents.
    *
    * Shuffle-free codegen'd column pass ([[piiScrub]] scale shape):
    * the NFC kernel is a native expression with an already-normalized
    * quick-check fast path, so the dominant ASCII case allocates
    * nothing. Returns (doc_id, clean). */
  def normalizeText(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), normalizeClean(col("text")).as("clean"))

  /** Markup pattern for [[stripMarkup]] — same portability contract
    * as the PII patterns: no backreferences or lookaround, identical
    * semantics in Java regex and RE2. */
  val TagRe = "<[^>]+>"

  /** Boilerplate/markup stripping: remove tags, collapse the
    * whitespace runs the removal leaves behind, and report what was
    * cut — the HTML-cleaning step between web extraction and text
    * curation. Shuffle-free regexp sweep over partitions (the
    * [[piiScrub]] scale shape); returns
    * (doc_id, n_tags, clean_len, clean_text). */
  def stripMarkup(documents: DataFrame): DataFrame = {
    val stripped = regexp_replace(col("text"), TagRe, " ")
    // spelled-out ASCII whitespace class, not `\s` (the WsRunRe
    // portability rule): Java's \s includes VT (\x0B), RE2's does
    // not, and stripMarkup runs on RAW text — before normalizeText's
    // CtrlRe could delete a VT — so a bare \s+ would collapse it in
    // Spark but not in the DuckDB twin
    val clean = trim(regexp_replace(stripped, "[\\t\\n\\x0B\\f\\r ]+", " "))
    documents.select(
      col("doc_id"),
      regexp_count(col("text"), lit(TagRe)).cast(LongType).as("n_tags"),
      length(clean).cast(LongType).as("clean_len"),
      clean.as("clean_text"))
  }

  /** Email / IPv4 patterns for [[piiScrub]]. Deliberately simple and
    * expressible identically in Java regex and RE2 (no backreferences,
    * no lookaround) so any engine scrubs byte-identically. */
  val EmailRe = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+"
  val Ipv4Re = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** PII detection + redaction: count and mask email addresses and
    * IPv4 literals in a text column — the scrub pass every
    * web-scraped training corpus runs before release.
    *
    * Shuffle-free codegen'd column expressions (`regexp_extract_all`
    * / `regexp_replace`), embarrassingly parallel over partitions.
    * Emails are masked before IPs, and `n_ips` is counted on the
    * email-masked text, so the counts describe exactly the
    * redactions performed (a digit-dotted mail domain is one email,
    * zero IPs — in both the text and the counts). Returns the input
    * plus `n_emails`, `n_ips`, `clean_text`. */
  def piiScrub(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast(LongType))
      .withColumn("n_ips",
        size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).cast(LongType))
      .withColumn("clean_text", regexp_replace(afterEmail, Ipv4Re, "<IP>"))
  }

  /** Cross-document duplicated-span detection: exact substring dedup
    * at token-window granularity (the practical approximation of
    * suffix-array substring dedup — Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"). Each document is
    * cut into contiguous `width`-token windows ([[chunk]] with zero
    * overlap); a window whose text occurs anywhere else in the corpus
    * (any doc, any position, including twice in the same doc) is a
    * duplicated span. Returns per-document span counts and the
    * duplicated fraction — the filter column for span-level cleaning.
    *
    * Scale shape: the narrow (doc_id, span-hash) frame is computed
    * once (scoped cache — two consumers with no shared exchange),
    * span counts are ONE partial-aggregated shuffle on the hash, and
    * the count join back is a streamed shuffled-hash join (a
    * colossal duplicated span is a hot key — same rationale as the
    * LSH expansion joins; a window over the hash would buffer that
    * whole group in one task). */
  def dupSpans(documents: DataFrame, width: Int = 16): DataFrame = ScopedCache.scope {
    require(width >= 1, s"need width >= 1, got $width")
    val spans = ScopedCache.register(
      chunk(documents, width, 0)
        .select(col("doc_id"), md5(col("chunk_text")).as("h")))
    val counts = spans.groupBy("h").agg(count(lit(1)).as("cnt"))
    spans.join(counts.hint("shuffle_hash"), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
           sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        col("n_dup_spans").cast(DoubleType) / col("n_spans").cast(DoubleType))
  }

  /** Cross-document shared spans: every word `k`-gram occurring in at
    * least `minDocs` DISTINCT documents, with how many and the
    * smallest carrier id — the "this exact phrase is boilerplate"
    * signal (license headers, navigation chrome, templated
    * disclaimers) that exact-substring train-data dedup removes and
    * that per-document near-dup scoring cannot see (a 40-token
    * header inside otherwise-distinct pages leaves Jaccard near 0).
    *
    * Scale shape: one narrow explode of per-doc DISTINCT spans, one
    * partial-aggregated shuffle on the span, LINEAR output — never
    * doc×doc pairs. The hot-boilerplate case (one span in 100k docs)
    * is exactly why: emitting carrier PAIRS would be C(100k,2); the
    * cluster row (span, n_docs, first_doc) is one row, and a caller
    * who wants the carriers joins this small result back by span
    * (broadcast). At 100 TB, group on `xxhash64(span)` instead of
    * the text and keep `min(span)` as the exemplar — same plan, 8-
    * byte keys; the declared query groups on the text so the result
    * is directly DuckDB-checkable. */
  def spanClusters(documents: DataFrame, k: Int = 5, minDocs: Int = 2): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    import documents.sparkSession.implicits._
    docIdText(documents)
      .flatMap { case (id, text) =>
        shinglesOf(tokensOf(text), k).distinct.map(s => (id, s))
      }
      .toDF("doc_id", "span")
      .groupBy(col("span"))
      // spans are distinct per doc, so count(*) IS the distinct-doc
      // count — no count_distinct state
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Boilerplate REMOVAL — the rewrite side of [[spanClusters]]:
    * every token covered by any ≥`minDocs`-carrier `k`-gram is
    * dropped and the document reassembled (the exact-substring
    * train-data dedup transform: shared license headers / nav chrome
    * vanish, the distinct body stays). Overlapping matches union
    * their cover — removal is position-wise, not per-match.
    *
    * Scale shape, fully distributed: the narrow (doc, start, gram)
    * explode BROADCAST-joins the small cluster set (boilerplate is
    * by construction far smaller than the corpus; hint shuffle_hash
    * upstream if a pathological set outgrows broadcast), covered
    * starts partial-aggregate per doc, and ONE doc-keyed shuffle
    * joins them back for the narrow rebuild — the corpus text moves
    * through exactly one exchange, no driver collection. */
  def stripBoilerplate(documents: DataFrame, k: Int = 5, minDocs: Int = 3): DataFrame = {
    import documents.sparkSession.implicits._
    // Two gram passes ON PURPOSE (r15, measured): a shared scope-
    // cached positional gram stream (with a first-occurrence flag
    // feeding the cluster count) A/B'd a wash-to-slower at sf0.1 —
    // persisting the ~5×-corpus-bytes (doc, start, gram) stream costs
    // more than re-running the tokenize+shingle flatMap — and at
    // 100 TB a 5×-corpus persist is strictly worse than a second
    // streaming pass. The duplicate pass stays.
    val spans = spanClusters(documents, k, minDocs).select(col("span"))
    // grams built by the SAME shinglesOf as spanClusters — the
    // gram==span equi-join below depends on one shared definition
    val starts = docIdText(documents)
      .flatMap { case (id, text) =>
        shinglesOf(tokensOf(text), k).iterator.zipWithIndex
          .map { case (g, i) => (id, i, g) }
      }
      .toDF("doc_id", "start", "gram")
    val covered = starts.join(broadcast(spans), col("gram") === col("span"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("start")).as("starts"))
    documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull) // silent-drop convention (docIdText)
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .as[(Long, String, Seq[Int])]
      .map { case (id, text, st) =>
        val toks = tokensOf(text)
        val cov = new Array[Boolean](toks.length)
        st.foreach(s => (s until math.min(s + k, toks.length)).foreach(cov(_) = true))
        val kept = toks.iterator.zipWithIndex.collect { case (t, i) if !cov(i) => t }
        (id, toks.length.toLong, cov.count(identity).toLong, kept.mkString(" "))
      }
      .toDF("doc_id", "n_tokens", "n_removed", "clean_text")
  }

  /** Repetition score: fraction of duplicated word n-grams per
    * document (1 − distinct/total) — the standard repetitious-text
    * filter of dataset-curation pipelines. Shuffle-free column
    * arithmetic over the once-materialized token array; docs with no
    * n-gram (fewer than n tokens) are dropped, where the ratio is
    * undefined. */
  def repetitionScore(documents: DataFrame, n: Int = 2): DataFrame = {
    // fail fast like every sibling n-gram operator: n <= 0 would
    // silently degrade to unigram ratios via shingles' n <= 1 rule
    require(n >= 1, s"need n >= 1, got $n")
    val sh = shingles(col("toks"), n)
    tokenized(documents)
      .select(col("doc_id"),
        size(sh).cast(LongType).as("n_grams"),
        size(array_distinct(sh)).cast(LongType).as("n_distinct"))
      .filter(col("n_grams") > 0)
      .withColumn("dup_ratio",
        lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** Fixed-size token-window chunking with overlap — the
    * context-window prep step of a training/RAG pipeline (split each
    * document into `size`-token chunks starting every `size − overlap`
    * tokens; the last chunk may be short; empty docs yield none).
    *
    * Pure per-row fan-out (typed flatMap: tokenization and slicing in
    * one pass, no projection-collapse re-tokenization) — zero
    * shuffle, linear in corpus size. */
  def chunk(documents: DataFrame, size: Int = 32, overlap: Int = 8): DataFrame = {
    require(size > overlap && overlap >= 0, s"need size > overlap >= 0, got ($size, $overlap)")
    val step = size - overlap
    import documents.sparkSession.implicits._
    docIdText(documents)
      .flatMap { case (id, text) =>
        val toks = tokensOf(text)
        (0 until toks.length by step).iterator
          // a start whose remaining tail fits inside the previous
          // chunk's overlap would emit a strict subset of that chunk
          // — pure duplicate text in the output corpus; skip it
          .filter(s => s == 0 || s + overlap < toks.length)
          .map { s =>
            val c = toks.slice(s, math.min(s + size, toks.length))
            (id, (s / step).toLong, c.length.toLong, c.mkString(" "))
          }
      }
      .toDF("doc_id", "chunk_idx", "n_tok", "chunk_text")
  }

  /** Rolling polynomial fingerprint over the token stream (mod a
    * 31-bit prime) — an order-sensitive document signature, the
    * columnar form of a rolling-hash shingle fingerprint.
    */
  def fingerprint(documents: DataFrame): DataFrame = {
    val P = 1000000007L
    val codes = transform(tokens(col("text")), t => tokenCode(t) % P)
    documents.select(
      col("doc_id"),
      aggregate(codes, lit(0L), (acc, x) => (acc * 31L + x) % P).as("fp"))
  }

  /** Deterministic train/val/test split assignment: bucket =
    * scramble(doc_id) mod 100, first `trainPct` buckets → train, next
    * `valPct` → val, rest → test. The split is a pure function of the
    * id — any engine, any rerun, any shard order reproduces it, and a
    * document can never migrate between splits when the corpus grows
    * (the property a random() split lacks, and the reason eval
    * contamination audits insist on hash splits).
    *
    * Scale shape: narrow per-row map, zero shuffle — at 100 TB the
    * split column costs one integer multiply per row. */
  def splitAssign(documents: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct >= 1 && valPct >= 0 && trainPct + valPct <= 100,
      s"need 1 <= trainPct, 0 <= valPct, trainPct+valPct <= 100; got $trainPct/$valPct")
    // pmod, not %: Spark's % keeps the dividend's sign, so a negative
    // doc_id would yield a negative bucket that `< trainPct` silently
    // files under train, breaking the declared proportions
    val bucket = pmod(graft.core.Ops.scrambleKey(col("doc_id")), lit(100))
    documents
      // null doc_id rows drop (the family convention) — a null key
      // has a null bucket, falls through BOTH when() branches, and
      // every such row silently landed in split='test': keyless rows
      // must not leak into eval data (r13 review)
      .filter(col("doc_id").isNotNull)
      .select(
      col("doc_id"),
      bucket.cast(LongType).as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Per-source document cap: keep at most `maxPerSource` documents
    * per source, preferring the longest (n_chars desc, id tie-break) —
    * the domain-cap step web-scale curation applies so no single host
    * dominates the mixture. Integer-only priority: no float ordering
    * contract needed.
    *
    * Scale shape: one shuffle on source; `row_number <= k` plans as
    * WindowGroupLimit, so each partition keeps a k-row heap per
    * source and a colossal domain costs O(k) memory, not O(|domain|)
    * (the [[graft.core.Ops.sampleStratified]] shape with a quality
    * priority instead of a scramble). Source-key skew is the
    * documented residual: one mega-domain lands on one task, heap
    * bound or not — pre-salt with a second-level cap if a domain
    * exceeds a task's row-scan budget. */
  def sourceCap(documents: DataFrame, maxPerSource: Int): DataFrame = {
    require(maxPerSource >= 1, s"need maxPerSource >= 1, got $maxPerSource")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
    documents.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= maxPerSource)
  }

  /** Inverted index build: token → (document frequency, head of the
    * posting list). The IR primitive behind BM25/TF-IDF serving and
    * the exact-match side of retrieval-augmented dedup.
    *
    * Scale shape: ONE corpus scan, ONE token shuffle. (token,
    * doc_id) pairs are distinct-per-doc at explode time; df and the
    * head cap are BOTH window functions over the same token
    * partitioning (the unordered full-frame count and the ordered
    * row_number share one sort — a separate groupBy-count branch
    * was measured to re-scan and re-shuffle the corpus: exchange
    * reuse does not bridge a partial-agg branch and a window
    * branch). The posting list is capped at `headLen` doc_ids per
    * token BEFORE collect_list ever runs, so a stopword token holds
    * ≤ headLen rows in memory, never its full (possibly billion-row)
    * posting; the final per-token aggregate groups on the SAME key
    * the window partitioned on, so no further exchange. A production
    * index stores the full posting as sorted blocks; the head + df
    * here are the block-0 + skip-metadata shape of that layout.
    */
  def invertedIndex(documents: DataFrame, minDf: Long = 10L,
                    headLen: Int = 50): DataFrame = {
    require(minDf >= 1 && headLen >= 1,
      s"need minDf >= 1 and headLen >= 1, got ($minDf, $headLen)")
    import org.apache.spark.sql.expressions.Window
    val byToken = Window.partitionBy("token")
    documents
      // null doc_id rows drop (the family convention) — unfiltered
      // they inflate df AND, sorted FIRST by the ASC row_number,
      // consume headLen slots that collect_list then silently
      // discards: phantom df with an empty postings_head (r13 review)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .withColumn("df", count(lit(1)).over(byToken))
      .withColumn("rn", row_number().over(byToken.orderBy("doc_id")))
      .filter(col("df") >= minDf && col("rn") <= headLen)
      .groupBy("token", "df")
      .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
        _.cast(StringType)), ",").as("postings_head"))
      .select(col("token"), col("df"), col("postings_head"))
  }

  /** BPE merge-step statistics: the weighted count of every adjacent
    * character pair over the corpus — the quantity a byte-pair-
    * encoding tokenizer trainer maximizes at each merge. The trick
    * that makes tokenizer training feasible at corpus scale: pair
    * counts decompose over the (word, count) VOCABULARY table, so the
    * corpus is read once to build word counts (map-side combine
    * absorbs the Zipf head) and the quadratic-ish pair expansion runs
    * over distinct words only — vocab-sized, orders of magnitude
    * smaller than the corpus. Output (a, b, cnt) is integer-exact;
    * `minCount` keeps row selection integer-determined.
    *
    * One merge step is the declared, oracle-able unit; iterating
    * merges re-runs this over a re-segmented vocab (driver loop,
    * vocab-sized per round — never another corpus pass). */
  def bpePairStats(documents: DataFrame, minCount: Long = 2L): DataFrame = {
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    val words = documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c_w"))
    words
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("c_w"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("word").substr(col("i"), lit(1)).as("a"),
              col("word").substr(col("i") + 1, lit(1)).as("b"),
              col("c_w"))
      .groupBy("a", "b").agg(sum(col("c_w")).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** A word as codepoint symbols — the BPE base segmentation. By
    * CODEPOINT, not UTF-16 code unit (`w.map(_.toString)` would split
    * an emoji into two lone surrogates — invalid strings that corrupt
    * through UTF8String — and disagree with [[bpePairStats]], whose
    * substr/length arithmetic is codepoint-based on both engines). */
  def bpeBaseSymbols(w: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toIndexedSeq
  }

  /** One left-to-right BPE merge pass: every non-overlapping adjacent
    * (a, b) becomes the symbol a+b, scanning left to right — so
    * ["a","a","a"] under (a,a) yields ["aa","a"], the standard BPE
    * rule. Shared by training (re-segmenting the vocab each round)
    * and encoding (applying learned merges to new text). */
  def bpeMergeOnce(syms: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Segment one token under an ordered merge list — the encode path
    * of a trained BPE model (merges apply in learned priority order,
    * the reference BPE encoder semantics). */
  def bpeSegmentOf(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(bpeBaseSymbols(word)) {
      case (syms, (a, b)) => bpeMergeOnce(syms, a, b)
    }

  /** Rank-map greedy BPE segmentation — the PRODUCTION encoder for
    * large merge lists: repeatedly find the adjacent symbol pair
    * with the LOWEST rank (training priority) and merge all its
    * left-to-right non-overlapping occurrences, until no adjacent
    * pair is in the model. Each round is one scan and removes at
    * least one symbol, so the cost is O(len²·lookup) per word —
    * independent of merge-list size, vs the fold's O(|merges|·len):
    * at the 10⁴–10⁵ rules of a real tokenizer the fold pays tens of
    * thousands of passes per word, almost all of them no-ops.
    *
    * For a TRAINING-ORDERED merge list (every merged symbol is
    * produced before any later merge consumes it — what [[bpeTrain]]
    * emits by construction) this equals [[bpeSegmentOf]]'s in-order
    * fold exactly, property-tested in BpeEncodeSpec: merging rank-k
    * (a, b) can only create adjacencies involving the NEW symbol ab,
    * whose pairs rank strictly later — so no earlier-rank pair ever
    * (re)appears, and lowest-rank-first replays the fold's order. */
  def bpeSegmentGreedy(word: String,
                       ranks: scala.collection.Map[(String, String), Int]): IndexedSeq[String] = {
    var syms = bpeBaseSymbols(word)
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i + 1 < syms.length) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestA = syms(i); bestB = syms(i + 1) }
        i += 1
      }
      if (bestA == null) done = true
      else {
        syms = bpeMergeOnce(syms, bestA, bestB)
        done = syms.length < 2
      }
    }
    syms
  }

  /** The rank map [[bpeSegmentGreedy]] consumes: merge pair → its
    * position in the learned priority order. */
  def bpeRanks(merges: Seq[(String, String)]): Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  /** Whether every merge's inputs are base symbols or outputs of
    * EARLIER merges — the property that makes the greedy fast path
    * exactly equal the fold. Base symbols are CODEPOINTS
    * ([[bpeBaseSymbols]]): a supplementary-plane char is a LENGTH-2
    * string, so a length==1 test would misclassify emoji-bearing
    * trained models as not training-ordered and silently fall back
    * to the O(|merges|·len) fold (dispatch pinned in BpeEncodeSpec). */
  private[text] def trainingOrderedOf(merges: Seq[(String, String)]): Boolean = {
    val produced = scala.collection.mutable.HashSet[String]()
    def isBase(s: String): Boolean =
      s.nonEmpty && s.codePointCount(0, s.length) == 1
    merges.forall { case (a, b) =>
      val ok = (isBase(a) || produced(a)) && (isBase(b) || produced(b))
      produced += (a + b)
      ok
    }
  }

  /** ENCODE path of a trained BPE model over the corpus: apply the
    * ordered merge list to every token of every document and report
    * per-doc token accounting — (doc_id, n_words, n_subwords). This
    * is the number a data pipeline actually budgets on (mixture
    * caps, sequence packing, cost estimates count TOKENIZER tokens,
    * not whitespace words); n_subwords / n_words is the tokenizer's
    * fertility on that document.
    *
    * Merge-list semantics are [[bpeSegmentOf]]'s: merges fold in
    * learned priority order, each pass left-to-right non-overlapping
    * — for a consistent (training-ordered) merge list this equals
    * the classical lowest-rank-first greedy encoder, because a merge
    * whose inputs are produced by a later merge cannot be learned.
    *
    * Scale shape: NO shuffle — the merge list broadcasts and every
    * partition segments its own rows (embarrassingly parallel, the
    * one-pass map a 100-TB tokenization job wants). A per-partition
    * memo caches segment LENGTH per distinct word, so the Zipf head
    * ("the", "of", …) is segmented once per partition instead of
    * once per occurrence — the vocabulary-decomposition trick of
    * [[bpePairStats]] without its corpus-wide explode+join; the memo
    * is size-capped so an adversarial all-unique corpus degrades to
    * flat per-word cost, never to memory pressure. Above
    * `greedyFrom` rules the per-word fold switches to
    * [[bpeSegmentGreedy]]'s rank-map scan (cost ∝ word length, not
    * merge count — measured ~2 orders of magnitude at 10⁴ rules);
    * identical output for the training-ordered lists real models
    * are (property-tested), and at the declared-model sizes the
    * fold stays the simpler reference. */
  def bpeEncode(documents: DataFrame, merges: Seq[(String, String)],
                memoCap: Int = 1 << 20, greedyFrom: Int = 64): DataFrame = {
    require(memoCap >= 0, s"need memoCap >= 0, got $memoCap")
    require(greedyFrom >= 1, s"need greedyFrom >= 1, got $greedyFrom")
    // the greedy fast path equals the declared fold semantics ONLY
    // for training-ordered lists (each merge's inputs are base
    // symbols or outputs of EARLIER merges) — true of every list a
    // real BPE trainer emits, but a hand-assembled or two-models-
    // concatenated list can violate it, and the r12 review noted the
    // old size-only dispatch would then silently change results past
    // `greedyFrom` rules. Verify the property once on the driver
    // (O(|merges|), tiny) and keep the exact fold when it fails.
    val trainingOrdered = trainingOrderedOf(merges)
    val spark = documents.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toIndexedSeq)
    documents
      .select(col("doc_id").cast(LongType), col("text").cast(StringType))
      .filter(col("doc_id").isNotNull) // silent-drop convention (docIdText)
      .as[(Long, String)]
      .mapPartitions { rows =>
        val ms = bc.value
        val useGreedy = trainingOrdered && ms.length >= greedyFrom
        val ranks: Map[(String, String), Int] =
          if (useGreedy) bpeRanks(ms) else null
        val memo = new java.util.HashMap[String, Integer]()
        def nSyms(w: String): Int = {
          val hit = memo.get(w)
          if (hit != null) hit.intValue()
          else {
            val n = if (useGreedy) bpeSegmentGreedy(w, ranks).length
                    else bpeSegmentOf(w, ms).length
            if (memo.size < memoCap) memo.put(w, Integer.valueOf(n))
            n
          }
        }
        rows.map { case (id, text) =>
          val ws = tokensOf(text)
          var sub = 0L
          val it = ws.iterator
          while (it.hasNext) sub += nSyms(it.next())
          (id, ws.length.toLong, sub)
        }
      }
      .toDF("doc_id", "n_words", "n_subwords")
  }

  /** Apply a set of pairwise SYMBOL-DISJOINT merge pairs in one
    * left-to-right scan. Disjointness (no symbol appears in two
    * pairs) makes the merges non-interacting: at any position at most
    * one pair can match, no merge can create or destroy another
    * pair's occurrences, so one scan equals folding [[bpeMergeOnce]]
    * over the pairs in ANY order (property-tested). This is what
    * makes batched training sound — and why the batch selector below
    * refuses overlapping pairs. */
  def bpeMergeBatch(syms: IndexedSeq[String],
                    pairs: Seq[(String, String)]): IndexedSeq[String] = {
    if (pairs.isEmpty) return syms
    val symbols = pairs.flatMap { case (a, b) => if (a == b) Seq(a) else Seq(a, b) }
    require(symbols.distinct.length == symbols.length,
      s"bpeMergeBatch needs pairwise symbol-disjoint pairs, got $pairs")
    // member-disjointness alone is NOT enough (r13 review): a pair
    // whose merged PRODUCT equals another pair's member chains under
    // a sequential fold ((a,b) then (ab,c) turns [a,b,c] into [abc])
    // but not under the one scan — exactly the order-dependence the
    // guard exists to exclude. Product-product collisions are fine:
    // two pairs minting the same string cannot feed each other.
    val products = pairs.map { case (a, b) => a + b }
    val chained = products.intersect(symbols)
    require(chained.isEmpty,
      s"bpeMergeBatch: merged symbol(s) ${chained.mkString(", ")} are themselves " +
        s"members of other pairs in the batch — such merges interact and cannot " +
        s"batch; got $pairs")
    val right = pairs.toMap // disjointness ⇒ each left symbol maps to one right
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && right.get(syms(i)).contains(syms(i + 1))) {
        out += (syms(i) + syms(i + 1)); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Batched BPE training: like [[bpeTrain]] but each counting round
    * commits up to `batchK` merges — the top pairs in (count desc,
    * pair) order, taken as the maximal GREEDY PREFIX that stays
    * pairwise symbol-disjoint (selection stops at the first candidate
    * sharing a symbol with one already taken, because such a pair's
    * count — and therefore its rank — would change under the earlier
    * merge). Disjoint merges cannot interact, so the batch applies in
    * one vocab map and each member's recorded count is exactly what
    * sequential training would have seen when reaching it. Returns
    * (merges in priority order, counting rounds executed).
    *
    * `batchK = 1` is bit-identical to [[bpeTrain]]. For larger k the
    * ONE divergence from sequential greedy is emergent pairs: a pair
    * involving a symbol minted earlier in the same batch only enters
    * the candidate list next round, so it can be committed up to one
    * round later than pure greedy would — the standard trade every
    * batched tokenizer trainer makes, bought at ~k× fewer counting
    * rounds (each round is a full vocab-sized aggregate + one driver
    * round-trip, THE scale cost at corpus size: real tokenizer
    * training wants thousands of merges, and round count — not row
    * count — is what batching divides). */
  def bpeTrainBatched(documents: DataFrame, nMerges: Int, minPairCount: Long = 2L,
                      batchK: Int = 16): (Seq[(String, String, Long)], Int) = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    require(minPairCount >= 1, s"need minPairCount >= 1, got $minPairCount")
    require(batchK >= 1, s"need batchK >= 1, got $batchK")
    import documents.sparkSession.implicits._
    var (vocab, vocabRdd) = materializeVocab(documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c_w"))
      .as[(String, Long)]
      .map { case (w, c) => (bpeBaseSymbols(w), c) })
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var rounds = 0
    try {
      var exhausted = false
      while (!exhausted && merges.length < nMerges) {
        val want = math.min(batchK, nMerges - merges.length)
        // want+1 candidates suffice: selection stops at the first
        // conflict, so nothing past it can be used this round
        val cands = vocab
          .flatMap { case (syms, c) =>
            if (syms.length < 2) Iterator.empty
            else syms.iterator.zip(syms.iterator.drop(1)).map { case (a, b) => (a, b, c) }
          }
          .toDF("a", "b", "c")
          .groupBy("a", "b").agg(sum(col("c")).as("cnt"))
          .filter(col("cnt") >= minPairCount)
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(want + 1)
          .collect()
        rounds += 1
        if (cands.isEmpty) exhausted = true
        else {
          val batch = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
          // `used` holds members AND minted products: a candidate
          // touching an earlier selection's product (or minting one
          // of its members) interacts with it — its count would
          // change under the earlier merge, the same rationale as
          // the member-overlap stop (and the bpeMergeBatch guard
          // rejects exactly these batches)
          val used = scala.collection.mutable.Set[String]()
          var stop = false
          var idx = 0
          while (!stop && batch.length < want && idx < cands.length) {
            val r = cands(idx)
            val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
            val prod = a + b
            if (used.contains(a) || used.contains(b) || used.contains(prod)) stop = true
            else { batch += ((a, b, r.getAs[Long]("cnt"))); used += a; used += b; used += prod }
            idx += 1
          }
          merges ++= batch
          val pairs = batch.map { case (a, b, _) => (a, b) }.toSeq
          val (next, nextRdd) =
            materializeVocab(vocab.map { case (syms, c) => (bpeMergeBatch(syms, pairs), c) })
          vocabRdd.unpersist(blocking = false)
          vocab = next
          vocabRdd = nextRdd
        }
      }
    } finally vocabRdd.unpersist(blocking = false)
    (merges.toSeq, rounds)
  }

  /** Materialize one training round's vocabulary and RESET its
    * logical lineage (RDD round-trip through `localCheckpoint`).
    * `persist` alone caches the ROWS but leaves round N's PLAN
    * chained through N typed maps, and Catalyst re-analyzes that
    * growing plan every round — the same superlinear pathology
    * [[graft.core.Graph]] documents for its label loop, observed
    * here as a multi-minute driver stall by round ~30 (a real
    * tokenizer trains thousands). The count() is the forcing
    * action; the returned RDD handle lets the caller free the
    * superseded round's blocks. */
  private def materializeVocab(ds: org.apache.spark.sql.Dataset[(IndexedSeq[String], Long)])
      : (org.apache.spark.sql.Dataset[(IndexedSeq[String], Long)],
         org.apache.spark.rdd.RDD[(IndexedSeq[String], Long)]) = {
    val spark = ds.sparkSession
    import spark.implicits._
    val rdd = ds.rdd.localCheckpoint()
    // release on a FAILED forcing count: partitions materialized
    // before the failure are already cached, and the handle would be
    // lost to the throw — the caller's finally only knows the
    // PREVIOUS round's RDD
    try rdd.count()
    catch { case t: Throwable => rdd.unpersist(blocking = false); throw t }
    (spark.createDataset(rdd), rdd)
  }

  /** BPE tokenizer training: learn `nMerges` merge rules, highest
    * weighted pair count first (ties break lexicographically on the
    * pair in Spark's UTF-8 binary string order — fully deterministic
    * for a fixed corpus). Returns (a, b, count) in merge order; stops
    * early when no pair reaches `minPairCount`.
    *
    * Scale shape — the corpus is read ONCE, for the word counts;
    * every training round after that runs on the (symbols, count)
    * VOCABULARY dataset: pair counts are a vocab-sized partial-
    * aggregated shuffle, the argmax ships exactly one row to the
    * driver, and the re-segmentation is a narrow vocab map. Each
    * round materializes through [[materializeVocab]] — a TRUE
    * lineage reset (RDD round-trip), not just a persist, so round
    * 1000's plan is as small as round 1's (the [[graft.core.Graph]]
    * loop discipline); the previous round's blocks release as soon
    * as the successor materializes. At 100 TB the corpus pass
    * dominates; rounds cost |vocab|, orders of magnitude smaller. */
  def bpeTrain(documents: DataFrame, nMerges: Int,
               minPairCount: Long = 2L): Seq[(String, String, Long)] =
    // batchK = 1 is bit-identical by construction (a one-pair batch
    // IS sequential greedy — property-pinned in CurationSpec), so
    // the fragile materialize/argmax/unpersist loop lives in exactly
    // one place
    bpeTrainBatched(documents, nMerges, minPairCount, batchK = 1)._1
}
