package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.ScopedCache

/** The composed curation run — the flagship "switch your pipeline to
  * this library" query: Gopher quality gate → exact dedup → language
  * ID → per-(language, source) corpus accounting, each stage the
  * library's own operator, chained the way a production corpus build
  * chains them. One call produces the mixture table a training run
  * starts from.
  */
object Curate {

  /** Gopher-gate `documents`, collapse exact duplicates to their
    * lowest doc_id, language-ID the survivors, and account the kept
    * corpus per (predicted language, source): document count, token
    * count, character count. All-integer output — no float contract
    * needed anywhere.
    *
    * Scale shape, stage by stage: the Gopher gate and language ID
    * are shuffle-free token-fold sweeps ([[TextOps.gopherRules]] /
    * [[TextOps.langId]]); exact dedup is ONE shuffle on md5(text)
    * collapsed map-side, with the keeper join running doc_id ⋈
    * doc_id (co-partitioned with the gate join before it, so AQE
    * reuses the exchange); the final stats are a partial aggregate
    * over the handful of (lang, source) cells. Nothing in the chain
    * widens: the gate drops rows before the dedup shuffle, and the
    * dedup drops rows before language scoring — each stage shrinks
    * the data the next one pays for. */
  def curationPipeline(documents: DataFrame, minWords: Int = 50,
                       minStopwords: Int = 2): DataFrame = ScopedCache.scope {
    require(minStopwords >= 0, s"need minStopwords >= 0, got $minStopwords")
    // n_stopwords is a DISTINCT-stopword count, capped by the list
    // length (8): a floor above it can never pass and would return a
    // silently empty mixture table — the impossible threshold fails
    // loudly instead (r13 review)
    require(minStopwords <= TextOps.GopherStopwords.length,
      s"minStopwords = $minStopwords can never pass: n_stopwords counts DISTINCT " +
        s"stopwords from a ${TextOps.GopherStopwords.length}-word list")
    // the stopword floor is the one Gopher rule that is corpus-
    // language-specific (the stopword list is English function
    // words); a corpus without them — multilingual, or synthetic
    // word-salad like the testdata — tunes it down rather than
    // discarding everything. The other four rules stay as declared.
    val gate = TextOps.gopherRules(documents, minWords)
      .filter(col("ok_word_count") && col("ok_mean_len") && col("ok_symbol_ratio") &&
        col("ok_alpha_ratio") && col("n_stopwords") >= minStopwords)
      .select(col("doc_id"), col("n_words"))
    // scoped caches (r15): `kept` is read by BOTH the dedup-rep
    // subtree and the keeper join, and `uniq` by BOTH the language-ID
    // fold and the final join — without them each self-join re-planned
    // its entire upstream (the r15 before-plan scanned documents 8×,
    // re-running the Gopher token fold up to 4×). The caches hold the
    // already-gated (then already-deduped) slices — the smallest
    // frames in the chain — and release on the query's own action.
    val kept = ScopedCache.register(documents.join(gate, "doc_id"))
    // THE library's exact-dedup operator, not an inline re-spelling
    // (the docstring's "each stage the library's own operator" is a
    // real dependency: Dedup.exactDedup's canonical-survivor rule and
    // NULL-text group semantics are pinned in NullInputSpec, and an
    // inline copy would silently drift if they ever change)
    val reps = Dedup.exactDedup(kept).select(col("keep_id").as("doc_id"))
    val uniq = ScopedCache.register(kept.join(reps, "doc_id"))
    val lang = TextOps.langId(uniq).select(col("doc_id"), col("predicted"))
    uniq.join(lang, "doc_id")
      .groupBy(col("predicted").as("lang_pred"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast(LongType).as("n_tokens"),
        sum(col("n_chars")).cast(LongType).as("n_chars"))
  }
}
