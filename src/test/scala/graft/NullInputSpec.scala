package graft

import graft.text.{Dedup, TextOps}

/** Null-text robustness: a library user's documents frame has a
  * NULLABLE text column; every operator must treat a null text as an
  * empty document (the expression path's `split(null)` semantics),
  * not NPE inside a typed map. The declarative operators already
  * behaved; the typed-map paths go through `TextOps.tokensOf`, whose
  * null guard this spec pins.
  */
class NullInputSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "en", "hello world", 11L),
    (2L, "en", null: String, 0L),
    (3L, "en", "hello there", 11L))
    .toDF("doc_id", "lang", "text", "n_chars")

  test("typed-map text operators treat null text as an empty document") {
    // token-bearing outputs exclude the null doc entirely …
    assert(TextOps.tokenStats(docs).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(TextOps.vocabOov(docs, 5).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(TextOps.ngramLmScore(docs).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // quality is defined for token-less docs (the declared query
    // scores every document) — the null doc scores like an empty one
    assert(TextOps.qualityScore(docs).count() == 3)
    // … and pair generators simply see two documents — on BOTH
    // setPairs plans (0.1 → co-count, 0.8 → prefix-filter): "hello
    // world" / "hello there" share 1 of 3 distinct tokens, J = 1/3
    assert(Dedup.jaccardNearDupPairs(docs, 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 3L)))
    assert(Dedup.jaccardNearDupPairs(docs, 0.8).count() == 0)
    assert(TextOps.pmiCollocations(docs, 1L).count() == 2) // hello+world, hello+there
    // span clustering sees the null doc as span-less (k=2: "hello
    // world" / "hello there" are singleton spans -> no cluster)
    assert(TextOps.spanClusters(docs, k = 2).count() == 0)
    // line-level typed maps: the null doc is one empty line
    val lined = TextOps.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(lined(2L) == ((1L, 1L, "")))
    val c4 = TextOps.c4Clean(docs, minWords = 1, minKeptLines = 0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(c4(2L) == ((1L, 0L, true))) // empty line fails line rules; page rule vacuous at 0
    // the rewrite emits every doc; the null doc passes through empty
    val stripped = TextOps.stripBoilerplate(docs, k = 2, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[String]("clean_text"))).toMap
    assert(stripped.keySet == Set(1L, 2L, 3L))
    assert(stripped(2L) == (0L, ""))
    graft.core.ScopedCache.releaseAll()
  }

  test("typed-map signature folds drop a null doc_id, not the job") {
    // the typed encoder reads doc_id into a primitive Long — without
    // the isNotNull guard one null key would fail the whole job with
    // "Null value appeared in non-nullable field"; the contract is the
    // family's silent-drop (a null key cannot join or cluster)
    val withNullKey = Seq(
      (java.lang.Long.valueOf(1L), "hello world"),
      (null.asInstanceOf[java.lang.Long], "hello there"),
      (java.lang.Long.valueOf(3L), "hello again"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashSignatureArrays(withNullKey).collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(Dedup.simhash(spark, withNullKey).collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    // the media corpus derivation decodes the same primitive Long —
    // joined the family convention in r13 (it aborted before)
    assert(graft.media.MediaOps.mediaFromDocuments(withNullKey).collect()
      .map(_.media_id).toSet == Set(1L, 3L))
    // the jaccard family's tokenSets and the decontamination family's
    // docGrams decode the same primitive Long — same drop contract
    // (withKey frames add lang/n_chars; both null here is fine)
    val wk = withNullKey
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")).cast("long"))
    assert(Dedup.jaccardClusters(wk).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(Dedup.contamination(wk, wk).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .forall { case (a, b) => Set(1L, 3L)(a) && Set(1L, 3L)(b) })
  }

  test("null doc_id rows drop from BOTH sides of corpus-statistic ratios") {
    // the operators whose scores divide a filtered numerator by a
    // corpus total: the total must count the same rows the numerator
    // saw, or every score is silently biased (r12 review). With a
    // null-id row present, each must equal itself on the clean frame.
    val clean = docs
    val withNullId = docs.unionByName(Seq(
      (null.asInstanceOf[java.lang.Long], "en", "hello hello there there", 23L)
    ).toDF("doc_id", "lang", "text", "n_chars"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(TextOps.tfidfTopK(withNullId, 5)) == rows(TextOps.tfidfTopK(clean, 5)))
    assert(rows(TextOps.pmiCollocations(withNullId, 1L)) ==
      rows(TextOps.pmiCollocations(clean, 1L)))
    assert(rows(TextOps.ngramLmScore(withNullId)) == rows(TextOps.ngramLmScore(clean)))
    assert(rows(TextOps.dsirWeight(withNullId)) == rows(TextOps.dsirWeight(clean)))
    // charEntropy: unfiltered, groupBy fused every null-id document's
    // characters into one bogus combined row — now they drop
    assert(rows(TextOps.charEntropy(withNullId)) == rows(TextOps.charEntropy(clean)))
    // r13: invertedIndex + splitAssign join the convention —
    // unfiltered, a null id inflated df while consuming (and then
    // silently dropping) postings_head slots, and a null bucket fell
    // through both when() branches into split='test'
    assert(rows(TextOps.invertedIndex(withNullId, minDf = 1L, headLen = 5)) ==
      rows(TextOps.invertedIndex(clean, minDf = 1L, headLen = 5)))
    assert(rows(TextOps.splitAssign(withNullId)) == rows(TextOps.splitAssign(clean)))
  }

  test("invertedIndex treats null text as an empty document") {
    val got = TextOps.invertedIndex(docs, minDf = 2L, headLen = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(("hello", 2L, "1,3")))
  }

  test("expression-path operators keep their null behavior") {
    // null text is its own md5-null group — the doc is not silently dropped
    assert(Dedup.exactDedup(docs).count() == 3)
    // simhash's vote filter drops the token-less doc, same as typed maps
    assert(Dedup.simhash(spark, docs).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // split assignment is id-only — null text must not matter
    assert(TextOps.splitAssign(docs).count() == 3)
    // BPE counts see the null doc as empty; the vocab is unaffected
    assert(TextOps.bpePairStats(docs, 1L).count() > 0)
    assert(TextOps.bpeTrain(docs, 2, 1L).nonEmpty)
    // the BPE encoder reports the null doc as zero words/subwords —
    // the row survives (token accounting covers every document)
    val enc = TextOps.bpeEncode(docs, SparkEntry.bpeModel).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(enc(2L) == ((0L, 0L)) && enc.size == 3)
  }
}
