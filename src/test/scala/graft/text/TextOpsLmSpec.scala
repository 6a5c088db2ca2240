package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bigram-LM self-scoring: closed-form check on a corpus small enough
  * to compute the smoothed model by hand, plus the invariants a
  * quality filter needs (common text scores above unusual text). */
class TextOpsLmSpec extends SparkSpec {
  import spark.implicits._

  test("matches the hand-computed add-one bigram model") {
    // corpus: "a b" (twice), "a c"
    //   bigram counts: (a,b)=2, (a,c)=1 ; history c(a·)=3 ; V=3
    //   lp(a,b) = ln(3/6) ; lp(a,c) = ln(2/6)
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val got = TextOps.ngramLmScore(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got.toSeq == Seq(
      (1L, 1L, r6(math.log(3.0 / 6.0))),
      (2L, 1L, r6(math.log(3.0 / 6.0))),
      (3L, 1L, r6(math.log(2.0 / 6.0)))))
  }

  test("documents without bigrams are excluded; common text outscores unusual") {
    val docs = Seq(
      (1L, "one"),                      // single token — no bigrams
      (2L, ""),                         // empty
      (3L, "the cat sat on the mat"),
      (4L, "the cat sat on the mat"),
      (5L, "the cat sat on the mat"),
      (6L, "zephyr quixotic umbra")     // bigrams seen once each
    ).toDF("doc_id", "text")
    val rows = TextOps.ngramLmScore(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!rows.contains(1L) && !rows.contains(2L))
    assert(rows(3L) == rows(4L) && rows(4L) == rows(5L))
    assert(rows(3L) > rows(6L),
      s"repeated text must outscore hapax text: ${rows(3L)} vs ${rows(6L)}")
  }

  test("score is partitioning-invariant (decimal-summed lp)") {
    val docs = (0L until 40L).map(i =>
      (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5} w${i % 3}")).toDF("doc_id", "text")
    val one = TextOps.ngramLmScore(docs.repartition(1)).orderBy("doc_id").collect().toSeq
    val many = TextOps.ngramLmScore(docs.repartition(13)).orderBy("doc_id").collect().toSeq
    assert(one == many)
  }

  test("dsirWeight favors documents that look like the target distribution") {
    val docs = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog sat on the mat"),
      (3L, "de", "der hund sitzt auf der matte"),
      (4L, "de", "the cat sat on the mat"),   // de-labeled but en-looking
      (5L, "de", "einzelwort"),               // no bigrams: excluded
      (6L, "en", "zz1 zz2")                   // en-labeled hapax bigram
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.dsirWeight(docs, "en", 64).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(5L) && out.size == 5)
    assert(out(1L)._1 == 5L) // 5 bigrams
    // the weight is a function of TEXT, not of the doc's own label
    assert(out(1L)._2 == out(4L)._2)
    // en-shaped text outscores de-shaped text wherever it appears
    assert(out(4L)._2 > out(3L)._2,
      s"en-looking doc must outweigh de-looking doc: ${out(4L)} vs ${out(3L)}")
    // decimal-summed terms: invariant under repartitioning
    val many = TextOps.dsirWeight(
      docs.repartition(11), "en", 64).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(many == out)
  }

  test("dsirWeight plans ONE corpus feature pass (γ cache shared by stats + rollup)") {
    // r15 optimization pin: the bucket stats table derives from the
    // scope-cached per-(doc, bucket) γ rollup, so the tokenize+md5
    // flatMap appears ONLY inside the cached plan — the consumer plan
    // reads the cache twice (stats branch + final rollup) and carries
    // NO typed-map pass of its own. A regression to the two-pass
    // shape puts a SerializeFromObject back into the consumer plan.
    val docs = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "de", "der hund sitzt auf der matte")).toDF("doc_id", "lang", "text")
    val out = TextOps.dsirWeight(docs, "en", 16)
    // optimizedPlan, not executedPlan: AQE wraps the physical plan in
    // an AdaptiveSparkPlanExec whose stages only exist after execution
    val opt = out.queryExecution.optimizedPlan
    val cacheReads = opt.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cacheReads.size == 2,
      s"expected the shared γ cache read twice (stats + rollup), got ${cacheReads.size}")
    val typedMaps = opt.collect {
      case m: org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject => m
    }
    assert(typedMaps.isEmpty,
      "the corpus flatMap must live inside the cached γ plan, not re-run in the consumer")
    graft.core.ScopedCache.releaseAll()
  }

  test("invertedIndex: per-doc-distinct df, minDf filter, capped sorted postings head") {
    val docs = Seq((3L, "a b c b"), (1L, "b c"), (2L, "b"))
      .toDF("doc_id", "text")
    val got = TextOps.invertedIndex(docs, minDf = 2L, headLen = 2)
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    // 'a' (df 1) filtered; 'b' appears twice in doc 3 but counts once;
    // heads are the 2 SMALLEST doc_ids, ascending
    assert(got == Seq(("b", 3L, "1,2"), ("c", 2L, "1,3")))
    intercept[IllegalArgumentException](TextOps.invertedIndex(docs, 0L, 5))
  }
}
