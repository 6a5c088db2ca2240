package graft

import graft.core.Ops
import graft.text.{Dedup, Similarity, TextOps}

/** Empty-input robustness: every operator family must return an empty
  * frame — not throw — on an empty source. The edge matters in
  * production exactly where it is least tested: a fresh ingest batch
  * with zero rows, a filter that matched nothing, the first run of an
  * incremental pipeline against an empty corpus.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs =
    Seq.empty[(Long, String, String, Long)].toDF("doc_id", "lang", "text", "n_chars")
  private def emptyEvents =
    Seq.empty[(Long, Long, Long, String, Double)]
      .toDF("user_id", "event_id", "ts", "event_type", "value")
  private def emptyEmb =
    Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")

  test("dedup/text operators are empty-safe") {
    graft.core.ScopedCache.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(Dedup.exactDedup(emptyDocs).count() == 0)
    assert(Dedup.minhashLshPairs(spark, emptyDocs).count() == 0)
    assert(Dedup.minhashComponents(spark, emptyDocs).count() == 0)
    assert(Dedup.simhashNearDupPairs(spark, emptyDocs).count() == 0)
    assert(Dedup.simhashComponents(spark, emptyDocs).count() == 0)
    assert(Dedup.jaccardNearDupPairs(emptyDocs, 0.8).count() == 0)
    assert(Dedup.jaccardComponents(emptyDocs, 0.8).count() == 0)
    // the non-default pair modes share the contract: Star's rep
    // aggregation over zero rows is empty, and Bounded's guard
    // predicts 0 pairs (coalesced sum) instead of NPE-ing on an
    // empty aggregate — the first run of an ingest pipeline is
    // exactly an empty corpus
    assert(Dedup.minhashLshPairs(spark, emptyDocs,
      mode = graft.text.PairMode.Star).count() == 0)
    assert(Dedup.minhashLshPairs(spark, emptyDocs,
      mode = graft.text.PairMode.Bounded(0L)).count() == 0)
    assert(Dedup.jaccardNearDupPairs(emptyDocs, 0.8,
      mode = graft.text.PairMode.Star).count() == 0)
    assert(Dedup.jaccardNearDupPairs(emptyDocs, 0.3, ngram = 2,
      mode = graft.text.PairMode.Bounded(0L)).count() == 0)
    assert(Dedup.simhashNearDupPairs(spark, emptyDocs,
      mode = graft.text.PairMode.Star).count() == 0)
    assert(Dedup.simhashNearDupPairs(spark, emptyDocs,
      mode = graft.text.PairMode.Bounded(0L)).count() == 0)
    assert(Dedup.editDistancePairs(emptyDocs, 4,
      mode = graft.text.PairMode.Star).count() == 0)
    assert(Dedup.editDistancePairs(emptyDocs, 4,
      mode = graft.text.PairMode.Bounded(0L)).count() == 0)
    assert(Dedup.jaroWinklerPairs(emptyDocs,
      mode = graft.text.PairMode.Star).count() == 0)
    assert(Dedup.jaroWinklerPairs(emptyDocs,
      mode = graft.text.PairMode.Bounded(0L)).count() == 0)
    assert(Dedup.incrementalLshPairs(spark, emptyDocs, emptyDocs).count() == 0)
    assert(Dedup.incrementalLshPairs(spark, emptyDocs, emptyDocs,
      mode = graft.text.PairMode.Star).count() == 0)
    assert(Dedup.incrementalLshPairs(spark, emptyDocs, emptyDocs,
      mode = graft.text.PairMode.Bounded(0L)).count() == 0)
    assert(TextOps.vocabOov(emptyDocs, 10).count() == 0)
    assert(TextOps.pmiCollocations(emptyDocs).count() == 0)
    assert(TextOps.spanClusters(emptyDocs).count() == 0)
    assert(TextOps.stripBoilerplate(emptyDocs).count() == 0)
    assert(TextOps.qualityScore(emptyDocs).count() == 0)
    assert(TextOps.ngramLmScore(emptyDocs).count() == 0)
    assert(TextOps.splitAssign(emptyDocs).count() == 0)
    assert(TextOps.sourceCap(emptyDocs.withColumn("source", $"lang"), 5).count() == 0)
    assert(TextOps.bpePairStats(emptyDocs, 1L).count() == 0)
    assert(TextOps.bpeTrain(emptyDocs, 3, 1L).isEmpty)
    // every operator above is consumed by its own count()
    assertNoCachesLeft("an empty-input operator left caches behind")
  }

  test("temporal/analytics operators are empty-safe") {
    assert(Ops.scd2(emptyEvents).count() == 0)
    assert(Ops.timeWeightedAvg(emptyEvents).count() == 0)
    assert(Ops.funnel(emptyEvents, "signup", "click", "purchase", 1000L).count() == 0)
    assert(Ops.madOutliers(emptyEvents).count() == 0)
    assert(Ops.cohortRetention(emptyEvents).count() == 0)
    assert(Ops.sessionize(emptyEvents.select($"user_id", $"event_id", $"ts"),
      1000000L).count() == 0)
    assert(Ops.sampleWeighted(emptyDocs, "doc_id", "n_chars", 5).count() == 0)
  }

  test("round-5 analytics/warehouse operators are empty-safe") {
    assert(Ops.resampleFfill(emptyEvents).count() == 0)
    assert(Ops.markovTransitions(emptyEvents).count() == 0)
    assert(Ops.rfmSegments(emptyEvents).count() == 0)
    assert(Ops.equiDepthHistogram(emptyEvents, "value", "event_id").count() == 0)
    assert(Ops.paretoFront(emptyEvents, "event_id", "user_id", "value").count() == 0)
    assert(Ops.hllMergeRollup(
      emptyEvents.withColumn("us", $"ts"), "event_type", "user_id", "us").count() == 0)
    assert(TextOps.invertedIndex(emptyDocs).count() == 0)
    assert(graft.core.Validate.psiDrift(
      emptyEvents.withColumn("us", $"ts"), "event_type", "value", "us").count() == 0)
    assert(graft.core.Warehouse.snapshotDiff(
      emptyEvents, emptyEvents, Seq("event_id")).count() == 0)
    assert(graft.core.Warehouse.mergeAggStates(
      Seq(graft.core.Warehouse.aggState(emptyEvents, Seq("event_type"), "value")),
      Seq("event_type")).count() == 0)
  }

  test("similarity operators are empty-safe") {
    assert(Similarity.embeddingNearDupPairs(emptyEmb, 0.5).count() == 0)
    assert(Similarity.embeddingNearDupPairs(emptyEmb, 0.5,
      mode = graft.text.PairMode.Star).count() == 0)
    assert(Similarity.embeddingNearDupPairs(emptyEmb, 0.5,
      mode = graft.text.PairMode.Bounded(0L)).count() == 0)
    assert(Similarity.embeddingComponents(emptyEmb, 0.5).count() == 0)
    assert(Similarity.minMaxScale(emptyEmb).count() == 0)
    assert(Similarity.cosineTopK(emptyEmb, 4, 5).count() == 0)
    assert(Similarity.cosineTopKBucketed(emptyEmb, 4, 5, nProbes = 2).count() == 0)
    assert(Similarity.ivfTopK(emptyEmb, 4, 5).count() == 0)
  }

  test("round-6 drift/encode operators are empty-safe") {
    import graft.core.Validate
    assert(Validate.ksDrift(
      emptyEvents.withColumn("us", $"ts"), "event_type", "value", "us").count() == 0)
    val (vmn, vmx, ref) = Validate.driftReference(emptyEvents, "event_type", "value", 8)
    assert(vmn == 0.0 && vmx == 0.0 && ref.count() == 0)
    val emptyCounts = Seq.empty[(String, String, Long, Long)]
      .toDF("bucket", "grp", "bin", "cnt")
    assert(Validate.ksAgainstReference(emptyCounts, ref, 8).count() == 0)
    assert(TextOps.bpeEncode(emptyDocs, graft.SparkEntry.bpeModel).count() == 0)
  }
}
