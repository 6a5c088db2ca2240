package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for the headline queries to a
  * markdown file — the plan-shape evidence behind SCALING.md's
  * claims (pushed filters, pruned schemas, broadcast placements,
  * whole-stage codegen spans, absence of nested-loop joins).
  *
  * Regenerate with:
  * {{{
  *   sbt "runMain graft.Plans /root/testdata/sf0.01 PLANS.md"
  * }}}
  */
object Plans {

  /** Queries whose plan shape carries a documented claim. */
  val Headline: Seq[String] = Seq(
    "q_scan_filter",      // PushedFilters + pruned ReadSchema
    "q_equi_join",        // broadcast dimension
    "q_window_agg",       // single shuffle + window
    "q_topk_per_group",   // WindowGroupLimit heap
    "q_sample_stratified",// WindowGroupLimit heap per stratum
    "q_asof_join",        // union-merge, no range join
    "q_range_join",       // grain bucketing, no nested loop
    "q_simhash",          // one-pass fold, zero shuffle
    "q_minhash_lsh_pairs",// cluster collapse + pinned hash joins
    "q_embed_neardup",    // banded LSH self-join
    "q_ivf_topk",         // map-side assignment, broadcast quantizer
    "q_ngram_topk",       // TakeOrderedAndProject
    "q_chunks",           // pure fan-out, zero shuffle
    "q_sessionize",       // one shuffle, lag + prefix-sum share a sort
    "q_tfidf",            // two partial aggs + broadcast N + heap top-k
    "q_dup_spans",        // scoped span cache + shuffled-hash count join
    "q_embed_project",    // per-row JL fold, zero shuffle
    "q_pii_scrub",        // shuffle-free regexp sweep
    "q_salted_join",      // explicit salt spread + replica explode
    "q_edit_distance",    // prefix-blocked candidate join
    "q_simhash_neardup",  // banded fingerprint collision + hash expansion
    "q_window_dedup",     // WindowGroupLimit first-per-window
    "q_running_sum",      // decimal running window sum
    "q_ngram_lm",         // bigram-key aggs + model join + decimal sum
    "q_minhash_components", // banding + agreement confirm + rep CC
    "q_image_features",   // narrow decode, zero shuffle
    "q_ann_topk",         // 2-probe bucket join
    "q_cluster_best",     // CC + partial-agg max_by winner (no window)
    "q_mixture_tokens",   // per-lang running sum + budget cut
    "q_scd2",             // one shuffle, lag + lead share a sort
    "q_vocab_oov",        // heap top-V + broadcast vocab apply
    "q_pmi",              // min-count filter before the unigram joins
    "q_embed_scale",      // per-dim partials + broadcast stats join
    "q_funnel",           // per-step partial-aggs, no stream self-join
    "q_time_weighted_avg",// lead + rollup share one sort
    "q_mad_outliers",     // broadcast stats, stream never shuffles
    "q_jaro_winkler",     // blocked join + native codegen'd expression
    "q_simhash_components", // scoped-cached fingerprints + rep CC
    "q_sample_weighted",  // TakeOrderedAndProject heaps
    "q_pack_shards",      // exclusive prefix-sum shard assignment
    "q_normalize_text",   // single codegen'd Project, zero shuffle
    "q_pq_topk",          // broadcast-only joins + WindowGroupLimit rank
    "q_ivfpq_topk",       // one corpus read: cell-assign + encode in one projection
    "q_gopher_rules",     // single codegen'd Project, zero shuffle
    "q_semantic_dedup",   // broadcast argmax assign + shuffle_hash cell join
    "q_dsir_weight",      // two feature passes + broadcast 256-row stats
    "q_bloom_contamination", // codegen'd bloom prefilter + shuffle_hash confirm
    "q_cross_dup_fraction",  // scoped gram cache + shuffle_hash df join
    "q_embed_gram",       // d²/2-key partial agg, map-side combine
    "q_zonemap_prune",    // manifest-pruned file list before the scan
    "q_snapshot_diff",    // ONE full-outer SMJ, null-safe compares, no row hash
    "q_pareto_front",     // distinct-dim frame window + broadcast frontier join
    "q_psi_drift",        // broadcast scalars + one (group, bin) partial agg
    "q_inverted_index",   // token-shuffle reuse: window cap + df agg
    "q_hll_merge",        // partial sketch aggs, union rollup never re-reads rows
    "q_incr_agg",         // algebraic partial-state merge (IVM shape)
    "q_resample_ffill",   // last-per-slot heap + grid explode + one fill window
    "q_markov_transitions", // lead window + |types|^2 partial agg
    "q_degree_hist",      // two tiny partial-agg shuffles over the pair pipeline
    "q_ks_drift",         // PSI-shared binning + window over <=nBins metadata rows
    "q_bpe_encode",       // broadcast merges, zero-shuffle memoized mapPartitions
    "q_drift_by_day",     // frozen-reference monitor: literal binning + metadata finisher
    "q_jaccard_neardup",  // t>=0.5 prefix plan: sorted-code sets + positional bound + merge kernel
    "q_shingle_jaccard",  // t<0.5 co-count plan: token-inverted-index co-occurrence counting
    "q_connected_components", // gated driver union-find: LocalRelation comp side, broadcast member join
    "q_incremental_dedup")    // fresh-probes-corpus banding; ReuseExchange'd membership (store twin below)

  /** Makes one plan's text independent of the run that printed it.
    * JVM-wide counters are renumbered by order of first appearance:
    * expression ids (`#123`, `#45L` keeps its type suffix), lambda
    * variable suffixes (`lambda x_87`) and exchange plan ids
    * (`[plan_id=68]`); any code change before a query shifts every
    * later raw number. Lambda class names with their identity hash
    * and the UUIDs in written file names differ per JVM and are
    * blanked. A regenerated section then differs only where its plan
    * differs. */
  def canonicalize(plan: String): String = {
    val blanked = plan
      .replaceAll("\\$Lambda(\\$\\d+)?/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
    Seq("(?<=#)\\d+", "(?<=lambda [A-Za-z]{1,32}_)\\d+", "(?<=\\[plan_id=)\\d+")
      .foldLeft(blanked) { (text, pattern) =>
        val ids = scala.collection.mutable.Map.empty[String, Int]
        pattern.r.replaceAllIn(text, m => ids.getOrElseUpdate(m.matched, ids.size).toString)
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    // stable path for the appendix's bucketed store tables, so the
    // dumped scan locations don't churn between regenerations
    val spark = graft.core.Sessions.local(4, Map("spark.sql.warehouse.dir" ->
      new java.io.File("target/plans-warehouse").getAbsoluteFile.toURI.toString))
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# Physical plans (generated — do not edit)\n\n")
    sb.append(s"Source: `sbt \"runMain graft.Plans $sfDir $out\"` — formatted\n")
    sb.append("explain of each headline query against the named testdata.\n")
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = canonicalize(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
      // release scoped caches between dumps: a prior query's persisted
      // frame would otherwise substitute (sameResult) into a LATER
      // query's explain, making the dumped skeleton depend on dump
      // ORDER (bit PlansDocSpec in r16 when the size-derived spread
      // made documentsSpread ≡ documents at sf0.01)
      graft.core.ScopedCache.releaseAll()
    }

    // Appendix (NOT a declared-query section — the store must be
    // WRITTEN before the probe plan exists, so it can't be a lazy
    // `queries` entry; the suffixed title keeps it out of
    // PlansDocSpec's section regex): the persisted BUCKETED band
    // store probe, i.e. the plan the 100-TB ingest pipeline actually
    // runs per batch. DedupPropertySpec asserts this shape
    // ("bucketed band store: … exchange-free"); this section makes
    // it readable. Broadcast is disabled for the dump only because
    // at this tiny SF the store side would broadcast and hide the
    // layout claim under review: `Bucketed: true` on the band-store
    // scan and NO Exchange between it and the probe join — the
    // fresh side is the only side that shuffles into it.
    {
      import org.apache.spark.sql.functions.col
      val docs = graft.core.Tables.documents(spark, sfDir)
      val fresh = docs.filter(col("doc_id") % 4 === 0)
      val corp = docs.filter(col("doc_id") % 4 =!= 0)
      graft.core.Warehouse.writeBucketed(
        graft.text.Dedup.minhashBandStore(corp), "plans_band_store",
        Seq("band", "bkey"), 8)
      graft.core.Warehouse.writeBucketed(
        graft.text.Dedup.minhashMembers(corp), "plans_member_store",
        Seq("sig_key"), 8)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val probe = graft.text.Dedup.incrementalLshPairsAgainstStore(spark,
          spark.table("plans_band_store"), spark.table("plans_member_store"), fresh)
        val plan = canonicalize(probe.queryExecution.explainString(ExplainMode.fromString("formatted")))
        sb.append("\n## q_incremental_dedup against the persisted BUCKETED band store\n\n")
        sb.append("The ingest shape (`incrementalLshPairsAgainstStore` over\n" +
          "`Warehouse.writeBucketed` stores): the corpus is never re-read or\n" +
          "re-hashed; the band-store scan below is bucket-aware (`Bucketed:\n" +
          "true`, SelectedBucketsCount) and flows into the probe join with no\n" +
          "Exchange above it. Broadcast disabled for this dump so the tiny-SF\n" +
          "store cannot dodge the question; the shape is ASSERTED (with the\n" +
          "same confs) in DedupPropertySpec's bucketed-band-store plan test.\n\n")
        sb.append(s"```\n$plan```\n")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${Headline.size} plans to $out")
    spark.stop()
  }
}
