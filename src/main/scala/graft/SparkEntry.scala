package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Demo, Ops, Tables}
import graft.text.{Dedup, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is a named operator from SURVEY.md §2 (or
  * the training-data extension set), run against the TPC-H-ish
  * testdata directory passed by the driver, with an equivalent
  * DuckDB oracle in `oracleSql`. Column names and types are aligned
  * between both sides (driver hash-compares after sorting columns by
  * name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Ops.equiJoinAgg(Tables.orders(spark, d), Tables.customer(spark, d), Tables.nation(spark, d))
  }

  /** Frozen BPE model for `q_bpe_encode` — the single source of
    * truth for BOTH the Spark encode and its generated DuckDB
    * oracle. Training-ordered (every merged symbol is produced
    * before it appears as a later merge's input), so the fold-in-
    * order encoder equals the classical greedy-by-rank one; the
    * list deliberately exercises chained merges (t+a, ta+b), an
    * equal-symbol pair (g+g), and multi-merge words. */
  private[graft] val bpeModel: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "l" -> "e", "r" -> "o", "ro" -> "w",
    "g" -> "g", "s" -> "c", "sc" -> "a", "h" -> "a", "ha" -> "s",
    "e" -> "r", "o" -> "r")

  /** DuckDB twin of [[graft.text.TextOps.bpeEncode]] under
    * [[bpeModel]], generated from the same Seq so the two engines
    * can never drift on the merge list. Encoding trick: a symbol
    * sequence is rendered as chr(1)-FLANKED symbols
    * (`␁s₁␁␁s₂␁…␁sₙ␁`) — a ␁ followed by a non-␁ occurs ONLY at a
    * symbol start, so the literal pattern `␁a␁␁b␁` matches exactly
    * the adjacent symbol pairs (a,b), never a symbol-internal
    * substring (the `a`-suffix/`b`-prefix traps of naive
    * space-joined replace); left-to-right non-overlapping
    * `replace()` on it IS `bpeMergeOnce`'s scan (property-tested in
    * BpeEncodeSpec), and subword count recovers as sentinel-count/2.
    */
  private def bpeEncodeOracle: String = {
    val base = """regexp_replace(word, '(.)', chr(1) || '\1' || chr(1), 'g')"""
    val enc = bpeModel.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc,\n      chr(1)||'$a'||chr(1)||chr(1)||'$b'||chr(1), chr(1)||'$a$b'||chr(1))"
    }
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS word
       |  FROM documents),
       |enc AS (SELECT doc_id,
       |    $enc AS s
       |  FROM toks),
       |per AS (SELECT doc_id, count(*)::BIGINT AS n_words,
       |        sum((length(s) - length(replace(s, chr(1), ''))) // 2)::BIGINT AS n_subwords
       |        FROM enc GROUP BY 1)
       |SELECT d.doc_id, coalesce(p.n_words, 0)::BIGINT AS n_words,
       |       coalesce(p.n_subwords, 0)::BIGINT AS n_subwords
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |WHERE d.doc_id IS NOT NULL""".stripMargin
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2b/§2a: scans, projection, filters, scalar expressions ----
    "q_scan_filter" -> ((s, d) => Ops.scanFilter(Tables.lineitem(s, d))),
    "q_project" -> ((s, d) => Ops.project(Tables.orders(s, d))),
    "q_contains_filter" -> ((s, d) => Ops.containsFilter(Tables.documents(s, d), "window")),
    "q_regex_extract" -> ((s, d) => Ops.regexExtract(Tables.events(s, d))),
    "q_json_extract" -> ((s, d) => Ops.jsonExtract(Tables.events(s, d))),
    "q_scalar_math" -> ((s, d) => Ops.scalarMath(Tables.lineitem(s, d))),
    "q_string_keys" -> ((s, d) => Ops.stringKeys(Tables.part(s, d))),
    // ---- §2c: sampling / limits / ordering ----
    "q_sample_n" -> ((s, d) => Ops.sampleN(Tables.orders(s, d), 100)),
    "q_sample_stratified" -> ((s, d) => Ops.sampleStratified(Tables.documents(s, d), "lang", "doc_id", 25)),
    "q_sample_weighted" -> ((s, d) => Ops.sampleWeighted(Tables.documents(s, d), "doc_id", "n_chars", 150)),
    // ---- §2d: joins ----
    "q_semi_join" -> ((s, d) => Ops.semiJoin(Tables.lineitem(s, d), Tables.orders(s, d), 100)),
    "q_anti_join" -> ((s, d) => Ops.antiJoin(Tables.customer(s, d), Tables.orders(s, d))),
    "q_equi_join" -> ((s, d) => Ops.equiJoinAgg(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q_outer_join" -> ((s, d) => Ops.outerJoinBalance(Tables.customer(s, d), Tables.orders(s, d))),
    // skew-salting must be result-invariant: the oracle is the PLAIN
    // join — any salt/replica bookkeeping error breaks the hash match
    "q_salted_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_quantity"))
      val parts = Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.core.Warehouse.saltedJoin(li, parts, "l_partkey", 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), Ops.moneySum(col("l_quantity"), 2).as("qty"))
    }),
    // zone-map manifest write + manifest-pruned range read; pruning is
    // a file-set optimization, so the result equals plain filter
    "q_zonemap_prune" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val dir = Demo.tmpPath("zonemap", d)
      graft.core.Demo.once(s, s"zonemap|$d") {
        graft.core.Warehouse.writeZoneMapped(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
            col("l_quantity"), col("l_returnflag")), dir, "l_orderkey", 16)
      }
      graft.core.Warehouse.readZoneMapPruned(s, dir, "l_orderkey", 1000L, 2000L)
    }),
    "q_running_sum" -> ((s, d) => Ops.runningTotals(Tables.events(s, d))),
    // odd window + full-windows-only => every median is a picked
    // element, no interpolation arithmetic to diverge cross-engine
    "q_rolling_median" -> ((s, d) => Ops.rollingMedian(Tables.events(s, d), 5)),
    // sketch checked against the exact discrete quantile; the
    // declared output is (group, exact_q, within_bound) — the GK
    // sketch value itself never hashes (merge-order-sensitive)
    "q_approx_percentile" -> ((s, d) =>
      Ops.approxPercentileChecked(Tables.events(s, d), "event_type", "value", 0.5, 0.01)),
    // exact-integer-moment Pearson correlation (order-independent,
    // hash-stable float via the integer→double contract)
    "q_correlation" -> ((s, d) =>
      Ops.centsCorrelation(Tables.lineitem(s, d), "l_returnflag", "l_quantity", "l_discount")),
    // ---- §2e: fan-out / generators ----
    "q_fanout_explode" -> ((s, d) => Ops.fanoutExplode(Tables.part(s, d), Seq("100", "110", "111"))),
    // ---- §2f: aggregations & windows ----
    "q_count" -> ((s, d) => Ops.countByGroup(Tables.lineitem(s, d))),
    // sketch VALUES are engine-specific, but the error bound is a
    // deterministic fact of the fixed dataset — the declared output is
    // (lang, exact_nd, within_bound) so DuckDB can hash-match it
    // (oracle: exact count + literal TRUE)
    "q_approx_distinct" -> ((s, d) =>
      Ops.approxDistinctChecked(Tables.documents(s, d), "lang", "text")),
    // daily HLL sketches union into weekly estimates with NO second
    // pass over rows — the re-aggregation property exact distinct
    // lacks; declared via the same exact+bound contract
    "q_hll_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions.expr
      Ops.hllMergeRollup(
        Tables.events(s, d).withColumn("us", expr("ts div 1000")),
        "event_type", "user_id", "us")
    }),
    // both sides bucketed on the join key: the fact-fact join plans
    // with zero shuffle exchanges (plan-asserted in WarehouseSpec);
    // the oracle is the plain join — layout never changes semantics
    "q_bucket_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      // per-dir TABLE NAMES, not just a per-dir memo key: the catalog
      // names are session-global, so a shared name + per-dir key would
      // serve dir A's cached key with dir B's rebuilt rows after an
      // A→B→A sequence in one session (dots sanitized — saveAsTable
      // parses them as a database qualifier)
      val tag = graft.core.Demo.dirTag(d).replaceAll("[^A-Za-z0-9_]", "_")
      val (liT, ordT) = (s"q_li_bucketed_$tag", s"q_ord_bucketed_$tag")
      graft.core.Demo.once(s, s"bucket|$d") {
        graft.core.Warehouse.writeBucketed(li, liT, "l_orderkey", 8)
        graft.core.Warehouse.writeBucketed(ord, ordT, "l_orderkey", 8)
      }
      s.table(liT).join(s.table(ordT), "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Ops.moneySum(col("l_quantity"), 2).as("qty"))
    }),
    // ---- data-quality admission gates ----
    "q_data_profile" -> ((s, d) =>
      graft.core.Validate.dataProfile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"))),
    "q_k_anon" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, floor}
      import org.apache.spark.sql.types.LongType
      val quasi = Tables.customer(s, d).withColumn(
        "acct_band", floor(col("c_acctbal") / 1000.0).cast(LongType))
      graft.core.Validate.kAnonymity(quasi, Seq("c_nationkey", "c_mktsegment", "acct_band"), 10L)
    }),
    "q_heavy_hitters" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, explode}
      val toks = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      graft.core.Validate.heavyHitters(toks, "tok", 0.004)
    }),
    // PSI drift gate between the first and second half of the event
    // stream's time range; declared rows are the exact per-bin psi
    // pieces (integer diff/den + per-term-rounded ln), psi = Σ d·l/den
    "q_psi_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions.expr
      graft.core.Validate.psiDrift(
        Tables.events(s, d).withColumn("us", expr("ts div 1000")),
        "event_type", "value", "us", 10)
    }),
    // binned two-sample KS drift over the same half-split: declared
    // row is integer-exact (d_num = max|cumA·M − cumB·N|); the
    // classical D = d_num/(N·M) is the caller's one division
    "q_ks_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions.expr
      graft.core.Validate.ksDrift(
        Tables.events(s, d).withColumn("us", expr("ts div 1000")),
        "event_type", "value", "us", 64)
    }),
    // batch twin of the streaming drift monitor: per-day windows of
    // each type's value distribution vs the whole-table reference,
    // finished by the SAME ksAgainstReference the streaming side
    // uses in foreachBatch. driftByDay is the fully-LAZY one-plan
    // form (in-plan broadcast scalars), so the benchmark times both
    // linear scans; the eager driftReference stays the train-once
    // deployment path
    "q_drift_by_day" -> ((s, d) => {
      import org.apache.spark.sql.functions.expr
      graft.core.Validate.driftByDay(
        Tables.events(s, d).withColumn("us", expr("ts div 1000")),
        "event_type", "value", "us", 16)
    }),
    // 2-D skyline on parts: maximize size, minimize retail price;
    // runs on the |distinct sizes| frame, never a dominance self-join
    "q_pareto_front" -> ((s, d) =>
      Ops.paretoFront(Tables.part(s, d), "p_partkey", "p_size", "p_retailprice")),
    // token -> (df, head of sorted posting list), stopword-safe via
    // the pre-collect row_number cap
    "q_inverted_index" -> ((s, d) =>
      TextOps.invertedIndex(Tables.documents(s, d), 10L, 50)),
    // flagship composition: Gopher gate -> exact dedup -> langid ->
    // per-(language, source) corpus accounting, all-integer output
    // stopword floor 0: the synthetic corpus is word-salad with no
    // English function words, so the (English) stopword rule would
    // void the run; the word-count gate still drops ~45% of docs
    "q_curation_pipeline" -> ((s, d) =>
      graft.text.Curate.curationPipeline(Tables.documents(s, d), minStopwords = 0)),
    // ---- interchange formats: parquet -> JSONL/CSV -> pinned-schema
    // read-back -> aggregate; the round-trip is bit-exact, so the
    // oracle aggregates the original parquet directly ----
    "q_jsonl_ingest" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      val dir = Demo.tmpPath("jsonl_events", d)
      graft.core.Demo.once(s, s"jsonl|$d") { graft.sources.TextFormats.writeJsonl(ev, dir) }
      graft.sources.TextFormats.readJsonl(s, dir, ev.schema)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          Ops.moneySum(col("value"), 2).as("value_sum"))
    }),
    "q_csv_ingest" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit, max, min}
      val cust = Tables.customer(s, d)
      val dir = Demo.tmpPath("csv_customer", d)
      graft.core.Demo.once(s, s"csv|$d") { graft.sources.TextFormats.writeCsv(cust, dir) }
      graft.sources.TextFormats.readCsv(s, dir, cust.schema)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"), Ops.moneySum(col("c_acctbal"), 2).as("bal_sum"))
    }),
    // copy-on-write MERGE into a zone-mapped table: replace the %97
    // key band (+1000 on the price), insert shifted new keys, then
    // aggregate the post-merge table; the oracle recomputes the same
    // anti-join ∪ updates content directly from the parquet original
    "q_merge_upsert" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val ord = Tables.orders(s, d)
      val dir = Demo.tmpPath("merge_orders", d)
      graft.core.Demo.once(s, s"merge|$d") {
        graft.core.Warehouse.writeZoneMapped(ord, dir, "o_orderkey", 16)
      }
      val updates = ord.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .unionByName(ord.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      graft.core.Warehouse.mergeZoneMapped(s, dir, "o_orderkey", updates)
      s.read.parquet(s"$dir/data")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Ops.moneySum(col("o_totalprice"), 2).as("price_sum"))
    }),
    // time travel: write v1, merge with retention (v2), read the
    // table AS OF v1 — the v1 manifest pins the original file set,
    // so the oracle aggregates the unmodified orders table
    "q_time_travel" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val ord = Tables.orders(s, d)
      val dir = Demo.tmpPath("timetravel_orders", d)
      // the version HISTORY (v1 write + retained merge to v2) is the
      // demo table's construction; the operator under test — and the
      // timed region's steady-state cost — is the AS OF v1 read below
      graft.core.Demo.once(s, s"timetravel|$d") {
        graft.core.Warehouse.writeZoneMapped(ord, dir, "o_orderkey", 16)
        val updates = ord.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        graft.core.Warehouse.mergeZoneMapped(s, dir, "o_orderkey", updates,
          retainForTimeTravel = true)
      }
      graft.core.Warehouse.readZoneMapVersion(s, dir, 1)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Ops.moneySum(col("o_totalprice"), 2).as("price_sum"))
    }),
    // ORC round-trip with a filtered aggregate, so the re-read scan
    // exercises stripe-stat pushdown on the way back in
    "q_orc_ingest" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val ord = Tables.orders(s, d)
      val dir = Demo.tmpPath("orc_orders", d)
      graft.core.Demo.once(s, s"orc|$d") { graft.sources.ColumnarFormats.writeOrc(ord, dir) }
      graft.sources.ColumnarFormats.readOrc(s, dir)
        .filter(col("o_totalprice") > 150000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Ops.moneySum(col("o_totalprice"), 2).as("price_sum"))
    }),
    // snapshot diff (CDC change feed): the new version is derived
    // deterministically from orders (drop %89 keys, bump price on
    // %97 keys, insert shifted copies of %101 keys) so the oracle
    // can rebuild the exact same pair of versions in SQL
    "q_snapshot_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, when}
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val next = base.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 97 === 0, col("o_totalprice") + lit(1000.0))
            .otherwise(col("o_totalprice")))
        .unionByName(base.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      graft.core.Warehouse.snapshotDiff(base, next, Seq("o_orderkey"))
    }),
    // incremental view maintenance: partial (count, decimal-sum)
    // states over two disjoint slices merge into the state of the
    // whole table — the oracle recomputes from scratch
    "q_incr_agg" -> ((s, d) => {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val ev = Tables.events(s, d)
      // coalesce: the two slices must PARTITION the table (the IVM
      // equivalence being declared) — a null event_id is NULL under
      // both bare predicates and would vanish from both slices while
      // the whole-table oracle still counts it
      val slice = coalesce(col("event_id"), lit(0L)) % 10
      val base = ev.filter(slice < 8)
      val delta = ev.filter(slice >= 8)
      graft.core.Warehouse.finishAggState(
        graft.core.Warehouse.mergeAggStates(Seq(
          graft.core.Warehouse.aggState(base, Seq("event_type"), "value"),
          graft.core.Warehouse.aggState(delta, Seq("event_type"), "value")),
          Seq("event_type")))
    }),
    // small-file compaction: 64-way fragmented write, OPTIMIZE into
    // ~20k-row files, aggregate the compacted table; compaction is
    // content-preserving so the oracle aggregates the original
    "q_compact_files" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      // the fragmented INPUT layout is built once; every call then
      // compacts a FRESH file-level copy of it — compaction consumes
      // its own input state, so re-compacting in place would make
      // later bench reps measure "compact an already-compacted dir"
      // instead of the declared many-small-files workload
      val dirFrag = Demo.tmpPath("compact_events", d)
      val dir = Demo.tmpPath("compact_work", d)
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      graft.core.Demo.once(s, s"compact|$d") {
        ev.repartition(64).write.mode("overwrite").parquet(dirFrag)
      }
      Demo.refreshCopy(dirFrag, dir)
      graft.core.Warehouse.compactFiles(s, dir, 20000L)
      s.read.parquet(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Ops.moneySum(col("value"), 2).as("value_sum"))
    }),
    // daily-grid resample with forward fill: the gap-filling step
    // before fixed-step modeling on irregular event streams
    "q_resample_ffill" -> ((s, d) => Ops.resampleFfill(Tables.events(s, d))),
    // next-event transition counts; probability = cnt/from_total
    // stays rational (exact) in the declared row
    "q_markov_transitions" -> ((s, d) => Ops.markovTransitions(Tables.events(s, d))),
    // recency/frequency/monetary lifecycle segmentation, exact
    // ntiles with (metric, user_id) tie-breaks
    "q_rfm_segments" -> ((s, d) => Ops.rfmSegments(Tables.events(s, d))),
    // scale-safe RFM (approx cut points, zero windows), declared via
    // the same fact contract as q_equidepth_hist_approx: user count
    // conserved, every segment in [1, 5], monetary segments balanced
    // (monetary is a decimal-summed double — tie-free in practice, so
    // cut-point bucketing stays near 20% per segment)
    "q_rfm_segments_approx" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val seg = Ops.rfmSegments(Tables.events(s, d), 5, relErr = 0.001)
      val ranges = seg.agg(
        (min(least(col("r_seg"), col("f_seg"), col("m_seg"))) >= 1L &&
          max(greatest(col("r_seg"), col("f_seg"), col("m_seg"))) <= 5L)
          .as("segs_in_range"),
        count(lit(1)).cast(LongType).as("n_users"))
      val balance = seg.groupBy(col("m_seg")).agg(count(lit(1)).as("__n"))
        .agg((max(col("__n")).cast(DoubleType)
          <= sum(col("__n")).cast(DoubleType) * 0.3).as("m_balance_ok"))
      ranges.crossJoin(broadcast(balance))
    }),
    // exact equal-count buckets with exact value bounds (the ANALYZE
    // statistic); sketched quantiles are the 100-TB path, this is
    // their verification harness
    "q_equidepth_hist" -> ((s, d) =>
      Ops.equiDepthHistogram(Tables.events(s, d), "value", "event_id", 10)),
    // the SCALE-SAFE path of the same histogram (approx cut points, no
    // global sort window), declared via the approxDistinctChecked
    // contract: the sketch's cut values are engine-specific, but these
    // facts of the fixed dataset are not — bucket count bounded by n,
    // rows conserved, exact global bounds, counts within the
    // comparison-bucketing balance band (DuckDB computes the same
    // facts over its own exact ntile tiling — see the oracle)
    "q_equidepth_hist_approx" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Ops.equiDepthHistogram(Tables.events(s, d), "value", "event_id", 10, relErr = 0.001)
        .agg(
          (count(lit(1)) <= lit(10L)).as("buckets_ok"),
          sum(col("n")).cast(org.apache.spark.sql.types.LongType).as("total_n"),
          min(col("lo")).as("min_v"),
          max(col("hi")).as("max_v"),
          (max(col("n")).cast(org.apache.spark.sql.types.DoubleType)
            <= sum(col("n")).cast(org.apache.spark.sql.types.DoubleType) * 0.15)
            .as("balance_ok"))
    }),
    "q_last_per_group" -> ((s, d) => Ops.lastPerGroup(Tables.events(s, d))),
    "q_asof_join" -> ((s, d) => Ops.asofJoin(Tables.events(s, d), "purchase", "click")),
    "q_range_join" -> ((s, d) => Ops.rangeJoinCount(Tables.events(s, d), "error", "click", 300000000L)),
    "q_pivot" -> ((s, d) => Ops.pivotByType(Tables.events(s, d))),
    // 30-minute inactivity gap; batch twin of StreamingOps.sessionize
    "q_sessionize" -> ((s, d) => Ops.sessionize(Tables.events(s, d), 1800L * 1000000L)),
    "q_scd2" -> ((s, d) => Ops.scd2(Tables.events(s, d))),
    "q_funnel" -> ((s, d) =>
      Ops.funnel(Tables.events(s, d), "signup", "click", "purchase", 7L * 86400L * 1000000L)),
    "q_cohort" -> ((s, d) => Ops.cohortRetention(Tables.events(s, d))),
    "q_mad_outliers" -> ((s, d) => Ops.madOutliers(Tables.events(s, d))),
    "q_time_weighted_avg" -> ((s, d) => Ops.timeWeightedAvg(Tables.events(s, d))),
    "q_group_baseline_diff" -> ((s, d) => Ops.baselineDiff(Tables.lineitem(s, d))),
    "q_regr_fit" -> ((s, d) => Ops.regrFit(Tables.lineitem(s, d))),
    "q_window_agg" -> ((s, d) => Ops.windowAgg(Tables.eventsWithTs(s, d))),
    "q_topk_per_group" -> ((s, d) => Ops.topKPerGroup(Tables.orders(s, d), 3)),
    "q_rollup" -> ((s, d) => Ops.rollupSummary(Tables.lineitem(s, d))),
    "q_cube" -> ((s, d) => Ops.cubeSummary(Tables.lineitem(s, d))),
    "q_grouping_sets" -> ((s, d) => Ops.groupingSetsSummary(Tables.lineitem(s, d))),
    "q_histogram" -> ((s, d) => Ops.histogram(Tables.lineitem(s, d), 5.0)),
    "q_percentile" -> ((s, d) => Ops.percentiles(Tables.lineitem(s, d))),
    // ---- §2g: set ops & dedup ----
    "q_group_concat" -> ((s, d) => Ops.groupConcatTopN(Tables.customer(s, d), 5)),
    "q_intersect" -> ((s, d) => Ops.intersectKeys(Tables.customer(s, d), Tables.orders(s, d))),
    "q_except" -> ((s, d) => Ops.exceptKeys(Tables.customer(s, d), Tables.orders(s, d))),
    "q_union" -> ((s, d) => Ops.unionEntities(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_dedup" -> ((s, d) => Ops.dedupDistinct(Tables.lineitem(s, d))),
    "q_dedup_keyed" -> ((s, d) => Ops.dedupKeyed(Tables.lineitem(s, d))),
    // hourly tumbling window; batch backstop of StreamingOps.dedupStream
    "q_window_dedup" -> ((s, d) => Ops.windowDedup(Tables.events(s, d), 3600L * 1000000L)),
    "q_unpivot" -> ((s, d) => Ops.unpivotMetrics(Tables.lineitem(s, d))),
    // the spark.sql entry path: correlated EXISTS over temp views —
    // the one API surface the DataFrame-composed queries don't touch
    "q_exists" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("g_customer")
      Tables.orders(s, d).createOrReplaceTempView("g_orders")
      s.sql("""SELECT c_custkey, c_name FROM g_customer c
              |WHERE EXISTS (SELECT 1 FROM g_orders o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin)
    }),
    // ---- §2a #6: text render sink shape ----
    "q_render_text" -> ((s, d) => Ops.renderDeck(Tables.part(s, d))),
    // ---- training-data extension: dedup family ----
    "q_dedup_exact" -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    "q_minhash_sig" -> ((s, d) => Dedup.minhashSignatures(s, Tables.documentsSpread(s, d))),
    "q_minhash_lsh_pairs" -> ((s, d) => Dedup.minhashLshPairs(s, Tables.documentsSpread(s, d))),
    // ingest-time dedup: docs with doc_id % 4 == 0 are the "new batch",
    // the rest the standing corpus; corpus-vs-corpus never computes
    "q_incremental_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.incrementalLshPairs(s,
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0))
    }),
    "q_simhash" -> ((s, d) => Dedup.simhash(s, Tables.documents(s, d))),
    "q_simhash_neardup" -> ((s, d) => Dedup.simhashNearDupPairs(s, Tables.documentsSpread(s, d), 1)),
    // degree histogram of the simhash near-dup graph incl. isolated
    // docs — the hub-document diagnostic behind confirm thresholds.
    // Fused cluster-graph form (r15): bit-identical to
    // degreeHistogram(simhashNearDupPairs(docs, 1)) — GraphSpec pins
    // the equality — without materializing the quadratic pair list
    "q_degree_hist" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documentsSpread(s, d)
      // node universe from the UNSPREAD scan: the fused form only
      // counts it (1-row aggregate), so the spread's repartition
      // exchange under the count is pure cost; same rows either way
      Dedup.simhashDegreeHistogram(s, docs, 1,
        Tables.documents(s, d).select(col("doc_id")), "doc_id")
    }),
    "q_jaccard_neardup" -> ((s, d) => Dedup.jaccardNearDupPairs(Tables.documentsSpread(s, d), 0.8)),
    "q_shingle_jaccard" -> ((s, d) => Dedup.jaccardNearDupPairs(Tables.documentsSpread(s, d), 0.3, ngram = 2)),
    "q_edit_distance" -> ((s, d) => Dedup.editDistancePairs(Tables.documentsSpread(s, d), 20)),
    "q_jaro_winkler" -> ((s, d) => Dedup.jaroWinklerPairs(Tables.documents(s, d))),
    // rep-mode output: linear (cluster_rep, member) instead of the
    // quadratic pair list a colossal duplicate cluster would emit
    "q_dedup_clusters" -> ((s, d) => Dedup.minhashClusters(s, Tables.documentsSpread(s, d))),
    "q_jaccard_clusters" -> ((s, d) => Dedup.jaccardClusters(Tables.documents(s, d))),
    // transitive closure of the near-dup graph: pairs → clusters.
    // Identical sets collapse to reps before the component search;
    // min-label propagation + pointer jumping over the rep graph
    "q_connected_components" -> ((s, d) => {
      import org.apache.spark.sql.functions.{coalesce, col}
      val docs = Tables.documentsSpread(s, d)
      docs.select(col("doc_id"))
        .join(Dedup.jaccardComponents(docs, 0.8), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    }),
    // MinHash-family transitive clusters: banding candidates CONFIRMED
    // by signature agreement (>= 12/16 minhashes ≈ Ĵ >= 0.75) before
    // the component search — unconfirmed banding edges chain false
    // positives into mega-components under transitive closure
    "q_minhash_components" -> ((s, d) => {
      import org.apache.spark.sql.functions.{coalesce, col}
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"))
        .join(Dedup.minhashComponents(s, docs), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    }),
    // SimHash-family transitive clusters: every edge is Hamming-
    // confirmed before closure (the bound IS the confirm), reps are
    // distinct fingerprints
    "q_simhash_components" -> ((s, d) => {
      import org.apache.spark.sql.functions.{coalesce, col}
      val docs = Tables.documentsSpread(s, d)
      docs.select(col("doc_id"))
        .join(Dedup.simhashComponents(s, docs), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    }),
    // ---- training-data extension: text analysis ----
    "q_token_stats" -> ((s, d) => TextOps.tokenStats(Tables.documents(s, d))),
    "q_lang_id" -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    "q_quality_score" -> ((s, d) => TextOps.qualityScore(Tables.documents(s, d))),
    "q_quality_ntile" -> ((s, d) => TextOps.qualityNtile(Tables.documents(s, d), 10)),
    // the SCALE-SAFE path of the same tiling (per-lang approx cut
    // points, zero windows — PlanContractSpec enforces it), declared
    // via the family's fact contract: doc count conserved, every
    // tile in [1, 10], and each language's largest tile bounded at
    // 2.5× the ideal 10% share (quality ties share a tile under
    // comparison-bucketing; the band absorbs the observed tie mass)
    "q_quality_ntile_approx" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val t = TextOps.qualityNtile(Tables.documents(s, d), 10, relErr = 0.001)
      val ranges = t.agg(
        (min(col("tile")) >= 1L && max(col("tile")) <= 10L).as("tiles_in_range"),
        count(lit(1)).cast(LongType).as("n_docs"))
      val balance = t.groupBy(col("lang"), col("tile"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("lang"))
        .agg(max(col("__n")).as("__mx"), sum(col("__n")).as("__tot"))
        .agg(bool_and(col("__mx").cast(DoubleType)
          <= col("__tot").cast(DoubleType) * 0.25).as("balance_ok"))
      ranges.crossJoin(broadcast(balance))
    }),
    // scoring side of the quality classifier with LITERAL weights:
    // the affine z is bit-deterministic cross-engine (fixed-order
    // IEEE mult/add/div, no libm), keep = z > 0 ⇔ σ(z) > 0.5
    "q_classifier_score" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val model = graft.core.Learn.LogisticModel(
        Seq("nc", "nt"), Seq(0.7, -0.3), 0.1, Seq(100.0, 20.0), Seq(50.0, 10.0))
      val z = graft.core.Learn.linearScore(model)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("double").as("nc"),
          size(TextOps.tokens(col("text"))).cast("double").as("nt"))
        .select(col("doc_id"), z.as("z"), (z > 0.0).as("keep"))
    }),
    // isotonic (PAV) calibration of the same classifier score against
    // a deterministic quality label: the reliability table with exact
    // integer bin counts and the monotone calibrated probability —
    // the oracle recomputes PAV via its minimax characterization
    // f(i) = max_{j<=i} min_{k>=i} avg(j,k), bit-identical because
    // every average is one correctly-rounded division of exact
    // integers and double rounding is monotone
    "q_classifier_calibrate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val model = graft.core.Learn.LogisticModel(
        Seq("nc", "nt"), Seq(0.7, -0.3), 0.1, Seq(100.0, 20.0), Seq(50.0, 10.0))
      val z = graft.core.Learn.linearScore(model)
      val scored = Tables.documents(s, d)
        .select(col("n_chars").cast("double").as("nc"),
          size(TextOps.tokens(col("text"))).cast("double").as("nt"),
          (col("n_chars") > 150L).cast("int").as("label"))
        .select(z.as("z"), col("label"))
      graft.core.Learn.calibrationTable(s,
        graft.core.Learn.isotonicFit(scored, "z", "label", nBins = 8))
    }),
    "q_fingerprint" -> ((s, d) => TextOps.fingerprint(Tables.documents(s, d))),
    "q_ngram_topk" -> ((s, d) => TextOps.ngramTopK(Tables.documents(s, d), 2, 20)),
    "q_chunks" -> ((s, d) => TextOps.chunk(Tables.documents(s, d), 32, 8)),
    "q_repetition" -> ((s, d) => TextOps.repetitionScore(Tables.documents(s, d), 2)),
    "q_bm25" -> ((s, d) => TextOps.bm25TopK(Tables.documents(s, d), Seq("table", "scan", "fast"), 20)),
    "q_tfidf" -> ((s, d) => TextOps.tfidfTopK(Tables.documents(s, d), 30)),
    "q_ngram_lm" -> ((s, d) => TextOps.ngramLmScore(Tables.documents(s, d))),
    "q_vocab_oov" -> ((s, d) => TextOps.vocabOov(Tables.documents(s, d), 200)),
    "q_pmi" -> ((s, d) => TextOps.pmiCollocations(Tables.documents(s, d), 5L)),
    // quality-priority collapse of the same near-dup clusters as
    // q_connected_components: keep the best-written copy, not min-id
    "q_cluster_best" -> ((s, d) =>
      Dedup.keepBestPerCluster(Tables.documentsSpread(s, d), 0.8)),
    // DSIR: importance weight of every doc against the en-language
    // target distribution over 256 hashed-bigram buckets
    "q_dsir_weight" -> ((s, d) => TextOps.dsirWeight(Tables.documents(s, d), "en", 256)),
    // per-doc char-distribution entropy (nats)
    "q_char_entropy" -> ((s, d) => TextOps.charEntropy(Tables.documents(s, d))),
    // token-budget mixture: fr/zh deliberately unbudgeted (dropped)
    "q_mixture_tokens" -> ((s, d) => TextOps.mixtureByTokenBudget(
      Tables.documents(s, d), Map("en" -> 5000L, "de" -> 2000L, "es" -> 1500L))),
    "q_pack_shards" -> ((s, d) => TextOps.packShards(Tables.documents(s, d), 1000L)),
    "q_pack_sequences" -> ((s, d) => TextOps.packSequences(Tables.documents(s, d), 512)),
    // duplicate lines injected deterministically (the one-line corpus
    // has none) so the dedup has real repeats — the strip_markup pattern
    "q_dedup_lines" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextOps.dedupLines(Tables.documents(s, d).withColumn("text", concat_ws("\n",
        col("text"), lit("-- footer --"), col("text"), lit("-- footer --"), lit("-- footer --"))))
    }),
    // C4 line/page rules over deterministically injected lines (the
    // one-line corpus has no line structure of its own): a keeping
    // base line, a short no-punct line, a javascript line, a keeping
    // fox line, and per-doc_id-modulus extras that vary n_kept and
    // the lorem-ipsum / curly-brace page flags
    "q_c4_clean" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextOps.c4Clean(Tables.documents(s, d).withColumn("text", concat_ws("\n",
        concat(col("text"), lit(".")),
        lit("Read more"),
        lit("Please enable javascript to view this site."),
        lit("The quick brown fox jumps over the lazy dog."),
        when(col("doc_id") % 3 === 0, lit("It works well enough to keep.")),
        when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit amet")),
        when(col("doc_id") % 11 === 0, lit("some { braces } here")))),
        minWords = 3, minKeptLines = 3)
    }),
    // Gopher rules over the raw corpus plus modulus-conditional
    // suffixes that exercise the symbol-ratio ('##', '...') and
    // stopword ('to be') rules the word-salad corpus never trips
    "q_gopher_rules" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextOps.gopherRules(Tables.documents(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" ## off-topic")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(" to be continued...")).otherwise(lit("")))))
    }),
    // hash-split: pure function of doc_id — engine- and rerun-stable
    "q_split_assign" -> ((s, d) => TextOps.splitAssign(Tables.documents(s, d), 90, 5)),
    // per-source cap, keep the longest docs (integer priority)
    "q_source_cap" -> ((s, d) => TextOps.sourceCap(Tables.documents(s, d), 15)),
    // α = 0.3, the XLM-R low-resource up-sampling temperature
    "q_mixture_temperature" -> ((s, d) => TextOps.mixtureTemperature(Tables.documents(s, d), 0.3)),
    // BPE merge-step pair statistics over the distinct-word vocab
    "q_bpe_pairs" -> ((s, d) => TextOps.bpePairStats(Tables.documents(s, d), 2L)),
    // ENCODE path of a trained BPE model: per-doc tokenizer-token
    // accounting under the frozen `bpeModel` merge list (the budget
    // number mixture caps / packing actually count)
    "q_bpe_encode" -> ((s, d) => TextOps.bpeEncode(Tables.documents(s, d), bpeModel)),
    // Unicode mess injected deterministically (the corpus is clean
    // ASCII) so the normalizer has real work: a combining acute that
    // NFC must compose, tab/CRLF/NBSP/EM-space runs to collapse, and
    // a control byte to delete — the strip_markup injection pattern
    "q_normalize_text" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val messy = concat(lit("Cafe\u0301\ta\r\nb "), col("text"),
        lit(" \u00A0x\u0001y \u2003"))
      TextOps.normalizeText(Tables.documents(s, d).withColumn("text", messy))
    }),
    // markup injected deterministically (the corpus carries none) so
    // the stripper has real tags to remove — the piiScrub pattern
    "q_strip_markup" -> ((s, d) => {
      val marked = Tables.documents(s, d).selectExpr("doc_id",
        "concat('<p id=\"d', cast(doc_id as string), '\">', text, '</p><br>') as text")
      TextOps.stripMarkup(marked)
    }),
    // synthetic PII injected deterministically (the word-salad corpus
    // carries none) so the scrub has real matches to find and mask
    "q_pii_scrub" -> ((s, d) => {
      val injected = Tables.documents(s, d).selectExpr("doc_id",
        "concat(text, ' contact user', cast(doc_id as string), '@example.com via 10.', " +
          "cast(doc_id % 256 as string), '.0.', cast(doc_id % 7 as string)) as text")
      TextOps.piiScrub(injected).selectExpr("doc_id", "n_emails", "n_ips",
        "md5(clean_text) as clean_hash", "cast(length(clean_text) as bigint) as clean_len")
    }),
    "q_dup_spans" -> ((s, d) => TextOps.dupSpans(Tables.documents(s, d), 16)),
    "q_span_clusters" -> ((s, d) => TextOps.spanClusters(Tables.documents(s, d), 5, 2)),
    "q_strip_boilerplate" -> ((s, d) => TextOps.stripBoilerplate(Tables.documents(s, d), 5, 3)),
    // probe set = doc_id < 5 as the benchmark stand-in
    "q_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 5),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 5), 3)
    }),
    "q_cross_dup_fraction" -> ((s, d) => Dedup.crossDupFraction(Tables.documents(s, d), 3)),
    // bloom prefilter + exact confirm — result bit-identical to
    // q_contamination (same oracle shape); sketch sized for 64k grams
    "q_bloom_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.bloomContamination(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 5),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 5), 3,
        expectedProbeGrams = 1L << 16)
    }),
    // ---- training-data extension: similarity search ----
    "q_cosine_topk" -> ((s, d) => Similarity.cosineTopK(Tables.embeddings(s, d), 8, 5)),
    // 2-probe: each query also scores the bucket across its lowest-
    // |margin| hyperplane (single-bit multi-probe), mirrored in the
    // oracle's flip construction
    "q_ann_topk" -> ((s, d) => Similarity.cosineTopKBucketed(Tables.embeddingsSpread(s, d), 8, 5, nProbes = 2)),
    "q_embed_neardup" -> ((s, d) => Similarity.embeddingNearDupPairs(Tables.embeddingsSpread(s, d), 0.3)),
    // semantic dedup: transitive closure of the exact-cosine-confirmed
    // near-dup graph, identical vectors rep-collapsed first
    "q_embed_components" -> ((s, d) => Similarity.embeddingComponents(Tables.embeddings(s, d), 0.3)),
    // SemDeDup: centroid-cell blocking, keep-first within a cell
    "q_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(Tables.embeddings(s, d), 0.3)),
    "q_embed_scale" -> ((s, d) => Similarity.minMaxScale(Tables.embeddings(s, d))),
    // corpus second-moment matrix in integer micro²-units
    "q_embed_gram" -> ((s, d) => Similarity.gramMatrix(Tables.embeddings(s, d))),
    "q_ivf_topk" -> ((s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), 8, 5)),
    // PQ-compressed ANN: codes from the deterministic first-8 codebook,
    // ADC ranking on the unrounded squared-L2 (no libm in the path)
    "q_pq_topk" -> ((s, d) => Similarity.pqTopK(Tables.embeddingsSpread(s, d), 5, 5)),
    // the full FAISS composition: probe 2 of 16 cells, ADC over codes
    "q_ivfpq_topk" -> ((s, d) => Similarity.ivfPqTopK(Tables.embeddingsSpread(s, d), 5, 5)),
    // random-signs (JL) projection to 8 dims, long format
    "q_embed_project" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode, round, size}
      Tables.embeddings(s, d)
        // empty vectors have no projection (the oracle's unnest emits
        // nothing for them; an 8-zero row would diverge)
        .filter(size(col("embedding")) > 0)
        .select(col("vec_id"), posexplode(Similarity.randomProjection(col("embedding"), 8)))
        .select(col("vec_id"),
          col("pos").cast(org.apache.spark.sql.types.LongType).as("plane"),
          round(col("col"), 6).as("proj"))
    }),
    // ---- training-data extension: multimodal columns ----
    // payload = UTF-8 bytes of documents.text (deterministic binary
    // corpus), featurized by the real mapPartitions pipeline; the
    // oracle recomputes the same byte statistics from the same bytes
    "q_media_features" -> ((s, d) => {
      import graft.media.MediaOps
      // StubDecoder explicitly: this corpus is UTF-8 text bytes, not a
      // parseable image — the query checks the stage plumbing; the
      // real-codec twins are q_image_features / q_video_features
      val feats = MediaOps.featurize(MediaOps.mediaFromDocuments(Tables.documents(s, d)),
        MediaOps.StubDecoder).toDF()
      val bandCols = (0 until 8).map(i =>
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.col("features"), i + 1).as(s"f$i"))
      feats.select(Seq("media_id", "kind", "n_bytes", "mean_byte")
        .map(org.apache.spark.sql.functions.col) ++ bandCols: _*)
    }),
    // REAL decode path: synthesized PCM → actual WAV bytes → RIFF
    // chunk-walk parse → features; the oracle recomputes the features
    // from the synthesis formula, so a decode bug cannot hash-match
    "q_audio_features" -> ((s, d) => {
      import graft.media.MediaOps
      MediaOps.audioFeatures(MediaOps.synthWavCorpus(Tables.documents(s, d))).toDF()
    }),
    // energy-gated VAD segmentation over the same real-WAV corpus;
    // the oracle recomputes frames/gate/islands from the synthesis
    // formula, so a framing or gating bug cannot hash-match
    "q_audio_segments" -> ((s, d) => {
      import graft.media.MediaOps
      MediaOps.audioSegments(MediaOps.synthWavCorpus(Tables.documents(s, d))).toDF()
    }),
    // REAL image decode: synthesized pixels → actual BMP (even ids) /
    // PPM (odd ids) bytes → magic-sniffed byte-walk parse → features.
    // wsum is raster-position × channel-mix weighted, so a decoder
    // that misses the BMP bottom-up flip, BGR order, or row padding
    // cannot hash-match the formula-recomputing oracle
    "q_image_features" -> ((s, d) => {
      import graft.media.MediaOps
      MediaOps.imageFeatures(MediaOps.synthImageCorpus(Tables.documents(s, d))).toDF()
    }),
    // decode -> nearest-neighbor resize -> features; wsum runs over
    // TARGET raster positions, so a wrong source-index mapping in the
    // resize cannot hash-match
    "q_image_thumb" -> ((s, d) => {
      import graft.media.MediaOps
      MediaOps.thumbFeatures(
        MediaOps.synthImageCorpus(Tables.documents(s, d)), 4, 4).toDF()
    }),
    // REAL video demux: concatenated-P6 stream (ffmpeg image2pipe
    // format) → per-frame byte slices → per-frame decode + features;
    // frame pixels depend on the frame index, so a demux that drifts
    // a boundary or reorders frames cannot hash-match
    // full video normalize chain: demux -> decode -> 4x4 resize ->
    // features per frame
    "q_video_thumb" -> ((s, d) => {
      import graft.media.MediaOps
      MediaOps.frameThumbFeatures(MediaOps.videoFrames(
        MediaOps.synthVideoCorpus(Tables.documents(s, d))), 4, 4).toDF()
    }),
    "q_video_features" -> ((s, d) => {
      import graft.media.MediaOps
      MediaOps.frameFeatures(MediaOps.videoFrames(
        MediaOps.synthVideoCorpus(Tables.documents(s, d)))).toDF()
    }),
    // decode-or-quarantine ingest drill: deterministically corrupt a
    // subset of the REAL-bytes image corpus (id ≡ 0 mod 7 → truncated,
    // id ≡ 3 mod 7 → broken magic), then run the quarantine stage —
    // corrupt rows land as (ok = false, null dims) instead of killing
    // the scan; the oracle recomputes the verdict and the survivors'
    // dimensions from the pure-arithmetic corruption/synthesis rules
    "q_decode_quarantine" -> ((s, d) => {
      import graft.media.MediaOps
      MediaOps.decodeQuarantine(MediaOps.injectCorruption(
        MediaOps.synthImageCorpus(Tables.documents(s, d)))).toDF()
    }),
  )

  /** DuckDB oracle SQL, aligned column-by-column with `queries`. */
  def oracleSql: Map[String, String] = Map(
    "q_scan_filter" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount > 0.03""".stripMargin,

    "q_project" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",

    "q_contains_filter" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE contains(text, 'window')",

    "q_regex_extract" ->
      // TRY_CAST: DuckDB regexp_extract yields '' on no match and
      // ''::BIGINT raises — TRY_CAST mirrors Spark's null-on-no-match,
      // so a future props row without the key stays a parity check
      // instead of a harness error
      """SELECT event_id, TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k_val, event_type
        |FROM events""".stripMargin,

    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
        |  l_quantity * -27.2114 - 4.66 AS pzc_like
        |FROM lineitem""".stripMargin,

    "q_string_keys" ->
      """SELECT p_partkey, p_brand || '-' || p_size::VARCHAR AS part_key,
        |  regexp_extract(p_name, '^(\w+)', 1) AS name_stem, upper(p_type) AS type_uc
        |FROM part""".stripMargin,

    "q_sample_n" ->
      """SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey IS NOT NULL
        |ORDER BY (o_orderkey * 9973 + 12345) % 1000003, o_orderkey LIMIT 100""".stripMargin,

    "q_sample_stratified" ->
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 9973 + 12345) % 1000003, doc_id)::BIGINT AS rk
        |  FROM documents WHERE doc_id IS NOT NULL)
        |WHERE rk <= 25""".stripMargin,

    // Efraimidis-Spirakis weighted sample: priority -ln(u)/w rounded
    // to 6 (ordering on a cross-libm ln needs the rounding contract)
    "q_sample_weighted" ->
      """SELECT doc_id, n_chars, es_key FROM (
        |  SELECT doc_id, n_chars,
        |    round(-ln((((doc_id * 9973 + 12345) % 1000003 + 1000003) % 1000003 + 1)::DOUBLE / 1000004.0)
        |          / n_chars::DOUBLE, 6) AS es_key
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars > 0)
        |ORDER BY es_key, doc_id LIMIT 150""".stripMargin,

    "q_semi_join" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL
        |  ORDER BY (o_orderkey * 9973 + 12345) % 1000003, o_orderkey LIMIT 100)""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q_equi_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*)::BIGINT AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_outer_join" ->
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS entity_key, c.c_acctbal,
        |  coalesce(o.n_orders, 0)::BIGINT AS n_orders, o.spend
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1) o
        |ON c.c_custkey = o.o_custkey""".stripMargin,

    "q_salted_join" ->
      """SELECT p_brand, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    // pruning is file-set-only: the result is the plain range filter
    "q_zonemap_prune" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_returnflag
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000""".stripMargin,

    "q_running_sum" ->
      """SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us, value,
        |  CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)::BIGINT AS rn
        |FROM events""".stripMargin,

    // moments in exact BIGINT cents, correlation in the mirrored
    // fixed-order double expression — operand casts and parentheses
    // match the Spark side token for token
    "q_correlation" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*)::BIGINT AS n,
        |    sum(round(l_quantity * 100)::BIGINT)::BIGINT AS sx,
        |    sum(round(l_discount * 100)::BIGINT)::BIGINT AS sy,
        |    sum(round(l_quantity * 100)::BIGINT * round(l_discount * 100)::BIGINT)::BIGINT AS sxy,
        |    sum(round(l_quantity * 100)::BIGINT * round(l_quantity * 100)::BIGINT)::BIGINT AS sxx,
        |    sum(round(l_discount * 100)::BIGINT * round(l_discount * 100)::BIGINT)::BIGINT AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, sx, sy,
        |  CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
        |        AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
        |    THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |         / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |            * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
        |  END AS corr
        |FROM m""".stripMargin,

    // the exact side re-derives the SAME rank convention (rk =
    // ceil(p·n) over the value order) instead of quantile_disc,
    // whose index formula differs off p=0.5; the bound fact is TRUE
    "q_approx_percentile" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, value AS exact_q, TRUE AS within_bound
        |FROM r WHERE rk = ceil(0.5 * n)""".stripMargin,

    // 5-element odd window, full windows only: DuckDB's median over
    // an odd count is the exact middle element (no interpolation), so
    // both engines emit a PICKED double bit-for-bit
    "q_rolling_median" ->
      """WITH w AS (
        |  SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us, value,
        |    median(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE value IS NOT NULL)
        |SELECT user_id, event_id, us, value, med FROM w WHERE rn >= 5""".stripMargin,

    "q_fanout_explode" ->
      """SELECT p_partkey, f.facet_idx::BIGINT AS facet_idx, f.facet,
        |  p_partkey::VARCHAR || '-' || f.facet AS slab_key
        |FROM part CROSS JOIN (VALUES (0, '100'), (1, '110'), (2, '111')) f(facet_idx, facet)""".stripMargin,

    "q_count" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
        |  count(DISTINCT l_orderkey)::BIGINT AS n_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the HLL sketch value is engine-specific; what IS cross-engine
    // checkable is the exact count and the (deterministic, fixed-data)
    // fact that Spark's sketch lands within the 3·rsd error bound —
    // the oracle asserts that fact as literal TRUE
    "q_approx_distinct" ->
      """SELECT lang, count(DISTINCT text)::BIGINT AS exact_nd, TRUE AS within_bound
        |FROM documents GROUP BY lang""".stripMargin,

    "q_data_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
           |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM lineitem""".stripMargin
      def str(c: String) =
        s"""SELECT '$c', count(*)::BIGINT,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT,
           |  count(DISTINCT $c)::BIGINT,
           |  NULL::DOUBLE, NULL::DOUBLE, min($c), max($c) FROM lineitem""".stripMargin
      def other(c: String) =
        s"""SELECT '$c', count(*)::BIGINT,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT,
           |  count(DISTINCT $c)::BIGINT,
           |  NULL::DOUBLE, NULL::DOUBLE, NULL::VARCHAR, NULL::VARCHAR FROM lineitem""".stripMargin
      Seq(num("l_orderkey"), num("l_quantity"), num("l_extendedprice"),
        str("l_returnflag"), other("l_shipdate")).mkString("\nUNION ALL\n")
    },

    "q_k_anon" ->
      """SELECT c_nationkey, c_mktsegment,
        |  floor(c_acctbal / 1000.0)::BIGINT AS acct_band,
        |  count(*)::BIGINT AS group_size
        |FROM customer
        |GROUP BY 1, 2, 3
        |HAVING count(*) < 10""".stripMargin,

    // the composed stages are the q_gopher_rules / q_dedup_exact /
    // q_lang_id oracles chained; every emitted value is an integer
    "q_curation_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, text, source, n_chars,
        |    list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(words)::BIGINT AS n_words,
        |    coalesce(list_sum(list_transform(words, w -> length(w))), 0)::BIGINT AS sum_word_len,
        |    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS n_alpha_words,
        |    ((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS n_symbols,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |        s -> list_contains(list_transform(words, w -> lower(w)), s)))::BIGINT AS n_stopwords
        |  FROM t),
        |keep AS (
        |  SELECT t.doc_id, t.text, t.source, t.n_chars, t.words, c.n_words
        |  FROM t JOIN c USING (doc_id)
        |  WHERE c.n_words >= 50 AND c.n_words <= 100000
        |    AND c.sum_word_len >= 3 * c.n_words AND c.sum_word_len <= 10 * c.n_words
        |    AND 10 * c.n_symbols <= c.n_words
        |    AND 5 * c.n_alpha_words >= 4 * c.n_words
        |    AND c.n_stopwords >= 0),
        |u AS (
        |  SELECT k.* FROM keep k
        |  JOIN (SELECT min(doc_id) AS doc_id FROM keep GROUP BY md5(text)) r USING (doc_id)),
        |l AS (
        |  SELECT doc_id,
        |    CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
        |         WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS lang_pred
        |  FROM (SELECT doc_id,
        |      len(list_filter(words, x -> list_contains(['the','a','of','and'], lower(x))))::BIGINT AS s_en,
        |      len(list_filter(words, x -> list_contains(['el','la','de','y'], lower(x))))::BIGINT AS s_es,
        |      len(list_filter(words, x -> list_contains(['der','die','das','und'], lower(x))))::BIGINT AS s_de
        |    FROM u))
        |SELECT l.lang_pred, u.source, count(*)::BIGINT AS n_docs,
        |  sum(u.n_words)::BIGINT AS n_tokens, sum(u.n_chars)::BIGINT AS n_chars
        |FROM u JOIN l USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,

    "q_jsonl_ingest" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  count(DISTINCT user_id)::BIGINT AS n_users,
        |  CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1""".stripMargin,

    "q_csv_ingest" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n,
        |  min(c_custkey)::BIGINT AS min_key, max(c_custkey)::BIGINT AS max_key,
        |  CAST(SUM(CAST(round(c_acctbal, 2) AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM customer GROUP BY 1""".stripMargin,

    "q_merge_upsert" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 101 = 0),
        |merged AS (
        |  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT * FROM upd)
        |SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM merged GROUP BY 1""".stripMargin,

    "q_orc_ingest" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders WHERE o_totalprice > 150000.0 GROUP BY 1""".stripMargin,

    // the AS-OF-v1 read must see the pre-merge table exactly
    "q_time_travel" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders GROUP BY 1""".stripMargin,

    "q_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 1 AS b_present FROM orders),
        |next0 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 89 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 101 = 0),
        |next AS (SELECT *, 1 AS n_present FROM next0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       CASE WHEN o.b_present IS NULL THEN 'added'
        |            WHEN n.n_present IS NULL THEN 'removed'
        |            ELSE 'changed' END AS change_type
        |FROM base o FULL OUTER JOIN next n
        |  ON o.o_orderkey IS NOT DISTINCT FROM n.o_orderkey
        |WHERE o.b_present IS NULL OR n.n_present IS NULL
        |   OR o.o_custkey IS DISTINCT FROM n.o_custkey
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice""".stripMargin,

    "q_incr_agg" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1""".stripMargin,

    "q_compact_files" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1""".stripMargin,

    // sketch estimates are engine-specific; the exact count and the
    // error-bound FACT are not (the q_approx_distinct contract)
    "q_hll_merge" ->
      """WITH e AS (SELECT event_type, user_id,
        |  ((epoch_us(ts)::BIGINT // 604800000000)
        |    - CASE WHEN epoch_us(ts)::BIGINT % 604800000000 < 0 THEN 1 ELSE 0 END) AS week
        |  FROM events)
        |SELECT event_type, week, count(DISTINCT user_id)::BIGINT AS exact_nd,
        |  TRUE AS within_bound
        |FROM e GROUP BY 1, 2""".stripMargin,

    "q_bucket_join" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_psi_drift" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts)::BIGINT AS us FROM events
        |          WHERE value IS NOT NULL AND isfinite(value)),
        |s AS (SELECT ((min(us) + max(us)) // 2) AS mid,
        |             min(value) AS vmn, max(value) AS vmx FROM e),
        |binned AS (
        |  SELECT event_type AS grp,
        |    CASE WHEN s.vmx = s.vmn THEN 0::BIGINT
        |         ELSE least(9::BIGINT, floor((value - s.vmn) * 10 / (s.vmx - s.vmn))::BIGINT)
        |    END AS bin,
        |    (us <= s.mid) AS is_first
        |  FROM e, s),
        |counts AS (
        |  SELECT grp, bin,
        |    sum(CASE WHEN is_first THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN NOT is_first THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM binned GROUP BY 1, 2),
        |tot AS (SELECT grp, sum(a)::BIGINT AS n_first, sum(b)::BIGINT AS m_second
        |        FROM counts GROUP BY 1),
        |dense AS (
        |  SELECT t.grp, gs.bin, coalesce(c.a, 0)::BIGINT AS a,
        |         coalesce(c.b, 0)::BIGINT AS b, t.n_first, t.m_second
        |  FROM tot t
        |  CROSS JOIN (SELECT unnest(range(0, 10))::BIGINT AS bin) gs
        |  LEFT JOIN counts c ON c.grp = t.grp AND c.bin = gs.bin)
        |SELECT grp AS event_type, bin, a, b,
        |  ((a + 1) * (m_second + 10) - (b + 1) * (n_first + 10))::BIGINT AS diff_num,
        |  ((n_first + 10) * (m_second + 10))::BIGINT AS den,
        |  (round(ln((a + 1)::DOUBLE), 6)::DECIMAL(18,6)
        |   + round(ln((m_second + 10)::DOUBLE), 6)::DECIMAL(18,6)
        |   - round(ln((b + 1)::DOUBLE), 6)::DECIMAL(18,6)
        |   - round(ln((n_first + 10)::DOUBLE), 6)::DECIMAL(18,6))::DOUBLE AS ln_term
        |FROM dense""".stripMargin,

    // binned KS over the same half-split/equi-width binning as PSI
    // (64 bins); d_num = max cumulative |cumA·M − cumB·N| stays
    // integer-exact, D = d_num/(N·M) is the caller's division
    "q_ks_drift" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts)::BIGINT AS us FROM events
        |          WHERE value IS NOT NULL AND isfinite(value)),
        |s AS (SELECT ((min(us) + max(us)) // 2) AS mid,
        |             min(value) AS vmn, max(value) AS vmx FROM e),
        |binned AS (
        |  SELECT event_type AS grp,
        |    CASE WHEN s.vmx = s.vmn THEN 0::BIGINT
        |         ELSE least(63::BIGINT, floor((value - s.vmn) * 64 / (s.vmx - s.vmn))::BIGINT)
        |    END AS bin,
        |    (us <= s.mid) AS is_first
        |  FROM e, s),
        |counts AS (
        |  SELECT grp, bin,
        |    sum(CASE WHEN is_first THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN NOT is_first THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM binned GROUP BY 1, 2),
        |tot AS (SELECT grp, sum(a)::BIGINT AS n_first, sum(b)::BIGINT AS m_second
        |        FROM counts GROUP BY 1),
        |dense AS (
        |  SELECT t.grp, gs.bin, coalesce(c.a, 0)::BIGINT AS a,
        |         coalesce(c.b, 0)::BIGINT AS b, t.n_first, t.m_second
        |  FROM tot t
        |  CROSS JOIN (SELECT unnest(range(0, 64))::BIGINT AS bin) gs
        |  LEFT JOIN counts c ON c.grp = t.grp AND c.bin = gs.bin),
        |cum AS (
        |  SELECT grp, n_first, m_second,
        |    abs(sum(a) OVER (PARTITION BY grp ORDER BY bin
        |                     ROWS UNBOUNDED PRECEDING) * m_second
        |      - sum(b) OVER (PARTITION BY grp ORDER BY bin
        |                     ROWS UNBOUNDED PRECEDING) * n_first) AS gap
        |  FROM dense)
        |SELECT grp AS event_type, n_first, m_second, max(gap)::BIGINT AS d_num
        |FROM cum GROUP BY 1, 2, 3""".stripMargin,

    // per-day KS vs the frozen whole-table reference (16 bins); the
    // clamped CASE is binColumn's out-of-range contract, vacuous here
    // since the reference range IS the table range
    "q_drift_by_day" ->
      """WITH e AS (SELECT event_type AS grp, value, epoch_us(ts)::BIGINT AS us FROM events
        |          WHERE value IS NOT NULL AND isfinite(value)),
        |s AS (SELECT min(value) AS vmn, max(value) AS vmx FROM e),
        |b AS (SELECT grp, strftime(make_timestamp(us), '%Y-%m-%d') AS bucket,
        |        CASE WHEN s.vmx = s.vmn THEN 0::BIGINT
        |             ELSE least(15::BIGINT, greatest(0::BIGINT,
        |                    floor((value - s.vmn) * 16 / (s.vmx - s.vmn))::BIGINT))
        |        END AS bin
        |      FROM e, s),
        |ref AS (SELECT grp, bin, count(*)::BIGINT AS ref_cnt FROM b GROUP BY 1, 2),
        |reftot AS (SELECT grp, sum(ref_cnt)::BIGINT AS n_ref FROM ref GROUP BY 1),
        |refdense AS (
        |  SELECT t.grp, gs.bin, coalesce(r.ref_cnt, 0)::BIGINT AS ref_cnt, t.n_ref
        |  FROM reftot t
        |  CROSS JOIN (SELECT unnest(range(0, 16))::BIGINT AS bin) gs
        |  LEFT JOIN ref r ON r.grp = t.grp AND r.bin = gs.bin),
        |wc AS (SELECT bucket, grp, bin, count(*)::BIGINT AS cnt FROM b GROUP BY 1, 2, 3),
        |scaffold AS (
        |  SELECT w.bucket, d.grp, d.bin, d.ref_cnt, d.n_ref
        |  FROM (SELECT DISTINCT bucket, grp FROM wc) w
        |  JOIN refdense d ON d.grp = w.grp),
        |j AS (
        |  SELECT sc.bucket, sc.grp, sc.bin, sc.ref_cnt, sc.n_ref,
        |         coalesce(c.cnt, 0)::BIGINT AS cnt
        |  FROM scaffold sc
        |  LEFT JOIN wc c ON c.bucket = sc.bucket AND c.grp = sc.grp AND c.bin = sc.bin),
        |cum AS (
        |  SELECT bucket, grp, n_ref,
        |    sum(cnt) OVER (PARTITION BY bucket, grp) AS n_win,
        |    abs(sum(cnt) OVER (PARTITION BY bucket, grp ORDER BY bin
        |                       ROWS UNBOUNDED PRECEDING) * n_ref
        |      - sum(ref_cnt) OVER (PARTITION BY bucket, grp ORDER BY bin
        |                           ROWS UNBOUNDED PRECEDING)
        |        * sum(cnt) OVER (PARTITION BY bucket, grp)) AS gap
        |  FROM j)
        |SELECT bucket, grp, n_win::BIGINT AS n_win, n_ref, max(gap)::BIGINT AS d_num
        |FROM cum GROUP BY 1, 2, 3, 4""".stripMargin,

    "q_pareto_front" ->
      """WITH m AS (SELECT p_size, min(p_retailprice) AS mp FROM part GROUP BY 1),
        |r AS (SELECT p_size, mp,
        |        min(mp) OVER (ORDER BY p_size DESC
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmin
        |      FROM m)
        |SELECT p.p_partkey, p.p_size, p.p_retailprice
        |FROM part p JOIN r ON p.p_size = r.p_size AND p.p_retailprice = r.mp
        |WHERE r.runmin IS NULL OR r.mp < r.runmin""".stripMargin,

    "q_inverted_index" ->
      """WITH pairs AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT token, count(*)::BIGINT AS df,
        |  array_to_string(list_transform(
        |    list_slice(list(doc_id ORDER BY doc_id), 1, 50), x -> x::VARCHAR), ',') AS postings_head
        |FROM pairs GROUP BY token HAVING count(*) >= 10""".stripMargin,

    // exact two-pass heavy hitters equal plain group-count-having;
    // ceil(0.004·N) is the same IEEE double on both engines, so the
    // threshold comparison cannot straddle a boundary
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS value
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT value, count(*)::BIGINT AS cnt
        |FROM toks, tot
        |GROUP BY value, tot.n
        |HAVING count(*) >= ceil(0.004 * tot.n)""".stripMargin,

    "q_resample_ffill" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us, value FROM events),
        |s AS (SELECT user_id,
        |        ((us // 86400000000) - CASE WHEN us % 86400000000 < 0 THEN 1 ELSE 0 END) AS slot,
        |        us, event_id, value FROM e),
        |lastps AS (
        |  SELECT user_id, slot, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, slot
        |                                 ORDER BY us DESC, event_id DESC) AS rn
        |    FROM s) WHERE rn = 1),
        |bounds AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM s GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot FROM bounds),
        |j AS (SELECT g.user_id, g.slot, l.value
        |      FROM grid g LEFT JOIN lastps l ON g.user_id = l.user_id AND g.slot = l.slot)
        |SELECT user_id, slot,
        |  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
        |FROM j""".stripMargin,

    "q_equidepth_hist" ->
      """SELECT bucket, min(value) AS lo, max(value) AS hi, count(*)::BIGINT AS n
        |FROM (SELECT value,
        |        ntile(10) OVER (ORDER BY value, event_id) AS bucket
        |      FROM events)
        |GROUP BY bucket""".stripMargin,

    // fact-contract twin: DuckDB computes the SAME facts on its own
    // EXACT tiling (ntile) — the booleans are data-derived on both
    // engines, not asserted; both tilings land inside the balance band
    "q_equidepth_hist_approx" ->
      """WITH h AS (
        |  SELECT bucket, count(*)::BIGINT AS n
        |  FROM (SELECT ntile(10) OVER (ORDER BY value, event_id) AS bucket
        |        FROM events)
        |  GROUP BY bucket)
        |SELECT (SELECT count(*) <= 10 FROM h) AS buckets_ok,
        |  (SELECT sum(n) FROM h)::BIGINT AS total_n,
        |  (SELECT min(value) FROM events) AS min_v,
        |  (SELECT max(value) FROM events) AS max_v,
        |  (SELECT max(n)::DOUBLE <= sum(n)::DOUBLE * 0.15 FROM h) AS balance_ok""".stripMargin,

    // same fact-contract style: exact-ntile RFM (the q_rfm_segments
    // construction) supplies DuckDB's own segment facts
    "q_rfm_segments_approx" ->
      """WITH u AS (
        |  SELECT user_id, max(epoch_us(ts)::BIGINT) AS recency_us,
        |    count(*)::BIGINT AS frequency,
        |    CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT ntile(5) OVER (ORDER BY recency_us, user_id) AS r_seg,
        |         ntile(5) OVER (ORDER BY frequency, user_id) AS f_seg,
        |         ntile(5) OVER (ORDER BY monetary, user_id) AS m_seg
        |  FROM u)
        |SELECT (SELECT min(least(r_seg, f_seg, m_seg)) >= 1
        |          AND max(greatest(r_seg, f_seg, m_seg)) <= 5 FROM s) AS segs_in_range,
        |  (SELECT count(*) FROM s)::BIGINT AS n_users,
        |  (SELECT max(n)::DOUBLE <= sum(n)::DOUBLE * 0.3
        |   FROM (SELECT m_seg, count(*) AS n FROM s GROUP BY 1)) AS m_balance_ok""".stripMargin,

    "q_markov_transitions" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |                  epoch_us(ts)::BIGINT AS us FROM events),
        |p AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY us, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*)::BIGINT AS cnt
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        |  sum(cnt) OVER (PARTITION BY from_type)::BIGINT AS from_total
        |FROM c""".stripMargin,

    "q_rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id, max(epoch_us(ts)::BIGINT) AS recency_us,
        |    count(*)::BIGINT AS frequency,
        |    CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY 1)
        |SELECT user_id, recency_us, frequency, monetary,
        |  ntile(5) OVER (ORDER BY recency_us, user_id)::BIGINT AS r_seg,
        |  ntile(5) OVER (ORDER BY frequency, user_id)::BIGINT AS f_seg,
        |  ntile(5) OVER (ORDER BY monetary, user_id)::BIGINT AS m_seg
        |FROM u""".stripMargin,

    "q_last_per_group" ->
      """SELECT user_id, event_id, event_type, value, epoch_us(ts)::BIGINT AS ts_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle for the union-merge form
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id,
        |  epoch_us(p.ts)::BIGINT AS p_us, epoch_us(c.ts)::BIGINT AS asof_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "q_range_join" ->
      """SELECT e.event_id, count(c.ts)::BIGINT AS n_in_window
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        |LEFT JOIN (SELECT ts FROM events WHERE event_type = 'click') c
        |  ON c.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts + INTERVAL 5 MINUTE
        |GROUP BY 1""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(round(value,2) AS DECIMAL(18,2))) FILTER (WHERE event_type='click') AS DOUBLE) AS click_sum,
        |  CAST(SUM(CAST(round(value,2) AS DECIMAL(18,2))) FILTER (WHERE event_type='view') AS DOUBLE) AS view_sum,
        |  CAST(SUM(CAST(round(value,2) AS DECIMAL(18,2))) FILTER (WHERE event_type='purchase') AS DOUBLE) AS purchase_sum,
        |  CAST(SUM(CAST(round(value,2) AS DECIMAL(18,2))) FILTER (WHERE event_type='signup') AS DOUBLE) AS signup_sum,
        |  CAST(SUM(CAST(round(value,2) AS DECIMAL(18,2))) FILTER (WHERE event_type='error') AS DOUBLE) AS error_sum
        |FROM events GROUP BY user_id""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us FROM events),
        |f AS (SELECT user_id, event_id, us,
        |        CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |      FROM f)
        |SELECT user_id, session_seq::BIGINT AS session_seq, count(*)::BIGINT AS n_events,
        |  min(us) AS start_us, max(us) AS end_us, max(us) - min(us) AS dur_us
        |FROM s GROUP BY 1, 2""".stripMargin,

    // MAD rule with round-6 median/MAD (interpolated percentiles are
    // the cross-engine ulp risk; comparisons then run on identical
    // doubles)
    "q_mad_outliers" ->
      """WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |             FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type, round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |        FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |  abs(e.value - m.med) > 3.0 * d.mad AS is_outlier
        |FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)""".stripMargin,

    // exact long cents x exact long interval: integer->double is
    // correctly rounded on every engine (the decimal->double path
    // drifted a ulp on 31/150 rows), so the quotient is bit-identical
    "q_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us,
        |             (CAST(round(value, 2) AS DECIMAL(18,2)) * 100)::BIGINT AS cents
        |           FROM events),
        |i AS (SELECT user_id, cents, us,
        |        lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
        |      FROM e)
        |SELECT user_id,
        |  CASE WHEN sum(next_us - us) = 0 THEN NULL
        |       ELSE CAST(sum(cents * (next_us - us)) AS DOUBLE)
        |              / CAST(sum(next_us - us) AS DOUBLE) / 100.0 END AS twa,
        |  count(*)::BIGINT AS n_intervals
        |FROM i WHERE next_us IS NOT NULL GROUP BY 1""".stripMargin,

    // 3-step funnel: earliest chain signup -> click -> purchase where
    // each step strictly follows the previous, all within 7 days of t1
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1_us FROM e WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2_us
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1_us AND us <= t1_us + 604800000000
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3_us
        |       FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2_us AND us <= t1_us + 604800000000
        |       GROUP BY 1)
        |SELECT s1.user_id, t1_us, t2_us, t3_us,
        |  (1 + CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END)::BIGINT AS steps
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    // cohort retention: users per (first-event week, week offset)
    "q_cohort" ->
      """WITH e AS (SELECT user_id, epoch_us(ts)::BIGINT // 604800000000 AS week FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_week, e.week - f.cohort_week AS week_offset
        |      FROM e JOIN f USING (user_id))
        |SELECT cohort_week, week_offset, count(*)::BIGINT AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin,

    // SCD2 history: change rows (value vs lag) stamped with
    // [valid_from, valid_to) ranges via lead over the change rows
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts)::BIGINT AS us FROM events),
        |ch AS (SELECT user_id, event_id, value, us,
        |         lag(value) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pv,
        |         row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        |       FROM e),
        |k AS (SELECT user_id, event_id, value, us FROM ch
        |      WHERE rn = 1 OR value IS DISTINCT FROM pv)
        |SELECT user_id, value, us AS valid_from_us,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL AS is_current
        |FROM k""".stripMargin,

    "q_group_baseline_diff" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |  l_quantity - max(CASE WHEN l_linenumber = 1 THEN l_quantity END)
        |    OVER (PARTITION BY l_orderkey) AS qty_diff
        |FROM lineitem""".stripMargin,

    "q_regr_fit" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  regr_count(l_extendedprice, l_quantity)::BIGINT AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS bucket, event_type,
        |  count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(value,2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk::BIGINT AS rk
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q_histogram" ->
      """SELECT floor(l_quantity / 5.0)::BIGINT AS bucket, count(*)::BIGINT AS n,
        |  CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_union" ->
      """SELECT c_custkey AS entity_key, c_name AS name, c_acctbal AS acctbal, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier""".stripMargin,

    // ordered string agg over the top-5 per nation; members sort
    // lexicographically (collect order is shuffle-dependent on any
    // engine — sorting the collected set is the deterministic form)
    "q_group_concat" ->
      """WITH t AS (
        |  SELECT c_nationkey, c_name,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer)
        |SELECT c_nationkey, count(*)::BIGINT AS n_members,
        |  string_agg(c_name, ',' ORDER BY c_name) AS members
        |FROM t WHERE rk <= 5 GROUP BY 1""".stripMargin,

    "q_intersect" ->
      """SELECT c_custkey AS k FROM customer
        |INTERSECT
        |SELECT o_custkey FROM orders""".stripMargin,

    // filtered difference: the raw key sets are referentially complete
    // (empty EXCEPT = no check at all)
    "q_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 400000""".stripMargin,

    "q_dedup" ->
      "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem",

    "q_window_dedup" ->
      """SELECT user_id, event_type, win, event_id, us FROM (
        |  SELECT user_id, event_type,
        |    (epoch_us(ts)::BIGINT // 3600000000
        |      - CASE WHEN epoch_us(ts)::BIGINT % 3600000000 < 0 THEN 1 ELSE 0 END) AS win,
        |    event_id, epoch_us(ts)::BIGINT AS us,
        |    row_number() OVER (PARTITION BY user_id, event_type,
        |        (epoch_us(ts)::BIGINT // 3600000000
        |          - CASE WHEN epoch_us(ts)::BIGINT % 3600000000 < 0 THEN 1 ELSE 0 END)
        |                       ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin,

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber::BIGINT, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber::BIGINT, 'l_discount', l_discount FROM lineitem""".stripMargin,

    "q_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin,

    "q_dedup_keyed" ->
      """SELECT l_partkey,
        |  min_by(l_extendedprice, l_orderkey * 1048576 + l_linenumber) AS first_price,
        |  min(l_orderkey * 1048576 + l_linenumber)::BIGINT AS first_ord
        |FROM lineitem GROUP BY l_partkey""".stripMargin,

    "q_render_text" ->
      """SELECT p_brand,
        |  string_agg(line, chr(10) ORDER BY line) AS deck,
        |  count(*)::BIGINT AS n_lines
        |FROM (SELECT p_brand,
        |        printf('ion %s %f %f %d', regexp_extract(p_name, '^(\w+)', 1),
        |               p_retailprice, p_retailprice * 1.88973, p_partkey) AS line
        |      FROM part)
        |GROUP BY p_brand""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "q_minhash_sig" ->
      """WITH c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |p AS (SELECT range AS hid, 2*range + 1 AS a, 101*range + 7 AS b FROM range(16))
        |SELECT c.doc_id, p.hid::BIGINT AS hid, min((c.code * p.a + p.b) % 2147483647)::BIGINT AS mh
        |FROM c CROSS JOIN p GROUP BY 1, 2""".stripMargin,

    "q_minhash_lsh_pairs" ->
      """WITH c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |p AS (SELECT range AS hid, 2*range + 1 AS a, 101*range + 7 AS b FROM range(16)),
        |sig AS (SELECT c.doc_id, p.hid, min((c.code * p.a + p.b) % 2147483647) AS mh
        |        FROM c CROSS JOIN p GROUP BY 1, 2),
        |bands AS (SELECT doc_id, hid // 4 AS band,
        |            md5(string_agg(hid::VARCHAR || ':' || mh::VARCHAR, ',' ORDER BY hid)) AS bkey
        |          FROM sig GROUP BY 1, 2)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id""".stripMargin,

    // the full banding pair set restricted to pairs touching the
    // fresh quarter (doc_id % 4 = 0) — the incremental screen's
    // declared equivalence
    "q_incremental_dedup" ->
      """WITH c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |p AS (SELECT range AS hid, 2*range + 1 AS a, 101*range + 7 AS b FROM range(16)),
        |sig AS (SELECT c.doc_id, p.hid, min((c.code * p.a + p.b) % 2147483647) AS mh
        |        FROM c CROSS JOIN p GROUP BY 1, 2),
        |bands AS (SELECT doc_id, hid // 4 AS band,
        |            md5(string_agg(hid::VARCHAR || ':' || mh::VARCHAR, ',' ORDER BY hid)) AS bkey
        |          FROM sig GROUP BY 1, 2)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        |WHERE x.doc_id % 4 = 0 OR y.doc_id % 4 = 0""".stripMargin,

    "q_dedup_clusters" ->
      """WITH c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |p AS (SELECT range AS hid, 2*range + 1 AS a, 101*range + 7 AS b FROM range(16)),
        |sig AS (SELECT c.doc_id, p.hid, min((c.code * p.a + p.b) % 2147483647) AS mh
        |        FROM c CROSS JOIN p GROUP BY 1, 2),
        |fullsig AS (SELECT doc_id, string_agg(hid::VARCHAR || ':' || mh::VARCHAR, ',' ORDER BY hid) AS sig_str
        |            FROM sig GROUP BY 1)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY sig_str) AS rep_id,
        |  count(*) OVER (PARTITION BY sig_str)::BIGINT AS cluster_size
        |FROM fullsig""".stripMargin,

    "q_jaccard_clusters" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars // 64 AS bkt,
        |    list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY lang, bkt, array_to_string(list_sort(toks), ' ')) AS rep_id,
        |  count(*) OVER (PARTITION BY lang, bkt, array_to_string(list_sort(toks), ' '))::BIGINT AS cluster_size
        |FROM t WHERE len(toks) > 0""".stripMargin,

    // transitive min-reachable closure (WITH RECURSIVE) over the same
    // rep-collapsed near-dup graph; the UNION-distinct closure is the
    // SQL-expressible truth the iterative Spark propagation must match
    "q_connected_components" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, lang, n_chars // 64 AS bkt,
        |        list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS toks
        |      FROM documents),
        |tk AS (SELECT doc_id, lang, bkt, toks,
        |         lang || ':' || bkt::VARCHAR || ':' || array_to_string(list_sort(toks), ' ') AS skey
        |       FROM t WHERE len(toks) > 0),
        |ds AS (SELECT skey, min(doc_id) AS rep_id, any_value(lang) AS lang,
        |              any_value(bkt) AS bkt, any_value(toks) AS toks
        |       FROM tk GROUP BY skey),
        |rp AS (SELECT least(a.rep_id, b.rep_id) AS ra, greatest(a.rep_id, b.rep_id) AS rb
        |       FROM ds a JOIN ds b ON a.lang = b.lang AND a.bkt = b.bkt AND a.skey < b.skey
        |       WHERE round(len(list_intersect(a.toks, b.toks))::DOUBLE
        |             / len(list_distinct(a.toks || b.toks)), 6) >= 0.8),
        |e AS (SELECT ra AS src, rb AS dst FROM rp UNION ALL SELECT rb, ra FROM rp),
        |reach(node, r) AS (
        |  SELECT rep_id, rep_id FROM ds
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node),
        |rc AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
        |cl AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY skey) AS rep_id FROM tk)
        |SELECT d.doc_id, coalesce(rc.comp, cl.rep_id, d.doc_id)::BIGINT AS component
        |FROM documents d
        |LEFT JOIN cl ON d.doc_id = cl.doc_id
        |LEFT JOIN rc ON cl.rep_id = rc.node""".stripMargin,

    // MinHash components: banding candidates between signature reps,
    // confirmed by >= 12/16 agreeing minhash positions, closed
    // transitively with the same recursive min-reachability CTE as
    // q_connected_components
    "q_minhash_components" ->
      """WITH RECURSIVE
        |c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |p AS (SELECT range AS hid, 2*range + 1 AS a, 101*range + 7 AS b FROM range(16)),
        |sig AS (SELECT c.doc_id, p.hid, min((c.code * p.a + p.b) % 2147483647) AS mh
        |        FROM c CROSS JOIN p GROUP BY 1, 2),
        |fullsig AS (SELECT doc_id, string_agg(hid::VARCHAR || ':' || mh::VARCHAR, ',' ORDER BY hid) AS sig_str
        |            FROM sig GROUP BY 1),
        |srep AS (SELECT sig_str, min(doc_id) AS rep_id FROM fullsig GROUP BY 1),
        |bands AS (SELECT doc_id, hid // 4 AS band,
        |            md5(string_agg(hid::VARCHAR || ':' || mh::VARCHAR, ',' ORDER BY hid)) AS bkey
        |          FROM sig WHERE doc_id IN (SELECT rep_id FROM srep) GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS ra, y.doc_id AS rb
        |         FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |conf AS (SELECT ca.ra, ca.rb
        |         FROM cand ca JOIN sig sa ON sa.doc_id = ca.ra
        |                      JOIN sig sb ON sb.doc_id = ca.rb AND sa.hid = sb.hid
        |         GROUP BY 1, 2
        |         HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= 12),
        |e AS (SELECT ra AS src, rb AS dst FROM conf UNION ALL SELECT rb, ra FROM conf),
        |reach(node, r) AS (
        |  SELECT rep_id, rep_id FROM srep
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node),
        |rc AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
        |cl AS (SELECT f.doc_id, s.rep_id FROM fullsig f JOIN srep s USING (sig_str))
        |SELECT d.doc_id, coalesce(rc.comp, cl.rep_id, d.doc_id)::BIGINT AS component
        |FROM documents d
        |LEFT JOIN cl ON d.doc_id = cl.doc_id
        |LEFT JOIN rc ON cl.rep_id = rc.node""".stripMargin,

    // SimHash components: Hamming-confirmed fingerprint edges between
    // min-doc reps, closed with the same recursive min-reachability
    // CTE as the other cluster-family oracles
    "q_simhash_components" ->
      """WITH RECURSIVE
        |c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |bts AS (SELECT range AS bit, (1::BIGINT << range) AS w FROM range(32)),
        |s AS (SELECT doc_id, bit, w, sum(2 * ((code >> bit) & 1) - 1) AS sgn
        |      FROM c CROSS JOIN bts GROUP BY 1, 2, 3),
        |sh AS (SELECT doc_id, sum(CASE WHEN sgn > 0 THEN w ELSE 0 END)::BIGINT AS simhash
        |       FROM s GROUP BY 1),
        |srep AS (SELECT simhash, min(doc_id) AS rep_id FROM sh GROUP BY 1),
        |bands AS (SELECT simhash, range AS band, (simhash >> (range::INT * 8)) & 255 AS bkey
        |          FROM srep CROSS JOIN range(4)),
        |fp_ok AS (
        |  SELECT fa, fb FROM (
        |    SELECT DISTINCT x.simhash AS fa, y.simhash AS fb
        |    FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.simhash < y.simhash)
        |  WHERE bit_count(xor(fa, fb)) <= 1),
        |conf AS (SELECT least(a.rep_id, b.rep_id) AS ra, greatest(a.rep_id, b.rep_id) AS rb
        |         FROM fp_ok k JOIN srep a ON k.fa = a.simhash JOIN srep b ON k.fb = b.simhash),
        |e AS (SELECT ra AS src, rb AS dst FROM conf UNION ALL SELECT rb, ra FROM conf),
        |reach(node, r) AS (
        |  SELECT rep_id, rep_id FROM srep
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node),
        |rc AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
        |cl AS (SELECT sh.doc_id, srep.rep_id FROM sh JOIN srep USING (simhash))
        |SELECT d.doc_id, coalesce(rc.comp, cl.rep_id, d.doc_id)::BIGINT AS component
        |FROM documents d
        |LEFT JOIN cl ON d.doc_id = cl.doc_id
        |LEFT JOIN rc ON cl.rep_id = rc.node""".stripMargin,

    "q_simhash" ->
      """WITH c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |bts AS (SELECT range AS bit, (1::BIGINT << range) AS w FROM range(32)),
        |s AS (SELECT doc_id, bit, w, sum(2 * ((code >> bit) & 1) - 1) AS sgn
        |      FROM c CROSS JOIN bts GROUP BY 1, 2, 3)
        |SELECT doc_id, sum(CASE WHEN sgn > 0 THEN w ELSE 0 END)::BIGINT AS simhash
        |FROM s GROUP BY 1""".stripMargin,

    // fingerprint-collapsed banded simhash: distinct fingerprints
    // band-join (8-bit bands recall any pair within hamming 3),
    // identical-fingerprint clusters expand separately at hamming 0
    "q_simhash_neardup" ->
      """WITH c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |bts AS (SELECT range AS bit, (1::BIGINT << range) AS w FROM range(32)),
        |s AS (SELECT doc_id, bit, w, sum(2 * ((code >> bit) & 1) - 1) AS sgn
        |      FROM c CROSS JOIN bts GROUP BY 1, 2, 3),
        |sh AS (SELECT doc_id, sum(CASE WHEN sgn > 0 THEN w ELSE 0 END)::BIGINT AS simhash
        |       FROM s GROUP BY 1),
        |fps AS (SELECT DISTINCT simhash FROM sh),
        |bands AS (SELECT simhash, range AS band, (simhash >> (range::INT * 8)) & 255 AS bkey
        |          FROM fps CROSS JOIN range(4)),
        |fp_ok AS (
        |  SELECT fa, fb, bit_count(xor(fa, fb))::BIGINT AS hamming FROM (
        |    SELECT DISTINCT x.simhash AS fa, y.simhash AS fb
        |    FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.simhash < y.simhash)
        |  WHERE bit_count(xor(fa, fb)) <= 1),
        |intra AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0::BIGINT AS hamming
        |          FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.doc_id < b.doc_id),
        |crossp AS (SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b, k.hamming
        |           FROM fp_ok k JOIN sh a ON k.fa = a.simhash JOIN sh b ON k.fb = b.simhash)
        |SELECT * FROM intra UNION ALL SELECT * FROM crossp""".stripMargin,

    // same pair pipeline as q_simhash_neardup, rolled into a degree
    // histogram over ALL documents (degree-0 rows included)
    "q_degree_hist" ->
      """WITH c AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS code
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS tok
        |        FROM documents)),
        |bts AS (SELECT range AS bit, (1::BIGINT << range) AS w FROM range(32)),
        |s AS (SELECT doc_id, bit, w, sum(2 * ((code >> bit) & 1) - 1) AS sgn
        |      FROM c CROSS JOIN bts GROUP BY 1, 2, 3),
        |sh AS (SELECT doc_id, sum(CASE WHEN sgn > 0 THEN w ELSE 0 END)::BIGINT AS simhash
        |       FROM s GROUP BY 1),
        |fps AS (SELECT DISTINCT simhash FROM sh),
        |bands AS (SELECT simhash, range AS band, (simhash >> (range::INT * 8)) & 255 AS bkey
        |          FROM fps CROSS JOIN range(4)),
        |fp_ok AS (
        |  SELECT fa, fb FROM (
        |    SELECT DISTINCT x.simhash AS fa, y.simhash AS fb
        |    FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.simhash < y.simhash)
        |  WHERE bit_count(xor(fa, fb)) <= 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
        |  FROM fp_ok k JOIN sh a ON k.fa = a.simhash JOIN sh b ON k.fb = b.simhash),
        |deg AS (SELECT doc_id, count(*)::BIGINT AS degree FROM (
        |          SELECT doc_a AS doc_id FROM pairs
        |          UNION ALL SELECT doc_b FROM pairs) GROUP BY 1),
        |alld AS (SELECT d.doc_id, coalesce(g.degree, 0)::BIGINT AS degree
        |         FROM documents d LEFT JOIN deg g USING (doc_id))
        |SELECT degree, count(*)::BIGINT AS n_nodes FROM alld GROUP BY 1""".stripMargin,

    "q_jaccard_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars // 64 AS bkt,
        |    list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS toks
        |  FROM documents)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.toks, b.toks))::DOUBLE
        |          / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k_val FROM events""",

    // prefix-blocked (first 8 chars must match) — the record-linkage
    // candidate cut that keeps the quadratic term near-linear
    "q_edit_distance" ->
      """WITH t AS (SELECT doc_id, lang, n_chars // 64 AS bkt, substr(text, 1, 64) AS p
        |           FROM documents)
        |SELECT doc_a, doc_b, dist FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    levenshtein(a.p, b.p)::BIGINT AS dist
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.bkt = b.bkt
        |    AND substr(a.p, 1, 8) = substr(b.p, 1, 8) AND a.doc_id < b.doc_id)
        |WHERE dist <= 20""".stripMargin,

    // same blocks as q_edit_distance; similarity from DuckDB's native
    // jaro_winkler_similarity (semantics empirically pinned: floored
    // transpositions, 0.7 gate, 4-char prefix cap, empties -> 0)
    "q_jaro_winkler" ->
      """WITH t AS (SELECT doc_id, lang, n_chars // 64 AS bkt, substr(text, 1, 64) AS p
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(jaro_winkler_similarity(a.p, b.p), 6) AS jw
        |FROM t a JOIN t b ON a.lang = b.lang AND a.bkt = b.bkt
        |  AND substr(a.p, 1, 8) = substr(b.p, 1, 8) AND a.doc_id < b.doc_id""".stripMargin,

    "q_shingle_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars // 64 AS bkt,
        |    list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh
        |  FROM (SELECT doc_id, lang, n_chars,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents))
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |          / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |WHERE jaccard >= 0.3""".stripMargin,

    "q_token_stats" ->
      """SELECT doc_id,
        |  len(toks)::BIGINT AS n_tokens,
        |  len(list_distinct(toks))::BIGINT AS n_uniq,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\t\n\f\r ]'))::BIGINT AS n_subword,
        |  round(list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks), 6) AS avg_tok_len
        |FROM (SELECT doc_id, text,
        |        list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |      FROM documents)""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, lang, s_en, s_es, s_de,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
        |       WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS predicted
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> list_contains(['the','a','of','and'], lower(x))))::BIGINT AS s_en,
        |    len(list_filter(toks, x -> list_contains(['el','la','de','y'], lower(x))))::BIGINT AS s_es,
        |    len(list_filter(toks, x -> list_contains(['der','die','das','und'], lower(x))))::BIGINT AS s_de
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents))""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        |  len(toks)::BIGINT AS n_tokens,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','and'], lower(x))))::DOUBLE / len(toks) AS stop_ratio,
        |  0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
        |      + 0.4 * (len(list_filter(toks, x -> list_contains(['the','a','of','and'], lower(x))))::DOUBLE / len(toks))
        |      + 0.2 * least((list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)) / 10.0, 1.0) AS quality
        |FROM (SELECT doc_id,
        |        list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |      FROM documents)""".stripMargin,

    "q_quality_ntile" ->
      """SELECT doc_id, lang, quality,
        |  ntile(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)::BIGINT AS tile
        |FROM (
        |  SELECT doc_id, lang,
        |    0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
        |      + 0.4 * (len(list_filter(toks, x -> list_contains(['the','a','of','and'], lower(x))))::DOUBLE / len(toks))
        |      + 0.2 * least((list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)) / 10.0, 1.0) AS quality
        |  FROM (SELECT doc_id, lang,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents))""".stripMargin,

    // fact contract, both booleans computed FROM DATA on DuckDB's
    // exact ntile: Spark asserts the facts of its approx tiling,
    // DuckDB of the exact one — the hash matches iff BOTH tilings
    // conserve the doc count, stay in [1,10], and respect the 25%
    // per-lang max-tile-share band (exact ntile is ≈10% by
    // construction; the band absorbs the approx tiling's tie mass)
    "q_quality_ntile_approx" ->
      """WITH t AS (
        |  SELECT lang,
        |    ntile(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS tile
        |  FROM (
        |    SELECT doc_id, lang,
        |      0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
        |        + 0.4 * (len(list_filter(toks, x -> list_contains(['the','a','of','and'], lower(x))))::DOUBLE / len(toks))
        |        + 0.2 * least((list_sum(list_transform(toks, w -> length(w)))::DOUBLE / len(toks)) / 10.0, 1.0) AS quality
        |    FROM (SELECT doc_id, lang,
        |            list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |          FROM documents)))
        |SELECT (SELECT min(tile) >= 1 AND max(tile) <= 10 FROM t) AS tiles_in_range,
        |  (SELECT count(*) FROM t)::BIGINT AS n_docs,
        |  (SELECT bool_and(mx::DOUBLE <= tot::DOUBLE * 0.25)
        |   FROM (SELECT lang, max(n) AS mx, sum(n) AS tot
        |         FROM (SELECT lang, tile, count(*) AS n FROM t GROUP BY 1, 2)
        |         GROUP BY lang)) AS balance_ok""".stripMargin,

    // affine classifier score: fixed left-to-right IEEE arithmetic —
    // every op correctly rounded, no libm, so z hash-matches bitwise;
    // ::DOUBLE on each literal (bare 0.1 is DECIMAL in DuckDB)
    "q_classifier_score" ->
      """SELECT doc_id,
        |  0.1::DOUBLE
        |    + (n_chars::DOUBLE - 100.0::DOUBLE) / 50.0::DOUBLE * 0.7::DOUBLE
        |    + (len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::DOUBLE - 20.0::DOUBLE) / 10.0::DOUBLE * (-0.3)::DOUBLE AS z,
        |  (0.1::DOUBLE
        |    + (n_chars::DOUBLE - 100.0::DOUBLE) / 50.0::DOUBLE * 0.7::DOUBLE
        |    + (len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::DOUBLE - 20.0::DOUBLE) / 10.0::DOUBLE * (-0.3)::DOUBLE) > 0.0 AS keep
        |FROM documents""".stripMargin,

    // isotonic calibration oracle: same affine z, equi-width 8-bin
    // assignment (the q_histogram form, every op correctly-rounded in
    // the engine's shared order), exact integer bin counts, and PAV
    // recomputed through its minimax characterization
    // f(i) = max_{j<=i} min_{k>=i} avg(j..k) — avg is ONE double
    // division of exact integer sums, and min/max of correctly-
    // rounded values is the correctly-rounded min/max (rounding is
    // monotone), so this matches the engine's driver-side PAV bitwise
    "q_classifier_calibrate" ->
      """WITH t AS (
        |  SELECT 0.1::DOUBLE
        |      + (n_chars::DOUBLE - 100.0::DOUBLE) / 50.0::DOUBLE * 0.7::DOUBLE
        |      + (len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::DOUBLE - 20.0::DOUBLE) / 10.0::DOUBLE * (-0.3)::DOUBLE AS z,
        |    CASE WHEN n_chars > 150 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |m AS (SELECT min(z) AS lo, max(z) AS hi FROM t),
        |b AS (SELECT least(floor((z - lo) * 8.0::DOUBLE / (hi - lo)), 7.0::DOUBLE) AS binf, label
        |      FROM t, m),
        |g AS (SELECT binf::BIGINT AS bin, count(*)::BIGINT AS n, sum(label)::BIGINT AS pos
        |      FROM b GROUP BY 1),
        |iv AS (SELECT j.bin AS jb, k.bin AS kb,
        |         sum(g2.pos)::DOUBLE / sum(g2.n)::DOUBLE AS a
        |       FROM g j JOIN g k ON j.bin <= k.bin
        |       JOIN g g2 ON g2.bin BETWEEN j.bin AND k.bin
        |       GROUP BY j.bin, k.bin),
        |mn AS (SELECT iv.jb, i.bin AS ib, min(iv.a) AS mnv
        |       FROM iv JOIN g i ON iv.jb <= i.bin AND iv.kb >= i.bin
        |       GROUP BY iv.jb, i.bin),
        |mm AS (SELECT ib AS bin, max(mnv) AS calibrated FROM mn GROUP BY ib)
        |SELECT g.bin, g.n, g.pos, g.pos::DOUBLE / g.n::DOUBLE AS rate, mm.calibrated
        |FROM g JOIN mm USING (bin)""".stripMargin,

    // size 32, overlap 8 → starts every 24 tokens; DuckDB list slices
    // clamp at len, matching the Scala slice
    "q_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, start FROM (
        |    SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
        |    FROM t WHERE len(toks) > 0)
        |  WHERE start = 0 OR start + 8 < len(toks))
        |SELECT doc_id, (start // 24)::BIGINT AS chunk_idx,
        |  (least(start + 32, len(toks)) - start)::BIGINT AS n_tok,
        |  array_to_string(toks[start + 1 : least(start + 32, len(toks))], ' ') AS chunk_text
        |FROM s""".stripMargin,

    // BM25 (k1=1.2, b=0.75) over query terms table/scan/fast; score
    // rounded to 5 (ln differs by 1 ulp across libms); fixed-order
    // per-term sum mirrors the Spark column order
    "q_bm25" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, len(toks)::DOUBLE AS dl,
        |    len(list_filter(toks, x -> x = 'table'))::DOUBLE AS tf0,
        |    len(list_filter(toks, x -> x = 'scan'))::DOUBLE AS tf1,
        |    len(list_filter(toks, x -> x = 'fast'))::DOUBLE AS tf2
        |  FROM t),
        |s AS (
        |  SELECT count(*)::DOUBLE AS n, sum(dl) AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |  FROM f),
        |sc AS (
        |  SELECT doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * (dl / (sumdl / n))))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * (dl / (sumdl / n))))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * (dl / (sumdl / n)))), 5) AS score
        |  FROM f CROSS JOIN s)
        |SELECT doc_id, score FROM sc WHERE score > 0.0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
        |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM x GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        |SELECT doc_id, term,
        |  round((tf::DOUBLE / dl::DOUBLE) * ln(n / df::DOUBLE), 5) AS score
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |ORDER BY score DESC, doc_id, term LIMIT 30""".stripMargin,

    // the q_connected_components closure extended with the shared
    // quality blend: per component, the (quality DESC, doc_id) winner
    "q_cluster_best" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, lang, n_chars // 64 AS bkt,
        |        list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS toks
        |      FROM documents),
        |tk AS (SELECT doc_id, lang, bkt, toks,
        |         lang || ':' || bkt::VARCHAR || ':' || array_to_string(list_sort(toks), ' ') AS skey
        |       FROM t WHERE len(toks) > 0),
        |ds AS (SELECT skey, min(doc_id) AS rep_id, any_value(lang) AS lang,
        |              any_value(bkt) AS bkt, any_value(toks) AS toks
        |       FROM tk GROUP BY skey),
        |rp AS (SELECT least(a.rep_id, b.rep_id) AS ra, greatest(a.rep_id, b.rep_id) AS rb
        |       FROM ds a JOIN ds b ON a.lang = b.lang AND a.bkt = b.bkt AND a.skey < b.skey
        |       WHERE round(len(list_intersect(a.toks, b.toks))::DOUBLE
        |             / len(list_distinct(a.toks || b.toks)), 6) >= 0.8),
        |e AS (SELECT ra AS src, rb AS dst FROM rp UNION ALL SELECT rb, ra FROM rp),
        |reach(node, r) AS (
        |  SELECT rep_id, rep_id FROM ds
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node),
        |rc AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
        |cl AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY skey) AS rep_id FROM tk),
        |compo AS (SELECT d.doc_id, coalesce(rc.comp, cl.rep_id, d.doc_id)::BIGINT AS component
        |  FROM documents d
        |  LEFT JOIN cl ON d.doc_id = cl.doc_id
        |  LEFT JOIN rc ON cl.rep_id = rc.node),
        |q AS (SELECT doc_id,
        |  0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
        |      + 0.4 * (len(list_filter(toks, x -> list_contains(['the','a','of','and'], lower(x))))::DOUBLE / len(toks))
        |      + 0.2 * least((list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)) / 10.0, 1.0) AS quality
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |j AS (SELECT compo.component, compo.doc_id, q.quality,
        |        row_number() OVER (PARTITION BY compo.component
        |                           ORDER BY q.quality DESC, compo.doc_id) AS rk
        |      FROM compo JOIN q USING (doc_id))
        |SELECT component, count(*)::BIGINT AS n_members,
        |  max(CASE WHEN rk = 1 THEN doc_id END)::BIGINT AS best_doc,
        |  max(quality) AS best_quality
        |FROM j GROUP BY component""".stripMargin,

    // shared scramble-key order; a doc is kept iff tokens BEFORE it
    // are under its language's budget; unbudgeted langs drop out
    "q_mixture_tokens" ->
      """SELECT doc_id, lang, n_tokens, cum_before FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 9973 + 12345) % 1000003, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before,
        |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000 WHEN 'es' THEN 1500 END AS budget
        |  FROM (SELECT doc_id, lang,
        |          len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
        |        FROM documents))
        |WHERE cum_before < budget""".stripMargin,

    // log-space weight: round(ln(int), 6) pins the libm value; the
    // DECIMAL(18,6) hop + ::DOUBLE mirrors Spark's lnTerm6 cast
    // exactly (the q_pmi contract), then ×0.3 is one IEEE multiply
    // on bit-identical operands
    "q_mixture_temperature" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
        |  (round(ln(sum(n)::DOUBLE), 6)::DECIMAL(18,6))::DOUBLE * 0.3 AS log_weight
        |FROM (SELECT lang,
        |        len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::BIGINT AS n
        |      FROM documents)
        |GROUP BY lang HAVING sum(n) > 0""".stripMargin,

    // same injected mess, built from chr() so the SQL stays ASCII;
    // nfc_normalize is utf8proc's NFC — composes chr(769) onto the
    // 'e' exactly as java.text.Normalizer does. The control/space
    // classes are spelled out (not '\s') so Java regex and RE2 agree.
    "q_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    nfc_normalize('Cafe' || chr(769) || chr(9) || 'a' || chr(13) || chr(10) || 'b ' ||
        |                  text || ' ' || chr(160) || 'x' || chr(1) || 'y ' || chr(8195)),
        |    '[\x01-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[\t\n\r \x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+', ' ', 'g')) AS clean
        |FROM documents""".stripMargin,

    "q_strip_markup" ->
      """WITH x AS (
        |  SELECT doc_id, '<p id="d' || doc_id::VARCHAR || '">' || text || '</p><br>' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '<[^>]+>'))::BIGINT AS n_tags,
        |  length(trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'), '[\t\n\x0B\f\r ]+', ' ', 'g')))::BIGINT AS clean_len,
        |  trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS clean_text
        |FROM x""".stripMargin,

    "q_pack_shards" ->
      """SELECT doc_id, lang, n_tokens,
        |  (coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000)::BIGINT AS shard
        |FROM (SELECT doc_id, lang,
        |        coalesce(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')), 0)::BIGINT AS n_tokens
        |      FROM documents)""".stripMargin,

    // same injected duplicate lines; DuckDB list_filter's lambda index
    // is 1-based where Spark's is 0-based, and list_position (like
    // Spark's array_position) returns the FIRST occurrence, 1-based
    "q_dedup_lines" ->
      """WITH x AS (
        |  SELECT doc_id,
        |    text || chr(10) || '-- footer --' || chr(10) || text || chr(10) || '-- footer --' || chr(10) || '-- footer --' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(str_split(text, chr(10)))::BIGINT AS n_lines,
        |  len(list_filter(str_split(text, chr(10)),
        |      (l, i) -> l = '' OR list_position(str_split(text, chr(10)), l) = i))::BIGINT AS n_kept,
        |  array_to_string(list_filter(str_split(text, chr(10)),
        |      (l, i) -> l = '' OR list_position(str_split(text, chr(10)), l) = i), chr(10)) AS clean
        |FROM x""".stripMargin,

    // same injected lines; DuckDB concat_ws skips NULL args exactly
    // like Spark's, so the modulus-conditional lines line up
    "q_c4_clean" ->
      """WITH x AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    text || '.',
        |    'Read more',
        |    'Please enable javascript to view this site.',
        |    'The quick brown fox jumps over the lazy dog.',
        |    CASE WHEN doc_id % 3 = 0 THEN 'It works well enough to keep.' END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet' END,
        |    CASE WHEN doc_id % 11 = 0 THEN 'some { braces } here' END) AS text
        |  FROM documents),
        |y AS (
        |  SELECT doc_id, text,
        |    str_split(text, chr(10)) AS lines,
        |    list_filter(list_transform(str_split(text, chr(10)),
        |        l -> CASE WHEN l LIKE '%' || chr(13) THEN left(l, len(l) - 1) ELSE l END), l ->
        |      right(l, 1) IN ('.', '!', '?', '"')
        |      AND len(list_filter(regexp_split_to_array(l, '\s+'), t -> t <> '')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM x)
        |SELECT doc_id,
        |  len(lines)::BIGINT AS n_lines,
        |  len(kept)::BIGINT AS n_kept,
        |  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{') AND NOT contains(text, '}')) AS keep_doc,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean
        |FROM y""".stripMargin,

    // same injected suffixes; every threshold is integer cross-
    // multiplied so no float contract is needed anywhere
    "q_gopher_rules" ->
      """WITH x AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 4 = 0 THEN ' ## off-topic' ELSE '' END
        |         || CASE WHEN doc_id % 6 = 0 THEN ' to be continued...' ELSE '' END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
        |  FROM x),
        |c AS (
        |  SELECT doc_id,
        |    len(words)::BIGINT AS n_words,
        |    coalesce(list_sum(list_transform(words, w -> length(w))), 0)::BIGINT AS sum_word_len,
        |    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS n_alpha_words,
        |    ((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS n_symbols,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |        s -> list_contains(list_transform(words, w -> lower(w)), s)))::BIGINT AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_symbols, n_stopwords,
        |  (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
        |  (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words AND n_words > 0) AS ok_mean_len,
        |  (10 * n_symbols <= n_words) AS ok_symbol_ratio,
        |  (5 * n_alpha_words >= 4 * n_words) AS ok_alpha_ratio,
        |  (n_stopwords >= 2) AS ok_stopwords,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words AND n_words > 0
        |    AND 10 * n_symbols <= n_words
        |    AND 5 * n_alpha_words >= 4 * n_words
        |    AND n_stopwords >= 2) AS gopher_keep
        |FROM c""".stripMargin,

    // all-integer span arithmetic: the empty-doc filter runs BEFORE
    // the prefix sum so offsets describe the packed stream
    "q_pack_sequences" ->
      """SELECT doc_id, lang, n_tokens, tok_start,
        |  (tok_start // 512)::BIGINT AS seq_first,
        |  ((tok_start + n_tokens - 1) // 512)::BIGINT AS seq_last
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
        |  FROM (SELECT doc_id, lang,
        |          len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
        |        FROM documents)
        |  WHERE n_tokens > 0)""".stripMargin,

    // hash split: bucket = pmod(scramble(doc_id), 100) — the shared
    // integer scramble, so the split is reproducible on any engine;
    // the +100 normalization mirrors Spark's pmod for negative ids
    "q_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ((((doc_id * 9973 + 12345) % 1000003) % 100) + 100) % 100 AS bucket
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,

    // keep the 15 longest docs per source; integer priority, id
    // tie-break — no float ordering contract needed
    "q_source_cap" ->
      """SELECT doc_id, source, n_chars, rk FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15""".stripMargin,

    // adjacent char-pair counts decompose over the (word, count)
    // vocabulary — corpus read once, pair expansion vocab-sized
    "q_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
        |  FROM documents),
        |words AS (SELECT word, count(*)::BIGINT AS c_w FROM toks GROUP BY 1),
        |pos AS (SELECT word, c_w, unnest(range(1, length(word))) AS i
        |        FROM words WHERE length(word) >= 2)
        |SELECT substr(word, i::INT, 1) AS a, substr(word, i::INT + 1, 1) AS b,
        |       sum(c_w)::BIGINT AS cnt
        |FROM pos GROUP BY 1, 2 HAVING sum(c_w) >= 2""".stripMargin,

    // generated from the SAME bpeModel Seq as the Spark encode; see
    // bpeEncodeOracle's doc for the sentinel-flank replace() twin
    "q_bpe_encode" -> bpeEncodeOracle,

    // lp rounds to 6 before an exact DECIMAL sum (order-independent),
    // mirroring the Spark side; the zipped unnest of the two list
    // slices is DuckDB's adjacent-pair construction. The average is
    // deliberately unrounded — exact sum / exact count is the same
    // correctly-rounded double on both engines, while a final round
    // diverges on .5 boundaries (HALF_UP vs float rounding)
    "q_ngram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bi AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |       FROM toks WHERE len(t) >= 2),
        |counts AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bi GROUP BY 1, 2),
        |hist AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM counts GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT x)::BIGINT AS v FROM (SELECT unnest(t) AS x FROM toks)),
        |scored AS (SELECT b.doc_id,
        |    round(ln((c.c12 + 1)::DOUBLE / (h.c1 + v.v)), 6)::DECIMAL(12,6) AS lp
        |  FROM bi b JOIN counts c ON b.w1 = c.w1 AND b.w2 = c.w2
        |  JOIN hist h ON b.w1 = h.w1 CROSS JOIN vocab v)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(lp)::DOUBLE / count(*) AS avg_logprob
        |FROM scored GROUP BY doc_id""".stripMargin,

    // top-200 vocabulary (count desc, token), per-doc OOV rate via
    // left join against it
    "q_vocab_oov" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |v AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM occ GROUP BY 1)
        |      ORDER BY cnt DESC, tok LIMIT 200)
        |SELECT o.doc_id, count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS oov_rate
        |FROM occ o LEFT JOIN v ON o.tok = v.tok
        |GROUP BY 1""".stripMargin,

    // PMI over bigrams with count >= 5; row selection is integer-only.
    // Float contract (the fix for the r4 driver-side hash FAIL): each
    // ln takes ONE exact integer and rounds to 6, the five terms sum
    // in exact DECIMAL arithmetic (order-independent), and the single
    // final ::DOUBLE is correctly rounded identically on both engines
    // — the q_ngram_lm rule. c1/c2 are emitted integer-exact.
    "q_pmi" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bi AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |       FROM toks WHERE len(t) >= 2),
        |counts AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bi GROUP BY 1, 2),
        |uni AS (SELECT x AS tok, count(*)::BIGINT AS c
        |        FROM (SELECT unnest(t) AS x FROM toks) GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c)::BIGINT FROM uni) AS u_total,
        |               (SELECT sum(c12)::BIGINT FROM counts) AS b_total)
        |SELECT k.w1, k.w2, k.c12, a.c AS c1, b.c AS c2,
        |  (round(ln(k.c12::DOUBLE), 6)::DECIMAL(18,6)
        |   + round(ln(t.u_total::DOUBLE), 6)::DECIMAL(18,6) * 2
        |   - round(ln(a.c::DOUBLE), 6)::DECIMAL(18,6)
        |   - round(ln(b.c::DOUBLE), 6)::DECIMAL(18,6)
        |   - round(ln(t.b_total::DOUBLE), 6)::DECIMAL(18,6))::DOUBLE AS pmi
        |FROM counts k
        |JOIN uni a ON k.w1 = a.tok
        |JOIN uni b ON k.w2 = b.tok
        |CROSS JOIN tot t
        |WHERE k.c12 >= 5""".stripMargin,

    // DSIR: every ln argument is an exact integer (add-one smoothed
    // counts, totals + bucket count), so the per-term round-6 DECIMAL
    // contract from q_pmi/q_ngram_lm carries the whole weight
    "q_dsir_weight" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |f AS (SELECT doc_id, lang,
        |        ('0x' || substr(md5(w1 || ' ' || w2), 1, 8))::BIGINT % 256 AS bucket
        |      FROM (SELECT doc_id, lang, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |            FROM toks WHERE len(t) >= 2)),
        |raw AS (SELECT bucket, count(*)::BIGINT AS r_f FROM f GROUP BY 1),
        |tgt AS (SELECT bucket, count(*)::BIGINT AS t_f FROM f WHERE lang = 'en' GROUP BY 1),
        |stats AS (SELECT raw.bucket, r_f, coalesce(t_f, 0)::BIGINT AS t_f
        |          FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket),
        |tot AS (SELECT sum(greatest(len(t) - 1, 0))::BIGINT AS r_total,
        |               sum(CASE WHEN lang = 'en' THEN greatest(len(t) - 1, 0) ELSE 0 END)::BIGINT AS t_total
        |        FROM toks),
        |db AS (SELECT doc_id, bucket, count(*)::BIGINT AS gamma FROM f GROUP BY 1, 2)
        |SELECT doc_id, sum(gamma)::BIGINT AS n_feats,
        |  (sum(gamma * (round(ln((t_f + 1)::DOUBLE), 6)::DECIMAL(18,6)
        |              - round(ln((r_f + 1)::DOUBLE), 6)::DECIMAL(18,6)))
        |   + sum(gamma * (round(ln((r_total + 256)::DOUBLE), 6)::DECIMAL(18,6)
        |                - round(ln((t_total + 256)::DOUBLE), 6)::DECIMAL(18,6))))::DOUBLE AS logw
        |FROM db JOIN stats USING (bucket) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    // entropy via integer-argument lnTerm6 terms; [\s\S] (not '.',
    // whose exclusions differ between Java regex and RE2) is every
    // char in both engines, and [] on empty text in both
    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch FROM documents),
        |cc AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2)
        |SELECT doc_id, sum(c)::BIGINT AS n_chars, count(*)::BIGINT AS n_distinct,
        |  (round(ln(sum(c)::DOUBLE), 6)::DECIMAL(18,6)::DOUBLE
        |   - (sum(c * round(ln(c::DOUBLE), 6)::DECIMAL(18,6))::DOUBLE / sum(c)::BIGINT)) AS entropy
        |FROM cc GROUP BY doc_id""".stripMargin,

    // injection mirrored verbatim; 'g' flag: DuckDB regexp_replace is
    // first-match-only by default while Spark replaces all
    "q_pii_scrub" ->
      """WITH x AS (
        |  SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || '@example.com via 10.'
        |         || (doc_id % 256)::VARCHAR || '.0.' || (doc_id % 7)::VARCHAR AS text
        |  FROM documents),
        |p AS (SELECT doc_id,
        |        len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+'))::BIGINT AS n_emails,
        |        len(regexp_extract_all(
        |          regexp_replace(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+', '<EMAIL>', 'g'),
        |          '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}'))::BIGINT AS n_ips,
        |        regexp_replace(
        |          regexp_replace(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+', '<EMAIL>', 'g'),
        |          '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS clean_text
        |      FROM x)
        |SELECT doc_id, n_emails, n_ips, md5(clean_text) AS clean_hash,
        |  length(clean_text)::BIGINT AS clean_len
        |FROM p""".stripMargin,

    // contiguous 16-token windows (chunk with overlap 0); a span is
    // duplicated if its md5 occurs more than once corpus-wide
    "q_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, md5(array_to_string(toks[start + 1 : least(start + 16, len(toks))], ' ')) AS h
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 16)) AS start
        |        FROM t WHERE len(toks) > 0)),
        |c AS (SELECT h, count(*) AS cnt FROM s GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_spans,
        |  sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
        |  sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS dup_ratio
        |FROM s JOIN c USING (h) GROUP BY doc_id""".stripMargin,

    // word 5-grams carried by >= 2 distinct docs (per-doc distinct
    // first, so count(*) counts documents) — boilerplate spans
    "q_span_clusters" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS span
        |  FROM t)
        |SELECT span, count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc
        |FROM s GROUP BY span HAVING count(*) >= 2""".stripMargin,

    // remove every token covered by a >= 3-carrier 5-gram; overlap
    // unions position-wise. Join-based cover construction (gram join
    // + per-doc start collection), then positional rebuild
    "q_strip_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS span
        |  FROM t),
        |bl AS (SELECT span FROM s GROUP BY span HAVING count(*) >= 3),
        |g AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 3)) AS i, toks
        |  FROM t WHERE len(toks) >= 5),
        |hit AS (
        |  SELECT g.doc_id, g.i FROM g
        |  JOIN bl ON g.toks[g.i] || ' ' || g.toks[g.i+1] || ' ' || g.toks[g.i+2] || ' ' || g.toks[g.i+3] || ' ' || g.toks[g.i+4] = bl.span),
        |cov AS (
        |  SELECT doc_id, list_distinct(flatten(list(range(i, i + 5)))) AS covered
        |  FROM hit GROUP BY doc_id)
        |SELECT t.doc_id,
        |  len(t.toks)::BIGINT AS n_tokens,
        |  coalesce(len(cov.covered), 0)::BIGINT AS n_removed,
        |  -- array_to_string of an EMPTY list is NULL in DuckDB; the
        |  -- engine emits '' for fully-covered and token-less docs
        |  coalesce(CASE WHEN cov.doc_id IS NULL THEN array_to_string(t.toks, ' ')
        |       ELSE array_to_string(list_transform(
        |              list_filter(range(1, len(t.toks) + 1), p -> NOT list_contains(cov.covered, p)),
        |              p -> t.toks[p]), ' ')
        |  END, '') AS clean_text
        |FROM t LEFT JOIN cov USING (doc_id)""".stripMargin,

    "q_contamination" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |d AS (SELECT doc_id, unnest(grams) AS gram FROM t WHERE doc_id >= 5),
        |p AS (SELECT doc_id AS probe_id, unnest(grams) AS gram FROM t WHERE doc_id < 5)
        |SELECT d.doc_id, p.probe_id, count(*)::BIGINT AS n_shared
        |FROM d JOIN p USING (gram) GROUP BY 1, 2""".stripMargin,

    // the bloom stage is a prefilter only — the exact confirm join
    // makes the output identical to the exact screen's oracle
    "q_bloom_contamination" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |d AS (SELECT doc_id, unnest(grams) AS gram FROM t WHERE doc_id >= 5),
        |p AS (SELECT doc_id AS probe_id, unnest(grams) AS gram FROM t WHERE doc_id < 5)
        |SELECT d.doc_id, p.probe_id, count(*)::BIGINT AS n_shared
        |FROM d JOIN p USING (gram) GROUP BY 1, 2""".stripMargin,

    // df = count over per-doc DISTINCT grams = document frequency;
    // unrounded division: single fixed-order IEEE op on integer-exact
    // operands, bit-identical cross-engine
    "q_cross_dup_fraction" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM t),
        |f AS (SELECT gram, count(*)::BIGINT AS df FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
        |  sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS dup_fraction
        |FROM g JOIN f USING (gram) GROUP BY g.doc_id""".stripMargin,

    // unrounded division: single fixed-order IEEE op, bit-identical
    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
        |  FROM t)
        |SELECT doc_id, len(grams)::BIGINT AS n_grams,
        |  len(list_distinct(grams))::BIGINT AS n_distinct,
        |  1.0 - len(list_distinct(grams))::DOUBLE / len(grams)::DOUBLE AS dup_ratio
        |FROM g WHERE len(grams) > 0""".stripMargin,

    "q_ngram_topk" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS shingle
        |  FROM toks WHERE len(t) >= 2)
        |SELECT shingle, count(*)::BIGINT AS cnt
        |FROM sh GROUP BY 1 ORDER BY cnt DESC, shingle LIMIT 20""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''),
        |        t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 1000000007)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents""".stripMargin,

    "q_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    (SELECT sum(x*x) FROM (SELECT unnest(embedding)::DOUBLE AS x)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm FROM e WHERE vec_id < 8),
        |d AS (
        |  SELECT q.q_id, e.vec_id,
        |    round((SELECT sum(a*b) FROM (SELECT unnest(e.embedding)::DOUBLE AS a, unnest(q.q_vec)::DOUBLE AS b))
        |          / sqrt(e.nrm * q.q_nrm), 6) AS sim
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
        |      FROM d)
        |SELECT q_id, vec_id, sim, rk::BIGINT AS rk FROM r WHERE rk <= 5""".stripMargin,

    "q_media_features" -> {
      // StubDecoder band d covers payload[n·d/8, n·(d+1)/8) — floor
      // division on both engines; empty bands are 0.0. Text is ASCII
      // (asserted by n_bytes == length), so unicode(char) == byte.
      val bands = (0 until 8).map { d =>
        s"CASE WHEN (n_bytes*${d + 1})//8 = (n_bytes*$d)//8 THEN 0.0 " +
          s"ELSE list_sum(codes[(n_bytes*$d)//8+1:(n_bytes*${d + 1})//8])::DOUBLE " +
          s"/ ((n_bytes*${d + 1})//8 - (n_bytes*$d)//8) END AS f$d"
      }.mkString(",\n  ")
      // coalesce(text, '') + the n_bytes = 0 guard mirror the Spark
      // side's null-text-as-empty contract and its explicit empty-
      // payload mean of 0.0 (list_sum([]) is NULL in DuckDB, which
      // would hash-diverge on a legal empty/null document)
      s"""WITH b AS (
         |  SELECT doc_id, 'text' AS kind,
         |    octet_length(encode(coalesce(text, '')))::BIGINT AS n_bytes,
         |    list_transform(range(1, length(coalesce(text, '')) + 1),
         |                   i -> unicode(coalesce(text, '')[i])) AS codes
         |  FROM documents)
         |SELECT doc_id AS media_id, kind, n_bytes,
         |  CASE WHEN n_bytes = 0 THEN 0.0
         |       ELSE list_sum(codes)::DOUBLE / n_bytes END AS mean_byte,
         |  $bands
         |FROM b""".stripMargin
    },

    // same integer mix as the ANN planes; round(6) absorbs the
    // unordered-vs-folded summation difference of the 32-term dot
    "q_embed_project" ->
      """WITH comp AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j, unnest(embedding)::DOUBLE AS x
        |  FROM embeddings)
        |SELECT c.vec_id, p.range::BIGINT AS plane,
        |  round(sum(c.x * (CASE WHEN (((c.j * 2654435761 + p.range * 40503 + 12345) >> 16) & 1) = 0
        |                        THEN 1.0 ELSE -1.0 END)), 6) AS proj
        |FROM comp c CROSS JOIN range(8) p GROUP BY 1, 2""".stripMargin,

    // closed-form twin of the synthesized PCM: integer sums + one
    // division + IEEE sqrt are bit-identical, no rounding needed
    "q_audio_features" ->
      """WITH d AS (SELECT doc_id, 256 + doc_id % 128 AS n, 8000 + (doc_id % 5) * 1000 AS rate
        |           FROM documents),
        |s AS (SELECT doc_id, n, rate, unnest(range(0, n)) AS i FROM d),
        |a AS (SELECT doc_id, n, rate, i,
        |        (i * (doc_id + 7)) % 2048 - 1024 AS amp,
        |        CASE WHEN i > 0 THEN ((i - 1) * (doc_id + 7)) % 2048 - 1024 END AS prev_amp
        |      FROM s)
        |SELECT doc_id AS media_id, max(rate)::BIGINT AS sample_rate, max(n)::BIGINT AS n_samples,
        |  sum(amp)::DOUBLE / max(n) AS mean_amp,
        |  sqrt(sum(amp * amp)::DOUBLE / max(n)) AS rms,
        |  max(abs(amp))::BIGINT AS peak,
        |  sum(CASE WHEN i > 0 AND ((amp >= 0) != (prev_amp >= 0)) THEN 1 ELSE 0 END)::BIGINT AS n_zero_cross
        |FROM a GROUP BY doc_id""".stripMargin,

    // frames, the integer activity gate (nf·e ≥ etot), and the
    // gaps-and-islands collapse, recomputed from the synthesis formula
    "q_audio_segments" ->
      """WITH d AS (SELECT doc_id, 256 + doc_id % 128 AS n FROM documents),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
        |fr AS (SELECT doc_id, i // 64 AS f, (i * (doc_id + 7)) % 2048 - 1024 AS amp FROM s),
        |e AS (SELECT doc_id, f, sum(amp * amp)::BIGINT AS e FROM fr GROUP BY 1, 2),
        |tot AS (SELECT doc_id, count(*)::BIGINT AS nf, sum(e)::BIGINT AS etot FROM e GROUP BY 1),
        |act AS (SELECT e.doc_id, e.f, e.e FROM e JOIN tot USING (doc_id)
        |        WHERE tot.etot > 0 AND tot.nf * e.e >= tot.etot),
        |grp AS (SELECT doc_id, f, e,
        |          f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
        |        FROM act),
        |seg AS (SELECT doc_id, g, min(f) AS f_start, max(f) AS f_end,
        |          count(*)::BIGINT AS n_frames, sum(e)::BIGINT AS energy
        |        FROM grp GROUP BY 1, 2)
        |SELECT doc_id AS media_id,
        |  (row_number() OVER (PARTITION BY doc_id ORDER BY f_start) - 1)::BIGINT AS seg_id,
        |  f_start::BIGINT AS f_start, f_end::BIGINT AS f_end, n_frames, energy
        |FROM seg""".stripMargin,

    // closed-form twin of the synthesized pixels; integer sums + one
    // division per mean are bit-identical, no rounding needed
    "q_image_features" ->
      """WITH d AS (SELECT doc_id, 5 + doc_id % 8 AS w, 3 + doc_id % 5 AS h FROM documents),
        |ys AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM d),
        |xs AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
        |px AS (SELECT doc_id, w, h, x, y,
        |         (x*7 + y*11 + doc_id*3) % 256 AS r,
        |         (x*5 + y*13 + doc_id*7) % 256 AS g,
        |         (x*3 + y*17 + doc_id*11) % 256 AS b
        |       FROM xs)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
        |  max(w)::BIGINT AS width, max(h)::BIGINT AS height, count(*)::BIGINT AS n_px,
        |  sum(r)::DOUBLE / count(*) AS mean_r,
        |  sum(g)::DOUBLE / count(*) AS mean_g,
        |  sum(b)::DOUBLE / count(*) AS mean_b,
        |  max(r)::BIGINT AS peak_r,
        |  sum((y*w + x) * (r + 2*g + 3*b))::BIGINT AS wsum
        |FROM px GROUP BY doc_id""".stripMargin,

    // quarantine verdict recomputed from the corruption rule (id mod
    // 7 ∈ {0, 3} fails — truncation always beheads a zero-slack
    // payload, a zeroed magic byte never sniffs) and the synthesis
    // dims for the survivors
    "q_decode_quarantine" ->
      """SELECT doc_id AS media_id,
        |  (doc_id % 7 <> 0 AND doc_id % 7 <> 3) AS ok,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 7 <> 3
        |       THEN (5 + doc_id % 8)::BIGINT END AS width,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 7 <> 3
        |       THEN (3 + doc_id % 5)::BIGINT END AS height
        |FROM documents""".stripMargin,

    // nearest-neighbor 4x4 thumbnail: source pixel (x*w//4, y*h//4),
    // features recomputed from the synthesis formula at those coords
    "q_image_thumb" ->
      """WITH d AS (SELECT doc_id, 5 + doc_id % 8 AS w, 3 + doc_id % 5 AS h FROM documents),
        |ys AS (SELECT doc_id, w, h, unnest(range(0, 4)) AS y FROM d),
        |xs AS (SELECT doc_id, w, h, y, unnest(range(0, 4)) AS x FROM ys),
        |px AS (SELECT doc_id, x, y,
        |         ((x * w) // 4 * 7 + (y * h) // 4 * 11 + doc_id*3) % 256 AS r,
        |         ((x * w) // 4 * 5 + (y * h) // 4 * 13 + doc_id*7) % 256 AS g,
        |         ((x * w) // 4 * 3 + (y * h) // 4 * 17 + doc_id*11) % 256 AS b
        |       FROM xs)
        |SELECT doc_id AS media_id, 4::BIGINT AS width, 4::BIGINT AS height,
        |  count(*)::BIGINT AS n_px,
        |  sum(r)::DOUBLE / count(*) AS mean_r,
        |  sum(g)::DOUBLE / count(*) AS mean_g,
        |  sum(b)::DOUBLE / count(*) AS mean_b,
        |  sum((y*4 + x) * (r + 2*g + 3*b))::BIGINT AS wsum
        |FROM px GROUP BY doc_id""".stripMargin,

    // per-frame 4x4 thumbnails: source pixel (x*w//4, y*h//4) of
    // frame t, wsum over target raster coords
    "q_video_thumb" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS f, 5 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
        |           FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(0, f)) AS t FROM d),
        |ys AS (SELECT doc_id, w, h, t, unnest(range(0, 4)) AS y FROM fr),
        |xs AS (SELECT doc_id, w, h, t, y, unnest(range(0, 4)) AS x FROM ys),
        |px AS (SELECT doc_id, t, x, y,
        |         ((x * w) // 4 * 7 + (y * h) // 4 * 11 + t*19 + doc_id*3) % 256 AS r,
        |         ((x * w) // 4 * 5 + (y * h) // 4 * 13 + t*23 + doc_id*7) % 256 AS g,
        |         ((x * w) // 4 * 3 + (y * h) // 4 * 17 + t*29 + doc_id*11) % 256 AS b
        |       FROM xs)
        |SELECT doc_id AS media_id, t::BIGINT AS frame_idx, (t * 40)::BIGINT AS frame_ts_ms,
        |  count(*)::BIGINT AS n_px,
        |  sum(r)::DOUBLE / count(*) AS mean_r,
        |  sum(g)::DOUBLE / count(*) AS mean_g,
        |  sum(b)::DOUBLE / count(*) AS mean_b,
        |  sum((y*4 + x) * (r + 2*g + 3*b))::BIGINT AS wsum
        |FROM px GROUP BY doc_id, t""".stripMargin,

    "q_video_features" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS f, 5 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
        |           FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(0, f)) AS t FROM d),
        |ys AS (SELECT doc_id, w, h, t, unnest(range(0, h)) AS y FROM fr),
        |xs AS (SELECT doc_id, w, h, t, y, unnest(range(0, w)) AS x FROM ys),
        |px AS (SELECT doc_id, t, w, x, y,
        |         (x*7 + y*11 + t*19 + doc_id*3) % 256 AS r,
        |         (x*5 + y*13 + t*23 + doc_id*7) % 256 AS g,
        |         (x*3 + y*17 + t*29 + doc_id*11) % 256 AS b
        |       FROM xs)
        |SELECT doc_id AS media_id, t::BIGINT AS frame_idx, (t * 40)::BIGINT AS frame_ts_ms,
        |  count(*)::BIGINT AS n_px,
        |  sum(r)::DOUBLE / count(*) AS mean_r,
        |  sum(g)::DOUBLE / count(*) AS mean_g,
        |  sum(b)::DOUBLE / count(*) AS mean_b,
        |  sum((y*w + x) * (r + 2*g + 3*b))::BIGINT AS wsum
        |FROM px GROUP BY doc_id, t""".stripMargin,

    // 2-probe mirror: each query probes its own bucket plus the one
    // across its lowest-|margin| plane (margins rounded to 6 before
    // ordering on BOTH engines — the raw projection's last ulp is
    // summation-order dependent); a candidate lives in exactly one
    // bucket, so the two probes can never double-score a pair
    "q_ann_topk" ->
      """WITH comp AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j, unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |proj AS (
        |  SELECT c.vec_id, p.range AS plane,
        |    sum(c.x * (CASE WHEN (((c.j * 2654435761 + p.range * 40503 + 12345) >> 16) & 1) = 0 THEN 1.0 ELSE -1.0 END)) AS pr
        |  FROM comp c CROSS JOIN range(4) p GROUP BY 1, 2),
        |bkt AS (
        |  SELECT vec_id, sum(CASE WHEN pr > 0 THEN (1::BIGINT << plane) ELSE 0 END) AS bkt
        |  FROM proj GROUP BY 1),
        |flip AS (
        |  SELECT vec_id, plane AS fplane FROM (
        |    SELECT vec_id, plane,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY round(abs(pr), 6), plane) AS rn
        |    FROM proj)
        |  WHERE rn = 1),
        |e AS (
        |  SELECT em.vec_id, em.embedding, b.bkt,
        |    (SELECT sum(x*x) FROM (SELECT unnest(em.embedding)::DOUBLE AS x)) AS nrm
        |  FROM embeddings em JOIN bkt b USING (vec_id)),
        |q AS (
        |  SELECT e.vec_id AS q_id, e.embedding AS q_vec, e.nrm AS q_nrm,
        |    unnest([e.bkt, xor(e.bkt, 1::BIGINT << f.fplane)]) AS q_bkt
        |  FROM e JOIN flip f USING (vec_id) WHERE e.vec_id < 8),
        |d AS (
        |  SELECT q.q_id, e.vec_id,
        |    round((SELECT sum(a*b) FROM (SELECT unnest(e.embedding)::DOUBLE AS a, unnest(q.q_vec)::DOUBLE AS b))
        |          / sqrt(e.nrm * q.q_nrm), 6) AS sim
        |  FROM e JOIN q ON e.bkt = q.q_bkt AND e.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk FROM d)
        |SELECT q_id, vec_id, sim, rk::BIGINT AS rk FROM r WHERE rk <= 5""".stripMargin,

    // banded sign-LSH: 16 global plane indices, band = plane // 4,
    // bit position = plane % 4 — mirrors Similarity.lshBandBucket
    "q_embed_neardup" ->
      """WITH comp AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j, unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |proj AS (
        |  SELECT c.vec_id, p.range AS plane,
        |    sum(c.x * (CASE WHEN (((c.j * 2654435761 + p.range * 40503 + 12345) >> 16) & 1) = 0 THEN 1.0 ELSE -1.0 END)) AS pr
        |  FROM comp c CROSS JOIN range(16) p GROUP BY 1, 2),
        |bkt AS (
        |  SELECT vec_id, plane // 4 AS band,
        |    sum(CASE WHEN pr > 0 THEN (1::BIGINT << (plane % 4)) ELSE 0 END) AS bkt
        |  FROM proj GROUP BY 1, 2),
        |e AS (
        |  SELECT em.vec_id, em.embedding, b.band, b.bkt,
        |    (SELECT sum(x*x) FROM (SELECT unnest(em.embedding)::DOUBLE AS x)) AS nrm
        |  FROM embeddings em JOIN bkt b USING (vec_id))
        |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round((SELECT sum(x*y) FROM (SELECT unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y))
        |        / sqrt(a.nrm * b.nrm), 6) AS sim
        |FROM e a JOIN e b ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id
        |WHERE round((SELECT sum(x*y) FROM (SELECT unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y))
        |        / sqrt(a.nrm * b.nrm), 6) >= 0.3""".stripMargin,

    // per-dim min-max scaling: exact order-independent aggregates,
    // identical IEEE arithmetic on both engines
    "q_embed_scale" ->
      """WITH c AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |s AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM c GROUP BY 1)
        |SELECT c.vec_id, c.dim::BIGINT AS dim,
        |  CASE WHEN s.mx = s.mn THEN 0.0
        |       ELSE round((c.x - s.mn) / (s.mx - s.mn), 6) END AS x_scaled
        |FROM c JOIN s USING (dim)""".stripMargin,

    // integer-exact: micro-unit quantization (round(x·1e6) of the
    // bit-identical double) makes product and sum pure int64 ops
    "q_embed_gram" ->
      """WITH c AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(round(unnest(embedding)::DOUBLE * 1000000.0, 0) AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT a.i::BIGINT AS i, b.i::BIGINT AS j, count(*)::BIGINT AS n_rows,
        |  sum(a.q * b.q)::BIGINT AS gram_u2
        |FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2""".stripMargin,

    // embedding components: identical vectors collapse to min-id reps,
    // banded sign-LSH pairs over the reps (same construction as
    // q_embed_neardup), recursive min-reachability closure
    "q_embed_components" ->
      """WITH RECURSIVE
        |grp AS (SELECT embedding, min(vec_id) AS rep_id FROM embeddings GROUP BY embedding),
        |cl AS (SELECT e.vec_id, g.rep_id FROM embeddings e JOIN grp g ON e.embedding = g.embedding),
        |rv AS (SELECT rep_id AS vec_id, embedding FROM grp),
        |comp AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j, unnest(embedding)::DOUBLE AS x
        |  FROM rv),
        |proj AS (
        |  SELECT c.vec_id, p.range AS plane,
        |    sum(c.x * (CASE WHEN (((c.j * 2654435761 + p.range * 40503 + 12345) >> 16) & 1) = 0 THEN 1.0 ELSE -1.0 END)) AS pr
        |  FROM comp c CROSS JOIN range(16) p GROUP BY 1, 2),
        |bkt AS (
        |  SELECT vec_id, plane // 4 AS band,
        |    sum(CASE WHEN pr > 0 THEN (1::BIGINT << (plane % 4)) ELSE 0 END) AS bkt
        |  FROM proj GROUP BY 1, 2),
        |ev AS (
        |  SELECT em.vec_id, em.embedding, b.band, b.bkt,
        |    (SELECT sum(x*x) FROM (SELECT unnest(em.embedding)::DOUBLE AS x)) AS nrm
        |  FROM rv em JOIN bkt b USING (vec_id)),
        |pr AS (
        |  SELECT DISTINCT a.vec_id AS ra, b.vec_id AS rb
        |  FROM ev a JOIN ev b ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id
        |  WHERE round((SELECT sum(x*y) FROM (SELECT unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y))
        |        / sqrt(a.nrm * b.nrm), 6) >= 0.3),
        |e AS (SELECT ra AS src, rb AS dst FROM pr UNION ALL SELECT rb, ra FROM pr),
        |reach(node, r) AS (
        |  SELECT rep_id, rep_id FROM grp
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node),
        |rc AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)
        |SELECT cl.vec_id, coalesce(rc.comp, cl.rep_id)::BIGINT AS component
        |FROM cl LEFT JOIN rc ON cl.rep_id = rc.node""".stripMargin,

    // SemDeDup: identical vectors collapse to min-id reps; reps are
    // assigned to the q_ivf_topk seeded-quantizer cells (argmax
    // rounded cosine, ties -> lower cell); a rep is dropped when an
    // earlier same-cell rep agrees at >= 0.3; non-rep members are
    // dropped by construction
    "q_semantic_dedup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    (SELECT sum(x*x) FROM (SELECT unnest(embedding)::DOUBLE AS x)) AS nrm
        |  FROM embeddings),
        |reps AS (SELECT embedding, min(vec_id) AS rep_id FROM e GROUP BY embedding),
        |re AS (SELECT e.vec_id, e.embedding, e.nrm FROM e JOIN reps r ON e.vec_id = r.rep_id),
        |cent AS (SELECT vec_id AS cell, embedding AS c_vec, nrm AS c_nrm FROM e WHERE vec_id < 16),
        |cs AS (
        |  SELECT re.vec_id, re.embedding, re.nrm, c.cell,
        |    round((SELECT sum(a*b) FROM (SELECT unnest(re.embedding)::DOUBLE AS a, unnest(c.c_vec)::DOUBLE AS b))
        |          / sqrt(re.nrm * c.c_nrm), 6) AS c_sim
        |  FROM re CROSS JOIN cent c),
        |assigned AS (
        |  SELECT vec_id, embedding, nrm, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, cell) AS rn FROM cs)
        |  WHERE rn = 1),
        |dup AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  WHERE round((SELECT sum(x*y) FROM (SELECT unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y))
        |        / sqrt(a.nrm * b.nrm), 6) >= 0.3)
        |SELECT m.vec_id, a.cell,
        |  (m.vec_id <> r.rep_id OR d.vec_id IS NOT NULL) AS dropped
        |FROM e m
        |JOIN reps r ON m.embedding = r.embedding
        |JOIN assigned a ON a.vec_id = r.rep_id
        |LEFT JOIN dup d ON d.vec_id = r.rep_id""".stripMargin,

    // IVF: centroids = vec_id < 16, assignment = argmax cosine
    // (ties -> lower cell), queries probe their 2 nearest cells
    // PQ/ADC mirror: codebook = subvectors of the first 8 vectors,
    // per-(vector, subspace) argmin by squared L2 (ties -> lowest cid),
    // reconstruction = chosen centroids concatenated in subspace order,
    // adist = ONE ordered fold over all 64 dims — float->double casts
    // are exact and every double op is correctly rounded, so the
    // unrounded adist is bit-identical cross-engine (no sqrt anywhere)
    "q_pq_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE len(embedding) = 64),
        |books AS (SELECT vec_id AS cid, embedding AS c_vec FROM e WHERE vec_id < 8),
        |sd AS (
        |  SELECT e.vec_id, j.j, b.cid,
        |    (SELECT sum((a - c) * (a - c)) FROM (
        |       SELECT unnest(e.embedding[j.j*16+1 : j.j*16+16])::DOUBLE AS a,
        |              unnest(b.c_vec[j.j*16+1 : j.j*16+16])::DOUBLE AS c)) AS d
        |  FROM e CROSS JOIN (SELECT unnest(range(4)) AS j) j CROSS JOIN books b),
        |codes AS (
        |  SELECT vec_id, j, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn FROM sd)
        |  WHERE rn = 1),
        |recon AS (
        |  SELECT c.vec_id, flatten(list(b.c_vec[c.j*16+1 : c.j*16+16] ORDER BY c.j)) AS rv
        |  FROM codes c JOIN books b USING (cid) GROUP BY c.vec_id),
        |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, r.vec_id,
        |    (SELECT sum((a - b) * (a - b)) FROM (
        |       SELECT unnest(q.q_vec)::DOUBLE AS a, unnest(r.rv)::DOUBLE AS b)) AS adist
        |  FROM q CROSS JOIN recon r WHERE r.vec_id <> q.q_id)
        |SELECT q_id, vec_id, adist, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin,

    // IVF-PQ: the q_ivf_topk cell/probe CTEs (rounded-cosine, rn
    // ranking) composed with the q_pq_topk code/recon/adist CTEs —
    // every vector sits in exactly one cell, so the probe join never
    // duplicates a (query, vector) pair
    "q_ivfpq_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    (SELECT sum(x*x) FROM (SELECT unnest(embedding)::DOUBLE AS x)) AS nrm
        |  FROM embeddings WHERE len(embedding) = 64),
        |cent AS (SELECT vec_id AS cell, embedding AS c_vec, nrm AS c_nrm FROM e WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        round((SELECT sum(a*b) FROM (SELECT unnest(e.embedding)::DOUBLE AS a, unnest(c.c_vec)::DOUBLE AS b))
        |              / sqrt(e.nrm * c.c_nrm), 6) DESC, c.cell) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |books AS (SELECT vec_id AS cid, embedding AS c_vec FROM e WHERE vec_id < 8),
        |sd AS (
        |  SELECT e.vec_id, j.j, b.cid,
        |    (SELECT sum((a - c) * (a - c)) FROM (
        |       SELECT unnest(e.embedding[j.j*16+1 : j.j*16+16])::DOUBLE AS a,
        |              unnest(b.c_vec[j.j*16+1 : j.j*16+16])::DOUBLE AS c)) AS d
        |  FROM e CROSS JOIN (SELECT unnest(range(4)) AS j) j CROSS JOIN books b),
        |codes AS (
        |  SELECT vec_id, j, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn FROM sd)
        |  WHERE rn = 1),
        |recon AS (
        |  SELECT c.vec_id, flatten(list(b.c_vec[c.j*16+1 : c.j*16+16] ORDER BY c.j)) AS rv
        |  FROM codes c JOIN books b USING (cid) GROUP BY c.vec_id),
        |qp AS (
        |  SELECT vec_id AS q_id, embedding AS q_vec, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        round((SELECT sum(a*b) FROM (SELECT unnest(e.embedding)::DOUBLE AS a, unnest(c.c_vec)::DOUBLE AS b))
        |              / sqrt(e.nrm * c.c_nrm), 6) DESC, c.cell) AS rn
        |    FROM e CROSS JOIN cent c WHERE e.vec_id < 5) WHERE rn <= 2),
        |scored AS (
        |  SELECT qp.q_id, asg.vec_id,
        |    (SELECT sum((a - b) * (a - b)) FROM (
        |       SELECT unnest(qp.q_vec)::DOUBLE AS a, unnest(r.rv)::DOUBLE AS b)) AS adist
        |  FROM qp JOIN asg ON asg.cell = qp.cell JOIN recon r ON r.vec_id = asg.vec_id
        |  WHERE asg.vec_id <> qp.q_id)
        |SELECT q_id, vec_id, adist, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin,

    "q_ivf_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    (SELECT sum(x*x) FROM (SELECT unnest(embedding)::DOUBLE AS x)) AS nrm
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS cell, embedding AS c_vec, nrm AS c_nrm FROM e WHERE vec_id < 16),
        |cs AS (
        |  SELECT e.vec_id, e.embedding, e.nrm, c.cell,
        |    round((SELECT sum(a*b) FROM (SELECT unnest(e.embedding)::DOUBLE AS a, unnest(c.c_vec)::DOUBLE AS b))
        |          / sqrt(e.nrm * c.c_nrm), 6) AS c_sim
        |  FROM e CROSS JOIN cent c),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, cell) AS rn FROM cs),
        |assigned AS (SELECT vec_id, embedding, nrm, cell FROM ranked WHERE rn = 1),
        |qc AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm, cell
        |       FROM ranked WHERE vec_id < 8 AND rn <= 2),
        |d AS (
        |  SELECT q.q_id, a.vec_id,
        |    round((SELECT sum(x*y) FROM (SELECT unnest(a.embedding)::DOUBLE AS x, unnest(q.q_vec)::DOUBLE AS y))
        |          / sqrt(a.nrm * q.q_nrm), 6) AS sim
        |  FROM assigned a JOIN qc q ON a.cell = q.cell AND a.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk FROM d)
        |SELECT q_id, vec_id, sim, rk::BIGINT AS rk FROM r WHERE rk <= 5""".stripMargin,
  )
}
