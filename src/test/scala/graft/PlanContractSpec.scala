package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Suite-wide plan contracts over EVERY declared query — the three
  * single-machine-shaped plan classes that die at 100 TB, each
  * asserted against the library's design claims:
  *
  *  1. NO partition-less Window (single-hot-task global sort) —
  *     except the two EXACT oracle paths whose scale-safe twins exist
  *     as `relErr > 0` variants (`Ops.equiDepthHistogram`,
  *     `Ops.rfmSegments`; the approx paths are driver-checked via
  *     `q_*_approx`).
  *  2. NO CartesianProductExec — every crossJoin in the library is
  *     `broadcast()`-pinned on a 1-row/tiny scalar frame and must
  *     plan as BroadcastNestedLoopJoin; an unpinned cross product
  *     is |L|·|R| shuffled rows.
  *  3. NO ScalaUDF — the library's extension points are codegen'd
  *     Catalyst expressions and typed Dataset operators; a UDF is an
  *     optimization barrier (no pushdown through it, no codegen).
  *
  * The window assertion runs both directions so the allow-list cannot
  * rot: an unexpected global window fails, and an allow-listed query
  * that stops needing its exemption fails too.
  */
class PlanContractSpec extends SparkSpec {

  private val allowedGlobalWindows = Set(
    "q_equidepth_hist", // exact global ntile: the oracle default, relErr>0 is the scale path
    "q_rfm_segments")   // exact per-metric ntile: same contract, 3 windows

  private case class Offenders(window: Set[String], cartesian: Set[String], udf: Set[String])

  /** ONE sweep: build each declared query ONCE at sf0.001 and collect
    * every contract violation from its optimized + physical plan.
    * Known cost, accepted: a few builders (the q_zonemap/q_merge/
    * q_compact warehouse family) EXECUTE small write jobs at
    * construction time, so this plan-shape sweep also runs them at
    * sf0.001. Excluding them would blind the contract to exactly the
    * queries whose read-back plans it must check; the writes are
    * tmp-dir, tiny, and idempotent. */
  private lazy val offenders: Offenders = {
    val d = "/root/testdata/sf0.001"
    val (w, c, u) = (Set.newBuilder[String], Set.newBuilder[String], Set.newBuilder[String])
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val qe = fn(spark, d).queryExecution
      val opt = qe.optimizedPlan
      if (opt.collectFirst { case x: Window if x.partitionSpec.isEmpty => x }.nonEmpty)
        w += name
      if (opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))))
        u += name
      // physical: sparkPlan PLANS without executing (AQE re-plans at
      // run time, but only ever DOWNGRADES a shuffle join to broadcast
      // — it cannot introduce a cartesian the static plan lacks)
      if (qe.sparkPlan.collectFirst { case x: CartesianProductExec => x }.nonEmpty)
        c += name
    }
    Offenders(w.result(), c.result(), u.result())
  }

  test("no query plans a partition-less window outside the declared exact-oracle paths") {
    assert(offenders.window == allowedGlobalWindows,
      s"unexpected global-sort windows: ${(offenders.window -- allowedGlobalWindows).toSeq.sorted
        .mkString(", ")}; stale allow-list entries: ${(allowedGlobalWindows -- offenders.window)
        .toSeq.sorted.mkString(", ")}")
  }

  test("no query plans an unpinned cartesian product") {
    assert(offenders.cartesian.isEmpty,
      s"CartesianProductExec in: ${offenders.cartesian.toSeq.sorted.mkString(", ")} — " +
        "broadcast()-pin the small side or rewrite the join")
  }

  test("no query plans a ScalaUDF") {
    assert(offenders.udf.isEmpty,
      s"ScalaUDF in: ${offenders.udf.toSeq.sorted.mkString(", ")} — " +
        "use a native Catalyst expression or a typed Dataset operator")
  }

  test("non-Full PairMode plans honor the same contracts (no global window, no cartesian, no UDF)") {
    // the declared-query sweep above covers every Full path; the
    // Star/Bounded variants are plan-distinct (rep aggregation, guard
    // count) and would rot invisibly without their own sweep. Bounded
    // builders EXECUTE the guard's count action at sf0.001 at
    // construction (the documented eager action) — small, tmp-free,
    // and the abandoned guard caches are released explicitly below.
    import org.apache.spark.sql.functions.col
    import graft.text.{Dedup, Similarity, PairMode}
    val d = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.table(spark, d, "documents")
    val emb = graft.core.Tables.table(spark, d, "embeddings")
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val corp = docs.filter(col("doc_id") % 5 =!= 0)
    val ops: Seq[(String, PairMode => org.apache.spark.sql.DataFrame)] = Seq(
      "minhash" -> (m => Dedup.minhashLshPairs(spark, docs, mode = m)),
      "simhash" -> (m => Dedup.simhashNearDupPairs(spark, docs, mode = m)),
      "jaccard_prefix" -> (m => Dedup.jaccardNearDupPairs(docs, 0.8, mode = m)),
      "jaccard_cocount" -> (m => Dedup.jaccardNearDupPairs(docs, 0.3, ngram = 2, mode = m)),
      "edit" -> (m => Dedup.editDistancePairs(docs, 4, mode = m)),
      "jw" -> (m => Dedup.jaroWinklerPairs(docs, mode = m)),
      "embed" -> (m => Similarity.embeddingNearDupPairs(emb, 0.8, mode = m)),
      "ingest" -> (m => Dedup.incrementalLshPairs(spark, corp, fresh, mode = m)))
    val modes: Seq[(String, PairMode)] =
      Seq("star" -> PairMode.Star, "bounded" -> PairMode.Bounded(Long.MaxValue))
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    for ((opName, build) <- ops; (modeName, mode) <- modes) {
      val qe = build(mode).queryExecution
      val opt = qe.optimizedPlan
      if (opt.collectFirst { case x: Window if x.partitionSpec.isEmpty => x }.nonEmpty)
        bad += s"$opName:$modeName(window)"
      if (opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))))
        bad += s"$opName:$modeName(udf)"
      if (qe.sparkPlan.collectFirst { case x: CartesianProductExec => x }.nonEmpty)
        bad += s"$opName:$modeName(cartesian)"
      graft.core.ScopedCache.releaseAll()
    }
    assert(bad.isEmpty,
      s"non-Full PairMode contract violations: ${bad.toSeq.sorted.mkString(", ")}")
  }

  test("the t>=0.5 jaccard plan verifies via the sorted-merge kernel, never array_intersect") {
    // Guards the silent-fallback failure mode: a refactor that swaps
    // SortedIntersectCount back to array_intersect would still be
    // CORRECT (DedupPropertySpec stays green) but reintroduces the
    // per-pair hash-set allocation the kernel was measured to remove
    // (1.87 -> 1.40 s at sf0.1/t=0.8). Checked on the optimized plan
    // so a Catalyst rewrite eliminating the kernel also fails here.
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    import graft.functions.SetExpressions.SortedIntersectCount
    def scan(name: String): (Boolean, Boolean) = {
      val opt = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.optimizedPlan
      (opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[SortedIntersectCount]))),
        opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayIntersect]))))
    }
    val (kernel, arrInt) = scan("q_jaccard_neardup") // t=0.8 -> prefix plan
    assert(kernel, "q_jaccard_neardup no longer plans SortedIntersectCount — " +
      "the prefix plan's verify step regressed to a slower formulation")
    assert(!arrInt, "q_jaccard_neardup plans array_intersect — the per-pair " +
      "hash-set allocation the merge kernel replaced is back")
    // the t<0.5 co-count plan needs neither: it never materializes sets
    val (kernelLow, arrIntLow) = scan("q_shingle_jaccard") // t=0.3 -> co-count plan
    assert(!kernelLow && !arrIntLow, "q_shingle_jaccard (co-count plan) should " +
      "count co-occurrences by aggregation, not per-pair set intersection")
  }
}
