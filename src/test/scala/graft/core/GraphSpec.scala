package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Connected components: closed-form cases, the pathological path
  * graph (worst diameter — exercises pointer jumping), and randomized
  * equivalence against a driver-side union-find oracle.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Run BOTH paths — driver union-find (default gate) and the
    * distributed join loop (gate 0) — and assert they agree before
    * returning; every closed-form case checks the equivalence too. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("a", "b")
    val local = Graph.connectedComponents(df, "a", "b")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    val dist = Graph.connectedComponents(df, "a", "b", localSolveMaxEdges = 0L)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    assert(local == dist, "local union-find and distributed loop disagree")
    local
  }

  /** Driver-side union-find truth. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  test("two triangles and a bridge collapse to min ids") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (3L, 10L),
                    (20L, 21L))
    assert(cc(edges) == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("path graph (diameter 63) converges well under maxIter via pointer jumping") {
    // min id in the MIDDLE so the label must travel ~32 hops each way
    val ids = ((100L to 131L) :+ 1L) ++ (200L to 230L)
    val edges = ids.zip(ids.tail)
    assert(cc(edges) == ids.map(_ -> 1L).toMap)
  }

  test("empty edge set yields empty labels") {
    assert(cc(Seq.empty) == Map.empty)
  }

  test("maxIter cutoff fails loudly instead of returning unclosed labels") {
    val ids = (1L to 40L)
    val edges = ids.zip(ids.tail).toDF("a", "b")
    val ex = intercept[IllegalStateException](
      Graph.connectedComponents(edges, "a", "b", maxIter = 1,
        localSolveMaxEdges = 0L).collect())
    assert(ex.getMessage.contains("did not converge"))
  }

  test("random graphs match union-find") {
    val rnd = new Random(7)
    for (_ <- 1 to 5) {
      val n = 200
      val edges = (1 to 300).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(cc(edges) == unionFind(edges))
    }
  }

  test("null or non-castable ids fail loudly instead of forming a null component") {
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("a", "b")
    val ex = intercept[IllegalArgumentException](
      Graph.connectedComponents(withNull, "a", "b").collect())
    assert(ex.getMessage.contains("null"))
    val unCastable = Seq(("1", "2"), ("2", "not-an-id")).toDF("a", "b")
    // assert the DESIGNED failure, not just the exception class: under
    // ANSI a plain cast would abort with SparkNumberFormatException
    // (which EXTENDS IllegalArgumentException, so a bare intercept
    // passed while the fix-or-filter message never fired); try_cast
    // routes the row into the badIds validation
    val ex2 = intercept[IllegalArgumentException](
      Graph.connectedComponents(unCastable, "a", "b").collect())
    assert(ex2.getMessage.contains("fix or filter"), ex2.getMessage)
  }

  test("NaN/Infinity/overflow double ids reach the loud validation, not an ANSI abort") {
    // a plain ANSI cast throws SparkArithmeticException (NOT an
    // IllegalArgumentException) from inside the task on these values —
    // the designed badIds message must fire instead
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, 1e20)) {
      val df = Seq((bad, 1.0), (2.0, 3.0)).toDF("a", "b")
      val ex = intercept[IllegalArgumentException](
        Graph.connectedComponents(df, "a", "b").collect())
      assert(ex.getMessage.contains("fix or filter"), s"$bad: ${ex.getMessage}")
    }
  }

  test("fractional ids fail loudly instead of truncating distinct nodes together") {
    // 41.2 and 41.7 both truncate to node 41 under a bare LongType
    // cast — two unrelated documents silently merged; integral-valued
    // doubles (41.0) must still pass
    val frac = Seq((41.2, 1.0), (41.7, 2.0)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException](
      Graph.connectedComponents(frac, "a", "b").collect())
    assert(ex.getMessage.toLowerCase.contains("fractional"), ex.getMessage)
    intercept[IllegalArgumentException](
      Graph.pageRank(frac, "a", "b").collect())
    val intDoubles = Seq((1.0, 2.0), (2.0, 3.0)).toDF("a", "b")
    val got = Graph.connectedComponents(intDoubles, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("reliableCheckpointDir: distributed loop writes durable checkpoints, same labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val ids = ((100L to 131L) :+ 1L) ++ (200L to 230L) // multi-round convergence
    val edges = ids.zip(ids.tail).toDF("a", "b")
    val got = Graph.connectedComponents(edges, "a", "b", localSolveMaxEdges = 0L,
        reliableCheckpointDir = Some(dir))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")).toMap
    assert(got == ids.map(_ -> 1L).toMap)
    // the reliable path must actually have written checkpoint data
    // (this is what survives an executor loss on a long stage)
    def filesUnder(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) f.listFiles().iterator.flatMap(filesUnder) else Iterator(f)
    assert(filesUnder(new java.io.File(dir)).nonEmpty,
      s"no checkpoint files written under $dir")
    // superseded rounds delete their durable files as they are
    // replaced — a 50-round run must not hoard 50 label-table copies;
    // only the returned label table's checkpoint survives
    def rddDirs = filesUnder(new java.io.File(dir)).map(_.getParentFile)
      .filter(_.getName.startsWith("rdd-")).toSet
    assert(rddDirs.size == 1,
      s"expected only the final label checkpoint to remain, found: $rddDirs")
    // the dir-reuse guard must recognize the already-qualified
    // current checkpoint dir (getCheckpointDir returns a URI):
    // re-setting per materialization would mint one abandoned UUID
    // subdirectory per call — a multi-round run must leave exactly one
    val uuidDirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    assert(uuidDirs.length == 1,
      s"expected one checkpoint UUID dir under $dir, found ${uuidDirs.map(_.getName).toSeq}")
  }

  test("intermediate checkpoint blocks are released; only the result stays cached") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val ids = ((100L to 131L) :+ 1L) ++ (200L to 230L) // multi-round convergence
    val edges = ids.zip(ids.tail).toDF("a", "b")
    val result = Graph.connectedComponents(edges, "a", "b", localSolveMaxEdges = 0L)
    result.count()
    // rounds ran (diameter ~63 ⇒ several), but at most the final label
    // table may remain persisted — superseded rounds and the edge list
    // must have been unpersisted
    val kept = spark.sparkContext.getPersistentRDDs
    assert(kept.size <= 1, s"leaked ${kept.size} persisted RDDs: ${kept.values.map(_.name)}")
  }

  test("componentJoinSide follows the regime CC decided: broadcast local, shuffle-hash distributed") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val members = Seq((1L, "x"), (2L, "y"), (10L, "z")).toDF("node_id", "payload")
    def joined(comp: org.apache.spark.sql.DataFrame) =
      members.join(Graph.componentJoinSide(comp),
        members("node_id") === comp("node"), "left")
    // local regime: LocalRelation result → broadcast side, so the
    // member join must plan as a BroadcastHashJoin (no exchange on
    // the member side at all)
    val localPlan = joined(Graph.connectedComponents(edges, "a", "b"))
      .queryExecution.sparkPlan
    assert(localPlan.collectFirst {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty, s"local-regime member join did not broadcast:\n$localPlan")
    // distributed regime (gate 0): stat-less iterative result → the
    // shuffled-hash pin, never a sort-merge fallback
    val distPlan = joined(
        Graph.connectedComponents(edges, "a", "b", localSolveMaxEdges = 0L))
      .queryExecution.sparkPlan
    assert(distPlan.collectFirst {
      case s: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => s
    }.nonEmpty, s"distributed-regime member join lost the shuffle-hash pin:\n$distPlan")
    assert(distPlan.collectFirst {
      case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
    }.isEmpty, "distributed-regime member join fell back to sort-merge")
    // both regimes still agree on the labels through the join
    def labels(p: org.apache.spark.sql.DataFrame) = p
      .select(col("node_id"), coalesce(col("comp"), col("node_id")).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(labels(joined(Graph.connectedComponents(edges, "a", "b"))) ==
      labels(joined(Graph.connectedComponents(edges, "a", "b", localSolveMaxEdges = 0L))))
  }

  test("componentJoinSide caps the forced broadcast: an over-cap LocalRelation gets the shuffle-hash pin") {
    // the broadcast hint bypasses autoBroadcastJoinThreshold, so a
    // caller that raises localSolveMaxEdges must not be handed an
    // unbounded forced broadcast (r12 advice fix). Drive the dispatch
    // directly with LocalRelations on both sides of the cap.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // analyzed (not optimized) plan: a standalone hinted relation has
    // no join for the hint to fold into, so EliminateResolvedHint
    // would strip it from the optimized tree
    def hintOf(df: org.apache.spark.sql.DataFrame): Option[String] =
      Graph.componentJoinSide(df).queryExecution.analyzed.collectFirst {
        case h: ResolvedHint =>
          if (h.hints.strategy.exists(_.toString.toLowerCase.contains("broadcast")))
            "broadcast"
          else "other"
      }
    val small = Seq((1L, 1L), (2L, 1L)).toDF("node", "comp")
    assert(hintOf(small).contains("broadcast"), "under-cap LocalRelation must broadcast")
    // over-cap: rows > ComponentBroadcastMaxRows. A VIRTUAL IndexedSeq
    // — the dispatch only reads .length and the analyzed plan never
    // executes, so materializing 4M+1 boxed InternalRows (~hundreds
    // of MB on the shared test heap) would buy nothing
    val n = Graph.ComponentBroadcastMaxRows + 1
    val rows: IndexedSeq[org.apache.spark.sql.catalyst.InternalRow] =
      new scala.collection.immutable.IndexedSeq[org.apache.spark.sql.catalyst.InternalRow] {
        def length: Int = n
        def apply(i: Int): org.apache.spark.sql.catalyst.InternalRow =
          org.apache.spark.sql.catalyst.InternalRow(i.toLong, i.toLong)
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp", org.apache.spark.sql.types.LongType, nullable = false)))
    val big = org.apache.spark.sql.graft.ParquetBridge.ofLocalRelation(spark, schema, rows)
    assert(big.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(!hintOf(big).contains("broadcast"),
      "over-cap LocalRelation must NOT be force-broadcast")
  }

  test("jaccardComponents groups transitive near-dup chains") {
    // a~b (J=1 identical), b~c high overlap, c~d high overlap, e isolated
    val mk = (id: Long, words: Seq[String]) =>
      (id, words.mkString(" "), "en", words.mkString(" ").length.toLong)
    val base = (1 to 10).map(i => s"w$i")
    val docs = Seq(
      mk(1L, base), mk(2L, base),                    // identical pair
      mk(3L, base.tail :+ "x1"),                     // J(1,3) = 9/11 ≈ 0.818
      mk(4L, (base.tail :+ "x1").tail :+ "x2"),      // chains via 3
      mk(5L, Seq("zz", "yy", "xx", "ww", "vv", "uu", "tt", "ss", "rr", "qq")))
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = graft.text.Dedup.jaccardComponents(docs, 0.8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(5L) == 5L)
    // doc 4 joins the chain iff J(3,4) ≥ 0.8 — same formula as the op
    val s3 = (base.tail :+ "x1").toSet
    val s4 = ((base.tail :+ "x1").tail :+ "x2").toSet
    val j34 = s3.intersect(s4).size.toDouble / s3.union(s4).size
    assert(got(4L) == (if (j34 >= 0.8) 1L else 4L))
    // pairs-mode and component-mode agree: every emitted pair shares a component
    val pairs = graft.text.Dedup.jaccardNearDupPairs(docs, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) => assert(got(a) == got(b), s"pair ($a,$b) split") }
  }

  // ---- PageRank ----

  /** Driver-side power iteration with the same dangling-mass rule. */
  private def prRef(edges: Seq[(Long, Long)], iters: Int,
                    d: Double): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(rank).sum
      val contrib = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      edges.foreach { case (s, t) => contrib(t) += rank(s) / out(s) }
      rank = nodes.map(v => v -> ((1 - d) / n + d * (contrib(v) + dang / n))).toMap
    }
    rank
  }

  private def pr(edges: Seq[(Long, Long)], iters: Int = 10): Map[Long, Double] =
    Graph.pageRank(edges.toDF("s", "t"), "s", "t", iters)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap

  test("pageRank: symmetric cycle is uniform; mass conserves to exactly 1") {
    val got = pr(Seq((1L, 2L), (2L, 1L)))
    assert(math.abs(got(1L) - 0.5) < 1e-12 && math.abs(got(2L) - 0.5) < 1e-12, got.toString)
    // star with a dangling hub: mass still sums to 1 (the dangling
    // redistribution rule — without it the hub leaks rank each round)
    val star = pr(Seq((1L, 9L), (2L, 9L), (3L, 9L)))
    assert(math.abs(star.values.sum - 1.0) < 1e-9, star.toString)
    assert(star(9L) > star(1L), "sink must out-rank its pointers")
  }

  test("pageRank matches the driver reference on random digraphs") {
    val rnd = new Random(23)
    for (trial <- 1 to 2) {
      val n = 30
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = pr(edges, iters = 8)
      val want = prRef(edges, 8, 0.85)
      assert(got.keySet == want.keySet, s"trial $trial node sets differ")
      got.foreach { case (v, r) =>
        assert(math.abs(r - want(v)) < 1e-9, s"trial $trial node $v: $r vs ${want(v)}")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("degreeHistogram: counts incident edges, includes isolated nodes") {
    // triangle 1-2-3 plus pendant 3-4; nodes 5, 6 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val nodes = (1L to 6L).toDF("node")
    val got = Graph.degreeHistogram(edges, "a", "b", nodes, "node")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // degrees: 1->2, 2->2, 3->3, 4->1, 5/6->0
    assert(got == Map(0L -> 2L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("clusterDegreeHistogram == degreeHistogram over the expanded pair list (simhash family, random corpora)") {
    // the fused cluster-graph histogram must be BIT-IDENTICAL to the
    // composed form it replaces in q_degree_hist — duplicate-heavy
    // clusters, near-dup variants, isolated docs, empty text and a
    // null doc_id all in one corpus
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val base = (1 to 12).map(_ => (1 to (3 + rnd.nextInt(10)))
        .map(_ => s"w${rnd.nextInt(20)}").mkString(" "))
      val docs0 = (0 until 120).map { i =>
        val t = base(rnd.nextInt(base.length))
        val text = rnd.nextInt(4) match {
          case 0 => t                        // exact duplicate cluster
          case 1 => t + s" x${rnd.nextInt(6)}" // near-dup variant
          case 2 => s"unique ${trial}_$i " + (1 to 5).map(_ => s"u${rnd.nextInt(1000)}").mkString(" ")
          case _ => if (i % 17 == 0) "" else t + " " + t
        }
        (i.toLong, text, "en")
      }
      val docs = docs0.toDF("doc_id", "text", "lang")
        .unionByName(Seq((null.asInstanceOf[java.lang.Long], "null id doc", "en"))
          .toDF("doc_id", "text", "lang"))
      val nodes = docs.select(col("doc_id"))
      for (h <- Seq(0, 1)) {
        val composed = Graph.degreeHistogram(
            graft.text.Dedup.simhashNearDupPairs(spark, docs, h), "doc_a", "doc_b",
            nodes, "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val fused = graft.text.Dedup.simhashDegreeHistogram(spark, docs, h, nodes, "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(fused == composed, s"trial $trial maxHamming $h: $fused vs $composed")
      }
    }
  }

  test("pageRank: empty edges, bad ids, and checkpoint hygiene") {
    assert(pr(Seq.empty).isEmpty)
    intercept[IllegalArgumentException](
      Graph.pageRank(Seq(("1", "x")).toDF("s", "t"), "s", "t"))
    // superseded rounds release their blocks; only the RETURNED rank
    // table may stay cached for the caller (the CC contract)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    pr(Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)))
    assert(spark.sparkContext.getPersistentRDDs.size <= 1,
      s"leaked persisted RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
  }
}
