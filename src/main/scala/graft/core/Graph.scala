package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, LongType}
import org.apache.spark.storage.StorageLevel

/** Distributed graph primitives for dedup-cluster construction.
  *
  * The near-dup operators emit PAIRS (edges); turning "A~B, B~C" into
  * the transitive cluster {A,B,C} is a connected-components problem —
  * the step that decides which documents a curation pipeline actually
  * drops. GraphX solves it with Pregel min-propagation; this is the
  * same algorithm expressed as DataFrame joins (no RDD graph copy, and
  * the frames keep AQE + whole-stage codegen).
  */
object Graph {

  /** LongType id cast that NULLs — instead of truncating — a
    * FRACTIONAL value: an id column stored as double/decimal with
    * value 41.7 must fail the null validation loudly, not silently
    * merge into node 41 and collapse two unrelated documents into
    * one cluster. try_cast, not cast: under Spark 4's default ANSI
    * mode a plain cast ABORTS the task on a non-numeric string or a
    * NaN/Infinity/overflowing double (SparkNumberFormatException /
    * SparkArithmeticException mid-job, skipping the designed loud
    * badIds validation below and leaking the materialized RDD);
    * try_cast nulls those rows so every malformed id reaches the one
    * IllegalArgumentException with the fix-or-filter message.
    * (Integral types cast exactly; ANSI's double→long cast truncates
    * fractions LEGALLY, hence the round-trip compare — exact for
    * |id| < 2^53, far past any real id space.) */
  private def strictLongId(df: DataFrame, name: String): Column = {
    val c = col(name)
    df.schema(df.schema.fieldIndex(name)).dataType match {
      case DoubleType | FloatType | (_: DecimalType) =>
        when(c.try_cast(LongType).cast(DoubleType) === c.cast(DoubleType),
          c.try_cast(LongType))
      case _ => c.try_cast(LongType)
    }
  }

  /** Materialize an iteration result in ONE Spark job and RESET its
    * logical lineage, returning the frame, the checkpointed RDD
    * handle (so a later round can free its blocks), and the number of
    * rows matching `deltaWhen`.
    *
    * Three concerns fold into the single pass:
    *  - `localCheckpoint` + count stores the rows — without it round
    *    N's plan would re-run rounds 1..N−1 (and re-derive the edge
    *    input, which may itself be an expensive near-dup pipeline);
    *  - the RDD round-trip through `createDataFrame` swaps the plan
    *    for a bare scan with EMPTY constraints/stats. Without it each
    *    round's `LogicalRDD` inherits the previous round's constraint
    *    set rewritten through four join branches — exponential growth
    *    that hangs the driver inside `rewriteStatsAndConstraints` by
    *    round ~10 (observed);
    *  - a `LongAccumulator` fed by the materializing map counts the
    *    delta rows DURING the checkpoint job, so convergence needs no
    *    separate `isEmpty`/count action per round. The update lives
    *    in a TRANSFORMATION, so it is at-least-once (speculative or
    *    retried tasks can double-fire) — direction-safe for every
    *    use here: a true delta of 0 cannot inflate (no rows fire the
    *    predicate at all), so convergence is never falsely declared,
    *    and badIds > 0 stays > 0; only the magnitude in the error
    *    message can overcount. Do not hang exact-count logic off it.
    *
    * Checkpoint mode: `reliableDir = None` uses `localCheckpoint` —
    * fastest, but blocks die with an executor, the right trade for an
    * iterative interactive job. A long pipeline stage (the 12-hour
    * 100-TB case) passes a reliable directory instead: rows persist
    * to MEMORY_AND_DISK first so the checkpoint-write job reads the
    * cached blocks (no recompute — which would double-fire the delta
    * accumulator), then write to fault-tolerant storage. */
  private def materializeCount(df: DataFrame, deltaWhen: Row => Boolean,
                               reliableDir: Option[String])
      : (DataFrame, RDD[Row], Long, Long) = {
    val spark = df.sparkSession
    val acc = spark.sparkContext.longAccumulator("graft.graph.delta")
    val mapped = df.rdd.mapPartitions { it =>
      it.map { r => if (deltaWhen(r)) acc.add(1L); r }
    }
    val rows = reliableDir match {
      case Some(dir) =>
        // setCheckpointDir appends a unique subdir; only (re)set when
        // the current one is NOT already under the requested root (true
        // path-prefix — a plain startsWith would also match a SIBLING
        // like "<dir>2" and silently keep checkpointing there).
        // Compare FS-QUALIFIED forms: getCheckpointDir returns a
        // fully-qualified URI ("file:/data/ckpt/<uuid>"), which a raw
        // "/data/ckpt" never prefixes — an unqualified compare made
        // every materialization mint a fresh abandoned UUID dir.
        val root = dir.replaceAll("/+$", "")
        val qualified = {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .makeQualified(p).toString
        }
        if (!spark.sparkContext.getCheckpointDir.exists(c =>
            c == root || c.startsWith(root + "/") ||
            c == qualified || c.startsWith(qualified + "/")))
          spark.sparkContext.setCheckpointDir(root)
        mapped.persist(StorageLevel.MEMORY_AND_DISK)
        mapped.checkpoint()
        mapped
      case None => mapped.localCheckpoint()
    }
    val total = rows.count() // the one forcing action: persists blocks + fills the accumulator
    (spark.createDataFrame(rows, df.schema), rows, acc.value, total)
  }

  /** Release a superseded round: drop its cached blocks AND, in
    * reliable mode, delete its durable checkpoint files — a 50-round
    * run must not leave 50 dataset-sized copies on the checkpoint
    * volume (Spark only cleans them with GC-driven
    * `cleanCheckpoints`, which defaults off). Callers invoke this
    * strictly AFTER the successor round is materialized, so nothing
    * can recompute through the deleted files. */
  private def release(spark: SparkSession, rdd: RDD[Row], reliable: Boolean): Unit = {
    rdd.unpersist(blocking = false)
    if (reliable) rdd.getCheckpointFile.foreach { p =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      } catch { case _: java.io.IOException => () } // best-effort hygiene
    }
  }

  /** Broadcast cap for [[componentJoinSide]] (rows, not bytes — a
    * LocalRelation row here is exactly two longs). The broadcast
    * hint BYPASSES autoBroadcastJoinThreshold, so without a cap a
    * caller that raises `localSolveMaxEdges` (the only way the
    * LocalRelation grows) would force an unbounded broadcast of up
    * to 2×gate node rows into every executor. 4M rows ≈ ~200 MB as
    * a built hash relation — comfortably inside executor memory;
    * the default gate (1M edges → ≤2M rows) always broadcasts. */
  val ComponentBroadcastMaxRows: Int = 4000000

  /** The member-join side for a component map returned by
    * [[connectedComponents]] — the hint follows the regime CC already
    * decided. The LOCAL-SOLVE regime returns a LocalRelation whose
    * size is exactly known and gate-bounded (≤ 2·localSolveMaxEdges
    * node rows): broadcast it, so the member join runs exchange-free
    * on the (corpus-sized) member side. The DISTRIBUTED regime's
    * iterative closure is stat-less: pin shuffled-hash so the join
    * never falls back to a sort-merge (no sort, streamed probe). */
  def componentJoinSide(comp: DataFrame): DataFrame =
    comp.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.length <= ComponentBroadcastMaxRows =>
        broadcast(comp)
      case _ => comp.hint("shuffle_hash")
    }

  /** Connected components by min-label propagation with pointer
    * jumping: (node, component) where `component` is the smallest
    * node id reachable from `node`.
    *
    * Each materialized round runs one propagate+shortcut hop:
    *  1. propagate — `comp'(v) = min(comp(v), min over ACTIVE
    *     neighbors comp(u))`: one shuffle join of the (symmetrized,
    *     materialized once) edge list with the changed-label subset
    *     plus a partial-aggregated min;
    *  2. shortcut — `comp''(v) = comp'(comp'(v))` (pointer jumping):
    *     one self-join of the label table. Plain propagation needs
    *     `diameter` rounds; the shortcut composes paths so label
    *     distance roughly halves per hop → O(log d) rounds, the
    *     property that matters when a 100 TB near-dup graph chains
    *     into long paths.
    * Composing a SECOND lazy hop per round was measured slower
    * (8.4 s vs ~6 s at sf0.1): the jump self-join duplicates its
    * input subtree, so stacked hops re-evaluate the first hop's edge
    * join ~4× per round — worse than the scheduling overhead it
    * removes.
    *
    * Active set (vote-to-halt): only labels that changed since
    * neighbors last read them can lower a neighbor, so each edge join
    * probes the delta, not the full label table. At scale most of the
    * graph converges in the first rounds and the per-round edge join
    * shrinks toward the few long chains still moving — the classic
    * Pregel halting shape.
    *
    * Convergence: labels are monotone non-increasing longs, so the
    * round's delta count (rows lowered) hits zero exactly at fixpoint,
    * and that count falls out of the materialization job for free. At
    * fixpoint every edge has equal labels on both ends and each
    * component's label is its minimum node id (the min's own label
    * never changes, and equality along edges spreads it).
    *
    * Input ids are validated during the one edge-materialization pass:
    * a null — or a value the LongType cast nulls out — fails loudly
    * instead of collapsing into a bogus `null` component.
    *
    * Storage hygiene: each round unpersists the previous round's
    * checkpoint blocks once the new round is materialized, and the
    * edge list is released on exit; only the returned label table
    * stays cached for the caller to consume.
    *
    * @param localSolveMaxEdges size gate for the driver-side solve:
    *        once the (deduplicated) edge count is at or under it, the
    *        component search runs as union-find on the driver instead
    *        of the iterative join loop. This is the graph analogue of
    *        a broadcast join — below the threshold, moving the data
    *        to one node beats ANY sequence of distributed rounds,
    *        because each round costs several scheduling barriers
    *        regardless of data size (measured: ~0.8 s/round on
    *        local[32] for a 3k-node graph the driver solves in
    *        milliseconds). The default (1M edges ≈ tens of MB
    *        collected) is conservative for any real driver; pass 0 to
    *        force the distributed path. The near-dup inputs are
    *        rep-collapsed before they get here, but a 100 TB corpus
    *        can still exceed any driver — the iterative path is the
    *        scale path, the gate only short-circuits the tail.
    *
    * @param reliableCheckpointDir fault-tolerant checkpoint root for
    *        the per-round materializations. None (default) uses
    *        `localCheckpoint` — fastest, right for interactive jobs;
    *        a long-lived pipeline stage passes a durable path (HDFS/
    *        object store) so an executor loss does not restart the
    *        whole iteration from round 1. CAVEAT: RDD checkpointing
    *        is CONTEXT-GLOBAL — passing a dir repoints
    *        `SparkContext.setCheckpointDir` for the whole application
    *        and does not restore it afterwards; an application that
    *        checkpoints its own RDDs elsewhere, or runs concurrent
    *        graph ops with different dirs, must coordinate (use one
    *        shared root). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50,
                          localSolveMaxEdges: Long = 1000000L,
                          reliableCheckpointDir: Option[String] = None): DataFrame = {
    require(maxIter >= 1, s"need maxIter >= 1, got $maxIter")
    val spark = edges.sparkSession
    val reliable = reliableCheckpointDir.isDefined
    // Materialize the DIRECTED edge projection FIRST, then build the
    // symmetric closure from the materialized rows. Building sym
    // straight off `edges` evaluated the caller's edge plan in BOTH
    // union branches — and that plan is typically the expensive part
    // of the whole query (an LSH band join, a blocked similarity
    // join); measured on the 10× sparse embedding corpus, the
    // double evaluation alone was ~25 s of a ~50 s query.
    val dirPlan = edges
      .select(strictLongId(edges, srcCol).as("src"),
              strictLongId(edges, dstCol).as("dst"))
    val (dir, dirRdd, badIds, dirCount) =
      materializeCount(dirPlan, r => r.isNullAt(0) || r.isNullAt(1), reliableCheckpointDir)
    if (badIds > 0) {
      release(spark, dirRdd, reliable)
      throw new IllegalArgumentException(
        s"connectedComponents: $badIds edge row(s) in '$srcCol'/'$dstCol' have a null, " +
          "non-long-castable, or FRACTIONAL endpoint — fix or filter the edge input; a " +
          "null id would otherwise collapse into one bogus component and a truncating " +
          "cast would silently merge distinct nodes")
    }

    // ---- small-graph path: exact union-find on the driver ----
    // Gated on the DIRECTED edge count, BEFORE the symmetric closure
    // is ever built: union-find is orientation-insensitive (and dir
    // keeps self-loops), so the local path never needs sym — building
    // it first cost a second full materialization (in reliable mode a
    // durable write of 2× the edge data) just to discard it. The
    // collect below is BOUNDED by the gate — this is not an unguarded
    // driver loop; it reads the already-checkpointed blocks once.
    if (dirCount <= localSolveMaxEdges) {
      import spark.implicits._
      val pairs = dir.as[(Long, Long)].collect()
      release(spark, dirRdd, reliable)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // second pass pins every component label to its MIN member id
      // (union by min-root already ensures it, but stay explicit)
      val labels = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct
        .map(n => n -> find(n))
      // LocalRelation, not parallelize: the rows already live on the
      // driver (the gate bounded the collect), and a LocalRelation
      // carries EXACT size stats — so [[componentJoinSide]] can prove
      // the broadcast that lets every member join skip its exchange.
      // An RDD-backed frame is stat-less and forced the callers into
      // a shuffled-hash pin even in this regime.
      return labels.toIndexedSeq.toDF("node", "comp")
    }

    // ---- distributed path: symmetric closure from the MATERIALIZED
    // directed edges (building it straight off `edges` would evaluate
    // the caller's — typically expensive — edge plan in both union
    // branches; measured ~25 s of a ~50 s query on the 10× sparse
    // corpus) ----
    val symPlan = dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
    val (sym, symRdd, _, _) =
      materializeCount(symPlan, _ => false, reliableCheckpointDir)
    release(spark, dirRdd, reliable)

    // one propagate+shortcut hop, all lazy: cur = (node, old, comp),
    // act = the subset whose labels neighbors have not read yet
    def hop(cur: DataFrame, act: DataFrame): DataFrame = {
      // min over active neighbors (join-only, no self-union: a union
      // whose branches share attribute ids trips Catalyst's Union
      // constraint rewrite), then combine with the node's own label
      val fromNbrs = sym.join(act, col("src") === col("node"))
        .groupBy(col("dst").as("nbr_node")).agg(min(col("comp")).as("nbr_comp"))
      val prop = cur.join(fromNbrs, col("node") === col("nbr_node"), "left")
        .select(col("node"), col("old"),
                least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // pointer jump (comp∘comp). A second jump per hop (comp⁴) was
      // measured SLOWER end-to-end on the near-dup graphs: the nested
      // self-join re-evaluates the propagation subtree faster than it
      // saves rounds at realistic diameters (≤ ~10). The jump also
      // lowers labels of nodes with no active neighbor; the
      // comp-vs-old compare catches them for the next active set.
      val propL = prop.select(col("node"), col("comp"))
      prop.as("a")
        .join(propL.as("b"), col("a.comp") === col("b.node"), "left")
        .select(col("a.node").as("node"), col("a.old").as("old"),
                coalesce(col("b.comp"), col("a.comp")).as("comp"))
    }

    val lab0 = sym.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("comp"))
    var (lab, labRdd, _, nNodes) = materializeCount(lab0, _ => false, reliableCheckpointDir)

    var active = lab
    var iter = 0
    var converged = nNodes == 0L // empty edge set → nothing to do
    while (!converged && iter < maxIter) {
      val cur = lab.select(col("node"), col("comp").as("old"), col("comp"))
      val step = hop(cur, active)
      // delta = labels lowered this round: comp (idx 2) < old (idx 1)
      val (m, mRdd, delta, _) =
        materializeCount(step, r => r.getLong(2) < r.getLong(1), reliableCheckpointDir)
      release(spark, labRdd, reliable) // previous round's blocks + files are dead now
      labRdd = mRdd
      lab = m.select("node", "comp")
      active = m.filter(col("comp") < col("old")).select("node", "comp")
      converged = delta == 0L
      iter += 1
    }
    release(spark, symRdd, reliable) // edge blocks not referenced by the label scan
    // labels that stopped moving ARE the components; labels cut off
    // mid-flight are not transitively closed — returning them would
    // silently under-merge dedup clusters downstream
    if (!converged) {
      // release the final round too: a caller that catches and
      // retries with a higher maxIter must not hoard one label-table
      // copy (plus, in reliable mode, its durable checkpoint files)
      // per failed attempt
      release(spark, labRdd, reliable)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds " +
          "(pointer jumping needs ~log2(diameter)); raise maxIter")
    }
    lab
  }

  /** Degree distribution of an undirected edge list over a node
    * universe: (degree, n_nodes), INCLUDING degree-0 nodes — the
    * first diagnostic on any near-dup graph (a heavy high-degree
    * tail means hub documents chaining clusters together; the
    * degree histogram is how you pick the confirm threshold that
    * prevents it). The edge list is read ONCE — endpoints unpivot
    * via explode, not a self-union (a union of two projections plans
    * the upstream pair pipeline as two independent subtrees and
    * executes it twice; found in review). Then two partial-agg
    * shuffles, both tiny after map-side combine: per-node degree
    * (|nodes| rows), then the histogram (|distinct degrees| rows). */
  def degreeHistogram(edges: DataFrame, srcCol: String, dstCol: String,
                      nodes: DataFrame, nodeCol: String): DataFrame = {
    val deg = edges
      // a null endpoint is not a node: unfiltered, the non-null side
      // gained a degree for an edge to nowhere and the null grouped
      // into a phantom row — this operator is fully lazy (no
      // materialization pass to throw from, unlike the siblings), so
      // the declarative null contract is DROP, stated here
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(explode(array(col(srcCol), col(dstCol))).as("__n"))
      .groupBy("__n").agg(count(lit(1)).as("degree"))
    nodes.select(col(nodeCol).as("__n"))
      .join(deg, Seq("__n"), "left")
      .na.fill(0L, Seq("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
  }

  /** [[degreeHistogram]] computed on the CLUSTER graph instead of the
    * expanded pair list (r15, the optimization guide's "decide with
    * small rows" rule): when the pair list is the full expansion of a
    * distinct-cluster edge set — every member pair within a cluster
    * plus every cross pair per cluster edge, each exactly once, the
    * `expandDocPairs` Full contract — every member of cluster f has
    * the SAME degree
    *   deg(f) = (|C_f| − 1) + Σ_{g adjacent to f} |C_g|,
    * so the histogram falls out of cluster sizes and the cluster-pair
    * stream with NO quadratic doc-pair materialization: output-linear
    * where the composed form is output-quadratic on duplicate-heavy
    * corpora.
    *
    * Equivalence preconditions (both hold for the declared usage,
    * pinned by the GraphSpec equality test): `nodes` rows are unique,
    * and every member doc appears in `nodes` (members not in the node
    * universe would be counted here but dropped by the composed
    * form's left join). Null or absent-from-members node rows land in
    * the degree-0 bucket exactly as the composed form's unmatched
    * left join does. Cluster keys and member doc ids must be
    * non-null (the dedup families' silent-drop convention upstream).
    *
    * Shape: two partial-agg shuffles over |clusters|-sized frames plus
    * one 1-row × 1-row cross join for the degree-0 bucket — the
    * heavy operand (members) is read only for the size aggregate.
    *
    * The positive-degree cluster frame is referenced TWICE (the
    * histogram aggregate and the degree-0 bucket's n_pos total), and
    * lazily that re-runs the whole sizes/adjacency/mass pipeline —
    * including the caller's cluster-pair derivation, typically an LSH
    * band join — per reference (r16, found in the q_degree_hist bench
    * regression). That frame is therefore scope-cached (two longs ×
    * |positive clusters| rows — never corpus-sized). */
  def clusterDegreeHistogram(members: DataFrame, clusterPairs: DataFrame,
                             nodes: DataFrame, nodeCol: String): DataFrame = ScopedCache.scope {
    val sizes = members.groupBy(col("ckey")).agg(count(lit(1)).as("csize"))
    // endpoints unpivot via explode, not a self-union — the same
    // rule [[degreeHistogram]] documents: a union of two projections
    // plans the caller's cluster-pair pipeline (typically an LSH band
    // join) as two independent subtrees and executes it twice
    val adj = clusterPairs
      .select(explode(array(
        struct(col("ck_a").as("ckey"), col("ck_b").as("nb")),
        struct(col("ck_b").as("ckey"), col("ck_a").as("nb")))).as("e"))
      .select(col("e.ckey").as("ckey"), col("e.nb").as("nb"))
    val mass = adj
      .join(sizes.select(col("ckey").as("nb"), col("csize").as("nb_size"))
        .hint("shuffle_hash"), "nb")
      .groupBy(col("ckey")).agg(sum(col("nb_size")).as("cross_deg"))
    // (degree, csize) of POSITIVE-degree clusters only — both
    // consumers below filtered identically, so the filter rides
    // inside the (cacheable) shared frame
    val deg = ScopedCache.register(sizes.join(mass, Seq("ckey"), "left")
      .select((coalesce(col("cross_deg"), lit(0L)) + col("csize") - 1L).as("degree"),
        col("csize"))
      .filter(col("degree") > 0))
    val positive = deg.groupBy(col("degree")).agg(sum(col("csize")).as("n_nodes"))
    // degree-0 bucket: every node-universe row not in a positive-
    // degree cluster (isolated singleton clusters, fingerprint-less
    // docs, null ids). 1-row × 1-row cross join — scalar arithmetic,
    // never a data-sized join.
    val zero = nodes.agg(count(lit(1)).as("n_total"))
      .crossJoin(deg.agg(coalesce(sum(col("csize")), lit(0L)).as("n_pos")))
      .select(lit(0L).as("degree"), (col("n_total") - col("n_pos")).as("n_nodes"))
      .filter(col("n_nodes") > 0)
    positive.unionByName(zero)
  }

  /** PageRank by power iteration over a DIRECTED edge list — the
    * link-graph quality signal web-corpus curation weighs domains by
    * (a crawl's "is this host worth keeping" prior). Fixed `iters`
    * rounds of
    *   rank'(v) = (1−d)/N + d·(Σ_{u→v} rank(u)/outdeg(u) + D/N)
    * where D is the dangling mass (rank held by nodes with no
    * out-edges, redistributed uniformly so Σ rank stays exactly 1 —
    * without it every dangling node leaks its rank each round and
    * the scores drift toward 0).
    *
    * Scale shape, per round: ONE shuffle join of the materialized
    * (src, dst, outdeg) edge table with the current rank table, a
    * partial-aggregated sum by dst, and a 1-row scalar aggregate for
    * the dangling mass (driver reads one double — the Lloyd/argmax
    * discipline, never a table). Rounds materialize through the same
    * checkpoint/release machinery as [[connectedComponents]]: round
    * N+1's plan never re-runs round N, and superseded rounds free
    * their blocks (and durable files, in reliable mode) immediately.
    * Self-loops and parallel edges are legal (parallel edges weight
    * the link, the usual multigraph convention). Returns
    * (node, rank); not SQL-oracle-able (iterative float fixpoint) —
    * verified by driver-reference equality and Σ rank = 1 invariants
    * in unit tests. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, damping: Double = 0.85,
               reliableCheckpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0, s"need damping in (0,1), got $damping")
    val spark = edges.sparkSession
    val reliable = reliableCheckpointDir.isDefined
    val ePlan = edges.select(strictLongId(edges, srcCol).as("src"),
                             strictLongId(edges, dstCol).as("dst"))
    val (e, eRdd, badIds, _) =
      materializeCount(ePlan, r => r.isNullAt(0) || r.isNullAt(1), reliableCheckpointDir)
    if (badIds > 0) {
      release(spark, eRdd, reliable)
      throw new IllegalArgumentException(
        s"pageRank: $badIds edge endpoint(s) in '$srcCol'/'$dstCol' are null or not " +
          "castable to long — fix or filter the edge input")
    }
    // nodes = src ∪ dst, materialized ONCE: its forcing count IS
    // nNodes, and the rank init reads it directly — re-deriving the
    // node set from the edge-sized links table (as a distinct+count
    // and again for the init) would be two extra full shuffles at
    // setup, duplicating the distinct already paid here
    val (nodes, nodesRdd, _, nNodes) = materializeCount(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(),
      _ => false, reliableCheckpointDir)
    if (nNodes == 0) {
      release(spark, eRdd, reliable)
      release(spark, nodesRdd, reliable)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", LongType, nullable = false),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
    }
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val contribEdges = e.join(outdeg, "src") // (src, dst, outdeg), materialized once below
    val (links, linksRdd, _, _) =
      materializeCount(
        nodes.join(contribEdges.select(col("src"), col("dst"), col("outdeg")),
          col("node") === col("src"), "left")
          .select(col("node"), col("dst"), col("outdeg")),
        _ => false, reliableCheckpointDir)
    release(spark, eRdd, reliable)
    val base = (1.0 - damping) / nNodes

    var (rank, rankRdd, _, _) = materializeCount(
      nodes.select(col("node"), lit(1.0 / nNodes).as("rank")),
      _ => false, reliableCheckpointDir)
    release(spark, nodesRdd, reliable)
    var iter = 0
    while (iter < iters) {
      // dangling mass: one scalar to the driver (sum over outdeg-null
      // nodes); links carries (node, dst=null) exactly for those
      val dangling = links.filter(col("dst").isNull)
        .join(rank, "node")
        .agg(coalesce(sum(col("rank")), lit(0.0))).collect()(0).getDouble(0)
      val contrib = links.filter(col("dst").isNotNull)
        .join(rank, "node")
        .groupBy(col("dst").as("cnode"))
        .agg(sum(col("rank") / col("outdeg")).as("in_rank"))
      val stepped = rank.select(col("node"))
        .join(contrib, col("node") === col("cnode"), "left")
        .select(col("node"),
          (lit(base) + lit(damping) *
            (coalesce(col("in_rank"), lit(0.0)) + lit(dangling / nNodes))).as("rank"))
      val (m, mRdd, _, _) = materializeCount(stepped, _ => false, reliableCheckpointDir)
      release(spark, rankRdd, reliable)
      rank = m; rankRdd = mRdd
      iter += 1
    }
    release(spark, linksRdd, reliable)
    rank
  }
}
