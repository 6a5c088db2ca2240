package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Data-quality validation over raw tables — the admission gate a
  * pipeline runs BEFORE spending compute on curation: profile every
  * column's null/distinct/range shape, audit re-identification risk
  * on quasi-identifier tuples, and surface the heavy-hitter keys
  * that dominate a column. All three are single-purpose DataFrame
  * transforms with deterministic, engine-portable outputs, so they
  * hash-match a SQL oracle and can gate a DAG run.
  */
object Validate {

  /** Backtick-quoted TOP-LEVEL resolution of a user-supplied column
    * name against the frame that owns it — [[dataProfile]]'s
    * convention, shared family-wide so a legal (if unusual) dotted
    * top-level name ("price.usd") is never misparsed as struct-field
    * access by a bare `col()`. The resolved Column's attribute rides
    * downstream filter/select lineage of the same frame. The quoting
    * cannot escape a backtick itself — rejected up front. */
  private def userCol(df: DataFrame, c: String): Column = {
    require(!c.contains("`"), s"column name '$c' contains a backtick — rename it first")
    df.col(s"`$c`")
  }

  /** Per-column profile in ONE job: row count, null count, exact (or
    * sketched) distinct count, and min/max — numeric columns report
    * `min_num`/`max_num` (double), string columns `min_str`/`max_str`
    * (binary collation on both engines), other types (timestamps,
    * arrays) report counts only. One row out per profiled column.
    *
    * Shape: a single global aggregate computes every stat as a
    * partial-aggregable expression, then ONE literal-array explode
    * pivots the 1-row result to per-column rows — no per-column jobs,
    * no driver loop over the data (the Deequ-style profile shape).
    *
    * Scale: with `approx = false` (the oracle-able default) the
    * multi-column exact `countDistinct` plans through Catalyst's
    * Expand — an ncols× row multiplication before the partial
    * aggregate. That is the price of exactness and it is fine up to
    * a handful of columns; a 100-TB sweep over wide tables should
    * pass `approx = true`, which swaps in `approx_count_distinct`
    * (HLL++): one pass, no Expand, fixed memory per column — the
    * [[Ops.approxDistinct]] trade documented there. */
  def dataProfile(df: DataFrame, cols: Seq[String], approx: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    require(cols.distinct.length == cols.length,
      s"duplicate profile columns: ${cols.diff(cols.distinct).distinct.mkString(", ")}")
    val schema = df.schema
    cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"column '$c' not in ${schema.fieldNames.toSeq}")
    }
    // quoted resolution (userCol): a TOP-LEVEL column whose name
    // contains a dot ("price.usd") must not be parsed as struct-field
    // access (bare col()/df() both would)
    def src(c: String): Column = userCol(df, c)
    def nd(c: String): Column =
      if (approx) approx_count_distinct(src(c)) else countDistinct(src(c))
    val isNum: String => Boolean = c => schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }
    val isStr: String => Boolean = c => schema(c).dataType == StringType
    // internal aliases are INDEX-based ("__nulls_0"), never embed the
    // user's column name: col("__nulls_price.usd") would parse the dot
    // as struct-field access and fail resolution on a legal (if
    // unusual) dotted column name the up-front schema check accepted
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++
      cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          // coalesce: sum over ZERO rows is NULL, and an empty (clean)
          // table must profile as n_nulls = 0, not null — a gate like
          // filter(n_nulls === 0) would silently drop the row
          coalesce(sum(when(src(c).isNull, 1L).otherwise(0L)), lit(0L))
            .as(s"__nulls_$i"),
          nd(c).as(s"__nd_$i")) ++
          (if (isNum(c))
            Seq(min(src(c)).cast(DoubleType).as(s"__min_$i"),
                max(src(c)).cast(DoubleType).as(s"__max_$i"))
          else if (isStr(c))
            Seq(min(src(c)).as(s"__smin_$i"), max(src(c)).as(s"__smax_$i"))
          else Nil)
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        col(s"__nulls_$i").as("n_nulls"),
        col(s"__nd_$i").cast(LongType).as("n_distinct"),
        (if (isNum(c)) col(s"__min_$i") else lit(null).cast(DoubleType)).as("min_num"),
        (if (isNum(c)) col(s"__max_$i") else lit(null).cast(DoubleType)).as("max_num"),
        (if (isStr(c)) col(s"__smin_$i") else lit(null).cast(StringType)).as("min_str"),
        (if (isStr(c)) col(s"__smax_$i") else lit(null).cast(StringType)).as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** k-anonymity audit: every quasi-identifier combination whose
    * group is smaller than `k` — the rows an adversary could
    * re-identify by joining the quasi columns against an external
    * table (Sweeney's k-anonymity, the standard release-readiness
    * check run alongside PII scrubbing). Returns the violating
    * combinations with their group sizes; an empty result certifies
    * the projection k-anonymous.
    *
    * Scale: one partial-aggregated groupBy on the quasi tuple — the
    * count collapses map-side, so the shuffle carries one row per
    * combination, not per input row; the `< k` filter then prunes to
    * the (rare) violating groups. No window, no self-join. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k-anonymity below 2 is vacuous, got $k")
    require(!quasiCols.contains("group_size"),
      "quasi-identifier column 'group_size' collides with the output count alias — alias it first")
    df.groupBy(quasiCols.map(userCol(df, _)): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
  }

  /** Exact φ-heavy hitters in two bounded passes — every value whose
    * frequency is ≥ ⌈φ·N⌉, without ever shuffling the full key
    * space. Pass 1 runs Misra–Gries with ⌈1/φ⌉ counters inside each
    * partition (shuffle-free, fixed memory) and unions the surviving
    * keys: by the MG guarantee any value with global count ≥ φ·N
    * survives in at least one partition (if it were evicted
    * everywhere, its total would be < Σ N_p/(⌈1/φ⌉+1) < φ·N —
    * pigeonhole). Pass 2 exact-counts ONLY the candidate set via a
    * broadcast semi-join and keeps counts ≥ ⌈φ·N⌉.
    *
    * The candidate set is ≤ partitions × ⌈1/φ⌉ keys — bounded
    * metadata, not data — so collecting it to the driver for the
    * broadcast is the same discipline as Lloyd centroids. The final
    * counts are exact, so the result equals a plain
    * groupBy-count-having — which is exactly what the oracle runs.
    * At 100 TB this is the difference between shuffling a 10-billion
    *-key token space and shuffling a few thousand candidates.
    *
    * Three source scans, all cheap: the MG candidate pass (fixed
    * memory, shuffle-free), the candidate-filtered exact count, and
    * a NARROW total-count scan whose 1-row result broadcasts into
    * the threshold filter — the plan is fully lazy, no driver
    * action decides the threshold. */
  def heavyHitters(df: DataFrame, valueCol: String, phi: Double): DataFrame = {
    require(phi > 0.0 && phi <= 0.5, s"need phi in (0, 0.5], got $phi")
    val spark = df.sparkSession
    import spark.implicits._
    // nulls are not samples (the family contract): the MG pass and
    // the candidate join both skip them, so counting them in n_total
    // would inflate the threshold applied to the real values while
    // the null key itself could never be reported
    val vals = df.select(userCol(df, valueCol).cast(StringType).as("v"))
      .filter(col("v").isNotNull).as[String]
    val totals = vals.toDF("v").agg(count(lit(1)).as("n_total"))
    // +1 counter of slack over the exact ⌈1/φ⌉ pigeonhole bound: the
    // HAVING threshold below is the fp product ceil(φ·N), which can
    // round a half-ulp BELOW the exact φ·N — the extra counter keeps
    // the MG union a superset of everything that fp threshold admits
    val capacity = math.ceil(1.0 / phi).toInt + 1
    val candidates = vals.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { v =>
        if (v != null) {
          if (counters.contains(v)) counters(v) += 1L
          else if (counters.size < capacity) counters(v) = 1L
          else {
            // decrement-all step; drop zeroed counters
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            counters.keysIterator.foreach { k =>
              val nv = counters(k) - 1L
              if (nv == 0L) dead += k else counters(k) = nv
            }
            dead.foreach(counters.remove)
          }
        }
      }
      counters.keysIterator
    }.distinct().toDF("value")
    vals.toDF("value")
      .join(broadcast(candidates), "value")
      .groupBy("value")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") >= ceil(lit(phi) * col("n_total")).cast(LongType))
      .select(col("value"), col("cnt"))
  }

  /** Population-stability-index (PSI) drift audit between the first
    * and second half of a table's time range, per group: bin the
    * value into `nBins` fixed-width bins over the GLOBAL [min, max],
    * count each (group, bin) on both sides of the temporal midpoint,
    * and emit the per-bin PSI pieces with add-one smoothing. The
    * standard model-monitoring drift gate (PSI > 0.2 ⇒ retrain),
    * here as a data-admission check between corpus snapshots.
    *
    * The declared output is EXACT per bin — `diff_num` =
    * a′·M′ − b′·N′ (long), `den` = N′·M′ (long), `ln_term` =
    * ln6(a′) + ln6(M′) − ln6(b′) − ln6(N′) (per-integer-argument
    * round-6 DECIMAL sums, the q_pmi contract; ≤ ±30 at scale 6 so
    * the final double is exact) — psi = Σ_bins diff_num·ln_term/den.
    * Keeping the division OUT of the declared row is what makes the
    * result bit-identical across engines: every emitted number is
    * either an exact integer or an exact small decimal.
    *
    * Scale shape: one narrow pass for the 4 global scalars (time
    * midpoint, value min/max — broadcast back), one partial-agg
    * shuffle on (group, bin), and a dense (group × bin) scaffold
    * from the group totals so empty bins exist for smoothing. No
    * windows, no self-joins; the post-shuffle frame is
    * |groups|·nBins rows regardless of table size.
    */
  def psiDrift(df: DataFrame, groupCol: String, valueCol: String,
               tsUsCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    import org.apache.spark.sql.types.DecimalType
    def ln6(c: Column): Column =
      round(log(c.cast(DoubleType)), 6).cast(DecimalType(18, 6))
    val dense = halfSplitBinCounts(df, groupCol, valueCol, tsUsCol, nBins)
    // the internal "grp" alias survives until the FINAL projection:
    // re-referencing an already-aliased user name with a bare col()
    // would misparse a dotted top-level groupCol (userCol rationale)
    dense.select(col("grp"), col("bin"), col("a"), col("b"),
        (col("a") + 1L).as("a1"), (col("b") + 1L).as("b1"),
        (col("n_first") + nBins).as("n1"), (col("m_second") + nBins).as("m1"))
      .select(col("grp").as(groupCol), col("bin"), col("a"), col("b"),
        (col("a1") * col("m1") - col("b1") * col("n1")).as("diff_num"),
        (col("n1") * col("m1")).as("den"),
        (ln6(col("a1")) + ln6(col("m1")) - ln6(col("b1")) - ln6(col("n1")))
          .cast(DoubleType).as("ln_term"))
  }

  /** Binned two-sample Kolmogorov–Smirnov drift between the first
    * and second time-half of each group's value population — the
    * distribution-shift gate that complements [[psiDrift]]: PSI
    * weights per-bin log-ratios (sensitive to tail re-allocation),
    * KS is the worst-case CDF gap (sensitive to location shift),
    * and a monitoring gate typically alarms on either.
    *
    * Output: one row per group — (groupCol, n_first, m_second,
    * d_num), with the declared statistic kept INTEGER-exact:
    * d_num = max over bins of |cumA·M − cumB·N| where cumA/cumB are
    * cumulative first/second-half bin counts and N/M the half
    * totals. The classical D = d_num / (N·M) is one division the
    * caller performs; keeping it out of the declared row is the
    * same cross-engine contract as psiDrift's diff_num/den split
    * (every emitted value is an exact integer, so the row hashes
    * identically on any engine/libm).
    *
    * Binned, not exact-rank, BY DESIGN: the exact KS needs a total
    * order over every distinct value — a global (or per-group) sort
    * whose hot group funnels through one task, the same scale
    * killer the equi-depth family documents. Binning to `nBins`
    * fixed-width buckets makes the heavy pass ONE partial-agg
    * shuffle on (group, bin); the cumulative window then runs over
    * ≤ nBins metadata rows per group (partitionBy group — never a
    * partition-less window), which is the production drift-monitor
    * shape (bounded sketch, exact arithmetic over it). The binned D
    * converges to the exact D as nBins grows; at the default 64 the
    * discretization error is below any actionable alarm threshold.
    *
    * Range note: the LONG gap arithmetic is exact while N·M < 2⁶³,
    * i.e. up to ~3·10⁹ rows per half PER GROUP; beyond that, cast
    * the cumulative sums to DECIMAL(38,0) — a metadata-frame cost
    * (|groups|·nBins rows), not a data-pass cost.
    */
  def ksDrift(df: DataFrame, groupCol: String, valueCol: String,
              tsUsCol: String, nBins: Int = 64): DataFrame = {
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    import org.apache.spark.sql.expressions.Window
    val dense = halfSplitBinCounts(df, groupCol, valueCol, tsUsCol, nBins)
    val w = Window.partitionBy(col("grp")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .select(col("grp"), col("n_first"), col("m_second"),
        abs(sum(col("a")).over(w) * col("m_second")
          - sum(col("b")).over(w) * col("n_first")).as("gap"))
      .groupBy(col("grp"), col("n_first"), col("m_second"))
      .agg(max(col("gap")).as("d_num"))
      .select(col("grp").as(groupCol), col("n_first"), col("m_second"),
        col("d_num"))
  }

  /** The drift family's SAMPLE filter: a distribution sample is a
    * non-null FINITE value. NaN/±Infinity are not tail samples but
    * poison — one NaN in training data makes min/max return NaN cut
    * params (every bin degenerates), and floor of a non-finite
    * double cast to Long ABORTS the job under Spark 4's default
    * ANSI mode (in the streaming monitor, permanently). Mirrored by
    * `isfinite(value)` in the DuckDB oracles. Non-finite RATE, like
    * null rate, is [[dataProfile]]'s monitor, not this family's. */
  private[graft] def finiteSample(c: Column): Column = {
    val d = c.cast(DoubleType)
    c.isNotNull && !isnan(d) && abs(d) =!= lit(Double.PositiveInfinity)
  }

  /** Equi-width bin of `value` against FROZEN [vmn, vmx] cut params
    * — a pure LITERAL expression: no scan, no aggregation, no state,
    * so it is legal (and cheap) in a streaming plan. Serving rows
    * may fall outside the training range, so the bin clamps BOTH
    * ends (below-range → bin 0, above-range → bin nBins−1) — the
    * standard out-of-range convention for a frozen reference
    * binning. The clamp runs in DOUBLE space and only then casts:
    * a serving-time ±Infinity lands in the boundary bin instead of
    * aborting the stream on an ANSI non-finite→Long cast (NaN also
    * cannot abort — Spark orders it greatest, so it clamps to the
    * top bin — but callers filter NaN out via [[finiteSample]]: it
    * is not a sample of any distribution). Shares the
    * (v−mn)·nBins/(mx−mn) floor form with [[psiDrift]]/[[ksDrift]]'s
    * self-referenced binning. */
  def binColumn(value: Column, vmn: Double, vmx: Double, nBins: Int): Column = {
    // nBins <= 0 would silently bin every row to -1, which the dense
    // 0..nBins-1 scaffolds never match — counts would vanish with no
    // error
    require(nBins >= 1, s"need nBins >= 1, got $nBins")
    require(java.lang.Double.isFinite(vmn) && java.lang.Double.isFinite(vmx),
      s"non-finite cut params [$vmn, $vmx] — train the reference on finiteSample rows")
    if (vmx == vmn) lit(0L)
    else least(lit((nBins - 1).toDouble), greatest(lit(0.0),
      floor((value.cast(DoubleType) - lit(vmn)) * nBins / lit(vmx - vmn))))
      .cast(LongType)
  }

  /** Frozen drift REFERENCE: learn equi-width cut params on a
    * training snapshot and return (vmn, vmx, dense per-(group, bin)
    * reference counts with per-group totals) — the artifact a
    * monitoring deployment computes ONCE, then compares every
    * serving window against (see
    * [[graft.streaming.StreamingOps.driftBinStream]] +
    * [[ksAgainstReference]]). Dense scaffold for the same reason as
    * [[halfSplitBinCounts]]: the cumulative gap must step past
    * empty bins. Scale shape: one narrow pass for 2 scalars, one
    * partial-agg shuffle on (group, bin), |groups|·nBins rows out. */
  def driftReference(df0: DataFrame, groupCol: String, valueCol: String,
                     nBins: Int): (Double, Double, DataFrame) = {
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    requireNonReserved(groupCol)
    // quoted resolution (userCol): a dotted top-level group/value
    // name must not parse as struct access — dataProfile's convention
    val gc = userCol(df0, groupCol)
    val vc = userCol(df0, valueCol)
    // same sample contract as halfSplitBinCounts: null/non-finite
    // values are not samples — excluded from BOTH the counts and
    // n_ref, so the cumulative reference CDF actually reaches n_ref
    // (and NaN cannot poison the min/max cut params)
    val df = df0.filter(finiteSample(vc))
    val row = df.agg(min(vc).cast(DoubleType),
                     max(vc).cast(DoubleType)).head()
    // empty (or all-null) training frame: degenerate single-bin
    // reference with an empty count scaffold, not an NPE — the
    // empty-input contract every operator family honors
    val (vmn, vmx) =
      if (row.isNullAt(0) || row.isNullAt(1)) (0.0, 0.0)
      else (row.getDouble(0), row.getDouble(1))
    val counts = df
      .select(gc.as("grp"),
        binColumn(vc, vmn, vmx, nBins).as("bin"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("ref_cnt"))
    val dense = denseScaffold(counts, nBins, Seq("ref_cnt" -> "n_ref"))
      .select(col("grp"), col("bin"), col("ref_cnt"), col("n_ref"))
    (vmn, vmx, dense)
  }

  /** Per-(bucket, group) integer-exact KS gap of windowed bin counts
    * against a frozen reference — the FINISHER shared by the batch
    * and streaming drift monitors (the streaming side runs it per
    * micro-batch in `foreachBatch`; using one finisher is what makes
    * the batch twin an exact twin). Input `binCounts` is
    * (bucket, grp, bin, cnt) — sparse is fine, the reference's dense
    * scaffold supplies missing bins; groups absent from the
    * reference are dropped (no denominator to compare against).
    * Output: (bucket, grp, n_win, n_ref, d_num) with
    * d_num = max over bins of |cumWin·n_ref − cumRef·n_win| — the
    * same LONG-exact contract as [[ksDrift]]; D = d_num/(n_win·n_ref).
    *
    * Scale shape: the per-(bucket, grp) scaffold join and cumulative
    * windows all run over ≤ nBins metadata rows per key (partitioned
    * windows, one sort shared by the running and total sums). */
  def ksAgainstReference(binCounts: DataFrame, refDense: DataFrame,
                         nBins: Int): DataFrame = {
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    import org.apache.spark.sql.expressions.Window
    // both inputs may share one lineage (binCounts feeds the
    // scaffold AND the probe; refDense may derive from the same
    // scan as binCounts, as in driftByDay) — RENAME each joined
    // side's columns (fresh attribute ids) so the self-referencing
    // plan cannot produce ambiguous or deduplicated attributes
    val refR = refDense.select(col("grp").as("r_grp"), col("bin").as("bin"),
      col("ref_cnt").as("ref_cnt"), col("n_ref").as("n_ref"))
    val scaffold = binCounts.select(col("bucket"), col("grp")).distinct()
      .join(refR, col("grp") === col("r_grp")).drop("r_grp")
    val probe = binCounts.select(col("bucket").as("c_bucket"),
      col("grp").as("c_grp"), col("bin").as("c_bin"), col("cnt"))
    val joined = scaffold
      .join(probe,
        col("bucket") === col("c_bucket") && col("grp") === col("c_grp") &&
          col("bin") === col("c_bin"), "left")
      .select(col("bucket"), col("grp"), col("bin"), col("ref_cnt"),
        col("n_ref"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val wCum = Window.partitionBy(col("bucket"), col("grp")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("bucket"), col("grp"))
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    joined
      .select(col("bucket"), col("grp"), col("n_ref"),
        sum(col("cnt")).over(wAll).as("n_win"),
        abs(sum(col("cnt")).over(wCum) * col("n_ref")
          - sum(col("ref_cnt")).over(wCum) * sum(col("cnt")).over(wAll)).as("gap"))
      .groupBy(col("bucket"), col("grp"), col("n_win"), col("n_ref"))
      .agg(max(col("gap")).as("d_num"))
  }

  /** Self-contained batch drift audit: per-day windows of each
    * group's value distribution vs the WHOLE-TABLE reference, as ONE
    * lazy plan — the declared-query form of the monitor family.
    * Unlike [[driftReference]] (which is EAGER by design: a real
    * deployment trains the reference once and freezes it), this
    * computes the min/max scalars inside the plan
    * (crossJoin(broadcast(…)), the [[halfSplitBinCounts]] pattern),
    * so nothing executes until an action runs and a benchmark times
    * the whole computation — including both documented linear scans
    * (reference learn + window counts; the narrow scan subtree is
    * evaluated once per groupBy exchange). Output and arithmetic are
    * [[ksAgainstReference]]'s: (bucket, grp, n_win, n_ref, d_num),
    * integer-exact. Null values are excluded per the family's null
    * contract. */
  def driftByDay(df0: DataFrame, groupCol: String, valueCol: String,
                 tsUsCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    requireNonReserved(groupCol)
    // quoted resolution (userCol) — see driftReference
    val gc = userCol(df0, groupCol)
    val vc = userCol(df0, valueCol)
    val tc = userCol(df0, tsUsCol)
    // a null timestamp has no day bucket: unfiltered it formed a
    // bucket=NULL group whose bins then failed the === probe join,
    // emitting a spurious (bucket=null, d_num=0) "no drift" row while
    // the rows' actual counts vanished. The half-split twins drop
    // null-ts rows too — same family contract.
    val df = df0.filter(finiteSample(vc) && tc.isNotNull)
    val scalars = df.agg(
      min(vc).cast(DoubleType).as("__vmn"),
      max(vc).cast(DoubleType).as("__vmx"))
    val binned = df.crossJoin(broadcast(scalars))
      .select(gc.as("grp"),
        date_format(timestamp_micros(tc), "yyyy-MM-dd").as("bucket"),
        binExpr(vc, col("__vmn"), col("__vmx"), nBins).as("bin"))
    val ref = binned.groupBy("grp", "bin").agg(count(lit(1)).as("ref_cnt"))
    val refDense = denseScaffold(ref, nBins, Seq("ref_cnt" -> "n_ref"))
      .select(col("grp"), col("bin"), col("ref_cnt"), col("n_ref"))
    val winCounts = binned.groupBy("bucket", "grp", "bin")
      .agg(count(lit(1)).as("cnt"))
    ksAgainstReference(winCounts, refDense, nBins)
  }

  /** Working/output column names the drift family mints ALONGSIDE
    * the re-aliased group column. A groupCol with one of these names
    * would coexist with the internal column of the same name in one
    * projection — ambiguous downstream (AnalysisException at best, a
    * silently shadowed column at worst) — rejected up front.
    * ("grp"/"bucket" are safe: the user name and the internal alias
    * unify rather than coexist; value/ts columns are consumed in the
    * first projection and never collide.) */
  private val DriftReservedNames = Set(
    "bin", "a", "b", "a1", "b1", "n1", "m1",
    "n_first", "m_second", "d_num", "gap", "cnt",
    "n_win", "n_ref", "ref_cnt")

  private[core] def requireNonReserved(name: String): Unit =
    require(!DriftReservedNames.contains(name),
      s"group column name '$name' is reserved by the drift family's internals " +
        s"(${DriftReservedNames.toSeq.sorted.mkString(", ")}) — rename or alias it first")

  /** The family's ONE in-plan equi-width bin form —
    * clamp(⌊(v−mn)·nBins/(mx−mn)⌋, 0, nBins−1), degenerate range →
    * bin 0 — over scalar COLUMNS (broadcast 1-row cross join), so it
    * stays lazy inside a plan. [[binColumn]] is the literal-parameter
    * (frozen-reference / streaming) twin of the same arithmetic.
    * Shared so the binning convention cannot fork between the
    * half-split, reference-learn, and by-day paths. */
  private def binExpr(v: Column, vmn: Column, vmx: Column, nBins: Int): Column =
    when(vmx === vmn, lit(0L))
      .otherwise(least(lit(nBins - 1L), greatest(lit(0L),
        floor((v.cast(DoubleType) - vmn) * nBins / (vmx - vmn)).cast(LongType))))

  /** Dense (grp × 0..nBins−1) scaffold over a sparse per-(grp, bin)
    * count frame: per-group totals (one alias per value column), the
    * full bin range exploded from them, sparse counts joined back,
    * absent bins zero-filled. Empty bins are load-bearing for the
    * whole family (PSI smooths them, KS's cumulative gap must step
    * past them) — shared so the scaffold shape cannot fork either. */
  private def denseScaffold(counts: DataFrame, nBins: Int,
                            valueTotals: Seq[(String, String)]): DataFrame = {
    val aggCols = valueTotals.map { case (v, t) => sum(col(v)).as(t) }
    counts.groupBy("grp").agg(aggCols.head, aggCols.tail: _*)
      .withColumn("bin", explode(sequence(lit(0L), lit(nBins - 1L))))
      .join(counts, Seq("grp", "bin"), "left")
      .na.fill(0L, valueTotals.map(_._1))
  }

  /** Shared first-half/second-half equi-width binning behind
    * [[psiDrift]] and [[ksDrift]]: split rows at the LONG-exact
    * midpoint of the timestamp range, bin values into `nBins`
    * fixed-width buckets over the global value range, and return
    * the DENSE (group × bin) count scaffold — (grp, bin, a, b,
    * n_first, m_second) with every bin present (empty bins matter:
    * PSI smooths them, KS's cumulative gap must step past them).
    *
    * Scale shape: one narrow pass for the 3 global scalars
    * (broadcast back), one partial-agg shuffle on (group, bin), and
    * a |groups|·nBins scaffold from the group totals — no windows
    * over data rows, no self-joins, post-shuffle size independent
    * of table size. */
  private def halfSplitBinCounts(df0: DataFrame, groupCol: String,
                                 valueCol: String, tsUsCol: String,
                                 nBins: Int): DataFrame = {
    requireNonReserved(groupCol)
    // quoted resolution (userCol) — see driftReference
    val gc = userCol(df0, groupCol)
    val vc = userCol(df0, valueCol)
    val tc = userCol(df0, tsUsCol)
    // NULL values are NOT samples of the distribution: without this
    // filter they would inflate the group totals (n_first/m_second
    // sum every count row) while the dense 0..nBins−1 scaffold drops
    // their NULL bin — an asymmetry that manufactures a nonzero
    // drift floor for identically-distributed halves. Non-finite
    // values are excluded for the same reason PLUS job safety: one
    // NaN poisons the min/max cut params, and a non-finite bin
    // expression aborts on the ANSI double→Long cast. Null and
    // non-finite RATES are separate monitors (dataProfile); the
    // distribution statistics compare finite populations.
    val df = df0.filter(finiteSample(vc))
    // midpoint in LONG arithmetic: a double (min+max)/2 loses
    // exactness past 2^53 (ns-scale timestamps sum to ~3.4e18) and
    // truncates instead of flooring for negative sums; arithmetic
    // shift-right IS floor-division by 2, matching the oracle's `//`
    val scalars = df.agg(
      shiftright(min(tc) + max(tc), 1).as("__mid"),
      min(vc).cast(DoubleType).as("__vmn"),
      max(vc).cast(DoubleType).as("__vmx"))
    // identical expression shape on both engines: (v−mn)·nBins/(mx−mn),
    // floor, clamp — sub/mul/div/floor are correctly rounded IEEE ops
    val binned = df.crossJoin(broadcast(scalars))
      .select(gc.as("grp"),
        binExpr(vc, col("__vmn"), col("__vmx"), nBins).as("bin"),
        (tc <= col("__mid")).as("is_first"))
    val counts = binned.groupBy("grp", "bin")
      .agg(sum(when(col("is_first"), 1L).otherwise(0L)).as("a"),
           sum(when(!col("is_first"), 1L).otherwise(0L)).as("b"))
    denseScaffold(counts, nBins, Seq("a" -> "n_first", "b" -> "m_second"))
  }
}
