package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2h: the reference is
  * batch-only; this is the engine's forward path for continuous
  * ingestion, with the idempotent-append load as the natural
  * `foreachBatch` body).
  *
  * Design: streaming plans reuse the same declarative fragments as
  * the batch module (`Ops.windowAgg` is the batch twin of
  * [[windowedAgg]]) so a pipeline can switch `read` ↔ `readStream`
  * without rewriting logic. Watermarks bound state; the stateful
  * sessionizer uses `flatMapGroupsWithState` with event-time timeout
  * so state size is O(active keys), not O(history) — the property
  * that matters at 100 TB/day.
  */
object StreamingOps {

  /** Events schema as the stream source sees it (ts already µs —
    * streaming readers should pre-convert nanos with
    * `Tables.eventsWithTs` semantics). The nullable=false flags are
    * ADVISORY for file-based stream sources: Structured Streaming
    * force-nullables file-source schemas
    * (`spark.sql.streaming.fileSource.schema.forceNullable`, default
    * true), so a null primitive is NOT rejected at the boundary — it
    * surfaces later as a fatal "Null value appeared in non-nullable
    * field" error the first time `.as[Event]` decodes the bad row,
    * killing the running query. Use [[typedEvents]] for a decode
    * that drops such rows explicitly instead. */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_t", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType),
    StructField("value", DoubleType, nullable = false)))

  /** Watermarked tumbling-window aggregate — the streaming twin IS
    * the batch operator's body: delegate so the grouping, the
    * decimal-exact sum, and the bucket format can never silently
    * diverge from `Ops.windowAgg`. */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    graft.core.Ops.windowAgg(events.withWatermark("ts_t", watermark))

  case class Event(event_id: Long, ts_t: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Null-safe typed decode for file-source streams. The schema's
    * nullable=false declarations are advisory there (see
    * [[EventSchema]]), so a null in any primitive-decoded column
    * kills a running `.as[Event]` query on the first bad batch.
    * This drops such rows at the boundary — the quarantine-flavored
    * choice: bad rows are data, not a reason to take down the
    * pipeline. Narrow filter, fully codegen'd, streaming-safe. */
  def typedEvents(df: DataFrame): Dataset[Event] = {
    import df.sparkSession.implicits._
    df.filter(col("event_id").isNotNull && col("ts_t").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .as[Event]
  }
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Int, total_value: Double)

  /** Gap-based sessionization: a session closes after `gapMinutes`
    * of inactivity (event-time timeout — state is dropped as the
    * watermark passes, so it cannot grow unboundedly).
    *
    * `watermarkMinutes` (≤ 0 ⇒ gapMinutes) is the late-data
    * admission delay. At the default, an admitted event is never
    * more than gapUs before the open session's start (the runtime's
    * late-row filter guarantees it), so every late event folds into
    * the open session. With a LONGER delay (accept very late data),
    * deeply-late events — more than gapUs before the open session's
    * start — become admissible; ones that chain into the open
    * session (directly or transitively through later same-batch
    * events, the batch twin's gap rule) merge in and widen it, the
    * rest are gap-split among their own micro-batch peers and
    * emitted as separate closed sessions. Residual stream/batch divergence
    * (inherent to single-interval state): such an event merges only
    * with peers in its own batch — a previously-EMITTED session it
    * would have bridged in batch mode has no surviving state. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermarkMinutes: Int = 0): Dataset[Session] = {
    // fail fast like the batch twin (Ops.sessionize rejects a
    // non-positive gap): a negative gap otherwise builds a valid
    // plan, then kills the RUNNING query when a timeout timestamp
    // lands below the watermark
    require(gapMinutes > 0, s"need gapMinutes > 0, got $gapMinutes")
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val wmMinutes = if (watermarkMinutes <= 0) gapMinutes else watermarkMinutes

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, s.start, s.last, s.n, s.total))
      } else {
        // Array, not List: the deep-late scan below random-accesses
        // times(i) — on a List that is O(i) per access, turning a hot
        // user's 50k-event batch into ~n²/2 pointer chases
        val sorted = rows.toArray.sortBy(_.ts_t.getTime).toIndexedSeq
        var closed = List.empty[Session]
        var cur = state.getOption
        // DEEPLY-late prefix: an event that cannot reach the open
        // session — neither directly (within gapUs of its start) nor
        // TRANSITIVELY through later same-batch events that
        // themselves chain in (the batch twin's gap rule is
        // transitive over the merged timeline) — is emitted as part
        // of a separate earlier session. Chain BACKWARDS from the
        // session start: a naive distance-to-start span would split
        // an 11:25 event off a [11:25, 11:31, 12:00-session] chain
        // the batch twin merges whenever 11:31 bridges the gap.
        // Reachable only when watermarkMinutes > gapMinutes (see
        // scaladoc); at the default delay the runtime's late-row
        // filter makes this a no-op, kept as the correct answer
        // rather than a silent merge-into-the-wrong-session.
        val (deepLate, rest) = cur match {
          case Some(s) =>
            val times = sorted.map(_.ts_t.getTime * 1000L)
            var anchor = s.start
            var i = sorted.length - 1
            var cut = 0
            while (i >= 0 && cut == 0) {
              val t = times(i)
              if (t >= s.start) i -= 1 // at/inside the open session: chains trivially
              else if (anchor - t <= gapUs) { anchor = t; i -= 1 }
              else cut = i + 1 // first unbridgeable gap: prefix [0, i] is deeply late
            }
            (sorted.take(cut), sorted.drop(cut))
          case None => (Seq.empty[Event], sorted)
        }
        var late: Option[SessionState] = None
        deepLate.foreach { e =>
          val t = e.ts_t.getTime * 1000L
          late match {
            case Some(s) if t - s.last <= gapUs =>
              late = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
            case Some(s) =>
              closed ::= Session(userId, s.start, s.last, s.n, s.total)
              late = Some(SessionState(t, t, 1, e.value))
            case None =>
              late = Some(SessionState(t, t, 1, e.value))
          }
        }
        late.foreach(s => closed ::= Session(userId, s.start, s.last, s.n, s.total))
        rest.foreach { e =>
          val t = e.ts_t.getTime * 1000L
          cur match {
            case Some(s) if t - s.last <= gapUs =>
              // a cross-batch LATE event (inside the watermark) can
              // still carry t < s.last, or t within gapUs before
              // s.start — the session's bounds must only ever widen,
              // or the emitted end_us regresses below contained
              // events (and the event-time timeout re-arms too
              // early), diverging from the batch twin's min/max(us)
              cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t),
                s.n + 1, s.total + e.value))
            case Some(s) =>
              closed ::= Session(userId, s.start, s.last, s.n, s.total)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last / 1000L + gapMinutes * 60L * 1000L)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts_t", s"$wmMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Declarative session windows — the built-in
    * (`session_window`) alternative to the stateful
    * [[sessionize]] sessionizer, and the streaming twin of
    * `Ops.sessionize` (equivalence unit-tested in batch mode, where
    * `session_window` also runs). One honest boundary difference: an
    * event arriving at EXACTLY the gap extends the session in the
    * batch op (`>` split test) but opens a new one here
    * (`session_window` merges only on strict interval overlap) — at
    * microsecond event-time resolution this is measure-zero, but a
    * consumer switching shapes should know. Prefer this shape unless
    * per-event custom state is needed: Spark manages merge/eviction
    * state natively and the plan stays declarative. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(col("user_id"), session_window(col("ts_t"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("start_t"), col("w.end").as("end_t"),
              col("n_events"))

  case class MarkovState(lastType: String, lastUs: Long, lastId: Long)
  case class Transition(user_id: Long, from_type: String, to_type: String, us: Long)

  /** Streaming twin of `Ops.markovTransitions`: per-user next-event
    * transitions emitted AS THEY ARRIVE — the state is one (type,
    * time, id) tuple per user (O(active users), not O(history)), and
    * a transition that spans a micro-batch boundary is emitted
    * exactly once because the boundary event lives in state.
    *
    * Late data: an event ordering (time, id) BEFORE the saved state
    * is DROPPED — emitting it would produce a time-reversed
    * transition and regress the state, which the batch operator (a
    * global (us, event_id) sort) can never produce. So the live
    * matrix equals the batch twin on in-order streams exactly, and
    * under lateness it under-counts rather than invents transitions;
    * the batch operator is the authoritative rebuild (equivalence
    * pinned in the spec at millisecond-aligned event times —
    * `ts_t.getTime` drops sub-ms, the [[sessionize]] convention).
    * State lifetime: by default one MarkovState per ever-seen user,
    * forever — a user's single tuple is the floor of meaningful
    * state, but on an unbounded user universe the store still grows
    * without bound. `stateTtlMs` bounds it: each update re-arms a
    * ProcessingTimeTimeout, and a user idle past the TTL has their
    * tuple dropped (their NEXT event then starts a fresh chain
    * instead of emitting a transition — the same under-count-never-
    * invent bias as the late-data rule; pick a TTL longer than any
    * gap worth bridging).
    *
    * Lifecycle caveat when `stateTtlMs` is set: ProcessingTimeTimeout
    * makes Spark's shouldRunAnotherBatch unconditionally true, so the
    * query keeps scheduling no-data batches to evaluate timeouts and
    * NEVER self-terminates — including under `Trigger.AvailableNow`,
    * which would otherwise stop at the end of available data. Drive a
    * bounded run with `processAllAvailable()` + `stop()`; a live
    * deployment just runs it as the continuous query it is. */
  def markovStream(events: Dataset[Event],
                   stateTtlMs: Option[Long] = None): Dataset[Transition] = {
    import events.sparkSession.implicits._
    stateTtlMs.foreach(ms => require(ms > 0L, s"need stateTtlMs > 0, got $ms"))
    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[MarkovState]): Iterator[Transition] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val sorted = rows.toSeq.sortBy(e => (e.ts_t.getTime, e.event_id))
      var out = List.empty[Transition]
      var cur = state.getOption
      sorted.foreach { e =>
        val t = e.ts_t.getTime * 1000L
        val inOrder = cur.forall(s =>
          t > s.lastUs || (t == s.lastUs && e.event_id > s.lastId))
        if (inOrder) {
          cur.foreach(s => out ::= Transition(userId, s.lastType, e.event_type, t))
          cur = Some(MarkovState(e.event_type, t, e.event_id))
        } // else: late event, dropped (see scaladoc)
      }
      cur.foreach(state.update)
      stateTtlMs.foreach(ms => state.setTimeoutDuration(ms))
      out.reverseIterator
    }
    val timeout =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  case class Scd2State(value: Double, from_us: Long)
  case class Scd2Closed(user_id: Long, value: Double,
                        valid_from_us: Long, valid_to_us: Long)

  /** Streaming twin of `Ops.scd2`: per-key tracked-value state; the
    * moment a key's value CHANGES, the closing history row
    * `[valid_from, valid_to)` is emitted — CDC-style continuous SCD2.
    * The OPEN range is exactly the per-key state (append-mode streams
    * cannot retract, so "current" rows are never emitted; a consumer
    * materializes current = state ∪ latest emission, or runs the
    * batch [[graft.core.Ops.scd2]] as the authoritative rebuild —
    * same backstop contract as [[dedupStream]]).
    *
    * Ordering contract: rows are ordered per key WITHIN a batch; a
    * late event older than already-applied state would append as if
    * new (last-value state cannot re-order history). Feed it a
    * per-key-ordered stream (watermark-delayed upstream), or treat
    * emissions as approximate and rebuild in batch. State is one
    * (value, from) per EVER-SEEN key — O(keys), never O(history);
    * on an unbounded key universe pass `stateTtlMs` to expire idle
    * keys (the [[markovStream]] escape hatch). */
  def scd2Stream(events: Dataset[Event],
                 stateTtlMs: Option[Long] = None): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    // same unbounded-key-universe escape hatch as markovStream: with
    // NoTimeout, one Scd2State per EVER-SEEN key accumulates for the
    // query's lifetime; a TTL expires keys idle longer than `ms`
    // (their open range is abandoned, not emitted — append mode
    // cannot close a range no change-event terminated)
    stateTtlMs.foreach(ms => require(ms > 0L, s"need stateTtlMs > 0, got $ms"))
    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[Scd2State]): Iterator[Scd2Closed] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val sorted = rows.toSeq.sortBy(e => (e.ts_t.getTime, e.event_id))
      var closed = List.empty[Scd2Closed]
      var cur = state.getOption
      sorted.foreach { e =>
        val t = e.ts_t.getTime * 1000L
        // "unchanged" must use Spark SQL's double equality (the batch
        // twin's =!=): NaN equals NaN there, while Scala == has
        // NaN != NaN — without the extra clause a run of NaN values
        // would churn one spurious closed row per event
        def same(a: Double, b: Double): Boolean =
          a == b || (a.isNaN && b.isNaN)
        cur match {
          case Some(s) if same(s.value, e.value) => () // no change: range extends
          case Some(s) =>
            closed ::= Scd2Closed(userId, s.value, s.from_us, t)
            cur = Some(Scd2State(e.value, t))
          case None =>
            cur = Some(Scd2State(e.value, t))
        }
      }
      cur.foreach(state.update)
      stateTtlMs.foreach(ms => state.setTimeoutDuration(ms))
      closed.reverseIterator
    }
    val timeout =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  /** Streaming twin of `Dedup.exactDedup`: content-hash dedup on
    * ingest. `dropDuplicatesWithinWatermark` keeps one row per
    * `md5(text)` and — unlike plain streaming `dropDuplicates`, whose
    * key state grows forever — evicts a key's state once the
    * watermark passes it, so state is O(docs per watermark window),
    * not O(corpus). The right shape for a 100 TB/day ingest: an exact
    * duplicate arriving within the window is GUARANTEED dropped
    * in-flight; one arriving later may or may not be (Spark evicts
    * expired key state lazily — the guarantee is one-sided by
    * design), which is why the batch exact-dedup downstream is the
    * backstop, not an optimization. */
  def dedupStream(documents: DataFrame, tsCol: String = "ts_t",
                  watermark: String = "1 hour"): DataFrame =
    documents
      .withColumn("text_hash", md5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming half of the drift monitor — the production shape of
    * the [[graft.core.Validate.ksDrift]]/`psiDrift` family: a frozen
    * reference binning (cut params learned once on a training
    * snapshot via [[graft.core.Validate.driftReference]]) is applied
    * STATELESSLY to every event, and a watermarked tumbling window
    * aggregates (group, bin) counts per window. The result feeds the
    * SAME finisher the batch twin uses —
    * [[graft.core.Validate.ksAgainstReference]], run per micro-batch
    * in `foreachBatch` — so the streamed statistic cannot disagree
    * with a batch recomputation over the same rows (asserted in
    * StreamingSpec).
    *
    * Output rows: (bucket, grp, bin, cnt).
    *
    * Scale/state shape: the binning adds no state (pure literal
    * expression); the windowed agg's state is one counter per live
    * (window, group, bin) — ≤ \|groups\|·nBins per window, dropped
    * as the watermark passes. Contrast with the batch family, which
    * must scan twice (scalars, then counts): a stream cannot learn
    * its own cut points, which is WHY the reference is frozen — also
    * the statistically right monitor (drift is measured against the
    * training distribution, not against the drifting stream itself).
    */
  def driftBinStream(events: DataFrame, vmn: Double, vmx: Double, nBins: Int,
                     windowDur: String = "1 hour",
                     watermark: String = "10 minutes",
                     groupCol: String = "event_type",
                     valueCol: String = "value",
                     tsCol: String = "ts_t"): DataFrame = {
    // same bound the rest of the family enforces — nBins = 0 would
    // silently bin every row to -1 and only fail much later in the
    // foreachBatch finisher
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    events
      // the family's sample contract: null/non-finite values are not
      // samples — and a NaN reaching the bin expression's ANSI
      // double→Long cast would kill the query permanently (binColumn
      // clamps ±Inf in double space as a second line of defense)
      .filter(graft.core.Validate.finiteSample(col(valueCol)))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"),
        col(groupCol).as("grp"),
        graft.core.Validate.binColumn(col(valueCol), vmn, vmx, nBins).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      // bucket label keeps SECONDS: a minute-precision label would
      // silently merge distinct windows whenever windowDur < 1 min
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("grp"), col("bin"), col("cnt"))
  }

  /** Ingest-time decontamination screen — the streaming member of the
    * contamination family (`Dedup.contamination` / `bloomContamination`
    * are the batch audits): keep documents whose word `ngram`-grams
    * hit the probe-set bloom sketch at most `maxHits` times, tagging
    * every row with its hit count. The sketch comes from
    * `Dedup.probeSketch` — kilobytes of driver metadata riding the
    * plan as a literal, so the screen is a STATELESS narrow map:
    * no watermark, no state store, identical semantics over a
    * stream or a batch frame (twin-tested). Bloom false positives
    * can only OVER-count hits (conservative screen, tuned by the
    * sketch's fpp); false negatives cannot happen, so maxHits = 0
    * provably passes no document sharing a probe n-gram. A null
    * sketch (empty probe set) keeps everything with zero hits. */
  def bloomScreen(documents: DataFrame, sketch: Array[Byte], ngram: Int = 3,
                  maxHits: Int = 0): DataFrame = {
    require(ngram >= 1, s"need ngram >= 1, got $ngram")
    require(maxHits >= 0, s"need maxHits >= 0, got $maxHits")
    import graft.text.TextOps
    // null-text guard: the shingle array is null for a null text,
    // and size(null) is -1 under the legacy default / null under
    // ANSI — either way NOT the 0 hits a token-less document has
    // (and the 0 the null-sketch branch already reports for it)
    val hits =
      if (sketch == null) lit(0L)
      else when(col("text").isNull, lit(0L)).otherwise(size(filter(
        array_distinct(TextOps.shingles(TextOps.tokens(col("text")), ngram)),
        g => org.apache.spark.sql.graft.BloomBridge.mightContain(sketch, xxhash64(g))))
        .cast(LongType))
    documents
      .withColumn("n_bloom_hits", hits)
      .filter(col("n_bloom_hits") <= maxHits)
  }

  /** Watermarked stream-stream interval join: for every left event,
    * the right-stream events of the SAME user within
    * `[left.ts, left.ts + withinMinutes]` — the stream correlation
    * primitive (click→conversion attribution, request→error
    * correlation, sensor cross-matching).
    *
    * Why this exact shape scales: Spark buffers BOTH sides in state,
    * and evicts a buffered row only when the watermark plus the join
    * range proves no future match can arrive — which requires (a)
    * watermarks on both inputs and (b) a time-range predicate on the
    * join condition. An equality-only stream-stream join would
    * legally buffer forever. With both bounds, state is
    * O(events per user per (watermark + range)) regardless of stream
    * age — the property that survives a 100 TB/day pair of streams.
    * The equi-key (`user_id`) makes the state store hash-partitioned
    * on the user, so matching is local to each state partition.
    *
    * Batch twin: the same join expression on static frames (twin
    * equivalence unit-tested, read ↔ readStream symmetry). */
  def intervalJoin(left: DataFrame, right: DataFrame, withinMinutes: Int = 10,
                   watermark: String = "30 minutes"): DataFrame = {
    // fail fast: a negative range builds r.ts >= l.ts && r.ts <= l.ts - n,
    // an unsatisfiable predicate that would stream forever emitting nothing
    require(withinMinutes >= 0, s"need withinMinutes >= 0, got $withinMinutes")
    val l = left.withWatermark("ts_t", watermark).alias("l")
    val r = right.withWatermark("ts_t", watermark).alias("r")
    l.join(r,
      col("l.user_id") === col("r.user_id") &&
        col("r.ts_t") >= col("l.ts_t") &&
        col("r.ts_t") <= col("l.ts_t") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(
        col("l.user_id").as("user_id"),
        col("l.event_id").as("left_id"),
        col("r.event_id").as("right_id"),
        col("l.event_type").as("left_type"),
        col("r.event_type").as("right_type"),
        (col("r.ts_t").cast(LongType) - col("l.ts_t").cast(LongType)).as("lag_sec"))
  }

  /** Idempotent micro-batch load: the `foreachBatch` body — dedup +
    * anti-join against the sink before append (`JdbcUpsert.newRows`
    * semantics per batch). Exactly-once-per-key under retries. */
  def idempotentForeachBatch(key: String, readSink: SparkSession => DataFrame,
                             append: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      val existing = readSink(batch.sparkSession).select(key)
      append(graft.sink.JdbcUpsert.newRows(batch, existing, key))
    }

  /** Ingest-time NEAR-dup screen, streaming form — the `foreachBatch`
    * body that runs the incremental-dedup story continuously. Per
    * micro-batch, in order:
    *
    *  1. SCREEN: [[graft.text.Dedup.incrementalLshPairsAgainstStore]]
    *     with the batch as `fresh` against the persisted corpus store
    *     ([[graft.text.Dedup.minhashBandStore]] layout) — `emit`
    *     receives the candidate pairs (doc_a, doc_b).
    *  2. ADMIT: the batch's own band rows and members are handed to
    *     the append callbacks, so the NEXT batch screens against
    *     corpus ∪ all prior batches.
    *
    * Screen-then-admit yields every cross-batch pair exactly once
    * (batch j probes the store holding batches < j) and every
    * in-batch pair once (the fresh×fresh branch); `emit` MUST
    * materialize its frame before returning (any sink write does) —
    * deferring it past the admit step would double-count the batch
    * as both fresh and corpus. The batchId rides to BOTH `emit` and
    * the append callbacks so a caller can make every side idempotent
    * under micro-batch retries (overwrite a batch_id=<id> partition).
    * The screen itself is retry-proof BY CONSTRUCTION: the batch's
    * own doc_ids are anti-joined out of the members read, so even a
    * retry after a partial or complete admit of the same batch
    * screens against "corpus without me" and emits the same pairs —
    * with idempotent admission this makes the whole body
    * exactly-once. (The sig-level band store needs no such exclusion:
    * self-collisions die on the sig_key inequality and the candidate
    * distinct collapses the store/fresh double-hit.)
    *
    * Per batch the signature fold (per-token MD5 + 16 hashes — the
    * expensive step) runs ONCE: the frame is persisted and the
    * screen, band-store and member appends all derive from it. The
    * store's band layout is validated on the FIRST batch
    * ([[graft.text.Dedup.validateBandStore]] — a mismatched
    * rowsPerBand would silently collapse recall; one narrow scan,
    * amortized over the stream).
    *
    * Scale shape: identical to the batch screen — the corpus is
    * never re-read or re-hashed, cost per batch is
    * O(batch × collision rate), and with the band store bucketed on
    * (band, bkey) the probe join reads it exchange-free. State lives
    * entirely in the stores (no Spark streaming state), so the query
    * restarts cold for free. The exact-hash in-flight complement is
    * [[dedupStream]]; this screen catches the NEAR-duplicates that
    * content hashing cannot.
    *
    * @param mode pair-emission contract for the screen (see
    *        [[graft.text.Dedup.incrementalLshPairsAgainstStoreSigs]]):
    *        [[graft.text.PairMode.Star]] makes a batch that hits one
    *        colossal stored cluster emit O(fresh) edges (each to the
    *        stored rep — exact for the admit/drop verdict) instead of
    *        fresh×|cluster|; [[graft.text.PairMode.Bounded]] predicts
    *        the exact Full pair count BEFORE the expansion job.
    * @param onBudgetExceeded quarantine hook for
    *        [[graft.text.PairBudgetExceededException]] under Bounded.
    *        None (default): the exception propagates and FAILS the
    *        batch loudly — foreachBatch retries, then the stream
    *        stops; nothing was admitted, so a restart with a raised
    *        budget (or Star) replays the batch cleanly. Some(f): f
    *        receives (exception, the batch, batchId) — write it to a
    *        quarantine sink — and the batch is SKIPPED: not emitted,
    *        NOT admitted to the stores (a quarantined batch must stay
    *        re-processable; admitting it would make later replay
    *        see its own docs as corpus), and the stream continues. */
  def lshScreenForeachBatch(readBandStore: SparkSession => DataFrame,
                            readMembers: SparkSession => DataFrame,
                            appendBandStore: (DataFrame, Long) => Unit,
                            appendMembers: (DataFrame, Long) => Unit,
                            emit: (DataFrame, Long) => Unit,
                            rowsPerBand: Int = 4,
                            mode: graft.text.PairMode = graft.text.PairMode.Full,
                            onBudgetExceeded: Option[
                              (graft.text.PairBudgetExceededException, DataFrame, Long) => Unit] =
                              None): (DataFrame, Long) => Unit = {
    // once per returned body (= per stream start); foreachBatch
    // bodies run serially, so a plain var is safe
    var storeValidated = false
    (batch: DataFrame, batchId: Long) => {
      val s = batch.sparkSession
      if (!storeValidated) {
        graft.text.Dedup.validateBandStore(readBandStore(s), rowsPerBand)
        storeValidated = true
      }
      val sig = graft.text.Dedup.signatureClusters(batch).persist()
      try {
        // retry-proof screen: exclude this batch's own doc_ids from
        // the corpus side (no-op when admission has not run — the
        // caller contract keeps corpus/fresh ids disjoint)
        val corpusMembers = readMembers(s).join(
          broadcast(sig.select(col("doc_id"))), Seq("doc_id"), "left_anti")
        // the catch is scoped to the screen CONSTRUCTION only —
        // Bounded's guard throws there (its eager count action runs
        // before the frame is returned), and that is the one
        // exception the quarantine contract covers. A
        // PairBudgetExceededException raised INSIDE the caller's emit
        // (e.g. emit runs another Bounded operator downstream) must
        // propagate as the caller's own failure, not be misread as
        // this screen's verdict and silently drop a valid batch.
        val screened =
          try Some(graft.text.Dedup.incrementalLshPairsAgainstStoreSigs(
            s, readBandStore(s), corpusMembers, sig, rowsPerBand, mode))
          catch {
            case e: graft.text.PairBudgetExceededException if onBudgetExceeded.isDefined =>
              onBudgetExceeded.get(e, batch, batchId)
              None
          }
        screened.foreach { pairs =>
          emit(pairs, batchId)
          appendBandStore(graft.text.Dedup.bandStoreOfSigs(sig, rowsPerBand), batchId)
          appendMembers(graft.text.Dedup.membersOfSigs(sig), batchId)
        }
      } finally sig.unpersist()
    }
  }
}
