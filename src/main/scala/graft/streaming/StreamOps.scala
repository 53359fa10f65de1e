package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stream event record (the harness `events` table's shape). */
final case class StreamEvent(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** One closed session emitted by the stateful sessionizer. */
final case class SessionSummary(
    user_id: Long, session_start_us: Long, session_end_us: Long,
    n_events: Long, value_cents: Long)

private final case class SessionState(
    startUs: Long, lastUs: Long, n: Long, cents: Long)

/** One raw play for the streaming X1 replay — exactly the columns the
  * parser's base-state fold reads ([[graft.pbp.PbpPipeline.parse]]),
  * plus event time. */
final case class PlayEvent(
    contest_id: Long, play_id: Long, ts: java.sql.Timestamp,
    new_game_fl: Boolean, new_inn_fl: Boolean, sub_fl: Int,
    sub_in: String, sub_out: String,
    p1_text: String, p2_text: String, p3_text: String, p4_text: String)

/** X1 output per play — the batch parse's ten state columns
  * ([[graft.pbp.PbpPipeline]] `stateCols`) under the same names. */
final case class BaseStateOut(
    contest_id: Long, play_id: Long,
    batter_name: String, player_of_interest: String,
    r1_name: String, r2_name: String, r3_name: String, bases_before: String,
    r1_after: String, r2_after: String, r3_after: String, bases_after: String)

/** Carried X1 state: the three runner names plus the plays the
  * watermark has not sealed yet (see [[StreamOps.baseStateStream]]). */
private final case class BaseReplayState(
    r1: String, r2: String, r3: String, pending: List[PlayEvent])

/** One funnel step completion (see [[StreamOps.funnelStream]]). */
final case class FunnelOut(user_id: Long, step_idx: Int, step: String, ts_us: Long)

/** One (user, activity week) retention hit — emitted exactly once
  * per pair (see [[StreamOps.cohortRetentionStream]]); `groupBy
  * (cohort_week_us, week_offset).count()` downstream reproduces the
  * batch [[graft.operators.Funnel.cohortRetention]] cells. */
final case class CohortHit(user_id: Long, cohort_week_us: Long, week_offset: Long)

/** Carried cohort state: earliest event micros seen (the cohort
  * anchor candidate), whether the watermark has made it final,
  * offsets already emitted, and activity week-starts buffered until
  * the anchor finalizes. */
private final case class CohortReplayState(
    minUs: Long, isFinal: Boolean, emitted: Set[Long], pendingWeeksUs: List[Long])

/** Carried funnel state: steps reached so far, the window anchor
  * (floor-seconds of the first step-1 event), the previous step's
  * exact micros, plus unsealed events. */
private final case class FunnelReplayState(
    step: Int, t1Sec: Long, tpUs: Long, pending: List[StreamEvent])

/**
 * Structured Streaming operators (SURVEY §2.10): the reference is
 * batch-only (daily re-computation with done-set checkpoints), so
 * these are the forward-looking streaming forms of its patterns —
 * the gap sessionization (W3 family) as an event-time
 * `flatMapGroupsWithState` machine, and watermarked windowed
 * aggregates.
 *
 * Scale notes: state is one small record per active (user, session);
 * event-time timeout + watermark bound the state store (late data
 * past the watermark is dropped, closed sessions are evicted).
 * The same code runs `readStream` or batch (`Trigger.AvailableNow`
 * re-runs are the reference's daily-pull analogue, S6).
 */
object StreamOps {

  /**
   * Gap-based streaming sessionization: a session closes when no
   * event arrives for `gapSeconds` past the watermark. Emits one
   * [[SessionSummary]] per closed session (append mode).
   *
   * Batch-equivalence: on a bounded input this yields exactly the
   * sessions of [[graft.operators.Sessionize.byGap]] aggregated per
   * (user, session) — asserted in StreamingSpec.
   */
  def sessionizeByGap(
      events: Dataset[StreamEvent],
      gapSeconds: Long,
      watermarkDelay: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._

    def us(t: java.sql.Timestamp): Long = (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    val gapUs = gapSeconds * 1000000L

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[StreamEvent], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            // watermark passed the gap: close every tracked session
            val closed = state.getOption.getOrElse(Nil).map(s =>
              SessionSummary(userId, s.startUs, s.lastUs, s.n, s.cents))
            state.remove()
            closed.iterator
          } else {
            // fold the micro-batch's events (in event-time order) into
            // the open session, closing on gaps inside the batch
            val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var open = state.getOption.getOrElse(Nil).headOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionSummary]
            sorted.foreach { e =>
              val t = us(e.ts)
              val cents = math.round(e.value * 100)
              open match {
                case Some(s) if t - s.lastUs <= gapUs =>
                  open = Some(SessionState(s.startUs, t, s.n + 1, s.cents + cents))
                case Some(s) =>
                  closed += SessionSummary(userId, s.startUs, s.lastUs, s.n, s.cents)
                  open = Some(SessionState(t, t, 1, cents))
                case None =>
                  open = Some(SessionState(t, t, 1, cents))
              }
            }
            open match {
              case Some(s) =>
                state.update(List(s))
                // wake up when the watermark passes last-event + gap
                state.setTimeoutTimestamp((s.lastUs / 1000L) + gapSeconds * 1000L)
              case None => ()
            }
            closed.iterator
          }
      }
  }

  /**
   * Streaming exact dedup — the training-pipeline dedup family's
   * streaming form: keep the first arrival per content fingerprint,
   * with state bounded by the event-time watermark
   * (`dropDuplicatesWithinWatermark`: a duplicate arriving within the
   * delay of its original is dropped; state for fingerprints older
   * than the watermark is evicted, so the operator runs forever on
   * unbounded input — the batch `exactKeepFirst` semantics under a
   * bounded-state contract).
   *
   * On a BATCH frame the watermarked operator is rejected by Spark
   * (`dropDuplicatesWithinWatermark is not supported with batch`),
   * and the bounded-input semantics are plain key dedup — so the same
   * call dispatches on `df.isStreaming` and a backfill can run the
   * identical pipeline code over the historical corpus.
   *
   * @param df       frame with an event-time `ts` column
   * @param keyCols  fingerprint columns (e.g. a content hash)
   */
  def dedupStream(
      df: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    if (df.isStreaming)
      df.withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark(keyCols)
    else df.dropDuplicates(keyCols)

  /**
   * Map-only corpus scrub for unbounded document streams: quality
   * score, token count, language guess, PII counts and the redacted
   * text — the stateless subset of [[graft.operators.CleanCorpus]]
   * (dedup/decontamination are aggregations and live behind
   * watermarked state instead: [[dedupStream]]). The SAME projection
   * attaches to a batch frame or a `readStream` source unchanged — no
   * shuffle, no state, so a 100 TB backfill and the live stream run
   * identical code and produce identical columns.
   */
  def scrubStream(df: DataFrame, textCol: String): DataFrame = {
    import graft.functions.{Pii, TextFunctions}
    val t = col(textCol)
    Pii.detect(df, textCol)
      .withColumns(Map(
        "quality" -> round(TextFunctions.qualityScore(t), 6),
        // raw-text token count — the SAME n_tokens definition as the
        // batch quality surface (t01/qualityScore), not the canonical
        // form ("foo,bar" is 1 token on both surfaces)
        "n_tokens" -> TextFunctions.tokenCount(t).cast("long"),
        "lang_guess" -> TextFunctions.langId(t)))
  }

  /**
   * Stream-stream interval join — the attribution primitive (each
   * purchase matched to the same user's clicks in the preceding
   * `toleranceSec`): the remaining major Structured Streaming shape
   * after sessionization / windowed aggs / watermark dedup. On
   * streaming inputs BOTH sides carry watermarks and the range
   * predicate bounds the buffered state (Spark evicts a side's rows
   * once the other side's watermark passes `ts + tolerance`); on
   * batch the identical equi+range join runs unchanged, so backfills
   * share the code path (the [[dedupStream]] dispatch convention).
   *
   * Left columns ride out as-is; the right side contributes
   * `r_event_id`, `r_ts`, `r_value`. The join stays an EQUI join on
   * `user_id` with the range as a residual — never a cross product
   * (plan-audited batch-side).
   */
  def intervalJoinStreams(
      left: DataFrame, right: DataFrame, toleranceSec: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val (l, r0) =
      if (left.isStreaming || right.isStreaming)
        (left.withWatermark("ts", watermarkDelay),
          right.withWatermark("ts", watermarkDelay))
      else (left, right)
    val r = r0.select(
      col("user_id").as("r_user_id"), col("event_id").as("r_event_id"),
      col("ts").as("r_ts"), col("value").as("r_value"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $toleranceSec SECONDS") &&
        col("r_ts") <= col("ts"))
      .drop("r_user_id")
  }

  /** Watermarked tumbling-window counts per event type — the
    * streaming form of the W4 segment aggregate. */
  def windowedTypeCounts(
      events: DataFrame, windowDuration: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("value_cents"))

  /**
   * STREAMING PSI drift monitor — [[graft.operators.Drift.psiBins]]'s
   * arithmetic per event-time window against a FIXED reference
   * histogram: one row per sealed window with the window's event
   * count and its total PSI in micro units (alert when it crosses the
   * conventional 0.25 = 250 000 micro). The live form of the dq03
   * snapshot-admission gate: the reference bin counts come from the
   * last accepted snapshot ([[graft.operators.Drift.psiBins]]'s
   * `n_ref` column), collected once — a `bins`-length driver literal,
   * not data.
   *
   * Exactly the batch operator's determinism scheme: the same
   * exact-integer bin assignment over the reference's [mn, mx] cent
   * range, the same Laplace smoothing, one final micro rounding. The
   * whole histogram is ONE windowed aggregate (bins are static, each
   * a conditional sum), so state is `bins` longs per open window,
   * watermark-evicted — none of the per-user-forever state the funnel
   * needed; an unbounded user population costs nothing here.
   */
  def psiDriftStream(
      events: DataFrame, valueCentsCol: String,
      refCounts: Seq[Long], refMin: Long, refMax: Long,
      windowDuration: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val bins = refCounts.length
    require(bins >= 2, s"need at least 2 reference bins, got $bins")
    require(refMax >= refMin, s"empty reference range [$refMin, $refMax]")
    val refTotal = refCounts.sum.toDouble
    val v = col(valueCentsCol)
    val bin = least(lit(bins - 1L), greatest(lit(0L),
      floor(((v - lit(refMin)) * bins) / lit(refMax - refMin + 1))))
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay)
      else events
    val histCols = (0 until bins).map(j =>
      sum(when(bin === j, 1L).otherwise(0L)).as(s"__b$j"))
    val agg = src.groupBy(window(col("ts"), windowDuration))
      .agg(histCols.head, histCols.tail: _*)
    val n = (0 until bins).map(j => col(s"__b$j")).reduce(_ + _)
    val terms = (0 until bins).map { j =>
      val pRef = lit((refCounts(j) + 0.5) / (refTotal + bins * 0.5))
      val pCur = (col(s"__b$j") + lit(0.5)) / (n + lit(bins * 0.5))
      (pCur - pRef) * log(pCur / pRef)
    }
    agg.select(
      unix_micros(col("window.start")).as("window_start_us"),
      n.as("n_events"),
      round(terms.reduce(_ + _) * 1e6).cast("long").as("psi_micro"))
  }

  /**
   * Streaming X1: the base-runner state machine
   * ([[graft.pbp.BaseState]]) replayed per game over a live play
   * feed — the streaming form of the reference's incremental daily
   * cadence (reference `scrapers/collect_game.py:67-84` done-set +
   * `processors/pbp_parser/columns.py:332-529` state), where a day's
   * new plays extend yesterday's game state instead of re-parsing the
   * season.
   *
   * Order discipline (the part watermarks exist for): the fold is
   * order-SENSITIVE, so a play is folded only once the event-time
   * watermark has passed it — i.e. once Spark guarantees no
   * earlier-timestamped play can still arrive. Later-timestamped
   * plays buffer in the group state until their turn. This makes the
   * streamed fold exactly the batch fold on whatever ordered prefix
   * the watermark has sealed (StreamingSpec pins stream ≡ batch on
   * the pbp fixture).
   *
   * State per live game: 3 runner names + the unsealed play buffer —
   * bounded by `watermarkDelay`'s worth of plays. An event-time
   * timeout fires once the watermark passes the last buffered play
   * (or an idle game's last seen time), flushing the remainder and
   * evicting the machine — the done-set analogue: a game quiet past
   * the watermark is closed, and a hypothetical later play starts a
   * fresh machine rather than resurrecting arbitrary history.
   */
  def baseStateStream(
      plays: Dataset[PlayEvent],
      watermarkDelay: String = "10 minutes"): Dataset[BaseStateOut] = {
    import plays.sparkSession.implicits._

    def fold(st0: graft.pbp.BaseState.State, ordered: Seq[PlayEvent], gameId: Long)
        : (graft.pbp.BaseState.State, Seq[BaseStateOut]) = {
      @inline def nz(s: String): String = if (s == null) "" else s
      var st = st0
      val outs = ordered.map { p =>
        val (s2, o) = graft.pbp.BaseState.step(st, graft.pbp.BaseState.Play(
          newGame = p.new_game_fl, newInn = p.new_inn_fl, subFl = p.sub_fl == 1,
          subIn = nz(p.sub_in), subOut = nz(p.sub_out),
          p1 = nz(p.p1_text), p2 = nz(p.p2_text), p3 = nz(p.p3_text), p4 = nz(p.p4_text)))
        st = s2
        BaseStateOut(gameId, p.play_id, o.batterName, o.playerOfInterest,
          o.r1Before, o.r2Before, o.r3Before, o.basesBefore,
          o.r1After, o.r2After, o.r3After, o.basesAfter)
      }
      (st, outs)
    }
    def byTime(p: PlayEvent): (Long, Long) = (p.ts.getTime, p.play_id)

    // batch/backfill dispatch (the dedupStream convention): on a
    // bounded input the watermark machinery is meaningless — fold each
    // game's complete history in order, one group in memory at a time
    // (the flatMapGroupsSorted shape; a game is bounded). Specced ≡
    // the base-state columns of PbpPipeline.parse.
    if (!plays.isStreaming)
      return plays.groupByKey(_.contest_id).flatMapGroups {
        (g: Long, it: Iterator[PlayEvent]) =>
          fold(graft.pbp.BaseState.emptyState, it.toSeq.sortBy(byTime), g)._2.iterator
      }

    plays
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.contest_id)
      .flatMapGroupsWithState[BaseReplayState, BaseStateOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (gameId: Long, rows: Iterator[PlayEvent], state: GroupState[BaseReplayState]) =>
          if (state.hasTimedOut) {
            // watermark passed every buffered play: seal and fold the
            // remainder in order, then evict the machine
            val s = state.get
            val (_, outs) = fold(
              graft.pbp.BaseState.State(s.r1, s.r2, s.r3),
              s.pending.sortBy(byTime), gameId)
            state.remove()
            outs.iterator
          } else {
            val prev = state.getOption.getOrElse(BaseReplayState("", "", "", Nil))
            val all = prev.pending ++ rows
            val wm = state.getCurrentWatermarkMs()
            // fold ONLY the sealed prefix (ts STRICTLY below the
            // watermark): Spark drops late rows with ts < wm but a
            // straggler timestamped EXACTLY at wm can still arrive in
            // a later batch — folding ties at the watermark would
            // violate the (ts, play_id) order for that straggler
            val (ready, hold) = all.partition(_.ts.getTime < wm)
            val (st2, outs) = fold(
              graft.pbp.BaseState.State(prev.r1, prev.r2, prev.r3),
              ready.sortBy(byTime), gameId)
            state.update(BaseReplayState(st2.r1, st2.r2, st2.r3, hold))
            // flush point: just past the last buffered play, or just
            // past the watermark for an idle drained game
            val lastTs = if (hold.nonEmpty) hold.map(_.ts.getTime).max else wm
            state.setTimeoutTimestamp(math.max(lastTs, wm) + 1)
            outs.iterator
          }
      }
  }

  /**
   * STREAMING ordered funnel — [[graft.operators.Funnel.stepCounts]]'s
   * semantics as a live per-user state machine: a step advance is
   * emitted the moment the watermark SEALS a qualifying event (strictly
   * after the previous step's exact event time, within `withinSec`
   * whole seconds of the user's first step-1 event — the identical
   * floor-seconds arithmetic as the batch join chain, so the
   * per-step completion counts agree row-for-row).
   *
   * Same sealed-prefix machinery as [[baseStateStream]]: only events
   * strictly below the watermark fold (nothing earlier can still
   * arrive), later arrivals buffer, event-time timeout drains idle
   * users' buffers.
   *
   * State lifetime. Step-0 state with a drained buffer IS the default
   * a fresh group starts from, so it is always evicted — the store
   * tracks users who STARTED the funnel, not users ever seen. Beyond
   * that the batch contract forces permanence: the funnel anchors at
   * a user's FIRST step-1 event forever, so even an expired or
   * completed funnel must leave a tombstone (these 3 longs) to
   * suppress a later view re-emitting step 1 — naive eviction at
   * window expiry is NOT semantics-preserving (it emits spurious
   * restarts; caught by StreamingSpec when tried).
   *
   * `allowReentry = true` is the bounded-state alternative, an
   * EXPLICIT semantics change (the product-analytics "conversion
   * window with re-entry": a user whose window expired, or who
   * completed the funnel, re-enters at step 1 on their next step-1
   * event). The restart lives in the shared fold — keyed on EVENT
   * time, not the watermark — so backfill ≡ stream exactly; eviction
   * then becomes a pure state-size optimization (an expired group and
   * an absent group fold identically), and an event-time timeout at
   * the window end drops the user: total state is bounded by ACTIVE
   * windows, not funnel history. StreamingSpec gates both modes.
   *
   * On a BOUNDED input (backfill) the watermark is meaningless: each
   * user's complete history folds in order, one group at a time
   * (specced ≡ the batch join-chain counts).
   */
  def funnelStream(
      events: Dataset[StreamEvent],
      steps: Seq[String], withinSec: Option[Long],
      watermarkDelay: String = "10 minutes",
      allowReentry: Boolean = false): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "need at least one funnel step")
    import events.sparkSession.implicits._

    def us(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    def floorSec(u: Long): Long = Math.floorDiv(u, 1000000L)
    def byTime(e: StreamEvent): (Long, Long) = (us(e.ts), e.event_id)

    def fold(st0: (Int, Long, Long), ordered: Seq[StreamEvent])
        : ((Int, Long, Long), Seq[FunnelOut]) = {
      var (step, t1Sec, tpUs) = st0
      val outs = Seq.newBuilder[FunnelOut]
      ordered.foreach { e =>
        val u = us(e.ts)
        // re-entry mode: a completed or (by THIS event's time) expired
        // funnel resets before matching — event-time-keyed so the
        // bounded backfill and the evicting stream agree exactly
        if (allowReentry && step >= 1 &&
            (step == steps.length ||
              withinSec.exists(w => floorSec(u) - t1Sec > w))) {
          step = 0; t1Sec = 0L; tpUs = 0L
        }
        if (step < steps.length && e.event_type == steps(step)) {
          val qualifies =
            if (step == 0) true
            else u > tpUs && withinSec.forall(w => floorSec(u) - t1Sec <= w)
          if (qualifies) {
            if (step == 0) t1Sec = floorSec(u)
            tpUs = u
            step += 1
            outs += FunnelOut(e.user_id, step, steps(step - 1), u)
          }
        }
      }
      ((step, t1Sec, tpUs), outs.result())
    }

    if (!events.isStreaming)
      return events.groupByKey(_.user_id).flatMapGroups {
        (_: Long, it: Iterator[StreamEvent]) =>
          fold((0, 0L, 0L), it.toSeq.sortBy(byTime))._2.iterator
      }

    // True once removing this user's state cannot change any future
    // output — see state-lifetime doc above. Step-0 state ≡ the
    // fresh-group default always; completed/expired state only under
    // re-entry semantics (where an evicted group and a reset group
    // fold identically — any deliverable event has ts >= watermark >=
    // windowEnd, which triggers the in-fold reset anyway).
    def dead(step: Int, t1Sec: Long, wmMs: Long): Boolean =
      step == 0 ||
        (allowReentry && (step == steps.length ||
          withinSec.exists(w => wmMs >= (t1Sec + w + 1) * 1000L)))

    // Post-fold bookkeeping shared by both branches: evict dead state,
    // otherwise persist and schedule the next wake (buffer drain for
    // held events; window-end eviction for bounded mid-funnel state;
    // no wake at all for unbounded mid-funnel — new events re-invoke
    // the group, and nothing else can change it).
    def settle(st2: Int, t1b: Long, tpb: Long, hold: List[StreamEvent],
        wm: Long, state: GroupState[FunnelReplayState]): Unit =
      if (hold.isEmpty && dead(st2, t1b, wm)) state.remove()
      else {
        state.update(FunnelReplayState(st2, t1b, tpb, hold))
        if (hold.nonEmpty)
          state.setTimeoutTimestamp(math.max(hold.map(_.ts.getTime).max, wm) + 1)
        else if (allowReentry && st2 >= 1)
          // wake at the window end to evict; pointless without
          // re-entry (the tombstone stays either way)
          withinSec.foreach(w => state.setTimeoutTimestamp(
            math.max((t1b + w + 1) * 1000L, wm + 1)))
      }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelReplayState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[StreamEvent], state: GroupState[FunnelReplayState]) =>
          if (state.hasTimedOut) {
            // timeout fired → watermark is past every buffered event:
            // drain the whole buffer, then evict or re-arm
            val s = state.get
            val wm = state.getCurrentWatermarkMs()
            val ((st2, t1b, tpb), outs) =
              fold((s.step, s.t1Sec, s.tpUs), s.pending.sortBy(byTime))
            settle(st2, t1b, tpb, Nil, wm, state)
            outs.iterator
          } else {
            val prev = state.getOption.getOrElse(FunnelReplayState(0, 0L, 0L, Nil))
            val all = prev.pending ++ rows
            val wm = state.getCurrentWatermarkMs()
            // strict < — a straggler timestamped exactly at the
            // watermark can still arrive (same rule as baseStateStream)
            val (ready, hold) = all.partition(_.ts.getTime < wm)
            val ((st2, t1b, tpb), outs) =
              fold((prev.step, prev.t1Sec, prev.tpUs), ready.sortBy(byTime))
            settle(st2, t1b, tpb, hold, wm, state)
            outs.iterator
          }
      }
  }

  /**
   * STREAMING weekly cohort retention —
   * [[graft.operators.Funnel.cohortRetention]]'s semantics live: each
   * user anchors to the ISO week of their FIRST event ever, and every
   * distinct later activity week emits ONE [[CohortHit]]; downstream
   * `groupBy(cohort_week_us, week_offset).count()` reproduces the
   * batch cells exactly.
   *
   * Anchor finality is the one ordering hazard: the cohort week is
   * `min(ts)` over the user's whole history, so hits are held until
   * the watermark passes the current minimum — once `minUs < wm`,
   * every deliverable event has `ts >= wm > minUs` and the anchor can
   * never improve. Until then activity WEEK-STARTS buffer (not whole
   * events — the dedup happens at buffering time), and an event-time
   * timeout at the minimum flushes users who go quiet before their
   * anchor seals. After finality a new activity week emits the moment
   * it arrives: the batch form counts a (user, week) on ANY event in
   * it, so arrival order within the week is irrelevant.
   *
   * State per user: two scalars + the emitted offset set (grows by
   * ~52/year of ACTIVE weeks — the same first-event-ever permanence
   * class as the batch-anchored funnel; a TTL would change the
   * anchor semantics). Week arithmetic matches `date_trunc('week')`
   * under the UTC session: Monday-aligned from epoch micros.
   *
   * `horizonWeeks = Some(h)` is the bounded-state variant (the shape
   * most retention dashboards already have — "weeks 0..h" columns):
   * hits with offset > h are DROPPED, and once the watermark passes
   * `anchor + (h+1) weeks` no deliverable event can produce an
   * in-horizon hit, so the user's state is evicted via an event-time
   * timeout — total state bounded by users inside their horizon
   * window, not users ever seen. An explicit, documented truncation
   * of the unbounded form (the bounded dispatch applies the same
   * offset filter, so backfill ≡ stream in both modes).
   */
  def cohortRetentionStream(
      events: Dataset[StreamEvent],
      watermarkDelay: String = "10 minutes",
      horizonWeeks: Option[Long] = None): Dataset[CohortHit] = {
    import events.sparkSession.implicits._

    val weekUs = 604800000000L
    val dayUs = 86400000000L
    def us(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    // Monday-aligned week start (epoch day 0 = Thursday, 3 days past
    // Monday) — the UTC date_trunc('week') arithmetic
    def weekStartUs(u: Long): Long = {
      val day = Math.floorDiv(u, dayUs)
      (day - Math.floorMod(day + 3, 7)) * dayUs
    }
    require(horizonWeeks.forall(_ >= 0), s"horizonWeeks must be >= 0: $horizonWeeks")
    def hits(userId: Long, minUs: Long, weeks: Iterable[Long]): Seq[(Long, CohortHit)] = {
      val cw = weekStartUs(minUs)
      weeks.toSeq.distinct.map(w => (w - cw) / weekUs)
        .filter(off => horizonWeeks.forall(off <= _))
        .map(off => off -> CohortHit(userId, cw, off))
    }

    if (!events.isStreaming)
      return events.groupByKey(_.user_id).flatMapGroups {
        (u: Long, it: Iterator[StreamEvent]) =>
          val ts = it.map(e => us(e.ts)).toSeq
          hits(u, ts.min, ts.map(weekStartUs)).map(_._2).iterator
      }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CohortReplayState, CohortHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[StreamEvent], state: GroupState[CohortReplayState]) =>
          val prev = state.getOption
            .getOrElse(CohortReplayState(Long.MaxValue, isFinal = false, Set.empty, Nil))
          val incoming = rows.map(e => us(e.ts)).toSeq
          val minUs = math.min(prev.minUs, if (incoming.isEmpty) Long.MaxValue
            else incoming.min)
          val weeks = (prev.pendingWeeksUs ++ incoming.map(weekStartUs)).distinct
          val wm = state.getCurrentWatermarkMs()
          // strict: an event timestamped exactly at the watermark can
          // still arrive and could undercut a minimum AT the watermark
          if (prev.isFinal || minUs < wm * 1000L) {
            val fresh = hits(userId, minUs, weeks)
              .filterNot { case (off, _) => prev.emitted(off) }
            // horizon eviction: week starts are ms-aligned, so once
            // wm >= anchorWeek + (h+1) weeks every deliverable event's
            // week offset exceeds h and is dropped by hits() anyway —
            // removing the state changes nothing observable
            val horizonEndMs = horizonWeeks.map(h =>
              (weekStartUs(minUs) + (h + 1) * weekUs) / 1000L)
            if (horizonEndMs.exists(_ <= wm)) state.remove()
            else {
              state.update(CohortReplayState(
                minUs, isFinal = true, prev.emitted ++ fresh.map(_._1), Nil))
              // wake at the horizon end to evict quiet users
              horizonEndMs.foreach(t =>
                state.setTimeoutTimestamp(math.max(t, wm + 1)))
            }
            fresh.map(_._2).iterator
          } else {
            state.update(CohortReplayState(minUs, isFinal = false, Set.empty, weeks))
            // wake once the watermark passes the candidate minimum —
            // quiet users must still seal their anchor and flush
            state.setTimeoutTimestamp(math.max(minUs / 1000L, wm) + 1)
            Iterator.empty
          }
      }
  }
}
