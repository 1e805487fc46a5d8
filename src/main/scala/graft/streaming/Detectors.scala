package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.streaming.EventTimeBuffer.{drain, Step}

/**
 * Streaming twins of the batch detectors (graft.cep.Cep, graft.ops.JoinOps
 * .followedByWithin, graft.ops.StatefulOps): per-key state machines inside
 * `flatMapGroupsWithState`, the Spark mapping of the reference's
 * `KeyedProcessFunction`/CEP NFA state (SURVEY.md §2.8, §7.4-1). All but
 * [[volumeAnomaly]] and [[itemPairIncrements]] fold their events through
 * [[EventTimeBuffer]].
 */
object Detectors {

  private implicit val longKey: Encoder[Long] = Encoders.scalaLong

  /** Generic keyed event: `hit` marks pattern-relevant events (e.g. login
    * failure); in two-stream detectors it also tells the streams apart
    * (create vs pay). */
  case class KeyedEvent(key: Long, tsSec: Long, id: Long, hit: Boolean)

  case class RunMatch(key: Long, first_id: Long, last_id: Long,
                      first_ts: Long, last_ts: Long, n_hits: Long)

  /** Buffered events + the current run tail (last ≤ n-1 consecutive hits). */
  case class RunState(pending: Seq[KeyedEvent], run: Seq[(Long, Long)])

  /** times(n).consecutive().within(d) — streaming CEP-lite. */
  def consecutive(events: Dataset[KeyedEvent], n: Int, withinSec: Long,
                  streaming: Boolean): Dataset[RunMatch] =
    drain(events, streaming, RunState(Nil, Nil))(
      _.key, _.pending, _.tsSec, _.id) { (key, st, ready, rest, wmSec) =>
      var run = st.run
      val out = Seq.newBuilder[RunMatch]
      ready.foreach { e =>
        if (e.hit) {
          val full = run :+ (e.tsSec, e.id)
          if (full.size >= n) {
            val win = full.takeRight(n)
            if (e.tsSec - win.head._1 <= withinSec)
              out += RunMatch(key, win.head._2, e.id, win.head._1, e.tsSec, n.toLong)
          }
          run = full.takeRight(n - 1)
        } else run = Nil
      }
      // a run-tail hit older than (watermark − within) can never satisfy the
      // window constraint of any future event — prune it so a key that goes
      // quiet doesn't pin a state-store row forever
      val liveRun = run.filter { case (ts, _) => ts + withinSec >= wmSec }
      // wake for run-tail expiry too: without it a key that goes quiet is
      // never re-invoked and its state row would be pinned forever
      Step(RunState(rest, liveRun), out.result(), liveRun.nonEmpty,
        liveRun.map(_._1 + withinSec))
    }

  case class FollowResult(key: Long, a_id: Long, a_ts: Long, status: String)

  /** Buffered events + pending unmatched A rows (ts, id). */
  case class FollowState(pending: Seq[KeyedEvent], openA: Seq[(Long, Long)])

  /** "A followedBy B within d, else timeout" — C4/C5 streaming form.
    * Events: `hit = true` marks A (create), false marks B (pay). An A is
    * 'matched' on the first B with aTs < bTs ≤ aTs+d; an A whose deadline
    * passes (next processed event or watermark) times out. */
  def followedBy(events: Dataset[KeyedEvent], withinSec: Long,
                 matchedTag: String, timeoutTag: String,
                 streaming: Boolean): Dataset[FollowResult] =
    drain(events, streaming, FollowState(Nil, Nil))(
      _.key, _.pending, _.tsSec, _.id) { (key, st, ready, rest, wmSec) =>
      var open = st.openA
      val out = Seq.newBuilder[FollowResult]
      def expire(now: Long): Unit = {
        val (dead, live) = open.partition { case (ts, _) => ts + withinSec < now }
        dead.foreach { case (ts, id) => out += FollowResult(key, id, ts, timeoutTag) }
        open = live
      }
      ready.foreach { e =>
        expire(e.tsSec)
        if (e.hit) open = open :+ (e.tsSec, e.id)
        else {
          val (matched, live) = open.partition { case (ts, _) =>
            ts < e.tsSec && e.tsSec <= ts + withinSec }
          matched.foreach { case (ts, id) => out += FollowResult(key, id, ts, matchedTag) }
          open = live
        }
      }
      expire(wmSec) // watermark-driven timeouts with no newer event
      Step(FollowState(rest, open), out.result(), open.nonEmpty,
        open.map(_._1 + withinSec))
    }

  case class FullResult(key: Long, a_id: Long, a_ts: Long, b_id: Long,
                        b_ts: Long, status: String)

  /** Buffered events + the single parked create (a) / pay (b), -1 = none. */
  case class FullFollowState(pending: Seq[KeyedEvent], aTs: Long, aId: Long,
                             bTs: Long, bId: Long)

  /** C5 FULL taxonomy, streaming: the reference's isCreated/isPayed/timer
    * state machine (OrderTimeoutWithoutCEP.java:80-160) with at most one A
    * (`hit=true`, create) and one B (pay) per key. Four outcomes — matched,
    * late ("payed but already timeout"), orphan-B ("already payed but not
    * found created log"), timeout. Batch mode (single drain) equals
    * JoinOps.followedByFullStatus exactly; in streaming, a B that only
    * arrives after the watermark passed A's deadline yields
    * timeout-then-orphan (the reference's strict-watermark trace) instead
    * of `late` — late fires when B arrives while A's state is still live,
    * exactly like the reference's arrival-tolerant 2.1.2 branch. */
  def followedByFull(events: Dataset[KeyedEvent], withinSec: Long,
                     matchedTag: String, lateTag: String, orphanTag: String,
                     timeoutTag: String, streaming: Boolean): Dataset[FullResult] =
    drain(events, streaming, FullFollowState(Nil, -1L, -1L, -1L, -1L))(
      _.key, _.pending, _.tsSec, _.id) { (key, st, ready, rest, wmSec) =>
      var (aTs, aId, bTs, bId) = (st.aTs, st.aId, st.bTs, st.bId)
      val out = Seq.newBuilder[FullResult]
      ready.foreach { e =>
        if (e.hit) { // create
          if (bTs >= 0) { // 1.1: pay already seen → success
            out += FullResult(key, e.id, e.tsSec, bId, bTs, matchedTag)
            bTs = -1L; bId = -1L
          } else if (aTs < 0) { aTs = e.tsSec; aId = e.id }
        } else { // pay
          if (aTs >= 0) { // 2.1: create parked → success or late, by deadline
            val tag = if (e.tsSec < aTs + withinSec) matchedTag else lateTag
            out += FullResult(key, aId, aTs, e.id, e.tsSec, tag)
            aTs = -1L; aId = -1L
          } else if (bTs < 0) { bTs = e.tsSec; bId = e.id }
        }
      }
      // timers vs the watermark: a parked pay's create never came (its
      // timer sits at the pay's own ts, necessarily < wm once processed —
      // so a parked pay NEVER survives a drain and the 1.1 create-after-pay
      // match can only happen within one drain; bTs/bId persist as -1);
      // a parked create times out when the watermark passes its deadline
      if (bTs >= 0 && wmSec > bTs) {
        out += FullResult(key, -1L, -1L, bId, bTs, orphanTag)
        bTs = -1L; bId = -1L
      }
      if (aTs >= 0 && wmSec >= aTs + withinSec) {
        out += FullResult(key, aId, aTs, -1L, -1L, timeoutTag)
        aTs = -1L; aId = -1L
      }
      Step(FullFollowState(rest, aTs, aId, bTs, bId), out.result(),
        aTs >= 0 || bTs >= 0,
        (if (aTs >= 0) Seq(aTs + withinSec) else Nil) ++ (if (bTs >= 0) Seq(bTs) else Nil))
    }

  case class BlEvent(user: Long, ad: Long, tsSec: Long, id: Long)
  case class BlOut(tag: String, event_id: Long, user_id: Long, ad_id: Long,
                   day_start: Long, seq: Long)
  case class BlState(pending: Seq[BlEvent], dayStart: Long, cnt: Long, warned: Boolean)

  /** F6 streaming blacklist: pass the first `threshold` clicks per
    * (user, ad, event-time day), then one 'warning' row; reset at the next
    * event-time day (the reference's midnight timer re-specified on event
    * time, SURVEY.md §7.4-4). */
  def blacklist(events: Dataset[BlEvent], threshold: Int,
                streaming: Boolean): Dataset[BlOut] = {
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    drain(events, streaming, BlState(Nil, -1L, 0L, warned = false))(
      e => (e.user, e.ad), _.pending, _.tsSec, _.id) { (_, st, ready, rest, wmSec) =>
      var (day, cnt, warned) = (st.dayStart, st.cnt, st.warned)
      val out = Seq.newBuilder[BlOut]
      ready.foreach { e =>
        val d = e.tsSec / 86400 * 86400
        if (d != day) { day = d; cnt = 0L; warned = false }
        cnt += 1
        if (cnt <= threshold)
          out += BlOut("kept", e.id, e.user, e.ad, day, cnt)
        else if (!warned) {
          out += BlOut("warning", e.id, e.user, e.ad, day, cnt)
          warned = true
        }
      }
      // the per-day counter is dead once the watermark passes end-of-day:
      // drop the row instead of keeping every (user, ad) pair ever seen. The
      // end-of-day timer is what re-invokes a quiet key so that can happen.
      Step(BlState(rest, day, cnt, warned), out.result(), day + 86400 > wmSec,
        if (day >= 0) Seq(day + 86400) else Nil)
    }
  }

  /** J1 TxPayMatch reconciliation, timer-exact: pay waits `payWaitSec` for
    * its receipt, receipt waits `receiptWaitSec` for its pay
    * (TxPayMatch.java:113/:139). Emits 'matched' pairs plus per-side
    * unmatched rows when the partner misses the deadline. */
  case class TxEvent(key: Long, tsSec: Long, id: Long, hit: Boolean) // hit = pay side
  case class TxOut(tag: String, key: Long, pay_id: Long, receipt_id: Long,
                   pay_ts: Long, receipt_ts: Long)
  case class TxState(pending: Seq[TxEvent], pays: Seq[(Long, Long)],
                     receipts: Seq[(Long, Long)])

  def reconcile(events: Dataset[TxEvent], payWaitSec: Long, receiptWaitSec: Long,
                streaming: Boolean): Dataset[TxOut] =
    drain(events, streaming, TxState(Nil, Nil, Nil))(
      _.key, _.pending, _.tsSec, _.id) { (key, st, ready, rest, wmSec) =>
      var pays = st.pays; var receipts = st.receipts
      val out = Seq.newBuilder[TxOut]
      def expire(now: Long): Unit = {
        val (pd, pl) = pays.partition { case (ts, _) => ts + payWaitSec < now }
        pd.foreach { case (ts, id) => out += TxOut("unmatched_pay", key, id, -1L, ts, -1L) }
        pays = pl
        val (rd, rl) = receipts.partition { case (ts, _) => ts + receiptWaitSec < now }
        rd.foreach { case (ts, id) => out += TxOut("unmatched_receipt", key, -1L, id, -1L, ts) }
        receipts = rl
      }
      ready.foreach { e =>
        expire(e.tsSec)
        if (e.hit) { // pay: match a parked receipt or park
          receipts.headOption match {
            case Some((rts, rid)) =>
              out += TxOut("matched", key, e.id, rid, e.tsSec, rts)
              receipts = receipts.tail
            case None => pays = pays :+ (e.tsSec, e.id)
          }
        } else {
          pays.headOption match {
            case Some((pts, pid)) =>
              out += TxOut("matched", key, pid, e.id, pts, e.tsSec)
              pays = pays.tail
            case None => receipts = receipts :+ (e.tsSec, e.id)
          }
        }
      }
      expire(wmSec)
      Step(TxState(rest, pays, receipts), out.result(),
        pays.nonEmpty || receipts.nonEmpty,
        pays.map(_._1 + payWaitSec) ++ receipts.map(_._1 + receiptWaitSec))
    }

  /** Typed event for type-keyed hourly monitoring; bind with `.as` by name
    * so the watermarked ts column rides along (see loginFailAlarms). */
  case class TypeEvent(key: String, sec: Long)

  case class HourStat(event_type: String, hour: Long, cnt: Long,
                      trail_sum: Long, trail_n: Long, anomalous: Boolean)

  /** (hour, cnt) pairs: `pending` = hours not yet closed by the watermark;
    * `trail` = the last ≤ trailRows FINALIZED hours (the comparison window). */
  case class VolumeState(pending: Seq[(Long, Long)], trail: Seq[(Long, Long)])

  /** Streaming twin of BehaviorQueries.volumeAnomalies: per event type,
    * count each event-hour and — once the watermark closes the hour — emit
    * its count with the trailing-window comparison (cnt × n > factor × sum
    * over the last ≤ trailRows observed hours, integer-exact). State per
    * key = open-hour counters inside the watermark horizon plus a
    * `trailRows`-deep ring of closed hours — O(1) for any traffic volume.
    * Late events for an already-closed hour are dropped (allowed-lateness-0
    * parity, like every detector here). Batch mode folds everything at
    * watermark ∞, which is exactly the batch query's trailing row frame —
    * asserted by the parity spec. */
  def volumeAnomaly(events: Dataset[TypeEvent], trailRows: Int,
                    minTrail: Int, factor: Long,
                    streaming: Boolean): Dataset[HourStat] = {
    implicit val outEnc = Encoders.product[HourStat]
    implicit val stEnc = Encoders.product[VolumeState]
    implicit val keyEnc = Encoders.STRING
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout

    def process(key: String, it: Iterator[TypeEvent],
                state: GroupState[VolumeState]): Iterator[HourStat] = {
      val st = state.getOption.getOrElse(VolumeState(Nil, Nil))
      val wmHour =
        if (streaming) state.getCurrentWatermarkMs() / 1000 / 3600 else Long.MaxValue
      val finalizedMax = st.trail.lastOption.map(_._1).getOrElse(Long.MinValue)
      val counts = scala.collection.mutable.Map(st.pending: _*)
      it.foreach { e =>
        val h = Math.floorDiv(e.sec, 3600L)
        // lateness-0 means late data never OPENS an hour either: a
        // brand-new hour already behind the watermark (finalizedMax < h <
        // wmHour) would be finalized this same batch holding only this
        // batch's partial count — diverging from the batch twin's full
        // count. An hour already pending in state stays accepting until
        // the watermark closes it.
        val acceptable = h > finalizedMax &&
          (!streaming || h >= wmHour || counts.contains(h))
        if (acceptable) counts(h) = counts.getOrElse(h, 0L) + 1L
      }
      val (toFinal, stay) = counts.toSeq.partition(_._1 < wmHour)
      var trail = st.trail
      val out = Seq.newBuilder[HourStat]
      toFinal.sortBy(_._1).foreach { case (h, c) =>
        val ts = trail.map(_._2).sum
        val tn = trail.size.toLong
        out += HourStat(key, h, c, ts, tn,
          tn >= minTrail && c * tn > factor * ts)
        trail = (trail :+ (h, c)).takeRight(trailRows)
      }
      if (stay.isEmpty && trail.isEmpty) state.remove()
      else {
        state.update(VolumeState(stay.sortBy(_._1), trail))
        if (streaming && stay.nonEmpty)
          state.setTimeoutTimestamp(math.max(
            (stay.map(_._1).min + 1) * 3600 * 1000 + 1000,
            state.getCurrentWatermarkMs() + 1))
      }
      out.result().iterator
    }

    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(process)
  }

  /** Funnel step event: step ∈ {1=view, 2=click, 3=purchase}. */
  case class StepEvent(key: Long, step: Int, sec: Long, id: Long)

  case class FunnelRow(user_id: Long, view_sec: Long, click_sec: Long,
                       purchase_sec: Long, depth: Long)

  /** Buffered in-horizon events + the funnel progress (−1 = step unset). */
  case class FunnelState(pending: Seq[StepEvent], view: Long, click: Long,
                         purchase: Long)

  /** Streaming twin of BehaviorQueries.funnelSteps: per user, the first
    * view, the first click strictly after it, the first purchase strictly
    * after that. Events drain through the state machine in event-time order
    * once the watermark closes them ([[EventTimeBuffer]]), so each step is
    * set exactly once — the in-order first click after the global-min view
    * IS the min click after it. A
    * row is (re-)emitted whenever a step advances; the LAST row per user
    * equals the batch query's row.
    *
    * State: the in-horizon buffer plus three longs per user — permanent,
    * because this is an all-time funnel (a new event for a completed user
    * must not restart the machine). A 100 TB deployment bounds it by
    * windowing the funnel (cohort month, campaign window) so keys expire
    * with their horizon. */
  def funnel(events: Dataset[StepEvent], streaming: Boolean): Dataset[FunnelRow] =
    drain(events, streaming, FunnelState(Nil, -1L, -1L, -1L))(
      _.key, _.pending, _.sec, _.id) { (key, st, ready, rest, _) =>
      var (view, click, purchase) = (st.view, st.click, st.purchase)
      var changed = false
      ready.foreach { e =>
        e.step match {
          case 1 if view < 0 =>
            view = e.sec; changed = true
          case 2 if view >= 0 && click < 0 && e.sec > view =>
            click = e.sec; changed = true
          case 3 if click >= 0 && purchase < 0 && e.sec > click =>
            purchase = e.sec; changed = true
          case _ =>
        }
      }
      val out =
        if (changed) {
          val depth = if (purchase >= 0) 3L else if (click >= 0) 2L else 1L
          Iterator.single(FunnelRow(key, view, click, purchase, depth))
        } else Iterator.empty
      Step(FunnelState(rest, view, click, purchase), out, live = true)
    }

  /** Bare typed event for the transition fold. */
  case class SeqTypeEvent(key: Long, etype: String, sec: Long, id: Long)

  /** One observed consecutive-pair increment; the transition matrix is
    * `groupBy(from_type, to_type).count()` over the append stream. */
  case class TransInc(user_id: Long, from_type: String, to_type: String)

  /** Buffered in-horizon events + the last drained type ("" = none). */
  case class TransState(pending: Seq[SeqTypeEvent], last: String)

  /** Streaming twin of BehaviorQueries.eventTransitions, one level down:
    * emits one (user, from, to) increment per consecutive event pair as
    * the watermark finalizes each event, draining the in-horizon buffer
    * in event-time order ([[EventTimeBuffer]]) so the pair
    * sequence equals the batch lead-window's. Counting the increments
    * reproduces the batch cell frame exactly.
    *
    * State per user: the in-horizon buffer + ONE string (the last
    * finalized event type) — O(watermark horizon), not O(lifetime),
    * PER USER. The residual (same for [[pathIncrements]]): once a
    * user's buffer drains, the carry `TransState(Nil, last)` persists
    * with no timeout registered, so TOTAL state is O(lifetime user
    * cardinality) — correct by design (the carry is what links a pair
    * across an arbitrarily long gap) but unbounded on a stream of
    * ever-fresh users. `idleTtlSec` is the opt-in mitigation for
    * high-cardinality deployments: once a user's buffer drains, a
    * timeout at watermark + TTL drops the carry, bounding total state
    * by the users active within one TTL window — at the DOCUMENTED
    * price of one lost transition per longer-than-TTL gap (the default
    * None keeps the exact-parity behavior; the loss trade is
    * spec-pinned either way). */
  def transitionIncrements(events: Dataset[SeqTypeEvent],
                           streaming: Boolean,
                           idleTtlSec: Option[Long] = None): Dataset[TransInc] =
    // idle-TTL expiry drops the carry entirely (the accepted
    // one-lost-transition cost)
    drain(events, streaming, TransState(Nil, ""))(
      _.key, _.pending, _.sec, _.id,
      idle = idleTtl(idleTtlSec)) {
      (key, st, ready, rest, _) =>
      var last = st.last
      val out = scala.collection.mutable.ArrayBuffer[TransInc]()
      ready.foreach { e =>
        if (last.nonEmpty) out += TransInc(key, last, e.etype)
        last = e.etype
      }
      Step(TransState(rest, last), out, live = true)
    }

  /** The idle timer of the transition carries: `ttlSec` past the watermark
    * once a user's buffer drains; none keeps the carry forever. */
  private def idleTtl(ttlSec: Option[Long]): Option[(Long, Long) => Option[Long]] =
    Some((_, wmMs) => ttlSec.map(wmMs + _ * 1000))

  /** One observed consecutive-TRIPLE increment; the trigram path frame
    * is `groupBy(from_type, mid_type, to_type).count()` over the append
    * stream. */
  case class PathInc(user_id: Long, from_type: String, mid_type: String,
                     to_type: String)

  /** Buffered in-horizon events + the last TWO drained types ("" = none;
    * `last2` is the older of the pair). */
  case class PathState(pending: Seq[SeqTypeEvent], last2: String,
                       last1: String)

  /** Streaming twin of BehaviorQueries.eventPaths, one level down: emits
    * one (user, from, mid, to) increment per consecutive event TRIPLE as
    * the watermark finalizes each event — [[transitionIncrements]] with a
    * two-type carry instead of one. Counting the increments reproduces
    * the batch trigram cell frame exactly.
    *
    * State per user: the in-horizon buffer + TWO strings — still
    * O(watermark horizon), not O(lifetime), per user; total-state
    * residual and the opt-in `idleTtlSec` mitigation exactly as
    * documented on [[transitionIncrements]]. */
  def pathIncrements(events: Dataset[SeqTypeEvent],
                     streaming: Boolean,
                     idleTtlSec: Option[Long] = None): Dataset[PathInc] =
    drain(events, streaming, PathState(Nil, "", ""))(
      _.key, _.pending, _.sec, _.id,
      idle = idleTtl(idleTtlSec)) {
      (key, st, ready, rest, _) =>
      var (last2, last1) = (st.last2, st.last1)
      val out = scala.collection.mutable.ArrayBuffer[PathInc]()
      ready.foreach { e =>
        if (last2.nonEmpty) out += PathInc(key, last2, last1, e.etype)
        last2 = last1
        last1 = e.etype
      }
      Step(PathState(rest, last2, last1), out, live = true)
    }

  /** One transition increment with its frozen-model surprisal. */
  case class PathScore(user_id: Long, from_type: String, mid_type: String,
                       to_type: String, loss_micro: Long)

  /** STATELESS surprisal scoring of a transition-increment stream
    * against the frozen trigram model
    * ([[graft.queries.BehaviorQueries.pathModel]] — bounded |types|³
    * maps in the closure, the dsirScore discipline): each increment
    * [[pathIncrements]] emits carries its Laplace log-loss in exact
    * micro-nats — the same `round(1e6·ln)` quantization as the batch
    * `path_anomalies` statement (JVM BigDecimal HALF_UP, the
    * dsirModelArray idiom), so counting/ranking the scored stream
    * reproduces the batch monitor exactly (parity-specced). Works on
    * batch and streaming increment frames alike; composed after the
    * watermark-ordered fold, the pipeline is the live
    * account-takeover / bot-behavior review feed. */
  def surprise(incs: Dataset[PathInc],
               n3: Map[(String, String, String), Long],
               nctx: Map[(String, String), Long],
               v: Long): Dataset[PathScore] = {
    implicit val outEnc = Encoders.product[PathScore]
    def qln(x: Double): Long =
      java.math.BigDecimal.valueOf(1000000.0 * math.log(x))
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    incs.map { i =>
      val key = (i.from_type, i.mid_type, i.to_type)
      val loss = -qln((n3.getOrElse(key, 0L) + 1).toDouble /
        (nctx.getOrElse((i.from_type, i.mid_type), 0L) + v).toDouble)
      PathScore(i.user_id, i.from_type, i.mid_type, i.to_type, loss)
    }
  }

  /** Bare (user, event-seconds) for retention cohort tracking. */
  case class WeekEvent(key: Long, sec: Long)

  case class RetentionCell(user_id: Long, cohort_week: Long, week_offset: Long)

  /** Buffered events + cohort week (−1 unset) + weeks already emitted. */
  case class RetentionState(pending: Seq[WeekEvent], cohort: Long,
                            seen: Seq[Long])

  /** Streaming twin of BehaviorQueries.retentionCohorts, one level down:
    * emits each (user, cohort_week, week_offset) cell exactly once, as the
    * watermark finalizes the user's first event in that week. The cohort
    * cell counts are then a plain `groupBy(cohort_week, week_offset)
    * .count()` over this append stream (kept outside so callers can also
    * feed a live dashboard with the raw cells). Event-time-ordered drain
    * makes the first processed event the true min — the cohort week.
    *
    * State per user: cohort week + the seen-week set PRUNED to weeks the
    * watermark could still deliver (a week fully behind the watermark can
    * never arrive again — late events are dropped at entry), so state is
    * O(watermark horizon / week), not O(lifetime). */
  def retentionCells(events: Dataset[WeekEvent],
                     streaming: Boolean): Dataset[RetentionCell] = {
    val weekSec = 7L * 86400L
    // no id: events of one second keep their arrival order
    drain(events, streaming, RetentionState(Nil, -1L, Nil))(
      _.key, _.pending, _.sec, _ => 0L) { (key, st, ready, rest, wmSec) =>
      var cohort = st.cohort
      var seen = st.seen.toSet
      val out = Seq.newBuilder[RetentionCell]
      ready.foreach { e =>
        val w = Math.floorDiv(e.sec, weekSec)
        if (cohort < 0) cohort = w
        if (!seen(w)) {
          seen += w
          out += RetentionCell(key, cohort, w - cohort)
        }
      }
      // weeks whose end the watermark has passed cannot recur
      val liveSeen = seen.filter(w => (w + 1) * weekSec > wmSec).toSeq.sorted
      Step(RetentionState(rest, cohort, liveSeen), out.result(), live = true)
    }
  }

  /** (user, item) interaction for basket co-occurrence. */
  case class ItemEvent(key: Long, item: Long)

  case class PairInc(item_a: Long, item_b: Long)

  case class BasketState(items: Seq[Long])

  /** Streaming twin of BehaviorQueries.itemPairs, one level down: per user,
    * each NEW distinct item emits one (min,max) pair increment against
    * every item already in the user's basket — so every unordered pair is
    * emitted exactly once per user, and `groupBy(item_a, item_b).count()`
    * over this append stream is the batch query's n_users. Basket sets are
    * order-insensitive, so no watermark buffering is needed — arrival order
    * changes WHEN a pair is emitted, never WHETHER.
    *
    * Same skew contract as the batch query: a basket exceeding
    * `maxItemsPerUser` fails the query with the remediation message rather
    * than silently melting a partition with its quadratic pair fan-out. */
  def itemPairIncrements(events: Dataset[ItemEvent], maxItemsPerUser: Long,
                         streaming: Boolean): Dataset[PairInc] = {
    implicit val outEnc = Encoders.product[PairInc]
    implicit val stEnc = Encoders.product[BasketState]

    def process(key: Long, it: Iterator[ItemEvent],
                state: GroupState[BasketState]): Iterator[PairInc] = {
      var items = state.getOption.map(_.items.toSet).getOrElse(Set.empty[Long])
      val out = Seq.newBuilder[PairInc]
      it.foreach { e =>
        if (!items(e.item)) {
          if (items.size + 1 > maxItemsPerUser)
            throw new IllegalStateException(
              s"itemPairIncrements: user $key has ${items.size + 1} distinct items " +
                s"(cap $maxItemsPerUser); the basket pair fan-out is quadratic per " +
                "user - pre-cap baskets to top-M items or raise maxItemsPerUser")
          items.foreach(b =>
            out += PairInc(math.min(e.item, b), math.max(e.item, b)))
          items += e.item
        }
      }
      state.update(BasketState(items.toSeq.sorted))
      out.result().iterator
    }

    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(process)
  }

  /** Content-hash event for online dedup: `h` is the document's content
    * hash (md5 / rolling — whatever the batch dedup family uses). */
  case class DocEvent(h: String, doc_id: Long, sec: Long)

  /** Immutable keep/drop decision: the event-time-first document per hash
    * keeps (`dup_of` −1); every later duplicate drops, pointing at its
    * keeper. */
  case class DedupDecision(doc_id: Long, h: String, keep: Boolean, dup_of: Long)

  /** Buffered in-horizon events + the keeper (−1 = none decided yet). */
  case class DedupState(pending: Seq[DocEvent], keeper: Long)

  /** ONLINE exact dedup — the streaming twin of the batch dedup family's
    * keep/drop decision (`PipelineQueries.dedupExact` keeps one doc per
    * content hash): keyed by hash, the first document in event-time
    * (sec, doc_id) order keeps, all later ones drop with `dup_of` = the
    * keeper. Events drain through the watermark-ordered buffer
    * ([[EventTimeBuffer]]), so the decision is exact under bounded
    * disorder — a late-but-in-horizon earlier document still wins — and
    * each decision is emitted exactly once (Append mode), which is what an
    * ingest pipeline acts on (write the keeper, skip the dup).
    *
    * State per hash: the in-horizon buffer plus one long — permanent by
    * default, because exact dedup is all-time by definition. `epochSec`
    * is the opt-in production bound (the [[transitionIncrements]]
    * idle-TTL pattern applied to the corpus-snapshot discipline): state
    * is keyed by (hash, ⌊sec/epochSec⌋) and REMOVED once the watermark
    * passes the epoch end, so total state is bounded by the hashes seen
    * within one epoch — at the DOCUMENTED price that a duplicate whose
    * keeper lives in an EARLIER epoch is re-kept (one extra keeper per
    * hash per epoch, the exact loss a snapshot-keyed dedup accepts; the
    * default None keeps all-time exactness, and the trade is spec-pinned
    * in both directions on identical feeds).
    *
    * State-compat note: epoch mode changes the flatMapGroupsWithState
    * GROUP KEY to the composite `hash#epoch` string (and r13 added
    * [[SemState]]'s `overflow` field on the sibling detector) — a
    * streaming checkpoint written by the pre-r13 shape, or by the other
    * epoch setting, does NOT restore (Spark state-store schema/keying
    * mismatch). Switching modes or upgrading across r13 means a fresh
    * checkpoint; acceptable for a new framework, recorded here so the
    * failure is diagnosable. */
  def onlineDedup(events: Dataset[DocEvent], streaming: Boolean,
                  epochSec: Option[Long] = None): Dataset[DedupDecision] = {
    implicit val keyEnc = Encoders.STRING
    val key: DocEvent => String = epochSec match {
      // '#' cannot occur in a content hash, so the composite key is
      // unambiguous; decisions still carry the bare hash (e.h)
      case Some(es) => e => s"${e.h}#${e.sec / es}"
      case None => _.h
    }
    // epoch expiry: once the buffer drains, a death timer at the epoch
    // boundary (clamped above the watermark — Spark rejects timestamps at
    // or below it); the keeper dies with its snapshot
    def epochEnd(key: String, wmMs: Long): Option[Long] = epochSec.map { es =>
      val epochIdx = key.substring(key.lastIndexOf('#') + 1).toLong
      math.max((epochIdx + 1) * es * 1000, wmMs + 1)
    }
    drain(events, streaming, DedupState(Nil, -1L))(
      key, _.pending, _.sec, _.doc_id, idle = Some(epochEnd _)) { (_, st, ready, rest, _) =>
      var keeper = st.keeper
      val out = Seq.newBuilder[DedupDecision]
      ready.foreach { e =>
        if (keeper < 0) {
          keeper = e.doc_id
          out += DedupDecision(e.doc_id, e.h, keep = true, -1L)
        } else {
          out += DedupDecision(e.doc_id, e.h, keep = false, keeper)
        }
      }
      Step(DedupState(rest, keeper), out.result(), live = true)
    }
  }

  /** One embedding on the ingest feed, already coarse-assigned (cid =
    * nearest offline-trained centroid, a stateless narrow map —
    * [[graft.ops.SimilarityOps.coarseAssigned]]); sec = arrival clock
    * (vec_id here; a live feed would use its ingest timestamp). */
  case class VecEvent(cid: Long, vec_id: Long, qvec: Seq[Long], norm2: Long,
                      sec: Long)
  case class SemDecision(vec_id: Long, cid: Long, n_near: Long, kept: Boolean)
  case class SemState(pending: Seq[VecEvent], members: Seq[VecEvent],
                      overflow: Long)

  /** ONLINE SemDeDup twin of the batch `semdedup` query: per-cluster state
    * holds every member seen so far (kept AND dropped — the batch relation
    * counts any lower-id neighbor, so dropped members still suppress later
    * arrivals); each watermark-ready event is scored against that
    * membership with the SAME arithmetic as the batch expression (exact
    * integer dot, then one double division over two double sqrts — IEEE
    * ops in the same order, so decisions are bit-identical). Events buffer
    * until the watermark passes and process in (sec, vec_id) order
    * ([[EventTimeBuffer]]), so replay order cannot change a decision.
    * State is bounded by cluster
    * membership — the quantity SemDeDup's k-grows-with-corpus centroid
    * sizing keeps constant by DESIGN; `maxMembers` is the opt-in HARD
    * bound for deployments that cannot re-train centroids on schedule
    * (the [[graft.cep.PatternDetector]] cap-plus-counter idiom): once a
    * cluster holds `maxMembers`, later arrivals are still SCORED against
    * the held membership but no longer appended, and the overflow count
    * is carried in state — at the DOCUMENTED recall price that an
    * arrival near only unappended members is wrongly kept (suppression
    * recall loss, never a wrong drop; default None = exact batch
    * parity, the trade spec-pinned in both directions).
    *
    * State-compat note: the `overflow` field was ADDED to [[SemState]]
    * in r13 — a streaming checkpoint written before it does not restore
    * (state-encoder schema mismatch); upgrade means a fresh checkpoint
    * (see [[onlineDedup]]'s matching note for the epoch-mode keying
    * break). */
  def onlineSemDedup(events: Dataset[VecEvent], threshold: Double,
                     streaming: Boolean,
                     maxMembers: Option[Int] = None): Dataset[SemDecision] = {
    def cos(a: VecEvent, b: VecEvent): Double = {
      var dot = 0L
      var i = 0
      while (i < a.qvec.length) { dot += a.qvec(i) * b.qvec(i); i += 1 }
      dot.toDouble / (math.sqrt(a.norm2.toDouble) * math.sqrt(b.norm2.toDouble))
    }

    drain(events, streaming, SemState(Nil, Nil, 0L))(
      _.cid, _.pending, _.sec, _.vec_id) { (key, st, ready, rest, _) =>
      var members = st.members
      var overflow = st.overflow
      val out = Seq.newBuilder[SemDecision]
      ready.foreach { e =>
        val n = members.count(m => cos(m, e) >= threshold).toLong
        out += SemDecision(e.vec_id, key, n, n == 0L)
        if (maxMembers.forall(members.length < _)) members = members :+ e
        else overflow += 1L
      }
      Step(SemState(rest, members, overflow), out.result(), live = true)
    }
  }
}
