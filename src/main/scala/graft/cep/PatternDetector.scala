package graft.cep

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.util.LongAccumulator

import graft.streaming.Detectors.KeyedEvent
import graft.streaming.EventTimeBuffer

/**
 * Composable cep-lite: sequential multi-stage patterns over keyed
 * event-time streams — the generalization of Flink CEP's
 * `begin(a).times(n).consecutive().followedBy(b).within(d)` chain
 * (login-fail-detect/.../LoginFailWithCEP.java:62-68,
 * order-pay-detect/.../OrderTimeout.java:52-63) beyond the two fixed shapes
 * in [[Cep]]/graft.streaming.Detectors.
 *
 * Semantics (Flink default no-skip):
 *  - every event that satisfies stage 0 can start a new partial match, so
 *    overlapping matches each emit;
 *  - a `consecutive` stage is broken by any non-matching event once begun;
 *    a non-consecutive stage skips irrelevant events (followedBy);
 *  - the whole match must complete within `withinSec` of its first element;
 *  - a completed partial emits once (its first B completes it) and dies.
 *
 * State is bounded: in streaming mode partial matches are capped at
 * [[PatternSpec#maxPartials]] per key (oldest dropped — at 100 TB an
 * unbounded NFA state is the thing that kills the job) and every drop is
 * counted in a [[LongAccumulator]] (no silent caps; see
 * [[detectWithMetrics]]). Batch mode runs CAP-FREE: its output is compared
 * exactly against the DuckDB oracle, so it must not diverge from the
 * no-skip semantics under any input. Partials also expire at the
 * within-horizon. Events fold in event-time order through
 * [[graft.streaming.EventTimeBuffer]], like graft.streaming.Detectors.
 */
object PatternDetector extends Serializable {

  /** One pattern stage: events matching `pred` advance it; `times` exact
    * repeats; `consecutive` forbids gaps while the stage is in progress.
    * `pred` sees the event's `hit`-agnostic fields — predicates are given
    * as serializable functions over the event. */
  case class Stage(pred: KeyedEvent => Boolean, times: Int = 1,
                   consecutive: Boolean = false) {
    require(times >= 1)
  }

  case class PatternSpec(stages: Seq[Stage], withinSec: Long,
                         maxPartials: Int = 64) {
    require(stages.nonEmpty)
  }

  case class PatternMatch(key: Long, first_id: Long, last_id: Long,
                          first_ts: Long, last_ts: Long, n_events: Long)

  /** A live partial match. */
  private case class Partial(stage: Int, inStage: Int, firstTs: Long,
                             firstId: Long, nEvents: Long, begun: Boolean)

  case class PatternState(pending: Seq[KeyedEvent],
                          partials: Seq[(Int, Int, Long, Long, Long, Boolean)])

  /** Fold events (must be in event-time order) through the NFA. Returns
    * (matches, surviving partials). */
  private def fold(spec: PatternSpec, events: Seq[KeyedEvent], key: Long,
                   init: Seq[Partial],
                   dropped: LongAccumulator): (Seq[PatternMatch], Seq[Partial]) = {
    var partials = init
    val out = Seq.newBuilder[PatternMatch]
    events.foreach { e =>
      // expire by within-horizon
      partials = partials.filter(p => e.tsSec - p.firstTs <= spec.withinSec)
      // a fresh empty partial may start at this event
      val candidates = partials :+ Partial(0, 0, e.tsSec, e.id, 0L, begun = false)
      partials = candidates.flatMap { p =>
        val st = spec.stages(p.stage)
        if (st.pred(e)) {
          val inStage = p.inStage + 1
          val firstTs = if (p.nEvents == 0) e.tsSec else p.firstTs
          val firstId = if (p.nEvents == 0) e.id else p.firstId
          if (e.tsSec - firstTs > spec.withinSec) None // too slow, dies
          else if (inStage == st.times) {
            if (p.stage == spec.stages.size - 1) {
              out += PatternMatch(key, firstId, e.id, firstTs, e.tsSec, p.nEvents + 1)
              None // completed
            } else Some(Partial(p.stage + 1, 0, firstTs, firstId,
              p.nEvents + 1, begun = false))
          } else Some(Partial(p.stage, inStage, firstTs, firstId,
            p.nEvents + 1, begun = true))
        } else {
          // non-matching event: kills a consecutive stage IN PROGRESS
          // (inStage > 0); the gap before a stage's first event is governed
          // by the relaxed followedBy contiguity, so the partial waits
          if (st.consecutive && p.inStage > 0) None
          else if (p.nEvents == 0) None // empty partial never started
          else Some(p)
        }
      }
      if (partials.size > spec.maxPartials) {
        dropped.add(partials.size - spec.maxPartials)
        partials = partials.takeRight(spec.maxPartials)
      }
    }
    (out.result(), partials)
  }

  /** Run the pattern over a keyed event Dataset. Batch mode folds each key
    * once; streaming mode buffers to the watermark with late-drop
    * ([[graft.streaming.EventTimeBuffer]]). */
  def detect(events: Dataset[KeyedEvent], spec: PatternSpec,
             streaming: Boolean): Dataset[PatternMatch] =
    detectWithMetrics(events, spec, streaming)._1

  /** As [[detect]], also returning the accumulator counting partial matches
    * dropped by the streaming `maxPartials` cap. Batch mode is cap-free
    * (the oracle compares its output exactly), so the counter stays 0.
    *
    * Counter semantics: Spark accumulators updated inside a transformation
    * are AT-LEAST-ONCE under task retries/speculation — treat the count as
    * a capacity alarm (zero is exact; nonzero may overcount after
    * failures). If exact drop accounting is ever needed, read the per-batch
    * `stateOperators` metrics from the StreamingQuery progress instead. */
  def detectWithMetrics(events: Dataset[KeyedEvent], spec: PatternSpec,
                        streaming: Boolean): (Dataset[PatternMatch], LongAccumulator) = {
    implicit val keyEnc = Encoders.scalaLong
    val effSpec = if (streaming) spec else spec.copy(maxPartials = Int.MaxValue)
    val dropped = events.sparkSession.sparkContext
      .longAccumulator("graft.pattern.partials_dropped")

    val matches = EventTimeBuffer.drain(events, streaming, PatternState(Nil, Nil))(
      _.key, _.pending, _.tsSec, _.id) { (key, st, ready, rest, wmSec) =>
      val init = st.partials.map(t => Partial(t._1, t._2, t._3, t._4, t._5, t._6))
      val (found, folded) = fold(effSpec, ready, key, init, dropped)
      // a partial older than the within-horizon behind the watermark can
      // never complete — prune, and drop the state row once fully drained;
      // wake at partial-match expiry, so quiet keys are re-invoked to prune
      val partials = folded.filter(p => wmSec - p.firstTs <= effSpec.withinSec)
      EventTimeBuffer.Step(PatternState(rest,
          partials.map(p => (p.stage, p.inStage, p.firstTs, p.firstId, p.nEvents, p.begun))),
        found, partials.nonEmpty, partials.map(_.firstTs + effSpec.withinSec))
    }
    (matches, dropped)
  }
}
