package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * The event-time buffer under every keyed detector of [[Detectors]] and
 * [[graft.cep.PatternDetector]].
 *
 * Out-of-order handling: Flink's CEP consumes events in watermark order; a
 * micro-batch sees arrival order. Each detector therefore buffers incoming
 * events in state and only folds those older than the current watermark
 * through its state machine, in (sec, id) order — identical event-time
 * semantics, bounded state (the buffer never holds more than the watermark
 * horizon). Events older than the watermark on arrival are late and
 * dropped, as Flink CEP does. An `EventTimeTimeout` wakes the key to drain
 * the buffer when the watermark advances past buffered events without new
 * arrivals, and at the deadlines of whatever the fold carries.
 *
 * In batch mode (`streaming = false`) the same fold runs over all events at
 * once (watermark = ∞), which is exactly the batch lag/join formulation —
 * the property the parity specs assert.
 */
private[graft] object EventTimeBuffer {

  /** What a detector's fold leaves for one key: its next state (holding the
    * `rest` buffer it was given), its output, whether that state carries
    * anything besides the buffer (a key with an empty buffer and nothing
    * `live` is removed), and the event-time seconds at which the carry must
    * be looked at again. */
  final case class Step[S, O](state: S, out: IterableOnce[O], live: Boolean,
                              deadlines: Iterable[Long] = Nil)

  /** Group `events` by `key` and run `fold(key, state, ready, rest, wmSec)`
    * for each key with fresh events or a fired timer: `ready` are the
    * buffered and fresh events the watermark has closed, in (`sec`, `id`)
    * order; `rest` are those it has not, which the fold puts back into its
    * state.
    *
    * `idle` is for detectors whose state outlives its buffer and expires
    * only when idle: given the key and the watermark in ms, the timer to arm
    * once the buffer drains, if any; a key woken with nothing buffered is
    * then dropped. */
  def drain[K: Encoder, E, S <: Product : TypeTag, O <: Product : TypeTag](
      events: Dataset[E], streaming: Boolean, init: S)(
      key: E => K, pending: S => Seq[E], sec: E => Long, id: E => Long,
      idle: Option[(K, Long) => Option[Long]] = None)(
      fold: (K, S, Seq[E], Seq[E], Long) => Step[S, O]): Dataset[O] = {
    implicit val stEnc: Encoder[S] = Encoders.product[S]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout

    def process(k: K, it: Iterator[E], state: GroupState[S]): Iterator[O] = {
      val st = state.getOption.getOrElse(init)
      val wmSec = if (streaming) state.getCurrentWatermarkMs() / 1000 else Long.MaxValue
      val fresh = it.filter(e => !streaming || sec(e) >= wmSec)
      val all = (pending(st) ++ fresh).sortBy(e => (sec(e), id(e)))
      if (idle.isDefined && state.hasTimedOut && all.isEmpty) {
        state.remove()
        Iterator.empty
      } else {
        val (ready, rest) = all.partition(sec(_) < wmSec)
        val step = fold(k, st, ready, rest, wmSec)
        if (rest.isEmpty && !step.live) state.remove()
        else {
          state.update(step.state)
          if (streaming) {
            val wmMs = state.getCurrentWatermarkMs()
            (rest.iterator.map(sec) ++ step.deadlines).reduceOption(_ min _) match {
              // clamped above the watermark: Spark rejects a timeout at or below it
              case Some(w) => state.setTimeoutTimestamp(math.max(w * 1000 + 1000, wmMs + 1))
              case None => idle.flatMap(_(k, wmMs)).foreach(t => state.setTimeoutTimestamp(t))
            }
          }
        }
        step.out.iterator
      }
    }

    events.groupByKey(key).flatMapGroupsWithState(OutputMode.Append, timeout)(process)
  }
}
