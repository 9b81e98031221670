package graft.streaming

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The one stateful streaming engine of this package: every stateful
  * operator (sessionize, funnel, retention, attribution, z-score,
  * gap-islands, as-of) runs `transformWithState` over a subclass of
  * this processor, and its public `*Streaming` entry point needs the
  * RocksDB state-store provider
  * (`spark.sql.streaming.stateStore.providerClass`).
  *
  * Each operator's semantics live in ONE pure step function
  * `(key, state, events, watermark) → (emits, state', wake)`; this
  * class holds the state-API bookkeeping once. The state is a named
  * `ValueState[S]`, and the key keeps at most ONE armed timer: a new
  * wake deletes the old timer before registering (TWS timers
  * accumulate until deleted; `listTimers` is authoritative, no shadow
  * state). An expired timer re-enters the same step with no rows.
  * Concrete processors supply only the state name, encoder, empty
  * value, and the delegation to their operator's step.
  *
  * The step contract (checked by WatermarkFuzzSpec's simulated
  * handle, which rejects a timer at or below the watermark): a defined
  * `wake` implies a defined `state'` and is strictly later than the
  * current watermark — so a surviving key has exactly one live timer
  * (or none, for retention, whose state must survive arbitrary idle
  * gaps) and a cleared key has none.
  *
  * The late-row rule: a row is admitted only if its event time is
  * STRICTLY later than the current watermark; a row whose event time
  * EQUALS the watermark is dropped (even event-time 0 against the
  * initial watermark 0). TwsPortsSpec's late-row test pins it. Each
  * operator's `*Batch` fold over the admitted rows is the parity
  * reference for its streaming output.
  */
abstract class StepProcessor[I, S, O] extends StatefulProcessor[Long, I, O] {

  protected def stateName: String
  protected def stateEncoder: Encoder[S]
  protected def emptyState: S
  /** The operator's pure step, watermark in event-time MICROSECONDS
    * (the package convention); returned wake instant in milliseconds. */
  protected def step(key: Long, st: S, rows: Seq[I], wmUs: Long)
      : (Seq[O], Option[S], Option[Long])

  @transient private var st: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

  private def invoke(key: Long, rows: Seq[I], wmUs: Long): Iterator[O] = {
    val cur = if (st.exists()) st.get() else emptyState
    val (out, next, wake) = step(key, cur, rows, wmUs)
    val armed = getHandle.listTimers().toSeq
    next match {
      case None =>
        st.clear()
        armed.foreach(getHandle.deleteTimer)
      case Some(s2) =>
        st.update(s2)
        wake match {
          case Some(at) =>
            if (!armed.contains(at)) {
              armed.foreach(getHandle.deleteTimer)
              getHandle.registerTimer(at)
            }
          case None => // surviving state with no wake (retention)
            armed.foreach(getHandle.deleteTimer)
        }
    }
    out.iterator
  }

  override def handleInputRows(key: Long, rows: Iterator[I],
                               timers: TimerValues): Iterator[O] =
    invoke(key, rows.toSeq, timers.getCurrentWatermarkInMs() * 1000)

  override def handleExpiredTimer(key: Long, timers: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[O] =
    invoke(key, Nil, timers.getCurrentWatermarkInMs() * 1000)
}
