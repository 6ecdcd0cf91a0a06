package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one keyed event-time state lifecycle of the stream tier
  * (`OrderLifecycle`, `StreamAsOf`, `StreamMarkov`): the input carries
  * the watermark, and every stateful operator evicts against it, as in
  * Structured Streaming's own contract.
  *
  * Per key and micro-batch: a timed-out key is removed and emits
  * nothing; otherwise `step` sees the key's events (at least one) and
  * its stored state and returns the next state (None removes it) and
  * its output. A kept
  * state's timeout is set on EVERY batch, the first included, to
  * `max(expiresAt(s), watermark + 60 s)`: batch 0 runs with watermark
  * 0, and a key whose timeout is skipped there keeps its state forever;
  * the clamp keeps a late key from requesting a timeout the watermark
  * has already passed.
  *
  * Precondition: a streaming input already carries its event-time
  * watermark. Without one Spark refuses to start the query. */
object KeyedState {

  private val SlackMs = 60 * 1000L

  def eventTime[E, K: Encoder, S: Encoder, O: Encoder](events: Dataset[E])(
      key: E => K)(expiresAt: S => Long)(
      step: (K, Iterator[E], Option[S]) => (Option[S], Iterator[O]))
      : Dataset[O] =
    events.groupByKey(key).flatMapGroupsWithState(OutputMode.Append,
      GroupStateTimeout.EventTimeTimeout) {
      (k: K, in: Iterator[E], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val (next, out) = step(k, in, state.getOption)
          next match {
            case Some(s) =>
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(expiresAt(s), state.getCurrentWatermarkMs() + SlackMs))
            case None => state.remove()
          }
          out
        }
    }
}
