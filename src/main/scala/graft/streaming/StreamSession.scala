package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SESSION-window aggregation — the q17 gaps-and-islands
  * semantics as a live query, and the one Structured Streaming window
  * type (merging windows) the streaming tier didn't yet exercise:
  * unlike tumbling/sliding windows whose boundaries are known at
  * ingest, a session window GROWS as in-gap events arrive — the state
  * store MERGES overlapping per-key session state across micro-
  * batches, and a session only finalizes once the event-time
  * watermark passes its close.
  *
  * Scale shape: state is keyed on (user, open session) — bounded by
  * concurrently-open sessions, not event history; the input's
  * watermark is what lets Spark drop closed sessions, so it is
  * REQUIRED here (an unwatermarked streaming session aggregation
  * cannot evict and is rejected in append mode). Output in append
  * mode = only finalized sessions, which is what a downstream
  * engagement table wants.
  */
object StreamSession {

  /** Finalized (user_id, session_start, session_end, n_events) rows;
    * `gap` is a duration string. Precondition: a streaming input
    * already carries its event-time watermark. The same call on a batch
    * frame is the batch twin (q17 is the oracle-gated gaps-and-islands
    * form of the same semantics). */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
}
