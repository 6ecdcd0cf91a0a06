package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of `operators.Merge.scd2`: maintain an SCD Type-2
  * dimension incrementally from a change stream.
  *
  * Keyed state holds only the OPEN version (current state + its
  * effective_from + next version number); a state change emits the
  * now-CLOSED previous version (its effective_to is known at that
  * moment) — so the append-mode output is exactly the batch history's
  * closed rows, in close order. The open tail rows of each key live in
  * state, queryable via `openVersions` semantics (the batch twin's
  * `scd2Current`) or flushed by the caller at teardown.
  *
  * 100 TB notes: state is one small record per key ever seen (not per
  * version — history lands in the sink as it closes), with no timeout:
  * the record IS the key's open version, and evicting it would restart
  * that key's history at version 1 on its next change (so this keeps
  * its own `flatMapGroupsWithState` rather than [[KeyedState]]'s
  * eviction). The shuffle is the groupByKey on the key only.
  * Consecutive-duplicate changes update nothing and emit nothing, so a
  * chatty source that mostly repeats itself costs no state churn and no
  * sink volume.
  *
  * Ordering contract (same as StreamAsOf): within a micro-batch,
  * events apply in (event-time, tie) order; cross-batch late data
  * older than an already-applied change cannot rewrite history —
  * the batch operator is the retrospective truth, equivalence on an
  * ordered stream is spec-pinned.
  */
object StreamScd2 {

  final case class Change(key: Long, state: String, ts: Timestamp, tie: Long)

  final case class OpenVersion(state: String, fromMs: Long, version: Long)

  final case class ClosedVersion(key: Long, version: Long, state: String,
      effective_from: Timestamp, effective_to: Timestamp)

  def step(key: Long, changes: Iterator[Change],
      state: GroupState[OpenVersion]): Iterator[ClosedVersion] = {
    val sorted = changes.toSeq.sortBy(c => (c.ts.getTime, c.tie))
    var open = state.getOption
    val out = Seq.newBuilder[ClosedVersion]
    sorted.foreach { c =>
      open match {
        // cross-batch disorder guard: a change whose ts precedes the
        // open version's start would emit an inverted interval
        // (effective_to < effective_from) and rewind the open
        // version. Sorting only orders WITHIN a batch — a
        // within-watermark straggler in a later batch lands here.
        // Skip it: late data degrades to ignored, never to
        // corrupted history (the documented contract).
        case Some(o) if c.ts.getTime < o.fromMs => ()
        case Some(o) if o.state == c.state => () // consecutive repeat
        case Some(o) =>
          out += ClosedVersion(key, o.version, o.state,
            new Timestamp(o.fromMs), c.ts)
          open = Some(OpenVersion(c.state, c.ts.getTime, o.version + 1))
        case None =>
          open = Some(OpenVersion(c.state, c.ts.getTime, 1L))
      }
    }
    open.foreach(state.update)
    out.result().iterator
  }

  /** Change stream (key, state, ts, tie) → closed SCD2 version rows
    * (append mode). The open version per key remains in group state.
    * Precondition: a streaming input already carries its event-time
    * watermark; rows behind it are dropped before the state. */
  def closedVersions(changes: DataFrame): Dataset[ClosedVersion] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .select(col("key").cast("long").as("key"), col("state"),
        col("ts"), col("tie").cast("long").as("tie"))
      .as[Change]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(step)
  }
}
