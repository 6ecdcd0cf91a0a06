package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming twin of q186's transition extraction: incremental
  * maintenance of the per-user event-type transition stream. The batch
  * form is `lead(event_type) OVER (PARTITION BY user_id ORDER BY ts,
  * event_id)`; a stream cannot window backward across micro-batches,
  * so the boundary pair (user's last event of batch N, first event of
  * batch N+1) needs keyed state — exactly ONE (ts, event_id, type)
  * record per active user.
  *
  * The emitted transitions feed the same downstream aggregation as
  * q186 (counts per (a, b) are ADDITIVE across batches — a
  * counter-upsert sink needs no further state; the normalization and
  * power iteration run on the tiny matrix whenever a snapshot is
  * wanted).
  *
  * Contract: per-user event-time order ACROSS batches (the replay /
  * ingest shape; within a batch any order is fine — the step sorts by
  * (ts, event_id) exactly like the batch window). A cross-batch
  * straggler older than the stored last event would pair differently
  * than the batch truth — same contract as StreamAsOf's
  * "best knowledge at emit time".
  *
  * 100 TB notes: state is ~three words per ACTIVE user with the
  * watermark-driven timeout eviction of [[KeyedState]]; the only shuffle is
  * the groupByKey on user_id. The eviction horizon is the one place
  * stream and batch can diverge: a user who returns AFTER eviction
  * starts a fresh chain, so their boundary transition is not emitted
  * (the batch lead window pairs it regardless of gap). The horizon is
  * therefore a caller-owned memory-vs-exactness knob — it must exceed
  * the longest real user-return gap for exact parity (the parity spec
  * runs with an effectively unbounded horizon; the 30-day testdata has
  * 65 h return gaps, so a 24 h horizon measurably undercounts).
  */
object StreamMarkov {

  final case class Ev(user_id: Long, event_type: String, ts: Timestamp,
      event_id: Long)

  final case class LastEv(tsMs: Long, eventId: Long, typ: String)

  final case class Transition(user_id: Long, a: String, b: String)

  val DefaultIdleMs: Long = 30L * 24 * 3600 * 1000

  /** One user's events of a micro-batch (never empty: [[KeyedState]]
    * calls `step` only for keys with data) against the stored boundary
    * event → the next boundary and the transitions. */
  def step(userId: Long, events: Iterator[Ev],
      prev: Option[LastEv]): (Option[LastEv], Iterator[Transition]) = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val types = prev.map(_.typ).toSeq ++ sorted.map(_.event_type)
    val out = types.zip(types.drop(1)).map { case (a, b) =>
      Transition(userId, a, b)
    }
    // keep the NEWEST-seen event as the boundary record: a cross-batch
    // straggler older than the stored last event (contract-violating
    // input) mis-pairs its own transition, but must not also regress
    // the boundary and the timeout horizon — that would compound the
    // divergence beyond the documented single mis-paired transition
    val newest = sorted.last
    val storedIsNewer = prev.exists(p =>
      p.tsMs > newest.ts.getTime ||
        (p.tsMs == newest.ts.getTime && p.eventId >= newest.event_id))
    val last =
      if (storedIsNewer) prev
      else Some(LastEv(newest.ts.getTime, newest.event_id, newest.event_type))
    (last, out.iterator)
  }

  /** events frame (user_id, event_type, ts, event_id) → transition
    * stream. Precondition: a streaming input already carries its
    * event-time watermark. `idleMs` is the state-eviction horizon (see
    * class note — must exceed the longest user-return gap for exact
    * batch parity). */
  def transitions(events: DataFrame,
      idleMs: Long = DefaultIdleMs): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedState.eventTime(events
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        col("ts"), col("event_id").cast("long").as("event_id"))
      .as[Ev])(_.user_id)((s: LastEv) => s.tsMs + idleMs)(step)
  }
}
