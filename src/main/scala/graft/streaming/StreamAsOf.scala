package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming deployment of the as-of join (operators.AsOfJoin /
  * plans.AsOfJoinPlan are its batch forms): enrich each purchase with
  * the user's most recent view at-or-before it, within a tolerance.
  *
  * Structured Streaming cannot express "most recent prior event from
  * the same stream" as a stream-stream join (that join emits ALL pairs
  * in the time range, not the latest), so this is keyed state:
  * `flatMapGroupsWithState` ([[KeyedState]]) holding one (last view
  * timestamp) record per user.
  *
  * Ordering: events are processed in event-time order inside each
  * micro-batch (views win ties, matching the batch operator's
  * at-or-before semantics). A view that arrives AFTER a purchase was
  * already emitted in an earlier batch cannot retro-enrich it — the
  * stream contract is "best knowledge at emit time"; the batch
  * operator is the retrospective truth.
  *
  * 100 TB notes: state is one long per active user, the watermark-driven
  * timeout of [[KeyedState]] evicts idle users (state tracks active users,
  * not history). The shuffle is the groupByKey on user_id only.
  */
object StreamAsOf {

  final case class UserEvent(user_id: Long, event_type: String,
      ts: Timestamp, value: Double)

  final case class LastView(tsMs: Long)

  final case class EnrichedPurchase(user_id: Long, purchase_ts: Timestamp,
      value: Double, has_prior_view: Boolean, gap_seconds: Long)

  val ToleranceSec = 3600L

  /** One user's events of a micro-batch against the stored last view →
    * the next last view and the enriched purchases. */
  def step(userId: Long, events: Iterator[UserEvent],
      prev: Option[LastView]): (Option[LastView], Iterator[EnrichedPurchase]) = {
    // event-time order; views before purchases on equal timestamps
    val sorted = events.toSeq.sortBy(e =>
      (e.ts.getTime, if (e.event_type == "view") 0 else 1))
    var lastView = prev.map(_.tsMs)
    val out = Seq.newBuilder[EnrichedPurchase]
    sorted.foreach { e =>
      e.event_type match {
        case "view" =>
          lastView = Some(lastView.fold(e.ts.getTime)(math.max(_, e.ts.getTime)))
        case "purchase" =>
          // tolerance at ms precision (the native operator compares
          // at full precision); reported gap as floor(sec)-floor(sec)
          // to match unix_timestamp arithmetic exactly
          val gapMs = lastView.map(v => e.ts.getTime - v)
          val within = gapMs.exists(g => g >= 0 && g <= ToleranceSec * 1000)
          val gapSec = lastView.map(v =>
            math.floorDiv(e.ts.getTime, 1000) - math.floorDiv(v, 1000))
          out += EnrichedPurchase(userId, e.ts, e.value,
            within, if (within) gapSec.get else -1L)
        case _ => ()
      }
    }
    (lastView.map(LastView), out.result().iterator)
  }

  /** events frame (user_id, event_type, ts, value) → enriched purchase
    * stream. Precondition: a streaming input already carries its
    * event-time watermark. A user with no view for tolerance + 1 h of
    * event time is evicted ([[KeyedState]]). */
  def enrichedPurchases(events: DataFrame): Dataset[EnrichedPurchase] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedState.eventTime(events
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        col("ts"), coalesce(col("value"), lit(0.0)).as("value"))
      .filter(col("event_type").isin("view", "purchase"))
      .as[UserEvent])(_.user_id)(
      (s: LastView) => s.tsMs + (ToleranceSec + 3600) * 1000)(step)
  }
}
