package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Arbitrary stateful processing (SURVEY.md §2.13 — absent in the
  * reference, a first-class Structured Streaming capability): a
  * per-order lifecycle state machine over the order event stream,
  * implemented with flatMapGroupsWithState through [[KeyedState]].
  *
  * Emits one OrderTransition per observed status change (cross-
  * micro-batch: the previous status lives in the state store), which is
  * the event-level drill-down the reference's windowed drop-off counts
  * can't provide.
  *
  * State hygiene at scale: keyed state is one small record per open
  * order; the watermark-driven timeout of [[KeyedState]] evicts orders
  * with no activity, so state size tracks active orders, not stream
  * history.
  */
object OrderLifecycle {

  final case class OrderPing(order_id: String, order_status: String,
      event_timestamp: Timestamp)

  final case class LifecycleState(lastStatus: String, lastTsMs: Long,
      transitions: Int)

  final case class OrderTransition(order_id: String, from_status: String,
      to_status: String, gap_seconds: Long, transition_no: Int,
      at: Timestamp)

  /** One order's events of a micro-batch, in event-time order, against
    * its stored state → the next state and the transitions. */
  def step(orderId: String, events: Iterator[OrderPing],
      prev: Option[LifecycleState])
      : (Option[LifecycleState], Iterator[OrderTransition]) = {
    var cur = prev
    val out = Seq.newBuilder[OrderTransition]
    events.toSeq.sortBy(_.event_timestamp.getTime).foreach { e =>
      val ts = e.event_timestamp.getTime
      cur match {
        case Some(s) if s.lastStatus != e.order_status =>
          out += OrderTransition(orderId, s.lastStatus, e.order_status,
            (ts - s.lastTsMs) / 1000, s.transitions + 1, e.event_timestamp)
          cur = Some(LifecycleState(e.order_status, ts, s.transitions + 1))
        case Some(s) => // same status: refresh timestamp only
          cur = Some(s.copy(lastTsMs = ts))
        case None => // first sighting: no transition yet
          cur = Some(LifecycleState(e.order_status, ts, 0))
      }
    }
    (cur, out.result().iterator)
  }

  /** orders frame (order_id, order_status, event_timestamp) → transition
    * stream. Precondition: a streaming input already carries its
    * event-time watermark. An order with no activity for 1 h of event
    * time is evicted ([[KeyedState]]). */
  def transitions(orders: DataFrame): Dataset[OrderTransition] = {
    val spark = orders.sparkSession
    import spark.implicits._
    KeyedState.eventTime(orders
      .select(col("order_id"), col("order_status"), col("event_timestamp"))
      .as[OrderPing])(_.order_id)(
      (s: LifecycleState) => s.lastTsMs + 3600 * 1000)(step)
  }
}
