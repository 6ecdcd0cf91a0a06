package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream–stream joins — the funnel the reference advertises but never
  * performs (SURVEY.md §2.9: README.md:79 claims "Joins"; the
  * processors derive every stage from order_status alone). This is the
  * idiomatic-mode flagship extension J3: orders actually joined to
  * their items and payments, with watermarks bounding join state.
  *
  * 100 TB notes: both sides shuffle on order_id once; the time-range
  * predicate lets Spark evict state as watermarks advance — without it
  * (the reference's no-watermark world) join state grows unboundedly.
  * Skewed hot orders are handled by AQE; the join itself stays
  * exchange-co-partitioned for any downstream order_id aggregation.
  */
object StreamJoins {

  /** orders ⟕ items on order_id, item event within [order, order+1h].
    * Inputs need `event_timestamp`; outputs carry both sides' values
    * for revenue attribution. Precondition: both streaming inputs
    * already carry their event-time watermark (the outer join needs
    * both to emit and evict). */
  def ordersWithItems(orders: DataFrame, items: DataFrame,
      joinWindow: String = "1 hour"): DataFrame = {
    val o = orders
      .select(col("order_id"), col("order_status"),
        col("event_timestamp").as("order_ts"))
    val i = items
      .select(col("order_id").as("item_order_id"), col("price"),
        col("freight_value"), col("event_timestamp").as("item_ts"))
    o.join(i,
      col("order_id") === col("item_order_id") &&
        col("item_ts") >= col("order_ts") &&
        col("item_ts") <= col("order_ts") + expr(s"INTERVAL $joinWindow"),
      "leftOuter")
      .drop("item_order_id")
  }

  /** Joined funnel: per sliding window, how many orders have ≥1 item
    * event vs status-derived counts — the real conversion measurement.
    * Same precondition as [[ordersWithItems]]; `cfg` gives the window. */
  def joinedFunnel(orders: DataFrame, items: DataFrame,
      cfg: WindowConfig = WindowConfig()): DataFrame = {
    val joined = ordersWithItems(orders, items)
    val perOrder = joined
      .groupBy(window(col("order_ts"), cfg.windowDuration, cfg.slideDuration),
        col("order_id"))
      .agg(
        max(col("order_status")).as("order_status"),
        sum(when(col("item_ts").isNotNull, 1).otherwise(0)).as("item_events"),
        sum(coalesce(col("price"), lit(0.0)) +
          coalesce(col("freight_value"), lit(0.0))).as("order_value"))
    perOrder
      .groupBy(col("window"))
      .agg(
        count(lit(1)).as("total_orders"),
        sum(when(col("item_events") > 0, 1).otherwise(0)).as("orders_with_real_items"),
        round(sum(col("order_value")), 2).as("joined_gmv"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("total_orders"), col("orders_with_real_items"),
        col("joined_gmv"))
  }

  /** Stream–static enrichment: every micro-batch joins against the
    * (broadcast) dimension snapshot — no state, no watermark needed;
    * the planner re-resolves the static side each batch, so slowly-
    * changing dims refresh on re-read sources. The streaming analog of
    * the batch star join (q3). */
  def enrichWithDim(stream: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame =
    stream.join(broadcast(dim), keys, "left")
}
