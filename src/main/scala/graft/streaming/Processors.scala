package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's four metric processors (SURVEY.md §2.6–§2.8),
  * re-expressed as pure `DataFrame => DataFrame` transforms. The same
  * expressions run on a streaming frame (micro-batch, update mode) and
  * a batch frame — which is how the unit tests hand-verify windows and
  * how the DuckDB oracle checks the analytics surface.
  *
  * Config notes:
  *  - `watermark`: None replicates the reference (no watermark anywhere,
  *    stream_processor.py:135 — unbounded state); Some(d) is the
  *    idiomatic 100 TB mode: state for windows older than the watermark
  *    is evicted, and late events beyond it are dropped. It is applied
  *    once, at ingest (see [[Processors]]).
  *  - Dedup by event_id happens once at ingest (StreamApp); the
  *    reference redundantly re-dedups inside every processor
  *    (funnel_processor.py:24 etc.) — a no-op we do not replicate.
  *  - `approx_count_distinct` (HLL++, rsd 0.05) is kept — at 100 TB an
  *    exact distinct per sliding window would dominate the shuffle.
  *  - Rates: the reference emits 0.0 when the denominator is 0
  *    (funnel_processor.py:49-55, payment_processor.py:61-63); kept.
  */
final case class WindowConfig(
    windowDuration: String = "1 minute",
    slideDuration: String = "30 seconds",
    watermark: Option[String] = None) {

  def windowCol = window(col("event_timestamp"), windowDuration, slideDuration)
}

/** Precondition of every transform here and of
  * `StreamApp.fineGrainOrders`: a streaming input already carries its
  * watermark. `StreamApp`'s ingest dedup is the one place that applies
  * `WindowConfig.watermark`; these only window.
  *
  * The order-status policy (funnel stages, drop-off statuses, alert
  * threshold, rates) is defined once here; the shared topology's
  * derived funnel and drop-off use the same definitions. */
object Processors {

  /** Order statuses that count as a drop-off (dropoff_processor.py). */
  private val DropOffStatuses = Seq("canceled", "unavailable", "created")

  /** A drop-off status count above this raises `alert_triggered`. */
  private val AlertThreshold = 5

  private def rate(n: Column, d: Column) =
    when(d > 0, round(n.cast("double") / d.cast("double") * 100, 2)).otherwise(0.0)

  /** Whether a row's `order_status` is a drop-off; false, not null,
    * for a null status. */
  private[streaming] def isDropOff: Column =
    when(col("order_status").isin(DropOffStatuses: _*), true).otherwise(false)

  /** The funnel's four stage counts, each the sum of `weight` over the
    * rows whose `order_status` is in that stage: 1 per order event, or
    * a fine-grain row's `status_count`. */
  private[streaming] def stageCounts(weight: Column): Seq[Column] = {
    val status = col("order_status")
    def cnt(stage: Column) = sum(when(stage, weight).otherwise(0))
    Seq(
      cnt(status =!= "canceled").as("orders_with_items"),
      cnt(status.isin("delivered", "shipped", "invoiced", "processing"))
        .as("orders_with_payment"),
      cnt(status === "canceled").as("canceled_orders"),
      cnt(status.isin("created", "approved", "unavailable")).as("pending_orders"))
  }

  /** The funnel's output row over `total_orders` and [[stageCounts]]. */
  private[streaming] def funnelRow(start: Column, end: Column): Seq[Column] = Seq(
    start.as("window_start"),
    end.as("window_end"),
    col("total_orders"),
    col("orders_with_items"),
    col("orders_with_payment"),
    rate(col("orders_with_items"), col("total_orders")).as("items_conversion_rate"),
    rate(col("orders_with_payment"), col("orders_with_items")).as("payment_conversion_rate"),
    col("canceled_orders").as("dropped_after_order"),
    col("pending_orders").as("dropped_after_items"),
    current_timestamp().as("processed_at"))

  /** The drop-off output row over a (window, order_status) group's
    * `status_count`, `is_dropoff_status` and `sample_order_ids`;
    * `uniqueCustomers` is named `unique_customers_affected`. */
  private[streaming] def dropOffRow(start: Column, end: Column,
      uniqueCustomers: Column): Seq[Column] = Seq(
    start.as("window_start"),
    end.as("window_end"),
    col("order_status"),
    when(col("is_dropoff_status"), col("status_count")).otherwise(lit(0L))
      .as("dropped_orders"),
    uniqueCustomers,
    col("status_count").cast("double").as("drop_rate"),
    (col("is_dropoff_status") && col("status_count") > AlertThreshold)
      .as("alert_triggered"),
    col("sample_order_ids"),
    current_timestamp().as("detected_at"))

  /** Funnel conversion (funnel_processor.py:23-61). Stages are derived
    * from order_status alone — the reference's items/payments params are
    * dead (SURVEY §2.9) and therefore not part of this signature. */
  def funnel(orders: DataFrame, cfg: WindowConfig = WindowConfig()): DataFrame =
    orders
      .groupBy(cfg.windowCol)
      .agg(count(lit(1)).as("total_orders"), stageCounts(lit(1)): _*)
      .select(funnelRow(col("window.start"), col("window.end")): _*)

  /** GMV (gmv_processor.py:20-57): total_value = price + freight_value,
    * then window agg sum/count/approx-distinct/avg/max/min. */
  def gmv(items: DataFrame, cfg: WindowConfig = WindowConfig()): DataFrame =
    items
      .withColumn("total_value", col("price") + col("freight_value"))
      .groupBy(cfg.windowCol)
      .agg(
        sum(col("total_value")).as("gmv"),
        count(lit(1)).as("item_count"),
        approx_count_distinct(col("order_id")).as("unique_orders"),
        avg(col("price")).as("avg_item_price"),
        max(col("price")).as("max_item_price"),
        min(col("price")).as("min_item_price"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        round(col("gmv"), 2).as("gmv"),
        col("item_count"),
        col("unique_orders"),
        round(col("avg_item_price"), 2).as("avg_item_price"),
        round(col("max_item_price"), 2).as("max_item_price"),
        round(col("min_item_price"), 2).as("min_item_price"))

  /** Drop-off detection (dropoff_processor.py:22-77): window ×
    * order_status counts, alert when a drop-off status exceeds the
    * threshold, bounded sample of order ids.
    *
    * Deviation (documented, SURVEY §2.8): the sample list is sorted
    * before slicing so output is deterministic, and at scale the
    * bounded-sample aggregator (operators.Sampling) should replace
    * collect_list entirely — collect_list materializes every id per
    * group before slice. */
  def dropOff(orders: DataFrame, cfg: WindowConfig = WindowConfig()): DataFrame =
    orders
      .withColumn("is_dropoff", isDropOff)
      .groupBy(cfg.windowCol, col("order_status"))
      .agg(
        count(lit(1)).as("status_count"),
        approx_count_distinct(col("customer_id")).as("unique_customers_affected"),
        first(col("is_dropoff")).as("is_dropoff_status"),
        slice(sort_array(collect_list(col("order_id"))), 1, 3).as("sample_order_ids"))
      .select(dropOffRow(col("window.start"), col("window.end"),
        col("unique_customers_affected")): _*)

  /** Payment analytics (payment_processor.py:20-70): success =
    * payment_value present and > 0; per window × payment_type. */
  def payment(payments: DataFrame, cfg: WindowConfig = WindowConfig()): DataFrame =
    payments
      .withColumn("is_successful",
        when(col("payment_value").isNotNull && col("payment_value") > 0, true)
          .otherwise(false))
      .groupBy(cfg.windowCol, col("payment_type"))
      .agg(
        count(lit(1)).as("transaction_count"),
        approx_count_distinct(col("order_id")).as("unique_orders"),
        sum(coalesce(col("payment_value"), lit(0.0))).as("total_payment_value"),
        avg(coalesce(col("payment_value"), lit(0.0))).as("avg_payment_value_calc"),
        sum(when(col("is_successful"), 1).otherwise(0)).as("successful_orders"),
        sum(when(!col("is_successful"), 1).otherwise(0)).as("failed_orders"),
        avg(coalesce(col("payment_installments"), lit(1))).as("avg_installments_calc"),
        max(coalesce(col("payment_installments"), lit(1))).as("max_installments"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("payment_type"),
        col("transaction_count"),
        col("unique_orders"),
        round(col("total_payment_value"), 2).as("total_payment_value"),
        round(col("avg_payment_value_calc"), 2).as("avg_payment_value"),
        round(col("avg_installments_calc"), 2).as("avg_installments"),
        col("max_installments"),
        col("successful_orders"),
        col("failed_orders"),
        rate(col("successful_orders"), col("transaction_count")).as("success_rate"),
        current_timestamp().as("processed_at"))
}
