package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Schemas
import graft.operators.Pin
import graft.sources.{EventParser, EventSource}

/** End-to-end wiring of the streaming pipeline — the Scala twin of
  * stream_processor.py:141-241.
  *
  * Reference topology: 4 independent StreamingQueries, where the orders
  * stream feeds 3 of them and each query re-reads its topic (SURVEY §3.1
  * step 4). That is kept as the default for fidelity. At 100 TB, prefer
  * `runShared`: one pass per source with the downstream metric fan-out
  * inside a single foreachBatch, so each topic is read and deduped once
  * per trigger instead of three times (SURVEY §7.4 risk 5).
  */
object StreamApp {

  final case class Pipelines(
      funnel: DataFrame, gmv: DataFrame, dropOff: DataFrame, payment: DataFrame)

  /** Parse + dedup + transform: the full logical topology, no sinks.
    * Works on streaming AND batch inputs (same expressions). */
  def build(orders: DataFrame, items: DataFrame, payments: DataFrame,
      cfg: WindowConfig = WindowConfig()): Pipelines = {
    // Dedup once at ingest (D1, stream_processor.py:138-139). The
    // reference re-dedups in every processor — a no-op not replicated.
    // With a watermark set, state for old event_ids is evicted
    // (dropDuplicatesWithinWatermark); without one this is the
    // reference's unbounded-state semantics.
    def dedup(df: DataFrame): DataFrame = cfg.watermark match {
      case Some(delay) =>
        df.withWatermark("event_timestamp", delay)
          .dropDuplicatesWithinWatermark("event_id")
      case None => df.dropDuplicates("event_id")
    }
    val o = dedup(orders)
    val i = dedup(items)
    val p = dedup(payments)
    Pipelines(
      funnel = Processors.funnel(o, cfg),
      gmv = Processors.gmv(i, cfg),
      dropOff = Processors.dropOff(o, cfg),
      payment = Processors.payment(p, cfg))
  }

  /** Load + parse the three event streams from sources. */
  def ingest(spark: SparkSession,
      ordersSrc: EventSource, itemsSrc: EventSource, paymentsSrc: EventSource):
      (DataFrame, DataFrame, DataFrame) = (
    EventParser.parse(ordersSrc.load(spark), Schemas.order),
    EventParser.parse(itemsSrc.load(spark), Schemas.item),
    EventParser.parse(paymentsSrc.load(spark), Schemas.payment))

  /** Fine-grain orders aggregate for the shared topology: ONE stateful
    * pass at (window × order_status) grain carrying mergeable HLL
    * sketches (Spark 4 datasketches) instead of scalar approx-distincts
    * — so both the drop-off table (same grain) and the funnel (coarser
    * grain) derive from it without re-reading or re-aggregating the
    * stream. At 100 TB this halves source reads and dedup state for
    * the orders topic (SURVEY §7.4 risk 5). */
  def fineGrainOrders(orders: DataFrame, cfg: WindowConfig): DataFrame =
    cfg.applyWatermark(orders)
      .withColumn("is_dropoff",
        col("order_status").isin("canceled", "unavailable", "created"))
      .groupBy(cfg.windowCol, col("order_status"))
      .agg(
        count(lit(1)).as("status_count"),
        hll_sketch_agg(col("order_id")).as("order_sketch"),
        hll_sketch_agg(col("customer_id")).as("customer_sketch"),
        first(col("is_dropoff")).as("is_dropoff_status"),
        slice(sort_array(collect_list(col("order_id"))), 1, 3)
          .as("sample_order_ids"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("order_status"), col("status_count"),
        col("order_sketch"), col("customer_sketch"),
        col("is_dropoff_status"), col("sample_order_ids"))

  /** Funnel rows derived from finalized fine-grain rows (batch re-agg
    * inside foreachBatch; HLL union preserves distinct estimation
    * across statuses). */
  def deriveFunnel(fine: DataFrame): DataFrame = {
    def cnt(cond: org.apache.spark.sql.Column) =
      sum(when(cond, col("status_count")).otherwise(0L))
    def rate(n: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
      when(d > 0, round(n.cast("double") / d.cast("double") * 100, 2)).otherwise(0.0)
    fine.groupBy(col("window_start"), col("window_end"))
      .agg(
        sum(col("status_count")).as("total_orders"),
        hll_sketch_estimate(hll_union_agg(col("order_sketch")))
          .as("unique_orders"),
        cnt(col("order_status") =!= "canceled").as("orders_with_items"),
        cnt(col("order_status").isin("delivered", "shipped", "invoiced",
          "processing")).as("orders_with_payment"),
        cnt(col("order_status") === "canceled").as("canceled_orders"),
        cnt(col("order_status").isin("created", "approved", "unavailable"))
          .as("pending_orders"))
      .select(
        col("window_start"), col("window_end"), col("total_orders"),
        col("orders_with_items"), col("orders_with_payment"),
        rate(col("orders_with_items"), col("total_orders"))
          .as("items_conversion_rate"),
        rate(col("orders_with_payment"), col("orders_with_items"))
          .as("payment_conversion_rate"),
        col("canceled_orders").as("dropped_after_order"),
        col("pending_orders").as("dropped_after_items"),
        current_timestamp().as("processed_at"))
  }

  /** Drop-off rows derived 1:1 from fine-grain rows. */
  def deriveDropOff(fine: DataFrame, alertThreshold: Int = 5): DataFrame =
    fine.select(
      col("window_start"), col("window_end"), col("order_status"),
      when(col("is_dropoff_status"), col("status_count")).otherwise(lit(0L))
        .as("dropped_orders"),
      hll_sketch_estimate(col("customer_sketch"))
        .as("unique_customers_affected"),
      col("status_count").cast("double").as("drop_rate"),
      (col("is_dropoff_status") && col("status_count") > alertThreshold)
        .as("alert_triggered"),
      col("sample_order_ids"),
      current_timestamp().as("detected_at"))

  /** Shared topology (100 TB mode): 3 queries instead of 4 — the orders
    * topic is read, parsed, and deduped ONCE; funnel + drop-off both
    * derive from its fine-grain aggregate inside one foreachBatch.
    * Requires a watermark (append mode: rows arrive finalized). */
  def runShared(spark: SparkSession,
      ordersSrc: EventSource, itemsSrc: EventSource, paymentsSrc: EventSource,
      outRoot: String,
      cfg: WindowConfig = WindowConfig(watermark = Some("10 minutes")),
      sink: SinkConfig = SinkConfig(),
      // sink writer per table path — swap in idempotentParquetWriter
      // to batch-id-tag the update-mode tables (StreamDemo --compare
      // reads finals as max-batch_id rows); funnel + drop-off are
      // append-mode here (finalized rows, one per key) so they write
      // direct parquet regardless
      writer: String => (DataFrame, Long) => Unit =
        MetricsSink.parquetWriter): Seq[StreamingQuery] = {
    require(cfg.watermark.isDefined, "shared topology needs a watermark")
    val (o, i, p) = ingest(spark, ordersSrc, itemsSrc, paymentsSrc)
    def dedup(df: DataFrame): DataFrame =
      df.withWatermark("event_timestamp", cfg.watermark.get)
        .dropDuplicatesWithinWatermark("event_id")
    val fine = fineGrainOrders(dedup(o), cfg)
    val ordersQuery = fine.writeStream
      .outputMode("append")
      .queryName("sink_orders_shared")
      .trigger(MetricsSink.trigger(sink))
      .option("checkpointLocation", s"${sink.checkpointRoot}/orders_shared")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Pin.scope {
          val pinned = Pin(batch, Pin.Wide)
          if (!pinned.isEmpty) {
            deriveDropOff(pinned).drop("sample_order_ids")
              .write.mode("append").parquet(s"$outRoot/drop_off_analysis")
            deriveFunnel(pinned)
              .write.mode("append").parquet(s"$outRoot/real_time_funnel")
          }
        }
      }
      .start()
    val pipes = Seq(
      MetricsSink.start(Processors.gmv(dedup(i), cfg), "gmv_metrics", sink)(
        writer(s"$outRoot/gmv_metrics")),
      MetricsSink.start(Processors.payment(dedup(p), cfg), "payment_metrics", sink)(
        writer(s"$outRoot/payment_metrics")))
    ordersQuery +: pipes
  }

  /** First-class mode switch: `shared = true` runs the 3-query shared
    * topology (one orders read/dedup, funnel + drop-off derived from
    * the fine-grain aggregate — it beats the 4-query reference
    * topology at both measured scales and halves source reads and
    * dedup state); `shared = false` keeps the reference's 4
    * independent queries as the fidelity default.
    * SharedTopologyEquivalenceSpec pins the streamed outputs of the
    * two modes against each other. */
  def run(spark: SparkSession,
      ordersSrc: EventSource, itemsSrc: EventSource, paymentsSrc: EventSource,
      outRoot: String, cfg: WindowConfig, sink: SinkConfig,
      shared: Boolean): Seq[StreamingQuery] =
    run(spark, ordersSrc, itemsSrc, paymentsSrc, outRoot, cfg, sink, shared,
      MetricsSink.parquetWriter)

  /** As above with an explicit sink writer (only one overload may
    * carry default arguments, so this variant takes it positionally —
    * the compare demo passes idempotentParquetWriter here). */
  def run(spark: SparkSession,
      ordersSrc: EventSource, itemsSrc: EventSource, paymentsSrc: EventSource,
      outRoot: String, cfg: WindowConfig, sink: SinkConfig,
      shared: Boolean,
      writer: String => (DataFrame, Long) => Unit): Seq[StreamingQuery] =
    if (shared) {
      // No silent watermark injection: shared mode REQUIRES one
      // (append-mode finalization) and runShared's require says so
      // loudly — a default here would mask the caller's mistake while
      // shared = false ran unwatermarked, silently computing over a
      // different config.
      runShared(spark, ordersSrc, itemsSrc, paymentsSrc, outRoot, cfg, sink,
        writer)
    } else run(spark, ordersSrc, itemsSrc, paymentsSrc, outRoot, cfg, sink,
      writer)

  /** Reference topology: 4 independent queries, parquet sinks. */
  def run(spark: SparkSession,
      ordersSrc: EventSource, itemsSrc: EventSource, paymentsSrc: EventSource,
      outRoot: String,
      cfg: WindowConfig = WindowConfig(),
      sink: SinkConfig = SinkConfig(),
      writer: String => (DataFrame, Long) => Unit =
        MetricsSink.parquetWriter): Seq[StreamingQuery] = {
    val (o, i, p) = ingest(spark, ordersSrc, itemsSrc, paymentsSrc)
    val pipes = build(o, i, p, cfg)
    Seq(
      MetricsSink.start(pipes.funnel, "real_time_funnel", sink)(
        writer(s"$outRoot/real_time_funnel")),
      MetricsSink.start(pipes.gmv, "gmv_metrics", sink)(
        writer(s"$outRoot/gmv_metrics")),
      MetricsSink.start(pipes.dropOff, "drop_off_analysis", sink)(
        writer(s"$outRoot/drop_off_analysis")),
      MetricsSink.start(pipes.payment, "payment_metrics", sink)(
        writer(s"$outRoot/payment_metrics")))
  }
}
