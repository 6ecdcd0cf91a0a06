package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Schemas
import graft.sources.{EventParser, EventSource}

/** End-to-end wiring of the streaming pipeline — the Scala twin of
  * stream_processor.py:141-241.
  *
  * Reference topology: 4 independent StreamingQueries, where the orders
  * stream feeds 3 of them and each query re-reads its topic (SURVEY §3.1
  * step 4). That is kept as the default for fidelity. At 100 TB, prefer
  * `run(shared = true)`: one pass per source with the downstream metric
  * fan-out inside a single sink micro-batch, so each topic is read and
  * deduped once per trigger instead of three times (SURVEY §7.4 risk 5).
  */
object StreamApp {

  final case class Pipelines(
      funnel: DataFrame, gmv: DataFrame, dropOff: DataFrame, payment: DataFrame)

  /** Dedup once at ingest (D1, stream_processor.py:138-139). The
    * reference re-dedups in every processor — a no-op not replicated.
    * With a watermark set, state for old event_ids is evicted
    * (dropDuplicatesWithinWatermark); without one this is the
    * reference's unbounded-state semantics. The one place that applies
    * `cfg.watermark`: every metric transform reads its output. */
  private[streaming] def dedup(df: DataFrame, cfg: WindowConfig): DataFrame =
    cfg.watermark match {
      case Some(delay) =>
        df.withWatermark("event_timestamp", delay)
          .dropDuplicatesWithinWatermark("event_id")
      case None => df.dropDuplicates("event_id")
    }

  /** Parse + dedup + transform: the full logical topology, no sinks.
    * Works on streaming AND batch inputs (same expressions). */
  def build(orders: DataFrame, items: DataFrame, payments: DataFrame,
      cfg: WindowConfig = WindowConfig()): Pipelines = {
    val o = dedup(orders, cfg)
    val i = dedup(items, cfg)
    val p = dedup(payments, cfg)
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
    * pass at (window × order_status) grain carrying a mergeable HLL
    * sketch of customers (Spark 4 datasketches) instead of a scalar
    * approx-distinct — so both the drop-off table (same grain) and the
    * funnel (coarser grain) derive from it without re-reading or
    * re-aggregating the stream. At 100 TB this halves source reads and
    * dedup state for the orders topic (SURVEY §7.4 risk 5). A streaming
    * `orders` must already carry its watermark (see [[Processors]]). */
  def fineGrainOrders(orders: DataFrame, cfg: WindowConfig): DataFrame =
    orders
      .withColumn("is_dropoff", Processors.isDropOff)
      .groupBy(cfg.windowCol, col("order_status"))
      .agg(
        count(lit(1)).as("status_count"),
        hll_sketch_agg(col("customer_id")).as("customer_sketch"),
        first(col("is_dropoff")).as("is_dropoff_status"),
        slice(sort_array(collect_list(col("order_id"))), 1, 3)
          .as("sample_order_ids"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("order_status"), col("status_count"), col("customer_sketch"),
        col("is_dropoff_status"), col("sample_order_ids"))

  /** Funnel rows derived from finalized fine-grain rows (batch re-agg
    * inside the sink's micro-batch). */
  def deriveFunnel(fine: DataFrame): DataFrame =
    fine.groupBy(col("window_start"), col("window_end"))
      .agg(sum(col("status_count")).as("total_orders"),
        Processors.stageCounts(col("status_count")): _*)
      .select(Processors.funnelRow(col("window_start"), col("window_end")): _*)

  /** Drop-off rows derived 1:1 from fine-grain rows. */
  def deriveDropOff(fine: DataFrame): DataFrame =
    fine.select(Processors.dropOffRow(col("window_start"), col("window_end"),
      hll_sketch_estimate(col("customer_sketch")).as("unique_customers_affected")): _*)

  /** Shared topology (100 TB mode): 3 queries instead of 4 — the orders
    * topic is read, parsed, and deduped ONCE; funnel + drop-off both
    * derive from its fine-grain aggregate inside one sink micro-batch.
    * Requires a watermark (append mode: rows arrive finalized). */
  private def runShared(spark: SparkSession,
      ordersSrc: EventSource, itemsSrc: EventSource, paymentsSrc: EventSource,
      outRoot: String, cfg: WindowConfig, sink: SinkConfig,
      writer: String => (DataFrame, Long) => Unit): Seq[StreamingQuery] = {
    require(cfg.watermark.isDefined, "shared topology needs a watermark")
    val (o, i, p) = ingest(spark, ordersSrc, itemsSrc, paymentsSrc)
    val fine = fineGrainOrders(dedup(o, cfg), cfg)
    Seq(
      MetricsSink.start(fine, "orders_shared", sink, "append") { (batch, batchId) =>
        writer(s"$outRoot/drop_off_analysis")(
          deriveDropOff(batch).drop("sample_order_ids"), batchId)
        writer(s"$outRoot/real_time_funnel")(deriveFunnel(batch), batchId)
      },
      MetricsSink.start(Processors.gmv(dedup(i, cfg), cfg), "gmv_metrics", sink)(
        writer(s"$outRoot/gmv_metrics")),
      MetricsSink.start(Processors.payment(dedup(p, cfg), cfg), "payment_metrics", sink)(
        writer(s"$outRoot/payment_metrics")))
  }

  /** First-class mode switch: `shared = false` (default) runs the
    * reference's 4 independent queries, the fidelity default;
    * `shared = true` runs the 3-query shared topology (one orders
    * read/dedup, funnel + drop-off derived from the fine-grain
    * aggregate — it beats the 4-query reference topology at both
    * measured scales and halves source reads and dedup state).
    * SharedTopologyEquivalenceSpec pins the streamed outputs of the
    * two modes against each other. `writer` builds the sink writer per
    * table path and writes every table of both modes. */
  def run(spark: SparkSession,
      ordersSrc: EventSource, itemsSrc: EventSource, paymentsSrc: EventSource,
      outRoot: String,
      cfg: WindowConfig = WindowConfig(),
      sink: SinkConfig = SinkConfig(),
      shared: Boolean = false,
      writer: String => (DataFrame, Long) => Unit =
        MetricsSink.idempotentParquetWriter): Seq[StreamingQuery] =
    if (shared) {
      // No silent watermark injection: shared mode REQUIRES one
      // (append-mode finalization) and runShared's require says so
      // loudly — a default here would mask the caller's mistake while
      // shared = false ran unwatermarked, silently computing over a
      // different config.
      runShared(spark, ordersSrc, itemsSrc, paymentsSrc, outRoot, cfg, sink,
        writer)
    } else {
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
