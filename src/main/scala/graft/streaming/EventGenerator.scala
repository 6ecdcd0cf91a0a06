package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Event generator — the Scala twin of the reference's producer
  * (src/producers/event_generator.py:87-148), re-expressed as a batch
  * job: instead of a Python driver loop sending one Kafka message at a
  * time (≈7 orders/s ceiling, BASELINE.md), the three event streams are
  * derived from the testdata tables as DataFrames and written as
  * newline-JSON files that FileEventSource replays. Distributed,
  * deterministic, and at 100 TB it is just another Spark job.
  *
  * Mapping (testdata has no Olist CSVs): orders → order events;
  * lineitem → item events (l_extendedprice as price, tax share as
  * freight); orders → payment events (o_totalprice as payment_value,
  * priority class as payment_type analog).
  */
object EventGenerator {

  private def iso(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd'T'HH:mm:ss")

  def orderEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders").select(to_json(struct(
      concat(lit("order_"), col("o_orderkey")).as("event_id"),
      lit("order_created").as("event_type"),
      iso(col("o_orderdate")).as("event_time"),
      col("o_orderkey").cast("string").as("order_id"),
      col("o_custkey").cast("string").as("customer_id"),
      when(col("o_orderstatus") === "F", "delivered")
        .when(col("o_orderstatus") === "O", "created")
        .otherwise("processing").as("order_status"),
      lit(null).cast("string").as("order_approved_at"),
      lit(null).cast("string").as("estimated_delivery_date"),
      iso(col("o_orderdate")).as("timestamp"))).as("value"))

  def itemEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem").select(to_json(struct(
      concat(lit("item_"), col("l_orderkey"), lit("_"), col("l_linenumber")).as("event_id"),
      lit("item_added").as("event_type"),
      iso(col("l_shipdate")).as("event_time"),
      col("l_orderkey").cast("string").as("order_id"),
      col("l_linenumber").as("order_item_id"),
      col("l_partkey").cast("string").as("product_id"),
      col("l_suppkey").cast("string").as("seller_id"),
      col("l_extendedprice").as("price"),
      round(col("l_extendedprice") * col("l_tax"), 2).as("freight_value"),
      iso(col("l_shipdate")).as("timestamp"))).as("value"))

  def paymentEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders").select(to_json(struct(
      concat(lit("payment_"), col("o_orderkey"), lit("_1")).as("event_id"),
      lit("payment_processed").as("event_type"),
      iso(col("o_orderdate")).as("event_time"),
      col("o_orderkey").cast("string").as("order_id"),
      lit(1).as("payment_sequential"),
      element_at(array(lit("credit_card"), lit("boleto"), lit("voucher"),
        lit("debit_card")), (col("o_orderkey") % 4 + 1).cast("int")).as("payment_type"),
      (col("o_orderkey") % 10 + 1).cast("int").as("payment_installments"),
      col("o_totalprice").as("payment_value"),
      iso(col("o_orderdate")).as("timestamp"))).as("value"))

  /** The exact producer option set of [[toKafka]], exposed as data as
    * `KafkaEventSource.readerOptions` is, so KafkaContractSpec pins it. */
  def writerOptions(topic: String, bootstrapServers: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> topic,
      "kafka.compression.type" -> "gzip",
      "kafka.acks" -> "all")

  /** Kafka producer sink (SURVEY §2.2 K4, base_producer.py:23-76):
    * key = order_id, JSON value — as a distributed Spark write, not the
    * reference's one-synchronous-send-per-message loop. Compiles with
    * no Kafka dependency; unexercisable in this environment (no
    * connector jar/broker), covered by the file twin below. */
  def toKafka(events: DataFrame, topic: String, bootstrapServers: String): Unit =
    events
      .select(get_json_object(col("value"), "$.order_id").as("key"), col("value"))
      .write
      .format("kafka")
      .options(writerOptions(topic, bootstrapServers))
      .save()

  /** Write the three streams as text files for FileEventSource replay.
    * `slices` controls files-per-stream → replay granularity
    * (micro-batches at maxFilesPerTrigger files each). */
  def writeAll(spark: SparkSession, dir: String, outRoot: String,
      slices: Int = 4): Unit = {
    orderEvents(spark, dir).repartition(slices)
      .write.mode("overwrite").text(s"$outRoot/orders")
    itemEvents(spark, dir).repartition(slices)
      .write.mode("overwrite").text(s"$outRoot/items")
    paymentEvents(spark, dir).repartition(slices)
      .write.mode("overwrite").text(s"$outRoot/payments")
  }
}
