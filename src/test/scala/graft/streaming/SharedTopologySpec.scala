package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Schemas
import graft.sources.{EventParser, FileEventSource}

/** The shared topology must be a pure optimization: the funnel and
  * drop-off it derives from the one (window × order_status) aggregate
  * must match the direct processors on the same input, exactly. */
class SharedTopologySpec extends SparkSpec {
  import spark.implicits._

  /** The order events under `dir`, parsed and deduped in batch. */
  private def parsedOrders(dir: String): DataFrame =
    EventParser.parse(
      spark.read.text(dir).select(
        lit("k").as("key"), $"value",
        to_timestamp(get_json_object($"value", "$.timestamp"))
          .as("event_timestamp")),
      Schemas.order).dropDuplicates("event_id")

  private lazy val orders = {
    val root = Files.createTempDirectory("graft-shared").toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/ev", 1)
    parsedOrders(s"$root/ev/orders").cache()
  }

  test("derived funnel matches the direct funnel processor (batch)") {
    val cfg = WindowConfig()
    val direct = Processors.funnel(orders, cfg)
      .select("window_start", "total_orders", "orders_with_items",
        "orders_with_payment", "items_conversion_rate",
        "payment_conversion_rate")
      .as[(java.sql.Timestamp, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1.getTime)
    val derived = StreamApp.deriveFunnel(Processors.statusCounts(orders, cfg))
      .select("window_start", "total_orders", "orders_with_items",
        "orders_with_payment", "items_conversion_rate",
        "payment_conversion_rate")
      .as[(java.sql.Timestamp, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1.getTime)
    assert(direct.sameElements(derived))
  }

  test("derived drop-off matches the direct processor on exact columns") {
    val events = generated("graft-shared-drop")
    // six null-status orders in one window: more than the alert
    // threshold, but a null status is no drop-off in either topology;
    // the seventh, an hour later, moves the watermark past their windows
    val nulls = Files.createTempDirectory("graft-shared-null").toString
    Seq("orders", "items", "payments")
      .foreach(t => Files.createDirectories(Paths.get(s"$nulls/ev/$t")))
    Files.write(Paths.get(s"$nulls/ev/orders/part-0"), (1 to 7).map { i =>
      val (status, at) = if (i < 7) ("null", "10:00:05") else ("\"created\"", "11:00:00")
      s"""{"event_id":"n$i","event_type":"order_created","order_id":"o$i",""" +
        s""""customer_id":"c$i","order_status":$status,"timestamp":"2024-01-01T$at"}"""
    }.mkString("", "\n", "\n").getBytes)

    Seq(events, nulls).foreach { root =>
      val queries = runShared(root, SinkConfig(triggerInterval = "1 seconds"))
      try queries.foreach(_.processAllAvailable())
      finally queries.foreach(_.stop())
      // every column but the emission time, unique_customers_affected
      // and sample_order_ids too
      val streamed = spark.read.parquet(s"$root/metrics/drop_off_analysis")
        .drop("batch_id", "detected_at").collect()
      val direct = Processors.dropOff(parsedOrders(s"$root/ev/orders"), WindowConfig())
        .drop("detected_at").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), Option(r.getString(2))) -> r).toMap
      assert(streamed.nonEmpty, root)
      streamed.foreach { r =>
        val key = (r.getTimestamp(0), r.getTimestamp(1), Option(r.getString(2)))
        assert(direct.get(key).contains(r), s"streamed $r vs direct ${direct.get(key)}")
      }
      if (root == nulls) assert(streamed.exists(_.isNullAt(2)))
    }
  }

  /** A new directory named after `prefix` with generated events under
    * `ev`. */
  private def generated(prefix: String): String = {
    val root = Files.createTempDirectory(prefix).toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/ev", 2)
    root
  }

  /** The events under `root/ev`, run through the shared topology into
    * `root/metrics`; `sink` gets `root/ckpt` as checkpoint root. */
  private def runShared(root: String, sink: SinkConfig) =
    StreamApp.run(spark,
      FileEventSource(s"$root/ev/orders"),
      FileEventSource(s"$root/ev/items"),
      FileEventSource(s"$root/ev/payments"),
      s"$root/metrics",
      cfg = WindowConfig(watermark = Some("10 minutes")),
      sink = sink.copy(checkpointRoot = s"$root/ckpt"),
      shared = true)

  test("e2e shared topology writes all three sinks from two sources") {
    val root = generated("graft-shared-e2e")
    val queries = runShared(root, SinkConfig(triggerInterval = "1 seconds"))
    try {
      queries.foreach(_.processAllAvailable())
      // watermark: append-mode rows materialize once the watermark
      // passes; generated data spans years so all but the tail emit
      val funnel = spark.read.parquet(s"$root/metrics/real_time_funnel")
      val dropOff = spark.read.parquet(s"$root/metrics/drop_off_analysis")
      val gmv = spark.read.parquet(s"$root/metrics/gmv_metrics")
      assert(funnel.count() > 0 && dropOff.count() > 0 && gmv.count() > 0)
      assert(funnel.filter($"orders_with_items" > $"total_orders").count() == 0)
    } finally queries.foreach(_.stop())
  }

  test("availableNow shared run: all three queries end on their own") {
    val root = generated("graft-shared-an")
    val queries = runShared(root, SinkConfig(availableNow = true))
    try {
      val ended = queries.map(q => q.name -> q.awaitTermination(60000))
      assert(ended.forall(_._2), s"still running after 60 s: $ended")
    } finally queries.foreach(_.stop())
  }
}
