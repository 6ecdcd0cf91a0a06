package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Schemas
import graft.sources.{EventParser, FileEventSource}

/** The shared topology must be a pure optimization: funnel/drop-off
  * derived from the fine-grain aggregate must match the direct
  * processors on the same input (exact for counts/rates; HLL estimates
  * for uniques). */
class SharedTopologySpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = {
    val root = Files.createTempDirectory("graft-shared").toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/ev", 1)
    EventParser.parse(
      spark.read.text(s"$root/ev/orders").select(
        lit("k").as("key"), $"value",
        to_timestamp(get_json_object($"value", "$.timestamp"))
          .as("event_timestamp")),
      Schemas.order).dropDuplicates("event_id").cache()
  }

  test("derived funnel matches the direct funnel processor (batch)") {
    val cfg = WindowConfig()
    val direct = Processors.funnel(orders, cfg)
      .select("window_start", "total_orders", "orders_with_items",
        "orders_with_payment", "items_conversion_rate",
        "payment_conversion_rate")
      .as[(java.sql.Timestamp, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1.getTime)
    val derived = StreamApp.deriveFunnel(
      StreamApp.fineGrainOrders(orders, cfg))
      .select("window_start", "total_orders", "orders_with_items",
        "orders_with_payment", "items_conversion_rate",
        "payment_conversion_rate")
      .as[(java.sql.Timestamp, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1.getTime)
    assert(direct.sameElements(derived))
  }

  test("derived drop-off matches the direct processor on exact columns") {
    val cfg = WindowConfig()
    val direct = Processors.dropOff(orders, cfg)
      .select("window_start", "order_status", "dropped_orders",
        "alert_triggered")
      .as[(java.sql.Timestamp, String, Long, Boolean)]
      .collect().sortBy(r => (r._1.getTime, r._2))
    val derived = StreamApp.deriveDropOff(
      StreamApp.fineGrainOrders(orders, cfg))
      .select("window_start", "order_status", "dropped_orders",
        "alert_triggered")
      .as[(java.sql.Timestamp, String, Long, Boolean)]
      .collect().sortBy(r => (r._1.getTime, r._2))
    assert(direct.sameElements(derived))
  }

  test("HLL unique estimates stay within 10% of exact distinct counts") {
    val cfg = WindowConfig()
    val est = StreamApp.fineGrainOrders(orders, cfg)
      .groupBy($"window_start")
      .agg(hll_sketch_estimate(hll_union_agg($"order_sketch")).as("u"))
      .as[(java.sql.Timestamp, Long)].collect().toMap
    val exact = orders
      .groupBy(window($"event_timestamp", "1 minute", "30 seconds"))
      .agg(countDistinct($"order_id").as("u"))
      .select($"window.start", $"u")
      .as[(java.sql.Timestamp, Long)].collect().toMap
    exact.foreach { case (w, u) =>
      val e = est(w)
      assert(math.abs(e - u) <= math.max(1, u / 10),
        s"window $w: est $e vs exact $u")
    }
  }

  /** Generated events under `root/ev`, run through the shared topology
    * into `root/metrics`; `sink` gets `root/ckpt` as checkpoint root. */
  private def runShared(root: String, sink: SinkConfig) = {
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/ev", 2)
    StreamApp.runShared(spark,
      FileEventSource(s"$root/ev/orders"),
      FileEventSource(s"$root/ev/items"),
      FileEventSource(s"$root/ev/payments"),
      s"$root/metrics",
      sink = sink.copy(checkpointRoot = s"$root/ckpt"))
  }

  test("e2e shared topology writes all three sinks from two sources") {
    val root = Files.createTempDirectory("graft-shared-e2e").toString
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
    val root = Files.createTempDirectory("graft-shared-an").toString
    val queries = runShared(root, SinkConfig(availableNow = true))
    try {
      val ended = queries.map(q => q.name -> q.awaitTermination(60000))
      assert(ended.forall(_._2), s"still running after 60 s: $ended")
    } finally queries.foreach(_.stop())
  }
}
