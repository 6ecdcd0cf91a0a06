package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.OrderEvent
import graft.sql.MetricViews

class LifecycleAndViewsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def event(id: String, orderId: String, status: String, at: String) =
    (OrderEvent(id, "order_created", at, orderId, Some("c1"), Some(status),
      None, None, Some(at)), ts(at))

  test("order lifecycle: transitions emitted across micro-batches") {
    val input = MemoryStream[(OrderEvent, Timestamp)](spark)
    val orders = input.toDF().select($"_1.*", $"_2".as("event_timestamp"))
      .withWatermark("event_timestamp", "10 minutes")
    val q = OrderLifecycle.transitions(orders).writeStream
      .outputMode("append").format("memory").queryName("lifecycle_mem").start()
    try {
      input.addData(
        event("e1", "o1", "created", "2024-01-01 10:00:00"),
        event("e2", "o1", "approved", "2024-01-01 10:00:30"))
      q.processAllAvailable()
      // second batch continues the same order — prior status comes from
      // the state store
      input.addData(event("e3", "o1", "delivered", "2024-01-01 10:05:30"))
      q.processAllAvailable()
      val out = spark.table("lifecycle_mem")
        .orderBy("transition_no")
        .select("from_status", "to_status", "gap_seconds", "transition_no")
        .as[(String, String, Long, Int)].collect()
      assert(out.sameElements(Array(
        ("created", "approved", 30L, 1),
        ("approved", "delivered", 300L, 2))))
    } finally q.stop()
  }

  test("lifecycle ignores same-status repeats") {
    val input = MemoryStream[(OrderEvent, Timestamp)](spark)
    val orders = input.toDF().select($"_1.*", $"_2".as("event_timestamp"))
      .withWatermark("event_timestamp", "10 minutes")
    val q = OrderLifecycle.transitions(orders).writeStream
      .outputMode("append").format("memory").queryName("lifecycle_rep").start()
    try {
      input.addData(
        event("e1", "o2", "created", "2024-01-01 10:00:00"),
        event("e2", "o2", "created", "2024-01-01 10:01:00"),
        event("e3", "o2", "shipped", "2024-01-01 10:02:00"))
      q.processAllAvailable()
      val out = spark.table("lifecycle_rep")
        .select("from_status", "to_status", "gap_seconds")
        .as[(String, String, Long)].collect()
      // gap counts from the refreshed (latest) same-status sighting
      assert(out.sameElements(Array(("created", "shipped", 60L))))
    } finally q.stop()
  }

  test("metric views: complete funnel joins windows, alerts filter") {
    // batch metric frames standing in for streamed output
    val funnel = Seq(
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:00"), 10L, 8L, 6L,
        80.0, 75.0, 2L, 2L, ts("2024-01-01 10:01:05")))
      .toDF("window_start", "window_end", "total_orders", "orders_with_items",
        "orders_with_payment", "items_conversion_rate",
        "payment_conversion_rate", "dropped_after_order",
        "dropped_after_items", "processed_at")
    val gmv = Seq(
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:00"), 1234.5, 20L))
      .toDF("window_start", "window_end", "gmv", "item_count")
    val dropOff = Seq(
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:00"), "canceled",
        7L, 5L, true, ts("2024-01-01 10:01:05"), Seq("o1", "o2")),
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:00"), "delivered",
        0L, 3L, false, ts("2024-01-01 10:01:05"), Seq[String]()))
      .toDF("window_start", "window_end", "order_status", "dropped_orders",
        "unique_customers_affected", "alert_triggered", "detected_at",
        "sample_order_ids")
    val payment = Seq(
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:00"), "credit_card",
        5L, 500.0, 100.0, 90.0),
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:00"), "boleto",
        2L, 80.0, 40.0, 50.0))
      .toDF("window_start", "window_end", "payment_type", "transaction_count",
        "total_payment_value", "avg_payment_value", "success_rate")

    MetricViews.register(spark, funnel, gmv, dropOff, payment)

    val complete = MetricViews.completeFunnel(spark).collect().head
    assert(complete.getAs[Double]("total_gmv") == 1234.5)
    assert(complete.getAs[Double]("total_payment") == 580.0)
    assert(complete.getAs[Double]("avg_payment_value") == 70.0)

    val alerts = MetricViews.activeAlerts(spark).collect()
    assert(alerts.length == 1 && alerts.head.getAs[String]("order_status") == "canceled")

    val perf = MetricViews.paymentPerformance(spark)
      .select("payment_type", "total_value").as[(String, Double)].collect()
    assert(perf.sameElements(Array(("credit_card", 500.0), ("boleto", 80.0))))

    val summary = MetricViews.alertSummary(spark)
      .select("order_status", "any_alert").as[(String, Boolean)].collect()
    assert(summary.sameElements(Array(("canceled", true), ("delivered", false))))
  }
}
