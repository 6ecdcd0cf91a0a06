package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.{ItemEvent, OrderEvent}

class StreamJoinsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def order(id: String, orderId: String, status: String, at: String) =
    (OrderEvent(id, "order_created", at, orderId, Some("c1"), Some(status),
      None, None, Some(at)), ts(at))

  private def item(id: String, orderId: String, price: Double, at: String) =
    (ItemEvent(id, "item_added", at, orderId, Some(1), Some("p1"), Some("s1"),
      Some(price), Some(1.0), Some(at)), ts(at))

  test("stream-stream join matches items to orders within the window") {
    val oIn = MemoryStream[(OrderEvent, Timestamp)](spark)
    val iIn = MemoryStream[(ItemEvent, Timestamp)](spark)
    val orders = oIn.toDF().select($"_1.*", $"_2".as("event_timestamp"))
      .withWatermark("event_timestamp", "10 minutes")
    val items = iIn.toDF().select($"_1.*", $"_2".as("event_timestamp"))
      .withWatermark("event_timestamp", "10 minutes")
    val joined = StreamJoins.ordersWithItems(orders, items)
      .filter(col("item_ts").isNotNull)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_mem").start()
    try {
      oIn.addData(order("o1e", "o1", "created", "2024-01-01 10:00:00"))
      iIn.addData(item("i1e", "o1", 25.0, "2024-01-01 10:00:30"))
      // item for an unknown order — must not match
      iIn.addData(item("ixe", "zzz", 99.0, "2024-01-01 10:00:40"))
      q.processAllAvailable()
      val out = spark.table("ssjoin_mem")
        .select("order_id", "price").as[(String, Double)].collect()
      assert(out.sameElements(Array(("o1", 25.0))))
    } finally q.stop()
  }

  test("joined funnel (batch semantics): real item attribution vs status") {
    val orders = Seq(
      order("o1e", "o1", "delivered", "2024-01-01 10:00:00"),
      order("o2e", "o2", "delivered", "2024-01-01 10:00:10"))
      .toDF("e", "event_timestamp").select($"e.*", $"event_timestamp")
    val items = Seq(
      item("i1e", "o1", 10.0, "2024-01-01 10:00:30"),
      item("i2e", "o1", 20.0, "2024-01-01 10:00:40"))
      .toDF("e", "event_timestamp").select($"e.*", $"event_timestamp")
    // o2 claims "delivered" but has no item events — the status-derived
    // funnel would count it as converted; the joined funnel doesn't.
    val out = StreamJoins.joinedFunnel(orders, items)
      .filter(col("window_start") === lit(ts("2024-01-01 10:00:00")))
      .collect().head
    assert(out.getAs[Long]("total_orders") == 2)
    assert(out.getAs[Long]("orders_with_real_items") == 1)
    assert(out.getAs[Double]("joined_gmv") == 32.0) // 10+1 + 20+1
  }
}
