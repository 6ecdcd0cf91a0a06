package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Every operator on [[KeyedState]]'s event-time lifecycle keeps its
  * state bounded from the first micro-batch on: a key seen only in
  * batch 0 (watermark 0) is evicted like any other. */
class KeyedStateSpec extends SparkSpec {
  import spark.implicits._

  /** Operator name → the query over (key, ts) events, each shaped into
    * that operator's input and watermarked by the caller. */
  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "OrderLifecycle" -> { in =>
      OrderLifecycle.transitions(in.select(
        col("key").cast("string").as("order_id"),
        lit("created").as("order_status"),
        col("ts").as("event_timestamp"))
        .withWatermark("event_timestamp", "10 minutes")).toDF()
    },
    "StreamAsOf" -> { in =>
      StreamAsOf.enrichedPurchases(in.select(col("key").as("user_id"),
        lit("view").as("event_type"), col("ts"), lit(0.0).as("value"))
        .withWatermark("ts", "10 minutes")).toDF()
    },
    "StreamMarkov" -> { in =>
      StreamMarkov.transitions(in.select(col("key").as("user_id"),
        lit("view").as("event_type"), col("ts"), col("key").as("event_id"))
        .withWatermark("ts", "10 minutes"), idleMs = 3600 * 1000L).toDF()
    })

  operators.foreach { case (name, query) =>
    test(s"$name evicts a key seen only in the first micro-batch") {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def at(ms: Long) = new Timestamp(t0 + ms)
      val in = MemoryStream[(Long, Timestamp)](spark)
      val q = query(in.toDF().toDF("key", "ts")).writeStream
        .outputMode("append").format("noop").start()
      try {
        // key 0 only in batch 0, key 1 a second later in batch 1, then
        // one new key per batch, 10 h of event time apart
        val batches = Seq(Seq((0L, at(0))), Seq((1L, at(1000)))) ++
          (1 to 4).map(i => Seq((i + 1L, at(i * 36000L * 1000))))
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
        val rows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(rows == 1, s"$name holds $rows state rows, want only the newest key")
      } finally q.stop()
    }
  }
}
