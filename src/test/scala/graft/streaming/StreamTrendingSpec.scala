package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming trending terms: incremental counts equal the batch
  * aggregation; per-window top-k ranks the snapshot identically. */
class StreamTrendingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // two 10-minute windows; terms skewed so ranks are distinctive
  private val rows = Seq(
    (ts("2024-01-01 10:01:00"), "spark spark flink"),
    (ts("2024-01-01 10:04:00"), "spark kafka"),
    (ts("2024-01-01 10:12:00"), "flink flink kafka"))

  test("cross-batch streaming counts equal the batch aggregation; top-k matches") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val q = StreamTrending.termCounts(
      in.toDF().toDF("ts", "text").withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("trend_mem").start()
    try {
      in.addData(rows.take(2))
      q.processAllAvailable()
      in.addData(rows.drop(2))
      q.processAllAvailable()

      val streamed = spark.table("trend_mem")
        .select(col("window.start").as("ws"), col("term"), col("cnt"))
        .as[(Timestamp, String, Long)].collect().toSet
      val batch = rows.toDF("ts", "text")
        .select(col("ts"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(window(col("ts"), "10 minutes"), col("term"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("term"), col("cnt"))
        .as[(Timestamp, String, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)

      val top = StreamTrending.topK(spark.table("trend_mem"), 2)
        .select(col("window.start").cast("string"), col("rank"), col("term"))
        .as[(String, Long, String)].collect().toSet
      assert(top == Set(
        ("2024-01-01 10:00:00", 1L, "spark"), // 3 in window 1
        ("2024-01-01 10:00:00", 2L, "flink"), // 1, beats kafka on term asc
        ("2024-01-01 10:10:00", 1L, "flink"), // 2 in window 2
        ("2024-01-01 10:10:00", 2L, "kafka")))
    } finally q.stop()
  }
}
