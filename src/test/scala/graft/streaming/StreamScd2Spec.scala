package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Merge

/** Streaming SCD2 equals the batch history: the streamed closed rows
  * are exactly the batch rows with a non-null effective_to, across
  * micro-batch boundaries and consecutive-duplicate changes. */
class StreamScd2Spec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(1704100000000L + m * 60000L)

  // key 1: x → x (repeat) → y → x; key 2: a only (never closes)
  private val log = Seq(
    (1L, "x", ts(0), 1L), (1L, "x", ts(1), 2L), (1L, "y", ts(2), 3L),
    (1L, "x", ts(3), 4L),
    (2L, "a", ts(1), 5L))

  test("streamed closed versions equal the batch history across batches") {
    val in = MemoryStream[(Long, String, Timestamp, Long)](spark)
    val q = StreamScd2.closedVersions(
      in.toDF().toDF("key", "state", "ts", "tie")
        .withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_mem").start()
    try {
      // split mid-history: the x→y close happens across the boundary
      in.addData(log.take(2))
      q.processAllAvailable()
      in.addData(log.drop(2))
      q.processAllAvailable()

      val streamed = spark.table("scd2_mem")
        .select(col("key"), col("version"), col("state"),
          col("effective_from"), col("effective_to"))
        .as[(Long, Long, String, Timestamp, Timestamp)].collect().toSet

      val batch = Merge.scd2(log.toDF("key", "state", "ts", "tie"),
        "key", "state", "ts", "tie")
        .filter(col("effective_to").isNotNull)
        .as[(Long, Long, String, Timestamp, Timestamp)].collect().toSet

      assert(streamed == batch && streamed.nonEmpty)
      // exactly the two closed versions of key 1
      assert(streamed.map(r => (r._1, r._2, r._3)) ==
        Set((1L, 1L, "x"), (1L, 2L, "y")))
    } finally q.stop()
  }

  test("consecutive duplicates emit nothing and do not bump versions") {
    val in = MemoryStream[(Long, String, Timestamp, Long)](spark)
    val q = StreamScd2.closedVersions(
      in.toDF().toDF("key", "state", "ts", "tie")
        .withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_mem2").start()
    try {
      in.addData(Seq((7L, "s", ts(0), 1L)))
      q.processAllAvailable()
      in.addData(Seq((7L, "s", ts(1), 2L), (7L, "s", ts(2), 3L)))
      q.processAllAvailable()
      assert(spark.table("scd2_mem2").isEmpty) // still one open version
      in.addData(Seq((7L, "t", ts(3), 4L)))
      q.processAllAvailable()
      val rows = spark.table("scd2_mem2")
        .select("key", "version", "state")
        .as[(Long, Long, String)].collect().toSeq
      assert(rows == Seq((7L, 1L, "s"))) // closed at the FIRST 's' ts
      val from = spark.table("scd2_mem2").select("effective_from")
        .as[Timestamp].head()
      assert(from == ts(0))
    } finally q.stop()
  }

  test("cross-batch straggler older than the open version is ignored, never inverts history") {
    val in = MemoryStream[(Long, String, Timestamp, Long)](spark)
    val q = StreamScd2.closedVersions(
      in.toDF().toDF("key", "state", "ts", "tie")
        .withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_mem3").start()
    try {
      // batch 1 opens version (s, ts(5))
      in.addData(Seq((9L, "s", ts(5), 1L)))
      q.processAllAvailable()
      // batch 2 delivers a within-watermark straggler with ts(2) < ts(5):
      // applying it would emit effective_to = ts(2) < effective_from =
      // ts(5) (an inverted interval) and rewind the open version
      in.addData(Seq((9L, "r", ts(2), 2L)))
      q.processAllAvailable()
      assert(spark.table("scd2_mem3").isEmpty) // straggler dropped
      // the open version is still (s, ts(5)): a later real change
      // closes 's' FROM ts(5), and version numbering never moved
      in.addData(Seq((9L, "t", ts(8), 3L)))
      q.processAllAvailable()
      val rows = spark.table("scd2_mem3")
        .select("key", "version", "state", "effective_from", "effective_to")
        .as[(Long, Long, String, Timestamp, Timestamp)].collect().toSeq
      assert(rows == Seq((9L, 1L, "s", ts(5), ts(8))))
    } finally q.stop()
  }
}
