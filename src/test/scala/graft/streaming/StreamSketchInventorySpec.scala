package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** The incrementally-maintained daily sketch inventory serves the same
  * sliding-distinct answers as the batch sketch path, within the HLL
  * bound of the exact truth, no matter how the events were split into
  * micro-batches — and re-applying a batchId is a no-op. */
class StreamSketchInventorySpec extends SparkSpec {
  import spark.implicits._

  // 10 days × overlapping users: day d has users d*10 .. d*10+29,
  // so adjacent windows share users and dedup matters
  private val rows: Seq[(Timestamp, Long)] = for {
    d <- 0 until 10
    u <- 0 until 30
  } yield (Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
    (d * 10 + u).toLong)

  test("streamed inventory ≡ exact sliding distinct within the HLL bound") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val inv = new StreamSketchInventory.Inventory(spark)
    val q = MicroBatch.start(in.toDF().toDF("ts", "user_id")
        .writeStream.trigger(Trigger.ProcessingTime(50L))) {
      (batch, batchId) => inv.apply(batchId, batch)
    }
    try {
      // ragged micro-batches: 3 uneven slices
      in.addData(rows.take(70))
      q.processAllAvailable()
      in.addData(rows.slice(70, 180))
      q.processAllAvailable()
      in.addData(rows.drop(180))
      q.processAllAvailable()
    } finally q.stop()

    assert(inv.size === 10)
    val got = inv.slidingEstimates(7)
      .select(col("day").cast("string"), col("window_days"), col("approx_users"))
      .as[(String, Long, Long)].collect().toMap2
    val exact = rows.toDF("ts", "user_id")
      .select(to_date(col("ts")).as("eday"), col("user_id"))
      .join(
        rows.toDF("ts", "user_id").select(to_date(col("ts")).as("day")).distinct(),
        datediff(col("day"), col("eday")).between(0, 6))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("day").cast("string"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(got.keySet === exact.keySet)
    got.foreach { case (day, (wd, est)) =>
      assert(wd === math.min(day.takeRight(2).toInt, 7))
      val ex = exact(day)
      assert(math.abs(est - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"day=$day est=$est exact=$ex")
    }
  }

  test("re-applying a batchId is a no-op; fresh batchIds merge") {
    val inv = new StreamSketchInventory.Inventory(spark)
    val b0 = rows.take(30).toDF("ts", "user_id")
    inv.apply(0L, b0)
    val after0 = inv.rows.map { case (d, sk) => (d, sk.toSeq) }
    inv.apply(0L, rows.slice(30, 60).toDF("ts", "user_id")) // replayed id
    assert(inv.rows.map { case (d, sk) => (d, sk.toSeq) } === after0)
    inv.apply(1L, rows.slice(30, 60).toDF("ts", "user_id"))
    assert(inv.size === 2)
  }

  private implicit class Map2[A, B, C](xs: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = xs.map { case (a, b, c) => (a, (b, c)) }.toMap
  }
}
