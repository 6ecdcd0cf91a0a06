package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StreamAsOfSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(uid: Long, typ: String, at: String, value: Double = 10.0) =
    StreamAsOf.UserEvent(uid, typ, ts(at), value)

  test("purchase picks the latest prior view within tolerance") {
    val in = MemoryStream[StreamAsOf.UserEvent](spark)
    val q = StreamAsOf.enrichedPurchases(
      in.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_mem").start()
    try {
      in.addData(
        ev(1, "view", "2024-01-01 10:00:00"),
        ev(1, "view", "2024-01-01 10:20:00"),
        ev(1, "purchase", "2024-01-01 10:30:00"),
        ev(2, "purchase", "2024-01-01 10:30:00"), // no view at all
        ev(3, "view", "2024-01-01 08:00:00"),
        ev(3, "purchase", "2024-01-01 10:30:00")) // view too old (2.5h)
      q.processAllAvailable()
      val out = spark.table("asof_mem")
        .select("user_id", "has_prior_view", "gap_seconds")
        .as[(Long, Boolean, Long)].collect().sortBy(_._1)
      assert(out.sameElements(Array(
        (1L, true, 600L), (2L, false, -1L), (3L, false, -1L))))
    } finally q.stop()
  }

  test("view state survives across micro-batches") {
    val in = MemoryStream[StreamAsOf.UserEvent](spark)
    val q = StreamAsOf.enrichedPurchases(
      in.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_mem2").start()
    try {
      in.addData(ev(7, "view", "2024-01-01 10:00:00"))
      q.processAllAvailable()
      in.addData(ev(7, "purchase", "2024-01-01 10:15:00"))
      q.processAllAvailable()
      val out = spark.table("asof_mem2")
        .select("user_id", "has_prior_view", "gap_seconds")
        .as[(Long, Boolean, Long)].collect()
      assert(out.sameElements(Array((7L, true, 900L))))
    } finally q.stop()
  }

  test("stream equals the batch native as-of on ordered testdata") {
    val dir = "/root/testdata/sf0.001"
    val events = graft.Tables.load(spark, dir, "events")
    // batch truth: the native as-of plan (purchase -> latest prior view
    // within tolerance), gap at second precision
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    val batch = graft.operators.AsOfJoin.asOfNative(
      purchases, views, "user_id", "ts", "ts",
      rightCols = Seq(), toleranceSec = Some(StreamAsOf.ToleranceSec))
      .select(col("user_id").cast("long"),
        unix_timestamp(col("ts")),
        col("asof_ts").isNotNull,
        when(col("asof_ts").isNotNull,
          (unix_timestamp(col("ts")) - unix_timestamp(col("asof_ts"))))
          .otherwise(-1L))
      .as[(Long, Long, Boolean, Long)].collect().toSet

    // stream the same events in global event-time order (per-user order
    // is what the state contract needs), split across several batches
    val ordered = events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        col("ts"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[StreamAsOf.UserEvent].collect().sortBy(_.ts.getTime)
    val in = MemoryStream[StreamAsOf.UserEvent](spark)
    val q = StreamAsOf.enrichedPurchases(
      in.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_mem3").start()
    try {
      ordered.grouped(math.max(1, ordered.length / 4)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val got = spark.table("asof_mem3")
        .select(col("user_id"), unix_timestamp(col("purchase_ts")),
          col("has_prior_view"), col("gap_seconds"))
        .as[(Long, Long, Boolean, Long)].collect().toSet
      assert(got == batch,
        s"stream-only: ${(got -- batch).take(3)}; batch-only: ${(batch -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming content dedup keeps first copy per fingerprint") {
    val in = MemoryStream[(Long, String, Timestamp)](spark)
    val docsStream = in.toDF().toDF("doc_id", "text", "ts")
    val q = StreamDedup.contentDedup(
      docsStream.withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_mem").start()
    try {
      in.addData((1L, "hello  world", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // same normalized content (whitespace/case) in a later batch
      in.addData((2L, "Hello World", ts("2024-01-01 10:01:00")),
        (3L, "different doc", ts("2024-01-01 10:01:30")))
      q.processAllAvailable()
      val got = spark.table("dedup_mem").select("doc_id")
        .as[Long].collect().sorted
      assert(got.sameElements(Array(1L, 3L)))
    } finally q.stop()
  }
}
