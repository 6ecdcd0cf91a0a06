package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** Streaming session windows MERGE across micro-batches (an in-gap
  * event arriving in a later batch extends the open session instead
  * of opening a new one), finalize only past the watermark, and the
  * finalized rows equal the batch session_window aggregation. */
class StreamSessionSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sessions merge across micro-batches and match the batch twin") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val out = StreamSession.sessions(
      in.toDF().toDF("ts", "user_id").withWatermark("ts", "10 minutes"),
      gap = "30 minutes")
    val q = out.writeStream
      .format("memory").queryName("sess_out").outputMode("append")
      .start()
    val rows = Seq(
      // user 1: two events 20 min apart -> ONE session (second event
      // arrives in a later micro-batch: state must merge)
      (ts("2024-01-01 10:00:00"), 1L),
      (ts("2024-01-01 10:20:00"), 1L),
      // user 1: a second session 2 h later
      (ts("2024-01-01 12:30:00"), 1L),
      // user 2: single-event session
      (ts("2024-01-01 10:05:00"), 2L))
    try {
      in.addData(rows.take(1))
      q.processAllAvailable()
      in.addData(rows.slice(1, 2)) // in-gap extension, later batch
      q.processAllAvailable()
      in.addData(rows.drop(2))
      q.processAllAvailable()
      // watermark flush: a far-future event closes everything above
      in.addData(Seq((ts("2024-01-02 00:00:00"), 99L)))
      q.processAllAvailable()
      in.addData(Seq((ts("2024-01-03 00:00:00"), 99L)))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sess_out")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    val want = StreamSession.sessions(rows.toDF("ts", "user_id"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(want.subsetOf(got), s"got=$got want=$want")
    // the merged session is one 50-minute window with both events
    assert(got.contains((1L,
      ts("2024-01-01 10:00:00"), ts("2024-01-01 10:50:00"), 2L)))
    // and NOT two separate windows for user 1's first pair
    assert(!got.exists(r => r._1 == 1L &&
      r._2 == ts("2024-01-01 10:20:00")))
  }
}
