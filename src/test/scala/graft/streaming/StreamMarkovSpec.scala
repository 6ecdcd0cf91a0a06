package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StreamMarkovSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(uid: Long, typ: String, at: String, id: Long) =
    StreamMarkov.Ev(uid, typ, ts(at), id)

  test("boundary transition spans the micro-batch cut") {
    val in = MemoryStream[StreamMarkov.Ev](spark)
    val q = StreamMarkov.transitions(
      in.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("mk_mem").start()
    try {
      in.addData(
        ev(1, "view", "2024-01-01 10:00:00", 1),
        ev(1, "cart", "2024-01-01 10:05:00", 2))
      q.processAllAvailable()
      in.addData(ev(1, "purchase", "2024-01-01 10:10:00", 3))
      q.processAllAvailable()
      val out = spark.table("mk_mem").as[StreamMarkov.Transition]
        .collect().sortBy(t => (t.a, t.b))
      // view->cart within batch 1; cart->purchase ACROSS the cut
      assert(out.toSeq == Seq(
        StreamMarkov.Transition(1, "cart", "purchase"),
        StreamMarkov.Transition(1, "view", "cart")))
    } finally q.stop()
  }

  test("intra-batch disorder is repaired by the (ts, event_id) sort") {
    val in = MemoryStream[StreamMarkov.Ev](spark)
    val q = StreamMarkov.transitions(
      in.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("mk_mem2").start()
    try {
      in.addData( // arrival order scrambled; ties broken by event_id
        ev(5, "purchase", "2024-01-01 10:10:00", 13),
        ev(5, "view", "2024-01-01 10:00:00", 11),
        ev(5, "cart", "2024-01-01 10:00:00", 12))
      q.processAllAvailable()
      val out = spark.table("mk_mem2").as[StreamMarkov.Transition]
        .collect().sortBy(t => (t.a, t.b))
      assert(out.toSeq == Seq(
        StreamMarkov.Transition(5, "cart", "purchase"),
        StreamMarkov.Transition(5, "view", "cart")))
    } finally q.stop()
  }

  test("cross-batch straggler older than the stored boundary does not " +
      "regress the state") {
    val in = MemoryStream[StreamMarkov.Ev](spark)
    val q = StreamMarkov.transitions(
      in.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("mk_mem_straggler").start()
    try {
      in.addData(
        ev(7, "view", "2024-01-01 10:00:00", 1),
        ev(7, "purchase", "2024-01-01 10:20:00", 3))
      q.processAllAvailable()
      // contract-violating straggler: OLDER than the stored boundary
      // (purchase @10:20). Its own transition mis-pairs (documented),
      // but the boundary must stay at the newest-seen event —
      in.addData(ev(7, "cart", "2024-01-01 10:10:00", 2))
      q.processAllAvailable()
      // — so a subsequent in-order event pairs against purchase, not
      // against the straggler
      in.addData(ev(7, "refund", "2024-01-01 10:30:00", 4))
      q.processAllAvailable()
      val out = spark.table("mk_mem_straggler")
        .as[StreamMarkov.Transition].collect().toSeq
      assert(out.contains(StreamMarkov.Transition(7, "purchase", "refund")),
        s"boundary regressed: $out")
      assert(!out.contains(StreamMarkov.Transition(7, "cart", "refund")),
        s"straggler became the boundary: $out")
    } finally q.stop()
  }

  test("eviction horizon is the documented divergence: a user returning " +
      "after it starts a fresh chain") {
    val in = MemoryStream[StreamMarkov.Ev](spark)
    // 1 h horizon; watermark advances past last.ts + 1 h via user 2
    val q = StreamMarkov.transitions(
        in.toDF().withWatermark("ts", "0 seconds"), idleMs = 3600 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("mk_mem_evict").start()
    try {
      in.addData(ev(1, "view", "2024-01-01 10:00:00", 1),
        ev(2, "view", "2024-01-01 10:00:00", 2))
      q.processAllAvailable()
      // wm advances to 01-02 10:00 only AFTER this batch
      in.addData(ev(2, "click", "2024-01-02 10:00:00", 3))
      q.processAllAvailable()
      // user 1 absent here, so its timed-out state is evicted (a
      // group with data in the firing batch would keep its state)
      in.addData(ev(2, "cart", "2024-01-02 10:05:00", 4))
      q.processAllAvailable()
      in.addData(ev(1, "purchase", "2024-01-02 10:30:00", 5))
      q.processAllAvailable()
      val out = spark.table("mk_mem_evict").as[StreamMarkov.Transition]
        .collect().sortBy(t => (t.user_id, t.a, t.b))
      // user 2 keeps its chain; user 1's boundary pair is NOT emitted
      assert(out.toSeq == Seq(
        StreamMarkov.Transition(2, "click", "cart"),
        StreamMarkov.Transition(2, "view", "click")))
    } finally q.stop()
  }

  test("streamed transition counts equal the batch lead window on testdata") {
    val dir = "/root/testdata/sf0.001"
    val events = graft.Tables.load(spark, dir, "events")
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        col("ts"), col("event_id").cast("long").as("event_id"))

    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val batch = events
      .withColumn("nxt", lead(col("event_type"), 1).over(byUser))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

    // replay in global (ts, event_id) order — per-user in order — in
    // three ragged micro-batches
    val all = events.orderBy(col("ts"), col("event_id"))
      .as[StreamMarkov.Ev].collect()
    val cuts = Seq(all.length / 3, 2 * all.length / 3, all.length)
    // exact parity needs an eviction horizon beyond the longest
    // user-return gap (65 h in this slice; see StreamMarkov note)
    val in = MemoryStream[StreamMarkov.Ev](spark)
    val q = StreamMarkov.transitions(
        in.toDF().withWatermark("ts", "10 minutes"),
        idleMs = 3650L * 24 * 3600 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("mk_mem3").start()
    try {
      var from = 0
      cuts.foreach { to =>
        in.addData(all.slice(from, to).toIndexedSeq)
        q.processAllAvailable()
        from = to
      }
      val streamed = spark.table("mk_mem3").as[StreamMarkov.Transition]
        .groupByKey(t => (t.a, t.b)).count().collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }
}
