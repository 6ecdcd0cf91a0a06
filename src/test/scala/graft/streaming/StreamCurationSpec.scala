package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.CurationPipeline

class StreamCurationSpec extends SparkSpec {
  import spark.implicits._

  private case class Doc(doc_id: Long, lang: String, text: String, ts: Timestamp)

  private def corpus(): Seq[(Long, String, String)] = {
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, "en", s"alpha $body"),
      (2L, "en", s"alpha $body"), // exact dup of 1 after scrub
      (3L, "fr", s"beta $body contact me@example.com"),
      (4L, "fr", s"beta $body contact you@example.org"), // dup of 3 AFTER scrub
      (5L, "de", "too short"), // fails the quality gate
      (6L, "zh", s"gamma $body"))
  }

  private def docStream(in: MemoryStream[(Long, String, String, Timestamp)]) =
    in.toDF().toDF("doc_id", "lang", "text", "ts")
      .withWatermark("ts", "10 minutes")

  test("streaming curation equals the batch pipeline on an ordered stream") {
    val in = MemoryStream[(Long, String, String, Timestamp)](spark)
    val q = StreamCuration.curate(docStream(in))
      .writeStream.outputMode("append")
      .format("memory").queryName("cur_mem").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      // two micro-batches, doc_id-ordered (ingestion order = id order)
      val rows = corpus().map { case (id, l, t) => (id, l, t, t0) }
      in.addData(rows.take(3))
      q.processAllAvailable()
      in.addData(rows.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("cur_mem")
        .select(col("doc_id"), col("lang"), col("split"), col("toks"))
      val batch = CurationPipeline.curate(
        corpus().toDF("doc_id", "lang", "text"))
        .select(col("doc_id"), col("lang"), col("split"), col("toks"))
      assert(streamed.count() > 0)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    } finally q.stop()
  }

  test("scrub-then-dedup: docs differing only in scrubbed PII collapse") {
    val in = MemoryStream[(Long, String, String, Timestamp)](spark)
    val q = StreamCuration.curate(docStream(in))
      .writeStream.outputMode("append")
      .format("memory").queryName("cur_mem2").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      in.addData(corpus().map { case (id, l, t) => (id, l, t, t0) })
      q.processAllAvailable()
      val ids = spark.table("cur_mem2").select("doc_id")
        .as[Long].collect().sorted.toSeq
      // 2 dups dropped (2 of 1; 4 of 3 — emails scrub to the same
      // <EMAIL> token), 5 gated out
      assert(ids == Seq(1L, 3L, 6L))
    } finally q.stop()
  }
}
