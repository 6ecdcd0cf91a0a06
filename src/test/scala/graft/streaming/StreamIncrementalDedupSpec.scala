package graft.streaming

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.SparkSpec
import graft.operators.{Pin, TextDedup}

/** Streamed batch-vs-corpus verdicts equal the batch operator's on
  * the same documents, across micro-batch boundaries, and each
  * micro-batch dedups against the STATIC corpus only, whose index is
  * built once; the runner releases every pin the operator makes for a
  * micro-batch. */
class StreamIncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpusRows = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "one two three four five six seven eight nine ten"))

  private val batchRows = Seq(
    (101L, "alpha  beta gamma delta epsilon zeta eta theta"), // exact copy of 1
    (102L, "one two three four five six seven eight nine inserted ten"), // near copy of 2
    (103L, "completely different content with no overlap at all whatsoever"),
    (104L, "one two three four five six seven eight nine ten extra"))

  /** Streams each micro-batch's verdicts against `index` into
    * `collected`. */
  private def start(docs: DataFrame, index: TextDedup.CorpusIndex)(
      collected: mutable.Buffer[(Long, String, Long)]): StreamingQuery =
    MicroBatch.start(docs.writeStream.trigger(Trigger.ProcessingTime(50L))) {
      (batch, _) => collected ++= TextDedup.incrementalDedup(
        batch, index, threshold = 0.4)
        .as[(Long, String, Long)].collect()
    }

  test("streamed verdicts ≡ batch verdicts across micro-batch boundaries") {
    val persistedAtStart = spark.sparkContext.getPersistentRDDs.keySet
    val collected = mutable.ArrayBuffer.empty[(Long, String, Long)]
    val batchVerdicts = Pin.scope {
      // the corpus side is built once, in the caller's scope
      val index = TextDedup.corpusIndex(corpusRows.toDF("doc_id", "text"),
        n = 3, maxBucket = 1000)
      val in = MemoryStream[(Long, String)](spark)
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val q = start(in.toDF().toDF("doc_id", "text"), index)(collected)
      try {
        in.addData(batchRows.take(2))
        q.processAllAvailable()
        in.addData(batchRows.drop(2))
        q.processAllAvailable()
      } finally q.stop()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty,
        s"micro-batch pins outlived their batch: ${leaked.toSeq.sorted}")
      TextDedup.incrementalDedup(batchRows.toDF("doc_id", "text"), index,
        threshold = 0.4).as[(Long, String, Long)].collect().toSet
    }
    val kept = spark.sparkContext.getPersistentRDDs.keySet -- persistedAtStart
    assert(kept.isEmpty, s"corpus index outlived its scope: ${kept.toSeq.sorted}")

    assert(collected.toSet == batchVerdicts && collected.size == 4)
    val byId = collected.map(r => r._1 -> r._2).toMap
    assert(byId(101L) == "dup_exact" && byId(102L) == "dup_near" &&
      byId(103L) == "new" && byId(104L) == "dup_near")
  }

  test("micro-batches dedup against the static corpus, not each other") {
    val corpus = Seq((1L, "p q r s t u v w")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)](spark)
    val collected = mutable.ArrayBuffer.empty[(Long, String, Long)]
    Pin.scope {
      val q = start(in.toDF().toDF("doc_id", "text"),
        TextDedup.corpusIndex(corpus, n = 3, maxBucket = 1000))(collected)
      try {
        // identical novel doc in two different micro-batches: both must
        // report 'new' vs the corpus — intra-stream dedup is
        // StreamDedup's job, composable upstream
        in.addData(Seq((10L, "x y z a b c d e")))
        q.processAllAvailable()
        in.addData(Seq((11L, "x y z a b c d e")))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(collected.map(r => (r._1, r._2)).toSet ==
      Set((10L, "new"), (11L, "new")))
  }
}
