package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.operators.Winnowing

/** Streamed winnowing-probe matches equal the batch operator's on the
  * same documents across micro-batch boundaries, and a contiguous
  * shared run is caught while bag-similar-but-scrambled text is not —
  * the property that distinguishes winnowing from MinHash. */
class StreamWinnowSpec extends SparkSpec {
  import spark.implicits._

  private val corpusRows = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"))

  private val batchRows = Seq(
    // contains corpus doc 1's run "gamma delta epsilon zeta eta theta"
    (101L, "prefix words gamma delta epsilon zeta eta theta suffix tail"),
    // doc 2's TOKENS but scrambled: bag-similar, no contiguous run
    (102L, "ten one nine two eight three seven four six five"),
    (103L, "completely unrelated content with zero corpus overlap here"))

  test("streamed probe matches ≡ batch operator across micro-batch boundaries") {
    val index = Winnowing.index(corpusRows.toDF("doc_id", "text")).cache()
    val in = MemoryStream[(Long, String)](spark)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = MicroBatch.start(in.toDF().toDF("doc_id", "text")
        .writeStream.trigger(Trigger.ProcessingTime(50L))) { (batch, _) =>
      collected ++= Winnowing.probeAgainst(batch, index, k = 3, w = 4, minShared = 1)
        .as[(Long, Long, Long, Double)].collect()
    }
    try {
      in.addData(batchRows.take(1))
      q.processAllAvailable()
      in.addData(batchRows.drop(1))
      q.processAllAvailable()
    } finally q.stop()

    val batchMatches = Winnowing.probeAgainst(
      batchRows.toDF("doc_id", "text"), index, minShared = 1)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(collected.toSet == batchMatches)
    // the contiguous run is caught, the scrambled bag and the unrelated
    // doc are not
    val matchedDocs = collected.map(_._1).toSet
    assert(matchedDocs == Set(101L))
    assert(collected.forall(m => m._2 == 1L && m._4 > 0.0 && m._4 <= 1.0))
  }
}
