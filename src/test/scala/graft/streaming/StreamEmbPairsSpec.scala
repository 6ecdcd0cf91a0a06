package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.operators.Similarity

/** Streamed edge increments equal the batch operator's on the same
  * vectors, across micro-batch boundaries; each micro-batch edges
  * against the STATIC corpus (+ itself), never against other batches. */
class StreamEmbPairsSpec extends SparkSpec {
  import spark.implicits._

  // unit-ish vectors chosen so cosine structure is obvious: 1↔101
  // identical (cos 1), 2↔102 near (high cos), 103 orthogonal to all,
  // 101↔104 near each other (intra-batch pair)
  private val corpusRows = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)))

  private val batchRows = Seq(
    (101L, Array(1.0f, 0.0f, 0.0f)),
    (102L, Array(0.1f, 1.0f, 0.0f)),
    (103L, Array(0.0f, 0.0f, 1.0f)),
    (104L, Array(0.9f, 0.1f, 0.0f)))

  private val tau = 0.5

  test("streamed edge increments ≡ batch operator across micro-batch boundaries") {
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val in = MemoryStream[(Long, Array[Float])](spark)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val perBatch = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Double)]]
    val q = MicroBatch.start(in.toDF().toDF("vec_id", "embedding")
        .writeStream.trigger(Trigger.ProcessingTime(50L))) { (batch, bid) =>
      val rows = Similarity.incrementalPairs(batch, corpus, tau, nBlocks = 4)
        .as[(Long, Long, Double)].collect()
      collected ++= rows
      perBatch(bid) = rows.toSet
    }
    try {
      in.addData(batchRows.take(2))
      q.processAllAvailable()
      in.addData(batchRows.drop(2))
      q.processAllAvailable()
    } finally q.stop()

    // per micro-batch: exactly the batch operator's increment
    def inc(rows: Seq[(Long, Array[Float])]) = Similarity.incrementalPairs(
      rows.toDF("vec_id", "embedding"),
      corpusRows.toDF("vec_id", "embedding"), tau, nBlocks = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(perBatch.values.toSet ==
      Set(inc(batchRows.take(2)), inc(batchRows.drop(2))))

    // edge semantics: corpus↔batch and intra-micro-batch pairs exist,
    // inter-batch pairs (101↔104 arrived in different batches) do NOT
    val ids = collected.map(r => (r._1, r._2)).toSet
    assert(ids.contains((1L, 101L))) // exact copy edge
    assert(ids.contains((2L, 102L))) // near copy edge
    assert(ids.contains((1L, 104L))) // corpus vs second batch
    assert(!ids.exists(p => p == (101L, 104L) || p == (104L, 101L)),
      "batches must not see each other")
    assert(!collected.exists(r => r._1 == 103L || r._2 == 103L),
      "orthogonal vector has no edges")
  }

  test("single-batch stream equals q183's composition contract") {
    // all four at once: increment = batch×corpus ∪ intra-batch, which
    // must equal all-pairs over (corpus ∪ batch) minus corpus-internal
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val everything = (corpusRows ++ batchRows).toDF("vec_id", "embedding")
    val inc = Similarity.incrementalPairs(
      batchRows.toDF("vec_id", "embedding"), corpus, tau, nBlocks = 4)
      .as[(Long, Long, Double)].collect().toSet
    val all = Similarity.cosinePairs(everything, tau)
      .as[(Long, Long, Double)].collect().toSet
    val corpusInternal = Similarity.cosinePairs(corpus, tau)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == all -- corpusInternal)
  }
}
