package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.Tables

/** Streamed DSIR weights against frozen models are bit-equal to the
  * batch computation, under any micro-batch decomposition — the
  * deploy-twin contract StreamNb/StreamScore pin for their models. */
class StreamDsirSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("streamed weights ≡ batch weights under a 3-batch split") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang")).cache()
    val m = StreamDsir.trainModels(
      docs.filter(col("lang") === "en"), docs)

    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)](spark)
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double, Double)]
    val q = MicroBatch.start(in.toDF().toDF("doc_id", "text")
        .writeStream.trigger(Trigger.ProcessingTime(50L))) { (batch, _) =>
      acc ++= StreamDsir.weigh(batch, m).as[(Long, Double, Double, Double)].collect()
    }
    try {
      val third = rows.length / 3
      in.addData(rows.take(third))
      q.processAllAvailable()
      in.addData(rows.slice(third, 2 * third))
      q.processAllAvailable()
      in.addData(rows.drop(2 * third))
      q.processAllAvailable()
    } finally q.stop()

    val batch = StreamDsir.weigh(docs.select(col("doc_id"), col("text")), m)
      .as[(Long, Double, Double, Double)].collect()
    assert(acc.nonEmpty && acc.sorted == batch.toSeq.sorted)
  }

  test("corpus-model scoring via frozen tables ≡ q125's self-scored nll") {
    // scoreAgainst with a model trained on the scored docs themselves
    // degenerates to scoreDocs (every bigram present -> left joins hit)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang")).cache()
    val m = StreamDsir.trainModels(docs.filter(col("lang") === "en"), docs)
    val frozen = StreamDsir.weigh(docs.select(col("doc_id"), col("text")), m)
      .select(col("doc_id"), col("nll_corpus"))
      .as[(Long, Double)].collect().toMap
    val self = graft.operators.LanguageModel.scoreDocs(docs)
      .select(col("doc_id"), col("nll")).as[(Long, Double)].collect().toMap
    assert(frozen == self)
  }
}
