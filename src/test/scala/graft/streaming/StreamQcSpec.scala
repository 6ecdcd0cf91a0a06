package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.queries.QcQueries

/** Streamed expectation reports are additive: summed over any
  * micro-batch decomposition they equal the batch report on the
  * union — except table-level uniqueness, which is intra-batch by
  * contract. */
class StreamQcSpec extends SparkSpec {
  import spark.implicits._

  // (doc_id, text, lang, source, n_chars): two violations spread
  // across different micro-batches
  private val rows = Seq(
    (1L, "good doc", "en", "src1", 8L),
    (2L, "bad lang here", "xx", "src2", 13L), // lang violation (batch 1)
    (3L, "ok document", "de", "src3", 11L),
    (4L, "mismatch", "fr", "src4", 77L), // n_chars violation (batch 2)
    (5L, "fine", "es", "src5", 4L))

  test("summed per-batch reports ≡ batch report on the union") {
    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val q = MicroBatch.start(
        in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
          .writeStream.trigger(Trigger.ProcessingTime(50L))) { (batch, _) =>
      acc ++= StreamQc.expectations(batch).as[(String, Long, Long)].collect()
    }
    try {
      in.addData(rows.take(2))
      q.processAllAvailable()
      in.addData(rows.drop(2))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = acc.groupBy(_._1)
      .map { case (rule, rs) => rule -> (rs.map(_._2).sum, rs.map(_._3).sum) }
    val batch = QcQueries.expectationReport(
      rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    batch.foreach { case (rule, expected) =>
      val key = if (rule == "doc_id_unique") "doc_id_unique_intra_batch" else rule
      assert(streamed(key) == expected, s"rule $rule diverged")
    }
  }

  test("streamed drift: per-batch PSI vs static reference ≡ batch driftReport") {
    import org.apache.spark.sql.functions._
    val ref = ((0 until 8).map(i => (100L + i, s"ref en $i", "en", "src1", 10L)) ++
      (0 until 2).map(i => (200L + i, s"ref de $i", "de", "src1", 10L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val shifted = (0 until 5).map(i => (300L + i, s"cur en $i", "en", "src1", 10L)) ++
      (0 until 5).map(i => (400L + i, s"cur de $i", "de", "src1", 10L))
    val same = (0 until 4).map(i => (500L + i, s"cur2 en $i", "en", "src1", 10L)) :+
      (600L, "cur2 de", "de", "src1", 10L)

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Double)]
    val q = MicroBatch.start(
        in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
          .writeStream.trigger(Trigger.ProcessingTime(50L))) { (batch, bid) =>
      acc ++= StreamQc.drift(batch, ref)
        .select(lit(bid), col("feature"), col("bucket"), col("psi"))
        .as[(Long, String, String, Double)].collect()
    }
    try {
      in.addData(shifted)
      q.processAllAvailable()
      in.addData(same)
      q.processAllAvailable()
    } finally q.stop()

    // batch 0: the 80/20 → 50/50 lang shift, identical to the batch twin
    val expected = QcQueries.driftReport(
      ref.withColumn("snap", lit("ref")).unionByName(
        shifted.toDF("doc_id", "text", "lang", "source", "n_chars")
          .withColumn("snap", lit("cur"))))
      .select(col("feature"), col("bucket"), col("psi"))
      .as[(String, String, Double)].collect().toSet
    assert(acc.filter(_._1 == 0).map(r => (r._2, r._3, r._4)).toSet == expected)
    assert(acc.exists(r => r._1 == 0 && r._2 == "lang" && r._4 > 0.1))
    // batch 1 matches the reference distribution: every PSI is 0
    val b1 = acc.filter(_._1 == 1)
    assert(b1.nonEmpty && b1.forall(_._4 == 0.0))
  }

  test("streamed KS drift: per-batch max EDF gap ≡ batch ksDrift; zero on match") {
    import org.apache.spark.sql.functions._
    val ref = (1 to 40).map(i =>
      (100L + i, "w " * (i % 4 + 1), "en", "src1", (i % 4 + 1).toLong * 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // batch 0: longer docs (distribution shift); batch 1: same as ref
    val long = (1 to 40).map(i =>
      (300L + i, "w " * (i % 4 + 3), "en", "src1", (i % 4 + 3).toLong * 10))
    val same = (1 to 40).map(i =>
      (500L + i, "w " * (i % 4 + 1), "en", "src1", (i % 4 + 1).toLong * 10))

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double, Double)]
    val q = MicroBatch.start(
        in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
          .writeStream.trigger(Trigger.ProcessingTime(50L))) { (batch, bid) =>
      acc ++= StreamQc.ksDrift(batch, ref)
        .select(lit(bid), col("feature"), col("ks"), col("at_value"))
        .as[(Long, String, Double, Double)].collect()
    }
    try {
      in.addData(long)
      q.processAllAvailable()
      in.addData(same)
      q.processAllAvailable()
    } finally q.stop()

    val expected = graft.queries.FeatureQueries.ksDrift(
      ref.withColumn("snap", lit("ref")).unionByName(
        long.toDF("doc_id", "text", "lang", "source", "n_chars")
          .withColumn("snap", lit("cur"))))
      .select(col("feature"), col("ks"), col("at_value"))
      .as[(String, Double, Double)].collect().toSet
    assert(acc.filter(_._1 == 0).map(r => (r._2, r._3, r._4)).toSet == expected)
    assert(acc.exists(r => r._1 == 0 && r._3 > 0.4))
    val b1 = acc.filter(_._1 == 1)
    assert(b1.nonEmpty && b1.forall(_._3 == 0.0))
  }

  test("uniqueness is intra-batch: a cross-batch duplicate is not counted") {
    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val q = MicroBatch.start(
        in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
          .writeStream.trigger(Trigger.ProcessingTime(50L))) { (batch, _) =>
      acc ++= StreamQc.expectations(batch).as[(String, Long, Long)].collect()
    }
    try {
      in.addData(Seq((1L, "a doc", "en", "src1", 5L)))
      q.processAllAvailable()
      // same doc_id again in a later batch — invisible to per-batch checks
      in.addData(Seq((1L, "a doc", "en", "src1", 5L)))
      q.processAllAvailable()
    } finally q.stop()
    val uniq = acc.filter(_._1 == "doc_id_unique_intra_batch")
    assert(uniq.size == 2 && uniq.forall(_._2 == 0L))
  }
}
