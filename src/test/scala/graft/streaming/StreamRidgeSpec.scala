package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.operators.Ridge

object StreamRidgeSpec {
  final case class R(g: String, x1: Long, x2: Long, y: Long)
}

class StreamRidgeSpec extends SparkSpec {
  import spark.implicits._
  import StreamRidgeSpec.R

  test("streamed sufficient sums solve to the batch ridge coefficients " +
      "regardless of micro-batch split") {
    val dir = "/root/testdata/sf0.001"
    val rows = Tables.load(spark, dir, "lineitem").select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast("long").as("x1"),
      floor(col("l_discount") * 100 + 0.5).cast("long").as("x2"),
      floor(col("l_extendedprice") + 0.5).cast("long").as("y"))
    val batch = Ridge.solve(Ridge.sums(rows)).collect().toSeq

    val all = rows.as[R].collect()
    val in = MemoryStream[R](spark)
    val q = Ridge.sums(in.toDF())
      .writeStream.outputMode("update")
      .format("memory").queryName("ridge_sums").start()
    try {
      // three ragged batches; additive integer sums make the split
      // (and within-batch order) irrelevant
      val cuts = Seq(all.length / 4, all.length / 2, all.length)
      var from = 0
      cuts.foreach { to =>
        in.addData(all.slice(from, to).toIndexedSeq)
        q.processAllAvailable()
        from = to
      }
      // update-mode memory sink keeps every trigger's row; the latest
      // snapshot per group is the one with max n (n only grows)
      val snap = spark.table("ridge_sums")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("g")).orderBy(col("n").desc)))
        .filter(col("rk") === 1).drop("rk")
      assert(Ridge.solve(snap).collect().toSeq == batch)
    } finally q.stop()
  }

  test("sums are additive: merging two disjoint halves' sums equals " +
      "whole-data sums (the counter-upsert sink contract)") {
    val data = (1 to 200).map(i => R(s"g${i % 3}", i % 7, i % 11, i % 13))
    val (a, b) = data.splitAt(83)
    val whole = Ridge.sums(data.toDF()).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    val merged = Ridge.sums(a.toDF()).unionAll(Ridge.sums(b.toDF()))
      .groupBy(col("g"))
      .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
        sum(col("s2")).as("s2"), sum(col("s11")).as("s11"),
        sum(col("s12")).as("s12"), sum(col("s22")).as("s22"),
        sum(col("sy")).as("sy"), sum(col("s1y")).as("s1y"),
        sum(col("s2y")).as("s2y"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(merged == whole)
  }
}
