package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.OrderEvent
import graft.streaming.Processors

/** Scale-infrastructure checks: RocksDB state store, bucketed
  * co-located joins, partition pruning. */
class ScaleInfraSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def event(id: String, orderId: String, status: String, at: String) =
    (OrderEvent(id, "order_created", at, orderId, Some("c1"), Some(status),
      None, None, Some(at)), ts(at))

  test("streaming aggregation runs on the RocksDB state store") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(OrderEvent, Timestamp)](spark)
      val orders = input.toDF().select($"_1.*", $"_2".as("event_timestamp"))
      val q = Processors.funnel(orders).writeStream.outputMode("update")
        .format("memory").queryName("rocksdb_mem").start()
      try {
        input.addData(event("e1", "o1", "delivered", "2024-01-01 10:00:05"))
        q.processAllAvailable()
        input.addData(event("e2", "o2", "created", "2024-01-01 10:00:10"))
        q.processAllAvailable()
        val n = spark.table("rocksdb_mem")
          .filter($"window_start" === lit(ts("2024-01-01 10:00:00")))
          .agg(max($"total_orders")).as[Long].collect().head
        assert(n == 2) // state persisted across batches in RocksDB
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("orders_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_totalprice") > 0)
    // co-located: the sort-merge join reads bucket files directly —
    // no ShuffleExchange anywhere in the plan
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() == li.count())
  }

  test("partition pruning reaches the scan (PartitionFilters, one dir read)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    Seq((ts("2024-01-01 10:00:00"), 5L), (ts("2024-01-02 11:00:00"), 7L),
      (ts("2024-01-03 12:00:00"), 9L))
      .toDF("window_start", "total_orders")
      .withColumn("window_date", to_date(col("window_start")))
      .write.partitionBy("window_date").parquet(dir + "/t")
    val df = spark.read.parquet(dir + "/t")
      .filter(col("window_date") === "2024-01-02")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan)
    // the pruned scan reads exactly the one matching partition
    val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.forall(_ == 1), s"partitions scanned: $scanned")
    assert(df.count() == 1)
  }

  test("runtime bloom filter prunes the application side of a shuffle join") {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
      val liPath = dir + "/li"; val ordPath = dir + "/ord"
      Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
        .write.parquet(liPath)
      Tables.load(spark, "/root/testdata/sf0.001", "orders")
        .write.parquet(ordPath)
      val li = spark.read.parquet(liPath)
      val ord = spark.read.parquet(ordPath)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val n = joined.count()
      assert(n > 0)
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.toLowerCase.contains("bloomfilter") ||
        plan.contains("might_contain"), plan.take(4000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
