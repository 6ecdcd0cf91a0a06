package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loader for the driver-provided deterministic parquet testdata
  * (see /root/repo/TESTDATA.md). One parquet file per table under a
  * scale-factor directory.
  *
  * At 100 TB these would be partitioned parquet/iceberg tables; the
  * access pattern (read → Catalyst pushdown of filters/projections
  * into the scan) is identical, so every query in this repo keeps its
  * plan shape under partitioned inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet stores TIMESTAMP(NANOS) which Spark 4 refuses to
    // read as a timestamp; read nanos as long and convert exactly
    // (integer division — no double round-trip) to a µs timestamp.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    // Unsplittable-input guard (guide §2.5: "repartition immediately
    // after the read"): each testdata table is ONE parquet file with
    // ONE row group, so the scan cannot split and every downstream
    // per-row stage would run on a single task until the first
    // exchange. Spread ONLY the text table — its consumers run regex
    // tokenize + shingle per row, orders of magnitude heavier than the
    // one narrow exchange — and ONLY when the scan has fewer
    // partitions than the SIZE-derived target (at real scale, many
    // files / row groups, the branch is a no-op, so this is
    // scale-adaptive, not a local constant). The partition count
    // derives from the input size, capped at defaultParallelism:
    // measured at sf0.1, maximal fan-out (32) multiplies per-task
    // fixed costs across every downstream stage of every uncached
    // subtree and LOSES to ~bytes/64K partitions on 9 of 14 text
    // queries, while the size-derived count keeps the tokenize
    // parallelism that the heavy consumers (q86/q64/q26/q71) win
    // 2-4x from. Tables deliberately NOT spread (each measured as a
    // net loss): embeddings (vector consumers broadcast a small query
    // set and stream the scan — the exchange ships the heavy payload
    // for nothing) and the relational tables (columnar scans +
    // partial aggregations).
    val df =
      if (name == "documents") {
        val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
        val want = (BigInt(spark.sparkContext.defaultParallelism)
          .min((bytes / (64L * 1024)).max(2))).toInt
        if (raw.rdd.getNumPartitions < want) raw.repartition(want) else raw
      } else raw
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Register all tables as temp views so spark.sql(...) works too. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
