package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Training-corpus materialization: the export step after curation
  * (filter → dedup → canonical selection) that writes the surviving
  * documents in the layout a training run reads.
  *
  * Layout contract: `outDir/split=train|val|test/shard=N/part-*.parquet`
  * with a deterministic content-hash split (same rule as q56), a
  * deterministic shard (`hash60(id) % numShards`, same rule as q58),
  * and rows inside each shard laid down in the shard's fixed
  * pseudo-random training order (an independent second hash — q58's
  * `ord`), so a sequential read of a shard IS the shuffled epoch
  * order. Re-running the writer on the same input reproduces the
  * exact same assignment, order, and per-directory row counts.
  *
  * 100 TB design: the repartition keys EQUAL the partitionBy keys, so
  * every (split, shard) output directory is written by exactly one
  * task — without that alignment each of the ~numShards×3 directories
  * receives a file from every task and a 1000-executor write emits
  * millions of small files. `maxRecordsPerFile` bounds file size
  * inside a directory (file count scales with shard size, not task
  * count). Shard count is the parallelism knob: pick it so one shard
  * ≈ one executor-core's worth of training data; skew is impossible
  * by construction (uniform hash). A global sort is never required —
  * the training order is shard-local, which is exactly what
  * data-parallel loaders consume (one shard per reader).
  *
  * Input: a `documents` frame — `doc_id` keys the split, shard and
  * order; [[manifest]] sums the written `n_chars`.
  */
object CorpusWriter {

  /** Split + shard + order columns (the q56/q58 assignment rules) —
    * exposed for reuse and testing. */
  def assign(df: DataFrame, numShards: Int): DataFrame =
    df.withColumn("split", TF.splitAssign(col("doc_id")))
      .withColumn("shard",
        (TF.hash60(col("doc_id").cast("string")) % numShards).cast("int"))
      .withColumn("ord",
        TF.hash60(concat(col("doc_id").cast("string"), lit("#ord"))))

  /** Write `df` as a sharded training corpus under `outDir`.
    * `maxRecordsPerFile <= 0` leaves file splitting to Spark. */
  def write(df: DataFrame, outDir: String, numShards: Int = 8,
      maxRecordsPerFile: Int = 0): Unit = {
    val splits = 3 // train/val/test
    assign(df, numShards)
      .repartition(numShards * splits, col("split"), col("shard"))
      .sortWithinPartitions(col("split"), col("shard"), col("ord"), col("doc_id"))
      .drop("ord")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("split", "shard")
      .parquet(outDir)
  }

  /** Read a corpus written by [[write]]; `split`/`shard` come back as
    * partition columns. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Per-(split, shard) accounting — what a training-run manifest
    * records. One aggregation over the written layout; partition
    * pruning makes per-split reads free. */
  def manifest(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir)
      .groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("split"), col("shard"))
}
