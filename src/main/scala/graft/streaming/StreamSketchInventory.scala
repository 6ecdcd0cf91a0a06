package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deploy half of the sketch-rollup tier (q154 builds daily HLL
  * sketches offline; q161 slides over them): MAINTAIN the daily
  * sketch inventory incrementally as events stream in, so the
  * sliding-distinct dashboard reads pre-merged sketches instead of
  * re-scanning raw events.
  *
  * Per micro-batch: one distributed `hll_sketch_agg` per (day) over
  * the batch, then a distributed `hll_union_agg` of the batch
  * sketches against the stored inventory — sketch merge is the whole
  * point of the DataSketches format: arrival order and batch
  * boundaries don't change what the sketch REPRESENTS (the union
  * of its inputs), so a restart that replays events into an
  * already-updated day only re-asserts set membership (HLL insertion
  * is idempotent per element). The estimate read off a merged sketch
  * is still asserted against the exact twin in the specs (estimator
  * internals may vary with merge history; set semantics do not).
  *
  * Bounded state, measured where it lives: the inventory is one row
  * per DAY — bounded by calendar time, not event volume (a year of
  * 100 TB/day is 365 rows of ~KB sketches) — so it is driver-held
  * and re-parallelized each batch, the KMeans-centroid bounded-model
  * shape. All per-event work stays distributed.
  *
  * Run it as `MicroBatch.start(w)((b, id) => inv.apply(id, b))`.
  * Under the runner's at-least-once delivery, element-level
  * idempotence (above) makes re-applying the SAME rows harmless: a
  * re-merged HLL sketch is bit-for-bit the same set. The batchId guard
  * in [[Inventory.apply]] still skips already-applied ids to avoid
  * wasted work.
  */
object StreamSketchInventory {

  private val LgK = 14

  /** Mutable inventory: (day epochDays, sketch bytes), driver-held. */
  final class Inventory(spark: SparkSession) {
    import spark.implicits._
    @volatile private[streaming] var rows: Seq[(java.sql.Date, Array[Byte])] = Seq.empty
    @volatile private var lastBatch: Long = -1L

    def size: Int = rows.size

    /** Current inventory as (day, sk). */
    def df(): DataFrame =
      if (rows.isEmpty)
        spark.emptyDataFrame
          .select(lit(null).cast("date").as("day"), lit(null).cast("binary").as("sk"))
          .limit(0)
      else rows.toDF("day", "sk")

    /** Merge one micro-batch of (ts, user_id) events. Distributed
      * sketch build + union; only the (days × sketch) result lands on
      * the driver. Skips batchIds at or below the last applied. */
    def apply(batchId: Long, batch: DataFrame): Unit = synchronized {
      if (batchId > lastBatch) {
        val batchSk = batch
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .groupBy(col("day"))
          .agg(hll_sketch_agg(col("user_id"), LgK).as("sk"))
        val merged = batchSk.unionByName(df())
          .groupBy(col("day"))
          .agg(hll_union_agg(col("sk")).as("sk"))
        rows = merged.collect().toSeq
          .map(r => (r.getDate(0), r.getAs[Array[Byte]](1)))
          .sortBy(_._1.getTime)
        lastBatch = batchId
      }
    }

    /** q161's sliding read, served from the inventory: per day, the
      * estimated distinct users over the trailing `windowDays` days.
      * Touches only (days × window) sketch rows. */
    def slidingEstimates(windowDays: Int = 7): DataFrame = {
      val inv = df()
      val anchors = inv.select(col("day")).distinct()
      inv.select(col("day"), col("sk"),
          explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
        .select(date_add(col("day"), col("off")).as("day"), col("sk"))
        .join(broadcast(anchors), Seq("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("window_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
        .orderBy(col("day"))
    }
  }
}
