package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Topology-equivalence fingerprints for the streaming demo (r14
  * verdict item 3): raw sink ROW counts cannot adjudicate reference
  * (4-query, update mode) vs shared (3-query, append-mode orders) —
  * update mode re-emits a window once per refining micro-batch, so
  * counts differ by emission timing even when every FINAL value
  * agrees. This compares what actually matters: the last refinement
  * per window key, order-independently hashed (the CrossPlan sum/xor
  * pattern), on the window domain the append-mode side finalized.
  *
  * Column scope per table = the deterministic columns both topologies
  * compute the same way. Excluded: `processed_at`/`detected_at`
  * (current_timestamp), `batch_id` (the tag itself),
  * `unique_customers_affected` (reference = approx_count_distinct
  * HLL++, shared = datasketches HLL — different estimators whose
  * agreement is an envelope question, pinned by SharedTopologySpec,
  * not an equality one), and `sample_order_ids` (dropped by the
  * shared sink). Doubles are rounded to 6 dp before hashing: the two
  * topologies accumulate sums under different micro-batch boundaries,
  * so the last ulp is not comparable — everything above it must be.
  */
object StreamFingerprint {

  final case class TableSpec(name: String, keys: Seq[String], values: Seq[String])

  /** The four metric tables and their cross-topology-deterministic
    * columns (Processors.scala / StreamApp.deriveFunnel|deriveDropOff). */
  val tables: Seq[TableSpec] = Seq(
    TableSpec("real_time_funnel", Seq("window_start", "window_end"),
      Seq("total_orders", "orders_with_items", "orders_with_payment",
        "items_conversion_rate", "payment_conversion_rate",
        "dropped_after_order", "dropped_after_items")),
    TableSpec("drop_off_analysis",
      Seq("window_start", "window_end", "order_status"),
      Seq("dropped_orders", "drop_rate", "alert_triggered")),
    TableSpec("gmv_metrics", Seq("window_start", "window_end"),
      Seq("gmv", "item_count", "unique_orders", "avg_item_price",
        "max_item_price", "min_item_price")),
    TableSpec("payment_metrics",
      Seq("window_start", "window_end", "payment_type"),
      Seq("transaction_count", "unique_orders", "total_payment_value",
        "avg_payment_value", "avg_installments", "max_installments",
        "successful_orders", "failed_orders", "success_rate")))

  /** FINAL value per window key: the row of the highest batch_id (the
    * idempotentParquetWriter tag every metric table carries). */
  private[streaming] def finals(df: DataFrame, spec: TableSpec): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(spec.keys.map(col): _*)
          .orderBy(col("batch_id").desc)))
      .filter(col("__rn") === 1)
      .select((spec.keys ++ spec.values).map(col): _*)

  final case class Fp(sum: String, xor: Long, n: Long)

  /** Order-independent content hash of the canonicalized key+value
    * columns: doubles rounded to 6 dp and everything cast to string
    * here, then folded by [[graft.CrossPlan.fingerprint]] — ONE
    * implementation of the sum/xor/count xxhash64 fold across the
    * repo (decimal(38,0) sum against int64 overflow, null-safe empty
    * input), so a fix to the fold can never fork between the
    * cross-plan and stream-equivalence gates. */
  private[streaming] def fingerprint(df: DataFrame, spec: TableSpec): Fp = {
    val canon = (spec.keys ++ spec.values).map { c =>
      (df.schema(c).dataType match {
        case DoubleType => round(col(c), 6).cast("string")
        case _ => col(c).cast("string")
      }).as(c)
    }
    val f = graft.CrossPlan.fingerprint(df.select(canon: _*))
    Fp(f.sum, f.xor, f.rows)
  }

  final case class TableVerdict(table: String, refKeys: Long, sharedKeys: Long,
      refFp: Fp, sharedFp: Fp) {
    /** Equal finals on every shared-finalized key, and the shared side
      * finalized something (an empty-vs-empty match proves nothing). */
    def matches: Boolean = refFp == sharedFp && sharedFp.n > 0
  }

  /** Compare two demo runs' metric directories. Domain per table = the
    * keys the SHARED side emitted (append mode only finalizes windows
    * the watermark closed; the reference's update mode emits a
    * superset) — the reference finals are semi-joined onto it, so a
    * shared key the reference never produced shows up as a count
    * mismatch rather than being silently skipped. */
  def compare(spark: SparkSession, refRoot: String, sharedRoot: String)
      : Seq[TableVerdict] =
    tables.map { spec =>
      val ref = finals(spark.read.parquet(s"$refRoot/${spec.name}"), spec)
      val shared = finals(spark.read.parquet(s"$sharedRoot/${spec.name}"), spec)
      val refOnShared = ref.join(
        shared.select(spec.keys.map(col): _*).distinct(),
        spec.keys, "left_semi")
      TableVerdict(spec.name,
        refKeys = ref.count(), sharedKeys = shared.count(),
        refFp = fingerprint(refOnShared, spec),
        sharedFp = fingerprint(shared, spec))
    }
}
