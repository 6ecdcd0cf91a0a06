package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global rank statistics over a value column, never
  * single-reducer: the shared scaffolding of the exact rank-based
  * metrics (ROC-AUC, Spearman correlation). Compress to one row per
  * DISTINCT value (ties collapse — this is what makes midranks
  * cheap), range-partition ascending, carry the exclusive prefix of
  * partition row-counts through the driver (numPartitions longs — the
  * GlobalOrder/ksDrift bounded-state scheme), and finish with
  * balanced per-range cumulative windows.
  *
  * Midranks are carried DOUBLED (mr2 = 2·(e − c) + c + 1, where e is
  * the cumulative count through the tie group and c its size) so all
  * rank arithmetic downstream stays in exact 64-bit integers — no
  * fractional .5 midranks, no cross-engine double drift.
  */
object Ranks {

  /** One row per distinct value of `valueCol` (nulls dropped):
    * (value, c = multiplicity, mr2 = 2×midrank ascending). Extra
    * aggregation columns can be attached via `extraAggs` (evaluated
    * in the same compressing aggregation — e.g. positives per score
    * for AUC). */
  def midranks2(df: DataFrame, valueCol: String,
      extraAggs: Seq[org.apache.spark.sql.Column] = Seq.empty,
      numPartitions: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = count(lit(1)).as("c") +: extraAggs
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("value"))
      .agg(aggs.head, aggs.tail: _*)
    val win = Window.partitionBy(col("_pid")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    GlobalOrder.rangeOffsets(g, numPartitions, Seq(col("value")),
        Seq(sum(col("c")))) { parts =>
      parts.map(_.getLong(0)).zip(parts.map(_.getLong(1)).scanLeft(0L)(_ + _))
        .toDF("_pid", "_off")
    }
      .withColumn("_e", sum(col("c")).over(win) + col("_off"))
      .withColumn("mr2", lit(2) * (col("_e") - col("c")) + col("c") + 1)
      .drop("_pid", "_off", "_e")
  }
}
