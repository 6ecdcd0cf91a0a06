package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto frontier, Börzsönyi et al. ICDE 2001): the rows
  * not DOMINATED by any other row, where B dominates A iff B.x ≤ A.x
  * and B.y ≥ A.y with at least one strict — "no other part is both
  * cheaper and larger". Rows tied on BOTH coordinates dominate neither
  * side and all stay on the frontier.
  *
  * The classic single-node algorithm sorts by x and keeps a running
  * max of y — a sequential scan. The distributed form here keeps that
  * O(n log n) shape without a single-reducer sort, via the same
  * range-partition + driver-carried-prefix scheme as GlobalOrder and
  * the ksDrift CDF:
  *
  *  1. compress to one row per distinct x with max(y) (grouped,
  *     partial-aggregated) — dominance only ever needs the best y at
  *     each cheaper x;
  *  2. range-repartition the compressed frame by x; per-partition
  *     max(y) subtotals to the driver (numPartitions doubles — the
  *     bounded-model shape), exclusive prefix-max broadcast back;
  *  3. inside each range, the running max over strictly-smaller x is
  *     a window over (_pid) — a balanced exchange of the already-
  *     compressed frame, never SinglePartition;
  *  4. every input row joins its x's dominance summary (best y at
  *     strictly cheaper x; best y at equal x) and survives iff
  *     neither dominates it.
  *
  * A row is dominated iff  prefix_max_y(x' < x) ≥ y  (cheaper, at
  * least as large — price strictness satisfied)  OR
  * max_y(x' = x) > y  (same price, strictly larger).
  */
object Skyline {

  /** Frontier rows of `df` under (minimize `xCol`, maximize `yCol`).
    * Null x or y rows are dropped (dominance is undefined on null). */
  def frontier(df: DataFrame, xCol: String, yCol: String,
      numPartitions: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    // 1. one row per distinct x: the best (max) y there
    val perX = in.groupBy(col(xCol).as("_x"))
      .agg(max(col(yCol)).as("_maxy"))
    // 2. range-partition by x; per-partition max to the driver, its
    // exclusive prefix max across partitions (ascending x ranges)
    // broadcast back; 3. running max over strictly smaller x INSIDE the
    // range: window keyed on _pid (balanced), ordered by x, frame up
    // to 1 preceding
    val win = Window.partitionBy(col("_pid")).orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val summary = GlobalOrder.rangeOffsets(perX, numPartitions,
        Seq(col("_x")), Seq(max(col("_maxy")).cast("double"))) { parts =>
      parts.map(_.getLong(0))
        .zip(parts.map(_.getDouble(1)).scanLeft(Double.NegativeInfinity)(math.max))
        .toDF("_pid", "_prevmax")
    }
      .withColumn("_cheaper_best",
        greatest(coalesce(max(col("_maxy")).over(win).cast("double"),
          lit(Double.NegativeInfinity)), col("_prevmax")))
      .select(col("_x"), col("_maxy"), col("_cheaper_best"))
    // 4. survivors: not dominated by a strictly-cheaper ≥-y row, nor
    // by an equal-x strictly-larger-y row
    in.join(summary, col(xCol) === col("_x"))
      .filter(col(yCol).cast("double") > col("_cheaper_best") &&
        col(yCol) === col("_maxy"))
      .drop("_x", "_maxy", "_cheaper_best")
  }
}
