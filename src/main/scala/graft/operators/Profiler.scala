package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-pass data profiling — the QC step a pipeline runs before
  * trusting a new drop of data: per column, non-null/null counts,
  * exact distinct cardinality, and min/max (numeric, timestamp, and
  * lexicographic string forms kept in separate typed columns so the
  * output schema is stable).
  *
  * 100 TB notes: ONE scan for all columns — the naive per-column
  * loop scans the table N times. Each row explodes into one typed
  * (col_name, num_view, str_view) struct per profiled column, then a
  * single col_name-keyed aggregation computes everything — including
  * the exact distinct count, which with ONE distinct column per
  * group plans as a plain two-phase distinct aggregate with map-side
  * partials. (The previous formulation — all columns' countDistincts
  * in one global agg — planned through Catalyst's Expand with every
  * algebraic agg buffer riding all ×cols branches: measured 4.7 s vs
  * ~1 s for this shape on 150k rows × 6 columns.)
  */
object Profiler {

  sealed trait Kind
  case object KNum extends Kind
  case object KStr extends Kind
  case object KTs extends Kind

  final case class ColSpec(name: String, kind: Kind)

  def profile(df: DataFrame, cols: Seq[ColSpec]): DataFrame = {
    val entries = array(cols.map { cs =>
      val c = col(cs.name)
      // numeric view of the column for min/max: timestamps → epoch
      // seconds (cross-engine stable), strings → null
      val numView: Column = cs.kind match {
        case KNum => c.cast("double")
        case KTs => unix_timestamp(c).cast("double")
        case KStr => lit(null).cast("double")
      }
      val strView: Column = cs.kind match {
        case KStr => c
        case _ => lit(null).cast("string")
      }
      // full-fidelity DISTINCT identity, exactly one slot populated
      // per column, routed to the cheapest exact representation:
      //  - integrals / narrow decimals → LONG (num_view's double would
      //    collapse 64-bit values past 2^53, e.g. 60-bit hash ids; a
      //    string cast is injective but the per-cell materialization
      //    measured ~10% of the whole profile, and the varlen slot
      //    bloats every distinct hash row)
      //  - timestamps → LONG epoch MICROS (num_view is epoch seconds —
      //    the cross-engine min/max convention — which would collapse
      //    sub-second-distinct timestamps)
      //  - float/double → the num_view double itself: already exact,
      //    and a string view would split -0.0 from 0.0, diverging from
      //    countDistinct's (and DuckDB's) normalized identity
      //  - strings / wide decimals → STRING
      // Three fixed slots (long, double, string) keep the distinct
      // rows narrow — the earlier five-view struct measured ~8% slower
      // on the same table.
      import org.apache.spark.sql.types._
      val (idLong: Column, idNum: Column, idStr: Column) = cs.kind match {
        case KTs =>
          (unix_micros(c.cast("timestamp")), lit(null).cast("double"),
            lit(null).cast("string"))
        case KStr =>
          (lit(null).cast("long"), lit(null).cast("double"), c)
        case KNum => df.schema(cs.name).dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            (c.cast("long"), lit(null).cast("double"), lit(null).cast("string"))
          case d: DecimalType if d.precision <= 18 && d.scale == 0 =>
            (c.cast("long"), lit(null).cast("double"), lit(null).cast("string"))
          case DoubleType | FloatType =>
            (lit(null).cast("long"), numView, lit(null).cast("string"))
          case _ =>
            (lit(null).cast("long"), lit(null).cast("double"), c.cast("string"))
        }
      }
      struct(
        lit(cols.indexOf(cs)).as("col_ord"),
        c.isNull.as("is_null"),
        numView.as("num_view"),
        strView.as("str_view"),
        idLong.as("id_long"),
        idNum.as("id_num"),
        idStr.as("id_str"))
    }: _*)
    // distinct identity = the typed id slots: exactly one is populated
    // per column, injectively, so identity-distinct ≡ distinct over the
    // original values (under UnsafeRow's -0.0 normalization — the same
    // identity the built-in countDistinct uses).
    //
    // The aggregations key on a 4-byte ordinal, not the column-name
    // string (which would ride every exploded row and every hash-agg
    // key compare); the name is re-attached from a literal array in a
    // post-agg projection over |cols| rows.
    val base = df.select(explode(entries).as("s")).select(col("s.*"))
    val name = element_at(array(cols.map(cs => lit(cs.name)): _*),
      col("col_ord") + 1).as("col_name")
    // manual two-phase distinct: a mixed distinct+algebraic Aggregate
    // plans every min/max/count buffer through all three phases of
    // the distinct rewrite — measured
    // 2.4 s vs 1.4 s for this split on 150k rows × 6 columns. Phase
    // 1 dedups to (ord, identity) with a per-value count (map-side
    // hash agg collapses duplicates before the only wide shuffle);
    // phase 2 rolls the per-column stats up FROM the distinct rows:
    // n = Σ cnt, n_distinct = row count, and min/max over distinct
    // values ≡ min/max over the multiset. The views ride phase 1 as
    // GROUPING keys, not first() aggregates: they are functions of
    // the identity slots (same group cardinality either way), and a
    // first(str_view) aggregate carries a string BUFFER, which
    // disqualifies HashAggregateExec (string buffers are not
    // UnsafeRow-mutable) — the whole phase-1 pass fell back to a
    // SortAggregate, a full sort of every exploded struct (measured
    // ~2 CPU-s single-task on 150k rows × 6 columns; hash-agg keys
    // may be strings, only buffers must be fixed-width).
    val pre = base
      .groupBy(col("col_ord"), col("is_null"), col("id_long"),
        col("id_num"), col("id_str"), col("num_view"), col("str_view"))
      .agg(count(lit(1)).as("cnt"))
    pre.groupBy(col("col_ord"))
      .agg(
        coalesce(sum(when(!col("is_null"), col("cnt"))), lit(0L)).as("n"),
        coalesce(sum(when(col("is_null"), col("cnt"))), lit(0L)).as("nulls"),
        count(when(!col("is_null"), 1)).as("n_distinct"),
        min(col("num_view")).as("min_num"),
        max(col("num_view")).as("max_num"),
        min(col("str_view")).as("min_str"),
        max(col("str_view")).as("max_str"))
      .select(name, col("n"), col("nulls"), col("n_distinct"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
  }

  /** Fixed-width histogram of a numeric column, optionally per group:
    * bucket = min(⌊x / width⌋, maxBucket) — explicit floor arithmetic,
    * not width_bucket(), so the bucket edges are identical IEEE
    * operations in any engine. One aggregation; empty buckets are
    * absent (sparse form — at 100 TB a dense grid would be a driver
    * materialization).
    */
  def histogram(df: DataFrame, valueCol: String, width: Double,
      maxBucket: Int, groupCols: Seq[String] = Nil): DataFrame = {
    val bucket = least(floor(col(valueCol) / width), lit(maxBucket))
      .cast("long").as("bucket")
    val keys = groupCols.map(col) :+ col("bucket")
    df.select(groupCols.map(col) :+ bucket: _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"))
      .orderBy(keys: _*)
  }
}
