package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse table-maintenance verbs the reference pipeline leaves to
  * its warehouse (the reference's src/sinks/metrics_sink.py does a
  * plain JDBC append and merely catches/skips duplicate-key errors;
  * the ON CONFLICT upsert is this repo's own streaming/MetricsSink
  * .upsertSql): batch MERGE INTO (upsert) and SCD2 history
  * construction, re-expressed as pure DataFrame transforms so they
  * run against any snapshot + changes pair.
  *
  * 100 TB notes: `upsert` is one broadcast anti-join (the change
  * batch is small next to the snapshot — the CDC case) plus a
  * union — no full-table rewrite logic here; partition-level file
  * replacement is the writer's concern. `scd2` is two windows over the
  * same (key, ts) partitioning — Catalyst plans them in a single sort
  * + shuffle pair.
  */
object Merge {

  /** MERGE INTO semantics over whole rows: every key present in
    * `changes` takes the `changes` row (matched → update); keys absent
    * from `changes` keep their `base` row; keys new to `changes`
    * insert. `changes` must have one row per key (CDC-compacted) and
    * `base`'s schema. Precondition: `changes`' key set is broadcast
    * and must fit executor memory; past that Spark fails the query.
    */
  def upsert(base: DataFrame, changes: DataFrame, keys: Seq[String]): DataFrame =
    base.join(broadcast(changes.select(keys.map(col): _*)), keys, "left_anti")
      .unionByName(changes)

  /** SCD Type-2 history from an event log: per key, collapse
    * consecutive equal states and emit one versioned row per state
    * change with its validity interval. `effective_to` is null for the
    * current (open) version. Ties on `tsCol` break by `tieCol` so the
    * history is deterministic under any partitioning.
    */
  def scd2(log: DataFrame, keyCol: String, stateCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val changes = log
      .withColumn("prev_state", lag(col(stateCol), 1).over(w))
      // null-safe inequality: the first row of a key (prev null) is a
      // change; a genuine repeat of the same state is not.
      .filter(!(col("prev_state") <=> col(stateCol)))
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("effective_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col("version"), col(stateCol).as("state"),
        col(tsCol).as("effective_from"), col("effective_to"))
  }

  /** Current-state view of an SCD2 history: the open version per key. */
  def scd2Current(history: DataFrame, keyCol: String): DataFrame =
    history.filter(col("effective_to").isNull)
}
