package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.util.Properties
import graft.operators.Pin

/** Sinks (SURVEY.md §2.2, metrics_sink.py:18-51).
  *
  * The reference's foreachBatch does: skip-if-empty → console show(5) →
  * JDBC append with duplicate-key errors swallowed (K1). With `update`
  * output mode + a UNIQUE window key that makes the FIRST (partial)
  * emission win and discards every refinement — a race the survey flags
  * as a bug to not replicate (§7.4 risk 2). The idiomatic sink here
  * upserts (ON CONFLICT DO UPDATE) so the last refinement wins, which
  * equals batch semantics; `firstWriteWins = true` restores the quirk
  * for fidelity testing.
  */
final case class SinkConfig(
    triggerInterval: String = "30 seconds",
    checkpointRoot: String = "/tmp/graft-checkpoints",
    /** Print each non-empty micro-batch's first rows, the reference's
      * console `show(5)` monitor. */
    console: Boolean = false,
    /** true = Trigger.AvailableNow: drain the whole backlog in rate-
      * limited micro-batches, then stop. The catch-up / incremental-
      * batch mode — run the same topology on a schedule instead of
      * 24/7, with checkpointed offsets carrying over between runs. */
    availableNow: Boolean = false)

object MetricsSink {

  /** The trigger of every sink query: drain the backlog and stop under
    * `availableNow`, else fire every `triggerInterval`. */
  private def trigger(cfg: SinkConfig): Trigger =
    if (cfg.availableNow) Trigger.AvailableNow()
    else Trigger.ProcessingTime(cfg.triggerInterval)

  /** Wire a metric stream to its writer through the [[MicroBatch]]
    * runner — the per-query topology of stream_processor.py:175-231,
    * and the one sink path of both topologies. `write` keeps the
    * runner's writer contract: idempotent per batchId (see
    * [[MicroBatch]]). Each micro-batch is pinned first: the console
    * monitor and the writer read one computed batch, and the emptiness
    * test reads the pin's row count, so an empty batch costs one job. */
  def start(df: DataFrame, queryName: String, cfg: SinkConfig,
      outputMode: String = "update")(
      write: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(df.writeStream
      .outputMode(outputMode)
      .queryName(s"sink_$queryName")
      .trigger(trigger(cfg))
      .option("checkpointLocation", s"${cfg.checkpointRoot}/$queryName")) {
      (batch, batchId) =>
        val b = Pin(batch, Pin.Wide)
        if (!Pin.isEmpty(b)) {
          if (cfg.console) b.show(5, truncate = false)
          write(b, batchId)
        }
    }

  /** The parquet sink, the offline stand-in for the JDBC sink
    * (§2.13 — the reference is at-least-once with swallowed
    * conflicts): output is laid out by batch_id and each batch
    * overwrites ITS OWN partition (dynamic overwrite), so a replayed
    * micro-batch after failure/restart rewrites the same partition
    * instead of duplicating rows. Readers take a table's final value
    * per key from its highest batch_id ([[StreamFingerprint]]). */
  def idempotentParquetWriter(outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => batch
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** Upsert dialect for [[jdbcUpsertWriter]].
    *
    *  - [[UpsertDialect.Postgres]]: one batched
    *    INSERT ... ON CONFLICT (keys) DO UPDATE statement — the
    *    reference's target database (init_metrics.sql). Unexercisable
    *    in this environment (no PG-wire database or driver jar; see
    *    the jar-inventory tripwire in PostgresUpsertContractSpec), so
    *    the SQL text is pinned by unit test.
    *  - [[UpsertDialect.UpdateThenInsert]]: portable two-statement
    *    upsert — UPDATE by key, INSERT when zero rows matched, retry
    *    the UPDATE once on a duplicate-key race. Works on any JDBC
    *    database (exercised live against embedded Derby, including
    *    cross-micro-batch last-refinement-wins and the firstWriteWins
    *    quirk). Per-row round-trips instead of addBatch, so prefer
    *    the Postgres dialect where available. */
  sealed trait UpsertDialect
  object UpsertDialect {
    case object Postgres extends UpsertDialect
    case object UpdateThenInsert extends UpsertDialect
  }

  /** A key-only table (zero non-key columns) has nothing to refine,
    * so its upsert is insert-if-absent: `DO NOTHING`, as the
    * UpdateThenInsert dialect does for it. */
  def upsertSql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
    val updates = columns.filterNot(keyCols.contains)
      .map(c => s"$c = EXCLUDED.$c").mkString(", ")
    insertSql(table, columns) + s" ON CONFLICT (${keyCols.mkString(", ")}) " +
      (if (updates.isEmpty) "DO NOTHING" else s"DO UPDATE SET $updates")
  }

  private[streaming] def insertSql(table: String, columns: Seq[String]): String =
    s"INSERT INTO $table (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")})"

  private[streaming] def updateSql(table: String, columns: Seq[String],
      keyCols: Seq[String]): String = {
    val sets = columns.filterNot(keyCols.contains)
      .map(c => s"$c = ?").mkString(", ")
    val where = keyCols.map(k => s"$k = ?").mkString(" AND ")
    s"UPDATE $table SET $sets WHERE $where"
  }

  /** JDBC upsert writer (idiomatic mode). Executes per partition —
    * executors connect, not the driver (mirrors the reference's
    * executor-side JDBC, SURVEY §3.1.5). Dialect selects the upsert
    * statement shape; semantics are identical: last refinement wins,
    * or first write wins when `firstWriteWins` (metrics_sink.py:38-39
    * K1 compat — duplicate keys are silently dropped). */
  def jdbcUpsertWriter(url: String, table: String, keyCols: Seq[String],
      props: Properties, firstWriteWins: Boolean = false,
      dialect: UpsertDialect = UpsertDialect.Postgres): (DataFrame, Long) => Unit =
    (batch, _) => {
      val columns = batch.schema.fieldNames.toSeq
      batch.foreachPartition { (rows: Iterator[Row]) =>
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          dialect match {
            case UpsertDialect.Postgres =>
              writePostgres(conn, table, columns, keyCols, firstWriteWins, rows)
            case UpsertDialect.UpdateThenInsert =>
              writeUpdateThenInsert(conn, table, columns, keyCols,
                firstWriteWins, rows)
          }
          conn.commit()
        } finally conn.close()
      }
    }

  private def writePostgres(conn: java.sql.Connection, table: String,
      columns: Seq[String], keyCols: Seq[String], firstWriteWins: Boolean,
      rows: Iterator[Row]): Unit = {
    val sql =
      if (firstWriteWins) insertSql(table, columns) + " ON CONFLICT DO NOTHING"
      else upsertSql(table, columns, keyCols)
    val st = conn.prepareStatement(sql)
    var n = 0
    rows.foreach { r =>
      columns.indices.foreach(i => st.setObject(i + 1, r.get(i)))
      st.addBatch()
      n += 1
      if (n % 500 == 0) st.executeBatch()
    }
    st.executeBatch()
  }

  /** SQLState 23505 is the STANDARD unique-violation code (PostgreSQL
    * AND Derby both use it); PostgreSQL's driver throws plain
    * SQLException subclasses that are NOT
    * SQLIntegrityConstraintViolationException, so the duplicate-key
    * test must go through SQLState — and must match ONLY 23505, not
    * the whole class 23 (NOT NULL / FK / CHECK violations are real
    * errors, not duplicates, and must propagate). */
  private def isDuplicateKey(e: java.sql.SQLException): Boolean =
    e.getSQLState == "23505"

  private def writeUpdateThenInsert(conn: java.sql.Connection, table: String,
      columns: Seq[String], keyCols: Seq[String], firstWriteWins: Boolean,
      rows: Iterator[Row]): Unit = {
    val nonKey = columns.filterNot(keyCols.contains)
    val colIdx = columns.zipWithIndex.toMap
    val ins = conn.prepareStatement(insertSql(table, columns))
    val upd =
      if (nonKey.isEmpty) null
      else conn.prepareStatement(updateSql(table, columns, keyCols))
    def runUpdate(r: Row): Int = {
      (nonKey ++ keyCols).zipWithIndex.foreach { case (c, i) =>
        upd.setObject(i + 1, r.get(colIdx(c)))
      }
      upd.executeUpdate()
    }
    def runInsert(r: Row): Unit = {
      columns.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
      ins.executeUpdate()
    }
    // PostgreSQL aborts the whole open transaction after ANY failed
    // statement; a savepoint around each INSERT keeps the
    // swallow-duplicate / retry-update paths valid there (Derby
    // tolerates the savepoint too).
    def insertDupSafe(r: Row): Boolean = {
      val sp = conn.setSavepoint()
      try { runInsert(r); conn.releaseSavepoint(sp); true }
      catch {
        case e: java.sql.SQLException if isDuplicateKey(e) =>
          conn.rollback(sp); false
      }
    }
    rows.foreach { r =>
      if (firstWriteWins || upd == null) {
        // firstWriteWins, or a key-only table (zero non-key columns —
        // nothing to refine, so upsert degenerates to insert-if-absent):
        // INSERT, drop the row on duplicate key only
        insertDupSafe(r); ()
      } else if (runUpdate(r) == 0) {
        // no existing row: INSERT, retrying the UPDATE once if a
        // concurrent writer won the insert race
        if (!insertDupSafe(r) && runUpdate(r) == 0) {
          // the duplicate-key that blocked the INSERT came from a row
          // the retried UPDATE cannot see: either the competitor's row
          // was deleted between the two statements, or the 23505 was
          // raised by a secondary unique index rather than keyCols. A
          // silent drop here would lose the refinement — fail the
          // batch loudly (foreachBatch replays it) instead
          throw new IllegalStateException(
            s"upsert into $table: INSERT hit a duplicate key but the " +
              s"retried UPDATE matched 0 rows on (${keyCols.mkString(", ")})" +
              " — conflicting unique index or concurrent delete")
        }
      }
    }
  }
}
