package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one way to materialize a frame that several plans read: once,
  * at the pin (concurrent consumers of a lazy cache race to fill it,
  * each recomputing it), and visible to the plan gate.
  *  - [[Narrow]]: `localCheckpoint`, which also truncates lineage (an
  *    iterative operator's untruncated plan re-runs every earlier round).
  *  - [[Wide]]: a columnar cache, for wide rows whose consumers prune
  *    columns (q105's base); a checkpoint re-reads whole rows.
  * A pin hides its upstream from downstream plans, so inside
  * [[capturing]] it also [[record]]s its plan (for Wide, the cache scan
  * [[graft.PlanGate]] descends into). Pins made inside [[scope]] are
  * released when it ends; one behind a lazily returned query frame
  * lives until `graft.Harness.release`. */
object Pin {
  sealed trait Kind
  case object Narrow extends Kind
  case object Wide extends Kind

  /** `frame.pin(kind)` ≡ `Pin(frame, kind)`, so chains read in order. */
  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pin(kind: Kind): DataFrame = Pin(df, kind)
  }

  private val captured = new ThreadLocal[mutable.Buffer[SparkPlan]]
  private val scoped = new ThreadLocal[mutable.Buffer[() => Unit]]

  /** Record `ds`'s physical plan into an active [[capturing]] walk
    * without materializing — for construction-time bounded collects
    * (model fits) whose corpus-scale upstream no downstream plan shows. */
  def record[T](ds: Dataset[T]): Dataset[T] = {
    val b = captured.get()
    // capture must never fail a run, but only non-fatal compile errors
    // are swallowed: OOM or an interrupt must still surface
    if (b != null)
      try b += ds.queryExecution.executedPlan
      catch { case scala.util.control.NonFatal(_) => () }
    ds
  }

  /** Materialize `df` now as `kind`, record it, and register its
    * release with the innermost [[scope]] on this thread, if any. */
  def apply(df: DataFrame, kind: Kind): DataFrame = {
    val (pinned, release) = kind match {
      case Narrow =>
        record(df)
        val p = df.localCheckpoint()
        val rdds = p.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
        (p, () => rdds.foreach(_.unpersist(blocking = true)))
      case Wide => // fill via the cache's own RDD (one stage, no plan) unless filled
        df.persist().queryExecution.withCachedData.collectFirst {
          case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
            r.cacheBuilder.cachedColumnBuffers.foreachPartition(_ => ())
        }
        (record(df), () => { df.unpersist(blocking = true); () })
    }
    Option(scoped.get()).foreach(_ += release)
    pinned
  }

  /** Run `body`, then release (blocking) every pin made inside it on
    * this thread, on return or throw. Only for bodies whose result is
    * already local (a collect, a `foreachBatch` write). */
  def scope[T](body: => T): T = {
    val outer = scoped.get()
    val mine = mutable.Buffer.empty[() => Unit]
    scoped.set(mine)
    try body
    finally {
      scoped.set(outer)
      mine.foreach(_())
    }
  }

  /** Run `body` (query construction), returning its result and every
    * plan pinned or recorded on this thread meanwhile. */
  def capturing[T](body: => T): (T, Seq[SparkPlan]) = {
    val b = mutable.Buffer.empty[SparkPlan]
    captured.set(b)
    try (body, b.toSeq)
    finally captured.remove()
  }
}
