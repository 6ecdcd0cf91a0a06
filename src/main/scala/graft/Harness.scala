package graft

import org.apache.spark.sql.SparkSession

/** Outcome of one [[Harness.timed]] body. A failed run carries
  * "ErrorClass: first message line" and no times, so a failure never
  * reads as a fast run. */
final case class RunRecord(error: Option[String], wallSec: Option[Double],
    cpuSec: Option[Double]) {
  def ok: Boolean = error.isEmpty
}

/** Where every main starts and ends a run: one session, one warm-up,
  * one timed run, one blocking query-boundary cleanup. */
object Harness {

  /** Local cores and shuffle partitions of every main:
    * `SPARK_GRAFT_CPUS`, else this machine's processor count. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main runs in: `local[cpus]`, as many shuffle
    * partitions, UTC, no UI. `extraConf` adds main-specific settings. */
  def session(extraConf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extraConf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Touches every table (footer + first row group) and pushes q1_agg
    * through the whole pipeline (codegen, shuffle service), so timed
    * runs measure the query, not session or class-loading start-up. A
    * step that fails is reported on stderr and the warm-up goes on. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    val steps = Tables.names.map(t =>
      s"table $t" -> (() => Tables.load(spark, sfDir, t).limit(1).count())) :+
      ("q1_agg" -> (() => SparkEntry.queries("q1_agg")(spark, sfDir).count()))
    steps.foreach { case (what, step) =>
      timed(step()).error.foreach(e =>
        System.err.println(s"[warmup] $what failed: $e"))
    }
  }

  /** This JVM's CPU clock in seconds (-1 where the JVM cannot say). */
  def procCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        b.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Runs `body` once, timing wall and process CPU. Anything it throws
    * becomes the record's error, so one bad query cannot end a sweep. */
  def timed(body: => Any): RunRecord = {
    val c0 = procCpuSec()
    val t0 = System.nanoTime()
    try {
      body
      RunRecord(None, Some((System.nanoTime() - t0) / 1e9),
        Some(procCpuSec() - c0))
    } catch {
      case e: Throwable =>
        val line = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
        RunRecord(Some(s"${e.getClass.getName}: ${line.getOrElse("")}"),
          None, None)
    }
  }

  /** Drops everything a query pinned in the block manager (`cache()`
    * inside operators, `localCheckpoint` blocks of iterative ones).
    * Without it the storage pool grows across a sweep and LRU eviction
    * makes a random subset of queries 5–10× slower. The unpersist is
    * blocking: an async one races into the next query (q86–q89 and
    * q159 swung 2.2→6.8 s between two idle sweeps). `clearCache` leaves
    * broadcast blocks, which the ContextCleaner reclaims only after a
    * driver GC drops their references, hence the `System.gc()` (q89:
    * 5.1 s in a sweep, 1.0 s alone without it). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** JSON string literal: escapes backslash, quote and every control
    * character (< 0x20), so oracle SQL with a tab or CR still parses. */
  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of string values, in the given order. */
  def jsonObject(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
}
