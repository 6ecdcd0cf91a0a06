package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main — emits, in order: a per-query CPU line, a
  * per-query WALL line, and a compact total-only JSON line LAST, on
  * SPARK_GRAFT_SF_DIR (driver contract). Compact-last because the
  * driver captures the TAIL of the log: at ~100 queries the per-query
  * line outgrew the capture (BENCH_r05 `parsed:null`), printing the
  * compact line first put it in the truncated region (BENCH_r06
  * `parsed:{}`), and a combined wall+cpu line let the tail land
  * inside the cpu dict so CPU seconds read as wall (BENCH_r14) —
  * hence the separately-labeled lines. The full record is also
  * written to `target/bench.json` (every run) and to
  * `$SPARK_GRAFT_BENCH_COPY` (round-stamped committed archive) so a
  * later run can never destroy the evidence.
  *
  * [[Harness.warmup]] runs before timing so per-query numbers measure
  * the query, not session/classloader/codegen bootstrap.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (scale-factor dir); SPARK_GRAFT_ONLY
  * (comma-separated query names) restricts the sweep for local
  * iteration, absent → full sweep; SPARK_GRAFT_CPUS sets the
  * parallelism (default: processor count); SPARK_GRAFT_BENCH_COPY
  * names the extra archive copy.
  */
object Bench {

  /** `runs` timed executions of one query, then [[Harness.release]].
    * Times full materialization: xxhash64 every column of every row
    * and fold — a count() alone lets Spark prune the projection on
    * narrow queries and understates the real cost. */
  def timeRuns(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      sfDir: String, runs: Int): Seq[RunRecord] = {
    val records = Seq.fill(runs)(Harness.timed {
      val d = fn(spark, sfDir)
      d.select(xxhash64(d.columns.toIndexedSeq.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)")).collect()
    })
    Harness.release(spark)
    records
  }

  /** The min-wall successful run, if any run succeeded. */
  def fastest(records: Seq[RunRecord]): Option[RunRecord] =
    records.filter(_.ok).minByOption(_.wallSec)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)

    // Load evidence: min-of-3 defends against a transient pause, not
    // against sustained external load across the whole sweep (the r8
    // driver run reported one query at 30× its isolated time under a
    // concurrent JVM — undetectable from the timings alone). Record
    // the machine's 1-min load average and this JVM's own CPU clock
    // around the sweep so a contaminated run is self-diagnosing:
    // trust the numbers when load1 ≈ proc_cpu_sec / wall_sec (this
    // process is the load); discount them when load1 is far above it
    // (someone else was burning the cores).
    def load1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val load1Before = load1()
    val cpuBefore = Harness.procCpuSec()
    val wallStart = System.nanoTime()

    // min of three timed runs per query: run 1 is cold (codegen
    // compile, no broadcast reuse); runs 2–3 are warm, so a single
    // GC/compilation pause cannot inflate the reported number. A query
    // whose every run fails reports -1.
    val sweep = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val timed = sweep.map { case (name, fn) =>
      name -> timeRuns(spark, fn, sfDir, runs = 3)
    }
    val best = timed.map { case (k, rs) => k -> fastest(rs) }
    def r3(x: Double) = math.rint(x * 1000) / 1000
    val results = best.map { case (k, b) =>
      k -> b.flatMap(_.wallSec).getOrElse(-1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query CPU clock of the winning run (steal self-diagnosis):
    // a query whose wall >> cpu/ncpu with LOW cpu was throttled by the
    // host, not slow — full record only (target/bench.json + full line)
    val qcpu = best.map { case (k, b) =>
      "\"" + k + "\":" + r3(b.flatMap(_.cpuSec).getOrElse(-1.0))
    }.mkString("{", ",", "}")
    // every query with a run that threw, with its first error
    val failures = timed.flatMap { case (k, rs) =>
      rs.flatMap(_.error).headOption.map(k -> _)
    }
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    val ncpu = Runtime.getRuntime.availableProcessors
    val loadFields =
      s""""load1_before":${load1Before},"load1_after":${load1()},""" +
        s""""proc_cpu_sec":${r3(Harness.procCpuSec() - cpuBefore)},""" +
        s""""wall_sec":${r3(wallSec)},"ncpu":$ncpu"""
    // Two SEPARATELY-LABELED per-query lines (r14 verdict item 2): the
    // driver captures the log TAIL, and in BENCH_r14 that capture
    // landed inside a combined line's query_cpu dict — CPU seconds
    // read as wall regressions. CPU prints FIRST (sacrificial if
    // truncation hits), the wall line after it, the compact summary
    // LAST; every line carries its own metric/unit labels so any
    // fragment is self-identifying.
    val cpuJson =
      s"""{"metric":"per_query_cpu","unit":"cpu_sec","note":"JVM CPU clock of the min-wall run; NOT wall time","query_cpu_sec":$qcpu,"sf":"$sfDir"}"""
    val wallJson =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,$loadFields,"queries":$qs,"sf":"$sfDir"}"""
    // Full record to files the driver (or a human) can read whole.
    // target/bench.json is clobbered by every run — the driver's
    // post-close sweep destroyed r14's closing idle record — so
    // SPARK_GRAFT_BENCH_COPY names an additional round-stamped,
    // COMMITTED copy (bench/bench_rNN_idle.json) that survives it.
    val record = cpuJson + "\n" + wallJson + "\n" +
      s"""{"metric":"failures","failures":${Harness.jsonObject(failures)}}""" + "\n"
    def writeRecord(path: java.nio.file.Path): Unit =
      try {
        if (path.getParent != null)
          java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.write(path,
          record.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] cannot write $path: $e")
      }
    writeRecord(java.nio.file.Paths.get("target", "bench.json"))
    sys.env.get("SPARK_GRAFT_BENCH_COPY")
      .foreach(p => writeRecord(java.nio.file.Paths.get(p)))
    println(cpuJson)
    println(wallJson)
    // Compact line LAST — the driver keeps the tail of the log, so
    // the summary must be the final line to survive truncation.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failed,$loadFields,"sf":"$sfDir"}""")
    spark.stop()
  }
}
