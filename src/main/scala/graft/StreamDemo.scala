package graft

import org.apache.spark.sql.SparkSession
import graft.sources.FileEventSource
import graft.streaming.{EventGenerator, SinkConfig, StreamApp,
  StreamFingerprint, WindowConfig}

/** End-to-end demo — the `make demo` analog (Makefile:181-190 in the
  * reference): generate event files from testdata, replay them through
  * the streaming pipeline, drain, and report sink row counts plus a
  * machine-checkable JSON line per topology.
  *
  * Usage: runMain graft.StreamDemo [sfDir] [outRoot] [--shared | --compare]
  *
  *  - default / --shared: one topology (reference 4-query / shared
  *    3-query), throughput line per run.
  *  - --compare (r14 verdict item 3): BOTH topologies over the same
  *    generated events, then an order-independent fingerprint of the
  *    FINAL per-window values of every metric table
  *    ([[graft.streaming.StreamFingerprint]]) — raw sink row counts
  *    differ by update-mode emission timing (r14: 4798 vs 4796 funnel
  *    rows), which finals are immune to. Emits one
  *    `{"metric":"stream_fingerprint",...,"stream_fingerprint_match":b}`
  *    line and exits non-zero on mismatch.
  */
object StreamDemo {
  /** Locale-independent numeric rendering for the JSON line — the f
    * interpolator uses the default locale, and a comma decimal
    * separator (de_DE, fr_FR) would emit unparseable JSON. */
  private def jnum(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f",
      java.lang.Double.valueOf(v))

  /** Run one topology over pre-generated events into the default
    * (batch-id-tagged, idempotent) writer, so finals are recoverable;
    * returns (wall sec, query count, per-sink row counts). */
  private def runTopology(spark: SparkSession, eventsRoot: String,
      outRoot: String, ckRoot: String,
      shared: Boolean): (Double, Int, Seq[(String, Long)]) = {
    val t0 = System.nanoTime()
    val queries = StreamApp.run(spark,
      FileEventSource(s"$eventsRoot/orders"),
      FileEventSource(s"$eventsRoot/items"),
      FileEventSource(s"$eventsRoot/payments"),
      outRoot,
      WindowConfig(watermark = Some("10 minutes")),
      SinkConfig(triggerInterval = "2 seconds", checkpointRoot = ckRoot),
      shared = shared)
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
    val elapsed = (System.nanoTime() - t0) / 1e9
    val sinkRows =
      Seq("real_time_funnel", "gmv_metrics", "drop_off_analysis",
        "payment_metrics").map { t =>
        // a sink that never wrote has no directory; any other read
        // error is a real failure and propagates
        val dir = s"$outRoot/$t"
        t -> (if (new java.io.File(dir).exists()) spark.read.parquet(dir).count() else 0L)
      }
    // queries.size travels with the result so the demo JSON line's
    // "queries" field always reports the topology's REAL query count
    // (a hardcoded 4/3 literal would silently go stale if StreamApp's
    // topology gained or lost a query)
    (elapsed, queries.size, sinkRows)
  }

  private def demoLine(topology: String, nEvents: Long, elapsed: Double,
      nQueries: Int, sinkRows: Seq[(String, Long)]): String = {
    val sinks = sinkRows.map { case (t, n) => s""""$t":$n""" }.mkString(",")
    s"""{"metric":"stream_demo","topology":"$topology","events":$nEvents,""" +
      s""""wall_sec":${jnum(elapsed, 3)},""" +
      s""""stream_events_per_sec":${jnum(nEvents / elapsed, 1)},""" +
      s""""queries":$nQueries,"sink_rows":{$sinks}}"""
  }

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val outRoot = if (positional.length > 1) positional(1)
      else java.nio.file.Files.createTempDirectory("graft-demo").toString
    val spark = Harness.session()

    EventGenerator.writeAll(spark, sfDir, s"$outRoot/events", slices = 4)
    val nEvents = Seq("orders", "items", "payments")
      .map(t => spark.read.text(s"$outRoot/events/$t").count()).sum

    val compare = args.contains("--compare")
    if (compare) {
      // both topologies over the SAME event files, then the finals
      // fingerprint
      val (refSec, refN, refRows) = runTopology(spark, s"$outRoot/events",
        s"$outRoot/ref", s"$outRoot/ck_ref", shared = false)
      println(demoLine("reference", nEvents, refSec, refN, refRows))
      val (shSec, shN, shRows) = runTopology(spark, s"$outRoot/events",
        s"$outRoot/shared", s"$outRoot/ck_shared", shared = true)
      println(demoLine("shared", nEvents, shSec, shN, shRows))
      val verdicts = StreamFingerprint.compare(spark,
        s"$outRoot/ref", s"$outRoot/shared")
      val perTable = verdicts.map { v =>
        s""""${v.table}":{"match":${v.matches},"ref_keys":${v.refKeys},""" +
          s""""shared_final_windows":${v.sharedFp.n},""" +
          s""""fp_sum":["${v.refFp.sum}","${v.sharedFp.sum}"],""" +
          s""""fp_xor":[${v.refFp.xor},${v.sharedFp.xor}]}"""
      }.mkString(",")
      val allMatch = verdicts.forall(_.matches)
      println(s"""{"metric":"stream_fingerprint","sf":"$sfDir",""" +
        s""""tables":{$perTable},"stream_fingerprint_match":$allMatch}""")
      println(s"[demo] output at $outRoot")
      spark.stop()
      if (!allMatch) sys.exit(1)
    } else {
      val shared = args.contains("--shared")
      val topology = if (shared) "shared" else "reference"
      val (elapsed, nQueries, sinkRows) = runTopology(spark,
        s"$outRoot/events", s"$outRoot/metrics", s"$outRoot/checkpoints",
        shared)
      println(f"[demo] topology=$topology events=$nEvents drained in " +
        f"$elapsed%.1f s (${nEvents / elapsed}%.0f events/s)")
      sinkRows.foreach { case (t, n) => println(s"[demo] $t rows=$n") }
      println(s"[demo] output at $outRoot")
      // Machine-checkable throughput record (the Bench JSON-line
      // contract): one line per topology per run so the streaming
      // claim in BASELINE.md is re-measurable by grep instead of prose.
      println(demoLine(topology, nEvents, elapsed, nQueries, sinkRows))
      spark.stop()
    }
  }
}
