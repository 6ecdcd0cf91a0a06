package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.FileEventSource

/** Restart equivalence: a stream that is stopped part-way and restarted
  * from its checkpoint ends with the same metric tables as one
  * uninterrupted run over the same events, for both topologies, through
  * the default (batchId-idempotent) writer. The finals (last refinement
  * per window key) and the key counts of every table must be equal.
  * The restart also delivers the first run's last micro-batch again, as
  * after a crash between the sink write and the batch commit, so the
  * row count of every table must be equal too: a writer that appends
  * adds the re-delivered rows a second time.
  *
  * Each topic's generated events are split at one event-time cutoff
  * into an early and a late file, and both runs see the same arrival:
  * the early files, drained, then the late ones. Only the restarted
  * run stops in between. The split is ordered by event time so that
  * the late half is not dropped as late, and the windows that span the
  * cutoff are finished from the restored state. The arrival is the
  * same because batch boundaries do change results on this input:
  * generated item events share an `event_id` when their lineitem rows
  * share (l_orderkey, l_linenumber), and the watermark-bounded ingest
  * dedup drops such a pair inside one micro-batch but keeps both when
  * they arrive in two batches further apart than the watermark. */
class RestartEquivalenceSpec extends SparkSpec {

  private val topics = Seq("orders", "items", "payments")

  /** `root/{early,late}/<topic>`: each topic's events before and from
    * the cutoff, one text file each. */
  private lazy val events: String = {
    val root = Files.createTempDirectory("graft-restart-ev").toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/all", 4)
    topics.foreach { t =>
      val ev = spark.read.text(s"$root/all/$t")
      val early = get_json_object(col("value"), "$.timestamp") < "1995-07-01"
      ev.filter(early).coalesce(1).write.text(s"$root/early/$t")
      ev.filter(!early).coalesce(1).write.text(s"$root/late/$t")
    }
    root
  }

  /** Copy one half's event files into the source directories under
    * `in`, each under a hidden name first (the file source skips it)
    * and then renamed, so a running query never lists a partial file. */
  private def feed(half: String, in: String): Unit = topics.foreach { t =>
    val files = Files.list(Paths.get(s"$events/$half/$t"))
    try files.filter(_.getFileName.toString.startsWith("part-")).forEach { f =>
      val name = f.getFileName.toString
      val tmp = Files.copy(f, Paths.get(s"$in/$t/.$name"))
      Files.move(tmp, Paths.get(s"$in/$t/$name"), StandardCopyOption.ATOMIC_MOVE)
    } finally files.close()
  }

  /** Start the topology over `root/in`; `feeds` each add event files
    * and drain them. The queries stop after the last feed. */
  private def run(root: String, shared: Boolean)(feeds: String*): Unit = {
    topics.foreach(t => Files.createDirectories(Paths.get(s"$root/in/$t")))
    val qs = StreamApp.run(spark,
      FileEventSource(s"$root/in/orders"), FileEventSource(s"$root/in/items"),
      FileEventSource(s"$root/in/payments"), s"$root/out",
      WindowConfig(watermark = Some("10 minutes")),
      SinkConfig(triggerInterval = "1 seconds", checkpointRoot = s"$root/ckpt"),
      shared = shared)
    try feeds.foreach { half =>
      feed(half, s"$root/in")
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())
  }

  /** A crash after the sink wrote a query's last micro-batch but before
    * that batch was committed: drop the newest commit-log entry of every
    * query under `ckpt`, so the restart delivers that batchId again. */
  private def uncommitLastBatch(ckpt: String): Unit =
    new java.io.File(ckpt).listFiles().filter(_.isDirectory).foreach { q =>
      val last = new java.io.File(q, "commits").list().filter(_.forall(_.isDigit))
        .map(_.toLong).max
      Seq(s"$last", s".$last.crc")
        .foreach(f => Files.deleteIfExists(Paths.get(s"$q/commits/$f")))
    }

  Seq("reference" -> false, "shared" -> true).foreach { case (topology, shared) =>
    test(s"$topology topology: a run restarted from its checkpoint ends " +
        "with the uninterrupted run's metric tables") {
      val once = Files.createTempDirectory("graft-restart-once").toString
      run(once, shared)("early", "late")
      val twice = Files.createTempDirectory("graft-restart-twice").toString
      run(twice, shared)("early")
      uncommitLastBatch(s"$twice/ckpt")
      run(twice, shared)("late")

      StreamFingerprint.tables.foreach { spec =>
        def rows(root: String) = spark.read.parquet(s"$root/out/${spec.name}")
        // a re-delivered batch rewrites its own rows, never adds to them
        assert(rows(twice).count() == rows(once).count(), spec.name)
        def finals(root: String) = StreamFingerprint.finals(rows(root), spec)
        val (a, b) = (finals(once), finals(twice))
        val keys = a.count()
        assert(keys > 0, spec.name)
        assert(b.count() == keys, spec.name)
        assert(StreamFingerprint.fingerprint(a, spec) ==
          StreamFingerprint.fingerprint(b, spec), spec.name)
      }
    }
  }
}
