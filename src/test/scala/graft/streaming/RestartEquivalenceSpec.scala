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
  * into an early and a late file. Both runs see the early files,
  * drained, then the late ones; only the restarted run stops in
  * between. The split is ordered by event time so that the late half
  * is not dropped as late, and the windows that span the cutoff are
  * finished from the restored state. A third run gets all events in
  * one feed, and its finals equal the two-feed run's: batch boundaries
  * do not change a table's final values. */
class RestartEquivalenceSpec extends SparkSpec {

  private val topics = Seq("orders", "items", "payments")

  /** `root/{early,late,all}/<topic>`: each topic's events before the
    * cutoff, from it, and all of them, one text file each. */
  private lazy val events: String = {
    val root = Files.createTempDirectory("graft-restart-ev").toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/gen", 4)
    topics.foreach { t =>
      val ev = spark.read.text(s"$root/gen/$t")
      val early = get_json_object(col("value"), "$.timestamp") < "1995-07-01"
      ev.filter(early).coalesce(1).write.text(s"$root/early/$t")
      ev.filter(!early).coalesce(1).write.text(s"$root/late/$t")
      ev.coalesce(1).write.text(s"$root/all/$t")
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

  private def rows(root: String, spec: StreamFingerprint.TableSpec) =
    spark.read.parquet(s"$root/out/${spec.name}")

  /** Every table of the runs under `a` and `b` has the same keys, at
    * least one, and the same final value per key. */
  private def assertSameFinals(a: String, b: String): Unit =
    StreamFingerprint.tables.foreach { spec =>
      def finals(root: String) = StreamFingerprint.finals(rows(root, spec), spec)
      val (fa, fb) = (finals(a), finals(b))
      val keys = fa.count()
      assert(keys > 0, spec.name)
      assert(fb.count() == keys, spec.name)
      assert(StreamFingerprint.fingerprint(fa, spec) ==
        StreamFingerprint.fingerprint(fb, spec), spec.name)
    }

  /** The uninterrupted two-feed run of each topology, made once. */
  private val twoFeed = scala.collection.mutable.Map.empty[Boolean, String]
  private def twoFeedRun(shared: Boolean): String =
    twoFeed.getOrElseUpdate(shared, {
      val root = Files.createTempDirectory("graft-restart-once").toString
      run(root, shared)("early", "late")
      root
    })

  Seq("reference" -> false, "shared" -> true).foreach { case (topology, shared) =>
    test(s"$topology topology: a run restarted from its checkpoint ends " +
        "with the uninterrupted run's metric tables") {
      val once = twoFeedRun(shared)
      val twice = Files.createTempDirectory("graft-restart-twice").toString
      run(twice, shared)("early")
      uncommitLastBatch(s"$twice/ckpt")
      run(twice, shared)("late")
      // a re-delivered batch rewrites its own rows, never adds to them
      StreamFingerprint.tables.foreach { spec =>
        assert(rows(twice, spec).count() == rows(once, spec).count(), spec.name)
      }
      assertSameFinals(once, twice)
    }

    test(s"$topology topology: one feed of all events ends with the " +
        "two-feed run's metric tables") {
      val one = Files.createTempDirectory("graft-restart-one").toString
      run(one, shared)("all")
      assertSameFinals(twoFeedRun(shared), one)
    }
  }
}
