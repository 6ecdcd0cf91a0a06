package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkEnv
import graft.Harness

/** The one materialization API: pins are filled at the pin, a scope
  * releases what was pinned inside it, and nothing else in the main
  * sources persists, checkpoints or releases a frame — nor runs a
  * micro-batch outside the runner's scope. */
class PinSpec extends graft.SparkSpec {

  private def rddBlocks = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).toSet
  private def frame(k: Int) = spark.range(0, 1000, 1, 4).selectExpr(s"id * $k AS v")

  test("a scope releases both pin kinds made inside it, on return and on throw") {
    Harness.release(spark)
    val n = Pin.scope {
      val w = Pin(frame(2), Pin.Wide)
      val c = Pin(frame(3), Pin.Narrow)
      assert(spark.sparkContext.getPersistentRDDs.size == 2)
      w.count() + c.count()
    }
    assert(n == 2000)
    assert(rddBlocks.isEmpty, rddBlocks)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    intercept[IllegalStateException] {
      Pin.scope {
        Pin(frame(4), Pin.Wide)
        Pin(frame(5), Pin.Narrow)
        throw new IllegalStateException("boom")
      }
    }
    assert(rddBlocks.isEmpty, rddBlocks)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a pin made before a scope survives it") {
    Harness.release(spark)
    val outer = Pin(frame(6), Pin.Narrow)
    val before = rddBlocks
    assert(before.nonEmpty)
    Pin.scope(Pin(frame(7), Pin.Wide).count())
    assert(rddBlocks == before)
    assert(outer.count() == 1000)
    Harness.release(spark)
  }

  test("a Wide pin's blocks are in the block manager before any downstream action") {
    Harness.release(spark)
    Pin(frame(8), Pin.Wide)
    // one cached block per partition of the 4-partition range
    assert(rddBlocks.size == 4, rddBlocks)
    Harness.release(spark)
  }

  test("isEmpty of a filled Wide pin reads its row count and runs no job") {
    Harness.release(spark)
    val sc = spark.sparkContext
    def jobs(group: String) = sc.statusTracker.getJobIdsForGroup(group)
    Pin.scope {
      val full = Pin(frame(9), Pin.Wide)
      val empty = Pin(frame(10).filter("v < 0"), Pin.Wide)
      sc.setJobGroup("pin-isEmpty", "probe")
      assert(!Pin.isEmpty(full) && Pin.isEmpty(empty))
      // job events arrive in order: once a later job shows, any job the probe ran shows too
      sc.setJobGroup("pin-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9
      while (jobs("pin-marker").isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs("pin-marker").nonEmpty && jobs("pin-isEmpty").isEmpty)
      assert(!Pin.isEmpty(frame(11)) && Pin.isEmpty(full.filter("v < 0")))
    }
  }

  test("ksDrift on two different inputs leaves no persistent RDD") {
    Harness.release(spark)
    val s = spark
    import s.implicits._
    def snaps(shift: Int) = (1 to 200).map(i =>
        (if (i % 2 == 0) "ref" else "cur", (i % 13 + shift).toLong, s"t$i word"))
      .toDF("snap", "n_chars", "text")
    graft.queries.FeatureQueries.ksDrift(snaps(1)).collect()
    graft.queries.FeatureQueries.ksDrift(snaps(5)).collect()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs)
  }

  /** Names of the main-source files whose text contains any of `calls`. */
  private def mainSourcesCalling(calls: String*): Set[String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && {
        val src = Files.readString(p)
        calls.exists(src.contains)
      })
      .map(_.getFileName.toString).toSet
    finally walk.close()
  }

  test("only Pin and Harness persist, checkpoint or release frames in the main sources") {
    assert(mainSourcesCalling(".cache()", ".persist(", "localCheckpoint(",
      "unpersist(") == Set("Pin.scala", "Harness.scala"))
  }

  test("only the micro-batch runner calls foreachBatch in the main sources") {
    assert(mainSourcesCalling(".foreachBatch") == Set("MicroBatch.scala"))
  }

  test("only the ingest dedup and the soak watermark a stream, and only " +
      "KeyedState sets an event-time timeout, in the main sources") {
    assert(mainSourcesCalling(".withWatermark(") ==
      Set("StreamApp.scala", "SoakMain.scala"))
    assert(mainSourcesCalling("EventTimeTimeout") == Set("KeyedState.scala"))
  }

  test("every stream write goes through a batchId-idempotent writer: " +
      "no main source appends") {
    assert(mainSourcesCalling("mode(\"append\")").isEmpty)
  }

  test("document, embedding and token operators read their table's own " +
      "columns: no main source declares a column-name parameter for them") {
    assert(mainSourcesCalling("idCol: String", "textCol: String",
      "vecCol: String", "tokCol: String").isEmpty)
  }
}
