package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkEnv
import graft.Harness

/** The one materialization API: pins are filled at the pin, a scope
  * releases what was pinned inside it, and nothing else in the main
  * sources persists, checkpoints or releases a frame. */
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

  test("only Pin and Harness persist, checkpoint or release frames in the main sources") {
    val calls = Seq(".cache()", ".persist(", "localCheckpoint(", "unpersist(")
    val walk = Files.walk(Paths.get("src/main/scala"))
    val users =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && {
          val src = Files.readString(p)
          calls.exists(src.contains)
        })
        .map(_.getFileName.toString).toSet
      finally walk.close()
    assert(users == Set("Pin.scala", "Harness.scala"))
  }
}
