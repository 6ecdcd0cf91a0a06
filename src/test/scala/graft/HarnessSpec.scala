package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkEnv

/** The run harness every main goes through: a failed run never reads as
  * a fast one, cleanup leaves no RDD block behind, and no main builds a
  * session of its own. */
class HarnessSpec extends SparkSpec {

  test("a body that throws gives a failed record with its error and no times") {
    val r = Harness.timed(throw new IllegalStateException("boom\nsecond line"))
    assert(!r.ok)
    assert(r.error.contains("java.lang.IllegalStateException: boom"))
    assert(r.wallSec.isEmpty && r.cpuSec.isEmpty)
    val good = Harness.timed(spark.range(10).count())
    assert(good.ok && good.wallSec.exists(_ >= 0))
  }

  test("release leaves no persistent RDD and no RDD block") {
    def rddBlocks = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD)
    val cached = spark.range(1000).toDF("id").cache()
    cached.count()
    spark.range(1000).toDF("id").localCheckpoint().count()
    assert(spark.sparkContext.getPersistentRDDs.size >= 2)
    assert(rddBlocks.nonEmpty)
    Harness.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(rddBlocks.isEmpty, rddBlocks)
  }

  test("only Harness builds a SparkSession in the main sources") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val builders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(_.getFileName.toString).toSet
      finally walk.close()
    assert(builders == Set("Harness.scala"))
  }
}
