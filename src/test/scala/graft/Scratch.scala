package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch stage-attribution harness for the r17 optimization round —
  * NOT part of the driver contract; times one SparkEntry query with
  * the noop sink (guide §1.4), and with SCRATCH_STAGES set prints its
  * per-stage CPU. Usage: runMain graft.Scratch <sfDir> <query> */
object Scratch {
  /** Per-Spark-stage metrics listener: accumulates (stage name → cpu,
    * runtime, tasks) while a timed region runs. */
  class StageMetrics extends org.apache.spark.scheduler.SparkListener {
    case class M(var cpuSec: Double = 0, var runSec: Double = 0, var tasks: Int = 0,
      var shuffleReadMB: Double = 0, var shuffleWriteMB: Double = 0, var rows: Long = 0)
    val byStage = scala.collection.mutable.LinkedHashMap.empty[String, M]
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString("|")
      val site = si.details.linesIterator
        .find(l => l.contains("graft") && !l.contains("Scratch"))
        .getOrElse("").trim.take(70)
      val key = f"s${si.stageId}%-5d $site ${scopes.take(70)}"
      val m = byStage.getOrElseUpdate(key, M())
      val tm = si.taskMetrics
      m.cpuSec += tm.executorCpuTime / 1e9
      m.runSec += tm.executorRunTime / 1e3
      m.tasks += si.numTasks
      m.shuffleReadMB += tm.shuffleReadMetrics.totalBytesRead / 1e6
      m.shuffleWriteMB += tm.shuffleWriteMetrics.bytesWritten / 1e6
      m.rows += tm.outputMetrics.recordsWritten
    }
    def report(top: Int = 14): Unit = {
      val s = byStage.toSeq.sortBy(-_._2.cpuSec).take(top)
      s.foreach { case (k, m) =>
        println(f"    ${m.cpuSec}%7.2f cpu ${m.runSec}%7.2f run ${m.tasks}%5d tasks " +
          f"shR=${m.shuffleReadMB}%8.1fMB shW=${m.shuffleWriteMB}%8.1fMB  $k")
      }
    }
  }

  def time(spark: SparkSession, name: String, df: => DataFrame, runs: Int = 2): Unit = {
    val times = (1 to runs).map { i =>
      val lst = if (i == runs) Some(new StageMetrics) else None
      lst.foreach(spark.sparkContext.addSparkListener)
      def gcMs(): Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum
      }
      val g0 = gcMs()
      spark.sparkContext.setJobDescription(name)
      val r = Harness.timed(df.write.format("noop").mode("overwrite").save())
      if (sys.env.contains("SCRATCH_STAGES"))
        println(s"    [run $i] $r gcWall=${(gcMs() - g0) / 1e3}")
      lst.foreach { l =>
        Thread.sleep(500) // let the listener bus drain
        spark.sparkContext.removeSparkListener(l)
        if (sys.env.contains("SCRATCH_STAGES")) { println(s"  [last-run stages] $name"); l.report() }
      }
      r
    }
    Bench.fastest(times) match {
      case Some(RunRecord(_, Some(w), Some(c))) =>
        println(f"STAGE $name%-40s wall=$w%7.2f cpu=$c%7.1f")
      case _ => println(f"STAGE $name%-40s ${times.flatMap(_.error).head}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val which = args(1)
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)

    // a full declared query, 3 runs like Bench
    time(spark, which, SparkEntry.queries(which)(spark, sfDir), runs = 3)
    spark.stop()
  }
}
