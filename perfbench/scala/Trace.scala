package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Minimal JSON rendering for the raw record the runner reads. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => str(other.toString)
  }

  /** Already-rendered JSON (Spark's own progress JSON). */
  final case class Raw(json: String)
}

/** Spans at the layer boundaries the benchmark calls into. Off unless
  * the run is traced; kept in memory and written with the record. */
object Trace {
  @volatile var enabled = false
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  /** Parent for spans opened on threads the benchmark does not own
    * (micro-batch threads): the workload's root span. */
  @volatile var root: Long = 0L
  /** Time spent inside the benchmark's own listeners and span code. */
  val overheadNs = new LongAdder

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(root)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, t0, t1))
        overheadNs.add(System.nanoTime() - t1)
      }
    }

  /** Opens the workload's root span; spans on other threads hang off it. */
  def rooted[T](name: String)(body: => T): T =
    span(name) {
      if (enabled) root = stack.get.head
      try body finally root = 0L
    }

  /** Drops what the untimed warm-up recorded. */
  def clear(): Unit = { spans.clear(); overheadNs.reset() }

  def records: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}

/** JVM-wide clocks, read through the platform MXBeans. */
object JvmClock {
  def procCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Task, stage and job counts from Spark's public listener events,
  * attributed to a unit of work: a batch query (the `perfbench.unit`
  * local property) or a micro-batch (query id + batch id). */
final class ExecListener extends SparkListener {
  final class Acc {
    var taskCpuNs = 0L; var tasks = 0L; var stages = 0L; var jobs = 0L
    var shuffleWrite = 0L; var spill = 0L; var singleTaskCpuNs = 0L
    val signatures: mutable.Map[String, Int] = mutable.Map.empty
    def repeated: Long = signatures.values.map(c => (c - 1).toLong).sum
  }
  private val units = mutable.Map.empty[String, Acc]
  private val stageUnit = mutable.Map.empty[Int, String]
  private val stageCpu = mutable.Map.empty[(Int, Int), Long]

  private def unitOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty("perfbench.unit")).orElse(
        Option(p.getProperty("sql.streaming.queryId")).map { q =>
          s"stream:$q:${p.getProperty("streaming.sql.batchId", "?")}"
        })
    }.getOrElse("other")

  @volatile private var events = 0L

  /** Listener events arrive asynchronously; wait until none came for 300 ms. */
  def awaitQuiet(): Unit = {
    var seen = -1L
    while (seen != events) { seen = events; Thread.sleep(300) }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized { events += 1; body }
    Trace.overheadNs.add(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val u = unitOf(e.properties)
    units.getOrElseUpdate(u, new Acc).jobs += 1
    e.stageIds.foreach(stageUnit(_) = u)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val acc = units.getOrElseUpdate(stageUnit.getOrElse(e.stageId, "other"), new Acc)
      acc.taskCpuNs += m.executorCpuTime
      acc.tasks += 1
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val k = (e.stageId, e.stageAttemptId)
      stageCpu(k) = stageCpu.getOrElse(k, 0L) + m.executorCpuTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val acc = units.getOrElseUpdate(stageUnit.getOrElse(si.stageId, "other"), new Acc)
    acc.stages += 1
    val cpu = stageCpu.remove((si.stageId, si.attemptNumber())).getOrElse(0L)
    if (si.numTasks == 1) acc.singleTaskCpuNs += cpu
    // plan signature: the operator scopes of the stage's RDDs + width
    val sig = si.rddInfos.map(r => r.scope.map(_.name).getOrElse(r.name))
      .sorted.mkString("|") + s"#${si.numTasks}"
    acc.signatures(sig) = acc.signatures.getOrElse(sig, 0) + 1
  }

  def snapshot: Map[String, Map[String, Any]] = synchronized {
    units.map { case (u, a) =>
      u -> Map[String, Any]("task_cpu_s" -> a.taskCpuNs / 1e9, "tasks" -> a.tasks,
        "stages" -> a.stages, "jobs" -> a.jobs, "shuffle_write_bytes" -> a.shuffleWrite,
        "spill_bytes" -> a.spill, "single_task_cpu_s" -> a.singleTaskCpuNs / 1e9,
        "repeated_stages" -> a.repeated)
    }.toMap
  }
}
