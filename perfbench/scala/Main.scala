package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.model.Schemas
import graft.sources.{EventParser, EventSource, FileEventSource}
import graft.streaming._

/** One benchmark run in a fresh JVM: set up, build the seeded inputs
  * (cached per workload and seed), run the timed work, check the
  * outputs, and write a raw JSON record that `run.py` turns into
  * metrics. The program is driven only through its public entry
  * points; layers are timed from outside.
  *
  *   --workload stream_ref_paced|batch_queries
  *   --seed N --trace 0|1 --tables DIR --inputs DIR --work DIR --out FILE
  *   --files N (files per topic) --queries NAME,NAME,... (batch, in order)
  *   --record 1 (write batch results)
  *   --inputs-only 1 (build the workload's inputs and exit)
  */
object Main {

  final case class Opts(workload: String, seed: Long, trace: Boolean,
      tables: String, inputs: String, work: String, out: String,
      files: Int, queries: Seq[String], record: Boolean, inputsOnly: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("trace") == "1", m("tables"),
      m("inputs"), m("work"), m("out"), m.getOrElse("files", "10").toInt,
      m.getOrElse("queries", "").split(',').filter(_.nonEmpty).toSeq, m.get("record").contains("1"),
      m.get("inputs-only").contains("1"))
  }

  val topics: Seq[String] = Seq("orders", "items", "payments")
  private val schemaOf = Map(
    "orders" -> Schemas.order, "items" -> Schemas.item, "payments" -> Schemas.payment)

  private val cfg = WindowConfig(watermark = Some("10 minutes"))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Trace.enabled = o.trace
    val record = mutable.LinkedHashMap[String, Any]("workload" -> o.workload)
    val exit =
      try { run(o, record); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          record("error") = s"${e.getClass.getName}: ${e.getMessage}"
          1
      }
    record("spans") = Trace.records
    record("trace_overhead_ms") = Trace.overheadNs.sum / 1e6
    write(Paths.get(o.out), Json.render(record))
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(exit)
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(o: Opts, record: mutable.Map[String, Any]): Unit = {
    val workload: Workload = o.workload match {
      case "stream_ref_paced" => new PacedWorkload(o)
      case "batch_queries" => new BatchWorkload(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (o.inputsOnly) return workload.buildInputs(session(o))
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e9
    }
    // Set-up: from JVM start to the first timed operation (session, the
    // workload's sink and sources, its warm-up), less the time spent
    // building the seeded inputs, which are cached outside timed runs.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = phase("session")(session(o))
    phase("prepare")(workload.prepare(spark))
    phase("inputs")(workload.buildInputs(spark))
    phase("warmup")(workload.warmup(spark))
    record("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - phases("inputs")
    SinkStats.reset()
    Trace.clear()

    val exec = new ExecListener
    if (o.trace) spark.sparkContext.addSparkListener(exec)
    JvmClock.resetHeapPeak()
    val cpu0 = JvmClock.procCpuS
    val jit0 = JvmClock.jitMs
    val gc0 = JvmClock.gcMs
    val t0 = System.nanoTime()
    Trace.rooted(s"workload.${o.workload}")(workload.timed(spark, record))
    record("wall_s") = (System.nanoTime() - t0) / 1e9
    record("proc_cpu_s") = JvmClock.procCpuS - cpu0
    record("jvm") = Map("jit_ms" -> (JvmClock.jitMs - jit0), "gc_ms" -> (JvmClock.gcMs - gc0),
      "heap_peak_mb" -> JvmClock.heapPeakMb)
    if (o.trace) {
      exec.awaitQuiet()
      record("exec") = exec.snapshot
      record("layers") = workload.traceLayers(spark)
    }
    record("check") = phase("check")(workload.check(spark))
    record("phase_s") = phases
  }

  // ---------------------------------------------------------------------
  // inputs

  /** Events of one topic from the program's own generator, ordered by
    * event time then id (the order the feeder slices them in). Cached
    * next to the tables they come from. */
  private def topicEvents(spark: SparkSession, tables: String, topic: String): Array[String] = {
    val cache = Paths.get(tables, s"events-$topic.txt")
    if (Files.exists(cache)) return Files.readAllLines(cache, UTF_8).asScala.toArray
    val df = topic match {
      case "orders" => EventGenerator.orderEvents(spark, tables)
      case "items" => EventGenerator.itemEvents(spark, tables)
      case "payments" => EventGenerator.paymentEvents(spark, tables)
    }
    val events = df.select(col("value"),
        get_json_object(col("value"), "$.timestamp").as("ts"),
        get_json_object(col("value"), "$.event_id").as("id"))
      .orderBy("ts", "id").collect().map(_.getString(0))
    val tmp = Paths.get(tables, s".events-$topic.txt.${ProcessHandle.current.pid}")
    Files.write(tmp, events.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, cache, StandardCopyOption.ATOMIC_MOVE)
    events
  }

  private val malformed = Seq(
    """{"event_id": "broken""",
    "not a json line",
    """{"order_id": "1", "timestamp": "2001-01-01T00:00:00"}""")

  /** Slices each topic into `files` files by event time. The seed picks
    * the in-file order, which 2% of events are re-sent in a later file,
    * and where the 0.1% malformed lines go. Writes
    * `<staged>/<topic>/<topic>-NNNNN.json` and a manifest. */
  def stage(spark: SparkSession, tables: String, staged: Path, files: Int, seed: Long): Unit = {
    if (Files.exists(staged.resolve("manifest.json"))) return
    val tmp = staged.resolveSibling(staged.getFileName.toString + ".tmp")
    deleteTree(tmp)
    val manifest = topics.zipWithIndex.flatMap { case (topic, ti) =>
      val rng = new scala.util.Random(seed * 1000003L + ti)
      val events = topicEvents(spark, tables, topic)
      val per = math.ceil(events.length.toDouble / files).toInt
      val slices = Array.tabulate(files)(k =>
        mutable.ArrayBuffer[String](events.slice(k * per, (k + 1) * per).toIndexedSeq: _*))
      val valid = slices.map(_.size)
      val dups = Array.fill(files)(0)
      for (k <- 0 until files - 1; e <- slices(k).toList if rng.nextDouble() < 0.02) {
        val j = k + 1 + rng.nextInt(files - 1 - k)
        slices(j) += e; dups(j) += 1
      }
      val bad = Array.fill(files)(0)
      (0 until math.max(1, math.round(events.length * 0.001).toInt)).foreach { n =>
        val j = rng.nextInt(files)
        slices(j) += malformed(n % malformed.size); bad(j) += 1
      }
      Files.createDirectories(tmp.resolve(topic))
      (0 until files).map { k =>
        val name = f"$topic-$k%05d.json"
        val lines = rng.shuffle(slices(k).toSeq)
        Files.write(tmp.resolve(topic).resolve(name), (lines.mkString("\n") + "\n").getBytes(UTF_8))
        Map("name" -> name, "topic" -> topic, "index" -> k, "events" -> valid(k),
          "dups" -> dups(k), "malformed" -> bad(k))
      }
    }
    write(tmp.resolve("manifest.json"), Json.render(manifest))
    deleteTree(staged)
    Files.move(tmp, staged, StandardCopyOption.ATOMIC_MOVE)
  }

  final case class Staged(name: String, topic: String, index: Int, events: Int,
      dups: Int, malformed: Int)

  def manifest(staged: Path): Seq[Staged] = {
    val s = new String(Files.readAllBytes(staged.resolve("manifest.json")), UTF_8)
    // flat objects of known keys: parse with a regex rather than a JSON dependency
    """\{([^}]*)\}""".r.findAllMatchIn(s).map { m =>
      val kv = """"(\w+)":("([^"]*)"|-?\d+)""".r.findAllMatchIn(m.group(1))
        .map(x => x.group(1) -> Option(x.group(3)).getOrElse(x.group(2))).toMap
      Staged(kv("name"), kv("topic"), kv("index").toInt, kv("events").toInt,
        kv("dups").toInt, kv("malformed").toInt)
    }.toSeq
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
    }

  /** Batch twin of FileEventSource over a directory of event files. */
  def staticSource(dir: String): EventSource = new EventSource {
    def load(spark: SparkSession): DataFrame =
      spark.read.text(dir).select(
        get_json_object(col("value"), "$.order_id").as("key"),
        col("value"),
        coalesce(to_timestamp(get_json_object(col("value"), "$.timestamp")),
          current_timestamp()).as("event_timestamp"))
  }

  // ---------------------------------------------------------------------
  // correctness

  /** Canonical rows of one metric table: the StreamFingerprint column
    * scope, doubles rounded to 6 dp, rendered as text. */
  def canonical(df: DataFrame, spec: StreamFingerprint.TableSpec): Seq[String] = {
    val cols = (spec.keys ++ spec.values).map { c =>
      val v = df.schema(c).dataType match {
        case DoubleType => round(col(c), 6).cast("string")
        case _ => col(c).cast("string")
      }
      coalesce(v, lit("null"))
    }
    df.select(concat_ws("|", cols: _*)).collect().map(_.getString(0)).toSeq.sorted
  }

  def spec(table: String): StreamFingerprint.TableSpec =
    StreamFingerprint.tables.find(_.name == table).get

  /** Expected finals: the topology's transforms run in batch over the
    * same files (the parser drops malformed lines, the dedup re-sends). */
  def expected(spark: SparkSession, srcRoot: String): StreamApp.Pipelines = {
    val (o, i, p) = StreamApp.ingest(spark, staticSource(s"$srcRoot/orders"),
      staticSource(s"$srcRoot/items"), staticSource(s"$srcRoot/payments"))
    // no watermark in batch (dropDuplicatesWithinWatermark is
    // streaming-only); over distinct events the plain dedup is the same
    StreamApp.build(o, i, p, WindowConfig())
  }

  def pipeOf(p: StreamApp.Pipelines, table: String): DataFrame = table match {
    case "real_time_funnel" => p.funnel
    case "gmv_metrics" => p.gmv
    case "drop_off_analysis" => p.dropOff
    case "payment_metrics" => p.payment
  }

  // ---------------------------------------------------------------------
  // stream runs

  /** Time inside the sink writer, per micro-batch. */
  object SinkStats {
    val writeNs = new AtomicLong
    val batches = new AtomicInteger
    val failed = new AtomicInteger
    def reset(): Unit = { writeNs.set(0); batches.set(0); failed.set(0) }
  }

  def timedWriter(inner: String => (DataFrame, Long) => Unit): String => (DataFrame, Long) => Unit =
    path => {
      val w = inner(path)
      (df, id) => {
        val t0 = System.nanoTime()
        try Trace.span("sink.write")(w(df, id))
        catch { case e: Throwable => SinkStats.failed.incrementAndGet(); throw e }
        finally { SinkStats.writeNs.addAndGet(System.nanoTime() - t0); SinkStats.batches.incrementAndGet() }
      }
    }

  /** What a finished set of streaming queries leaves for the runner. */
  def streamRecord(ckptRoot: String, startMs: Long, qs: Seq[StreamingQuery],
      files: Seq[Map[String, Any]], warmEndMs: Long): Map[String, Any] = Map(
    "checkpoint_root" -> ckptRoot,
    "start_ms" -> startMs,
    "queries" -> qs.map(q => Map("name" -> q.name, "id" -> q.id.toString,
      "failed" -> q.exception.isDefined)),
    "warm_end_ms" -> warmEndMs,
    "progress" -> qs.flatMap(_.recentProgress.map(p => Json.Raw(p.json))),
    "files" -> files)

  /** Stops the queries concurrently; each stop waits for its query's thread. */
  def stopAll(qs: Seq[StreamingQuery]): Unit = {
    val ts = qs.map(q => new Thread(() => q.stop()))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Waits until every query has read all `lines` of its topic's files
    * published so far (without waiting for the no-data micro-batches
    * that follow), or until a query fails. */
  def awaitLines(qs: Seq[StreamingQuery], lines: Map[String, Long]): Unit = {
    def topic(q: StreamingQuery) =
      if (q.name.contains("gmv")) "items" else if (q.name.contains("payment")) "payments" else "orders"
    def done(q: StreamingQuery) = q.exception.isDefined ||
      q.recentProgress.map(_.numInputRows).sum >= lines(topic(q))
    val deadline = System.currentTimeMillis() + 120000
    while (!qs.forall(done) && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def linesOf(files: Seq[Staged]): Map[String, Long] =
    files.groupBy(_.topic).map { case (t, fs) => t -> fs.map(f => (f.events + f.dups + f.malformed).toLong).sum }

  def publish(src: Path, dst: Path, mtimeMs: Long): Unit = {
    val tmp = dst.resolveSibling("." + dst.getFileName + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeMs))
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Parse throughput and corrupt-line count over the staged files. */
  def sourceLayer(spark: SparkSession, staged: String): Map[String, Any] = {
    val raws = topics.map(t => t -> staticSource(s"$staged/$t").load(spark).cache())
    val lines = raws.map(_._2.count()).sum
    val secs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Trace.span("sources.parse") {
        raws.foreach { case (t, r) => EventParser.parse(r, schemaOf(t)).count() }
      }
      (System.nanoTime() - t0) / 1e9
    }.sorted
    raws.foreach(_._2.unpersist(true))
    Map("parse_events_per_s" -> lines / secs(1), "corrupt_rows" -> corruptRows(spark, staged))
  }

  def corruptRows(spark: SparkSession, staged: String): Long = topics.map { t =>
    EventParser.corruptRecords(staticSource(s"$staged/$t").load(spark), schemaOf(t)).count()
  }.sum

  def sinkLayer: Map[String, Any] = Map(
    "write_ms" -> SinkStats.writeNs.get / 1e6,
    "sink_batches" -> SinkStats.batches.get,
    "failed_batches" -> SinkStats.failed.get)

  trait Workload {
    def prepare(spark: SparkSession): Unit
    def buildInputs(spark: SparkSession): Unit
    /** Untimed: lets JIT and code generation settle before timing. */
    def warmup(spark: SparkSession): Unit = ()
    def timed(spark: SparkSession, record: mutable.Map[String, Any]): Unit
    def traceLayers(spark: SparkSession): Map[String, Any]
    def check(spark: SparkSession): Map[String, Any]
  }

  /** Reference 4-query topology, JDBC upsert into in-memory Derby, fed
    * open-loop: file k of every topic is due k seconds after the start. */
  final class PacedWorkload(o: Opts) extends Workload {
    private val warmFiles = 2
    /** Processing-time trigger interval. The reference uses 2 s, but its
      * micro-batches take 6-8 s on 4 cores, so at 2 s they run back to
      * back, at a phase to the feed that differs from run to run, and the
      * latency percentiles spread past the benchmark's bound. At 10 s every
      * micro-batch starts on a multiple of the interval, in step with the
      * feed. */
    private val triggerMs = 10000L
    private val staged = Paths.get(o.inputs, "staged")
    private val src = Paths.get(o.work, "src")
    private val ckpt = s"${o.work}/checkpoints"
    private var url = ""
    private var lateMs = 0L
    private val derbyProps = new java.util.Properties

    def prepare(spark: SparkSession): Unit = {
      topics.foreach(t => Files.createDirectories(src.resolve(t)))
      url = createTables(spark, "perfbench")
    }

    private def createTables(spark: SparkSession, db: String): String = {
      System.setProperty("derby.system.home", s"${o.work}/derby")
      val url = s"jdbc:derby:memory:$db;create=true"
      val conn = java.sql.DriverManager.getConnection(url, derbyProps)
      try {
        val empty = StreamApp.build(
          EventParser.parse(emptyRaw(spark), Schemas.order),
          EventParser.parse(emptyRaw(spark), Schemas.item),
          EventParser.parse(emptyRaw(spark), Schemas.payment), cfg)
        StreamFingerprint.tables.foreach { s =>
          val cols = sqlSafe(pipeOf(empty, s.name)).schema.fields.map { f =>
            s"${f.name} ${derbyType(f.dataType)}"
          }
          conn.createStatement().execute(
            s"CREATE TABLE ${s.name} (${cols.mkString(", ")}, PRIMARY KEY (${s.keys.mkString(", ")}))")
        }
      } finally conn.close()
      url
    }

    private def emptyRaw(spark: SparkSession): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("key", StringType), StructField("value", StringType),
          StructField("event_timestamp", TimestampType))))

    private def derbyType(t: DataType): String = t match {
      case TimestampType => "TIMESTAMP"
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case DoubleType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case _ => "VARCHAR(512)"
    }

    /** Derby has no array type: arrays go to the sink as comma lists. */
    private def sqlSafe(df: DataFrame): DataFrame =
      df.schema.fields.foldLeft(df) {
        case (d, StructField(n, _: ArrayType, _, _)) => d.withColumn(n, concat_ws(",", col(n)))
        case (d, _) => d
      }

    def buildInputs(spark: SparkSession): Unit = stage(spark, o.tables, staged, o.files, o.seed)

    private def start(spark: SparkSession, url: String, src: Path, ckpt: String) = {
      val writer = timedWriter { path =>
        val table = path.split('/').last
        val w = MetricsSink.jdbcUpsertWriter(url, table, spec(table).keys, derbyProps,
          dialect = MetricsSink.UpsertDialect.UpdateThenInsert)
        (df, id) => w(sqlSafe(df), id)
      }
      StreamApp.run(spark, FileEventSource(src.resolve("orders").toString),
        FileEventSource(src.resolve("items").toString),
        FileEventSource(src.resolve("payments").toString),
        s"${o.work}/out", cfg,
        SinkConfig(triggerInterval = s"${triggerMs / 1000} seconds", checkpointRoot = ckpt),
        shared = false, writer)
    }

    private var qs = Seq.empty[StreamingQuery]
    private var warmEndMs = 0L

    /** Publishes the first `warmFiles` files of each topic and starts the
      * queries, whose first micro-batch takes them; the timed feed
      * continues on the same queries. */
    override def warmup(spark: SparkSession): Unit = {
      val warm = manifest(staged).filter(_.index < warmFiles)
      warm.foreach { f =>
        publish(staged.resolve(f.topic).resolve(f.name), src.resolve(f.topic).resolve(f.name),
          System.currentTimeMillis())
      }
      qs = Trace.span("streaming.start")(start(spark, url, src, ckpt))
      awaitLines(qs, linesOf(warm))
      warmEndMs = System.currentTimeMillis()
    }

    def timed(spark: SparkSession, record: mutable.Map[String, Any]): Unit = {
      val files = manifest(staged).filter(_.index >= warmFiles)
      // processing-time triggers fire on multiples of the interval since
      // the epoch: start the feed half a second past such a multiple, so
      // the phase between feed and triggers is the same in every run
      val startMs = (System.currentTimeMillis() / triggerMs + 1) * triggerMs + 500
      val published = Trace.span("feeder.run") {
        files.sortBy(_.index).map { f =>
          val due = startMs + (f.index - warmFiles) * 1000L
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val now = System.currentTimeMillis()
          publish(staged.resolve(f.topic).resolve(f.name), src.resolve(f.topic).resolve(f.name), now)
          lateMs = math.max(lateMs, now - due)
          Map("name" -> f.name, "topic" -> f.topic, "due_ms" -> due,
            "published_ms" -> now, "events" -> f.events)
        }
      }
      Trace.span("streaming.drain")(awaitLines(qs, linesOf(manifest(staged))))
      stopAll(qs)
      record("stream") = streamRecord(ckpt, startMs, qs, published, warmEndMs)
    }

    def traceLayers(spark: SparkSession): Map[String, Any] = Map(
      "sources" -> sourceLayer(spark, staged.toString),
      "sink" -> sinkLayer,
      "feeder" -> Map("late_max_ms" -> lateMs))

    def check(spark: SparkSession): Map[String, Any] = {
      val exp = expected(spark, staged.toString)
      val tables = StreamFingerprint.tables.map { s =>
        val db = spark.read.jdbc(url, s.name, derbyProps)
        val actual = db.toDF(db.columns.map(_.toLowerCase).toIndexedSeq: _*)
        s.name -> Map("expected" -> canonical(pipeOf(exp, s.name), s),
          "actual" -> canonical(actual, s), "keys" -> s.keys.size)
      }.toMap
      Map("tables" -> tables, "corrupt_rows" -> corruptRows(spark, staged.toString))
    }
  }

  /** The batch queries named by `--queries`, each once after the
    * warm-up, in that order. The timed execution is CrossPlan's order-independent fingerprint (row
    * count, sum and xor of xxhash64 over every column of every row): a
    * full materialization whose result the runner checks against
    * fingerprints recorded from DuckDB-verified runs. `--record 1` also
    * writes each result for that verification. */
  final class BatchWorkload(o: Opts) extends Workload {
    private lazy val entries = SparkEntry.queries

    def prepare(spark: SparkSession): Unit = ()

    def buildInputs(spark: SparkSession): Unit = ()

    /** As graft.Bench: touch every table and push one small query through
      * the whole pipeline, so the first timed query does not also pay
      * for session-wide bootstrap. */
    override def warmup(spark: SparkSession): Unit = {
      graft.Tables.names.foreach(t => graft.Tables.load(spark, o.tables, t).limit(1).count())
      entries("q1_agg")(spark, o.tables).count()
      cleanup(spark)
    }

    private def cleanup(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    def timed(spark: SparkSession, record: mutable.Map[String, Any]): Unit = {
      val runs = o.queries.map { name =>
        spark.sparkContext.setLocalProperty("perfbench.unit", name)
        val t0 = System.nanoTime()
        val df = Trace.span("queries.construct")(entries(name)(spark, o.tables))
        val t1 = System.nanoTime()
        Trace.span("queries.plan")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val fp = Trace.span("queries.exec")(graft.CrossPlan.fingerprint(df))
        val t3 = System.nanoTime()
        spark.sparkContext.setLocalProperty("perfbench.unit", null)
        cleanup(spark)
        Map("name" -> name, "construct_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
          "exec_s" -> (t3 - t2) / 1e9, "rows" -> fp.rows, "fingerprint" -> s"${fp.rows}/${fp.sum}/${fp.xor}")
      }
      record("runs") = runs
    }

    def traceLayers(spark: SparkSession): Map[String, Any] = Map.empty

    def check(spark: SparkSession): Map[String, Any] =
      if (!o.record) Map.empty
      else {
        o.queries.foreach { name =>
          entries(name)(spark, o.tables).write.mode("overwrite").parquet(s"${o.work}/results/$name")
          cleanup(spark)
        }
        val oracles = SparkEntry.oracleSql
        Map("results" -> s"${o.work}/results",
          "oracle_sql" -> o.queries.flatMap(n => oracles.get(n).map(n -> _)).toMap)
      }
  }
}
