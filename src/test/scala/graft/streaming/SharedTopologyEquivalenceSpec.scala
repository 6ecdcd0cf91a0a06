package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sql.MetricViews
import graft.model.Schemas
import graft.sources.{EventParser, FileEventSource}

/** `StreamApp.run(shared = true)` — the first-class shared-topology
  * mode — must be output-equivalent to the reference 4-query topology.
  * The 4-query topology's per-sink semantics ARE the batch processors
  * (each query = dedup + processor + sink), so the streamed shared
  * outputs are pinned against the batch processors over the same
  * parsed input, on the windows the append-mode watermark finalized,
  * exactly. gmv and payment run the identical pipeline in both modes
  * and are checked the same way.
  */
class SharedTopologyEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  test("run(shared = true) starts 3 queries, run(shared = false) starts 4") {
    val root = Files.createTempDirectory("graft-mode").toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/ev", 1)
    def srcs = (FileEventSource(s"$root/ev/orders"),
      FileEventSource(s"$root/ev/items"),
      FileEventSource(s"$root/ev/payments"))
    val cfg = WindowConfig(watermark = Some("10 minutes"))
    val (o, i, p) = srcs
    val sharedQs = StreamApp.run(spark, o, i, p, s"$root/m1", cfg,
      SinkConfig(triggerInterval = "1 seconds",
        checkpointRoot = s"$root/ck1"), shared = true)
    try assert(sharedQs.size == 3) finally sharedQs.foreach(_.stop())
    val refQs = StreamApp.run(spark, o, i, p, s"$root/m2", cfg,
      SinkConfig(triggerInterval = "1 seconds",
        checkpointRoot = s"$root/ck2"), shared = false)
    try assert(refQs.size == 4) finally refQs.foreach(_.stop())
  }

  test("run(shared = true) writes all four tables through the writer passed in") {
    val root = Files.createTempDirectory("graft-shared-writer").toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/ev", 1)
    val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val queries = StreamApp.run(spark,
      FileEventSource(s"$root/ev/orders"), FileEventSource(s"$root/ev/items"),
      FileEventSource(s"$root/ev/payments"), s"$root/metrics",
      WindowConfig(watermark = Some("10 minutes")),
      SinkConfig(triggerInterval = "1 seconds", checkpointRoot = s"$root/ckpt"),
      shared = true,
      writer = path => (_, _) => { written.add(path); () })
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())
    assert(written.asScala == StreamFingerprint.tables
      .map(t => s"$root/metrics/${t.name}").toSet)
    // nothing reached the output root except through the writer
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/metrics")))
  }

  test("both topologies write the four tables with the same columns, " +
      "and the metric views read the shared outputs") {
    val root = Files.createTempDirectory("graft-mode-schema").toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/ev", 1)
    def tables(shared: Boolean) = {
      val out = s"$root/m_$shared"
      val queries = StreamApp.run(spark,
        FileEventSource(s"$root/ev/orders"), FileEventSource(s"$root/ev/items"),
        FileEventSource(s"$root/ev/payments"), out,
        WindowConfig(watermark = Some("10 minutes")),
        SinkConfig(triggerInterval = "1 seconds", checkpointRoot = s"$root/ck_$shared"),
        shared = shared)
      try queries.foreach(_.processAllAvailable())
      finally queries.foreach(_.stop())
      StreamFingerprint.tables.map(t => spark.read.parquet(s"$out/${t.name}"))
    }
    val (ref, shared) = (tables(shared = false), tables(shared = true))
    def columns(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    StreamFingerprint.tables.zip(ref.zip(shared)).foreach { case (t, (r, s)) =>
      assert(columns(s) == columns(r), t.name)
    }
    val Seq(funnel, dropOff, gmv, payment) = shared
    MetricViews.register(spark, funnel, gmv, dropOff, payment)
    assert(MetricViews.activeAlerts(spark).columns.contains("sample_order_ids"))
    MetricViews.activeAlerts(spark).collect()
  }

  test("run(shared = true) without a watermark fails before starting a query") {
    val root = Files.createTempDirectory("graft-mode-nowm").toString
    val err = intercept[IllegalArgumentException](StreamApp.run(spark,
      FileEventSource(s"$root/ev/orders"), FileEventSource(s"$root/ev/items"),
      FileEventSource(s"$root/ev/payments"), s"$root/m", shared = true))
    assert(err.getMessage.contains("shared topology needs a watermark"))
    assert(spark.streams.active.isEmpty)
  }

  test("shared-mode streamed outputs equal the 4-query semantics " +
      "(batch processors) on finalized windows") {
    val root = Files.createTempDirectory("graft-shared-eq").toString
    EventGenerator.writeAll(spark, "/root/testdata/sf0.001", s"$root/ev", 1)
    val cfg = WindowConfig(watermark = Some("10 minutes"))
    val queries = StreamApp.run(spark,
      FileEventSource(s"$root/ev/orders"),
      FileEventSource(s"$root/ev/items"),
      FileEventSource(s"$root/ev/payments"),
      s"$root/metrics", cfg,
      SinkConfig(triggerInterval = "1 seconds",
        checkpointRoot = s"$root/ckpt"), shared = true)
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())

    def parsed(topic: String, schema: org.apache.spark.sql.types.StructType) =
      EventParser.parse(
        spark.read.text(s"$root/ev/$topic").select(
          lit("k").as("key"), $"value",
          to_timestamp(get_json_object($"value", "$.timestamp"))
            .as("event_timestamp")),
        schema).dropDuplicates("event_id")
    val orders = parsed("orders", Schemas.order).cache()

    // funnel: exact columns equal on every emitted window
    val funnel = spark.read.parquet(s"$root/metrics/real_time_funnel")
    assert(funnel.count() > 0)
    val expectedFunnel = Processors.funnel(orders, cfg)
      .select($"window_start", $"total_orders", $"orders_with_items",
        $"orders_with_payment", $"items_conversion_rate",
        $"payment_conversion_rate")
      .as[(java.sql.Timestamp, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    funnel.select($"window_start", $"total_orders", $"orders_with_items",
        $"orders_with_payment", $"items_conversion_rate",
        $"payment_conversion_rate")
      .as[(java.sql.Timestamp, Long, Long, Long, Double, Double)]
      .collect().foreach { got =>
        assert(expectedFunnel(got._1) == got, s"funnel window ${got._1}")
      }

    // drop-off: equal on every emitted (window, status)
    val dropOff = spark.read.parquet(s"$root/metrics/drop_off_analysis")
    assert(dropOff.count() > 0)
    def dropCols(df: org.apache.spark.sql.DataFrame) =
      df.select($"window_start", $"order_status", $"dropped_orders",
          $"unique_customers_affected", $"sample_order_ids", $"alert_triggered")
        .as[(java.sql.Timestamp, String, Long, Long, Seq[String], Boolean)]
        .collect()
    val expectedDrop = dropCols(Processors.dropOff(orders, cfg))
      .map(r => (r._1, r._2) -> r).toMap
    dropCols(dropOff).foreach { got =>
      assert(expectedDrop((got._1, got._2)) == got,
        s"drop-off ${(got._1, got._2)}")
    }

    // gmv + payment: identical pipelines in both modes; latest
    // refinement per window must equal the batch processor
    val items = parsed("items", Schemas.item).cache()
    val expectedGmv = Processors.gmv(items, cfg)
      .select($"window_start", $"gmv", $"item_count")
      .as[(java.sql.Timestamp, Double, Long)]
      .collect().map(r => r._1 -> r).toMap
    val gmvLatest = spark.read.parquet(s"$root/metrics/gmv_metrics")
      .groupBy($"window_start")
      .agg(max(struct($"item_count", $"gmv")).as("m"))
      .select($"window_start", $"m.gmv", $"m.item_count")
      .as[(java.sql.Timestamp, Double, Long)].collect()
    assert(gmvLatest.nonEmpty)
    gmvLatest.foreach { got =>
      assert(expectedGmv(got._1) == got, s"gmv window ${got._1}")
    }
  }
}
