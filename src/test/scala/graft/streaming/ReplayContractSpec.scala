package graft.streaming

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.{SparkSpec, Tables}
import graft.operators.{LogisticGd, NaiveBayes, Pin, Ridge, Similarity,
  TextDedup, Winnowing}

/** The replay side of [[MicroBatch]]'s at-least-once contract (stated
  * in its scaladoc): a sink can see the same (batchId, rows) again, so
  * every streaming twin must satisfy one of:
  *
  *  (a) DETERMINISTIC RE-DELIVERY — re-running the twin over the same
  *      source content reproduces byte-identical rows per batchId, so
  *      any batchId-keyed idempotent sink (upsert, batchId-partitioned
  *      parquet — MetricsSink.idempotentParquetWriter) converges.
  *      Asserted by running each twin END TO END twice (fresh query,
  *      same micro-batch splits) and comparing every delivered batch.
  *  (b) KEY-UPSERT CONVERGENCE (update-mode aggregates) — within every
  *      delivered batch the documented sink key appears exactly once,
  *      so re-upserting a replayed batch is a no-op. Asserted on the
  *      captured batches, on top of (a).
  *  (c) an internal batchId NO-OP GUARD (StreamSketchInventory) —
  *      asserted by double-applying the same batchId directly.
  *
  * One suite, every twin — the per-spec parity tests prove streamed ≡
  * batch; this one proves the sink-side replay story.
  */
class ReplayContractSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Canonical batch image: every row rendered and sorted — float
    * determinism is part of the contract, so exact strings. */
  private def canon(df: DataFrame): Vector[String] =
    df.collect().map(_.toString).sorted.toVector

  /** Drives a twin twice through the runner over the same micro-batch
    * splits: `writer` shapes the streaming input into its writer,
    * `perBatch` maps each delivered batch. Returns both
    * (batchId → rows) captures. */
  private def runTwice[T: Encoder](chunks: Seq[Seq[T]])(
      writer: DataFrame => DataStreamWriter[Row],
      perBatch: DataFrame => DataFrame)
      : (Map[Long, Vector[String]], Map[Long, Vector[String]]) = {
    def once(): Map[Long, Vector[String]] = {
      val in = MemoryStream[T](spark)
      val rec = mutable.LinkedHashMap.empty[Long, Vector[String]]
      val q = MicroBatch.start(writer(in.toDF())) {
        (b, id) => rec(id) = canon(perBatch(b))
      }
      try chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      finally q.stop()
      rec.toMap
    }
    (once(), once())
  }

  /** A batch operator applied to each micro-batch of the input, its
    * columns named `cols`. */
  private def runTwiceBatch[T: Encoder](chunks: Seq[Seq[T]], cols: String*)(
      op: DataFrame => DataFrame)
      : (Map[Long, Vector[String]], Map[Long, Vector[String]]) =
    runTwice[T](chunks)(
      _.toDF(cols: _*).writeStream.trigger(Trigger.ProcessingTime(50L)), op)

  /** A DataFrame-returning twin, its output delivered as is. */
  private def runTwiceDf[T: Encoder](chunks: Seq[Seq[T]], mode: String)(
      build: DataFrame => DataFrame)
      : (Map[Long, Vector[String]], Map[Long, Vector[String]]) =
    runTwice[T](chunks)(build(_).writeStream.outputMode(mode), identity)

  private def assertDeterministic(name: String,
      runs: (Map[Long, Vector[String]], Map[Long, Vector[String]])): Unit = {
    val (a, b) = runs
    assert(a.values.exists(_.nonEmpty), s"$name: no rows delivered — vacuous")
    assert(a == b,
      s"$name: re-delivery diverged.\n run1=$a\n run2=$b")
  }

  /** (b): within every delivered batch the sink key is unique, so a
    * key-upsert of a replayed batch is a no-op. Keys are the leading
    * `keyLen` rendered fields. */
  private def assertKeyUpsertSafe(name: String,
      capture: Map[Long, Vector[String]], keyLen: Int): Unit =
    capture.foreach { case (id, rows) =>
      val keys = rows.map(_.stripPrefix("[").split(",").take(keyLen).mkString(","))
      assert(keys.distinct.size == keys.size,
        s"$name batch $id: duplicate sink key within one delivery — " +
          "key-upsert replay would be lossy")
    }

  // ---- (a) batch operators run per micro-batch ----------------------

  test("StreamDsir replay: deterministic re-delivery per batchId") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang")).cache()
    val m = StreamDsir.trainModels(docs.filter(col("lang") === "en"), docs)
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val chunks = Seq(rows.take(rows.length / 2), rows.drop(rows.length / 2))
    assertDeterministic("StreamDsir",
      runTwiceBatch(chunks, "doc_id", "text")(StreamDsir.weigh(_, m)))
  }

  test("StreamQc expectation replay: deterministic re-delivery") {
    val rows = Seq(
      (1L, "good doc", "en", "src1", 8L),
      (2L, "bad lang here", "xx", "src2", 13L),
      (3L, "ok document", "de", "src3", 11L),
      (4L, "mismatch", "fr", "src4", 77L))
    val chunks = Seq(rows.take(2), rows.drop(2))
    assertDeterministic("StreamQc", runTwiceBatch(chunks,
      "doc_id", "text", "lang", "source", "n_chars")(StreamQc.expectations))
  }

  test("StreamWinnow replay: deterministic re-delivery") {
    val index = Winnowing.index(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")).cache()
    val batch = Seq(
      (101L, "prefix words gamma delta epsilon zeta eta theta suffix tail"),
      (102L, "ten one nine two eight three seven four six five"))
    val chunks = Seq(batch.take(1), batch.drop(1))
    assertDeterministic("StreamWinnow",
      runTwiceBatch(chunks, "doc_id", "text")(
        Winnowing.probeAgainst(_, index, k = 3, w = 4, minShared = 1)))
  }

  test("StreamEmbPairs replay: deterministic re-delivery") {
    val corpus = Seq((1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (101L, Array(1.0f, 0.0f, 0.0f)), (102L, Array(0.1f, 1.0f, 0.0f)),
      (103L, Array(0.0f, 0.0f, 1.0f)), (104L, Array(0.9f, 0.1f, 0.0f)))
    val chunks = Seq(batch.take(2), batch.drop(2))
    assertDeterministic("StreamEmbPairs",
      runTwiceBatch(chunks, "vec_id", "embedding")(
        Similarity.incrementalPairs(_, corpus, 0.5, nBlocks = 4)))
  }

  test("StreamIncrementalDedup replay: deterministic re-delivery") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "alpha  beta gamma delta epsilon zeta eta theta"),
      (102L, "one two three four five six seven eight nine inserted ten"),
      (103L, "completely different content with no overlap at all"))
    val chunks = Seq(batch.take(2), batch.drop(2))
    Pin.scope {
      val index = TextDedup.corpusIndex(corpus, n = 3, maxBucket = 1000)
      assertDeterministic("StreamIncrementalDedup",
        runTwiceBatch(chunks, "doc_id", "text")(
          TextDedup.incrementalDedup(_, index, threshold = 0.4)))
    }
  }

  // ---- (a)+(b) DataFrame-returning twins ------------------------------

  test("Avro decode replay: stateless wire decode re-delivers identically") {
    import graft.model.Schemas
    import graft.plans.AvroExpressions.{avro_decode, avro_encode}
    val events = Seq(
      graft.model.OrderEvent("e1", "order_created", "t1", "o1",
        Some("c1"), Some("created"), None, None, Some("ts1")),
      graft.model.OrderEvent("e2", "order_delivered", "t2", "o2",
        None, None, None, None, Some("ts2")),
      graft.model.OrderEvent("e3", "order_created", "t3", "o3",
        Some("c3"), None, None, None, Some("ts3")))
    val batch = events.toDF()
    val payloads = batch
      .select(avro_encode(struct(batch.columns.map(col): _*),
        "OrderEvent", "com.ecommerce.events", schemaId = 42,
        wireSchema = Some(Schemas.orderWire)).as("v"))
      .as[Array[Byte]].collect().toSeq
    val chunks = Seq(payloads.take(2), payloads.drop(2))
    assertDeterministic("AvroDecode",
      runTwiceDf(chunks, "append") { in =>
        in.toDF("value")
          .select(avro_decode(col("value"), Schemas.orderWire,
            "OrderEvent", "com.ecommerce.events", schemaId = 42).as("r"))
          .select("r.*")
      })
  }

  test("StreamNb replay: stateless classification re-delivers identically") {
    def cluster(label: Int, c: Array[Double], n: Int, seed: Int) = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        ((label * 1000 + i).toLong, label,
          c.map(x => (x + rnd.nextGaussian() * 0.2).toFloat))
      }
    }
    val train = (cluster(0, Array(0.0, 0.0, 0.0), 20, 1) ++
      cluster(1, Array(3.0, -2.0, 1.0), 20, 2))
      .toDF("vec_id", "label", "embedding").cache()
    val model = StreamNb.collectModel(
      NaiveBayes.gaussStats(train), NaiveBayes.logPriors(train))
    val testRows = cluster(0, Array(0.1, 0.0, 0.1), 6, 4) ++
      cluster(1, Array(2.9, -2.0, 1.1), 6, 5)
    val chunks = Seq(testRows.take(6), testRows.drop(6))
    assertDeterministic("StreamNb",
      runTwiceDf(chunks, "append") { in =>
        StreamNb.classified(in.toDF("vec_id", "label", "embedding"), model)
      })
  }

  test("StreamScore replay: stateless scoring re-delivers identically") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs", "en"),
      (2L, "le chat est sur la table et il dort tranquillement", "fr"),
      (3L, "the cat is on the mat and the dog is in the yard", "en"),
      (4L, "a a a a a 1 2 3 4 5 6 7 8 9", "und"))
    val batch = docs.toDF("doc_id", "text", "lang")
    val feat = LogisticGd.qualityFeatures(batch)
      .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
    val w = LogisticGd.fit(feat, LogisticGd.QualityDim, iters = 3, lr = 2.0)
    val chunks = Seq(docs.take(2), docs.drop(2))
    assertDeterministic("StreamScore",
      runTwiceDf(chunks, "append") { in =>
        StreamScore.scored(in.toDF("doc_id", "text", "lang"), w.toSeq)
          .select("doc_id", "score", "pred")
      })
  }

  test("StreamRidge replay: update-mode sums are key-upsert safe") {
    val rows = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_returnflag").as("g"),
        col("l_quantity").cast("long").as("x1"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("x2"),
        floor(col("l_extendedprice") + 0.5).cast("long").as("y"))
      .as[(String, Long, Long, Long)].collect().toSeq
    val chunks = Seq(rows.take(rows.length / 2), rows.drop(rows.length / 2))
    val runs = runTwiceDf(chunks, "update") { in =>
      Ridge.sums(in.toDF("g", "x1", "x2", "y"))
    }
    assertDeterministic("StreamRidge", runs)
    assertKeyUpsertSafe("StreamRidge", runs._1, keyLen = 1)
  }

  test("StreamKmv replay: update-mode estimates are key-upsert safe") {
    val rows: Seq[(String, Long)] =
      (1 to 100).map(i => ("a", (i % 40).toLong)) ++
        (1 to 50).map(i => ("b", (i % 7).toLong))
    val chunks = Seq(rows.take(75), rows.drop(75))
    val runs = runTwiceDf(chunks, "update") { in =>
      StreamKmv.distinctEstimates(in.toDF("key", "item"), "item", "key", 16)
        .toDF()
    }
    assertDeterministic("StreamKmv", runs)
    assertKeyUpsertSafe("StreamKmv", runs._1, keyLen = 1)
  }

  test("StreamMarkov replay: additive transitions re-deliver identically " +
      "(batchId-guarded counter sink contract)") {
    val rows = Seq(
      StreamMarkov.Ev(1, "view", ts("2024-01-01 10:00:00"), 1),
      StreamMarkov.Ev(1, "cart", ts("2024-01-01 10:05:00"), 2),
      StreamMarkov.Ev(2, "view", ts("2024-01-01 10:01:00"), 3),
      StreamMarkov.Ev(1, "purchase", ts("2024-01-01 10:10:00"), 4),
      StreamMarkov.Ev(2, "purchase", ts("2024-01-01 10:12:00"), 5))
    val chunks = Seq(rows.take(3), rows.drop(3))
    assertDeterministic("StreamMarkov",
      runTwiceDf(chunks, "append")(in => StreamMarkov.transitions(
        in.withWatermark("ts", "10 minutes")).toDF()))
  }

  test("StreamScd2 replay: closed versions carry a natural upsert key") {
    def t(m: Int) = new Timestamp(1704100000000L + m * 60000L)
    val log = Seq(
      (1L, "x", t(0), 1L), (1L, "x", t(1), 2L), (1L, "y", t(2), 3L),
      (1L, "x", t(3), 4L), (2L, "a", t(1), 5L))
    val chunks = Seq(log.take(2), log.drop(2))
    val runs = runTwiceDf(chunks, "append") { in =>
      StreamScd2.closedVersions(in.toDF("key", "state", "ts", "tie")
          .withWatermark("ts", "10 minutes"))
        .toDF().select(col("key"), col("version"), col("state"),
          col("effective_from"), col("effective_to"))
    }
    assertDeterministic("StreamScd2", runs)
    assertKeyUpsertSafe("StreamScd2", runs._1, keyLen = 2) // (key, version)
  }

  test("StreamAsOf replay: enriched purchases re-deliver identically") {
    val rows = Seq(
      StreamAsOf.UserEvent(1, "view", ts("2024-01-01 10:00:00"), 10.0),
      StreamAsOf.UserEvent(1, "view", ts("2024-01-01 10:20:00"), 10.0),
      StreamAsOf.UserEvent(1, "purchase", ts("2024-01-01 10:30:00"), 10.0),
      StreamAsOf.UserEvent(2, "purchase", ts("2024-01-01 10:30:00"), 10.0))
    val chunks = Seq(rows.take(2), rows.drop(2))
    assertDeterministic("StreamAsOf",
      runTwiceDf(chunks, "append")(in =>
        StreamAsOf.enrichedPurchases(
          in.withWatermark("ts", "10 minutes")).toDF()))
  }

  test("StreamSession replay: closed sessions re-deliver identically") {
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:20:00"), 1L),
      (ts("2024-01-01 12:30:00"), 1L), (ts("2024-01-01 10:05:00"), 2L),
      (ts("2024-01-01 14:00:00"), 1L), (ts("2024-01-01 14:00:00"), 2L))
    val chunks = Seq(rows.take(2), rows.slice(2, 4), rows.drop(4))
    assertDeterministic("StreamSession",
      runTwiceDf(chunks, "append") { in =>
        StreamSession.sessions(in.toDF("ts", "user_id")
          .withWatermark("ts", "10 minutes"), gap = "30 minutes")
      })
  }

  test("OrderLifecycle replay: transitions re-deliver identically") {
    val rows = Seq(
      OrderLifecycle.OrderPing("o1", "created", ts("2024-01-01 10:00:00")),
      OrderLifecycle.OrderPing("o1", "shipped", ts("2024-01-01 10:05:00")),
      OrderLifecycle.OrderPing("o2", "created", ts("2024-01-01 10:01:00")),
      OrderLifecycle.OrderPing("o1", "delivered", ts("2024-01-01 10:30:00")))
    val chunks = Seq(rows.take(2), rows.drop(2))
    assertDeterministic("OrderLifecycle",
      runTwiceDf(chunks, "append")(in =>
        OrderLifecycle.transitions(
          in.withWatermark("event_timestamp", "10 minutes")).toDF()))
  }

  test("StreamTrending replay: complete-mode counts are key-upsert safe") {
    val rows = Seq(
      (ts("2024-01-01 10:01:00"), "spark spark flink"),
      (ts("2024-01-01 10:04:00"), "spark kafka"),
      (ts("2024-01-01 10:12:00"), "flink flink kafka"))
    val chunks = Seq(rows.take(2), rows.drop(2))
    val runs = runTwiceDf(chunks, "complete") { in =>
      StreamTrending.termCounts(in.toDF("ts", "text")
          .withWatermark("ts", "10 minutes"))
        .select(col("window.start").as("ws"), col("term"), col("cnt"))
    }
    assertDeterministic("StreamTrending", runs)
    assertKeyUpsertSafe("StreamTrending", runs._1, keyLen = 2) // (ws, term)
  }

  test("StreamCuration replay: curated docs re-deliver identically") {
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val t0 = ts("2024-01-01 10:00:00")
    val rows = Seq(
      (1L, "en", s"alpha $body", t0),
      (2L, "en", s"alpha $body", t0),
      (3L, "fr", s"beta $body contact me@example.com", t0),
      (5L, "de", "too short", t0))
    val chunks = Seq(rows.take(2), rows.drop(2))
    assertDeterministic("StreamCuration",
      runTwiceDf(chunks, "append") { in =>
        StreamCuration.curate(in.toDF("doc_id", "lang", "text", "ts")
          .withWatermark("ts", "10 minutes"))
      })
  }

  test("StreamDedup replay: survivors re-deliver identically") {
    val t0 = ts("2024-01-01 10:00:00")
    val rows = Seq(
      (1L, "alpha beta gamma", t0), (2L, "alpha beta gamma", t0),
      (3L, "unique text here", t0), (4L, "alpha beta gamma", t0))
    val chunks = Seq(rows.take(2), rows.drop(2))
    assertDeterministic("StreamDedup",
      runTwiceDf(chunks, "append") { in =>
        StreamDedup.contentDedup(in.toDF("doc_id", "text", "ts")
          .withWatermark("ts", "10 minutes"))
          .select("doc_id", "fp")
      })
  }

  // ---- (c) internal batchId no-op guard --------------------------------

  test("StreamSketchInventory replay: same batchId applied twice is a no-op") {
    val inv = new StreamSketchInventory.Inventory(spark)
    val rows = (0 until 3).flatMap(d => (0 until 20).map(u =>
      (Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
        (d * 10 + u).toLong))).toDF("ts", "user_id")
    inv.apply(0L, rows)
    val once = inv.slidingEstimates(7).collect().map(_.toString).sorted.toSeq
    inv.apply(0L, rows) // at-least-once re-delivery of the same batchId
    val twice = inv.slidingEstimates(7).collect().map(_.toString).sorted.toSeq
    assert(once == twice, "batchId guard failed: replay changed the state")
    assert(once.nonEmpty)
  }
}
