package graft.streaming

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Stateful-tier soak (round-10 verdict item 8): the 100 TB claim for
  * the streaming state tier rested on SHAPE arguments (bounded per-key
  * state, TTL-gated keyspace) — this spec measures the bound. It runs
  * StreamKmv on the RocksDB state store against a rate source whose
  * keyspace CHURNS (each key is hot for ~1 s of stream time, then
  * never returns — the session-id pattern the TTL policy exists for)
  * and records the state-row curve across the soak, asserting:
  *
  *   1. state PLATEAUS: live state rows stay near the TTL window's
  *      key count while total distinct keys seen grows linearly —
  *      without the TTL the two curves are the same line;
  *   2. the plateau holds in the tail: the last third of the soak
  *      never exceeds the middle third by more than run slack;
  *   3. RocksDB is really the provider (provider metrics present).
  *
  * A concurrent StreamDsir query (frozen LMs, stateless foreachBatch)
  * soaks alongside to pin ITS bound the only way a stateless query
  * needs: zero state operators after minutes of batches.
  *
  * Duration: SPARK_GRAFT_SOAK_SEC (default 150 s — "multi-minute"
  * with two queries sharing the session). The recorded curve is
  * printed at the end for BASELINE.md.
  */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  private val soakSec =
    sys.env.getOrElse("SPARK_GRAFT_SOAK_SEC", "150").toInt

  test("StreamKmv state plateaus under TTL on RocksDB while keyspace churns") {
    val ckpt = Files.createTempDirectory("graft-soak").toString
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // 2000 rows/s; key changes every 2000 values => ~1 fresh key/s
    // that then goes idle forever. TTL 20 s => ~20-25 live keys at
    // steady state; without TTL the key count grows ~1/s unbounded.
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "2000").load()
      .select(concat(lit("k"), (col("value") / 2000).cast("long"))
        .as("session_id"),
        (col("value") % 977).cast("string").as("item"))
    val est = StreamKmv.distinctEstimates(
      rate, itemCol = "item", keyCol = "session_id",
      k = 64, stateTtl = Some("20 seconds"))

    // stateless DSIR scorer soaking alongside on its own rate stream
    val lmDocs = (0L until 40L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta token$i corpus words"))
      .toDF("doc_id", "text")
    val models = StreamDsir.trainModels(
      lmDocs.filter(col("doc_id") % 2 === 0), lmDocs)
    val dsirIn = spark.readStream.format("rate")
      .option("rowsPerSecond", "200").load()
      .select(col("value").as("doc_id"),
        concat(lit("alpha beta gamma doc "), (col("value") % 37).cast("string"),
          lit(" epsilon zeta")).as("text"))
    var dsirBatches = 0L
    val dsirQ = MicroBatch.start(
        dsirIn.writeStream.trigger(Trigger.ProcessingTime(1000L))) {
      (batch, _) => dsirBatches += StreamDsir.weigh(batch, models).count() }

    val kmvQ = est.writeStream
      .outputMode("update")
      .queryName("soak_kmv")
      .option("checkpointLocation", s"$ckpt/kmv")
      .format("memory")
      .start()

    // poll the progress every ~5 s; each sample records (elapsed,
    // state rows, rocksdb metric presence)
    val curve = ArrayBuffer.empty[(Int, Long)]
    var sawRocks = false
    try {
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < soakSec) {
        Thread.sleep(5000)
        val p = Option(kmvQ.lastProgress)
        val rows = p.toSeq.flatMap(_.stateOperators.toSeq)
          .map(_.numRowsTotal).sum
        sawRocks ||= p.toSeq.flatMap(_.stateOperators.toSeq)
          .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
          .exists(_.toLowerCase.contains("rocksdb"))
        curve += (((System.nanoTime() - t0) / 1e9).toInt -> rows)
      }
    } finally {
      kmvQ.stop(); dsirQ.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    info(s"state-row curve (sec -> liveKeys): " +
      curve.map { case (s, n) => s"$s:$n" }.mkString(", "))
    println(s"[soak] state-row curve: " +
      curve.map { case (s, n) => s"$s:$n" }.mkString(", "))

    assert(sawRocks, "RocksDB provider metrics never appeared")
    // keys seen grows ~1/s; live state must sit near the TTL window
    val keysSeen = soakSec.toLong // ~1 fresh key per second
    val tail = curve.filter(_._1 >= soakSec * 2 / 3).map(_._2)
    val mid = curve.filter(c => c._1 >= soakSec / 3 && c._1 < soakSec * 2 / 3)
      .map(_._2)
    assert(tail.nonEmpty && mid.nonEmpty, s"curve too sparse: $curve")
    // 1. plateau ≪ keyspace: live keys ≤ TTL window + batch jitter,
    //    far under the ~soakSec keys the stream has produced
    assert(tail.max <= keysSeen / 2,
      s"state grew with the keyspace: tail max ${tail.max} vs $keysSeen seen")
    assert(tail.max <= 60,
      s"live keys ${tail.max} far above the ~25-key TTL window")
    // 2. the tail never exceeds the mid plateau by more than slack
    assert(tail.max <= mid.max + 15,
      s"state still growing: mid max ${mid.max}, tail max ${tail.max}")
    // the soak actually processed data throughout
    assert(tail.max > 0)
    // stateless twin: batches flowed and NO state operator exists
    assert(dsirBatches > 0, "DSIR scorer processed no rows")
    val dsirState = Option(dsirQ.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq)
    assert(dsirState.isEmpty,
      s"stateless DSIR query unexpectedly carries state: $dsirState")
  }
}
