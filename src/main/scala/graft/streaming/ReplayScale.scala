package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Pin, Similarity, TextDedup}

/** Replay contract at SCALE for the heaviest streaming twins (r14
  * verdict item 7; widened r16): the 18 ReplayContractSpec twins pin
  * streamed ≡ batch at test scale; this main runs a heavy twin once at
  * a real SF (default the generated sf1: ~10× the graded sweep) and
  * emits one machine-checkable JSON line — order-independent
  * fingerprint of the streamed results vs the batch operator's on the
  * same inputs, micro-batch count, and the state-store plateau (these
  * twins are deliberately STATELESS — the corpus is a static pinned
  * relation and the [[MicroBatch]] runner applies the batch operator,
  * so stateOperators must stay empty; a nonzero row count here means
  * the topology regressed into keeping state).
  *
  * Twins, each a batch operator run per micro-batch:
  *  - `dedup` (default): `TextDedup.incrementalDedup` over documents.
  *    The batch side is ONE whole-set call — per-document verdicts
  *    against the static corpus are batching-invariant.
  *  - `emb_pairs`: `Similarity.incrementalPairs` over embeddings. Its
  *    contract is per-micro-batch (intra-batch near-dup edges belong
  *    to the batch that introduced them; cross-batch edges are the
  *    index-append's concern — see its scaladoc), so the batch side
  *    applies it to the SAME one-file slices the stream consumed and
  *    unions — proving the streaming topology (trigger pacing, the
  *    runner, idempotent sink) delivers exactly the batch operator's edges
  *    at scale with zero state.
  *
  * Usage: runMain graft.streaming.ReplayScale [sfDir] [slices] [twin]
  * (twin: dedup | emb_pairs). Exits 1 on fingerprint mismatch or
  * unexpected state.
  */
object ReplayScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/localdata/sf1")
    val slices = if (args.length > 1) args(1).toInt else 8
    val twin = if (args.length > 2) args(2) else "dedup"
    val spark = graft.Harness.session(
      // micro_batches and state_rows_max below are read from
      // recentProgress, which retains only the LAST N progress events
      // (default 100) — a run with more triggers than that would
      // under-count batches and could miss an early nonzero
      // stateOperators row count, passing state_rows_max == 0 falsely.
      // Retain far more events than any slices argument produces.
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000")
    val out = Files.createTempDirectory("graft-replay-scale").toString

    // 90% static corpus, 10% arriving stream — the production split
    // these twins model (a day's ingest against the stored corpus)
    val (all, idCol) = twin match {
      case "dedup" =>
        (graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("text")), "doc_id")
      case "emb_pairs" =>
        (graft.Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding")), "vec_id")
      case other => sys.error(s"unknown twin '$other' (dedup | emb_pairs)")
    }
    val corpus = Pin(all.filter(pmod(col(idCol), lit(10)) =!= 0), Pin.Wide)
    val corpusRows = corpus.count()
    // Deterministic slice membership — xxhash64(id) mod slices (Spark's
    // xxhash64 with its default seed 42), one file per slice:
    // `repartition(slices)` round-robins over the INPUT row order,
    // which is shuffle-dependent across GenData runs — the emb_pairs
    // edge set is per-micro-batch by contract, so its record
    // fingerprint silently tracked the generator's physical row order
    // instead of the data. Hash-keyed slices make both twins' archived
    // fingerprints reproducible from regenerated inputs.
    // (Streamed-vs-batch comparison never depended on this — both
    // sides consume the same files — only cross-run record stability
    // did.) Pinned: the per-slice loop re-reads this selection
    // `slices` times (r16 advice — unpinned it rescanned the source
    // per slice, serializing one job into `slices`).
    Pin.scope {
      val streamSel = Pin(all.filter(pmod(col(idCol), lit(10)) === 0), Pin.Wide)
      (0 until slices).foreach { k =>
        streamSel.filter(pmod(xxhash64(col(idCol)), lit(slices)) === k)
          .repartition(1).sortWithinPartitions(col(idCol))
          .write.mode(if (k == 0) "overwrite" else "append")
          .parquet(s"$out/stream")
      }
    }
    // micro_batches in the record counts on one file per slice: Spark
    // writes no file for an empty task, so a slice with zero matching
    // ids would silently shrink the batch count (r16 advice) — fail
    // loudly instead (pick fewer slices for a tiny input).
    val sliceFiles = new java.io.File(s"$out/stream").listFiles()
      .count(_.getName.endsWith(".parquet"))
    require(sliceFiles == slices,
      s"expected $slices slice files, found $sliceFiles — an empty " +
        "slice wrote no file; use fewer slices for this input")
    val streamRows = spark.read.parquet(s"$out/stream").count()

    val t0 = System.nanoTime()
    // the corpus side is built once, in this scope; batch pins end with their batch
    val (batches, stateRowsMax, wall, streamedFp, batchFp) = Pin.scope {
      val streamed = spark.readStream
        .schema(spark.read.parquet(s"$out/stream").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$out/stream")
      val perBatch: DataFrame => DataFrame = twin match {
        case "dedup" =>
          val index = TextDedup.corpusIndex(corpus, n = 3, maxBucket = 1000)
          TextDedup.incrementalDedup(_, index, threshold = 0.5)
        case "emb_pairs" =>
          Similarity.incrementalPairs(_, corpus, 0.35, nBlocks = 8)
      }
      val write = MetricsSink.idempotentParquetWriter(s"$out/results")
      val q = MicroBatch.start(
          streamed.writeStream.trigger(Trigger.ProcessingTime(200L))) {
        (batch, batchId) => write(perBatch(batch), batchId)
      }
      q.processAllAvailable()
      val progresses = q.recentProgress.toSeq
      val stateRowsMax = progresses
        .flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L)
      val batches = progresses.count(_.numInputRows > 0)
      q.stop()
      val wall = (System.nanoTime() - t0) / 1e9

      val batchResult = twin match {
        case "dedup" => perBatch(spark.read.parquet(s"$out/stream"))
        case "emb_pairs" =>
          // same one-file slices the maxFilesPerTrigger=1 stream consumed
          val files = new java.io.File(s"$out/stream").listFiles()
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          require(files.nonEmpty,
            s"$sfDir produced an empty stream subset — nothing to replay")
          files.map(f => perBatch(spark.read.parquet(f.getPath)))
            .reduce(_ unionByName _)
      }
      (batches, stateRowsMax, wall,
        graft.CrossPlan.fingerprint(
          spark.read.parquet(s"$out/results").drop("batch_id")),
        graft.CrossPlan.fingerprint(batchResult))
    }
    val ok = streamedFp == batchFp && stateRowsMax == 0L && streamedFp.rows > 0
    println(s"""{"metric":"replay_scale","twin":"$twin",""" +
      s""""sf":"$sfDir","corpus_rows":$corpusRows,"stream_rows":$streamRows,""" +
      s""""micro_batches":$batches,"state_rows_max":$stateRowsMax,""" +
      s""""wall_sec":${math.rint(wall * 10) / 10},""" +
      s""""streamed_fp":{"rows":${streamedFp.rows},"sum":"${streamedFp.sum}","xor":${streamedFp.xor}},""" +
      s""""batch_fp":{"rows":${batchFp.rows},"sum":"${batchFp.sum}","xor":${batchFp.xor}},""" +
      s""""replay_contract_match":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
