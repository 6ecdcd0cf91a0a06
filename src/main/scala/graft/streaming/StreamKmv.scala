package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Kmv

/** Streaming KMV distinct-cardinality sketch — the incremental twin
  * of operators.Kmv: per key, maintain the bottom-k distinct
  * normalized hashes as flatMapGroupsWithState state (k doubles — the
  * bounded-model-state shape, no growing distinct set), emit the
  * refreshed estimate every micro-batch that touches the key.
  *
  * Because the synopsis is an order statistic of a DETERMINISTIC
  * md5-derived hash, the streamed state after any prefix of the data
  * equals the batch synopsis of that prefix exactly — not
  * approximately (spec-pinned). That also makes the sketch mergeable
  * across streams the way q95 merges it across sets.
  *
  * 100 TB shape: state per key is k doubles regardless of stream
  * volume; each batch touches only the keys present in the batch; a
  * map-side combine reduces each input partition to at most k rows
  * per key BEFORE the state shuffle (the bottom-k of a union is the
  * bottom-k of per-partition bottom-k's — exactness preserved), so a
  * hot key costs tasks×k shuffled rows per batch, not its raw row
  * count. Per-KEY state is bounded, but the KEYSPACE is not: pass
  * `stateTtl` (e.g. "2 hours") to expire synopses for keys idle
  * longer than that — the right policy for high-churn keyspaces
  * (session ids); leave None for closed keyspaces (categories) where
  * every key's synopsis should live for the query's lifetime. The TTL
  * is processing time, so this keeps its own `flatMapGroupsWithState`
  * rather than [[KeyedState]]'s event-time lifecycle: its input has no
  * event-time column to watermark, and it emits in Update mode.
  */
object StreamKmv {

  final case class In(key: String, u: Double)
  final case class Syn(values: Array[Double])
  final case class Est(key: String, support: Long, hk: Double,
      estimate: Double)

  def step(k: Int, ttl: Option[String])(key: String, rows: Iterator[In],
      state: GroupState[Syn]): Iterator[Est] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val prev: Array[Double] =
        if (state.exists) state.get.values else Array.empty[Double]
      val merged = (prev ++ rows.map(_.u)).distinct.sorted.take(k)
      state.update(Syn(merged))
      ttl.foreach(state.setTimeoutDuration)
      val n = merged.length.toLong
      val hk = if (n == 0) 1.0 else merged.last
      Iterator.single(Est(key, n, hk, Kmv.estimate(n, hk, k)))
    }
  }

  /** Map-side combine: fold a partition's rows into per-key bottom-k
    * distinct sets (bounded: keys-in-partition × k doubles), emit the
    * survivors. Stateless per micro-batch — this is the streaming-
    * safe stand-in for a partial aggregation, and it makes the
    * scaladoc's "pre-aggregate before the state lookup" true in the
    * plan, not just the prose. */
  private def partialBottomK(ds: Dataset[In], k: Int): Dataset[In] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val acc = mutable.HashMap.empty[String, mutable.TreeSet[Double]]
      it.foreach { r =>
        val s = acc.getOrElseUpdate(r.key, mutable.TreeSet.empty[Double])
        s += r.u
        if (s.size > k) s -= s.last
      }
      acc.iterator.flatMap { case (key, s) => s.iterator.map(In(key, _)) }
    }
  }

  /** `stream` needs (key: string, item: any castable to string).
    * Emits (key, support, hk, estimate) per touched key per batch
    * (Update mode). `stateTtl` is a processing-time idle timeout
    * (duration string, e.g. "2 hours"): state for keys unseen that
    * long is dropped; None retains state for the query's lifetime. */
  def distinctEstimates(stream: DataFrame, itemCol: String, keyCol: String,
      k: Int, stateTtl: Option[String] = None): Dataset[Est] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val in = stream
      .select(col(keyCol).cast("string").as("key"),
        Kmv.normHash(col(itemCol)).as("u"))
      .as[In]
    partialBottomK(in, k)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, timeout)(step(k, stateTtl))
  }
}
