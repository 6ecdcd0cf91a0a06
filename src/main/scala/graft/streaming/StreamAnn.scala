package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Num, Pin, Sampling, Similarity}

/** Streaming ANN enrichment — the serving half of the IVF index
  * (operators.Similarity.ivfTopK is its batch twin): an incoming
  * embedding stream is matched against a STATIC indexed corpus.
  *
  * Why IVF and not LSH here: each corpus vector lives in exactly one
  * cell, so a (query, neighbor) pair can match at most once and the
  * stream needs NO dedup state — the whole pipeline is a narrow cell
  * assignment on the stream side, a stateless stream-static join on
  * the cell key, and one bounded top-k aggregation. (The LSH form
  * would need a distinct across tables — unbounded state on a
  * stream.)
  *
  * 100 TB notes: the indexed corpus is the big side and never moves —
  * cached once, joined per micro-batch on the cell key; stream state
  * is only the in-flight top-k buffers (O(k) per open query).
  *
  * Input: the corpus is an `embeddings` frame — `vec_id` and
  * `embedding` (array<float>); the query stream carries (query_id, qv).
  */
object StreamAnn {

  /** Enrich a query stream (query_id, qv) with its k nearest corpus
    * vectors. `corpus` is a static DataFrame (vec_id, embedding).
    * Output: (query_id, rank, nbr_id, cos) — same contract as the
    * batch ivfTopK. Use outputMode complete/update (the top-k
    * aggregation is incremental). `nlist = 0` (default) derives the
    * cell count from the corpus exactly as the batch twin — a FIXED
    * default here silently broke stream≡batch parity the moment the
    * corpus outgrew the derivation's floor (review find, round 12). */
  def ivfEnrich(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 0, nprobe: Int = 4): DataFrame = {
    val nl = if (nlist > 0) nlist else Similarity.deriveNlist(corpus.count())
    val centroids = Similarity.ivfCentroids(corpus, nl)
    val cellArr = Similarity.ivfCellArr(centroids) _
    // the index side: one cell per corpus vector (fused argmax — see
    // plans.VecCellArgmax, bit-equal to the composed array_max form);
    // pinned — it is re-read every micro-batch
    val indexed = Pin(corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("cv"),
      graft.plans.VectorFunctions.vec_cell_argmax(col("embedding"),
        centroids.map(_._2.toIndexedSeq).toIndexedSeq).as("cell")), Pin.Wide)
    val probes = queries
      .select(col("query_id"), col("qv"),
        explode(slice(sort_array(cellArr(col("qv")), asc = false), 1, nprobe)
          .getField("cell")).as("cell"))
    probes.join(indexed, Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cos", Num.r4(Similarity.cosine(col("qv"), col("cv"))))
      .groupBy(col("query_id"))
      .agg(Sampling.topKByScore(col("nbr_id"), col("cos"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.id").as("nbr_id"), col("s.score").as("cos"))
  }
}
