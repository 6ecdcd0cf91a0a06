package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.VectorFunctions.vec_dot

/** Product quantization (PQ) — the compressed-vector layout behind
  * IVF-PQ indexes (Jégou et al., "Product quantization for nearest
  * neighbor search", TPAMI'11): split each d-dim vector into M
  * subvectors, quantize each against a K-entry codebook, store M
  * small codes instead of d floats (here 64 floats → 8 codes,
  * 32× smaller), and score queries against codes via the
  * asymmetric-distance (ADC) lookup table.
  *
  * Codebooks are deterministic — subvectors of the first K corpus
  * vectors by id, same convention as `Similarity.ivfTopK`'s coarse
  * centroids; `operators.KMeans` is the refinement path and changes
  * the codebook VALUES, not the operator's shape.
  *
  * 100 TB notes: encoding is a narrow per-row map with the codebooks
  * as literals (broadcast via the plan — no join), and all the
  * subspace distances run through the codegen'd VecDot. The ADC scan
  * touches only the (id, codes) table — the full vectors stay in cold
  * storage and are fetched (join by id) for the final re-rank of
  * `candN` candidates per query. That read-mostly split — hot compact
  * index + cold exact vectors — is what makes billion-vector ANN
  * serveable at all.
  */
object ProductQuantizer {

  /** books(m)(k) = the k-th codeword of subspace m (length `sub`). */
  final case class Codebooks(m: Int, k: Int, sub: Int,
      books: IndexedSeq[IndexedSeq[Array[Double]]])

  /** Deterministic codebooks from the first k vectors by id. */
  def train(emb: DataFrame, m: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Codebooks = {
    val vecs = Pin.record(emb.orderBy(col(idCol)).limit(k)
      .select(col(vecCol))).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(vecs.length == k, s"corpus smaller than k=$k")
    val dim = vecs.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Codebooks(m, k, sub,
      IndexedSeq.tabulate(m, k)((mi, ki) => vecs(ki).slice(mi * sub, mi * sub + sub)))
  }

  /** Distance score of a subvector to a literal codeword: the squared
    * L2 distance MINUS its ‖x‖² term, i.e. c·c − 2·x·c. The dropped
    * term is constant across codewords (so the encode argmin is
    * unchanged) and, summed over subspaces, constant per query (so ADC
    * ranking is unchanged) — and it halves the VecDots per (row,
    * codeword). No rounding guard here (contrast KMeans, which must
    * match a DuckDB oracle): the score is a fixed-order multiply-add
    * chain against a literal c·c — no libm, no summation-order
    * variance — so it is bit-deterministic as-is, and leaving Num.r4
    * out keeps the 128-codeword encode projection inside janino's
    * method limits (the rounded form blew past them and the whole
    * stage fell back to interpreted eval). */
  private[graft] def subScore(x: Column, codeword: Array[Double]): Column =
    lit(codeword.map(v => v * v).sum) -
      lit(2.0) * vec_dot(x, typedLit(codeword))

  /** PQ code array (M ints): per subspace, the argmin codeword
    * (distance asc, code asc). One fused codegen expression
    * (plans.PqEncode) — the composed M×K inline-literal form produced
    * a ~1000-node projection whose planning + codegen compile
    * dominated q68's wall (bit-identical scores, spec-pinned). */
  def encode(vec: Column, cb: Codebooks): Column =
    graft.plans.VectorFunctions.pq_encode(vec,
      cb.books.map(_.map(_.toIndexedSeq)))

  /** The composed-expression twin of [[encode]] — kept as the
    * spec-pinned bit-equality baseline for PqEncode. */
  private[graft] def encodeComposed(vec: Column, cb: Codebooks): Column =
    array((0 until cb.m).map { mi =>
      val x = slice(vec, mi * cb.sub + 1, cb.sub)
      val scored = array((0 until cb.k).map { ki =>
        struct(subScore(x, cb.books(mi)(ki)).as("d"), lit(ki).as("code"))
      }: _*)
      array_min(scored).getField("code")
    }: _*)

  /** Decode (reconstruct) a code array back to its codeword
    * concatenation — assembled per subspace (the codebook index must
    * be a literal). Used by the reconstruction-error spec. */
  def reconstruct(codes: Column, cb: Codebooks): Column =
    concat((0 until cb.m).map { mi =>
      val book = typedLit(cb.books(mi).map(_.toSeq))
      element_at(book, element_at(codes, mi + 1) + 1)
    }: _*)

  /** The per-query ADC lookup table as a nested array column:
    * table(m)(k) = score(query subvector m, codeword k). M×K small
    * VecDots per QUERY row — queries are few; the corpus pays
    * nothing. */
  private def adcTable(qv: Column, cb: Codebooks): Column =
    graft.plans.VectorFunctions.pq_adc_table(qv,
      cb.books.map(_.map(_.toIndexedSeq)))

  /** The composed-expression twin of [[adcTable]] — spec baseline. */
  private[graft] def adcTableComposed(qv: Column, cb: Codebooks): Column =
    array((0 until cb.m).map { mi =>
      val x = slice(qv, mi * cb.sub + 1, cb.sub)
      array((0 until cb.k).map(ki => subScore(x, cb.books(mi)(ki))): _*)
    }: _*)

  /** ADC approximate distance of a code array under a query's table:
    * Σ_m table(m)(code_m), written as a fixed M-term sum of
    * element_at lookups — a pure codegen expression tree. (The
    * zip_with/aggregate HOF form is a CodegenFallback interpreted per
    * CANDIDATE PAIR — the hot path of the whole scan.) */
  private def adcDist(codes: Column, table: Column, m: Int): Column =
    (0 until m).map { mi =>
      element_at(element_at(table, mi + 1), element_at(codes, mi + 1) + 1)
    }.reduce(_ + _)

  /** ANN top-k via PQ-ADC with exact re-rank: the compact (id, codes)
    * index is scanned with the query's ADC table, the best `candN`
    * candidates per query (bounded aggregation — map-side pruned) are
    * joined back to the full vectors and re-ranked by exact cosine
    * (rank = (cos desc, id asc), same contract as Similarity.*TopK).
    *
    * `nprobe > 0` switches the scan from flat to IVF-PQ (the
    * billion-vector layout — Jégou et al. §V): each code row carries
    * its coarse cell (same deterministic quantizer as
    * [[Similarity.ivfTopK]], `nlist = 0` derives √n), queries probe
    * their `nprobe` nearest cells, and the scan becomes a cell
    * EQUI-join touching `nprobe/nlist` of the index per query instead
    * of all of it. A flat scan's per-query work is O(corpus) by
    * definition — with query count a fixed corpus fraction that is
    * O(n²) total (measured 22.9× time for 10× data on the sf0.1→sf1
    * decade); IVF-PQ with derived nlist is the scale path, and the
    * flat form (`nprobe = 0`) remains the exact-ADC recall baseline.
    */
  def adcTopK(emb: DataFrame, cb: Codebooks, queryPred: Column, k: Int,
      candN: Int = 32, idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastQueries: Boolean = true, nprobe: Int = 0,
      nlist: Int = 0): DataFrame = {
    val coarse: Option[Array[(Int, Array[Double])]] =
      if (nprobe <= 0) None
      else {
        val nl = if (nlist > 0) nlist else Similarity.deriveNlist(emb.count())
        Some(Similarity.ivfCentroids(emb, nl, idCol, vecCol))
      }
    // The repartition is a materialization barrier, not a layout
    // choice: without it the encode projection shares a codegen stage
    // with the pair join below and gets re-evaluated INSIDE the inner
    // pair loop — 128 codeword scores per PAIR instead of per corpus
    // row (measured 16 s vs 2 s at sf0.1). With the exchange the codes
    // cross as materialized rows. In a real deployment this boundary
    // is the stored PQ index itself.
    // Similarity.spreadNarrowScan: the M×K-codeword encode is the
    // corpus-scale per-row work of this operator — an unsplittable
    // scan would run it single-task (q68 c8/c32 ≈ 0.90 at sf1 before).
    // The barrier repartition below needs an EXPLICIT partition count:
    // a bare repartition(col) is AQE-coalesced to one partition on the
    // byte-tiny code rows, which serialized the ADC probe + top-k
    // stage above it (the q26 band-table lesson).
    val embSpread = Similarity.spreadNarrowScan(emb)
    val barrierParts = emb.sparkSession.sparkContext.defaultParallelism
    val index = coarse match {
      case None =>
        embSpread.select(col(idCol).as("nbr_id"),
          encode(col(vecCol), cb).as("codes"))
          .repartition(barrierParts, col("nbr_id"))
      case Some(cent) =>
        // fused argmax cell (plans.VecCellArgmax) — ivfCentroids
        // returns cells as ascending indices, which is what the fused
        // expression's position-is-cell contract needs
        embSpread.select(col(idCol).as("nbr_id"),
          encode(col(vecCol), cb).as("codes"),
          graft.plans.VectorFunctions.vec_cell_argmax(col(vecCol),
            cent.map(_._2.toIndexedSeq).toIndexedSeq).as("cell"))
          .repartition(barrierParts, col("nbr_id"))
    }
    val queriesBase = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        adcTable(col(vecCol), cb).as("tbl"))
    val queries = coarse match {
      case None => queriesBase
      case Some(cent) =>
        queriesBase.withColumn("cell",
          explode(slice(sort_array(
            Similarity.ivfCellArr(cent)(col("qv")), asc = false), 1, nprobe)
            .getField("cell")))
    }
    val querySide = if (broadcastQueries) broadcast(queries) else queries
    val scan = coarse match {
      case None => index.join(querySide, col("nbr_id") =!= col("query_id"))
      case Some(_) => index.join(querySide, Seq("cell"))
        .filter(col("nbr_id") =!= col("query_id"))
    }
    val cands = scan
      .withColumn("adc", Num.r4(adcDist(col("codes"), col("tbl"), cb.m)))
      // smaller ADC distance = better; TopKByScore keeps max score
      .groupBy(col("query_id"))
      .agg(Sampling.topKByScore(col("nbr_id"), -col("adc"), candN).as("topc"))
      .select(col("query_id"), explode(col("topc").getField("id")).as("nbr_id"))
    val full = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    cands
      .join(full, Seq("nbr_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", Num.r4(graft.plans.VectorFunctions.vec_cosine(col("qv"), col("cv"))))
      .groupBy(col("query_id"))
      .agg(Sampling.topKByScore(col("nbr_id"), col("cos"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.id").as("nbr_id"), col("s.score").as("cos"))
  }
}
