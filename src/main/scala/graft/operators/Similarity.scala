package graft.operators

import graft.operators.Pin._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.VectorFunctions.{vec_cosine, vec_dot}

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — exact, O(n·q), the correctness
  * oracle. Scale path: random-hyperplane LSH bucketing — candidates
  * only within matching buckets, probed across `numTables` independent
  * tables; recall is tested against brute force (SimilaritySpec).
  *
  * 100 TB design: embeddings stay distributed; the query set is the
  * broadcast side (top-k per query via a windowed rank after a
  * broadcast join). No driver-side collect of the corpus. For corpus-
  * ×-corpus joins, LSH bucket join shuffles on bucket keys only.
  * All vector math is `functions._` higher-order expressions — codegen
  * handles the inner loops; a custom Catalyst Expression is the next
  * step if profiles show the lambda allocation dominating (plans/).
  */
object Similarity {

  /** Unsplittable-scan guard for HEAVY per-row index builds (guide
    * §2.5): when the input's scan has fewer partitions than the
    * cluster's default parallelism (single parquet row group at test
    * SFs), the per-row work below the operator's first exchange runs
    * on those few tasks — measured as a c8/c32 scaling ratio ≈ 0.9 on
    * q68/q29b at sf1. Round-robin to defaultParallelism ONLY for such
    * inputs; at real scale (many files / row groups) this is a no-op.
    * Deliberately NOT applied to the query/probe sides or to setup
    * collects (count, centroid prefixes), which pay the exchange for
    * nothing — the lesson of the rejected table-level embeddings
    * spread. */
  private[operators] def spreadNarrowScan(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Double-precision dot product of two array columns. Native codegen
    * expression (plans.VecDot); the HOF formulation
    * `aggregate(zip_with(...))` is semantically identical but
    * interpreted — 40× slower on pairwise workloads (BASELINE.md). */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def norm(a: Column): Column = sqrt(vec_dot(a, a))

  def cosine(a: Column, b: Column): Column = vec_cosine(a, b)

  /** The exact query-set × corpus scan as a KEYED join: corpus rows
    * carry a derived block id, the (small, fixed-fraction) query set
    * replicates to every block through an exploded literal range, and
    * the scan is a broadcast hash EQUI-join on the block key — the
    * same linear corpus scan the conditioned
    * BroadcastNestedLoopJoin(queries) form performed, now with
    * per-task match counts bounded by the block size and a join shape
    * the optimizer (and PlanGate) can reason about. Pair coverage is
    * identical: each corpus row lives in exactly one block and each
    * query visits every block once; the self-pair drops in the filter
    * above the join. `queries` must have (query_id, qv); `corpus`
    * (nbr_id, cv). */
  private def queryCorpusScan(queries: DataFrame, corpus: DataFrame,
      nBlocks: Int = 0): DataFrame = {
    // The broadcast carries |q|·b rows (each block replica holds the
    // full query vector), so b must be sized from the REPLICATION
    // budget as well as the corpus: a query set that fit the old
    // one-copy BNLJ broadcast could otherwise blow the 8 GB
    // BroadcastExchange limit at b=1024. Capping b trades per-task
    // match amplification (b=1 degrades gracefully to the old
    // one-copy-of-queries shape) for a bounded broadcast; an explicit
    // nBlocks is the caller's contract and is not second-guessed.
    val b = if (nBlocks > 0) nBlocks else {
      val qRows = estimateRows(queries).max(1)
      val bCap = (BigInt(BroadcastRepRowsBudget) / qRows).max(1)
      BigInt(deriveBlocks(corpus)).min(bCap).toInt
    }
    val qRep = queries.withColumn("blk",
      explode(array((0 until b).map(i => lit(i)): _*)))
    corpus
      .withColumn("blk", pmod(xxhash64(col("nbr_id")), lit(b)).cast("int"))
      .join(broadcast(qRep), "blk")
      .filter(col("query_id") =!= col("nbr_id"))
      .drop("blk")
  }

  /** Brute-force cosine top-k: for each query vector (subset of the
    * corpus selected by `queryPred`), the k nearest corpus vectors.
    * Deterministic: rank on rounded cosine with id tie-break. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    val scored = queryCorpusScan(queries, corpus)
      .withColumn("cos", Num.r4(cosine(col("qv"), col("cv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
  }

  /** Aggregator-ranked twin of [[bruteForceTopK]]: identical exact
    * semantics (same scan, same r4-snapped cosine, same (cos desc,
    * nbr_id asc) order), but per-query ranking rides the bounded
    * O(k)-state TopKByScore aggregation — map-side prune to k before
    * the shuffle — instead of a window row_number, which buffers and
    * sorts every candidate of a partition. This is the shape to
    * prefer when k ≪ candidates; kept alongside the window form as
    * the q27 cross-plan twin, so the two ranking paths verify each
    * other at the SFs where no DuckDB oracle fits (the q27 oracle is
    * a measured >900 s timeout at sf10). */
  def bruteForceTopKAgg(emb: DataFrame, queryPred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nBlocks: Int = 0): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    queryCorpusScan(queries, corpus, nBlocks)
      .withColumn("cos", Num.r4(cosine(col("qv"), col("cv"))))
      .groupBy(col("query_id"))
      .agg(Sampling.topKByScore(col("nbr_id"), col("cos"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.id").as("nbr_id"), col("s.score").as("cos"))
  }

  /** Hard-negative mining for contrastive/embedding training: for
    * each query vector, the top-k corpus vectors whose cosine lies in
    * [lo, hi) — similar enough to be informative negatives, below the
    * positive/near-dup band so they are not label noise (the
    * "in-batch negatives are too easy" fix; the band is the standard
    * mining heuristic, cf. DPR/ANCE-style pipelines).
    *
    * Scale: the band filter rides the SAME broadcast-queries join as
    * [[bruteForceTopK]] — one linear corpus scan per mining run, no
    * corpus×corpus. At web scale the scan composes with [[ivfTopK]]'s
    * cell probe (probe MORE cells than for top-k, then band-filter
    * exactly) or with a deterministic hash-sample of the corpus —
    * negatives need coverage, not exhaustiveness, so sampling the
    * candidate pool is semantically fine where it isn't for dedup. */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int,
      lo: Double, hi: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    val scored = queryCorpusScan(queries, corpus)
      .withColumn("cos", Num.r4(cosine(col("qv"), col("cv"))))
      .filter(col("cos") >= lo && col("cos") < hi)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
  }

  /** The web-scale path the [[hardNegatives]] doc reserves, as a
    * first-class operator: band-filtered top-k over the IVF cell
    * probe instead of the full corpus scan. Candidate generation is
    * [[ivfTopK]]'s shape — √n-derived nlist, nprobe nearest cells per
    * query, cell-keyed equi-join — so total work is O(q · nprobe ·
    * n/nlist) = O(n^1.5) when queries ∝ n, vs the exact anchor's
    * n²/50. The band filter is exact WITHIN the probed cells;
    * negatives need coverage, not exhaustiveness, so cell-bounded
    * recall is the documented semantics (property-tested: results ⊆
    * the exact band set, band respected, ranks well-formed).
    * `nprobe` defaults higher than top-k's (band members sit farther
    * from the query's own centroid than nearest neighbors do). */
  def hardNegativesIvf(emb: DataFrame, queryPred: Column, k: Int,
      lo: Double, hi: Double, nlist: Int = 0, nprobe: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastQueries: Boolean = true): DataFrame = {
    val nl = if (nlist > 0) nlist else deriveNlist(emb.count())
    val centroids = ivfCentroids(emb, nl, idCol, vecCol)
    def cellArr(v: Column): Column = ivfCellArr(centroids)(v)
    // fused argmax cell + narrow-scan spread — see ivfTopK
    val indexed = spreadNarrowScan(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        graft.plans.VectorFunctions.vec_cell_argmax(col(vecCol),
          centroids.map(_._2.toIndexedSeq).toIndexedSeq).as("cell"))
    val probes = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(slice(sort_array(cellArr(col(vecCol)), asc = false), 1, nprobe)
          .getField("cell")).as("cell"))
    val probeSide = if (broadcastQueries) broadcast(probes) else probes
    indexed.join(probeSide, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cos", Num.r4(cosine(col("qv"), col("v"))))
      .filter(col("cos") >= lo && col("cos") < hi)
      .groupBy(col("query_id"))
      .agg(Sampling.topKByScore(col("id"), col("cos"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.id").as("nbr_id"), col("s.score").as("cos"))
  }

  /** Diversity-aware top-k retrieval by maximal marginal relevance
    * (MMR, Carbonell & Goldstein '98): greedily pick k of the top-m
    * candidates, each round maximizing λ·rel(q,d) − (1−λ)·max_{s∈S}
    * sim(d,s) — relevant results that are NOT near-dups of what's
    * already picked (the retrieval-side counterpart of dedup; for
    * training data, diverse exemplar selection). The greedy rounds are
    * UNROLLED as declarative plan stages — candidate top-m by window
    * rank, an m×m per-query similarity matrix, then per round one
    * anti-join + max-sim aggregation + argmax — so Catalyst sees
    * ordinary joins/aggs; no per-group imperative loop.
    *
    * Scale: candidate generation is the same broadcast-queries linear
    * scan as [[bruteForceTopK]] (swap in [[ivfTopK]]'s probe at web
    * scale); everything after operates on m rows per query (the m×m
    * sim matrix is per-query-bounded, never corpus×corpus). All
    * scores are r4-snapped so the greedy argmax is reproducible
    * cross-engine; ties break by ascending neighbor id. λ should be
    * chosen so 1−λ is binary-exact (e.g. 0.75) if bit-parity with an
    * external oracle matters. */
  def mmrTopK(emb: DataFrame, queryPred: Column, m: Int, k: Int,
      lam: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && m >= k)
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    // Top-m candidates via the bounded aggregator (O(m) state,
    // map-side pruning — lshTopK's pattern), NOT a window rank: the
    // window form sorts every (query × corpus) scored row, and the
    // candidate vector `cv` needed by the sim matrix below would ride
    // the whole n·q-row sort (observed at sf10: a multi-hundred-GB
    // spill that filled the disk). The aggregation prunes to m per
    // query before the shuffle; `cv` is re-joined for the m·q
    // survivors only. Ordering (score desc, id asc) matches the
    // window-rank tie-break exactly.
    val topM = topMCandidates(queries, corpus, m)
    // pin: every greedy round references the candidate table (and
    // sims) again — unpinned, Spark would repeat the full corpus scan
    // once per reference. Post-top-m state is m rows per query —
    // bounded model-sized data, safe to pin (broadcast as the small
    // side of the cv re-fetch).
    val cand = corpus.join(broadcast(topM), Seq("nbr_id"))
      .select(col("query_id"), col("nbr_id"), col("rel"), col("cv"))
      .pin(Wide)
    val sims = cand.select(col("query_id"), col("nbr_id").as("id_a"), col("cv").as("va"))
      .join(cand.select(col("query_id"), col("nbr_id").as("id_b"), col("cv").as("vb")),
        Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", Num.r4(cosine(col("va"), col("vb"))))
      .select(col("query_id"), col("id_a"), col("id_b"), col("sim"))
      .pin(Wide)
    val slim = cand.select(col("query_id"), col("nbr_id"), col("rel"))
    val wScore = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id"))
    val first = slim.withColumn("score", Num.r4(lit(lam) * col("rel")))
      .withColumn("rn", row_number().over(wScore)).filter(col("rn") === 1)
      .select(col("query_id"), lit(1).as("pick"), col("nbr_id"), col("score"))
    (2 to k).foldLeft(first) { (sel, j) =>
      val selIds = sel.select(col("query_id").as("qs"), col("nbr_id").as("sel_id"))
      val pick = slim
        .join(sel.select(col("query_id"), col("nbr_id")),
          Seq("query_id", "nbr_id"), "left_anti")
        .join(sims.withColumnRenamed("query_id", "qa"),
          col("qa") === col("query_id") && col("id_a") === col("nbr_id"))
        .join(selIds, col("qs") === col("query_id") && col("id_b") === col("sel_id"))
        .groupBy(col("query_id"), col("nbr_id"), col("rel"))
        .agg(max(col("sim")).as("ms"))
        .withColumn("score",
          Num.r4(lit(lam) * col("rel") - lit(1.0 - lam) * col("ms")))
        .withColumn("rn", row_number().over(wScore)).filter(col("rn") === 1)
        .select(col("query_id"), lit(j).as("pick"), col("nbr_id"), col("score"))
      // truncate lineage each round: `sel` is referenced twice per
      // round (anti-join + selected-ids join), so an unpinned plan
      // re-executes every earlier round ~2× per level — exponential in
      // k. The selection is ≤ j rows per query — trivially small.
      sel.unionByName(pick).pin(Narrow)
    }
  }

  /** The MMR top-m candidate cut shared by [[mmrTopK]] and
    * [[mmrTopKFused]] — single-sourced because the fused≡unrolled
    * bit-equality pin depends on both forms drawing the IDENTICAL
    * candidate set: bounded aggregation (O(m) state, map-side
    * pruning), (id, rel) only riding the corpus-scale shuffle. */
  private def topMCandidates(queries: DataFrame, corpus: DataFrame,
      m: Int): DataFrame =
    queryCorpusScan(queries, corpus)
      .withColumn("rel", Num.r4(cosine(col("qv"), col("cv"))))
      .groupBy(col("query_id"))
      .agg(Sampling.topKByScore(col("nbr_id"), col("rel"), m).as("topm"))
      .select(col("query_id"), explode(col("topm")).as("s"))
      .select(col("query_id"), col("s.id").as("nbr_id"),
        col("s.score").as("rel"))

  /** [[mmrTopK]] with the greedy tail fused into one typed aggregation
    * ([[Mmr.MmrGreedy]]): identical output (spec-pinned), but the k
    * rounds, the m×m sims table, and the per-round lineage cuts
    * collapse into a single m-bounded per-group loop — candidate
    * generation (the only corpus-scale stage) is unchanged, and
    * everything after it is one small shuffle instead of ~4k plan
    * stages of job latency. The unrolled form stays as the
    * structurally-different twin (and the shape whose greedy rounds
    * an external SQL oracle can replicate). */
  def mmrTopKFused(emb: DataFrame, queryPred: Column, m: Int, k: Int,
      lam: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && m >= k)
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    corpus.join(broadcast(topMCandidates(queries, corpus, m)), Seq("nbr_id"))
      .select(col("query_id"), col("nbr_id"), col("rel"), col("cv"))
      .groupBy(col("query_id"))
      .agg(Mmr.mmrGreedy(col("nbr_id"), col("rel"), col("cv"), m, k, lam)
        .as("picks"))
      .select(col("query_id"), explode(col("picks")).as("p"))
      .select(col("query_id"), col("p.pick").as("pick"),
        col("p.nbr_id").as("nbr_id"), col("p.score").as("score"))
  }

  /** All pairs above a cosine threshold (near-duplicate detection by
    * embedding). Quadratic — verification tool; LSH is the scale path. */
  def cosinePairs(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos", Num.r4(cosine(col("a.v"), col("b.v"))))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** All pairs above a cosine threshold, computed as a BLOCKED TILE
    * JOIN — the scale-shape replacement for [[cosinePairs]] as an edge
    * source (identical output, different plan).
    *
    * Why not LSH/IVF candidates + verify here: at a loose threshold
    * like τ=0.35 (θ ≈ 69.5°) the qualifying pairs live in the random-
    * pair tail — measured on the test corpus, the minimum qualifying
    * cosine is 0.3500008 at sf0.1 (pairs hug the threshold with ~1e-6
    * margin) — so every randomized candidate generator has recall < 1
    * and would silently drop boundary edges. Prefix filtering, which
    * makes the q24/q36 candidate pattern EXACT for set Jaccard, has no
    * dense-vector analog that prunes anything at θ ≈ 70° (the L2AP
    * bounds degenerate when every coordinate is nonzero). LSH stays
    * the right tool for HIGH-threshold near-dup search (q29's recall
    * spec); a threshold this deep into the bulk is semantically an
    * exact O(n²) problem, and the fix is the plan shape, not the
    * candidate count.
    *
    * Shape: vectors are hashed into `nBlocks` blocks; the B(B+1)/2
    * unordered block pairs form a tiny broadcast "tiles" relation; each
    * vector joins its tile row(s) and the pair join is an EQUI-join on
    * the block key — a shuffle of ~n·B/2 rows into B(B+1)/2
    * independent tile tasks, each a bounded |n/B|² dense-dot loop.
    * Versus the BroadcastNestedLoopJoin of the theta-join formulation:
    * no full-table broadcast to every executor, per-task memory bounded
    * by two blocks, parallelism B(B+1)/2 instead of one nested loop per
    * input split.
    *
    * Block count: `nBlocks = 0` (the default) derives B from the
    * corpus size — see [[deriveBlocks]]. A FIXED B does not survive
    * scale-up: per-tile work is (n/B)², so the constant that is fine
    * at sf0.1 does 10,000× the work per tile at 100× the corpus
    * (round-11 verdict). With B ∝ n, rows-per-block — and therefore
    * per-task time and memory — stay constant as the corpus grows;
    * total work is still the inherent O(n²), spread over B(B+1)/2
    * independent equi-join tasks.
    *
    * Exactness: blocks partition the corpus, so an unordered pair
    * {x,y} appears in exactly one off-diagonal tile (blk x ≠ blk y) or
    * one diagonal tile (blk x = blk y, deduped by id order); ids are
    * canonicalized to id_a < id_b. Property-pinned equal to
    * [[cosinePairs]] on arbitrary vectors (SimilaritySpec). */
  /** Tile-size model for [[cosinePairsBlocked]]: rows-per-block is
    * held near [[TargetRowsPerBlock]] so one tile is ~(3·10⁴)² ≈ 10⁹
    * codegen'd dot products — a task of a few seconds with two-block
    * memory (a few MB), the right grain for a 1000-executor cluster.
    * Row count is estimated from the optimizer's size statistic at
    * [[RowBytesEstimate]] bytes/row (a 64-dim float32 embedding row is
    * ~260 B in parquet); B only needs order-of-magnitude accuracy —
    * an estimate off by k changes per-tile work by k², still bounded.
    * Floor [[MinBlocks]] keeps small corpora (tests, sf≤0.1) on the
    * round-11 plan shape; cap [[MaxBlocks]] bounds the broadcast tile
    * relation (B(B+1)/2 rows ≈ 4 MB at the cap) — past ~30 M rows the
    * exact-all-pairs formulation itself is the wrong tool (raise τ or
    * accept approximate recall; see the threshold caveat above). */
  private[graft] val MinBlocks = 8
  private[graft] val MaxBlocks = 1024
  private[graft] val TargetRowsPerBlock = 32768L
  private[graft] val RowBytesEstimate = 256L

  /** Rows the optimizer can justify: above this the size statistic is
    * treated as absent — an un-stats'd leaf (RDD/stream-backed frame,
    * post-join estimate) reports `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue-ish), which would silently drive B to [[MaxBlocks]]
    * and replicate a possibly tiny corpus into ~500 k tile tasks
    * (review find, round 12). One count() job on the actual frame is
    * the correct price for a missing statistic: the count only fires
    * when the estimate is absurd (sentinel-sized or absent), truth is
    * required there to avoid the small-corpus blowup (B too LARGE
    * replicates each row to ~B/2 tiles — not the safe direction), and
    * for a frame genuinely past the cap the count is noise next to
    * the O(n²) pair join this operator then performs. */
  private[graft] val StatsRowsSanityCap = 1000L * 1000 * 1000

  /** Max replicated query rows a [[queryCorpusScan]] broadcast may
    * carry (|q|·b): 4 M rows ≈ 1 GiB at [[RowBytesEstimate]] — well
    * under the 8 GB BroadcastExchange hard limit with headroom for
    * wider embeddings. */
  private[graft] val BroadcastRepRowsBudget = 4L * 1024 * 1024

  /** BATCH-ONLY: the count() fallback below executes a job, so this
    * must never see a streaming-source frame (it would throw) and
    * should not see a foreachBatch micro-batch frame (a LogicalRDD
    * with no stats — every micro-batch would pay a count job).
    * Streaming callers pass an explicit nBlocks / use the micro-batch
    * floor ([[incrementalPairs]]). */
  private[graft] def deriveBlocks(df: DataFrame): Int = {
    val estRows = estimateRows(df)
    val b = (estRows + TargetRowsPerBlock - 1) / TargetRowsPerBlock
    b.max(MinBlocks).min(MaxBlocks).toInt
  }

  /** Optimizer size statistic → row estimate, falling back to one
    * count() job when the statistic is absent/absurd (same contract
    * and rationale as [[deriveBlocks]] — batch frames only). */
  private[graft] def estimateRows(df: DataFrame): BigInt = {
    val bytes =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(0) }
    val estRows0 = bytes / RowBytesEstimate
    if (estRows0 > StatsRowsSanityCap || estRows0 <= 0) BigInt(df.count())
    else estRows0
  }

  def cosinePairsBlocked(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nBlocks: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val b = if (nBlocks > 0) nBlocks else deriveBlocks(emb)
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      pmod(xxhash64(col(idCol)), lit(b)).cast("int").as("blk"))
    val tiles = (0 until b)
      .flatMap(i => (i until b).map(j => (i, j))).toDF("ba", "bb")
    // both sides replicate to their ~B/2 tiles and the pair join is
    // keyed on the FULL tile id (ba, bb) — B(B+1)/2 distinct keys, so
    // every tile is an independent task; keying on one block alone
    // would cap parallelism at B
    val lhs = v.join(broadcast(tiles), col("blk") === col("ba"))
      .select(col("ba"), col("bb"), col("id").as("ia"), col("v").as("va"))
    val rhs = v.join(broadcast(tiles), col("blk") === col("bb"))
      .select(col("ba").as("rba"), col("bb").as("rbb"),
        col("id").as("ib"), col("v").as("vb"))
    lhs.join(rhs, col("ba") === col("rba") && col("bb") === col("rbb"))
      .filter(col("ba") =!= col("bb") || col("ia") < col("ib"))
      .withColumn("cos", Num.r4(cosine(col("va"), col("vb"))))
      .filter(col("cos") >= threshold)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cos"))
  }

  /** Exact threshold pairs BETWEEN two disjoint-id vector sets — the
    * bipartite counterpart of [[cosinePairsBlocked]]: both sides hash
    * into b blocks, EACH side replicates across the other's block ids
    * (b copies per row), and the pair join is keyed on the full
    * (left-block, right-block) tile so all b² tiles are independent
    * tasks and every cross pair meets exactly once. Output matches
    * [[cosinePairsBlocked]] ((id_a < id_b, cos)); used by the q28
    * cross-plan twin's split-and-merge decomposition (the q28 DuckDB
    * oracle is a measured >900 s timeout at sf10). The derived block
    * count follows the LARGER side — deriving from one side would
    * under-block an asymmetric (small l, huge r) call and collapse the
    * tile parallelism. */
  def cosinePairsAcross(l: DataFrame, r: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nBlocks: Int = 0): DataFrame = {
    val b = if (nBlocks > 0) nBlocks
            else deriveBlocks(l).max(deriveBlocks(r))
    val blks = array((0 until b).map(lit): _*)
    val lhs = l.select(col(idCol).as("ia"), col(vecCol).as("va"),
      pmod(xxhash64(col(idCol)), lit(b)).cast("int").as("ba"))
      .withColumn("bb", explode(blks))
    val rhs = r.select(col(idCol).as("ib"), col(vecCol).as("vb"),
      pmod(xxhash64(col(idCol)), lit(b)).cast("int").as("rbb"))
      .withColumn("rba", explode(blks))
    lhs.join(rhs, col("ba") === col("rba") && col("bb") === col("rbb"))
      .withColumn("cos", Num.r4(cosine(col("va"), col("vb"))))
      .filter(col("cos") >= threshold)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cos"))
  }

  /** Edges a BATCH of newly arrived embeddings introduces into the
    * near-dup graph over a STATIC corpus: all (batch × corpus) pairs
    * with cosine ≥ threshold, plus the batch's internal pairs — the
    * graph-maintenance increment for continuously ingested embeddings
    * (the embedding twin of `TextDedup.incrementalDedup`, same
    * contract: ids disjoint from the corpus, batches do not see each
    * other — inter-batch edges are the index-append's concern).
    *
    * Shape: the batch (micro-batch-sized by contract) broadcasts
    * against the corpus — one narrow corpus scan, no corpus shuffle,
    * no corpus×corpus work; intra-batch pairs ride the blocked tile
    * join. Output matches [[cosinePairs]]: (id_a < id_b, cos). */
  def incrementalPairs(batch: DataFrame, corpus: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", nBlocks: Int = 0): DataFrame = {
    val b = batch.select(col(idCol).as("bid"), col(vecCol).as("bv"))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val cross = c.join(broadcast(b), col("cid") =!= col("bid"))
      .withColumn("cos", Num.r4(cosine(col("cv"), col("bv"))))
      .filter(col("cos") >= threshold)
      .select(least(col("cid"), col("bid")).as("id_a"),
        greatest(col("cid"), col("bid")).as("id_b"), col("cos"))
    // nBlocks = 0 resolves to the MinBlocks floor, NOT deriveBlocks:
    // the batch is micro-batch-sized by contract, and in a foreachBatch
    // context it is a stats-less LogicalRDD — deriveBlocks would pay a
    // count job per micro-batch (or throw on a direct streaming frame)
    // to learn a size the contract already bounds.
    val intraBlocks = if (nBlocks > 0) nBlocks else MinBlocks
    cross.unionByName(
      cosinePairsBlocked(batch, threshold, idCol, vecCol, intraBlocks))
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane
    * (table, p) is ±1 by a bit of md5("table_p_j"). Computed ONCE on
    * the driver and shipped as array literals — the earlier in-query
    * formulation recomputed an md5 per element per plane per row. */
  private[graft] def planeSign(table: Int, plane: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${table}_${plane}_$j".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex, 16)
    if (((h >> 3) & 1) == 1) 1.0 else -1.0
  }

  /** LSH bucket key for one table: `numPlanes` sign bits of dot(v, r),
    * each dot a codegen'd VecDot against a literal plane vector. */
  def lshKey(vec: Column, table: Int, numPlanes: Int, dim: Int): Column = {
    val bits = (0 until numPlanes).map { p =>
      val plane = Array.tabulate(dim)(j => planeSign(table, p, j))
      when(vec_dot(vec, typedLit(plane)) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** IVF-style ANN: a coarse quantizer of `nlist` centroid cells; each
    * vector is indexed under its nearest centroid, queries probe the
    * `nprobe` nearest cells and rank candidates exactly.
    *
    * The "training" is deterministic — centroids are the first `nlist`
    * vectors by id (reservoir-free deterministic sample). Real k-means
    * improves cell balance but not the operator's shape: the index is
    * a cell-keyed table either way, and at 100 TB the cell assignment
    * is a narrow map (centroids broadcast as literals), the probe a
    * cell-key join — no all-pairs anywhere.
    */
  /** Deterministic IVF coarse centroids: the first `nlist` vectors by
    * id (shared by ivfTopK and streaming.StreamAnn). */
  private[graft] def ivfCentroids(emb: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[(Int, Array[Double])] =
    Pin.record(emb.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol))).collect()
      .zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](0).map(_.toDouble).toArray)
      }

  /** Per-vector array of (cos to centroid c, c) structs — argmax/sort
    * over it picks assignment/probe cells. */
  private[graft] def ivfCellArr(centroids: Array[(Int, Array[Double])])(v: Column): Column =
    array(centroids.toIndexedSeq.map { case (c, vec) =>
      struct(Num.r4(cosine(v, typedLit(vec))).as("cos"), lit(c).as("cell"))
    }: _*)

  /** IVF cell count derived from the corpus: the classic √n rule,
    * snapped to a power of two so both engines re-derive the identical
    * value (`max(16, 2^round(log2 n / 2))`, floor 16 keeps test SFs on
    * the historical shape, cap 4096 bounds the driver-collected
    * centroid model). A FIXED nlist is the same 100×-scale bug as a
    * fixed tile count: probe work is q·(nprobe/nlist)·n, so constant
    * nlist degenerates IVF to a near-full scan as n grows — measured
    * as q29b's 19.5× time ratio (21.7 s) for 10× data on the
    * sf0.1→sf1 decade before this derivation, 1.7× (3.9 s) after.
    *
    * Computed in PURE INTEGERS — `2^round(log2 n / 2)` equals
    * `1 << (bitLength(n) / 2)` clamped to [2⁴, 2¹²] (proved exhaustive
    * over dense + power-boundary n against the half-up float form:
    * round(log2 n / 2) = k ⟺ n ∈ [2^(2k−1), 2^(2k+1)), an exact
    * bit-length test). The float form risked a 1-ulp log divergence
    * between engines exactly at the 2^(2k+1) boundaries, and its SQL
    * twin had dropped the 4096 cap (review find, round 12). */
  private[graft] def deriveNlist(n: Long): Int = {
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))
    1 << math.min(12, math.max(4, bitLen / 2))
  }

  /** The SQL twin of [[deriveNlist]] over a counted corpus — the same
    * integer bit-length rule (DuckDB `bin` renders no leading zeros). */
  private[graft] def deriveNlistSql(table: String): String =
    s"(SELECT 1 << least(12, greatest(4, length(bin(count(*))) // 2)) FROM $table)"

  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int,
      nlist: Int = 0, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastQueries: Boolean = true): DataFrame = {
    val nl = if (nlist > 0) nlist else deriveNlist(emb.count())
    val centroids = ivfCentroids(emb, nl, idCol, vecCol)
    def cellArr(v: Column): Column = ivfCellArr(centroids)(v)
    // index side needs only the argmax cell — the fused
    // plans.VecCellArgmax scan (the composed nlist×VecCosine struct
    // array codegenned thousands of lines per row; bit-identical,
    // spec-pinned). ivfCentroids returns cells as ascending indices —
    // the fused expression's position-is-cell contract.
    // spreadNarrowScan: the nlist-cosine cell assignment is the
    // corpus-scale per-row work of this operator — an unsplittable
    // scan would run it single-task (c8/c32 ≈ 0.97 at sf1 before)
    val indexed = spreadNarrowScan(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        graft.plans.VectorFunctions.vec_cell_argmax(col(vecCol),
          centroids.map(_._2.toIndexedSeq).toIndexedSeq).as("cell"))
    // probe side (query-sized) sorts to take the nprobe nearest cells
    val probes = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(slice(sort_array(cellArr(col(vecCol)), asc = false), 1, nprobe)
          .getField("cell")).as("cell"))
    // each corpus vector lives in exactly one cell, so a (query, nbr)
    // pair can match at most once — no distinct needed. With a
    // selective queryPred the probes are query-sized → broadcast and
    // the corpus side never shuffles; for an unselective predicate
    // pass broadcastQueries=false and let AQE pick the strategy
    // (forcing the hint there would broadcast a corpus-scale table).
    val probeSide = if (broadcastQueries) broadcast(probes) else probes
    val candidates = indexed.join(probeSide, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("id").as("nbr_id"), col("v"))
    candidates
      .withColumn("cos", Num.r4(cosine(col("qv"), col("v"))))
      .groupBy(col("query_id"))
      .agg(Sampling.topKByScore(col("nbr_id"), col("cos"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.id").as("nbr_id"), col("s.score").as("cos"))
  }

  /** ANN top-k via multi-table hyperplane LSH: queries probe their
    * bucket in each table; union of candidates ranked exactly.
    * Recall vs bruteForceTopK is property-tested. */
  def lshTopK(emb: DataFrame, queryPred: Column, k: Int,
      numPlanes: Int = 6, numTables: Int = 8, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastQueries: Boolean = true): DataFrame = {
    // one fused expression computes every table's key in a single
    // vector pass (plans.VecLshKeys); posexplode recovers (t, key)
    val planeMatrix: IndexedSeq[IndexedSeq[Double]] =
      for (t <- 0 until numTables; p <- 0 until numPlanes)
        yield IndexedSeq.tabulate(dim)(j => planeSign(t, p, j))
    def withKeys(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(id), col(v),
        posexplode(graft.plans.VectorFunctions.vec_lsh_keys(
          col(v), planeMatrix, numPlanes)).as(Seq("t", "key")))
    // corpus keyed once; queries are the filtered (small) side and key
    // themselves directly — broadcast (so the corpus never shuffles)
    // when queryPred is selective; broadcastQueries=false degrades to
    // an AQE-chosen join for corpus-scale query sides
    val buckets = withKeys(
      emb.select(col(idCol).as("id"), col(vecCol).as("v")), "id", "v")
    val queries = withKeys(emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id", "qv")
    val querySide = if (broadcastQueries) broadcast(queries) else queries
    val candidates = buckets.join(querySide, Seq("t", "key"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("id").as("nbr_id"), col("v"))
      .distinct()
    // Bounded top-k aggregation (operators.Sampling.TopKByScore): the
    // map side prunes to k per query before the shuffle — vs the
    // window-rank form (bruteForceTopK) which sorts every candidate.
    // Ordering (score desc, id asc) matches the window-rank tie-break.
    candidates
      .withColumn("cos", Num.r4(cosine(col("qv"), col("v"))))
      .groupBy(col("query_id"))
      .agg(Sampling.topKByScore(col("nbr_id"), col("cos"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.id").as("nbr_id"), col("s.score").as("cos"))
  }
}
