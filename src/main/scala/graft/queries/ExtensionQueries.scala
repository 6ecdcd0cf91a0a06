package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.{Multimodal, Num, Similarity, TextDedup}
import graft.operators.Pin._

/** LLM-data-pipeline tier (builder brief; BASELINE.json north star):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
  * search (brute-force + LSH ANN), text analysis (lang-ID, quality,
  * tokens, fingerprints), multimodal plumbing — each as an
  * oracle-checked query over `documents` / `embeddings`.
  */
object ExtensionQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  // ---- shared oracle SQL fragments (DuckDB) ----

  private val sqlToks = TF.sqlTokens("text")
  private def sqlSh(n: Int) =
    s"list_distinct(${TF.sqlShingles("text", n)})"

  /** DuckDB CTE producing distinct (id, sh) doc-shingle pairs.
    * Shared with PipelineQueries (q36's recursive-CTE oracle). */
  private[queries] def dsCte(n: Int) =
    s"ds AS (SELECT doc_id AS id, unnest(${sqlSh(n)}) AS sh FROM documents)"

  /** Shingle-set sizes + candidate-pair intersections (CTE fragment
    * following `ds` + `cand`). */
  private[queries] val jacCtes: String =
    """sz AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
      |inter AS (
      |  SELECT ca.id_a, ca.id_b, count(*) AS i
      |  FROM cand ca
      |  JOIN ds da ON da.id = ca.id_a
      |  JOIN ds db ON db.id = ca.id_b AND db.sh = da.sh
      |  GROUP BY ca.id_a, ca.id_b)""".stripMargin

  /** Verified similar-pair select over `inter`/`sz` (no ORDER BY). */
  private[queries] def jacSelect(threshold: Double): String =
    s"""SELECT i.id_a, i.id_b,
       |  ${Num.sqlR4("i.i::DOUBLE / (sa.sz + sb.sz - i.i)")} AS jaccard
       |FROM inter i
       |JOIN sz sa ON i.id_a = sa.id
       |JOIN sz sb ON i.id_b = sb.id
       |WHERE ${Num.sqlR4("i.i::DOUBLE / (sa.sz + sb.sz - i.i)")} >= $threshold""".stripMargin

  /** All-pairs-by-shared-shingle candidate CTE (exact Jaccard path). */
  private[queries] val candCte: String =
    """cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM ds a JOIN ds b ON a.sh = b.sh AND a.id < b.id
      |  GROUP BY 1, 2)""".stripMargin

  private def jaccardTail(threshold: Double): String =
    s"""$jacCtes
       |${jacSelect(threshold)}
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q20: exact content dedup ----

  def q20ContentDedup(spark: SparkSession, dir: String): DataFrame =
    TextDedup.contentDedup(docs(spark, dir))
      .orderBy(col("canonical_id"))

  val q20Sql: String =
    s"""SELECT ${TF.sqlFingerprint("text")} AS fp,
       |  min(doc_id) AS canonical_id, count(*) AS copies
       |FROM documents
       |GROUP BY 1
       |ORDER BY canonical_id""".stripMargin

  // ---- q21: token statistics per language ----

  def q21TokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), TF.tokenCount(col("text")).as("tc"),
        TF.meanWordLen(col("text")).as("mwl"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(col("tc")).as("total_tokens"),
        Num.r2(avg(col("tc"))).as("avg_tokens"),
        Num.r4(avg(col("mwl"))).as("avg_word_len"))
      .orderBy(col("lang"))

  val q21Sql: String =
    s"""SELECT lang, count(*) AS doc_count,
       |  CAST(sum(${TF.sqlTokenCount("text")}) AS BIGINT) AS total_tokens,
       |  ${Num.sqlR2(s"avg(${TF.sqlTokenCount("text")})")} AS avg_tokens,
       |  ${Num.sqlR4(s"avg(${TF.sqlMeanWordLen("text")})")} AS avg_word_len
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---- q22: per-document quality scoring ----

  /** The q22 quality formula, shared with q98's canonical selection
    * (both engines must compute bit-identical scores). Raw — callers
    * apply Num.r4. */
  private[queries] def qualityScore(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val tc = TF.tokenCount(text).cast("double")
    least(tc / 100, lit(1.0)) * 0.4 +
      TF.alphaRatio(text) * 0.3 +
      TF.stopwordRatio(text) * 0.3
  }

  private[queries] def sqlQualityScore(c: String): String =
    s"least(${TF.sqlTokenCount(c)} / 100.0, 1.0) * 0.4 + " +
      s"(${TF.sqlAlphaRatio(c)}) * 0.3 + (${TF.sqlStopwordRatio(c)}) * 0.3"

  def q22Quality(spark: SparkSession, dir: String): DataFrame = {
    val score = qualityScore(col("text"))
    docs(spark, dir).select(
      col("doc_id"),
      TF.tokenCount(col("text")).as("token_count"),
      Num.r4(TF.alphaRatio(col("text"))).as("alpha_ratio"),
      Num.r4(TF.stopwordRatio(col("text"))).as("stopword_ratio"),
      Num.r4(TF.meanWordLen(col("text"))).as("mean_word_len"),
      Num.r4(score).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  val q22Sql: String = {
    val tc = TF.sqlTokenCount("text")
    val score = sqlQualityScore("text")
    s"""SELECT doc_id, $tc AS token_count,
       |  ${Num.sqlR4(TF.sqlAlphaRatio("text"))} AS alpha_ratio,
       |  ${Num.sqlR4(TF.sqlStopwordRatio("text"))} AS stopword_ratio,
       |  ${Num.sqlR4(TF.sqlMeanWordLen("text"))} AS mean_word_len,
       |  ${Num.sqlR4(score)} AS quality_score
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q23: language identification (marker heuristic) ----

  def q23LangId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), TF.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("doc_count"))
      .orderBy(col("lang"), col("predicted"))

  val q23Sql: String =
    s"""SELECT lang, ${TF.sqlLangId("text")} AS predicted,
       |  count(*) AS doc_count
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY lang, predicted""".stripMargin

  // ---- q24: exact n-gram Jaccard near-dup pairs. Routed through the
  // prefix-filtered generator (identical result set — the prefix-filter
  // theorem; PropertySpec pins the equivalence against the all-pairs
  // form, boundary-τ included) so the swept query never pays the
  // quadratic-in-collisions inverted-index self-join. The oracle below
  // stays the all-pairs ground truth: equality IS completeness. ----

  def q24NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    TextDedup.prefixJaccardPairs(docs(spark, dir), n = 3, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val q24Sql: String =
    s"""WITH ${dsCte(3)},
       |$candCte,
       |${jaccardTail(0.5)}""".stripMargin

  // ---- q25: MinHash + LSH near-dup pipeline ----

  def q25MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashDedup(docs(spark, dir), n = 3, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val q25Sql: String = {
    import TextDedup.{A, B, P, NumHashes, BandRows, numBands}
    val sigCols = (0 until NumHashes).map(i =>
      s"min((h * ${A(i)} + ${B(i)}) % $P) AS m$i").mkString(",\n    ")
    val bandSelects = (0 until numBands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"m${b * BandRows + r}::VARCHAR").mkString(" || '_' || ")
      s"SELECT id, $b AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${dsCte(3)},
       |h AS (SELECT id, sh, ${TF.sqlHash32("sh")} AS h FROM ds),
       |sig AS (SELECT id,
       |    $sigCols
       |  FROM h GROUP BY id),
       |bands AS (
       |  $bandSelects),
       |bounded AS (
       |  SELECT * FROM (
       |    SELECT id, band, key,
       |      count(*) OVER (PARTITION BY band, key) AS bs
       |    FROM bands)
       |  WHERE bs <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bounded a JOIN bounded b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |${jaccardTail(0.5)}""".stripMargin
  }

  // ---- q26: SimHash near-dup pairs ----

  def q26Simhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(docs(spark, dir), maxHamming = 6)
      .orderBy(col("id_a"), col("id_b"))

  val q26Sql: String = {
    val bitSums = (0 until 32).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN tf ELSE -tf END) AS s$b")
      .mkString(",\n    ")
    val simExpr = (0 until 32).map(b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT id, simhash, $b AS band, (simhash >> ${b * 8}) & 255 AS key FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH tf AS (
       |  SELECT doc_id AS id, tok, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($sqlToks) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |h AS (SELECT id, tf, ${TF.sqlHash32("tok")} AS h FROM tf),
       |bits AS (SELECT id,
       |    $bitSums
       |  FROM h GROUP BY id),
       |sig AS (SELECT id, $simExpr AS simhash FROM bits),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    a.simhash AS sim_a, b.simhash AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       |SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sim_a, sim_b)) <= 6
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q27: brute-force cosine top-k ----

  private val TopK = 5
  private val QueryMod = 50

  def q27CosineTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(embs(spark, dir),
      col("vec_id") % QueryMod === 0, TopK)
      .orderBy(col("query_id"), col("rank"))

  private val sqlDot =
    "list_sum(list_transform(list_zip(q.e, v.e), x -> x[1] * x[2]))"
  private val sqlNorm = (t: String) =>
    s"sqrt(list_sum(list_transform($t.e, x -> x * x)))"

  val q27Sql: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |q AS (SELECT vec_id, e FROM v WHERE vec_id % $QueryMod = 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS nbr_id,
       |    ${Num.sqlR4(s"$sqlDot / (${sqlNorm("q")} * ${sqlNorm("v")})")} AS cos
       |  FROM q JOIN v ON q.vec_id <> v.vec_id),
       |ranked AS (
       |  SELECT query_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, nbr_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, nbr_id, cos
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---- q28: embedding near-dup pairs (cosine threshold) ----

  /** The exposed query rides the blocked-tile join: the naive
    * all-pairs form ([[Similarity.cosinePairs]]) broadcasts one side,
    * and past the broadcast threshold Catalyst silently degrades the
    * conditioned BNLJ to a CartesianProductExec — observed live at
    * sf10 (200 k vectors, round 13), invisible to PlanGate's sf0.001
    * walk. cosinePairs stays in the library as the small-corpus
    * verification twin (ScalaCheck-pinned ≡ blocked; CrossPlan's q87/
    * q79/q181 alternates run it at sf1). */
  def q28CosinePairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairsBlocked(embs(spark, dir), 0.35)
      .orderBy(col("id_a"), col("id_b"))

  /** The oracle mirrors the blocked-tile formulation (per-vector norms
    * in a CTE, one cosine per pair, equi-join on the tile key) instead
    * of the old theta-join that evaluated the cosine lambda TWICE per
    * pair (select + where). The block hash need not match Spark's —
    * any partition of the corpus yields the identical exact pair set.
    * Verified equal to the theta form at sf0.01 (272 rows) and sf0.1
    * (4143 rows); sf0.1 runtime 4.9 s → 3.8 s, and the equi-join
    * parallelizes for larger SFs where the inequality join cannot. */
  val q28Sql: String = {
    val b = 8
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
       |         CAST(hash(vec_id) % $b AS INT) AS blk
       |  FROM embeddings),
       |n AS (SELECT vec_id, e, blk,
       |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
       |t AS (SELECT CAST(r1.range AS INT) AS ba, CAST(r2.range AS INT) AS bb
       |      FROM range($b) r1, range($b) r2 WHERE r1.range <= r2.range),
       |l AS (SELECT t.ba, t.bb, vec_id AS ia, e AS ea, nrm AS na
       |      FROM n JOIN t ON n.blk = t.ba),
       |r AS (SELECT t.ba, t.bb, vec_id AS ib, e AS eb, nrm AS nb
       |      FROM n JOIN t ON n.blk = t.bb),
       |p AS (
       |  SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
       |    ${Num.sqlR4(
        "list_sum(list_transform(list_zip(ea, eb), x -> x[1] * x[2])) / (na * nb)")} AS cos
       |  FROM l JOIN r ON l.ba = r.ba AND l.bb = r.bb
       |  WHERE l.ba <> l.bb OR ia < ib)
       |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q29: LSH ANN top-k — FULLY oracle-checked. Every source of
  // "randomness" is the md5-derived plane matrix (Similarity
  // .planeSign), so the whole pipeline — plane signs → bucket keys →
  // candidate union → exact re-rank — is re-derivable in SQL. The
  // sign decision `dot > 0` runs on RAW doubles in both engines:
  // plane components are ±1.0 and float→double products are exact, so
  // the only rounding is in the additions, and DuckDB's list_sum
  // folds left-to-right exactly like the codegen'd VecLshKeys loop —
  // bit-identical partial sums, verified empirically (0 mismatches
  // across all planes × vectors at sf0.01). Recall vs brute force is
  // additionally property-tested in SimilaritySpec. ----

  def q29AnnLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(embs(spark, dir), col("vec_id") % QueryMod === 0, TopK)
      .orderBy(col("query_id"), col("rank"))

  val q29Sql: String = {
    val numTables = 8; val numPlanes = 6; val dim = 64
    val dotQN = "list_sum(list_transform(list_zip(q.e, n.e), x -> x[1] * x[2]))"
    val normQ = "sqrt(list_sum(list_transform(q.e, x -> x * x)))"
    val normN = "sqrt(list_sum(list_transform(n.e, x -> x * x)))"
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |pe AS (
       |  SELECT tt.t, pp.p, jj.j,
       |    CASE WHEN ((('0x' || substr(md5(tt.t::VARCHAR || '_' ||
       |                 pp.p::VARCHAR || '_' || jj.j::VARCHAR), 1, 8))::BIGINT
       |                >> 3) & 1) = 1
       |         THEN 1.0 ELSE -1.0 END AS s
       |  FROM range($numTables) tt(t), range($numPlanes) pp(p),
       |       range($dim) jj(j)),
       |pl AS (SELECT t, p, list(s ORDER BY j) AS pv FROM pe GROUP BY t, p),
       |keys AS (
       |  SELECT v.vec_id, pl.t,
       |    CAST(sum(CASE WHEN list_sum(list_transform(list_zip(v.e, pl.pv),
       |                       x -> x[1] * x[2])) > 0
       |             THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS key
       |  FROM v, pl GROUP BY v.vec_id, pl.t),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS nbr_id
       |  FROM keys q JOIN keys b ON q.t = b.t AND q.key = b.key
       |    AND b.vec_id <> q.vec_id
       |  WHERE q.vec_id % $QueryMod = 0),
       |scored AS (
       |  SELECT c.query_id, c.nbr_id,
       |    ${Num.sqlR4(s"$dotQN / ($normQ * $normN)")} AS cos
       |  FROM cand c JOIN v q ON q.vec_id = c.query_id
       |              JOIN v n ON n.vec_id = c.nbr_id),
       |ranked AS (
       |  SELECT query_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, nbr_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, nbr_id, cos
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- q29b: IVF ANN — FULLY oracle-checked. The coarse quantizer
  // is deterministic (centroids = first nlist vectors by id), cell
  // cosines are r4-snapped before every argmax/sort, and ties break
  // by cell DESC (Spark's array_max / sort_array struct ordering), so
  // index assignment, probe selection, and the exact re-rank all
  // re-derive in SQL. Recall vs brute force property-tested. ----

  def q29bIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(embs(spark, dir), col("vec_id") % QueryMod === 0, TopK)
      .orderBy(col("query_id"), col("rank"))

  val q29bSql: String = {
    // nlist re-derived from the corpus exactly as Similarity
    // .deriveNlist — 16 at sf0.01, 32 at sf0.1, 128 at sf1 (the shared
    // integer bit-length rule; the old float form here had dropped the
    // 4096 cap and risked a 1-ulp log divergence at power boundaries)
    val nlistSql = Similarity.deriveNlistSql("embeddings")
    val nprobe = 4
    def cosOf(a: String, b: String): String = Num.sqlR4(
      s"list_sum(list_transform(list_zip($a.e, $b.e), x -> x[1] * x[2]))" +
        s" / (sqrt(list_sum(list_transform($a.e, x -> x * x)))" +
        s" * sqrt(list_sum(list_transform($b.e, x -> x * x))))")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
       |  FROM v ORDER BY vec_id LIMIT $nlistSql),
       |cellcos AS (
       |  SELECT v.vec_id, cent.cell, ${cosOf("v", "cent")} AS cos
       |  FROM v, cent),
       |idx AS (
       |  SELECT vec_id, cell FROM cellcos
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos DESC, cell DESC) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cell FROM cellcos
       |  WHERE vec_id % $QueryMod = 0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos DESC, cell DESC) <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, i.vec_id AS nbr_id
       |  FROM probes p JOIN idx i ON i.cell = p.cell
       |    AND i.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.nbr_id, ${cosOf("q", "n")} AS cos
       |  FROM cand c JOIN v q ON q.vec_id = c.query_id
       |              JOIN v n ON n.vec_id = c.nbr_id),
       |ranked AS (
       |  SELECT query_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, nbr_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, nbr_id, cos
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- q30: multimodal column plumbing (stub codec) ----

  def q30Multimodal(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.asMedia(docs(spark, dir)))
      .orderBy(col("doc_id"))

  val q30Sql: String =
    s"""SELECT doc_id,
       |  CASE (doc_id % 3) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
       |       ELSE 'video/mp4' END AS media_type,
       |  octet_length(encode(text)) AS byte_len,
       |  floor(list_sum(list_transform(range(1, length(text) + 1),
       |      i -> ascii(text[i])))::DOUBLE / length(text) * 10000 + 0.5)
       |    / 10000 AS mean_byte,
       |  list_max(list_transform(range(1, length(text) + 1),
       |      i -> ascii(text[i]))) AS max_byte,
       |  CAST(floor((octet_length(encode(text)) + 15) / 16) AS INT) AS frames_sampled
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---- q21b: BPE-ish regex tokenization (builder brief: "token
  // counting (whitespace + a BPE-ish regex)"). Explicit character
  // classes so the Java and RE2 regex dialects agree. ----

  private val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  def q21bBpeTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
      .groupBy(col("lang"))
      .agg(
        sum(size(col("toks"))).as("total_subtokens"),
        Num.r2(avg(size(col("toks")))).as("avg_subtokens"),
        countDistinct(col("doc_id")).as("doc_count"))
      .orderBy(col("lang"))

  val q21bSql: String =
    s"""SELECT lang,
       |  CAST(sum(len(regexp_extract_all(text, '$BpePattern'))) AS BIGINT) AS total_subtokens,
       |  ${Num.sqlR2(s"avg(len(regexp_extract_all(text, '$BpePattern')))")} AS avg_subtokens,
       |  count(DISTINCT doc_id) AS doc_count
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---- q31: winnowing fingerprints (builder brief: "document
  // fingerprinting (rolling hash)"): min shingle-hash over every
  // w-window of consecutive shingles; the distinct minima are the
  // document's fingerprint set (standard winnowing, w=4). ----

  private val WinnowW = 4

  def q31Winnowing(spark: SparkSession, dir: String): DataFrame = {
    // A fully row-local array formulation exists (winnowing never looks
    // across documents) but interpreted HOF lambdas re-evaluate the
    // hash array per element after projection collapse — measured 6×
    // slower than this explode + window form, whose shuffles are tiny
    // (doc_id-partitioned longs).
    import org.apache.spark.sql.expressions.Window
    val sh = docs(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(TF.shinglesFromTokens(col("toks"), 3)).as(Seq("pos", "shingle")))
      .withColumn("h", TF.hash32(col("shingle")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    sh.withColumn("fp", min(col("h")).over(w))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fp")).as("fingerprint_count"),
        min(col("fp")).as("min_fingerprint"))
      .orderBy(col("doc_id"))
  }

  val q31Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, g.i - 1 AS pos, s.sh[g.i] AS shingle
       |  FROM (SELECT doc_id, ${TF.sqlShingles("text", 3)} AS sh
       |        FROM documents) s,
       |       LATERAL (SELECT unnest(range(1, len(s.sh) + 1)) AS i) g),
       |h AS (SELECT doc_id, pos, ${TF.sqlHash32("shingle")} AS h FROM sh),
       |fp AS (
       |  SELECT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp
       |  FROM h)
       |SELECT doc_id, count(DISTINCT fp) AS fingerprint_count,
       |  min(fp) AS min_fingerprint
       |FROM fp
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_content_dedup" -> (q20ContentDedup _),
    "q21_token_stats" -> (q21TokenStats _),
    "q21b_bpe_tokens" -> (q21bBpeTokens _),
    "q31_winnowing" -> (q31Winnowing _),
    "q22_quality" -> (q22Quality _),
    "q23_lang_id" -> (q23LangId _),
    "q24_ngram_jaccard" -> (q24NgramJaccard _),
    "q25_minhash_lsh" -> (q25MinhashLsh _),
    "q26_simhash" -> (q26Simhash _),
    "q27_cosine_topk" -> (q27CosineTopK _),
    "q28_cosine_pairs" -> (q28CosinePairs _),
    "q29_ann_lsh" -> (q29AnnLsh _),
    "q29b_ann_ivf" -> (q29bIvf _),
    "q30_multimodal" -> (q30Multimodal _))

  /** Structurally different twins for the sf1 cross-plan gate
    * (graft.CrossPlan): same result set as the primary through a
    * different algorithm/plan, so the queries whose DuckDB oracle is
    * infeasible at sf1 still get an independent check there.
    *
    * q24: the primary is the PPJoin prefix-filtered form; the twin is
    * the full inverted-index join ([[TextDedup.jaccardPairs]], every
    * shared-shingle pair scored) — no prefix bound, no positional
    * filter, different candidate generation and verification path.
    *
    * q26: the primary joins one exploded band table on (band, key)
    * with a broadcast; the twin runs four independent per-band
    * equi-joins on the raw signature table (shuffle joins) and unions
    * them — different join decomposition, different dedup point. */
  def crossPlanAlternates: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q24_ngram_jaccard" -> ((s, dir) =>
        TextDedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))),
      "q26_simhash" -> (q26SimhashAlt _),
      "q27_cosine_topk" -> (q27Alt _),
      "q28_cosine_pairs" -> (q28Alt _),
      "q29_ann_lsh" -> (q29Alt _))

  /** q27 twin (r16: its DuckDB oracle is a measured >900 s timeout at
    * sf10): same exact brute-force semantics, ranked by the bounded
    * TopKByScore aggregator (map-side prune to k) with an explicitly
    * fixed block replication — versus the primary's window row_number
    * over the derived-block scan. Different ranking operator, shuffle
    * content, and block topology; identical value contract. */
  private def q27Alt(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopKAgg(embs(spark, dir),
      col("vec_id") % QueryMod === 0, TopK, nBlocks = 4)
      .orderBy(col("query_id"), col("rank"))

  /** q28 twin (r16, same sf10-oracle-timeout class): split-and-merge —
    * the corpus is hash-split into two disjoint halves (seeded hash,
    * independent of the tile hash), exact pairs are the union of each
    * half's triangular tiling plus the bipartite cross tiling
    * ([[Similarity.cosinePairsAcross]]) — a structurally different
    * decomposition of the identical exact pair set. */
  private def q28Alt(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val half = pmod(xxhash64(col("vec_id"), lit(1)), lit(2))
    val a = e.filter(half === 0)
    val b = e.filter(half === 1)
    Similarity.cosinePairsBlocked(a, 0.35)
      .unionByName(Similarity.cosinePairsBlocked(b, 0.35))
      .unionByName(Similarity.cosinePairsAcross(a, b, 0.35))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q29 twin (sf10 cross-plan): eight independent per-table bucket
    * equi-joins over per-table key columns (the q26-twin
    * decomposition) unioned and DISTINCTed on bare ids, vectors
    * re-fetched afterwards, exact scores ranked by window row_number —
    * versus the primary's single fused VecLshKeys posexplode join and
    * bounded top-k aggregator. Keys come from the same plane matrix
    * (Similarity.lshKey per table), so candidate sets are identical. */
  private def q29Alt(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorFunctions.vec_cosine
    import org.apache.spark.sql.expressions.Window
    val numPlanes = 6; val numTables = 8; val dim = 64
    val e = embs(spark, dir)
    val keyed = e.select(col("vec_id").as("id") +: col("embedding").as("v") +:
      (0 until numTables).map(t =>
        Similarity.lshKey(col("embedding"), t, numPlanes, dim).as(s"k$t")): _*)
    val perTable = (0 until numTables).map { t =>
      val b = keyed.select(col("id"), col(s"k$t").as("key"))
      val q = keyed.filter(col("id") % QueryMod === 0)
        .select(col("id").as("query_id"), col(s"k$t").as("key"))
      b.join(q, Seq("key"))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("nbr_id"))
    }
    val cands = perTable.reduce(_ unionByName _).distinct()
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    cands
      .join(e.select(col("vec_id").as("nbr_id"), col("embedding").as("cv")),
        Seq("nbr_id"))
      .join(broadcast(e.filter(col("vec_id") % QueryMod === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        Seq("query_id"))
      .withColumn("cos", Num.r4(vec_cosine(col("qv"), col("cv"))))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def q26SimhashAlt(spark: SparkSession, dir: String): DataFrame = {
    val sigs = TextDedup.simhash(docs(spark, dir)).pin(Narrow)
    val perBand = (0 until 4).map { b =>
      val keyed = sigs.select(col("id"), col("simhash"),
        shiftright(col("simhash"), b * 8).bitwiseAND(255).as("key"))
      keyed.as("a").join(keyed.as("b"),
          col("a.key") === col("b.key") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .as("hamming"))
    }
    perBand.reduce(_ unionAll _)
      .filter(col("hamming") <= 6)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  def oracles: Map[String, String] = Map(
    "q20_content_dedup" -> q20Sql,
    "q21_token_stats" -> q21Sql,
    "q21b_bpe_tokens" -> q21bSql,
    "q31_winnowing" -> q31Sql,
    "q22_quality" -> q22Sql,
    "q23_lang_id" -> q23Sql,
    "q24_ngram_jaccard" -> q24Sql,
    "q25_minhash_lsh" -> q25Sql,
    "q26_simhash" -> q26Sql,
    "q27_cosine_topk" -> q27Sql,
    "q28_cosine_pairs" -> q28Sql,
    "q29_ann_lsh" -> q29Sql,
    "q29b_ann_ivf" -> q29bSql,
    "q30_multimodal" -> q30Sql)
}
