package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{LanguageModel, Num, Winnowing}
import graft.functions.{TextFunctions => TF}
import graft.operators.Pin._

/** Document-signal tier (round 10): substring-level fingerprinting and
  * the stronger LM quality signal.
  *
  * q148 — winnowing fingerprints (Schleimer et al. 2003 / MOSS) and the
  * cross-document near-dup pairs they induce: the CONTIGUOUS-run
  * complement to MinHash's bag-of-shingles similarity (q25) and the
  * corpus-wide, cheap form of q71's exact duplicated-span scan.
  *
  * q149 — interpolated Kneser–Ney perplexity per document: the
  * continuation-count smoothing that separates formulaic from natural
  * text better than the add-α model (q83), published in Kneser & Ney
  * 1995 / Chen & Goodman 1998.
  */
object SignalQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // Winnowing parameters: k tokens per gram, w grams per window;
  // fingerprint hashes shared by more than MaxDf documents are dropped
  // (boilerplate guard — the LSH maxBucket discipline: a hash in half
  // the corpus would otherwise induce a quadratic bucket), and pairs
  // need at least MinShared surviving shared hashes.
  private val K = 3
  private val W = 4
  private val MaxDf = 50
  private val MinShared = 2

  /** q148: winnowed near-dup pairs — per-doc fingerprint sets (one
    * doc-partitioned window pass, no self-join), df-guarded hash
    * buckets, then a bucketed equi self-join counting shared
    * fingerprints per pair. */
  def q148WinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // The fingerprint set feeds FOUR consumers (df guard, both sides
    // of the pair join, per-doc sizes). Checkpoint — NOT a lazy cache:
    // a lazy cache is raced by the independent consumer stages AQE
    // submits concurrently, and each racer re-runs the tokenize →
    // gram-hash → window-min pipeline for the partitions it touches
    // first (stage attribution showed the winnow compute 3× in one
    // run, 12 of 16 CPU-s). The eager cut materializes it exactly
    // once before any consumer plans.
    val fp = Winnowing.fingerprintHashes(docs(spark, dir), K, W).pin(Narrow)
    val kept = fp.join(
      fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxDf),
      Seq("fp_hash")).pin(Narrow)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val a = kept.select(col("doc_id").as("doc_a"), col("fp_hash"))
    val b = kept.select(col("doc_id").as("doc_b"), col("fp_hash"))
    a.join(b, Seq("fp_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= MinShared)
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_fp_a"))), Seq("doc_a"))
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_fp_b"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        Num.r4(col("shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")).cast("double")).as("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin: the expanded-window row_number formulation (rank the
    * w grams of each window by (hash asc, pos desc), keep rank 1) —
    * mechanically different from the Spark window-min plan, so the
    * oracle equality also proves the two winnowing formulations agree. */
  val q148Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, ${TF.sqlShingles("text", K)} AS sh FROM documents),
       |g AS (
       |  SELECT doc_id, len(sh) AS n_grams, j - 1 AS p,
       |    ${TF.sqlHash60("sh[j]")} AS h
       |  FROM (SELECT doc_id, sh, unnest(range(1, len(sh) + 1)) AS j
       |        FROM sh WHERE len(sh) >= 1)),
       |sel AS (
       |  SELECT doc_id, h, p FROM (
       |    SELECT w.doc_id, w.s, g2.h, g2.p,
       |      row_number() OVER (PARTITION BY w.doc_id, w.s
       |                         ORDER BY g2.h, g2.p DESC) AS rn
       |    FROM (SELECT doc_id, p AS s FROM g
       |          WHERE p <= greatest(n_grams - $W, 0)) w
       |    JOIN g g2 ON g2.doc_id = w.doc_id
       |            AND g2.p BETWEEN w.s AND w.s + ${W - 1})
       |  WHERE rn = 1),
       |fp AS (SELECT DISTINCT doc_id, h FROM sel),
       |kept AS (
       |  SELECT fp.doc_id, fp.h FROM fp
       |  JOIN (SELECT h, count(*) AS df FROM fp GROUP BY h
       |        HAVING count(*) <= $MaxDf) d ON fp.h = d.h),
       |sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS shared
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY doc_a, doc_b
       |  HAVING count(*) >= $MinShared)
       |SELECT doc_a, doc_b, shared,
       |  ${Num.sqlR4("shared::DOUBLE / least(sa.n_fp, sb.n_fp)::DOUBLE")} AS overlap
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  private val KnDiscount = 0.75

  /** q149: interpolated Kneser–Ney per-document nll (self-scored, so
    * no unseen-event branch — see [[LanguageModel.scoreDocsKneserNey]]). */
  def q149KnScore(spark: SparkSession, dir: String): DataFrame =
    LanguageModel.scoreDocsKneserNey(docs(spark, dir), KnDiscount)
      .orderBy(col("doc_id"))

  val q149Sql: String =
    s"""WITH tk AS (
       |  SELECT * FROM (
       |    SELECT doc_id, ${TF.sqlTokens("text")} AS ts FROM documents)
       |  WHERE len(ts) >= 2),
       |bg AS (
       |  SELECT doc_id, ts[j] AS a, ts[j + 1] AS b
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS j FROM tk)),
       |cab AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
       |ha AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca, count(*) AS n1a
       |       FROM cab GROUP BY a),
       |hb AS (SELECT b, count(*) AS n1b FROM cab GROUP BY b),
       |nt AS (SELECT count(*) AS nt FROM cab),
       |s AS (
       |  SELECT bg.doc_id,
       |    ln(greatest(cab.cab::DOUBLE - $KnDiscount, 0.0) / ha.ca::DOUBLE
       |       + $KnDiscount * ha.n1a::DOUBLE / ha.ca::DOUBLE
       |         * (hb.n1b::DOUBLE / nt.nt::DOUBLE)) AS lp
       |  FROM bg
       |  JOIN cab ON bg.a = cab.a AND bg.b = cab.b
       |  JOIN ha ON bg.a = ha.a
       |  JOIN hb ON bg.b = hb.b
       |  CROSS JOIN nt)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  ${Num.sqlR4("-sum(lp) / count(*)")} AS nll
       |FROM s GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // BM25 parameters (Robertson & Zaragoza 2009; Lucene's +1 idf form so
  // idf stays positive when df > N/2). Queries are derived
  // deterministically from the corpus: the NQueries lowest doc_ids,
  // first QueryLen tokens each.
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val TopK = 5
  private val NQueries = 10
  private val QueryLen = 4

  /** q150: BM25 retrieval top-k — the inverted-index relevance scan.
    *
    * Scale shape: postings (doc, term, tf, dl) shard on the TERM key —
    * the scoring join touches only the posting lists of query terms
    * (the query set broadcasts; at web scale a semi-join prune on term
    * precedes it); document-frequency and corpus stats are tiny
    * term-keyed / one-row frames; per-query top-k is a row_number
    * window partitioned by query_id — no global sort, no corpus×query
    * cartesian. */
  def q150Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(docs(spark, dir))

  /** BM25 over any (doc_id, text) frame — see [[q150Bm25]] for the
    * query-derivation and scale notes. */
  def bm25TopK(d0: DataFrame): DataFrame = {
    // Checkpoints, NOT lazy caches: the token table feeds THREE
    // independent consumers (postings, corpus stats, the query set)
    // and the postings table TWO (df stats, the scoring join) — AQE
    // submits those consumer stages concurrently and racers re-run
    // the tokenize/explode+agg for unfilled cache partitions (the
    // q148 pathology; stage attribution showed the explode+agg twice
    // per run here). The eager cut materializes each exactly once.
    val d = d0
      .select(col("doc_id"), TF.tokens(col("text")).as("ts")).pin(Narrow)
    val postings = d
      .select(col("doc_id"), size(col("ts")).as("dl"), explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")).pin(Narrow)
    val stats = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = d.agg(count(lit(1)).as("n"), avg(size(col("ts"))).as("avgdl"))
    val q = d.orderBy(col("doc_id")).limit(NQueries)
      .select(col("doc_id").as("query_id"), explode(slice(col("ts"), 1, QueryLen)).as("term"))
      .distinct()
    val contrib =
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(Bm25K1 + 1)) /
        (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    val scored = postings
      .join(broadcast(q), Seq("term"))
      .join(stats, Seq("term"))
      .crossJoin(broadcast(corpus))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(Num.r(sum(contrib), 6).as("score"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q150Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, ${TF.sqlTokens("text")} AS ts FROM documents),
       |p AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM d)
       |  GROUP BY doc_id, dl, term),
       |st AS (SELECT term, count(*) AS df FROM p GROUP BY term),
       |c AS (SELECT count(*) AS n, avg(len(ts)) AS avgdl FROM d),
       |q AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT doc_id AS query_id, unnest(ts[1:$QueryLen]) AS term
       |    FROM (SELECT doc_id, ts FROM d ORDER BY doc_id LIMIT $NQueries))),
       |s AS (
       |  SELECT q.query_id, p.doc_id,
       |    ${Num.sqlR(s"sum(ln(1.0 + (c.n - st.df + 0.5) / (st.df + 0.5)) * (p.tf * ${Bm25K1 + 1}) / (p.tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * p.dl / c.avgdl)))", 6)} AS score
       |  FROM p
       |  JOIN q ON p.term = q.term
       |  JOIN st ON p.term = st.term
       |  CROSS JOIN c
       |  GROUP BY q.query_id, p.doc_id)
       |SELECT query_id, doc_id, rank, score FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS INT) AS rank FROM s)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // Unigram-LM tokenizer EM parameters (operators.UnigramLm).
  private val UniMaxPiece = 6
  private val UniMaxWord = 16
  private val UniTopK = 50

  /** q152: one hard-EM round of the SentencePiece unigram tokenizer —
    * seed inventory → per-word Viterbi segmentation (HOF dynamic
    * program, vocabulary-bounded) → re-estimated piece table. The
    * DuckDB twin ENUMERATES every segmentation with a recursive CTE
    * and takes the (cost, path) minimum, so the oracle equality also
    * proves the DP against brute force. */
  def q152UnigramEm(spark: SparkSession, dir: String): DataFrame =
    graft.operators.UnigramLm.emRound(docs(spark, dir),
      maxPiece = UniMaxPiece, maxWordLen = UniMaxWord, topK = UniTopK)

  val q152Sql: String =
    s"""WITH RECURSIVE w AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS f, len(word) AS n FROM (
       |    SELECT unnest(${TF.sqlTokens("text")}) AS word FROM documents) t
       |  GROUP BY word
       |  HAVING len(word) <= $UniMaxWord),
       |ii AS (SELECT word, f, n, unnest(range(0, n)) AS i FROM w),
       |cand AS (
       |  SELECT word, f, n, i, substr(word, i + 1, l) AS piece, l FROM (
       |    SELECT word, f, n, i,
       |      unnest(range(1, least($UniMaxPiece, n - i) + 1)) AS l
       |    FROM ii) t),
       |seed AS (SELECT piece, CAST(sum(f) AS BIGINT) AS scnt
       |         FROM cand GROUP BY piece),
       |stot AS (SELECT CAST(sum(scnt) AS BIGINT) AS st FROM seed),
       |lp AS (SELECT piece, ln(scnt / st) AS lp
       |       FROM seed CROSS JOIN stot),
       |seg(word, pos, cost, path) AS (
       |  SELECT word, 0, 0.0::DOUBLE, '' FROM w
       |  UNION ALL
       |  SELECT s.word, s.pos + c.l, s.cost + lp.lp, s.path || '|' || c.piece
       |  FROM seg s
       |  JOIN cand c ON c.word = s.word AND c.i = s.pos
       |  JOIN lp ON lp.piece = c.piece),
       |best AS (
       |  SELECT word, path FROM (
       |    SELECT s.word, s.path,
       |      row_number() OVER (PARTITION BY s.word
       |                         ORDER BY s.cost, s.path) AS rn
       |    FROM seg s JOIN w ON w.word = s.word AND s.pos = w.n) t
       |  WHERE rn = 1),
       |used AS (
       |  SELECT piece, CAST(sum(f) AS BIGINT) AS cnt FROM (
       |    SELECT w.f,
       |      unnest(list_filter(string_split(b.path, '|'), t -> t <> '')) AS piece
       |    FROM best b JOIN w ON w.word = b.word) t
       |  GROUP BY piece),
       |mt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM used)
       |SELECT rank, piece, cnt, prob FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT) AS rank,
       |    piece, cnt, ${Num.sqlR("cnt::DOUBLE / t::DOUBLE", 8)} AS prob
       |  FROM used CROSS JOIN mt) r
       |WHERE rank <= $UniTopK
       |ORDER BY rank""".stripMargin

  // ---- q153: edit-distance similarity self-join over part names —
  // the fuzzy-match/entity-resolution operator. Spark side routes
  // through the positional q-gram count filter (never all-pairs,
  // operators.EditDistanceJoin); the oracle is the brute-force
  // definitional form (length-filtered cross join + levenshtein),
  // so the hash match IS the completeness proof of the pruning. ----

  private val EditK = 2

  def q153EditJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EditDistanceJoin.selfJoin(
      Tables.load(spark, dir, "part"), "p_name", maxDist = EditK)
      .select(col("s_a").as("name_a"), col("s_b").as("name_b"), col("dist"))
      .orderBy(col("name_a"), col("name_b"))

  val q153Sql: String =
    s"""WITH n AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
       |SELECT a.s AS name_a, b.s AS name_b,
       |  CAST(levenshtein(a.s, b.s) AS INT) AS dist
       |FROM n a JOIN n b
       |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= $EditK
       |WHERE levenshtein(a.s, b.s) <= $EditK
       |ORDER BY name_a, name_b""".stripMargin

  /** q148 twin (sf10 cross-plan): the EXPANDED-window winnowing
    * formulation — each gram explodes into every window containing it
    * (a sequence() explode) and each window picks its fingerprint by
    * groupBy + min(struct(h, −p)) — versus the primary's single
    * sliding window-frame min. Same rightmost-min rule, same hash60
    * gram hashes, so the fingerprint sets are identical; the pair
    * stage re-runs the same df-guarded inverted-index join inline. */
  private def q148Alt(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .select(col("doc_id"),
        TF.shinglesFromTokens(TF.tokens(col("text")), K).as("sh"))
      .filter(size(col("sh")) >= 1)
      .select(col("doc_id"), size(col("sh")).as("n_grams"),
        posexplode(col("sh")).as(Seq("p", "gram")))
      .select(col("doc_id"), col("n_grams"), col("p"),
        TF.hash60(col("gram")).as("h"))
    // valid window starts s ∈ [max(0, p−w+1), min(p, max(n−w, 0))]
    val maxS = greatest(col("n_grams") - W, lit(0))
    val fp = grams
      .withColumn("s", explode(sequence(
        greatest(lit(0), col("p") - W + 1), least(col("p"), maxS))))
      .groupBy(col("doc_id"), col("s"))
      .agg(min(struct(col("h"), (-col("p")).as("np"))).as("m"))
      .select(col("doc_id"), col("m.h").as("fp_hash"))
      .distinct().pin(Wide)
    val kept = fp.join(
      fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxDf),
      Seq("fp_hash")).pin(Wide)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val a = kept.select(col("doc_id").as("doc_a"), col("fp_hash"))
    val b = kept.select(col("doc_id").as("doc_b"), col("fp_hash"))
    a.join(b, Seq("fp_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= MinShared)
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"),
        col("n_fp").as("n_fp_a"))), Seq("doc_a"))
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"),
        col("n_fp").as("n_fp_b"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        Num.r4(col("shared").cast("double") /
          least(col("n_fp_a"), col("n_fp_b")).cast("double")).as("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def crossPlanAlternates: Map[String, (SparkSession, String) => DataFrame] =
    Map("q148_winnow_pairs" -> (q148Alt _))

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q148_winnow_pairs" -> (q148WinnowPairs _),
    "q149_kn_score" -> (q149KnScore _),
    "q150_bm25" -> (q150Bm25 _),
    "q152_unigram_em" -> (q152UnigramEm _),
    "q153_edit_join" -> (q153EditJoin _))

  def oracles: Map[String, String] = Map(
    "q148_winnow_pairs" -> q148Sql,
    "q149_kn_score" -> q149Sql,
    "q150_bm25" -> q150Sql,
    "q152_unigram_em" -> q152Sql,
    "q153_edit_join" -> q153Sql)
}
