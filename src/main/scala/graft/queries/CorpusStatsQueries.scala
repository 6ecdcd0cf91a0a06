package graft.queries

import graft.operators.Pin._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.{Graph, LanguageModel, LogisticGd, Num, Similarity, TextDedup}

/** Round-5 third wave: corpus-statistics and exact-similarity
  * scale-path operators — token entropy, bigram-LM quality scoring,
  * temperature-based training-mix weights, incremental aggregate
  * maintenance, prefix-filtered (PPJoin) Jaccard, directed containment
  * dedup, and PageRank over the near-dup graph.
  *
  * Scale notes (100 TB): entropy and LM scoring are one or two keyed
  * aggregations over narrow exploded rows; the prefix-filtered join is
  * the exact-similarity answer to "all-pairs doesn't scale" (index
  * only rare-shingle prefixes); PageRank reuses one node-keyed
  * partitioning across rounds; the incremental-aggregate query is the
  * lakehouse pattern that avoids recomputing a 100 TB view when 1 GB
  * of new facts lands.
  */
object CorpusStatsQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  // ---- q82: per-document token entropy + type-token ratio — the
  // lexical-diversity quality signals (low-entropy docs are repetitive
  // boilerplate; Gopher filters on exactly this family). One
  // (doc_id, tok) aggregation, then a doc-keyed rollup: H = ln n −
  // (Σ c·ln c)/n, in nats. ln is libm → the result rides the Num.r4
  // snap (q47 convention). ----

  def q82Entropy(spark: SparkSession, dir: String): DataFrame = {
    val c = docs(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    c.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("sclc"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        Num.r4(log(col("n_tokens").cast("double"))
          - col("sclc") / col("n_tokens")).as("entropy"),
        Num.r4(col("n_types").cast("double") / col("n_tokens")).as("ttr"))
      .orderBy(col("doc_id"))
  }

  val q82Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(${TF.sqlTokens("text")}) AS tok FROM documents),
       |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  count(*) AS n_types,
       |  ${Num.sqlR4("ln(sum(c)) - sum(c * ln(c)) / sum(c)")} AS entropy,
       |  ${Num.sqlR4("count(*)::DOUBLE / sum(c)")} AS ttr
       |FROM c GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q83: bigram-LM quality scoring (CCNet signal): train an
  // add-1-smoothed bigram model on the corpus, score every document's
  // average negative log-likelihood under it. ----

  def q83LmScore(spark: SparkSession, dir: String): DataFrame =
    LanguageModel.scoreDocs(docs(spark, dir), alpha = 1.0)
      .orderBy(col("doc_id"))

  val q83Sql: String =
    s"""WITH tk AS (
       |  SELECT * FROM (
       |    SELECT doc_id, ${TF.sqlTokens("text")} AS ts FROM documents)
       |  WHERE len(ts) >= 2),
       |bg AS (
       |  SELECT doc_id, ts[j] AS a, ts[j + 1] AS b
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS j FROM tk)),
       |cab AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
       |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY a),
       |vv AS (
       |  SELECT count(DISTINCT tok) AS v
       |  FROM (SELECT unnest(${TF.sqlTokens("text")}) AS tok FROM documents)),
       |s AS (
       |  SELECT bg.doc_id,
       |    ln((cab.cab::DOUBLE + 1.0::DOUBLE)
       |       / (ca.ca::DOUBLE + 1.0::DOUBLE * vv.v::DOUBLE)) AS lp
       |  FROM bg
       |  JOIN cab ON bg.a = cab.a AND bg.b = cab.b
       |  JOIN ca ON bg.a = ca.a
       |  CROSS JOIN vv)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  ${Num.sqlR4("-sum(lp) / count(*)")} AS nll
       |FROM s GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q84: temperature-based training-mix weights (the multilingual
  // /multi-source rebalancing rule, p^α renormalized — α < 1 upsamples
  // tail sources): per source, its corpus share p, its α=0.3 sampling
  // weight, and the expected document count in a fixed budget. The
  // windows run over the POST-aggregation table (one row per source),
  // not the corpus. ----

  private val MixAlpha = 0.3
  private val MixBudget = 10000

  def q84TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scalars.withScalars
    // pinned: |sources| rows after the one corpus shuffle — the two
    // scalar-cross stages below each re-read this frame, and without
    // the pin the second would rescan the corpus
    val perSource = docs(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .pin(Wide)
    val withP = withScalars(perSource, "tot_n" -> sum(col("n_docs")))
      .withColumn("p", col("n_docs").cast("double") / col("tot_n"))
      .withColumn("pa", pow(col("p"), MixAlpha))
    withScalars(withP, "tot_pa" -> sum(col("pa")))
      .withColumn("w", col("pa") / col("tot_pa"))
      .select(col("source"), col("n_docs"), Num.r4(col("p")).as("p"),
        Num.r4(col("w")).as("w"),
        Num.r2(col("w") * MixBudget).as("exp_docs"))
      .orderBy(col("source"))
  }

  val q84Sql: String =
    s"""WITH s AS (
       |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |ww AS (
       |  SELECT source, n_docs,
       |    n_docs::DOUBLE / sum(n_docs) OVER () AS p,
       |    pow(n_docs::DOUBLE / sum(n_docs) OVER (), $MixAlpha) AS pa
       |  FROM s)
       |SELECT source, n_docs, ${Num.sqlR4("p")} AS p,
       |  ${Num.sqlR4("pa / sum(pa) OVER ()")} AS w,
       |  ${Num.sqlR2(s"pa / sum(pa) OVER () * $MixBudget")} AS exp_docs
       |FROM ww
       |ORDER BY source""".stripMargin

  // ---- q85: incremental aggregate maintenance — the materialized-
  // view delta-merge pattern: the (priority, month) revenue view is
  // maintained as mergeable partials (count, sum), so a new fact batch
  // costs one partial over the DELTA plus a merge — never a rescan of
  // the base. avg is DERIVED from merged sums (algebraic, not
  // distributive — it cannot be merged directly). The oracle is the
  // full recompute, which is exactly the invariant that makes the
  // pattern safe. ----

  private val IncrSplit = "1999-01-01"

  def q85IncrAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    def partials(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderpriority"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("rev"))
    val base = partials(orders.filter(col("o_orderdate") < lit(IncrSplit)))
    val delta = partials(orders.filter(col("o_orderdate") >= lit(IncrSplit)))
    base.unionByName(delta)
      .groupBy(col("o_orderpriority"), col("ym"))
      .agg(sum(col("cnt")).as("orders"), sum(col("rev")).as("rev"))
      .select(col("o_orderpriority"), col("ym"), col("orders"),
        Num.r2(col("rev")).as("revenue"),
        Num.r2(col("rev") / col("orders")).as("avg_price"))
      .orderBy(col("o_orderpriority"), col("ym"))
  }

  val q85Sql: String =
    s"""SELECT o_orderpriority,
       |  year(o_orderdate) * 100 + month(o_orderdate) AS ym,
       |  count(*) AS orders,
       |  ${Num.sqlR2("sum(o_totalprice)")} AS revenue,
       |  ${Num.sqlR2("sum(o_totalprice) / count(*)")} AS avg_price
       |FROM orders
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ---- q86: prefix-filtered exact Jaccard join (AllPairs/PPJoin) —
  // identical result to the all-pairs inverted-index form, but only
  // rare-shingle PREFIXES are indexed. The oracle is the full
  // all-pairs computation: equality IS the completeness theorem. ----

  private val PrefixTau = 0.4

  def q86PrefixJaccard(spark: SparkSession, dir: String): DataFrame =
    TextDedup.prefixJaccardPairs(docs(spark, dir), n = 3, threshold = PrefixTau)
      .orderBy(col("id_a"), col("id_b"))

  val q86Sql: String =
    s"""WITH ${ExtensionQueries.dsCte(3)},
       |${ExtensionQueries.candCte},
       |${ExtensionQueries.jacCtes}
       |${ExtensionQueries.jacSelect(PrefixTau)}
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q87: PageRank over the embedding near-dup graph — 3 damped
  // iterations, ranks snapped per round (the q81 unrolled-oracle
  // contract). Edges are q28's pair semantics via the blocked tile
  // join (exact, no BroadcastNestedLoopJoin; see cosinePairsBlocked). ----

  private val PrIters = 3
  private val PrDamp = 0.85
  private val PrTau = 0.35

  def q87Pagerank(spark: SparkSession, dir: String): DataFrame =
    Graph.pageRank(
      Similarity.cosinePairsBlocked(embs(spark, dir), PrTau)
        .select(col("id_a"), col("id_b")),
      iters = PrIters, damping = PrDamp)
      .orderBy(col("node"))

  // ---- q181: degree structure of the near-dup graph — node/edge
  // counts, mean/max degree, and the discrete power-law exponent MLE
  // α = 1 + n / Σ ln(dᵢ/(d_min − ½)) (Clauset–Shalizi–Newman 2009,
  // d_min = 1 ⇒ ln(2d)) — the shape diagnostic that says whether the
  // duplicate graph is a few mega-clusters (small α, hub-heavy) or
  // scattered pairs (large α). One degree aggregation over the q28
  // edge list; everything after is a one-row reduce. ----

  def q181DegreeMle(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint: the degree union reads the edge list twice; without
    // it the blocked pair join runs once per branch
    val edges = Similarity.cosinePairsBlocked(embs(spark, dir), PrTau)
      .select(col("id_a"), col("id_b"))
      .pin(Narrow)
    val deg = edges.select(col("id_a").as("node"))
      .unionAll(edges.select(col("id_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    deg.agg(count(lit(1)).as("n_nodes"),
        (sum(col("d")) / 2).cast("long").as("n_edges"),
        max(col("d")).as("max_degree"),
        Num.r4(avg(col("d"))).as("mean_degree"),
        sum(log(col("d").cast("double") * 2)).as("slog"))
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("mean_degree"),
        Num.r4(lit(1.0) + col("n_nodes").cast("double") / col("slog"))
          .as("alpha_mle"))
  }

  val q181Sql: String = {
    val dot = "list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2]))"
    val norm = (t: String) => s"sqrt(list_sum(list_transform($t.e, x -> x * x)))"
    val pairCos = Num.sqlR4(s"$dot / (${norm("a")} * ${norm("b")})")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |edges AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id
       |  WHERE $pairCos >= $PrTau),
       |deg AS (
       |  SELECT node, count(*) AS d FROM (
       |    SELECT id_a AS node FROM edges
       |    UNION ALL SELECT id_b FROM edges)
       |  GROUP BY 1)
       |SELECT count(*) AS n_nodes,
       |  CAST(sum(d) / 2 AS BIGINT) AS n_edges,
       |  max(d) AS max_degree,
       |  ${Num.sqlR4("avg(d)")} AS mean_degree,
       |  ${Num.sqlR4("1.0 + count(*)::DOUBLE / sum(ln(d::DOUBLE * 2))")}
       |    AS alpha_mle
       |FROM deg""".stripMargin
  }

  val q87Sql: String = {
    val dot = "list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2]))"
    val norm = (t: String) => s"sqrt(list_sum(list_transform($t.e, x -> x * x)))"
    val pairCos = Num.sqlR4(s"$dot / (${norm("a")} * ${norm("b")})")
    val base = s"(1.0::DOUBLE - $PrDamp::DOUBLE) / nn.n"
    def round(i: Int): String =
      s"""p$i AS (
         |  SELECT s.node, ${Num.sqlR(s"$base + $PrDamp::DOUBLE * s.m", 8)} AS pr
         |  FROM (
         |    SELECT e.id_b AS node, sum(p.pr / d.deg) AS m
         |    FROM e
         |    JOIN p${i - 1} p ON e.id_a = p.node
         |    JOIN deg d ON e.id_a = d.node
         |    GROUP BY e.id_b) s, nn)""".stripMargin
    val rounds = (1 to PrIters).map(round).mkString(",\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |e0 AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id
       |  WHERE $pairCos >= $PrTau),
       |e AS (SELECT id_a, id_b FROM e0
       |      UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM e0),
       |deg AS (SELECT id_a AS node, count(*) AS deg FROM e GROUP BY id_a),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
       |p0 AS (SELECT node, 1.0::DOUBLE / nn.n AS pr FROM deg, nn),
       |$rounds
       |SELECT d.node AS node, d.deg AS deg, p.pr AS pr
       |FROM p$PrIters p JOIN deg d ON p.node = d.node
       |ORDER BY node""".stripMargin
  }

  // ---- q88: directed containment dedup — |A∩B| / |A| ≥ τ catches
  // excerpts and quotations that Jaccard misses (a 50-shingle doc
  // inside a 500-shingle doc has J ≈ 0.1 but containment 1.0).
  // Runs the prefix-filtered scale path (contained-side prefix
  // index + positional bound + merge-intersect verify); the oracle
  // below is the all-pairs ground truth. ----

  private val ContainTau = 0.6

  def q88Containment(spark: SparkSession, dir: String): DataFrame =
    TextDedup.prefixContainmentPairs(docs(spark, dir), n = 3,
      threshold = ContainTau)
      .orderBy(col("contained"), col("container"))

  val q88Sql: String =
    s"""WITH ${ExtensionQueries.dsCte(3)},
       |${ExtensionQueries.candCte},
       |${ExtensionQueries.jacCtes},
       |bi AS (
       |  SELECT i.id_a, i.id_b, i.i, sa.sz AS sz_a, sb.sz AS sz_b
       |  FROM inter i
       |  JOIN sz sa ON i.id_a = sa.id
       |  JOIN sz sb ON i.id_b = sb.id),
       |d AS (
       |  SELECT id_a AS contained, id_b AS container,
       |    ${Num.sqlR4("i::DOUBLE / sz_a")} AS containment FROM bi
       |  UNION ALL
       |  SELECT id_b AS contained, id_a AS container,
       |    ${Num.sqlR4("i::DOUBLE / sz_b")} AS containment FROM bi)
       |SELECT contained, container, containment
       |FROM d WHERE containment >= $ContainTau
       |ORDER BY contained, container""".stripMargin

  // ---- q89: incremental batch-vs-corpus dedup — the daily-ingest
  // shape. The corpus/batch split is a deterministic content-hash
  // bucket of doc_id (the q39/q56 convention), so both engines see
  // identical sides. ----

  private val IncrBatchBucket = 8 // hash60(doc_id) % 10 ≥ 8 → batch
  private val IncrNearTau = 0.5

  private def splitHashSql = TF.sqlHash60("doc_id::VARCHAR") + " % 10"
  private def splitHash = TF.hash60(col("doc_id").cast("string")) % 10

  def q89IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.incrementalDedup(
      d.filter(splitHash >= IncrBatchBucket),
      TextDedup.corpusIndex(d.filter(splitHash < IncrBatchBucket), n = 3),
      threshold = IncrNearTau)
      .orderBy(col("doc_id"))
  }

  val q89Sql: String = {
    import TextDedup.{A, B, P, NumHashes, BandRows, numBands}
    val sigCols = (0 until NumHashes).map(i =>
      s"min((h * ${A(i)} + ${B(i)}) % $P) AS m$i").mkString(",\n    ")
    def bandsOf(sig: String) = (0 until numBands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"m${b * BandRows + r}::VARCHAR").mkString(" || '_' || ")
      s"SELECT id, $b AS band, $key AS key FROM $sig"
    }.mkString("\n  UNION ALL\n  ")
    val sh = s"list_distinct(${TF.sqlShingles("text", 3)})"
    s"""WITH c AS (SELECT * FROM documents WHERE $splitHashSql < $IncrBatchBucket),
       |b AS (SELECT * FROM documents WHERE $splitHashSql >= $IncrBatchBucket),
       |bfp AS (SELECT doc_id AS id, ${TF.sqlFingerprint("text")} AS fp FROM b),
       |cfp AS (SELECT ${TF.sqlFingerprint("text")} AS fp FROM c),
       |ex AS (SELECT id, count(*) AS n_exact FROM bfp JOIN cfp USING (fp) GROUP BY id),
       |brest AS (SELECT * FROM b WHERE doc_id NOT IN (SELECT id FROM ex)),
       |bs AS (SELECT doc_id AS id, unnest($sh) AS sh FROM brest),
       |cs AS (SELECT doc_id AS id, unnest($sh) AS sh FROM c),
       |bh AS (SELECT id, sh, ${TF.sqlHash32("sh")} AS h FROM bs),
       |ch AS (SELECT id, sh, ${TF.sqlHash32("sh")} AS h FROM cs),
       |bsig AS (SELECT id,
       |    $sigCols
       |  FROM bh GROUP BY id),
       |csig AS (SELECT id,
       |    $sigCols
       |  FROM ch GROUP BY id),
       |bbands AS (
       |  ${bandsOf("bsig")}),
       |cbands AS (
       |  ${bandsOf("csig")}),
       |cbounded AS (
       |  SELECT * FROM (
       |    SELECT id, band, key,
       |      count(*) OVER (PARTITION BY band, key) AS bsz
       |    FROM cbands)
       |  WHERE bsz <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_b, b.id AS id_c
       |  FROM bbands a JOIN cbounded b
       |    ON a.band = b.band AND a.key = b.key),
       |szb AS (SELECT id, count(*) AS sz FROM bs GROUP BY id),
       |szc AS (SELECT id, count(*) AS sz FROM cs GROUP BY id),
       |inter AS (
       |  SELECT ca.id_b, ca.id_c, count(*) AS i
       |  FROM cand ca
       |  JOIN bs da ON da.id = ca.id_b
       |  JOIN cs db ON db.id = ca.id_c AND db.sh = da.sh
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT i.id_b AS id, count(*) AS n_near
       |  FROM inter i
       |  JOIN szb sa ON i.id_b = sa.id
       |  JOIN szc sb ON i.id_c = sb.id
       |  WHERE ${Num.sqlR4("i.i::DOUBLE / (sa.sz + sb.sz - i.i)")} >= $IncrNearTau
       |  GROUP BY 1)
       |SELECT b.doc_id AS doc_id,
       |  CASE WHEN e.n_exact > 0 THEN 'dup_exact'
       |       WHEN nr.n_near > 0 THEN 'dup_near'
       |       ELSE 'new' END AS status,
       |  CAST(COALESCE(e.n_exact, nr.n_near, 0) AS BIGINT) AS n_matches
       |FROM b
       |LEFT JOIN ex e ON b.doc_id = e.id
       |LEFT JOIN near nr ON b.doc_id = nr.id
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q90: batch novelty against the corpus — fraction of each
  // batch doc's distinct shingles unseen anywhere in the corpus. ----

  def q90Novelty(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.noveltyAgainstCorpus(
      d.filter(splitHash >= IncrBatchBucket),
      d.filter(splitHash < IncrBatchBucket), n = 3)
      .orderBy(col("doc_id"))
  }

  val q90Sql: String = {
    val sh = s"list_distinct(${TF.sqlShingles("text", 3)})"
    s"""WITH c AS (SELECT * FROM documents WHERE $splitHashSql < $IncrBatchBucket),
       |b AS (SELECT * FROM documents WHERE $splitHashSql >= $IncrBatchBucket),
       |bs AS (SELECT doc_id AS id, unnest($sh) AS sh FROM b),
       |csh AS (SELECT DISTINCT sh FROM (SELECT unnest($sh) AS sh FROM c))
       |SELECT bs.id AS doc_id, count(*) AS n_shingles,
       |  ${Num.sqlR4("count(CASE WHEN csh.sh IS NULL THEN 1 END)::DOUBLE / count(*)")} AS novel_frac
       |FROM bs LEFT JOIN csh ON bs.sh = csh.sh
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  // ---- q91: quality-classifier training — binary logistic regression
  // by full-batch gradient descent on cheap document features
  // (intercept, capped token count, alpha ratio, stopword ratio,
  // scaled mean word length) against the lang='en' label. Rounds are
  // unrolled in the DuckDB oracle with per-round 8-decimal weight
  // snaps (the q81 contract). ----

  private val LrIters = 4
  private val LrEta = 2.0
  private val LrDim = LogisticGd.QualityDim

  private def lrFeatures(d: DataFrame): DataFrame =
    LogisticGd.qualityFeatures(d)
      .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))

  private def lrFit(spark: SparkSession, dir: String): (DataFrame, Array[Double]) = {
    val feat = lrFeatures(docs(spark, dir))
    (feat, LogisticGd.fit(feat, LrDim, iters = LrIters, lr = LrEta))
  }

  def q91QualityLr(spark: SparkSession, dir: String): DataFrame = {
    val (feat, w) = lrFit(spark, dir)
    val z = LogisticGd.linearScore(w.toSeq)
    val acc = avg(when((z >= 0) === (col("y") === 1.0), 1.0).otherwise(0.0))
    feat.agg(count(lit(1)).as("n"), Num.r4(acc).as("acc"))
      .select(Seq(col("n"), col("acc")) ++
        w.zipWithIndex.map { case (wj, j) => lit(wj).as(s"w$j") }: _*)
  }

  /** Shared oracle CTE chain: feature table (with passthrough columns)
    * + LrIters unrolled GD rounds ending in the one-row `w$LrIters`. */
  private def lrSqlCtes(passthrough: String): String = {
    val tc = TF.sqlTokenCount("text")
    val d = LrDim
    def dot(ws: Int => String) =
      (0 until d).map(j => s"${ws(j)}*x$j").mkString(" + ")
    def roundSelect(ws: Int => String) =
      (0 until d).map(j => Num.sqlR(
        s"${ws(j)} - $LrEta * avg((1.0/(1.0+exp(-(${dot(ws)}))) - y)*x$j)", 8) +
        s" AS w$j").mkString(",\n    ")
    val r1 = s"""w1 AS (
       |  SELECT ${roundSelect(_ => "0.0")}
       |  FROM feat)""".stripMargin
    val rest = (2 to LrIters).map { r =>
      s"""w$r AS (
         |  SELECT ${roundSelect(j => s"w.w$j")}
         |  FROM feat, w${r - 1} w
         |  GROUP BY ${(0 until d).map(j => s"w.w$j").mkString(", ")})""".stripMargin
    }.mkString(",\n")
    s"""feat AS (
       |  SELECT
       |    $passthrough
       |    1.0 AS x0,
       |    ${Num.sqlR(s"least($tc / 100.0, 1.0)", 8)} AS x1,
       |    ${Num.sqlR(TF.sqlAlphaRatio("text"), 8)} AS x2,
       |    ${Num.sqlR(TF.sqlStopwordRatio("text"), 8)} AS x3,
       |    ${Num.sqlR(s"(${TF.sqlMeanWordLen("text")}) / 10.0", 8)} AS x4,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |$r1,
       |$rest""".stripMargin
  }

  private def lrSqlDotW: String =
    (0 until LrDim).map(j => s"w.w$j*x$j").mkString(" + ")

  val q91Sql: String = {
    val d = LrDim
    s"""WITH ${lrSqlCtes("")}
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sqlR4(s"avg(CASE WHEN (($lrSqlDotW) >= 0) = (y = 1.0) THEN 1.0 ELSE 0.0 END)")} AS acc,
       |  ${(0 until d).map(j => s"w.w$j AS w$j").mkString(", ")}
       |FROM feat, w$LrIters w
       |GROUP BY ${(0 until d).map(j => s"w.w$j").mkString(", ")}""".stripMargin
  }

  // ---- q172: classifier CALIBRATION (reliability diagram) — the
  // ML-eval companion of q91: bucket the trained model's predicted
  // probabilities into deciles and compare avg predicted vs actual
  // positive rate per bin. A model can be accurate yet miscalibrated;
  // a routing threshold (q94) inherits exactly that bias, so the
  // reliability table is what a corpus-routing deployment checks
  // before trusting scores as probabilities. Probabilities are
  // r6-snapped BEFORE bucketing so the exp() ulp between engines
  // can't flip a boundary document's bin. ----

  /** Binning is EQUAL-FREQUENCY (score deciles), not fixed-width:
    * a few-round GD model's probabilities cluster in a narrow band
    * (measured [0.09, 0.14] here), so fixed 0.1-wide bins leave the
    * diagram with one populated row. Equal-count bins are the
    * standard reliability-diagram variant for exactly this case and
    * always yield 10 informative rows. Ranks come from the range-
    * partitioned GlobalOrder (total order (p, doc_id)); probabilities
    * are r6-snapped BEFORE ranking so the exp() ulp between engines
    * can't reorder a boundary document. */
  def q172Calibration(spark: SparkSession, dir: String): DataFrame = {
    val (feat, w) = lrFit(spark, dir)
    val z = LogisticGd.linearScore(w.toSeq)
    val p = Num.r(lit(1.0) / (lit(1.0) + exp(-z)), 6)
    val scored = feat.select(col("doc_id"), p.as("p"), col("y"))
    val n = broadcast(scored.agg(count(lit(1)).as("n")))
    graft.operators.GlobalOrder
      .withGlobalPos(scored, 8, Seq(col("p"), col("doc_id")), "rk")
      .crossJoin(n)
      .select(expr("(10 * (rk - 1)) div n").as("bin"), col("p"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        Num.r4(avg(col("p"))).as("avg_pred"),
        Num.r4(avg(col("y"))).as("actual_rate"))
      .orderBy(col("bin"))
  }

  val q172Sql: String =
    s"""WITH ${lrSqlCtes("doc_id,")},
       |scored AS (
       |  SELECT doc_id, ${Num.sqlR(s"1.0/(1.0+exp(-($lrSqlDotW)))", 6)} AS p, y
       |  FROM feat, w$LrIters w),
       |k AS (
       |  SELECT *, row_number() OVER (ORDER BY p, doc_id) AS rk,
       |    count(*) OVER () AS n
       |  FROM scored)
       |SELECT (10 * (rk - 1)) // n AS bin,
       |  count(*) AS n,
       |  ${Num.sqlR4("avg(p)")} AS avg_pred,
       |  ${Num.sqlR4("avg(y)")} AS actual_rate
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q173: exact ROC-AUC of the quality classifier — the ranking
  // metric beside q172's calibration table (operators.Auc: Mann-
  // Whitney midrank form, integer rank arithmetic over the range-
  // partitioned cumulative count — exact at any scale, never a
  // single-reducer sort). Scores share q172's r6-snapped sigmoid so
  // the tie structure is identical in both engines; the oracle
  // computes the same midrank formula with a window cumsum, so the
  // hash match proves the distributed ranks against the definitional
  // form. ----

  def q173Auc(spark: SparkSession, dir: String): DataFrame = {
    val (feat, w) = lrFit(spark, dir)
    val z = LogisticGd.linearScore(w.toSeq)
    val p = Num.r(lit(1.0) / (lit(1.0) + exp(-z)), 6)
    graft.operators.Auc.auc(
      feat.select(p.as("p"), col("y")), "p", "y")
  }

  val q173Sql: String =
    s"""WITH ${lrSqlCtes("")},
       |scored AS (
       |  SELECT ${Num.sqlR(s"1.0/(1.0+exp(-($lrSqlDotW)))", 6)} AS p,
       |    CAST(y AS BIGINT) AS yl
       |  FROM feat, w$LrIters w),
       |g AS (SELECT p, count(*) AS c, sum(yl) AS pos FROM scored GROUP BY 1),
       |k AS (SELECT *, sum(c) OVER (ORDER BY p) AS e FROM g),
       |m AS (SELECT pos, c, 2 * (e - c) + c + 1 AS mr2 FROM k),
       |t AS (SELECT sum(pos) AS np, sum(c - pos) AS nn,
       |        sum(pos * mr2) AS s2 FROM m)
       |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       |  CASE WHEN np > 0 AND nn > 0 THEN
       |    ${Num.sqlR("(s2 - np * (np + 1))::DOUBLE / (2.0 * np * nn)", 6)}
       |  END AS auc
       |FROM t""".stripMargin

  // ---- q180: HOLDOUT perplexity — the LM-eval hygiene q83 skips:
  // q83 trains and scores on the same corpus (the quality-filter
  // signal), which flatters the model; here the bigram LM trains on
  // the deterministic 'train' split and is evaluated on the unseen
  // 'val' split (same hash-bucket split as q56/q61 — a ratio change
  // cannot desynchronize them). Corpus perplexity weights each doc by
  // its bigram count: ppl = exp(Σ nllᵢ·nᵢ / Σ nᵢ), recomposed from
  // the r4-snapped per-doc scores identically in both engines; OOV
  // bigrams are the add-1 smoothing's job (coalesce(0) in
  // scoreAgainst and the oracle's LEFT JOIN alike). ----

  def q180HoldoutPpl(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val split = TF.splitAssign(col("doc_id"))
    val train = d.filter(split === "train")
    val valD = d.filter(split === "val")
    val (cab, ca, v) = LanguageModel.train(train)
    val scored = LanguageModel.scoreAgainst(valD, cab, ca, v)
    scored.agg(count(lit(1)).as("n_val_docs"),
      sum(col("n_bigrams")).as("n_bigrams"),
      // the weighted-NLL sum is the one aggregation-order-sensitive
      // double in this chain (nll is r4-snapped per doc, nb integer):
      // r6-snap it before the divide/exp so partial-agg order can't
      // land the final r4 on a rounding boundary (q166 convention)
      Num.r4(exp(Num.r(sum(col("nll") * col("n_bigrams")), 6) /
          sum(col("n_bigrams"))))
        .as("holdout_ppl"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("n_train_docs"))))
      .select(col("n_train_docs"), col("n_val_docs"), col("n_bigrams"),
        col("holdout_ppl"))
  }

  val q180Sql: String = {
    val ts = TF.sqlTokens("text")
    def splitSel(name: String) =
      s"""SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ${TF.sqlHash60("doc_id::VARCHAR")} % 100 AS hk
         |    FROM documents)
         |  WHERE ${TF.sqlSplitCase("hk")} = '$name'""".stripMargin
    s"""WITH tr AS (${splitSel("train")}),
       |va AS (${splitSel("val")}),
       |tk AS (SELECT doc_id, ts FROM (
       |         SELECT doc_id, $ts AS ts FROM tr) WHERE len(ts) >= 2),
       |bg AS (SELECT doc_id, ts[j] AS a, ts[j + 1] AS b
       |       FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS j FROM tk)),
       |cab AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
       |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY a),
       |vv AS (SELECT count(DISTINCT tok) AS v
       |       FROM (SELECT unnest($ts) AS tok FROM tr)),
       |vtk AS (SELECT doc_id, ts FROM (
       |          SELECT doc_id, $ts AS ts FROM va) WHERE len(ts) >= 2),
       |vbg AS (SELECT doc_id, ts[j] AS a, ts[j + 1] AS b
       |        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS j FROM vtk)),
       |s AS (
       |  SELECT vbg.doc_id,
       |    ln((coalesce(cab.cab, 0)::DOUBLE + 1.0::DOUBLE)
       |       / (coalesce(ca.ca, 0)::DOUBLE + 1.0::DOUBLE * vv.v::DOUBLE)) AS lp
       |  FROM vbg
       |  LEFT JOIN cab ON vbg.a = cab.a AND vbg.b = cab.b
       |  LEFT JOIN ca ON vbg.a = ca.a
       |  CROSS JOIN vv),
       |nd AS (SELECT doc_id, count(*) AS nb,
       |         ${Num.sqlR4("-sum(lp) / count(*)")} AS nll
       |       FROM s GROUP BY doc_id)
       |SELECT (SELECT count(*) FROM tr) AS n_train_docs,
       |  count(*) AS n_val_docs,
       |  CAST(sum(nb) AS BIGINT) AS n_bigrams,
       |  ${Num.sqlR4(s"exp(${Num.sqlR("sum(nll * nb)", 6)} / sum(nb))")} AS holdout_ppl
       |FROM nd""".stripMargin
  }

  // ---- q94: classifier-scored corpus routing — the train → score →
  // route composition a production corpus runs: every document gets
  // the trained model's verdict (z ≥ 0 ⇒ predicted positive) and the
  // corpus is bucketed by (source, verdict) with mean score per
  // bucket. The oracle re-trains the identical unrolled rounds and
  // applies the same fixed-order decision expression. ----

  def q94ClassifierRoute(spark: SparkSession, dir: String): DataFrame = {
    val (feat, w) = lrFit(spark, dir)
    val z = LogisticGd.linearScore(w.toSeq)
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    feat
      .withColumn("pred", when(z >= 0, 1L).otherwise(0L))
      .withColumn("p", p)
      .groupBy(col("source"), col("pred"))
      .agg(count(lit(1)).as("docs"), Num.r4(avg(col("p"))).as("avg_score"))
      .orderBy(col("source"), col("pred"))
  }

  val q94Sql: String = {
    val z = s"($lrSqlDotW)"
    s"""WITH ${lrSqlCtes("source,")}
       |SELECT source,
       |  CAST(CASE WHEN $z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
       |  count(*) AS docs,
       |  ${Num.sqlR4(s"avg(1.0/(1.0+exp(-$z)))")} AS avg_score
       |FROM feat, w$LrIters w
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- q92: ordered string aggregation (SQL LISTAGG / string_agg
  // ORDER BY) — the report-building surface. Spark has no ordered
  // string_agg aggregate; the idiomatic exact equivalent is
  // concat_ws over array_sort(collect_list(..)), which keeps map-side
  // partial aggregation (arrays merge, sort happens once per group at
  // the end). Scale note: group payload is the concatenated string —
  // bounded by group size; for unbounded groups cap with slice() or
  // Sampling.BoundedMinSample first. ----

  def q92Listagg(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    nation.join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_nations"),
        concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
        concat_ws("|", reverse(array_sort(collect_list(col("n_name")))))
          .as("nations_desc"))
      .orderBy(col("r_name"))
  }

  val q92Sql: String =
    """SELECT r_name, count(*) AS n_nations,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  string_agg(n_name, '|' ORDER BY n_name DESC) AS nations_desc
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  // ---- q93: embedding covariance — the sufficient-statistics pass of
  // PCA (operators.Pca), oracle-checked on the top-left 8×8 block.
  // The full d×d matrix comes from ONE typed-Aggregator job with
  // map-side partials (d(d+3)/2 doubles of state); the oracle recomputes
  // each entry as avg(xi·xj) − avg(xi)·avg(xj). The eigen-decomposition
  // downstream is driver-side model math (spec-pinned, not
  // SQL-expressible). ----

  private val CovSlice = 8

  def q93Covariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cov = graft.operators.Pca.covariance(embs(spark, dir), 64)
    val rows = for { i <- 0 until CovSlice; j <- i until CovSlice }
      yield (i.toLong, j.toLong, Num.j(cov(i)(j), 4))
    rows.toDF("i", "j", "cov").orderBy(col("i"), col("j"))
  }

  val q93Sql: String =
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |grid AS (
       |  SELECT i, j FROM range($CovSlice) t(i), range($CovSlice) u(j)
       |  WHERE i <= j)
       |SELECT g.i AS i, g.j AS j,
       |  ${Num.sqlR4("avg(v[g.i + 1] * v[g.j + 1]) - avg(v[g.i + 1]) * avg(v[g.j + 1])")} AS cov
       |FROM e, grid g
       |GROUP BY g.i, g.j
       |ORDER BY i, j""".stripMargin

  // ---- q95: KMV distinct sketches with set operations — estimated
  // vs exact distinct users for two event types, their union, and
  // (by inclusion–exclusion) their intersection, side by side in one
  // row. The sketch is an md5-hash order statistic, so the DuckDB
  // oracle computes the IDENTICAL estimates (no HLL-style rows-only
  // escape needed). ----

  private val KmvK = 64

  def q95KmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Kmv
    val ev = Tables.load(spark, dir, "events")
    def side(t: String): DataFrame =
      ev.filter(col("event_type") === t).select(Kmv.normHash(col("user_id")))
    val (va, pa) = (side("view"), side("purchase"))
    val synA = Kmv.synopsis(va, KmvK).pin(Wide)
    val synB = Kmv.synopsis(pa, KmvK).pin(Wide)
    val (na, hka) = Kmv.stats(synA, KmvK)
    val (nb, hkb) = Kmv.stats(synB, KmvK)
    val estA = Kmv.estimate(na, hka, KmvK)
    val estB = Kmv.estimate(nb, hkb, KmvK)
    val estU = Kmv.unionEstimate(synA, synB, KmvK)
    val exact = ev.filter(col("event_type").isin("view", "purchase"))
      .agg(
        countDistinct(when(col("event_type") === "view", col("user_id"))).as("xa"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("xb"),
        countDistinct(col("user_id")).as("xu"))
    exact.select(
      lit(KmvK).cast("long").as("k"),
      Num.r2(lit(estA)).as("est_view"),
      Num.r2(lit(estB)).as("est_purchase"),
      Num.r2(lit(estU)).as("est_union"),
      Num.r2(lit(estA + estB - estU)).as("est_inter"),
      col("xa").as("exact_view"), col("xb").as("exact_purchase"),
      col("xu").as("exact_union"),
      (col("xa") + col("xb") - col("xu")).as("exact_inter"))
  }

  val q95Sql: String = {
    val u = s"${TF.sqlHash60("user_id::VARCHAR")}::DOUBLE / 1152921504606846976.0"
    def syn(name: String, pred: String) =
      s"""$name AS (
         |  SELECT DISTINCT $u AS u FROM events WHERE $pred
         |  ORDER BY 1 LIMIT $KmvK)""".stripMargin
    def est(s: String) =
      s"""(SELECT CASE WHEN count(*) < $KmvK THEN count(*)::DOUBLE
         |  ELSE ${KmvK - 1}.0 / max(u) END FROM $s)""".stripMargin
    s"""WITH ${syn("sa", "event_type = 'view'")},
       |${syn("sb", "event_type = 'purchase'")},
       |su AS (SELECT u FROM (SELECT u FROM sa UNION SELECT u FROM sb)
       |       ORDER BY 1 LIMIT $KmvK),
       |x AS (
       |  SELECT
       |    count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS xa,
       |    count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS xb,
       |    count(DISTINCT user_id) AS xu
       |  FROM events WHERE event_type IN ('view', 'purchase'))
       |SELECT CAST($KmvK AS BIGINT) AS k,
       |  ${Num.sqlR2(est("sa"))} AS est_view,
       |  ${Num.sqlR2(est("sb"))} AS est_purchase,
       |  ${Num.sqlR2(est("su"))} AS est_union,
       |  ${Num.sqlR2(s"${est("sa")} + ${est("sb")} - ${est("su")}")} AS est_inter,
       |  CAST(xa AS BIGINT) AS exact_view, CAST(xb AS BIGINT) AS exact_purchase,
       |  CAST(xu AS BIGINT) AS exact_union,
       |  CAST(xa + xb - xu AS BIGINT) AS exact_inter
       |FROM x""".stripMargin
  }

  // ---- q96: deterministic MODE — the most frequent value per group
  // with a PINNED tie-break (count desc, value asc). SQL's mode() has
  // engine-defined tie behavior, so the portable exact form is a rank
  // over grouped counts — and the window runs over the (group, value)
  // COUNT table (group-cardinality rows), never the corpus. ----

  def q96Mode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
    counts
      .withColumn("rnk", row_number().over(
        w.orderBy(col("cnt").desc, col("source"))))
      .withColumn("total", sum(col("cnt")).over(w))
      .filter(col("rnk") === 1)
      .select(col("lang"), col("source").as("top_source"), col("cnt"),
        Num.r4(col("cnt").cast("double") / col("total")).as("share"))
      .orderBy(col("lang"))
  }

  val q96Sql: String =
    s"""WITH c AS (
       |  SELECT lang, source, count(*) AS cnt
       |  FROM documents GROUP BY lang, source),
       |r AS (
       |  SELECT lang, source, cnt,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY cnt DESC, source) AS rnk,
       |    sum(cnt) OVER (PARTITION BY lang) AS total
       |  FROM c)
       |SELECT lang, source AS top_source, cnt,
       |  ${Num.sqlR4("cnt::DOUBLE / total")} AS share
       |FROM r WHERE rnk = 1
       |ORDER BY lang""".stripMargin

  // ---- q97: hard-negative mining — for each query embedding, the
  // top-k corpus vectors in a cosine band [NegLo, NegHi): the
  // contrastive-training data stage (informative negatives below the
  // positive/near-dup band). Brute-force band scan = one broadcast
  // join, linear in the corpus; see Similarity.hardNegatives scale
  // notes (compose with IVF probe / hash-sampled candidate pool). ----

  private val NegMod = 50
  private val NegK = 5
  private val NegLo = 0.15
  private val NegHi = 0.35

  def q97HardNegatives(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegatives(embs(spark, dir),
      col("vec_id") % NegMod === 0, NegK, NegLo, NegHi)
      .orderBy(col("query_id"), col("rank"))

  val q97Sql: String = {
    val dot = "list_sum(list_transform(list_zip(q.e, v.e), x -> x[1] * x[2]))"
    val norm = (t: String) => s"sqrt(list_sum(list_transform($t.e, x -> x * x)))"
    val cos = Num.sqlR4(s"$dot / (${norm("q")} * ${norm("v")})")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |q AS (SELECT vec_id, e FROM v WHERE vec_id % $NegMod = 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS nbr_id, $cos AS cos
       |  FROM q JOIN v ON q.vec_id <> v.vec_id),
       |banded AS (SELECT * FROM scored WHERE cos >= $NegLo AND cos < $NegHi),
       |ranked AS (
       |  SELECT query_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, nbr_id) AS rank
       |  FROM banded)
       |SELECT query_id, rank, nbr_id, cos
       |FROM ranked WHERE rank <= $NegK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- q97b: the web-scale hard-negative path as a first-class
  // graded query — band-filtered top-k over the IVF cell probe
  // (Similarity.hardNegativesIvf) instead of q97's exact corpus scan.
  // q97 stays the exact anchor (annotated n²/50 in SlopeBench); this
  // is what a 100 TB mining run actually executes: O(n^1.5) like
  // q29b. The oracle re-derives the SAME deterministic quantizer,
  // probe selection, and band filter (the q29b contract), so the hash
  // match pins cell assignment + probe + band + rank end-to-end. ----

  private val NegNprobe = 8

  def q97bHardNegativesIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegativesIvf(embs(spark, dir),
      col("vec_id") % NegMod === 0, NegK, NegLo, NegHi, nprobe = NegNprobe)
      .orderBy(col("query_id"), col("rank"))

  val q97bSql: String = {
    val nlistSql = Similarity.deriveNlistSql("embeddings")
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
       |  WHERE vec_id % $NegMod = 0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos DESC, cell DESC) <= $NegNprobe),
       |cand AS (
       |  SELECT p.query_id, i.vec_id AS nbr_id
       |  FROM probes p JOIN idx i ON i.cell = p.cell
       |    AND i.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.nbr_id, ${cosOf("q", "n")} AS cos
       |  FROM cand c JOIN v q ON q.vec_id = c.query_id
       |              JOIN v n ON n.vec_id = c.nbr_id),
       |banded AS (SELECT * FROM scored WHERE cos >= $NegLo AND cos < $NegHi),
       |ranked AS (
       |  SELECT query_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, nbr_id) AS rank
       |  FROM banded)
       |SELECT query_id, rank, nbr_id, cos
       |FROM ranked WHERE rank <= $NegK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- q98: canonical-document selection — APPLY the dedup: from
  // near-dup clusters (connected components over the prefix-Jaccard
  // pair list), keep exactly one document per cluster — the highest
  // q22 quality score, doc_id as tie-break — and every unclustered
  // doc. This is the step that actually materializes the deduplicated
  // training corpus; everything upstream only reports pairs/clusters.
  // Scale: edges via the prefix-filtered join (never all-pairs),
  // clusters via the checkpointed CC propagation, selection is one
  // cluster-keyed argmax — all shuffles on doc/cluster keys. ----

  /** (doc_id, cluster_id, quality_score, kept) for every doc —
    * q98's verdict table, shared with q105's end-to-end pipeline. */
  private[graft] def canonicalVerdicts(d: DataFrame): DataFrame =
    canonicalVerdictsFromBase(pipelineBase(d))

  /** The shared per-doc projection of the composed pipelines: text is
    * scanned, tokenized, and quality-scored ONCE — every downstream
    * stage (shingling, cluster labeling, split/order) reads these
    * columns instead of re-deriving them from `text`. Callers that
    * fan the base into several jobs should pin it
    * (the ClusterDedup pattern) so the token arrays are computed once
    * per pipeline, not once per stage. */
  private[graft] def pipelineBase(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"),
      graft.functions.TextFunctions.tokens(col("text")).as("toks"),
      Num.r4(ExtensionQueries.qualityScore(col("text"))).as("quality_score"))

  /** [[canonicalVerdicts]] over a [[pipelineBase]] frame. */
  private[graft] def canonicalVerdictsFromBase(base: DataFrame): DataFrame = {
    val edges = TextDedup.prefixJaccardPairsFromTokens(
      base.select(col("doc_id").as("id"), col("toks")), n = 3, threshold = 0.5)
    val clusters = graft.operators.ClusterDedup
      .clusters(edges, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    val scored = base.select(col("doc_id"), col("quality_score"))
    val labeled = scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    // argmax by (quality desc, doc_id asc) via struct max: negate the
    // id so the struct ordering's tie-break picks the SMALLEST doc_id
    val canon = labeled.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality_score"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), (-col("m.nid")).as("canonical_id"))
    labeled.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        (col("doc_id") === col("canonical_id")).as("kept"))
  }

  def q98CanonicalDocs(spark: SparkSession, dir: String): DataFrame =
    canonicalVerdicts(docs(spark, dir)).orderBy(col("doc_id"))

  /** Recursive CTE chain ending in `verdicts(doc_id, cluster_id,
    * quality_score, kept)` — the q98 canonical-selection oracle,
    * shared with q105's end-to-end pipeline oracle. */
  private def canonCtes: String =
    s"""${ExtensionQueries.dsCte(3)},
       |${ExtensionQueries.candCte},
       |${ExtensionQueries.jacCtes},
       |edges AS (SELECT id_a, id_b FROM (${ExtensionQueries.jacSelect(0.5)})),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT sym.src, r.lbl FROM sym JOIN reach r ON sym.dst = r.id),
       |lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |scored AS (
       |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       |    ${Num.sqlR4(ExtensionQueries.sqlQualityScore("d.text"))} AS quality_score
       |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
       |verdicts AS (
       |  SELECT doc_id, cluster_id, quality_score,
       |    (row_number() OVER (PARTITION BY cluster_id
       |       ORDER BY quality_score DESC, doc_id) = 1) AS kept
       |  FROM scored)""".stripMargin

  val q98Sql: String =
    s"""WITH RECURSIVE $canonCtes
       |SELECT doc_id, cluster_id, quality_score, kept
       |FROM verdicts
       |ORDER BY doc_id""".stripMargin

  // ---- q99: epoch-capped mixture planning (water-filling) — the step
  // a real pretraining mix needs BEYOND q84's temperature weights: a
  // source may not be repeated past `MixEpochCap` epochs (tail sources
  // upsampled by α < 1 hit the cap first), and the budget a capped
  // source cannot absorb redistributes to the others proportionally to
  // their weights. Fixed-point by `MixRounds` unrolled rounds with
  // per-round 8-decimal snaps — the q81/q91 unrolled-oracle contract.
  // Scale: ONE corpus scan (map-side-partial token-count agg per lang,
  // ≤ hundreds of groups at any corpus size); every window after that
  // runs over the per-lang table, never the corpus. ----

  private val MixEpochCap = 1.2
  private val MixRounds = 4

  /** Hard ceiling on the mix-plan's driver-side state: the plan table
    * is one row per language, and no corpus has more than a few
    * hundred — certify that before collecting, never assume it. */
  private val MixMaxLangs = 100000

  /** The converged water-filling table — (lang, n_tokens, w, cap,
    * alloc, frozen) with r8-snapped model state — shared by q99 (the
    * plan report) and q103 (applying the plan as per-doc replication).
    *
    * Altitude: the heavy half (per-lang token sums — one corpus scan,
    * map-side partial agg) stays distributed; the water-filling rounds
    * run driver-side over the collected per-lang table, the same
    * bounded-model-fit pattern as k-means centroids and BPE merges.
    * The rounds were previously a distributed fold over the |langs|-row
    * frame (kept as [[mixPlanDistributed]], spec-pinned equal) — four
    * scalar-agg + lineage-cut barriers on a table of a few dozen rows,
    * ~1.3 s of pure job latency per query at any SF. The collect is
    * cap-certified (MixMaxLangs) and the arithmetic is [[Num.j]], the
    * JVM twin of the r8 column snap, so the emitted plan is bit-equal
    * to the fold's. */
  private[graft] def mixPlanRaw(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    // Pin.record: the collect hides this corpus-scale aggregation
    // from every downstream executedPlan — register it with an active
    // plan-gate walk so the gate still inspects the heavy stage
    val perLang = graft.operators.Pin.record(d
      .groupBy(col("lang"))
      .agg(sum(TF.tokenCount(col("text"))).cast("long").as("n_tokens"))
      .orderBy(col("lang"))
      .limit(MixMaxLangs + 1))
      .collect()
    require(perLang.length <= MixMaxLangs,
      s"mix plan: more than $MixMaxLangs languages — raise MixMaxLangs " +
        "deliberately or pre-aggregate the long tail")
    val langs = perLang.map(_.getString(0))
    val toks = perLang.map(_.getLong(1))
    val m = langs.length
    val b = toks.sum.toDouble
    val pa = toks.map(t => math.pow(t / b, MixAlpha))
    val totPa = pa.sum
    val w = pa.map(p => Num.j(p / totPa, 8))
    val cap = toks.map(t => Num.j(t * MixEpochCap, 8))
    var frozen = Array.fill(m)(false)
    var alloc = Array.fill(m)(0.0)
    for (_ <- 1 to MixRounds) {
      // frozenCap/den read the PREVIOUS round's frozen set; alloc then
      // freezes anyone pushed past their cap for the next round
      val frozenCap = (0 until m).map(i => if (frozen(i)) cap(i) else 0.0).sum
      val den = (0 until m).map(i => if (frozen(i)) 0.0 else w(i)).sum
      val rem = b - frozenCap
      alloc = Array.tabulate(m)(i =>
        if (frozen(i)) cap(i)
        else if (den > 0) Num.j(w(i) * rem / den, 8)
        else 0.0)
      frozen = Array.tabulate(m)(i => frozen(i) || alloc(i) > cap(i))
    }
    (0 until m).map(i => (langs(i), toks(i), b, w(i), cap(i), alloc(i), frozen(i)))
      .toDF("lang", "n_tokens", "b", "w", "cap", "alloc", "frozen")
  }

  /** The pre-r16 distributed form of [[mixPlanRaw]]: the same rounds as
    * a fold over the per-lang frame (scalar-agg broadcasts + per-round
    * lineage cuts). Retained as the structurally-different twin the
    * spec pins the driver-side fit against. */
  private[graft] def mixPlanDistributed(d: DataFrame): DataFrame = {
    import graft.operators.Scalars.withScalars
    def s8(c: org.apache.spark.sql.Column) = Num.r(c, 8)
    // Global sums ride scalar-agg + one-row broadcast cross joins
    // (Scalars.withScalars), not empty-frame windows — a SinglePartition
    // funnel over even this |langs|-row frame is a plan shape the gate
    // should not need to exempt. The per-lang frame is pinned: every
    // round's scalar aggregate re-reads the chain, and unpinned the
    // corpus groupBy would re-run once per reference.
    val perLang = d
      .groupBy(col("lang"))
      .agg(sum(TF.tokenCount(col("text"))).cast("long").as("n_tokens"))
      .pin(Wide)
    val withB = withScalars(perLang, "bl" -> sum(col("n_tokens")))
      .withColumn("b", col("bl").cast("double")).drop("bl")
      .withColumn("pa", pow(col("n_tokens") / col("b"), lit(MixAlpha)))
    val base = withScalars(withB, "tot_pa" -> sum(col("pa")))
      .withColumn("w", s8(col("pa") / col("tot_pa"))).drop("tot_pa")
      .withColumn("cap", s8(col("n_tokens") * lit(MixEpochCap)))
    (1 to MixRounds).foldLeft(
      base.withColumn("frozen", lit(false)).withColumn("alloc", lit(0.0))) {
      (cur, _) =>
        // rem/den read the PREVIOUS round's frozen set; alloc then
        // freezes anyone pushed past their cap for the next round
        val stepped = withScalars(cur,
          "frozen_cap" -> sum(when(col("frozen"), col("cap")).otherwise(0.0)),
          "den" -> sum(when(col("frozen"), 0.0).otherwise(col("w"))))
        val rem = col("b") - col("frozen_cap")
        stepped
          .withColumn("alloc", when(col("frozen"), col("cap"))
            .otherwise(when(col("den") > 0, s8(col("w") * rem / col("den")))
              .otherwise(0.0)))
          .withColumn("frozen", col("frozen") || col("alloc") > col("cap"))
          .drop("frozen_cap", "den")
          // |langs|-row frame: cut per round or round k's scalar
          // aggregate re-executes rounds 1..k−1 (the LabelProp
          // quadratic-re-execution lesson; measured 0.57 → 2.8 s on
          // the bench when left growing)
          .pin(Narrow)
    }
  }

  def q99MixPlan(spark: SparkSession, dir: String): DataFrame =
    mixPlanRaw(docs(spark, dir))
      .select(col("lang"), col("n_tokens"), Num.r4(col("w")).as("w"),
        Num.r2(col("alloc")).as("alloc_tokens"),
        Num.r4(col("alloc") / col("n_tokens")).as("epochs"),
        col("frozen").as("capped"))
      .orderBy(col("lang"))

  /** CTE chain ending in `r$MixRounds` (lang, n_tokens, b, w, cap,
    * frozen, alloc) — the oracle twin of [[mixPlanRaw]], shared by the
    * q99 and q103 oracles. */
  private def mixCtes: String = {
    val w8 = (e: String) => Num.sqlR(e, 8)
    val r0 = "r0 AS (SELECT *, false AS frozen, 0.0 AS alloc FROM base)"
    val rounds = (1 to MixRounds).map { r =>
      val a = s"""CASE WHEN frozen THEN cap
         |      WHEN sum(CASE WHEN frozen THEN 0.0 ELSE w END) OVER () > 0
         |      THEN ${w8(s"""w * (b - sum(CASE WHEN frozen THEN cap ELSE 0.0 END) OVER ())
         |           / sum(CASE WHEN frozen THEN 0.0 ELSE w END) OVER ()""")}
         |      ELSE 0.0 END""".stripMargin
      s"""r${r}a AS (SELECT lang, n_tokens, b, w, cap, frozen, $a AS alloc
         |  FROM r${r - 1}),
         |r$r AS (SELECT lang, n_tokens, b, w, cap,
         |  frozen OR alloc > cap AS frozen, alloc FROM r${r}a)""".stripMargin
    }.mkString(",\n")
    s"""t AS (
       |  SELECT lang, CAST(sum(${TF.sqlTokenCount("text")}) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |tb AS (SELECT lang, n_tokens, sum(n_tokens) OVER ()::DOUBLE AS b FROM t),
       |tp AS (SELECT *, pow(n_tokens / b, $MixAlpha) AS pa FROM tb),
       |base AS (
       |  SELECT lang, n_tokens, b,
       |    ${w8("pa / sum(pa) OVER ()")} AS w,
       |    ${w8(s"n_tokens * $MixEpochCap")} AS cap
       |  FROM tp),
       |$r0,
       |$rounds""".stripMargin
  }

  val q99Sql: String =
    s"""WITH $mixCtes
       |SELECT lang, n_tokens, ${Num.sqlR4("w")} AS w,
       |  ${Num.sqlR2("alloc")} AS alloc_tokens,
       |  ${Num.sqlR4("alloc / n_tokens")} AS epochs,
       |  frozen AS capped
       |FROM r$MixRounds
       |ORDER BY lang""".stripMargin

  // ---- q103: epoch expansion — APPLY the q99 mix plan: each doc is
  // replicated ⌊e⌋ times plus one more with probability frac(e),
  // decided by a deterministic per-doc hash (so e < 1 subsamples and
  // e > 1 upsamples, both reproducibly, and realized copies/doc
  // converge to the planned epochs per source). This is the step that
  // turns the planning table into an actual training corpus, the way
  // q98 turns dedup clusters into one. Scale: plan table is per-lang
  // (broadcast join), the hash decision is per-row arithmetic, and the
  // expansion is a generator — no shuffle at all beyond the q99 agg. ----

  private val RepScale = 1000000L

  /** Per-doc replication counts under the plan — one row per doc,
    * `copies` possibly 0 (subsampled away). */
  private[graft] def docCopies(d: DataFrame): DataFrame = {
    val plan = mixPlanRaw(d)
      .select(col("lang"), (col("alloc") / col("n_tokens")).as("e"))
    d.join(plan, "lang")
      .withColumn("base", floor(col("e")))
      .withColumn("thresh", floor((col("e") - floor(col("e"))) * RepScale))
      .withColumn("hfrac",
        TF.hash60(concat(col("doc_id").cast("string"), lit("#rep"))) % RepScale)
      .withColumn("copies",
        (col("base") + when(col("hfrac") < col("thresh"), 1L).otherwise(0L))
          .cast("long"))
      .select(col("doc_id"), col("lang"), col("e"), col("copies"))
  }

  /** Expanded corpus: one row per (doc, copy_idx); 0-copy docs drop. */
  private[graft] def epochExpand(d: DataFrame): DataFrame =
    docCopies(d)
      .withColumn("copy_idx", explode(when(col("copies") > 0,
        sequence(lit(1L), col("copies"))).otherwise(array().cast("array<bigint>"))))
      .select(col("doc_id"), col("lang"), col("e"), col("copy_idx"))

  // The report aggregates docCopies, NOT the exploded table: a lang
  // whose every doc realizes 0 copies must still report
  // (docs_in, copies_out = 0) — explode would drop the group entirely
  // while the oracle keeps it.
  def q103EpochExpand(spark: SparkSession, dir: String): DataFrame =
    docCopies(docs(spark, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_in"),
        sum(col("copies")).cast("long").as("copies_out"),
        first(col("e")).as("e"))
      .select(col("lang"), col("docs_in"), col("copies_out"),
        Num.r4(col("copies_out") / col("docs_in")).as("realized_epochs"),
        Num.r4(col("e")).as("target_epochs"))
      .orderBy(col("lang"))

  val q103Sql: String =
    s"""WITH $mixCtes,
       |plan AS (SELECT lang, alloc / n_tokens AS e FROM r$MixRounds),
       |perdoc AS (
       |  SELECT d.lang, p.e,
       |    floor(p.e) +
       |      CASE WHEN ${TF.sqlHash60("d.doc_id::VARCHAR || '#rep'")} % $RepScale
       |                < floor((p.e - floor(p.e)) * $RepScale)
       |           THEN 1 ELSE 0 END AS copies
       |  FROM documents d JOIN plan p ON d.lang = p.lang)
       |SELECT lang, count(*) AS docs_in,
       |  CAST(sum(copies) AS BIGINT) AS copies_out,
       |  ${Num.sqlR4("sum(copies) / count(*)")} AS realized_epochs,
       |  ${Num.sqlR4("first(e)")} AS target_epochs
       |FROM perdoc
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---- q100: MMR diversity-aware top-k retrieval — greedy maximal
  // marginal relevance over the top-m cosine candidates: pick k
  // results maximizing λ·rel − (1−λ)·max-sim-to-picked (relevant AND
  // mutually diverse — the retrieval counterpart of dedup; exemplar
  // selection for training data). λ = 0.75 so 1−λ is binary-exact;
  // every rel/sim/score is r4-snapped, ties break by nbr_id, so the
  // greedy argmax is bit-reproducible cross-engine. The oracle unrolls
  // the k greedy rounds as CTEs (the q81/q91 contract). ----

  private val MmrMod = 50
  private val MmrM = 8
  private val MmrK = 3
  private val MmrLam = 0.75

  def q100MmrTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopKFused(embs(spark, dir), col("vec_id") % MmrMod === 0,
      MmrM, MmrK, MmrLam)
      .orderBy(col("query_id"), col("pick"))

  val q100Sql: String = {
    def dcos(x: String, y: String): String = {
      val dot = s"list_sum(list_transform(list_zip($x, $y), p -> p[1] * p[2]))"
      def nrm(t: String) = s"sqrt(list_sum(list_transform($t, p -> p * p)))"
      Num.sqlR4(s"$dot / (${nrm(x)} * ${nrm(y)})")
    }
    val lam = s"$MmrLam"
    val score = s"$lam * rel - (1 - $lam) * ms"
    def round(j: Int, prev: String): String =
      s"""sc$j AS (
         |  SELECT c.query_id, c.nbr_id, c.rel, max(s.sim) AS ms
         |  FROM cand c
         |  JOIN sims s ON s.query_id = c.query_id AND s.id_a = c.nbr_id
         |  JOIN $prev p ON p.query_id = s.query_id AND p.nbr_id = s.id_b
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |                    WHERE x.query_id = c.query_id AND x.nbr_id = c.nbr_id)
         |  GROUP BY c.query_id, c.nbr_id, c.rel),
         |sel$j AS (
         |  SELECT query_id, nbr_id, ${Num.sqlR4(score)} AS score, $j AS pick
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY ${Num.sqlR4(score)} DESC, nbr_id) AS rn FROM sc$j)
         |  WHERE rn = 1)""".stripMargin
    // rounds 2..k need the union-of-picked-so-far; emit selu CTEs inline
    val parts = (2 to MmrK).map { j =>
      if (j == 2) round(j, "sel1")
      else {
        val selu = s"selu$j AS (${(1 until j).map(i =>
          s"SELECT query_id, nbr_id FROM sel$i").mkString(" UNION ALL ")})"
        selu + ",\n" + round(j, s"selu$j")
      }
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |q AS (SELECT vec_id, e FROM v WHERE vec_id % $MmrMod = 0),
       |rel0 AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS nbr_id,
       |    ${dcos("q.e", "v.e")} AS rel, v.e AS e
       |  FROM q JOIN v ON q.vec_id <> v.vec_id),
       |cand AS (
       |  SELECT query_id, nbr_id, rel, e
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY rel DESC, nbr_id) AS rn FROM rel0)
       |  WHERE rn <= $MmrM),
       |sims AS (
       |  SELECT a.query_id, a.nbr_id AS id_a, b.nbr_id AS id_b,
       |    ${dcos("a.e", "b.e")} AS sim
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.nbr_id <> b.nbr_id),
       |sel1 AS (
       |  SELECT query_id, nbr_id, ${Num.sqlR4(s"$lam * rel")} AS score, 1 AS pick
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY ${Num.sqlR4(s"$lam * rel")} DESC, nbr_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |$parts
       |SELECT query_id, pick, nbr_id, score
       |FROM (${(1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})
       |ORDER BY query_id, pick""".stripMargin
  }

  // ---- q105: the end-to-end corpus pipeline — quality gate →
  // canonical near-dup selection → deterministic split assignment →
  // distributed global training order, composed from the building
  // blocks the tiers above verify individually. The oracle chains the
  // SAME stages in SQL (recursive-CTE CC + QUALIFY argmax + hash
  // split + one-reducer row_number), so the equality proves the WHOLE
  // pipeline, not just its pieces. Every stage keeps its own scale
  // story: prefix-filtered edges, checkpointed CC, broadcast verdict
  // join, two-pass global rank. ----

  private val QualityGate = 0.45

  def q105CorpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    // ONE text scan for the whole pipeline: tokenize + quality-score
    // in a single projection, pinned Wide so the dedup stage
    // (shingles from toks), the cluster labeling, and the split/order
    // stage all read columnar in-memory blocks — the composed form
    // previously re-read parquet and re-ran the regex split once per
    // stage. Wide, NOT Narrow, and the reason is COLUMN
    // PRUNING, not warm reruns: the base row carries the full token
    // array, and the many narrow consumers (edge scaffolding reads
    // (id, toks) several times; labeling/split read (doc_id, lang,
    // quality) only) prune into the columnar cache, while checkpoint
    // reads deserialize every full row per consumer — measured 10.2
    // CPU-s/run cached vs 67.8 checkpointed at sf0.1. At 100 TB the
    // same structure holds with the base written to an intermediate
    // (columnar) table.
    val base = pipelineBase(docs(spark, dir)).pin(Wide)
    // a Narrow pin on the kept-id set: it feeds the join's BROADCAST
    // build and, through `train`, GlobalOrder's range-sampling pass
    // and materialization — uncheckpointed, the whole verdict pipeline
    // (edges + CC + argmax joins, ~15 CPU-s/run at sf0.1) executes
    // once per consumer. One narrow column per kept doc — the
    // GlobalOrder scaladoc's documented contract at scale.
    val kept = canonicalVerdictsFromBase(base)
      .filter(col("kept") && col("quality_score") >= QualityGate)
      .select(col("doc_id"))
      .pin(Narrow)
    val train = base.select(col("doc_id"), col("lang")).join(kept, "doc_id")
      .withColumn("split", TF.splitAssign(col("doc_id")))
      .filter(col("split") === "train")
      .select(col("doc_id"), col("lang"),
        TF.hash60(concat(col("doc_id").cast("string"), lit("#ord"))).as("ord"))
    graft.operators.GlobalOrder
      .withGlobalPos(train, numPartitions = 16,
        order = Seq(col("ord"), col("doc_id")), posCol = "pos")
      .select(col("pos"), col("doc_id"), col("lang"))
      .orderBy(col("pos"))
  }

  val q105Sql: String =
    s"""WITH RECURSIVE $canonCtes,
       |keep AS (SELECT doc_id FROM verdicts
       |         WHERE kept AND quality_score >= $QualityGate),
       |tr AS (
       |  SELECT doc_id, lang,
       |    ${TF.sqlHash60("doc_id::VARCHAR || '#ord'")} AS ord
       |  FROM (SELECT d.doc_id, d.lang,
       |          ${TF.sqlHash60("d.doc_id::VARCHAR")} % 100 AS hk
       |        FROM documents d JOIN keep k ON d.doc_id = k.doc_id)
       |  WHERE ${TF.sqlSplitCase("hk")} = 'train')
       |SELECT CAST(row_number() OVER (ORDER BY ord, doc_id) AS BIGINT) AS pos,
       |  doc_id, lang
       |FROM tr
       |ORDER BY pos""".stripMargin


  // ---- q183: incremental near-dup edges — the graph-maintenance
  // increment when a batch of embeddings arrives against a static
  // corpus (the embedding twin of q89's incremental dedup; streamed
  // per micro-batch through streaming.MicroBatch). Batch =
  // hash-designated 20% of vectors, corpus = the rest; edges = batch x
  // corpus (batch broadcast, one corpus scan, no corpus shuffle) +
  // intra-batch via the blocked tile join. The oracle recomputes both
  // edge classes all-pairs; the equality proves the increment is
  // exactly the set of edges the batch introduces. ----

  private val IncrPairTau = 0.35
  private def vecSplitHash = TF.hash60(col("vec_id").cast("string")) % 10
  private def vecSplitHashSql = TF.sqlHash60("vec_id::VARCHAR") + " % 10"

  def q183IncrementalPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.incrementalPairs(
      e.filter(vecSplitHash >= IncrBatchBucket),
      e.filter(vecSplitHash < IncrBatchBucket),
      threshold = IncrPairTau)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q183Sql: String = {
    val dot = "list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2]))"
    val norm = (t: String) => s"sqrt(list_sum(list_transform($t.e, x -> x * x)))"
    val pairCos = Num.sqlR4(s"$dot / (${norm("a")} * ${norm("b")})")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
       |    $vecSplitHashSql >= $IncrBatchBucket AS is_batch
       |  FROM embeddings)
       |SELECT least(a.vec_id, b.vec_id) AS id_a,
       |  greatest(a.vec_id, b.vec_id) AS id_b,
       |  $pairCos AS cos
       |FROM v a JOIN v b
       |  ON a.vec_id < b.vec_id AND (a.is_batch OR b.is_batch)
       |WHERE $pairCos >= $IncrPairTau
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- cross-plan twins (graft.CrossPlan): same result through a
  // structurally different algorithm/plan, for the queries whose
  // DuckDB oracle is infeasible at sf1. Pair queries swap the PPJoin
  // prefix filter for the full inverted-index join; embedding-graph
  // queries swap the blocked-tile cosine join for the plain all-pairs
  // join; the composed pipelines swap the hybrid CC (local union-find
  // finish) for pure distributed star rounds, the struct-max canonical
  // argmax for a window row_number, and drop the shared cache. ----

  /** Alternate verdict table: inverted-index edges, distributed-only
    * CC, window-function canonical selection. Same rows as
    * [[canonicalVerdictsFromBase]]. */
  private def canonicalVerdictsAlt(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokDf = base.select(col("doc_id").as("id"), col("toks"))
    // full inverted-index pair join over the pre-tokenized frame:
    // shingle → postings → every shared-shingle pair, exact Jaccard
    val edges = TextDedup.jaccardPairsFromTokens(tokDf, n = 3, threshold = 0.5)
    val cc = graft.operators.ClusterDedup
      .connectedComponents(edges, "id_a", "id_b", localFinishEdges = 0L)
      .select(col("id").as("doc_id"), col("cluster_id"))
    val scored = base.select(col("doc_id"), col("quality_score"))
    val labeled = scored.join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    labeled
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        col("kept"))
  }

  def crossPlanAlternates: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q86_prefix_jaccard" -> ((s, dir) =>
        TextDedup.jaccardPairs(docs(s, dir), n = 3, threshold = PrefixTau)
          .orderBy(col("id_a"), col("id_b"))),
      "q88_containment" -> ((s, dir) =>
        TextDedup.containmentPairs(docs(s, dir), n = 3,
          threshold = ContainTau)
          .orderBy(col("contained"), col("container"))),
      "q87_pagerank" -> ((s, dir) =>
        Graph.pageRank(
          Similarity.cosinePairs(embs(s, dir), PrTau)
            .select(col("id_a"), col("id_b")),
          iters = PrIters, damping = PrDamp)
          .orderBy(col("node"))),
      "q181_degree_mle" -> ((s, dir) => {
        val edges = Similarity.cosinePairs(embs(s, dir), PrTau)
          .select(col("id_a"), col("id_b"))
          .pin(Narrow)
        val deg = edges.select(col("id_a").as("node"))
          .unionAll(edges.select(col("id_b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("d"))
        deg.agg(count(lit(1)).as("n_nodes"),
            (sum(col("d")) / 2).cast("long").as("n_edges"),
            max(col("d")).as("max_degree"),
            Num.r4(avg(col("d"))).as("mean_degree"),
            sum(log(col("d").cast("double") * 2)).as("slog"))
          .select(col("n_nodes"), col("n_edges"), col("max_degree"),
            col("mean_degree"),
            Num.r4(lit(1.0) + col("n_nodes").cast("double") / col("slog"))
              .as("alpha_mle"))
      }),
      "q98_canonical_docs" -> ((s, dir) =>
        canonicalVerdictsAlt(pipelineBase(docs(s, dir)))
          .orderBy(col("doc_id"))),
      "q105_corpus_pipeline" -> ((s, dir) => {
        // no shared cache: every stage recomputes from the scan, and
        // the global order uses a different range-partition count —
        // pos is a total rank, so partitioning must not change it
        val base = pipelineBase(docs(s, dir))
        val kept = canonicalVerdictsAlt(base)
          .filter(col("kept") && col("quality_score") >= QualityGate)
          .select(col("doc_id"))
        val train = base.select(col("doc_id"), col("lang"))
          .join(kept, "doc_id")
          .withColumn("split", TF.splitAssign(col("doc_id")))
          .filter(col("split") === "train")
          .select(col("doc_id"), col("lang"),
            TF.hash60(concat(col("doc_id").cast("string"), lit("#ord")))
              .as("ord"))
        graft.operators.GlobalOrder
          .withGlobalPos(train, numPartitions = 7,
            order = Seq(col("ord"), col("doc_id")), posCol = "pos")
          .select(col("pos"), col("doc_id"), col("lang"))
          .orderBy(col("pos"))
      }),
      "q100_mmr_topk" -> (q100Alt _),
      "q183_incremental_pairs" -> (q183Alt _))

  /** q100 twin (sf10 cross-plan): candidate top-m via a conditioned
    * broadcast-queries scan + slim window rank (vectors dropped BEFORE
    * the sort — the r13 spill lesson) instead of the block-keyed scan
    * + bounded aggregator; the greedy rounds pick their argmax by
    * max(struct(score, −nbr_id)) instead of window row_number. All
    * scores are the identical r4-snapped expressions, so ties and
    * picks must agree exactly. */
  private def q100Alt(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorFunctions.vec_cosine
    import org.apache.spark.sql.expressions.Window
    val emb = embs(spark, dir)
    val queries = emb.filter(col("vec_id") % MmrMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = emb.select(col("vec_id").as("nbr_id"),
      col("embedding").as("cv"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("nbr_id"))
    val topM = corpus.join(broadcast(queries),
        col("query_id") =!= col("nbr_id"))
      .withColumn("rel", Num.r4(vec_cosine(col("qv"), col("cv"))))
      .select(col("query_id"), col("nbr_id"), col("rel"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= MmrM)
      .select(col("query_id"), col("nbr_id"), col("rel"))
    val cand = corpus.join(broadcast(topM), Seq("nbr_id"))
      .select(col("query_id"), col("nbr_id"), col("rel"), col("cv"))
      .pin(Wide)
    val sims = cand
      .select(col("query_id"), col("nbr_id").as("id_a"), col("cv").as("va"))
      .join(cand.select(col("query_id"), col("nbr_id").as("id_b"),
        col("cv").as("vb")), Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", Num.r4(vec_cosine(col("va"), col("vb"))))
      .select(col("query_id"), col("id_a"), col("id_b"), col("sim"))
      .pin(Wide)
    val slim = cand.select(col("query_id"), col("nbr_id"), col("rel"))
    // argmax by max(struct(score, -nbr_id)): score desc, then nbr_id
    // ASC — the window (score desc, nbr_id) tie-break
    def argmax(df: DataFrame, pick: Int): DataFrame = df
      .groupBy(col("query_id"))
      .agg(max(struct(col("score"), (-col("nbr_id")).as("negid"))).as("mm"))
      .select(col("query_id"), lit(pick).as("pick"),
        (-col("mm.negid")).as("nbr_id"), col("mm.score").as("score"))
    val first = argmax(
      slim.withColumn("score", Num.r4(lit(MmrLam) * col("rel"))), 1)
    (2 to MmrK).foldLeft(first) { (sel, j) =>
      val selIds = sel.select(col("query_id").as("qs"),
        col("nbr_id").as("sel_id"))
      val pick = argmax(slim
        .join(sel.select(col("query_id"), col("nbr_id")),
          Seq("query_id", "nbr_id"), "left_anti")
        .join(sims.withColumnRenamed("query_id", "qa"),
          col("qa") === col("query_id") && col("id_a") === col("nbr_id"))
        .join(selIds, col("qs") === col("query_id") &&
          col("id_b") === col("sel_id"))
        .groupBy(col("query_id"), col("nbr_id"), col("rel"))
        .agg(max(col("sim")).as("ms"))
        .withColumn("score", Num.r4(lit(MmrLam) * col("rel") -
          lit(1.0 - MmrLam) * col("ms"))), j)
      sel.unionByName(pick).pin(Narrow)
    }.orderBy(col("query_id"), col("pick"))
  }

  /** q183 twin: ALL qualifying pairs over the whole corpus through the
    * blocked tile join, then filtered to pairs touching the batch —
    * versus the primary's batch-broadcast corpus scan + intra-batch
    * tiles. Cosine is argument-order-exact (per-dim products commute,
    * fold order fixed), so the r4-snapped values agree. */
  private def q183Alt(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val flags = e.select(col("vec_id"),
      (vecSplitHash >= IncrBatchBucket).as("is_batch"))
    Similarity.cosinePairsBlocked(e, IncrPairTau)
      .join(flags.select(col("vec_id").as("id_a"),
        col("is_batch").as("ba")), Seq("id_a"))
      .join(flags.select(col("vec_id").as("id_b"),
        col("is_batch").as("bb")), Seq("id_b"))
      .filter(col("ba") || col("bb"))
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q82_entropy" -> (q82Entropy _),
    "q83_lm_score" -> (q83LmScore _),
    "q84_temperature_mix" -> (q84TemperatureMix _),
    "q85_incr_agg" -> (q85IncrAgg _),
    "q86_prefix_jaccard" -> (q86PrefixJaccard _),
    "q87_pagerank" -> (q87Pagerank _),
    "q88_containment" -> (q88Containment _),
    "q89_incremental_dedup" -> (q89IncrementalDedup _),
    "q90_novelty" -> (q90Novelty _),
    "q91_quality_lr" -> (q91QualityLr _),
    "q172_calibration" -> (q172Calibration _),
    "q173_auc" -> (q173Auc _),
    "q180_holdout_ppl" -> (q180HoldoutPpl _),
    "q181_degree_mle" -> (q181DegreeMle _),
    "q92_listagg" -> (q92Listagg _),
    "q93_covariance" -> (q93Covariance _),
    "q94_classifier_route" -> (q94ClassifierRoute _),
    "q95_kmv_setops" -> (q95KmvSetOps _),
    "q96_mode" -> (q96Mode _),
    "q97_hard_negatives" -> (q97HardNegatives _),
    "q97b_hard_neg_ivf" -> (q97bHardNegativesIvf _),
    "q98_canonical_docs" -> (q98CanonicalDocs _),
    "q99_mix_plan" -> (q99MixPlan _),
    "q100_mmr_topk" -> (q100MmrTopK _),
    "q103_epoch_expand" -> (q103EpochExpand _),
    "q105_corpus_pipeline" -> (q105CorpusPipeline _),
    "q183_incremental_pairs" -> (q183IncrementalPairs _))

  def oracles: Map[String, String] = Map(
    "q82_entropy" -> q82Sql,
    "q83_lm_score" -> q83Sql,
    "q84_temperature_mix" -> q84Sql,
    "q85_incr_agg" -> q85Sql,
    "q86_prefix_jaccard" -> q86Sql,
    "q87_pagerank" -> q87Sql,
    "q88_containment" -> q88Sql,
    "q89_incremental_dedup" -> q89Sql,
    "q90_novelty" -> q90Sql,
    "q91_quality_lr" -> q91Sql,
    "q172_calibration" -> q172Sql,
    "q173_auc" -> q173Sql,
    "q180_holdout_ppl" -> q180Sql,
    "q181_degree_mle" -> q181Sql,
    "q92_listagg" -> q92Sql,
    "q93_covariance" -> q93Sql,
    "q94_classifier_route" -> q94Sql,
    "q95_kmv_setops" -> q95Sql,
    "q96_mode" -> q96Sql,
    "q97_hard_negatives" -> q97Sql,
    "q97b_hard_neg_ivf" -> q97bSql,
    "q98_canonical_docs" -> q98Sql,
    "q99_mix_plan" -> q99Sql,
    "q100_mmr_topk" -> q100Sql,
    "q103_epoch_expand" -> q103Sql,
    "q105_corpus_pipeline" -> q105Sql,
    "q183_incremental_pairs" -> q183Sql)
}
