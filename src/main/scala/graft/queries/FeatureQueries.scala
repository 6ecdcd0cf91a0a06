package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.{GlobalOrder, Kmv, NaiveBayes, Num, Pin, Quantiles, Ridge}
import graft.operators.Pin._

/** Round-7 second wave: feature-engineering and corpus-statistics
  * operators a training-data platform layers on top of curation —
  * a one-pass Bayesian classifier, collocation mining, per-group
  * trend regression, the hashing trick, winsorized statistics,
  * weighted quantiles, chi-square drift, sketch-based cross-source
  * overlap, and join-key skew diagnostics.
  *
  * Scale notes (100 TB): every query here is one or two keyed
  * aggregations over narrow rows plus joins against bounded model
  * state (NB stats: labels × dims rows; KMV synopses: sources × k
  * doubles; quantile fences: groups × p). Nothing is all-pairs — the
  * source-overlap matrix is the sketch answer to a question whose
  * exact form (distinct-union per source pair) would be S² corpus
  * shuffles.
  */
object FeatureQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
  private def lineitem(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")

  private def r8sql(e: String): String = Num.sqlR(e, 8)
  private def r6sql(e: String): String = Num.sqlR(e, 6)

  // ---- q106: Gaussian Naive Bayes train → score → predict — the
  // one-aggregation-pass classifier (sufficient statistics, no
  // gradient rounds): train on even vec_ids, score odd ones, argmax
  // over candidate labels with a label-asc tie-break. Model math in
  // operators.NaiveBayes; the oracle re-derives the identical snapped
  // model and scores in SQL. ----

  def q106NaiveBayes(spark: SparkSession, dir: String): DataFrame = {
    val emb = embs(spark, dir)
    val train = emb.filter(col("vec_id") % 2 === 0)
    val test = emb.filter(col("vec_id") % 2 === 1)
    NaiveBayes.predict(
      NaiveBayes.scores(test, NaiveBayes.gaussStats(train),
        NaiveBayes.logPriors(train)))
      .orderBy(col("vec_id"))
  }

  val q106Sql: String =
    s"""WITH tr AS (
       |  SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings WHERE vec_id % 2 = 0),
       |te AS (
       |  SELECT vec_id, label AS label_true,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings WHERE vec_id % 2 = 1),
       |trx AS (SELECT label, pos, v[pos + 1] AS x FROM tr, range(64) t(pos)),
       |st AS (
       |  SELECT label, pos, ${r8sql("avg(x)")} AS m, ${r8sql("avg(x * x)")} AS m2
       |  FROM trx GROUP BY label, pos),
       |st2 AS (
       |  SELECT label, pos, m,
       |    ${r8sql(s"greatest(m2 - m * m, ${NaiveBayes.VarFloor})")} AS var
       |  FROM st),
       |st3 AS (
       |  SELECT label, pos, m, var,
       |    ${r8sql(s"-0.5 * ln(${NaiveBayes.TwoPi} * var)")} AS c0
       |  FROM st2),
       |pri AS (
       |  SELECT label,
       |    ${r8sql("ln(count(*)::DOUBLE / (SELECT count(*) FROM tr))")} AS lp0
       |  FROM tr GROUP BY label),
       |tex AS (
       |  SELECT vec_id, label_true, pos, v[pos + 1] AS x
       |  FROM te, range(64) t(pos)),
       |con AS (
       |  SELECT vec_id, label_true, s.label AS cand,
       |    ${r8sql("s.c0 - (x - s.m) * (x - s.m) / (2.0 * s.var)")} AS contrib
       |  FROM tex JOIN st3 s ON s.pos = tex.pos),
       |sc AS (
       |  SELECT vec_id, label_true, cand,
       |    ${Num.sqlR4("max(p.lp0) + sum(contrib)")} AS score
       |  FROM con JOIN pri p ON p.label = con.cand
       |  GROUP BY vec_id, label_true, cand)
       |SELECT vec_id, label_true, cand AS pred, score FROM sc
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cand ASC) = 1
       |ORDER BY vec_id""".stripMargin

  // ---- q107: PMI collocations — pointwise mutual information over
  // adjacent token pairs, the classic multi-word-expression miner
  // (and a tokenizer-vocabulary signal: high-PMI bigrams are merge
  // candidates). Corpus totals ride ONE compact scan (Σ|tokens| and
  // Σ|bigrams| from the same projection); the bigram table is
  // min-count-filtered BEFORE joining unigram counts. ----

  private val PmiMinCount = 5L
  private val PmiTopK = 50

  def q107Pmi(spark: SparkSession, dir: String): DataFrame =
    pmiTable(docs(spark, dir))

  private[graft] def pmiTable(d: DataFrame): DataFrame = {
    // pinned: totals, unigram counts AND bigram counts all read the
    // token table — unpinned, the regex tokenize ran once per consumer
    // (3 corpus passes; the LanguageModel.tokenTable rationale)
    val tok = d.select(TF.tokens(col("text")).as("ts")).pin(Narrow)
    val totals = tok.agg(
      sum(size(col("ts"))).cast("double").as("t_tok"),
      sum(greatest(size(col("ts")) - 1, lit(0))).cast("double").as("t_big"))
    val uni = tok.select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val big = tok.select(explode(TF.shinglesFromTokens(col("ts"), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= PmiMinCount)
      .withColumn("a", element_at(split(col("bg"), " "), 1))
      .withColumn("b", element_at(split(col("bg"), " "), 2))
    big
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(totals))
      .select(col("bg").as("bigram"), col("c_ab"),
        Num.r(log((col("c_ab").cast("double") * col("t_tok") * col("t_tok")) /
          (col("t_big") * col("c_a") * col("c_b"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(PmiTopK)
  }

  val q107Sql: String =
    s"""WITH tok AS (SELECT ${TF.sqlTokens("text")} AS ts FROM documents),
       |tot AS (
       |  SELECT sum(len(ts))::DOUBLE AS t_tok,
       |    sum(greatest(len(ts) - 1, 0))::DOUBLE AS t_big FROM tok),
       |uni AS (
       |  SELECT t, count(*) AS c
       |  FROM (SELECT unnest(ts) AS t FROM tok) GROUP BY t),
       |big AS (
       |  SELECT bg, count(*) AS c_ab
       |  FROM (SELECT unnest(CASE WHEN len(ts) >= 2
       |          THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])
       |          ELSE [] END) AS bg FROM tok)
       |  GROUP BY bg HAVING count(*) >= $PmiMinCount)
       |SELECT bg AS bigram, c_ab,
       |  ${r6sql("ln((c_ab::DOUBLE * t_tok * t_tok) / (t_big * ua.c * ub.c))")} AS pmi
       |FROM big, tot,
       |  uni ua, uni ub
       |WHERE ua.t = split_part(bg, ' ', 1) AND ub.t = split_part(bg, ' ', 2)
       |ORDER BY pmi DESC, bigram LIMIT $PmiTopK""".stripMargin

  // ---- q108: per-group OLS trend — least-squares slope / intercept /
  // R² of hourly mean event value against time, per event type (the
  // "is this metric drifting" regression a monitoring layer runs).
  // Two tiny aggregations: hourly means first (so the regression runs
  // over hours, not raw events), then the five sufficient sums with
  // snaps; the closed form is a fixed expression tree over snapped
  // inputs, so both engines compute bit-identical estimates. ----

  def q108Trend(spark: SparkSession, dir: String): DataFrame =
    trendTable(events(spark, dir)
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"),
        col("value")))

  /** `ev` needs (event_type, hr: long, value: double). */
  private[graft] def trendTable(ev: DataFrame): DataFrame = {
    val h0 = ev.agg(min(col("hr")).as("h0"))
    val hb = ev.crossJoin(broadcast(h0))
      .select(col("event_type"), (col("hr") - col("h0")).as("x"), col("value"))
      .groupBy(col("event_type"), col("x"))
      .agg(Num.r(avg(col("value")), 8).as("y"))
    val s = hb.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      Num.r4(sum(col("y"))).as("sy"),
      Num.r4(sum(col("x") * col("y"))).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      Num.r4(sum(col("y") * col("y"))).as("syy"))
    val nd = col("n").cast("double")
    val sxd = col("sx").cast("double")
    val sxxd = col("sxx").cast("double")
    val num = nd * col("sxy") - sxd * col("sy")
    val den = nd * sxxd - sxd * sxd
    val den2 = nd * col("syy") - col("sy") * col("sy")
    val slope = Num.r(num / den, 6)
    s.select(col("event_type"), col("n"),
        when(den > 0, slope).as("slope"),
        when(den > 0, Num.r((col("sy") - slope * sxd) / nd, 6)).as("intercept"),
        when(den > 0 && den2 > 0, Num.r(num * num / (den * den2), 6)).as("r2"))
      .orderBy(col("event_type"))
  }

  val q108Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS hr, value
       |  FROM events),
       |hb AS (
       |  SELECT event_type, hr - (SELECT min(hr) FROM e) AS x,
       |    ${r8sql("avg(value)")} AS y
       |  FROM e GROUP BY event_type, hr),
       |s AS (
       |  SELECT event_type, count(*) AS n, sum(x) AS sx,
       |    ${Num.sqlR4("sum(y)")} AS sy, ${Num.sqlR4("sum(x * y)")} AS sxy,
       |    sum(x * x) AS sxx, ${Num.sqlR4("sum(y * y)")} AS syy
       |  FROM hb GROUP BY event_type),
       |t AS (
       |  SELECT event_type, n,
       |    n::DOUBLE * sxy - sx::DOUBLE * sy AS num,
       |    n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS den,
       |    n::DOUBLE * syy - sy * sy AS den2, sx, sy
       |  FROM s)
       |SELECT event_type, n,
       |  CASE WHEN den > 0 THEN ${r6sql("num / den")} END AS slope,
       |  CASE WHEN den > 0 THEN
       |    ${r6sql(s"(sy - ${r6sql("num / den")} * sx::DOUBLE) / n::DOUBLE")} END AS intercept,
       |  CASE WHEN den > 0 AND den2 > 0 THEN ${r6sql("num * num / (den * den2)")} END AS r2
       |FROM t ORDER BY event_type""".stripMargin

  // ---- q109: feature hashing (the hashing trick) — tokens folded
  // into a fixed 64-bucket signed feature vector per document (bucket
  // = h mod 64, sign = parity of the next hash bit). The
  // vocabulary-free vectorizer: no dictionary to build, broadcast, or
  // grow, which is exactly what makes it the 100 TB featurizer.
  // Sampled docs keep the oracle output bounded. ----

  private val HashDim = 64L

  def q109FeatureHash(spark: SparkSession, dir: String): DataFrame =
    featureHash(docs(spark, dir)
      .filter(TF.hash60(col("doc_id").cast("string")) % 10 === 0))

  /** `d` needs (doc_id, text). */
  private[graft] def featureHash(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), explode(TF.tokens(col("text"))).as("t"))
      .withColumn("h", TF.hash60(col("t")))
      .select(col("doc_id"), (col("h") % HashDim).as("bucket"),
        when(expr(s"(h div $HashDim) % 2") === 0, lit(1L))
          .otherwise(lit(-1L)).as("sign"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("val"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  val q109Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ${TF.sqlHash60("doc_id::VARCHAR")} % 10 = 0),
       |tk AS (
       |  SELECT doc_id, ${TF.sqlHash60("t")} AS h
       |  FROM (SELECT doc_id, unnest(${TF.sqlTokens("text")}) AS t FROM d))
       |SELECT doc_id, h % $HashDim AS bucket,
       |  CAST(sum(CASE WHEN (h // $HashDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS val
       |FROM tk GROUP BY doc_id, bucket
       |ORDER BY doc_id, bucket""".stripMargin

  // ---- q110: winsorized statistics — per-group P05/P95 fences from
  // the distributed exact-quantile operator, values clamped to the
  // fences, raw vs winsorized mean side by side with clip counts (the
  // robust-mean recipe for reward/quality scores with heavy tails).
  // Fence comparisons run on RAW quantile values (exact interpolation
  // is bit-identical cross-engine — the q74 contract); only the
  // reported columns are snapped. ----

  def q110Winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizedStats(lineitem(spark, dir), "l_returnflag", "l_extendedprice")

  private[graft] def winsorizedStats(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    // fences snapped r8 — same tie-interpolation ulp defense as q120
    val fences = Quantiles.exactQuantiles(df, groupCol,
      valueCol, Seq(0.05, 0.95), Seq("p05", "p95"))
      .select(col(groupCol), Num.r(col("p05"), 8).as("p05"),
        Num.r(col("p95"), 8).as("p95"))
    val v = col(valueCol)
    df.join(broadcast(fences), groupCol)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        Num.r2(avg(v)).as("mean_raw"),
        Num.r2(avg(least(greatest(v, col("p05")), col("p95")))).as("mean_wins"),
        sum(when(v < col("p05"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(v > col("p95"), 1L).otherwise(0L)).as("n_hi"),
        Num.r2(max(col("p05"))).as("p05"),
        Num.r2(max(col("p95"))).as("p95"))
      .orderBy(col(groupCol))
  }

  val q110Sql: String =
    s"""WITH f AS (
       |  SELECT l_returnflag AS g,
       |    ${r8sql("quantile_cont(l_extendedprice, 0.05)")} AS p05,
       |    ${r8sql("quantile_cont(l_extendedprice, 0.95)")} AS p95
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, count(*) AS n,
       |  ${Num.sqlR2("avg(l_extendedprice)")} AS mean_raw,
       |  ${Num.sqlR2("avg(least(greatest(l_extendedprice, p05), p95))")} AS mean_wins,
       |  CAST(sum(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
       |  CAST(sum(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
       |  ${Num.sqlR2("max(p05)")} AS p05, ${Num.sqlR2("max(p95)")} AS p95
       |FROM lineitem l JOIN f ON f.g = l.l_returnflag
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- q111: weighted quantiles — median and P90 of extended price
  // weighted by quantity (type-1 / lower convention: smallest value
  // whose cumulative weight reaches p·W), per return flag. The
  // frequency-weighted form neither Spark's percentile nor DuckDB's
  // quantile_cont exposes; both engines get the identical window
  // chain. ----

  def q111WeightedQuantile(spark: SparkSession, dir: String): DataFrame =
    Quantiles.weightedQuantiles(lineitem(spark, dir), "l_returnflag",
        "l_extendedprice", "l_quantity", Seq(0.5, 0.9), Seq("wmedian", "wp90"))
      // pin before the sort — the range exchange's sampling job would
      // re-execute the cumulative-weight window chain (the q37 finding)
      .pin(Narrow)
      .orderBy(col("l_returnflag"))

  val q111Sql: String =
    s"""WITH c AS (
       |  SELECT l_returnflag AS g, l_extendedprice AS v,
       |    ${r6sql("sum(l_quantity)")} AS w
       |  FROM lineitem
       |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
       |    AND l_quantity > 0
       |  GROUP BY g, v),
       |cum AS (
       |  SELECT g, v, sum(w) OVER (PARTITION BY g ORDER BY v) AS cw,
       |    sum(w) OVER (PARTITION BY g) AS wt
       |  FROM c)
       |SELECT g AS l_returnflag, ${r6sql("max(wt)")} AS w_total,
       |  min(CASE WHEN cw >= wt * 0.5 THEN v END) AS wmedian,
       |  min(CASE WHEN cw >= wt * 0.9 THEN v END) AS wp90
       |FROM cum GROUP BY g ORDER BY g""".stripMargin

  // ---- q112: chi-square drift — the frequency-table homogeneity
  // test between corpus snapshots, complementing q102's PSI: observed
  // vs expected counts per (feature, snapshot, bucket) cell over the
  // FULL bucket × snapshot grid (a bucket absent from one snapshot
  // still contributes — exactly the cell PSI's ε-clamp papers over).
  // Row-level data is aggregated once per feature; the grid join runs
  // over bucket-cardinality rows. ----

  private val ChiLenBin = 500L

  def q112Chi2Drift(spark: SparkSession, dir: String): DataFrame =
    chi2Report(docs(spark, dir)
      .withColumn("snap", when(col("doc_id") % 2 === 0, "ref").otherwise("cur")))

  /** `d` needs (snap, lang, n_chars). */
  private[graft] def chi2Report(d: DataFrame): DataFrame = {
    def featureTable(feature: String, bucket: org.apache.spark.sql.Column) = {
      val counts = d.groupBy(col("snap"),
          coalesce(bucket, lit("(null)")).as("bucket"))
        .agg(count(lit(1)).as("o"))
      val bTot = counts.groupBy(col("bucket")).agg(sum(col("o")).as("bt"))
      val sTot = counts.groupBy(col("snap")).agg(sum(col("o")).as("st"))
      val n = counts.agg(sum(col("o")).as("nn"))
      bTot.crossJoin(sTot).crossJoin(broadcast(n))
        .join(counts, Seq("snap", "bucket"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .withColumn("e", Num.r(col("bt").cast("double") * col("st") / col("nn"), 6))
        .select(lit(feature).as("feature"), col("snap"), col("bucket"),
          col("o"),
          col("e"),
          Num.r((col("o").cast("double") - col("e")) *
            (col("o").cast("double") - col("e")) / col("e"), 6).as("chi2"))
    }
    featureTable("lang", col("lang"))
      .unionByName(featureTable("len_bin",
        concat(lit("b"), floor(col("n_chars") / ChiLenBin).cast("string"))))
      .orderBy(col("feature"), col("bucket"), col("snap"))
  }

  val q112Sql: String = {
    def feature(name: String, bucket: String) =
      s"""SELECT '$name' AS feature, s.snap, b.bucket, coalesce(c.o, 0) AS o,
         |  ${r6sql(s"(b.bt::DOUBLE * s.st) / (SELECT sum(o) FROM cnt_$name)")} AS e_raw
         |FROM (SELECT bucket, sum(o) AS bt FROM cnt_$name GROUP BY bucket) b
         |CROSS JOIN (SELECT snap, sum(o) AS st FROM cnt_$name GROUP BY snap) s
         |LEFT JOIN cnt_$name c ON c.snap = s.snap AND c.bucket = b.bucket""".stripMargin
    def cnt(name: String, bucket: String) =
      s"""cnt_$name AS (
         |  SELECT snap, coalesce($bucket, '(null)') AS bucket, count(*) AS o
         |  FROM base GROUP BY snap, bucket)""".stripMargin
    s"""WITH base AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS snap,
       |    lang, n_chars FROM documents),
       |${cnt("lang", "lang")},
       |${cnt("len_bin", s"'b' || CAST(n_chars // $ChiLenBin AS VARCHAR)")}
       |SELECT feature, snap, bucket, CAST(o AS BIGINT) AS o, e_raw AS e,
       |  ${r6sql("(o::DOUBLE - e_raw) * (o::DOUBLE - e_raw) / e_raw")} AS chi2
       |FROM (
       |${feature("lang", "lang")}
       |UNION ALL
       |${feature("len_bin", "")})
       |ORDER BY feature, bucket, snap""".stripMargin
  }

  // ---- q113: cross-source vocabulary overlap via KMV synopses — the
  // sketch-shaped answer to "how much does each source pair share":
  // per-source bottom-k token-hash synopses (bounded model state),
  // pairwise union synopses by the KMV composition law, intersection
  // and Jaccard by inclusion–exclusion. The exact form is S² distinct-
  // union shuffles over the corpus; this is ONE distinct + S×k rows.
  // Deterministic order statistics → fully oracle-checkable. ----

  private val KovK = 64

  def q113SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(docs(spark, dir))

  /** `d` needs (source, text). */
  private[graft] def sourceOverlap(d: DataFrame): DataFrame = {
    val h = d
      .select(col("source"), explode(TF.tokens(col("text"))).as("t"))
      .select(col("source"), Kmv.normHash(col("t")).as("u"))
      .distinct()
    // checkpoint: the synopsis (<= K rows per source) is read four
    // times (cardinalities, source list, both sides of the pair merge);
    // without it the corpus tokenize + distinct re-executes each time
    val syn = h.withColumn("rn",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("u"))))
      .filter(col("rn") <= KovK)
      .select(col("source"), col("u"))
      .pin(Narrow)
    val est = syn.groupBy(col("source"))
      .agg(count(lit(1)).as("nd"), max(col("u")).as("hk"))
      .select(col("source"),
        when(col("nd") < KovK, col("nd").cast("double"))
          .otherwise(lit((KovK - 1).toDouble) / col("hk")).as("d"))
    val srcs = syn.select(col("source")).distinct()
    // Pair domain WITHOUT a theta join (r14 verdict item 4 — the plan
    // gate exemption this shape used to need is retired): index the
    // bounded source domain (coalesce(1) satisfies the global window's
    // AllTuples requirement with no SinglePartition shuffle — the
    // domain is |sources| rows by construction), explode each source's
    // higher-indexed partner ids, and close the pair with a broadcast
    // EQUI-join on the id. row_number ordered by source makes ia < ib
    // ≡ sa < sb, so the pair set is identical to the old cross+filter.
    val srcIdx = srcs.coalesce(1)
      .withColumn("ia", row_number().over(Window.orderBy(col("source"))))
    val nSrc = srcs.agg(count(lit(1)).cast("int").as("n_src"))
    val pairs = srcIdx.crossJoin(broadcast(nSrc))
      .filter(col("ia") < col("n_src"))
      .withColumn("ib", explode(sequence(col("ia") + 1, col("n_src"))))
      .select(col("source").as("sa"), col("ib"))
      .join(broadcast(srcIdx.select(col("source").as("sb"), col("ia").as("ib"))),
        "ib")
      .select(col("sa"), col("sb"))
    val merged = pairs
      .join(syn.select(col("source").as("sa"), col("u")), "sa")
      .select(col("sa"), col("sb"), col("u"))
      .unionByName(pairs
        .join(syn.select(col("source").as("sb"), col("u")), "sb")
        .select(col("sa"), col("sb"), col("u")))
      .distinct()
    val estU = merged.withColumn("rn", row_number().over(
        Window.partitionBy(col("sa"), col("sb")).orderBy(col("u"))))
      .filter(col("rn") <= KovK)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("nu"), max(col("u")).as("hku"))
      .select(col("sa"), col("sb"),
        when(col("nu") < KovK, col("nu").cast("double"))
          .otherwise(lit((KovK - 1).toDouble) / col("hku")).as("du"))
    val inter = greatest(col("da") + col("db") - col("du"), lit(0.0))
    estU
      .join(est.select(col("source").as("sa"), col("d").as("da")), "sa")
      .join(est.select(col("source").as("sb"), col("d").as("db")), "sb")
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        Num.r4(col("da")).as("d_a"), Num.r4(col("db")).as("d_b"),
        Num.r4(col("du")).as("d_union"), Num.r4(inter).as("d_inter"),
        Num.r4(inter / col("du")).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q113Sql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT source,
       |    ${TF.sqlHash60("t")}::DOUBLE / 1152921504606846976.0 AS u
       |  FROM (SELECT source, unnest(${TF.sqlTokens("text")}) AS t FROM documents)),
       |syn AS (
       |  SELECT source, u FROM (
       |    SELECT source, u,
       |      row_number() OVER (PARTITION BY source ORDER BY u) AS rn FROM h)
       |  WHERE rn <= $KovK),
       |est AS (
       |  SELECT source, CASE WHEN count(*) < $KovK THEN count(*)::DOUBLE
       |    ELSE ${(KovK - 1).toDouble} / max(u) END AS d
       |  FROM syn GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM (SELECT DISTINCT source FROM syn) a,
       |       (SELECT DISTINCT source FROM syn) b
       |  WHERE a.source < b.source),
       |m AS (
       |  SELECT DISTINCT sa, sb, u FROM (
       |    SELECT p.sa, p.sb, s.u FROM pairs p JOIN syn s ON s.source = p.sa
       |    UNION ALL
       |    SELECT p.sa, p.sb, s.u FROM pairs p JOIN syn s ON s.source = p.sb)),
       |eu AS (
       |  SELECT sa, sb, CASE WHEN count(*) < $KovK THEN count(*)::DOUBLE
       |    ELSE ${(KovK - 1).toDouble} / max(u) END AS du
       |  FROM (
       |    SELECT sa, sb, u,
       |      row_number() OVER (PARTITION BY sa, sb ORDER BY u) AS rn FROM m)
       |  WHERE rn <= $KovK GROUP BY sa, sb)
       |SELECT sa AS src_a, sb AS src_b,
       |  ${Num.sqlR4("ea.d")} AS d_a, ${Num.sqlR4("eb.d")} AS d_b,
       |  ${Num.sqlR4("du")} AS d_union,
       |  ${Num.sqlR4("greatest(ea.d + eb.d - du, 0.0)")} AS d_inter,
       |  ${Num.sqlR4("greatest(ea.d + eb.d - du, 0.0) / du")} AS jaccard
       |FROM eu JOIN est ea ON ea.source = eu.sa JOIN est eb ON eb.source = eu.sb
       |ORDER BY src_a, src_b""".stripMargin

  // ---- q114: join-key skew diagnostics — the pre-flight check that
  // decides between a plain shuffle join and the salted SkewJoin:
  // top-k heaviest keys with their share of all rows and a skew
  // factor (count over the uniform per-key expectation N/K). One
  // keyed aggregation plus a 1-row broadcast of the totals. ----

  private val SkewTopK = 10

  def q114Skew(spark: SparkSession, dir: String): DataFrame =
    skewReport(events(spark, dir), "user_id", SkewTopK)

  private[graft] def skewReport(df: DataFrame, keyCol: String,
      topK: Int): DataFrame = {
    val keyCnt = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
    val tot = keyCnt.agg(sum(col("cnt")).as("nn"), count(lit(1)).as("kk"))
    keyCnt.crossJoin(broadcast(tot))
      .select(col(keyCol), col("cnt"),
        Num.r(col("cnt").cast("double") / col("nn"), 6).as("share"),
        Num.r4(col("cnt").cast("double") * col("kk") / col("nn")).as("skew_factor"))
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(topK)
  }

  val q114Sql: String =
    s"""WITH kc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
       |tot AS (SELECT sum(cnt) AS nn, count(*) AS kk FROM kc)
       |SELECT user_id, cnt, ${r6sql("cnt::DOUBLE / nn")} AS share,
       |  ${Num.sqlR4("cnt::DOUBLE * kk / nn")} AS skew_factor
       |FROM kc, tot
       |ORDER BY cnt DESC, user_id LIMIT $SkewTopK""".stripMargin

  // ---- q115: per-group correlation matrix — Pearson correlations
  // between the lineitem measures from ONE aggregation of integer-
  // scaled sufficient sums. Prices are rounded to whole units and
  // discounts to basis points BEFORE summing, so every sufficient sum
  // is an exact 64-bit integer (order-independent — no snapping
  // gymnastics, no cross-engine summation drift; the correlation of
  // the rounded measures is what's reported). At 100 TB this is one
  // map-side-combined shuffle; column-pair count is schema-bounded. ----

  // ---- q174: exact Spearman rank correlation between document
  // length and token count — the robust (monotone-invariant)
  // companion of q115's Pearson, and like q173 a metric usually
  // approximated at scale because it needs global ranks. Midranks
  // per feature come from operators.Ranks (range-partitioned, doubled
  // ⇒ integer-exact); Spearman ρ is then Pearson over the two mr2
  // columns via integer sufficient sums (the q115 contract: exact,
  // order-independent 64-bit sums, doubles only in the final
  // formula — the 2× on both ranks cancels in the correlation). ----

  def q174Spearman(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks
    val d = docs(spark, dir)
      .filter(col("n_chars").isNotNull && col("text").isNotNull)
      .select(col("n_chars").cast("long").as("x"),
        TF.tokenCount(col("text")).cast("long").as("y"))
    val rx = Ranks.midranks2(d, "x")
      .select(col("value").as("x"), col("mr2").as("rx"))
    val ry = Ranks.midranks2(d, "y")
      .select(col("value").as("y"), col("mr2").as("ry"))
    val s = d.join(rx, "x").join(ry, "y").agg(
      count(lit(1)).as("n"),
      sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
      sum(col("rx") * col("rx")).as("sxx"),
      sum(col("ry") * col("ry")).as("syy"),
      sum(col("rx") * col("ry")).as("sxy"))
    val nd = col("n").cast("double")
    val num = nd * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = nd * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    s.select(col("n"),
      when(vx > 0 && vy > 0, Num.r(num / sqrt(vx * vy), 6))
        .as("spearman_rho"))
  }

  val q174Sql: String = {
    val tc = TF.sqlTokenCount("text")
    s"""WITH d AS (
       |  SELECT n_chars::BIGINT AS x, ($tc)::BIGINT AS y
       |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
       |gx AS (SELECT x AS value, count(*) AS c FROM d GROUP BY 1),
       |kx AS (SELECT value,
       |         2 * (sum(c) OVER (ORDER BY value) - c) + c + 1 AS rx
       |       FROM gx),
       |gy AS (SELECT y AS value, count(*) AS c FROM d GROUP BY 1),
       |ky AS (SELECT value,
       |         2 * (sum(c) OVER (ORDER BY value) - c) + c + 1 AS ry
       |       FROM gy),
       |j AS (SELECT rx, ry FROM d
       |      JOIN kx ON d.x = kx.value JOIN ky ON d.y = ky.value),
       |s AS (SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
       |        sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
       |        sum(rx * ry) AS sxy
       |      FROM j)
       |SELECT n,
       |  CASE WHEN (n::DOUBLE * sxx - sx::DOUBLE * sx) > 0
       |        AND (n::DOUBLE * syy - sy::DOUBLE * sy) > 0 THEN
       |    ${Num.sqlR(
          "(n::DOUBLE * sxy - sx::DOUBLE * sy) / " +
            "sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx) * " +
            "(n::DOUBLE * syy - sy::DOUBLE * sy))", 6)}
       |  END AS spearman_rho
       |FROM s""".stripMargin
  }

  // ---- q179: Mann–Whitney U test — does the 'en' half of the corpus
  // have systematically different document lengths than the rest?
  // The nonparametric two-sample location test beside the χ² (q112)
  // and KS (q123) gates: U from the group-1 midrank sum (the same
  // doubled-midrank machinery as AUC/Spearman — U = ΣR₁ − n₁(n₁+1)/2,
  // all integer until the final z), with the TIE-CORRECTED normal
  // variance σ² = n₁n₂/12 · [(n+1) − Σ(c³−c)/(n(n−1))] — document
  // lengths tie heavily, and the uncorrected variance overstates σ.
  // Σ(c³−c) rides the same compressed per-value frame. ----

  def q179MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranks
    val d = docs(spark, dir)
      .filter(col("n_chars").isNotNull)
      .select(col("n_chars").cast("long").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("g1"))
    val sums = Ranks.midranks2(d, "v", Seq(sum(col("g1")).as("_n1")))
      .agg(
        sum(col("_n1")).as("n1"),
        sum(col("c") - col("_n1")).as("n2"),
        sum(col("_n1") * col("mr2")).as("r1x2"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val n = n1 + n2
    // U = ΣR₁ − n₁(n₁+1)/2; ΣR₁ = r1x2/2 (doubled midranks)
    val u = col("r1x2").cast("double") / 2 - n1 * (n1 + 1) / 2
    val sigma2 = n1 * n2 / 12 *
      ((n + 1) - col("ties").cast("double") / (n * (n - 1)))
    sums.select(col("n1"), col("n2"),
      Num.r2(u).as("u"),
      when(col("n1") > 0 && col("n2") > 0 && sigma2 > 0,
        Num.r4((u - n1 * n2 / 2) / sqrt(sigma2))).as("z"))
  }

  val q179Sql: String =
    s"""WITH d AS (
       |  SELECT n_chars::BIGINT AS v,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g1
       |  FROM documents WHERE n_chars IS NOT NULL),
       |g AS (SELECT v, count(*) AS c, CAST(sum(g1) AS BIGINT) AS p
       |      FROM d GROUP BY 1),
       |k AS (SELECT *,
       |        2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS mr2
       |      FROM g),
       |s AS (SELECT CAST(sum(p) AS BIGINT) AS n1,
       |        CAST(sum(c - p) AS BIGINT) AS n2,
       |        CAST(sum(p * mr2) AS BIGINT) AS r1x2,
       |        CAST(sum(c * c * c - c) AS BIGINT) AS ties
       |      FROM k)
       |SELECT n1, n2,
       |  ${Num.sqlR2("r1x2::DOUBLE / 2 - n1::DOUBLE * (n1 + 1) / 2")} AS u,
       |  CASE WHEN n1 > 0 AND n2 > 0 THEN
       |    ${Num.sqlR4(
          "(r1x2::DOUBLE / 2 - n1::DOUBLE * (n1 + 1) / 2 - n1::DOUBLE * n2 / 2) / " +
            "sqrt(n1::DOUBLE * n2 / 12 * ((n1 + n2 + 1) - " +
            "ties::DOUBLE / ((n1::DOUBLE + n2) * (n1 + n2 - 1))))")}
       |  END AS z
       |FROM s""".stripMargin

  def q115Correlation(spark: SparkSession, dir: String): DataFrame =
    corrFromInts(lineitem(spark, dir).select(col("l_returnflag").as("g"),
      col("l_quantity").cast("long").as("q"),
      floor(col("l_extendedprice") + 0.5).cast("long").as("p"),
      floor(col("l_discount") * 100 + 0.5).cast("long").as("dc")))

  /** `d` needs integer measure columns (g, q, p, dc). */
  private[graft] def corrFromInts(d: DataFrame): DataFrame = {
    val s = d.groupBy(col("g")).agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("sq"), sum(col("p")).as("sp"), sum(col("dc")).as("sd"),
      sum(col("q") * col("q")).as("sqq"), sum(col("p") * col("p")).as("spp"),
      sum(col("dc") * col("dc")).as("sdd"),
      sum(col("q") * col("p")).as("sqp"), sum(col("q") * col("dc")).as("sqd"),
      sum(col("p") * col("dc")).as("spd"))
    val nd = col("n").cast("double")
    def corrOf(sxy: String, sx: String, sy: String, sxx: String,
        syy: String): org.apache.spark.sql.Column = {
      val num = nd * col(sxy).cast("double") -
        col(sx).cast("double") * col(sy).cast("double")
      val vx = nd * col(sxx).cast("double") -
        col(sx).cast("double") * col(sx).cast("double")
      val vy = nd * col(syy).cast("double") -
        col(sy).cast("double") * col(sy).cast("double")
      when(vx > 0 && vy > 0, Num.r(num / sqrt(vx * vy), 6))
    }
    s.select(col("g").as("l_returnflag"), col("n"),
        corrOf("sqp", "sq", "sp", "sqq", "spp").as("c_qty_price"),
        corrOf("sqd", "sq", "sd", "sqq", "sdd").as("c_qty_disc"),
        corrOf("spd", "sp", "sd", "spp", "sdd").as("c_price_disc"))
      .orderBy(col("l_returnflag"))
  }

  val q115Sql: String = {
    def corrOf(sxy: String, sx: String, sy: String, sxx: String, syy: String) = {
      val num = s"n::DOUBLE * $sxy::DOUBLE - $sx::DOUBLE * $sy::DOUBLE"
      val vx = s"n::DOUBLE * $sxx::DOUBLE - $sx::DOUBLE * $sx::DOUBLE"
      val vy = s"n::DOUBLE * $syy::DOUBLE - $sy::DOUBLE * $sy::DOUBLE"
      s"CASE WHEN ($vx) > 0 AND ($vy) > 0 THEN ${r6sql(s"($num) / sqrt(($vx) * ($vy))")} END"
    }
    s"""WITH d AS (
       |  SELECT l_returnflag AS g, l_quantity::BIGINT AS q,
       |    floor(l_extendedprice + 0.5)::BIGINT AS p,
       |    floor(l_discount * 100 + 0.5)::BIGINT AS dc
       |  FROM lineitem),
       |s AS (
       |  SELECT g, count(*) AS n,
       |    sum(q) AS sq, sum(p) AS sp, sum(dc) AS sd,
       |    sum(q * q) AS sqq, sum(p * p) AS spp, sum(dc * dc) AS sdd,
       |    sum(q * p) AS sqp, sum(q * dc) AS sqd, sum(p * dc) AS spd
       |  FROM d GROUP BY g)
       |SELECT g AS l_returnflag, n,
       |  ${corrOf("sqp", "sq", "sp", "sqq", "spp")} AS c_qty_price,
       |  ${corrOf("sqd", "sq", "sd", "sqq", "sdd")} AS c_qty_disc,
       |  ${corrOf("spd", "sp", "sd", "spp", "sdd")} AS c_price_disc
       |FROM s ORDER BY l_returnflag""".stripMargin
  }

  // ---- q116: MAD-based robust outliers — median absolute deviation
  // per group (two passes of the distributed exact-quantile operator)
  // and the 0.6745-scaled robust z-score, with outlier counts at the
  // conventional |z| > 3.5 fence. The robust twin of q80's z-score
  // (one extreme value can't drag the fence, unlike mean/stddev).
  // Fence comparisons run on raw exact-quantile values — the q74
  // contract. ----

  def q116MadOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliers(events(spark, dir), "event_type", "value")

  private[graft] def madOutliers(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val med = Quantiles.exactQuantiles(df, groupCol, valueCol,
      Seq(0.5), Seq("med")).select(col(groupCol), col("med"))
    val withMed = df.join(broadcast(med), groupCol)
      .withColumn("ad", abs(col(valueCol) - col("med")))
    val mad = Quantiles.exactQuantiles(withMed, groupCol, "ad",
      Seq(0.5), Seq("madv")).select(col(groupCol), col("madv"))
    val z = abs(lit(0.6745) * (col(valueCol) - col("med")) / col("madv"))
    withMed.join(broadcast(mad), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        Num.r4(max(col("med"))).as("med"),
        Num.r4(max(col("madv"))).as("mad"),
        sum(when(col("madv") > 0 && z > 3.5, 1L).otherwise(0L)).as("n_outliers"),
        Num.r4(max(when(col("madv") > 0, z))).as("max_abs_z"))
      .orderBy(col(groupCol))
  }

  val q116Sql: String =
    s"""WITH m AS (
       |  SELECT event_type AS g, quantile_cont(value, 0.5) AS med
       |  FROM events GROUP BY 1),
       |d AS (
       |  SELECT e.event_type AS g, e.value, m.med, abs(e.value - m.med) AS ad
       |  FROM events e JOIN m ON m.g = e.event_type),
       |md AS (SELECT g, quantile_cont(ad, 0.5) AS madv FROM d GROUP BY g)
       |SELECT d.g AS event_type, count(*) AS n,
       |  ${Num.sqlR4("max(d.med)")} AS med, ${Num.sqlR4("max(md.madv)")} AS mad,
       |  CAST(sum(CASE WHEN md.madv > 0
       |    AND abs(0.6745 * (d.value - d.med) / md.madv) > 3.5
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  ${Num.sqlR4("max(CASE WHEN md.madv > 0 THEN abs(0.6745 * (d.value - d.med) / md.madv) END)")} AS max_abs_z
       |FROM d JOIN md ON md.g = d.g GROUP BY d.g ORDER BY event_type""".stripMargin

  // ---- q117: Zipf slope per source — log-log OLS of token frequency
  // against rank over each source's top-R tokens: natural text sits
  // near slope −1, so a source whose exponent drifts is machine-
  // generated / templated / scraped-nav junk. Rank is total-ordered
  // (count desc, token asc); ln() rides the r8 snap; the regression
  // runs over R points per source. ----

  private val ZipfTopR = 100

  def q117Zipf(spark: SparkSession, dir: String): DataFrame =
    zipfSlope(docs(spark, dir))

  private[graft] def zipfSlope(d: DataFrame): DataFrame = {
    val cnts = d.select(col("source"), explode(TF.tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    val ranked = cnts.withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("c").desc, col("t"))))
      .filter(col("rn") <= ZipfTopR)
      .select(col("source"),
        Num.r(log(col("rn").cast("double")), 8).as("x"),
        Num.r(log(col("c").cast("double")), 8).as("y"))
    val s = ranked.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      Num.r(sum(col("x")), 6).as("sx"), Num.r(sum(col("y")), 6).as("sy"),
      Num.r(sum(col("x") * col("y")), 6).as("sxy"),
      Num.r(sum(col("x") * col("x")), 6).as("sxx"),
      Num.r(sum(col("y") * col("y")), 6).as("syy"))
    val nd = col("n").cast("double")
    val num = nd * col("sxy") - col("sx") * col("sy")
    val den = nd * col("sxx") - col("sx") * col("sx")
    val den2 = nd * col("syy") - col("sy") * col("sy")
    s.select(col("source"), col("n"),
        when(den > 0, Num.r(num / den, 6)).as("zipf_slope"),
        when(den > 0 && den2 > 0, Num.r(num * num / (den * den2), 6)).as("r2"))
      .orderBy(col("source"))
  }

  val q117Sql: String =
    s"""WITH cnts AS (
       |  SELECT source, t, count(*) AS c
       |  FROM (SELECT source, unnest(${TF.sqlTokens("text")}) AS t FROM documents)
       |  GROUP BY source, t),
       |ranked AS (
       |  SELECT source, ${r8sql("ln(rn::DOUBLE)")} AS x, ${r8sql("ln(c::DOUBLE)")} AS y
       |  FROM (SELECT source, c, row_number() OVER (
       |          PARTITION BY source ORDER BY c DESC, t) AS rn FROM cnts)
       |  WHERE rn <= $ZipfTopR),
       |s AS (
       |  SELECT source, count(*) AS n,
       |    ${r6sql("sum(x)")} AS sx, ${r6sql("sum(y)")} AS sy,
       |    ${r6sql("sum(x * y)")} AS sxy, ${r6sql("sum(x * x)")} AS sxx,
       |    ${r6sql("sum(y * y)")} AS syy
       |  FROM ranked GROUP BY source),
       |t AS (
       |  SELECT source, n,
       |    n::DOUBLE * sxy - sx * sy AS num,
       |    n::DOUBLE * sxx - sx * sx AS den,
       |    n::DOUBLE * syy - sy * sy AS den2
       |  FROM s)
       |SELECT source, n,
       |  CASE WHEN den > 0 THEN ${r6sql("num / den")} END AS zipf_slope,
       |  CASE WHEN den > 0 AND den2 > 0 THEN ${r6sql("num * num / (den * den2)")} END AS r2
       |FROM t ORDER BY source""".stripMargin

  // ---- q118: label propagation over the near-dup graph — 20% of
  // docs arrive seed-labeled (their lang tag); three synchronous
  // majority-vote rounds spread the labels along prefix-Jaccard
  // similarity edges (operators.LabelProp). The Spark side builds
  // edges with the prefix-filtered join; the oracle recomputes them
  // all-pairs and unrolls the identical three rounds — the equality
  // is simultaneously a scale-path and semantics proof. ----

  private val LpRounds = 3

  def q118LabelProp(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{LabelProp, TextDedup}
    val d = docs(spark, dir)
    val edges = TextDedup.prefixJaccardPairs(d, n = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    val nodes = d.select(col("doc_id").as("id"),
      when(col("doc_id") % 5 === 0 && col("lang").isNotNull, col("lang"))
        .as("seed"))
    LabelProp.propagate(nodes, edges, LpRounds)
      .select(col("id").as("doc_id"), col("label"), col("seeded"))
      .orderBy(col("doc_id"))
  }

  val q118Sql: String = {
    val rounds = (1 to LpRounds).map { r =>
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      s"""v$r AS (
         |  SELECT s.src, l.lbl, count(*) AS cnt
         |  FROM sym s JOIN $prev l ON l.id = s.dst AND l.lbl IS NOT NULL
         |  GROUP BY s.src, l.lbl),
         |m$r AS (
         |  SELECT src AS id, lbl FROM v$r
         |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY cnt DESC, lbl) = 1),
         |l$r AS (
         |  SELECT p.id, coalesce(sd.seed, m.lbl, p.lbl) AS lbl
         |  FROM $prev p
         |  LEFT JOIN seeds sd ON sd.id = p.id
         |  LEFT JOIN m$r m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${ExtensionQueries.dsCte(3)},
       |${ExtensionQueries.candCte},
       |${ExtensionQueries.jacCtes},
       |edges AS (SELECT id_a, id_b FROM (${ExtensionQueries.jacSelect(0.5)})),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |seeds AS (
       |  SELECT doc_id AS id, lang AS seed FROM documents
       |  WHERE doc_id % 5 = 0 AND lang IS NOT NULL),
       |l0 AS (
       |  SELECT d.doc_id AS id, s.seed AS lbl
       |  FROM documents d LEFT JOIN seeds s ON s.id = d.doc_id),
       |$rounds
       |SELECT l.id AS doc_id, l.lbl AS label, (s.id IS NOT NULL) AS seeded
       |FROM l$LpRounds l LEFT JOIN seeds s ON s.id = l.id
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q119: interval-overlap join, bucketed — "which user-day
  // activity spans overlap corpus-wide busy hours": spans =
  // [min hr, max hr] per (user, day); busy hours = hourly totals
  // above the global hourly average. The naive form is a range-
  // predicate join (b.hr BETWEEN h0 AND h1 — a broadcast-nested-loop
  // at scale); the Spark path EXPANDS each span into its hour buckets
  // (bounded: ≤ 24/day) and equi-joins on the hour key — the standard
  // interval-join blocking trick. The oracle runs the naive range
  // form; the equality proves the bucketed rewrite. ----

  def q119IntervalOverlap(spark: SparkSession, dir: String): DataFrame =
    intervalOverlap(events(spark, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) div 3600").as("hr")))

  /** `e` needs (user_id, hr: long). */
  private[graft] def intervalOverlap(e: DataFrame): DataFrame = {
    val hc = e.groupBy(col("hr")).agg(count(lit(1)).as("cnt"))
    val avgc = hc.agg((sum(col("cnt")).cast("double") / count(lit(1))).as("avgc"))
    val busy = hc.crossJoin(broadcast(avgc))
      .filter(col("cnt") > col("avgc")).select(col("hr"))
    val sp = e.withColumn("day", expr("hr div 24"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    sp.select(col("user_id"), col("day"), col("h0"), col("h1"),
        explode(sequence(col("h0"), col("h1"))).as("hr"))
      .join(busy, "hr")
      .groupBy(col("user_id"), col("day"), col("h0"), col("h1"))
      .agg(count(lit(1)).as("n_busy"))
      .orderBy(col("user_id"), col("day"))
  }

  val q119Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, floor(epoch(ts))::BIGINT // 3600 AS hr FROM events),
       |hc AS (SELECT hr, count(*) AS cnt FROM e GROUP BY hr),
       |busy AS (
       |  SELECT hr FROM hc,
       |    (SELECT sum(cnt)::DOUBLE / count(*) AS avgc FROM hc) t
       |  WHERE cnt > avgc),
       |sp AS (
       |  SELECT user_id, hr // 24 AS day, min(hr) AS h0, max(hr) AS h1
       |  FROM e GROUP BY user_id, hr // 24)
       |SELECT s.user_id, s.day, s.h0, s.h1, count(*) AS n_busy
       |FROM sp s JOIN busy b ON b.hr BETWEEN s.h0 AND s.h1
       |GROUP BY s.user_id, s.day, s.h0, s.h1
       |ORDER BY user_id, day""".stripMargin

  // ---- q120: CCNet perplexity bucketing — the published recipe:
  // score every document under the corpus bigram LM (q83), then per
  // LANGUAGE split at the nll terciles into head / middle / tail
  // (a global threshold would just rank languages; per-lang terciles
  // rank documents within their language). Composes LanguageModel
  // with the distributed exact-quantile operator; fence comparisons
  // on raw interpolated terciles (q74 contract). ----

  def q120PerplexityBucket(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.LanguageModel
    val d = docs(spark, dir)
    // checkpoint the scored frame: it feeds BOTH the per-lang tercile
    // computation and the final bucket join — uncheckpointed, the whole
    // bigram-LM scoring pipeline (model aggregations + model joins +
    // per-doc nll aggregation) executed once per consumer (guide §2.4).
    // One narrow (doc_id, nll, lang) row per document.
    val scored = LanguageModel.scoreDocs(d, alpha = 1.0)
      .select(col("doc_id"), col("nll"))
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
      .pin(Narrow)
    // fences snapped r8: with r4-snapped nll inputs the tercile rank
    // often lands on TIES (lo == hi) — one engine's interpolation
    // returns exactly lo while the other's lo·(1−f)+hi·f form can be
    // 1 ulp off, flipping every doc sitting ON the fence (bit us at
    // sf0.1). An r8 snap on both sides makes the fence identical.
    val terts = Quantiles.exactQuantiles(scored, "lang", "nll",
      Seq(1.0 / 3, 2.0 / 3), Seq("p33", "p66"))
      .select(col("lang"), Num.r(col("p33"), 8).as("p33"),
        Num.r(col("p66"), 8).as("p66"))
    scored.join(broadcast(terts), "lang")
      .select(col("doc_id"), col("lang"), col("nll"),
        when(col("nll") <= col("p33"), "head")
          .when(col("nll") <= col("p66"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  val q120Sql: String =
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
       |  CROSS JOIN vv),
       |nl AS (
       |  SELECT s.doc_id, d.lang, ${Num.sqlR4("-sum(lp) / count(*)")} AS nll
       |  FROM s JOIN documents d ON d.doc_id = s.doc_id
       |  GROUP BY s.doc_id, d.lang),
       |terts AS (
       |  SELECT lang, ${r8sql(s"quantile_cont(nll, ${1.0 / 3})")} AS p33,
       |    ${r8sql(s"quantile_cont(nll, ${2.0 / 3})")} AS p66
       |  FROM nl GROUP BY lang)
       |SELECT nl.doc_id, nl.lang, nl.nll,
       |  CASE WHEN nll <= p33 THEN 'head'
       |       WHEN nll <= p66 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM nl JOIN terts ON terts.lang = nl.lang
       |ORDER BY doc_id""".stripMargin

  // ---- q121: corpus datasheet — the per-source data card a corpus
  // release ships with: volume, token counts, length distribution,
  // quality mean, language mix (share of majority language + language
  // entropy), duplicate-fingerprint rate. ONE scan feeds one grouped
  // aggregation (the fingerprint distinct rides the same shuffle);
  // every number is derived from already-oracled primitives. ----

  def q121Datasheet(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("source"), col("lang"),
      col("n_chars"),
      TF.tokenCount(col("text")).as("n_toks"),
      Num.r4(ExtensionQueries.qualityScore(col("text"))).as("quality"),
      TF.fingerprint(col("text")).as("fp"))
    val perLang = d.groupBy(col("source"),
        coalesce(col("lang"), lit("(null)")).as("lang"))
      .agg(count(lit(1)).as("nl"))
    val langStats = perLang.groupBy(col("source")).agg(
      max(struct(col("nl"), col("lang"))).as("m"),
      sum(col("nl")).as("nd"),
      Num.r4(log(sum(col("nl")).cast("double")) -
        sum(col("nl").cast("double") * log(col("nl").cast("double"))) /
          sum(col("nl"))).as("lang_entropy"))
      .select(col("source"), col("m.lang").as("top_lang"),
        Num.r4(col("m.nl").cast("double") / col("nd")).as("top_lang_share"),
        col("lang_entropy"))
    val agg = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"),
      Num.r2(avg(col("n_chars"))).as("mean_chars"),
      Num.r4(avg(col("quality"))).as("mean_quality"),
      countDistinct(col("fp")).as("n_distinct"),
      Num.r4((count(lit(1)) - countDistinct(col("fp"))).cast("double") /
        count(lit(1))).as("dup_rate"))
    agg.join(langStats, "source").orderBy(col("source"))
  }

  val q121Sql: String =
    s"""WITH d AS (
       |  SELECT source, lang, n_chars,
       |    len(${TF.sqlTokens("text")}) AS n_toks,
       |    ${Num.sqlR4(ExtensionQueries.sqlQualityScore("text"))} AS quality,
       |    ${TF.sqlFingerprint("text")} AS fp
       |  FROM documents),
       |pl AS (SELECT source, coalesce(lang, '(null)') AS lang, count(*) AS nl
       |       FROM d GROUP BY source, coalesce(lang, '(null)')),
       |top AS (
       |  SELECT source, lang AS top_lang,
       |    ${Num.sqlR4("nl::DOUBLE / nd")} AS top_lang_share
       |  FROM (SELECT source, lang, nl,
       |          sum(nl) OVER (PARTITION BY source) AS nd FROM pl)
       |  QUALIFY row_number() OVER (
       |    PARTITION BY source ORDER BY nl DESC, lang DESC) = 1),
       |ent AS (
       |  SELECT source,
       |    ${Num.sqlR4("ln(sum(nl)) - sum(nl * ln(nl)) / sum(nl)")} AS lang_entropy
       |  FROM pl GROUP BY source),
       |ls AS (
       |  SELECT top.source, top.top_lang, top.top_lang_share, ent.lang_entropy
       |  FROM top JOIN ent ON ent.source = top.source),
       |ag AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |    ${Num.sqlR2("avg(n_chars)")} AS mean_chars,
       |    ${Num.sqlR4("avg(quality)")} AS mean_quality,
       |    count(DISTINCT fp) AS n_distinct,
       |    ${Num.sqlR4("(count(*) - count(DISTINCT fp))::DOUBLE / count(*)")} AS dup_rate
       |  FROM d GROUP BY source)
       |SELECT ag.source AS source, n_docs, n_tokens, mean_chars, mean_quality,
       |  n_distinct, dup_rate, top_lang, top_lang_share, lang_entropy
       |FROM ag JOIN ls ON ls.source = ag.source
       |ORDER BY source""".stripMargin

  // ---- q122: curriculum ordering — the easy→hard global training
  // order (documents ranked by LM cross-entropy, easiest first): the
  // q104 distributed two-pass rank applied to a COMPUTED difficulty
  // key instead of a stored column. The oracle is the one-reducer
  // row_number window — the equality proves the composed rank. ----

  def q122Curriculum(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.LanguageModel
    val scored = LanguageModel.scoreDocs(docs(spark, dir), alpha = 1.0)
      .select(col("doc_id"), col("nll"))
    GlobalOrder.withGlobalPos(scored, 8,
        Seq(col("nll"), col("doc_id")), "curriculum_pos")
      .select(col("doc_id"), col("nll"), col("curriculum_pos"))
      .orderBy(col("curriculum_pos"))
  }

  val q122Sql: String =
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
       |  CROSS JOIN vv),
       |nl AS (
       |  SELECT doc_id, ${Num.sqlR4("-sum(lp) / count(*)")} AS nll
       |  FROM s GROUP BY doc_id)
       |SELECT doc_id, nll,
       |  row_number() OVER (ORDER BY nll, doc_id) AS curriculum_pos
       |FROM nl ORDER BY curriculum_pos""".stripMargin

  // ---- q123: Kolmogorov–Smirnov drift — the exact numeric-
  // distribution complement to q102's PSI and q112's chi-square:
  // KS = max |F_ref(v) − F_cur(v)| over the pooled value domain, with
  // the value where the gap peaks. Exact empirical CDFs from integer
  // cumulative counts (one grouped agg + one window over DISTINCT
  // values — row-level data never enters the window); the argmax is
  // total-ordered on the snapped statistic. ----

  def q123KsDrift(spark: SparkSession, dir: String): DataFrame =
    ksDrift(docs(spark, dir)
      .withColumn("snap", when(col("doc_id") % 2 === 0, "ref").otherwise("cur")))

  /** `d` needs (snap, n_chars, text).
    *
    * CDF construction is range-partitioned: `Window.orderBy(v)` with
    * no partition key (and the empty `tot` window that fed the
    * denominators) both plan Exchange SinglePartition — bounded here
    * by the distinct-value domain, but the one 100 TB funnel this file
    * had left. Instead: range-repartition the distinct-value counts,
    * take per-partition subtotals to the driver (numPartitions longs —
    * the GlobalOrder bounded-state shape), and cumsum INSIDE each
    * range with the exclusive prefix broadcast back in. Bit-identical
    * to the single-reducer form: counts are integers, so the offset
    * addition is exact, and the final long→double division is the
    * same operation. */
  private[graft] def ksDrift(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    // The two-row result is materialized eagerly (both features in ONE
    // action — the union keeps their subtrees in the same job, as the
    // fully-lazy form did), so the scope releases both features' pinned
    // count frames before returning: a long-lived drift-monitoring
    // session that calls ksDrift on successive snapshots holds none.
    val out = Pin.scope {
      val r1 = ksFeatureLazy(d, "n_chars", col("n_chars").cast("long"))
      val r2 = ksFeatureLazy(d, "n_tokens",
        TF.tokenCount(col("text")).cast("long"))
      Pin.record(r1.unionByName(r2)
        .as[(String, Option[Double], Option[Double])]).collect().toSeq
    }
    out.toDF("feature", "ks", "at_value").orderBy(col("feature"))
  }

  /** Lazy one-row (feature, ks, at_value) aggregate for one feature,
    * over a range-partitioned count frame pinned at construction (the
    * caller owns its lifecycle — [[ksDrift]] scopes it; the plan spec
    * inspects the lazy plan). */
  private[graft] def ksFeatureLazy(d: DataFrame, name: String,
      value: org.apache.spark.sql.Column): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val counts = d.select(col("snap"), value.as("v"))
      .groupBy(col("v"))
      .agg(sum(when(col("snap") === "ref", 1L).otherwise(0L)).as("cr"),
        sum(when(col("snap") === "cur", 1L).otherwise(0L)).as("cc"))
    // the window repartitions by _pid — a balanced 8-way exchange of
    // the (already aggregated) distinct-value table, never a single
    // reducer; within a _pid group `v` is distinct, so the frame is
    // a total order
    val w = Window.partitionBy(col("_pid")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-range subtotals → exclusive prefixes (_or, _oc) plus the
    // grand totals (_tr, _tc) the CDFs divide by
    val gaps = GlobalOrder.rangeOffsets(counts, 8, Seq(col("v")),
        Seq(sum(col("cr")), sum(col("cc")))) { parts =>
      val pr = parts.map(_.getLong(1))
      val pc = parts.map(_.getLong(2))
      parts.map(_.getLong(0))
        .zip(pr.scanLeft(0L)(_ + _).zip(pc.scanLeft(0L)(_ + _)))
        .map { case (pid, (or, oc)) =>
          (pid, or, oc, pr.sum.toDouble, pc.sum.toDouble) }
        .toDF("_pid", "_or", "_oc", "_tr", "_tc")
    }
      .withColumn("fr",
        (col("_or") + sum(col("cr")).over(w)).cast("double") / col("_tr"))
      .withColumn("fc",
        (col("_oc") + sum(col("cc")).over(w)).cast("double") / col("_tc"))
      .select(col("v"), Num.r(abs(col("fr") - col("fc")), 6).as("gap"))
    gaps.agg(max(struct(col("gap"),
        (-col("v").cast("double")).as("nv"))).as("m"))
      .select(lit(name).as("feature"), col("m.gap").as("ks"),
        (-col("m.nv")).as("at_value"))
  }

  val q123Sql: String = {
    def feature(name: String, value: String) =
      s"""SELECT '$name' AS feature, m[1] AS ks, -m[2] AS at_value FROM (
         |  SELECT max([gap, -v::DOUBLE]) AS m FROM (
         |    SELECT v, ${r6sql("abs(fr - fc)")} AS gap FROM (
         |      SELECT v,
         |        sum(cr) OVER (ORDER BY v)::DOUBLE / sum(cr) OVER () AS fr,
         |        sum(cc) OVER (ORDER BY v)::DOUBLE / sum(cc) OVER () AS fc
         |      FROM (
         |        SELECT $value AS v,
         |          sum(CASE WHEN snap = 'ref' THEN 1 ELSE 0 END) AS cr,
         |          sum(CASE WHEN snap = 'cur' THEN 1 ELSE 0 END) AS cc
         |        FROM base GROUP BY $value))))""".stripMargin
    s"""WITH base AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS snap,
       |    n_chars, text FROM documents)
       |SELECT feature, ks, at_value FROM (
       |${feature("n_chars", "n_chars")}
       |UNION ALL
       |${feature("n_tokens", s"len(${TF.sqlTokens("text")})")})
       |ORDER BY feature""".stripMargin
  }

  // ---- q124: token frequency-of-frequencies spectrum — the
  // Good–Turing count-of-counts table (how many vocabulary types
  // occur exactly f times), with each frequency class's share of the
  // vocabulary and of the token mass. Hapax share (f = 1) is the
  // classic vocabulary-growth / OCR-noise QC signal. Two nested
  // grouped aggregations, both after map-side combine; the second
  // runs over the count DOMAIN (≪ vocabulary). ----

  def q124FreqSpectrum(spark: SparkSession, dir: String): DataFrame =
    freqSpectrum(docs(spark, dir))

  private[graft] def freqSpectrum(d: DataFrame): DataFrame = {
    val uni = d.select(explode(TF.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val spectrum = uni.groupBy(col("c").as("freq"))
      .agg(count(lit(1)).as("n_types"))
    val tot = spectrum.agg(sum(col("n_types")).as("v"),
      sum(col("freq") * col("n_types")).as("n"))
    spectrum.crossJoin(broadcast(tot))
      .select(col("freq"), col("n_types"),
        Num.r(col("n_types").cast("double") / col("v"), 6).as("type_share"),
        Num.r((col("freq") * col("n_types")).cast("double") / col("n"), 6)
          .as("token_share"))
      .orderBy(col("freq"))
  }

  val q124Sql: String =
    s"""WITH uni AS (
       |  SELECT t, count(*) AS c
       |  FROM (SELECT unnest(${TF.sqlTokens("text")}) AS t FROM documents)
       |  GROUP BY t),
       |sp AS (SELECT c AS freq, count(*) AS n_types FROM uni GROUP BY c),
       |tot AS (
       |  SELECT CAST(sum(n_types) AS BIGINT) AS v,
       |    CAST(sum(freq * n_types) AS BIGINT) AS n FROM sp)
       |SELECT freq, n_types,
       |  ${r6sql("n_types::DOUBLE / v")} AS type_share,
       |  ${r6sql("(freq * n_types)::DOUBLE / n")} AS token_share
       |FROM sp, tot
       |ORDER BY freq""".stripMargin

  // ---- q187: ridge regression by distributed normal equations —
  // multi-feature linear-model training in ONE aggregation pass. The
  // Gram matrix X'X and moment vector X'y are sufficient statistics:
  // every entry is a sum of integer products (quantity, discount in
  // percent points, price in whole dollars — the q115 integer-measure
  // trick), so the only distributed work is one grouped agg of exact
  // 64-bit sums with map-side partials, order-independent by
  // construction. The 3×3 ridge system (X'X + λI)β = X'y then solves
  // CLOSED-FORM by Cramer's rule as a fixed expression tree over the
  // (exactly double-representable) sums — written with the identical
  // association in both engines, so the solve is bit-equal before the
  // final r6 snap. This is how linear models train at 100 TB: the
  // model never sees a row twice, and nothing but d² partial sums
  // crosses the network (LogisticGd is the iterative complement; q108
  // the single-feature special case). λ excludes the intercept (the
  // standard convention). ----

  def q187Ridge(spark: SparkSession, dir: String): DataFrame =
    ridgeFromInts(lineitem(spark, dir).select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast("long").as("x1"),
      floor(col("l_discount") * 100 + 0.5).cast("long").as("x2"),
      floor(col("l_extendedprice") + 0.5).cast("long").as("y")))

  /** `rows` needs integer columns (g, x1, x2, y). */
  private[graft] def ridgeFromInts(rows: DataFrame): DataFrame =
    Ridge.solve(Ridge.sums(rows))

  val q187Sql: String = {
    import Ridge.det3s
    val lam = s"${Ridge.Lambda}::DOUBLE"
    val (nn, s1, s2) = ("n::DOUBLE", "s1::DOUBLE", "s2::DOUBLE")
    val (a11, a12) = (s"(s11::DOUBLE + $lam)", "s12::DOUBLE")
    val a22 = s"(s22::DOUBLE + $lam)"
    val (sy, s1y, s2y) = ("sy::DOUBLE", "s1y::DOUBLE", "s2y::DOUBLE")
    val dd = det3s(nn, s1, s2, s1, a11, a12, s2, a12, a22)
    val d0 = det3s(sy, s1, s2, s1y, a11, a12, s2y, a12, a22)
    val d1 = det3s(nn, sy, s2, s1, s1y, a12, s2, s2y, a22)
    val d2 = det3s(nn, s1, sy, s1, a11, s1y, s2, a12, s2y)
    s"""WITH r AS (
       |  SELECT l_returnflag AS g, l_quantity::BIGINT AS x1,
       |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
       |    CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
       |  FROM lineitem),
       |s AS (
       |  SELECT g, count(*) AS n,
       |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
       |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
       |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
       |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
       |    CAST(sum(x2 * y) AS BIGINT) AS s2y
       |  FROM r GROUP BY g)
       |SELECT g, n,
       |  ${Num.sqlR(s"$d0 / $dd", 6)} AS beta0,
       |  ${Num.sqlR(s"$d1 / $dd", 6)} AS beta1,
       |  ${Num.sqlR(s"$d2 / $dd", 6)} AS beta2
       |FROM s ORDER BY g""".stripMargin
  }

  /** Structurally different twin for the sf1 cross-plan gate
    * (graft.CrossPlan). q118's primary propagates labels over the
    * PPJoin prefix-filtered edge list; the twin runs the identical
    * propagation over full inverted-index edges
    * ([[graft.operators.TextDedup.jaccardPairs]]) — an independent
    * derivation of the same edge set feeding the same rounds. */
  def crossPlanAlternates: Map[String, (SparkSession, String) => DataFrame] =
    Map("q118_label_prop" -> ((s: SparkSession, dir: String) => {
      import graft.operators.{LabelProp, TextDedup}
      val d = docs(s, dir)
      val edges = TextDedup.jaccardPairs(d, n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val nodes = d.select(col("doc_id").as("id"),
        when(col("doc_id") % 5 === 0 && col("lang").isNotNull, col("lang"))
          .as("seed"))
      LabelProp.propagate(nodes, edges, LpRounds)
        .select(col("id").as("doc_id"), col("label"), col("seeded"))
        .orderBy(col("doc_id"))
    }))

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_ridge" -> (q187Ridge _),
    "q106_naive_bayes" -> (q106NaiveBayes _),
    "q107_pmi" -> (q107Pmi _),
    "q108_trend" -> (q108Trend _),
    "q109_feature_hash" -> (q109FeatureHash _),
    "q110_winsorize" -> (q110Winsorize _),
    "q111_weighted_quantile" -> (q111WeightedQuantile _),
    "q112_chi2_drift" -> (q112Chi2Drift _),
    "q113_source_overlap" -> (q113SourceOverlap _),
    "q114_skew" -> (q114Skew _),
    "q174_spearman" -> (q174Spearman _),
    "q179_mann_whitney" -> (q179MannWhitney _),
    "q115_correlation" -> (q115Correlation _),
    "q116_mad_outliers" -> (q116MadOutliers _),
    "q117_zipf" -> (q117Zipf _),
    "q118_label_prop" -> (q118LabelProp _),
    "q119_interval_overlap" -> (q119IntervalOverlap _),
    "q120_perplexity_bucket" -> (q120PerplexityBucket _),
    "q121_datasheet" -> (q121Datasheet _),
    "q122_curriculum" -> (q122Curriculum _),
    "q123_ks_drift" -> (q123KsDrift _),
    "q124_freq_spectrum" -> (q124FreqSpectrum _))

  def oracles: Map[String, String] = Map(
    "q187_ridge" -> q187Sql,
    "q106_naive_bayes" -> q106Sql,
    "q107_pmi" -> q107Sql,
    "q108_trend" -> q108Sql,
    "q109_feature_hash" -> q109Sql,
    "q110_winsorize" -> q110Sql,
    "q111_weighted_quantile" -> q111Sql,
    "q112_chi2_drift" -> q112Sql,
    "q113_source_overlap" -> q113Sql,
    "q114_skew" -> q114Sql,
    "q174_spearman" -> q174Sql,
    "q179_mann_whitney" -> q179Sql,
    "q115_correlation" -> q115Sql,
    "q116_mad_outliers" -> q116Sql,
    "q117_zipf" -> q117Sql,
    "q118_label_prop" -> q118Sql,
    "q119_interval_overlap" -> q119Sql,
    "q120_perplexity_bucket" -> q120Sql,
    "q121_datasheet" -> q121Sql,
    "q122_curriculum" -> q122Sql,
    "q123_ks_drift" -> q123Sql,
    "q124_freq_spectrum" -> q124Sql)
}
