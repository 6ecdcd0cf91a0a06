package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.{ClusterDedup, Num, TextDedup}
import graft.operators.Pin._

/** Round-2 additions: the operations a production training-data
  * pipeline layers on top of pair generation and basic analytics —
  * edit-distance verification, transitive dedup CLUSTERS (connected
  * components), deterministic sampling, PII/URL scrubbing, embedding
  * centroids — plus relational surface the round-1 inventory lacked
  * (exact quantiles, lead/lag/ntile analytics, CUBE).
  *
  * Scale notes (100 TB): every query is declarative except the
  * connected-components round loop (driver-coordinated like Pregel,
  * data movement fully distributed — see operators.ClusterDedup).
  * Levenshtein runs only inside tight blocking buckets (prefix+lang),
  * never all-pairs; sampling is hash-based so it needs no coordination
  * and no sort; centroids are one partial-aggregated shuffle keyed by
  * (cell, dim).
  */
object PipelineQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  // ---- q35: edit-distance near-dup pairs (levenshtein within
  // blocking buckets). ASCII-only guard because DuckDB's levenshtein
  // is byte-based while Spark's is codepoint-based — they agree
  // exactly on single-byte text. ----

  private val LevBlockPrefix = 16
  private val LevMaxFrac = 0.2

  def q35Levenshtein(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .filter(length(col("text")) === octet_length(col("text")))
      .select(col("doc_id"), col("lang"), col("text"),
        substring(col("text"), 1, LevBlockPrefix).as("blk"))
    // Seq-keyed join so (lang, blk) are guaranteed equi keys — an
    // expression condition mixing them with the levenshtein predicate
    // planned as a nested-loop join (measured 10×). The quadratic
    // levenshtein only ever runs inside a blocking bucket.
    val a = d.select(col("lang"), col("blk"),
      col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = d.select(col("lang"), col("blk"),
      col("doc_id").as("id_b"), col("text").as("text_b"))
    a.join(b, Seq("lang", "blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")))
      .filter(col("dist") <=
        floor(lit(LevMaxFrac) * greatest(length(col("text_a")), length(col("text_b")))))
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q35Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, text, substr(text, 1, $LevBlockPrefix) AS blk
       |  FROM documents WHERE length(text) = strlen(text))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
       |FROM d a JOIN d b
       |  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.text, b.text) <=
       |  floor($LevMaxFrac * greatest(length(a.text), length(b.text)))
       |ORDER BY id_a, id_b""".stripMargin

  // ---- q36: transitive near-dup clusters — connected components over
  // the exact-Jaccard pair list (operators.ClusterDedup); oracle is a
  // DuckDB recursive CTE computing min-reachable-id. Edges come from
  // the PREFIX-FILTERED generator — identical pairs to the all-pairs
  // form (PropertySpec pins the equivalence, boundary-τ included; q24
  // still exercises the naive form) at ~⅓ the cost, and the only
  // shape that survives corpus scale. ----

  def q36DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges =
      TextDedup.prefixJaccardPairs(docs(spark, dir), n = 3, threshold = 0.5)
    ClusterDedup.clusters(edges, "id_a", "id_b")
      .select(col("cluster_id"), col("id").as("doc_id"), col("cluster_size"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  val q36Sql: String =
    s"""WITH RECURSIVE ${ExtensionQueries.dsCte(3)},
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
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size
       |          FROM lab GROUP BY 1)
       |SELECT l.cluster_id, l.id AS doc_id, s.cluster_size
       |FROM lab l JOIN sizes s ON l.cluster_id = s.cluster_id
       |ORDER BY l.cluster_id, doc_id""".stripMargin

  // ---- q37: exact quantiles (percentile interpolation identical to
  // DuckDB's quantile_cont). At 100 TB approx_percentile (q19's
  // sketch family) is the scale path; exact percentile is the
  // verification twin. ----

  def q37Quantiles(spark: SparkSession, dir: String): DataFrame =
    // distributed exact quantiles (operators.Quantiles): interpolation
    // ≡ Spark `percentile` ≡ DuckDB quantile_cont (spec-pinned), but
    // no per-group value buffering — the built-in aggregate is a
    // single reducer per group (5 s at sf0.1, OOM at 100 TB groups)
    graft.operators.Quantiles.exactQuantiles(
      Tables.load(spark, dir, "lineitem"),
      "l_returnflag", "l_extendedprice",
      Seq(0.25, 0.5, 0.75, 0.95), Seq("p25", "p50", "p75", "p95"))
      .select(col("l_returnflag"), col("n"),
        Num.r4(col("p25")).as("p25"), Num.r4(col("p50")).as("p50"),
        Num.r4(col("p75")).as("p75"), Num.r4(col("p95")).as("p95"))
      // pin the group-bounded result before the deterministic sort:
      // the range exchange's boundary-sampling job re-executes its
      // whole child stage, and here that child is the cumulative
      // window over every distinct (group, value) row — measured as
      // the window stage running twice (2× 1.2 CPU-s at sf0.1)
      .pin(Narrow)
      .orderBy(col("l_returnflag"))

  val q37Sql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  ${Num.sqlR4("quantile_cont(l_extendedprice, 0.25)")} AS p25,
       |  ${Num.sqlR4("quantile_cont(l_extendedprice, 0.5)")} AS p50,
       |  ${Num.sqlR4("quantile_cont(l_extendedprice, 0.75)")} AS p75,
       |  ${Num.sqlR4("quantile_cont(l_extendedprice, 0.95)")} AS p95
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // ---- q38: lead/lag/ntile/percent_rank/cume_dist over per-customer
  // order sequences (full ordering key for determinism). ----

  def q38LeadLag(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .filter(col("o_custkey") % 50 === 0)
      .select(
        col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_ts"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        Num.r4(percent_rank().over(w)).as("prank"),
        Num.r4(cume_dist().over(w)).as("cdist"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q38Sql: String =
    s"""SELECT o_custkey, o_orderkey,
       |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
       |  lag(o_totalprice, 1) OVER w AS prev_price,
       |  lead(o_totalprice, 1) OVER w AS next_price,
       |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       |  ${Num.sqlR4("percent_rank() OVER w")} AS prank,
       |  ${Num.sqlR4("cume_dist() OVER w")} AS cdist
       |FROM orders
       |WHERE o_custkey % 50 = 0
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- q11d: CUBE (rollup's sibling — adds the (null, status)
  // cross-sections). ----

  def q11dCube(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("order_count"),
        // exact cents — the >=1e10 double-sum ulp class (see q11)
        Num.r2(sum(graft.operators.Money.cents(col("o_totalprice")))
          .cast("double") / 100.0).as("revenue"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("order_count"), col("revenue"))
      .orderBy(col("priority"), col("status"))

  val q11dSql: String =
    s"""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       |  coalesce(o_orderstatus, 'ALL') AS status,
       |  count(*) AS order_count,
       |  ${Num.sqlR2(s"CAST(sum(${graft.operators.Money.centsSql("o_totalprice")}) AS BIGINT)::DOUBLE / 100.0")} AS revenue
       |FROM orders
       |GROUP BY CUBE (o_orderpriority, o_orderstatus)
       |ORDER BY priority, status""".stripMargin

  // ---- q39: deterministic hash sampling — the distributed form of
  // TABLESAMPLE: a content-hash predicate needs no coordination, no
  // sort, and reproduces exactly on any cluster layout. ----

  private val SamplePct = 10

  def q39HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .withColumn("hk", TF.hash60(
        concat_ws("_", col("l_orderkey"), col("l_linenumber"))))
      .filter(col("hk") % 100 < SamplePct)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("sample_rows"),
        countDistinct(col("l_orderkey")).as("sample_orders"),
        Num.r2(sum(col("l_extendedprice"))).as("sample_revenue"))
      .orderBy(col("l_returnflag"))

  val q39Sql: String =
    s"""SELECT l_returnflag, count(*) AS sample_rows,
       |  count(DISTINCT l_orderkey) AS sample_orders,
       |  ${Num.sqlR2("sum(l_extendedprice)")} AS sample_revenue
       |FROM lineitem
       |WHERE ${TF.sqlHash60("l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR")} % 100 < $SamplePct
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // ---- q40: PII / URL / number scrubbing (C4-style cleanup):
  // sequential regexp_replace passes + per-language scrub accounting.
  // Conservative regex syntax so the Java and RE2 dialects agree. ----

  // single source of truth for the scrub regexes lives with the
  // composed pipeline (operators.CurationPipeline)
  private[queries] val EmailRe = graft.operators.CurationPipeline.EmailRe
  private[queries] val UrlRe = graft.operators.CurationPipeline.UrlRe
  // entity scrubbing (anonymize a known token class) — the pattern the
  // synthetic corpus actually exercises; email/url stay as the
  // realistic PII passes
  private[queries] val EntityRe = graft.operators.CurationPipeline.EntityRe

  def q40Scrub(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          UrlRe, "<URL>"),
        EntityRe, "<ENT>")
    docs(spark, dir)
      .select(col("lang"), col("text"), scrubbed.as("clean"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(length(col("text")).cast("long")).as("chars_before"),
        sum(length(col("clean")).cast("long")).as("chars_after"),
        sum(size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("long")).as("emails_found"),
        sum(size(regexp_extract_all(col("text"), lit(UrlRe), lit(0)))
          .cast("long")).as("urls_found"),
        sum(size(regexp_extract_all(col("text"), lit(EntityRe), lit(0)))
          .cast("long")).as("entities_found"))
      .orderBy(col("lang"))
  }

  val q40Sql: String =
    s"""SELECT lang, count(*) AS doc_count,
       |  CAST(sum(length(text)) AS BIGINT) AS chars_before,
       |  CAST(sum(length(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g'),
       |    '$EntityRe', '<ENT>', 'g'))) AS BIGINT) AS chars_after,
       |  CAST(sum(len(regexp_extract_all(text, '$EmailRe'))) AS BIGINT) AS emails_found,
       |  CAST(sum(len(regexp_extract_all(text, '$UrlRe'))) AS BIGINT) AS urls_found,
       |  CAST(sum(len(regexp_extract_all(text, '$EntityRe'))) AS BIGINT) AS entities_found
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---- q41: per-cell embedding centroids — the "training" half of
  // IVF and the reduce step of k-means: one partial-aggregated
  // shuffle keyed by (cell, dim). Output one row per (cell, dim) so
  // the oracle compares scalars, not arrays. ----

  private val CentroidCells = 8

  def q41Centroids(spark: SparkSession, dir: String): DataFrame =
    embs(spark, dir)
      .select((col("vec_id") % CentroidCells).as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), (col("pos") + 1).as("dim"))
      .agg(count(lit(1)).as("n"),
        Num.r4(avg(col("x").cast("double"))).as("centroid"))
      .orderBy(col("cell"), col("dim"))

  val q41Sql: String =
    s"""SELECT vec_id % $CentroidCells AS cell, g.i AS dim,
       |  count(*) AS n,
       |  ${Num.sqlR4("avg(embedding[g.i]::DOUBLE)")} AS centroid
       |FROM embeddings,
       |     LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) g
       |GROUP BY 1, 2
       |ORDER BY cell, dim""".stripMargin

  // ---- q168: cluster-quality metrics over the q41 cells — within-
  // cluster inertia (avg squared distance to own centroid) and the
  // separation to the nearest OTHER centroid, the compactness/
  // separation pair behind Davies-Bouldin-style cluster diagnostics.
  // Everything runs in the LONG (cell, dim) form: the per-vector
  // distance join is against the BROADCAST centroid table (cells ×
  // dims rows — model-sized at any corpus scale), the centroid×
  // centroid separation table is (cells² × dims) — trivial; the only
  // corpus-sized work is one posexplode + partial-aggregated sums.
  // Centroids are r6-snapped before reuse so partial-agg order in the
  // mean can't leak into the distances. ----

  def q168ClusterQuality(spark: SparkSession, dir: String): DataFrame = {
    val long = embs(spark, dir)
      .select((col("vec_id") % CentroidCells).as("cell"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("cell"), col("vec_id"), col("pos"),
        col("x").cast("double").as("x"))
    val cent = long.groupBy(col("cell"), col("pos"))
      .agg(Num.r(avg(col("x")), 6).as("c"))
    val inertia = long
      .join(broadcast(cent), Seq("cell", "pos"))
      .groupBy(col("cell"), col("vec_id"))
      .agg(sum(pow(col("x") - col("c"), 2)).as("sqd"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), Num.r4(avg(col("sqd"))).as("inertia"))
    val centB = cent.select(col("cell").as("cell_b"), col("pos"),
      col("c").as("cb"))
    val sep = cent.join(centB, Seq("pos"))
      .filter(col("cell") =!= col("cell_b"))
      .groupBy(col("cell"), col("cell_b"))
      .agg(sum(pow(col("c") - col("cb"), 2)).as("d2"))
      .groupBy(col("cell"))
      .agg(Num.r4(min(col("d2"))).as("min_sep_sq"))
    inertia.join(sep, "cell")
      .select(col("cell"), col("n_vecs"), col("inertia"), col("min_sep_sq"))
      .orderBy(col("cell"))
  }

  val q168Sql: String =
    s"""WITH long AS (
       |  SELECT vec_id % $CentroidCells AS cell, vec_id, g.i AS pos,
       |    embedding[g.i]::DOUBLE AS x
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) g),
       |cent AS (
       |  SELECT cell, pos, ${Num.sqlR("avg(x)", 6)} AS c
       |  FROM long GROUP BY 1, 2),
       |pv AS (
       |  SELECT l.cell, l.vec_id, sum(pow(l.x - c.c, 2)) AS sqd
       |  FROM long l JOIN cent c ON l.cell = c.cell AND l.pos = c.pos
       |  GROUP BY 1, 2),
       |inert AS (
       |  SELECT cell, count(*) AS n_vecs,
       |    ${Num.sqlR4("avg(sqd)")} AS inertia
       |  FROM pv GROUP BY 1),
       |sep AS (
       |  SELECT a.cell, ${Num.sqlR4("min(d2)")} AS min_sep_sq FROM (
       |    SELECT a.cell, b.cell AS cell_b, sum(pow(a.c - b.c, 2)) AS d2
       |    FROM cent a JOIN cent b ON a.pos = b.pos AND a.cell <> b.cell
       |    GROUP BY 1, 2) a
       |  GROUP BY 1)
       |SELECT i.cell, i.n_vecs, i.inertia, s.min_sep_sq
       |FROM inert i JOIN sep s ON i.cell = s.cell
       |ORDER BY i.cell""".stripMargin

  // ---- q42: window FRAMES — running totals (rows unbounded), moving
  // average (rows 2 preceding), and a 7-day RANGE frame on the day
  // number. Frames are order-deterministic, so double accumulation
  // matches the oracle bit-for-bit after the Num snap. ----

  def q42WindowFrames(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = (unix_timestamp(col("o_orderdate")) / 86400L).cast("long")
    val base = Tables.load(spark, dir, "orders")
      .filter(col("o_custkey") % 50 === 0)
      .withColumn("day_num", day)
    val order = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val moving = order.rowsBetween(-2, Window.currentRow)
    val byDay = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day_num")).rangeBetween(-7, 0)
    base.select(
      col("o_custkey"), col("o_orderkey"),
      Num.r2(sum(col("o_totalprice")).over(running)).as("running_total"),
      Num.r2(avg(col("o_totalprice")).over(moving)).as("moving_avg3"),
      Num.r2(sum(col("o_totalprice")).over(byDay)).as("weekly_total"),
      count(lit(1)).over(byDay).as("weekly_orders"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q42Sql: String =
    s"""SELECT o_custkey, o_orderkey,
       |  ${Num.sqlR2("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_total,
       |  ${Num.sqlR2("avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)")} AS moving_avg3,
       |  ${Num.sqlR2("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)")} AS weekly_total,
       |  count(*) OVER (PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS weekly_orders
       |FROM orders
       |WHERE o_custkey % 50 = 0
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- q43: date/time scalar functions. DuckDB dayofweek is 0=Sunday
  // vs Spark's 1=Sunday (offset in the oracle); everything else maps
  // one-to-one. ----

  def q43DateTime(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(col("o_custkey") % 100 === 0)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        unix_timestamp(date_trunc("month", col("o_orderdate")))
          .as("month_start_ts"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_95"),
        unix_timestamp(last_day(col("o_orderdate")).cast("timestamp"))
          .as("month_end_ts"))
      .orderBy(col("o_orderkey"))

  val q43Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mon,
      |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
      |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
      |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      |  CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start_ts,
      |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95,
      |  CAST(floor(epoch(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP))) AS BIGINT) AS month_end_ts
      |FROM orders
      |WHERE o_custkey % 100 = 0
      |ORDER BY o_orderkey""".stripMargin

  // ---- q44: string scalar functions (§2.11) — each output column one
  // function, mapped to its DuckDB twin. ----

  def q44Strings(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % 100 === 0)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        lower(col("c_name")).as("name_lower"),
        length(col("c_name")).cast("long").as("name_len"),
        substring(col("c_name"), 10, 8).as("name_digits"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("key_padded"),
        regexp_replace(col("c_name"), "0+", "0").as("name_squeezed"),
        instr(col("c_name"), "#").cast("long").as("hash_pos"),
        reverse(col("c_mktsegment")).as("seg_rev"),
        concat_ws("|", col("c_mktsegment"), col("c_custkey")).as("seg_key"),
        element_at(split(col("c_name"), "#"), 2).as("name_num_part"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_trans"))
      .orderBy(col("c_custkey"))

  val q44Sql: String =
    """SELECT c_custkey,
      |  upper(c_mktsegment) AS seg_upper,
      |  lower(c_name) AS name_lower,
      |  CAST(length(c_name) AS BIGINT) AS name_len,
      |  substr(c_name, 10, 8) AS name_digits,
      |  lpad(c_custkey::VARCHAR, 8, '0') AS key_padded,
      |  regexp_replace(c_name, '0+', '0', 'g') AS name_squeezed,
      |  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
      |  reverse(c_mktsegment) AS seg_rev,
      |  c_mktsegment || '|' || c_custkey::VARCHAR AS seg_key,
      |  string_split(c_name, '#')[2] AS name_num_part,
      |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_trans
      |FROM customer
      |WHERE c_custkey % 100 = 0
      |ORDER BY c_custkey""".stripMargin

  // ---- q45: one k-means training step (operators.KMeans) — argmin
  // assignment under the deterministic init (first k vectors by id)
  // followed by the per-cell mean update, both halves expressed in the
  // oracle: a cross join + QUALIFY argmin, then the (cell, dim)
  // average. Distances are Num.r4-rounded with a cell tie-break in
  // BOTH engines so near-ties cannot flip on float ulps. ----

  private val KmK = 8

  def q45KmeansStep(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.KMeans
    val emb = embs(spark, dir)
    val init = KMeans.initCentroids(emb, KmK)
    KMeans.assign(emb, init)
      .select(col("cell"), posexplode(col("v").cast("array<double>"))
        .as(Seq("dim0", "x")))
      .groupBy(col("cell").cast("long").as("cell"),
        (col("dim0") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_members"),
        Num.r4(avg(col("x"))).as("centroid"))
      .orderBy(col("cell"), col("dim"))
  }

  val q45Sql: String = {
    val sqdist = "list_sum(list_transform(list_zip(v.e, c.cv), " +
      "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    s"""WITH c AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |    list_transform(embedding, x -> x::DOUBLE) AS cv
       |  FROM embeddings
       |  QUALIFY row_number() OVER (ORDER BY vec_id) <= $KmK),
       |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |      FROM embeddings),
       |d AS (
       |  SELECT v.vec_id, c.cell, v.e, ${Num.sqlR4(sqdist)} AS dist
       |  FROM v CROSS JOIN c),
       |a AS (
       |  SELECT vec_id, cell, e FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cell) AS rn FROM d)
       |  WHERE rn = 1)
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(g.i AS BIGINT) AS dim,
       |  count(*) AS n_members,
       |  ${Num.sqlR4("avg(e[g.i])")} AS centroid
       |FROM a, LATERAL (SELECT unnest(range(1, len(a.e) + 1)) AS i) g
       |GROUP BY 1, 2
       |ORDER BY cell, dim""".stripMargin
  }

  // ---- q37b: the sketch twin of q37 — approx_percentile (KLL-style
  // quantile sketch, the 100 TB path: bounded memory, mergeable
  // partials). DuckDB's approx sketch differs, so the ESTIMATE is not
  // oracle-matchable — but its rank-error bound is: the output carries
  // the exact twin (hash-checked) plus `within_bound`, asserting the
  // estimate lies between the exact 0.499 and 0.501 quantiles (rank
  // tolerance 1e-3 = 10× the sketch's ε = 1/accuracy = 1e-4). A
  // sketch regression flips the boolean and fails the hash match. ----

  def q37bApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    // exact rank bounds via the DISTRIBUTED quantile operator (q37's
    // path) — the built-in `percentile` buffers every group value in
    // one reducer, and three of those made q37b the slowest query in
    // the r10 slope sweep (3.9 s at sf0.1; the sketch it showcases
    // took ~0.5 s of that). The two 3-row aggregates join broadcast.
    val exact = graft.operators.Quantiles.exactQuantiles(
      li, "l_returnflag", "l_extendedprice",
      Seq(0.499, 0.5, 0.501), Seq("p_lo", "p50_exact", "p_hi"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)")
        .as("p50_approx"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"), col("n"),
        Num.r4(col("p50_exact")).as("p50_exact"),
        (col("p50_approx") >= col("p_lo") &&
          col("p50_approx") <= col("p_hi")).as("within_bound"))
      // pin before the sort — the range exchange's sampling job would
      // re-execute the exact-quantile window chain (the q37 finding)
      .pin(Narrow)
      .orderBy(col("l_returnflag"))
  }

  val q37bSql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  ${Num.sqlR4("quantile_cont(l_extendedprice, 0.5)")} AS p50_exact,
       |  TRUE AS within_bound
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // ---- q46: RANGE JOIN — purchase attribution: every view in the
  // hour before each purchase (not just the latest — that's the as-of
  // join q32). Equi key (user_id) + range predicate; Spark plans the
  // equi part as the join key and evaluates the range inside the
  // join, so no row explosion beyond true matches. ----

  def q46RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
    purchases.join(views,
      Seq("user_id")).where(
        col("vts") <= col("pts") &&
        col("vts") >= col("pts") - expr("INTERVAL 1 HOUR"))
      .groupBy(col("user_id"), unix_timestamp(col("pts")).as("purchase_ts"))
      .agg(count(lit(1)).as("views_in_window"),
        unix_timestamp(min(col("vts"))).as("first_view_ts"),
        unix_timestamp(max(col("vts"))).as("last_view_ts"))
      .orderBy(col("user_id"), col("purchase_ts"))
  }

  val q46Sql: String =
    """SELECT p.user_id AS user_id,
      |  CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts,
      |  count(*) AS views_in_window,
      |  CAST(floor(epoch(min(v.ts))) AS BIGINT) AS first_view_ts,
      |  CAST(floor(epoch(max(v.ts))) AS BIGINT) AS last_view_ts
      |FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id
      | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
      |GROUP BY p.user_id, CAST(floor(epoch(p.ts)) AS BIGINT)
      |ORDER BY p.user_id, purchase_ts""".stripMargin

  // ---- q47: math scalar functions (§2.11) — IEEE-exact ops raw
  // (abs/sqrt/floor/ceil/sign/mod), libm-dependent ops (ln/exp/pow)
  // behind the Num snap. ----

  def q47Math(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 500 === 0)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - lit(0.05)).as("abs_delta"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        signum(col("l_discount") - lit(0.05)).cast("long").as("disc_sign"),
        (col("l_orderkey") % 7).as("key_mod7"),
        Num.r4(log(col("l_extendedprice"))).as("ln_price"),
        Num.r4(exp(col("l_discount"))).as("exp_disc"),
        Num.r4(pow(col("l_quantity"), 2)).as("qty_sq"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"),
        least(col("l_tax"), col("l_discount")).as("min_rate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q47Sql: String =
    s"""SELECT l_orderkey, l_linenumber,
       |  abs(l_discount - 0.05) AS abs_delta,
       |  sqrt(l_quantity) AS sqrt_qty,
       |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       |  CAST(sign(l_discount - 0.05) AS BIGINT) AS disc_sign,
       |  l_orderkey % 7 AS key_mod7,
       |  ${Num.sqlR4("ln(l_extendedprice)")} AS ln_price,
       |  ${Num.sqlR4("exp(l_discount)")} AS exp_disc,
       |  ${Num.sqlR4("pow(l_quantity, 2)")} AS qty_sq,
       |  greatest(l_tax, l_discount) AS max_rate,
       |  least(l_tax, l_discount) AS min_rate
       |FROM lineitem
       |WHERE l_orderkey % 500 = 0
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- q48: array functions (§2.8) over the token arrays — each
  // column one function with its DuckDB list twin. ----

  def q48Arrays(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), TF.tokens(col("text")).as("ts"))
      .select(
        col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(array_distinct(col("ts"))).cast("long").as("n_distinct"),
        array_contains(col("ts"), "spark").as("has_spark"),
        element_at(sort_array(col("ts")), 1).as("first_sorted"),
        element_at(sort_array(col("ts"), asc = false), 1).as("last_sorted"),
        concat_ws(" ", slice(col("ts"), 1, 5)).as("head5"),
        element_at(col("ts"), -1).as("last_token"),
        size(array_intersect(array_distinct(col("ts")),
          typedLit(Seq("spark", "data", "key", "row"))).cast("array<string>"))
          .cast("long").as("marker_hits"),
        Num.r4(aggregate(col("ts"), lit(0L), (acc, t) => acc + length(t))
          .cast("double") / size(col("ts"))).as("mean_len"))
      .orderBy(col("doc_id"))

  val q48Sql: String = {
    val ts = TF.sqlTokens("text")
    s"""SELECT doc_id,
       |  CAST(len($ts) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct($ts)) AS BIGINT) AS n_distinct,
       |  list_contains($ts, 'spark') AS has_spark,
       |  list_sort($ts)[1] AS first_sorted,
       |  list_reverse_sort($ts)[1] AS last_sorted,
       |  array_to_string(list_slice($ts, 1, 5), ' ') AS head5,
       |  $ts[-1] AS last_token,
       |  CAST(len(list_intersect(list_distinct($ts),
       |    ['spark', 'data', 'key', 'row'])) AS BIGINT) AS marker_hits,
       |  ${Num.sqlR4(s"list_sum(list_transform($ts, t -> length(t)))::DOUBLE / len($ts)")} AS mean_len
       |FROM documents
       |WHERE doc_id % 10 = 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q49: TF-IDF — per-document top term by tf·idf with
  // corpus-level document frequencies (the feature-weighting op of a
  // text pipeline). idf = ln((N+1)/(df+1)), smoothed. Ranking uses the
  // ROUNDED score with a term tie-break in BOTH engines so libm last-
  // ulp differences in ln() cannot flip the argmax. ----

  def q49Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
    // corpus stats over ALL docs; per-doc tf only for the output subset
    val dfreq = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = d.count()
    val tf = toks.filter(col("doc_id") % 10 === 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf", Num.r4(col("tf") *
        log((lit(n) + 1.0) / (col("df") + 1.0))))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"))
  }

  val q49Sql: String = {
    val toks = s"SELECT doc_id, unnest(${TF.sqlTokens("text")}) AS term FROM documents"
    s"""WITH toks AS ($toks),
       |dfreq AS (
       |  SELECT term, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE doc_id % 10 = 0 GROUP BY doc_id, term),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       |    ${Num.sqlR4("tf.tf * ln(((SELECT count(*) FROM documents) + 1.0) / (dfreq.df + 1.0))")} AS tfidf
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term)
       |SELECT doc_id, term AS top_term, tf, df, tfidf
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY tfidf DESC, term) AS rn FROM scored)
       |WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q50: corpus n-gram frequency table — the top-k trigram stats
  // a data-quality / contamination check reads. Fully deterministic
  // ordering (count desc, shingle asc). ----

  def q50NgramFreq(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(explode(TF.shinglesFromTokens(col("toks"), 3)).as("trigram"))
      .groupBy(col("trigram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("trigram"))
      .limit(20)

  val q50Sql: String =
    s"""SELECT trigram, count(*) AS freq
       |FROM (SELECT unnest(${TF.sqlShingles("text", 3)}) AS trigram
       |      FROM documents)
       |GROUP BY trigram
       |ORDER BY freq DESC, trigram
       |LIMIT 20""".stripMargin

  // ---- q51: stratified sampling — per-stratum rates (the rebalancing
  // op of a training mix: upsample rare languages, downsample dominant
  // ones), still content-hash deterministic like q39. ----

  private val StratRates: Map[String, Int] = // per-mille
    Map("en" -> 50, "zh" -> 500, "de" -> 250)
  private val StratDefault = 100

  def q51StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = StratRates.foldLeft(lit(StratDefault)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    docs(spark, dir)
      .withColumn("hk", TF.hash60(col("doc_id").cast("string")) % 1000)
      .filter(col("hk") < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("sampled_docs"),
        countDistinct(col("source")).as("sources"))
      .orderBy(col("lang"))
  }

  val q51Sql: String = {
    val rateCase = StratRates.foldLeft(StratDefault.toString) {
      case (acc, (lang, r)) => s"CASE WHEN lang = '$lang' THEN $r ELSE $acc END"
    }
    s"""SELECT lang, count(*) AS sampled_docs,
       |  count(DISTINCT source) AS sources
       |FROM documents
       |WHERE ${TF.sqlHash60("doc_id::VARCHAR")} % 1000 < $rateCase
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---- q52: NULL semantics — manufactured nullable columns exercise
  // count(col) vs count(*), null-safe equality, coalesce/nvl2/nullif,
  // aggregates ignoring nulls, and a NULL group key. ----

  def q52NullSemantics(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      // o_totalprice -> NULL for ~1/7 of rows, priority -> NULL for '3-MEDIUM'
      .withColumn("np", when(col("o_orderkey") % 7 =!= 0, col("o_totalprice")))
      .withColumn("gp", nullif(col("o_orderpriority"), lit("3-MEDIUM")))
      .groupBy(col("gp"))
      .agg(
        count(lit(1)).as("rows_total"),
        count(col("np")).as("rows_priced"),
        // exact cents: these sums are ~6.4e11 dollars at sf10 — the
        // >=1e10 double-sum ulp class (round-13 sf10 sweep finding)
        Num.r2(sum(graft.operators.Money.cents(col("np")))
          .cast("double") / 100.0).as("priced_sum"),
        Num.r2(avg(col("np"))).as("priced_avg"),
        sum(when(col("np") <=> lit(null), 1L).otherwise(0L)).as("null_safe_nulls"),
        Num.r2(sum(coalesce(graft.operators.Money.cents(col("np")), lit(0L)))
          .cast("double") / 100.0).as("sum_coalesced"),
        sum(when(col("np").isNotNull, 1L).otherwise(0L)).as("via_nvl2"))
      .orderBy(col("gp").asc_nulls_first)

  val q52Sql: String =
    s"""SELECT nullif(o_orderpriority, '3-MEDIUM') AS gp,
       |  count(*) AS rows_total,
       |  count(np) AS rows_priced,
       |  ${Num.sqlR2("CAST(sum(CAST(floor(np * 100 + 0.5) AS BIGINT)) AS BIGINT)::DOUBLE / 100.0")} AS priced_sum,
       |  ${Num.sqlR2("avg(np)")} AS priced_avg,
       |  CAST(sum(CASE WHEN np IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_safe_nulls,
       |  ${Num.sqlR2("CAST(sum(coalesce(CAST(floor(np * 100 + 0.5) AS BIGINT), 0)) AS BIGINT)::DOUBLE / 100.0")} AS sum_coalesced,
       |  CAST(sum(CASE WHEN np IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS via_nvl2
       |FROM (SELECT *,
       |        CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END AS np
       |      FROM orders)
       |GROUP BY 1
       |ORDER BY gp ASC NULLS FIRST""".stripMargin

  // ---- q53: document CHUNKING — overlapping token windows (size 40,
  // stride 30), the training-sample preparation step. Token array
  // materialized below the explode (the round-1 lesson); chunk
  // identity pinned by the cross-engine hash. ----

  private val ChunkSize = 40
  private val ChunkStride = 30

  // Chunk generation is the custom `TokenWindows` Generator (UDTF
  // tier — plans/Generators.scala): one pass over the token array,
  // streaming (idx, tokens, text) rows out of GenerateExec with no
  // intermediate start-index/slice arrays. Equivalence with the
  // compositional posexplode(sequence)+slice form is spec-pinned
  // (GeneratorsSpec), and this query keeps it behind the DuckDB
  // oracle gate.
  def q53Chunking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    docs(spark, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        GraftColumnBridge.column(graft.plans.TokenWindows(
          GraftColumnBridge.expression(col("toks")), ChunkSize, ChunkStride)))
      .toDF("doc_id", "chunk_idx", "chunk_tokens", "chunk_text")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
        TF.hash32(col("chunk_text")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val q53Sql: String = {
    val ts = TF.sqlTokens("text")
    s"""WITH d AS (
       |  SELECT doc_id, $ts AS toks FROM documents WHERE doc_id % 10 = 0),
       |st AS (
       |  SELECT doc_id, toks, g.i AS start,
       |    CAST((g.i - 1) / $ChunkStride AS BIGINT) AS chunk_idx
       |  FROM d, LATERAL (SELECT unnest(range(1, greatest(len(toks), 1) + 1,
       |    $ChunkStride)) AS i) g)
       |SELECT doc_id, chunk_idx,
       |  CAST(len(list_slice(toks, start, start + ${ChunkSize - 1})) AS BIGINT)
       |    AS chunk_tokens,
       |  ${TF.sqlHash32(s"array_to_string(list_slice(toks, start, start + ${ChunkSize - 1}), ' ')")}
       |    AS chunk_hash
       |FROM st
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ---- q54: greedy sequential PACKING — documents assigned to fixed-
  // token-budget bins by per-language running totals (the sample-
  // packing step before batch assembly). Pure window cumsum: one
  // shuffle on lang, no sequential driver loop. ----

  private val PackBudget = 2048

  def q54Packing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .select(col("lang"), col("doc_id"), TF.tokenCount(col("text")).as("tc"))
      .withColumn("before", coalesce(sum(col("tc")).over(w), lit(0L)))
      .withColumn("bin", floor(col("before").cast("double") / PackBudget)
        .cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("docs_in_bin"),
        sum(col("tc")).cast("long").as("bin_tokens"),
        Num.r4(sum(col("tc")).cast("double") / PackBudget).as("fill_ratio"))
      .orderBy(col("lang"), col("bin"))
  }

  val q54Sql: String = {
    val tc = TF.sqlTokenCount("text")
    s"""WITH d AS (
       |  SELECT lang, doc_id, $tc AS tc FROM documents),
       |b AS (
       |  SELECT lang, doc_id, tc,
       |    CAST(floor(coalesce(sum(tc) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
       |      / $PackBudget) AS BIGINT) AS bin
       |  FROM d)
       |SELECT lang, bin, count(*) AS docs_in_bin,
       |  CAST(sum(tc) AS BIGINT) AS bin_tokens,
       |  ${Num.sqlR4(s"sum(tc)::DOUBLE / $PackBudget")} AS fill_ratio
       |FROM b
       |GROUP BY lang, bin
       |ORDER BY lang, bin""".stripMargin
  }

  /** Structurally different twin for the sf1 cross-plan gate
    * (graft.CrossPlan). q36's primary is prefix-filtered PPJoin edges
    * into the hybrid large/small-star CC (with the local union-find
    * finish); the twin feeds full inverted-index edges
    * ([[TextDedup.jaccardPairs]]) into PURE distributed star rounds
    * (`localFinishEdges = 0`) — different candidate generation AND a
    * different component algorithm end to end. */
  def crossPlanAlternates: Map[String, (SparkSession, String) => DataFrame] =
    Map("q36_dedup_clusters" -> ((s: SparkSession, dir: String) => {
      val edges = TextDedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.5)
      val cc = ClusterDedup.connectedComponents(edges, "id_a", "id_b",
        localFinishEdges = 0L)
      val sizes = cc.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "cluster_id")
        .select(col("cluster_id"), col("id").as("doc_id"), col("cluster_size"))
        .orderBy(col("cluster_id"), col("doc_id"))
    }))

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_levenshtein" -> (q35Levenshtein _),
    "q36_dedup_clusters" -> (q36DedupClusters _),
    "q37_quantiles" -> (q37Quantiles _),
    "q38_lead_lag" -> (q38LeadLag _),
    "q11d_cube" -> (q11dCube _),
    "q39_hash_sample" -> (q39HashSample _),
    "q40_scrub" -> (q40Scrub _),
    "q41_centroids" -> (q41Centroids _),
    "q168_cluster_quality" -> (q168ClusterQuality _),
    "q42_window_frames" -> (q42WindowFrames _),
    "q43_datetime" -> (q43DateTime _),
    "q44_strings" -> (q44Strings _),
    "q45_kmeans_step" -> (q45KmeansStep _),
    "q37b_approx_quantiles" -> (q37bApproxQuantiles _),
    "q46_range_join" -> (q46RangeJoin _),
    "q47_math" -> (q47Math _),
    "q48_arrays" -> (q48Arrays _),
    "q49_tfidf" -> (q49Tfidf _),
    "q50_ngram_freq" -> (q50NgramFreq _),
    "q51_stratified_sample" -> (q51StratifiedSample _),
    "q52_null_semantics" -> (q52NullSemantics _),
    "q53_chunking" -> (q53Chunking _),
    "q54_packing" -> (q54Packing _))

  def oracles: Map[String, String] = Map(
    "q35_levenshtein" -> q35Sql,
    "q36_dedup_clusters" -> q36Sql,
    "q37_quantiles" -> q37Sql,
    "q37b_approx_quantiles" -> q37bSql,
    "q38_lead_lag" -> q38Sql,
    "q11d_cube" -> q11dSql,
    "q39_hash_sample" -> q39Sql,
    "q40_scrub" -> q40Sql,
    "q41_centroids" -> q41Sql,
    "q168_cluster_quality" -> q168Sql,
    "q42_window_frames" -> q42Sql,
    "q43_datetime" -> q43Sql,
    "q44_strings" -> q44Sql,
    "q45_kmeans_step" -> q45Sql,
    "q46_range_join" -> q46Sql,
    "q47_math" -> q47Sql,
    "q48_arrays" -> q48Sql,
    "q49_tfidf" -> q49Sql,
    "q50_ngram_freq" -> q50Sql,
    "q51_stratified_sample" -> q51Sql,
    "q52_null_semantics" -> q52Sql,
    "q53_chunking" -> q53Sql,
    "q54_packing" -> q54Sql)
}
