package graft.queries

import graft.operators.Pin._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.{HeavyHitters, Merge, Num, ProductQuantizer, Profiler, Similarity}

/** Round-5 continuation: lakehouse-maintenance and corpus-hygiene
  * operators — cross-document boilerplate detection, MERGE INTO
  * (upsert), SCD2 history construction, sketch-guided exact top-k,
  * product-quantized ANN, and single-pass data profiling.
  *
  * Scale notes (100 TB): boilerplate is two shuffles keyed by
  * (source, span) — the same keying both times, so Catalyst reuses the
  * partitioning; MERGE is one anti-join with the CDC batch broadcast;
  * SCD2 is two windows over one (key, ts) sort; heavy-hitters ships
  * fixed-size sketch partials instead of shuffling every distinct
  * term; PQ scans a 32×-compressed code table and only re-ranks
  * candidates against full vectors; the profiler reads the table
  * exactly once for every column's stats.
  */
object LakehouseQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  // ---- q64: cross-document boilerplate detection (the C4/CCNet
  // template-removal rule, span form — this corpus has no line
  // structure, so the unit is a word 5-gram): a span is boilerplate
  // when it appears in ≥2 documents of the same source; report each
  // document's boilerplate-span fraction. ----

  private val BoilerN = 5
  private val BoilerMinDf = 2

  def q64Boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateFractions(spark, dir, broadcastDict = true)

  /** `broadcastDict = true` broadcasts the boilerplate-span dictionary
    * (35 of 25k spans at sf0.01) — right while the df≥MinDf span set
    * fits an executor. The set grows with the corpus (every template
    * shared by ≥2 docs of a source joins it), so at corpus scale set
    * it false → sort-merge on (source, g) with AQE skew handling,
    * identical rows (equivalence-pinned in LakehouseSpec). */
  private[graft] def boilerplateFractions(spark: SparkSession, dir: String,
      broadcastDict: Boolean): DataFrame = {
    // localCheckpoint: the exploded span table feeds BOTH the span-
    // frequency aggregation and the per-doc probe join — without the
    // pin each consumer re-ran the tokenize + shingle pipeline (the
    // regex split was the dominant per-task cost of the whole query,
    // paid twice; guide §2.4 / the q71 span-table shape).
    val t = docs(spark, dir)
      .select(col("doc_id"), col("source"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(TF.shinglesFromTokens(col("toks"), BoilerN))).as("g"))
      .pin(Narrow)
    // Only the span-frequency table needs the (source, g) shuffle;
    // the per-doc scoring is a LEFT join against just the BOILERPLATE
    // spans — only spans shared across docs of a source — then one
    // doc-keyed aggregation. Same broadcast-dictionary shape as q55;
    // the all-spans self-join form measured 1.9 s vs 0.9 s at sf0.1.
    // spans are per-doc distinct, so count(*) = document frequency
    val bp = t.groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerMinDf)
      .select(col("source"), col("g"), lit(1L).as("is_bp"))
    val dict = if (broadcastDict) broadcast(bp) else bp
    t.join(dict, Seq("source", "g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("spans"),
        sum(coalesce(col("is_bp"), lit(0L))).as("bp_spans"))
      .withColumn("bp_frac",
        Num.r4(col("bp_spans").cast("double") / col("spans")))
      .orderBy(col("doc_id"))
  }

  val q64Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    unnest(list_distinct(${TF.sqlShingles("text", BoilerN)})) AS g
       |  FROM documents),
       |c AS (SELECT source, g, count(*) AS df FROM t GROUP BY source, g)
       |SELECT t.doc_id, count(*) AS spans,
       |  CAST(sum(CASE WHEN c.df >= $BoilerMinDf THEN 1 ELSE 0 END) AS BIGINT)
       |    AS bp_spans,
       |  ${Num.sqlR4(s"sum(CASE WHEN c.df >= $BoilerMinDf THEN 1 ELSE 0 END)::DOUBLE / count(*)")}
       |    AS bp_frac
       |FROM t JOIN c ON t.source = c.source AND t.g = c.g
       |GROUP BY t.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q65: MERGE INTO (upsert) — a CDC batch of updates (10% of
  // orders repriced, status 'U') and inserts (new keys offset past the
  // key space, status 'N') merged into the orders snapshot; verified
  // via the per-status aggregate of the merged table. ----

  def q65MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val updates = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", Num.r2(col("o_totalprice") * 1.1))
    val inserts = orders.filter(col("o_orderkey") % 1000 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderstatus", lit("N"))
    val merged = Merge.upsert(orders, updates.unionByName(inserts), Seq("o_orderkey"))
    merged.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("orders"),
        // exact cents — the >=1e10 double-sum ulp class (see q52/q11)
        Num.r2(sum(graft.operators.Money.cents(col("o_totalprice")))
          .cast("double") / 100.0).as("revenue"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  val q65Sql: String =
    s"""WITH upd AS (
       |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
       |    ${Num.sqlR2("o_totalprice * 1.1")} AS o_totalprice,
       |    o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 10 = 0),
       |ins AS (
       |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
       |    'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 1000 = 0),
       |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
       |merged AS (
       |  SELECT * FROM orders o
       |  WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.o_orderkey = o.o_orderkey)
       |  UNION ALL SELECT * FROM ch)
       |SELECT o_orderstatus, count(*) AS orders,
       |  ${Num.sqlR2("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)::DOUBLE / 100.0")} AS revenue,
       |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
       |FROM merged GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  // ---- q66: SCD Type-2 history — per user, consecutive equal event
  // types collapse into one versioned state row with its validity
  // interval ([effective_from, effective_to), open-ended for the
  // current state). ----

  def q66Scd2(spark: SparkSession, dir: String): DataFrame = {
    val log = Tables.load(spark, dir, "events").filter(col("user_id") % 25 === 0)
    Merge.scd2(log, "user_id", "event_type", "ts", "event_id")
      .select(col("user_id"), col("version"), col("state"),
        unix_timestamp(col("effective_from")).as("eff_from"),
        unix_timestamp(col("effective_to")).as("eff_to"))
      .orderBy(col("user_id"), col("version"))
  }

  val q66Sql: String =
    """WITH f AS (SELECT * FROM events WHERE user_id % 25 = 0),
      |c AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_state
      |  FROM f),
      |ch AS (SELECT * FROM c WHERE prev_state IS DISTINCT FROM event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  event_type AS state,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS eff_from,
      |  CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS eff_to
      |FROM ch
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  // ---- q67: sketch-guided exact top-k terms — pass 1 builds a
  // Misra–Gries summary (fixed-size partials, no keyed shuffle),
  // pass 2 recounts ONLY the sketch's candidates exactly. Exact
  // whenever the true top-k clear the N/(cap+1) bound (true on the
  // driver corpus, where cap 256 ≫ the vocabulary); on a corpus too
  // flat to certify — e.g. the r17 bijected scale dirs, whose
  // per-copy vocabularies keep term counts constant while N grows —
  // exactTopK answers via its direct-aggregation fallback, still
  // exact and deterministic. The MG bound itself is property-tested
  // in LakehouseSpec. ----

  private val TopTerms = 20
  private val MgCap = 256

  def q67HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("tok"))
    HeavyHitters.exactTopK(toks, col("tok"), TopTerms, MgCap)
      .orderBy(col("cnt").desc, col("item"))
  }

  val q67Sql: String =
    s"""SELECT tok AS item, count(*) AS cnt
       |FROM (SELECT unnest(${TF.sqlTokens("text")}) AS tok FROM documents)
       |GROUP BY tok
       |ORDER BY cnt DESC, item
       |LIMIT $TopTerms""".stripMargin

  // ---- q68: IVF-PQ ANN — FULLY oracle-checked (recall +
  // reconstruction-error bounds additionally in
  // ProductQuantizerSpec): the corpus is scanned as an (id, 8-code,
  // cell) table — 32× smaller than the float vectors — queries probe
  // their nprobe nearest coarse cells (q29b's deterministic √n-derived
  // quantizer), candidates within the probed cells ranked by ADC
  // table lookup, then re-ranked exactly against full vectors. This
  // is Faiss's IndexIVFPQ layout — a FLAT PQ scan is O(corpus) per
  // query, hence O(n²) total with a fixed query fraction (measured
  // 22.9× time for 10× data before the coarse stage; the flat form
  // survives as ProductQuantizerSpec's exact-ADC recall baseline).
  // Same (query, k) contract as q27/q29/q29b for cross-checking.
  // Oracle-expressible because every stage is deterministic: codebooks
  // are subslices of the first PqK vectors by id, coarse cells
  // re-derive exactly as q29b's (r4-snapped cosine, ties on cell
  // DESC), the c·c−2·x·c score is a fixed-order multiply-add chain
  // (DuckDB's list_sum folds left-to-right bit-identically to the
  // JVM/codegen loops — the q29 parity fact), the per-pair ADC sum is
  // re-derived with list_sum(list(d ORDER BY m)) to preserve the
  // m-order addition chain, and every argmin/top-N tie breaks on an
  // id. ----

  private val PqM = 8
  private val PqK = 16
  private val PqCandN = 64
  private val PqNprobe = 4
  private val TopK = 5
  private val QueryMod = 50

  def q68PqAdc(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val cb = ProductQuantizer.train(e, PqM, PqK)
    ProductQuantizer.adcTopK(e, cb, col("vec_id") % QueryMod === 0, TopK,
      candN = PqCandN, nprobe = PqNprobe)
      .orderBy(col("query_id"), col("rank"))
  }

  val q68Sql: String = {
    val sub = 64 / PqM
    def dotZip(a: String, b: String): String =
      s"list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2]))"
    // coarse quantizer: identical derivation to q29b (the shared
    // integer bit-length nlist rule; centroids = first nlist vectors
    // by id; r4-snapped cell cosine; ties on cell DESC)
    val nlistSql = Similarity.deriveNlistSql("embeddings")
    def cosOf(a: String, b: String): String = Num.sqlR4(
      s"list_sum(list_transform(list_zip($a.e, $b.e), x -> x[1] * x[2]))" +
        s" / (sqrt(list_sum(list_transform($a.e, x -> x * x)))" +
        s" * sqrt(list_sum(list_transform($b.e, x -> x * x))))")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e
       |  FROM v ORDER BY vec_id LIMIT $PqK),
       |cw AS (
       |  SELECT mm.m, cent.code,
       |    list_slice(cent.e, mm.m * $sub + 1, mm.m * $sub + $sub) AS c,
       |    list_sum(list_transform(
       |      list_slice(cent.e, mm.m * $sub + 1, mm.m * $sub + $sub),
       |      x -> x * x)) AS cc
       |  FROM cent, range($PqM) mm(m)),
       |subv AS (
       |  SELECT v.vec_id, mm.m,
       |    list_slice(v.e, mm.m * $sub + 1, mm.m * $sub + $sub) AS x
       |  FROM v, range($PqM) mm(m)),
       |enc AS (
       |  SELECT s.vec_id, s.m, cw.code,
       |    cw.cc - 2.0 * ${dotZip("s.x", "cw.c")} AS d
       |  FROM subv s JOIN cw ON cw.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, code FROM enc
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, m
       |                             ORDER BY d, code) = 1),
       |qtab AS (
       |  SELECT vec_id AS query_id, m, code, d FROM enc
       |  WHERE vec_id % $QueryMod = 0),
       |coarse AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
       |  FROM v ORDER BY vec_id LIMIT $nlistSql),
       |cellcos AS (
       |  SELECT v.vec_id, coarse.cell, ${cosOf("v", "coarse")} AS ccos
       |  FROM v, coarse),
       |idx AS (
       |  SELECT vec_id, cell FROM cellcos
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY ccos DESC, cell DESC) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cell FROM cellcos
       |  WHERE vec_id % $QueryMod = 0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY ccos DESC, cell DESC) <= $PqNprobe),
       |pairs AS (
       |  SELECT p.query_id, i.vec_id AS nbr_id
       |  FROM probes p JOIN idx i ON i.cell = p.cell
       |    AND i.vec_id <> p.query_id),
       |adc AS (
       |  SELECT pr.query_id, pr.nbr_id,
       |    ${Num.sqlR4("list_sum(list(t.d ORDER BY t.m))")} AS adc
       |  FROM pairs pr
       |    JOIN codes c ON c.vec_id = pr.nbr_id
       |    JOIN qtab t ON t.query_id = pr.query_id
       |      AND t.m = c.m AND t.code = c.code
       |  GROUP BY pr.query_id, pr.nbr_id),
       |cand AS (
       |  SELECT query_id, nbr_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |                             ORDER BY adc, nbr_id) <= $PqCandN),
       |scored AS (
       |  SELECT c.query_id, c.nbr_id,
       |    ${Num.sqlR4(dotZip("q.e", "n.e") +
          s" / (sqrt(list_sum(list_transform(q.e, x -> x * x)))" +
          s" * sqrt(list_sum(list_transform(n.e, x -> x * x))))")} AS cos
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

  // ---- q69: single-pass column profiling of the orders snapshot —
  // one aggregation job computes every column's null/distinct/min/max
  // stats (numeric, epoch, and lexicographic views in typed columns). ----

  import graft.operators.Profiler.{ColSpec, KNum, KStr, KTs}

  private val OrdersProfile = Seq(
    ColSpec("o_orderkey", KNum), ColSpec("o_custkey", KNum),
    ColSpec("o_orderstatus", KStr), ColSpec("o_totalprice", KNum),
    ColSpec("o_orderdate", KTs), ColSpec("o_orderpriority", KStr))

  def q69Profile(spark: SparkSession, dir: String): DataFrame =
    Profiler.profile(Tables.load(spark, dir, "orders"), OrdersProfile)
      .orderBy(col("col_name"))

  val q69Sql: String = {
    def one(c: ColSpec): String = {
      val (minNum, maxNum) = c.kind match {
        case KNum => (s"min(${c.name})::DOUBLE", s"max(${c.name})::DOUBLE")
        case KTs => (s"floor(epoch(min(${c.name})))::DOUBLE",
          s"floor(epoch(max(${c.name})))::DOUBLE")
        case KStr => ("NULL::DOUBLE", "NULL::DOUBLE")
      }
      val (minStr, maxStr) = c.kind match {
        case KStr => (s"min(${c.name})", s"max(${c.name})")
        case _ => ("NULL::VARCHAR", "NULL::VARCHAR")
      }
      s"""SELECT '${c.name}' AS col_name, count(${c.name}) AS n,
         |  count(*) - count(${c.name}) AS nulls,
         |  count(DISTINCT ${c.name}) AS n_distinct,
         |  $minNum AS min_num, $maxNum AS max_num,
         |  $minStr AS min_str, $maxStr AS max_str
         |FROM orders""".stripMargin
    }
    OrdersProfile.map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---- q70: cohort retention — the classic product-analytics matrix:
  // users grouped by first-active day, each later day's activity as a
  // fraction of the cohort. Day buckets are integer epoch-day
  // arithmetic (identical in any engine — no calendar functions on the
  // hash path). Two shuffles: per-user first-day, then the
  // (cohort, offset) rollup; the cohort-size denominator rides the
  // same partitioning as a window over the rollup (no extra join). ----

  def q70Cohort(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val matrix = ev.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
    val w = Window.partitionBy(col("cohort_day"))
    matrix
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("active_users"))).over(w))
      .withColumn("retention",
        Num.r4(col("active_users").cast("double") / col("cohort_size")))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val q70Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, floor(epoch(ts))::BIGINT // 86400 AS day FROM events),
       |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
       |a AS (
       |  SELECT cohort_day, day - cohort_day AS day_offset,
       |    count(DISTINCT e.user_id) AS active_users
       |  FROM e JOIN f ON e.user_id = f.user_id
       |  GROUP BY cohort_day, day - cohort_day),
       |s AS (
       |  SELECT cohort_day, day_offset, active_users,
       |    max(CASE WHEN day_offset = 0 THEN active_users END)
       |      OVER (PARTITION BY cohort_day) AS cohort_size
       |  FROM a)
       |SELECT cohort_day, day_offset, active_users, cohort_size,
       |  ${Num.sqlR4("active_users::DOUBLE / cohort_size")} AS retention
       |FROM s
       |ORDER BY cohort_day, day_offset""".stripMargin

  // ---- q71: verbatim duplicated-substring spans — the "exact
  // substring dedup" signal (suffix-array dedup à la Lee et al.,
  // "Deduplicating Training Data...", re-expressed relationally):
  // positions whose L-gram occurs in ≥2 documents are "duplicated";
  // maximal runs of consecutive duplicated positions are the verbatim
  // spans a dedup pass would cut. Gaps-and-islands over positions
  // (island = pos − row_number), doc-keyed windows. The df≥2 filter
  // doubles as the q24-style inverted-index prune: singleton shingles
  // never join back. ----

  private val SpanL = 8

  def q71DupSpans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint: the tokenize+explode pipeline feeds BOTH the
    // dup-gram aggregation and the semi-join probe side — without the
    // checkpoint each branch re-runs it (same double-evaluation
    // ClusterDedup hit; measured ~25% of query time here).
    val t = docs(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(TF.shinglesFromTokens(col("toks"), SpanL)).as(Seq("pos", "g")))
      .pin(Narrow)
    val dup = t.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("g"))
    val marked = t.join(dup, Seq("g"), "left_semi")
    val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("isl", col("pos") - row_number().over(wIsl))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("p1") - col("p0") + SpanL).as("dup_tokens"))
      .orderBy(col("doc_id"))
  }

  val q71Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, j AS pos, gs[j + 1] AS g
       |  FROM (SELECT doc_id, gs, unnest(range(0, len(gs))) AS j
       |        FROM (SELECT doc_id, ${TF.sqlShingles("text", SpanL)} AS gs
       |              FROM documents))),
       |dup AS (
       |  SELECT g FROM (
       |    SELECT g, count(DISTINCT doc_id) AS df FROM t GROUP BY g)
       |  WHERE df >= 2),
       |d AS (SELECT doc_id, pos FROM t WHERE g IN (SELECT g FROM dup)),
       |i AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM d),
       |s AS (
       |  SELECT doc_id, isl, min(pos) AS p0, max(pos) AS p1
       |  FROM i GROUP BY doc_id, isl)
       |SELECT doc_id, count(*) AS dup_spans,
       |  CAST(sum(p1 - p0 + $SpanL) AS BIGINT) AS dup_tokens
       |FROM s GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q151: duplicated-span REMOVAL — the "apply" step of q71
  // (Lee et al. 2022 remove the duplicated substrings, not the
  // documents): every token covered by a cross-document duplicated
  // L-gram island is cut, the survivors re-join into the cleaned
  // text. Same dup-gram detection pipeline as q71 (localCheckpoint
  // against branch re-execution); coverage expansion is an explode of
  // per-span position ranges (bounded by span length), the cut is a
  // (doc, pos)-keyed anti join, and reassembly is the q92
  // ordered-collect convention — all doc-keyed shuffles. ----

  def q151DedupApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks")).pin(Wide)
    val tok = base
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val t = base
      .select(col("doc_id"),
        posexplode(TF.shinglesFromTokens(col("toks"), SpanL)).as(Seq("pos", "g")))
      .pin(Narrow)
    val dup = t.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("g"))
    val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = t.join(dup, Seq("g"), "left_semi")
      .withColumn("isl", col("pos") - row_number().over(wIsl))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("p0"), col("p1") + lit(SpanL - 1))).as("pos"))
      .distinct()
    val keptAgg = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
    tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val q151Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, ${TF.sqlTokens("text")} AS ts FROM documents),
       |tok AS (
       |  SELECT doc_id, j AS pos, ts[j + 1] AS tok
       |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts))) AS j FROM b)),
       |t AS (
       |  SELECT doc_id, j AS pos, gs[j + 1] AS g
       |  FROM (SELECT doc_id, gs, unnest(range(0, len(gs))) AS j
       |        FROM (SELECT doc_id, ${TF.sqlShingles("text", SpanL)} AS gs
       |              FROM documents))),
       |dup AS (
       |  SELECT g FROM (
       |    SELECT g, count(DISTINCT doc_id) AS df FROM t GROUP BY g)
       |  WHERE df >= 2),
       |d AS (SELECT doc_id, pos FROM t WHERE g IN (SELECT g FROM dup)),
       |i AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM d),
       |s AS (
       |  SELECT doc_id, isl, min(pos) AS p0, max(pos) AS p1
       |  FROM i GROUP BY doc_id, isl),
       |cov AS (
       |  SELECT DISTINCT doc_id, unnest(range(p0, p1 + $SpanL)) AS pos FROM s),
       |kept AS (
       |  SELECT tok.doc_id, tok.pos, tok.tok FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM cov
       |                    WHERE cov.doc_id = tok.doc_id AND cov.pos = tok.pos)),
       |ka AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id),
       |tot AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
       |  FROM tok GROUP BY doc_id)
       |SELECT tot.doc_id, tot.n_tokens,
       |  coalesce(ka.n_kept, 0) AS n_kept,
       |  tot.n_tokens - coalesce(ka.n_kept, 0) AS n_removed,
       |  coalesce(ka.clean_text, '') AS clean_text
       |FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  // ---- q72: bottom-k uniform sampling — the EXACT-size counterpart
  // of the hash-threshold samplers (q39 expected-size, q51 stratified):
  // per group, the k items with the smallest independent content hash
  // form a uniform without-replacement sample of exactly k, with no
  // coordination and no scan of group sizes. The hash is the "random
  // tape", so the sample reproduces on any cluster layout; the
  // bounded TopKByScore aggregation prunes to k on the map side, so
  // the shuffle carries ≤ k rows per group per task (vs the window
  // form, which sorts every row of the group). hash32, not hash60:
  // the score rides a double and 2^60 exceeds its 53-bit mantissa. ----

  private val SampleK = 3

  def q72BottomkSample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), col("doc_id"),
        TF.hash32(concat(col("doc_id").cast("string"), lit("#smp"))).as("h"))
      .groupBy(col("lang"))
      .agg(graft.operators.Sampling
        .topKByScore(col("doc_id"), -col("h").cast("double"), SampleK).as("smp"))
      .select(col("lang"), posexplode(col("smp")).as(Seq("pos", "s")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("doc_id"))
      .orderBy(col("lang"), col("rank"))

  val q72Sql: String =
    s"""SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id
       |FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ${TF.sqlHash32("doc_id::VARCHAR || '#smp'")}, doc_id) AS rank
       |  FROM documents)
       |WHERE rank <= $SampleK
       |ORDER BY lang, rank""".stripMargin

  // ---- q73: fixed-width histogram (distribution profiling, the
  // binned complement of q69's min/max and q37's quantiles): order
  // totals bucketed at 50k per status. Explicit floor arithmetic, not
  // width_bucket() — identical IEEE ops in any engine. ----

  private val HistWidth = 50000.0
  private val HistMax = 9

  def q73Histogram(spark: SparkSession, dir: String): DataFrame =
    Profiler.histogram(Tables.load(spark, dir, "orders"),
      "o_totalprice", HistWidth, HistMax, Seq("o_orderstatus"))

  val q73Sql: String =
    s"""SELECT o_orderstatus, bucket, count(*) AS cnt
       |FROM (SELECT o_orderstatus,
       |        CAST(least(floor(o_totalprice / $HistWidth), $HistMax) AS BIGINT)
       |          AS bucket
       |      FROM orders)
       |GROUP BY o_orderstatus, bucket
       |ORDER BY o_orderstatus, bucket""".stripMargin

  // ---- q74: IQR outlier detection (Tukey fences — the standard
  // data-quality rule): per order priority, flag orders above
  // q3 + 1.5·IQR. Exact percentiles via the DISTRIBUTED quantile
  // operator — bit-identical to Spark's `percentile` (QuantilesSpec)
  // whose interpolation q37 proved ≡ DuckDB quantile_cont, without
  // the built-in's per-group value buffering in one reducer (the
  // anti-pattern the r10 slope gate caught in q37b). The fence is the
  // same double arithmetic in both engines, so the comparison is NOT
  // rounded — rounding could itself flip a boundary row. Group stats
  // broadcast back; one scan + one tiny join. ----

  def q74IqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val fences = graft.operators.Quantiles.exactQuantiles(
      orders, "o_orderpriority", "o_totalprice",
      Seq(0.25, 0.75), Seq("q1", "q3"))
      .withColumn("fence", col("q3") + (col("q3") - col("q1")) * 1.5)
    orders.join(broadcast(fences), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("orders"),
        sum(when(col("o_totalprice") > col("fence"), 1L).otherwise(0L))
          .as("outliers"),
        Num.r2(first(col("fence"))).as("fence_r"))
      .withColumn("outlier_frac",
        Num.r4(col("outliers").cast("double") / col("orders")))
      .orderBy(col("o_orderpriority"))
  }

  val q74Sql: String =
    s"""WITH f AS (
       |  SELECT o_orderpriority,
       |    quantile_cont(o_totalprice, 0.25) AS q1,
       |    quantile_cont(o_totalprice, 0.75) AS q3
       |  FROM orders GROUP BY o_orderpriority),
       |ff AS (SELECT o_orderpriority, q3 + (q3 - q1) * 1.5 AS fence FROM f)
       |SELECT o.o_orderpriority, count(*) AS orders,
       |  CAST(sum(CASE WHEN o.o_totalprice > ff.fence THEN 1 ELSE 0 END)
       |    AS BIGINT) AS outliers,
       |  ${Num.sqlR2("any_value(ff.fence)")} AS fence_r,
       |  ${Num.sqlR4("sum(CASE WHEN o.o_totalprice > ff.fence THEN 1 ELSE 0 END)::DOUBLE / count(*)")}
       |    AS outlier_frac
       |FROM orders o JOIN ff ON o.o_orderpriority = ff.o_orderpriority
       |GROUP BY o.o_orderpriority
       |ORDER BY o.o_orderpriority""".stripMargin

  // ---- q75: time-series densification (gap filling) — resample a
  // sparse per-hour event series onto the full hour grid with
  // zero-filled buckets, then a rolling window over the DENSE series
  // (rolling stats over a sparse series silently skip empty buckets —
  // densify-first is the correct order). The grid is generated
  // (sequence × distinct keys), never scanned: time-range × key
  // cardinality, independent of fact volume. ----

  def q75Densify(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("h"))
    val counts = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val grid = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
      .crossJoin(ev.select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-2, Window.currentRow)
    grid.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("avg3h", Num.r2(avg(col("cnt")).over(w)))
      .orderBy(col("event_type"), col("h"))
  }

  val q75Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS h FROM events),
       |c AS (SELECT event_type, h, count(*) AS cnt FROM e GROUP BY event_type, h),
       |g AS (
       |  SELECT t.event_type, gs.h
       |  FROM (SELECT DISTINCT event_type FROM e) t
       |  CROSS JOIN (
       |    SELECT unnest(generate_series((SELECT min(h) FROM e),
       |                                  (SELECT max(h) FROM e))) AS h) gs),
       |d AS (
       |  SELECT g.event_type, g.h, coalesce(c.cnt, 0) AS cnt
       |  FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h)
       |SELECT event_type, h, cnt,
       |  ${Num.sqlR2("avg(cnt) OVER (PARTITION BY event_type ORDER BY h ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)")}
       |    AS avg3h
       |FROM d
       |ORDER BY event_type, h""".stripMargin

  // ---- q76: semantic dedup, cluster-scoped (SemDeDup, Abbas et al.
  // 2023): assign embeddings to coarse cells (deterministic centroids,
  // shared with Similarity.ivfTopK), then find near-duplicate pairs
  // ONLY within a cell — the O(n²) pair scan becomes Σ O(|cell|²).
  // The cell COUNT derives from the corpus size (one cell per
  // SemTargetCell vectors, floor 16), so cells stay ~constant-sized
  // as the corpus grows and Σ|cell|² stays ≈ n·SemTargetCell — linear,
  // not n²/const. The cell join shuffles by cell key only; the q28
  // all-pairs form is this query's correctness ceiling. ----

  private val SemTargetCell = 100
  private val SemTau = 0.35

  /** Cells for an n-vector corpus: ⌈n / SemTargetCell⌉, floor 16. */
  private[graft] def semCellCount(n: Long): Int =
    math.max(16L, (n + SemTargetCell - 1) / SemTargetCell).toInt

  def q76SemDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.plans.VectorFunctions.vec_cosine
    val emb = embs(spark, dir)
    // corpus size → cell count: one count() scan. Because nCells GROWS
    // with the corpus, the centroids go into a broadcast DataFrame and
    // assignment is a join + struct-max argmax — embedding them as
    // plan literals (ivfCellArr, fine for ivfTopK's constant nlist=16)
    // would blow codegen past method limits as the plan grew with n.
    // Honest cost note: flat IVF assignment is n·nCells = n²/100
    // cosines; within SemDeDup that is the assignment stage's known
    // price (the paper's faiss index pays it approximately) and the
    // escalation path is hierarchical two-level assignment
    // (n·2√nCells), same cell semantics, before true web scale.
    val nCells = semCellCount(emb.count())
    val centDf = broadcast(Similarity.ivfCentroids(emb, nCells).toSeq
      .toDF("cell", "cv"))
    val assigned = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      .join(centDf)
      .withColumn("cos", Num.r4(vec_cosine(col("v"), col("cv"))))
      .groupBy(col("id"))
      .agg(max(struct(col("cos"), col("cell"))).as("m"), first(col("v")).as("v"))
      .select(col("id"), col("v"), col("m.cell").as("cell"))
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("cos", Num.r4(vec_cosine(col("a.v"), col("b.v"))))
      .filter(col("cos") >= SemTau)
      .select(col("a.cell").as("cell"), col("a.id").as("id_a"),
        col("b.id").as("id_b"), col("cos"))
      .orderBy(col("cell"), col("id_a"), col("id_b"))
  }

  val q76Sql: String = {
    val dot = "list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2]))"
    val norm = (t: String) => s"sqrt(list_sum(list_transform($t.e, x -> x * x)))"
    val pairCos = Num.sqlR4(s"$dot / (${norm("a")} * ${norm("b")})")
    val cDot = "list_sum(list_transform(list_zip(v.e, c.e), x -> x[1] * x[2]))"
    val cCos = Num.sqlR4(s"$cDot / (${norm("v")} * ${norm("c")})")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |c AS (
       |  SELECT cell, e FROM (
       |    SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell, e,
       |           count(*) OVER () AS n
       |    FROM v)
       |  WHERE cell < greatest(16, ceil(n / $SemTargetCell.0))),
       |assigned AS (
       |  SELECT v.vec_id, v.e, c.cell
       |  FROM v CROSS JOIN c
       |  QUALIFY row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY $cCos DESC, c.cell DESC) = 1)
       |SELECT a.cell AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
       |  $pairCos AS cos
       |FROM assigned a JOIN assigned b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE $pairCos >= $SemTau
       |ORDER BY a.cell, id_a, id_b""".stripMargin
  }

  // ---- q77: weighted sampling without replacement (Efraimidis–
  // Spirakis A-ES): key = u^(1/w) with u uniform from the content-hash
  // tape; the top-k keys are a weighted sample — here weight = doc
  // length, the "sample long documents more" training-mix knob.
  // Computed in log space (ln(u)/w, monotone in u^(1/w)) and snapped
  // at 1e-8 (ln is libm — the q47 convention; 1e-4 would collide keys
  // into tie-break order and silently unweight the sample). One
  // narrow pass + a top-k — coordination-free like every sampler
  // here. ----

  private val WSampleK = 10

  def q77WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (TF.hash32(concat(col("doc_id").cast("string"), lit("#w"))) + 1)
      .cast("double") / 4294967296.0d
    docs(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        Num.r(log(u) / col("n_chars"), 8).as("k"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(WSampleK)
  }

  val q77Sql: String =
    s"""SELECT doc_id, lang, n_chars,
       |  ${Num.sqlR(s"ln((${TF.sqlHash32("doc_id::VARCHAR || '#w'")} + 1) / 4294967296.0) / n_chars", 8)} AS k
       |FROM documents
       |WHERE n_chars > 0
       |ORDER BY k DESC, doc_id
       |LIMIT $WSampleK""".stripMargin

  // ---- q78: BPE pair statistics — the inner aggregation of tokenizer
  // training (operators.Bpe learns merges by iterating exactly this):
  // adjacent-pair corpus frequencies, ranked as the trainer ranks them
  // (count desc, pair asc = the deterministic merge order). ----

  def q78BpePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.pairCounts(
      docs(spark, dir).select(TF.tokens(col("text")).as("toks")))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(20)

  val q78Sql: String =
    s"""SELECT toks[j] AS a, toks[j + 1] AS b, count(*) AS cnt
       |FROM (SELECT toks, unnest(range(1, len(toks))) AS j
       |      FROM (SELECT ${TF.sqlTokens("text")} AS toks FROM documents)
       |      WHERE len(toks) >= 2)
       |GROUP BY a, b
       |ORDER BY cnt DESC, a, b
       |LIMIT 20""".stripMargin

  // ---- q79: triangle counts over the embedding near-dup graph —
  // graph analytics beyond connected components (ClusterDedup): the
  // cluster-density QC signal. Edges = q28's cosine pairs (canonical
  // id_a < id_b orientation ⇒ each triangle enumerated once). ----

  def q79Triangles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(
      graft.operators.Similarity.cosinePairsBlocked(embs(spark, dir), SemTau)
        .select(col("id_a"), col("id_b")))
      .orderBy(col("tri_cnt").desc, col("node"))
      .limit(10)

  val q79Sql: String = {
    val dot = "list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2]))"
    val norm = (t: String) => s"sqrt(list_sum(list_transform($t.e, x -> x * x)))"
    val pairCos = Num.sqlR4(s"$dot / (${norm("a")} * ${norm("b")})")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |           FROM embeddings),
       |edges AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id
       |  WHERE $pairCos >= $SemTau),
       |tri AS (
       |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e1.id_b = e2.id_a
       |  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
       |SELECT node, count(*) AS tri_cnt
       |FROM (SELECT unnest([a, b, c]) AS node FROM tri)
       |GROUP BY node
       |ORDER BY tri_cnt DESC, node
       |LIMIT 10""".stripMargin
  }

  // ---- q80: per-group z-score standardization — the feature-
  // engineering normalization step (and q74's per-row sibling): group
  // stats broadcast back, per-row standardized value, tail rows
  // |z| ≥ 1.5 reported. The FILTER runs on the snapped z (both
  // engines agree on the snapped value; filtering the raw double
  // could flip a boundary row on a 1e-12 engine difference). ----

  private val ZTail = 1.5

  def q80Zscore(spark: SparkSession, dir: String): DataFrame = {
    val stats = docs(spark, dir).groupBy(col("lang"))
      .agg(avg(col("n_chars")).as("m"), stddev(col("n_chars")).as("sd"))
    docs(spark, dir)
      .join(broadcast(stats), Seq("lang"))
      .withColumn("z", Num.r2((col("n_chars") - col("m")) / col("sd")))
      .filter(abs(col("z")) >= ZTail)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("z"))
      .orderBy(col("doc_id"))
  }

  val q80Sql: String =
    s"""WITH s AS (
       |  SELECT lang, avg(n_chars) AS m, stddev(n_chars) AS sd
       |  FROM documents GROUP BY lang)
       |SELECT doc_id, d.lang AS lang, n_chars,
       |  ${Num.sqlR2("(n_chars - s.m) / s.sd")} AS z
       |FROM documents d JOIN s ON d.lang = s.lang
       |WHERE abs(${Num.sqlR2("(n_chars - s.m) / s.sd")}) >= $ZTail
       |ORDER BY doc_id""".stripMargin

  // ---- q81: MULTI-iteration k-means training, oracle-checked end to
  // end (q45 is the single step): 3 assignment+update rounds, then a
  // final assignment for membership counts. Cross-engine equality
  // round over round holds because each round's means are Num.r4-
  // snapped BEFORE they become the next round's centroid literals
  // (operators.KMeans's determinism contract) — both engines then
  // compute round N+1 from IDENTICAL centroid values with identical
  // arithmetic. The DuckDB twin unrolls the loop as generated CTE
  // pairs. ----

  private val KmIters = 3
  private val KmTrainK = 8

  def q81KmeansTrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.KMeans
    val emb = embs(spark, dir)
    var centroids = KMeans.initCentroids(emb, KmTrainK)
    // update (means only), not step: step's inertia collect is a
    // second full assignment pass per round and this loop discards it
    for (_ <- 1 to KmIters)
      centroids = KMeans.update(emb, centroids)
    val counts = KMeans.assign(emb, centroids)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_members"))
    val model = centroids.zipWithIndex.flatMap { case (cv, cell) =>
      cv.zipWithIndex.map { case (x, d) => (cell.toLong, (d + 1).toLong, x) }
    }.toSeq
    import spark.implicits._
    model.toDF("cell", "dim", "centroid")
      .join(counts, Seq("cell"))
      .select(col("cell"), col("dim"), col("centroid"), col("n_members"))
      .orderBy(col("cell"), col("dim"))
  }

  val q81Sql: String = {
    val sqdist = "list_sum(list_transform(list_zip(v.e, c.cv), " +
      "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    // one assignment + update round: centroids c{i-1} → assignment
    // a{i} → snapped means m{i} → centroids c{i} (empty cells carry)
    def round(i: Int): String =
      s"""d$i AS (
         |  SELECT v.vec_id, c.cell, v.e, ${Num.sqlR4(sqdist)} AS dist
         |  FROM v CROSS JOIN c${i - 1} c),
         |a$i AS (
         |  SELECT vec_id, cell, e FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cell) AS rn FROM d$i)
         |  WHERE rn = 1),
         |m$i AS (
         |  SELECT cell, g.i AS dim, ${Num.sqlR4("avg(e[g.i])")} AS m
         |  FROM a$i, LATERAL (SELECT unnest(range(1, len(a$i.e) + 1)) AS i) g
         |  GROUP BY cell, g.i),
         |c$i AS (
         |  SELECT cell, list(m ORDER BY dim) AS cv FROM m$i GROUP BY cell
         |  UNION ALL
         |  SELECT c.cell, c.cv FROM c${i - 1} c
         |  WHERE c.cell NOT IN (SELECT cell FROM m$i))""".stripMargin
    val rounds = (1 to KmIters).map(round).mkString(",\n")
    s"""WITH c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |    list_transform(embedding, x -> x::DOUBLE) AS cv
       |  FROM embeddings
       |  QUALIFY row_number() OVER (ORDER BY vec_id) <= $KmTrainK),
       |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |      FROM embeddings),
       |$rounds,
       |dF AS (
       |  SELECT v.vec_id, c.cell, ${Num.sqlR4(sqdist)} AS dist
       |  FROM v CROSS JOIN c$KmIters c),
       |aF AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cell) AS rn FROM dF)
       |  WHERE rn = 1),
       |n AS (SELECT cell, count(*) AS n_members FROM aF GROUP BY cell)
       |SELECT CAST(c.cell AS BIGINT) AS cell, CAST(g.i AS BIGINT) AS dim,
       |  c.cv[g.i] AS centroid, n.n_members AS n_members
       |FROM c$KmIters c
       |JOIN n ON c.cell = n.cell,
       |LATERAL (SELECT unnest(range(1, len(c.cv) + 1)) AS i) g
       |ORDER BY cell, dim""".stripMargin
  }

  // ---- q171: snapshot reconciliation (table diff) — the "what
  // changed between yesterday's and today's load" audit: added /
  // removed / changed / identical row counts from ONE full-outer
  // key join of the two snapshots' (key, fingerprint) projections.
  // The fingerprint is the cross-engine md5-prefix hash over
  // CANONICAL column renderings (cents as BIGINT, dates as epoch
  // seconds — never raw double/timestamp casts, whose string forms
  // are engine-specific). Snapshots are deterministic variants of
  // `orders`: A drops keys %103=0, B drops %101=0 and bumps the
  // price on %97=0 — so all four diff classes are non-empty. At
  // scale this is one shuffle on the key with map-side-combined
  // counts; the fingerprint collapses row width to (key, 8 bytes)
  // before the join. ----

  def q171TableDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => TFn}
    val base = Tables.load(spark, dir, "orders")
    def fingerprinted(d: DataFrame): DataFrame =
      d.select(col("o_orderkey").as("key"),
        TFn.hash60(concat_ws("|",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long"),
          unix_timestamp(col("o_orderdate")),
          col("o_orderpriority"))).as("fp"))
    val a = fingerprinted(base.filter(col("o_orderkey") % 103 =!= 0))
    val b = fingerprinted(
      base.filter(col("o_orderkey") % 101 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice"))))
    a.select(col("key"), col("fp").as("fp_a"))
      .join(b.select(col("key"), col("fp").as("fp_b")), Seq("key"), "full_outer")
      .agg(
        sum(when(col("fp_a").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("fp_b").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("fp_a").isNotNull && col("fp_b").isNotNull &&
          col("fp_a") =!= col("fp_b"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("fp_a") === col("fp_b"), 1L).otherwise(0L)).as("n_same"))
  }

  val q171Sql: String = {
    import graft.functions.{TextFunctions => TFn}
    val fpExpr = TFn.sqlHash60(
      "o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || " +
        "o_orderstatus || '|' || " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)::VARCHAR || '|' || " +
        "CAST(floor(epoch(o_orderdate)) AS BIGINT)::VARCHAR || '|' || " +
        "o_orderpriority")
    s"""WITH a AS (
       |  SELECT o_orderkey AS key, $fpExpr AS fp_a
       |  FROM orders WHERE o_orderkey % 103 <> 0),
       |b AS (
       |  SELECT o_orderkey AS key, $fpExpr AS fp_b
       |  FROM (SELECT o_orderkey, o_custkey, o_orderstatus,
       |          CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
       |               ELSE o_totalprice END AS o_totalprice,
       |          o_orderdate, o_orderpriority
       |        FROM orders WHERE o_orderkey % 101 <> 0))
       |SELECT
       |  CAST(sum(CASE WHEN fp_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |  CAST(sum(CASE WHEN fp_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(sum(CASE WHEN fp_a IS NOT NULL AND fp_b IS NOT NULL
       |           AND fp_a <> fp_b THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(sum(CASE WHEN fp_a = fp_b THEN 1 ELSE 0 END) AS BIGINT) AS n_same
       |FROM a FULL OUTER JOIN b USING (key)""".stripMargin
  }

  /** Structurally different twin for the sf1 cross-plan gate
    * (graft.CrossPlan). q79's primary counts triangles over the
    * blocked-tile cosine edge list; the twin derives the edges through
    * the plain all-pairs join ([[Similarity.cosinePairs]], no tiling,
    * no per-tile dedup) — the small-corpus verification form — and
    * feeds the same triangle count. */
  def crossPlanAlternates: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q79_triangles" -> ((s: SparkSession, dir: String) =>
        graft.operators.Graph.triangleCounts(
          Similarity.cosinePairs(embs(s, dir), SemTau)
            .select(col("id_a"), col("id_b")))
          .orderBy(col("tri_cnt").desc, col("node"))
          .limit(10)),
      "q68_pq_adc" -> (q68Alt _),
      "q76_semdedup" -> (q76Alt _),
      "q81_kmeans_train" -> (q81Alt _))

  /** q68 twin (sf10 cross-plan): the ADC scan decomposed RELATIONALLY —
    * codes and the query lookup table explode to (m, code) rows, the
    * per-pair ADC distance is a (m, code) equi-join plus an m-ordered
    * array fold (same left-assoc addition chain as the primary's fixed
    * M-term lookup sum), cell assignment/probing ride posexplode +
    * argmax/window instead of in-row array_max/slice, and both top-N
    * stages use window row_number instead of the bounded aggregator.
    * Every scalar (subScore, r4 snaps, tie-breaks) is the identical
    * expression, so the fingerprints must match bit-for-bit. */
  private def q68Alt(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VectorFunctions.vec_cosine
    import org.apache.spark.sql.expressions.Window
    val e = embs(spark, dir)
    val cb = ProductQuantizer.train(e, PqM, PqK)
    val nl = Similarity.deriveNlist(e.count())
    val cent = Similarity.ivfCentroids(e, nl)
    // cell assignment: posexplode of the (cos, cell) struct array +
    // groupBy argmax — same (max cos, tie max cell) as array_max
    val cellOf = e
      .select(col("vec_id").as("nbr_id"),
        posexplode(Similarity.ivfCellArr(cent)(col("embedding")))
          .as(Seq("ci", "s")))
      .groupBy(col("nbr_id"))
      .agg(max(struct(col("s.cos"), col("s.cell"))).as("m"))
      .select(col("nbr_id"), col("m.cell").as("cell"))
    val codes = e
      .select(col("vec_id").as("nbr_id"),
        posexplode(ProductQuantizer.encode(col("embedding"), cb))
          .as(Seq("m", "code")))
      .join(cellOf, Seq("nbr_id"))
    // query ADC table as rows: (query_id, m, code, d), the same
    // subScore expression the in-row table uses
    val qBase = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val sub = 64 / PqM
    val qTab = qBase.select(col("query_id"),
      explode(array((0 until PqM).flatMap { mi =>
        val x = slice(col("qv"), mi * sub + 1, sub)
        (0 until PqK).map { ki =>
          struct(lit(mi).as("m"), lit(ki).as("code"),
            ProductQuantizer.subScore(x, cb.books(mi)(ki)).as("d"))
        }
      }: _*)).as("t"))
      .select(col("query_id"), col("t.m").as("m"), col("t.code").as("code"),
        col("t.d").as("d"))
    // probe cells: window row_number over (cos desc, cell desc) —
    // the sort_array(desc).slice(nprobe) order
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("s.cos").desc, col("s.cell").desc)
    val qCells = qBase
      .select(col("query_id"),
        posexplode(Similarity.ivfCellArr(cent)(col("qv"))).as(Seq("ci", "s")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= PqNprobe)
      .select(col("query_id"), col("s.cell").as("cell"))
    // per-pair ADC: (m, code) join, then an m-ordered left fold —
    // the primary's reduce(_ + _) chain (0.0 seed is exact: every
    // partial is +0.0-safe)
    val pairs = codes.join(broadcast(qCells), Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .join(broadcast(qTab), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("nbr_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("d")))).as("md"))
      .withColumn("adc", Num.r4(aggregate(
        col("md").getField("d"), lit(0.0), (acc, x) => acc + x)))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("nbr_id"))
    val cands = pairs
      .withColumn("rn", row_number().over(wCand))
      .filter(col("rn") <= PqCandN)
      .select(col("query_id"), col("nbr_id"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    cands
      .join(e.select(col("vec_id").as("nbr_id"), col("embedding").as("cv")),
        Seq("nbr_id"))
      .join(broadcast(qBase), Seq("query_id"))
      .withColumn("cos", Num.r4(vec_cosine(col("qv"), col("cv"))))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q76 twin: cell assignment by window row_number over the exploded
    * (centroid × vector) cosines instead of the struct-max argmax
    * groupBy; the within-cell pair join is unchanged arithmetic. */
  private def q76Alt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.plans.VectorFunctions.vec_cosine
    import org.apache.spark.sql.expressions.Window
    val emb = embs(spark, dir)
    val nCells = semCellCount(emb.count())
    val centDf = broadcast(Similarity.ivfCentroids(emb, nCells).toSeq
      .toDF("cell", "cv"))
    val wAssign = Window.partitionBy(col("id"))
      .orderBy(col("cos").desc, col("cell").desc)
    val assigned = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      .join(centDf)
      .withColumn("cos", Num.r4(vec_cosine(col("v"), col("cv"))))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("id"), col("v"), col("cell"))
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("cos", Num.r4(vec_cosine(col("a.v"), col("b.v"))))
      .filter(col("cos") >= SemTau)
      .select(col("a.cell").as("cell"), col("a.id").as("id_a"),
        col("b.id").as("id_b"), col("cos"))
      .orderBy(col("cell"), col("id_a"), col("id_b"))
  }

  /** q81 twin: each round's assignment is a centroid-DataFrame join +
    * window argmin instead of the in-row literal distArr array_min,
    * with the identical Σ(xᵢ−cᵢ)² left-fold and r4 snap; means come
    * from explicit sum/count instead of avg. Snapped means re-enter
    * each round as literals exactly as in the primary, so any
    * divergence would compound loudly. */
  private def q81Alt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = embs(spark, dir)
    def sqDistCol(v: Column, cv: Column): Column =
      aggregate(zip_with(v.cast("array<double>"), cv,
        (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
    val wAssign = Window.partitionBy(col("id"))
      .orderBy(col("dist"), col("cell"))
    def assignAlt(centroids: Array[Array[Double]]): DataFrame = {
      val centDf = broadcast(
        centroids.toIndexedSeq.zipWithIndex
          .map { case (c, i) => (i.toLong, c.toSeq) }
          .toDF("cell", "cv"))
      emb.select(col("vec_id").as("id"), col("embedding").as("v"))
        .join(centDf)
        .withColumn("dist", Num.r4(sqDistCol(col("v"), col("cv"))))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("id"), col("v"), col("cell"))
    }
    var centroids = graft.operators.KMeans.initCentroids(emb, KmTrainK)
    for (_ <- 1 to KmIters) {
      val means = graft.operators.Pin.record(assignAlt(centroids)
        .select(col("cell"), posexplode(col("v").cast("array<double>"))
          .as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(Num.r4(sum(col("x")) / count(lit(1))).as("m")))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getAs[Long]("cell").toInt)(r.getAs[Int]("dim")) =
        r.getAs[Double]("m"))
      centroids = next
    }
    val counts = assignAlt(centroids)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
    val model = centroids.zipWithIndex.flatMap { case (cv, cell) =>
      cv.zipWithIndex.map { case (x, d) => (cell.toLong, (d + 1).toLong, x) }
    }.toSeq
    model.toDF("cell", "dim", "centroid")
      .join(counts, Seq("cell"))
      .select(col("cell"), col("dim"), col("centroid"), col("n_members"))
      .orderBy(col("cell"), col("dim"))
  }

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64_boilerplate" -> (q64Boilerplate _),
    "q65_merge_upsert" -> (q65MergeUpsert _),
    "q171_table_diff" -> (q171TableDiff _),
    "q66_scd2" -> (q66Scd2 _),
    "q67_heavy_hitters" -> (q67HeavyHitters _),
    "q68_pq_adc" -> (q68PqAdc _),
    "q69_profile" -> (q69Profile _),
    "q70_cohort" -> (q70Cohort _),
    "q71_dup_spans" -> (q71DupSpans _),
    "q151_dedup_apply" -> (q151DedupApply _),
    "q72_bottomk_sample" -> (q72BottomkSample _),
    "q73_histogram" -> (q73Histogram _),
    "q74_iqr_outliers" -> (q74IqrOutliers _),
    "q75_densify" -> (q75Densify _),
    "q76_semdedup" -> (q76SemDedup _),
    "q77_weighted_sample" -> (q77WeightedSample _),
    "q78_bpe_pairs" -> (q78BpePairs _),
    "q79_triangles" -> (q79Triangles _),
    "q80_zscore" -> (q80Zscore _),
    "q81_kmeans_train" -> (q81KmeansTrain _))

  def oracles: Map[String, String] = Map(
    "q64_boilerplate" -> q64Sql,
    "q68_pq_adc" -> q68Sql,
    "q65_merge_upsert" -> q65Sql,
    "q171_table_diff" -> q171Sql,
    "q66_scd2" -> q66Sql,
    "q67_heavy_hitters" -> q67Sql,
    "q69_profile" -> q69Sql,
    "q70_cohort" -> q70Sql,
    "q71_dup_spans" -> q71Sql,
    "q151_dedup_apply" -> q151Sql,
    "q72_bottomk_sample" -> q72Sql,
    "q73_histogram" -> q73Sql,
    "q74_iqr_outliers" -> q74Sql,
    "q75_densify" -> q75Sql,
    "q76_semdedup" -> q76Sql,
    "q77_weighted_sample" -> q77Sql,
    "q78_bpe_pairs" -> q78Sql,
    "q79_triangles" -> q79Sql,
    "q80_zscore" -> q80Sql,
    "q81_kmeans_train" -> q81Sql)
}
