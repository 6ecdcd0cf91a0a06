package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.Num
import graft.operators.Pin._

/** Round-5 additions: corpus-curation operations a training-data
  * pipeline runs between dedup and export — benchmark-contamination
  * detection, deterministic train/val/test split assignment, int8
  * embedding quantization with error accounting, and deterministic
  * shuffle-sharding of the training order.
  *
  * Scale notes (100 TB): contamination joins the corpus' n-grams
  * against the (small) eval-set n-gram dictionary — broadcast, never
  * shuffled-by-corpus; splits and shuffle order derive from content
  * hashes, so they reproduce on any cluster layout with zero
  * coordination; quantization is embarrassingly parallel per row;
  * shard-local ordering uses a window PARTITIONED by shard (no global
  * single-partition sort anywhere).
  */
object CurationQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  // ---- q55: benchmark contamination check. Hold out a hash-sampled
  // eval split, build its distinct n-gram dictionary, and score every
  // training document by the fraction of its distinct n-grams that
  // appear in the eval dictionary (the decontamination signal used
  // before training). The dictionary side is small by construction
  // (benchmarks are tiny next to the corpus) — broadcast it. ----

  private val EvalPct = 5
  private val ContamN = 3

  def q55Contamination(spark: SparkSession, dir: String): DataFrame = {
    // distinctness of (doc_id, g) is a PER-DOCUMENT property (hk is a
    // function of doc_id), so dedupe in-array: the corpus-wide
    // distinct() exchange of every (doc_id, hk, g) row is pure waste
    // (guide §2.4 — the r17 shingle-base rewrite, applied here).
    // localCheckpoint the per-doc array frame: it feeds BOTH the eval
    // dictionary and the training probe, and without the old distinct's
    // reused exchange each branch would re-run tokenize + shingle.
    val arr = docs(spark, dir)
      .select(col("doc_id"),
        (TF.hash60(col("doc_id").cast("string")) % 100).as("hk"),
        TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("hk"),
        array_distinct(TF.shinglesFromTokens(col("toks"), ContamN)).as("gs"))
      .pin(Narrow)
    val g = arr.select(col("doc_id"), col("hk"), explode(col("gs")).as("g"))
    val evalGrams = g.filter(col("hk") < EvalPct).select(col("g")).distinct()
    g.filter(col("hk") >= EvalPct)
      .join(broadcast(evalGrams.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("doc_id"), col("ngrams"), col("hits"),
        Num.r4(col("hits").cast("double") / col("ngrams")).as("contamination"))
      .orderBy(col("doc_id"))
  }

  val q55Sql: String =
    s"""WITH g AS (
       |  SELECT DISTINCT doc_id, hk, g FROM (
       |    SELECT doc_id,
       |      ${TF.sqlHash60("doc_id::VARCHAR")} % 100 AS hk,
       |      unnest(${TF.sqlShingles("text", ContamN)}) AS g
       |    FROM documents)),
       |ev AS (SELECT DISTINCT g FROM g WHERE hk < $EvalPct)
       |SELECT t.doc_id, count(*) AS ngrams,
       |  CAST(sum(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  ${Num.sqlR4("sum(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)")} AS contamination
       |FROM (SELECT doc_id, g FROM g WHERE hk >= $EvalPct) t
       |LEFT JOIN ev ON t.g = ev.g
       |GROUP BY t.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q56: deterministic train/val/test split assignment —
  // content-hash bucketing (80/10/10) with per-split-per-language
  // accounting. Hash-derived splits reproduce identically on any
  // cluster and survive corpus re-partitioning, unlike randomSplit. ----

  def q56SplitAssign(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("split", TF.splitAssign(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars")).as("chars"),
        Num.r2(avg(col("n_chars"))).as("avg_chars"))
      .orderBy(col("split"), col("lang"))

  val q56Sql: String =
    s"""SELECT ${TF.sqlSplitCase("hk")} AS split,
       |  lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars,
       |  ${Num.sqlR2("avg(n_chars)")} AS avg_chars
       |FROM (SELECT lang, n_chars,
       |        ${TF.sqlHash60("doc_id::VARCHAR")} % 100 AS hk
       |      FROM documents)
       |GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin

  // ---- q57: int8 symmetric quantization of the embedding column
  // (the storage/serving format of a vector corpus) with dequantization
  // error accounting per label. Per-vector max-abs scale; round-half-up
  // via floor(x/scale + 0.5) — identical IEEE double arithmetic in
  // both engines (library `round` half-even vs half-up differences
  // never enter). maxabs = 0 vectors are excluded (nothing to
  // quantize; avoids 0/0). ----

  def q57EmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    embs(spark, dir)
      .withColumn("maxabs", maxabs)
      .filter(col("maxabs") > 0)
      .withColumn("scale", col("maxabs") / 127.0d)
      .withColumn("sse",
        aggregate(col("embedding"), lit(0.0d),
          (acc, x) => {
            val xd = x.cast("double")
            val q = floor(xd / col("scale") + 0.5d)
            acc + (xd - q * col("scale")) * (xd - q * col("scale"))
          }))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("vecs"),
        Num.r4(avg(col("maxabs"))).as("avg_maxabs"),
        Num.r4(avg(col("sse"))).as("avg_sse"))
      .orderBy(col("label"))
  }

  val q57Sql: String =
    s"""WITH v AS (
       |  SELECT label,
       |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS maxabs,
       |    embedding
       |  FROM embeddings),
       |q AS (
       |  SELECT label, maxabs,
       |    list_sum(list_transform(embedding,
       |      x -> (x::DOUBLE - floor(x::DOUBLE / (maxabs / 127.0) + 0.5)
       |              * (maxabs / 127.0))
       |         * (x::DOUBLE - floor(x::DOUBLE / (maxabs / 127.0) + 0.5)
       |              * (maxabs / 127.0)))) AS sse
       |  FROM v WHERE maxabs > 0)
       |SELECT label, count(*) AS vecs,
       |  ${Num.sqlR4("avg(maxabs)")} AS avg_maxabs,
       |  ${Num.sqlR4("avg(sse)")} AS avg_sse
       |FROM q
       |GROUP BY label
       |ORDER BY label""".stripMargin

  // ---- q58: deterministic corpus shuffle + sharding — the export
  // step that fixes a pseudo-random training order: shard by one
  // content hash, order within the shard by an independent second
  // hash. The window is PARTITIONED by shard (each shard sorts
  // locally; at 100 TB this is a plain repartition + per-partition
  // sort, no global single-partition window). Emits the head of each
  // shard's order — the rows a training-run manifest records. ----

  private val NumShards = 8
  private val ShardHead = 5

  def q58ShuffleShard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        (TF.hash60(col("doc_id").cast("string")) % NumShards).as("shard"),
        TF.hash60(concat(col("doc_id").cast("string"), lit("#ord"))).as("ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= ShardHead)
      .select(col("shard"), col("pos"), col("doc_id"), col("lang"))
      .orderBy(col("shard"), col("pos"))
  }

  val q58Sql: String =
    s"""SELECT shard, pos, doc_id, lang
       |FROM (
       |  SELECT shard, doc_id, lang,
       |    CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
       |      AS BIGINT) AS pos
       |  FROM (SELECT doc_id, lang,
       |          ${TF.sqlHash60("doc_id::VARCHAR")} % $NumShards AS shard,
       |          ${TF.sqlHash60("doc_id::VARCHAR || '#ord'")} AS ord
       |        FROM documents))
       |WHERE pos <= $ShardHead
       |ORDER BY shard, pos""".stripMargin

  // ---- q59/q60: the remaining multimodal verbs (builder brief):
  // frame-sampling (1 → N generator over the decoded byte stream) and
  // nearest-neighbor resize, both through the stub codec. ASCII-only
  // guard so the DuckDB twin's codepoint indexing equals the codec's
  // byte indexing exactly (same technique as q35). ----

  private val FrameStep = 16
  private val ResizeLen = 64

  private def asciiMedia(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.asMedia(
      docs(spark, dir).filter(length(col("text")) === octet_length(col("text"))))

  def q59FrameSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.sampleFrames(
      asciiMedia(spark, dir).filter(col("doc_id") % 50 === 0), FrameStep)
      .orderBy(col("doc_id"), col("frame_idx"))

  val q59Sql: String =
    s"""SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
       |  ascii(text[CAST(j * $FrameStep + 1 AS INT)]) AS frame_val
       |FROM (SELECT doc_id, text,
       |        unnest(range(0, (strlen(text) + ${FrameStep - 1}) // $FrameStep)) AS j
       |      FROM documents
       |      WHERE doc_id % 50 = 0 AND length(text) = strlen(text))
       |ORDER BY doc_id, frame_idx""".stripMargin

  def q60Resize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.resizeStub(asciiMedia(spark, dir), ResizeLen)
      .orderBy(col("doc_id"))

  val q60Sql: String =
    s"""SELECT doc_id, CAST($ResizeLen AS BIGINT) AS out_len,
       |  CAST(list_sum(list_transform(range(0, $ResizeLen),
       |    j -> ascii(text[CAST((j * strlen(text)) // $ResizeLen + 1 AS INT)])))
       |    AS BIGINT) AS checksum
       |FROM documents
       |WHERE length(text) = strlen(text)
       |ORDER BY doc_id""".stripMargin

  // ---- q61: the composed end-to-end curation pipeline (scrub →
  // quality gate → exact dedup → split), one declarative plan against
  // a DuckDB CTE chain of the same stages. See
  // operators.CurationPipeline for the stage/scale breakdown. ----

  private val MinTokens = 20

  def q61CuratePipeline(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CurationPipeline.stats(
      graft.operators.CurationPipeline.curate(docs(spark, dir), MinTokens))

  val q61Sql: String = {
    import graft.operators.CurationPipeline.{EmailRe, EntityRe, UrlRe}
    val cleanExpr =
      s"""regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g'),
         |    '$EntityRe', '<ENT>', 'g')""".stripMargin
    s"""WITH s AS (
       |  SELECT doc_id, lang, $cleanExpr AS clean FROM documents),
       |q AS (
       |  SELECT doc_id, lang, clean,
       |    len(${TF.sqlTokens("clean")}) AS toks
       |  FROM s),
       |g AS (SELECT * FROM q WHERE toks >= $MinTokens),
       |d AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY ${TF.sqlFingerprint("clean")} ORDER BY doc_id) AS rn
       |    FROM g) WHERE rn = 1),
       |sp AS (
       |  SELECT *, ${TF.sqlSplitCase("hk")} AS split
       |  FROM (SELECT *, ${TF.sqlHash60("doc_id::VARCHAR")} % 100 AS hk FROM d))
       |SELECT split, lang, count(*) AS docs,
       |  CAST(sum(toks) AS BIGINT) AS tokens,
       |  ${Num.sqlR2("avg(toks)")} AS avg_tokens
       |FROM sp
       |GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin
  }

  // ---- q62: intra-document repetition scoring (the Gopher/C4-style
  // quality rule: a document whose n-grams repeat heavily is
  // boilerplate/spam). duplicate-trigram fraction = 1 − distinct/total,
  // computed per row (narrow, no shuffle) — the aggregation to flagged
  // docs is the only wide stage. ----

  private val RepThreshold = 0.01

  // Explode + aggregate, NOT row-local size(array_distinct(gs)):
  // projection collapse inlines the shingle-array subexpression into
  // every consumer (the winnowing counter-example in BASELINE.md —
  // measured 6.2 s vs 0.4 s here). One shuffle keyed by doc.
  def q62Repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        explode(TF.shinglesFromTokens(col("toks"), 3)).as("g"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("trigrams"),
        countDistinct(col("g")).as("distinct_trigrams"))
      .withColumn("dup_frac",
        Num.r4(lit(1.0) - col("distinct_trigrams").cast("double") / col("trigrams")))
      .filter(col("dup_frac") >= RepThreshold)
      .orderBy(col("doc_id"))

  val q62Sql: String =
    s"""SELECT doc_id, lang, trigrams, distinct_trigrams,
       |  ${Num.sqlR4("1.0 - distinct_trigrams::DOUBLE / trigrams")} AS dup_frac
       |FROM (
       |  SELECT doc_id, lang,
       |    CAST(len(gs) AS BIGINT) AS trigrams,
       |    CAST(len(list_distinct(gs)) AS BIGINT) AS distinct_trigrams
       |  FROM (SELECT doc_id, lang, ${TF.sqlShingles("text", 3)} AS gs
       |        FROM documents)
       |  WHERE len(gs) > 0)
       |WHERE ${Num.sqlR4("1.0 - distinct_trigrams::DOUBLE / trigrams")} >= $RepThreshold
       |ORDER BY doc_id""".stripMargin

  // ---- q63: Z-order (Morton) clustering key — the multi-dimensional
  // data-layout primitive (Delta/Iceberg Z-ORDER BY): interleaving the
  // bits of two dimensions gives a single sort key under which ranges
  // of rows are simultaneously tight in BOTH dimensions, so per-file
  // min/max skip indexes prune on either predicate. Pure bit
  // arithmetic (shifts + masks) — exact in any engine. Here: 4-bit
  // length bucket × 3-bit language code; the query reports per-z-range
  // bounding boxes, i.e. exactly the file-skipping statistics a
  // z-ordered write would produce. ----

  private val ZBits = 4

  /** Morton interleave of two ZBits-wide ints: a→even bits, b→odd. */
  private def zInterleave(a: Column, b: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1)
    }.reduce(_ + _)

  private def sqlZInterleave(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  private val LangCode =
    "CASE lang WHEN 'en' THEN 0 WHEN 'fr' THEN 1 WHEN 'es' THEN 2 " +
      "WHEN 'de' THEN 3 WHEN 'zh' THEN 4 ELSE 5 END"

  def q63Zorder(spark: SparkSession, dir: String): DataFrame = {
    val lenBucket = least(floor(col("n_chars") / 64).cast("int"), lit(15))
    val langCode = when(col("lang") === "en", 0).when(col("lang") === "fr", 1)
      .when(col("lang") === "es", 2).when(col("lang") === "de", 3)
      .when(col("lang") === "zh", 4).otherwise(5)
    docs(spark, dir)
      .select(col("doc_id"), lenBucket.as("len_b"), langCode.as("lang_c"))
      .withColumn("z", zInterleave(col("len_b"), col("lang_c")).cast("long"))
      // z-ranges of 16 codes each = the "file" granularity
      .withColumn("zrange", (col("z") / 16).cast("long"))
      .groupBy(col("zrange"))
      .agg(count(lit(1)).as("docs"),
        min(col("len_b")).cast("long").as("min_len_b"),
        max(col("len_b")).cast("long").as("max_len_b"),
        min(col("lang_c")).cast("long").as("min_lang_c"),
        max(col("lang_c")).cast("long").as("max_lang_c"))
      .orderBy(col("zrange"))
  }

  val q63Sql: String =
    s"""SELECT zrange, count(*) AS docs,
       |  CAST(min(len_b) AS BIGINT) AS min_len_b,
       |  CAST(max(len_b) AS BIGINT) AS max_len_b,
       |  CAST(min(lang_c) AS BIGINT) AS min_lang_c,
       |  CAST(max(lang_c) AS BIGINT) AS max_lang_c
       |FROM (
       |  SELECT CAST(${sqlZInterleave("len_b", "lang_c")} // 16 AS BIGINT) AS zrange,
       |    len_b, lang_c
       |  FROM (SELECT least(CAST(floor(n_chars / 64) AS INT), 15) AS len_b,
       |          $LangCode AS lang_c
       |        FROM documents))
       |GROUP BY zrange
       |ORDER BY zrange""".stripMargin

  // ---- q104: global training order WITHOUT a single-reducer sort —
  // the total-rank twin of q58's shard-local order: every doc gets its
  // global position under the deterministic shuffle hash via
  // GlobalOrder's two-pass range-partition + local-rank + offset
  // scheme. The oracle is the single-window form (row_number OVER
  // (ORDER BY ...)) — equality IS the theorem: the distributed plan
  // computes exactly what the one-reducer window would. ----

  def q104GlobalOrder(spark: SparkSession, dir: String): DataFrame = {
    val keyed = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        TF.hash60(concat(col("doc_id").cast("string"), lit("#ord"))).as("ord"))
    graft.operators.GlobalOrder
      .withGlobalPos(keyed, numPartitions = 16,
        order = Seq(col("ord"), col("doc_id")), posCol = "pos")
      .select(col("pos"), col("doc_id"), col("lang"))
      .orderBy(col("pos"))
  }

  val q104Sql: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY ord, doc_id) AS BIGINT) AS pos,
       |  doc_id, lang
       |FROM (SELECT doc_id, lang,
       |        ${TF.sqlHash60("doc_id::VARCHAR || '#ord'")} AS ord
       |      FROM documents)
       |ORDER BY pos""".stripMargin

  // ---- q125: DSIR-style importance resampling (Xie et al. 2023,
  // "Data Selection for Language Models via Importance Resampling" —
  // arXiv:2302.03169): estimate how target-like each raw document is
  // with two bigram LMs — one trained on the target domain (here the
  // `lang = 'en'` slice), one on the full corpus — and resample the
  // corpus by the importance weight
  //
  //   w(doc) = p_target(doc) / p_corpus(doc)
  //          = exp(nll_corpus − nll_target)     (per-bigram mean nlls)
  //
  // via Efraimidis–Spirakis weighted sampling without replacement
  // (key = ln(u)/w, top-k — q77's machinery on the content-hash tape).
  // Raw docs hit bigrams the target model never saw, so target scoring
  // runs through LanguageModel.scoreAgainst (add-α left joins).
  //
  // Scale: two (a,b)-keyed model aggregations + two scoring joins over
  // one shared bigram explode, then a narrow per-doc pass + top-k —
  // no new shuffle shapes beyond the proven q83/q122 LM plumbing.
  // Snapping: nll r4 (the LM convention), w r6 after exp, k r8 after
  // ln (libm calls snap — the q47 convention); w is clamped at 1e-6 so
  // an extreme nll deficit cannot round the E–S divisor to zero. ----

  private val DsirK = 10
  private val DsirTargetLang = "en"

  def q125DsirResample(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.LanguageModel
    val d = docs(spark, dir)
    // ONE corpus tokenize pass shared by both scorers (the target
    // scoring and the corpus self-model previously each re-tokenized
    // the full corpus, and the self-model's vocabulary count a third
    // time)
    val ts = LanguageModel.tokenTable(d)
    // target-model training reads the PINNED token table through a
    // doc_id semi-join on the `en` slice — a third regex tokenize pass
    // (train() re-tokenizing the slice) becomes a checkpoint-read join
    val (cabT, caT, vT) = LanguageModel.trainFromTokens(
      ts.join(d.filter(col("lang") === DsirTargetLang)
        .select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val nllT = LanguageModel.scoreAgainstFromTokens(ts, cabT, caT, vT)
      .select(col("doc_id"), col("nll").as("nll_target"))
    val nllC = LanguageModel.scoreDocsFromTokens(ts)
      .select(col("doc_id"), col("nll").as("nll_corpus"))
    val u = (TF.hash32(concat(col("doc_id").cast("string"), lit("#dsir"))) + 1)
      .cast("double") / 4294967296.0d
    nllC.join(nllT, Seq("doc_id"))
      .withColumn("w", greatest(
        Num.r(exp(col("nll_corpus") - col("nll_target")), 6), lit(1e-6)))
      .select(col("doc_id"), col("nll_target"), col("nll_corpus"), col("w"),
        Num.r(log(u) / col("w"), 8).as("k"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(DsirK)
  }

  val q125Sql: String = {
    val ts = TF.sqlTokens("text")
    s"""WITH tk AS (
       |  SELECT doc_id, lang, ts FROM (
       |    SELECT doc_id, lang, $ts AS ts FROM documents)
       |  WHERE len(ts) >= 2),
       |bg AS (
       |  SELECT doc_id, ts[j] AS a, ts[j + 1] AS b
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS j FROM tk)),
       |cab AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
       |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY a),
       |vv AS (SELECT count(DISTINCT tok) AS v
       |       FROM (SELECT unnest($ts) AS tok FROM documents)),
       |tbg AS (SELECT bg.* FROM bg JOIN documents d ON bg.doc_id = d.doc_id
       |        WHERE d.lang = '$DsirTargetLang'),
       |tcab AS (SELECT a, b, count(*) AS cab FROM tbg GROUP BY a, b),
       |tca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM tcab GROUP BY a),
       |tvv AS (SELECT count(DISTINCT tok) AS v
       |        FROM (SELECT unnest($ts) AS tok FROM documents
       |              WHERE lang = '$DsirTargetLang')),
       |sc AS (
       |  SELECT bg.doc_id,
       |    ln((cab.cab::DOUBLE + 1.0::DOUBLE)
       |       / (ca.ca::DOUBLE + 1.0::DOUBLE * vv.v::DOUBLE)) AS lp
       |  FROM bg
       |  JOIN cab ON bg.a = cab.a AND bg.b = cab.b
       |  JOIN ca ON bg.a = ca.a
       |  CROSS JOIN vv),
       |nc AS (SELECT doc_id, ${Num.sqlR4("-sum(lp) / count(*)")} AS nll_corpus
       |       FROM sc GROUP BY doc_id),
       |st AS (
       |  SELECT bg.doc_id,
       |    ln((coalesce(tcab.cab, 0)::DOUBLE + 1.0::DOUBLE)
       |       / (coalesce(tca.ca, 0)::DOUBLE + 1.0::DOUBLE * tvv.v::DOUBLE)) AS lp
       |  FROM bg
       |  LEFT JOIN tcab ON bg.a = tcab.a AND bg.b = tcab.b
       |  LEFT JOIN tca ON bg.a = tca.a
       |  CROSS JOIN tvv),
       |nt AS (SELECT doc_id, ${Num.sqlR4("-sum(lp) / count(*)")} AS nll_target
       |       FROM st GROUP BY doc_id),
       |ws AS (
       |  SELECT nc.doc_id, nt.nll_target, nc.nll_corpus,
       |    greatest(${Num.sqlR("exp(nc.nll_corpus - nt.nll_target)", 6)},
       |             0.000001) AS w
       |  FROM nc JOIN nt ON nc.doc_id = nt.doc_id)
       |SELECT doc_id, nll_target, nll_corpus, w,
       |  ${Num.sqlR(s"ln((${TF.sqlHash32("doc_id::VARCHAR || '#dsir'")} + 1) / 4294967296.0) / w", 8)} AS k
       |FROM ws
       |ORDER BY k DESC, doc_id
       |LIMIT $DsirK""".stripMargin
  }

  // ---- q126/q127: URL-host / domain curation tier — the first gate
  // of every public web pipeline (C4, RefinedWeb, FineWeb): roll the
  // corpus up by registered domain (doc counts, host fan-out, quality
  // means, exact-dup rate) and drop documents whose domain is on a
  // blocklist (broadcast anti-join — the blocklist is tiny next to the
  // corpus, so it ships to the executors and the corpus never
  // shuffles for the filter).
  //
  // The synthetic corpus has no URL column, so one is DERIVED
  // deterministically from (source, doc_id, lang) — the same
  // convention as q123's doc_id-parity ref/cur split — which exercises
  // the real machinery (UrlFunctions host/domain extraction, the
  // rollup, the anti-join) with subdomain variety (www./m.) and three
  // TLDs per source. ----

  import graft.functions.{UrlFunctions => UF}

  private val Tlds = Seq("com", "org", "net")

  private def withUrl(d: DataFrame): DataFrame =
    d.withColumn("url", concat(
      lit("https://"),
      when(col("doc_id") % 7 === 0, lit("www.")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("m.")).otherwise(lit("")),
      col("source"), lit("."),
      element_at(array(Tlds.map(lit): _*), (col("doc_id") % 3 + 1).cast("int")),
      lit("/"), col("lang"), lit("/"), col("doc_id").cast("string")))

  private val sqlUrl: String =
    "'https://' || CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END" +
      " || CASE WHEN doc_id % 11 = 0 THEN 'm.' ELSE '' END" +
      " || source || '.'" +
      s" || list_extract(${Tlds.map(t => s"'$t'").mkString("[", ", ", "]")}," +
      " CAST(doc_id % 3 + 1 AS INT))" +
      " || '/' || lang || '/' || doc_id::VARCHAR"

  private def withDomain(d: DataFrame): DataFrame =
    withUrl(d)
      .withColumn("host", UF.host(col("url")))
      .withColumn("domain", UF.registeredDomain(col("host")))

  private val sqlDomainCte: String =
    s"""u AS (SELECT doc_id, lang, source, n_chars, text, $sqlUrl AS url
       |      FROM documents),
       |h AS (SELECT u.*, ${UF.sqlHost("url")} AS host FROM u),
       |dm AS (SELECT h.*, ${UF.sqlRegisteredDomain("host")} AS domain FROM h)""".stripMargin

  def q126HostRollup(spark: SparkSession, dir: String): DataFrame =
    withDomain(docs(spark, dir))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        countDistinct(TF.fingerprint(col("text"))).as("n_unique"),
        Num.r4(avg(col("n_chars"))).as("mean_chars"),
        Num.r4(avg(TF.stopwordRatio(col("text")))).as("mean_stopword"))
      .select(col("domain"), col("n_docs"), col("n_hosts"),
        Num.r4(lit(1.0) - col("n_unique").cast("double") / col("n_docs"))
          .as("dup_rate"),
        col("mean_chars"), col("mean_stopword"))
      .orderBy(col("domain"))

  val q126Sql: String =
    s"""WITH $sqlDomainCte
       |SELECT domain, count(*) AS n_docs,
       |  count(DISTINCT host) AS n_hosts,
       |  ${Num.sqlR4(s"1.0 - (count(DISTINCT ${TF.sqlFingerprint("text")})::DOUBLE / count(*))")} AS dup_rate,
       |  ${Num.sqlR4("avg(n_chars)")} AS mean_chars,
       |  ${Num.sqlR4(s"avg(${TF.sqlStopwordRatio("text")})")} AS mean_stopword
       |FROM dm
       |GROUP BY domain
       |ORDER BY domain""".stripMargin

  /** Blocked registered domains — the C4-style bad-host list. Spans
    * all three TLD buckets so the anti-join removes a strict subset of
    * each source's docs, never a whole source. */
  private[graft] val DomainBlocklist =
    Seq("src3.com", "src7.net", "src11.org", "src15.com", "src0.org")

  def q127HostBlocklist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bl = DomainBlocklist.toDF("domain")
    withDomain(docs(spark, dir))
      .join(broadcast(bl), Seq("domain"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("domain")).as("n_domains"))
      .orderBy(col("source"))
  }

  val q127Sql: String =
    s"""WITH $sqlDomainCte
       |SELECT source, count(*) AS n_docs,
       |  count(DISTINCT domain) AS n_domains
       |FROM dm
       |WHERE domain NOT IN (${DomainBlocklist.map(d => s"'$d'").mkString(", ")})
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---- q128: Gopher/C4-style quality-rule gate with per-rule failure
  // accounting (Rae et al. 2021 §A1.1, Raffel et al. 2020 §2.2 —
  // published rule families, thresholds adapted to the synthetic
  // corpus's ranges): length, token count, mean word length, stopword
  // evidence, type-token ratio. Unlike q22 (a continuous per-doc
  // score), this is the boolean GATE every public pipeline applies
  // before training, reported as the per-rule failure table a datasheet
  // wants — plus the all-rules pass row. One scan, one wide algebraic
  // aggregate, rows unpivoted from a literal struct array (|rules|+1
  // rows — never a per-doc materialization). Every rule compares
  // integer-derived ratios, so no snapping is needed on the gate
  // itself; fail rates snap r4. ----

  private val QgMinChars = 100L
  private val QgMinTokens = 20L
  private val QgMwlRange = (3.0, 10.0)
  private val QgMinStopHits = 2L
  private val QgMinTtr = 0.4

  /** The rule set as named boolean columns over (text, n_chars) —
    * shared by the q128 accounting table and the q130 funnel so the
    * thresholds can never desynchronize. Codegen CSE collapses the
    * repeated token-array subtrees within the one projection. */
  private def qgRules: Seq[(String, Column)] = {
    val ts = TF.tokens(col("text"))
    val tc = size(ts).cast("long")
    val mwl = when(tc > 0,
      aggregate(ts, lit(0L), (a, t) => a + length(t)).cast("double") / tc)
      .otherwise(0.0)
    val stopHits = size(filter(ts,
      t => t.isInCollection(TF.langMarkers.flatMap(_._2)))).cast("long")
    val ttr = when(tc > 0,
      size(array_distinct(ts)).cast("double") / tc).otherwise(0.0)
    Seq(
      "r1_min_chars" -> (col("n_chars") >= QgMinChars),
      "r2_min_tokens" -> (tc >= QgMinTokens),
      "r3_mean_word_len" -> (mwl >= QgMwlRange._1 && mwl <= QgMwlRange._2),
      "r4_stopword_evidence" -> (stopHits >= QgMinStopHits),
      "r5_type_token_ratio" -> (ttr >= QgMinTtr))
  }

  /** DuckDB twin: the feature select-list (over `documents` columns)
    * and the rule predicates over those feature names. */
  private def sqlQgFeatures: String = {
    val ts = TF.sqlTokens("text")
    val set = TF.langMarkers.flatMap(_._2).map(m => s"'$m'").mkString(", ")
    s"""n_chars, len($ts) AS tc,
       |    CASE WHEN len($ts) > 0
       |      THEN list_sum(list_transform($ts, t -> length(t)))::DOUBLE / len($ts)
       |      ELSE 0.0 END AS mwl,
       |    len(list_filter($ts, t -> t IN ($set))) AS stop_hits,
       |    CASE WHEN len($ts) > 0
       |      THEN len(list_distinct($ts))::DOUBLE / len($ts)
       |      ELSE 0.0 END AS ttr""".stripMargin
  }
  private def sqlQgRules: Seq[(String, String)] = Seq(
    "r1_min_chars" -> s"n_chars >= $QgMinChars",
    "r2_min_tokens" -> s"tc >= $QgMinTokens",
    "r3_mean_word_len" ->
      s"mwl >= ${QgMwlRange._1} AND mwl <= ${QgMwlRange._2}",
    "r4_stopword_evidence" -> s"stop_hits >= $QgMinStopHits",
    "r5_type_token_ratio" -> s"ttr >= $QgMinTtr")

  def q128QualityGate(spark: SparkSession, dir: String): DataFrame = {
    val rules = qgRules
    val aggs =
      rules.map { case (n, c) =>
        sum(when(!c, 1L).otherwise(0L)).as(s"f_$n")
      } :+ sum(when(rules.map(_._2).reduce(_ && _), 1L).otherwise(0L))
        .as("pass_all") :+ count(lit(1)).as("n")
    val wide = docs(spark, dir).agg(aggs.head, aggs.tail: _*)
    val rows = rules.map { case (n, _) =>
      struct(lit(n).as("rule"), col(s"f_$n").as("n_fail"))
    } :+ struct(lit("z_all_rules").as("rule"),
      (col("n") - col("pass_all")).as("n_fail"))
    wide.select(col("n"), explode(array(rows: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("r.n_fail").as("n_fail"),
        Num.r4(col("r.n_fail").cast("double") / col("n")).as("fail_rate"))
      .orderBy(col("rule"))
  }

  val q128Sql: String = {
    val rules = sqlQgRules
    val failSums = rules.map { case (n, c) =>
      s"CAST(sum(CASE WHEN NOT ($c) THEN 1 ELSE 0 END) AS BIGINT) AS f_$n"
    }.mkString(",\n    ")
    val allPass = rules.map { case (_, c) => s"($c)" }.mkString(" AND ")
    val unpivot = rules.map { case (n, _) =>
      s"SELECT '$n' AS rule, f_$n AS n_fail, n FROM wide"
    }.mkString("\n  UNION ALL\n  ") +
      "\n  UNION ALL\n  SELECT 'z_all_rules' AS rule, n - pass_all AS n_fail, n FROM wide"
    s"""WITH f AS (
       |  SELECT $sqlQgFeatures
       |  FROM documents),
       |wide AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CASE WHEN $allPass THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
       |    $failSums
       |  FROM f)
       |SELECT rule, n_fail, ${Num.sqlR4("n_fail::DOUBLE / n")} AS fail_rate
       |FROM ($unpivot)
       |ORDER BY rule""".stripMargin
  }

  // ---- q129: per-domain quota sampling (the FineWeb/RefinedWeb
  // "don't let one domain dominate the mix" cap): rank each domain's
  // docs on the deterministic content-hash tape and keep the first
  // `QuotaK`. The rank window is PARTITIONED by domain — the shuffle
  // is domain-keyed and balanced, never a global sort; the output is
  // the per-domain (total, kept) accounting table. ----

  private[graft] val QuotaK = 5

  def q129DomainQuota(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = withDomain(docs(spark, dir))
      .select(col("domain"), col("doc_id"),
        TF.hash60(concat(col("doc_id").cast("string"), lit("#quota"))).as("hk"))
    val w = Window.partitionBy(col("domain")).orderBy(col("hk"), col("doc_id"))
    d.withColumn("rk", row_number().over(w))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= QuotaK, 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("domain"))
  }

  val q129Sql: String =
    s"""WITH $sqlDomainCte,
       |r AS (
       |  SELECT domain,
       |    row_number() OVER (PARTITION BY domain ORDER BY hk, doc_id) AS rk
       |  FROM (SELECT domain, doc_id,
       |          ${TF.sqlHash60("doc_id::VARCHAR || '#quota'")} AS hk
       |        FROM dm))
       |SELECT domain, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN rk <= $QuotaK THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM r
       |GROUP BY domain
       |ORDER BY domain""".stripMargin

  // ---- q130: the web-curation FUNNEL — the stage-by-stage survivor
  // accounting every public pipeline publishes (C4 §2.2, RefinedWeb
  // Table 2, FineWeb's datatrove logs): raw → domain blocklist →
  // quality gate → per-domain quota → exact dedup. ONE declarative
  // plan: stage membership is a chain of boolean columns, the quota
  // rank is a conditional cumulative count over the domain window
  // *among survivors* (rank-among-survivors ≠ q129's rank-among-all —
  // a doc freed up by a blocklisted neighbor is admitted here), and
  // dedup keeps the first surviving copy per fingerprint via the same
  // conditional-cumsum trick on the fingerprint window. Two key-
  // partitioned windows (domain, fingerprint) — no global sort, no
  // per-stage rescan of the corpus. ----

  /** The q130 funnel's per-document flag frame over a documents-shaped
    * input (doc_id, text, lang, source, n_chars) — exposed package-
    * private so PropertySpec can assert the stage invariants (monotone
    * survivors, quota cap among survivors, one kept doc per surviving
    * fingerprint) on RANDOM corpora, not just the shipped table.
    * Flags: s2 blocklist, s3 quality, s4 domain quota, s5 dedup. */
  private[graft] def funnelFlags(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.unboundedPreceding
    val wDom = Window.partitionBy(col("domain"))
      .orderBy(col("hk"), col("doc_id")).rowsBetween(cum, Window.currentRow)
    val wFp = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id")).rowsBetween(cum, Window.currentRow)
    withDomain(d)
      .withColumn("hk",
        TF.hash60(concat(col("doc_id").cast("string"), lit("#quota"))))
      .withColumn("fp", TF.fingerprint(col("text")))
      .withColumn("s2", !col("domain").isInCollection(DomainBlocklist))
      .withColumn("s3", col("s2") && qgRules.map(_._2).reduce(_ && _))
      .withColumn("rk", sum(when(col("s3"), 1L).otherwise(0L)).over(wDom))
      .withColumn("s4", col("s3") && col("rk") <= QuotaK)
      .withColumn("dk", sum(when(col("s4"), 1L).otherwise(0L)).over(wFp))
      .withColumn("s5", col("s4") && col("dk") === 1L)
  }

  def q130CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val flagged = funnelFlags(docs(spark, dir))
    val wide = flagged.agg(
      count(lit(1)).as("c1"),
      sum(when(col("s2"), 1L).otherwise(0L)).as("c2"),
      sum(when(col("s3"), 1L).otherwise(0L)).as("c3"),
      sum(when(col("s4"), 1L).otherwise(0L)).as("c4"),
      sum(when(col("s5"), 1L).otherwise(0L)).as("c5"))
    val stages = Seq("1_raw" -> "c1", "2_blocklist" -> "c2",
      "3_quality" -> "c3", "4_domain_quota" -> "c4", "5_dedup" -> "c5")
    wide.select(col("c1"), explode(array(stages.map { case (n, c) =>
        struct(lit(n).as("stage"), col(c).as("n_docs"))
      }: _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.n_docs").as("n_docs"),
        Num.r4(col("r.n_docs").cast("double") / col("c1")).as("survival"))
      .orderBy(col("stage"))
  }

  val q130Sql: String = {
    val allPass = sqlQgRules.map { case (_, c) => s"($c)" }.mkString(" AND ")
    val blocked = DomainBlocklist.map(d => s"'$d'").mkString(", ")
    s"""WITH $sqlDomainCte,
       |ff AS (
       |  SELECT dm.doc_id, dm.domain,
       |    ${TF.sqlHash60("dm.doc_id::VARCHAR || '#quota'")} AS hk,
       |    ${TF.sqlFingerprint("dm.text")} AS fp,
       |    $sqlQgFeatures
       |  FROM dm),
       |gg AS (
       |  SELECT *, (domain NOT IN ($blocked)) AS s2,
       |    ((domain NOT IN ($blocked)) AND $allPass) AS s3
       |  FROM ff),
       |hh AS (
       |  SELECT *, sum(CASE WHEN s3 THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY domain ORDER BY hk, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rk
       |  FROM gg),
       |ii AS (SELECT *, (s3 AND rk <= $QuotaK) AS s4 FROM hh),
       |jj AS (
       |  SELECT *, sum(CASE WHEN s4 THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY fp ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dk
       |  FROM ii),
       |kk AS (SELECT *, (s4 AND dk = 1) AS s5 FROM jj),
       |wide AS (
       |  SELECT count(*) AS c1,
       |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
       |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
       |    CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
       |  FROM kk)
       |SELECT stage, n_docs, ${Num.sqlR4("n_docs::DOUBLE / c1")} AS survival
       |FROM (
       |  SELECT '1_raw' AS stage, c1 AS n_docs, c1 FROM wide
       |  UNION ALL SELECT '2_blocklist', c2, c1 FROM wide
       |  UNION ALL SELECT '3_quality', c3, c1 FROM wide
       |  UNION ALL SELECT '4_domain_quota', c4, c1 FROM wide
       |  UNION ALL SELECT '5_dedup', c5, c1 FROM wide)
       |ORDER BY stage""".stripMargin
  }

  // ---- q184: training-sequence packing (concat-and-chunk). The
  // export stage of an LLM pipeline concatenates each shard's
  // documents into a token stream and cuts training sequences every
  // SeqBudget tokens; a document belongs to the sequence where it
  // STARTS (the standard concat-then-chunk packing — deterministic,
  // no bin-packing search). Output: per (shard, seq_id) document and
  // token counts — the packing manifest a loader consumes.
  //
  // Shape: one window cumsum PARTITIONED by shard (lang × source here;
  // parallelism = shards, no global sort), then a shard-keyed
  // aggregation. All arithmetic integer (token counts, integer div) —
  // no float to drift cross-engine. At 100 TB with few shards, swap
  // the shard window for the q104 GlobalOrder pattern (range
  // partition + per-partition offsets) — same manifest, full
  // parallelism within a shard. ----

  private val SeqBudget = 256L

  def q184SeqPacking(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        TF.tokenCount(col("text")).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      // the sequence where this doc STARTS: stream offset div budget
      .withColumn("seq_id", expr(s"(cum - tok) div $SeqBudget"))
      .groupBy(col("lang"), col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("seq_tokens"))
      .orderBy(col("lang"), col("source"), col("seq_id"))
  }

  val q184Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |         ${TF.sqlTokenCount("text")}::BIGINT AS tok
       |  FROM documents),
       |c AS (
       |  SELECT *, sum(tok) OVER (PARTITION BY lang, source
       |                           ORDER BY doc_id) AS cum
       |  FROM d)
       |SELECT lang, source,
       |  CAST((cum - tok) // $SeqBudget AS BIGINT) AS seq_id,
       |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS seq_tokens
       |FROM c GROUP BY lang, source, seq_id
       |ORDER BY lang, source, seq_id""".stripMargin

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q184_seq_packing" -> (q184SeqPacking _),
    "q125_dsir_resample" -> (q125DsirResample _),
    "q128_quality_gate" -> (q128QualityGate _),
    "q129_domain_quota" -> (q129DomainQuota _),
    "q130_curation_funnel" -> (q130CurationFunnel _),
    "q126_host_rollup" -> (q126HostRollup _),
    "q127_host_blocklist" -> (q127HostBlocklist _),
    "q55_contamination" -> (q55Contamination _),
    "q56_split_assign" -> (q56SplitAssign _),
    "q57_embed_quantize" -> (q57EmbedQuantize _),
    "q58_shuffle_shard" -> (q58ShuffleShard _),
    "q59_frame_sample" -> (q59FrameSample _),
    "q60_resize" -> (q60Resize _),
    "q61_curate_pipeline" -> (q61CuratePipeline _),
    "q62_repetition" -> (q62Repetition _),
    "q63_zorder" -> (q63Zorder _),
    "q104_global_order" -> (q104GlobalOrder _))

  def oracles: Map[String, String] = Map(
    "q184_seq_packing" -> q184Sql,
    "q125_dsir_resample" -> q125Sql,
    "q128_quality_gate" -> q128Sql,
    "q129_domain_quota" -> q129Sql,
    "q130_curation_funnel" -> q130Sql,
    "q126_host_rollup" -> q126Sql,
    "q127_host_blocklist" -> q127Sql,
    "q55_contamination" -> q55Sql,
    "q56_split_assign" -> q56Sql,
    "q57_embed_quantize" -> q57Sql,
    "q58_shuffle_shard" -> q58Sql,
    "q59_frame_sample" -> q59Sql,
    "q60_resize" -> q60Sql,
    "q61_curate_pipeline" -> q61Sql,
    "q62_repetition" -> q62Sql,
    "q63_zorder" -> q63Sql,
    "q104_global_order" -> q104Sql)
}
