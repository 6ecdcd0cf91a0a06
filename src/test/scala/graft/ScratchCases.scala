package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.{TextFunctions => TF}

/** Stage bodies for [[Scratch]] — r17 optimization round attribution. */
object ScratchCases {
  import Scratch.time
  import Harness.release

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  def q105(spark: SparkSession, dir: String): Unit = {
    // stage 1: the shared tokenized+scored base
    val base = graft.queries.CorpusStatsQueries.pipelineBase(docs(spark, dir))
    time(spark, "base(tokenize+quality)", base)
    release(spark)
    // stage 2: base cached + edges (prefix-Jaccard pairs)
    val baseC = graft.queries.CorpusStatsQueries.pipelineBase(docs(spark, dir)).cache()
    baseC.write.format("noop").mode("overwrite").save()
    val edges = TextDedup.prefixJaccardPairsFromTokens(
      baseC.select(col("doc_id").as("id"), col("toks")), n = 3, threshold = 0.5)
    time(spark, "edges(prefixJaccard, base cached)", edges)
    // stage 3: clusters over edges (includes CC rounds)
    time(spark, "clusters(CC over edges)",
      ClusterDedup.clusters(edges, "id_a", "id_b"))
    // stage 4: full verdicts
    time(spark, "verdicts(full)",
      graft.queries.CorpusStatsQueries.canonicalVerdictsFromBase(baseC))
    release(spark)
    // stage 5: incremental tail pieces
    val base2 = graft.queries.CorpusStatsQueries.pipelineBase(docs(spark, dir)).cache()
    val kept = graft.queries.CorpusStatsQueries.canonicalVerdictsFromBase(base2)
      .filter(col("kept") && col("quality_score") >= 0.45)
      .select(col("doc_id"))
    val train = base2.select(col("doc_id"), col("lang")).join(kept, "doc_id")
      .withColumn("split", TF.splitAssign(col("doc_id")))
      .filter(col("split") === "train")
      .select(col("doc_id"), col("lang"),
        TF.hash60(concat(col("doc_id").cast("string"), lit("#ord"))).as("ord"))
    time(spark, "train (verdicts+join+split)", train)
    val ordered = graft.operators.GlobalOrder
      .withGlobalPos(train, numPartitions = 16,
        order = Seq(col("ord"), col("doc_id")), posCol = "pos")
      .select(col("pos"), col("doc_id"), col("lang"))
    time(spark, "train+globalorder", ordered)
    time(spark, "train+globalorder+sort", ordered.orderBy(col("pos")))
    release(spark)
    // stage 6: the whole query, Bench-style (3 runs)
    time(spark, "q105 full", SparkEntry.queries("q105_corpus_pipeline")(spark, dir), runs = 3)
  }

  def q159(spark: SparkSession, dir: String): Unit = {
    val items = Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      .distinct()
    time(spark, "items(join+distinct)", items)
    val itemsC = items.cache()
    itemsC.write.format("noop").mode("overwrite").save()
    val freq = itemsC.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 50)
    val kept = itemsC.join(broadcast(freq.select(col("item"))), Seq("item"), "left_semi")
    val pairs = kept.groupBy(col("basket"))
      .agg(collect_set(col("item")).as("is"))
      .select(explode(expr(
        "filter(flatten(transform(is, x -> transform(is, " +
          "y -> struct(x AS item_a, y AS item_b)))), " +
          "p -> p.item_a < p.item_b)")).as("p"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("cnt_ab"))
    time(spark, "pairs(collect_set+explode+agg)", pairs)
    // variant 2: raised ObjectHashAggregate sort-fallback threshold
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
    time(spark, "pairs(raised OHA fallback)", pairs)
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
    // variant 3: self-join form
    val pairsJoin = kept.select(col("basket"), col("item").as("item_a"))
      .join(kept.select(col("basket"), col("item").as("item_b")), Seq("basket"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("cnt_ab"))
    time(spark, "pairs(self-join)", pairsJoin)
    // variant 4: bitmask (items are brands, ≤64 after prune)
    val dict = freq.select(col("item")).orderBy(col("item"))
      .collect().map(_.getString(0)).zipWithIndex.toMap
    val idxCol = dict.foldLeft(lit(-1)) { case (acc, (it, i)) =>
      when(col("item") === it, lit(i)).otherwise(acc) }
    val masks = kept.select(col("basket"), idxCol.as("idx"))
      .groupBy(col("basket"))
      .agg(bit_or(expr("shiftleft(1L, idx)")).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n"))
    val nItems = dict.size
    val maskPairs = masks
      .select(col("n"), explode(expr(
        s"filter(flatten(transform(sequence(0, ${nItems - 1}), x -> " +
          s"transform(sequence(0, ${nItems - 1}), y -> struct(x AS ia, y AS ib)))), " +
          "p -> p.ia < p.ib AND (shiftright(mask, p.ia) & 1) = 1 AND (shiftright(mask, p.ib) & 1) = 1)")).as("p"))
      .groupBy(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .agg(sum(col("n")).as("cnt_ab"))
    time(spark, "pairs(bitmask)", maskPairs)
    release(spark)
    time(spark, "q159 full", SparkEntry.queries("q159_basket")(spark, dir), runs = 3)
  }

  def q148(spark: SparkSession, dir: String): Unit = {
    val fp0 = Winnowing.fingerprints(docs(spark, dir), 3, 4)
    time(spark, "fingerprints(window form)", fp0)
    release(spark)
    val fp = Winnowing.fingerprints(docs(spark, dir), 3, 4)
      .select(col("doc_id"), col("fp_hash")).distinct().cache()
    fp.write.format("noop").mode("overwrite").save()
    val kept = fp.join(
      fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50),
      Seq("fp_hash")).cache()
    val a = kept.select(col("doc_id").as("doc_a"), col("fp_hash"))
    val b = kept.select(col("doc_id").as("doc_b"), col("fp_hash"))
    val joined = a.join(b, Seq("fp_hash")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
    time(spark, "pair join (fp cached)", joined)
    release(spark)
    time(spark, "q148 full", SparkEntry.queries("q148_winnow_pairs")(spark, dir), runs = 3)
  }

  def q176(spark: SparkSession, dir: String): Unit = {
    val ratings = Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("p_brand").as("item"))
      .agg(count(lit(1)).cast("double").as("r"))
    time(spark, "ratings(3-way join + agg)", ratings)
    release(spark)
    time(spark, "q176 full", SparkEntry.queries("q176_als_round")(spark, dir), runs = 3)
  }

  def q86(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    // replicate TextDedup.prefixJaccardPairs' internals stage by stage
    val sh0 = docs(spark, dir)
      .select(col("doc_id").as("id"), TF.tokens(col("text")).as("toks"))
      .select(col("id"), array_distinct(TF.shinglesFromTokens(col("toks"), 3)).as("shs"))
    time(spark, "sh(tokenize+shingle arrays)", sh0)
    val sh = sh0.cache(); sh.write.format("noop").mode("overwrite").save()
    val ds = sh.select(col("id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("shingle"))
    time(spark, "ds(explode, sh cached)", ds)
    val dfreq = ds.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    time(spark, "df(groupBy shingle)", dfreq)
    val ranked0 = ds.join(dfreq, "shingle")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))))
      .filter(col("df") > 1)
      .select(col("id"), col("shingle"), col("sz"), col("rnk"))
    time(spark, "ranked(join df + window)", ranked0)
    val tau = 0.5 - (5e-5 + 1e-8)
    val prefix0 = ranked0.filter(col("rnk") <=
      col("sz") - ceil(lit(tau) * col("sz") - 1e-9) + 1)
    val prefix = prefix0.cache(); prefix.write.format("noop").mode("overwrite").save()
    val cand = prefix.as("a")
      .join(broadcast(prefix.as("b")),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            lit(tau) * greatest(col("a.sz"), col("b.sz")) - 1e-9)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("po"),
        max(col("a.rnk")).as("pa"), max(col("b.rnk")).as("pb"))
    time(spark, "cand(prefix self-join, prefix cached)", cand)
    release(spark)
    time(spark, "q86 full", SparkEntry.queries("q86_prefix_jaccard")(spark, dir), runs = 3)
  }

  def q150(spark: SparkSession, dir: String): Unit = {
    val d = docs(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("ts"))
    time(spark, "tokenize", d)
    val dC = d.cache(); dC.write.format("noop").mode("overwrite").save()
    val postings = dC
      .select(col("doc_id"), size(col("ts")).as("dl"), explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    time(spark, "postings(explode+groupBy)", postings)
    release(spark)
    time(spark, "q150 full", SparkEntry.queries("q150_bm25")(spark, dir), runs = 3)
  }
}
