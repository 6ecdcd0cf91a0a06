package graft.operators

import graft.SparkSpec
import graft.queries.CorpusStatsQueries
import org.apache.spark.sql.functions._

/** Entropy/LM scoring, temperature mixing, incremental-aggregate
  * maintenance, prefix-filtered Jaccard, containment, PageRank. */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.001"

  // ---- q82 entropy ----

  test("entropy: hand-computed H and TTR on a uniform two-type doc") {
    val df = Seq((1L, "a a b b")).toDF("doc_id", "text")
    val row = CorpusStatsQueries.entries("q82_entropy")(spark, sf001)
    assert(row.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_types", "entropy", "ttr"))

    // direct hand check on the tiny frame via the same operator shape
    val c = df.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val h = c.groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("k"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("s"))
      .select(Num.r4(log(col("n").cast("double")) - col("s") / col("n")))
      .as[Double].head()
    // H(uniform over 2 types, 4 tokens) = ln 2
    assert(h == math.floor(math.floor(math.log(2) * 1e8 + 0.5) / 1e8 * 1e4 + 0.5) / 1e4)
  }

  test("entropy extremes: all-same tokens → 0; all-distinct → ln n") {
    val df = Seq((1L, "x x x x"), (2L, "p q r s")).toDF("doc_id", "text")
    val got = df.transform(d => {
      val c = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      c.groupBy("doc_id")
        .agg(sum("c").as("n"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("s"))
        .select(col("doc_id"),
          Num.r4(log(col("n").cast("double")) - col("s") / col("n")).as("h"))
    }).as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0)
    val ln4 = math.floor(math.floor(math.log(4) * 1e8 + 0.5) / 1e8 * 1e4 + 0.5) / 1e4
    assert(got(2L) == ln4)
  }

  // ---- q83 bigram LM ----

  test("bigram LM: hand-computed add-1 nll on a 3-doc corpus") {
    val df = Seq((1L, "x y"), (2L, "x y"), (3L, "x z")).toDF("doc_id", "text")
    val got = LanguageModel.scoreDocs(df).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    // c(x,y)=2 c(x,z)=1 c(x,·)=3 V=3
    // doc1/doc2: -ln((2+1)/(3+3)) = ln 2; doc3: -ln((1+1)/(3+3)) = ln 3
    def r4(x: Double) =
      math.floor(math.floor(x * 1e8 + 0.5) / 1e8 * 1e4 + 0.5) / 1e4
    assert(got.toSeq == Seq(
      (1L, 1L, r4(-math.log((2.0 + 1.0) / (3.0 + 1.0 * 3.0)))),
      (2L, 1L, r4(-math.log((2.0 + 1.0) / (3.0 + 1.0 * 3.0)))),
      (3L, 1L, r4(-math.log((1.0 + 1.0) / (3.0 + 1.0 * 3.0))))))
  }

  test("bigram LM: repeated rare transitions score worse than common ones") {
    val common = Seq.fill(20)("the cat sat").mkString(" ")
    val df = (1L to 5L).map(i => (i, s"the cat sat on mat $i"))
      .toDF("doc_id", "text")
      .unionByName(Seq((99L, "zq xv qj wk")).toDF("doc_id", "text"))
      .unionByName(Seq((100L, common)).toDF("doc_id", "text"))
    val got = LanguageModel.scoreDocs(df)
      .select("doc_id", "nll").as[(Long, Double)].collect().toMap
    assert(got(99L) > got(100L))
  }

  test("LM: docs with <2 tokens are excluded, not scored as zero") {
    val df = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val ids = LanguageModel.scoreDocs(df).select("doc_id")
      .as[Long].collect().toSet
    assert(ids == Set(2L))
  }

  test("LM: scoring reads the pinned token table, not a second corpus scan") {
    val docs = graft.Tables.load(spark, sf001, "documents")
    val scored = LanguageModel.scoreDocs(docs)
    scored.count()
    // ZERO live parquet scans: the one tokenize pass is materialized
    // by the token-table checkpoint before scoring plans, and model
    // counts, the scoring join AND the vocabulary count-distinct all
    // derive from it (the pre-checkpoint scan lives behind the
    // LogicalRDD, not in the executing tree).
    def strip(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          strip(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case o => o.children.flatMap(strip) ++
          o.subqueries.flatMap(strip)
      }
    val scans = strip(scored.queryExecution.executedPlan).size
    assert(scans == 0, s"scans=$scans")
  }

  // ---- q84 temperature mix ----

  test("temperature mix: α<1 compresses shares; weights sum to 1") {
    val df = ((1L to 80L).map(i => (i, "s_big")) ++
      (81L to 100L).map(i => (i, "s_small")))
      .toDF("doc_id", "source").withColumn("text", lit("t"))
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    val got = df.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("p", col("n_docs").cast("double") / sum("n_docs").over(wAll))
      .withColumn("pa", pow(col("p"), 0.3))
      .withColumn("w", col("pa") / sum("pa").over(wAll))
      .select("source", "p", "w").as[(String, Double, Double)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val (pBig, wBig) = (0.8, got("s_big")._2)
    val (pSmall, wSmall) = (0.2, got("s_small")._2)
    assert(got("s_big")._1 == pBig && got("s_small")._1 == pSmall)
    // α=0.3 moves both shares toward uniform, preserving order
    assert(wBig < pBig && wSmall > pSmall && wBig > wSmall)
    assert(math.abs(wBig + wSmall - 1.0) < 1e-12)
  }

  // ---- q85 incremental aggregate maintenance ----

  test("incremental partial-merge equals full recompute (the MV invariant)") {
    val incr = CorpusStatsQueries.entries("q85_incr_agg")(spark, sf001)
      .collect().map(_.toSeq).toSet
    val full = graft.Tables.load(spark, sf001, "orders")
      .groupBy(col("o_orderpriority"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
      .agg(count(lit(1)).as("orders"), sum(col("o_totalprice")).as("rev"))
      .select(col("o_orderpriority"), col("ym"), col("orders"),
        Num.r2(col("rev")).as("revenue"),
        Num.r2(col("rev") / col("orders")).as("avg_price"))
      .collect().map(_.toSeq).toSet
    assert(incr.nonEmpty && incr == full)
  }

  // ---- q86 prefix-filtered Jaccard ----

  test("prefix join ≡ all-pairs join on the corpus, two thresholds") {
    val d = graft.Tables.load(spark, sf001, "documents")
    for (tau <- Seq(0.4, 0.7)) {
      val full = TextDedup.jaccardPairs(d, n = 3, threshold = tau)
        .as[(Long, Long, Double)].collect().toSet
      val pref = TextDedup.prefixJaccardPairs(d, n = 3, threshold = tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == full, s"tau=$tau")
      assert(full.nonEmpty, s"tau=$tau should produce pairs on testdata")
    }
  }

  test("prefix join: hot-shingle adversarial corpus stays complete") {
    // every doc shares one hot trigram; near-dup pairs must survive
    // prefix filtering even though the hot shingle sorts LAST
    val hot = "common shared prefix"
    val docs = Seq(
      (1L, s"$hot alpha beta gamma delta"),
      (2L, s"$hot alpha beta gamma epsilon"), // near-dup of 1
      (3L, s"$hot zeta eta theta iota"),
      (4L, s"$hot zeta eta theta kappa"), // near-dup of 3
      (5L, s"$hot lone wolf document here")).toDF("doc_id", "text")
    val tau = 0.4
    val full = TextDedup.jaccardPairs(docs, n = 3, threshold = tau)
      .as[(Long, Long, Double)].collect().toSet
    val pref = TextDedup.prefixJaccardPairs(docs, n = 3, threshold = tau)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref == full && full.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 4L)))
  }

  test("prefix join plan: codegen merge-intersect, no interpreted array_intersect") {
    val docs = graft.Tables.load(spark, sf001, "documents")
    val d = TextDedup.prefixJaccardPairs(docs, n = 3, threshold = 0.4)
    d.count()
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("sortedintersectcount"))
    assert(!plan.contains("array_intersect"))
  }

  test("prefix bound survives exact-integer τ·|S| products") {
    // |S|=5 shingles, τ=0.4: τ·|S| = 2.0 exactly; a float-naive ceil
    // gives 3 and drops a true pair. 7 tokens → 5 trigram shingles.
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7"),
      (2L, "t1 t2 t3 t4 t5 t6 x7")).toDF("doc_id", "text")
    // shared shingles: 4 of 5+5 → J = 4/6 = 0.667 ≥ 0.4
    val pref = TextDedup.prefixJaccardPairs(docs, n = 3, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref.map(p => (p._1, p._2)) == Set((1L, 2L)))
  }

  // ---- q88 containment ----

  test("containment: an excerpt scores 1.0 toward its container, " +
    "below Jaccard's radar") {
    val a = (1 to 10).map(i => s"w$i").mkString(" ") // 8 trigrams
    val b = a + " " + (11 to 50).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val jac = TextDedup.jaccardPairs(docs, n = 3, threshold = 0.5)
      .collect()
    assert(jac.isEmpty) // J = 8/48 ≈ 0.17: invisible to Jaccard dedup
    val cont = TextDedup.containmentPairs(docs, n = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(cont == Set((1L, 2L, 1.0))) // and no reverse direction
  }

  // ---- q88 prefix-filtered containment (scale path) ----

  test("prefix containment ≡ all-pairs containment on the corpus, two thresholds") {
    val d = graft.Tables.load(spark, sf001, "documents")
    for (tau <- Seq(0.5, 0.7)) {
      val full = TextDedup.containmentPairs(d, n = 3, threshold = tau)
        .as[(Long, Long, Double)].collect().toSet
      val pref = TextDedup.prefixContainmentPairs(d, n = 3, threshold = tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == full, s"tau=$tau")
      assert(full.nonEmpty, s"tau=$tau should produce pairs on testdata")
    }
  }

  test("prefix containment: hot-shingle adversarial corpus stays complete") {
    // every doc shares a hot boilerplate trigram (which sorts LAST in
    // the df-asc prefix order, so it never enters the index); the
    // excerpt relation must still be found via the rare prefix
    // shingles, in the right DIRECTION only
    val hot = "common shared prefix"
    val excerpt = s"$hot alpha beta gamma delta"
    val docs = Seq(
      (1L, excerpt), // contained in 2
      (2L, excerpt + " " + (1 to 30).map(i => s"pad$i").mkString(" ")),
      (3L, s"$hot zeta eta theta iota unrelated words entirely"),
      (4L, s"$hot lone wolf document here")).toDF("doc_id", "text")
    val tau = 0.6
    val full = TextDedup.containmentPairs(docs, n = 3, threshold = tau)
      .as[(Long, Long, Double)].collect().toSet
    val pref = TextDedup.prefixContainmentPairs(docs, n = 3, threshold = tau)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref == full)
    assert(pref.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(!pref.map(p => (p._1, p._2)).contains((2L, 1L)))
  }

  test("prefix containment plan: codegen merge-intersect, no array_intersect") {
    val docs = graft.Tables.load(spark, sf001, "documents")
    val d = TextDedup.prefixContainmentPairs(docs, n = 3, threshold = 0.6)
    d.count()
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("sortedintersectcount"))
    assert(!plan.contains("array_intersect"))
  }

  test("prefix containment bound survives τ·|S| floating ABOVE the integer") {
    // |A| = 100 trigrams, τ = 0.55: 0.55·100 = 55.00000000000001 under
    // IEEE, so a float-naive ceil computes t = 56 and shortens A's
    // prefix to 45. The corpus is built so that is fatal: A's 45
    // unique shingles (df=1) occupy ranks 1–45 of the df-asc order and
    // ALL 55 shared shingles sort last (ranks 46–100) — the correct
    // prefix length 46 catches exactly one shared shingle (the
    // pigeonhole bound is tight here), the naive one catches none and
    // silently drops a true containment pair.
    val a = (1 to 102).map(i => s"a$i").mkString(" ") // 100 trigrams
    // B shares a1..a57 → exactly the 55 trigrams inside that window;
    // containment A→B = 55/100 = 0.55, B→A = 55/103 < 0.55
    val b = ((1 to 57).map(i => s"a$i") ++ (1 to 48).map(i => s"f$i"))
      .mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pref = TextDedup.prefixContainmentPairs(docs, n = 3, threshold = 0.55)
      .as[(Long, Long, Double)].collect().toSet
    val full = TextDedup.containmentPairs(docs, n = 3, threshold = 0.55)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref == full && pref.map(p => (p._1, p._2)) == Set((1L, 2L)))
  }

  test("prefix containment survives the r4 snap boundary on large documents") {
    // |A| = 20000 trigrams, B shares exactly 11999 of them: raw
    // containment 0.59995 < τ = 0.6, but the r4 SNAP rounds it to
    // 0.6000, so verification (and the all-pairs twin) emit the pair.
    // Pruning with exact-τ integer bounds would demand
    // inter ≥ ⌈0.6·20000⌉ = 12000 > 11999 and silently drop it before
    // verification ever ran — only the snap-slack-relaxed τ keeps the
    // candidate alive, and the relaxed prefix (8002 positions vs 8001
    // singletons) catches it through exactly ONE indexed shingle.
    // Needs ≥20k-shingle docs: with small sets the ratio lattice 1/sz
    // can't land inside the [τ−5e-5, τ) snap window.
    val a = (1 to 20002).map(i => s"a$i").mkString(" ")
    val b = ((1 to 12001).map(i => s"a$i") ++ (1 to 8000).map(i => s"f$i"))
      .mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pref = TextDedup.prefixContainmentPairs(docs, n = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    val full = TextDedup.containmentPairs(docs, n = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    // BOTH directions sit in the snap window (B→A = 11999/19999 =
    // 0.59998) — the all-pairs form emits both, so must the prefix form
    assert(full.map(p => (p._1, p._2)) == Set((1L, 2L), (2L, 1L)))
    assert(pref == full) // the prefix join must not lose either
    assert(pref.forall(_._3 == 0.6)) // snapped ratios, not raw
  }

  // ---- q97 hard negatives ----

  test("hard negatives: band excludes near-dups above hi and noise below lo") {
    val emb = Seq(
      (0L, Seq(1f, 0f)), // query
      (1L, Seq(1f, 0f)), // exact dup: cos 1.0 → excluded (≥ hi)
      (2L, Seq(0.3f, math.sqrt(1 - 0.09).toFloat)), // cos 0.3 → in band
      (3L, Seq(0f, 1f)), // cos 0.0 → excluded (< lo)
      (4L, Seq(0.25f, math.sqrt(1 - 0.0625).toFloat)) // cos 0.25 → in band
    ).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(emb, col("vec_id") === 0, k = 5,
      lo = 0.15, hi = 0.35)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(got.map(r => (r._2, r._3)) == Seq((1, 2L), (2, 4L)))
    assert(got.forall(r => r._4 >= 0.15 && r._4 < 0.35))
  }

  // ---- q97b IVF-probed hard negatives (the web-scale path) ----

  test("IVF hard negatives: results are a subset of the exact band set, " +
    "band respected, ranks well-formed; high nprobe converges to exact") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.hardNegatives(emb, pred, k = 1000,
        lo = 0.15, hi = 0.35)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.hardNegativesIvf(emb, pred, k = 5,
        lo = 0.15, hi = 0.35, nprobe = 8)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(ivf.nonEmpty)
    // every returned pair is genuinely in the exact band set (the cell
    // probe can only LOSE candidates, never invent or mis-score one)
    ivf.foreach { r =>
      assert(exact.contains((r._1, r._3)), s"pair ${(r._1, r._3)} not in band")
      assert(r._4 >= 0.15 && r._4 < 0.35)
    }
    // ranks are 1..m contiguous per query, scores nonincreasing
    ivf.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2) == (1 to sorted.size), s"ranks for $q")
      assert(sorted.sliding(2).forall {
        case Seq(a, b) => a._4 >= b._4; case _ => true
      }, s"scores for $q")
    }
    // probing EVERY cell is the exact scan: verdicts equal q97's
    val nl = 16 // deriveNlist at sf0.001 corpus size floors at 16
    val all = Similarity.hardNegativesIvf(emb, pred, k = 5,
        lo = 0.15, hi = 0.35, nlist = nl, nprobe = nl)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val exactTop = Similarity.hardNegatives(emb, pred, k = 5,
        lo = 0.15, hi = 0.35)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(all == exactTop)
  }

  // ---- q98 canonical-document selection ----

  test("canonical docs: exactly one kept per cluster, the max-quality one; " +
    "singletons always kept") {
    val out = CorpusStatsQueries.entries("q98_canonical_docs")(spark, sf001)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    val docs = graft.Tables.load(spark, sf001, "documents")
    assert(out.size == docs.count()) // every doc gets a verdict
    val byCluster = out.groupBy(_._2)
    // one kept per cluster, and it is argmax (quality desc, id asc)
    byCluster.foreach { case (cid, members) =>
      val kept = members.filter(_._4)
      assert(kept.size == 1, s"cluster $cid kept ${kept.size}")
      val best = members.minBy(m => (-m._3, m._1))
      assert(kept.head._1 == best._1, s"cluster $cid kept wrong doc")
    }
    // clusters match the all-pairs ground truth: multi-doc clusters
    // exist on testdata and every pair-connected doc shares a label
    assert(byCluster.exists(_._2.size > 1))
    val edges = TextDedup.jaccardPairs(docs, n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val lbl = out.map(r => r._1 -> r._2).toMap
    edges.foreach { case (a, b) => assert(lbl(a) == lbl(b), s"$a-$b split") }
  }

  // ---- q99 epoch-capped mixture planning ----

  test("mix plan: caps respected, budget exhausted, uncapped share one water level") {
    val rows = CorpusStatsQueries.entries("q99_mix_plan")(spark, sf001)
      .as[(String, Long, Double, Double, Double, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    // epochs never exceed the cap; capped rows sit exactly at it
    rows.foreach { case (lang, _, _, _, epochs, capped) =>
      assert(epochs <= 1.2 + 1e-9, s"$lang over cap")
      if (capped) assert(math.abs(epochs - 1.2) < 1e-9, s"$lang capped but not at cap")
      else assert(epochs < 1.2, s"$lang uncapped at cap")
    }
    // the full budget (total tokens) is allocated (r2 output rounding slack)
    val budget = rows.map(_._2).sum.toDouble
    assert(math.abs(rows.map(_._4).sum - budget) < 1.0,
      s"allocated ${rows.map(_._4).sum} of $budget")
    // water-filling optimality: every uncapped source gets alloc ∝ w
    // (same remaining-budget / remaining-weight ratio)
    val levels = rows.filter(!_._6).map(r => r._4 / r._3)
    assert(levels.nonEmpty) // testdata must exercise the uncapped branch
    assert(rows.exists(_._6)) // ... and the capped branch
    levels.foreach(l => assert(math.abs(l - levels.head) / levels.head < 1e-3))
  }

  test("mix plan: driver-side bounded fit is bit-equal to the distributed fold") {
    // the r16 altitude change (rounds on the collected |langs|-row
    // table) must emit the exact plan the pre-r16 fold did — Num.j is
    // the JVM twin of the r8 column snap, so every w/cap/alloc value
    // and every frozen flag is compared with ==, not a tolerance.
    // Documented assumption (r16 advice): the SHARED denominators
    // (totPa, den, frozenCap) are unsnapped double sums accumulated in
    // lang-asc order on the driver but partition-dependent order in
    // the fold; the == pin relies on the r8 snap absorbing last-ulp
    // summation-order differences. A sum landing within half an ulp of
    // an r8 snap boundary could break this pin WITHOUT either form
    // being wrong — if this test ever fails with every value equal at
    // 7 decimals, suspect that boundary case (and this corpus' ≤10
    // langs × smooth weights make it astronomically unlikely), not a
    // logic regression.
    val d = graft.Tables.load(spark, sf001, "documents")
    val cols = Seq("lang", "n_tokens", "b", "w", "cap", "alloc", "frozen")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).orderBy(col("lang"))
        .as[(String, Long, Double, Double, Double, Double, Boolean)]
        .collect().toSeq
    val fit = dump(CorpusStatsQueries.mixPlanRaw(d))
    val fold = dump(CorpusStatsQueries.mixPlanDistributed(d))
    assert(fit.nonEmpty && fit == fold)
  }

  test("mix plan: the collected per-lang aggregation registers with the plan-gate walk") {
    // the driver-side fit hides the corpus-scale groupBy behind a
    // collect — Pin.record must surface its physical plan to an
    // active capture so PlanGate keeps inspecting the heavy stage
    val d = graft.Tables.load(spark, sf001, "documents")
    val (_, recorded) = graft.operators.Pin.capturing {
      CorpusStatsQueries.mixPlanRaw(d)
    }
    assert(recorded.exists(_.toString.contains("n_tokens")),
      "per-lang aggregation plan not captured")
  }

  // ---- q103 epoch expansion ----

  test("epoch expand: copy_idx contiguous per doc, subsample and upsample " +
    "branches both exercised, totals reconcile with the report") {
    val d = graft.Tables.load(spark, sf001, "documents")
    val exp = CorpusStatsQueries.epochExpand(d)
      .select("doc_id", "copy_idx").as[(Long, Long)].collect().toSeq
    // contiguous 1..copies per doc
    exp.groupBy(_._1).foreach { case (id, rows) =>
      val idxs = rows.map(_._2).sorted
      assert(idxs == (1L to idxs.size), s"doc $id gapped copies")
    }
    // subsampling: some docs absent (en runs at < 1 epoch);
    // upsampling: some docs appear twice (capped langs at 1.2)
    val perDoc = exp.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perDoc.size < d.count())
    assert(perDoc.values.exists(_ >= 2))
    // totals match the q103 report
    val report = CorpusStatsQueries.entries("q103_epoch_expand")(spark, sf001)
      .select("copies_out").as[Long].collect().sum
    assert(exp.size.toLong == report)
  }

  // ---- q100 MMR diversity-aware top-k ----

  test("mmr: skips a near-duplicate of the first pick in favor of a diverse result") {
    // A ~ A' nearly identical; B relevant but diverse; C far. Pure
    // top-3 by relevance = A, A', B — MMR must reorder to A, B, A'.
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)), // query
      (1L, Seq(0.9f, 0.436f, 0f)), // A   rel≈0.90
      (2L, Seq(0.89f, 0.456f, 0f)), // A'  rel≈0.89, sim(A,A')≈1
      (3L, Seq(0.85f, -0.527f, 0f)), // B   rel≈0.85, sim(A,B)≈0.53
      (4L, Seq(0.2f, 0f, 0.98f)) // C   rel≈0.20
    ).toDF("vec_id", "embedding")
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "unrolled" -> Similarity.mmrTopK(emb, col("vec_id") === 0, m = 4, k = 3, lam = 0.75),
      "fused" -> Similarity.mmrTopKFused(emb, col("vec_id") === 0, m = 4, k = 3, lam = 0.75)
    ).foreach { case (name, df) =>
      val got = df.select("pick", "nbr_id")
        .as[(Int, Long)].collect().toSeq.sortBy(_._1)
      assert(got == Seq((1, 1L), (2, 3L), (3, 2L)), name)
    }
  }

  test("mmr: matches a plain-Scala greedy reference on seeded random vectors") {
    val rnd = new scala.util.Random(42)
    val dim = 6
    val vecs: Map[Long, Array[Float]] =
      (0L until 20L).map(id => id -> Array.fill(dim)(rnd.nextFloat() - 0.5f)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val lam = 0.75; val m = 6; val k = 4
    def refMmr(qid: Long): Seq[(Int, Long)] = {
      val rel = vecs.collect { case (id, v) if id != qid =>
        id -> Num.j(cos(vecs(qid), v), 4) }.toMap
      val cand = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(m).map(_._1)
      val picks = scala.collection.mutable.ArrayBuffer[Long]()
      (1 to k).foreach { _ =>
        val best = cand.filterNot(picks.contains).minBy { c =>
          val ms = picks.map(s => Num.j(cos(vecs(c), vecs(s)), 4))
            .foldLeft(0.0)(math.max)
          val sc = if (picks.isEmpty) Num.j(lam * rel(c), 4)
          else Num.j(lam * rel(c) - (1 - lam) * ms, 4)
          (-sc, c)
        }
        picks += best
      }
      picks.zipWithIndex.map { case (id, i) => (i + 1, id) }.toSeq
    }
    val df = vecs.toSeq.sortBy(_._1)
      .map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val queries = Seq(0L, 7L, 13L)
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "unrolled" -> Similarity.mmrTopK(df, col("vec_id").isin(queries: _*), m, k, lam),
      "fused" -> Similarity.mmrTopKFused(df, col("vec_id").isin(queries: _*), m, k, lam)
    ).foreach { case (name, out) =>
      val got = out.select("query_id", "pick", "nbr_id")
        .as[(Long, Int, Long)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)).toMap
      queries.foreach(q => assert(got(q) == refMmr(q), s"query $q diverged ($name)"))
    }
  }

  test("mmr: fused aggregator is bit-equal to the unrolled rounds on real embeddings") {
    // the q100 primary moved to the fused form in r16 — every
    // (query_id, pick, nbr_id, SCORE) row must match the unrolled
    // plan exactly, doubles compared with ==, on the graded inputs
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "pick", "nbr_id", "score")
        .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    val fused = dump(Similarity.mmrTopKFused(emb, col("vec_id") % 50 === 0, 8, 3, 0.75))
    val unrolled = dump(Similarity.mmrTopK(emb, col("vec_id") % 50 === 0, 8, 3, 0.75))
    assert(fused.nonEmpty && fused == unrolled)
  }

  // ---- q105 end-to-end corpus pipeline ----

  test("corpus pipeline: output is exactly the gated+kept+train set, " +
    "contiguously ranked") {
    val d = graft.Tables.load(spark, sf001, "documents")
    val out = CorpusStatsQueries.entries("q105_corpus_pipeline")(spark, sf001)
      .as[(Long, Long, String)].collect().toSeq
    // contiguous 1..n positions
    assert(out.map(_._1).sorted == (1L to out.size))
    // set equality with the independently-composed stages
    val expected = CorpusStatsQueries.canonicalVerdicts(d)
      .filter(col("kept") && col("quality_score") >= 0.45)
      .join(d, "doc_id")
      .withColumn("split", graft.functions.TextFunctions.splitAssign(col("doc_id")))
      .filter(col("split") === "train")
      .select("doc_id").as[Long].collect().toSet
    assert(out.map(_._2).toSet == expected && out.nonEmpty)
    // the gate actually gates: strictly fewer docs than kept-only
    val keptOnly = CorpusStatsQueries.canonicalVerdicts(d)
      .filter(col("kept")).count()
    assert(out.size < keptOnly)
  }

  // ---- q87 PageRank ----

  test("pagerank: symmetric triangle stays uniform at 1/n") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val pr = Graph.pageRank(edges, iters = 3)
      .select("node", "pr").as[(Long, Double)].collect().toMap
    val third = 1.0 / 3.0
    // every node's rank stays the (snapped) fixed point 1/3
    assert(pr.values.toSet.size == 1)
    assert(math.abs(pr(1L) - third) < 1e-6)
  }

  test("pagerank: star center outranks leaves; total mass ≈ 1") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val pr = Graph.pageRank(edges, iters = 3)
      .select("node", "pr").as[(Long, Double)].collect().toMap
    assert(pr(1L) > pr(2L))
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L))
    assert(math.abs(pr.values.sum - 1.0) < 1e-4)
  }

  test("pagerank: iteration-1 star value matches the hand formula") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val pr = Graph.pageRank(edges, iters = 1)
      .select("node", "pr").as[(Long, Double)].collect().toMap
    def r8(x: Double) =
      math.floor(math.floor(x * 1e12 + 0.5) / 1e12 * 1e8 + 0.5) / 1e8
    val base = (1.0 - 0.85) / 4.0
    assert(pr(1L) == r8(base + 0.85 * (3 * (0.25 / 1.0))))
    assert(pr(2L) == r8(base + 0.85 * (0.25 / 3.0)))
  }

  test("pagerank directed: dangling mass is redistributed, Σpr stays 1") {
    // A→B→C with C dangling: the naive update would leak C's mass
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Graph.pageRank(edges, iters = 1, directed = true)
      .select("node", "deg", "pr").as[(Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // out-degrees: A=1, B=1, C=0 (dangling)
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L && got(3L)._1 == 0L)
    val third = 1.0 / 3.0
    val base = (1.0 - 0.85) / 3.0
    val dmShare = third / 3.0 // C's mass, uniform over n=3
    assert(math.abs(got(1L)._2 - (base + 0.85 * dmShare)) < 1e-6)
    assert(math.abs(got(2L)._2 - (base + 0.85 * (third + dmShare))) < 1e-6)
    assert(math.abs(got(3L)._2 - (base + 0.85 * (third + dmShare))) < 1e-6)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-6)
  }

  // ---- q89/q90 incremental batch-vs-corpus dedup + novelty ----

  test("incremental dedup: exact copy, near copy, and novel doc get distinct verdicts") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "alpha  beta gamma delta epsilon zeta eta theta"), // ws-normalized exact copy of 1
      (102L, "one two three four five six seven eight nine inserted ten"), // near copy of 2
      (103L, "completely different content with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val got = TextDedup.incrementalDedup(batch,
      TextDedup.corpusIndex(corpus, n = 3), threshold = 0.4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(101L) == (("dup_exact", 1L)))
    assert(got(102L)._1 == "dup_near" && got(102L)._2 >= 1L)
    assert(got(103L) == (("new", 0L)))
  }

  test("incremental dedup: exact verdict wins even when the near path would also fire") {
    // batch doc is an exact copy — it must be gated OUT of the LSH
    // path and report its exact-copy count, not near pairs
    val corpus = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val got = TextDedup.incrementalDedup(batch,
      TextDedup.corpusIndex(corpus, n = 3), threshold = 0.4)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((100L, "dup_exact", 2L)))
  }

  test("novelty: all-seen → 0.0, all-new → 1.0, half-seen → 0.5") {
    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b c d e"),   // 3 shingles, all in corpus
      (11L, "x y z w v"),   // 3 shingles, none in corpus
      (12L, "a b c x y z")) // 4 shingles: "a b c" seen, others novel
      .toDF("doc_id", "text")
    val got = TextDedup.noveltyAgainstCorpus(batch, corpus, n = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(10L) == ((3L, 0.0)))
    assert(got(11L) == ((3L, 1.0)))
    assert(got(12L) == ((4L, 0.75)))
  }

  test("novelty: docs shorter than n tokens emit no row") {
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b"), (11L, "a b c")).toDF("doc_id", "text")
    val ids = TextDedup.noveltyAgainstCorpus(batch, corpus, n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(11L))
  }

  test("pagerank directed: multi-round mass conservation on a dangling-heavy graph") {
    // two sources point at two sinks — half the graph is dangling
    val edges = Seq((1L, 3L), (2L, 4L), (1L, 4L)).toDF("id_a", "id_b")
    val pr = Graph.pageRank(edges, iters = 4, directed = true)
      .select("pr").as[Double].collect()
    assert(pr.length == 4 && math.abs(pr.sum - 1.0) < 1e-5)
  }

}
