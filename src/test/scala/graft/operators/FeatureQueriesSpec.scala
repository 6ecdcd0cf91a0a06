package graft.operators

import graft.SparkSpec
import graft.queries.FeatureQueries
import org.apache.spark.sql.functions._

/** Hand-computed and invariant checks for the feature-engineering
  * tier (q107–q114 cores); value-level cross-engine correctness is
  * the DuckDB oracle's job. */
class FeatureQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("PMI: hand-computed value on a fixed corpus") {
    // 5 docs "a b", 5 docs "c d": T=20 tokens, B=10 bigrams,
    // c("a b")=5, c(a)=c(b)=5 → pmi = ln(5·20·20 / (10·5·5)) = ln 8
    val d = (Seq.fill(5)("a b") ++ Seq.fill(5)("c d")).toDF("text")
    val got = FeatureQueries.pmiTable(d)
      .orderBy(col("bigram"))
      .as[(String, Long, Double)].collect().toSeq
    val ln8 = Num.j(math.log(8.0), 6)
    assert(got == Seq(("a b", 5L, ln8), ("c d", 5L, ln8)))
  }

  test("PMI: below-min-count bigrams are dropped") {
    val d = (Seq.fill(5)("x y") ++ Seq.fill(4)("p q")).toDF("text")
    val got = FeatureQueries.pmiTable(d).select(col("bigram"))
      .as[String].collect().toSeq
    assert(got == Seq("x y"))
  }

  test("trend: exact linear data recovers slope/intercept with r2 = 1") {
    // y = 2x + 1 over hours 0..9, single event per hour
    val ev = (0L to 9L).map(h => ("a", 100L + h, 2.0 * h + 1.0))
      .toDF("event_type", "hr", "value")
    val r = FeatureQueries.trendTable(ev).head()
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Double]("slope") == 2.0)
    assert(r.getAs[Double]("intercept") == 1.0)
    assert(r.getAs[Double]("r2") == 1.0)
  }

  test("trend: single-hour group yields null slope, not a crash") {
    val ev = Seq(("b", 5L, 3.0), ("b", 5L, 4.0)).toDF("event_type", "hr", "value")
    val r = FeatureQueries.trendTable(ev).head()
    assert(r.isNullAt(r.fieldIndex("slope")))
    assert(r.isNullAt(r.fieldIndex("r2")))
  }

  test("feature hashing: buckets in range, magnitude bounded by tokens, deterministic") {
    val d = Seq((1L, "w1 w2 w3 w1 w1"), (2L, "z1 z2")).toDF("doc_id", "text")
    val a = FeatureQueries.featureHash(d).collect().toSeq
    val b = FeatureQueries.featureHash(d.repartition(5)).collect().toSeq
    assert(a == b)
    assert(a.forall { r =>
      val bk = r.getAs[Long]("bucket"); bk >= 0 && bk < 64
    })
    val absSum = a.filter(_.getAs[Long]("doc_id") == 1L)
      .map(r => math.abs(r.getAs[Long]("val"))).sum
    assert(absSum <= 5 && absSum >= 1)
  }

  test("winsorized stats: clamped mean sits inside the fences, clips counted") {
    val df = ((1 to 98).map(i => ("g", i.toDouble)) ++
      Seq(("g", -1000.0), ("g", 1000.0))).toDF("k", "v")
    val r = FeatureQueries.winsorizedStats(df, "k", "v").head()
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("n_lo") >= 1L && r.getAs[Long]("n_hi") >= 1L)
    val (p05, p95) = (r.getAs[Double]("p05"), r.getAs[Double]("p95"))
    val mw = r.getAs[Double]("mean_wins")
    assert(mw >= p05 && mw <= p95)
    assert(math.abs(r.getAs[Double]("mean_raw")) > math.abs(mw - 49.5) + 1)
  }

  test("winsorize fences on tie-dense data equal the tied value exactly") {
    // both fence ranks land inside runs of ties (lo == hi) — the case
    // where interpolation forms diverge by 1 ulp across engines; the
    // r8-snapped fence must be the tied value itself, bit-exact
    val df = (1 to 300).map(i => ("g", 10.0 + i % 3)).toDF("k", "v")
    val r = FeatureQueries.winsorizedStats(df, "k", "v").head()
    assert(r.getAs[Double]("p05") == 10.0)
    assert(r.getAs[Double]("p95") == 12.0)
    assert(r.getAs[Long]("n_lo") == 0L && r.getAs[Long]("n_hi") == 0L)
  }

  test("weighted quantiles: hand case + unit weights match type-1 ranks") {
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 2.0))
      .toDF("k", "v", "w")
    val r = Quantiles.weightedQuantiles(df, "k", "v", "w",
      Seq(0.5, 0.9), Seq("wmedian", "wp90")).head()
    assert(r.getAs[Double]("w_total") == 4.0)
    assert(r.getAs[Double]("wmedian") == 2.0)
    assert(r.getAs[Double]("wp90") == 3.0)
    // unit weights: p-th weighted quantile = smallest v with rank ≥ ⌈p·n⌉
    val u = Seq(("u", 10.0, 1.0), ("u", 20.0, 1.0), ("u", 30.0, 1.0),
      ("u", 40.0, 1.0)).toDF("k", "v", "w")
    val r2 = Quantiles.weightedQuantiles(u, "k", "v", "w",
      Seq(0.5, 1.0), Seq("m", "mx")).head()
    assert(r2.getAs[Double]("m") == 20.0)
    assert(r2.getAs[Double]("mx") == 40.0)
  }

  test("chi2 drift: identical halves give zero chi2 everywhere") {
    val d = (1 to 50).flatMap(i => Seq(
      ("ref", "en", 100L), ("cur", "en", 100L),
      ("ref", "de", 700L), ("cur", "de", 700L)))
      .toDF("snap", "lang", "n_chars")
    val rep = FeatureQueries.chi2Report(d)
    assert(rep.count() == 8)
    assert(rep.agg(max(col("chi2"))).head().getDouble(0) == 0.0)
  }

  test("chi2 drift: absent bucket contributes its expected count") {
    // 'fr' only in ref: cur cell has o=0, e>0, chi2 = e
    val d = (Seq.fill(10)(("ref", "fr", 10L)) ++
      Seq.fill(10)(("ref", "en", 10L)) ++ Seq.fill(10)(("cur", "en", 10L)))
      .toDF("snap", "lang", "n_chars")
    val cell = FeatureQueries.chi2Report(d)
      .filter(col("feature") === "lang" && col("bucket") === "fr" &&
        col("snap") === "cur").head()
    assert(cell.getAs[Long]("o") == 0L)
    val e = cell.getAs[Double]("e")
    assert(e > 0 && cell.getAs[Double]("chi2") == e)
  }

  test("KMV source overlap: identical sources → jaccard 1, disjoint → 0") {
    val same = (1 to 30).map(i => ("s1", s"tok$i mid$i")) ++
      (1 to 30).map(i => ("s2", s"tok$i mid$i"))
    val disj = (1 to 30).map(i => ("s3", s"aa$i bb$i"))
    val d = (same ++ disj).toDF("source", "text")
    val rows = FeatureQueries.sourceOverlap(d)
      .orderBy(col("src_a"), col("src_b")).collect()
    assert(rows.length == 3)
    val m = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // s1/s2 share every token; supports < k so estimates are exact
    assert(m(("s1", "s2")).getAs[Double]("jaccard") == 1.0)
    assert(m(("s1", "s3")).getAs[Double]("d_inter") == 0.0)
    assert(m(("s2", "s3")).getAs[Double]("jaccard") == 0.0)
  }

  test("correlation: exact ±1 on linear data, null on a constant column") {
    val d = (1L to 50L).map(i => ("g", i, 2 * i + 3, 100 - i))
      .toDF("g", "q", "p", "dc")
    val r = FeatureQueries.corrFromInts(d).head()
    assert(r.getAs[Double]("c_qty_price") == 1.0)
    assert(r.getAs[Double]("c_qty_disc") == -1.0)
    assert(r.getAs[Double]("c_price_disc") == -1.0)
    val const = (1L to 50L).map(i => ("g", i, 7L, 7L)).toDF("g", "q", "p", "dc")
    val rc = FeatureQueries.corrFromInts(const).head()
    assert(rc.isNullAt(rc.fieldIndex("c_qty_price")))
  }

  test("MAD outliers: known outlier flagged, clean group has none") {
    val d = ((1 to 99).map(i => ("g", i.toDouble)) ++ Seq(("g", 10000.0)) ++
      (1 to 100).map(i => ("h", 50.0 + (i % 5)))).toDF("event_type", "value")
    val rows = FeatureQueries.madOutliers(d, "event_type", "value")
      .orderBy(col("event_type")).collect()
    val g = rows(0)
    assert(g.getAs[Long]("n_outliers") == 1L)
    assert(g.getAs[Double]("max_abs_z") > 3.5)
    val h = rows(1)
    assert(h.getAs[Long]("n_outliers") == 0L)
  }

  test("zipf: constructed power-law corpus fits slope ≈ -1 with high r2") {
    // token i (1..30) appears ⌊120/i⌋ times → freq ∝ 1/rank
    val text = (1 to 30).flatMap(i => Seq.fill(120 / i)(f"tok$i%03d"))
      .mkString(" ")
    val d = Seq(("s1", text)).toDF("source", "text")
    val r = FeatureQueries.zipfSlope(d).head()
    val slope = r.getAs[Double]("zipf_slope")
    assert(slope < -0.9 && slope > -1.1)
    assert(r.getAs[Double]("r2") > 0.98)
  }

  test("interval overlap: bucketed equi-join ≡ naive range join") {
    // 3 users over 2 days; busy hours are the loaded ones
    val rows = Seq.tabulate(200)(i => (1L + i % 3, (i % 40).toLong)) ++
      Seq.fill(60)((1L, 5L)) ++ Seq.fill(60)((2L, 30L))
    val e = rows.toDF("user_id", "hr")
    val got = FeatureQueries.intervalOverlap(e)
      .orderBy(col("user_id"), col("day")).collect().toSeq
    // naive twin: range-predicate join, computed independently
    val hc = e.groupBy(col("hr")).agg(count(lit(1)).as("cnt"))
    val avgc = hc.agg((sum(col("cnt")).cast("double") / count(lit(1))))
      .head().getDouble(0)
    val busy = hc.filter(col("cnt") > avgc).select(col("hr").as("bhr"))
    val sp = e.withColumn("day", expr("hr div 24"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val naive = sp.join(busy, col("bhr").between(col("h0"), col("h1")))
      .groupBy(col("user_id"), col("day"), col("h0"), col("h1"))
      .agg(count(lit(1)).as("n_busy"))
      .orderBy(col("user_id"), col("day")).collect().toSeq
    assert(got == naive && got.nonEmpty)
  }

  test("plan shapes: NB model join and winsorize fences broadcast") {
    import graft.operators.NaiveBayes
    val emb = (1L to 40L).map(i =>
      (i, (i % 3).toInt, Array.fill(4)((i % 7).toFloat))).toDF("vec_id", "label", "embedding")
    val scored = NaiveBayes.scores(emb, NaiveBayes.gaussStats(emb),
      NaiveBayes.logPriors(emb))
    assert(scored.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val li = (1 to 200).map(i => ("A", i.toDouble)).toDF("l_returnflag", "v")
    val w = FeatureQueries.winsorizedStats(li, "l_returnflag", "v")
    assert(w.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("weighted quantiles: brute-force reference on random integer weights") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(_ => ("g" + rnd.nextInt(3),
      rnd.nextInt(50).toDouble, (1 + rnd.nextInt(9)).toDouble))
    val ps = Seq(0.1, 0.5, 0.9)
    val got = Quantiles.weightedQuantiles(rows.toDF("k", "v", "w"),
        "k", "v", "w", ps, Seq("a", "b", "c")).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.map(t => (t._2, t._3)).sortBy(_._1)
      val bigW = sorted.map(_._2).sum
      def q(p: Double): Double = {
        var c = 0.0
        sorted.collectFirst { case (v, w) if { c += w; c >= p * bigW } => v }.get
      }
      assert(got(g) == ((q(0.1), q(0.5), q(0.9))), s"group $g")
    }
  }

  test("curriculum: position is a permutation and nll is non-decreasing") {
    val out = FeatureQueries.q122Curriculum(spark, "/root/testdata/sf0.001")
      .orderBy(col("curriculum_pos")).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("curriculum_pos")).toSeq ==
      (1L to out.length.toLong))
    val nlls = out.map(_.getAs[Double]("nll"))
    assert(nlls.zip(nlls.tail).forall { case (a, b) => a <= b })
  }

  test("perplexity buckets: ordered within language, all docs bucketed") {
    val out = FeatureQueries.q120PerplexityBucket(spark, "/root/testdata/sf0.001")
      .cache()
    val n = out.count()
    assert(n > 0)
    // within a lang: max(head nll) ≤ min(middle nll) is too strict at
    // the boundary (ties share a bucket edge) — check via the fences:
    // every head nll ≤ every tail nll within the same lang
    val agg = out.groupBy(col("lang"), col("bucket"))
      .agg(min(col("nll")).as("lo"), max(col("nll")).as("hi"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    agg.keys.map(_._1).toSet.foreach { l: String =>
      for {
        (_, hHi) <- agg.get((l, "head"))
        (tLo, _) <- agg.get((l, "tail"))
      } assert(hHi <= tLo, s"lang $l: head max > tail min")
    }
    assert(out.select(col("bucket")).distinct().count() <= 3)
  }

  test("datasheet: totals reconcile and rates are sane") {
    val ds = FeatureQueries.q121Datasheet(spark, "/root/testdata/sf0.001")
      .collect()
    assert(ds.nonEmpty)
    assert(ds.map(_.getAs[Long]("n_docs")).sum == 500L)
    ds.foreach { r =>
      val dup = r.getAs[Double]("dup_rate")
      assert(dup >= 0.0 && dup < 1.0)
      val share = r.getAs[Double]("top_lang_share")
      assert(share > 0.0 && share <= 1.0)
      assert(r.getAs[Double]("lang_entropy") >= 0.0)
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_docs"))
    }
  }

  test("rank-limited windows plan as WindowGroupLimit (map-side top-k)") {
    // zipf's top-R tokens and the KMV synopsis bottom-k must not sort
    // the full per-group domain in one reducer: Spark's
    // WindowGroupLimit pushes the rank filter map-side
    val d = (1 to 50).flatMap(i => Seq(("s1", s"a$i b$i"), ("s2", s"c$i d$i")))
      .toDF("source", "text")
    val zipfPlan = FeatureQueries.zipfSlope(d)
      .queryExecution.executedPlan.toString
    assert(zipfPlan.contains("WindowGroupLimit"), zipfPlan.take(500))
    val ovPlan = FeatureQueries.sourceOverlap(d)
      .queryExecution.executedPlan.toString
    assert(ovPlan.contains("WindowGroupLimit"), ovPlan.take(500))
  }

  test("KS drift: zero on identical halves; hand case with smallest-value tie-break") {
    val same = (1 to 100).flatMap(i => Seq(
      ("ref", (i % 7 + 1).toLong * 100, "a b c"),
      ("cur", (i % 7 + 1).toLong * 100, "a b c")))
      .toDF("snap", "n_chars", "text")
    val zero = FeatureQueries.ksDrift(same).collect()
    assert(zero.forall(_.getAs[Double]("ks") == 0.0))
    // ref chars {1,2,3,4}, cur {3,4,5,6}: gap 0.5 first reached at v=2
    val shifted = ((1 to 100).map(i => ("ref", (i % 4 + 1).toLong, "t")) ++
      (1 to 100).map(i => ("cur", (i % 4 + 3).toLong, "t")))
      .toDF("snap", "n_chars", "text")
    val r = FeatureQueries.ksDrift(shifted)
      .filter(col("feature") === "n_chars").head()
    assert(r.getAs[Double]("ks") == 0.5)
    assert(r.getAs[Double]("at_value") == 2.0)
  }

  test("KS drift: no data-bearing SinglePartition exchange in the plan") {
    // the CDF cumsum is range-partitioned with driver-carried offsets
    // (the GlobalOrder shape) — an unpartitioned ORDER BY window (or an
    // empty total window) would funnel the value domain through one
    // reducer at scale. The only SinglePartition hops allowed are the
    // final scalar max's merge, whose child is a partial aggregate
    // (one pre-aggregated row per partition crosses the wire).
    val d = (1 to 200).map(i =>
        (if (i % 2 == 0) "ref" else "cur", (i % 13 + 1).toLong, s"t$i word"))
      .toDF("snap", "n_chars", "text")
    // ksDrift itself materializes eagerly (to release its pins), so
    // the plan to audit is the lazy per-feature builder it runs
    val lines = graft.operators.Pin.scope(FeatureQueries.ksFeatureLazy(
      d, "n_chars", org.apache.spark.sql.functions.col("n_chars").cast("long"))
      .queryExecution.executedPlan.toString.split("\n"))
    val sp = lines.indices.filter(lines(_).contains("Exchange SinglePartition"))
    assert(sp.nonEmpty) // the scalar-max merges are expected to be there
    sp.foreach { i =>
      assert(i + 1 < lines.length && lines(i + 1).contains("partial_"),
        s"SinglePartition exchange over non-aggregated rows:\n" +
          lines.slice(i, (i + 3).min(lines.length)).mkString("\n"))
    }
    // and the cumsum window itself is partitioned
    assert(lines.exists(l => l.contains("windowspecdefinition(_pid")),
      lines.mkString("\n").take(800))
  }

  test("frequency spectrum: hand-computed count-of-counts and shares") {
    val d = Seq("a a a b b c").toDF("text")
    val got = FeatureQueries.freqSpectrum(d)
      .as[(Long, Long, Double, Double)].collect().toSeq
    val third = Num.j(1.0 / 3, 6)
    assert(got == Seq(
      (1L, 1L, third, Num.j(1.0 / 6, 6)),
      (2L, 1L, third, Num.j(2.0 / 6, 6)),
      (3L, 1L, third, Num.j(3.0 / 6, 6))))
  }

  test("skew report: heaviest key first, share and factor as computed") {
    val d = (Seq.fill(60)(7L) ++ Seq.fill(30)(8L) ++ Seq.fill(10)(9L))
      .toDF("user_id")
    val rows = FeatureQueries.skewReport(d, "user_id", 2).collect()
    assert(rows.map(_.getAs[Long]("user_id")).toSeq == Seq(7L, 8L))
    assert(rows.head.getAs[Double]("share") == 0.6)
    // skew factor: 60 / (100/3) = 1.8
    assert(rows.head.getAs[Double]("skew_factor") == 1.8)
  }
}
