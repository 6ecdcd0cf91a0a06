package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge (upsert + SCD2), HeavyHitters (Misra–Gries), Profiler. */
class LakehouseSpec extends SparkSpec {
  import spark.implicits._

  // ---- Merge.upsert ----

  test("upsert: matched rows update, unmatched keep, new keys insert") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "v", "x")
    val changes = Seq((2L, "B", 99.0), (9L, "z", 1.0)).toDF("k", "v", "x")
    val got = Merge.upsert(base, changes, Seq("k"))
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 10.0), (2L, "B", 99.0),
      (3L, "c", 30.0), (9L, "z", 1.0)))
  }

  // ---- Merge.scd2 ----

  test("scd2: consecutive repeats collapse; intervals chain; last is open") {
    val log = Seq(
      ("u1", "x", 10L, 1L), ("u1", "x", 20L, 2L), ("u1", "y", 30L, 3L),
      ("u1", "y", 40L, 4L), ("u1", "x", 50L, 5L),
      ("u2", "a", 15L, 6L))
      .toDF("k", "state", "ts", "id")
    val got = Merge.scd2(log, "k", "state", "ts", "id")
      .select("k", "version", "state", "effective_from", "effective_to")
      .as[(String, Long, String, Long, Option[Long])].collect().toSet
    assert(got == Set(
      ("u1", 1L, "x", 10L, Some(30L)),
      ("u1", 2L, "y", 30L, Some(50L)),
      ("u1", 3L, "x", 50L, None),
      ("u2", 1L, "a", 15L, None)))
  }

  test("scd2Current returns exactly the open version per key") {
    val log = Seq(("u1", "x", 1L, 1L), ("u1", "y", 2L, 2L),
      ("u2", "a", 1L, 3L)).toDF("k", "state", "ts", "id")
    val cur = Merge.scd2Current(Merge.scd2(log, "k", "state", "ts", "id"), "k")
      .select("k", "state").as[(String, String)].collect().toSet
    assert(cur == Set(("u1", "y"), ("u2", "a")))
  }

  // ---- HeavyHitters ----

  /** Zipf-ish corpus: item i (1 ≤ i ≤ 50) appears 1000/i times, plus
    * 500 singleton items. */
  private def zipfDf = {
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(f"w$i%03d")) ++
      (0 until 500).map(i => f"rare$i%03d")
    rows.toDF("item")
  }

  test("Misra–Gries bound: f − N/(cap+1) ≤ estimate ≤ f; heavy items present") {
    val cap = 20
    val df = zipfDf.repartition(7)
    val n = df.count()
    val exact = df.groupBy("item").count()
      .as[(String, Long)].collect().toMap
    val mg = df.agg(HeavyHitters.sketch(col("item"), cap).as("mg"))
      .head().getMap[String, Long](0)
    val slack = n / (cap + 1)
    assert(mg.size <= cap)
    mg.foreach { case (k, est) =>
      val f = exact(k)
      assert(est <= f && est >= f - slack, s"$k: est=$est f=$f slack=$slack")
    }
    exact.filter(_._2 > slack).keys.foreach { k =>
      assert(mg.contains(k), s"heavy item $k (f=${exact(k)}) missing")
    }
  }

  test("two-pass exactTopK equals the direct exact top-k, any partitioning") {
    // cap 200 ⇒ slack N/201 ≈ 25 < f(top-10) = 100 ⇒ exactness guaranteed
    val df = zipfDf
    val expected = df.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item")).limit(10)
      .as[(String, Long)].collect().toSeq
    for (parts <- Seq(1, 7)) {
      val got = HeavyHitters.exactTopK(df.repartition(parts), col("item"), 10, 200)
        .as[(String, Long)].collect().toSeq
      assert(got == expected, s"parts=$parts")
    }
  }

  test("exactTopK falls back to the direct exact top-k when the sketch cannot certify") {
    // 2000 distinct singletons, cap 10 ⇒ slack N/11 ≈ 181 ≫ 1: the
    // sketch's candidate set is arbitrary, so the certified path is
    // impossible — the fallback must take over and still produce the
    // deterministic exact answer (all counts 1, item-asc tiebreak),
    // never the sketch's maybe-wrong ranking
    val flat = (0 until 2000).map(i => s"u$i").toDF("item")
    val expected = flat.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item")).limit(10)
      .as[(String, Long)].collect().toSeq
    val (res, certified) =
      HeavyHitters.exactTopKInfo(flat, col("item"), 10, 10)
    assert(!certified, "a flat singleton corpus must not certify at cap 10")
    assert(res.as[(String, Long)].collect().toSeq == expected)
  }

  test("exactTopK certifies (no fallback) when the top-k clear the MG slack") {
    // the zipf corpus from the two-pass test: cap 200 ⇒ slack ≈ 25 <
    // f(top-10) = 100, so the sketch path must be the one that answers
    val (_, certified) =
      HeavyHitters.exactTopKInfo(zipfDf, col("item"), 10, 200)
    assert(certified)
  }

  test("exactTopK stays exact below the slack when candidates cover every row") {
    // 50 distinct ≤ cap 200: Misra–Gries keeps everything, coverage
    // certifies exactness even though counts are tiny
    val small = (0 until 50).flatMap(i => Seq.fill(i % 3 + 1)(s"v$i")).toDF("item")
    val expected = small.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item")).limit(10)
      .as[(String, Long)].collect().toSeq
    val got = HeavyHitters.exactTopK(small, col("item"), 10, 200)
      .as[(String, Long)].collect().toSeq
    assert(got == expected)
  }

  // ---- q71 duplicated-substring spans ----

  test("q71: span boundaries, multiplicity, and full-copy coverage are exact") {
    // synthetic corpus with known duplicated-substring structure
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val a20 = toks("a", 20)
    val a8 = toks("a", 8)
    val docs = Seq(
      (1L, a20), // verbatim copy of 2 → one full-document span
      (2L, a20),
      (3L, s"${toks("b", 10)} $a8 ${toks("c", 10)}"), // one interior 8-token run
      (4L, toks("d", 30)), // no duplicated 8-gram → absent
      (5L, s"$a8 ${toks("e", 5)} $a8")) // two separated runs → two islands
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("q71spec").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.LakehouseQueries.q71DupSpans(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 20L), // every 8-gram shared → island covers all tokens
      (2L, 1L, 20L),
      (3L, 1L, 8L), // only the a1..a8 window; boundary 8-grams unique
      (5L, 2L, 16L))) // two islands of 8 tokens each
  }

  // ---- q76 semantic dedup ----

  test("q76: cluster-scoped pairs are a subset of the all-pairs scan") {
    val dir = "/root/testdata/sf0.001"
    val scoped = graft.queries.LakehouseQueries.q76SemDedup(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val all = Similarity.cosinePairs(
      graft.Tables.load(spark, dir, "embeddings"), 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(scoped.nonEmpty && scoped.subsetOf(all))
    // scoping must actually prune (otherwise it's the quadratic scan)
    assert(scoped.size < all.size)
  }

  // ---- Graph triangles ----

  test("triangles: each enumerated once; per-node membership exact") {
    // K4 on {1,2,3,4} (4 triangles) + a pendant edge (4,5) + an
    // isolated triangle {10,11,12}
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("id_a", "id_b")
    val tris = Graph.triangles(edges)
      .as[(Long, Long, Long)].collect().toSet
    assert(tris == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L),
      (2L, 3L, 4L), (10L, 11L, 12L)))
    val counts = Graph.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    // each K4 node is in C(3,2)=3 triangles; pendant node 5 in none
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("triangles: degree orientation ≡ naive middle-node join on a skewed star") {
    // hub 0 touches every leaf (degree 203) — the adversarial shape
    // for the naive join (C(203,2) ≈ 20k wedges at the hub; oriented,
    // the hub is always dst, so it forms ZERO wedges)
    val star = (1L to 200L).map(i => (0L, i))
    val extra = Seq((1L, 2L), (2L, 3L), (3L, 4L)) // closes (0,1,2),(0,2,3),(0,3,4)
    val edges = (star ++ extra).toDF("id_a", "id_b").cache()
    val naive = edges.as("e1")
      .join(edges.as("e2"), col("e1.id_b") === col("e2.id_a"))
      .join(edges.as("e3"),
        col("e3.id_a") === col("e1.id_a") && col("e3.id_b") === col("e2.id_b"))
      .select(col("e1.id_a"), col("e1.id_b"), col("e2.id_b"))
      .as[(Long, Long, Long)].collect().toSet
    val oriented = Graph.triangles(edges).as[(Long, Long, Long)].collect().toSet
    assert(oriented == naive &&
      oriented == Set((0L, 1L, 2L), (0L, 2L, 3L), (0L, 3L, 4L)))
  }

  test("triangles: orientation ≡ naive on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = (0 until 300).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct.toDF("id_a", "id_b").cache()
    val naive = edges.as("e1")
      .join(edges.as("e2"), col("e1.id_b") === col("e2.id_a"))
      .join(edges.as("e3"),
        col("e3.id_a") === col("e1.id_a") && col("e3.id_b") === col("e2.id_b"))
      .select(col("e1.id_a"), col("e1.id_b"), col("e2.id_b"))
      .as[(Long, Long, Long)].collect().toSet
    val got = Graph.triangles(edges).as[(Long, Long, Long)].collect().toSet
    assert(got == naive && got.nonEmpty)
  }

  // ---- Profiler ----

  test("profile: nulls, distincts, typed min/max per column kind") {
    import graft.operators.Profiler._
    val df = Seq(
      (Some(1L), Some("b"), Some("2024-01-01 00:00:10")),
      (Some(3L), None, Some("2024-01-02 00:00:10")),
      (None, Some("a"), None),
      (Some(3L), Some("a"), Some("2024-01-02 00:00:10")))
      .toDF("num", "str", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = profile(df, Seq(ColSpec("num", KNum), ColSpec("str", KStr),
      ColSpec("ts", KTs)))
      .collect().map(r => r.getString(0) -> r).toMap
    val num = got("num")
    assert(num.getLong(1) == 3 && num.getLong(2) == 1 && num.getLong(3) == 2)
    assert(num.getDouble(4) == 1.0 && num.getDouble(5) == 3.0)
    assert(num.isNullAt(6) && num.isNullAt(7))
    val str = got("str")
    assert(str.getLong(1) == 3 && str.getLong(2) == 1 && str.getLong(3) == 2)
    assert(str.isNullAt(4) && str.getString(6) == "a" && str.getString(7) == "b")
    val ts = got("ts")
    assert(ts.getLong(1) == 3 && ts.getLong(2) == 1 && ts.getLong(3) == 2)
    // epoch seconds, UTC session timezone
    assert(ts.getDouble(4) == 1704067210.0 && ts.getDouble(5) == 1704153610.0)
  }

  test("q76: cell count grows with corpus size, floor 16, ~constant cell width") {
    import graft.queries.LakehouseQueries.semCellCount
    assert(semCellCount(0) == 16)
    assert(semCellCount(500) == 16) // sf0.01: floor dominates
    assert(semCellCount(2000) == 20) // sf0.1: growth kicks in
    assert(semCellCount(1600) == 16 && semCellCount(1601) == 17)
    // linear growth ⇒ Σ|cell|² ≈ n·target, not n²/const
    assert(semCellCount(10_000_000) == 100_000)
  }

  test("profile: 64-bit ids past 2^53 keep an exact distinct count") {
    import graft.operators.Profiler._
    // adjacent longs above 2^53 collide after the double cast (this
    // repo's 60-bit hash ids are the real-world case); the distinct
    // identity must use the full-fidelity raw view, not num_view
    val base = 1L << 60
    val df = Seq(base, base + 1, base + 1, base + 2, base + 3)
      .toDF("id")
    val got = profile(df, Seq(ColSpec("id", KNum))).collect().head
    assert(got.getLong(3) == 4, s"distinct under-counted: ${got.getLong(3)}")
    // min/max stay on the double view (the cross-engine convention)
    assert(got.getDouble(4) == base.toDouble)
  }
}
