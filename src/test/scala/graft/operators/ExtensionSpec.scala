package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.Tables
import graft.functions.TextFunctions

/** Hand-computed + cross-checked behavior of the LLM-pipeline tier
  * operators. Everything here is deterministic: hashes are md5-derived,
  * LSH planes are fixed constants, so assertions on the testdata are
  * exact, not statistical. */
class ExtensionSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("tokens/shingles handle empties and short docs") {
    val df = Seq(("a b  c", 1L), ("onlyone", 2L), ("", 3L))
      .toDF("text", "doc_id")
    val toks = df.select(TextFunctions.tokenCount($"text")).as[Int].collect()
    assert(toks.sameElements(Array(3, 1, 0)))
    val sh = df.select(size(TextFunctions.shingles($"text", 3))).as[Int].collect()
    assert(sh.sameElements(Array(1, 0, 0)))
  }

  test("langId picks marker language, und when none") {
    val df = Seq("the quick fox", "le chat et la", "xyzzy plugh").toDF("text")
    val out = df.select(TextFunctions.langId($"text")).as[String].collect()
    assert(out.sameElements(Array("en", "fr", "und")))
  }

  test("content dedup groups normalized duplicates") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other doc"))
      .toDF("doc_id", "text")
    val out = TextDedup.contentDedup(df).orderBy("canonical_id")
      .select("canonical_id", "copies").as[(Long, Long)].collect()
    assert(out.sameElements(Array((1L, 2L), (3L, 1L))))
  }

  test("jaccard pairs: identical docs score 1, disjoint drop out") {
    val df = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
    val out = TextDedup.jaccardPairs(df, n = 2, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(out.sameElements(Array((1L, 2L, 1.0))))
  }

  test("minhash LSH finds every exact-jaccard pair on testdata (τ=0.5)") {
    val docs = Tables.load(spark, sf, "documents")
    val exact = TextDedup.jaccardPairs(docs, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = TextDedup.minhashDedup(docs, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact) // deterministic given fixed hash constants
  }

  test("simhash of identical docs is identical, hamming 0") {
    val df = Seq((1L, "spark scale data"), (2L, "spark scale data"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.simhashPairs(df, maxHamming = 0)
      .as[(Long, Long, Long)].collect()
    assert(pairs.sameElements(Array((1L, 2L, 0L))))
  }

  test("cosine: hand-computed on unit vectors") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(df, threshold = 0.5)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    // cos(v1,v3) = cos(v2,v3) = 1/√2 ≈ 0.7071; cos(v1,v2) = 0
    assert(pairs == Set((1L, 3L, 0.7071), (2L, 3L, 0.7071)))
  }

  test("blocked tile join ≡ all-pairs cosinePairs on arbitrary vectors") {
    // The q87/q181/q79 edge source (cosinePairsBlocked) must emit the
    // EXACT all-pairs edge set at any threshold — blocking is a plan
    // reshaping, never a candidate filter. Property over random vector
    // sets and block counts (including nBlocks > n, empty blocks, and
    // a threshold low enough that most pairs qualify).
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vecsGen = for {
      n <- Gen.chooseNum(2, 24)
      dim <- Gen.oneOf(2, 3, 8)
      nBlocks <- Gen.oneOf(0, 1, 2, 5, 32) // 0 = size-derived default
      tau <- Gen.oneOf(-0.5, 0.1, 0.35, 0.9)
      vs <- Gen.listOfN(n * dim, Gen.chooseNum(-5, 5).map(_.toFloat))
    } yield (vs.grouped(dim).toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }, nBlocks, tau)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(vecsGen) { case (rows, nBlocks, tau) =>
        // zero vectors make cosine NaN in both paths — keep them out
        val nz = rows.filter(_._2.exists(_ != 0.0f))
        nz.size >= 2 && {
          val df = nz.toDF("vec_id", "embedding")
          def set(d: org.apache.spark.sql.DataFrame) =
            d.as[(Long, Long, Double)].collect().toSet
          set(Similarity.cosinePairsBlocked(df, tau, nBlocks = nBlocks)) ==
            set(Similarity.cosinePairs(df, tau))
        } || nz.size < 2
      })
    assert(res.passed, res.status.toString)
  }

  test("deriveBlocks: floored at 8, grows ∝ corpus size, capped at 1024") {
    // plan-statistics only — none of these frames materialize. range(n)
    // carries an 8-byte/row size estimate, so estRows = n/32.
    def b(n: Long) = Similarity.deriveBlocks(spark.range(n).toDF("vec_id"))
    assert(b(1000) == 8, "small corpora keep the round-11 shape")
    val mid = b(32L * 32768L * 100)    // estRows ≈ 3.3M -> ~100 blocks
    assert(mid > 64 && mid <= 128, s"mid-size corpus derived B=$mid")
    // rows-per-block stays ~constant: 10x the data -> ~10x the blocks
    val mid10 = b(32L * 32768L * 1000)
    assert(mid10 > 8 * mid && mid10 < 12 * mid, s"B=$mid vs 10x B=$mid10")
    assert(b(3_000_000_000L) == 1024, "cap bounds the tile relation")
  }

  test("incrementalPairs ≡ all-pairs minus corpus-internal on arbitrary vectors") {
    // q183 / StreamEmbPairs contract as a property: the increment a
    // batch introduces over a corpus is EXACTLY the full edge set of
    // (corpus ∪ batch) minus the corpus-internal edges.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      nc <- Gen.chooseNum(1, 10)
      nb <- Gen.chooseNum(1, 8)
      dim <- Gen.oneOf(2, 4)
      tau <- Gen.oneOf(0.0, 0.35, 0.8)
      vs <- Gen.listOfN((nc + nb) * dim, Gen.chooseNum(-4, 4).map(_.toFloat))
    } yield {
      val rows = vs.grouped(dim).toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }
        .filter(_._2.exists(_ != 0.0f)) // zero vectors: NaN cosine both paths
      (rows.take(nc), rows.drop(nc), tau)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(gen) { case (corpusRows, batchRows, tau) =>
        corpusRows.isEmpty || batchRows.isEmpty || {
          def set(d: org.apache.spark.sql.DataFrame) =
            d.as[(Long, Long, Double)].collect().toSet
          val corpus = corpusRows.toDF("vec_id", "embedding")
          val batch = batchRows.toDF("vec_id", "embedding")
          val everything = (corpusRows ++ batchRows).toDF("vec_id", "embedding")
          set(Similarity.incrementalPairs(batch, corpus, tau, nBlocks = 4)) ==
            set(Similarity.cosinePairs(everything, tau)) --
              set(Similarity.cosinePairs(corpus, tau))
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("fused VecLshKeys equals the composed per-table lshKey form") {
    val emb = Tables.load(spark, sf, "embeddings")
    val (numTables, numPlanes, dim) = (8, 6, 64)
    val planeMatrix: IndexedSeq[IndexedSeq[Double]] =
      for (t <- 0 until numTables; p <- 0 until numPlanes)
        yield IndexedSeq.tabulate(dim)(j => Similarity.planeSign(t, p, j))
    val fused = emb.select(col("vec_id"),
      posexplode(graft.plans.VectorFunctions.vec_lsh_keys(
        col("embedding"), planeMatrix, numPlanes)).as(Seq("t", "key")))
      .select(col("vec_id"), col("t"), col("key"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val composed = emb.select(col("vec_id"),
      explode(array((0 until numTables).map(t =>
        struct(lit(t).as("t"),
          Similarity.lshKey(col("embedding"), t, numPlanes, dim).as("key"))): _*))
        .as("tk"))
      .select(col("vec_id"), col("tk.t"), col("tk.key"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fused == composed)
  }

  test("vector expressions reject non-array input at analysis time") {
    val df = Seq((1L, "notavector")).toDF("id", "s")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.plans.VectorFunctions.vec_lsh_keys(
        col("s"), IndexedSeq(IndexedSeq(1.0, -1.0)), 1)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.plans.VectorFunctions.vec_cosine(col("s"), col("s"))).collect()
    }
  }

  test("VecLshKeys agrees between int and float element arrays") {
    // same logical vectors in two element types must bucket identically
    // (interpreted and codegen paths share one element-access helper)
    val planes = IndexedSeq(
      IndexedSeq(1.0, -1.0, 1.0), IndexedSeq(-1.0, 1.0, 1.0))
    val fInts = Seq((1L, Array(3, -2, 5)), (2L, Array(-1, 4, 0)))
      .toDF("id", "v")
    val fFloats = Seq((1L, Array(3.0f, -2.0f, 5.0f)), (2L, Array(-1.0f, 4.0f, 0.0f)))
      .toDF("id", "v")
    def keys(df: org.apache.spark.sql.DataFrame) = df.select(col("id"),
      graft.plans.VectorFunctions.vec_lsh_keys(col("v"), planes, 1).as("k"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(keys(fInts) == keys(fFloats))
  }

  test("LSH ANN recall vs brute force on testdata") {
    val emb = Tables.load(spark, sf, "embeddings")
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, pred, 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(emb, pred, 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall") // deterministic for fixed planes
  }

  test("IVF ANN recall vs brute force on testdata") {
    val emb = Tables.load(spark, sf, "embeddings")
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, pred, 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, pred, 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall") // deterministic for fixed centroids
  }

  test("multimodal stub pipeline: features match hand computation") {
    val df = Seq((3L, "abc", 3L)).toDF("doc_id", "text", "n_chars")
    val out = Multimodal.extractFeatures(Multimodal.asMedia(df)).collect().head
    assert(out.getString(1) == "image/png") // 3 % 3 == 0
    assert(out.getInt(2) == 3)
    assert(out.getDouble(3) == 98.0) // mean of 'a','b','c' = (97+98+99)/3
    assert(out.getInt(4) == 99)
    assert(out.getInt(5) == 1)
  }

  test("multimodal decode is iterator-based, no shuffle in the plan") {
    val docs = Tables.load(spark, sf, "documents")
    val plan = Multimodal.extractFeatures(Multimodal.asMedia(docs))
      .queryExecution.executedPlan.toString
    // The only Exchange allowed is the unsplittable-input scan spread
    // (Tables.load): a round-robin directly over the parquet scan,
    // BELOW the decode — a no-op at real scale (many row groups). The
    // decode itself must never shuffle the payload: no Exchange above
    // MapPartitions, and none keyed on data.
    val nonSpread = """Exchange (?!RoundRobinPartitioning)""".r.findAllIn(plan)
    assert(nonSpread.isEmpty, s"unexpected shuffle:\n$plan")
    assert(!plan.contains("HashPartitioning"), s"keyed shuffle of payload:\n$plan")
  }
}
