package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The documented outcome of the unique-id precondition of the
  * shingle-set dedup operators and `Winnowing.fingerprintHashes`: the
  * operators do not check it (a guard costs a job per call), and a
  * duplicated id is not merged — each of its rows stays a document of
  * its own. */
class DuplicateIdSpec extends graft.SparkSpec {

  private val a = "the quick brown fox jumps over the lazy dog again"
  private val b = "completely different words about another subject entirely here"
  // id 1 twice: one row equal to doc 2, one unrelated; doc 3 near doc 2
  private def docs = {
    val s = spark
    import s.implicits._
    Seq((1L, a), (1L, b), (2L, a), (3L, a + " extra")).toDF("doc_id", "text")
  }
  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map { case Row(x: Long, y: Long, v: Double) => (x, y, v) }.toSet

  test("shingle-set pair operators: no self-pair, unique-id pairs unaffected") {
    val pairs = Map(
      "jaccardPairs" -> TextDedup.jaccardPairs(docs),
      "prefixJaccardPairs" -> TextDedup.prefixJaccardPairs(docs),
      "minhashDedup" -> TextDedup.minhashDedup(docs),
      "containmentPairs" -> TextDedup.containmentPairs(docs),
      "prefixContainmentPairs" -> TextDedup.prefixContainmentPairs(docs))
      .map { case (n, df) => n -> rows(df) }
    pairs.foreach { case (n, ps) =>
      assert(ps.forall(p => p._1 != p._2), s"$n paired an id with itself: $ps")
      assert(ps.contains((2L, 3L, if (n.contains("ontainment")) 1.0 else 0.8889)),
        s"$n lost the unique-id pair: $ps")
    }
    // id 1's first row is still compared as a document of its own
    assert(pairs("jaccardPairs").contains((1L, 2L, 1.0)))
  }

  test("incrementalDedup: a duplicated batch id gets its id-level verdict once per row") {
    val s = spark
    import s.implicits._
    val got = TextDedup.incrementalDedup(docs,
      TextDedup.corpusIndex(Seq((9L, a)).toDF("doc_id", "text")))
      .filter($"doc_id" === 1L).as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "dup_exact", 1L), (1L, "dup_exact", 1L)))
  }

  test("fingerprintHashes: each row of a duplicated id is fingerprinted on its own") {
    val s = spark
    import s.implicits._
    val one = Winnowing.fingerprintHashes(Seq((1L, a)).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSeq
    val two = Winnowing.fingerprintHashes(Seq((1L, a), (1L, a)).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSeq
    assert(one.nonEmpty)
    assert(two.sorted == (one ++ one).sorted)
  }
}
