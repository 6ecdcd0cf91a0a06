package graft.operators

import graft.SparkSpec

/** EditDistanceJoin vs the definitional brute force (plain-Scala
  * Levenshtein DP over all distinct pairs) — the q-gram count filter,
  * positional filter, and short-string branch must be invisible in the
  * result set. Random corpora use a 3-letter alphabet and lengths
  * 0..10 so gram collisions, ties, and the T ≤ 0 short regime are all
  * dense. */
class EditDistanceJoinSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def brute(ss: Seq[String], k: Int): Set[(String, String, Int)] = {
    val ds = ss.distinct.filter(_ != null)
    (for {
      a <- ds; b <- ds if a < b
      d = lev(a, b) if d <= k
    } yield (a, b, d)).toSet
  }

  private def run(ss: Seq[String], k: Int, q: Int): Set[(String, String, Int)] =
    EditDistanceJoin.selfJoin(ss.toDF("s"), "s", maxDist = k, q = q)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  test("hand case: typo pairs found, distant pairs pruned") {
    val ss = Seq("red bolt", "old bolt", "red bolts", "blue gear", "red bolt")
    val got = run(ss, k = 2, q = 2)
    assert(got.contains(("old bolt", "red bolt", 2)))
    assert(got.contains(("red bolt", "red bolts", 1)))
    assert(got.contains(("old bolt", "red bolts", 3)) === false)
    assert(got === brute(ss, 2))
  }

  test("equivalence vs brute force on random short-alphabet corpora") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val ss = Seq.fill(60)(
        Seq.fill(rnd.nextInt(11))("abc" (rnd.nextInt(3))).mkString)
      for (k <- Seq(1, 2))
        assert(run(ss, k, q = 2) === brute(ss, k),
          s"trial=$trial k=$k")
    }
  }

  test("short strings (T <= 0 regime) and the empty string are complete") {
    val ss = Seq("", "a", "b", "ab", "ba", "abc", "xyz", "abcd")
    for (k <- Seq(1, 2); q <- Seq(2, 3))
      assert(run(ss, k, q) === brute(ss, k), s"k=$k q=$q")
  }

  test("q=3 grams give the brute-force rows") {
    val rnd = new scala.util.Random(11)
    val ss = Seq.fill(40)(
      Seq.fill(2 + rnd.nextInt(8))("abcd" (rnd.nextInt(4))).mkString)
    assert(run(ss, 2, q = 3) === brute(ss, 2))
  }
}
