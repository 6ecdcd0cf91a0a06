package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Unit pins for the StreamDemo --compare helpers (previously only
  * exercised end-to-end by the demo main): finals selection must keep
  * exactly the highest-batch_id refinement per window key, and the
  * fingerprint must be order-independent, double-snap-tolerant, and
  * honest about empty/divergent inputs (an empty-vs-empty match must
  * NOT read as equivalence — TableVerdict.matches demands rows). */
class StreamFingerprintSpec extends SparkSpec {
  import spark.implicits._

  private val spec = StreamFingerprint.TableSpec(
    "t", Seq("window_start"), Seq("v", "d"))

  test("finals keeps the last refinement per key and drops the batch tag") {
    val df = Seq(
      // key 1: three refinements, batch 7 wins
      (1L, 10L, 1.0, 0L), (1L, 11L, 1.5, 3L), (1L, 12L, 2.0, 7L),
      // key 2: single row
      (2L, 20L, 9.0, 5L))
      .toDF("window_start", "v", "d", "batch_id")
    val got = StreamFingerprint.finals(df, spec)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 12L, 2.0), (2L, 20L, 9.0)))
  }

  test("fingerprint is row-order independent and pins count") {
    val a = Seq((1L, 10L, 1.25), (2L, 20L, 2.5), (3L, 30L, 3.75))
      .toDF("window_start", "v", "d")
    val b = a.orderBy(col("v").desc).repartition(5)
    val (fa, fb) = (StreamFingerprint.fingerprint(a, spec),
      StreamFingerprint.fingerprint(b, spec))
    assert(fa === fb)
    assert(fa.n === 3L)
  }

  test("fingerprint snaps doubles to 6 dp but not above") {
    def fp(d: Double) = StreamFingerprint.fingerprint(
      Seq((1L, 10L, d)).toDF("window_start", "v", "d"), spec)
    // below the snap grain: the two topologies' micro-batch summation
    // orders may differ in the last ulp — must hash equal
    assert(fp(1.2345671) === fp(1.2345674))
    // at the grain: a real divergence must hash different
    assert(fp(1.234567) !== fp(1.234568))
  }

  test("an empty-vs-empty table does not count as a match") {
    val empty = Seq.empty[(Long, Long, Double)]
      .toDF("window_start", "v", "d")
    val f = StreamFingerprint.fingerprint(empty, spec)
    val v = StreamFingerprint.TableVerdict("t", 0L, 0L, f, f)
    assert(!v.matches)
  }
}
