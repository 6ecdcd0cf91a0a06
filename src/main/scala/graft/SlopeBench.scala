package graft

/** Scale-slope sweep — runs every SparkEntry query at each SF in
  * SPARK_GRAFT_SLOPE_DIRS (default sf0.001,sf0.01,sf0.1) inside ONE
  * JVM and reports, per query, the time ratio between the two largest
  * SFs against their data ratio.
  *
  * Why: a single-SF bench ranks queries but cannot see an
  * accidentally-superlinear one until it tops the sweep — q24's
  * quadratic-in-collisions edge feed was found by eyeballing the r9
  * numbers, a slope gate would have flagged it structurally. A query
  * whose time grows faster than its input between sf0.01 and sf0.1
  * (beyond `SlopeSlack`, and above `TimeFloor` so fixed per-query
  * overhead — session, planning, job launch, typically ~0.2–0.4 s —
  * doesn't drown the signal) lands in `superlinear` in the output
  * line and in target/slope.json.
  *
  * Interpreting the flag: time_ratio < data_ratio is the norm here
  * (the fixed overhead amortizes); ≈ data_ratio is linear scaling;
  * sustained > data_ratio × slack on a query whose big-SF time is
  * real says the operator's work grows faster than its input — the
  * 100 TB red flag. One run per (query, SF) after the same warmup as
  * Bench; results land in HISTORY.md as the per-family slope table.
  */
object SlopeBench {
  private val TimeFloor = 1.0 // sec at the largest SF
  private val SlopeSlack = 1.5

  /** Queries whose ANSWER (not plan) grows superlinearly on this
    * corpus: excluded from the superlinear GATE, surfaced in a
    * separate `annotated` field WITH the evidence, so a reader can
    * re-check the argument rather than trust a silent allowlist.
    *
    * r17: the generator-caused entries are GONE. q24/q26/q86/q88 were
    * annotated through r16 because GenData's vocab-internal bijection
    * kept every generated copy inside the driver corpus' saturated
    * 31³ = 29 791 3-shingle space (27 213 realized at sf0.1; colliding
    * shingle pairs grew 92× for 10× data — output-bound, not
    * plan-bound). The r17 per-copy CHARACTER bijection mints a fresh
    * vocabulary per copy: measured on the regenerated sf1, distinct
    * shingles grow 10.0× and colliding pairs 10.03× for 10× data, so
    * those operators now measure linear and need no annotation. What
    * remains is inherent complexity (exact all-pairs anchors, IVF's
    * n^1.5), independent of any generator. */
  private[graft] val Annotated: Map[String, String] = Map(
    "q28_cosine_pairs" ->
      "documented exact all-pairs oracle anchor - O(n^2) by definition (blocked tile plan bounds per-task work)",
    "q27_cosine_topk" ->
      "exact brute-force anchor: query set and corpus both grow 10x",
    "q29b_ann_ivf" ->
      "inherent n^1.5: query set grows with n AND per-query probe cost grows as n/nlist = sqrt(n) - expected ratio 10^0.5 ~ 3.2x per decade at fixed recall",
    "q97b_hard_neg_ivf" ->
      "inherent n^1.5 (the q29b class: query set grows with n, per-query probe cost nprobe*n/nlist = sqrt(n)) - this IS q97's documented web-scale path",
    "q97_hard_negatives" ->
      "exact band-scan anchor: query set (vec_id % 50) and corpus both grow 10x - inherent n^2/50 like q27 (measured sf1->sf10 21.6x, sub-floor below sf1 which is why the 3-decade gate never saw it); web-scale path composes ivfTopK's cell probe or a hash-sampled candidate pool (Similarity.hardNegatives doc)",
    "q68_pq_adc" ->
      "inherent n^1.5 (same shape as q29b: IVF cells = sqrt(n), queries prop. to n); ADC re-rank adds a constant factor")

  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SLOPE_DIRS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Harness.session()

    def sfOf(dir: String): Double =
      "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble)
        .getOrElse(sys.error(s"cannot parse scale factor from $dir"))

    val sweep = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val byDir = dirs.sortBy(sfOf).map { dir =>
      Harness.warmup(spark, dir)
      dir -> sweep.map { case (name, fn) =>
        val t = Bench.fastest(Bench.timeRuns(spark, fn, dir, runs = 2))
          .flatMap(_.wallSec).getOrElse(-1.0)
        // progress line per (dir, query): a hung sweep self-locates
        System.err.println(f"[slope] $dir $name $t%.2f s")
        name -> t
      }.toMap
    }
    val (bigDir, bigT) = byDir.last
    val (midDir, midT) = byDir(byDir.size - 2)
    val dataRatio = sfOf(bigDir) / sfOf(midDir)
    def r3(x: Double) = math.rint(x * 1000) / 1000
    val rows = sweep.map(_._1).map { q =>
      val (tb, tm) = (bigT(q), midT(q))
      val ratio = if (tb > 0 && tm > 0) tb / tm else -1.0
      (q, tm, tb, ratio,
        tb >= TimeFloor && ratio > dataRatio * SlopeSlack)
    }
    val flagged = rows.collect { case (q, _, _, _, true) => q }
    val (annotated, superlinear) = flagged.partition(Annotated.contains)
    val perQuery = rows.map { case (q, tm, tb, ratio, _) =>
      s""""$q":{${byDir.map { case (d, t) =>
        "\"" + ("sf[0-9.]+".r.findFirstIn(d).getOrElse(d)) +
          "\":" + r3(t(q))
      }.mkString(",")},"ratio":${r3(ratio)}}"""
    }.mkString("{", ",", "}")
    val annotatedJson = annotated.map(q =>
      s""""$q":"${Annotated(q)}"""").mkString("{", ",", "}")
    // the FULL annotation map rides every record (not just
    // annotated∩flagged of THIS run): a query whose flag first
    // appears in a different decade's record still finds its evidence
    // when tools/slope_merge.py consolidates — no hand-copied
    // annotation duplicate to drift out of sync
    val annotatedAllJson = Annotated.toSeq.sortBy(_._1).map { case (q, why) =>
      s""""$q":"${why.replace("\"", "\\\"")}""""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"slope","data_ratio":$dataRatio,"mid":"$midDir","big":"$bigDir",""" +
        s""""time_floor_sec":$TimeFloor,"slack":$SlopeSlack,""" +
        s""""superlinear":[${superlinear.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""annotated":$annotatedJson,""" +
        s""""annotated_all":$annotatedAllJson,""" +
        s""""queries":$perQuery}"""
    try {
      // a restricted sweep (SPARK_GRAFT_ONLY) must not clobber the
      // full record — it lands in slope_partial.json for hand-merging
      // (learned the hard way: a one-query re-measure erased a
      // 194-query record)
      val file = if (only.isDefined) "slope_partial.json" else "slope.json"
      val out = java.nio.file.Paths.get("target", file)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[slope] cannot write record: $e")
    }
    println(json)
    // the one-line gate: non-empty superlinear list is the red flag
    println(s"""{"metric":"slope_gate","superlinear_count":${superlinear.size},"superlinear":[${superlinear.map("\"" + _ + "\"").mkString(",")}],"annotated_count":${annotated.size}}""")
    spark.stop()
  }
}
