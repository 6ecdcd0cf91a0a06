package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The inventory-wide plan gate (PlanGate.violations) must actually
  * catch the anti-patterns it claims to — each probe builds the bad
  * plan shape deliberately — and must stay quiet on the benign shapes
  * (scalar crossJoin, literal model-table broadcast). */
class PlanGateSpec extends SparkSpec {
  import spark.implicits._

  private def viol(name: String, df: org.apache.spark.sql.DataFrame) =
    PlanGate.violations(name, df.queryExecution.executedPlan)

  // a local Seq plans as LocalTableScan — the literal-model shape the
  // gate deliberately excuses — so data probes must be file-backed,
  // like every real table in the inventory
  private var probeDir: java.nio.file.Path = _
  private lazy val data: org.apache.spark.sql.DataFrame = {
    probeDir = java.nio.file.Files.createTempDirectory("plangate")
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$probeDir/d.parquet")
    spark.read.parquet(s"$probeDir/d.parquet")
  }

  override def afterAll(): Unit = {
    if (probeDir != null) TempDirs.deleteRecursively(probeDir)
    super.afterAll()
  }

  test("catches a data-vs-data theta join (BNLJ with condition)") {
    val d = data
    val bad = d.as("a").join(d.as("b"), col("a.v") < col("b.v"))
    assert(viol("probe", bad).exists(_.startsWith("BNLJ")))
  }

  test("quiet on the scalar-summary crossJoin") {
    val d = data
    val ok = d.crossJoin(broadcast(d.agg(sum(col("v")).as("tot"))))
    assert(viol("probe", ok).isEmpty)
  }

  test("quiet on a CONDITIONED scalar-build BNLJ (filter on the scalar)") {
    // Catalyst pushes the filter into the broadcast cross, producing a
    // conditioned BNLJ — but a grouping-free aggregate build side is
    // statically one row, so output ≤ stream side: benign without a
    // per-query exemption (the withScalars + threshold shape, q119)
    val d = data
    val avg = d.agg((sum(col("v")) / count(lit(1))).as("avgv"))
    val ok = d.crossJoin(broadcast(avg)).filter(col("v") > col("avgv"))
    assert(ok.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "probe must actually plan as a conditioned BNLJ")
    assert(viol("probe", ok).isEmpty)
  }

  test("quiet on a literal model-table broadcast (LocalTableScan build side)") {
    val d = data
    val model = Seq((0, 1.0), (1, 5.0)).toDF("cell", "cv")
    val ok = d.join(broadcast(model)) // every row vs every centroid
    assert(viol("probe", ok).isEmpty)
  }

  test("catches a data-bearing SinglePartition funnel; quiet on scalar merge") {
    val d = data
    val bad = d.withColumn("rn", row_number().over(Window.orderBy(col("id"))))
    assert(viol("probe", bad).exists(_.startsWith("SinglePartition")))
    val ok = d.agg(sum(col("v")).as("tot"))
    assert(viol("probe", ok).isEmpty)
  }

  test("an allowlist exemption requires its recorded condition fragment") {
    val d = data
    val theta = d.as("a").join(d.as("b"), col("a.v") < col("b.v"))
    // same plan, allowlisted name, but the condition fragment recorded
    // for q183 (NOT (cid# = bid#)) is absent -> still a violation
    assert(viol("q183_incremental_pairs", theta).nonEmpty)
  }

  test("an allowlist entry excuses at most ONE distinct matching join") {
    // two DIFFERENT theta joins whose conditions both contain q183's
    // fragment ("NOT (cid# = bid#)"): only the first is excused
    val a = data.select(col("id").as("cid"), col("v").as("va"))
    val b = data.select(col("id").as("bid"), col("v").as("vb"))
    val j1 = a.join(b, col("cid") =!= col("bid"))
    val j2 = a.join(b, col("cid") =!= col("bid") && col("va") < col("vb"))
    val plans = Seq(j1, j2).map(_.queryExecution.executedPlan)
    assert(PlanGate.violations("q183_incremental_pairs", plans).count(
      _.startsWith("BNLJ")) == 1)
    // …while the SAME join seen in two snapshots (main plan + captured
    // pre-checkpoint copy) stays excused — expr-id normalization
    // dedupes it to one condition
    val again = a.join(b, col("cid") =!= col("bid"))
    assert(PlanGate.violations("q183_incremental_pairs",
      Seq(j1, again).map(_.queryExecution.executedPlan)).isEmpty)
  }

  test("a PARTIAL grouping-free aggregate is a grand-agg side, not a scalar merge") {
    // r14 ADVICE: a partial (non-merged) grouping-free HashAggregate
    // emits one row PER PARTITION — it must stay a legitimate funnel
    // child (isGrandAggPartial) but must NOT certify a BNLJ build side
    // as one-row (isScalarMerge)
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    // sparkPlan, not executedPlan: the unexecuted AQE wrapper hides
    // its subtree from collect, and this test needs the raw
    // partial+final pair, not gate coverage (walk() handles AQE)
    val aggs = data.repartition(4).agg(sum(col("v")).as("tot"))
      .queryExecution.sparkPlan.collect { case h: HashAggregateExec => h }
    val partial = aggs.find(_.aggregateExpressions.exists(_.mode == Partial)).get
    val fin = aggs.find(_.aggregateExpressions.exists(_.mode == Final)).get
    assert(!PlanGate.isScalarMerge(partial))
    assert(PlanGate.isGrandAggPartial(partial))
    assert(PlanGate.isScalarMerge(fin))
  }

  test("a cached anti-pattern is visible through InMemoryTableScan") {
    val d = data
    val bad = d.as("a").join(d.as("b"), col("a.v") < col("b.v")).cache()
    try {
      val downstream = bad.groupBy(col("a.id")).count()
      assert(viol("probe", downstream).exists(_.startsWith("BNLJ")),
        downstream.queryExecution.executedPlan.toString.take(800))
    } finally bad.unpersist()
  }

  test("a checkpointed anti-pattern is visible through Pin capture") {
    val d = data
    import graft.operators.Pin
    val (downstream, cuts) = Pin.capturing {
      val edges = Pin(
        d.as("a").join(d.as("b"), col("a.v") < col("b.v"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b")), Pin.Narrow)
      edges.groupBy(col("id_a")).count()
    }
    // the checkpoint hides the join from the main plan…
    assert(viol("probe", downstream).isEmpty)
    // …but the captured pre-checkpoint plan carries it
    assert(cuts.nonEmpty)
    assert(PlanGate.violations("probe",
      downstream.queryExecution.executedPlan +: cuts)
      .exists(_.startsWith("BNLJ")))
  }
}
