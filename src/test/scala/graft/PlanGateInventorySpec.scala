package graft

/** The full 190-query plan gate, wired into `sbt test` so a plan
  * regression fails CI instead of waiting for a human `runMain`
  * (round-11 verdict #4). Same walk as `runMain graft.PlanGate`:
  * every query compiles under Pin capture at sf0.001, and the
  * main plan PLUS every pre-checkpoint / cached subplan is checked
  * for CartesianProduct, conditioned BNLJ (outside the single
  * justified, condition-tied exemption — q183's micro-batch-broadcast
  * contract) and data-bearing SinglePartition funnels. PlanGateSpec proves the probes catch deliberately bad
  * shapes; this spec proves the inventory has none.
  */
class PlanGateInventorySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("all SparkEntry queries are gate-clean, incl. checkpointed/cached subplans") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val v =
        try PlanGate.gateQuery(name, fn, spark, sf)
        catch { case e: Throwable =>
          Seq(s"error ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
        }
      // construction-time caches (MMR candidates, …) must not pile up
      // across the 190-query walk
      Harness.release(spark)
      if (v.isEmpty) Nil else Seq(s"$name: ${v.mkString("; ")}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
