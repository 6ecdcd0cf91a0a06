package graft

/** The cross-plan gate (graft.CrossPlan) wired into `sbt test` at
  * sf0.001: every query whose DuckDB oracle is infeasible at sf1 runs
  * through both its primary plan and its structurally different twin,
  * and the order-independent fingerprints must be identical. The
  * recorded sf1 run (target/crossplan.json via
  * `runMain graft.CrossPlan /root/repo/localdata/sf1`) is the actual
  * 100×-scale evidence; this spec keeps the twins honest per-commit.
  */
class CrossPlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("alternates cover the sf1 + sf10 DuckDB-infeasible queries") {
    val expected = Set("q24_ngram_jaccard", "q26_simhash",
      "q36_dedup_clusters", "q79_triangles", "q86_prefix_jaccard",
      "q87_pagerank", "q88_containment", "q98_canonical_docs",
      "q105_corpus_pipeline", "q118_label_prop", "q181_degree_mle",
      // round 14: the seven sf10-infeasible additions
      "q29_ann_lsh", "q68_pq_adc", "q76_semdedup", "q81_kmeans_train",
      "q100_mmr_topk", "q148_winnow_pairs", "q183_incremental_pairs",
      // round 16: DuckDB oracles measured >900 s at sf10 (exact
      // embedding-similarity class; hash-green through sf1)
      "q27_cosine_topk", "q28_cosine_pairs")
    assert(CrossPlan.alternates.keySet == expected)
    assert(expected.subsetOf(SparkEntry.queries.keySet))
  }

  CrossPlan.alternates.keys.toSeq.sorted.foreach { name =>
    test(s"$name primary and alternate plans agree") {
      val (p, a) = CrossPlan.compare(spark, sf, name)
      assert(p.rows > 0, s"$name produced no rows — vacuous cross-check")
      assert(p == a, s"$name: primary $p != alternate $a")
      Harness.release(spark)
    }
  }
}
