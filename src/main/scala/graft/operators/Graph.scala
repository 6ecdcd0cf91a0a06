package graft.operators

import graft.operators.Pin._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over near-duplicate edge lists, beyond the
  * connected components in ClusterDedup: triangle enumeration — the
  * clustering-coefficient / cluster-density QC signal (a dedup
  * cluster whose edges form many triangles is a tight duplicate
  * group; a star of borderline pairs is not).
  *
  * Input contract: undirected edges as (id_a < id_b) — the canonical
  * orientation every pair generator here emits.
  */
object Graph {

  /** All triangles (a < b < c by id) of an (id_a < id_b) edge list,
    * enumerated with the lower-degree-endpoint orientation
    * (node-iterator++ / compact-forward, Latapy 2008): each edge is
    * re-pointed from its lower (deg, id) endpoint to the higher, and
    * wedges form only at each edge's low-degree end.
    *
    * 100 TB rationale: the naive middle-node wedge join generates
    * Σ deg(v)² wedges — quadratic on the hub of a star-skewed near-dup
    * graph (one boilerplate doc similar to 10⁶ others → 10¹² wedges).
    * After orientation every node's out-degree is O(√m), so wedge
    * count is bounded by O(m^1.5) REGARDLESS of skew. Each triangle
    * x<y<z (by (deg,id)) appears exactly once as the wedge (x→y, x→z)
    * closed by x's higher-degree pair edge y→z.
    *
    * Shape: two node-keyed aggregations/joins for degrees, one wedge
    * self-join keyed by source, one closing equi-join keyed by the
    * (src, dst) pair. Oriented edges are localCheckpoint'ed — the
    * operator reads them three times, and upstream is usually an
    * expensive pair-generation pipeline. */
  def triangles(edges: DataFrame): DataFrame = {
    // the edge list feeds BOTH the degree aggregation and the keyed
    // join below — checkpoint it so the (usually expensive) upstream
    // pair generation runs once, not twice. No Wide pin under the cut:
    // the operator runs once per query execution, so the checkpoint
    // already materializes the generator exactly once; a cache only
    // doubled the storage footprint (checkpoint + cache blocks).
    val e = edges.pin(Narrow)
    val deg = e
      .select(explode(array(col("id_a"), col("id_b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val keyed = e
      .join(deg.select(col("node").as("id_a"), col("deg").as("da")), "id_a")
      .join(deg.select(col("node").as("id_b"), col("deg").as("db")), "id_b")
    // total order (deg asc, id asc) — ties broken by id, so every
    // edge gets exactly one orientation
    val oriented = keyed
      .select(
        when(struct(col("da"), col("id_a")) < struct(col("db"), col("id_b")),
          struct(col("id_a").as("src"), col("id_b").as("dst"), col("db").as("dk")))
          .otherwise(
            struct(col("id_b").as("src"), col("id_a").as("dst"), col("da").as("dk")))
          .as("e"))
      // dst's own (deg, id) key orders the two wedge arms, so the
      // closing edge is ALWAYS oriented e1.dst → e2.dst
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        struct(col("e.dk").as("d"), col("e.dst").as("i")).as("key"))
      .pin(Narrow)
    oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.key") < col("e2.key"))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .select(sort_array(
        array(col("e1.src"), col("e1.dst"), col("e2.dst"))).as("t"))
      .select(col("t")(0).as("a"), col("t")(1).as("b"), col("t")(2).as("c"))
  }

  /** Per-node triangle membership counts. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangles(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("tri_cnt"))

  /** PageRank — the centrality QC signal over the near-dup graph (a
    * high-rank node is the "template" document its cluster orbits).
    *
    * `directed = false` (default): input is an undirected (id_a <
    * id_b) edge list; edges are symmetrized internally, every node has
    * in-edges, and no dangling mass exists. Feeding an ALREADY
    * symmetrized (or otherwise directed) list here double-counts
    * degrees — use `directed = true` for directed inputs.
    *
    * `directed = true`: edges are taken as-is (src = id_a, dst =
    * id_b). Nodes with no out-edges (dangling) would silently leak
    * rank mass under the naive update; instead their total mass is
    * redistributed uniformly each round — the standard correction —
    * so Σ pr = 1 holds every round. `deg` in the output is then the
    * OUT-degree (0 for dangling nodes).
    *
    * Determinism contract (the operators.KMeans convention): each
    * round's ranks are snapped to 8 decimals before they feed the next
    * round, so an unrolled SQL twin computes bit-equal rounds from
    * identical inputs. Damping terms are built from literal arithmetic
    * (`1 − d` evaluated in doubles at runtime-equivalent precision),
    * never pre-folded decimals — `1 − 0.85` and a literal `0.15`
    * differ by one ulp.
    *
    * Scale: edges symmetrized once and checkpointed (each iteration
    * and both union branches would otherwise re-run the upstream pair
    * generation); per iteration one join keyed by source node + one
    * aggregation keyed by destination — both shuffle on node keys, so
    * a cluster reuses the same hash partitioning across rounds. The
    * dangling-mass term is a one-row aggregate carried by broadcast,
    * never a driver collect of data rows. */
  def pageRank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85, directed: Boolean = false): DataFrame = {
    // checkpoint the edge list BEFORE the symmetrizing union — the
    // union reads it twice, and checkpointing only the union ran the
    // (usually expensive) upstream pair generation twice. The union
    // itself stays lazy: re-reading local checkpoint blocks is cheap,
    // while a second eager checkpoint materialization measurably
    // dominated this operator at small edge counts.
    val e0 = edges.select(col("id_a"), col("id_b")).pin(Narrow)
    val sym =
      if (directed) e0
      else e0.unionByName(
        e0.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val outdeg = sym.groupBy(col("id_a")).agg(count(lit(1)).as("deg"))
    val nodes =
      (if (directed)
        sym.select(explode(array(col("id_a"), col("id_b"))).as("node")).distinct()
      else outdeg.select(col("id_a").as("node")))
        .join(outdeg.select(col("id_a").as("node"), col("deg")), Seq("node"), "left")
        .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
        .pin(Narrow)
    val out = sym.join(outdeg, "id_a")
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("deg"))
      .pin(Narrow)
    val n = nodes.count()
    val base = (lit(1.0) - lit(damping)) / lit(n.toDouble)
    var pr = nodes.select(col("node"), (lit(1.0) / lit(n.toDouble)).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = out.join(pr, col("src") === col("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("deg")).as("m"))
      pr =
        if (directed) {
          // dangling mass: Σ pr over out-degree-0 nodes, redistributed
          // uniformly. Summed directly from the dangling nodes — the
          // (1 − Σ non-dangling) shortcut drifts under per-round
          // snapping.
          val dmExact = pr
            .join(nodes.filter(col("deg") === 0), Seq("node"), "left_semi")
            .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
          nodes.select(col("node"))
            .join(contrib, Seq("node"), "left")
            .crossJoin(broadcast(dmExact))
            .select(col("node"),
              Num.r(base + lit(damping) *
                (coalesce(col("m"), lit(0.0)) + col("dm") / lit(n.toDouble)), 8)
                .as("pr"))
            // the directed round reads `pr` twice (contrib + dangling
            // mass) — truncate per round or the plan re-executes every
            // earlier round ~2× per level, exponential in iters. The
            // undirected branch reads pr once per round (linear chain)
            // and skips the eager materialization.
            .pin(Narrow)
        } else {
          contrib.select(col("node"),
            Num.r(base + lit(damping) * col("m"), 8).as("pr"))
        }
    }
    pr.join(nodes, "node")
      .select(col("node"), col("deg"), col("pr"))
  }
}
