package graft.operators

import graft.operators.Pin._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTERING: connected components over a candidate-
  * pair edge list (e.g. MinHash-LSH or Jaccard pairs), assigning every
  * document the minimum doc id reachable through near-dup edges as its
  * cluster id. This is the step a training-data pipeline runs after
  * pair generation — keep one representative per cluster, not per pair
  * (pairs alone under-dedup transitive chains A~B~C).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each
  * round rewrites the edge set toward a star forest rooted at the
  * component minimum:
  *   - large-star(u): every strictly-larger neighbor of u re-attaches
  *     to min(Γ(u) ∪ {u});
  *   - small-star(u): every smaller neighbor (and u itself)
  *     re-attaches to the minimum smaller neighbor.
  * Converges in O(log n) rounds REGARDLESS of graph diameter — unlike
  * plain min-label propagation (O(diameter) rounds), a long chain of
  * near-dups cannot outrun the iteration bound. If `maxIter` is ever
  * hit unconverged the operator THROWS rather than silently returning
  * partially-propagated (wrong) labels; with the default bound that
  * would take > 2^40 nodes.
  *
  * 100 TB notes: the driver only coordinates rounds (same control
  * model as GraphX/Pregel); all data movement is distributed
  * aggregations/joins keyed on node id. Each round is two shuffles of
  * the (monotonically contracting) edge set; high-degree nodes are the
  * case large-star exists for — their neighbor lists are split across
  * reducers by the groupBy, never materialized per-node.
  * `localCheckpoint` truncates lineage so round N doesn't re-execute
  * rounds 1..N-1; the convergence check is one count + one anti-join
  * over checkpointed data. Edge lists from LSH are O(candidates),
  * never O(n²).
  */
object ClusterDedup {

  /** Connected components over an undirected edge list.
    * Returns (id, cluster_id) for every node appearing in `edges`,
    * cluster_id = minimum reachable node id.
    * @throws IllegalStateException if not converged within `maxIter`
    *         large+small-star rounds (needs > 2^maxIter nodes). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 40, localFinishEdges: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = edges.schema(srcCol).dataType
    val integralIds =
      idType == LongType || idType == IntegerType || idType == ShortType || idType == ByteType
    // The (possibly expensive) pair-generation pipeline feeding this
    // operator executes exactly ONCE: pin the raw projection, then
    // derive both the node set and the canonical edge set from it
    // (previously each derivation re-ran the upstream pipeline).
    // a Wide pin UNDER the checkpoint: the checkpoint truncates lineage
    // (downstream CC rounds re-plan a tiny LogicalRDD, not the whole
    // edge generator — replacing the cut with a bare cache measurably
    // REGRESSED q98, every post-CC job re-planning the full subtree),
    // while the plan-keyed cache covers MULTI-INVOCATION pipelines:
    // composed queries (q105) call this operator more than once over
    // the same logical edge input WITHIN one execution, and the
    // checkpoint RDD is new state per call — the cache lets the second
    // call fill its checkpoint from the first materialization instead
    // of re-executing the generator (measured ~13 CPU-s/run on q105).
    // This is the only cache-under-cut site kept; single-invocation
    // operators (triangles, pageRank, labelProp, simhash bands) get a
    // bare cut — a cache there has zero within-run benefit and doubles
    // the storage footprint.
    val raw = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .pin(Wide).pin(Narrow)
    // node set from the RAW edges (self-loops included) so a node with
    // only a self-loop still gets a singleton label
    val nodes = raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id")))
      .distinct()
    // canonical oriented representation: (u, v) with u > v, deduped
    var e = raw
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct().pin(Narrow)
    // (count, xor of xxhash64(u,v)) over the canonical deduped edge
    // set — a one-job fingerprint used to SKIP the exact convergence
    // anti-join on rounds that visibly changed the edge set (xor, not
    // sum: order-independent and cannot overflow under ANSI mode).
    // Equality of the fingerprint is only ever a trigger for the
    // exact check, never a substitute for it.
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var eFp = fingerprint(e)
    var converged = eFp._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // Local finish: once the (monotonically contracting) edge set
      // fits in driver memory, complete with an exact union-find
      // instead of paying O(log n) more multi-shuffle rounds — the
      // same small-side escape hatch as AQE's broadcast threshold. At
      // 100 TB this engages only after distributed rounds have
      // contracted the graph; the labels it produces are identical
      // (min reachable id) by construction.
      if (integralIds && eFp._1 <= localFinishEdges) {
        val labels = localUnionFind(
          Pin.record(e.select(col("u").cast(LongType), col("v").cast(LongType)))
            .collect().map(r => (r.getLong(0), r.getLong(1))))
        val spark = edges.sparkSession
        import spark.implicits._
        e = spark.createDataset(labels.toSeq).toDF("u", "v")
          .select(col("u").cast(idType), col("v").cast(idType))
        converged = true
      } else {
      // large-star: per node u, every neighbor v > u re-attaches to
      // m = min(Γ(u) ∪ {u}). Purely relational — groupBy(min) + join,
      // no collect_list of neighbor sets (high-degree safe).
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(lsMin, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // u > v by construction
        .distinct()
      // small-star: edges are (u > v)-oriented, so grouping by u sees
      // exactly the smaller neighbors; all of them plus u re-attach to
      // the minimum one.
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
        .pin(Narrow)
      // converged iff the canonical edge set is unchanged: equal
      // cardinality + empty difference (both sides are deduped sets).
      // The exact (anti-join) check only runs when the one-job
      // fingerprint matches — i.e. at most on the final round plus a
      // ~2^-64 false-trigger — instead of 3 extra jobs every round.
      val ssFp = fingerprint(ss)
      converged = ssFp == eFp &&
        ss.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = ss
      eFp = ssFp
      i += 1
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "raise maxIter (rounds needed ≈ log2(nodes))")
    // converged edge set is a star forest: (member, component-min);
    // roots and self-loop-only nodes label themselves
    nodes.join(e.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Exact driver-side union-find over a collected edge list: returns
    * (id, min reachable id) for every id whose label differs from
    * itself. Roots attach under the smaller root, so each tree's root
    * IS the component minimum. */
  private def localUnionFind(pairs: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    pairs.foreach { case (a, b) => ids += a; ids += b }
    ids.iterator.map(id => (id, find(id))).filter { case (id, r) => id != r }.toArray
  }

  /** Cluster assignment with sizes: (cluster_id, id, cluster_size),
    * one row per clustered document. */
  def clusters(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val cc = connectedComponents(edges, srcCol, dstCol)
    val sizes = cc.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
  }
}
