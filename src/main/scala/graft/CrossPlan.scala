package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-plan correctness gate for the queries whose DuckDB oracle is
  * infeasible at sf1 (recursive-CTE spill, per-round CTE
  * re-materialization, 10–72 M-row outputs). Each query runs twice —
  * the primary `SparkEntry.queries` plan and a STRUCTURALLY DIFFERENT
  * twin (full inverted-index instead of PPJoin prefix filter,
  * all-pairs cosine instead of blocked tiles, distributed-only CC
  * instead of the hybrid union-find finish, window row_number instead
  * of struct-max argmax, uncached instead of cached composition) — and
  * the two results are compared by an order-independent fingerprint:
  * (row count, Σ xxhash64(row), XOR xxhash64(row)) over name-sorted
  * columns. A match means the sf1 result does not depend on the plan
  * that produced it — closing the Spark-only blind spot the DuckDB
  * gate leaves above sf0.1.
  *
  * Usage: runMain graft.CrossPlan [sfDir] [query...]
  * Writes target/crossplan.json (or crossplan_partial.json when
  * restricted); exits 1 on any mismatch. Wired into `sbt test` at
  * sf0.001 by CrossPlanSpec.
  */
object CrossPlan {

  /** name → structurally different twin, aggregated from the query
    * objects (each twin lives next to its primary). */
  def alternates: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.ExtensionQueries.crossPlanAlternates ++
      graft.queries.PipelineQueries.crossPlanAlternates ++
      graft.queries.LakehouseQueries.crossPlanAlternates ++
      graft.queries.FeatureQueries.crossPlanAlternates ++
      graft.queries.CorpusStatsQueries.crossPlanAlternates ++
      graft.queries.SignalQueries.crossPlanAlternates

  final case class Fp(rows: Long, sum: String, xor: Long)

  /** Order-independent result fingerprint over name-sorted columns.
    * Σ as decimal(38,0) cannot overflow (72 M rows × 2⁶³ < 10³⁸) and
    * the XOR catches pairs of offsetting sum errors; both are exact
    * under ANSI mode. */
  def fingerprint(df: DataFrame): Fp = {
    val cols = df.columns.sorted.map(col)
    val h = df.select(xxhash64(cols: _*).as("h"))
    val r = h.agg(count(lit(1)).as("n"),
      sum(col("h").cast("decimal(38,0)")).as("s"),
      expr("bit_xor(h)").as("x")).head()
    Fp(r.getLong(0),
      Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Runs one query through both plans; returns (primary, alternate). */
  def compare(spark: SparkSession, sfDir: String, name: String): (Fp, Fp) = {
    val p = fingerprint(SparkEntry.queries(name)(spark, sfDir))
    val a = fingerprint(alternates(name)(spark, sfDir))
    (p, a)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq.sorted
      else alternates.keys.toSeq.sorted
    val spark = Harness.session()

    val results = names.map { name =>
      val t0 = System.nanoTime()
      val (p, a) = compare(spark, sfDir, name)
      val sec = (System.nanoTime() - t0) / 1e9
      val ok = p == a
      println(f"[crossplan] $name%-22s ${if (ok) "MATCH" else "MISMATCH"}%-8s " +
        f"rows=${p.rows}/${a.rows} $sec%.1f s")
      Harness.release(spark)
      (name, p, a, ok, sec)
    }
    val qs = results.map { case (n, p, a, ok, sec) =>
      s""""$n":{"match":$ok,"rows_primary":${p.rows},"rows_alt":${a.rows},""" +
        s""""sum_primary":"${p.sum}","sum_alt":"${a.sum}",""" +
        s""""xor_primary":${p.xor},"xor_alt":${a.xor},"sec":${f"$sec%.2f"}}"""
    }.mkString(",")
    val mismatches = results.filterNot(_._4).map(_._1)
    val line =
      s"""{"metric":"crossplan","sf":"$sfDir","n_queries":${results.size},""" +
        s""""mismatches":${mismatches.size},""" +
        s""""mismatch_names":[${mismatches.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""queries":{$qs}}"""
    println(line)
    val file = if (args.length > 1) "crossplan_partial.json" else "crossplan.json"
    val out = java.nio.file.Paths.get("target", file)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (mismatches.nonEmpty) sys.exit(1)
  }
}
