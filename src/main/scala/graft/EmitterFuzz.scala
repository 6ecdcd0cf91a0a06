package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.operators.Num

/** Cross-engine fuzz for the DuckDB-dialect oracle emitters
  * (round-11 verdict #5): every `TF.sql*` / `Num.sqlR` builder is
  * exercised over the REAL documents table, both standalone and
  * composed into seeded random expression trees (the q177 precedence
  * class: emitted fragments as operands of surrounding arithmetic).
  *
  * Emits the Verify layout — one parquet dir per case + an
  * oracle_sql.json — so `tools/check.py <sfDir> <outDir>` performs the
  * driver-faithful compare (sorted values + arrow-type audit). Run:
  *
  *   sbt "runMain graft.EmitterFuzz /root/testdata/sf0.01 /tmp/emitter_fuzz"
  *   python3 tools/check.py /root/testdata/sf0.01 /tmp/emitter_fuzz
  *
  * `--probe` appends two deliberately broken cases (an unparenthesized
  * sqlR embedded in a division chain; a HUGEINT-class uncast sum) that
  * check.py MUST fail — proving the harness catches the two known
  * emitter bug classes end-to-end. Seeded (42): the tree set is
  * identical on every run.
  */
object EmitterFuzz {

  /** Numeric leaf pairs (Column, DuckDB SQL) over documents. */
  private def numLeaves: Seq[(Column, String)] = Seq(
    (TF.tokenCount(col("text")).cast("double"),
      s"(${TF.sqlTokenCount("text")})::DOUBLE"),
    (TF.meanWordLen(col("text")), s"(${TF.sqlMeanWordLen("text")})"),
    (TF.alphaRatio(col("text")), s"(${TF.sqlAlphaRatio("text")})"),
    (TF.stopwordRatio(col("text")), s"(${TF.sqlStopwordRatio("text")})"),
    (col("n_chars").cast("double"), "n_chars::DOUBLE"))

  /** Seeded random tree over the leaves: compositions parenthesized by
    * the harness (structural Column tree ≡ the text), emitted sqlR
    * fragments left EXACTLY as the emitter renders them — their
    * parenthesization is the thing under test. */
  private def tree(rnd: scala.util.Random, depth: Int): (Column, String) = {
    if (depth <= 0 || rnd.nextInt(4) == 0) {
      val ls = numLeaves
      ls(rnd.nextInt(ls.size))
    } else rnd.nextInt(5) match {
      case 0 =>
        val (ac, as) = tree(rnd, depth - 1); val (bc, bs) = tree(rnd, depth - 1)
        (ac + bc, s"($as + $bs)")
      case 1 =>
        val (ac, as) = tree(rnd, depth - 1); val (bc, bs) = tree(rnd, depth - 1)
        (ac - bc, s"($as - $bs)")
      case 2 =>
        val (ac, as) = tree(rnd, depth - 1); val (bc, bs) = tree(rnd, depth - 1)
        (ac * bc, s"($as * $bs)")
      case 3 =>
        val (ac, as) = tree(rnd, depth - 1); val (bc, bs) = tree(rnd, depth - 1)
        // guarded division, identical guard both sides
        (ac / (abs(bc) + lit(1.0)), s"($as / (abs($bs) + CAST(1.0 AS DOUBLE)))")
      case _ =>
        val (ac, as) = tree(rnd, depth - 1)
        val scale = if (rnd.nextBoolean()) 2 else 4
        (Num.r(ac, scale), Num.sqlR(as, scale))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).filterNot(_.startsWith("--"))
      .getOrElse("/tmp/emitter_fuzz")
    val probe = args.contains("--probe")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.load(spark, sfDir, "documents")

    // ---- standalone emitter cases (every TF.sql* builder) ----
    val standalone: Seq[(String, Column, String)] = Seq(
      ("e_tokens", TF.tokens(col("text")), TF.sqlTokens("text")),
      ("e_shingles2", TF.shingles(col("text"), 2), TF.sqlShingles("text", 2)),
      ("e_shingles3", TF.shingles(col("text"), 3), TF.sqlShingles("text", 3)),
      ("e_token_count", TF.tokenCount(col("text")).cast("long"),
        TF.sqlTokenCount("text")),
      ("e_mean_word_len", TF.meanWordLen(col("text")), TF.sqlMeanWordLen("text")),
      ("e_alpha_ratio", TF.alphaRatio(col("text")), TF.sqlAlphaRatio("text")),
      ("e_stopword_ratio", TF.stopwordRatio(col("text")),
        TF.sqlStopwordRatio("text")),
      ("e_lang_id", TF.langId(col("text")), TF.sqlLangId("text")),
      ("e_fingerprint", TF.fingerprint(col("text")), TF.sqlFingerprint("text")),
      ("e_hash60", TF.hash60(TF.fingerprint(col("text"))),
        TF.sqlHash60(TF.sqlFingerprint("text"))),
      ("e_hash32", TF.hash32(TF.fingerprint(col("text"))),
        TF.sqlHash32(TF.sqlFingerprint("text"))),
      ("e_split_assign", TF.splitAssign(col("doc_id")),
        TF.sqlSplitCase(s"(${TF.sqlHash60("doc_id::VARCHAR")} % 100)")))

    // ---- composed random trees (the precedence class) ----
    val rnd = new scala.util.Random(42)
    val trees = (0 until 24).map { i =>
      val (c, s) = tree(rnd, 3)
      (f"t_tree$i%02d", c, s)
    }

    // ---- deliberately broken probes (must FAIL check.py) ----
    def sqlRBad(e: String, scale: Int): String = {
      val p = math.pow(10, scale + 4).toLong
      val f = math.pow(10, scale).toLong
      s"floor((floor(($e) * $p + 0.5) / $p) * $f + 0.5) / $f"
    }
    val probes: Seq[(String, Column, String)] = if (!probe) Nil else Seq(
      ("z_probe_parens",
        lit(10.0) / Num.r(TF.meanWordLen(col("text")) + lit(1.0), 2) / lit(2.0),
        s"(CAST(10.0 AS DOUBLE) / ${sqlRBad(s"(${TF.sqlMeanWordLen("text")}) + CAST(1.0 AS DOUBLE)", 2)} / CAST(2.0 AS DOUBLE))"),
      ("z_probe_hugeint", TF.tokenCount(col("text")).cast("long"),
        // sum-free but HUGEINT-typed: an uncast 128-bit literal widen
        s"(${TF.sqlTokenCount("text")})::HUGEINT"))

    new java.io.File(outDir).mkdirs()
    val all = standalone ++ trees ++ probes
    all.foreach { case (name, c, _) =>
      docs.select(col("doc_id"), c.as("x")).orderBy(col("doc_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val json = Harness.jsonObject(all.map { case (name, _, sql) =>
      name -> s"SELECT doc_id, $sql AS x FROM documents ORDER BY doc_id"
    })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[emitterfuzz] ${all.size} cases -> $outDir (probe=$probe)")
    spark.stop()
  }
}
