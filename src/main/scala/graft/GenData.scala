package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N× expansion of a testdata SF dir — the locally
  * generated sf1 slice that extends the scale-slope evidence from a
  * 10× measured span to 100× (round-11 verdict #2; the driver's own
  * generator is not in the sandbox, so the slice derives from sf0.1
  * by a documented, distribution-preserving expansion).
  *
  * Scheme: each table is the union of `copies` deterministic copies
  * (copy 0 = the original, byte-identical values).
  *
  *  - Every id-domain key (custkey, orderkey, partkey, suppkey,
  *    user_id, event_id, doc_id, vec_id) is offset by copy·M with
  *    M = lcm of every `id % m` constant the query inventory uses
  *    (2,3,4,5,7,10,11,25,50,97,100,101,103,500,1000 → M =
  *    233 100 021 000). Offsets ≡ 0 (mod every m), so every
  *    mod-derived predicate/sample keeps its exact per-copy
  *    selectivity, and referential integrity holds within a copy
  *    (all keys in one copy shift together; copies never cross-join).
  *  - region/nation are fixed dimensions (constant at every SF, as in
  *    TPC-H) and copy through unchanged.
  *  - Timestamps, amounts, and categorical values are unchanged:
  *    domains grow 10×, densities per time window grow 10× — the
  *    TPC-H scaling model (more customers, not longer histories).
  *  - documents.text for copy k>0 goes through a per-copy
  *    length-preserving CHARACTER BIJECTION of every non-stopword
  *    word (a seeded a–z letter permutation; stopwords fixed) — a
  *    token-level isomorphism, so every intra-copy structure (word
  *    order, exact-dup groups, shingle Jaccard, prefix-block sizes,
  *    n_chars, char-frequency entropy, language/stopword signals)
  *    replicates EXACTLY per copy while each copy's VOCABULARY — and
  *    therefore its word-shingle space — is fresh and (up to rare
  *    letter-image coincidences) disjoint from every other copy's.
  *    Dedup yield, blocking-bucket work, AND the realized shingle
  *    space all scale linearly with the data (see substituteDocs for
  *    the measured failures of the weaker schemes this replaces).
  *  - embeddings for copy k>0 are coordinate-permuted by a seeded
  *    per-copy permutation: within-copy cosines equal the base
  *    cosines up to float summation order (the permutation reorders
  *    the dot-product sum, so a pair sitting within an ulp of an r4
  *    snap boundary can flip — identical after the snap everywhere
  *    else, and cross-ENGINE parity is unaffected since both engines
  *    see the same permuted data), and cross-copy
  *    cosines follow the corpus' natural random-pair distribution —
  *    measured at sf0.1: qualifying rate at τ=0.35 is 0.00208
  *    cross-permuted vs 0.00207 natural, so threshold-pair queries
  *    scale by their true quadratic semantics, not by an artifact.
  *
  * Run: `runMain graft.GenData /root/testdata/sf0.1 localdata/sf1 10`
  */
object GenData {

  /** lcm{2,3,4,5,7,10,11,25,50,97,100,101,103,500,1000} — every key
    * offset is ≡ 0 mod each of these (see scheme note above). */
  val KeyOffsetUnit: Long = 233100021000L

  private[graft] val IdCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Tables with id columns, in Tables.names order (stable gate output;
    * `globalUnit` relies on this order to fail on the FIRST empty
    * table it meets). */
  private[graft] val IdTables: Seq[String] =
    Tables.names.filter(IdCols.contains)

  /** Cross-table FK edges (child, childCol, parent, parentCol) whose
    * join coverage must survive expansion — verified by the gate as
    * "dangling-FK count multiplies by exactly `copies`" (robust even
    * if an input ever carries dangling keys; the driver testdata has
    * zero on every edge). */
  private[graft] val FkEdges: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("embeddings", "vec_id", "documents", "doc_id"))

  /** ONE per-copy offset unit for the whole directory: the max over ALL
    * tables' id columns, rounded UP to a multiple of KeyOffsetUnit.
    * Cross-table referential integrity requires the SAME offset on FK
    * and PK columns (orders.o_custkey vs customer.c_custkey) — a
    * per-table unit silently dangles copy-k foreign keys whenever two
    * tables' key spans round to different multiples (r15 advice). For
    * fresh driver testdata (every max id < M) the unit is exactly M,
    * byte-identical to the historical fixed-unit outputs. One agg per
    * table (all id maxima in a single pass); fails loudly on an empty
    * table, where max-of-no-rows is null. */
  private[graft] def globalUnit(spark: SparkSession, srcDir: String): Long = {
    val maxId = IdTables.map { name =>
      val ids = IdCols(name)
      val aggs = ids.map(c => max(col(c).cast("long")))
      val row = Tables.load(spark, srcDir, name).agg(aggs.head, aggs.tail: _*).head()
      ids.indices.map { i =>
        require(!row.isNullAt(i),
          s"$srcDir/$name is empty — cannot derive a key-offset unit")
        row.getLong(i)
      }.max
    }.max
    (maxId / KeyOffsetUnit + 1) * KeyOffsetUnit
  }

  /** Copy-k documents by per-copy CHARACTER SUBSTITUTION: every
    * non-stopword word maps through a seeded a–z letter permutation
    * (applied to both cases; digits/punctuation fixed); stopwords
    * (the langMarkers lists) map to themselves.
    *
    * A char-wise bijection applied token-wise is a token-level
    * isomorphism of the corpus, so EVERY intra-copy structure
    * replicates exactly: word order, token counts, n_chars
    * (length-preserving), exact-dup groups (mapping is content-only),
    * shingle-set Jaccard (bijections preserve set overlap),
    * prefix-block sizes (q35's 12-char buckets — char-wise maps
    * preserve common-prefix length), char-frequency entropy (q82 — a
    * letter permutation permutes the histogram), language and
    * stopword signals (markers fixed). Cross-copy overlap collapses
    * to letter-image coincidences (σj(w1) = σk(w2), vanishing for
    * distinct seeded permutations).
    *
    * Why CHARACTER (r17), not a rank-aligned bijection of the corpus
    * VOCABULARY (r12–r16): the driver corpus has a FIXED 31-word
    * vocabulary, so its 3-shingle space saturates at 31³ = 29 791 —
    * 91% already realized at sf0.1 — and any vocab-internal
    * permutation keeps every copy inside that same saturated space:
    * measured, colliding shingle pairs grew 92× for 10× data, forcing
    * `annotated` (output-bound) slope verdicts on q24/q86/q88 that
    * said nothing about the operators. Letter permutations instead
    * mint a FRESH 31-word vocabulary per copy, so the realized
    * shingle space grows linearly with copies, the way Heaps-law text
    * behaves. The earliest schemes (hash-sorted word order,
    * ± rotation) correlated PREFIXES across a copy's docs and blew
    * q35's blocking buckets up 373× (Σ bucket²); like the vocabulary
    * bijection, the char map holds them at exactly `copies`×. */
  private def substituteDocs(base: DataFrame, k: Int): DataFrame = {
    val stop = graft.functions.TextFunctions.langMarkers.flatMap(_._2)
    val lower = ('a' to 'z').mkString
    val perm = new scala.util.Random(7129 + k)
      .shuffle(('a' to 'z').toVector).mkString
    val from = lower + lower.toUpperCase
    val to = perm + perm.toUpperCase
    base.withColumn("text",
      concat_ws(" ", transform(split(col("text"), " "),
        w => when(w.isInCollection(stop), w)
          .otherwise(translate(w, from, to)))))
  }

  /** Seeded coordinate permutation for copy k (identity for k = 0). */
  private def coordPerm(dim: Int, k: Int): Seq[Int] = {
    val rnd = new scala.util.Random(1000 + k)
    rnd.shuffle((0 until dim).toVector)
  }

  private def permuteEmbedding(emb: Column, dim: Int, k: Int): Column =
    transform(typedLit(coordPerm(dim, k)), i => element_at(emb, i + 1))

  /** Expand one table by `copies` with the directory-wide per-copy
    * offset `unit` (from [[globalUnit]]). The span-derived unit keeps
    * expansion collision-free for ANY input: expanding an
    * ALREADY-expanded dir with the fixed unit reused the same
    * offsets and silently collided keys (measured r15: sf1 × 10
    * produced 500k document rows with only 95k distinct doc_ids,
    * which broke every dedup/pair operator downstream). Offsets
    * stay ≡ 0 (mod every m), so mod-derived selectivities are
    * still exact per copy. */
  private[graft] def expand(spark: SparkSession, srcDir: String,
      name: String, copies: Int, unit: Long): DataFrame = {
    val base = Tables.load(spark, srcDir, name)
    if (name == "region" || name == "nation") base
    else {
      val ids = IdCols(name)
      val dim = if (name == "embeddings")
        base.select(size(col("embedding"))).head().getInt(0)
      else 0
      (0 until copies).map { k =>
        val off = k.toLong * unit
        val perturbed = name match {
          case "documents" if k > 0 => substituteDocs(base, k)
          case "embeddings" if k > 0 =>
            base.withColumn("embedding",
              permuteEmbedding(col("embedding"), dim, k))
          case _ => base
        }
        ids.foldLeft(perturbed)((df, c) =>
          df.withColumn(c, col(c) + lit(off)))
      }.reduce(_ unionByName _)
    }
  }

  /** Loud post-write gate over an expanded directory. Two checks, both
    * of which a silent failure would turn into corrupted downstream
    * dedup/join results (the r15 double-expansion bug):
    *
    *  1. Key collisions: disjoint copy offsets multiply every id
    *     column's distinct count by exactly `copies` (holds for
    *     non-unique fks too). One two-sided agg per table.
    *  2. Cross-table FK coverage: every [[FkEdges]] dangling-FK count
    *     must also multiply by exactly `copies` — this is the check a
    *     per-table offset unit would fail (FK and PK shifted by
    *     different offsets keep their per-column distinct counts while
    *     every copy-k join silently loses its matches).
    *
    * Throws on the first violation; returns a one-line JSON evidence
    * record (base/expanded counts per check) for durable archiving. */
  private[graft] def gate(spark: SparkSession, srcDir: String,
      dstDir: String, copies: Int): String = {
    def out(name: String): DataFrame =
      spark.read.parquet(s"$dstDir/$name.parquet")
    val fields = scala.collection.mutable.ArrayBuffer[String]()
    IdTables.foreach { name =>
      val ids = IdCols(name)
      def distincts(df: DataFrame): Seq[Long] = {
        val aggs = ids.map(c => countDistinct(col(c)))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        ids.indices.map(row.getLong)
      }
      val b = distincts(Tables.load(spark, srcDir, name))
      val o = distincts(out(name))
      ids.indices.foreach { i =>
        require(o(i) == b(i) * copies,
          s"$name.${ids(i)} key collision: expected ${b(i) * copies} " +
            s"distinct ids after ${copies}x expansion, got ${o(i)}")
        fields += s""""${name}.${ids(i)}":{"base":${b(i)},"expanded":${o(i)}}"""
      }
    }
    FkEdges.foreach { case (ct, cc, pt, pc) =>
      def dangling(c: DataFrame, p: DataFrame): Long =
        c.select(col(cc)).join(p.select(col(pc)), col(cc) === col(pc),
          "left_anti").count()
      val b = dangling(Tables.load(spark, srcDir, ct),
        Tables.load(spark, srcDir, pt))
      val o = dangling(out(ct), out(pt))
      require(o == b * copies,
        s"FK $ct.$cc -> $pt.$pc broken by expansion: $b dangling rows " +
          s"in base, $o after ${copies}x (expected ${b * copies}) — " +
          "copy offsets disagree across tables")
      fields += s""""$ct.$cc->$pt.$pc":{"base_dangling":$b,"expanded_dangling":$o}"""
    }
    s"""{"gate":"gendata","src":"$srcDir","dst":"$dstDir","copies":$copies,""" +
      fields.mkString(",") + ""","ok":true}"""
  }

  /** `runMain graft.GenData [srcDir] [dstDir] [copies]` expands and
    * gates; `--gate-only srcDir dstDir copies` re-runs just the gate
    * over an already-expanded directory (evidence re-derivation). */
  def main(args: Array[String]): Unit = {
    val gateOnly = args.headOption.contains("--gate-only")
    val rest = if (gateOnly) args.drop(1) else args
    val srcDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val dstDir = rest.lift(1).getOrElse("localdata/sf1")
    val copies = rest.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session()
    if (!gateOnly) {
      val unit = globalUnit(spark, srcDir)
      println(s"[gendata] global key-offset unit = $unit")
      Tables.names.foreach { name =>
        expand(spark, srcDir, name, copies, unit)
          .write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
        println(s"[gendata] $name -> $dstDir/$name.parquet")
      }
    }
    println(gate(spark, srcDir, dstDir, copies))
    spark.stop()
  }
}
