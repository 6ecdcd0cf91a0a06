package graft.operators

import graft.operators.Pin._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Document deduplication operators for the LLM-data-pipeline tier:
  * exact (content hash), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - Exact dedup: one shuffle on a 128-bit content hash — the hash is
  *    computed map-side so the shuffle carries (hash, id), not text.
  *  - Jaccard: the all-pairs form is quadratic and only for small
  *    corpora / candidate verification. The scale path is MinHash LSH:
  *    per-doc signatures (narrow), then a shuffle on (band, key) whose
  *    output is only the candidate pairs — O(n·K) state, no n².
  *  - Banding joins use sort-merge on band keys; hot buckets (boiler-
  *    plate docs) are the skew risk → AQE skew join handles it, and
  *    the `maxBucket` guard drops degenerate buckets outright (a
  *    bucket with 10k near-identical docs is better handled by exact
  *    dedup upstream).
  *
  * Input: a `documents` frame — `doc_id` (long) and `text`; the
  * `*FromTokens` forms take its (id, toks) tokenization instead.
  *
  * Unique ids: the shingle-set operators assume one row per id and do
  * not check it (a guard costs a job per call). Rows sharing an id stay
  * separate documents: no id pairs with itself and pairs of unique ids
  * are unaffected, but which pairs a duplicated id joins is unspecified
  * (the exact and prefix forms can disagree); [[incrementalDedup]]
  * repeats a duplicated batch id's verdict once per row.
  */
object TextDedup {

  /** Exact near-identity dedup by normalized-content fingerprint:
    * canonical id = min doc_id per group. */
  def contentDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(
        min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("copies"))

  /** Per-document DISTINCT shingle ARRAYS (id, shs) — the shared base
    * for Jaccard/MinHash/containment. Tokenizes in a projection below
    * the shingling so the regex split runs once per document, and
    * dedupes IN-ARRAY (`array_distinct`): distinctness of (id,
    * shingle) is a per-document property, so the corpus-wide
    * `distinct()` exchange the exploded form needed is pure waste — at
    * any scale this is one full shuffle of every (id, shingle) row
    * removed (guide §2.4). Documents with fewer than n tokens carry an
    * EMPTY array — do NOT filter them here: a `filter(size(shs)>=1)`
    * is pushed below this projection and inlines the whole
    * tokenize+shingle+distinct tree into the Filter condition,
    * doubling the per-row cost (measured 2–9× on q90/q105/q151).
    * Every consumer either explodes (empty arrays vanish) or
    * semi-joins on candidate ids (which always have shingles), so the
    * empty rows are semantically inert. */
  private def shingleSets(tokDf: DataFrame, n: Int): DataFrame =
    tokDf.select(col("id"),
      array_distinct(shinglesFromTokens(col("toks"), n)).as("shs"))

  /** Exploded (id, shingle) view of [[shingleSets]] — rows identical
    * to the old distinct-exploded form. */
  private def explodeSets(sh: DataFrame): DataFrame =
    sh.select(col("id"), explode(col("shs")).as("shingle"))

  /** Exploded view carrying the per-doc set size: (id, sz, shingle).
    * `sz` rides the explode for free — the per-doc `groupBy(id).count`
    * + join-back the exploded form needed (one aggregation exchange +
    * one join per consumer) is gone. */
  private def explodeSetsWithSize(sh: DataFrame): DataFrame =
    sh.select(col("id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("shingle"))

  /** Exploded distinct (id, shingle) pairs for UNCACHED one-pass
    * consumers (novelty): the shingle tree is inlined INTO the Generate
    * child — with an attribute child, InferFiltersFromGenerate plants
    * `size(shs)>0 AND isnotnull(shs)` filters that are pushed below the
    * projection and re-inline the whole tokenize+shingle tree 2 more
    * times per row (measured 9× on q90). An expression child dodges
    * the rule; cached consumers go through [[shingleSets]] instead,
    * where the inferred filters hit the materialized array and are
    * cheap. */
  private def docShingles(docs: DataFrame, n: Int): DataFrame =
    docTokens(docs)
      .select(col("id"),
        explode(array_distinct(shinglesFromTokens(col("toks"), n))).as("shingle"))

  /** (id, toks): the one tokenize projection every text operator starts
    * from. */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"), tokens(col("text")).as("toks"))

  private def docShingleSets(docs: DataFrame, n: Int): DataFrame =
    shingleSets(docTokens(docs), n)

  /** Exact n-gram Jaccard similar pairs: |A∩B| / |A∪B| ≥ threshold.
    * Quadratic in shared-shingle pairs — verification / small-corpus
    * tool; LSH below is the scale path.
    * Precondition: one row per id (unchecked; see [[TextDedup]]). */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame =
    jaccardPairsFromTokens(docTokens(docs), n, threshold)

  /** [[jaccardPairs]] over a pre-tokenized (id, toks) frame —
    * identical rows; the token-level twin of
    * [[prefixJaccardPairsFromTokens]].
    * Precondition: one row per id (unchecked; see [[TextDedup]]). */
  def jaccardPairsFromTokens(tokDf: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingleSets(tokDf, n).pin(Wide)
    // inverted-index pruning: a shingle in exactly one document can't
    // produce a pair — drop singletons before the self-join (most
    // shingles are unique, so this shrinks the join input by far more
    // than the extra aggregation costs).
    // df by groupBy+join, not a window — the groupBy gets map-side
    // partial aggregation; the window shuffles every (id, shingle) row
    // with no combiner. Set sizes ride the explode (sz), so the pair
    // aggregation can group on them — the two per-side size join-backs
    // of the exploded form are gone.
    val ds = explodeSetsWithSize(sh)
    val df = ds.groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
    val shared = ds.join(df.filter(col("n_docs") > 1), "shingle")
      .select(col("id"), col("sz"), col("shingle"))
    val inter = shared.as("a")
      .join(shared.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard",
        Num.r4(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-doc sorted shingle sets + set sizes, semi-reduced to the ids
    * that actually appear in candidate pairs — the shared verification
    * input for every LSH/prefix candidate path here. Straight from the
    * per-doc ARRAYS ([[shingleSets]]): the sort is in-array and the
    * collect_list groupBy exchange of the exploded form is gone. */
  private def sortedSets(sh: DataFrame, ids: DataFrame): DataFrame =
    sh.join(broadcast(ids), Seq("id"), "left_semi")
      .select(col("id"), array_sort(col("shs")).as("set"),
        size(col("shs")).as("sz"))

  /** The distinct ids on either side of (id_a, id_b) pairs. */
  private def pairIds(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()

  /** Exact Jaccard of candidate pairs (columns id_a, id_b) against
    * sorted-set frames for each side, via the codegen merge-intersect
    * (the interpreted `size(array_intersect(..))` dominated every
    * verification stage it appeared in). The semi-reduced set frames
    * are broadcast: candidate docs must fit executor memory. */
  private def verifiedJaccard(cand: DataFrame, setsA: DataFrame,
      setsB: DataFrame, threshold: Double): DataFrame = {
    def side(sets: DataFrame, idc: String, suffix: String): DataFrame =
      broadcast(sets.select(col("id").as(idc), col("set").as(s"set_$suffix"),
        col("sz").as(s"sz_$suffix")))
    cand
      .join(side(setsA, "id_a", "a"), "id_a")
      .join(side(setsB, "id_b", "b"), "id_b")
      .withColumn("inter", graft.plans.SetFunctions.sorted_intersect_count(
        col("set_a"), col("set_b")))
      .withColumn("jaccard",
        Num.r4(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))))
      .filter(col("jaccard") >= threshold)
  }

  /** Prefix-filtered exact Jaccard join (AllPairs/PPJoin, Bayardo et
    * al. 2007 / Xiao et al. 2008): identical result set to
    * [[jaccardPairs]], but only each document's PREFIX is indexed —
    * under a global (df asc, shingle asc) order, two sets with
    * J ≥ τ must collide inside their first `|S| − ⌈τ·|S|⌉ + 1`
    * shingles, so the suffix never enters the self-join.
    *
    * This is the exact-similarity scale path (the probabilistic one is
    * MinHash LSH): the frequency-ascending order puts every document's
    * RAREST shingles in its prefix, so posting lists in the index stay
    * short — the quadratic blowup lives on hot shingles, which sit in
    * suffixes and are never indexed. At a 10⁹-document corpus the
    * candidate set shrinks by orders of magnitude while staying exact
    * (completeness is the prefix-filter theorem; verification recounts
    * the true intersection against full sets).
    *
    * PPJoin pruning between candidate generation and verification:
    * the LENGTH filter (J ≤ min/max of the set sizes) is evaluated
    * inside the index join itself, and the POSITIONAL filter uses
    * (po, pa, pb) aggregated from the same join — collision count and
    * last-collision ranks — as the intersection upper bound
    * |A∩B| ≤ po + min(sz_a−pa, sz_b−pb). Only survivors are verified,
    * by `array_intersect` against per-document sorted shingle sets
    * semi-reduced to candidate docs.
    */
  /** (id, h, sz, rnk) for every df>1 shingle occurrence, ranked under
    * the global canonical order (hash-bucket document frequency asc,
    * hash asc, shingle asc) — deterministic on any cluster layout.
    * Shared scaffolding of the two prefix-filtered joins.
    *
    * The index is keyed on h = xxhash64(shingle), NOT the shingle
    * string (guide §2.3, narrower types): the frequency aggregation
    * groups 8-byte longs instead of ~20-byte UTF8 strings, the
    * frequency join and the candidate self-joins probe on long
    * equality, and the rank sort resolves almost every comparison on
    * (df, h) without touching the string. EXACTNESS IS UNAFFECTED by
    * hash collisions, in both directions:
    *  - completeness: the prefix-filter theorem needs only a
    *    CONSISTENT global total order; (df_h, h, shingle) is one (the
    *    shingle tie-break makes it total, and df_h — the count of the
    *    hash bucket — is a pure function of the shingle, identical in
    *    every document). A collision merely merges two shingles'
    *    frequency counts, reordering the index and admitting extra
    *    candidates; df_h ≥ df, so no true ≥2-document shingle can be
    *    dropped by the df>1 prune.
    *  - soundness: candidate pairs from h-matches of different
    *    shingles are false positives like any other; verification
    *    recounts the true intersection against the full string sets
    *    and rejects them.
    *
    * Shapes that matter at scale: document frequency comes from
    * groupBy+join (map-side partial aggregation — a window over the
    * exploded table would shuffle every (id, shingle) row with no
    * combiner); per-doc sizes ride the explode from the array base.
    * Ranks are computed over the FULL per-doc set BEFORE the df>1
    * filter, so `sz − rnk` still counts true remaining elements;
    * dropping singleton hash buckets afterwards only removes index
    * rows that can never collide. */
  private def rankedShingles(ds: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dsh = ds.withColumn("h", xxhash64(col("shingle")))
    val df = dsh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    dsh.join(df, "h")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("df"), col("h"), col("shingle"))))
      .filter(col("df") > 1)
      .select(col("id"), col("h"), col("sz"), col("rnk"))
  }

  /** Each doc's first `sz − ⌈tau·sz⌉ + 1` ranked positions — the
    * prefix-filter index. α = ⌈τ·|S|⌉ under a float-robust ceiling:
    * 0.4·5 floats to 2.0000000000000004, and a plain ceil would
    * overshoot α and SHORTEN the prefix — an incompleteness bug, not
    * a perf detail. Underestimating α (the epsilon's only possible
    * effect) merely admits extra candidates, which verification
    * discards. */
  private def prefixOf(ranked: DataFrame, tau: Double): DataFrame =
    ranked.filter(col("rnk") <=
      col("sz") - ceil(lit(tau) * col("sz") - 1e-9) + 1)

  /** Prefix-filtered [[jaccardPairs]], identical rows (notes above
    * [[rankedShingles]]). Preconditions: one row per id (unchecked);
    * the prefix index (~(1−τ) of corpus shingles) and the candidate
    * docs' shingle sets are broadcast and must fit executor memory —
    * past that Spark fails the query. */
  def prefixJaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    prefixJaccardPairsFromTokens(docTokens(docs), n, threshold)

  /** [[prefixJaccardPairs]] over a pre-tokenized (id, toks) frame —
    * identical rows; lets a composed pipeline tokenize once.
    * Preconditions as [[prefixJaccardPairs]]. */
  def prefixJaccardPairsFromTokens(tokDf: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // Pruning must use a SNAP-SLACK-relaxed τ: verification accepts the
    // r4-SNAPPED ratio ≥ τ, and Num.r snaps in TWO stages (r8 then
    // r4), each rounding half-ties up — so a raw ratio as low as
    // τ − 5e-5 − 0.5e-8 can still snap to τ and be emitted by
    // verification (and by the all-pairs twin + oracle); the integer
    // candidate bounds below must not drop it. Pruning with the
    // doubly-widened slack admits a sliver of extra candidates;
    // verification discards them.
    val tau = threshold - (5e-5 + 1e-8)
    val sh = shingleSets(tokDf, n).pin(Wide)
    val prefix = prefixOf(rankedShingles(explodeSetsWithSize(sh)), tau).pin(Wide)
    // Candidate aggregation carries the PPJoin filter inputs out of
    // the prefix self-join for free: po = #prefix collisions, pa/pb =
    // rank of the LAST collision on each side. Under the global order
    // the common elements of A and B appear with jointly increasing
    // ranks, and "in both prefixes" is downward-closed on that common
    // sequence — so the po collisions are exactly the FIRST po common
    // elements, and every remaining common element has rank > pa in A
    // AND rank > pb in B. Hence |A∩B| ≤ po + min(sz_a−pa, sz_b−pb).
    // The length filter (J ≤ min/max of sizes) sits IN the join
    // condition so doomed collisions die before the pair shuffle.
    val cand = prefix.as("a")
      .join(broadcast(prefix.as("b")),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            lit(tau) * greatest(col("a.sz"), col("b.sz")) - 1e-9)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("po"),
        max(col("a.rnk")).as("pa"), max(col("b.rnk")).as("pb"))
    // J ≥ τ needs |A∩B| ≥ τ/(1+τ)·(|A|+|B|); float-robust floor on
    // the requirement so rounding can only ADMIT extra candidates.
    val needed = ceil(
      lit(tau / (1.0 + tau)) * (col("sz_a") + col("sz_b")) - 1e-9)
    // survivors feeds BOTH the semi-reduction and the verification
    // join — pin it so the candidate join runs once, not three times
    val survivors = cand
      .filter(col("po") +
        least(col("sz_a") - col("pa"), col("sz_b") - col("pb")) >= needed)
      .pin(Wide)
    // Verification touches only documents that survive both filters:
    // semi-reduce the per-doc sorted shingle sets to candidate docs
    // (at scale, a vanishing fraction of the corpus — this is where
    // prefix filtering pays), then one exact merge-intersect per pair
    // (codegen'd; `size(array_intersect(..))` is an interpreted
    // hash-set per row and was the dominant cost of the whole query).
    val sets = sortedSets(sh, pairIds(survivors)).pin(Wide)
    verifiedJaccard(survivors.select(col("id_a"), col("id_b")),
      sets, sets, threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Directed containment join: pairs where |A∩B| / |A| ≥ τ — the
    * excerpt/quotation detector (a short doc fully contained in a long
    * one has low Jaccard but containment 1.0; Jaccard-only dedup
    * misses it). Emits (contained, container, containment), both
    * directions of each undirected candidate evaluated independently.
    * Candidate generation shares the singleton-pruned inverted index
    * with [[jaccardPairs]] — quadratic in shared-shingle pairs, so
    * like [[jaccardPairs]] this is the small-corpus verification
    * tool; [[prefixContainmentPairs]] is the identical-result scale
    * path.
    * Precondition: one row per id (unchecked; see [[TextDedup]]). */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val sh = docShingleSets(docs, n).pin(Wide)
    val ds = explodeSetsWithSize(sh)
    // singleton pruning via groupBy+join (map-side partials) — see
    // jaccardPairs; sizes ride the explode and group with the pair key
    val df = ds.groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
    val shared = ds.join(df.filter(col("n_docs") > 1), "shingle")
      .select(col("id"), col("sz"), col("shingle"))
    val inter = shared.as("a")
      .join(shared.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
    // both directions from ONE pass: a union of two projections over
    // this pipeline would re-execute the whole pair computation per
    // branch (the Profiler unpivot trap) — explode a 2-element struct
    // array instead
    inter
      .select(explode(array(
        struct(col("id_a").as("contained"), col("id_b").as("container"),
          Num.r4(col("inter").cast("double") / col("sz_a")).as("containment")),
        struct(col("id_b").as("contained"), col("id_a").as("container"),
          Num.r4(col("inter").cast("double") / col("sz_b")).as("containment"))))
        .as("d"))
      .select(col("d.contained").as("contained"),
        col("d.container").as("container"),
        col("d.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Prefix-filtered directed containment join — identical result set
    * to [[containmentPairs]] but never all-pairs: the scale path for
    * excerpt/quotation dedup (the directed analogue of
    * [[prefixJaccardPairs]]'s PPJoin).
    *
    * Theorem (directed prefix filter): |A∩B| ≥ τ·|A| means the
    * overlap requirement t = ⌈τ·|A|⌉ depends ONLY on the contained
    * side A. By pigeonhole, at least one common element must lie in
    * A's first |A| − t + 1 shingles under ANY global total order — so
    * only the CONTAINED side's prefix is indexed. The container side
    * gets no prefix (t gives it no bound: a 5-shingle excerpt's three
    * common shingles can sit anywhere in a 10⁶-shingle container), so
    * it probes with its full df>1 shingle list. Fan-out per shingle is
    * df × df_prefix instead of df² — and under the (df asc, shingle
    * asc) order hot boilerplate shingles live in SUFFIXES, never in
    * the index, which is exactly what kills the Σ df² blowup of the
    * all-pairs form (a df=10⁶ trigram contributes ~0 indexed rows).
    *
    * PPJoin-style pruning carried out of the index join for free:
    *  - LENGTH filter in the join condition: |A∩B| ≤ |B| forces
    *    |B| ≥ τ·|A| — doomed collisions die before the pair shuffle.
    *  - POSITIONAL filter: po = #collisions (A-prefix × B-full),
    *    pa/pb = last-collision ranks. Common elements appear with
    *    jointly increasing ranks under the global order and "in A's
    *    prefix" is downward-closed along that common sequence, so the
    *    po collisions are the FIRST po common elements and every
    *    remaining one has rank > pa in A and > pb in B:
    *    |A∩B| ≤ po + min(sz_a − pa, sz_b − pb) < ⌈τ·sz_a⌉ → pruned.
    * Survivors are verified exactly — sorted-set merge-intersect over
    * docs semi-reduced to candidates — so pruning can only drop
    * candidates the verifier would reject.
    *
    * Preconditions: one row per id (unchecked; see [[TextDedup]]); the
    * contained-side prefix index (~(1−τ) of corpus shingles) and the
    * candidate docs' shingle sets are broadcast and must fit executor
    * memory — past that Spark fails the query. */
  def prefixContainmentPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    // snap-slack-relaxed τ for pruning, as in prefixJaccardPairs:
    // verification accepts the r4-snapped containment ≥ τ, which a
    // raw ratio in [τ−5e-5−0.5e-8, τ) also satisfies (both Num.r
    // rounding stages covered — see prefixJaccardPairs)
    val tau = threshold - (5e-5 + 1e-8)
    val sh = docShingleSets(docs, n).pin(Wide)
    // unlike the Jaccard join, BOTH sides of the candidate join need
    // ranked rows (the container side probes with its full df>1 set),
    // so the shared ranked frame is what gets pinned here
    val ranked = rankedShingles(explodeSetsWithSize(sh)).pin(Wide)
    // contained-side index: first |A| − ⌈τ·|A|⌉ + 1 shingles
    val prefix = prefixOf(ranked, tau)
    val cand = ranked.as("b")
      .join(broadcast(prefix.as("a")), col("a.h") === col("b.h") &&
        col("a.id") =!= col("b.id") &&
        col("b.sz") >= lit(tau) * col("a.sz") - 1e-9)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("po"),
        max(col("a.rnk")).as("pa"), max(col("b.rnk")).as("pb"))
    val needed = ceil(lit(tau) * col("sz_a") - 1e-9)
    val survivors = cand
      .filter(col("po") +
        least(col("sz_a") - col("pa"), col("sz_b") - col("pb")) >= needed)
      .pin(Wide)
    val sets = sortedSets(sh, pairIds(survivors)).pin(Wide)
    def side(idc: String, suffix: String): DataFrame =
      broadcast(sets.select(col("id").as(idc), col("set").as(s"set_$suffix"),
        col("sz").as(s"szv_$suffix")))
    survivors.select(col("id_a"), col("id_b"))
      .join(side("id_a", "a"), "id_a")
      .join(side("id_b", "b"), "id_b")
      .withColumn("inter", graft.plans.SetFunctions.sorted_intersect_count(
        col("set_a"), col("set_b")))
      .withColumn("containment",
        Num.r4(col("inter").cast("double") / col("szv_a")))
      .filter(col("containment") >= threshold)
      .select(col("id_a").as("contained"), col("id_b").as("container"),
        col("containment"))
  }

  /** MinHash parameters — fixed public constants so Spark and the
    * DuckDB oracle compute identical signatures. p > 2^32 prime;
    * a,b < 2^31 so a*h32+b < 2^63. */
  val P: Long = 4294967311L
  val A: Seq[Long] = Seq(1558711311L, 878120813L, 1696782683L, 1638584883L,
    1647627919L, 1497186517L, 2123528257L, 1957354571L,
    1243106675L, 1231442213L, 1073355917L, 1922236117L,
    1176321983L, 1467911261L, 2132131777L, 1636126099L)
  val B: Seq[Long] = Seq(161289079L, 541874839L, 373986511L, 500034517L,
    1442400989L, 1999767523L, 205359239L, 1152543499L,
    1913815159L, 862912897L, 609964379L, 1421323177L,
    187234177L, 1810875859L, 975868541L, 1618374623L)
  val NumHashes = 16
  val BandRows = 4
  def numBands: Int = NumHashes / BandRows

  /** Per-document MinHash signature columns m0..m15 of exploded
    * (id, shingle) rows. One grouped aggregation — the shuffle key is
    * the doc id. */
  private def signaturesFromShingles(ds: DataFrame): DataFrame = {
    val h = ds.withColumn("h", hash32(col("shingle")))
    val aggs = (0 until NumHashes).map(i =>
      min((col("h") * A(i) + B(i)) % P).as(s"m$i"))
    h.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, band, key) LSH bucket rows of a signature frame. */
  private def bandKeys(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until BandRows).map(r => col(s"m${b * BandRows + r}")): _*)
          .as("key"))
    }
    sigs
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** LSH candidate pairs: docs sharing any band of the signature.
    * `maxBucket` drops degenerate buckets (see scale notes). */
  def minhashCandidates(sigs: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val buckets = bandKeys(sigs)
    // bucket sizes by groupBy+join (map-side partials), not a window
    val bsz = buckets.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bucket_size"))
    val bounded = buckets
      .join(bsz.filter(col("bucket_size") <= maxBucket), Seq("band", "key"))
    bounded.as("a")
      .join(bounded.as("b"), col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → banded candidate
    * pairs → exact Jaccard verification ≥ threshold (sorted-set
    * merge-intersect over candidate docs only).
    * Preconditions: one row per id (unchecked; see [[TextDedup]]); the
    * candidate docs' shingle sets are broadcast and must fit executor
    * memory — past that Spark fails the query. */
  def minhashDedup(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // one per-doc shingle-array pass feeds signatures and verification
    val sh = docShingleSets(docs, n).pin(Wide)
    val candidates = minhashCandidates(
      signaturesFromShingles(explodeSets(sh))).pin(Wide)
    val sets = sortedSets(sh, pairIds(candidates))
    verifiedJaccard(candidates, sets, sets, threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The corpus side of [[incrementalDedup]], built once by
    * [[corpusIndex]] and probed by every batch: content fingerprints
    * (`fp`), per-doc shingle sets (`id`, `shs`) and the LSH band table
    * (`id`, `band`, `key`) with degenerate buckets dropped. */
  final case class CorpusIndex(n: Int, fps: DataFrame, sets: DataFrame,
      bands: DataFrame)

  /** Build and pin the [[CorpusIndex]] of `corpus` for n-gram shingles;
    * `maxBucket` drops corpus buckets holding more docs, exactly as in
    * [[minhashCandidates]]. The pins belong to the caller's scope (a
    * stream builds the index once, outside its micro-batches). */
  def corpusIndex(corpus: DataFrame, n: Int = 3,
      maxBucket: Int = 1000): CorpusIndex = {
    import graft.functions.TextFunctions.fingerprint
    val fps = corpus.select(fingerprint(col("text")).as("fp")).pin(Wide)
    val sets = docShingleSets(corpus, n).pin(Wide)
    // the band table feeds its own bucket-size guard AND the bounded
    // join — pin it or the signature pass runs once per consumer
    val bands = bandKeys(signaturesFromShingles(explodeSets(sets)))
      .pin(Narrow)
    val bsz = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bucket_size"))
    val bounded = bands
      .join(bsz.filter(col("bucket_size") <= maxBucket), Seq("band", "key"))
      .select(col("id"), col("band"), col("key"))
      .pin(Narrow)
    CorpusIndex(n, fps, sets, bounded)
  }

  /** Incremental batch-vs-corpus dedup — the daily-ingest shape: a
    * new batch of documents is checked against an existing corpus,
    * never corpus×corpus. One row per batch doc:
    * status ∈ {dup_exact, dup_near, new} + the number of corpus
    * matches behind the verdict.
    *
    *  - exact: normalized-content fingerprint equi-join.
    *  - near: MinHash LSH bands joined CROSS-TABLE (batch probe side
    *    against the corpus index side), candidates verified by exact
    *    Jaccard ≥ threshold. Only batch docs with NO exact copy enter
    *    the near path (an exact copy already decides the verdict).
    *
    * Scale: the corpus side is the prebuilt [[CorpusIndex]] (in a real
    * deployment stored bucketed by (band, key)), so each call moves
    * only the (tiny) batch side. Nothing here is ever corpus×corpus.
    * Precondition: one row per id (unchecked; see [[TextDedup]]).
    *
    * Streaming: applied per micro-batch through
    * [[graft.streaming.MicroBatch]] against an index built once, the
    * stream IS the daily batch, arriving continuously, and its pins are
    * released as each batch ends. Each micro-batch dedups against the
    * static corpus only: two near-identical docs arriving in different
    * micro-batches both get their corpus verdict (intra-stream dedup is
    * StreamDedup's job, composable upstream). Growing the corpus index
    * as batches commit is the sink's concern; the verdicts carry what
    * it needs to append `new` docs. */
  def incrementalDedup(batch: DataFrame, corpus: CorpusIndex,
      threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val bfp = batch.select(col("doc_id").as("id"), fingerprint(col("text")).as("fp"))
    val exact = bfp.join(corpus.fps, "fp").groupBy(col("id"))
      .agg(count(lit(1)).as("n_exact"))
    val bRest = batch.join(exact.select(col("id").as("doc_id")), Seq("doc_id"),
      "left_anti")
    // The batch set table feeds its band fan-out AND its sorted-set
    // verification side, so it is pinned before any consumer plans.
    // Lazy, the concurrently submitted consumer stages raced the
    // unfilled cache and re-ran the tokenize+shingle+signature per
    // racer (run-1 CPU 50.7 s raced vs ~30 s pinned at sf0.1).
    val bs = docShingleSets(bRest, corpus.n).pin(Wide)
    val cand = bandKeys(signaturesFromShingles(explodeSets(bs))).as("a")
      .join(corpus.bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .pin(Narrow)
    // verification via sorted-set merge-intersect, each side
    // semi-reduced to its own candidate ids
    val bSets = sortedSets(bs, cand.select(col("id_a").as("id")).distinct())
    val cSets = sortedSets(corpus.sets, cand.select(col("id_b").as("id")).distinct())
    val near = verifiedJaccard(cand, bSets, cSets, threshold)
      .groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("n_near"))
    batch.select(col("doc_id").as("id"))
      .join(exact, Seq("id"), "left")
      .join(near, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        when(col("n_exact") > 0, lit("dup_exact"))
          .when(col("n_near") > 0, lit("dup_near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("n_exact"), col("n_near"), lit(0L)).as("n_matches"))
  }

  /** Per-batch-doc novelty against a corpus: the fraction of the
    * document's distinct n-gram shingles never seen anywhere in the
    * corpus — the diversity/redundancy QC signal for incremental
    * ingestion (a batch with novelty ≈ 0 adds nothing to training
    * data even when no single document crosses a dedup threshold).
    * Docs with fewer than n tokens have no shingles and emit no row.
    *
    * Scale: one distinct-shingle aggregation per side; the membership
    * probe is a left join on the shingle key. At deployment the
    * corpus shingle set is the stored index — only the batch side is
    * computed per run. */
  def noveltyAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      n: Int = 3): DataFrame = {
    val bs = docShingles(batch, n)
    val cSh = docShingles(corpus, n)
      .select(col("shingle")).distinct().withColumn("seen", lit(1))
    bs.join(cSh, Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("seen").isNull, 1)).as("n_novel"))
      .select(col("id").as("doc_id"), col("n_shingles"),
        Num.r4(col("n_novel").cast("double") / col("n_shingles")).as("novel_frac"))
  }

  /** 32-bit SimHash: per bit, sign of Σ tf·(±1) over distinct terms —
    * which equals Σ ±1 over token OCCURRENCES (tf is the occurrence
    * count), so no per-term tf grouping is needed: one explode + ONE
    * grouped aggregation with map-side partials. The shuffle carries
    * 33 longs per doc, independent of document length. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id").as("id"),
      explode(tokens(col("text"))).as("tok"))
      .withColumn("h", hash32(col("tok")))
    val bitSums = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"s$b"))
    val agg = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x + y)
    agg.select(col("id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with band blocking: 4 bands of 8 bits; any
    * shared band → candidate; keep pairs with Hamming distance ≤ k.
    * Precondition: one side of the band self-join (4 bands × the
    * signature table) is broadcast and must fit executor memory; past
    * that Spark fails the query. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    // no pin: the band table feeds BOTH sides of the self-join, but
    // both sides read the one `sigs` exchange below (AQE reuses it), so
    // the signature computation (tokenize + 32 weighted bit sums over
    // the corpus) runs once per execution without one.
    // repartition the signatures by id: the signature agg
    // is AQE-coalesced to its byte-size (tiny — 9 longs/doc) but the
    // work BELOW it fans out ×4 bands and probes the band join with a
    // per-collision popcount — with the coalesced layout that whole
    // stage ran on a single task. The partition count must be EXPLICIT:
    // a bare repartition(col) is itself AQE-coalesced right back to one
    // partition on these byte-tiny rows (observed: two 1-task ~1 CPU-s
    // probe stages). defaultParallelism = the cluster width, so the
    // shape is scale-adaptive, not a local[32] constant; the exchange
    // still moves only the narrow signature rows.
    val sigs = simhash(docs).repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col("id"))
    val bands = sigs.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 8).bitwiseAND(255).as("key"))): _*))
        .as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
    // hamming filter BELOW the dedup: evaluated during the join probe,
    // so the distinct only sees surviving pairs (~4% of candidates),
    // not every band collision
    bands.as("a")
      .join(broadcast(bands.as("b")), col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
