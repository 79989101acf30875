package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.expressions.BloomSketch
import graft.functions.TextFunctions._
import graft.util.{Fs, Gen}

/** Deduplication operators for training-data pipelines, designed 100-TB-first
  * (SURVEY.md §2.6 / BASELINE.json north star):
  *
  *   - [[exact]]: hash-groupBy — one shuffle on a 128-bit digest, never on
  *     the raw text (shuffling full documents at 100 TB is the anti-pattern).
  *   - [[minHashLsh]]: shingle → MinHash signature → banded LSH join. The
  *     only joins are on (band, bandKey) buckets; candidate volume is
  *     controlled by band geometry, not corpus size O(n²). Oversized
  *     buckets (adversarial near-identical floods) are routed through a
  *     skew-tolerant shuffle join instead of single-task pair expansion.
  *   - [[simHash]]: 32-bit SimHash per document; near-dup = small Hamming
  *     distance. Signature computation is a single aggregation pass.
  *   - [[ngramJaccard]]: exact n-gram Jaccard via inverted-index self-join —
  *     the verification stage behind the LSH candidates (and an oracle-able
  *     ground truth at test scale).
  *   - [[nearDupDrops]]: the production pipeline — exact-dedup first (the
  *     strongest mega-bucket guard: 10⁶ identical docs become ONE
  *     representative before any signature work), LSH candidates over the
  *     representatives, exact-Jaccard verify, drop set out.
  *
  * All hashing defaults to [[TextFunctions.hash60]] (md5-based) so DuckDB
  * reproduces every signature bit-for-bit for the correctness oracle. The
  * hasher is PLUGGABLE ([[shingleIndex]]/[[nearDupDrops]] take a
  * `hasher`): a production 100-TB run should pass `xxhash64(_)` — ~10×
  * cheaper per shingle than md5, codegen'd, and every shape downstream
  * (signatures, banding, verify) is hash-agnostic (pinned by a
  * drop-set-equality test across hashers).
  *
  * The shingle work shares one subtree: [[shingleIndex]] feeds a single
  * per-doc array aggregation inside [[nearDupDrops]] from which both the
  * LSH signatures (via a partition-preserving explode — no extra
  * exchange) and the Jaccard verify derive; a long-lived pipeline would
  * persist that array index once and fan out from it.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** MinHash parameters: `numPerms` permutations `h_i(x) = (a_i*x + b_i) mod P`
    * over the 60-bit shingle hash reduced mod P. P is the Mersenne prime
    * 2^31-1, so a*x stays under 2^62 — no 64-bit overflow in either engine. */
  val P: Long = 2147483647L
  def permA(i: Int): Long = (2654435761L * (i + 1)) % P
  def permB(i: Int): Long = (40503L * (i + 1) * (i + 1) + 1234567L) % P

  /** Distinct (doc, h) inverted shingle index — the shared foundation of
    * MinHash, LSH and Jaccard. 8-byte hashes, never shingle strings, cross
    * the shuffle (~60% less volume; the oracle hashes identically so all
    * counts agree by construction).
    *
    * Built CODEGEN-FIRST: `posexplode` the token array and assemble each
    * shingle per exploded row with `concat_ws` over `n` positional
    * `get`s — every operator a codegen'd builtin, identical strings (and
    * therefore identical hashes) to the
    * `explode(shinglesFromTokens(toks, n))` spelling, which pays an
    * interpreted HOF lambda per shingle (~20 s of executor time per
    * corpus pass at sf0.1 — the cost that made q41/q75 GC-bound and t13
    * serial before their codegen rewrites; A/B'd in one session, this
    * form measured marginally cheaper and never worse). */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, hasher: Column => Column = hash60(_)): DataFrame =
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), col("toks"), posexplode(col("toks")))
      .filter(col("pos") <= size(col("toks")) - n)
      .select(col("doc"), hasher(concat_ws(" ",
        (0 until n).map(j => get(col("toks"), col("pos") + j)): _*)).as("h"))
      .distinct()

  /** Per-document MinHash signature columns `mh0..mhN` from a shingle
    * index. Map-side partial min keeps the shuffle at (doc, numPerms longs).
    * Duplicate h values cannot change a min, so operating on distinct-h is
    * exactly the oracle's `SELECT DISTINCT ... % P` formulation. */
  def minHashSignaturesFromIndex(idx: DataFrame,
      numPerms: Int = 16): DataFrame = {
    val mins = (0 until numPerms).map(i =>
      min(((col("h") % P) * permA(i) + permB(i)) % P).as(s"mh$i"))
    idx.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
  }

  /** Per-document MinHash signature (public id-column-preserving form). */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerms: Int = 16): DataFrame =
    minHashSignaturesFromIndex(shingleIndex(df, idCol, textCol, n), numPerms)
      .withColumnRenamed("doc", idCol)

  /** All ordered pairs (a < b) from bucketed id arrays, as a compiled typed
    * flatMap: Catalyst higher-order lambdas evaluate interpreted per element
    * (measured 2-3x slower on 1M+ pair expansions), and a self-join would
    * recompute the whole upstream subtree per side. Safe when buckets are
    * small by construction — callers must cap bucket size. */
  private def expandPairs(buckets: DataFrame, idsCol: String): DataFrame = {
    val spark = buckets.sparkSession
    import spark.implicits._
    buckets.select(col(idsCol)).as[Seq[Long]].flatMap { ids =>
      val s = ids.sorted
      s.indices.iterator.flatMap(i =>
        (i + 1 until s.size).iterator.map(j => (s(i), s(j))))
    }.toDF("doc_a", "doc_b")
  }

  /** Banded LSH candidate pairs from a shingle index: signature split into
    * `bands` bands of `rows` permutations; docs sharing any full band become
    * a candidate. Output: (doc_a, doc_b, n_bands) with doc_a < doc_b.
    *
    * Scale shape: buckets with ≤ `maxBucket` members take the compiled
    * collect_list + pair-expansion path (one row per bucket — cheap, and
    * banding keeps buckets small on non-adversarial data). Buckets BEYOND
    * `maxBucket` (a flood of near-identical docs that survived exact dedup)
    * never materialize as a single row: their members are self-joined on
    * (band, key), a shuffle join AQE can skew-split across tasks, instead
    * of one O(n²) straggler task. Both paths emit one row per shared band,
    * so the per-pair band counts are path-independent. */
  def lshCandidatesFromIndex(idx: DataFrame, bands: Int = 4, rows: Int = 4,
      maxBucket: Int = 10000): DataFrame =
    lshCandidatesFromSignatures(
      minHashSignaturesFromIndex(idx, bands * rows), bands, rows, maxBucket)

  /** Banding over an existing signature frame (doc, mh0..mhN). */
  def lshCandidatesFromSignatures(sig: DataFrame, bands: Int = 4,
      rows: Int = 4, maxBucket: Int = 10000): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*)
          .as("key"))
    }
    // ONE (band,key) aggregation feeds both guard branches. collect_list
    // is non-deterministic, which disables Spark's exchange reuse, so the
    // bucket aggregation is local-checkpointed (lazy): computed once on
    // first use and re-read from block storage by the other branch,
    // instead of re-running the whole signature subtree per branch.
    val buckets = sig
      .select(col("doc"), explode(array(bandCols: _*)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(collect_list(col("doc")).as("ids"))
      .localCheckpoint(false)
    val smallPairs = expandPairs(
      buckets.filter(size(col("ids")).between(2, maxBucket)), "ids")
    // an overflowing bucket (near-identical flood that survived exact
    // dedup) is never pair-expanded in one task: its members are exploded
    // back to rows and pair up via a shuffle join that AQE can skew-split.
    // (The collect_list row itself is O(bucket) memory — bounded by the
    // upstream exact-dedup stage; the fatal O(bucket²) single-task
    // expansion is what this routes around.)
    val big = buckets.filter(size(col("ids")) > maxBucket)
      .select(col("band"), col("key"), explode(col("ids")).as("doc"))
    val bigPairs = big.select(col("band"), col("key"), col("doc").as("doc_a"))
      .join(big.select(col("band"), col("key"), col("doc").as("doc_b")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    smallPairs.unionByName(bigPairs)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Banded LSH candidate pairs (public text-column form). */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rows: Int = 4,
      maxBucket: Int = 10000): DataFrame =
    lshCandidatesFromIndex(shingleIndex(df, idCol, textCol, n), bands, rows,
      maxBucket)

  /** 32-bit SimHash over distinct tokens: bit i is set when the count of
    * token-hashes with bit i set exceeds those without. Single explode +
    * single aggregation with 32 conditional sums — no per-bit explosion. */
  def simHash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    val tok = df
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(array_distinct(col("toks"))).as("t"))
      .withColumn("h", hash60(col("t")))
    val bitSums = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    val agg = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val hashExpr = (0 until bits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)): Column
    }.reduce(_ + _)
    agg.select(col(idCol), hashExpr.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist — exact
    * all-pairs form (ground truth at test scale; production uses
    * [[simHashNearDupsBanded]]). */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val sh = simHash(df, idCol, textCol)
    val l = sh.select(col(idCol).as("doc_a"), col("simhash").as("sh_a"))
    val r = sh.select(col(idCol).as("doc_b"), col("simhash").as("sh_b"))
    l.crossJoin(r)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** The 100-TB SimHash search: pigeonhole banding. Split the `bits`-bit
    * signature into `maxDist + 1` disjoint bands — two signatures within
    * Hamming distance maxDist MUST agree exactly on at least one band
    * (pigeonhole), so candidates are pairs sharing a (band, bandBits)
    * bucket: an equi-join like MinHash-LSH with guaranteed recall 1, no
    * all-pairs anywhere; exact bit_count verification then trims false
    * positives. Identical output to [[simHashNearDups]] by construction
    * (asserted in the suite). At corpus scale use wider signatures
    * (`bits = 60`) so each band carries enough entropy to keep buckets
    * small; 32/4 matches the oracle-verified q26 signature. */
  def simHashNearDupsBanded(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, bits: Int = 32): DataFrame = {
    val sh = simHash(df, idCol, textCol, bits)
    val nBands = maxDist + 1
    val width = bits / nBands
    val bandCols = (0 until nBands).map { b =>
      val w = if (b == nBands - 1) bits - b * width else width
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width)
          .bitwiseAND(lit((1L << w) - 1)).as("key"))
    }
    val bucketed = sh.select(col(idCol).as("doc"), col("simhash"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    bucketed
      .select(col("band"), col("key"), col("doc").as("doc_a"),
        col("simhash").as("sh_a"))
      .join(bucketed.select(col("band"), col("key"), col("doc").as("doc_b"),
        col("simhash").as("sh_b")), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** The production near-dup pipeline: exact dedup → LSH candidates over
    * representatives → exact Jaccard verify → the doc_ids to DROP
    * (keep-smallest policy).
    *
    * Stage 0 (exact): identical texts collapse to their min-id
    * representative; the non-representatives are dropped outright (their
    * pair similarity is 1 ≥ any threshold) and never enter signature
    * computation. Besides being how every production pipeline sequences
    * dedup, this is the strongest mega-bucket guard: a pathological corpus
    * of 10⁶ identical documents becomes ONE doc before LSH. (Divergence
    * note: identical docs too short to shingle are still dropped here,
    * while a shingle-only formulation has no pair for them.)
    *
    * The LSH and verify stages consume the SAME [[shingleIndex]] subtree,
    * so its distinct-Exchange is computed once and re-read (exchange
    * reuse) — the round-1 shape computed the shingling twice. The verify
    * stage is restricted to candidate-involved docs by plain semi-joins
    * (no broadcast hint: the candidate set is unbounded at 100 TB with a
    * high dup rate — AQE picks broadcast at runtime when it fits). */
  def nearDupDrops(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rows: Int = 4,
      threshold: Double = 0.8, maxBucket: Int = 10000,
      hasher: Column => Column = hash60(_)): DataFrame = {
    // exact stage shuffles (digest, id) pairs only — never the text; the
    // (k, doc) Exchange under `reps` is identical to the join's left side,
    // so exchange reuse makes exactDropped nearly free
    val keyedIds = df.select(md5(col(textCol)).as("k"), col(idCol).as("doc"))
    val reps = keyedIds.groupBy(col("k")).agg(min(col("doc")).as("rep"))
    val exactDropped = keyedIds.join(reps, Seq("k"))
      .filter(col("doc") =!= col("rep"))
      .select(col("doc").as("dropped"))
    // representatives carry their text forward via a semi join on id (AQE
    // broadcasts the rep-id side when it fits; at full scale this is the
    // pipeline's one unavoidable text movement)
    val repDocs = df.select(col(idCol).as("doc"), col(textCol).as("text"))
      .join(reps.select(col("rep").as("doc")), Seq("doc"), "left_semi")

    // ONE shuffle shape materializes the per-doc sorted shingle-hash
    // arrays; everything downstream derives from it. The MinHash
    // signatures come from exploding `hs` back out — Generate preserves
    // the hash partitioning on `doc`, so the signature aggregation adds
    // NO second exchange. Spark cannot re-serve the docArrays shuffle
    // across its consumers (collect_list is non-deterministic, which
    // disables exchange reuse), so the array index is local-checkpointed
    // (lazy): computed once, then re-read by the signature derivation and
    // BOTH sides of the verify join — the standard persisted-dedup-index
    // shape for a multi-consumer pipeline stage.
    // Verify = exact Jaccard per CANDIDATE PAIR: join each pair to the
    // two docs' arrays and intersect. (The inverted-index self-join in
    // [[jaccardFromIndex]] stays the right shape for UNrestricted
    // all-pairs search; per-pair verify replicates each doc's array once
    // per candidate pair — bounded by LSH band geometry — instead of
    // joining the whole index against itself.)
    val idx = shingleIndex(repDocs, "doc", "text", n, hasher)
    val docArrays = idx.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
      .localCheckpoint(false)
    val sig = minHashSignaturesFromIndex(
      docArrays.select(col("doc"), explode(col("hs")).as("h")), bands * rows)
    val cands = lshCandidatesFromSignatures(sig, bands, rows, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val nearDropped = cands
      .join(docArrays.select(col("doc").as("doc_a"), col("hs").as("hs_a")),
        Seq("doc_a"))
      .join(docArrays.select(col("doc").as("doc_b"), col("hs").as("hs_b")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter"))
            .cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_b").as("dropped"))
    exactDropped.unionByName(nearDropped).distinct()
  }

  /** Exact n-gram Jaccard pairs ≥ `threshold` from a shingle index via
    * PPJoin-style PREFIX FILTERING (Xiao et al., WWW'08 — public
    * algorithm): order every document's shingle hashes by ascending
    * global document frequency (rarest first); two sets with
    * J(A,B) ≥ t must share at least one element inside their
    * `|A| − ⌈t·|A|⌉ + 1`-element prefixes, so ONLY prefixes are
    * self-joined. This is exact (recall 1 by the prefix-filtering
    * theorem) and kills the two scale problems of the naive inverted
    * self-join:
    *   - join volume drops ~(1−t)× (only ~20% of each index row set is
    *     indexed at t = 0.8);
    *   - the df² blowup on hot shingles disappears — boilerplate
    *     n-grams shared by millions of docs sort to the SUFFIX and are
    *     never join keys; prefix keys are the rare shingles.
    * A length filter (J ≥ t ⟹ t·max(|A|,|B|) ≤ min(|A|,|B|)) prunes
    * candidates before the verify join; verification intersects the
    * full per-doc sorted hash arrays (exact counts, same rounding as
    * the DuckDB oracle). Driver-measured 11 s → the prefix plan at
    * sf0.1; equivalence to the all-pairs inverted formulation is
    * pinned by a suite test. */
  def jaccardFromIndex(idx: DataFrame, threshold: Double): DataFrame = {
    val dfreq = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val arr = prefixArrays(idx, dfreq, threshold)
    val pref = arr.select(col("doc"), col("n_sh"),
      explode(col("pref")).as("h"))
    val cands = pref.select(col("h"), col("doc").as("doc_a"),
        col("n_sh").as("n_a"))
      .join(pref.select(col("h"), col("doc").as("doc_b"),
        col("n_sh").as("n_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    verifyPairs(cands, arr, arr, threshold)
  }

  /** One row per doc: hashes sorted rarest-first under the given global
    * df order (lexicographic struct sort on (df, h) — deterministic), the
    * plain sorted array for verification, and the prefix slice for
    * candidate generation. Checkpointed: it feeds several consumers and
    * collect_list is non-deterministic (no planner exchange reuse).
    * ⌈t·n⌉ is computed with an epsilon so float noise can only LENGTHEN
    * the prefix (a one-short prefix silently loses recall; one-long only
    * costs work). */
  private def prefixArrays(idx: DataFrame, dfreq: DataFrame,
      threshold: Double): DataFrame = {
    def ceilT(n: Column): Column = ceil(lit(threshold) * n - lit(1e-9))
    idx.join(dfreq, Seq("h"))
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("dfh"))
      .withColumn("n_sh", size(col("dfh")))
      .withColumn("hs", array_sort(transform(col("dfh"), _.getField("h"))))
      .withColumn("pref",
        transform(slice(col("dfh"), lit(1),
          (col("n_sh") - ceilT(col("n_sh")) + 1).cast("int")),
          _.getField("h")))
      .drop("dfh")
      .localCheckpoint(false)
  }

  /** Exact verify of candidate (doc_a, doc_b) pairs against the two
    * sides' sorted hash arrays. No broadcast hints: the candidate set is
    * unbounded at corpus scale; AQE picks broadcast when it fits. */
  private def verifyPairs(cands: DataFrame, arrA: DataFrame,
      arrB: DataFrame, threshold: Double): DataFrame =
    jaccardAtLeast(cands
      .join(arrA.select(col("doc").as("doc_a"), col("hs").as("hs_a")),
        Seq("doc_a"))
      .join(arrB.select(col("doc").as("doc_b"), col("hs").as("hs_b")),
        Seq("doc_b")), threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))

  /** The pairs whose sorted hash arrays `hs_a` and `hs_b` reach exact
    * Jaccard ≥ `threshold` (rounded to 6 places), with `inter` and
    * `jaccard` added — the one spelling of the verify. */
  private def jaccardAtLeast(pairs: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter"))
            .cast("double"), 6))
      .filter(col("jaccard") >= threshold)

  /** Cross-set exact Jaccard ≥ `threshold`: every (A-doc, B-doc) pair —
    * the incremental-ingest verify (new batch vs existing corpus). The
    * prefix theorem needs ONE global order shared by both sides, so the
    * rarest-first order is computed over the UNION of the two indexes;
    * after that it is the [[jaccardFromIndex]] shape with the self-join
    * replaced by an A×B prefix join. Output: (doc_a ∈ A, doc_b ∈ B,
    * inter, jaccard) with no ordering constraint between ids. */
  def jaccardAcross(idxA: DataFrame, idxB: DataFrame,
      threshold: Double): DataFrame = {
    val dfreq = idxA.unionByName(idxB)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val arrA = prefixArrays(idxA, dfreq, threshold)
    val arrB = prefixArrays(idxB, dfreq, threshold)
    def prefOf(arr: DataFrame, d: String, n: String) =
      arr.select(col("doc").as(d), col("n_sh").as(n),
        explode(col("pref")).as("h"))
    val cands = prefOf(arrA, "doc_a", "n_a")
      .join(prefOf(arrB, "doc_b", "n_b"), Seq("h"))
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    verifyPairs(cands, arrA, arrB, threshold)
  }

  /** The naive all-pairs inverted-index formulation — O(df²) on hot
    * shingles, kept as labeled ground truth for the prefix-filter
    * equivalence test (and for callers who want sub-threshold pairs). */
  def jaccardFromIndexAllPairs(idx: DataFrame,
      threshold: Double): DataFrame = {
    val cached = idx.localCheckpoint(false)
    val sizes = cached.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val inter = cached.select(col("doc").as("doc_a"), col("h"))
      .join(cached.select(col("doc").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("doc_a"),
        col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"),
        col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** Exact n-gram Jaccard similarity (public text-column form). */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame =
    jaccardFromIndex(shingleIndex(df, idCol, textCol, n), threshold)

  /** Connected components over near-dup pairs: the clustering step of a
    * dedup pipeline (near-duplication is transitive in effect — A~B and
    * B~C should collapse to ONE representative even when A~C was never
    * emitted as a pair). Iterative min-label propagation: every node
    * adopts the smallest label among itself and its neighbors until a
    * fixpoint; the label IS the cluster id (= smallest doc id reachable).
    *
    * Scale shape: each round is one join + one aggregation over the EDGE
    * list (not the corpus); rounds needed = graph diameter, and near-dup
    * clusters are shallow (dozens of docs, diameter ≲ 5). The per-round
    * `count` action + `localCheckpoint` is the standard Spark iterative
    * pattern — it truncates lineage so round N doesn't re-run rounds
    * 1..N-1, and stops as soon as no label moves. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 20): DataFrame = {
    val edgesWide = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    val nEdges = edgesWide.count()
    // A SMALL edge list (the usual case: dup pairs are rare relative to
    // the corpus) under the same 1e6 bound the r5 single-partition path
    // used computes the identical min-label fixpoint with a DRIVER
    // union-find (r20, guide §1.2 — don't run a distributed iteration
    // over data one bounded collect holds): the old path funneled every
    // round through one task anyway (repartition(1)) and paid
    // 3-4 scheduled jobs PER ROUND — 60-90 jobs of pure driver latency
    // per clustering at bench scale, the dominant wall in the
    // serve-side entries (t50/t52/q117/t17). The collect is bounded by
    // the SAME threshold that picked the single-partition path before
    // (≤ 1e6 two-long rows ≈ 48 MB); ≥ the bound, or for non-long ids,
    // the distributed propagation below is unchanged. Labels are
    // identical by construction: union-find with smaller-root-wins
    // yields per component exactly the min reachable id — the
    // propagation fixpoint. The maxIter contract holds EXACTLY: the
    // distributed loop raises iff it cannot OBSERVE convergence within
    // maxIter rounds, i.e. iff maxIter ≤ D where D = max BFS distance
    // from a component's min-id node to its nodes (a label moves one
    // hop per round; the last decrease anywhere is at round D, and the
    // no-change round that proves convergence is D+1) — one driver BFS
    // computes D and the same require fires on the same graphs.
    if (nEdges < 1000000 &&
        edgesWide.schema("src").dataType ==
          org.apache.spark.sql.types.LongType) {
      val es = edgesWide.collect()
      val parent = new java.util.HashMap[Long, Long](es.length * 2)
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrDefault(x, x) != x) x = parent.getOrDefault(x, x)
        // path compression
        var y = x0
        while (parent.getOrDefault(y, y) != y) {
          val p = parent.getOrDefault(y, y); parent.put(y, x); y = p
        }
        x
      }
      val nodes = new java.util.HashSet[Long](es.length * 2)
      val adj = new java.util.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[Long]](es.length * 2)
      es.foreach { r =>
        // edgesWide already holds BOTH directions (the union above)
        val a = r.getLong(0); val b = r.getLong(1)
        nodes.add(a); nodes.add(b)
        adj.computeIfAbsent(a,
          _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += b
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      // BFS from every component root (= its min id): D = the rounds
      // bound the distributed loop would have needed (see above)
      val level = new java.util.HashMap[Long, Integer](nodes.size * 2)
      val queue = new java.util.ArrayDeque[Long]()
      nodes.forEach { n =>
        if (find(n) == n) { level.put(n, 0); queue.add(n) }
      }
      var maxD = 0
      while (!queue.isEmpty) {
        val u = queue.poll(); val lu: Int = level.get(u)
        val vs = adj.get(u)
        if (vs != null) vs.foreach { v =>
          if (!level.containsKey(v)) {
            level.put(v, lu + 1)
            if (lu + 1 > maxD) maxD = lu + 1
            queue.add(v)
          }
        }
      }
      require(nodes.isEmpty || maxD < maxIter,
        s"connectedComponents did not converge in $maxIter " +
          "rounds — diameter exceeds the bound; raise maxIter")
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.size)
      nodes.forEach(n => out.add(org.apache.spark.sql.Row(n, find(n))))
      val srcField = edgesWide.schema("src")
      return pairs.sparkSession.createDataFrame(out,
        org.apache.spark.sql.types.StructType(Seq(
          srcField.copy(name = "node"), srcField.copy(name = "lbl"))))
    }
    // distributed min-label propagation (the ≥ 1e6-edge / non-long path)
    val edges = if (nEdges < 1000000)
      edgesWide.repartition(1).localCheckpoint()
    else edgesWide
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    var converged = labels.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
      val next = labels.join(nbrMin, col("node") === col("src"), "left")
        .select(col("node"), col("lbl"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl")))
            .as("next_lbl"))
        .localCheckpoint()
      converged = next.filter(col("next_lbl") < col("lbl")).isEmpty
      labels = next.select(col("node"), col("next_lbl").as("lbl"))
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter " +
      "rounds — diameter exceeds the bound; raise maxIter")
    labels
  }

  /** Sub-document (chunk-level) duplicate detection — the C4-style
    * "remove duplicated spans" primitive: the corpus is cut into
    * non-overlapping `chunkTokens`-token chunks and every chunk whose text
    * was already seen earlier in corpus order (first occurrence by
    * (id, pos)) is flagged. Emits `(id, pos, chunk_h, is_dup)`.
    *
    * Scale shape: only 8-byte chunk hashes shuffle, and the first
    * occurrence per chunk_h is found with a groupBy-min (map-side partial
    * aggregation) joined back — NOT a `Window.partitionBy(chunk_h)`: a
    * boilerplate chunk repeated 10⁹ times would funnel every occurrence
    * into one task's sort under a window, while the partial agg collapses
    * the hot key on the map side and AQE can skew-split the join. Chunk
    * text never leaves the map side. Intra-doc AND cross-doc duplicates
    * are both flagged, which is the point — boilerplate repeats across
    * documents. */
  /** The stateless chunking stage of [[chunkDuplicates]]: one row per
    * non-overlapping `chunkTokens`-token chunk, `(id, pos, chunk_h)`.
    * Pure narrow transform — applies unchanged to a STREAMING DataFrame
    * (the streaming first-occurrence twin is `chunkHashes(...)
    * .withWatermark(...).dropDuplicatesWithinWatermark("chunk_h")`;
    * without a watermark the dedup state is unbounded). */
  def chunkHashes(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    // The chunk-building HOF ([[segTexts]] — the ONE definition of the
    // segmentation, shared with removeBoilerplate's rebuild so drop
    // positions always index the same segment array) lives INSIDE the
    // generator expression (the shingleIndex shape): its lambda then
    // references the bound `toks` attribute from the child projection.
    // Hosting it in its own Project instead lets CollapseProject merge
    // the projections under the Generate, turning the lambda argument
    // into the raw split(...) subtree — re-tokenized per element,
    // interpreted (measured 536 s → 1.1 s at 200k docs for this plan).
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), posexplode(segTexts(col("toks"), chunkTokens)))
      .select(col("id"), col("pos"), hash60(col("col")).as("chunk_h"))
  }

  /** Duplicated-span extraction — the distributed approximation of Lee
    * et al. 2022's suffix-array substring dedup ("Deduplicating Training
    * Data Makes Language Models Better", §4): positions whose word
    * `n`-gram shingle occurs in ≥2 distinct documents, collapsed into
    * maximal consecutive runs by the gaps-and-islands trick (pos −
    * row_number is constant within a run). A run of `r` shingles is a
    * duplicated span of `r + n − 1` tokens.
    *
    * Scale shape: shuffles carry (id, pos, 60-bit shingle hash) — never
    * text; the shared-shingle set is a distinct+count aggregation on the
    * hash; the islands window partitions BY DOCUMENT, so window state is
    * bounded by one document's length at any corpus size. Returns one
    * row per document that has at least one cross-document duplicated
    * span: (idCol, n_runs, longest_tokens, dup_ngrams). */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val sp = df
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), posexplode(shinglesFromTokens(col("toks"), n)))
      .select(col(idCol), col("pos"), hash60(col("col")).as("h"))
    val shared = sp.select(col(idCol), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select(col("h"))
    val marked = sp.join(shared, Seq("h"))
      .withColumn("grp", col("pos") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("pos"))))
    marked.groupBy(col(idCol), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_runs"),
        (max(col("run_len")) + (n - 1)).as("longest_tokens"),
        sum(col("run_len")).as("dup_ngrams"))
  }

  def chunkDuplicates(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    val chunks = chunkHashes(df, idCol, textCol, chunkTokens)
    // struct ordering is lexicographic by field, so min(struct(id, pos))
    // IS the first occurrence in (id, pos) corpus order
    val firsts = chunks.groupBy(col("chunk_h"))
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    chunks.join(firsts, Seq("chunk_h"))
      .withColumn("is_dup",
        col("id") =!= col("first.id") || col("pos") =!= col("first.pos"))
      .select(col("id"), col("pos"), col("chunk_h"), col("is_dup"))
  }

  /** Benchmark decontamination: per corpus document, the number of
    * distinct word `n`-gram shingles it shares with a held-out benchmark
    * set — the standard eval-contamination check run before training
    * (n-gram overlap, as in the GPT-3/PaLM decontamination appendices).
    *
    * Scale shape: the train-side gram stream is pre-filtered with a Bloom
    * filter built OVER the bench grams by [[expressions.BloomSketch]] —
    * a distributed `bloom_filter_agg` whose single-row result reaches
    * `might_contain` as a scalar subquery (never the driver). At 100 TB
    * the bench-gram set can exceed the broadcast-hash-join threshold
    * while its bloom BITS still broadcast (~1.2 MB per million grams at
    * the default sizing), and the exact join that follows then shuffles
    * only grams that pass the bloom: hits plus an `fpp` fraction of the
    * corpus instead of every gram in the corpus. The exact join removes
    * bloom false positives, so the result is EXACTLY the plain-join
    * formulation (no false negatives by construction) and stays
    * DuckDB-oracle-checkable.
    *
    * `expectedBenchGrams` sizes the filter; leave `numBits` 8× that for
    * Spark's default ~3% fpp at capacity. */
  def decontaminationHits(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 4,
      expectedBenchGrams: Long = 1 << 20): DataFrame = {
    val benchGrams = shingleIndex(bench, idCol, textCol, n)
      .select(col("h")).distinct()
    val bloom = benchGrams.agg(
      BloomSketch.bloomAgg(col("h"), expectedBenchGrams,
        expectedBenchGrams * 8).as("bf"))
    shingleIndex(corpus, idCol, textCol, n)
      .filter(BloomSketch.mightContain(BloomSketch.scalar(bloom), col("h")))
      .join(benchGrams, Seq("h"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The bench-gram Bloom filter MATERIALIZED to bytes (driver-side,
    * bounded: the serialized filter is `numBits/8` ≈ `expectedItems`
    * bytes — megabytes for million-gram bench sets, never the corpus).
    * Feed it to [[contaminationScore]] as a literal for plans where the
    * scalar subquery can't run — streaming ingest gates foremost.
    *
    * HASH-FIXED to `xxhash64`: [[contaminationScore]]'s fused
    * [[graft.expressions.ShingleBloomCount]] kernel hardcodes XXH64
    * seed 42, so the build side must hash identically — a pluggable
    * hasher here would let build and probe silently diverge (every
    * probe missing → score 0 for every doc, a false-negative trap in a
    * gate whose contract is "misses nothing"). */
  def benchGramBloom(bench: DataFrame, idCol: String, textCol: String,
      n: Int = 4, expectedBenchGrams: Long = 1 << 20): Array[Byte] =
    shingleIndex(bench, idCol, textCol, n, xxhash64(_))
      .select(col("h")).distinct()
      .agg(BloomSketch.bloomAgg(col("h"), expectedBenchGrams,
        expectedBenchGrams * 8).as("bf"))
      .head().getAs[Array[Byte]](0)

  /** Stateless per-row contamination score: distinct `n`-grams of each
    * document the bloom MAY contain. Array-local end to end (tokenize →
    * shingle → distinct → count-in-bloom, no explode, no join, no
    * aggregation), so it applies UNCHANGED to a streaming DataFrame —
    * the ingest-time gate in front of the exact batch verification.
    * APPROXIMATE by design: false positives at the filter's fpp inflate
    * the score, never deflate it (no false negatives), so a
    * `score >= threshold` quarantine gate over-quarantines slightly and
    * misses nothing; [[decontaminationHits]] is the exact confirm.
    * The whole gate is the fused codegen'd
    * [[graft.expressions.ShingleBloomCount]] kernel: one generated loop
    * per row assembles each shingle (`UTF8String.concatWs`, identical
    * bytes to the `array_join` form), hashes it with Spark's own
    * `xxhash64` arithmetic, sort-deduplicates the hashes, and probes the
    * once-deserialized filter. The round-4 HOF formulation
    * (`size(filter(array_distinct(shingles), x => might_contain(...))))`)
    * paid an interpreted-lambda round-trip per shingle — ~1 ms/doc with
    * the shingle CONSTRUCTION, not the probe, as the dominant cost. The
    * hash is `xxhash64`, not the md5-portable [[hash60]]: no oracle
    * replays this path, and the bloom build shares the default so gate
    * and filter always agree. */
  def contaminationScore(df: DataFrame, idCol: String, textCol: String,
      n: Int, bloomBytes: Array[Byte]): DataFrame =
    df.select(col(idCol).as("doc"),
      BloomSketch.shingleCount(tokens(col(textCol)), n, bloomBytes)
        .as("n_maybe_shared"))

  /** Approximate per-source-pair vocabulary Jaccard — the exact distinct
    * self-join diagnostic (q83) at the 100-TB scale: each source reduces
    * to ONE mergeable HLL sketch row (map-side partial aggregation; the
    * corpus shuffles nothing but sketch bytes), and pairwise Jaccard
    * comes from inclusion-exclusion — |A∩B| ≈ |A|+|B|−|A∪B| with the
    * union size from `hll_union` of the two sketches. The pair join runs
    * over the source-bounded sketch table (both sides broadcast), never
    * the corpus. `lgK`=16 holds the standard HLL relative error near
    * 0.4% (error-bound spec pins estimates against the exact numbers on
    * both real and planted-overlap corpora). Emits
    * (src_a, src_b, vocab_jaccard_est), src_a < src_b, all pairs. */
  def vocabOverlapSketch(df: DataFrame, sourceCol: String,
      textCol: String, lgK: Int = 16): DataFrame = {
    val sv = df.select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("term"))
      .select(col("source"), hash60(col("term")).as("h"))
    val sk = sv.groupBy(col("source"))
      .agg(expr(s"hll_sketch_agg(h, $lgK)").as("sk"),
        expr(s"hll_sketch_estimate(hll_sketch_agg(h, $lgK))")
          .cast("double").as("nv"))
    broadcast(sk.as("a"))
      .join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.nv").as("nv_a"), col("b.nv").as("nv_b"),
        expr("hll_sketch_estimate(hll_union(a.sk, b.sk))")
          .cast("double").as("nu"))
      .select(col("src_a"), col("src_b"),
        round(greatest(lit(0.0), col("nv_a") + col("nv_b") - col("nu"))
          / col("nu"), 6).as("vocab_jaccard_est"))
  }

  /** Cross-document boilerplate removal — the RefinedWeb/CCNet line-dedup
    * primitive (Penedo et al. 2023 §3.3 "line-wise corrections"; the
    * corpus here has no newlines, so the unit is the same non-overlapping
    * `segTokens`-token segment [[chunkHashes]] uses): any segment whose
    * DOCUMENT frequency reaches `minDf` is treated as boilerplate
    * (headers, nav bars, license blurbs) and stripped from EVERY document
    * it appears in — unlike [[chunkDuplicates]], which keeps the first
    * occurrence. Documents are then REASSEMBLED from their surviving
    * segments in position order.
    *
    * Scale shape, in order of the three jobs:
    *   1. segment df: only (id, 60-bit segment hash) shuffles (distinct +
    *      count), never segment text; map-side partial aggregation
    *      collapses a 10⁹-repeated segment before the wire.
    *   2. per-doc drop positions: hot hashes (df ≥ minDf — the
    *      boilerplate tail, tiny vs corpus) join back to the hash-only
    *      segment stream, then collect_set(pos) per doc — state bounded
    *      by one document's segment count.
    *   3. rebuild: documents left-join the (id, drop positions) table on
    *      id — the ONE unavoidable text shuffle (the op rewrites the
    *      corpus, so output ≈ input volume is the floor) — and the kept
    *      segments are re-derived NARROW from the text and re-joined
    *      with a single space (whitespace-normalizing, as tokens() is).
    *      No window over segment hashes: a boilerplate segment in 10⁹
    *      docs never funnels into one task.
    *
    * Emits one row per document: (idCol, n_segs, n_removed, clean_chars,
    * clean_md5) — the md5 pins exact reassembly for the DuckDB oracle. */
  /** Non-overlapping `segTokens`-token segment texts of a token array
    * (the [[chunkHashes]] unit, as strings). Callers must bind this to a
    * MATERIALIZED token-array column — see the lambda-placement note on
    * [[chunkHashes]]. */
  private def segTexts(toks: Column, segTokens: Int): Column =
    when(size(toks) > 0,
      transform(sequence(lit(0), ((size(toks) - 1) / segTokens)
        .cast("int")),
        i => array_join(slice(toks, i * segTokens + 1,
          lit(segTokens)), " ")))
      .otherwise(array().cast("array<string>"))

  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10, minDf: Int = 2): DataFrame = {
    val segs = chunkHashes(df, idCol, textCol, segTokens)
    val hot = segs.select(col("id"), col("chunk_h")).distinct()
      .groupBy(col("chunk_h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("chunk_h"))
    val dropPos = segs.join(hot, Seq("chunk_h"))
      .groupBy(col("id")).agg(collect_set(col("pos")).as("drop_pos"))
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .join(dropPos, Seq("id"), "left")
      .select(col("id"), segTexts(col("toks"), segTokens).as("segs"),
        coalesce(col("drop_pos"), array().cast("array<int>"))
          .as("drop_pos"))
      .select(col("id").as(idCol),
        size(col("segs")).cast("long").as("n_segs"),
        size(col("drop_pos")).cast("long").as("n_removed"),
        array_join(filter(col("segs"),
          (seg, i) => !array_contains(col("drop_pos"), i)), " ")
          .as("clean"))
      .select(col(idCol), col("n_segs"), col("n_removed"),
        length(col("clean")).cast("long").as("clean_chars"),
        md5(col("clean")).as("clean_md5"))
  }

  /** Number of doc buckets in the exact ledger's digest store and the
    * near-dup ledger's primary store — the partition-pruning
    * granularity of the exact seen probe and of the near-dup verify
    * stage's hs fetch. A layout-baked constant like [[NdlKeyBuckets]]
    * (a probe computed with a different modulus would silently miss
    * every candidate). */
  private val NdlDocBuckets = 32

  /** Number of key buckets in the near-dup ledger's band store — the
    * partition-pruning granularity of an admit's candidate probe. A
    * constant, not a parameter, deliberately: the bucket of a key is
    * baked into the store's layout, and a probe computed with a
    * different modulus would silently miss every candidate (the same
    * store-bound discipline as the hasher). 32 partition
    * dirs keeps the per-admit dynamic-write commit cost tame (the
    * measured dominant cost of a small-batch admit is files created,
    * not bytes) while a daily batch still skips the buckets it does
    * not touch. The partition dirs are deliberately coarse; pruning
    * INSIDE a bucket comes from the trickle path's literal
    * `In(kh, …)` fold (≤ [[NdlLiteralMaxReps]] reps), which reaches
    * the parquet scan as a pushed filter and fires row-group stats on
    * the kh-SORTED files [[writeBucketed]] lays down — a daily-SIZED
    * batch has no kh predicate (its join touches most row groups
    * anyway), so its floor is the partition pruning + column
    * narrowing. */
  private val NdlKeyBuckets = 32

  /** Batch-rep bound for folding the probe's key hashes (and the exact
    * ledger's digests) into a literal scan filter (≈4× this many 8-byte
    * literals in the plan — same order as the index stores' 64k
    * tombstone fold). Above it the equi-join alone carries the probe: a
    * batch that big touches most row groups of most buckets, so the
    * literal would bloat the plan for no read saved. */
  private val NdlLiteralMaxReps = 2048L

  /** Batch-rep bound for the broadcast probes (≈4× this many band keys
    * on the wire). Daily batches sit far under it; bulk backfills
    * beyond it take the shuffle path instead of an oversized
    * broadcast. */
  private val NdlDppMaxReps = 262144L

  /** Doc bucket of a near-dup primary row (from its id) or of an exact
    * ledger digest row (from the digest). */
  private[graft] def ndlDb(c: Column): Column =
    pmod(xxhash64(c), lit(NdlDocBuckets.toLong)).cast("int")

  private def ndlKb(kh: Column): Column =
    pmod(kh, lit(NdlKeyBuckets.toLong)).cast("int")

  /** One bucketed store of a dedup ledger — the ledgers' analog of
    * [[Similarity.IndexLayouts]]: its store kind (the name
    * [[StoreHealth.detectStoreKind]] reports), the partition column and
    * the function that derives it from the file columns, the bucket
    * count, the sort keys inside a bucket file, and the file columns
    * (regexes, in file order). Every write of the store goes through
    * [[writeBucketed]], and the store kind of a dataset is the first
    * entry of [[LedgerStores]] whose file columns it holds. */
  private case class LedgerStore(kind: String, bucket: String,
      bucketOf: Column, buckets: Int, keys: Seq[String],
      fileCols: Seq[String])

  /** The exact ledger's digest store: 16-byte digests, db-bucketed on
    * the digest's hash and digest-sorted so the trickle path's pushed
    * In(text_md5, …) literals fire parquet row-group stats. */
  private val ExactStore = LedgerStore("dedup_ledger", "db",
    ndlDb(col("text_md5")), NdlDocBuckets, Seq("text_md5"), Seq("text_md5"))

  /** The near-dup primary: one signature row per distinct text,
    * db-bucketed on the doc id (the verify fetch's pruning key). */
  private val PrimaryStore = LedgerStore("neardup_ledger", "db",
    ndlDb(col("doc")), NdlDocBuckets, Nil,
    Seq("doc", "text_md5", "hs", "mh\\d+"))

  /** The near-dup band store (`<path>_bands`): hashed band keys,
    * kb-bucketed on the key hash and (band, kh)-sorted. */
  private val BandStore = LedgerStore("neardup_bands", "kb",
    ndlKb(col("kh")), NdlKeyBuckets, Seq("band", "kh"),
    Seq("band", "kh", "doc"))

  /** Detection order: the primary also holds the digest column. */
  private val LedgerStores = Seq(PrimaryStore, BandStore, ExactStore)

  /** The kind of the ledger store whose file columns `cols` holds. */
  private[graft] def ledgerKindOf(cols: Seq[String]): Option[String] =
    LedgerStores.find(_.fileCols.forall(p => cols.exists(_.matches(p))))
      .map(_.kind)

  /** The one write discipline of every ledger store (appends,
    * compactions, forgets, expiries, band backfills): the store's file
    * columns with the bucket derived from them, hash-repartitioned on
    * the bucket into min(buckets, defaultParallelism) tasks — a bucket
    * lands wholly in one task (which may hold several), so each write
    * leaves one file per touched bucket, without waves of near-empty
    * tasks on a small session; the explicit count keeps AQE from
    * coalescing the write into one serial task. The sort leads with the
    * bucket: the write requires that order and would replace a
    * keys-only sort (files left unsorted), while (bucket, keys…)
    * satisfies it. */
  private def writeBucketed(store: LedgerStore, rows: DataFrame,
      mode: String, dest: String): Unit =
    rows.select(store.fileCols.flatMap(p => rows.columns.filter(_.matches(p)))
        .map(col): _*)
      .withColumn(store.bucket, store.bucketOf)
      .repartition(math.min(store.buckets,
        rows.sparkSession.sparkContext.defaultParallelism), col(store.bucket))
      .sortWithinPartitions((store.bucket +: store.keys).map(col): _*)
      .write.mode(mode).partitionBy(store.bucket).parquet(dest)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The current generation of a ledger store. */
  private def current(spark: SparkSession, path: String): DataFrame =
    Gen.read(spark, Gen.resolve(spark, path))

  /** A small file (an epoch seal, the geometry sidecar), overwritten;
    * read back with [[Gen.readSmall]]. */
  private def writeSmall(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    out.write(content.getBytes("UTF-8"))
    out.close()
  }

  /** The health core of a bucketed ledger store, with
    * [[maxBucketFiles]]: one pass over `cols` and the file name `f` for
    * the row count (`rows`) plus the ledger's own `aggs`. */
  private def ledgerCensus(store: DataFrame, cols: Seq[String],
      aggs: Column*): Row =
    store.select((cols.map(col) :+ input_file_name().as("f")): _*)
      .agg(count(lit(1)).as("rows"), aggs: _*).first()

  /** The most files any one bucket holds, in one more pass — every
    * admit batch appends one file per touched bucket, so this is batches
    * since the last compaction, the compaction trigger. */
  private def maxBucketFiles(store: DataFrame, bucket: String): Long =
    store.select(col(bucket), input_file_name().as("f"))
      .groupBy(col(bucket)).agg(countDistinct(col("f")).as("nf"))
      .agg(max(col("nf"))).first().getLong(0)

  /** Persisted exact-dedup LEDGER — the production state behind a daily
    * exact-dedup ingest (the durable twin of q71's in-memory cross-set
    * gate and the streaming anti-join gate): a parquet store of content
    * digests seen so far. [[ledgerAdmit]] anti-joins an arriving batch
    * against the store (admitting only unseen content, first-in-batch
    * per digest by min id — deterministic) and appends the admitted
    * digests, so the next batch sees them.
    *
    * Scale shape: the ledger holds ONE 16-byte digest row per distinct
    * document ever admitted — no text, db-bucketed on the digest
    * ([[ExactStore]]); the seen probe is a pruned digest equi-join
    * (see [[ledgerDecide]]); the append writes only the batch's new
    * digests.
    *
    * Takedown/forget story: the exact ledger is id-free BY
    * CONSTRUCTION — the store holds only 16-byte content digests,
    * never a document id or text, so there is no identity to scrub
    * (contrast [[nearDupLedgerForget]], which the near-dup ledger
    * needs because its store carries doc ids). The DIGEST of deleted
    * content deliberately stays: an exact copy of taken-down content
    * is still a duplicate and must not be re-admitted — the same
    * signatures-stay rule as the near-dup forget.
    *
    * Recovery semantics: when `admittedOut` is given, the admitted
    * documents are persisted BEFORE the digest append — the crash-safe
    * order (a crash between the two re-runs the batch against an
    * unchanged ledger, re-admits the same docs idempotently, and
    * appends then). Without `admittedOut` a caller that crashes after
    * this returns but before persisting the admitted docs must
    * re-derive them as `batch ⋉ ledger` (their digests are already in
    * the store), not re-admit; the transactional pairing belongs to a
    * table format (Iceberg/Delta commit). Rows with a NULL `textCol`
    * carry no content digest and are dropped up front (documented
    * precondition — they would otherwise vanish from BOTH admitted and
    * rejected through null-keyed joins). `auditOut` materializes the
    * drop reasons — (doc, reason, partner): `exact_batch` names the
    * in-batch representative, `exact_store` carries a NULL partner by
    * design (the digest store is id-free — its takedown story — so
    * there is no identity to name). */
  def ledgerAdmit(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, admittedOut: Option[String] = None,
      auditOut: Option[String] = None): DataFrame =
    // the INGEST LEASE serializes admit-vs-admit: two concurrent
    // admits each read the store before the other's append lands and
    // would double-admit content duplicated across the batches — the
    // loser fails loudly instead (admit-vs-maintenance is the marker
    // fence + Gen.rewrite's content re-verify, a separate mechanism)
    Fs.withIngestLease(spark, path, "ledgerAdmit") {
      val admitted =
        ledgerDecide(spark, path, batch, idCol, textCol, auditOut)
      admittedOut.foreach(out =>
        admitted.write.mode("overwrite").parquet(out))
      ledgerAppend(spark, path, admitted)
      admitted
    }

  /** The admit's READ-DECIDE half ([[ledgerAdmit]]'s body up to the
    * checkpointed admitted set) — split out so the streamed form can
    * persist the decisions per epoch BEFORE any append. Callers hold
    * the ingest lease. Returns the admitted rows.
    *
    * `auditOut` materializes the drop REASONS — the exact ledger's
    * explainability surface, mirroring the near-dup `auditOut`: one
    * row per dropped doc, (doc, reason, partner) —
    * `exact_batch` names the in-batch representative it lost to;
    * `exact_store` carries a NULL partner BY DESIGN: the digest store
    * is id-free (its takedown story — there is no identity to name),
    * so "an earlier ingest admitted this content" is the whole
    * knowable fact. */
  private def ledgerDecide(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      auditOut: Option[String] = None,
      materializeTo: Option[String] = None): DataFrame =
    Fs.labeled(spark, "exact:decide") {
    Fs.failIfUnderMaintenance(spark, path, "ledgerAdmit")
    val hasStore = Gen.hasData(spark, path)
    val hashed = batch.filter(col(textCol).isNotNull)
      .withColumn("text_md5", md5(col(textCol)))
    // first occurrence per digest WITHIN the batch (min id — the
    // groupBy-min shape, no window hot-key risk)
    val reps = hashed
      .groupBy(col("text_md5")).agg(min(col(idCol)).as(idCol))
    // …then minus the ledger. The store is db-bucketed on the digest
    // hash ([[ExactStore]] — the near-dup primary's probe shape), so
    // the SEEN set comes from an INNER equi-join on (db, text_md5)
    // with the batch side broadcast. Trickle batches (≤ the near-dup
    // literal bound) fold their digest literals into a pushed
    // In(text_md5, …) filter that fires parquet row-group stats on the
    // digest-sorted files, and that filter is the selective predicate
    // dynamic partition pruning needs to fold the batch's buckets into
    // the store scan (both pinned in LedgerPlanPinsSpec); a larger
    // batch's digests touch every bucket, and its scan gets no DPP.
    // The batch-minus-seen anti-join then runs batch-vs-batch — no
    // store scan on the anti side.
    val firstInBatch =
      if (!hasStore) reps
      else {
        val store = exactStore(spark, path, "ledgerAdmit")
        val batchDb = reps.select(col("text_md5"))
          .withColumn("db", ExactStore.bucketOf)
          .localCheckpoint()
        val nDigests = batchDb.count()
        val scan =
          if (nDigests <= NdlLiteralMaxReps) {
            val md5s = batchDb.select(col("text_md5"))
              .collect().map(_.getString(0)).sorted
            if (md5s.isEmpty) store.limit(0)
            else store.filter(col("text_md5").isInCollection(md5s))
          } else store
        val seenSet = scan.select(col("db"), col("text_md5"))
          .join(if (nDigests <= NdlDppMaxReps) broadcast(batchDb)
            else batchDb, Seq("db", "text_md5"))
          .select(col("text_md5")).distinct()
        reps.join(seenSet, Seq("text_md5"), "left_anti")
      }
    // the decisions must be materialized before any append moves the
    // store. The batch path checkpoints; the STREAMED path persists the
    // epoch's admitted parquet anyway, so `materializeTo` lets that one
    // write BE the materialization (r19: the checkpoint-then-write pair
    // was computing and storing every decision twice per epoch) — the
    // read-back carries the writer's schema, so no footer-inference job
    val admitted0 = hashed.join(firstInBatch, Seq("text_md5", idCol))
    val admitted = materializeTo match {
      case None => admitted0.localCheckpoint()
      case Some(out) =>
        admitted0.write.mode("overwrite").parquet(out)
        spark.read.schema(admitted0.schema).parquet(out)
    }
    auditOut.foreach { out =>
      val repOf = reps.withColumnRenamed(idCol, "rep")
      // (runs under the same "exact:decide" label)
      val exactBatch = hashed
        .select(col(idCol).as("doc"), col("text_md5"))
        .join(repOf, Seq("text_md5"))
        .filter(col("doc") =!= col("rep"))
        .select(col("doc"), lit("exact_batch").as("reason"),
          col("rep").as("partner"))
      // reps whose digest the store already held = reps minus the
      // admitted digests. Anti-joining against the CHECKPOINTED
      // admitted frame (digest-identical to firstInBatch by
      // construction) instead of firstInBatch's lineage matters: the
      // latter would re-execute the whole digest-store probe (store
      // scan + seen-set join) a second time per audited admit
      val storeDropped = repOf
        .join(admitted.select(col("text_md5")), Seq("text_md5"),
          "left_anti")
        .select(col("rep").as("doc"), lit("exact_store").as("reason"),
          lit(null).cast("long").as("partner"))
      exactBatch.unionByName(storeDropped)
        .write.mode("overwrite").parquet(out)
    }
    admitted
  }

  /** The exact ledger's current digest store. A store without the `db`
    * bucket column is the unbucketed layout from before the bucketing:
    * no code writes it, so it is refused, untouched. */
  private def exactStore(spark: SparkSession, path: String,
      who: String): DataFrame = {
    val s = current(spark, path)
    if (!s.columns.contains("db")) throw new IllegalStateException(
      s"$who: $path holds an exact ledger in the unbucketed layout " +
        s"(columns ${s.columns.mkString(",")}, no db) — a layout from " +
        "before the db bucketing, which this code does not write; it " +
        "was left untouched. Rebuild the ledger into a new path.")
    s
  }

  /** The admit's APPEND half. The partitioned write of an empty frame
    * writes no part file, so an all-duplicate batch does not grow the
    * file count. The append lands in the CURRENT generation
    * (Gen.appendDir establishes gen-1 for a fresh ledger — versioned
    * from birth, so the first compaction is already zero-outage).
    * Callers hold the ingest lease. */
  private def ledgerAppend(spark: SparkSession, path: String,
      admitted: DataFrame): Unit =
    Fs.labeled(spark, "exact:append") {
      writeBucketed(ExactStore, admitted, "append",
        Gen.appendDir(spark, path))
    }

  /** Streamed [[ledgerAdmit]]: one epoch of the shared [[admitEpoch]]
    * protocol, whose persisted decisions are the epoch's admitted rows
    * (`epoch-<id>/admitted`). A crash between `_decided` and
    * `_appended` can double-append digests — unique by construction in
    * the seen-set semantics, reported by [[dedupLedgerStats]] and
    * collapsed by [[compactDedupLedger]]'s distinct, decisions
    * unaffected.
    * `audit = true` writes the per-epoch drop reasons to
    * `epoch-<id>/audit` (sealed by `_decided` with the decisions; read
    * back flat with [[readAuditEpochs]] — exact_store rows carry a NULL
    * partner, see [[ledgerAdmit]]). Returns the epoch's admitted rows
    * (always the stored copy — bit-stable across retries). */
  def ledgerAdmitStreamBatch(spark: SparkSession, path: String,
      epochRoot: String, batch: DataFrame, idCol: String, textCol: String,
      epochId: Long, audit: Boolean = false): DataFrame =
    admitEpoch(spark, path, epochRoot, batch, idCol, textCol, epochId,
        "ledgerAdmitStream", "exact")(
      eDir => {
        // the decide's materializeTo writes the epoch's admitted
        // parquet directly (one materialization, not a checkpoint plus
        // a write)
        val admitted = ledgerDecide(spark, path, batch, idCol,
          textCol, if (audit) Some(s"$eDir/audit") else None,
          materializeTo = Some(s"$eDir/admitted"))
        (admitted, () => ledgerAppend(spark, path, admitted))
      },
      eDir => ledgerAppend(spark, path, Gen.read(spark, s"$eDir/admitted")))

  /** Wire a document stream into the exact-dedup ledger: one
    * [[ledgerAdmitStreamBatch]] per micro-batch ([[admitStream]]). */
  def ledgerAdmitStream(spark: SparkSession, path: String,
      epochRoot: String, stream: DataFrame, idCol: String, textCol: String,
      checkpointLocation: String, audit: Boolean = false): StreamingQuery =
    admitStream(stream, checkpointLocation)((b, epochId) =>
      ledgerAdmitStreamBatch(spark, path, epochRoot, b, idCol, textCol,
        epochId, audit))

  /** The `foreachBatch` epoch protocol both streamed admits share — it
    * makes RETRIED micro-batches idempotent. Structured Streaming
    * re-delivers an epoch after a failure (at-least-once into
    * `foreachBatch`), and a naive re-run would re-DECIDE the batch
    * against a ledger its first delivery already appended to: every
    * row of the batch is now "seen", so the retry admits nothing and
    * the downstream sink (which may have lost the first delivery —
    * that is why the epoch was retried) permanently loses them.
    * The fix is the crash-safe order [[ledgerAdmit]]'s scaladoc
    * specifies, keyed by epoch: `decide` persists the admit DECISIONS
    * under `epochRoot/epoch-<id>/` (the admitted rows at `admitted`,
    * plus whatever its append re-reads) and returns the admitted rows
    * and its append; the protocol seals them with a `_decided` marker
    * BEFORE that append, and an `_appended` marker seals the append —
    * so a re-delivered epoch at any crash point re-emits the SAME
    * decisions:
    *   - crash before `_decided`: re-decide against the unchanged
    *     ledger (deterministic — min-id reps, static store) and
    *     overwrite the partial epoch output;
    *   - crash between `_decided` and `_appended`: decisions are
    *     sealed; `appendDecided` appends from the STORED decisions and
    *     the protocol seals;
    *   - after `_appended`: the epoch is complete — re-emit the stored
    *     decisions, touch nothing.
    * The `_decided` seal carries the batch's [[epochFingerprint]],
    * re-verified on every delivery: a decided epochId re-delivered
    * with DIFFERENT rows (a reset checkpoint over a surviving
    * epochRoot) fails loudly instead of silently discarding the new
    * batch. Each epoch takes the same ingest lease as a batch admit,
    * so streamed and batch ingest serialize against each other and
    * maintenance fail-fasts against both. The epoch's own jobs run
    * under `<phase>:epoch`. */
  private def admitEpoch(spark: SparkSession, path: String,
      epochRoot: String, batch: DataFrame, idCol: String, textCol: String,
      epochId: Long, verb: String, phase: String)(
      decide: String => (DataFrame, () => Unit),
      appendDecided: String => Unit): DataFrame =
    Fs.withIngestLease(spark, path, s"$verb(epoch=$epochId)") {
      Fs.labeled(spark, s"$phase:epoch") {
        val fs = fsOf(spark, path)
        val eDir = epochDir(epochRoot, epochId)
        val decidedM = new Path(s"$eDir/_decided")
        val appendedM = new Path(s"$eDir/_appended")
        val fp = epochFingerprint(batch, idCol, textCol)
        checkEpochFingerprint(fs, decidedM, fp, epochId, epochRoot)
        if (fs.exists(appendedM)) Gen.read(spark, s"$eDir/admitted")
        else {
          val admitted =
            if (!fs.exists(decidedM)) {
              val (admitted, append) = decide(eDir)
              writeSmall(fs, decidedM, fp)
              append()
              admitted
            } else {
              appendDecided(eDir)
              Gen.read(spark, s"$eDir/admitted")
            }
          fs.create(appendedM, true).close()
          admitted
        }
      }
    }

  /** Run `epoch` on every micro-batch of `stream` via `foreachBatch`,
    * the sink's checkpoint at `checkpointLocation` driving the epoch ids
    * — the one wiring of both `*AdmitStream` verbs. The admitted rows of
    * epoch N are at `epochRoot/epoch-<N>/admitted` — a downstream
    * consumer reads them from there ([[readAdmittedEpochs]], the
    * streamed analog of `admittedOut`), and retries re-emit identical
    * content ([[admitEpoch]]). Caller stops the returned query.
    * LIFECYCLE COUPLING: `epochRoot` and `checkpointLocation` must be
    * created together and destroyed together — the epoch protocol keys
    * idempotence by the checkpoint's batchIds, and a reset checkpoint
    * over a surviving root is detected (loudly) by the
    * [[epochFingerprint]] seal, not silently absorbed. While the stream
    * lives, route ad-hoc backfills THROUGH it (feed them to the
    * stream's source so they arrive as a normal epoch) rather than as
    * concurrent batch admits — the shared ingest lease makes a batch
    * admit that lands mid-epoch fail loudly by design. */
  private def admitStream(stream: DataFrame, checkpointLocation: String)(
      epoch: (DataFrame, Long) => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (b: DataFrame, epochId: Long) =>
        epoch(b, epochId)
        ()
      }
      .start()

  /** One epoch's state dir under the streamed-admit root. */
  private def epochDir(epochRoot: String, epochId: Long): String =
    f"$epochRoot/epoch-$epochId%012d"

  /** The epoch ids under a streamed-admit root, ascending — the one
    * listing behind ack, retire, the read-backs, sweep and health. */
  private def epochIds(fs: FileSystem, epochRoot: String): Seq[Long] = {
    val root = new Path(epochRoot)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch-"))
      .flatMap(_.stripPrefix("epoch-").toLongOption).sorted
  }

  /** Whether an epoch's delivery completed (`_appended`): only SEALED
    * epochs are contractual — an unsealed one is a crashed delivery
    * whose retry needs its `_decided` decisions. */
  private def sealedEpoch(fs: FileSystem, epochRoot: String,
      e: Long): Boolean =
    fs.exists(new Path(s"${epochDir(epochRoot, e)}/_appended"))

  /** Order-independent fingerprint of a delivered batch's CONTENT —
    * `"<row count>:<sum of (id, text) hashes>"`. The epoch protocol
    * keys idempotence by the NUMERIC epochId, which is only unique
    * within ONE checkpoint lineage: a reset/deleted sink checkpoint
    * (or a second stream pointed at a surviving epochRoot) restarts
    * batchIds at 0, and without this check the old epoch 0's
    * `_appended` marker would short-circuit the NEW batch — stale
    * decisions re-emitted, the new rows never decided or appended,
    * silently. The fingerprint is persisted as the `_decided` seal's
    * CONTENT and re-verified on EVERY delivery (including the pure
    * re-emit path), turning the lifecycle mismatch into a loud error.
    * One small agg job per delivery — the detection price. Hash shape,
    * deliberately: the per-row hash covers the id, the text, AND a
    * null flag (a rebuilt pipeline whose doc ids ALSO restart at 0
    * delivers the same id set with different content — ids alone
    * would wave it through; and a NULL text is decided differently
    * from an empty one, so coalesce alone must not conflate them),
    * and rows combine by decimal SUM, which is delivery-order-blind
    * (a legitimate retry matches under any partitioning) yet
    * multiset-sensitive (an xor would cancel even-multiplicity rows —
    * {A,A,B} vs {B,B,B} collide). The value is VERSION-PREFIXED
    * (`fp1:`), so an empty seal or one in another fingerprint format
    * differs from every delivery and fails as a mismatch. */
  private val EpochFpPrefix = "fp1:"

  private def epochFingerprint(batch: DataFrame, idCol: String,
      textCol: String): String = {
    val r = batch.agg(count(lit(1)),
      expr(s"sum(cast(xxhash64(cast(`$idCol` AS string), " +
        s"coalesce(cast(`$textCol` AS string), ''), " +
        s"isnull(`$textCol`)) as decimal(20, 0)))")).head()
    val x = if (r.isNullAt(1)) "0"
      else r.getDecimal(1).toBigInteger.toString
    s"$EpochFpPrefix${r.getLong(0)}:$x"
  }

  /** Fail loudly when a decided epochId is re-delivered with DIFFERENT
    * rows (see [[epochFingerprint]]), the epoch left untouched. */
  private def checkEpochFingerprint(fs: FileSystem, decidedM: Path,
      fp: String, epochId: Long, epochRoot: String): Unit =
    if (fs.exists(decidedM)) {
      val stored = Gen.readSmall(fs, decidedM)
      if (stored != fp)
        throw new IllegalStateException(
          s"epoch $epochId at $epochRoot is already decided for a " +
            s"DIFFERENT batch (sealed fingerprint $stored, delivered " +
            s"$fp): the sink checkpoint was reset or deleted while the " +
            "epochRoot survived (batchIds restarted at 0), or two " +
            "streams share this epochRoot. Re-emitting the sealed " +
            "decisions would silently discard the new batch. Create " +
            "epochRoot and checkpointLocation together and destroy " +
            "them together; point a genuinely new stream over this " +
            "ledger at a FRESH epochRoot.")
    }

  /** Consumer-ack watermark marker names under the epoch root. The
    * ANONYMOUS consumer (the single-downstream case) writes
    * `_consumed-NNNNNNNNNNNN`; a NAMED consumer group writes
    * `_consumed.<name>-NNNNNNNNNNNN` — `.` separates the family so the
    * two parses can never collide, and names are restricted to
    * `[A-Za-z0-9_]+` so the trailing `-<number>` split is
    * unambiguous. */
  private val ConsumedPrefix = "_consumed-"
  private val ConsumerPrefix = "_consumed."

  private def consumedName(consumer: String, n: Long): String =
    if (consumer.isEmpty) f"$ConsumedPrefix$n%012d"
    else f"$ConsumerPrefix$consumer-$n%012d"

  private def requireConsumerName(consumer: String): Unit =
    require(consumer.nonEmpty && consumer.matches("[A-Za-z0-9_]+"),
      s"consumer name '$consumer' must match [A-Za-z0-9_]+ (it is " +
        "embedded in a marker file name)")

  /** All ack markers under a root: (consumer, epoch) — the anonymous
    * consumer reads as the empty string. */
  private def ackMarkers(fs: FileSystem,
      epochRoot: String): Seq[(String, Long)] = {
    val root = new Path(epochRoot)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName).flatMap { n =>
      if (n.startsWith(ConsumerPrefix)) {
        val rest = n.stripPrefix(ConsumerPrefix)
        val i = rest.lastIndexOf('-')
        if (i <= 0) None
        else rest.drop(i + 1).toLongOption.map((rest.take(i), _))
      } else if (n.startsWith(ConsumedPrefix))
        n.stripPrefix(ConsumedPrefix).toLongOption.map(("", _))
      else None
    }
  }

  /** The RETENTION GATE of a streamed-admit root: the SLOWEST
    * registered consumer's watermark — `min` over every consumer
    * group's own highest ack ([[ackAdmitEpochs]]; the anonymous,
    * unnamed ack is one consumer like any other). None when no
    * consumer has ever registered (retention then follows the blind
    * `keepLast` horizon). A sweep may reclaim an epoch only when
    * EVERY registered consumer has read past it — one lagging group
    * holds retention for all, which is the point: its unread admits
    * are unrecoverable once swept. */
  def consumedAdmitWatermark(spark: SparkSession,
      epochRoot: String): Option[Long] = {
    val byConsumer = ackMarkers(fsOf(spark, epochRoot), epochRoot)
      .groupBy(_._1)
    if (byConsumer.isEmpty) None
    else Some(byConsumer.values.map(_.map(_._2).max).min)
  }

  /** One named consumer group's own watermark (its highest ack), if it
    * has registered. The retention gate is the min over ALL groups —
    * [[consumedAdmitWatermark]]. */
  def consumerAdmitWatermark(spark: SparkSession, epochRoot: String,
      consumer: String): Option[Long] = {
    requireConsumerName(consumer)
    ackMarkers(fsOf(spark, epochRoot), epochRoot)
      .filter(_._1 == consumer).map(_._2).maxOption
  }

  /** Consumer ack — the retention handshake that closes the streamed
    * lifecycle's one data-loss seam: record that every epoch ≤ `upTo`
    * has been fully read by this consumer, so [[sweepAdmitEpochs]] may
    * reclaim them once EVERY consumer has passed them. Without an ack,
    * a blind `keepLast` horizon smaller than the consumer's lag
    * deletes admitted rows the consumer never read — and they are
    * UNRECOVERABLE (the decisions are gone, the ledger has moved, a
    * re-decide of the same batch admits nothing). This unnamed form is
    * the single-downstream case (one anonymous consumer group); a
    * fan-out of independent downstreams uses the NAMED form — each
    * group acks under its own name and the retention gate
    * ([[consumedAdmitWatermark]]) is the SLOWEST group's watermark,
    * so no group coordinates with any other and none can have its
    * unread epochs swept by a faster sibling's acks.
    * Per-consumer MONOTONE: acking at or below this consumer's own
    * watermark is a no-op. Crash/race-safe: the new marker lands
    * before any old one is reclaimed, the highest own marker always
    * wins, and the cleanup removes ONLY this consumer's markers BELOW
    * its own ack — a stale ack racing a fresh one (its pre-check read
    * the old watermark) may leave its lower marker next to the fresh
    * one, but can never delete a higher marker and move any watermark
    * backwards; the next ack reclaims the leftovers.
    * Refuses an `upTo` beyond the newest SEALED epoch: a consumer
    * cannot have read epochs that do not exist (an accidental ack of
    * a row count, a not-yet-sealed epoch, a wrong root) would push
    * the watermark above everything and silently revert the sweep to
    * the blind horizon — permanently, since acks are monotone by
    * design. Same refuse-up-front rule as `keepGeneration`: a
    * protection verb must never be silently unprotective.
    * Returns this consumer's own watermark after the call. */
  def ackAdmitEpochs(spark: SparkSession, epochRoot: String,
      upTo: Long): Long =
    ackInternal(spark, epochRoot, "", upTo)

  /** Named-consumer-group form of [[ackAdmitEpochs]] — see its
    * scaladoc. `consumer` must match `[A-Za-z0-9_]+`. */
  def ackAdmitEpochs(spark: SparkSession, epochRoot: String,
      consumer: String, upTo: Long): Long = {
    requireConsumerName(consumer)
    ackInternal(spark, epochRoot, consumer, upTo)
  }

  private def ackInternal(spark: SparkSession, epochRoot: String,
      consumer: String, upTo: Long): Long = {
    require(upTo >= 0, "ackAdmitEpochs: upTo must be ≥ 0")
    val fs = fsOf(spark, epochRoot)
    // the idempotent no-op comes FIRST: a consumer re-acking its own
    // persisted progress after a restart must succeed even when every
    // sealed epoch at or below it has since been swept (the marker
    // outlives the epochs it acknowledges — that is its job)
    val own = ackMarkers(fs, epochRoot).filter(_._1 == consumer).map(_._2)
    if (own.nonEmpty && own.max >= upTo) return own.max
    // an ADVANCING ack must reference a sealed epoch that exists: a
    // row count, an unsealed epoch, or a wrong root would push the
    // monotone watermark above everything and silently disable the
    // gate forever. Newest-first with early exit — the common ack
    // (at or near the head) costs one existence probe, not one per
    // epoch dir ever created.
    val epochsDesc = epochIds(fs, epochRoot).reverse
    if (!epochsDesc.filter(_ >= upTo).exists(sealedEpoch(fs, epochRoot, _))) {
      val newestSealed = epochsDesc.find(sealedEpoch(fs, epochRoot, _))
      throw new IllegalArgumentException(
        s"ackAdmitEpochs: cannot ack epoch $upTo at $epochRoot — the " +
          s"newest SEALED epoch is ${newestSealed.getOrElse(-1L)}. A " +
          "consumer can only have read epochs that exist; acking past " +
          "them would silently disable the retention gate (acks are " +
          "monotone). Check the value (an epoch id, not a row count) " +
          "and the root.")
    }
    fs.create(new Path(epochRoot, consumedName(consumer, upTo)), true)
      .close()
    own.filter(_ < upTo).foreach(n =>
      fs.delete(new Path(epochRoot, consumedName(consumer, n)), false))
    upTo
  }

  /** Unregister a DEAD consumer group: delete its ack markers so
    * [[consumedAdmitWatermark]] recomputes over the SURVIVING groups
    * and retention resumes ack-gated — the surgical verb the named-
    * group design needs, where `sweepAdmitEpochs(force = true)` is the
    * nuclear one. Without this, a decommissioned downstream's stale
    * watermark blocks reclaim FOREVER (its markers persist by design),
    * and the only documented escape — `force` — silently abandons
    * EVERY group's unread epochs on every sweep it gates, including
    * live laggards': the exact loss the ack gate exists to prevent,
    * made a permanent operational requirement. Retiring is for groups
    * that will never read again: a retired group's unread epochs
    * become reclaimable by the next sweep, and a group retired by
    * mistake simply re-registers at its next ack (its own watermark
    * restarts from that ack). Retiring the LAST registered group
    * reverts the root to the blind `keepLast` horizon — logged loudly,
    * not refused, because decommissioning the final downstream is a
    * legitimate end-of-life step. Fails loudly on a group that holds
    * no markers (a typo'd name must not report success), naming the
    * registered groups. Returns the number of markers removed. */
  def retireConsumer(spark: SparkSession, epochRoot: String,
      consumer: String): Int = {
    requireConsumerName(consumer)
    retireInternal(spark, epochRoot, consumer)
  }

  /** [[retireConsumer]] for the ANONYMOUS consumer group (the unnamed
    * [[ackAdmitEpochs]] form) — it is one group like any other and
    * must be retirable the same way. */
  def retireAnonymousConsumer(spark: SparkSession, epochRoot: String): Int =
    retireInternal(spark, epochRoot, "")

  private def retireInternal(spark: SparkSession, epochRoot: String,
      consumer: String): Int = {
    val fs = fsOf(spark, epochRoot)
    val all = ackMarkers(fs, epochRoot)
    val own = all.filter(_._1 == consumer)
    val label =
      if (consumer.isEmpty) "the anonymous consumer" else s"'$consumer'"
    if (own.isEmpty) {
      val registered = all.map(_._1).distinct.sorted
        .map(c => if (c.isEmpty) "<anonymous>" else c)
      throw new IllegalArgumentException(
        s"retireConsumer: $label holds no ack markers at $epochRoot — " +
          "nothing to retire. Registered consumer groups: " +
          (if (registered.isEmpty) "none" else registered.mkString(", ")) +
          ". Check the name and the root (retiring must not silently " +
          "succeed on a typo while the real dead group keeps blocking " +
          "retention).")
    }
    val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")
    if (all.map(_._1).distinct.size == 1)
      log.warn(s"retireConsumer: retiring $label removes the LAST " +
        s"registered consumer group at $epochRoot — retention reverts " +
        "to the blind keepLast horizon until a consumer acks again; " +
        "size keepLast above the worst-case downstream lag meanwhile")
    else
      log.info(s"retireConsumer: retiring $label at $epochRoot " +
        s"(watermark was ${own.map(_._2).max}); the retention gate " +
        "recomputes over the surviving groups at the next sweep")
    own.foreach { case (_, n) =>
      fs.delete(new Path(epochRoot, consumedName(consumer, n)), false) }
    own.size
  }

  /** The downstream-consumer verb for a streamed-admit root: every
    * SEALED epoch's admitted rows as one DataFrame with an `epoch`
    * column, ascending. Epochs that never completed their append
    * (`_appended` missing — a crash the stream's retry will finish)
    * are EXCLUDED: their decisions are not yet contractual, and a
    * consumer that read them would double-count rows once the retry
    * re-emits. Retention protocol: read, THEN [[ackAdmitEpochs]] — a
    * consumer only ever re-reads epochs above its own watermark, so it
    * never races [[sweepAdmitEpochs]]' reclaim (which stays at or
    * below it); re-reading already-acked epochs forfeits that
    * guarantee by definition. */
  def readAdmittedEpochs(spark: SparkSession, epochRoot: String): DataFrame =
    readEpochOutputs(spark, epochRoot, "admitted", optional = false,
      s"readAdmittedEpochs: $epochRoot holds no sealed epochs — the " +
        "stream has not completed a micro-batch yet (or the root is " +
        "wrong)")

  /** [[readAdmittedEpochs]]' sibling for a stream's per-epoch AUDIT
    * output — the near-dup root ([[nearDupLedgerAdmitStreamBatch]]
    * with `audit = true`: reasons exact_batch/exact_store/near_batch/
    * near_store, partner = the minimum matching doc) and the EXACT
    * root ([[ledgerAdmitStreamBatch]] with `audit = true`: reasons
    * exact_batch with the in-batch rep as partner, exact_store with a
    * NULL partner — the digest store is id-free by design): every
    * sealed epoch's drop-reason rows — (doc, reason, partner) —
    * labeled by epoch, one flat scan. Epochs
    * that ran without audit simply contribute no paths; a root where
    * NO sealed epoch carries an audit fails loudly (the caller almost
    * certainly forgot `audit = true`). */
  def readAuditEpochs(spark: SparkSession, epochRoot: String): DataFrame =
    readEpochOutputs(spark, epochRoot, "audit", optional = true,
      s"readAuditEpochs: $epochRoot holds no sealed AUDITED epochs — " +
        "run the stream with audit = true (or check the root)")

  /** Every sealed epoch's `out` dataset (skipping epochs without one
    * when `optional`) as ONE flat multi-path parquet scan with the
    * epoch label derived from the file path — NOT a per-epoch union
    * fold, whose plan depth would grow with every micro-batch ever run
    * (a year of 5-minute epochs is ~10⁵ nodes; this stays one scan node
    * at any epoch count). mergeSchema makes cross-epoch schema drift
    * DETERMINISTIC (a column added mid-stream reads as null for older
    * epochs) instead of letting one sampled footer silently win; the
    * label regex is anchored to the path TAIL so an epoch root that
    * itself lives under a path containing "epoch-N/<out>" cannot
    * mislabel rows. */
  private def readEpochOutputs(spark: SparkSession, epochRoot: String,
      out: String, optional: Boolean, none: String): DataFrame = {
    val fs = fsOf(spark, epochRoot)
    val dirs = epochIds(fs, epochRoot)
      .filter(sealedEpoch(fs, epochRoot, _))
      .map(e => s"${epochDir(epochRoot, e)}/$out")
      .filter(d => !optional || fs.exists(new Path(d)))
    require(dirs.nonEmpty, none)
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      .withColumn("epoch", regexp_extract(input_file_name(),
        s"epoch-(\\d+)/$out/[^/]+$$", 1).cast("long"))
  }

  /** Retention for a streamed-admit root: epoch dirs accumulate one
    * per micro-batch forever, but their idempotence value has a
    * horizon — Structured Streaming only ever re-delivers epochs
    * newer than the sink checkpoint's committed watermark, so sealed
    * epochs far behind the newest can be reclaimed once downstream
    * has consumed them. Drops SEALED epochs older than the newest
    * `keepLast` (≥ 1), GATED by the consumer-ack watermark when one
    * exists ([[ackAdmitEpochs]]): a sealed epoch ABOVE the watermark
    * is unconsumed — dropping it would permanently lose admitted rows
    * downstream never read (decisions gone, ledger moved, a re-decide
    * admits nothing) — so it survives any `keepLast`, unless
    * `force = true` deliberately overrides. `force` is the NUCLEAR
    * option: it abandons ALL laggards' unread epochs — every group's,
    * live ones included — and leaves the dead group's markers in
    * place, so it re-gates every subsequent sweep (force forever). To
    * remove ONE dead group and let retention resume ack-gated over
    * the survivors, use [[retireConsumer]] instead. A root where NO
    * consumer has ever acked keeps the
    * blind `keepLast` horizon — ack-gating is the consumer's opt-in
    * (size `keepLast` above the worst-case lag until then). UNSEALED
    * epochs are never touched regardless of age or watermark: an epoch
    * without `_appended` is a crashed delivery whose retry NEEDS the
    * sealed decisions (`_decided`) to stay idempotent — deleting it
    * would re-decide against a moved ledger. Returns the number of
    * epoch dirs removed. */
  def sweepAdmitEpochs(spark: SparkSession, epochRoot: String,
      keepLast: Int = 8, force: Boolean = false): Int = {
    require(keepLast >= 1, "keepLast must be ≥ 1")
    val fs = fsOf(spark, epochRoot)
    val all = epochIds(fs, epochRoot)
    if (all.isEmpty) return 0
    val wm = consumedAdmitWatermark(spark, epochRoot)
    // the oldest epoch that stays — everything sealed below it goes,
    // except unconsumed epochs (above the ack watermark) unless forced
    val cut = all.drop(math.max(0, all.size - keepLast)).head
    val drop = all.filter(_ < cut)
      .filter(e => force || wm.forall(e <= _))
      .filter(sealedEpoch(fs, epochRoot, _))
    drop.foreach(e => fs.delete(new Path(epochDir(epochRoot, e)), true))
    drop.size
  }

  /** One-row health of a streamed-admit epoch root — the epoch
    * lifecycle's member of the observability matrix every persisted
    * store already has (routed by
    * [[graft.operators.StoreHealth.storeHealthReport]]): sealed /
    * unsealed / audited epoch counts, the oldest and newest SEALED
    * epoch, the retention-gate watermark (the SLOWEST registered
    * consumer GROUP's — `n_consumers` says how many groups hold it),
    * the consumer LAG in epochs (newest sealed − gate; -1 when no
    * consumer has registered),
    * and the page — `lag_exceeds_horizon`: a registered consumer
    * lagging by `horizon` or more (default 8, [[sweepAdmitEpochs]]'
    * default keepLast) means retention is BLOCKED on it (the ack gate
    * refuses to reclaim its unread epochs, so disk grows until the
    * consumer advances or an operator decides it is dead and sweeps
    * with force). An unsealed epoch is a crashed delivery awaiting its
    * retry — persistent nonzero counts here page too, by eye.
    * `admitted_rows` counts the sealed epochs' admitted rows from
    * their parquet FOOTERS (exact by the format's contract — same
    * number a scan would count), so the whole report is driver-side
    * metadata I/O with ZERO Spark jobs at any store age: a health
    * poll on a year-old root (~10⁵ epochs) must not launch a scan
    * whose task count grows with stream age. */
  def admitEpochHealthReport(spark: SparkSession, epochRoot: String,
      horizon: Int = 8): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, epochRoot)
    val all = epochIds(fs, epochRoot)
    val sealedEpochs = all.filter(sealedEpoch(fs, epochRoot, _))
    val audited = sealedEpochs.count(e =>
      fs.exists(new Path(s"${epochDir(epochRoot, e)}/audit")))
    // the gate (the SLOWEST group's watermark) drives the lag/page;
    // n_consumers says how many groups hold it
    val wm = consumedAdmitWatermark(spark, epochRoot)
    val nConsumers = ackMarkers(fs, epochRoot).map(_._1).distinct.size
    val newestSealed = sealedEpochs.lastOption.getOrElse(-1L)
    val lag = wm match {
      case Some(w) if newestSealed >= 0 => newestSealed - w
      case _ => -1L
    }
    // footer row-count sum, one small metadata read per admitted file
    // — never a Spark job (see the scaladoc); non-data siblings
    // (_SUCCESS, hidden files) are excluded by the .parquet suffix
    val admittedRows = sealedEpochs.iterator.map { e =>
      val d = new Path(s"${epochDir(epochRoot, e)}/admitted")
      if (!fs.exists(d)) 0L
      else fs.listStatus(d).iterator
        .filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
              st, spark.sparkContext.hadoopConfiguration))
          try r.getRecordCount finally r.close()
        }.sum
    }.sum
    Seq((sealedEpochs.size.toLong, (all.size - sealedEpochs.size).toLong,
      audited.toLong, sealedEpochs.headOption.getOrElse(-1L),
      newestSealed,
      wm.getOrElse(-1L), lag, wm.isDefined && lag >= horizon,
      nConsumers.toLong, admittedRows))
      .toDF("epochs_sealed", "epochs_unsealed", "epochs_audited",
        "oldest_sealed", "newest_sealed", "consumed_watermark",
        "consumer_lag", "lag_exceeds_horizon", "n_consumers",
        "admitted_rows")
  }

  /** Compact the [[ledgerAdmit]] digest store. Every admitted batch
    * appends its own parquet file set, so a year of daily ingest leaves
    * hundreds of small files whose open/footer overhead dominates the
    * anti-join's build-side scan — the same accretion-vs-read-
    * amplification debt the IVF cell store pays, with the same answer.
    * Rewrites every db bucket to one digest-sorted file
    * ([[writeBucketed]] over [[ExactStore]]) as a NEW
    * GENERATION via [[graft.util.Gen.rewrite]] (atomic commit-marker
    * flip — ZERO reader outage, with the maintenance marker that makes
    * a racing [[ledgerAdmit]] fail loudly instead of losing its rows
    * to the flip). The rewrite also collapses duplicate digest rows
    * (`distinct` on the 16-byte digest): under the enforced
    * single-writer fence none exist, but a duplicate smuggled in by
    * any historical race is repaired here rather than silently
    * surviving forever. Returns the digest count of the compacted
    * ledger (= its row count, post-distinct). */
  def compactDedupLedger(spark: SparkSession, path: String): Long =
    Fs.labeled(spark, "exact:compact") {
      Gen.rewrite(spark, path)(tmp => writeBucketed(ExactStore,
        current(spark, path).select(col("text_md5")).distinct(),
        "overwrite", tmp))
      current(spark, path).count()
    }

  /** One-row layout health of the [[ledgerAdmit]] digest store — the
    * exact ledger's member of the observability matrix every other
    * persisted store already has: digest count, duplicate-digest count
    * (0 under the single-writer fence; >0 means a historical race
    * smuggled rows in and the next compaction will repair it), file
    * count and max files per db bucket (grows one per admit batch —
    * the [[compactDedupLedger]] trigger, compared against
    * `maxFilesPerBucket` for `compact_advised`). One scan of the
    * 16-byte digest column + file names. */
  def dedupLedgerStats(spark: SparkSession, path: String,
      maxFilesPerBucket: Int = 16): DataFrame = {
    import spark.implicits._
    val store = exactStore(spark, path, "dedupLedgerStats")
    val t = ledgerCensus(store, Seq("db", "text_md5"),
      countDistinct(col("text_md5")).as("digests"),
      countDistinct(col("f")).as("files"))
    val maxPerBucket = maxBucketFiles(store, "db")
    Seq((t.getAs[Long]("digests"),
      t.getAs[Long]("rows") - t.getAs[Long]("digests"),
      t.getAs[Long]("files"), maxPerBucket,
      maxPerBucket > maxFilesPerBucket))
      .toDF("n_digests", "n_duplicate_rows", "n_files",
        "max_bucket_files", "compact_advised")
  }

  /** Persisted NEAR-dup ledger — the incremental twin of [[ledgerAdmit]]
    * for near-duplicates, and the operator a daily 100-TB ingest
    * actually runs: history-aware near-dup WITHOUT re-scanning or
    * re-signaturing the historical corpus. The ledger is TWO parquet
    * stores. The PRIMARY at `path` ([[PrimaryStore]]) holds one row per
    * distinct text ever seen — (doc, text_md5, hs: the sorted distinct
    * shingle-hash array, mh0..mhN: the MinHash signature), exactly the
    * per-doc state [[nearDupDrops]] derives per run, persisted once —
    * partitioned by `db` = hash(doc) mod [[NdlDocBuckets]], so the
    * verify stage's hs-array fetch (the WIDEST column in the store)
    * reads only the buckets that hold actual candidates. The BAND STORE
    * at `path + "_bands"` ([[BandStore]]) holds the exploded LSH band
    * keys (kb, band, kh, doc) — kh the 8-byte key hash, partitioned by
    * kb = kh mod [[NdlKeyBuckets]] (kb alone: kh determines kb, so a
    * band split would quadruple the directory/file counts for zero
    * extra pruning) — it exists so an admit's
    * candidate probe does NOT re-derive band keys from every historical
    * row's signature columns (an O(history) scan of the mh columns on
    * the hottest operational path — at 10 B docs, ~1.3 TB per daily
    * admit): the probe equi-joins the band store on (band, kb, key)
    * with the batch's keys broadcast, so dynamic partition pruning
    * skips every (band, kb) bucket the batch does not touch
    * (pinned in LedgerPlanPinsSpec), and a bucket's rows are three
    * narrow columns, not 16 signature columns.
    *
    * A batch admit is four bounded joins, none corpus-sized on the
    * batch side:
    *   1. exact-vs-store: batch digests ⋉ store digests (a full scan of
    *      the primary's 16-byte digest column — the irreducible floor);
    *   2. exact-in-batch: min-id representative per batch digest;
    *   3. near-vs-store: the batch reps' band keys probe the PERSISTED
    *      band store (partition-pruned to the batch's kb
    *      buckets), candidates exact-verified by Jaccard on the
    *      primary's arrays — fetched through a (db, doc) equi-join so
    *      partition pruning reads only the candidate docs' buckets.
    *      Beyond [[NdlDppMaxReps]] batch reps both joins fall back to
    *      plain shuffle equi-joins — same decisions, no driver-sized
    *      broadcast (a batch that large touches every bucket anyway);
    *   4. near-in-batch: [[lshCandidatesFromSignatures]] over the batch
    *      reps + the same verify (drop the larger id).
    * ALL batch reps with novel digests are then appended — including
    * near-REJECTED ones: the one-shot drop rule is "∃ ANY earlier doc
    * within threshold", not "∃ earlier SURVIVOR" (near-dup is not
    * transitive — a chain a~b, b~c with a≁c must still drop c through
    * the rejected b), so the store keeps every distinct text's
    * signature, which is what makes the decisions reproduce
    * [[nearDupDrops]] exactly.
    *
    * CONTRACT (spec-pinned): ids are monotone across batches (arrival
    * order — the natural ingest key). Under it, the admit decisions
    * across any batch sequence are IDENTICAL to one-shot
    * [[nearDupDrops]] over the union of the batches: signatures are
    * doc-local (fixed permutation constants), so banding and verify see
    * the same pairs either way. Same crash-safe ordering as
    * [[ledgerAdmit]] (`admittedOut` persists before the appends; a
    * crash between re-runs idempotently). The band store appends
    * BEFORE the primary: a crash between the two leaves band keys
    * whose doc has no primary row — the verify join drops such
    * candidates, and the batch re-run (digests still novel) re-appends
    * both, so the dangling keys only ever ADD already-planned
    * candidates (de-duplicated) — while the opposite order would leave
    * primary signatures invisible to every future band probe (silent
    * missed drops). A primary store with no band store (a pre-band
    * layout, or a deleted band dir) is backfilled in place on the next
    * admit — one O(history) derivation, then pruned probes forever.
    * Rows with NULL `textCol` are dropped up front; BOTH store paths
    * are fenced by the generation-rewrite maintenance marker.
    * `auditOut` additionally persists the drop-REASON audit — one row
    * per (dropped doc, rule that fired) with the rule name
    * (`exact_store` / `exact_batch` / `near_store` / `near_batch`)
    * and the MINIMUM matching partner id, the explainability surface
    * a takedown or pipeline-debug review reads; decisions are
    * identical with or without it (spec-pinned, and q136 hash-oracles
    * the reasons AND partners themselves). Returns the admitted batch
    * rows (original columns + text_md5).
    *
    * `hasher` is pluggable like [[nearDupDrops]]'s (pass `xxhash64(_)`
    * at production scale) — but the STORE is hasher-bound: signatures
    * persisted under one hasher are meaningless to another, and the
    * mismatch is not schema-detectable, so pick the hasher at ledger
    * creation and keep it for the ledger's life (same discipline as
    * bands/rows, which ARE schema-checked). Hot-band caveat: a flood of
    * distinct-but-near-identical texts accumulates REJECTED reps that
    * share band keys, so the batch-vs-store band join can grow a hot
    * (band, key) bucket; it is a plain shuffle equi-join, so AQE
    * skew-split handles it (the in-batch pass routes through
    * [[lshCandidatesFromSignatures]]'s explicit mega-bucket guard). */
  def nearDupLedgerAdmit(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rows: Int = 4,
      threshold: Double = 0.8,
      admittedOut: Option[String] = None,
      hasher: Column => Column = hash60(_),
      auditOut: Option[String] = None): DataFrame =
    // ONE ingest lease (on the primary path) covers both stores: the
    // admit reads primary + bands to decide, then appends to both —
    // two concurrent admits would each decide against a store missing
    // the other's rows and double-admit near-dups across the batches
    // (admit-vs-maintenance stays the marker fence + content
    // re-verify; maintenance on the BANDS store also fail-fasts on
    // this primary lease via Gen.rewrite's extraLeases)
    Fs.withIngestLease(spark, path, "nearDupLedgerAdmit") {
      val (admitted, novel) = ndlDecide(spark, path, batch, idCol,
        textCol, n, bands, rows, threshold, hasher, auditOut)
      admittedOut.foreach(out =>
        admitted.write.mode("overwrite").parquet(out))
      ndlAppend(spark, path, novel, bands, rows)
      admitted
    }

  /** The near-dup admit's READ-DECIDE half ([[nearDupLedgerAdmit]]'s
    * body through the checkpointed decision and novel-signature sets)
    * — split out so the streamed form can persist both per epoch
    * BEFORE any append. Callers hold the primary's ingest lease.
    * Returns (admitted, novel). */
  private def ndlDecide(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rows: Int, threshold: Double,
      hasher: Column => Column,
      auditOut: Option[String],
      materializeNovelTo: Option[String] = None)
      : (DataFrame, DataFrame) =
    Fs.labeled(spark, "ndl:decide") {
    Fs.failIfUnderMaintenance(spark, path, "nearDupLedgerAdmit")
    Fs.failIfUnderMaintenance(spark, ndlBandsPath(path),
      "nearDupLedgerAdmit")
    val numPerms = bands * rows
    val hasStore = Gen.hasData(spark, path)
    ndlCheckMeta(fsOf(spark, path), path, bands, rows, hasStore,
      "nearDupLedgerAdmit")

    // batch prep: digest every row, collapse to min-id representatives
    // per distinct text (the exact stage — identical to nearDupDrops'
    // stage 0, and the strongest mega-bucket guard)
    val withMd5 = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"), col(textCol).as("text"))
      .withColumn("text_md5", md5(col("text")))
    val reps = withMd5.groupBy(col("text_md5"))
      .agg(min(col("doc")).as("doc"))
    val repDocs = withMd5.join(reps, Seq("text_md5", "doc"))
    // per-rep sorted shingle arrays + MinHash signature — the exact
    // per-doc state nearDupDrops derives; checkpointed because admit
    // decisions AND the store append both read it, and because every
    // decision must be materialized BEFORE the append lands (a lazy
    // plan re-read after the append would see the batch's own rows)
    val idx = shingleIndex(repDocs, "doc", "text", n, hasher)
    val arrays = idx.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
    val sig = minHashSignaturesFromIndex(
      arrays.select(col("doc"), explode(col("hs")).as("h")), numPerms)
    val storeCols = Seq("doc", "text_md5", "hs") ++
      (0 until numPerms).map("mh" + _)
    // unshingleable reps (< n tokens) keep an empty hs and NULL
    // signature: they can only ever be EXACT dups (nearDupDrops has no
    // pair for them either), and the null mh0 keeps them out of banding
    val batchSig = repDocs.select(col("doc"), col("text_md5"))
      .join(arrays, Seq("doc"), "left")
      .join(sig, Seq("doc"), "left")
      .withColumn("hs", coalesce(col("hs"), typedlit(Seq.empty[Long])))
      .select(storeCols.map(col): _*)
      .localCheckpoint()
    val storeColsDb = storeCols :+ "db"
    val store =
      if (hasStore) {
        val s0 = current(spark, path)
        val s = if (s0.columns.toSet == storeColsDb.toSet)
          s0.select(storeColsDb.map(col): _*) else s0
        if (s.columns.toSeq != storeColsDb) throw new IllegalStateException(
          s"$path holds a near-dup ledger with a different geometry " +
            s"(columns ${s.columns.mkString(",")}; this call implies " +
            s"${storeColsDb.mkString(",")}) — admit with the bands/rows " +
            "the ledger was created with, or start a new store")
        s
      } else batchSig.limit(0).withColumn("db", lit(0).cast("int"))

    // the persisted band-key store: backfill it once when the primary
    // predates it (or its dir was lost) — an O(history) derivation
    // that buys every later admit its pruned probe
    val bandsPath = ndlBandsPath(path)
    if (hasStore && !Gen.hasData(spark, bandsPath))
      // the backfill is a store REWRITE — route it through the
      // generation protocol so a racing reader of a half-backfilled
      // band store is impossible (fresh stores just get gen-1)
      Gen.rewrite(spark, bandsPath)(g => writeBucketed(BandStore,
        ndlWithKb(ndlBandKeys(store, bands, rows)), "overwrite", g))
    // hasData (not just hasStore): an all-unshingleable history (every
    // doc shorter than the shingle width) appends ZERO band keys, and
    // partitionBy writes no files for an empty frame — the store dir
    // exists but holds no schema to infer. Such a history has no
    // bandable signatures by construction, so the empty typed frame is
    // exactly its band store.
    val bandStore =
      if (hasStore && Gen.hasData(spark, bandsPath))
        current(spark, bandsPath)
      else ndlWithKb(ndlBandKeys(batchSig.limit(0), bands, rows))

    val exactVsStore = batchSig
      .join(store.select(col("text_md5")), Seq("text_md5"), "left_semi")
      .select(col("doc"))
    val exactBatchPairs = withMd5
      .join(reps.withColumnRenamed("doc", "rep"), Seq("text_md5"))
      .filter(col("doc") =!= col("rep"))
    val exactInBatch = exactBatchPairs.select(col("doc"))
    // candidate probe: batch band keys vs the PERSISTED band store.
    // Broadcasting the batch side is what feeds dynamic partition
    // pruning into the store scan (only the batch's (band, kb) buckets
    // are read) for a trickle batch, whose literal kh fold below is the
    // selective predicate DPP needs; a larger batch's keys touch every
    // bucket and its scan gets no DPP. Broadcasting is sound while the
    // batch is daily-sized; a bulk backfill
    // beyond NdlDppMaxReps reps would be an oversized broadcast, so it
    // falls back to the plain shuffle equi-join (same decisions, and a
    // batch that large touches every bucket anyway)
    val batchKeys = ndlWithKb(
      ndlBandKeys(batchSig, bands, rows)
        .withColumnRenamed("doc", "doc_b"))
    val nReps = batchSig.count()
    val smallBatch = nReps <= NdlDppMaxReps
    val probe = if (smallBatch) broadcast(batchKeys) else batchKeys
    // TRICKLE batches (a takedown check, a small feed) additionally
    // fold their key hashes into a literal `isInCollection` FILTER on
    // the band-store scan — the tombstone-fold pattern. DPP's partition
    // floor is 1/NdlKeyBuckets; the pushed In(kh, …) reaches parquet as
    // row-group stats against the kh-SORTED files ([[BandStore]]), so a
    // 5-doc probe reads row groups ∝ its keys, not 1/32 of history.
    // Decisions are provably unchanged: the filter keeps exactly the
    // kh values the equi-join (still present, for the doc pairing)
    // could match. LedgerPlanPinsSpec pins PushedFilters carrying kh.
    val bandScan =
      if (nReps <= NdlLiteralMaxReps) {
        val khs = batchKeys.select(col("kh")).distinct()
          .collect().map(_.getLong(0)).sorted
        // an all-unshingleable batch has no band keys: no candidates
        // by construction, so skip the store scan outright
        if (khs.isEmpty) bandStore.limit(0)
        else bandStore.filter(col("kh").isInCollection(khs))
      } else bandStore
    val candsVsStore = bandScan.join(probe, Seq("band", "kb", "kh"))
      .select(col("doc").as("doc_a"), col("doc_b")).distinct()
    // verify fetch: the candidates' hs arrays come through a (db, doc)
    // equi-join against the db-partitioned primary — broadcasting the
    // candidate side feeds partition pruning into the hs scan, so the
    // widest column in the store is read only for buckets that hold
    // actual candidates. Spark plans that pruning only when the
    // broadcast side holds a predicate its PartitionPruning rule deems
    // selective: a trickle batch's candidates inherit the literal kh
    // fold, a larger batch's have none, so for those the bucket-range
    // filter (every row passes it) stands in. Their few candidates
    // touch few buckets (on a 6,000-doc store, 20 candidates read 48 of
    // 96 primary files, against all 96 without it)
    val candDb = candsVsStore.withColumn("db", ndlDb(col("doc_a")))
    val candProbe =
      if (!smallBatch) candDb
      else if (nReps <= NdlLiteralMaxReps) broadcast(candDb)
      else broadcast(candDb.filter(col("db") < PrimaryStore.buckets))
    val nearVsStorePairs = jaccardAtLeast(store
      .select(col("db"), col("doc").as("doc_a"), col("hs").as("hs_a"))
      .join(candProbe, Seq("db", "doc_a"))
      .join(batchSig.select(col("doc").as("doc_b"), col("hs").as("hs_b")),
        Seq("doc_b")), threshold)
      .select(col("doc_a"), col("doc_b"))
    val nearVsStore = nearVsStorePairs.select(col("doc_b").as("doc"))
    val candsInBatch = lshCandidatesFromSignatures(
        batchSig.filter(col("mh0").isNotNull), bands, rows)
      .select(col("doc_a"), col("doc_b"))
    val nearInBatchPairs =
      verifyPairs(candsInBatch, batchSig, batchSig, threshold)
        .select(col("doc_a"), col("doc_b"))
    val nearInBatch = nearInBatchPairs.select(col("doc_b").as("doc"))
    // `auditOut` materializes the drop REASONS — the explainability/
    // takedown-audit surface: one row per (dropped doc, rule that
    // fired) with the MINIMUM matching partner id (exact_store →
    // the store's holder of the digest; exact_batch → the in-batch
    // rep; near_* → the smallest verified near-match; a partner that
    // was forgotten shows as its negative sentinel — its identity is
    // gone by design). The decision SET is identical either way: the
    // audit path derives `dropped` from the same checkpointed rule
    // union, and the default path keeps the exact untagged plan, so
    // audit-off admits are bit-for-bit the r15 shape.
    val dropped = auditOut match {
      case None =>
        exactVsStore.unionByName(exactInBatch)
          .unionByName(nearVsStore).unionByName(nearInBatch)
          .distinct().localCheckpoint()
      case Some(out) =>
        def minPartner(pairs: DataFrame, r: String) = pairs
          .groupBy(col("doc_b")).agg(min(col("doc_a")).as("partner"))
          .select(col("doc_b").as("doc"), lit(r).as("reason"),
            col("partner"))
        val exactStoreP = batchSig
          .join(store.select(col("text_md5"),
            col("doc").as("partner")), Seq("text_md5"))
          .groupBy(col("doc")).agg(min(col("partner")).as("partner"))
          .select(col("doc"), lit("exact_store").as("reason"),
            col("partner"))
        val exactBatchP = exactBatchPairs
          .select(col("doc"), lit("exact_batch").as("reason"),
            col("rep").as("partner"))
        // the audit write IS the materialization (r19): checkpointing
        // the union and then writing it computed every decision twice;
        // the decision fence the scaladoc requires is the parquet file,
        // and `dropped` derives from its schema-pinned read-back
        val decisions0 = exactStoreP.unionByName(exactBatchP)
          .unionByName(minPartner(nearVsStorePairs, "near_store"))
          .unionByName(minPartner(nearInBatchPairs, "near_batch"))
        decisions0.write.mode("overwrite").parquet(out)
        val decisions =
          spark.read.schema(decisions0.schema).parquet(out)
        decisions.select(col("doc")).distinct().localCheckpoint()
    }

    // admitted derives from the caller's batch and the CHECKPOINTED
    // decision set only — no store dependency, so it needs no
    // materialization of its own (re-evaluation after the appends reads
    // the same inputs); the decisions themselves were fenced above
    val admitted = batch.filter(col(textCol).isNotNull)
      .withColumn("text_md5", md5(col(textCol)))
      .join(dropped.select(col("doc").as(idCol)), Seq(idCol), "left_anti")
    // novel signatures (all batch reps whose digest is unseen — admitted
    // AND near-rejected, see the scaladoc) materialize before the append.
    // The STREAMED path persists them per epoch anyway, so
    // `materializeNovelTo` lets that write BE the materialization
    // instead of a checkpoint followed by a second full write (r19);
    // the read-back carries the writer's schema — no footer job
    val novel0 = batchSig
      .join(store.select(col("text_md5")), Seq("text_md5"), "left_anti")
      .select(storeCols.map(col): _*) // USING-join reorders; keep layout
    val novel = materializeNovelTo match {
      case None => novel0.localCheckpoint()
      case Some(out) =>
        novel0.write.mode("overwrite").parquet(out)
        spark.read.schema(novel0.schema).parquet(out)
    }
    (admitted, novel)
  }

  /** The near-dup admit's APPEND half. An all-duplicate batch (a daily
    * re-run, a replayed feed) appends no file: the partitioned write of
    * an empty frame writes no part file. Band keys land FIRST (see
    * [[nearDupLedgerAdmit]]'s crash-ordering note). Callers hold the
    * primary's ingest lease. `sealDir` (the streamed path's epoch dir)
    * seals each store's append with its own marker
    * (`_bands_appended` / `_primary_appended`) so an epoch retry skips
    * the half that already landed instead of re-running the whole
    * append — without the seals, a retry that crashed between the two
    * writes lands band keys twice but primary rows once, and the
    * band_rows == banded_rows × bands invariant
    * [[nearDupLedgerHealthReport]] pages on falsely fires until the
    * next compaction. With them, the asymmetry window shrinks to a
    * crash between ONE store's commit and its marker create
    * (microseconds — and still transient: compaction's distinct
    * collapses it). */
  private def ndlAppend(spark: SparkSession, path: String,
      novel: DataFrame, bands: Int, rows: Int,
      sealDir: Option[String] = None): Unit =
    Fs.labeled(spark, "ndl:append") {
      val fs = fsOf(spark, path)
      def half(marker: String)(write: => Unit): Unit = sealDir match {
        case None => write
        case Some(d) =>
          val m = new Path(s"$d/$marker")
          if (!fs.exists(m)) { write; fs.create(m, true).close() }
      }
      half("_bands_appended") {
        writeBucketed(BandStore, ndlWithKb(ndlBandKeys(novel, bands, rows)),
          "append", Gen.appendDir(spark, ndlBandsPath(path)))
      }
      half("_primary_appended") {
        writeBucketed(PrimaryStore, novel, "append",
          Gen.appendDir(spark, path))
      }
    }

  /** Streamed [[nearDupLedgerAdmit]]: one epoch of the shared
    * [[admitEpoch]] protocol with TWO persisted decision sets per
    * epoch: the admitted batch rows (`epoch-<id>/admitted`, what
    * downstream consumes) and the novel signature rows
    * (`epoch-<id>/novel`, what the append writes to both stores) —
    * both sealed by `_decided` before any append, so a re-delivered
    * epoch re-emits identical decisions AND re-appends exactly the
    * signatures it first decided, never re-deriving either against a
    * ledger the first delivery moved. Each store's append is sealed
    * with its own per-epoch marker (see [[ndlAppend]]), so a retry
    * skips the half that already landed; only a crash between one
    * store's commit and its marker can still double-append that half —
    * decisions unaffected (candidates and verify pairs de-duplicate),
    * [[compactNearDupLedger]]'s distinct collapses the rows. Audit
    * output is per-epoch when `audit = true` (`epoch-<id>/audit`,
    * same schema as the batch `auditOut`). */
  def nearDupLedgerAdmitStreamBatch(spark: SparkSession, path: String,
      epochRoot: String, batch: DataFrame, idCol: String, textCol: String,
      epochId: Long, n: Int = 3, bands: Int = 4, rows: Int = 4,
      threshold: Double = 0.8, hasher: Column => Column = hash60(_),
      audit: Boolean = false): DataFrame =
    admitEpoch(spark, path, epochRoot, batch, idCol, textCol, epochId,
        "nearDupLedgerAdmitStream", "ndl")(
      eDir => {
        // the decide's materializeNovelTo writes the epoch's novel
        // parquet directly (one materialization, not a checkpoint plus
        // a second full write)
        val (admitted, novel) = ndlDecide(spark, path, batch, idCol,
          textCol, n, bands, rows, threshold, hasher,
          if (audit) Some(s"$eDir/audit") else None,
          materializeNovelTo = Some(s"$eDir/novel"))
        admitted.write.mode("overwrite").parquet(s"$eDir/admitted")
        (Gen.read(spark, s"$eDir/admitted"),
          () => ndlAppend(spark, path, novel, bands, rows, Some(eDir)))
      },
      eDir => ndlAppend(spark, path, Gen.read(spark, s"$eDir/novel"),
        bands, rows, Some(eDir)))

  /** Wire a document stream into the near-dup ledger: one
    * [[nearDupLedgerAdmitStreamBatch]] per micro-batch
    * ([[admitStream]]). */
  def nearDupLedgerAdmitStream(spark: SparkSession, path: String,
      epochRoot: String, stream: DataFrame, idCol: String, textCol: String,
      checkpointLocation: String, n: Int = 3, bands: Int = 4,
      rows: Int = 4, threshold: Double = 0.8,
      hasher: Column => Column = hash60(_),
      audit: Boolean = false): StreamingQuery =
    admitStream(stream, checkpointLocation)((b, epochId) =>
      nearDupLedgerAdmitStreamBatch(spark, path, epochRoot, b, idCol,
        textCol, epochId, n, bands, rows, threshold, hasher, audit))

  /** Sibling path of the near-dup ledger's persisted band-key store. */
  private[graft] def ndlBandsPath(path: String): String = path + "_bands"

  /** The ledger's store-bound geometry, persisted as a tiny JSON
    * sidecar at `<path>_meta` when the ledger is created. The column
    * check alone cannot catch every drift: a 2×8 banding produces the
    * SAME 16 mh columns as 4×4 but different band keys — an admit with
    * the wrong split would silently probe nothing and re-admit every
    * near-dup. Likewise the kb/db bucket moduli are baked into the
    * partition layout: a modulus changed by a code upgrade would
    * mis-prune existing stores (missed drops, silently). The sidecar
    * turns both into loud errors with a migration path
    * ([[compactNearDupLedger]] rewrites both stores AND the sidecar
    * with the current moduli). Read/written through the Hadoop FS
    * directly — no Spark job on the admit path. */
  private def ndlMetaPath(path: String): Path = new Path(path + "_meta")

  private def ndlMetaJson(bands: Int, rows: Int): String =
    s"""{"bands":$bands,"rows":$rows,"key_buckets":$NdlKeyBuckets,""" +
      s""""doc_buckets":$NdlDocBuckets,"layout":2}"""

  /** Verify (or create) the geometry sidecar. `hasStore` distinguishes
    * a fresh ledger (write it) from one whose sidecar must match. */
  private def ndlCheckMeta(fs: FileSystem, path: String, bands: Int,
      rows: Int, hasStore: Boolean, who: String): Unit = {
    val expect = ndlMetaJson(bands, rows)
    // fresh ledger (or a first admit that crashed before any append
    // left a sidecar with no store behind it — nothing is bound yet):
    // (re)stamp with this call's geometry
    if (!hasStore) writeSmall(fs, ndlMetaPath(path), expect)
    else {
      val got = ndlMetaRaw(fs, path, who)
      if (got != expect) throw new IllegalStateException(
        s"$who: $path was created with geometry $got; this call/build " +
          s"implies $expect. Admit with the recorded band split, or — " +
          "for a bucket-modulus upgrade — run compactNearDupLedger " +
          "once (it rewrites both stores and the sidecar with the " +
          "current moduli).")
    }
  }

  /** The sidecar of a ledger that has a store. A store without one is
    * the layout from before the sidecar existed: no code writes it, so
    * it is refused, untouched. */
  private def ndlMetaRaw(fs: FileSystem, path: String,
      who: String): String = {
    val mp = ndlMetaPath(path)
    if (!fs.exists(mp)) throw new IllegalStateException(
      s"$who: $path holds a near-dup ledger without its geometry " +
        s"sidecar ($mp) — a layout from before the sidecar existed, " +
        "which this code does not write; it was left untouched. " +
        "Rebuild the ledger into a new path.")
    Gen.readSmall(fs, mp)
  }

  private def ndlReadMeta(fs: FileSystem, path: String,
      who: String): Map[String, Int] =
    "\"(\\w+)\":(\\d+)".r.findAllMatchIn(ndlMetaRaw(fs, path, who))
      .map(m => m.group(1) -> m.group(2).toInt).toMap

  /** Refuse to rewrite a ledger whose sidecar records other bucket
    * moduli than this build's: the rewrite recomputes buckets with the
    * current moduli, and mixing them would mis-prune (compaction is the
    * migration). */
  private def ndlRequireModuli(m: Map[String, Int],
      path: String, who: String, verb: String): Unit =
    if (m("key_buckets") != NdlKeyBuckets ||
        m("doc_buckets") != NdlDocBuckets)
      throw new IllegalStateException(
        s"$who: $path was written under bucket moduli " +
          s"(${m("key_buckets")}, ${m("doc_buckets")}); this build " +
          s"uses ($NdlKeyBuckets, $NdlDocBuckets) — run " +
          s"compactNearDupLedger once to migrate, then $verb.")

  /** Explode a signature frame into LSH band keys: (doc, band, key) —
    * one home for the banding spelling the store, the batch probe, and
    * the backfill all share (a drifted copy would silently miss
    * candidates). Unshingleable rows (NULL mh0) carry no band keys. */
  private[graft] def ndlBandKeys(sigDf: DataFrame, bands: Int,
      rows: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"), concat_ws("_",
        (0 until rows).map(r => col(s"mh${b * rows + r}")): _*)
        .as("key"))
    }
    sigDf.filter(col("mh0").isNotNull)
      .select(col("doc"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"),
        col("bk.key").as("key"))
  }

  /** Band keys travel HASHED in the store and the probe: `kh` is the
    * 8-byte xxhash64 of the concatenated key string (vs ~60 string
    * bytes — the difference between the probe scan reading tens of MB
    * and hundreds at history scale), and `kb` is its bucket. A hash
    * collision can only ADD a candidate pair, never lose one (equal
    * strings always hash equal), and every candidate is exact-verified
    * by Jaccard downstream — so the admit DECISIONS are provably
    * unchanged by the hashing. */
  private[graft] def ndlWithKb(keys: DataFrame): DataFrame =
    keys.withColumn("kh", xxhash64(col("key")))
      .withColumn("kb", BandStore.bucketOf)
      .drop("key")

  /** Rebuild the band store from the primary's signatures — the
    * explicit form of the backfill [[nearDupLedgerAdmit]] runs when the
    * band store is missing, for operators restoring a lost band store
    * ahead of their next ingest window. Geometry comes from the
    * ledger's `<path>_meta` sidecar (so a 2×8 ledger can never be
    * rebuilt with 4×4 keys, the silent-miss hole the sidecar exists to
    * close), and the sidecar's bucket moduli must match this build's
    * (a modulus upgrade migrates via [[compactNearDupLedger]] first).
    * Returns the band-key row count. */
  def rebuildNearDupLedgerBands(spark: SparkSession, path: String): Long = {
    val meta = ndlReadMeta(fsOf(spark, path), path,
      "rebuildNearDupLedgerBands")
    ndlRequireModuli(meta, path, "rebuildNearDupLedgerBands", "rebuild")
    val bandsPath = ndlBandsPath(path)
    Gen.rewrite(spark, bandsPath, extraLeases = Seq(path))(g =>
      writeBucketed(BandStore, ndlWithKb(ndlBandKeys(current(spark, path),
        meta("bands"), meta("rows"))), "overwrite", g))
    // an all-unshingleable primary rebuilds to an EMPTY band store
    // (no files, no schema) — report 0 keys instead of failing to
    // infer a schema that was never written
    if (Gen.hasData(spark, bandsPath)) current(spark, bandsPath).count()
    else 0L
  }

  /** The near-dup ledger's one two-store rewrite — behind
    * [[nearDupLedgerForget]], the retention grade of
    * [[nearDupLedgerExpire]] and [[compactNearDupLedger]]: the band
    * store becomes `bands(current band rows)` and the primary
    * `primary(current primary rows)`, each through a zero-outage
    * [[graft.util.Gen.rewrite]] generation flip ([[writeBucketed]]
    * recomputes every bucket). A LEDGER-LEVEL fence — the PRIMARY's
    * maintenance marker — is held across BOTH flips: a crash after the
    * band flip but before the primary flip leaves the two stores
    * inconsistent (a forget's band rows scrubbed with its primary ids
    * original; an expiry's band keys purged with their primary rows
    * kept), a state in which an admit's verify join would SILENTLY drop
    * near-vs-history candidates — so the surviving marker keeps admits
    * failing loudly until the verb is RE-RUN to completion (each verb
    * is idempotent over the half-done state). The band store rewrites
    * first; its rewrite fails fast on the PRIMARY's ingest lease too,
    * the lease that serializes ingest into the band store — without
    * it, an admit that took its lease before the marker went down would
    * only be caught by the late content re-verify. A band rewrite that
    * fails before its publish leaves both stores as they were, so it
    * lifts the fence; from the band flip on, any failure leaves it
    * down. A missing band store is left for the next admit's backfill.
    * The marker is created and deleted once here (the primary's rewrite
    * runs with `ownsMarker`), as often as one plain rewrite would. */
  private def rewriteNearDupLedger(spark: SparkSession, path: String)(
      bands: DataFrame => DataFrame, primary: DataFrame => DataFrame): Unit = {
    val bandsPath = ndlBandsPath(path)
    Gen.createMarker(spark, path)
    try {
      if (Gen.hasData(spark, bandsPath))
        Gen.rewrite(spark, bandsPath, extraLeases = Seq(path))(tmp =>
          writeBucketed(BandStore, bands(current(spark, bandsPath)),
            "overwrite", tmp))
    } catch {
      case e: Throwable =>
        Gen.deleteMarker(spark, path)
        throw e
    }
    Gen.rewrite(spark, path, ownsMarker = true)(tmp =>
      writeBucketed(PrimaryStore, primary(current(spark, path)),
        "overwrite", tmp))
    Gen.deleteMarker(spark, path)
  }

  /** Forget documents from the near-dup ledger — the takedown/opt-out
    * verb. The SIGNATURE rows must STAY: the admit drop rule is
    * "∃ ANY earlier doc within threshold", which is non-transitive
    * (the same reasoning that keeps near-REJECTED reps in the store) —
    * physically dropping a forgotten doc's signature would re-admit
    * every later near-copy of its content. What goes is the doc's
    * IDENTITY: its id is scrubbed to a deterministic digest-keyed
    * NEGATIVE sentinel (ledger ids are numeric and non-negative under
    * the documented ingest contract — the in-batch LSH pass requires
    * long-orderable ids) in BOTH stores, via the fenced two-store
    * rewrite ([[rewriteNearDupLedger]]; admits fail loudly for the
    * window, readers are never fenced). A re-run after a crash between
    * the two flips completes the scrub: sentinels derive from the
    * digest, so the mapping is stable across runs, and already-scrubbed
    * band rows simply stop matching it. Admit decisions are
    * bit-identical before and after (spec-pinned): the store side of
    * every join carries the scrubbed id only as an opaque join key, and
    * no decision compares store ids with batch ids. Returns the number
    * of primary rows scrubbed. */
  def nearDupLedgerForget(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String): Long =
    Fs.labeled(spark, "ndl:forget") {
      // the scrub recomputes db with the CURRENT modulus
      ndlRequireModuli(ndlReadMeta(fsOf(spark, path), path,
        "nearDupLedgerForget"), path, "nearDupLedgerForget", "forget")
      val primary0 = current(spark, path)
      val docType = primary0.schema("doc").dataType
      val sentinel = (lit(-1L) - pmod(xxhash64(col("text_md5")),
        lit(Long.MaxValue))).cast(docType)
      val mapping = primary0
        .join(ids.select(col(idCol).cast(docType).as("doc")).distinct(),
          Seq("doc"), "left_semi")
        .select(col("doc"), sentinel.as("new_doc"))
        .localCheckpoint()
      val nForgot = mapping.count()
      // db recomputes from the scrubbed id — the primary row MOVES to
      // the sentinel's bucket, which is where the verify fetch (whose
      // candidate side derives db from the band store's scrubbed id)
      // will look for it
      def scrub(s: DataFrame): DataFrame =
        s.join(broadcast(mapping), Seq("doc"), "left")
          .withColumn("doc", coalesce(col("new_doc"), col("doc")))
      if (nForgot > 0L) rewriteNearDupLedger(spark, path)(scrub, scrub)
      nForgot
    }

  /** One-row paging surface for the near-dup ledger — the twin of the
    * index stores' `*IndexHealthReport`s, joining the three signals an
    * operator otherwise reads separately:
    *   - FILE ACCRETION per bucket in BOTH stores (every admit batch
    *     appends one file per touched db/kb bucket, so max files per
    *     bucket ≈ batches since the last compaction) — drives
    *     `compact_advised` against `maxFilesPerBucket`;
    *   - the BAND/PRIMARY SYNC check: every banded signature row (mh0
    *     non-null) must hold exactly `bands` keys in the band store —
    *     `band_rows < banded_rows × bands` means lost band keys
    *     (SILENT missed drops — the failure the store layout must
    *     never hide) and `>` means duplicate accretion; either sets
    *     `rebuild_bands_advised` (a missing band store does too, even
    *     though the next admit would backfill it);
    *   - the FORGOTTEN-SENTINEL census (`sentinel_rows`) — retention
    *     bookkeeping, and the population [[nearDupLedgerExpire]]'s
    *     `dropForgottenSignatures` flag would purge.
    * One zero-vector-byte scan per store (file name + id/partition
    * columns only; [[ledgerCensus]], [[maxBucketFiles]]).
    * Quiet-by-default thresholds; spec-pinned on
    * planted accretion/forget/lost-bands fixtures. (A streamed-epoch
    * retry that crashed between one store's append commit and its
    * per-store seal — see [[ndlAppend]] — can transiently trip the
    * sync check in the `>` direction; the next
    * [[compactNearDupLedger]] clears it.) */
  def nearDupLedgerHealthReport(spark: SparkSession, path: String,
      maxFilesPerBucket: Int = 16): DataFrame = {
    import spark.implicits._
    val primary = current(spark, path)
    val p = ledgerCensus(primary, Seq("doc", "mh0"),
      sum(when(col("doc") < 0L, 1L).otherwise(0L)).as("sents"),
      sum(when(col("mh0").isNotNull, 1L).otherwise(0L)).as("banded"))
    val pMaxFiles = maxBucketFiles(primary, "db")
    val bandsPath = ndlBandsPath(path)
    val hasBands = Gen.hasData(spark, bandsPath)
    val (bandRows, bMaxFiles) =
      if (hasBands) {
        val b = current(spark, bandsPath)
        (ledgerCensus(b, Seq("kb")).getLong(0), maxBucketFiles(b, "kb"))
      } else (0L, 0L)
    val nBands = ndlReadMeta(fsOf(spark, path), path,
      "nearDupLedgerHealthReport")("bands")
    val expectedBandRows = p.getAs[Long]("banded") * nBands
    Seq((p.getAs[Long]("rows"), p.getAs[Long]("sents"),
      p.getAs[Long]("banded"), pMaxFiles, hasBands, bandRows,
      expectedBandRows, bMaxFiles,
      pMaxFiles > maxFilesPerBucket || bMaxFiles > maxFilesPerBucket,
      !hasBands || bandRows != expectedBandRows))
      .toDF("primary_rows", "sentinel_rows", "banded_rows",
        "primary_max_bucket_files", "has_band_store", "band_rows",
        "expected_band_rows", "band_max_bucket_files",
        "compact_advised", "rebuild_bands_advised")
  }

  /** Retention/TTL expiry for the near-dup ledger — the bulk twin of
    * the per-id [[nearDupLedgerForget]], keyed on the ledger's OWN
    * ingest axis: the admit contract requires ids monotone in arrival
    * order, so "everything ingested before horizon H" IS "doc <
    * beforeDoc" for the id the caller's ingest metadata maps H to —
    * no extra per-row state, and the expiry predicates are pure column
    * filters (no join grows with the expired set).
    *
    * Two grades, mirroring the forget's signatures-stay reasoning:
    *   - `dropSignatures = false` (default, takedown-grade): the
    *     expired docs' IDENTITIES scrub to digest-keyed sentinels
    *     (delegates to [[nearDupLedgerForget]]); their signatures stay,
    *     so copies of expired content keep being dropped forever.
    *   - `dropSignatures = true` (retention-grade): the expired docs'
    *     signature rows AND band keys are PHYSICALLY dropped — the
    *     documented horizon after which a near-copy of purged content
    *     RE-ADMITS (non-transitivity cuts both ways: dropping the row
    *     is the only way to truly stop matching against it, and a
    *     retention mandate demands exactly that). Runs through the same
    *     fenced two-store rewrite as the forget
    *     ([[rewriteNearDupLedger]]). Previously-forgotten rows
    *     (negative sentinel ids) carry NO age by construction — their
    *     identity is gone — so they are purged only when
    *     `dropForgottenSignatures = true` explicitly says so.
    *
    * Returns the number of primary rows scrubbed (takedown grade) or
    * physically dropped (retention grade). Idempotent either way. */
  def nearDupLedgerExpire(spark: SparkSession, path: String,
      beforeDoc: Long, dropSignatures: Boolean = false,
      dropForgottenSignatures: Boolean = false): Long =
    Fs.labeled(spark, "ndl:expire") {
      if (!dropSignatures)
        nearDupLedgerForget(spark, path, current(spark, path)
          .filter(col("doc") >= 0L && col("doc") < beforeDoc)
          .select(col("doc")), "doc")
      else {
        val expired = col("doc") >= 0L && col("doc") < lit(beforeDoc)
        val purge =
          if (dropForgottenSignatures) expired || col("doc") < 0L
          else expired
        val nDrop = current(spark, path).filter(purge).count()
        if (nDrop > 0L)
          rewriteNearDupLedger(spark, path)(_.filter(!purge), _.filter(!purge))
        nDrop
      }
    }

  /** Compact the [[nearDupLedgerAdmit]] stores — same accretion debt
    * and same answer as [[compactDedupLedger]], applied to both halves
    * through the fenced two-store rewrite ([[rewriteNearDupLedger]]):
    * the band store rewrites each kb bucket and the primary each db
    * bucket to one key-sorted file (every admit batch appended one file
    * per touched bucket), collapsing any duplicate rows a historical
    * race smuggled in. Buckets recompute from the data columns, which
    * makes this also the MIGRATION for a bucket-modulus upgrade. The
    * band rewrite derives from the band store itself (its content is
    * exactly the exploded keys, so no band geometry is needed).
    * Returns the compacted primary row count. */
  def compactNearDupLedger(spark: SparkSession, path: String): Long =
    Fs.labeled(spark, "ndl:compact") {
      val fs = fsOf(spark, path)
      val m = ndlReadMeta(fs, path, "compactNearDupLedger")
      rewriteNearDupLedger(spark, path)(_.distinct(),
        _.drop("db").distinct())
      // the geometry sidecar re-stamps with the CURRENT moduli (bands ×
      // rows are the ledger's own, carried over)
      writeSmall(fs, ndlMetaPath(path), ndlMetaJson(m("bands"), m("rows")))
      current(spark, path).count()
    }

  /** The STREAMING-ingest form of [[removeBoilerplate]]'s rebuild: the
    * hot-segment set is precomputed by a batch job over the existing
    * corpus (the df-count stage of [[removeBoilerplate]]), folded in as
    * a literal, and every arriving document cleans itself in one NARROW
    * pass — no state, no shuffle, no watermark, so it applies unchanged
    * to a streaming DataFrame (parity with the batch op is pinned in
    * StreamingSpec). Same output schema as [[removeBoilerplate]].
    *
    * The literal-array probe is the exact-semantics twin for a hot set
    * that fits a task binary (boilerplate tails typically do); at a hot
    * set too large to inline, the same narrow shape runs with the
    * [[graft.expressions.BloomSketch]] gate (t13's
    * ingest-contamination pattern) — FP-tolerant drop, or bloom +
    * stream-static verify join for exactness. */
  def cleanAgainstHotSet(df: DataFrame, idCol: String, textCol: String,
      hotHashes: Seq[Long], segTokens: Int = 10): DataFrame = {
    val hot = typedlit(hotHashes)
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), segTexts(col("toks"), segTokens).as("segs"))
      .select(col(idCol), col("segs"),
        filter(col("segs"),
          s => !array_contains(hot, hash60(s))).as("kept"))
      .select(col(idCol),
        size(col("segs")).cast("long").as("n_segs"),
        (size(col("segs")) - size(col("kept"))).cast("long")
          .as("n_removed"),
        length(array_join(col("kept"), " ")).cast("long")
          .as("clean_chars"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
  }

  /** Asymmetric containment join: pairs where ≥ `threshold` of doc_a's
    * distinct n-gram set appears in doc_b (C(A,B) = |A∩B| / |A|) — the
    * quote/excerpt/sub-document detector. Jaccard MISSES these pairs
    * (a long container inflates the union), which is exactly why
    * substring-dedup pipelines (Lee et al. 2022 §4) track containment
    * separately; a spec pins a planted excerpt that containment finds
    * and the Jaccard join rejects.
    *
    * Prefix filter: the pigeonhole bound needs only the PROBE side —
    * if |A∩B| ≥ ⌈t·n_a⌉ then A's rarest (n_a − ⌈t·n_a⌉ + 1) grams
    * ([[prefixArrays]], same ⌈⌉-epsilon discipline) must hit B, so
    * candidates are prefix(A) ⋈ FULL index(B) on the 8-byte hash (the
    * container side cannot be prefix-bounded — containment is
    * asymmetric). Verify is exact on the sorted hash arrays. Both
    * (a,b) and (b,a) can emit independently; only sides passing the
    * threshold survive. */
  def containmentFromIndexes(idxA: DataFrame, idxB: DataFrame,
      threshold: Double): DataFrame = {
    val dfreq = idxA.unionByName(idxB)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val arrA = prefixArrays(idxA, dfreq, threshold)
    val prefA = arrA.select(col("doc").as("doc_a"),
      explode(col("pref")).as("h"))
    val cands = prefA
      .join(idxB.select(col("doc").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val arrB = idxB.groupBy(col("doc"))
      .agg(array_sort(collect_list(col("h"))).as("hs"))
      .localCheckpoint(false)
    cands
      .join(arrA.select(col("doc").as("doc_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), Seq("doc_a"))
      .join(arrB.select(col("doc").as("doc_b"), col("hs").as("hs_b")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("raw",
        col("inter").cast("double") / col("n_a").cast("double"))
      .filter(col("raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("raw"), 6).as("containment"))
  }

  /** Self-containment over one corpus ([[containmentFromIndexes]] with
    * both sides the shared shingle index). */
  def containment(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9): DataFrame = {
    val idx = shingleIndex(df, idCol, textCol, n)
    containmentFromIndexes(idx, idx, threshold)
  }

  /** Per-document n-gram novelty — the templated-content detector:
    * how much of each document's distinct n-gram vocabulary is SHARED
    * (document frequency ≥ `minDf`)? Boilerplate-heavy, machine-
    * generated, and mirror-site content scores high; original prose
    * scores low. Complements [[removeBoilerplate]] (which rewrites) as
    * a scoring diagnostic (which routes to filters or human review).
    *
    * Scale shape: built on the shared [[shingleIndex]] — only 8-byte
    * gram hashes shuffle (once for the df count, once for the
    * doc-level re-aggregation); gram strings never travel. Returns
    * (doc, n_grams, n_common). */
  def gramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDf: Int = 3): DataFrame = {
    val idx = shingleIndex(df, idCol, textCol, n)
    val dfreq = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
    idx.join(dfreq, Seq("h"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
  }

  /** Snapshot diff — the incremental-ingest audit between two corpus
    * snapshots (yesterday's crawl vs today's): classify every id as
    * added / removed / changed / unchanged by comparing content digests
    * in a full-outer id-equi join. Only (id, digest, carryCols) travel —
    * never document text — so the diff of a 100-TB corpus shuffles
    * ~24 bytes/doc. `carryCols` (e.g. source) are coalesced across the
    * two sides so added AND removed rows keep their metadata. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      digestCol: String, carryCols: Seq[String] = Nil): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select((col(idCol).as(s"${tag}_id") +:
        col(digestCol).as(s"${tag}_digest") +:
        carryCols.map(c => col(c).as(s"${tag}_$c"))): _*)
    side(oldDf, "old")
      .join(side(newDf, "new"),
        col("old_id") === col("new_id"), "full_outer")
      .select((coalesce(col("old_id"), col("new_id")).as(idCol) +:
        when(col("old_digest").isNull, "added")
          .when(col("new_digest").isNull, "removed")
          .when(col("old_digest") === col("new_digest"), "unchanged")
          .otherwise("changed").as("status") +:
        carryCols.map(c =>
          coalesce(col(s"new_$c"), col(s"old_$c")).as(c))): _*)
  }
}
