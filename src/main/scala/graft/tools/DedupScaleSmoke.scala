package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Scale-stress for the near-dup pipeline: generates a large synthetic
  * corpus DISTRIBUTIVELY (no driver materialization) with planted exact
  * duplicates (1%) and planted near-duplicates (1%, one-suffix variants,
  * Jaccard ≈ 0.87), runs `nearDupDrops` end to end, and validates the
  * drop rate — the 40×-the-bench-corpus check that sf0.1 (5k docs)
  * cannot provide.
  *
  * `sbt "runMain graft.tools.DedupScaleSmoke [nDocs]"` (default 200k)
  */
object DedupScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 200000L
    // 64 shuffle partitions (twice the cores), as this smoke has always
    // run, so its timings stay comparable with its recorded runs
    val spark = graft.Bench.sessionBuilder("32")
      .config("spark.sql.shuffle.partitions", "64").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // doc i: 30 words drawn from a 5000-word vocab by hash; i%100==2 is an
    // EXACT copy of doc i-2; i%100==1 is doc i-1 plus a changed tail (a
    // near-dup at ~0.87 Jaccard over 3-gram shingles)
    val base = when(col("id") % 100 === 1, col("id") - 1)
      .when(col("id") % 100 === 2, col("id") - 2)
      .otherwise(col("id"))
    val words = (0 until 30).map(k =>
      concat(lit("w"), pmod(xxhash64(concat(col("base"), lit(s"_$k"))),
        lit(5000))))
    // materialized once: with text left as an EXPRESSION OF doc_id,
    // Catalyst's InferFiltersFromGenerate constraint (size(tokens) > 0,
    // inserted under every shingle posexplode) propagates across the
    // dedup equi-joins by substituting the whole 30-word generator onto
    // the pair ids — a single generated filter method that blows janino's
    // 64 KB limit and drops the stage to interpreted execution. A parquet
    // corpus (the production shape) cannot express text as f(id), so the
    // checkpoint both fixes the smoke and restores the plan under test.
    val docs = spark.range(nDocs)
      .withColumn("base", base)
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", words: _*),
          when(col("id") % 100 === 1, lit("tail variant")).otherwise(lit("")))
          .as("text"))
      .localCheckpoint()

    println(s"== nearDupDrops over $nDocs docs (~30 words each) ==")
    val dropped = time("nearDupDrops end-to-end")(
      Dedup.nearDupDrops(docs, "doc_id", "text").count())
    val exactPlanted = nDocs / 100   // i%100==2
    val nearPlanted = nDocs / 100    // i%100==1
    println(s"  dropped: $dropped (planted: $exactPlanted exact + " +
      s"$nearPlanted near; LSH recall at j=0.87 ≈ 0.97)")
    require(dropped >= exactPlanted + (nearPlanted * 9) / 10,
      s"dropped $dropped — LSH recall collapsed")
    require(dropped <= exactPlanted + nearPlanted,
      s"dropped $dropped — false positives")

    println(s"== minHashLsh candidates alone ==")
    val cands = time("minHashLsh")(
      Dedup.minHashLsh(docs, "doc_id", "text").count())
    println(s"  candidate pairs: $cands (corpus all-pairs: " +
      s"${nDocs * (nDocs - 1) / 2})")

    // planted structure: for i%100==0, {i, i+1 (near-dup), i+2 (exact)}
    // form one 3-doc cluster through i. The exact link (i, i+2) has
    // identical signatures so it always survives banding — the planted
    // floor is ~nDocs/100 clusters. Random false-positive candidate pairs
    // between unrelated docs ADD small clusters on top (measured: ~1% at
    // 200k), so the bound allows a modest surplus, and a propagation bug
    // (labels not converging) would blow past it.
    println(s"== connectedComponents over the candidate pairs ==")
    val labels = time("connectedComponents")(
      Dedup.connectedComponents(
        Dedup.minHashLsh(docs, "doc_id", "text")
          .select(col("doc_a"), col("doc_b"))).cache())
    val nClusters = labels.select(col("lbl")).distinct().count()
    val expected = nDocs / 100
    println(s"  clusters: $nClusters (planted: $expected of size 3)")
    require(nClusters >= (expected * 9) / 10 &&
      nClusters <= expected + expected / 10 + 10,
      s"cluster count $nClusters vs planted $expected — propagation broken")
    labels.unpersist()

    // EXACT Jaccard via prefix filtering at 200k docs: each planted group
    // {i, i+1 near, i+2 exact} yields exactly 3 pairs ≥ 0.8 ((i,i+1) and
    // (i+1,i+2) at ≈0.87, (i,i+2) at 1.0); random 30-word docs over a
    // 5000-word vocab cannot reach 0.8, so the count is exact — and the
    // naive inverted self-join this replaced would be quadratic in the
    // hot-shingle df here
    println(s"== exact ngramJaccard (prefix-filtered, t=0.8) ==")
    val pairs = time("ngramJaccard")(
      Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8).count())
    val expectedPairs = 3 * (nDocs / 100)
    println(s"  pairs: $pairs (planted: $expectedPairs)")
    require(pairs == expectedPairs,
      s"pair count $pairs vs planted $expectedPairs — prefix filter " +
        "lost recall or admitted false positives")

    // Asymmetric containment (q110 family) at 200k: every planted exact
    // pair {i, i+2} passes in BOTH directions at containment 1.0 (2
    // pairs per group); the near-dup directions sit at ≈0.93 each (28
    // of 30 words shared → ~26/28 grams of the probe side), adding 4
    // more per group. Random docs cannot reach 0.9, so the floor is
    // exact on the 2·groups identical pairs; the near-dup directions
    // are checked as a band (gram overlap depends on suffix position).
    println(s"== containment (prefix×full-index, t=0.9) ==")
    val contPairs = time("containment")(
      Dedup.containment(docs, "doc_id", "text", 3, 0.9)
        .localCheckpoint())
    val exactPairs = contPairs.filter(col("containment") >= 0.999).count()
    val allPairs = contPairs.count()
    val g = nDocs / 100
    println(s"  pairs: $allPairs total, $exactPairs at 1.0 " +
      s"(planted identical: ${2 * g})")
    require(exactPairs >= 2 * g,
      s"containment lost identical pairs: $exactPairs < ${2 * g}")
    require(allPairs <= 8 * g,
      s"containment admitted noise: $allPairs > ${8 * g}")

    // Incremental-ingest gate (q71 family) at 200k: "batch" = the planted
    // near-dup variants (i%100==1), "corpus" = everything else. Each batch
    // doc i has EXACTLY two corpus partners at >= 0.8: its base i-1
    // (jaccard ~0.87) and the base's exact copy i+1 (same text as i-1);
    // random 30-word docs over a 5000-word vocab cannot reach 0.8, so both
    // the pair count and the per-batch-doc recall are exact
    println(s"== jaccardAcross (incremental ingest, t=0.8) ==")
    val batch = docs.filter(col("doc_id") % 100 === 1)
    val corpus = docs.filter(col("doc_id") % 100 =!= 1)
    val across = time("jaccardAcross batch-vs-corpus")(
      Dedup.jaccardAcross(
        Dedup.shingleIndex(batch, "doc_id", "text"),
        Dedup.shingleIndex(corpus, "doc_id", "text"), 0.8)
        .localCheckpoint())
    val acrossPairs = across.count()
    val flagged = across.select(col("doc_a")).distinct().count()
    val expectedBatch = nDocs / 100
    println(s"  pairs: $acrossPairs (planted: ${2 * expectedBatch}); " +
      s"flagged batch docs: $flagged / $expectedBatch (recall " +
      f"${flagged.toDouble / expectedBatch}%.3f)")
    require(acrossPairs == 2 * expectedBatch,
      s"cross-set pairs $acrossPairs vs planted ${2 * expectedBatch} — " +
        "prefix filter lost recall across sets or admitted false positives")
    require(flagged == expectedBatch,
      s"flagged $flagged of $expectedBatch planted ingest dups — recall " +
        "must be 1.0")

    // chunk-level: exact copies and near-dups each repeat their base's
    // three 10-token chunks; the shared "tail variant" chunk adds more
    println(s"== chunkDuplicates (10-token spans) ==")
    val dupChunks = time("chunkDuplicates")(
      Dedup.chunkDuplicates(docs, "doc_id", "text")
        .filter(col("is_dup")).count())
    val minExpected = 6 * (nDocs / 100)
    println(s"  duplicated chunks: $dupChunks (≥ $minExpected planted)")
    require(dupChunks >= minExpected,
      s"dup chunks $dupChunks below planted floor $minExpected")

    // Bloom-gated decontamination: bench = every 1000th doc (all of them
    // %100==0 base docs), so exactly its two planted copies (i+1 near,
    // i+2 exact) share ≥ 20 of its 4-grams; unrelated 30-word docs over a
    // 5000-word vocab cannot share 4 consecutive words, so the hit count
    // is exact — recall 1 through the bloom (no false negatives by
    // construction), false positives dead at the verify join
    println(s"== decontaminationHits (bloom-gated, 4-grams) ==")
    val hits = time("decontaminationHits")(
      Dedup.decontaminationHits(
        docs.filter(col("doc_id") % 1000 =!= 0),
        docs.filter(col("doc_id") % 1000 === 0),
        "doc_id", "text", n = 4)
        .filter(col("n_shared") >= 10).count())
    val expectedHits = 2 * (nDocs / 1000)
    println(s"  contaminated docs: $hits (planted: $expectedHits)")
    require(hits == expectedHits,
      s"hits $hits vs planted $expectedHits — bloom lost recall or " +
        "verify admitted false positives")

    // Duplicated-span extraction (q82 family) at 200k docs. Planted
    // ground truth is EXACT: each group {i base, i+1 near, i+2 exact}
    // shares precisely its base's 26 5-gram positions (the near-dup's
    // two tail shingles are base-unique), so every group member reports
    // one whole-base run — 26 shingles = a 30-token span — and no other
    // doc appears (disjoint hash vocabularies across bases).
    println(s"== dupSpans (duplicated-span extraction, 5-grams) ==")
    val spans = time("dupSpans")(
      Dedup.dupSpans(docs, "doc_id", "text").localCheckpoint())
    val nSpanDocs = spans.count()
    val wholeBase = spans.filter(col("n_runs") === 1 &&
      col("longest_tokens") === 30 && col("dup_ngrams") === 26).count()
    val expectSpanDocs = 3 * (nDocs / 100)
    println(s"  span docs: $nSpanDocs (planted: $expectSpanDocs), " +
      s"whole-base runs: $wholeBase")
    require(nSpanDocs == expectSpanDocs,
      s"span docs $nSpanDocs vs planted $expectSpanDocs — shared-shingle " +
        "set lost recall or admitted false positives")
    require(wholeBase == nSpanDocs,
      s"only $wholeBase of $nSpanDocs docs report the exact whole-base " +
        "run — islands collapse broken")

    // Bigram-LM scoring (q86 family) at 200k docs: LM estimated from the
    // even-id half, EVERY doc scored through the occ→bg→uni×2→totals join
    // pipeline. Docs are same-process word streams, so the ground truth
    // is structural: every doc gets exactly one finite score (backoff
    // keeps every per-position score > 0, so a NaN/-Inf or a lost doc
    // means the join shape broke at 40× bench scale).
    println(s"== stupid-backoff bigram LM over $nDocs docs ==")
    val tk2 = docs.select(col("doc_id"),
      (col("doc_id") % 2 === 0).as("is_ref"),
      graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val occ = tk2
      .select(col("doc_id"), col("is_ref"), col("toks"),
        posexplode(col("toks")))
      .filter(col("pos") < size(col("toks")) - 1)
      .select(col("doc_id"), col("is_ref"), xxhash64(col("col")).as("ha"),
        xxhash64(get(col("toks"), col("pos") + 1)).as("hb"))
    val bgLm = occ.filter(col("is_ref")).groupBy(col("ha"), col("hb"))
      .agg(count(lit(1)).cast("double").as("n_ab"))
    val uniLm = tk2.filter(col("is_ref"))
      .select(explode(col("toks")).as("w"))
      .select(xxhash64(col("w")).as("hw"))
      .groupBy(col("hw")).agg(count(lit(1)).cast("double").as("n_w"))
      .localCheckpoint()
    val totLm = uniLm.agg(sum(col("n_w")).as("n"),
      count(lit(1)).cast("double").as("v"))
    val scored = time("bigram LM score (occ→bg→uni→totals)")(
      occ.join(bgLm, Seq("ha", "hb"), "left")
        .join(uniLm.select(col("hw").as("ha"), col("n_w").as("n_a")),
          Seq("ha"), "left")
        .join(uniLm.select(col("hw").as("hb"), col("n_w").as("n_b")),
          Seq("hb"), "left")
        .crossJoin(broadcast(totLm))
        .withColumn("sc",
          when(col("n_ab").isNotNull, col("n_ab") / col("n_a"))
            .otherwise(lit(0.4) * (coalesce(col("n_b"), lit(0.0)) + 0.5) /
              (col("n") + lit(0.5) * col("v"))))
        .groupBy(col("doc_id")).agg(avg(log(col("sc"))).as("lp"))
        .localCheckpoint())
    val nScored = scored.count()
    val badScores = scored.filter(col("lp").isNull || isnan(col("lp")) ||
      col("lp") < Double.MinValue).count()
    println(s"  scored: $nScored docs (corpus: $nDocs), non-finite: " +
      s"$badScores")
    require(nScored == nDocs,
      s"scored $nScored of $nDocs docs — LM join pipeline lost documents")
    require(badScores == 0,
      s"$badScores non-finite scores — backoff floor broken")

    // PQ serve at scale: synthetic 64-d corpus with planted twin vectors
    // (id and id+n/2 share a base), queries = 5 corpus vectors — after
    // the ADC scan + rerank the twin MUST rank 1 at cosine 1.0
    println(s"== pqTopK over $nDocs synthetic 64-d embeddings ==")
    val half = nDocs / 2
    // materialized once: pqTopK's consumers (count+sample, encode,
    // rerank fetch) would otherwise re-run the 64-hash generator + HOF
    // lambdas per pass — at 100 TB the corpus is a parquet read, so the
    // serve-path timing should not charge for synthetic regeneration
    val vecs = time("materialize synthetic corpus")(
      spark.range(nDocs)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), k =>
            (pmod(xxhash64(pmod(col("id"), lit(half)), k), lit(2001))
              .cast("double") - 1000.0) / 1000.0).as("embedding"))
        .localCheckpoint())
    val top = time("pqTopK (train+encode+serve)")(
      graft.operators.Similarity.pqTopK(vecs,
        vecs.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
        .filter(col("rank") === 1).collect())
    top.foreach { r =>
      val (q, n, c) = (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))
      require(n == q + half && c == 1.0,
        s"query $q: top-1 $n at $c — planted twin ${q + half} not found")
    }
    println(s"  all 5 planted twins surfaced at rank 1, cos 1.0")

    // SQ8 — the training-free tier — over the same corpus: no codebook
    // training, so the whole cost is one encode projection + the
    // int-weighted affine scan + rerank
    val topSq = time("sq8TopK (encode+serve)")(
      graft.operators.Similarity.sq8TopK(vecs,
        vecs.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
        .filter(col("rank") === 1).collect())
    topSq.foreach { r =>
      val (q, n, c) = (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))
      require(n == q + half && c == 1.0,
        s"sq8 query $q: top-1 $n at $c — planted twin not found")
    }
    println(s"  all 5 planted twins surfaced at rank 1, cos 1.0 (sq8)")

    // IVF / IVF+PQ serve at scale: the bench-scale recall@3 number (0.97
    // on sf embeddings) gets its 40×-scale counterpart here. Ground truth
    // is the exact brute-force top-3 on 20 queries. Planted twins are
    // EXACT copies of their query vector, so they share its argmax cell
    // by construction — a probed search may only lose the two "random"
    // neighbors to unprobed cells, never the twin; twin loss or a recall
    // collapse below the floor fails the smoke.
    println(s"== IVF / IVF+PQ recall vs brute force at $nDocs vectors ==")
    val nQ = 20
    val qs = vecs.filter(col("vec_id") < nQ).localCheckpoint()
    val truth = time("bruteForceTopK (ground truth)")(
      graft.operators.Similarity.bruteForceTopK(vecs, qs, "vec_id",
        "embedding", k = 3).collect())
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    def recallOf(rows: Array[org.apache.spark.sql.Row], label: String)
        : Double = {
      val got = rows.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) =>
          q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      truth.foreach { case (q, _) =>
        require(got.getOrElse(q, Set.empty).contains(q + half),
          s"$label: query $q lost its exact twin ${q + half} — cell " +
            "assignment or probe routing broken") }
      val r = truth.map { case (q, t) =>
        (t & got.getOrElse(q, Set.empty[Long])).size.toDouble / t.size }
        .sum / truth.size
      println(f"  $label recall@3 = $r%.3f over $nQ queries")
      r
    }
    val ivfRecall = recallOf(time("ivfTopK (build+serve)")(
      graft.operators.Similarity.ivfTopK(vecs, qs, "vec_id", "embedding",
        k = 3).collect()), "IVF")
    val ivfPqRecall = recallOf(time("ivfPqTopK (build+serve)")(
      graft.operators.Similarity.ivfPqTopK(vecs, qs, "vec_id",
        "embedding", k = 3).collect()), "IVF+PQ")
    // Floor calibration: these vectors are RANDOM (except the twins), so
    // a non-twin true neighbor lands in a probed cell at roughly
    // nProbe/nCells = 1/4 plus whatever query-cell correlation the
    // k-means geometry buys — expected recall ≈ (1 + 2p)/3 ≈ 0.5-0.65
    // (measured 0.600 at 200k). Real embedding corpora cluster, which is
    // what lifts the bench-scale number to 0.97. The floor catches
    // collapse (routing/assignment bugs → twin loss already fails hard
    // above; probe loss → recall ≈ 1/3), not the random-data ceiling.
    require(ivfRecall >= 0.5 && ivfPqRecall >= 0.5,
      f"recall collapsed at scale: IVF $ivfRecall%.3f / " +
        f"IVF+PQ $ivfPqRecall%.3f (floor 0.5)")

    // Mutual-kNN clustering through the IVF candidate contract (q117's
    // corpus-scale path) at 50k vectors: brute-force candidates would be
    // n² = 2.5e9 scored pairs; IVF candidates bound the work by the cell
    // geometry (Σ|cell|² ≈ 2e7 with 128 cells). Planted exact twins
    // (i, i+25000) are mutual rank-1 by construction and MUST co-cluster
    // — losing one means candidate routing or the mutual filter broke.
    println(s"== mutualKnnClusters via IVF candidates at 50k vectors ==")
    val mkN = 50000; val mkHalf = mkN / 2
    val mkVecs = time("materialize 50k twin corpus")(
      spark.range(mkN).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), k =>
          (pmod(xxhash64(pmod(col("id"), lit(mkHalf)), k), lit(2001))
            .cast("double") - 1000.0) / 1000.0).as("embedding"))
        .localCheckpoint())
    val mkIdx = time("buildIvfIndex (128 cells)")(
      graft.operators.Similarity.buildIvfIndex(mkVecs, "vec_id",
        "embedding", nCentroids = 128))
    val mkCands = graft.operators.Similarity.ivfTopKFromIndex(mkIdx,
      mkVecs, "vec_id", "embedding", k = 3, nProbe = 2)
    val mkLabels = time("mutualKnnClustersFromCandidates")(
      graft.operators.Similarity.mutualKnnClustersFromCandidates(
        mkVecs, "vec_id", mkCands)
        .filter(col("vec_id") < 50 ||
          (col("vec_id") >= mkHalf && col("vec_id") < mkHalf + 50))
        .collect())
      .map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    (0 until 50).foreach { i =>
      require(mkLabels(i.toLong) == mkLabels((i + mkHalf).toLong),
        s"twin pair ($i, ${i + mkHalf}) split across clusters")
    }
    println("  all 50 sampled twin pairs co-cluster through IVF candidates")

    // The native hashed-embedding kernel at 200k docs (~30 words each):
    // the r8 HOF fold cost O(tokens×64) per row (14 s on 10k sf0.1 docs
    // — would be minutes here); the kernel is one O(tokens+64) pass.
    println(s"== hashedEmbedding (native kernel) over $nDocs docs ==")
    val embCnt = time("embed + count nonzero dims")(
      docs.select(graft.functions.TextFunctions
          .hashedEmbedding(col("text"), 64).as("v"))
        .select(expr("aggregate(v, 0, (a, x) -> a + " +
          "CASE WHEN x <> 0.0 THEN 1 ELSE 0 END)").as("nnz"))
        .agg(sum(col("nnz"))).head().getLong(0))
    require(embCnt > 0, "hashed embeddings came back all-zero")
    println(s"  total nonzero dims: $embCnt")

    // Distributed Lloyd refinement (t25 family) at 200k vectors: each
    // iteration = one map-only literal-argmax scan + one Summarizer
    // partial agg. The Lloyd objective (mean own-centroid similarity)
    // must not regress — on random vectors the sampled seed is already
    // near-stationary, so the check is monotonicity, not improvement.
    println(s"== refineCentroids (distributed Lloyd) at $nDocs vectors ==")
    val seed = time("trainCentroids (sampled seed)")(
      graft.operators.Similarity.trainCentroids(vecs, "vec_id",
        "embedding", 16))
    def lloydObj(cs: org.apache.spark.sql.DataFrame): Double =
      graft.operators.Similarity.assignWithSim(vecs, cs, "vec_id",
          "embedding")
        .agg(org.apache.spark.sql.functions.avg("cent_sim"))
        .head().getDouble(0)
    val objSeed = lloydObj(seed)
    val refined = time("refineCentroids (2 full-corpus iterations)")(
      graft.operators.Similarity.refineCentroids(vecs, seed,
        "embedding", iters = 2))
    val objRef = lloydObj(refined)
    println(f"  objective: seed $objSeed%.4f -> refined $objRef%.4f")
    require(objRef >= objSeed - 1e-9,
      f"Lloyd objective regressed: $objSeed%.6f -> $objRef%.6f")

    // Shard layout at 200k docs: the training-set writer's assignment.
    // Uniform hashing must balance 64 shards to a few percent (binomial
    // σ ≈ √(n·p) ≈ 56 at 3125/shard → ±5σ band), and the per-shard
    // position windows must stay per-shard (max pos == shard size).
    println(s"== shardAssign (64 shards) at $nDocs docs ==")
    val shards = time("shardAssign + per-shard stats")(
      graft.operators.Curation.shardAssign(docs, "doc_id", 64)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("sz"), max(col("pos")).as("mx"))
        .collect())
    require(shards.length == 64, s"expected 64 shards, got ${shards.length}")
    val sizes = shards.map(_.getAs[Long]("sz"))
    val mean = nDocs.toDouble / 64
    println(f"  shard sizes: min ${sizes.min} / mean $mean%.0f / " +
      s"max ${sizes.max}")
    shards.foreach { r =>
      // pos is the long-safe running rank (Ranks.rowNumberL)
      require(r.getAs[Long]("mx") == r.getAs[Long]("sz"),
        "per-shard positions are not contiguous 1..size")
    }
    require(sizes.min > mean - 5 * math.sqrt(mean) &&
      sizes.max < mean + 5 * math.sqrt(mean),
      s"shard imbalance outside the 5-sigma band: ${sizes.min}..${sizes.max}")

    // Boilerplate strip (q92 family) at 200k docs. Planted ground truth
    // is exact: each %100 group {base, near, exact} shares the base's
    // three 10-token segments (df=3 each), AND every near-dup's 4th
    // segment is the same literal "tail variant" — a 2000-doc
    // boilerplate string, which is precisely what this op exists to
    // catch. At minDf=2 all three group docs are fully emptied (10
    // segment occurrences per group: 3+3+4); non-group docs' segments
    // are df=1 and untouched.
    println(s"== removeBoilerplate (10-token segments, df>=2) ==")
    val cleaned = time("removeBoilerplate")(
      Dedup.removeBoilerplate(docs, "doc_id", "text")
        .localCheckpoint())
    val groups = nDocs / 100
    val touched = cleaned.filter(col("n_removed") > 0).count()
    val removed = cleaned.agg(sum(col("n_removed"))).head().getLong(0)
    val emptied = cleaned.filter(col("clean_chars") === 0).count()
    println(s"  touched docs: $touched (planted: ${3 * groups}), " +
      s"segments removed: $removed (planted: ${10 * groups}), " +
      s"emptied: $emptied (planted: ${3 * groups})")
    require(touched == 3 * groups && removed == 10 * groups &&
      emptied == 3 * groups,
      "boilerplate strip diverged from planted ground truth")

    // CMS heavy hitters (t21 family) at 200k docs / 6M tokens: 32
    // slice-sketches merge by counter addition, and the merged estimate
    // must hold the one-sided bound for the exact top-20 tokens.
    println(s"== count-min heavy hitters over ${30 * nDocs} tokens ==")
    val tokStream = docs.select(
      (col("doc_id") % 32).as("slice"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
    val cmsBound = time("per-slice CMS build + merge + top-20 probe") {
      val sks = tokStream.groupBy(col("slice"))
        .agg(expr("count_min_sketch(w, 0.0001d, 0.99d, 42)").as("sk"))
        .select(col("sk")).collect()
      val merged = sks.map(r =>
          org.apache.spark.util.sketch.CountMinSketch.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("sk"))))
        .reduce { (a, b) => a.mergeInPlace(b); a }
      val topTok = tokStream.groupBy(col("w"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(20).collect()
      val slack = (0.0001 * merged.totalCount()).toLong + 1
      topTok.forall { r =>
        val est = merged.estimateCount(r.getString(0))
        est >= r.getLong(1) && est <= r.getLong(1) + slack
      }
    }
    require(cmsBound, "CMS bound violated for a top-20 token at scale")
    println("  one-sided error bound held for all top-20 tokens")

    // BPE at scale (t22 family): train 10 merges on the full corpus'
    // word-frequency table, then encode EVERY word occurrence with the
    // trained table (10 nested HOF folds per word, codegen'd). Checks:
    // no word is lost, every encoding is non-empty, and the learned
    // merges actually compress (mean pieces strictly below mean chars).
    println(s"== BPE train(10) + corpus-wide encode ==")
    val mergeTable = time("BpeTrainer.train (10 merges)")(
      graft.functions.BpeTrainer.train(docs, "text", 10)
        .orderBy("rank").collect()
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
        .toSeq)
    require(mergeTable.length == 10, s"trained ${mergeTable.length}/10")
    val wordStream = docs.select(
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
    val encStats = time("encode all word occurrences") {
      wordStream.select(col("w"),
          graft.functions.BpeTrainer.encodeWord(col("w"), mergeTable)
            .as("pieces"))
        .agg(count(lit(1)).as("n"),
          sum(when(size(col("pieces")) === 0, 1).otherwise(0)).as("empty"),
          avg(size(col("pieces"))).as("mean_pieces"),
          avg(length(col("w")) + 1).as("mean_syms")) // +1: the </w> mark
        .head()
    }
    val nWords = wordStream.count()
    println(s"  words: ${encStats.getAs[Long]("n")} (corpus: $nWords), " +
      f"mean pieces ${encStats.getAs[Double]("mean_pieces")}%.2f vs " +
      f"unmerged symbols ${encStats.getAs[Double]("mean_syms")}%.2f")
    require(encStats.getAs[Long]("n") == nWords &&
      encStats.getAs[Long]("empty") == 0L &&
      encStats.getAs[Double]("mean_pieces") <
        encStats.getAs[Double]("mean_syms"),
      "BPE corpus encode lost words or failed to compress")

    // the ledger's production life: the corpus drains in as daily
    // batches, each append fragments the digest store a little more
    // (up to shuffle-partitions files per batch), and the anti-join's
    // build side pays the open/footer overhead on EVERY admit — until a
    // compaction rewrites the layout. Measures that read amplification
    // directly: the same all-duplicate probe admit against the
    // fragmented vs the compacted ledger.
    println(s"== ledgerAdmit ingest + compaction over $nDocs docs ==")
    val ledgerRoot = java.nio.file.Files
      .createTempDirectory("graft_ledger_scale").toString
    val ledger = s"$ledgerRoot/ledger"
    try {
      val batchSz = nDocs / 20
      time(s"20 ledgerAdmit batches of $batchSz") {
        (0 until 20).foreach { b =>
          graft.operators.Dedup.ledgerAdmit(spark, ledger,
            docs.filter(col("doc_id") >= b * batchSz &&
              col("doc_id") < (b + 1) * batchSz),
            "doc_id", "text")
        }
      }
      // the digest store is db-bucketed (r16): walk the bucket dirs
      def ledgerFiles(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.startsWith("part-")) 1 else 0
        walk(new java.io.File(graft.util.Gen.resolve(spark, ledger)))
      }
      val fragged = ledgerFiles()
      println(s"  ledger files after 20 batches: $fragged")
      val probe = docs.filter(col("doc_id") < batchSz)
      val re1 = time("re-admit probe vs FRAGMENTED ledger")(
        graft.operators.Dedup.ledgerAdmit(spark, ledger, probe,
          "doc_id", "text").count())
      val nDigests = time("compactDedupLedger")(
        graft.operators.Dedup.compactDedupLedger(spark, ledger))
      val compacted = ledgerFiles()
      println(s"  ledger files after compaction: $compacted " +
        s"(digests: $nDigests)")
      val re2 = time("re-admit probe vs COMPACTED ledger")(
        graft.operators.Dedup.ledgerAdmit(spark, ledger, probe,
          "doc_id", "text").count())
      require(re1 == 0L && re2 == 0L &&
        fragged > compacted && compacted <= 32,
        s"ledger lifecycle broke: re1=$re1 re2=$re2 " +
          s"files $fragged -> $compacted")
      // the STREAMED trickle path (r17): the same drain through the
      // epoch-keyed foreachBatch protocol — per-epoch cost is the
      // admit plus one small decision write, and a forced re-delivery
      // of an early epoch against the moved ledger re-emits its sealed
      // decisions without rescanning history
      val sLedger = s"$ledgerRoot/stream_ledger"
      val epochs = s"$ledgerRoot/epochs"
      val admits = time(s"5 streamed ledgerAdmitStreamBatch epochs of " +
          s"$batchSz") {
        (0 until 5).map { e =>
          graft.operators.Dedup.ledgerAdmitStreamBatch(spark, sLedger,
            epochs, docs.filter(col("doc_id") >= e * batchSz &&
              col("doc_id") < (e + 1) * batchSz),
            "doc_id", "text", e.toLong).count()
        }.sum
      }
      val replayed = time("forced re-delivery of epoch 0 (sealed " +
          "decisions re-emitted)") {
        graft.operators.Dedup.ledgerAdmitStreamBatch(spark, sLedger,
          epochs, docs.filter(col("doc_id") < batchSz),
          "doc_id", "text", 0L).count()
      }
      val epoch0 = spark.read.parquet(
        f"$epochs/epoch-${0L}%012d/admitted").count()
      require(replayed == epoch0 && admits > 0L,
        s"streamed epoch replay broke: $replayed vs $epoch0")

      // EPOCH-COUNT scale proof (r18): a year of 5-minute epochs is
      // ~1e5 epoch dirs. The read-back must stay ONE scan node at any
      // epoch count (a per-epoch union fold's plan depth would grow
      // with stream age), its wall must track file count / job
      // overhead rather than plan depth (flat-ish 40 → 120 epochs),
      // and retention must stay one driver listing. 120 trickle
      // epochs here — 40-60× the bench entries' epoch counts.
      println(s"== streamed-admit epoch-count scale (120 epochs) ==")
      val sLedger2 = s"$ledgerRoot/stream_ledger_many"
      val epochs2 = s"$ledgerRoot/epochs_many"
      val eSz = 100L
      def admitRange(from: Int, until: Int): Unit =
        (from until until).foreach { e =>
          graft.operators.Dedup.ledgerAdmitStreamBatch(spark, sLedger2,
            epochs2, docs.filter(col("doc_id") >= e * eSz &&
              col("doc_id") < (e + 1) * eSz),
            "doc_id", "text", e.toLong)
        }
      def timed[T](label: String)(f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f
        val w = (System.nanoTime() - t0) / 1e9
        println(f"  $label: $w%.2f s"); (r, w)
      }
      time("epochs 0-39 (trickle admits)")(admitRange(0, 40))
      val (rb40, w40) = timed("readAdmittedEpochs at 40 epochs")(
        graft.operators.Dedup.readAdmittedEpochs(spark, epochs2)
          .count())
      time("epochs 40-119 (trickle admits)")(admitRange(40, 120))
      val rb = graft.operators.Dedup.readAdmittedEpochs(spark, epochs2)
      val scanLeaves = rb.queryExecution.executedPlan.collectLeaves()
        .count(_.nodeName.toLowerCase.contains("scan"))
      val (rb120, w120) = timed("readAdmittedEpochs at 120 epochs")(
        rb.count())
      // each 100-doc slice holds exactly one planted exact dup
      require(rb40 == 40 * 99 && rb120 == 120 * 99,
        s"epoch read-back rows broke: $rb40 / $rb120")
      require(scanLeaves == 1,
        s"read-back plan at 120 epochs holds $scanLeaves scan leaves " +
          "— must be ONE flat multi-path scan")
      require(w120 < math.max(3 * w40, w40 + 2.0),
        f"read-back wall grew with epoch count: $w40%.2f s at 40 → " +
          f"$w120%.2f s at 120 epochs")
      // retention at 120 epochs: the ack-gated sweep is one driver
      // listing — a lagging consumer at epoch 115 caps the reclaim
      graft.operators.Dedup.ackAdmitEpochs(spark, epochs2, 115L)
      val (swept, wSweep) = timed(
        "ack-gated sweepAdmitEpochs keepLast=1 over 120 epochs")(
        graft.operators.Dedup.sweepAdmitEpochs(spark, epochs2,
          keepLast = 1))
      require(swept == 116 && wSweep < 5.0,
        s"gated sweep broke: swept $swept (want 116, epochs 0-115) " +
          f"in $wSweep%.2f s")
      val left = graft.operators.Dedup.readAdmittedEpochs(spark,
        epochs2).select(col("epoch")).distinct().count()
      require(left == 4, s"post-sweep epochs: $left (want 116-119)")
    } finally graft.util.Fs.deleteRecursively(ledgerRoot)

    // the NEAR-dup ledger's production life: same daily drain, but each
    // admit also signatures the batch, band-joins it against the
    // persisted signature store, and exact-verifies candidates — it
    // never re-shingles or re-signatures the corpus (compute ∝ batch;
    // the band join reads the signature store once per admit, pruned
    // to the batch's band buckets). The final batch's admit time
    // against the 90%-full history is the number to compare with the
    // one-shot nearDupDrops wall above (which re-pays the whole corpus
    // every day); the total admitted must equal the one-shot survivors
    // exactly (the spec-pinned parity, here at 200k scale).
    println(s"== nearDupLedgerAdmit ingest + compaction over $nDocs docs ==")
    val ndlRoot = java.nio.file.Files
      .createTempDirectory("graft_ndl_scale").toString
    val ndl = s"$ndlRoot/ledger"
    try {
      val ndlBatch = nDocs / 10
      var admitted = 0L
      time(s"9 nearDupLedgerAdmit batches of $ndlBatch") {
        (0 until 9).foreach { b =>
          admitted += Dedup.nearDupLedgerAdmit(spark, ndl,
            docs.filter(col("doc_id") >= b * ndlBatch &&
              col("doc_id") < (b + 1) * ndlBatch),
            "doc_id", "text").count()
        }
      }
      admitted += time(s"batch 10 admit vs ${nDocs - ndlBatch}-doc " +
        "history (scan ∝ batch's buckets)") {
        Dedup.nearDupLedgerAdmit(spark, ndl,
          docs.filter(col("doc_id") >= 9 * ndlBatch),
          "doc_id", "text").count()
      }
      // the layout claim, measured: an admit's candidate probe + verify
      // fetch read a small fraction of the stores' bytes (the batch's
      // touched band buckets + the candidates' db buckets — never the
      // mh signature columns, never the full hs column). A/B the same
      // decision fragment against the pre-band-store shape (band keys
      // derived on read from every historical row's signature columns;
      // hs fetched through an unpruned join), isolating store-scan I/O
      // by checkpointing the batch state before measuring.
      locally {
        def measured(f: => Long): (Long, Long) = {
          val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
          val tap = new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                e: org.apache.spark.scheduler.SparkListenerTaskEnd)
                : Unit =
              if (e.taskMetrics != null)
                bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
          }
          spark.sparkContext.addSparkListener(tap)
          val r = f
          Thread.sleep(2000) // listener bus drains asynchronously
          spark.sparkContext.removeSparkListener(tap)
          (r, bytes.get)
        }
        val sig = Dedup.minHashSignatures(
            docs.filter(col("doc_id") >= 9 * ndlBatch),
            "doc_id", "text")
          .withColumnRenamed("doc_id", "doc").localCheckpoint()
        val keys = Dedup.ndlWithKb(Dedup.ndlBandKeys(sig, 4, 4)
          .withColumnRenamed("doc", "doc_b")).localCheckpoint()
        val primary = spark.read.parquet(
          graft.util.Gen.resolve(spark, ndl))
        val (prunedPairs, prunedBytes) = measured {
          val cands = spark.read.parquet(graft.util.Gen.resolve(
              spark, Dedup.ndlBandsPath(ndl)))
            .join(broadcast(keys), Seq("band", "kb", "kh"))
            .select(col("doc").as("doc_a"), col("doc_b")).distinct()
          primary.select(col("db"), col("doc").as("doc_a"), col("hs"))
            .join(broadcast(cands.withColumn("db",
              Dedup.ndlDb(col("doc_a")))), Seq("db", "doc_a"))
            .count()
        }
        val (fullPairs, fullBytes) = measured {
          val cands = Dedup.ndlWithKb(
              Dedup.ndlBandKeys(primary, 4, 4)
                .withColumnRenamed("doc", "doc_a"))
            .join(broadcast(keys), Seq("band", "kb", "kh"))
            .select(col("doc_a"), col("doc_b")).distinct()
          primary.select(col("doc").as("doc_a"), col("hs"))
            .join(broadcast(cands), Seq("doc_a"))
            .count()
        }
        println(f"  probe+verify store I/O: band-store layout " +
          f"$prunedBytes%,d bytes vs derive-on-read $fullBytes%,d " +
          f"(${fullBytes.toDouble / prunedBytes}%.1fx) — " +
          f"$prunedPairs pairs ≡ $fullPairs")
        require(prunedPairs == fullPairs && prunedBytes < fullBytes,
          s"band-store probe broke: $prunedPairs vs $fullPairs pairs, " +
            s"$prunedBytes vs $fullBytes bytes")
        // a 20k-doc batch touches every bucket, so the win above is
        // column narrowing alone; partition pruning is the TRICKLE
        // admit's lever (a takedown check, a small feed) — a 5-doc
        // probe touches ~20 of 32 kb buckets and a handful of db
        // buckets, so its store I/O must be a small fraction of the
        // full-scan path's
        val sig5 = Dedup.minHashSignatures(
            docs.filter(col("doc_id") >= 9 * ndlBatch &&
              col("doc_id") < 9 * ndlBatch + 5), "doc_id", "text")
          .withColumnRenamed("doc_id", "doc").localCheckpoint()
        val keys5 = Dedup.ndlWithKb(Dedup.ndlBandKeys(sig5, 4, 4)
          .withColumnRenamed("doc", "doc_b")).localCheckpoint()
        val khs5 = keys5.select(col("kh")).distinct()
          .collect().map(_.getLong(0)).sorted
        val (_, trickleBytes) = measured {
          // mirrors the admit's trickle path: literal In(kh, …) fold on
          // the scan (row-group pruning inside each bucket) + the
          // equi-join (doc pairing) + broadcast-DPP (bucket pruning)
          val cands = spark.read.parquet(graft.util.Gen.resolve(
              spark, Dedup.ndlBandsPath(ndl)))
            .filter(col("kh").isInCollection(khs5))
            .join(broadcast(keys5), Seq("band", "kb", "kh"))
            .select(col("doc").as("doc_a"), col("doc_b")).distinct()
          primary.select(col("db"), col("doc").as("doc_a"), col("hs"))
            .join(broadcast(cands.withColumn("db",
              Dedup.ndlDb(col("doc_a")))), Seq("db", "doc_a"))
            .count()
        }
        println(f"  trickle (5-doc) probe+verify store I/O: " +
          f"$trickleBytes%,d bytes = " +
          f"${trickleBytes.toDouble / fullBytes}%.2fx of the " +
          "full-scan path (partition pruning ∝ touched buckets)")
        require(trickleBytes * 2 < fullBytes,
          s"trickle probe read $trickleBytes of $fullBytes — bucket " +
            "pruning is not engaging")
      }
      println(s"  admitted: $admitted " +
        s"(one-shot survivors: ${nDocs - dropped})")
      def ndlFiles(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.startsWith("part-")) 1 else 0
        // walk the RESOLVED generation only — an old generation kept
        // for reader grace would otherwise double the census
        walk(new java.io.File(graft.util.Gen.resolve(spark, ndl)))
      }
      val ndlFragged = ndlFiles()
      val ndlRows = time("compactNearDupLedger")(
        Dedup.compactNearDupLedger(spark, ndl))
      println(s"  ledger files: $ndlFragged -> ${ndlFiles()} " +
        s"(signature rows: $ndlRows)")
      val ndlCompacted = ndlFiles()
      val reAdmit = time("re-admit probe (batch 1) vs compacted ledger")(
        Dedup.nearDupLedgerAdmit(spark, ndl,
          docs.filter(col("doc_id") < ndlBatch),
          "doc_id", "text").count())
      // the STREAMED near-dup path (r17) against the full 200k-row
      // history: one epoch through the foreachBatch protocol (same
      // decide cost as the batch admit + one small decision write),
      // then a forced re-delivery — the replay must re-emit the
      // sealed decisions in metadata time (no signatures, no band
      // probe, no verify)
      val ndlEpochs = s"$ndlRoot/epochs"
      val sAdmit = time("nearDupLedgerAdmitStreamBatch epoch 0 " +
          "(all-dup batch vs full history)") {
        Dedup.nearDupLedgerAdmitStreamBatch(spark, ndl, ndlEpochs,
          docs.filter(col("doc_id") < ndlBatch),
          "doc_id", "text", 0L).count()
      }
      val sReplay = time("forced re-delivery of that epoch (sealed " +
          "decisions re-emitted)") {
        Dedup.nearDupLedgerAdmitStreamBatch(spark, ndl, ndlEpochs,
          docs.filter(col("doc_id") < ndlBatch),
          "doc_id", "text", 0L).count()
      }
      require(sAdmit == 0L && sReplay == 0L,
        s"streamed ndl epoch broke: admit $sAdmit, replay $sReplay")
      // the takedown verb at scale: forget 1k docs from the 198k-row
      // ledger — identity scrubbed from both stores, signature rows
      // (and therefore future drop decisions) intact
      val forgot = time("nearDupLedgerForget (1k ids vs 198k-row ledger)")(
        Dedup.nearDupLedgerForget(spark, ndl,
          docs.filter(col("doc_id") % 200 === 3).select("doc_id"),
          "doc_id"))
      val postForget = spark.read.parquet(
        graft.util.Gen.resolve(spark, ndl))
      require(forgot >= 900 && postForget.count() == ndlRows &&
        postForget.filter(col("doc") % 200 === 3 && col("doc") >= 0)
          .isEmpty,
        s"forget broke: scrubbed $forgot, rows ${postForget.count()}")
      require(admitted == nDocs - dropped && reAdmit == 0L &&
        ndlFragged > ndlCompacted && ndlCompacted <= 32 &&
        ndlFiles() == ndlCompacted, // no-op admits must not fragment
        s"near-dup ledger lifecycle broke: admitted=$admitted vs " +
          s"${nDocs - dropped}, reAdmit=$reAdmit, " +
          s"files $ndlFragged -> $ndlCompacted -> ${ndlFiles()}")
      // the one-row paging surface: post-compaction the ledger must
      // read healthy (band store in sync, accretion bounded)
      val h = Dedup.nearDupLedgerHealthReport(spark, ndl).first()
      println(s"  health: rows=${h.getAs[Long]("primary_rows")} " +
        s"sentinels=${h.getAs[Long]("sentinel_rows")} " +
        s"band=${h.getAs[Long]("band_rows")}/" +
        s"${h.getAs[Long]("expected_band_rows")} " +
        s"maxFiles p=${h.getAs[Long]("primary_max_bucket_files")} " +
        s"b=${h.getAs[Long]("band_max_bucket_files")} " +
        s"compact=${h.getAs[Boolean]("compact_advised")} " +
        s"rebuildBands=${h.getAs[Boolean]("rebuild_bands_advised")}")
      require(!h.getAs[Boolean]("rebuild_bands_advised") &&
        h.getAs[Long]("sentinel_rows") == forgot,
        "ledger health report disagrees with the lifecycle state")
      // retention at scale: takedown-grade TTL over the oldest 10% of
      // the ingest axis (ids ARE arrival order by contract), then the
      // retention-grade purge of the same span — both fenced rewrites
      val ttlCut = ndlBatch // the first batch's id span (oldest 10%)
      val ttlScrubbed = time(
        s"nearDupLedgerExpire takedown (doc < $ttlCut vs 198k rows)")(
        Dedup.nearDupLedgerExpire(spark, ndl, beforeDoc = ttlCut))
      val ttlPurged = time(
        s"nearDupLedgerExpire retention (dropSignatures, same span)")(
        Dedup.nearDupLedgerExpire(spark, ndl, beforeDoc = ttlCut,
          dropSignatures = true, dropForgottenSignatures = true))
      val postTtl = spark.read.parquet(
        graft.util.Gen.resolve(spark, ndl))
      println(s"  ttl: scrubbed $ttlScrubbed, purged $ttlPurged, " +
        s"rows ${postTtl.count()}")
      require(ttlScrubbed > 0 && ttlPurged >= ttlScrubbed &&
        postTtl.filter(col("doc") >= 0L && col("doc") < ttlCut).isEmpty,
        s"ttl expiry broke: $ttlScrubbed scrubbed, $ttlPurged purged")
    } finally graft.util.Fs.deleteRecursively(ndlRoot)

    // NEAR-DUP epoch-count scale (r19): the exact ledger's 120-epoch
    // proof above, re-run through nearDupLedgerAdmitStreamBatch with
    // audit = true. The near-dup epoch dir carries 4 extra artifacts
    // per epoch (the two per-store append seals, the novel decision
    // set, the audit output), so the flatness claims need their own
    // datapoint: admitted AND audit read-backs must each stay ONE
    // scan leaf with flat wall 40 → 120 epochs, every sealed epoch
    // must carry both per-store seals, and the ack-gated sweep stays
    // one driver listing.
    println(s"== near-dup streamed-admit epoch-count scale " +
      "(120 audited epochs) ==")
    val ndeRoot = java.nio.file.Files
      .createTempDirectory("graft_nde_scale").toString
    try {
      val ndeLedger = s"$ndeRoot/ledger"
      val ndeEpochs = s"$ndeRoot/epochs"
      val eSz = 50L
      def admitRange(from: Int, until: Int): Unit =
        (from until until).foreach { e =>
          Dedup.nearDupLedgerAdmitStreamBatch(spark, ndeLedger,
            ndeEpochs, docs.filter(col("doc_id") >= e * eSz &&
              col("doc_id") < (e + 1) * eSz),
            "doc_id", "text", e.toLong, audit = true)
        }
      def timed[T](label: String)(f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f
        val w = (System.nanoTime() - t0) / 1e9
        println(f"  $label: $w%.2f s"); (r, w)
      }
      time("epochs 0-39 (near-dup trickle admits, audit on)")(
        admitRange(0, 40))
      val (rb40, w40) = timed("readAdmittedEpochs at 40 epochs")(
        Dedup.readAdmittedEpochs(spark, ndeEpochs).count())
      val (au40, a40) = timed("readAuditEpochs at 40 epochs")(
        Dedup.readAuditEpochs(spark, ndeEpochs).count())
      time("epochs 40-119 (near-dup trickle admits, audit on)")(
        admitRange(40, 120))
      val rb = Dedup.readAdmittedEpochs(spark, ndeEpochs)
      val rbLeaves = rb.queryExecution.executedPlan.collectLeaves()
        .count(_.nodeName.toLowerCase.contains("scan"))
      val (rb120, w120) = timed("readAdmittedEpochs at 120 epochs")(
        rb.count())
      val au = Dedup.readAuditEpochs(spark, ndeEpochs)
      val auLeaves = au.queryExecution.executedPlan.collectLeaves()
        .count(_.nodeName.toLowerCase.contains("scan"))
      val (au120, a120) = timed("readAuditEpochs at 120 epochs")(
        au.count())
      // planted ground truth per EVEN 50-doc slice (offsets 0-49 of a
      // %100 block): one exact in-batch copy (always dropped, one
      // exact_batch audit row) and one near-dup (dropped at LSH
      // recall ≈ 0.97, one near_batch audit row); odd slices are all
      // base docs. Counts are banded, not exact, by LSH recall.
      val evens = 60L
      require(rb120 >= 120 * eSz - 2 * evens &&
        rb120 <= 120 * eSz - evens - (evens * 8) / 10,
        s"near-dup epoch read-back rows broke: $rb120")
      require(au120 >= evens + (evens * 8) / 10 && au120 <= 2 * evens,
        s"audit read-back rows broke: $au120")
      require(rb40 > 0 && au40 > 0, s"40-epoch baseline empty")
      require(rbLeaves == 1 && auLeaves == 1,
        s"read-back plans at 120 epochs hold $rbLeaves/$auLeaves scan " +
          "leaves — each must be ONE flat multi-path scan")
      require(w120 < math.max(3 * w40, w40 + 2.0) &&
        a120 < math.max(3 * a40, a40 + 2.0),
        f"read-back wall grew with epoch count: admitted $w40%.2f → " +
          f"$w120%.2f s, audit $a40%.2f → $a120%.2f s")
      // per-store append seals: every sealed epoch carries BOTH (all
      // slices hold novel signatures, so both halves always write)
      val ndeFs = new org.apache.hadoop.fs.Path(ndeEpochs)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val missingSeals = (0 until 120).count { e =>
        val d = f"$ndeEpochs/epoch-$e%012d"
        !(ndeFs.exists(new org.apache.hadoop.fs.Path(s"$d/_appended")) &&
          ndeFs.exists(new org.apache.hadoop.fs.Path(
            s"$d/_bands_appended")) &&
          ndeFs.exists(new org.apache.hadoop.fs.Path(
            s"$d/_primary_appended")))
      }
      require(missingSeals == 0,
        s"$missingSeals epochs lack a per-store append seal")
      // ack-gated retention: one driver listing at 120 epochs
      Dedup.ackAdmitEpochs(spark, ndeEpochs, 115L)
      val (ndeSwept, wSweep2) = timed(
        "ack-gated sweepAdmitEpochs keepLast=1 over 120 epochs")(
        Dedup.sweepAdmitEpochs(spark, ndeEpochs, keepLast = 1))
      require(ndeSwept == 116 && wSweep2 < 5.0,
        s"near-dup gated sweep broke: swept $ndeSwept (want 116) " +
          f"in $wSweep2%.2f s")
      require(Dedup.readAdmittedEpochs(spark, ndeEpochs)
        .select(col("epoch")).distinct().count() == 4,
        "post-sweep epoch count broke")
    } finally graft.util.Fs.deleteRecursively(ndeRoot)
    spark.stop()
  }
}
