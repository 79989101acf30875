package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-curation operators for training-data pipelines: deterministic
  * sampling, split assignment, and token-budget packing.
  *
  * Everything is keyed on a salted content-independent hash of the document
  * id ([[TextFunctions.hash60]]) rather than `rand()`: at 100 TB a sample
  * must be (a) reproducible across reruns and engines, (b) stable under
  * repartitioning, and (c) consistent between pipeline stages that sample
  * independently (the same doc lands in the same split everywhere). Seeded
  * `rand()` gives none of these — it depends on partition layout.
  *
  * All three ops are narrow (no shuffle) except packing, whose one window
  * shuffle is inherent to its sequential-fill semantics.
  */
object Curation {

  /** Salted uniform hash bucket in [0, 10000): the sampling/splitting
    * primitive. Same value in DuckDB via
    * `CAST(('0x'||substr(md5(salt||CAST(id AS VARCHAR)),1,15)) AS BIGINT) % 10000`. */
  def hashBucket(id: Column, salt: String): Column =
    TextFunctions.hash60(concat(lit(salt), id.cast("string"))) % 10000

  /** Deterministic corpus sample: keep `pct` (basis points, 0-10000) of
    * rows. A filter — fully pushable, no shuffle, stable across reruns. */
  def hashSample(df: DataFrame, idCol: String, pctBp: Int,
      salt: String = "s1"): DataFrame =
    df.filter(hashBucket(col(idCol), salt) < pctBp)

  /** Weighted sampling WITHOUT replacement, k items, deterministic —
    * Efraimidis & Spirakis 2006 ("Weighted random sampling with a
    * reservoir"): each row draws u ∈ (0,1) and competes with key
    * u^(1/w); the global top-k by key is a bona-fide weighted sample.
    * The uniform comes from the salted 60-bit content hash, so the
    * sample is content-stable across reruns AND partition layouts (the
    * property `rand()` lacks) and the DuckDB oracle replays it exactly.
    *
    * Scale shape: key computation is narrow; the top-k plans
    * TakeOrderedAndProject (per-partition heap + driver merge of k rows
    * per partition), never a global sort — the same shape as q03. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
      k: Int, salt: String = "ws1"): DataFrame = {
    // (hash60 + 1) / (2^60 + 1) ∈ (0, 1): never 0 or 1, so ln/pow stay
    // finite for every weight
    val u = (TextFunctions.hash60(concat(col(idCol).cast("string"),
      lit(salt))).cast("double") + 1.0) / lit((1L << 60).toDouble + 1.0)
    df.withColumn("sample_key", pow(u, lit(1.0) / weightCol))
      .orderBy(col("sample_key").desc, col(idCol)).limit(k)
  }

  /** Per-source sampling rates (mixture weighting): each source keeps its
    * own fraction — the standard knob for re-weighting a source mix.
    * Unlisted sources are dropped (rate 0). */
  def sampleBySource(df: DataFrame, idCol: String, sourceCol: String,
      ratesBp: Map[String, Int], salt: String = "s1"): DataFrame = {
    val rate = ratesBp.foldLeft(lit(0)) { case (acc, (src, bp)) =>
      when(col(sourceCol) === src, lit(bp)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), salt) < rate)
  }

  /** Train/val/test assignment from disjoint hash ranges: adds a `split`
    * column. Basis points: [0,trainBp) → train, [trainBp,trainBp+valBp) →
    * val, rest → test. Content-independent, so near-duplicate leakage
    * between splits must be handled upstream (Dedup.*) — by design, the
    * split itself never moves a doc between reruns. */
  def assignSplit(df: DataFrame, idCol: String, trainBp: Int, valBp: Int,
      salt: String = "split1"): DataFrame = {
    val b = hashBucket(col(idCol), salt)
    df.withColumn("split",
      when(b < trainBp, "train")
        .when(b < trainBp + valBp, "val")
        .otherwise("test"))
  }

  /** Exact-k stratified sample: the first `k` rows per stratum in salted-
    * hash order. Rate-based sampling ([[sampleBySource]]) keeps a FRACTION
    * that wobbles with stratum size; this keeps exactly min(k, |stratum|)
    * — the shape used for eval-set carve-outs. One window shuffle on the
    * stratum key; hash order makes the pick reproducible and
    * content-independent (ties broken by id). Strata are bounded
    * (source/shard count), so the per-stratum sort is the intended
    * parallelism — not for unbounded stratum keys. */
  def stratifiedTakeK(df: DataFrame, idCol: String, strataCol: String,
      k: Int, salt: String = "strat1"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashBucket(col(idCol), salt), col(idCol))
    // cutRank + adjacent <= k filter: under the group-limit threshold
    // InferWindowGroupLimit prunes each group to k rows BEFORE the
    // window sort (plan-pinned by PlanPinsSpec) — the top-k fast path
    // AND the overflow guard; above it cutRank switches to the
    // long-safe rank (see Ranks scaladoc)
    df.withColumn("rn", Ranks.cutRank(df.sparkSession, w, k))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Deterministic balanced shard assignment — the training-set writer's
    * layout step: shard = salted content hash mod `nShards` (uniform, so
    * shards balance to ±O(√(n/S)) without measuring anything), position =
    * rank in salted-hash order WITHIN the shard. The hash order is the
    * deterministic global shuffle training wants (content-stable across
    * reruns and partition layouts — re-runs produce byte-identical
    * shards), and because position is per-shard, the only sort is a
    * within-shard window: S independent sorts of n/S rows each, never a
    * global order-by. At 100 TB write with
    * `df.repartition(col("shard")).sortWithinPartitions("pos")` — one
    * shuffle, one local sort, no driver involvement. */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int,
      salt: String = "shard1"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val hk = TextFunctions.hash60(concat(lit(salt),
      col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shard_hk"), col(idCol))
    df.withColumn("shard_hk", hk)
      .withColumn("shard", col("shard_hk") % nShards)
      // long-safe: a >2^31-row shard would wrap row_number and emit
      // colliding/negative positions into the persisted layout
      .withColumn("pos", Ranks.rowNumberL(w))
      .drop("shard_hk")
  }

  /** Materialize [[shardAssign]]'s layout as the physical training-set
    * store: one parquet directory per shard (`shard=N/`), rows sorted by
    * `pos` inside each shard file. Exactly the plan the scaladoc above
    * promises — one shuffle (repartition on the shard key), one local
    * sort, dynamic-partition write; no global sort, no driver data
    * path. A trainer reads `path/shard=K` alone and gets its shard in
    * deterministic hash order; re-running the writer reproduces the
    * bytes. */
  def writeShards(df: DataFrame, idCol: String, nShards: Int,
      path: String, salt: String = "shard1"): Unit =
    shardAssign(df, idCol, nShards, salt)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Sliding-window chunking with stride — the embedding/RAG ingestion
    * splitter: windows of `windowTokens` starting every `stride` tokens
    * (overlap = window − stride keeps context across cuts; the final
    * windows may be shorter). Map-only: chunks derive per row with
    * HOFs, one output row per (doc, chunk) via posexplode — no shuffle
    * at any corpus size; chunk count per doc = ⌊(n−1)/stride⌋ + 1. */
  def chunkWithStride(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, stride: Int): DataFrame = {
    require(windowTokens > 0 && stride > 0,
      s"window/stride must be positive, got $windowTokens/$stride")
    val toks = TextFunctions.tokens(col(textCol))
    df.select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0),
            floor((size(col("toks")) - 1).cast("double") / stride)
              .cast("int")),
          i => array_join(
            slice(col("toks"), i * stride + 1, lit(windowTokens)), " "))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        col("col").as("chunk"))
      .withColumn("n_tokens", size(TextFunctions.tokens(col("chunk")))
        .cast("long"))
  }

  /** Token-budget packing: assign each document to a sequence-batch bin of
    * ~`budget` tokens, filling bins in `idCol` order within each
    * `groupCol` partition (bin = floor(tokens-before-me / budget) — the
    * deterministic contiguous-fill approximation of greedy packing; a doc
    * straddling a boundary starts the next bin's count but stays in its
    * floor bin, so bins can overflow by < one doc, never underfill).
    *
    * One window shuffle on `groupCol`; the running sum is computed inside
    * the sorted partition. At 100 TB the group key (source / shard) keeps
    * individual partitions bounded; packing across an UNPARTITIONED corpus
    * is a sequential operation by definition and should be sharded first. */
  def packTokens(df: DataFrame, idCol: String, groupCol: String,
      textCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(groupCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) /
          lit(budget.toLong)))
  }

  /** Persisted, RESTARTABLE curation DAG — the production shape of the
    * composed pipeline (the in-session t19 twin in `Queries`): every
    * stage writes its survivor table to `path/<stage>/` as parquet
    * partitioned by source, and a rerun RESUMES from the last completed
    * stage (completion = the parquet committer's `_SUCCESS` marker)
    * instead of recomputing the prefix. Stage tables are the restart
    * unit a 100-TB DAG needs: a mid-pipeline failure costs one stage,
    * not the pipeline, and every downstream stage consumes the PERSISTED
    * bytes — so a first run and a resumed run execute identical
    * per-stage plans and produce identical tables (pinned by the
    * kill-after-stage-3 restart spec). A torn write (dir without
    * `_SUCCESS`) is overwritten, never trusted.
    *
    * Stages mirror t19: raw → Gopher quality gate → exact dedup
    * keep-first → near-dup LSH drop → decontamination vs the held-out
    * eval shard → train-split token packing. Returns the per-stage
    * per-source survivor report (t19's exact shape). */
  def runDag(d: DataFrame, path: String, minWords: Int = 20,
      holdoutMod: Int = 50, minShared: Int = 5, trainBp: Int = 8000,
      valBp: Int = 1000, budget: Int = 4096): DataFrame = {
    val spark = d.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    def stage(name: String)(build: => DataFrame): DataFrame = {
      val p = s"$path/$name"
      val marker = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      if (!marker.getFileSystem(hconf).exists(marker))
        build.write.mode("overwrite").partitionBy("source").parquet(p)
      graft.util.Gen.read(spark, p)
    }
    val raw = stage("0_raw")(
      d.select(col("doc_id"), col("source"), col("text")))
    val g = stage("1_quality") {
      raw.select(col("doc_id"), col("source"), col("text"),
          TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("gs", TextFunctions.gopherStruct(
          col("text"), col("toks"), minWords = minWords))
        .filter(col("gs.keep"))
        .select(col("doc_id"), col("source"), col("text"))
    }
    val ex = stage("2_exact") {
      // cutRank + adjacent === 1 cut: InferWindowGroupLimit prunes
      // each digest group to ONE row before the sort — the dup-flood
      // fast path, and the prune caps the rank input so the Int can
      // never wrap; with the rewrite DISABLED (threshold -1) cutRank
      // falls back to the long-safe rank instead of reopening the hole
      g.withColumn("rn", Ranks.cutRank(g.sparkSession,
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id")), 1))
        .filter(col("rn") === 1).drop("rn")
    }
    val nd = stage("3_neardup") {
      ex.join(
        Dedup.nearDupDrops(ex.select(col("doc_id"), col("text")),
          "doc_id", "text")
          .select(col("dropped").as("doc_id")),
        Seq("doc_id"), "left_anti")
    }
    val clean = stage("4_decontam") {
      val train0 = nd.filter(col("doc_id") % holdoutMod =!= 0)
      val hits = Dedup.decontaminationHits(
          train0.select(col("doc_id"), col("text")),
          raw.filter(col("doc_id") % holdoutMod === 0)
            .select(col("doc_id"), col("text")),
          "doc_id", "text")
        .filter(col("n_shared") >= minShared)
        .select(col("doc").as("doc_id"))
      train0.join(hits, Seq("doc_id"), "left_anti")
    }
    val packed = stage("5_train_bins") {
      packTokens(
        assignSplit(clean, "doc_id", trainBp, valBp)
          .filter(col("split") === "train"),
        "doc_id", "source", "text", budget)
    }
    def report(df: DataFrame, name: String): DataFrame = df
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("stage", lit(name))
    report(raw, "0_raw")
      .unionByName(report(g, "1_quality"))
      .unionByName(report(ex, "2_exact"))
      .unionByName(report(nd, "3_neardup"))
      .unionByName(report(clean, "4_decontam"))
      .unionByName(packed.groupBy(col("source"))
        .agg((max(col("bin")) + 1).as("n"))
        .withColumn("stage", lit("5_train_bins")))
      .select(col("stage"), col("source"), col("n"))
      .orderBy(col("stage"), col("source"))
  }

  /** Quantile bucketing via the distributed percentile sketch — the
    * 100-TB path q69's exact global `ntile` can't take (a single ordered
    * window over the corpus). Edges come from ONE `percentile_approx`
    * aggregate (mergeable sketch, map-side partial) and ride a broadcast
    * scalar row; each document then buckets array-locally by counting
    * edges below its value — no global sort, no window, one plan.
    * Boundary semantics: `value > edge` advances the bucket, so a value
    * equal to an edge lands in the lower bucket; with `accuracy` at
    * Spark's 10000 default the sketch is EXACT when a partition's
    * distinct-value count is below the accuracy (the test corpus is).
    *
    * Null/NaN placement (ADVICE r4): the `ntile`-equivalence this is
    * q69's scale path for is scoped to NON-NULL, NON-NaN values. A NULL
    * value fails every `> edge` comparison and lands in bucket 1 (ntile
    * would rank nulls FIRST into bucket 1 too, but the sketch also
    * ignores them when placing edges, so bucket 1 overfills); a NaN
    * passes every comparison and lands in the top bucket (matching
    * Spark's NaN-greatest sort order). Pre-filter if either matters. */
  /** Per-source token-budget selection at scale: admit documents in
    * (quality desc, id) order until the running token total would pass
    * `budget` — with the cumulative-sum window running over a
    * BUDGET-BOUNDED sliver, not the corpus.
    *
    * Two phases:
    *   1. Sketch pre-filter: per-source quality-quantile buckets
    *      ([[quantileBuckets]]'s percentile_approx machinery, grouped by
    *      source). Strict `>` bucketing puts equal qualities in one
    *      bucket, so bucket order REFINES the admission order — any
    *      bucket whose preceding cumulative mass already exceeds the
    *      budget can only contain docs whose inclusive running sum
    *      exceeds it too, and is dropped whole from per-bucket MASSES
    *      alone (a #sources×#buckets-row table). Sketch error moves
    *      bucket edges, never this conclusion, so the RESULT is
    *      edge-placement-independent (the spec pins equality with the
    *      naive full-corpus window).
    *   2. Exact finish: the surviving sliver per source carries at most
    *      budget-worth of tokens plus one boundary bucket, so the exact
    *      (quality desc, id) running-sum window has bounded state at any
    *      corpus size. Survivors are a PREFIX of the per-source
    *      admission order, so their running sums equal the full-corpus
    *      window's values exactly.
    *
    * Emits the admitted docs with their exact `cum_tokens`. */
  def budgetSelect(df: DataFrame, idCol: String, sourceCol: String,
      tokensCol: String, qualityCol: String, budget: Long,
      nBuckets: Int = 32, accuracy: Int = 10000): DataFrame = {
    val probs = array((1 until nBuckets)
      .map(i => lit(i.toDouble / nBuckets)): _*)
    val edges = df.groupBy(col(sourceCol))
      .agg(percentile_approx(col(qualityCol).cast("double"), probs,
        lit(accuracy)).as("edges"))
    val bucketed = df.join(broadcast(edges), Seq(sourceCol))
      .withColumn("bq", size(filter(col("edges"),
        e => col(qualityCol).cast("double") > e)))
      .drop("edges")
    val wCum = Window.partitionBy(col(sourceCol))
      .orderBy(col("bq").desc)
    val keepBuckets = bucketed
      .groupBy(col(sourceCol), col("bq"))
      .agg(sum(col(tokensCol)).as("mass"))
      .withColumn("cum_before",
        sum(col("mass")).over(wCum) - col("mass"))
      .filter(col("cum_before") <= budget)
      .select(col(sourceCol), col("bq"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col(qualityCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(keepBuckets, Seq(sourceCol, "bq"))
      .withColumn("cum_tokens", sum(col(tokensCol)).over(w))
      .filter(col("cum_tokens") <= budget)
      .drop("bq")
  }

  def quantileBuckets(df: DataFrame, valueCol: String, nBuckets: Int,
      accuracy: Int = 10000): DataFrame = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets needs >= 2")
    val probs = array((1 until nBuckets)
      .map(i => lit(i.toDouble / nBuckets)): _*)
    val edges = df.agg(percentile_approx(col(valueCol).cast("double"),
      probs, lit(accuracy)).as("edges"))
    df.crossJoin(broadcast(edges))
      .withColumn("bucket",
        (size(filter(col("edges"),
          e => col(valueCol).cast("double") > e)) + 1).cast("long"))
      .drop("edges")
  }
}
