package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.DotProduct
import graft.util.{Fs, Gen}

/** Similarity search over embedding columns (`Array[Float]`), SURVEY.md §2.6.
  *
  * Scale design: the query set is small and **broadcast**; the corpus streams
  * partition-parallel. Brute force is the exact baseline; [[lshTopK]] is the
  * 100-TB path — hyperplane sign buckets bound the per-query candidate set.
  *
  * Kernel design: vectors are L2-normalized **once** per row before any join
  * (norms at n cost, not n²), so pair similarity is a single dot product —
  * executed by the codegen'd [[graft.expressions.DotProduct]] expression
  * (zero allocation per pair; 6× over the HOF formulation on the sf0.1
  * near-dup benchmark). Summation order matches DuckDB's
  * `list_dot_product`, keeping the oracle comparison exact.
  */
object Similarity {

  /** Cosine similarity of two (unnormalized) double-array columns — the
    * composable form used where the n² kernel isn't needed. */
  def cosine(a: Column, b: Column): Column =
    dotCol(a, b) / (sqrt(dotCol(a, a)) * sqrt(dotCol(b, b)))

  /** Native dot product as a Column (Column ↔ Expression via the classic
    * SQL bridge). */
  def dotCol(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      DotProduct(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Cast a float vector to double and L2-normalize it (null-safe: zero
    * vectors normalize to zeros, not NaN/±Inf; a null ELEMENT reads as
    * 0.0; output type `array<double> containsNull=false` so every
    * downstream kernel — DotProduct, PqEncode/PqLut/PqAdc — keeps its
    * unchecked tight loop). One codegen'd pass via the native
    * [[graft.expressions.L2Normalize]] kernel: the former HOF
    * composition re-evaluated the norm subtree PER ELEMENT (lambda
    * bodies run interpreted and the division lambda embedded the whole
    * `sqrt(dot(dv, dv))` — ~645 µs/row on the sf0.1 embeddings, the
    * dominant cost of the whole similarity family; the kernel is
    * bit-identical and ~100× cheaper). */
  def l2Normalize(v: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expressions.L2Normalize(
        org.apache.spark.sql.GraftSqlBridge.expression(v)))

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. Broadcast-join (queries are tiny), then per-query
    * window top-k; ranking uses the rounded score + id tie-break so the
    * result is stable across engines and partitionings. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queryRows(queries, idCol, vecCol))
    cosineTopK(vectorRows(corpus, idCol, vecCol)
      .join(q, col("query_id") =!= col("neighbor_id")), k)
  }

  /** Hard-negative mining for embedding-model training (the
    * contrastive-learning data op — e.g. DPR, Karpukhin et al. 2020
    * §4.2): for each query, the top-k most-similar corpus vectors that
    * are NOT near-duplicates of it. High-cosine neighbors above
    * `dupCos` are positives/duplicates in disguise (false negatives
    * that poison the contrastive loss), so they are excluded and the
    * ranking re-packed.
    *
    * Composition, not new machinery: candidate generation here is
    * [[bruteForceTopK]] with a `margin` head-room; at corpus scale call
    * [[hardNegativesFromCandidates]] with [[ivfTopKFromIndex]] output —
    * the same (query_id, neighbor_id, cos_sim) candidate contract
    * [[mutualKnnClustersFromCandidates]] consumes. If a query has more
    * than `margin` near-dups the tail under-fills — mirroring
    * production miners, which size the margin at the expected dup rate
    * (the planted spec pins exactly this under-fill behavior). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dupCos: Double = 0.95,
      margin: Int = 8): DataFrame =
    hardNegativesFromCandidates(
      bruteForceTopK(corpus, queries, idCol, vecCol, k + margin), k, dupCos)

  /** [[hardNegatives]] over a caller-supplied candidate frame
    * (query_id, neighbor_id, cos_sim) — the dup-exclusion filter plus
    * the (k+margin)-bounded per-query re-pack window. Candidates should
    * carry `k + margin` rows per query so the post-filter top-k
    * under-fills only when near-dups exceed the margin. */
  def hardNegativesFromCandidates(candidates: DataFrame, k: Int,
      dupCos: Double = 0.95): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    candidates
      .filter(col("cos_sim") < dupCos)
      .withColumn("neg_rank",
        Ranks.cutRank(candidates.sparkSession, w, k))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"),
        col("neg_rank").cast("long").as("neg_rank"), col("neighbor_id"),
        col("cos_sim"))
  }

  /** Exact near-dup pairs: all pairs with cosine ≥ threshold (test-scale
    * ground truth; at scale run it over LSH bucket candidates instead). */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val n = df.select(col(idCol).as("id"), l2Normalize(col(vecCol)).as("nv"))
    val l = n.select(col("id").as("vec_a"), col("nv").as("va"))
    val r = n.select(col("id").as("vec_b"), col("nv").as("vb"))
    l.crossJoin(r)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(dotCol(col("va"), col("vb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Bounded deterministic training sample, shared by [[trainCentroids]]
    * and [[trainPqCodebooks]]: take rows where `xxhash64(id) % stride ==
    * 0` (stride sized so ≥ `max(minRows, sampleSize)` qualify). The
    * DISTRIBUTED limit orders by `(xxhash64(id), id)` — stable across
    * partitionings, engines, AND id types (the r4 `idCol.cast("long")`
    * ordering was null for non-numeric ids, making the trained index
    * nondeterministic; the r5 raw-id ordering fixed that but paid a full
    * string total-order over long ids — the 8-byte hash is the primary
    * sort key now, the raw id only breaks 64-bit ties). The collected
    * sample is then re-sorted by raw id DRIVER-SIDE (≤2048 rows — free),
    * preserving the id-ordered sample the trainers' first-k init was
    * tuned on (recall@3 0.97; hash-ordered init measured 0.79 on the
    * near-random bench embeddings). ≤ `max(minRows, sampleSize)` rows ever reach
    * the driver. Pass `knownCount` when the caller already counted the
    * corpus (co-trained indexes) to skip the sizing count job. */
  private def deterministicSample(corpus: DataFrame, idCol: String,
      vecCol: String, minRows: Int, sampleSize: Int,
      knownCount: Option[Long]): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = knownCount.getOrElse(corpus.count())
    val take = math.max(minRows, sampleSize)
    val stride = math.max(1L, n / take)
    // The driver-side re-sort must reproduce the RAW column's order, so
    // the tie-break key is gated on the id's Catalyst type: integral ids
    // re-parse from their decimal string (exact — no double rounding for
    // longs past 2^53), fractional/decimal ids sort by double value, and
    // string-typed ids keep PURE lexical order (a numeric-looking string
    // id must NOT silently switch to numeric order).
    import org.apache.spark.sql.types.{
      ByteType, ShortType, IntegerType, LongType, NumericType}
    val idType = corpus.schema(idCol).dataType
    val fractional = idType match {
      case ByteType | ShortType | IntegerType | LongType => false
      case _: NumericType => true
      case _ => false
    }
    val idn =
      if (fractional) col(idCol).cast("double")
      else lit(null).cast("double")
    // Null ids are excluded up front: a null can't carry a deterministic
    // sample identity (and would NPE the integral re-parse below).
    val rows = corpus
      .filter(col(idCol).isNotNull)
      .filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0)
      .select(col(idCol).cast("string").as("id"), idn.as("idn"),
        l2Normalize(col(vecCol)).as("v"))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(take)
      .as[(String, Option[Double], Array[Double])].collect()
    val sorted = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        rows.sortBy(r => (r._1.toLong, r._1))
      case _: NumericType if rows.forall(_._2.isDefined) =>
        rows.sortBy(r => (r._2.get, r._1))
      case _ => rows.sortBy(_._1)
    }
    sorted.map(_._3)
  }

  /** Spherical k-means over a bounded, deterministically-chosen sample,
    * run driver-side (the sample is ≤ `sampleSize` rows by construction —
    * this is NOT a driver-side pass over the corpus; see
    * [[deterministicSample]]). Init takes the first k sample vectors in
    * sample order; `iters` Lloyd steps assign by max dot product (≡
    * cosine on normalized vectors) and re-normalize the means. Empty
    * clusters keep their previous centroid. Returns (cent_id, centv)
    * rows to broadcast. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int = 4, sampleSize: Int = 2048,
      knownCount: Option[Long] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = deterministicSample(corpus, idCol, vecCol, nCentroids,
      sampleSize, knownCount)
    require(sample.length >= nCentroids,
      s"sample ${sample.length} smaller than nCentroids=$nCentroids")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    // First-k init over the id-ordered sample (deterministic; measured
    // the strongest recall of the deterministic inits tried on the
    // near-random bench embeddings — farthest-point/maxmin seeding and
    // longer Lloyd runs both measured WORSE there, 0.86/0.77 vs 0.97
    // recall@3, because converging toward balanced Voronoi cells spreads
    // weakly-clustered neighborhoods across more cells than nProbe).
    var cents: Array[Array[Double]] = sample.take(nCentroids).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(nCentroids)(new Array[Double](cents(0).length))
      val counts = new Array[Long](nCentroids)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MinValue
        var c = 0
        while (c < nCentroids) {
          val d = dot(v, cents(c)); if (d > bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else {
          val m = sums(c).map(_ / counts(c))
          val norm = math.sqrt(dot(m, m))
          if (norm > 0) m.map(_ / norm) else old
        }
      }
    }
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("cent_id", "centv")
  }

  /** IVF (inverted-file) ANN: corpus is partitioned into coarse cells by
    * nearest centroid; queries probe only their `nProbe` nearest cells.
    * Centroids come from [[trainCentroids]] (seeded sampled k-means) and
    * fold into the assignment expression as literals — the assignment
    * pass is a MAP-ONLY scan (see [[assignCells]]); only the per-cell
    * candidate scoring shuffles, ≈ corpus²·nProbe/nCentroids. */
  /** Centroid-count bound for the literal-argmax assignment: above it
    * the folded (cent_id, vector) literals bloat the plan (and codegen
    * method size), so assignment falls back to the broadcast-join +
    * window form. 4096 centroids × 64 dims ≈ 2 MB of plan literals —
    * comfortably under Janino limits with the DotProduct kernel (one
    * call per centroid, not per element). */
  private val MaxLiteralCents = 4096

  /** Nearest-centroid assignment: keep the `keep` best cells per row.
    * The centroid table is nCentroids-bounded by construction, so it
    * collects to the driver and folds into a literal per-row argmax
    * (keep = 1: [[nearestCellStruct]]'s `array_max`; keep = nProbe: a
    * `sort_array` + `slice` + `explode` array-local top-k) — a pure
    * projection with NO crossJoin, NO window, NO shuffle: the 100-TB
    * corpus assignment pass under build/append/drift/PQ-encode is a
    * narrow scan (plan-pinned by AnnPlanPinsSpec). Tie-break is (sim desc,
    * lowest cent_id) in both forms — the struct max/sort over
    * (s, neg_id) is order-identical to the window's
    * (cent_sim desc, cent_id asc), so results are bit-identical to the
    * pre-r14 broadcast-join form (all IVF-family oracle hashes
    * unmoved). Beyond [[MaxLiteralCents]] centroids the broadcast-join
    * + window form takes over (same tie-break). */
  private[graft] def assignCells(df: DataFrame, cents: DataFrame,
      id: String, v: String, keep: Int,
      keepSim: Boolean = false): DataFrame = {
    // one BOUNDED collect decides the path and fetches the centroids:
    // the >MaxLiteralCents case exists precisely because the centroid
    // table is too big to ship around, so an unbounded collect (e.g.
    // 64k × 768-dim centroids ≈ 400 MB) could OOM the driver before
    // the shuffled fallback is ever taken. One partition makes it one
    // job: a limit's take otherwise scans a multi-file table in rounds
    val centArr =
      collectCentIds(cents.coalesce(1).limit(MaxLiteralCents + 1))
    if (centArr.length > MaxLiteralCents)
      return assignCellsShuffled(df, cents, id, v, keep, keepSim)
    val top = nearestCellsCol(centArr, col(v), keep)
    val best =
      if (keep == 1) element_at(top, 1)
      else explode(top)
    val withBest = df.withColumn("__cellbest", best)
    // keepSim exposes the assignment similarity itself (the dot
    // against the winning centroid) — the drift monitor profiles it;
    // everything else only needs the cell
    if (keepSim)
      withBest.select(col(id), col(v),
        (-col("__cellbest.neg_id")).as("cell"),
        col("__cellbest.s").as("cent_sim"))
    else withBest.select(col(id), col(v),
      (-col("__cellbest.neg_id")).as("cell"))
  }

  /** The > [[MaxLiteralCents]] fallback (a centroid matrix too big to
    * ship inside the plan): broadcast-join the centroid table, then
    * reduce. keep = 1 — the corpus-sized case — aggregates with a
    * partial `max(struct(sim, −id, …))`: the crossJoin co-locates each
    * row's k candidates in one task, so the map-side combine collapses
    * them BEFORE the exchange and the shuffle carries corpus×1 rows
    * (one argmax struct per row), not corpus×k. Tie-break is the same
    * struct order as the kernel ((sim desc, id asc) ≡ max (s, −id)) —
    * result-identical to the kernel by the fallback-parity spec.
    * keep = nProbe keeps the window form: a per-row top-k at that
    * centroid count buffers k entries per row whichever way it is
    * spelled, and probe sets are query-sized, not corpus-sized. */
  private[graft] def assignCellsShuffled(df: DataFrame,
      cents: DataFrame, id: String, v: String, keep: Int,
      keepSim: Boolean = false): DataFrame = {
    val scored = df.crossJoin(broadcast(cents))
      .withColumn("cent_sim", dotCol(col(v), col("centv")))
    if (keep == 1) {
      val best = scored.groupBy(col(id))
        .agg(max(struct(col("cent_sim").as("s"),
          (-col("cent_id")).as("neg_id"),
          col(v).as("__v"))).as("best"))
      if (keepSim)
        best.select(col(id), col("best.__v").as(v),
          (-col("best.neg_id")).as("cell"),
          col("best.s").as("cent_sim"))
      else best.select(col(id), col("best.__v").as(v),
        (-col("best.neg_id")).as("cell"))
    } else {
      val w = Window.partitionBy(col(id))
        .orderBy(col("cent_sim").desc, col("cent_id"))
      val ranked = scored
        .withColumn("cent_rank", row_number().over(w))
        .filter(col("cent_rank") <= keep)
      if (keepSim)
        ranked.select(col(id), col(v), col("cent_id").as("cell"),
          col("cent_sim"))
      else ranked.select(col(id), col(v), col("cent_id").as("cell"))
    }
  }

  /** Collect a centroid frame to (cent_id, vector) pairs, cent_id
    * ascending — nCentroids rows only, no dense-id requirement (unlike
    * [[collectCents]], whose index-positional contract the refinement
    * loop needs). */
  private def collectCentIds(cents: DataFrame): Array[(Long, Array[Double])] = {
    val spark = cents.sparkSession
    import spark.implicits._
    cents.select(col("cent_id").cast("long"),
        col("centv").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
  }

  /** The driver-resident centroid table folded into the ONE compact
    * [[graft.expressions.NearestCells]] kernel: top-`keep` (sim, −id)
    * structs per row, rank-sorted. One reference object in the plan —
    * NOT k literal vectors: the literal-forest spelling measured 3× the
    * serve CPU because Catalyst's constraint propagation replicates
    * plan-side expression trees into inferred join filters (see the
    * kernel's scaladoc). */
  private def nearestCellsCol(cents: Array[(Long, Array[Double])],
      v: Column, keep: Int): Column = {
    require(cents.nonEmpty, "no centroids")
    val dim = cents(0)._2.length
    require(cents.forall(_._2.length == dim),
      "centroid dimensions must agree")
    val flat = new Array[Double](cents.length * dim)
    cents.zipWithIndex.foreach { case ((_, c), i) =>
      System.arraycopy(c, 0, flat, i * dim, dim) }
    bridged(graft.expressions.NearestCells(expr(v), flat,
      cents.map(_._1), keep))
  }

  /** Cluster-balanced sampling: assign every vector to its nearest
    * trained centroid, then keep the `perCluster` hash-smallest ids per
    * cluster — the topic-flattening subsample (the selection step of
    * cluster-based data curation à la SemDeDup §4 / DoReMi-style domain
    * balancing) that stops a dominant cluster from dominating the
    * sample. Assignment is the map-only broadcast argmax; the pick is a
    * per-cluster window top-k, so state is bounded by `perCluster` per
    * cluster at any corpus size, and the hash order makes the sample
    * content-deterministic (re-runs and re-partitions agree). The pick
    * hash is the engine-portable salted md5 `hash60` — the same
    * convention as [[graft.operators.Curation.shardAssign]] and
    * `stratifiedTakeK`, so independent engines (the DuckDB oracle)
    * reproduce the exact sample, not just its per-cluster counts. */
  def clusterBalancedSample(corpus: DataFrame, idCol: String,
      vecCol: String, nClusters: Int = 8, perCluster: Int = 16,
      salt: String = "cbs1"): DataFrame = {
    val cents = trainCentroids(corpus, idCol, vecCol, nClusters)
    val assigned = assignCells(
      corpus.select(col(idCol).as("sid"),
        l2Normalize(col(vecCol)).as("cv")),
      cents, "sid", "cv", keep = 1)
    val w = Window.partitionBy(col("cell"))
      .orderBy(graft.functions.TextFunctions.hash60(
        concat(lit(salt), col("sid").cast("string"))), col("sid"))
    assigned
      .withColumn("pick",
        Ranks.cutRank(corpus.sparkSession, w, perCluster))
      .filter(col("pick") <= perCluster)
      .select(col("sid").as(idCol), col("cell").as("cluster"),
        col("pick").cast("long").as("pick"))
  }

  /** (neighbor_id, cv) rows of a vector frame, vectors L2-normalized —
    * the row shape every index store and rerank fetch starts from. */
  private def vectorRows(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("neighbor_id"), l2Normalize(col(vecCol)).as("cv"))

  /** (query_id, qv) rows of a query frame, vectors L2-normalized. */
  private def queryRows(queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
      l2Normalize(col(vecCol)).as("qv"))

  /** `df` as (neighbor_id, cv, cell) rows under the centroids `cents` —
    * the keep-1 argmax every build, append, baseline and drift pass
    * shares (`keepSim` adds the winning similarity as `cent_sim`). */
  private def assignRows(df: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, keepSim: Boolean = false): DataFrame =
    assignCells(vectorRows(df, idCol, vecCol), cents, "neighbor_id", "cv",
      keep = 1, keepSim)

  /** The query rows of a cell-family serve, exploded to their `nProbe`
    * nearest cells. */
  private def probeRows(queries: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, nProbe: Int): DataFrame =
    assignCells(queryRows(queries, idCol, vecCol), cents, "query_id", "qv",
      keep = nProbe)

  /** Exact top-k by cosine over scored pairs (query_id, qv, neighbor_id,
    * cv). Ranking uses the rounded score + id tie-break, so the result is
    * stable across engines and partitionings; `cutRank` is row_number
    * under the group-limit threshold (a WindowGroupLimit prune — the
    * fast path and the Int-rank overflow guard) and a long-safe running
    * count above it. */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs.withColumn("cos_sim", round(dotCol(col("qv"), col("cv")), 6))
      .withColumn("rank", Ranks.cutRank(pairs.sparkSession, w, k))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
  }

  /** The serve of the four compressed families (PQ, SQ8, IVF+PQ,
    * IVF×SQ8). Candidates are the `store` rows joined to the broadcast
    * query rows `q` — on `cell` when `q` carries probed cells, else every
    * pair — scored by the family's approximate `approx` column. Each
    * query keeps its `rerank` best: the cutRank + adjacent filter lets
    * InferWindowGroupLimit prune candidates to `rerank` rows BEFORE the
    * sort, which on a whole-store scan IS the serve's top-k fast path.
    * Those candidates fetch their true vectors from `corpus` by id (the
    * candidates-only fetch that makes the compressed scan pay) and rank
    * by exact cosine. With full probe and `rerank` ≥ corpus size the
    * result equals [[bruteForceTopK]] exactly (spec-pinned). */
  private def rerankTopK(store: DataFrame, q: DataFrame, approx: Column,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      rerank: Int): DataFrame = {
    val pairs =
      if (q.columns.contains("cell"))
        store.join(q, Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
      else store.join(q, col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    val cand = pairs.withColumn("approx", approx)
      .withColumn("approx_rank", Ranks.cutRank(corpus.sparkSession, w, rerank))
      .filter(col("approx_rank") <= rerank)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    cosineTopK(cand.join(vectorRows(corpus, idCol, vecCol),
      Seq("neighbor_id")), k)
  }

  /** The on-disk layout of one persisted ANN index family inside its
    * current [[graft.util.Gen]] generation dir: the row store (`store`,
    * partitioned by `cell` when `cellPartitioned`), the auxiliary
    * datasets its encoder and serve read (`aux`; with the row store,
    * their presence identifies the family), and the frozen drift
    * baseline it may carry. Beside these any family may hold
    * `tombstones` (deletes awaiting physical drop) and `ingest_log`
    * (ingest times for expiry). [[IndexLayouts]] is the one place that
    * knows the five layouts: the lifecycle helpers below and
    * [[StoreHealth.detectStoreKind]] read it. */
  private[operators] final case class IndexLayout(kind: String,
      store: String, cellPartitioned: Boolean, aux: Seq[String],
      baseline: Option[String])

  private val IvfPq = IndexLayout("ivf_pq", "codes", cellPartitioned = true,
    Seq("centroids", "codebooks"), Some("err_baseline"))
  private val Ivf = IndexLayout("ivf", "assigned", cellPartitioned = true,
    Seq("centroids"), Some("baseline"))
  private val IvfSq8 = IndexLayout("ivf_sq8", "codes",
    cellPartitioned = true, Seq("centroids"), Some("baseline"))
  private val Pq = IndexLayout("pq", "codes", cellPartitioned = false,
    Seq("codebooks"), None)
  private val Sq8 = IndexLayout("sq8", "codes", cellPartitioned = false,
    Nil, None)

  /** Most specific first: the first layout whose row store and `aux`
    * datasets all exist names the family. */
  private[operators] val IndexLayouts = Seq(IvfPq, Ivf, IvfSq8, Pq, Sq8)

  /** The family of the index generation dir `g` ([[IndexLayouts]]). */
  private[operators] def layoutOf(spark: SparkSession,
      g: String): Option[IndexLayout] = {
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexLayouts.find(l => (l.store +: l.aux)
      .forall(d => fs.exists(new org.apache.hadoop.fs.Path(g, d))))
  }

  /** The resolved DATA directory of a persisted index: its current
    * committed generation under the [[graft.util.Gen]] layout (zero-
    * reader-outage maintenance), or the path itself for a generation
    * dir handed in directly. Every persisted-index verb resolves ONCE
    * at entry — one or two namenode RPCs, never per-expression. */
  private def genDir(spark: SparkSession, path: String): String =
    Gen.resolve(spark, path)

  /** The row store of generation `g`, tombstoned rows excluded — what
    * every load serves, so every consumer (serve, recall probe) sees the
    * post-deletion corpus. */
  private def liveStore(spark: SparkSession, g: String,
      layout: IndexLayout): DataFrame =
    dropTombstoned(spark, g, Gen.read(spark, s"$g/${layout.store}"))

  /** Save an index as a new generation: `write` fills the generation
    * dir with the family's datasets, then every saved row is logged at
    * `ingestMicros` ([[logIngest]]). */
  private def saveIndex(spark: SparkSession, path: String,
      layout: IndexLayout, ingestMicros: Long)(write: String => Unit): Unit =
    Fs.labeled(spark, "ann:save") {
      Gen.rewrite(spark, path) { g =>
        write(g)
        logIngest(spark, g,
          Gen.read(spark, s"$g/${layout.store}").select("neighbor_id"),
          ingestMicros)
      }
    }

  /** The centroids and cell-partitioned row store of a cell family's
    * generation `g`. The salted write runs a census pass before the
    * write, so it first checkpoints `rows` and the expensive lazy corpus
    * argmax behind them executes once, not twice (the unsalted write is
    * single-pass — no checkpoint). */
  private def writeCellIndex(index: (DataFrame, DataFrame), g: String,
      layout: IndexLayout, maxRowsPerWriteTask: Long): Unit = {
    val (cents, rows) = index
    cents.write.mode("overwrite").parquet(s"$g/centroids")
    writeCellStore(
      if (maxRowsPerWriteTask > 0) rows.localCheckpoint() else rows,
      "overwrite", s"$g/${layout.store}", maxRowsPerWriteTask)
  }

  /** Incremental maintenance, one order for all five families: fence
    * against a racing maintenance rewrite (an append it would silently
    * obsolete fails loudly instead), resolve the current generation,
    * `encode` the batch with that generation's FROZEN aux datasets (no
    * retrain — recall on appended data degrades gracefully with drift,
    * and the drift reports say when a rebuild is due), checkpoint it
    * (the write, the log and the count all read it), append it to the
    * row store — a cell store writes only the cells the batch lands in,
    * and serve-time partition pruning is untouched — log its ingest
    * time, and return the appended count. */
  private def appendToIndex(spark: SparkSession, path: String,
      layout: IndexLayout, who: String, maxRowsPerWriteTask: Long,
      ingestMicros: Long)(encode: String => DataFrame): Long =
    Fs.labeled(spark, "ann:append") {
      Fs.failIfUnderMaintenance(spark, path, who)
      val g = genDir(spark, path)
      val rows = encode(g).localCheckpoint()
      val dest = s"$g/${layout.store}"
      if (layout.cellPartitioned)
        writeCellStore(rows, "append", dest, maxRowsPerWriteTask)
      else rows.write.mode("append").parquet(dest)
      logIngest(spark, g, rows.select("neighbor_id"), ingestMicros)
      rows.count()
    }

  /** Publish the next generation of an index through
    * [[graft.util.Gen.rewrite]]: an atomic commit-pointer flip with ZERO
    * reader outage (a serve that resolved before the flip completes
    * against its generation; see Gen's scaladoc for the crash protocol),
    * ingest fenced by the maintenance marker for the window.
    * `write(old, g)` fills the new generation dir `g` from the current
    * one `old`. Returns the new generation's row count. */
  private def rewriteIndex(spark: SparkSession, path: String,
      layout: IndexLayout, label: String)(
      write: (String, String) => Unit): Long =
    Fs.labeled(spark, label) {
      Gen.rewrite(spark, path)(g => write(genDir(spark, path), g))
      Gen.read(spark, s"${genDir(spark, path)}/${layout.store}").count()
    }

  /** Compaction, one order for all five families. Appends write one
    * file set per batch (one file per touched cell in a cell store), so
    * a year of daily appends claws back the read amplification the
    * layout bought. The next generation carries the aux datasets
    * byte-for-byte ([[carryAuxDatasets]]) and the ingest log minus the
    * tombstoned ids, and rewrites the row store with tombstoned rows
    * PHYSICALLY dropped — a cell store to one file per cell (the
    * [[writeCellStore]] discipline and its hot-cell caveat), a flat store
    * to the session's default parallelism in files. Applied tombstones do
    * not carry, so the new generation starts clean; served results are
    * unchanged. Returns the compacted row count. */
  private def compactIndex(spark: SparkSession, path: String,
      layout: IndexLayout, maxRowsPerWriteTask: Long = 0): Long =
    rewriteIndex(spark, path, layout, "ann:compact") { (old, g) =>
      carryAuxDatasets(spark, old, g, layout)
      carryIngestLog(spark, old, g)
      val live = liveStore(spark, old, layout)
      val dest = s"$g/${layout.store}"
      if (layout.cellPartitioned)
        writeCellStore(live, "overwrite", dest, maxRowsPerWriteTask)
      else live.repartition(spark.sparkContext.defaultParallelism,
          col("neighbor_id"))
        .write.mode("overwrite").parquet(dest)
    }

  /** The one home of the cell-store write discipline, shared by
    * save / append / compact. Hash-repartition on the partition column
    * first: a dynamic partition write from cell-unsorted tasks emits up
    * to tasks × cells files (the classic small-files problem — measured
    * 2.4 s of commit overhead on the t52 lifecycle at sf0.1); after the
    * repartition each cell lands wholly in one task → one file per
    * touched cell per write. At corpus scale cap file size with
    * spark.sql.files.maxRecordsPerFile rather than re-fanning out.
    * Hot-cell caveat: the single-task-per-cell routing is also a serial
    * point — a pathologically hot cell (badly skewed corpus or too few
    * centroids) funnels through one write task, and maxRecordsPerFile
    * caps file SIZE but not that funnel. `maxRowsPerTask > 0` opts into
    * the salted form below, which breaks exactly that funnel; with
    * nCentroids ∝ √n (the documented sizing rule) cells stay ~√n rows
    * and the unsalted one-task write is the right default. */
  private def writeCellStore(assigned: DataFrame, mode: String,
      dest: String, maxRowsPerTask: Long): Unit = {
    // sized to the cores, as the dedup ledgers' bucketed writes are
    // (Dedup.writeBucketed): the explicit count keeps AQE from
    // coalescing a small write shuffle into ONE task that writes every
    // touched cell file serially (~0.6 s per store write at bench
    // scale). A task may hold several cells, but each cell lands
    // wholly in one task (hash of the cell picks the partition), so
    // each write still leaves one file per touched cell.
    val writeParts = assigned.sparkSession.sparkContext.defaultParallelism
    if (maxRowsPerTask <= 0) {
      assigned.repartition(writeParts, col("cell")).write.mode(mode)
        .partitionBy("cell").parquet(dest)
      return
    }
    // salted form — the escape hatch for the hot-cell caveat above: a
    // cell whose row count exceeds maxRowsPerTask is spread across
    // ceil(n / maxRowsPerTask) deterministic salts (hash of the row id),
    // trading the one-file-per-cell ideal for a bounded number of files
    // per hot cell and NO single-task write straggler. The census that
    // sizes the salts is ≤ nCentroids rows to the driver but executes
    // the input plan once more — a caller whose upstream is expensive
    // (a save's lazy corpus argmax) checkpoints BEFORE calling;
    // compact's parquet-scan input and append's already-checkpointed
    // batch are cheap to run twice, and checkpointing here would copy
    // the whole store into executor block storage for a census's sake.
    val salts = assigned.groupBy(col("cell").cast("long").as("cell"))
      .count()
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1) + maxRowsPerTask - 1) / maxRowsPerTask).max(1L))
      .toMap
    if (salts.values.forall(_ == 1L)) {
      assigned.repartition(writeParts, col("cell")).write.mode(mode)
        .partitionBy("cell").parquet(dest)
      return
    }
    val saltOf = coalesce(
      element_at(typedlit(salts), col("cell").cast("long")), lit(1L))
    // the census total is ~totalRows/maxRowsPerTask: at corpus scale
    // with a too-small cap it can overflow Int (a silent
    // garbage/negative partition count) or demand an absurd task count
    // — fail with the remediation instead
    val totalParts = salts.values.sum
    require(totalParts <= 1000000L,
      s"salted cell-store write would need $totalParts tasks " +
        s"(census total / maxRowsPerTask=$maxRowsPerTask) — raise " +
        "maxRowsPerTask (or use the unsalted default) so the task " +
        "count stays sane")
    assigned.repartition(totalParts.toInt,
        col("cell"), pmod(hash(col("neighbor_id")), saltOf))
      .write.mode(mode).partitionBy("cell").parquet(dest)
  }

  /** Carry the layout's auxiliary datasets of an index generation
    * (centroids, codebooks, baselines — all driver-tiny by construction)
    * into the next generation a compaction is writing, byte-for-byte.
    * The row store is what the compaction rewrites, the ingest log is
    * carried minus the tombstoned ids ([[carryIngestLog]]), and the
    * applied `tombstones` deliberately do NOT carry — the rewrite drops
    * their rows physically, and a delete racing the rewrite is fenced
    * (or caught by [[graft.util.Gen.rewrite]]'s content re-verify), so
    * the new generation starts tombstone-free. */
  private def carryAuxDatasets(spark: SparkSession, from: String,
      to: String, layout: IndexLayout): Unit = {
    val src = new org.apache.hadoop.fs.Path(from)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = src.getFileSystem(conf)
    val carried = (layout.aux ++ layout.baseline).toSet
    fs.listStatus(src).foreach { s =>
      val name = s.getPath.getName
      if (carried.contains(name))
        org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs,
          new org.apache.hadoop.fs.Path(s"$to/$name"), false, conf)
    }
  }

  /** Append (neighbor_id, ingest_us) rows to an index generation's
    * `ingest_log` — the side dataset behind [[expireFromIndex]]'s
    * retention verb. A SIDE log, not a store column, deliberately: the
    * row stores' schemas (and every spec/oracle pinned to them) stay
    * untouched, and the log is two narrow columns an expiry scan reads
    * without touching vector bytes. `micros < 0` (the default
    * everywhere) writes nothing — rows without log entries are
    * UNEXPIRABLE by design (age unknown), never silently aged. */
  private def logIngest(spark: SparkSession, dataDir: String,
      ids: DataFrame, micros: Long): Unit =
    if (micros >= 0L)
      ids.select(col("neighbor_id"), lit(micros).as("ingest_us"))
        .write.mode("append").parquet(s"$dataDir/ingest_log")

  /** Carry an index generation's ingest log into the next generation a
    * compaction/rebuild is writing, minus the tombstoned ids — rows and
    * their ages drop together, so the log stays ∝ live rows. */
  private def carryIngestLog(spark: SparkSession, from: String,
      to: String): Unit = {
    val lp = new org.apache.hadoop.fs.Path(s"$from/ingest_log")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(lp) && fs.listStatus(lp).nonEmpty)
      dropTombstoned(spark, from, Gen.read(spark, lp.toString))
        .write.parquet(s"$to/ingest_log")
  }

  /** Retention/TTL expiry — the OTHER deletion driver next to
    * takedown-by-ids ([[deleteFromIndex]]): tombstone every row whose
    * recorded ingest time is strictly before `olderThanMicros`, on any
    * of the five families. Serves exclude the expired rows immediately,
    * and the next compaction or rebuild makes the removal physical,
    * exactly the deletion machinery. Ages come from the `ingest_log` the
    * save/append verbs write when called with `ingestMicros ≥ 0`; rows
    * ingested without a timestamp are unexpirable (documented — a
    * retention policy should fail toward keeping, not silently aging
    * unknowns). Idempotent: re-expiring appends duplicate tombstones the
    * distinct-on-read collapses, and compaction drops the applied log
    * entries with their rows. Returns the number of distinct ids
    * tombstoned by this call (including re-tombstones of ids already
    * deleted but not yet compacted). */
  def expireFromIndex(spark: SparkSession, path: String,
      olderThanMicros: Long): Long = {
    val g = genDir(spark, path)
    val lp = new org.apache.hadoop.fs.Path(s"$g/ingest_log")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(lp) || fs.listStatus(lp).isEmpty) return 0L
    val ids = Gen.read(spark, lp.toString)
      .filter(col("ingest_us") < lit(olderThanMicros))
      .select(col("neighbor_id"))
    appendTombstones(spark, path, ids, "neighbor_id", "expireFromIndex")
  }

  /** Delete vectors from a persisted index of any family — the
    * takedown/retention verb every real deployment is eventually legally
    * required to run. Deletion is a TOMBSTONE append (`tombstones`, one
    * id column): loads exclude tombstoned rows immediately (serve-time
    * filtering), and the next compaction or rebuild makes the removal
    * PHYSICAL (rows dropped from the store files, tombstones cleared).
    * Idempotent — re-deleting an id appends a duplicate tombstone that
    * the distinct-on-read collapses and the next compaction clears.
    * Fenced against a racing maintenance swap. Returns the number of
    * distinct ids tombstoned by this call. */
  def deleteFromIndex(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Long =
    appendTombstones(spark, path, ids, idCol, "deleteFromIndex")

  private def appendTombstones(spark: SparkSession, indexPath: String,
      ids: DataFrame, idCol: String, who: String): Long =
    Fs.labeled(spark, "ann:delete") {
      // deletes are fenced like appends: a tombstone landing mid-rewrite
      // would be obsoleted by the generation flip without being applied
      Fs.failIfUnderMaintenance(spark, indexPath, who)
      val g = genDir(spark, indexPath)
      val ts = ids.select(col(idCol).as("neighbor_id")).distinct()
        .localCheckpoint()
      val n = ts.count()
      if (n > 0)
        ts.write.mode("append").parquet(s"$g/tombstones")
      n
    }

  /** Tombstone-set bound for the literal serve-time filter: up to this
    * many deleted ids fold into an `isInCollection` FILTER on the store
    * scan — a filter, unlike an anti-join, is transparent to the serve
    * join's dynamic partition pruning (a join node between the scan and
    * the cell equi-join would block DPP's scan extraction). Beyond the
    * bound the exclusion falls back to a broadcast anti-join — correct,
    * but the serve loses partition pruning until the next compaction
    * physically drops the rows (compact on that cadence). */
  private val MaxLiteralTombstones = 65536L

  /** `dataDir` is the RESOLVED generation dir ([[genDir]]) — tombstones
    * live inside the generation they apply to, so a compaction's new
    * generation starts clean without any file bookkeeping. */
  private def tombstonesOf(spark: SparkSession,
      dataDir: String): Option[DataFrame] = {
    val tp = new org.apache.hadoop.fs.Path(s"$dataDir/tombstones")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tp) && fs.listStatus(tp).nonEmpty)
      Some(Gen.read(spark, tp.toString)
        .select(col("neighbor_id")).distinct())
    else None
  }

  private def dropTombstoned(spark: SparkSession, dataDir: String,
      store: DataFrame): DataFrame =
    tombstonesOf(spark, dataDir).map { ts =>
      // one bounded collect decides the path AND fetches the ids (a
      // separate count-then-collect would pay two jobs per load)
      val dead = ts.limit((MaxLiteralTombstones + 1).toInt)
        .collect().map(_.get(0))
      if (dead.isEmpty) store
      else if (dead.length <= MaxLiteralTombstones)
        store.filter(!col("neighbor_id").isInCollection(dead))
      else store.join(broadcast(ts), Seq("neighbor_id"), "left_anti")
    }.getOrElse(store)

  /** A caller-supplied rebuild corpus minus the index generation `g`'s
    * tombstoned ids: deleted ids must not resurrect through the corpus
    * a codes-only family (IVF+PQ, IVF×SQ8) rebuilds from. */
  private def liveCorpus(spark: SparkSession, g: String, corpus: DataFrame,
      idCol: String): DataFrame =
    tombstonesOf(spark, g)
      .map(ts => corpus.join(
        broadcast(ts.withColumnRenamed("neighbor_id", idCol)),
        Seq(idCol), "left_anti"))
      .getOrElse(corpus)

  /** Layout health of a persisted index of any family — the numbers an
    * operator reads to schedule maintenance, from one zero-data-byte
    * scan (the partition column and file names; no vector or code bytes
    * are read). A cell store reports per cell (cell, n_rows, n_files):
    * max(n_files) grows by one per append batch that touched the cell
    * and is the compaction trigger, and max(n_rows)/avg(n_rows) ≫ 1
    * means the cell layout itself has gone skewed (corpus drifted off
    * the trained centroids), rebuild time regardless of what the drift
    * report says about fresh batches. A flat store reports one
    * (n_rows, n_files, n_tombstones) row: files grow one set per append
    * batch, and tombstones count rows awaiting physical drop. */
  def indexStats(spark: SparkSession, path: String): DataFrame = {
    val g = genDir(spark, path)
    val layout = layoutOf(spark, g).getOrElse(
      throw new IllegalArgumentException(
        s"indexStats: $path holds no persisted ANN index layout"))
    val keys = if (layout.cellPartitioned) Seq(col("cell")) else Nil
    val stats = Gen.read(spark, s"$g/${layout.store}")
      .select(keys :+ input_file_name().as("f"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("f")).as("n_files"))
    if (layout.cellPartitioned) stats
    else stats.withColumn("n_tombstones",
      lit(tombstonesOf(spark, g).map(_.count()).getOrElse(0L)))
  }

  /** Recall@k per nProbe, the core of the three cell families' probes —
    * drift is a proxy; the serving SLA is RECALL, and this measures it
    * directly on the live store: a deterministic hash-ordered sample of
    * `sampleN` rows of `pool` is served at each nProbe
    * (`serve(queries, nProbe)`) and scored against the full-probe serve
    * (every cell of `cents`) on the same index. Emits (n_probe,
    * sample_n, k, hits, truth_n, recall). Deterministic end to end
    * (hash-ordered sample, tie-broken serve), so runs are comparable
    * across days. Cost: sampleN queries × (1 + len(nProbes)) serves,
    * each partition-pruned except the full-probe truth pass. */
  private def recallProbe(spark: SparkSession, cents: DataFrame,
      pool: DataFrame, poolId: String, sampleN: Int, k: Int,
      nProbes: Seq[Int])(serve: (DataFrame, Int) => DataFrame): DataFrame = {
    import spark.implicits._
    val nCells = cents.count().toInt
    val queries = pool.orderBy(xxhash64(col(poolId)), col(poolId))
      .limit(sampleN).localCheckpoint()
    def served(p: Int) =
      serve(queries, p).select(col("query_id"), col("neighbor_id"))
    val truth = served(nCells).localCheckpoint()
    val truthN = truth.count()
    nProbes.distinct.sorted.map { p =>
      val hits = served(p)
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi").count()
      (p, sampleN, k, hits, truthN,
        Percentiles.roundHalfUp(hits.toDouble / math.max(truthN, 1L), 6))
    }.toDF("n_probe", "sample_n", "k", "hits", "truth_n", "recall")
  }

  /** The page-on-this row, the core of the three cell families' health
    * reports: ONE per-index row joining the three signals an operator
    * otherwise reads separately — the family's drift report (`drift`,
    * weighted by batch_n over has_baseline cells, exactly the filtering
    * the drift scaladocs mandate, reported as `w_<meanCol>` and
    * `w_<tailCol>`), the measured recall at the serving nProbe
    * (`recall`, a [[recallProbe]] row) and the store layout
    * ([[indexStats]] + the tombstone count). `rebuild_advised` when the
    * weighted tail drift exceeds `maxTailDrift` OR recall falls below
    * `minRecall`; `compact_advised` when any cell accretes more than
    * `maxFilesPerCell` files or tombstones await physical drop. */
  private def healthReport(spark: SparkSession, path: String,
      drift: DataFrame, meanCol: String, tailCol: String,
      maxTailDrift: Double, recall: => DataFrame, nProbe: Int, k: Int,
      minRecall: Double, maxFilesPerCell: Int): DataFrame = {
    import spark.implicits._
    def weighted(c: String) =
      sum(col(c) * col("batch_n")) / sum(col("batch_n"))
    val d = drift.filter(col("has_baseline"))
      .agg(coalesce(sum(col("batch_n")), lit(0L)).as("n"),
        weighted(meanCol).as("md"), weighted(tailCol).as("pd"))
      .first()
    val batchN = d.getAs[Long]("n")
    // a batch that lands only in no-baseline cells has NO measurable
    // drift (batchN = 0) — report zero drift and let recall carry the
    // decision rather than NPE on the null aggregate
    def safe(i: Int): Double = Option(d.get(i))
      .map(x => Percentiles.roundHalfUp(x.asInstanceOf[Double], 6))
      .getOrElse(0.0)
    val meanDrift = safe(1)
    val tailDrift = safe(2)
    val r = recall.select(col("recall")).first().getDouble(0)
    val s = indexStats(spark, path)
      .agg(max(col("n_files")).as("mf"), max(col("n_rows")).as("mr"),
        sum(col("n_rows")).as("rows"))
      .first()
    val nTombstones = tombstonesOf(spark, genDir(spark, path))
      .map(_.count()).getOrElse(0L)
    Seq((batchN, meanDrift, tailDrift, nProbe, k, r,
      s.getAs[Long]("rows"), s.getAs[Long]("mr"), s.getAs[Long]("mf"),
      nTombstones,
      tailDrift > maxTailDrift || r < minRecall,
      s.getAs[Long]("mf") > maxFilesPerCell || nTombstones > 0L))
      .toDF("batch_n", s"w_$meanCol", s"w_$tailCol", "n_probe", "k",
        "recall", "store_rows", "max_cell_rows", "max_cell_files",
        "n_tombstones", "rebuild_advised", "compact_advised")
  }

  /** Build the IVF index: trained centroids + the corpus assigned to its
    * cells (normalized vectors). This is the expensive phase — persist it
    * with [[saveIvfIndex]] and serve queries from the load, the standard
    * build-once / query-many ANN deployment. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, kmeansIters: Int = 4,
      refineIters: Int = 0): (DataFrame, DataFrame) = {
    val seed = trainCentroids(corpus, idCol, vecCol, nCentroids,
      kmeansIters)
    // refineIters > 0 runs full-corpus Lloyd refinement on the sampled
    // seed ([[refineCentroids]]) — the right call when the corpus is
    // genuinely clustered and much larger than the training sample
    val cents =
      if (refineIters > 0) refineCentroids(corpus, seed, vecCol,
        refineIters)
      else seed
    // the in-memory index is CELL-PARTITIONED like the persisted one:
    // one corpus-row exchange (NOT corpus×nCentroids — the assignment
    // itself is the map-only kernel) that every consumer needs anyway —
    // saveIvfIndex's writeCellStore repartition collapses with it
    // (CollapseRepartition), the serve equi-join gets per-cell
    // parallelism instead of riding the scan's split count, and the
    // drift baseline's per-cell aggregates reuse the partitioning
    (cents, assignRows(corpus, idCol, vecCol, cents).repartition(col("cell")))
  }

  /** Persist an IVF index (centroids, the cell store and the frozen drift
    * baseline under `path`). The cell assignment is written partitioned
    * BY CELL, so a probe of nProbe cells reads only those partitions
    * (partition pruning at serve time) — at 100 TB the index read is
    * proportional to cells probed, not corpus size. Not just a layout
    * hope: the serve join really prunes — Spark's dynamic partition
    * pruning broadcasts the probe side's cells into the index scan's
    * PartitionFilters (`dynamicpruningexpression(cell IN ...)`), pinned
    * by AnnPlanPinsSpec on a loaded index at nProbe = 2. */
  def saveIvfIndex(index: (DataFrame, DataFrame), path: String,
      maxRowsPerWriteTask: Long = 0, ingestMicros: Long = -1L): Unit =
    saveIndex(index._1.sparkSession, path, Ivf, ingestMicros)(g =>
      writeIvfIndexInto(index, g, maxRowsPerWriteTask))

  /** The index-generation payload behind [[saveIvfIndex]] and
    * [[rebuildIvfIndex]] — writes a COMPLETE index (centroids + cell
    * store + frozen drift baseline) into the generation dir `g`. */
  private def writeIvfIndexInto(index: (DataFrame, DataFrame), g: String,
      maxRowsPerWriteTask: Long): Unit = {
    writeCellIndex(index, g, Ivf, maxRowsPerWriteTask)
    // the build-time per-cell assignment-quality baseline
    // (≤ nCentroids rows) persists WITH the index: [[ivfDriftReport]]
    // compares every ingest batch against it, and deriving it later
    // from the (appended-to) store would let each drifted batch
    // contaminate the very baseline that is supposed to expose it.
    // Derived from the store JUST WRITTEN, not from index._2 — the lazy
    // assignment plan is the expensive half of a build (corpus ×
    // nCentroids argmax) and must not execute twice; the read-back is
    // one columnar scan of two columns. The partition column reads back
    // as int — cast to cent_id's long so the baseline schema matches
    // the in-memory form
    cellBaseline(index._1,
      Gen.read(index._1.sparkSession, s"$g/assigned")
        .select(col("cell").cast("long").as("cell"), col("cv")))
      .coalesce(1).write.mode("overwrite").parquet(s"$g/baseline")
  }

  /** Per-cell assignment-quality profile of a cell store: (cell, n,
    * rounded mean and exact-p10 assigned cosine — the same two stats the
    * drift report computes per batch, so both drifts have a baseline).
    * The stored cell IS the argmax by construction, so the join-side dot
    * against the cell's centroid equals the assignment similarity — no
    * re-argmax needed. */
  private def cellBaseline(cents: DataFrame,
      assigned: DataFrame): DataFrame = {
    val cos = assigned
      .join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("cell"), dotCol(col("cv"), col("centv")).as("cos"))
    // corpus-side p10 goes through the bounded-memory exact selection
    // (bit-equal to percentile() by PercentilesSpec's forced-spill
    // assertion), NOT Spark's percentile() aggregate — percentile()
    // buffers every value per group, and this group is a CELL of the
    // build corpus: at 100 TB a hot cell's cosine multiset is exactly
    // the buffer that OOMs an executor. The batch side (cellProfile)
    // keeps percentile(): a daily batch bounds its own buffer. Count
    // and mean are constant-buffer aggregates either way; the join is
    // ≤ nCentroids rows a side.
    cos.groupBy(col("cell"))
      .agg(count(lit(1)).as("base_n"),
        round(avg(col("cos")), 6).as("base_mean_cos"))
      .join(graft.operators.Percentiles.groupedRangeExact(cos,
        Seq("cell"), "cos", Seq((0.10, "base_p10_cos")), roundTo = 6),
        Seq("cell"))
  }

  /** (cell, cos) → per-cell (n, rounded mean, rounded exact p10) — the
    * BATCH side of the drift comparison (the corpus-side
    * [[cellBaseline]] computes the same three stats but routes p10
    * through the bounded-memory selection; values are bit-equal by
    * PercentilesSpec, so the two profiles stay value-identical).
    * percentile() is safe here because a daily batch bounds its own
    * aggregation buffer. Aggregates run over the RAW cosines; only
    * outputs round (see [[ivfDriftReport]] for why pre-rounding
    * manufactures half-boundary means). */
  private def cellProfile(cos: DataFrame, prefix: String): DataFrame =
    cos.groupBy(col("cell"))
      .agg(count(lit(1)).as(s"${prefix}_n"),
        round(avg(col("cos")), 6).as(s"${prefix}_mean_cos"),
        round(org.apache.spark.sql.functions.expr("percentile(cos, 0.10)"),
          6).as(s"${prefix}_p10_cos"))

  /** Load a persisted IVF index. Tombstoned rows (see
    * [[deleteFromIndex]]) are excluded from the returned store, so
    * every consumer — serve, recall probe, stats-free reads — sees the
    * post-deletion corpus. */
  def loadIvfIndex(spark: SparkSession,
      path: String): (DataFrame, DataFrame) = Fs.labeled(spark, "ann:load") {
    val g = genDir(spark, path)
    (Gen.read(spark, s"$g/centroids"), liveStore(spark, g, Ivf))
  }

  /** Incremental IVF maintenance — the daily-embedding-ingest path: new
    * vectors are assigned to the EXISTING centroids (no retrain;
    * standard IVF practice until centroid drift warrants a rebuild —
    * recall on appended data degrades gracefully with drift, never
    * collapses, since assignment and probe share the same centroids)
    * and appended to the cell-partitioned assignment store
    * ([[appendToIndex]]). Returns the appended count. */
  def appendToIvfIndex(spark: SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      maxRowsPerWriteTask: Long = 0, ingestMicros: Long = -1L): Long =
    appendToIndex(spark, path, Ivf, "appendToIvfIndex",
        maxRowsPerWriteTask, ingestMicros)(g =>
      assignRows(newVecs, idCol, vecCol, Gen.read(spark, s"$g/centroids")))

  /** Compact the appended IVF cell store ([[compactIndex]]): every cell
    * rewrites to a single file with tombstoned rows dropped, centroids
    * and the drift baseline carried byte-for-byte. The single-
    * maintenance-writer rule is ENFORCED by the maintenance marker: an
    * [[appendToIvfIndex]] racing this compaction fails loudly at its
    * fence check instead of committing rows the generation flip would
    * silently obsolete. Returns the number of rows in the compacted
    * store. */
  def compactIvfIndex(spark: SparkSession, path: String,
      maxRowsPerWriteTask: Long = 0): Long =
    compactIndex(spark, path, Ivf, maxRowsPerWriteTask)

  /** The action [[ivfDriftReport]] triggers — retrain the index IN
    * PLACE, crash-safely, from the store's own vectors (the cell store
    * keeps the normalized corpus, so no external corpus is needed):
    * read the store's rows, retrain centroids (optionally with
    * full-corpus Lloyd refinement), re-assign with the map-only
    * kernel, and write a COMPLETE new index (centroids + cell store +
    * frozen drift baseline) as the NEXT GENERATION ([[rewriteIndex]]) —
    * the three datasets flip together, so a crash never leaves mixed-
    * generation centroids/baseline. The store read happens INSIDE the
    * rewrite callback and is localCheckpointed so the new index derives
    * from a materialized snapshot. Tombstoned rows are excluded from the
    * retrain corpus AND never copied into the new store, so the rebuild
    * IS a physical delete; ingest ages carry over. Returns the rebuilt
    * row count. */
  def rebuildIvfIndex(spark: SparkSession, path: String,
      nCentroids: Int = 16, kmeansIters: Int = 4, refineIters: Int = 0,
      maxRowsPerWriteTask: Long = 0): Long =
    rewriteIndex(spark, path, Ivf, "ann:rebuild") { (old, g) =>
      val corpus = liveStore(spark, old, Ivf)
        .select(col("neighbor_id"), col("cv")).localCheckpoint()
      writeIvfIndexInto(
        buildIvfIndex(corpus, "neighbor_id", "cv", nCentroids,
          kmeansIters, refineIters),
        g, maxRowsPerWriteTask)
      carryIngestLog(spark, old, g)
    }

  /** Centroid-drift report — the rebuild trigger [[appendToIvfIndex]]'s
    * frozen-centroid contract needs: recall on appended data degrades
    * gracefully as the data distribution drifts away from the trained
    * centroids, and THIS is the metric that says when to pay for the
    * rebuild. Per cell the batch lands in, compares the batch's
    * assignment quality (n, mean and exact p10 assigned cosine) against
    * the BUILD-TIME per-cell baseline ([[cellBaseline]] over the
    * build assignment here; the frozen `baseline` dataset in the
    * persisted form). `mean_drift` = base mean − batch mean and
    * `p10_drift` = base p10 − batch p10 (the tail's drift — a batch can
    * hold its mean while its worst decile degrades): positive and
    * growing ⇒ the batch fits its cells worse than the build corpus
    * did ⇒ rebuild when it crosses your tolerance. Aggregates run over
    * the RAW cosines and only the outputs round to 6 — pre-rounding the
    * inputs MANUFACTURES half-boundary means (the average of 6-decimal
    * values over a round n lands exactly on .5e-7, where decimal DuckDB
    * and double-based Spark round apart; measured on the very first
    * fixture cell) while raw means sit a cross-engine-safe ~1e-15 off
    * any boundary. Cost: THIS in-memory overload re-derives
    * [[cellBaseline]] from `index._2` on every call — corpus cost per
    * report (localCheckpoint the assignment first when calling it
    * repeatedly); the ∝-batch cost claim belongs to the persisted
    * overload below, which reads the frozen ≤ nCentroids-row baseline
    * instead of recomputing it. */
  def ivfDriftReport(index: (DataFrame, DataFrame), batch: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    driftAgainst(cellBaseline(index._1, index._2), index._1, batch,
      idCol, vecCol)

  /** [[ivfDriftReport]] against a persisted index — the form a daily
    * ingest job runs after every append. Reads the FROZEN build-time
    * `baseline` dataset [[saveIvfIndex]] wrote (never the appended
    * store: re-deriving the baseline from a store that already contains
    * the drifted batches would let each append pull the baseline toward
    * the drift and mask exactly the gradual degradation the monitor
    * exists to catch — and would cost a corpus-size scan per check
    * instead of nCentroids rows). An index without the baseline (saved
    * before the drift monitor existed) fails with a pointer to
    * [[rebuildIvfIndex]] instead of a raw path-not-found. */
  def ivfDriftReport(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val g = genDir(spark, path)
    val base = new org.apache.hadoop.fs.Path(s"$g/baseline")
    if (!base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(base))
      throw new IllegalStateException(
        s"ivfDriftReport: $path has no baseline/ dataset — an index " +
          "layout from before the drift monitor, which this code does " +
          "not write; it was left untouched. Rebuild it with " +
          "Similarity.rebuildIvfIndex(spark, path), which writes a " +
          "fresh baseline.")
    driftAgainst(Gen.read(spark, s"$g/baseline"),
      Gen.read(spark, s"$g/centroids"), batch, idCol, vecCol)
  }

  /** Shared finish of both [[ivfDriftReport]] forms: argmax-assign the
    * batch against the frozen centroids, profile per cell, left-join
    * the build-time baseline. */
  private def driftAgainst(base: DataFrame, cents: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // the SAME argmax the store uses (assignCells — one home for the
    // similarity-desc/cent_id tiebreak) with the winning similarity kept,
    // profiled by the same aggregate as the baseline
    val bp = cellProfile(
      assignRows(batch, idCol, vecCol, cents, keepSim = true)
        .select(col("cell"), col("cent_sim").as("cos")),
      "batch")
    // A batch vector can argmax into a cell that attracted ZERO build
    // corpus rows (possible: centroids train on a sample); such a cell
    // has no baseline, so its drifts are kept NULL — deliberately, not
    // silently — and flagged with has_baseline = false. Weighted-drift
    // consumers MUST filter on the flag: summing a NULL numerator while
    // keeping batch_n in the denominator biases the headline metric
    // toward zero (every in-repo example filters; pinned by a spec).
    bp.join(base, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        col("base_mean_cos").isNotNull.as("has_baseline"),
        col("base_mean_cos"), col("base_p10_cos"),
        col("batch_n"), col("batch_mean_cos"), col("batch_p10_cos"),
        round(col("base_mean_cos") - col("batch_mean_cos"), 6)
          .as("mean_drift"),
        round(col("base_p10_cos") - col("batch_p10_cos"), 6)
          .as("p10_drift"))
  }

  /** IVF top-k from a (possibly loaded) index.
    *
    * Join-shape note: when the index is the PERSISTED cell-partitioned
    * store, the probe side stays broadcast-eligible — that is what
    * feeds Spark's dynamic partition pruning into the store scan
    * (AnnPlanPinsSpec-pinned), the low-nProbe production serve. For an
    * IN-MEMORY index the probe side is explicitly co-partitioned on
    * `cell` instead: there is no partitioned scan to prune, and a
    * broadcast join here is the degenerate case — one hash key per
    * cell with the whole probe set chained under it (a full-probe
    * serve walks every chain per corpus row; measured 6× the serve
    * time of the shuffled equi-join on the t50 shape, because the
    * probe side's static size estimate is ~100× under the exploded
    * reality and the planner broadcasts what it should shuffle). */
  def ivfTopKFromIndex(index: (DataFrame, DataFrame), queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 2): DataFrame =
    Fs.labeled(queries.sparkSession, "ann:serve") {
      val (cents, assigned) = index
      val q0 = probeRows(queries, idCol, vecCol, cents, nProbe)
      val q = if (isCellPartitionedScan(assigned)) q0
        else q0.repartition(col("cell"))
      cosineTopK(assigned.join(q, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id")), k)
    }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 2,
      kmeansIters: Int = 4): DataFrame =
    ivfTopKFromIndex(
      buildIvfIndex(corpus, idCol, vecCol, nCentroids, kmeansIters),
      queries, idCol, vecCol, k, nProbe)

  /** Recall probe for a persisted IVF index ([[recallProbe]]): the
    * query sample is drawn from the store itself, and full probe ≡
    * exact brute force over the store (the equivalence t52's oracle
    * pins). Pair it with [[ivfDriftReport]] to calibrate "your
    * tolerance" in measured recall instead of cosine points. */
  def ivfRecallProbe(spark: SparkSession, path: String, sampleN: Int = 64,
      k: Int = 10, nProbes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val idx = loadIvfIndex(spark, path)
    recallProbe(spark, idx._1,
        idx._2.select(col("neighbor_id").as("vid"), col("cv")), "vid",
        sampleN, k, nProbes)((q, p) =>
      ivfTopKFromIndex(idx, q, "vid", "cv", k, nProbe = p))
  }

  /** The page-on-this operator for a persisted IVF index
    * ([[healthReport]]): the drift axis is [[ivfDriftReport]] against the
    * frozen baseline, recall comes from [[ivfRecallProbe]] at the serving
    * nProbe. The thresholds are the r14 calibration: drift 0.00005 ⇔
    * recall 0.9625 stays quiet, planted drift 0.663 ⇔ recall 0.75 pages
    * (both spec-pinned). Cost = one ∝-batch drift pass + the probe's
    * sampled serves + a zero-data-byte layout scan. */
  def ivfIndexHealthReport(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String, sampleN: Int = 64,
      k: Int = 10, nProbe: Int = 2, maxP10Drift: Double = 0.05,
      minRecall: Double = 0.9, maxFilesPerCell: Int = 16): DataFrame =
    healthReport(spark, path,
      ivfDriftReport(spark, path, batch, idCol, vecCol),
      "mean_drift", "p10_drift", maxP10Drift,
      ivfRecallProbe(spark, path, sampleN, k, Seq(nProbe)),
      nProbe, k, minRecall, maxFilesPerCell)

  /** Trained PQ codebooks: `m` subspaces × `k` centroids × `dsub` dims,
    * flat layout `flat[((mi*k)+ki)*dsub + j]`. */
  case class PqCodebooks(m: Int, k: Int, dsub: Int, flat: Array[Double])

  /** Train product-quantization codebooks: per subspace, plain-L2 Lloyd
    * k-means over the SAME bounded [[deterministicSample]] as
    * [[trainCentroids]] — the corpus is never collected, only the
    * ≤`sampleSize` sample. */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, k: Int = 16, iters: Int = 4,
      sampleSize: Int = 2048, knownCount: Option[Long] = None)
      : PqCodebooks = {
    val sample = deterministicSample(corpus, idCol, vecCol, k,
      sampleSize, knownCount)
    require(sample.length >= k,
      s"sample ${sample.length} smaller than k=$k")
    val dim = sample(0).length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val flat = new Array[Double](m * k * dsub)
    for (mi <- 0 until m) {
      val sub = sample.map(_.slice(mi * dsub, (mi + 1) * dsub))
      var cents = sub.take(k).map(_.clone())
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var j = 0
        while (j < dsub) { val d = a(j) - b(j); s += d * d; j += 1 }
        s
      }
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Long](k)
        sub.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            val d = d2(v, cents(c)); if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += v(j); j += 1 }
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old else sums(c).map(_ / counts(c))
        }
      }
      for (ki <- 0 until k; j <- 0 until dsub)
        flat(((mi * k) + ki) * dsub + j) = cents(ki)(j)
    }
    PqCodebooks(m, k, dsub, flat)
  }

  private def bridged(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column = org.apache.spark.sql.GraftSqlBridge.column(e)
  private def expr(c: Column) =
    org.apache.spark.sql.GraftSqlBridge.expression(c)

  def pqEncodeCol(v: Column, cb: PqCodebooks): Column =
    bridged(graft.expressions.PqEncode(expr(v), cb.flat, cb.m, cb.k))
  def pqLutCol(q: Column, cb: PqCodebooks): Column =
    bridged(graft.expressions.PqLut(expr(q), cb.flat, cb.m, cb.k))
  def pqAdcCol(codes: Column, lut: Column, cb: PqCodebooks): Column =
    bridged(graft.expressions.PqAdc(expr(codes), expr(lut), cb.k))

  /** Build the PQ index: codebooks + the corpus encoded to `m`-int code
    * words — `m` ints instead of `dim` floats per vector (8× to 32×
    * smaller scan at serve time; the full vectors are only touched again
    * to rerank fetched candidates). */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, k: Int = 16, iters: Int = 4): (PqCodebooks, DataFrame) = {
    val cb = trainPqCodebooks(corpus, idCol, vecCol, m, k, iters)
    (cb, vectorRows(corpus, idCol, vecCol)
      .select(col("neighbor_id"), pqEncodeCol(col("cv"), cb).as("codes")))
  }

  /** One-row codebook parquet table (shared by the PQ and IVF+PQ index
    * layouts). */
  private def writeCodebooks(cb: PqCodebooks, spark: SparkSession,
      path: String): Unit = {
    import spark.implicits._
    Seq((cb.m, cb.k, cb.dsub, cb.flat.toSeq))
      .toDF("m", "k", "dsub", "flat")
      .write.mode("overwrite").parquet(path)
  }

  private def readCodebooks(spark: SparkSession,
      path: String): PqCodebooks = {
    val r = Gen.read(spark, path).head()
    PqCodebooks(r.getAs[Int]("m"), r.getAs[Int]("k"),
      r.getAs[Int]("dsub"), r.getAs[Seq[Double]]("flat").toArray)
  }

  /** The serve's query rows for a PQ-coded store: a precomputed
    * per-query LUT ([[graft.expressions.PqLut]]), so the code-word scan
    * scores each pair with `m` table lookups. */
  private def withLut(q: DataFrame, cb: PqCodebooks): DataFrame =
    q.withColumn("lut", pqLutCol(col("qv"), cb))

  private def pqScore(cb: PqCodebooks): Column =
    pqAdcCol(col("codes"), col("lut"), cb)

  /** Persist a plain-PQ index: one-row codebook table + the encoded
    * corpus (`m` ints per vector — the serve-time scan reads codes, not
    * vectors). Deploys that serve PQ without coarse cells re-encode
    * nothing per session; mirror of [[saveIvfPqIndex]] minus the cell
    * layout. */
  def savePqIndex(index: (PqCodebooks, DataFrame), path: String,
      ingestMicros: Long = -1L): Unit = {
    val spark = index._2.sparkSession
    saveIndex(spark, path, Pq, ingestMicros) { g =>
      writeCodebooks(index._1, spark, s"$g/codebooks")
      index._2.write.mode("overwrite").parquet(s"$g/codes")
    }
  }

  /** Load a persisted plain-PQ index (tombstone-filtered, like every
    * load). */
  def loadPqIndex(spark: SparkSession,
      path: String): (PqCodebooks, DataFrame) = {
    val g = genDir(spark, path)
    (readCodebooks(spark, s"$g/codebooks"), liveStore(spark, g, Pq))
  }

  /** Incremental maintenance for the persisted plain-PQ index: new
    * vectors encode with the FROZEN codebooks (one codegen projection;
    * the [[ivfPqDriftReport]]-style rebuild decision belongs to the
    * cell-composed index — a flat PQ store re-encodes cheaply).
    * Returns the appended count. */
  def appendToPqIndex(spark: SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      ingestMicros: Long = -1L): Long =
    appendToIndex(spark, path, Pq, "appendToPqIndex", 0, ingestMicros) { g =>
      val cb = readCodebooks(spark, s"$g/codebooks")
      vectorRows(newVecs, idCol, vecCol)
        .select(col("neighbor_id"), pqEncodeCol(col("cv"), cb).as("codes"))
    }

  /** Compact the plain-PQ code store ([[compactIndex]]): tombstoned rows
    * physically dropped, the codebooks carried over. Returns the
    * compacted row count. */
  def compactPqIndex(spark: SparkSession, path: String): Long =
    compactIndex(spark, path, Pq)

  /** PQ top-k serve ([[rerankTopK]]): queries broadcast with a
    * precomputed per-query LUT; the code-word scan scores each pair with
    * `m` table lookups ([[graft.expressions.PqAdc]]); the top `rerank`
    * ADC candidates per query rerank by exact cosine. */
  def pqTopKFromIndex(index: (PqCodebooks, DataFrame), corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      rerank: Int = 32): DataFrame = {
    val (cb, codes) = index
    rerankTopK(codes, broadcast(withLut(queryRows(queries, idCol, vecCol),
      cb)), pqScore(cb), corpus, idCol, vecCol, k, rerank)
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 16, kCent: Int = 16,
      rerank: Int = 128): DataFrame =
    pqTopKFromIndex(buildPqIndex(corpus, idCol, vecCol, m, kCent),
      corpus, queries, idCol, vecCol, k, rerank)

  def sq8EncodeCol(v: Column): Column =
    bridged(graft.expressions.Sq8Encode(expr(v)))
  def sq8DotCol(q: Column, codes: Column): Column =
    bridged(graft.expressions.Sq8Dot(expr(q), expr(codes)))

  /** `rows`' `keys` plus the SQ8 code of their normalized `cv`:
    * (keys…, vmin, delta, codes). */
  private def sq8Rows(rows: DataFrame, keys: String*): DataFrame =
    rows.select(keys.map(col) :+ sq8EncodeCol(col("cv")).as("sq"): _*)
      .select(keys.map(col) ++ Seq(col("sq.vmin").as("vmin"),
        col("sq.delta").as("delta"), col("sq.codes").as("codes")): _*)

  /** The serve's query rows for an SQ8-coded store: a precomputed `Σq_j`
    * (queries are broadcast-tiny: the interpreted HOF sum is fine), so
    * the code scan scores each pair with the affine identity
    * `⟨q, x̂⟩ = vmin·Σq_j + Δ·Σ q_j·code_j` ([[sq8Score]]). */
  private def withQsum(q: DataFrame): DataFrame =
    q.withColumn("qsum", org.apache.spark.sql.functions
      .aggregate(col("qv"), lit(0.0), (a, x) => a + x))

  private def sq8Score: Column =
    col("vmin") * col("qsum") +
      col("delta") * sq8DotCol(col("qv"), col("codes"))

  /** Build the SQ8 index: per-vector int8 affine quantization
    * ([[graft.expressions.Sq8Encode]]) of the normalized corpus —
    * (neighbor_id, vmin, delta, codes). The TRAINING-FREE compression
    * tier: no codebooks, so nothing drifts and nothing rebuilds; the
    * scan reads 1 byte/dim (int codes in parquet dictionary-encode to
    * ~1 byte) + two doubles/vector instead of 8 bytes/dim — the right
    * first stop when PQ's 4–32× smaller codes aren't needed. */
  def buildSq8Index(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    sq8Rows(vectorRows(corpus, idCol, vecCol), "neighbor_id")

  def saveSq8Index(index: DataFrame, path: String,
      ingestMicros: Long = -1L): Unit =
    saveIndex(index.sparkSession, path, Sq8, ingestMicros)(g =>
      index.write.mode("overwrite").parquet(s"$g/codes"))

  def loadSq8Index(spark: SparkSession, path: String): DataFrame =
    liveStore(spark, genDir(spark, path), Sq8)

  /** Incremental maintenance for the persisted SQ8 index — the
    * training-free tier's whole selling point is that append is ONE
    * map-only encode projection: no codebooks to freeze, nothing
    * drifts, nothing needs retraining. Returns the appended count. */
  def appendToSq8Index(spark: SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      ingestMicros: Long = -1L): Long =
    appendToIndex(spark, path, Sq8, "appendToSq8Index", 0, ingestMicros)(
      _ => buildSq8Index(newVecs, idCol, vecCol))

  /** Compact the appended SQ8 code store ([[compactIndex]]): a new
    * generation rewritten to the session's default parallelism in files,
    * tombstoned rows physically dropped. Returns the compacted row
    * count. */
  def compactSq8Index(spark: SparkSession, path: String): Long =
    compactIndex(spark, path, Sq8)

  /** SQ8 top-k serve ([[rerankTopK]]): queries broadcast with a
    * precomputed `Σq`; the code scan scores each pair with the affine
    * identity (one int-weighted dot — [[graft.expressions.Sq8Dot]]); the
    * top `rerank` approximate candidates per query rerank by exact
    * cosine. */
  def sq8TopKFromIndex(index: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      rerank: Int = 32): DataFrame =
    rerankTopK(index, broadcast(withQsum(queryRows(queries, idCol, vecCol))),
      sq8Score, corpus, idCol, vecCol, k, rerank)

  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, rerank: Int = 32): DataFrame =
    sq8TopKFromIndex(buildSq8Index(corpus, idCol, vecCol), corpus,
      queries, idCol, vecCol, k, rerank)

  /** IVF×SQ8: the cheapest-to-MAINTAIN composed ANN tier. Coarse cells
    * bound WHICH rows are scored (the IVF equi-join + partition-pruned
    * store, exactly like IVF+PQ), SQ8 bounds the BYTES per row (1
    * byte/dim + two doubles — [[buildSq8Index]]'s affine codes), and
    * because the per-vector quantization is TRAINING-FREE, nothing
    * drifts but the centroids: the whole maintenance story is the
    * existing [[ivfDriftReport]] monitor + [[rebuildIvfSq8Index]] —
    * there are no codebooks to err-monitor, unlike IVF+PQ. Append is
    * one map-only assign+encode projection. The rerank contract is
    * q131's: with full probe and rerank ≥ corpus the serve equals
    * brute force exactly. */
  def buildIvfSq8Index(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, kmeansIters: Int = 4)
      : (DataFrame, DataFrame) = {
    val cents = trainCentroids(corpus, idCol, vecCol, nCentroids,
      kmeansIters)
    // cv from assignCells is already the normalized vector — encode it
    // directly (a second l2Normalize would perturb low bits)
    (cents, sq8Rows(assignRows(corpus, idCol, vecCol, cents),
      "neighbor_id", "cell").repartition(col("cell")))
  }

  /** Persist an IVF×SQ8 index: centroids + the code table partitioned
    * BY CELL through the shared [[writeCellStore]] discipline (probes
    * read only probed cells' partitions, each holding byte codes, not
    * vectors). No codebook table — SQ8 is training-free. */
  def saveIvfSq8Index(index: (DataFrame, DataFrame), path: String,
      maxRowsPerWriteTask: Long = 0, ingestMicros: Long = -1L): Unit =
    saveIndex(index._1.sparkSession, path, IvfSq8, ingestMicros)(g =>
      writeCellIndex(index, g, IvfSq8, maxRowsPerWriteTask))

  /** The frozen build-time drift baseline for a persisted IVF×SQ8
    * index — [[ivfDriftReport]]'s persisted overload reads it from
    * `$path/baseline`, so the EXISTING centroid-drift monitor covers
    * this index unchanged (the one drifting component is the
    * centroids). The code store keeps no raw vectors, so derive it
    * while the build corpus is in hand — right after
    * [[saveIvfSq8Index]], before any append (same soundness window as
    * [[writeIvfPqErrBaseline]]). */
  def writeIvfSq8Baseline(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    // a writer into the CURRENT generation — fenced like an append
    Fs.failIfUnderMaintenance(spark, path, "writeIvfSq8Baseline")
    writeIvfSq8BaselineInto(spark, genDir(spark, path), corpus, idCol,
      vecCol)
  }

  private def writeIvfSq8BaselineInto(spark: SparkSession, g: String,
      corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    val cents = Gen.read(spark, s"$g/centroids")
    cellBaseline(cents,
      assignRows(corpus, idCol, vecCol, cents).select(col("cell"), col("cv")))
      .coalesce(1).write.mode("overwrite").parquet(s"$g/baseline")
  }

  /** Load a persisted IVF×SQ8 index (tombstone-filtered, like every
    * load). */
  def loadIvfSq8Index(spark: SparkSession,
      path: String): (DataFrame, DataFrame) = {
    val g = genDir(spark, path)
    (Gen.read(spark, s"$g/centroids"), liveStore(spark, g, IvfSq8))
  }

  /** Incremental maintenance for the persisted IVF×SQ8 index: frozen
    * centroids assign, the training-free encode quantizes — ONE
    * map-only projection, nothing retrains, nothing to err-monitor.
    * Returns the appended count. */
  def appendToIvfSq8Index(spark: SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      maxRowsPerWriteTask: Long = 0, ingestMicros: Long = -1L): Long =
    appendToIndex(spark, path, IvfSq8, "appendToIvfSq8Index",
        maxRowsPerWriteTask, ingestMicros)(g =>
      sq8Rows(assignRows(newVecs, idCol, vecCol,
        Gen.read(spark, s"$g/centroids")), "neighbor_id", "cell"))

  /** Compact the appended IVF×SQ8 code store ([[compactIndex]]).
    * Returns the compacted row count. */
  def compactIvfSq8Index(spark: SparkSession, path: String,
      maxRowsPerWriteTask: Long = 0): Long =
    compactIndex(spark, path, IvfSq8, maxRowsPerWriteTask)

  /** [[rebuildIvfIndex]] for a persisted IVF×SQ8 index. The code store
    * keeps codes, not vectors, so the rebuild REQUIRES the corpus (the
    * frame serves rerank from) — retrains centroids on it (minus the
    * index's tombstones — deleted ids must not resurrect), re-encodes,
    * and swaps the whole dir (centroids + codes + baseline)
    * atomically. Returns the rebuilt row count. */
  def rebuildIvfSq8Index(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, kmeansIters: Int = 4,
      maxRowsPerWriteTask: Long = 0): Long =
    rewriteIndex(spark, path, IvfSq8, "ann:rebuild") { (old, g) =>
      val live = liveCorpus(spark, old, corpus, idCol)
      writeCellIndex(buildIvfSq8Index(live, idCol, vecCol, nCentroids,
        kmeansIters), g, IvfSq8, maxRowsPerWriteTask)
      writeIvfSq8BaselineInto(spark, g, live, idCol, vecCol)
      carryIngestLog(spark, old, g)
    }

  /** IVF×SQ8 top-k serve ([[rerankTopK]]): queries argmax into their
    * nProbe cells (the map-only kernel) and broadcast with a precomputed
    * Σq; candidate generation is the cell EQUI-join against the
    * (possibly partition-pruned) code store; scoring is the SQ8 affine
    * identity. Full probe + rerank ≥ corpus ≡ brute force (spec-pinned,
    * the q131 contract). */
  def ivfSq8TopKFromIndex(index: (DataFrame, DataFrame),
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4,
      rerank: Int = 32): DataFrame =
    rerankTopK(index._2,
      broadcast(withQsum(probeRows(queries, idCol, vecCol, index._1,
        nProbe))),
      sq8Score, corpus, idCol, vecCol, k, rerank)

  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      rerank: Int = 32): DataFrame =
    ivfSq8TopKFromIndex(
      buildIvfSq8Index(corpus, idCol, vecCol, nCentroids),
      corpus, queries, idCol, vecCol, k, nProbe, rerank)

  /** [[ivfPqRecallProbe]] for a persisted IVF×SQ8 index: recall@k per
    * nProbe against the full-probe serve at the same `rerank`, on a
    * deterministic query sample from the caller's corpus (the code
    * store keeps affine codes, not raw vectors — same contract as the
    * PQ probe). */
  def ivfSq8RecallProbe(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String, sampleN: Int = 64,
      k: Int = 10, nProbes: Seq[Int] = Seq(1, 2, 4, 8),
      rerank: Int = 128): DataFrame = {
    val idx = loadIvfSq8Index(spark, path)
    recallProbe(spark, idx._1, corpus, idCol, sampleN, k, nProbes)(
      (q, p) => ivfSq8TopKFromIndex(idx, corpus, q, idCol, vecCol, k,
        nProbe = p, rerank = rerank))
  }

  /** [[ivfIndexHealthReport]] for a persisted IVF×SQ8 index: the drift
    * axis is the PLAIN centroid monitor ([[ivfDriftReport]] against the
    * [[writeIvfSq8Baseline]] baseline — nothing else can drift in this
    * tier), recall from [[ivfSq8RecallProbe]] at the serving
    * (nProbe, rerank). */
  def ivfSq8IndexHealthReport(spark: SparkSession, path: String,
      corpus: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      sampleN: Int = 64, k: Int = 10, nProbe: Int = 2, rerank: Int = 128,
      maxP10Drift: Double = 0.05, minRecall: Double = 0.9,
      maxFilesPerCell: Int = 16): DataFrame =
    healthReport(spark, path,
      ivfDriftReport(spark, path, batch, idCol, vecCol),
      "mean_drift", "p10_drift", maxP10Drift,
      ivfSq8RecallProbe(spark, path, corpus, idCol, vecCol, sampleN, k,
        Seq(nProbe), rerank),
      nProbe, k, minRecall, maxFilesPerCell)

  /** IVF+PQ: the composed large-scale ANN index (coarse cells bound WHICH
    * rows are scored, PQ codes bound the BYTES each scoring touches —
    * the FAISS IVFPQ layout, re-expressed as DataFrames). The cell join
    * at serve time is an EQUI-join on `cell`, so candidate generation is
    * proportional to the probed cells, not the corpus; codes are PQ'd
    * raw vectors (not residuals — keeps the exact-rerank contract and
    * the full-probe ≡ brute-force property; residual encoding would buy
    * finer quantization at the cost of both). */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 16, k: Int = 16)
      : (DataFrame, PqCodebooks, DataFrame) = {
    // both trainers sample the same corpus: count it once, not per trainer
    val n = Some(corpus.count())
    val cents = trainCentroids(corpus, idCol, vecCol, nCells, knownCount = n)
    val cb = trainPqCodebooks(corpus, idCol, vecCol, m, k, knownCount = n)
    // same cell layout as buildIvfIndex (see the note there): one
    // corpus-row exchange shared by the save's write repartition and
    // the serve join's per-cell parallelism
    (cents, cb, pqCellRows(assignRows(corpus, idCol, vecCol, cents), cb)
      .repartition(col("cell")))
  }

  /** Assigned (neighbor_id, cv, cell) rows as the IVF+PQ code rows. */
  private def pqCellRows(assigned: DataFrame, cb: PqCodebooks): DataFrame =
    assigned.select(col("neighbor_id"), col("cell"),
      pqEncodeCol(col("cv"), cb).as("codes"))

  /** Persist an IVF+PQ index: centroids + one-row codebook table +
    * the code table partitioned BY CELL (probes read only the probed
    * cells' partitions — and each partition holds m ints per vector,
    * not the vectors). The code table goes through the same
    * [[writeCellStore]] discipline as the IVF store (one file per cell
    * per write, salted escape hatch for hot cells). */
  def saveIvfPqIndex(index: (DataFrame, PqCodebooks, DataFrame),
      path: String, maxRowsPerWriteTask: Long = 0,
      ingestMicros: Long = -1L): Unit =
    saveIndex(index._1.sparkSession, path, IvfPq, ingestMicros)(g =>
      writeIvfPqIndexInto(index, g, maxRowsPerWriteTask))

  private def writeIvfPqIndexInto(
      index: (DataFrame, PqCodebooks, DataFrame), g: String,
      maxRowsPerWriteTask: Long): Unit = {
    val (cents, cb, codes) = index
    writeCodebooks(cb, cents.sparkSession, s"$g/codebooks")
    writeCellIndex((cents, codes), g, IvfPq, maxRowsPerWriteTask)
  }

  def loadIvfPqIndex(spark: SparkSession,
      path: String): (DataFrame, PqCodebooks, DataFrame) = {
    val g = genDir(spark, path)
    (Gen.read(spark, s"$g/centroids"),
      readCodebooks(spark, s"$g/codebooks"), liveStore(spark, g, IvfPq))
  }

  /** Incremental maintenance for the persisted IVF+PQ index — the
    * lifecycle twin of [[appendToIvfIndex]] for the memory-bounded
    * index a 100 TB deployment actually serves from: new vectors are
    * assigned with the FROZEN centroids and encoded with the FROZEN
    * codebooks (no retrain — the [[ivfPqDriftReport]] quantization-
    * error monitor says when a rebuild is due), then appended to the
    * cell-partitioned code store. Assignment + encode are one map-only
    * projection (literal argmax + codegen [[graft.expressions.PqEncode]]).
    * Returns the appended count. */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      maxRowsPerWriteTask: Long = 0, ingestMicros: Long = -1L): Long =
    appendToIndex(spark, path, IvfPq, "appendToIvfPqIndex",
        maxRowsPerWriteTask, ingestMicros) { g =>
      val cents = Gen.read(spark, s"$g/centroids")
      val cb = readCodebooks(spark, s"$g/codebooks")
      pqCellRows(assignRows(newVecs, idCol, vecCol, cents), cb)
    }

  /** Compact the appended IVF+PQ code store ([[compactIndex]]): every
    * cell rewrites to one file with tombstoned rows physically dropped,
    * centroids/codebooks/baselines carried over, served rows untouched.
    * Returns the compacted row count. */
  def compactIvfPqIndex(spark: SparkSession, path: String,
      maxRowsPerWriteTask: Long = 0): Long =
    compactIndex(spark, path, IvfPq, maxRowsPerWriteTask)

  /** [[rebuildIvfIndex]] for a persisted IVF+PQ index. The code store
    * keeps codes, not vectors, so the rebuild REQUIRES the corpus (the
    * same frame serves rerank from) — retrains centroids AND codebooks
    * on it (minus the index's tombstones — deleted ids must not
    * resurrect), re-encodes, and swaps the whole index dir (centroids +
    * codebooks + code store + error baseline) atomically. Returns the
    * rebuilt code-row count. */
  def rebuildIvfPqIndex(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String, nCells: Int = 16,
      m: Int = 16, k: Int = 16, maxRowsPerWriteTask: Long = 0): Long =
    rewriteIndex(spark, path, IvfPq, "ann:rebuild") { (old, g) =>
      val live = liveCorpus(spark, old, corpus, idCol)
      writeIvfPqIndexInto(buildIvfPqIndex(live, idCol, vecCol, nCells, m,
        k), g, maxRowsPerWriteTask)
      writeIvfPqErrBaselineInto(spark, g, live, idCol, vecCol)
      carryIngestLog(spark, old, g)
    }

  /** Per-row PQ quantization error: `1 − ⟨v, recon(v)⟩` via the ADC
    * identity (the LUT of v against its own code word sums exactly
    * ⟨v, recon(v)⟩) — 0 when the codebooks reproduce the vector
    * perfectly, growing as the vector leaves the space the codebooks
    * were trained on. All three kernels are codegen'd natives. */
  private def pqErrCol(cv: Column, cb: PqCodebooks): Column =
    lit(1.0) - pqAdcCol(pqEncodeCol(cv, cb), pqLutCol(cv, cb), cb)

  /** (cell, err) rows of `vecs` under generation `g`'s frozen centroids
    * and codebooks — both sides of the quantization-error drift
    * comparison. */
  private def pqErrRows(spark: SparkSession, g: String, vecs: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cents = Gen.read(spark, s"$g/centroids")
    val cb = readCodebooks(spark, s"$g/codebooks")
    assignRows(vecs, idCol, vecCol, cents)
      .select(col("cell"), pqErrCol(col("cv"), cb).as("err"))
  }

  /** Write the FROZEN build-time quantization-error baseline for a
    * persisted IVF+PQ index: per cell, (base_n, mean, exact-p90 of the
    * PQ error over the build corpus) — the PQ analog of the IVF drift
    * baseline, same frozen-baseline discipline (comparing batches
    * against a store-derived baseline would let each drifted append
    * mask the next). The code store keeps no vectors, so the error can
    * only be derived while the ORIGINAL build corpus is in hand — call
    * this right after [[saveIvfPqIndex]], before any append lands.
    * p90, not p10: error grows with drift, so the TAIL of interest is
    * the high end.
    * Corpus-side p90 routes through the bounded-memory exact selection
    * for the same hot-cell-OOM reason as [[cellBaseline]]. */
  def writeIvfPqErrBaseline(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    // a writer into the CURRENT generation — fenced like an append
    Fs.failIfUnderMaintenance(spark, path, "writeIvfPqErrBaseline")
    writeIvfPqErrBaselineInto(spark, genDir(spark, path), corpus,
      idCol, vecCol)
  }

  private def writeIvfPqErrBaselineInto(spark: SparkSession, g: String,
      corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    val err = pqErrRows(spark, g, corpus, idCol, vecCol)
    err.groupBy(col("cell"))
      .agg(count(lit(1)).as("base_n"),
        round(avg(col("err")), 6).as("base_mean_err"))
      .join(graft.operators.Percentiles.groupedRangeExact(err,
        Seq("cell"), "err", Seq((0.90, "base_p90_err")), roundTo = 6),
        Seq("cell"))
      .coalesce(1).write.mode("overwrite").parquet(s"$g/err_baseline")
  }

  /** Quantization-error drift report for a persisted IVF+PQ index —
    * the rebuild trigger [[appendToIvfPqIndex]]'s frozen-parameter
    * contract needs (the PQ analog of [[ivfDriftReport]]): per cell
    * the batch lands in, the batch's PQ error profile (n, mean,
    * exact p90) against the FROZEN build-time baseline.
    * `mean_err_drift` = batch mean − base mean and `p90_err_drift` =
    * batch p90 − base p90 (note the sign is flipped vs the cosine
    * drifts: ERROR RISES as data leaves the trained codebook space, so
    * positive-and-growing still means "rebuild when it crosses your
    * tolerance"). Cells without build-corpus rows carry
    * has_baseline = false and NULL drifts — filter on the flag before
    * weighting, exactly like the IVF report. Cost ∝ batch. */
  def ivfPqDriftReport(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val g = genDir(spark, path)
    val base = new org.apache.hadoop.fs.Path(s"$g/err_baseline")
    if (!base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(base))
      throw new IllegalStateException(
        s"$path has no err_baseline/ dataset. Run " +
          "Similarity.writeIvfPqErrBaseline(spark, path, buildCorpus, " +
          "idCol, vecCol) right after saveIvfPqIndex — sound only " +
          "while no drifted appends have landed; if they have, rebuild " +
          "+ re-save the index.")
    val bp = pqErrRows(spark, g, batch, idCol, vecCol)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("batch_n"),
        round(avg(col("err")), 6).as("batch_mean_err"),
        round(org.apache.spark.sql.functions
          .expr("percentile(err, 0.90)"), 6).as("batch_p90_err"))
    bp.join(Gen.read(spark, s"$g/err_baseline"), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        col("base_mean_err").isNotNull.as("has_baseline"),
        col("base_mean_err"), col("base_p90_err"),
        col("batch_n"), col("batch_mean_err"), col("batch_p90_err"),
        round(col("batch_mean_err") - col("base_mean_err"), 6)
          .as("mean_err_drift"),
        round(col("batch_p90_err") - col("base_p90_err"), 6)
          .as("p90_err_drift"))
  }

  /** [[ivfIndexHealthReport]] for a persisted IVF+PQ index: the drift
    * axis is the QUANTIZATION-ERROR monitor ([[ivfPqDriftReport]] —
    * error rises with drift, so the weighted `w_p90_err_drift` pages
    * when it EXCEEDS `maxP90ErrDrift`), recall comes from
    * [[ivfPqRecallProbe]] at the serving (nProbe, rerank). Needs the
    * corpus (the frame serves rerank from), like every PQ-side
    * operator. */
  def ivfPqIndexHealthReport(spark: SparkSession, path: String,
      corpus: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      sampleN: Int = 64, k: Int = 10, nProbe: Int = 2, rerank: Int = 128,
      maxP90ErrDrift: Double = 0.05, minRecall: Double = 0.9,
      maxFilesPerCell: Int = 16): DataFrame =
    healthReport(spark, path,
      ivfPqDriftReport(spark, path, batch, idCol, vecCol),
      "mean_err_drift", "p90_err_drift", maxP90ErrDrift,
      ivfPqRecallProbe(spark, path, corpus, idCol, vecCol, sampleN, k,
        Seq(nProbe), rerank),
      nProbe, k, minRecall, maxFilesPerCell)

  /** [[ivfRecallProbe]] for a persisted IVF+PQ index. The code store
    * keeps no raw vectors, so the probe samples its deterministic query
    * set from the CALLER's corpus (the same frame the serve reranks
    * against; queries keep the corpus schema, because the serve reads
    * idCol/vecCol from both) and measures recall@k per nProbe against
    * the full-probe serve at the SAME `rerank` — isolating the nProbe
    * axis, which is the knob the drift monitor calibrates (rerank
    * sensitivity is the separate, spec-pinned `rerank ≥ corpus ≡ brute
    * force` contract). */
  def ivfPqRecallProbe(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String, sampleN: Int = 64,
      k: Int = 10, nProbes: Seq[Int] = Seq(1, 2, 4, 8),
      rerank: Int = 128): DataFrame = {
    val idx = loadIvfPqIndex(spark, path)
    recallProbe(spark, idx._1, corpus, idCol, sampleN, k, nProbes)(
      (q, p) => ivfPqTopKFromIndex(idx, corpus, q, idCol, vecCol, k,
        nProbe = p, rerank = rerank))
  }

  /** IVF+PQ top-k serve ([[rerankTopK]]): queries argmax into their
    * nProbe cells and broadcast with a per-query LUT; candidates are
    * the cell EQUI-join against the (possibly partition-pruned) code
    * store, scored by ADC and reranked by exact cosine. */
  def ivfPqTopKFromIndex(index: (DataFrame, PqCodebooks, DataFrame),
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4,
      rerank: Int = 128): DataFrame = {
    val (cents, cb, codes) = index
    rerankTopK(codes,
      broadcast(withLut(probeRows(queries, idCol, vecCol, cents, nProbe),
        cb)),
      pqScore(cb), corpus, idCol, vecCol, k, rerank)
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, m: Int = 16,
      kCent: Int = 16, nProbe: Int = 4, rerank: Int = 128): DataFrame =
    ivfPqTopKFromIndex(buildIvfPqIndex(corpus, idCol, vecCol, nCells, m,
      kCent), corpus, queries, idCol, vecCol, k, nProbe, rerank)

  /** Map-only nearest-centroid id: the (bounded, driver-resident)
    * centroid array folds into ONE literal argmax expression — a pure
    * projection with no crossJoin, no window, no shuffle. Tie-break:
    * lowest cent_id (encoded as the negated id so the lexicographic
    * struct max picks it). For very large centroid counts (≫10³) prefer
    * the broadcast-join [[assignCells]]; a literal that big bloats the
    * plan. */
  private def nearestCellExpr(cents: Array[Array[Double]],
      v: Column): Column =
    -nearestCellStruct(cents, v).getField("neg_id")

  /** The (similarity, -cell) argmax struct behind [[nearestCellExpr]] —
    * exposed as a struct so callers that also need the winning
    * similarity (refinement, outlier audit) don't score twice. Routed
    * through the compact [[graft.expressions.NearestCells]] kernel
    * (index position = centroid id), same values and tiebreak as the
    * former k-literal `array_max` spelling without its plan bloat. */
  private def nearestCellStruct(cents: Array[Array[Double]],
      v: Column): Column =
    element_at(nearestCellsCol(
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }, v, 1), 1)

  /** Is this frame (under projections/filters) a scan of a parquet
    * dataset PARTITIONED BY `cell` — i.e. a persisted cell store whose
    * serve join should stay broadcast-shaped for dynamic partition
    * pruning? (See the join-shape note on [[ivfTopKFromIndex]].) */
  private def isCellPartitionedScan(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        l.relation
          .asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .partitionSchema.fieldNames.contains("cell")
    }.getOrElse(false)

  /** Collect a centroid frame (cent_id, centv) to a dense driver array,
    * index == cent_id. K rows only — bounded by nCentroids, never the
    * corpus. */
  private def collectCents(cents: DataFrame): Array[Array[Double]] = {
    val spark = cents.sparkSession
    import spark.implicits._
    val rows = cents.select(col("cent_id").cast("long"),
        col("centv").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(rows.zipWithIndex.forall { case ((id, _), i) => id == i },
      "centroid ids must be dense 0..k-1 (trainCentroids produces this)")
    rows.map(_._2)
  }

  /** Map-only nearest-centroid assignment that also returns the winning
    * similarity: (idCol, cell, cent_sim). Centroids fold into a codegen
    * literal argmax, so the corpus never shuffles — the 100-TB
    * assignment pass is a narrow scan. */
  def assignWithSim(corpus: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val centArr = collectCents(cents)
    corpus.select(col(idCol), l2Normalize(col(vecCol)).as("cv"))
      .withColumn("best", nearestCellStruct(centArr, col("cv")))
      .select(col(idCol), (-col("best.neg_id")).as("cell"),
        col("best.s").as("cent_sim"))
  }

  /** Distributed Lloyd refinement — the 100-TB complement to
    * [[trainCentroids]]'s bounded-sample seeding. The sampled trainer
    * sees ≤`sampleSize` rows, which is the right cost/quality point for
    * IVF cells on weakly-clustered data (see the recall notes there),
    * but when the corpus IS clustered, full-corpus Lloyd iterations
    * recover the true cluster means the sample can only approximate.
    *
    * Each iteration is exactly two narrow steps:
    *   1. assignment — centroids fold into a literal codegen argmax
    *      ([[nearestCellStruct]]): a map-only scan, the corpus never
    *      shuffles;
    *   2. re-estimation — per-cell vector mean via MLlib `Summarizer`
    *      (a partial-aggregating TypedImperativeAggregate: each task
    *      contributes one k×d partial, so the shuffle carries
    *      partitions×k vector sums, never rows).
    * Driver state is k×d (the centroid table) per iteration. At 100 TB
    * the caller caches/checkpoints `corpus` once; every iteration then
    * reads the cached normalized projection. Empty cells keep their old
    * centroid (standard Lloyd practice; no respawn heuristic — the
    * deterministic seed makes death rare and reproducible). Means are
    * re-normalized to the unit sphere (spherical k-means, matching the
    * trainer and the dot-product assignment metric). */
  def refineCentroids(corpus: DataFrame, cents: DataFrame,
      vecCol: String, iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val normed = corpus.select(l2Normalize(col(vecCol)).as("cv"))
    var cur = collectCents(cents)
    for (_ <- 1 to math.max(0, iters)) {
      val byCell = normed
        .withColumn("cell", nearestCellExpr(cur, col("cv")))
        .groupBy(col("cell"))
        .agg(Summarizer.mean(array_to_vector(col("cv"))).as("mv"))
        .select(col("cell"), vector_to_array(col("mv")).as("mv"))
        .as[(Long, Array[Double])].collect().toMap
      cur = cur.zipWithIndex.map { case (old, c) =>
        byCell.get(c.toLong) match {
          case Some(m) =>
            val norm = math.sqrt(m.map(x => x * x).sum)
            if (norm > 0) m.map(_ / norm) else old
          case None => old
        }
      }
    }
    cur.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("cent_id", "centv")
  }

  /** Embedding-space outlier audit — the data-poisoning / mis-embedded
    * document detector: vectors whose similarity to their OWN cluster
    * centroid sits far below the cluster's norm. Cluster with the
    * deterministic trainer + distributed Lloyd refinement, assign with
    * the map-only argmax, then z-score each vector against its cell's
    * (mean, stddev) of centroid similarity and keep the global `topN`
    * most anomalous.
    *
    * Scale shape: assignment is a narrow scan; the per-cell stats table
    * is k rows (broadcast back); the final cut is a
    * TakeOrderedAndProject — no global sort materializes. Cells with
    * degenerate spread (stddev ≈ 0: singleton or all-identical cells)
    * z-score to 0 rather than ±∞. */
  def embeddingOutliers(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 8, refineIters: Int = 2, topN: Int = 20)
      : DataFrame = {
    val cents = refineCentroids(corpus,
      trainCentroids(corpus, idCol, vecCol, nCentroids),
      vecCol, refineIters)
    val assigned = assignWithSim(corpus, cents, idCol, vecCol)
    val stats = assigned.groupBy(col("cell"))
      .agg(avg(col("cent_sim")).as("mu"),
        stddev_samp(col("cent_sim")).as("sd"))
    assigned.join(broadcast(stats), Seq("cell"))
      .withColumn("z", when(col("sd") > 1e-12,
        (col("mu") - col("cent_sim")) / col("sd")).otherwise(lit(0.0)))
      .orderBy(col("z").desc, col(idCol))
      .limit(topN)
      .select(col(idCol), col("cell"),
        round(col("cent_sim"), 6).as("cent_sim"),
        round(col("z"), 4).as("z"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * public): cluster the embedding space with the deterministic
    * spherical k-means trainer ([[trainCentroids]]), then compare
    * vectors ONLY within their cluster cell — cells bound the candidate
    * set the way LSH bands do for text, turning the O(n²) cosine search
    * into Σ|cell|² with a map-only assignment stage
    * ([[nearestCellExpr]]: centroids fold into a literal argmax — the
    * corpus never shuffles for assignment, only the within-cell
    * equi-join shuffles, on an 8-byte cell key, and AQE can skew-split
    * a hot cell). At 100 TB size `nCentroids` ∝ √corpus so cells stay
    * bounded, and train once / reuse across batches.
    *
    * Exactness: identical vectors always share a cell (same argmax), so
    * EXACT duplicates have recall 1; near-dup recall follows SemDeDup's
    * premise that semantic duplicates cluster together. `nCentroids=1`
    * degenerates to the exact all-pairs search (pinned by a test).
    * Emits (vec_a, vec_b, cell, cos_sim), vec_a < vec_b.
    *
    * Hot-cell overflow guard (the MinHash mega-bucket pattern,
    * [[Dedup.lshCandidatesFromSignatures]]'s big-bucket route, applied
    * here): a semantically-degenerate corpus (everything identical) makes
    * ONE cell the whole corpus and the within-cell self-join a single
    * O(n²) join key. A cell census (≤ nCentroids rows to the driver)
    * splits routing: cells ≤ `maxCell` take the plain equi-join; cells
    * over it are SALTED — the left side splits into ceil(n/maxCell)
    * deterministic salt groups, the right side replicates across them, so
    * no task's probe side exceeds ~`maxCell` rows regardless of AQE skew
    * thresholds. Both routes emit identical pairs with identical rounding
    * (pinned by the adversarial spec), so the guard changes the PLAN,
    * never the result. The census adds one narrow aggregation pass. */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int = 16, kmeansIters: Int = 4,
      knownCount: Option[Long] = None, maxCell: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = trainCentroids(df, idCol, vecCol, nCentroids, kmeansIters,
      knownCount = knownCount)
      .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
    val assigned = df.select(col(idCol).as("id"),
        l2Normalize(col(vecCol)).as("nv"))
      .withColumn("cell", nearestCellExpr(cents, col("nv")))
    val l = assigned.select(col("cell"), col("id").as("vec_a"),
      col("nv").as("va"))
    val r = assigned.select(col("cell"), col("id").as("vec_b"),
      col("nv").as("vb"))
    def scored(joined: DataFrame): DataFrame = joined
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(dotCol(col("va"), col("vb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cell"), col("cos_sim"))
    // Cell census: nCentroids-bounded — never corpus-sized driver state.
    val hot = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().filter(_._2 > maxCell)
    if (hot.isEmpty) scored(l.join(r, Seq("cell")))
    else {
      val hotIds: Seq[Any] = hot.map(_._1).toSeq
      val smallPairs = scored(
        l.filter(!col("cell").isin(hotIds: _*))
          .join(r.filter(!col("cell").isin(hotIds: _*)), Seq("cell")))
      // salt widths: one tiny broadcast row per hot cell
      val widths = broadcast(hot.toSeq
        .map { case (c, n) => (c, ((n + maxCell - 1) / maxCell).toInt) }
        .toDF("cell", "nsalt"))
      val lh = l.filter(col("cell").isin(hotIds: _*))
        .join(widths, Seq("cell"))
        .withColumn("salt",
          pmod(xxhash64(col("vec_a")), col("nsalt")).cast("int"))
        .drop("nsalt")
      val rh = r.filter(col("cell").isin(hotIds: _*))
        .join(widths, Seq("cell"))
        .withColumn("salt", explode(sequence(lit(0), col("nsalt") - 1)))
        .drop("nsalt")
      smallPairs.unionByName(scored(lh.join(rh, Seq("cell", "salt"))))
    }
  }

  /** Ids to DROP under [[semanticNearDupPairs]] with the keep-lowest-id
    * policy (the SemDeDup dedup step: one survivor per semantic
    * duplicate pair). */
  def semanticDrops(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int = 16,
      maxCell: Int = 100000): DataFrame =
    semanticNearDupPairs(df, idCol, vecCol, threshold, nCentroids,
      maxCell = maxCell)
      .select(col("vec_b").as("dropped")).distinct()

  /** Mutual-kNN graph clustering — the density-based grouping step for
    * topic discovery and cluster-aware curation: an edge joins a and b
    * iff EACH appears in the other's top-k neighbor list (the mutual
    * filter kills hub vectors that would chain unrelated regions into
    * one blob — the standard failure of plain kNN-graph clustering),
    * then connected components label the groups. Vectors with no mutual
    * edge stay singletons labeled by their own id.
    *
    * This entry point's candidate stage is exact [[bruteForceTopK]]
    * (the oracle-able baseline — note it broadcasts the WHOLE corpus as
    * the query set and scores n² pairs, so it is test/oracle scale
    * only); at corpus scale call
    * [[mutualKnnClustersFromCandidates]] with [[ivfTopKFromIndex]]
    * output — same (query_id, rank, neighbor_id, cos_sim) contract, the
    * mutual filter and the component rounds are unchanged (the
    * [[hardNegativesFromCandidates]] precedent). `maxIter` bounds the
    * label-propagation rounds = mutual-graph diameter; raise it for
    * chain-shaped clusters deeper than the default 20
    * ([[graft.operators.Dedup.connectedComponents]] raises rather than
    * returning partial labels). */
  def mutualKnnClusters(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int = 20): DataFrame =
    mutualKnnClustersFromCandidates(df, idCol,
      bruteForceTopK(df, df, idCol, vecCol, k), maxIter)

  /** [[mutualKnnClusters]] over a caller-supplied kNN candidate frame —
    * the corpus-scale path. `candidates` must hold each query's top-k
    * list as (query_id, neighbor_id) rows ([[ivfTopKFromIndex]],
    * [[lshTopK]] and [[bruteForceTopK]] all emit this contract).
    * Everything here runs on the kNN EDGE list (≤ k·n rows of two ids,
    * never vectors): the mutual filter is one self-semi-join, and each
    * component round is a join + agg over surviving edges. */
  def mutualKnnClustersFromCandidates(df: DataFrame, idCol: String,
      candidates: DataFrame, maxIter: Int = 20): DataFrame = {
    val knn = candidates
      .select(col("query_id").as("a"), col("neighbor_id").as("b"))
    val ab = knn.filter(col("a") < col("b"))
    val ba = knn.filter(col("a") > col("b"))
      .select(col("b").as("a"), col("a").as("b"))
    val mutual = ab.join(ba, Seq("a", "b"), "left_semi")
    val labels = Dedup.connectedComponents(mutual, "a", "b", maxIter)
      .withColumnRenamed("node", "__node")
    df.select(col(idCol))
      .join(labels, col(idCol) === col("__node"), "left")
      .select(col(idCol),
        coalesce(col("lbl"), col(idCol)).as("cluster"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998,
    * public): greedily pick k items maximizing
    * λ·relevance − (1−λ)·max-cosine-to-selected — the diversity-aware
    * subset selection that de-redundifies retrieval results or seeds a
    * diverse demonstration set. Inherently sequential in k: each round
    * is ONE distributed argmax (TakeOrderedAndProject over the corpus)
    * with the selected vectors folded into the scoring expression as
    * literals (k-bounded, the centroid-argmax pattern), so cost is
    * k narrow scans and driver state is k vectors. For corpus-scale
    * selection prefer [[clusterBalancedSample]]; MMR's niche is small k
    * where per-pick optimality matters. Deterministic: score ties break
    * on lowest id; the corpus projection is localCheckpointed once so
    * the k scans don't recompute lineage. */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lambda: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
        l2Normalize(col(vecCol)).as("nv"),
        col(relCol).cast("double").as("rel"))
      .filter(col("id").isNotNull)
      .localCheckpoint()
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Array[Double])]
    var done = false
    while (picked.size < k && !done) {
      val already: Seq[Any] = picked.map(_._1).toSeq
      val cand =
        if (already.isEmpty) base else base.filter(!col("id").isin(already: _*))
      val maxSim =
        if (picked.isEmpty) lit(0.0)
        else picked.map(p => dotCol(col("nv"), typedLit(p._3.toSeq)): Column)
          .reduce((x, y) => greatest(x, y))
      val top = cand
        .withColumn("score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * maxSim)
        .orderBy(col("score").desc, col("id"))
        .limit(1)
        .select(col("id"), col("score"), col("nv"))
        .as[(Long, Double, Array[Double])]
        .collect()
      if (top.isEmpty) done = true else picked += top.head
    }
    picked.zipWithIndex
      // HALF_UP to 6 places — the repo-wide rounding convention (Spark
      // round()); math.rint's half-even would render a .5e-6-boundary
      // score differently from an equivalent plan-side round
      .map { case ((id, sc, _), i) =>
        (i + 1L, id, Percentiles.roundHalfUp(sc, 6)) }
      .toSeq.toDF("sel_rank", "vec_id", "mmr_score")
  }

  /** Sign-bucket LSH: bucket id = sign bits of `planes` SEEDED random
    * hyperplane projections (classic SimHash-style random projection —
    * deterministic for a given seed, so bucketing is reproducible across
    * runs/engines; each projection is one codegen'd [[DotProduct]] against
    * a literal plane vector). Candidates = corpus rows in the query's
    * bucket; then exact cosine + top-k within the bucket. Approximate:
    * recall < 1, cost ÷ 2^planes. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planeVecs = Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
    def bucket(v: Column): Column =
      (0 until planes).map { i =>
        when(dotCol(v, typedLit(planeVecs(i).toSeq)) >= 0, lit(1L << i))
          .otherwise(lit(0L)): Column
      }.reduce(_ + _)
    val q = broadcast(queryRows(queries, idCol, vecCol)
      .withColumn("bucket", bucket(col("qv"))))
    val c = vectorRows(corpus, idCol, vecCol)
      .withColumn("bucket", bucket(col("cv")))
    cosineTopK(c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }
}
