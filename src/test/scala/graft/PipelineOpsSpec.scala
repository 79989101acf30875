package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, Multimodal, Similarity}

/** Operator-level tests for the 100-TB pipeline extensions: text functions,
  * dedup family, similarity search, multimodal plumbing. Uses sf0.001
  * driver testdata (read-only) plus handcrafted micro-fixtures. */
class PipelineOpsSpec extends SparkTestBase {
  import SparkTestBase.session.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  test("hash60 matches the DuckDB-portable md5 value") {
    val v = spark.range(1).select(TextFunctions.hash60(lit("hello")))
      .head().getLong(0)
    // DuckDB: SELECT CAST(('0x' || substr(md5('hello'),1,15)) AS BIGINT)
    assert(v === 419982666956583591L)
  }

  test("curation: sampling/splits are stable under repartition, exhaustive") {
    // the property rand()-based sampling lacks: identical membership no
    // matter how the data is laid out
    val a = Curation.hashSample(docs, "doc_id", 3000)
      .select("doc_id")
    val b = Curation.hashSample(docs.repartition(7), "doc_id", 3000)
      .select("doc_id")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    assert(a.count() > 0 && a.count() < docs.count())

    val split = Curation.assignSplit(docs, "doc_id", 8000, 1000)
    assert(split.count() === docs.count()) // exhaustive
    assert(split.select("split").distinct().count() === 3)
    // same doc -> same split on a re-run over different layout
    val split2 = Curation.assignSplit(docs.repartition(5), "doc_id",
      8000, 1000)
    assert(split.select("doc_id", "split")
      .except(split2.select("doc_id", "split")).isEmpty)
  }

  test("curation: packTokens fills bins contiguously within budget+1 doc") {
    val packed = Curation.packTokens(docs, "doc_id", "source", "text", 256)
      .cache()
    val bins = packed.groupBy("source", "bin")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as("mx"))
    // contiguous fill: a bin exceeds the budget by less than its last doc
    assert(bins.filter(col("tok") >= col("mx") + 256).count() === 0)
    // bins are dense per source: 0..max with no gaps
    val perSrc = packed.groupBy("source")
      .agg(countDistinct("bin").as("n"), max("bin").as("mx"))
    assert(perSrc.filter(col("n") =!= col("mx") + 1).count() === 0)
    packed.unpersist()
  }

  test("quantileBuckets: sketch edges reproduce exact quartiles at test scale") {
    val n = docs.count()
    val got = Curation.quantileBuckets(docs, "n_chars", 4).cache()
    assert(got.count() === n) // exhaustive, no row lost to bucketing
    val stats = got.groupBy("bucket")
      .agg(count(lit(1)).as("c"), min("n_chars").as("lo"),
        max("n_chars").as("hi"))
      .orderBy("bucket").collect()
    assert(stats.map(_.getAs[Long]("bucket")).toSeq === Seq(1L, 2L, 3L, 4L))
    // buckets are ordered ranges: bucket i's max <= bucket i+1's min
    // (equality only possible across a tie boundary, and n_chars ties at
    // an edge all land in the LOWER bucket by the > semantics)
    stats.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"))
    }
    // with the sketch exact at this scale, sizes match exact quartile
    // bucketing up to edge ties: each within [n/8, n/2]
    stats.foreach { r =>
      val c = r.getAs[Long]("c")
      assert(c >= n / 8 && c <= n / 2, s"bucket size $c of $n skewed")
    }
    got.unpersist()
  }

  test("chunkDuplicates flags repeated spans within and across docs") {
    val d = Seq(
      (1L, "a b c d e f g h i j a b c d e f g h i j"),
      (2L, "a b c d e f g h i j x y"),
      (3L, "")).toDF("doc_id", "text")
    val got = Dedup.chunkDuplicates(d, "doc_id", "text")
    // (1,1) repeats (1,0) intra-doc; (2,0) repeats it cross-doc;
    // (2,1) is the unique tail chunk "x y"; empty doc 3 emits nothing
    assert(got.count() === 4)
    assert(got.filter(col("is_dup")).select("id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet === Set((1L, 1), (2L, 0)))
  }

  test("connectedComponents: chains and cliques collapse to min-id labels") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), // chain, mixed direction
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 21L)) // isolated pair
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: the distributed propagation path (non-long " +
      "ids bypass the r20 driver union-find) computes the same labels " +
      "and honors the same maxIter raise") {
    // INT ids route around the driver path — same graphs, same answers
    val pairs = Seq((2, 1), (2, 3), (3, 4),
      (10, 11), (11, 12), (10, 12), (20, 21))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(got === Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 1,
      10 -> 10, 11 -> 10, 12 -> 10, 20 -> 20, 21 -> 20))
    // deep chain: the distributed loop's convergence raise still fires
    val chain = (0 until 9).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 3).collect()
    }
    assert(e.getMessage.contains("converge"))
    // and the driver path raises on the SAME graph at the same bound
    val chainL = (0 until 9).map(i => (i.toLong, i + 1L))
      .toDF("doc_a", "doc_b")
    val eL = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chainL, maxIter = 3).collect()
    }
    assert(eL.getMessage.contains("converge"))
    // boundary agreement: D = 9 converges at maxIter 10 on both paths
    val okL = Dedup.connectedComponents(chainL, maxIter = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(okL === (0 until 10).map(i => i.toLong -> 0L).toMap)
    val okI = Dedup.connectedComponents(chain, maxIter = 10).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(okI === (0 until 10).map(i => i -> 0).toMap)
  }

  test("IVF index save/load round-trip serves identical results") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val built = Similarity.buildIvfIndex(emb, "vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf").toString
    Similarity.saveIvfIndex(built, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val direct = Similarity.ivfTopKFromIndex(built, queries,
      "vec_id", "embedding", k = 3)
    val served = Similarity.ivfTopKFromIndex(loaded, queries,
      "vec_id", "embedding", k = 3)
    assert(served.count() === direct.count())
    assert(served.except(direct).isEmpty && direct.except(served).isEmpty)
  }

  test("IVF append: new vectors serve through the existing index, " +
      "centroids untouched") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_app").toString
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(emb, "vec_id", "embedding"), dir)
    val centsBefore = spark.read.parquet(
      s"${graft.util.Gen.resolve(spark, dir)}/centroids")
      .orderBy("cent_id").collect().toSeq
    // the appended batch plants an exact twin of query vec 3: it must
    // land in the query's own cell (same centroids on both sides) and
    // therefore surface at rank 1 / cos 1.0 with nProbe=1
    val twin = emb.filter(col("vec_id") === 3)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val n = Similarity.appendToIvfIndex(spark, dir, twin,
      "vec_id", "embedding")
    assert(n === 1)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val top = Similarity.ivfTopKFromIndex(loaded,
        emb.filter(col("vec_id") === 3), "vec_id", "embedding",
        k = 3, nProbe = 1)
      .filter(col("rank") === 1).head()
    assert(top.getAs[Long]("neighbor_id") === 1000003L)
    assert(top.getAs[Double]("cos_sim") === 1.0)
    // append must not have rewritten the centroid table
    val centsAfter = spark.read.parquet(
      s"${graft.util.Gen.resolve(spark, dir)}/centroids")
      .orderBy("cent_id").collect().toSeq
    assert(centsAfter === centsBefore)
  }

  test("t52 build->append->load->serve lifecycle equals the exact " +
      "mutual-kNN clustering (full probe over frozen centroids)") {
    // the driver entry's contract: an index built on an 80% slice and
    // appended with the rest under FROZEN centroids, probed at
    // nProbe = nCentroids, yields exactly q117's brute-force clustering —
    // which centroids assigned a vector to which cell is irrelevant when
    // every cell is probed
    val got = SparkEntry.queries("t52_ivf_append_serve")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("q117_knn_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exact && got.nonEmpty)
  }

  test("compactIvfIndex: N appends accrete files, compaction leaves one " +
      "file per cell and serves identical results") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_compact").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(base, "vec_id", "embedding"), dir)
      // three "daily" batches over the held-out 20% slice
      (0 to 2).foreach { i =>
        Similarity.appendToIvfIndex(spark, dir,
          emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 3 === i),
          "vec_id", "embedding")
      }
      def filesPerCell(): Map[String, Int] = {
        val root = new java.io.File(
          s"${graft.util.Gen.resolve(spark, dir)}/assigned")
        root.listFiles().filter(_.getName.startsWith("cell="))
          .map(d => d.getName ->
            d.listFiles().count(_.getName.startsWith("part-"))).toMap
      }
      val before = filesPerCell()
      // the accretion the compactor exists for really happened: at least
      // one cell took files from several batches
      assert(before.values.max > 1, s"no accretion: $before")
      val rowsBefore = spark.read.parquet(
        s"${graft.util.Gen.resolve(spark, dir)}/assigned").count()
      // the observability kernel agrees with the java.io ground truth
      def stats(): Map[String, (Long, Long)] =
        Similarity.indexStats(spark, dir).collect()
          .map(r => s"cell=${r.get(0)}" ->
            (r.getAs[Long]("n_rows"), r.getAs[Long]("n_files"))).toMap
      val sBefore = stats()
      assert(sBefore.view.mapValues(_._2.toInt).toMap === before)
      assert(sBefore.values.map(_._1).sum === rowsBefore)
      val queries = emb.filter(col("vec_id") < 10)
      def serve(): Set[(Long, Long, Long)] =
        Similarity.ivfTopKFromIndex(Similarity.loadIvfIndex(spark, dir),
            queries, "vec_id", "embedding", k = 3, nProbe = 2)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
      val servedBefore = serve()
      val n = Similarity.compactIvfIndex(spark, dir)
      assert(n === rowsBefore)
      val after = filesPerCell()
      // same cells survive, each rewritten to exactly one file
      assert(after.keySet === before.keySet)
      assert(after.values.forall(_ === 1), s"not compacted: $after")
      // ...and the stats kernel sees it: same rows per cell, 1 file each
      val sAfter = stats()
      assert(sAfter.view.mapValues(_._1).toMap ===
        sBefore.view.mapValues(_._1).toMap)
      assert(sAfter.values.forall(_._2 === 1L))
      assert(serve() === servedBefore && servedBefore.nonEmpty)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("ivfDriftReport: zero drift on the build corpus itself; planted " +
      "drift degrades the assigned-cosine profile monotonically") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding")
    // profiling the index's own corpus reproduces the baseline exactly:
    // same rows, same argmax cells, so per-cell batch stats == base
    // stats and the rounded drift is identically 0.0
    val self = Similarity.ivfDriftReport(idx, emb, "vec_id", "embedding")
      .collect()
    assert(self.nonEmpty)
    assert(self.forall(r => r.getAs[Double]("mean_drift") === 0.0))
    assert(self.forall(r => r.getAs[Double]("p10_drift") === 0.0))
    assert(self.forall(r =>
      r.getAs[Long]("base_n") === r.getAs[Long]("batch_n")))
    // planted drift: blend each vector toward its own reversal —
    // cos(v, reverse(v)) ≈ 0 on these near-random embeddings, so the
    // blend walks every vector away from the space the centroids were
    // trained on, further with each alpha
    def drifted(alpha: Double) = emb.select(col("vec_id"),
      zip_with(col("embedding"), reverse(col("embedding")),
        (a, b) => a * lit(1.0 - alpha) + b * lit(alpha)).as("embedding"))
    def profile(batch: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val r = Similarity.ivfDriftReport(idx, batch, "vec_id", "embedding")
        .filter(col("has_baseline"))
        .agg(
          (sum(col("batch_n") * col("batch_mean_cos")) /
            sum(col("batch_n"))).as("mean_cos"),
          (sum(col("batch_n") * col("mean_drift")) /
            sum(col("batch_n"))).as("drift")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val (c0, d0) = profile(emb)
    val (c5, d5) = profile(drifted(0.5))
    val (c9, d9) = profile(drifted(0.9))
    assert(d0 === 0.0)
    // the monitor's contract: the metric moves, monotonically, in the
    // direction of the drift
    assert(c0 > c5 && c5 > c9, s"cos not monotone: $c0 $c5 $c9")
    assert(d5 > 0.0 && d9 > d5, s"drift not monotone: $d0 $d5 $d9")
  }

  test("ivfDriftReport (persisted path): the baseline is frozen at build " +
      "time — drifted appends and compaction leave the report unchanged, " +
      "while a store-derived baseline would under-report the drift") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_frozen").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding"), dir)
      // same reverse-blend perturbation the monotonicity test uses: a
      // batch that genuinely fits the trained cells worse than the corpus
      val drifted = emb.select(col("vec_id"),
        zip_with(col("embedding"), reverse(col("embedding")),
          (a, b) => a * lit(0.2) + b * lit(0.8)).as("embedding"))
      def persisted(): Set[org.apache.spark.sql.Row] =
        Similarity.ivfDriftReport(spark, dir, drifted, "vec_id",
          "embedding").collect().toSet
      def weighted(r: org.apache.spark.sql.DataFrame): Double =
        r.filter(col("has_baseline"))
          .agg((sum(col("batch_n") * col("mean_drift")) /
            sum(col("batch_n"))).as("d")).head().getDouble(0)
      val before = persisted()
      val dBefore = weighted(Similarity.ivfDriftReport(spark, dir, drifted,
        "vec_id", "embedding"))
      assert(before.nonEmpty && dBefore > 0.0)
      // ingest the drifted batch, then compact: the monitor must still
      // measure against the BUILD-TIME baseline — byte-identical report
      Similarity.appendToIvfIndex(spark, dir, drifted, "vec_id",
        "embedding")
      assert(persisted() === before)
      Similarity.compactIvfIndex(spark, dir)
      assert(persisted() === before)
      // the design alternative this guards against: re-deriving the
      // baseline from the (now contaminated) store — the in-memory form
      // over the loaded index does exactly that — pulls the baseline
      // toward the drifted batch and reports strictly less drift
      val contaminated = weighted(Similarity.ivfDriftReport(
        Similarity.loadIvfIndex(spark, dir), drifted, "vec_id",
        "embedding"))
      assert(contaminated < dBefore,
        s"store-derived baseline did not mask drift: $contaminated vs " +
          s"frozen $dBefore")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("compactIvfIndex: a re-run recovers the crashed-between-renames " +
      "state instead of deleting the only surviving copies") {
    import org.apache.hadoop.fs.Path
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_crash").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding"), dir)
      val rows = spark.read.parquet(
        s"${graft.util.Gen.resolve(spark, dir)}/assigned").count()
      def serve(): Set[(Long, Long, Long)] =
        Similarity.ivfTopKFromIndex(Similarity.loadIvfIndex(spark, dir),
            emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 3, nProbe = 2)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
      val served0 = serve()
      // simulate a compaction that died mid-write: a partial
      // UNCOMMITTED generation next to the live one and the
      // maintenance marker still down. Readers are untouched (resolve
      // returns the committed generation — the zero-outage claim),
      // ingest stays fenced, and a compactor re-run sweeps the orphan
      // and completes.
      val orphan = new Path(s"$dir/gen-00000099")
      fs.mkdirs(orphan)
      fs.create(new Path(orphan, "junk.parquet"), true).close()
      val marker = new Path(graft.util.Fs.maintenanceMarkerPath(dir))
      fs.create(marker, true).close()
      assert(serve() === served0 && served0.nonEmpty) // readers fine
      intercept[IllegalStateException] {               // ingest fenced
        Similarity.appendToIvfIndex(spark, dir,
          emb.filter(col("vec_id") < 3), "vec_id", "embedding")
      }
      // the natural recovery action — just re-running the compactor —
      // must sweep the orphan, publish, and clear the marker
      assert(Similarity.compactIvfIndex(spark, dir) === rows)
      assert(serve() === served0)
      assert(!fs.exists(orphan) && !fs.exists(marker))
      assert(Similarity.appendToIvfIndex(spark, dir,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding") === 3L)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("salted cell-store writes: a hot cell spreads across multiple " +
      "files (bounded by its salt count) with rows and serves identical " +
      "to the unsalted layout") {
    // ids 0-7 are distinct unit axes (the deterministic first-k centroid
    // seeds); every other vector piles onto axis 0 → one cell holds ~99%
    // of the corpus — the pathological skew the salted form exists for
    val dim = 8
    val rows = (0L until 2000L).map { i =>
      val v = Array.fill(dim)(0.0)
      if (i < 8) v(i.toInt) = 1.0
      else { v(0) = 1.0; v(1) = (i % 3) * 1e-3 }
      (i, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val built = Similarity.buildIvfIndex(df, "vec_id", "embedding",
      nCentroids = 8, kmeansIters = 2)
    val plain = java.nio.file.Files
      .createTempDirectory("graft_ivf_plain").toString
    val salted = java.nio.file.Files
      .createTempDirectory("graft_ivf_salted").toString
    try {
      Similarity.saveIvfIndex(built, plain)
      Similarity.saveIvfIndex(built, salted, maxRowsPerWriteTask = 200)
      def stats(p: String): Map[String, (Long, Long)] =
        Similarity.indexStats(spark, p).collect()
          .map(r => r.get(0).toString ->
            (r.getAs[Long]("n_rows"), r.getAs[Long]("n_files"))).toMap
      val sp = stats(plain)
      val ss = stats(salted)
      // identical row layout per cell, unsalted = exactly 1 file/cell
      assert(sp.view.mapValues(_._1).toMap ===
        ss.view.mapValues(_._1).toMap)
      assert(sp.values.forall(_._2 === 1L))
      // the hot cell really got salted — several files, never more than
      // its salt count (hash collisions can only merge salts, not split)
      val (hotCell, (hotN, hotFiles)) = ss.maxBy(_._2._1)
      assert(hotN > 1500, s"fixture not skewed: $ss")
      assert(hotFiles > 1, s"hot cell not salted: $ss")
      assert(hotFiles <= (hotN + 199) / 200)
      // cold cells stay single-file
      assert(ss.collect { case (c, (n, f)) if c != hotCell => (n, f) }
        .forall { case (n, f) => f <= math.max(1L, (n + 199) / 200) })
      // the layout is invisible to reads: identical serves
      val q = df.filter(col("vec_id") < 5)
      def serve(p: String): Set[(Long, Long, Long)] =
        Similarity.ivfTopKFromIndex(Similarity.loadIvfIndex(spark, p),
            q, "vec_id", "embedding", k = 3, nProbe = 2)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
      assert(serve(plain) === serve(salted) && serve(plain).nonEmpty)
    } finally {
      graft.util.Fs.deleteRecursively(plain)
      graft.util.Fs.deleteRecursively(salted)
    }
  }

  test("ivfDriftReport (persisted path): an index without a baseline " +
      "fails with a pointer to rebuildIvfIndex and is left untouched; " +
      "the rebuild restores the report") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_nobaseline").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding"), dir)
      val batch = emb.filter(col("vec_id") % 7 === 0)
      def report(): Set[org.apache.spark.sql.Row] =
        Similarity.ivfDriftReport(spark, dir, batch, "vec_id",
          "embedding").collect().toSet
      assert(report().nonEmpty)
      // an index saved before the monitor existed: no baseline/
      graft.util.Fs.deleteRecursively(
        s"${graft.util.Gen.resolve(spark, dir)}/baseline")
      val before = tree(dir)
      val ex = intercept[IllegalStateException](report())
      assert(ex.getMessage.contains(s"$dir has no baseline/") &&
        ex.getMessage.contains("rebuildIvfIndex"))
      assert(tree(dir) === before)
      // the named remediation writes a complete new generation,
      // baseline included
      Similarity.rebuildIvfIndex(spark, dir)
      assert(report().nonEmpty)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("tokens/shingles edge cases") {
    val df = Seq("", "  ", "one", "a b c d").toDF("text")
    val got = df.select(
      size(TextFunctions.tokens(col("text"))).as("n"),
      TextFunctions.shingles(col("text"), 3).as("sh")).collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(0, 0, 1, 4))
    assert(got(3).getSeq[String](1) === Seq("a b c", "b c d"))
    assert(got(2).getSeq[String](1) === Seq())
  }

  test("bpeTokens splits subword pieces; winnowing shares mins on runs") {
    val pieces = Seq("It's worth $3.50, isn't it?").toDF("text")
      .select(TextFunctions.bpeTokens(col("text"))).head().getSeq[String](0)
    assert(pieces === Seq("It", "'s", "worth", "$", "3", ".", "50", ",",
      "isn", "'t", "it", "?"))

    def fp(text: String): Set[Long] = {
      Seq(text).toDF("text")
        .select(TextFunctions.normText(col("text")).as("norm"))
        .select(TextFunctions.charGramHashes(col("norm"), 5).as("grams"))
        .select(TextFunctions.windowMins(col("grams"), 4).as("fp"))
        .head().getSeq[Long](0).toSet
    }
    // short-doc edges: sequence(1,0) in Spark is [1,0], NOT empty — the
    // guards must yield empty fingerprints, not bogus grams or a slice()
    // crash (q47 on a short/punctuation-only doc)
    assert(fp("Hi!") === Set.empty)
    assert(fp("") === Set.empty)
    assert(fp("abcdefg") === Set.empty) // 3 grams < window of 4
    assert(fp("abcdefgh").size === 1)   // exactly one window

    val run = "the quick brown fox jumps over the lazy dog"
    val a = fp(run)
    val b = fp("completely different prefix material " + run)
    val c = fp("unrelated corpus text about shuffle partitioning at scale")
    // local-similarity property: a shared character run shares mins...
    assert((a intersect b).size >= 3)
    // ...and dominates the overlap with an unrelated document
    assert((a intersect b).size > (a intersect c).size)
  }

  test("redactPii scrubs urls, emails, ips, digit runs; counts match") {
    val df = Seq(
      "mail me at jane.doe+x@corp.example.com or see https://ex.org/a?b=1",
      "host 192.168.10.250 leaked key 123456789012",
      "nothing sensitive here",
      "").toDF("text")
    val got = df.select(
      TextFunctions.redactPii(col("text")).as("r"),
      TextFunctions.piiCount(col("text"), "email").as("ne"),
      TextFunctions.piiCount(col("text"), "url").as("nu"),
      TextFunctions.piiCount(col("text"), "ip").as("ni"),
      TextFunctions.piiCount(col("text"), "num").as("nn")).collect()
    assert(got(0).getString(0) === "mail me at <EMAIL> or see <URL>")
    assert((got(0).getInt(1), got(0).getInt(2)) === (1, 1))
    assert(got(1).getString(0) === "host <IP> leaked key <NUM>")
    assert((got(1).getInt(3), got(1).getInt(4)) === (1, 1))
    assert(got(2).getString(0) === "nothing sensitive here")
    assert(got(3).getString(0) === "")
    // unknown kind fails fast, not silently zero
    intercept[IllegalArgumentException] {
      TextFunctions.piiCount(col("text"), "ssn")
    }
  }

  test("gopherStruct: each quality rule trips on its own pathology") {
    def g(text: String, minWords: Int = 5): org.apache.spark.sql.Row = {
      Seq(text).toDF("text")
        .select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
        .select(TextFunctions.gopherStruct(col("text"), col("toks"),
          minWords = minWords).as("g"))
        .select("g.*").head()
    }
    // clean doc: passes everything (stop words 'the' ×2)
    val ok = g("the quick brown fox jumps over the lazy dog today")
    assert(ok.getAs[Boolean]("keep"))
    assert(ok.getAs[Long]("n_tokens") === 10L)
    assert(ok.getAs[Long]("n_stop") === 2L)
    // rule 1: too short
    assert(!g("the of and", minWords = 5).getAs[Boolean]("keep"))
    // rule 2: mean word length out of [3, 10]
    val shortWords = g("a b c d e f g h the of")
    assert(shortWords.getAs[Double]("mean_word_len") < 3.0 &&
      !shortWords.getAs[Boolean]("keep"))
    // rule 3: symbol soup — '#' chars and '...' runs vs 6 words
    val sym = g("the # tag # and # more ... stuff ... here the with")
    assert(sym.getAs[Double]("symbol_ratio") > 0.1 &&
      !sym.getAs[Boolean]("keep"))
    // rule 4: all lines bulleted
    val bullets = g("- the first item\n* the second item\n• the third one")
    assert(bullets.getAs[Double]("bullet_frac") === 1.0 &&
      !bullets.getAs[Boolean]("keep"))
    // rule 5: every line trails off...
    val ell = g("the start of it...\nthe middle of it…\nthe end of it...")
    assert(ell.getAs[Double]("ellipsis_frac") === 1.0 &&
      !ell.getAs[Boolean]("keep"))
    // rule 6: digit-dominated tokens
    val nums = g("111 222 333 444 555 666 777 888 the of")
    assert(nums.getAs[Double]("alpha_frac") === 0.2 &&
      !nums.getAs[Boolean]("keep"))
    // rule 7: no required stop words at all
    val noStop = g("quick brown foxes jump over lazy dogs every single day")
    assert(noStop.getAs[Long]("n_stop") === 0L &&
      !noStop.getAs[Boolean]("keep"))
    // empty text: ratios defined as 0, rules 1 and 7 fail, no NaN/null
    val empty = g("")
    assert(empty.getAs[Long]("n_tokens") === 0L &&
      empty.getAs[Double]("mean_word_len") === 0.0 &&
      empty.getAs[Double]("alpha_frac") === 0.0 &&
      !empty.getAs[Boolean]("keep"))
  }

  test("l2_normalize kernel ≡ HOF form bit-exact; interpreted ≡ generated") {
    import org.apache.spark.sql.Column
    // the pre-kernel HOF spelling, verbatim — the oracle hashes were
    // verified against THIS, so the kernel must match it bit-for-bit
    def hofNorm(v: Column): Column = {
      val dv = transform(v, x => coalesce(x.cast("double"), lit(0.0)))
      val norm = coalesce(sqrt(Similarity.dotCol(dv, dv)), lit(0.0))
      when(norm > 0, transform(dv, x => coalesce(x / norm, lit(0.0))))
        .otherwise(dv)
    }
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val ref = vecs.orderBy("vec_id")
      .select(hofNorm(col("embedding")).as("nv"))
      .collect().map(_.getSeq[Double](0))
    def kernelWith(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try vecs.orderBy("vec_id")
        .select(Similarity.l2Normalize(col("embedding")).as("nv"))
        .collect().map(_.getSeq[Double](0))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(kernelWith("CODEGEN_ONLY").toSeq === ref.toSeq)
    assert(kernelWith("NO_CODEGEN").toSeq === ref.toSeq)
    // edges: zero vector passes through as zeros (no NaN), null element
    // reads as 0.0, null row stays null, double input skips the cast
    val edge = Seq(
      (1L, Seq(0.0f, 0.0f)),
      (2L, Seq(3.0f, 4.0f)),
      (3L, null.asInstanceOf[Seq[Float]])).toDF("id", "v")
      .select(col("id"), Similarity.l2Normalize(col("v")).as("nv"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Double](1)))
      .toMap
    assert(edge(1L) === Seq(0.0, 0.0))
    assert(edge(2L) === Seq(0.6, 0.8))
    assert(edge(3L) === null)
    val withNullElem = Seq((1L, Seq[java.lang.Double](1.0, null, 0.0)))
      .toDF("id", "v")
      .select(Similarity.l2Normalize(col("v")).as("nv"))
      .head().getSeq[Double](0)
    assert(withNullElem === Seq(1.0, 0.0, 0.0))
    // type discipline: downstream kernels rely on containsNull=false
    assert(vecs.select(Similarity.l2Normalize(col("embedding")).as("nv"))
      .schema("nv").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))
  }

  test("semanticNearDupPairs: cells bound candidates; nCentroids=1 is exact") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.4)
      .cache()
    assert(brute.count() > 0) // threshold chosen non-vacuous for this data
    // one cell → the within-cell search IS the exact all-pairs search
    val one = Similarity.semanticNearDupPairs(vecs, "vec_id", "embedding",
        0.4, nCentroids = 1)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
    assert(one.except(brute).isEmpty && brute.except(one).isEmpty)
    // soundness at real cell counts: every reported pair is a true pair
    // with the exact brute-force score (subset; recall is the clustering's)
    val sem = Similarity.semanticNearDupPairs(vecs, "vec_id", "embedding",
        0.4, nCentroids = 8)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
    assert(sem.except(brute).isEmpty)
    // planted exact twins share an argmax cell by construction → recall 1
    val twins = vecs.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val planted = vecs.select("vec_id", "embedding").unionByName(twins)
    val found = Similarity.semanticNearDupPairs(planted, "vec_id",
        "embedding", 0.999, nCentroids = 8)
      .filter(col("vec_b") === col("vec_a") + 100000L && col("vec_a") < 5)
    assert(found.count() === 5)
    // drop policy: the higher id of each twin pair is dropped, never both
    val drops = Similarity.semanticDrops(planted, "vec_id", "embedding",
      0.999, nCentroids = 8).as[Long].collect().toSet
    assert((0L until 5L).forall(i => drops.contains(i + 100000L)
      && !drops.contains(i)))
    brute.unpersist()
  }

  test("semanticNearDupPairs: hot-cell salt guard is result-identical") {
    // Adversarial corpus: EVERY vector identical → one cell absorbs the
    // corpus. The guard must route it through the salted join and still
    // produce exactly the brute-force pair set.
    val n = 200
    val ident = (0L until n).map(i => (i, Seq.fill(8)(0.5f))).toDF(
      "vec_id", "embedding")
    val guarded = Similarity.semanticNearDupPairs(ident, "vec_id",
      "embedding", 0.9, nCentroids = 4, maxCell = 25)
    // the salted route is actually in the plan (not the plain equi-join)
    assert(guarded.queryExecution.analyzed.toString.contains("salt"))
    assert(guarded.count() === n.toLong * (n - 1) / 2)
    assert(guarded.filter(col("cos_sim") =!= 1.0).isEmpty)
    // mixed real data: guarded (every cell forced hot) ≡ unguarded
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val unguarded = Similarity.semanticNearDupPairs(vecs, "vec_id",
      "embedding", 0.4, nCentroids = 8, maxCell = Int.MaxValue)
    val forced = Similarity.semanticNearDupPairs(vecs, "vec_id",
      "embedding", 0.4, nCentroids = 8, maxCell = 10)
    assert(forced.except(unguarded).isEmpty
      && unguarded.except(forced).isEmpty)
  }

  test("fingerprint is normalization-invariant") {
    val df = Seq(("Hello,  World!", "hello world")).toDF("a", "b")
    val r = df.select(
      (TextFunctions.fingerprint(col("a")) ===
        TextFunctions.fingerprint(col("b"))).as("eq")).head()
    assert(r.getBoolean(0))
  }

  test("ngramJaccard computes the exact set similarity") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(df, "doc_id", "text", 3, 0.4).collect()
    assert(pairs.length === 1)
    val p = pairs.head
    // shingles: {abc,bcd,cde} vs {abc,bcd,cdf}: inter 2, union 4
    assert((p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"),
      p.getAs[Long]("inter"), p.getAs[Double]("jaccard")) === (1L, 2L, 2L, 0.5))
  }

  test("prefix-filtered Jaccard equals the all-pairs inverted formulation") {
    // the production prefix-filter path must be EXACT (recall 1 by the
    // prefix-filtering theorem) — pin it against the naive ground truth
    // at several thresholds, including one low enough to admit most pairs
    val idx = Dedup.shingleIndex(docs, "doc_id", "text", 3)
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val fast = Dedup.jaccardFromIndex(idx, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val truth = Dedup.jaccardFromIndexAllPairs(idx, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(truth.nonEmpty, s"t=$t should admit pairs on this corpus")
      assert(fast === truth, s"prefix filter diverged at t=$t: " +
        s"missing=${truth -- fast} extra=${fast -- truth}")
    }
  }

  test("jaccardAcross equals the cross-pair slice of the all-pairs truth") {
    val lo = docs.filter(col("doc_id") < 250)
    val hi = docs.filter(col("doc_id") >= 250)
    val t = 0.5
    val fast = Dedup.jaccardAcross(
      Dedup.shingleIndex(lo, "doc_id", "text", 3),
      Dedup.shingleIndex(hi, "doc_id", "text", 3), t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // ground truth: all-pairs over the full corpus, restricted to pairs
    // straddling the split (all-pairs emits doc_a < doc_b, so the lo-side
    // id is always doc_a here)
    val truth = Dedup.jaccardFromIndexAllPairs(
      Dedup.shingleIndex(docs, "doc_id", "text", 3), t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter { case (a, b, _, _) => a < 250 && b >= 250 }.toSet
    assert(truth.nonEmpty, "split should straddle near-dup pairs")
    assert(fast === truth, s"cross-set prefix filter diverged: " +
      s"missing=${truth -- fast} extra=${fast -- truth}")
  }

  test("minHashLsh candidates cover all true near-duplicates (recall=1 here)") {
    val truth = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.minHashLsh(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    assert(truth.subsetOf(cands),
      s"LSH missed ${truth -- cands} of ${truth.size} true pairs")
    // banding keeps the candidate volume tiny vs the 125k all-pairs space
    assert(cands.size < 500)
  }

  test("decontaminationHits: bloom pre-filter is exact vs the plain join") {
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val got = Dedup.decontaminationHits(corpus, bench, "doc_id", "text",
      n = 4, expectedBenchGrams = 1 << 14)
    // ground truth: same semantics with no bloom stage
    val benchGrams = Dedup.shingleIndex(bench, "doc_id", "text", n = 4)
      .select(col("h")).distinct()
    val want = Dedup.shingleIndex(corpus, "doc_id", "text", n = 4)
      .join(benchGrams, Seq("h"))
      .groupBy(col("doc")).agg(count(lit(1)).as("n_shared"))
    assert(got.count() > 0)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // the bloom stage is really in the plan: a scalar subquery feeding
    // might_contain, not a driver-side literal
    val plan = got.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain") && plan.contains("scalar-subquery"))
  }

  test("contaminationScore never under-counts the exact shared grams") {
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val bloom = Dedup.benchGramBloom(bench, "doc_id", "text",
      n = 4, expectedBenchGrams = 1 << 14)
    val score = Dedup.contaminationScore(corpus, "doc_id", "text", 4, bloom)
    val exact = Dedup.decontaminationHits(corpus, bench, "doc_id", "text",
      n = 4, expectedBenchGrams = 1 << 14)
    val joined = score.join(exact.withColumnRenamed("n_shared", "ex"),
      Seq("doc"), "left")
      .select(col("doc"), col("n_maybe_shared"),
        coalesce(col("ex"), lit(0L)).as("ex")).collect()
    assert(joined.nonEmpty && joined.exists(_.getAs[Long]("ex") > 0))
    // the contract: NO false negatives, ever (a contaminated doc can
    // never slip under the gate) — false positives exist at the bloom's
    // fpp and only inflate; at this sizing they're rare (measured: 1
    // surplus gram across the whole corpus)
    joined.foreach { r =>
      assert(r.getAs[Long]("n_maybe_shared") >= r.getAs[Long]("ex"),
        s"doc ${r.getAs[Long]("doc")} under-counted")
    }
    val surplus = joined.count(r =>
      r.getAs[Long]("n_maybe_shared") > r.getAs[Long]("ex"))
    assert(surplus <= math.max(1, joined.length / 50),
      s"$surplus docs over-counted — bloom fpp far above sizing")
  }

  test("bloom_count_contained: codegen'd gate ≡ HOF formulation, " +
      "interpreted ≡ generated, nulls never count") {
    import graft.expressions.BloomSketch
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val bloom = Dedup.benchGramBloom(bench, "doc_id", "text",
      n = 4, expectedBenchGrams = 1 << 14)
    val sh = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), array_distinct(
        graft.functions.TextFunctions.shinglesFromTokens(
          graft.functions.TextFunctions.tokens(col("text")), 4)).as("sh"))
    // the kernel computes exactly what the round-4 HOF gate computed:
    // size(filter(sh, x => might_contain(bloom, xxhash64(x))))
    val hof = sh.select(col("doc_id"), size(filter(col("sh"),
        x => BloomSketch.mightContain(lit(bloom), xxhash64(x))))
      .cast("long").as("n")).collect().map(r => r.getLong(0) -> r.getLong(1))
    def kernelWith(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try sh.select(col("doc_id"),
          BloomSketch.countContained(col("sh"), bloom).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(kernelWith("CODEGEN_ONLY").sorted.toSeq === hof.sorted.toSeq)
    assert(kernelWith("NO_CODEGEN").sorted.toSeq === hof.sorted.toSeq)
    // null elements are skipped, never counted (and never NPE); null
    // array yields null like the HOF form
    val edge = Seq((1L, Seq[String]("a b c d", null)), (2L, null))
      .toDF("id", "sh")
      .select(col("id"), BloomSketch.countContained(col("sh"), bloom))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(edge.toSeq.sorted === Seq((1L, 0L), (2L, -1L)))
  }

  test("shingle_bloom_count: fused kernel ≡ string-built shingles + " +
      "generic kernel, interpreted ≡ generated") {
    import graft.expressions.BloomSketch
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val bloom = Dedup.benchGramBloom(bench, "doc_id", "text",
      n = 4, expectedBenchGrams = 1 << 14)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    // reference: build shingle STRINGS (HOF), distinct, count via the
    // generic element-membership kernel
    val viaStrings = corpus
      .select(col("doc_id"), array_distinct(
        graft.functions.TextFunctions.shinglesFromTokens(
          graft.functions.TextFunctions.tokens(col("text")), 4)).as("sh"))
      .select(col("doc_id"),
        BloomSketch.countContained(col("sh"), bloom).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def fusedWith(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try corpus.select(col("doc_id"), BloomSketch.shingleCount(
          graft.functions.TextFunctions.tokens(col("text")), 4, bloom)
        .as("n")).collect().map(r => r.getLong(0) -> r.getLong(1))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(fusedWith("CODEGEN_ONLY").sorted.toSeq === viaStrings.sorted.toSeq)
    assert(fusedWith("NO_CODEGEN").sorted.toSeq === viaStrings.sorted.toSeq)
    // short docs (< n tokens) score 0, not crash; null text → null
    val edge = Seq((1L, "a b c"), (2L, null))
      .toDF("doc_id", "text")
      .select(col("doc_id"), BloomSketch.shingleCount(
        graft.functions.TextFunctions.tokens(col("text")), 4, bloom))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(edge.toSeq.sorted === Seq((1L, 0L), (2L, -1L)))
    // the operator path really plans the fused kernel, not the lambda
    val plan = Dedup.contaminationScore(docs.limit(5), "doc_id", "text",
      4, bloom).queryExecution.optimizedPlan.toString
    assert(plan.contains("shingle_bloom_count"))
  }

  test("no_pushdown fence keeps an expensive predicate above the user " +
      "repartition") {
    import graft.expressions.NoPushdown.noPushdown
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val bloom = Dedup.benchGramBloom(bench, "doc_id", "text",
      n = 4, expectedBenchGrams = 1 << 14)
    val base = docs.repartition(8)
    def sparkPlan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // unfenced: PushDownPredicates substitutes the gate expression into
    // the predicate and pushes it below the repartition — the scan-stage
    // FileScan carries the gate in its DataFilters
    val unfenced = Dedup.contaminationScore(base, "doc_id", "text", 4, bloom)
      .filter(col("n_maybe_shared") > 0)
    assert(sparkPlan(unfenced).split("Exchange", 2).last
      .contains("shingle_bloom_count"),
      "expected the unfenced predicate below the exchange")
    // fenced: the predicate stays above the exchange; the scan side is
    // gate-free
    val fenced = Dedup.contaminationScore(base, "doc_id", "text", 4, bloom)
      .filter(noPushdown(col("n_maybe_shared") > 0))
    assert(!sparkPlan(fenced).split("Exchange", 2).last
      .contains("shingle_bloom_count"),
      "fenced predicate leaked below the exchange")
    // and the fence is semantics-free: same rows either way
    assert(fenced.collect().sortBy(_.getLong(0)).toSeq ===
      unfenced.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("simHash: identical docs collide, near-dups are close in Hamming") {
    val df = Seq((1L, "spark window join table scan merge sort"),
      (2L, "spark window join table scan merge sort"),
      (3L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val hs = Dedup.simHash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) === hs(2L))
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) > 4)
    val nd = Dedup.simHashNearDups(df, "doc_id", "text", maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.toSeq === Seq((1L, 2L)))
  }

  test("graft_dot reads null elements as zero on every ArrayData path") {
    // schema says containsNull=true and the data carries REAL nulls: the
    // interpreted path sees a GenericArrayData whose null slot previously
    // NPE'd on unboxing; UnsafeArrayData stores 0.0 in null slots. The
    // type-driven null discipline makes both read 0.0 (ADVICE r4).
    val df = Seq((1L, Seq(Option(1.0), None, Option(3.0)),
        Seq(Option(2.0), Option(5.0), None)))
      .toDF("id", "a", "b")
    def dotWith(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(Similarity.dotCol(col("a"), col("b")).as("d"))
        .head().getDouble(0)
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(dotWith("CODEGEN_ONLY") === 2.0) // 1·2 + 0·5 + 3·0
    assert(dotWith("NO_CODEGEN") === 2.0)
  }

  test("graft_dot rejects non-array arguments at analysis time") {
    graft.expressions.DotProduct.register(spark)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_dot('a', 1)").collect())
    // well-typed call still works through SQL
    val ok = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head()
    assert(ok.getDouble(0) === 11.0)
  }

  test("simHashNearDupsBanded equals the all-pairs form (pigeonhole recall 1)") {
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    val allPairs = pairSet(
      Dedup.simHashNearDups(docs, "doc_id", "text", maxDist = 6))
    val banded = pairSet(
      Dedup.simHashNearDupsBanded(docs, "doc_id", "text", maxDist = 6))
    assert(allPairs.nonEmpty)
    assert(banded === allPairs)
  }

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.01f)),
      (2L, Array(0.5f, 0.5f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs,
      vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(top.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("trainer sample order is type-faithful: string ids stay lexical, " +
      "numeric ids numeric") {
    // iters=0 makes centroids exactly the first-k sample vectors, so the
    // centroid rows expose the sample ordering directly.
    def centsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Double]] =
      Similarity.trainCentroids(df, "id", "v", 2, iters = 0)
        .orderBy("cent_id").collect()
        .map(_.getSeq[Double](1).toSeq).toSeq
    val stringIds = Seq( // numeric-LOOKING strings: lexical "1","10","2"
      ("2", Array(0f, 0f, 1f)), ("10", Array(0f, 1f, 0f)),
      ("1", Array(1f, 0f, 0f))).toDF("id", "v")
    assert(centsOf(stringIds) ===
      Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))) // "1" then "10"
    val longIds = Seq( // same values as longs: numeric 1,2,10
      (2L, Array(0f, 0f, 1f)), (10L, Array(0f, 1f, 0f)),
      (1L, Array(1f, 0f, 0f))).toDF("id", "v")
    assert(centsOf(longIds) ===
      Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0))) // 1 then 2
  }

  // Planted-documents harness for the retrieval/span/overlap queries:
  // writes a documents.parquet under a temp dir and runs the registered
  // query against it, exercising the same path the driver verifies.
  private def withDocs[T](rows: Seq[(Long, String, String)])(
      run: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_docs")
      .toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    run(dir)
  }

  test("q81 BM25 scores match the closed-form formula on planted docs") {
    val corpus = Seq(
      (1L, "spark join spark", "s0"),          // both rare terms, short
      (2L, "spark filler filler filler", "s0"),
      (3L, "join vector filler filler", "s0"),
      (4L, "filler filler filler filler", "s0")) // no query terms
    withDocs(corpus) { dir =>
      val got = SparkEntry.queries("q81_bm25_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // closed form: N=4, avgdl=3.75; df(spark)=2, df(join)=2, df(vector)=1
      def idf(df: Double) = math.log((4 - df + 0.5) / (df + 0.5) + 1)
      def sc(tf: Double, df: Double, dl: Double) =
        idf(df) * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.75))
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expect = Map(
        1L -> r6(sc(2, 2, 3) + sc(1, 2, 3)),         // spark×2 + join
        2L -> r6(sc(1, 2, 4)),                        // spark
        3L -> r6(sc(1, 2, 4) + sc(1, 1, 4)))          // join + vector
      assert(got.map(r => r._1 -> r._2).toMap === expect)
      assert(got.map(r => r._1 -> r._3).toMap ===
        Map(1L -> 2L, 2L -> 1L, 3L -> 2L)) // distinct matched terms
      assert(!got.exists(_._1 == 4L)) // no-term doc never scored
      // ranking: sorted by score desc then doc_id
      assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq)
    }
  }

  test("q82 collapses shared shingle positions into maximal runs") {
    val shared = (1 to 7).map(i => s"w$i").mkString(" ") // 7 shared tokens
    val corpus = Seq(
      (1L, s"$shared a1 a2 a3", "s0"),  // shared prefix → 3 shared 5-grams
      (2L, s"$shared b1 b2 b3", "s0"),  // same prefix, different tail
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10", "s0")) // nothing shared
    withDocs(corpus) { dir =>
      val got = SparkEntry.queries("q82_dup_spans")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // docs 1,2 share 5-gram positions 0,1,2 → ONE run of 3 shingles =
      // a 7-token duplicated span; doc 3 is absent
      assert(got.toSeq === Seq((1L, 1L, 7L, 3L), (2L, 1L, 7L, 3L)))
    }
  }

  test("q90 maps tokens to dense vocab ids with UNK=0 for overflow") {
    // 603 distinct tokens > the 512-entry vocab, so the lexicographic
    // tail of the n=1 tie group must fall out as UNK — the expectation
    // is computed by independently re-deriving the (count desc, token)
    // ranking in plain Scala
    val extra = (1 to 600).map(i => s"u$i")
    val corpus = Seq(
      (1L, "b a b", "s0"),
      (2L, "a c b", "s0"),
      (3L, extra.mkString(" "), "s0"))
    withDocs(corpus) { dir =>
      val rows = SparkEntry.queries("q90_tokenize_ids")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      val counts = ("b" -> 3L) :: ("a" -> 2L) :: ("c" -> 1L) ::
        extra.map(_ -> 1L).toList
      val vocab = counts.sortBy { case (t, n) => (-n, t) }.take(512)
        .zipWithIndex.map { case ((t, _), i) => t -> (i + 1L) }.toMap
      def ids(toks: Seq[String]) = toks.map(t => vocab.getOrElse(t, 0L))
      val d3 = ids(extra)
      assert(d3.contains(0L)) // the overflow really happens
      assert(rows.toSeq === Seq(
        (1L, 3L, 0L, "1 2 1"),
        (2L, 3L, 0L, "2 3 1"),
        (3L, 600L, d3.count(_ == 0L).toLong, d3.mkString(" "))))
    }
  }

  test("t18: slice sketches union-merge exactly to the direct sketch") {
    val rows = SparkEntry.queries("t18_sketch_merge")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("merge_exact"),
        s"source ${r.getString(0)}: merged ${r.get(1)} != direct ${r.get(2)}")
    }
  }

  test("t19 curation DAG: per-source counts shrink monotonically") {
    val rows = SparkEntry.queries("t19_curation_dag")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_._2)
    bySource.foreach { case (src, rs) =>
      val m = rs.map(r => r._1 -> r._3).toMap
      val chain = Seq("0_raw", "1_quality", "2_exact", "3_neardup",
        "4_decontam").flatMap(m.get)
      assert(chain.zip(chain.tail).forall { case (a, b) => b <= a },
        s"source $src: stage counts $chain grew")
      assert(m("0_raw") > 0)
    }
  }

  test("runDag persists stage tables and resumes after a mid-DAG kill") {
    def rmrf(dir: String): Unit = graft.util.Fs.deleteRecursively(dir)
    val out = java.nio.file.Files.createTempDirectory("graft_dag").toString
    try {
      val r1 = Curation.runDag(docs, out).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      // the persisted DAG reports exactly what the in-session t19 twin does
      val t19 = SparkEntry.queries("t19_curation_dag")(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(r1 === t19)
      // every stage table committed (parquet _SUCCESS marker)
      val stages = Seq("0_raw", "1_quality", "2_exact", "3_neardup",
        "4_decontam", "5_train_bins")
      stages.foreach(st =>
        assert(new java.io.File(s"$out/$st/_SUCCESS").exists(), st))
      // kill after stage 3: stages 4+5 lost, restart must resume from the
      // persisted prefix — the poisoned (empty) input proves stages 0-3
      // are READ BACK, not recomputed, or the report would collapse to 0s
      rmrf(s"$out/4_decontam"); rmrf(s"$out/5_train_bins")
      val r2 = Curation.runDag(docs.filter(lit(false)), out).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(r2 === r1)
      // a torn write (directory present, no marker) is rebuilt, not trusted
      rmrf(s"$out/5_train_bins/_SUCCESS")
      val r3 = Curation.runDag(docs, out).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(r3 === r1)
    } finally rmrf(out)
  }

  test("dupSpans is partition-invariant (1-way ≡ 7-way layout)") {
    // the islands window + shared-shingle join must not depend on the
    // physical layout of the input — a distributed-correctness property
    // that catches accidental reliance on intra-partition ordering
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def runs(parts: Int) =
      Dedup.dupSpans(docs.repartition(parts), "doc_id", "text")
        .orderBy(col("doc_id")).collect().toSeq
    assert(runs(1) === runs(7))
  }

  test("q83 vocabulary Jaccard: hand-checked pair, no-overlap pairs absent") {
    val corpus = Seq(
      (1L, "a b c", "A"), (2L, "b c d", "B"), (3L, "x y", "C"))
    withDocs(corpus) { dir =>
      val got = SparkEntry.queries("q83_source_overlap")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      // |A∩B| = {b,c} = 2, |A∪B| = 4 → 0.5; C shares nothing → no row
      assert(got.toSeq === Seq(("A", "B", 0.5)))
    }
  }

  test("q84 keeps the highest-entropy member of each near-dup cluster") {
    val w16 = (1 to 16).map(i => s"w$i").mkString(" ")
    val w15rep = ((1 to 15).map(i => s"w$i") :+ "w1").mkString(" ")
    val corpus = Seq(
      (1L, "a b c d e f", "s0"),  // exact pair {1,2}: tie → lowest id
      (2L, "a b c d e f", "s0"),
      (3L, w16, "s0"),            // near-dup pair {3,4}, J = 13/15
      (4L, w15rep, "s0"),         // repeated w1 → strictly lower entropy
      (5L, "lone doc with nothing shared here at all", "s0"))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    withDocs(corpus) { dir =>
      val got = SparkEntry.queries("q84_cluster_reps")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq === Seq(
        (1L, 2L, 1L, r6(math.log(6))),    // 6 distinct tokens, tie → doc 1
        (3L, 2L, 3L, r6(math.log(16))))) // doc 3 beats the repeat in doc 4
    }
  }

  test("q85 temperature weights follow n^tau / sum(n^tau)") {
    val corpus = Seq(
      (1L, "t t t t t t t t", "A"), // 8 tokens
      (2L, "u", "B"))               // 1 token
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    withDocs(corpus) { dir =>
      val got = SparkEntry.queries("q85_temperature_mix")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val z = math.pow(8, 0.7) + 1.0
      val wA = math.pow(8, 0.7) / z
      assert(got.toSeq === Seq(
        ("A", 8L, r6(wA), math.round(1e9 * wA)),
        ("B", 1L, r6(1.0 / z), math.round(1e9 / z))))
      // temperature < 1 upweights the small source above its raw share
      assert(1.0 / z > 1.0 / 9.0)
    }
  }

  test("WindowGroupLimit rewrite is semantics-preserving: top-k results " +
      "agree with the optimization disabled") {
    // the rank <= k sites rely on InferWindowGroupLimit for BOTH the
    // top-k fast path and the Int-rank overflow guard (Ranks scaladoc);
    // this pins that the rewrite never changes WHAT is returned, only
    // how much is sorted — so the plan assertion in PlanPinsSpec is a
    // pure performance pin, not a correctness dependency
    import SparkTestBase.session.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def run(): Set[(Long, Long, Long, Double)] =
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    val conf = spark.conf
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    val before = conf.getOption(key)
    val withRewrite = run()
    try {
      conf.set(key, "-1") // disables InferWindowGroupLimit
      val withoutRewrite = run()
      assert(withRewrite === withoutRewrite && withRewrite.nonEmpty)
    } finally before match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  test("clusterBalancedSample caps every cluster and is deterministic") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val s1 = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      nClusters = 4, perCluster = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val perCluster = s1.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perCluster.values.forall(_ <= 5))
    assert(perCluster.keySet.subsetOf((0L until 4L).toSet))
    // picks are contiguous ranks from 1 within each cluster
    s1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length).toSeq)
    }
    // content-deterministic: an independent second build agrees exactly
    val s2 = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      nClusters = 4, perCluster = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(s1.sortBy(r => (r._2, r._3)).toSeq ===
      s2.sortBy(r => (r._2, r._3)).toSeq)
  }

  test("lshTopK returns bucket-consistent, at-most-k neighbors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
    val lsh = Similarity.lshTopK(emb, qs, "vec_id", "embedding", 3)
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 3)
    val lshBest = lsh.filter(col("rank") === 1)
      .select("query_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bruteBest = brute.filter(col("rank") === 1)
      .select("query_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // approximate: never better than exact, grouped per query, ≤ k rows
    lshBest.foreach { case (q, c) => assert(c <= bruteBest(q) + 1e-9) }
    val counts = lsh.groupBy("query_id").count().collect()
    assert(counts.forall(_.getLong(1) <= 3))
  }

  test("nearDupDrops pipeline: drops exactly the verified near-duplicates") {
    val truthDrops = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8)
      .select("doc_b").distinct().collect().map(_.getLong(0)).toSet
    val got = Dedup.nearDupDrops(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(got === truthDrops) // LSH recall 1 on this corpus
    assert(got.nonEmpty)
  }

  test("nearDupDrops is hash-agnostic: xxhash64 drops the same docs") {
    // the oracle pipeline hashes shingles with md5 (DuckDB-portable); a
    // production run swaps in xxhash64 (codegen'd, ~10x cheaper). Every
    // downstream shape — signatures mod P, banding, array verify — must
    // not care which hash it rides on (negative xxhash64 values
    // included); on this corpus both reach LSH recall 1, so the final
    // drop sets are identical
    val md5Drops = Dedup.nearDupDrops(docs, "doc_id", "text").collect()
      .map(_.getLong(0)).toSet
    val fastDrops = Dedup.nearDupDrops(docs, "doc_id", "text",
      hasher = xxhash64(_)).collect()
      .map(_.getLong(0)).toSet
    assert(md5Drops.nonEmpty)
    assert(fastDrops === md5Drops,
      s"missing=${md5Drops -- fastDrops} extra=${fastDrops -- md5Drops}")
  }

  test("minHashLsh: join-routed oversized buckets emit the same pairs") {
    // maxBucket=1 forces EVERY bucket through the skew-tolerant join path;
    // the pair set and per-pair band counts must match the compiled
    // collect_list path bit for bit
    val viaExpand = Dedup.minHashLsh(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaJoin = Dedup.minHashLsh(docs, "doc_id", "text", maxBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaExpand.nonEmpty)
    assert(viaJoin === viaExpand)
  }

  test("nearDupDrops: a 50k identical-doc flood collapses before LSH") {
    // round-1 verdict scale caveat: a mega-bucket of identical docs must
    // not become one O(n^2) straggler task. The exact pre-dedup stage
    // collapses the flood to one representative before any signature work.
    val flood = spark.range(50000)
      .select(col("id").as("doc_id"),
        lit("the same document text repeated across the flood").as("text"))
    val distinctDocs = Seq(
      (90001L, "completely different content about query engines"),
      (90002L, "unrelated text concerning shuffle partitioning strategies"))
      .toDF("doc_id", "text")
    val dropped = Dedup.nearDupDrops(flood.unionByName(distinctDocs),
      "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(dropped === (1L until 50000L).toSet) // everything but the rep
    assert(!dropped.contains(0L) && !dropped.contains(90001L))
  }

  test("ivfTopK probes cells and never beats exact top-1") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopK(e, qs, "vec_id", "embedding", 3)
    val brute = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", 3)
    val ivfBest = ivf.filter(col("rank") === 1)
      .select("query_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bruteBest = brute.filter(col("rank") === 1)
      .select("query_id", "cos_sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivfBest.nonEmpty)
    ivfBest.foreach { case (q, c) => assert(c <= bruteBest(q) + 1e-9) }
    assert(ivf.groupBy("query_id").count().collect()
      .forall(_.getLong(1) <= 3))
  }

  test("ivfTopK: trained centroids reach recall@3 >= 0.9 vs brute force") {
    // measured recall on the sf0.1 corpus (5000 vectors, 30 queries):
    // k-means cells + nProbe=4 must recover >= 90% of the exact top-3
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 30)
    def neighborSets(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // these embeddings are near-random (weak cluster structure — the hard
    // case for IVF): 32 trained cells probed 12-deep scans ~37% of the
    // corpus for 0.95+ recall; clustered real-world embeddings do far
    // better at the same probe ratio
    val ivf = neighborSets(
      Similarity.ivfTopK(e, qs, "vec_id", "embedding", 3,
        nCentroids = 32, nProbe = 12))
    val brute = neighborSets(
      Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", 3))
    val recall = brute.map { case (q, truth) =>
      (truth intersect ivf.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }.sum / brute.size
    info(f"recall@3 = $recall%.3f")
    assert(recall >= 0.9)
  }

  test("pqTopK with full rerank equals bruteForceTopK exactly") {
    // ADC only ORDERS candidates; with rerank >= corpus size every
    // neighbor reaches the exact-cosine rerank, so the output must be
    // bit-identical to brute force — pins encode/LUT/ADC end to end
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 10)
    val n = e.count().toInt
    val pq = Similarity.pqTopK(e, qs, "vec_id", "embedding", 3, rerank = n)
    val brute = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", 3)
    assert(pq.except(brute).isEmpty && brute.except(pq).isEmpty)
    assert(pq.count() === brute.count())
  }

  test("pq interpreted eval matches codegen output") {
    // same guarantee DotProduct documents: nullSafeEval mirrors doGenCode.
    // Forcing interpreted evaluation via codegen-off must not change codes.
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val (cb, _) = Similarity.buildPqIndex(e, "vec_id", "embedding")
    def codesWith(mode: String): Array[(Long, Seq[Int])] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try e.select(col("vec_id"),
          Similarity.pqEncodeCol(
            Similarity.l2Normalize(col("embedding")), cb).as("codes"))
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1)))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(codesWith("CODEGEN_ONLY").toSeq === codesWith("NO_CODEGEN").toSeq)
  }

  test("pqTopK: default rerank reaches recall@3 >= 0.9 vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 30)
    def neighborSets(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // near-random embeddings are PQ's hard case (no cluster structure to
    // exploit): default 16 subspaces × 16 centroids (64 bits/vector) with
    // rerank=128 (2.6% of the corpus) measured 0.967 on the parameter
    // sweep; m=8 at the same rerank measured 0.72 — the assert pins the
    // chosen default with margin
    val pq = neighborSets(
      Similarity.pqTopK(e, qs, "vec_id", "embedding", 3))
    val brute = neighborSets(
      Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", 3))
    val recall = brute.map { case (q, truth) =>
      (truth intersect pq.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }.sum / brute.size
    info(f"recall@3 = $recall%.3f")
    assert(recall >= 0.9)
  }

  test("pq codebooks encode new batches incrementally (append == rebuild)") {
    // the incremental-ingest story for ANN: codebooks are FROZEN at build
    // time, so a new embedding batch encodes with the existing codebooks
    // and its codes union onto the stored index — identical to encoding
    // the combined corpus with those same codebooks (pqEncode is per-row)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val old = e.filter(col("vec_id") % 5 =!= 0)
    val fresh = e.filter(col("vec_id") % 5 === 0)
    val (cb, oldCodes) = Similarity.buildPqIndex(old, "vec_id", "embedding")
    val freshCodes = fresh.select(col("vec_id").as("neighbor_id"),
      Similarity.pqEncodeCol(
        Similarity.l2Normalize(col("embedding")), cb).as("codes"))
    val unioned = oldCodes.union(freshCodes)
    val rebuilt = e.select(col("vec_id").as("neighbor_id"),
      Similarity.pqEncodeCol(
        Similarity.l2Normalize(col("embedding")), cb).as("codes"))
    assert(unioned.count() === e.count())
    assert(unioned.except(rebuilt).isEmpty && rebuilt.except(unioned).isEmpty)
  }

  test("pq index save/load round-trip serves identically to the build") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 5)
    val built = Similarity.buildPqIndex(e, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    Similarity.savePqIndex(built, dir)
    val loaded = Similarity.loadPqIndex(spark, dir)
    assert((loaded._1.m, loaded._1.k, loaded._1.dsub) ===
      ((built._1.m, built._1.k, built._1.dsub)))
    assert(loaded._1.flat.toSeq === built._1.flat.toSeq)
    val direct = Similarity.pqTopKFromIndex(built, e, qs, "vec_id",
      "embedding", k = 3)
    val served = Similarity.pqTopKFromIndex(loaded, e, qs, "vec_id",
      "embedding", k = 3)
    assert(served.count() === direct.count())
    assert(served.except(direct).isEmpty && direct.except(served).isEmpty)
  }

  test("ivfPq: full probe + full rerank equals brute force; save/load serves identically") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val built = Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
      nCells = 8)
    // probing every cell with rerank >= corpus makes the index a pure
    // router: output must be bit-identical to brute force
    val full = Similarity.ivfPqTopKFromIndex(built, e, qs, "vec_id",
      "embedding", k = 3, nProbe = 8, rerank = n)
    val brute = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", 3)
    assert(full.except(brute).isEmpty && brute.except(full).isEmpty)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq").toString
    Similarity.saveIvfPqIndex(built, dir)
    val loaded = Similarity.loadIvfPqIndex(spark, dir)
    // codebooks survive the round-trip (flat compared as Seq — the case
    // class holds an Array, whose equals is reference identity)
    assert((loaded._2.m, loaded._2.k, loaded._2.dsub) ===
      ((built._2.m, built._2.k, built._2.dsub)))
    assert(loaded._2.flat.toSeq === built._2.flat.toSeq)
    val direct = Similarity.ivfPqTopKFromIndex(built, e, qs, "vec_id",
      "embedding", k = 3)
    val served = Similarity.ivfPqTopKFromIndex(loaded, e, qs, "vec_id",
      "embedding", k = 3)
    assert(served.count() === direct.count())
    assert(served.except(direct).isEmpty && direct.except(served).isEmpty)
  }

  test("readers conform re-encoded physical schemas to the engine schema") {
    // the driver has re-encoded physical types between rounds (events ts:
    // TIMESTAMP NANOS → MICROS). Queries must be encoding-independent for
    // every value-exact re-encoding: int32 ids, float32→float64 vectors.
    val out = java.nio.file.Files.createTempDirectory("graft_enc").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", col("n_chars").cast("int"))
      .write.parquet(s"$out/documents.parquet")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("vec_id", col("vec_id").cast("int"))
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .write.parquet(s"$out/embeddings.parquet")
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("event_id", col("event_id").cast("int"))
      .withColumn("user_id", col("user_id").cast("int"))
      .write.parquet(s"$out/events.parquet")
    // one query per extension table: documents, embeddings, events
    for (q <- Seq("q23_dedup_exact", "q27_embed_topk", "q14_window_rank")) {
      val canonical = SparkEntry.queries(q)(spark, sf).collect().toSeq
      val reencoded = SparkEntry.queries(q)(spark, out).collect().toSeq
      assert(reencoded === canonical, q)
    }
  }

  test("t20 sketch overlap tracks the exact vocabulary Jaccard") {
    val est = SparkEntry.queries("t20_overlap_sketch")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // full exact pair table (q83's formulation WITHOUT its top-20 limit —
    // 20 sources make 190 pairs)
    val sv = docs.select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .select(col("source"), TextFunctions.hash60(col("term")).as("h"))
      .distinct().cache()
    val sizes = sv.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = sv.as("a").join(sv.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("inter")).collect()
      .map { r =>
        val (sa, sb, i) = (r.getString(0), r.getString(1), r.getLong(2))
        (sa, sb) -> i.toDouble / (sizes(sa) + sizes(sb) - i)
      }.toMap
    sv.unpersist()
    assert(exact.size === 190 && est.size === 190)
    // lgConfigK=16 error bound: estimates within 0.02 absolute of exact
    exact.foreach { case (pair, j) =>
      assert(math.abs(est(pair) - j) <= 0.02,
        s"$pair est=${est(pair)} exact=$j")
    }
    // pairs with no exact overlap (if any) estimate to ~0
    (est.keySet -- exact.keySet).foreach(p => assert(est(p) <= 0.02, p))
    // planted controlled overlaps: the real-corpus vocabularies are all
    // near-identical (J ≈ 0.97-1.0), which could hide a self-join
    // mis-resolution (hll_union(a,a) also reads ~1). Distinct planted
    // Jaccards pin the pairwise wiring: A∩B = 500/1500, A∩C = 0.
    val planted = ((0 until 1000).map(i => ("A", s"w$i"))
      ++ (500 until 1500).map(i => ("B", s"w$i"))
      ++ (0 until 1000).map(i => ("C", s"x$i")))
      .toDF("source", "text")
    val p = Dedup.vocabOverlapSketch(planted, "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(p(("A", "B")) - 500.0 / 1500) <= 0.02)
    assert(p(("A", "C")) <= 0.02 && p(("B", "C")) <= 0.02)
  }

  test("removeBoilerplate strips planted cross-doc segments, keeps order") {
    // seg0 "a b c d e f g h i j" planted in docs 1,2,3 (df=3 -> hot);
    // every other 10-token segment is unique (df=1 -> kept).
    val boiler = "a b c d e f g h i j"
    def uniq(d: Int, s: Int) = (0 until 10).map(i => s"u$d-$s-$i")
      .mkString(" ")
    val corpus = Seq(
      (1L, s"${uniq(1, 0)} $boiler ${uniq(1, 1)}", "s0"),
      (2L, s"$boiler ${uniq(2, 0)}", "s0"),
      (3L, s"${uniq(3, 0)} $boiler", "s0"),
      (4L, uniq(4, 0), "s0"),
      (5L, "", "s0"), (6L, "   ", "s0")) // token-less docs still emit rows
    val df = corpus.toDF("doc_id", "text", "source")
    val out = Dedup.removeBoilerplate(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq((1L, 3L, 1L), (2L, 2L, 1L), (3L, 2L, 1L),
        (4L, 1L, 0L), (5L, 0L, 0L), (6L, 0L, 0L)))
    // doc 1's cleaned text is its two unique segments, in position order
    val md5_1 = out(0).getAs[String]("clean_md5")
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${uniq(1, 0)} ${uniq(1, 1)}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(md5_1 === want)
    // doc 4 untouched: cleaned text == original
    assert(out(3).getAs[Long]("clean_chars") === uniq(4, 0).length)
  }

  test("removeBoilerplate is partition-invariant and a no-op at minDf=3") {
    val a = Dedup.removeBoilerplate(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.removeBoilerplate(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    // with the df threshold above any planted repetition in sf0.001,
    // nothing is removed and every cleaned doc is its normalized self
    val none = Dedup.removeBoilerplate(docs, "doc_id", "text",
      minDf = 1000000)
    assert(none.agg(sum("n_removed")).head().getLong(0) === 0L)
  }

  test("q95 epoch allocation: grants never exceed the cap, budget is " +
      "conserved when any source stays unsaturated") {
    val out = SparkEntry.queries("q95_epoch_mix")(spark, sf).collect()
    assert(out.nonEmpty)
    val eps = 1e-6
    out.foreach { r =>
      val epochs = r.getAs[Double]("epochs")
      assert(epochs <= 4.0 + eps && epochs > 0.0)
      assert(r.getAs[Double]("granted_tokens") >= 0.0)
    }
    // budget_mult=2 < cap=4: nothing can saturate under one waterfall
    // round unless weights are very skewed; either way the TOTAL granted
    // never exceeds the budget (2 x corpus tokens)
    val totTokens = out.map(_.getAs[Long]("tokens")).sum.toDouble
    val granted = out.map(_.getAs[Double]("granted_tokens")).sum
    assert(granted <= 2.0 * totTokens + 1.0)
  }

  test("weightedSample: partition-invariant, weight-monotone in " +
      "expectation, exactly k rows") {
    val weighted = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("double").as("w"))
    val a = Curation.weightedSample(weighted, "doc_id", col("w"), 40)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Curation.weightedSample(weighted.repartition(7), "doc_id",
      col("w"), 40).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b && a.size === 40)
    // heavier docs must be over-represented: the sampled mean weight
    // exceeds the corpus mean (Efraimidis-Spirakis selection bias)
    val corpusMean = weighted.agg(avg("w")).head().getDouble(0)
    val sampleMean = Curation.weightedSample(weighted, "doc_id",
        col("w"), 40).agg(avg("w")).head().getDouble(0)
    assert(sampleMean > corpusMean)
  }

  test("budgetSelect ≡ naive full-corpus window for every budget and " +
      "bucket count") {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n"),
      TextFunctions.qualityStruct(col("text")).getField("stop_ratio")
        .as("sr"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("sr").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for (budget <- Seq(100L, 800L, 100000L); nb <- Seq(2, 32)) {
      val naive = scored.withColumn("cum_tokens", sum(col("n")).over(w))
        .filter(col("cum_tokens") <= budget)
        .select("doc_id", "cum_tokens")
      val scale = Curation.budgetSelect(scored, "doc_id", "source",
          "n", "sr", budget, nBuckets = nb)
        .select("doc_id", "cum_tokens")
      assert(naive.except(scale).isEmpty && scale.except(naive).isEmpty,
        s"divergence at budget=$budget nBuckets=$nb")
    }
  }

  test("t21 heavy hitters: merged CMS ≡ single-pass sketch, one-sided " +
      "error bound holds for every top token") {
    // the CMS side is spec-pinned here; the t21 QUERY ships only the
    // exact side, which carries a full DuckDB hash oracle
    val out = Queries.heavyHitterBounds(spark, sf).collect()
    assert(out.length === 20)
    assert(out.forall(_.getAs[Boolean]("bound_ok")))
    // the exact side the query ships is the same top-20
    val q = SparkEntry.queries("t21_heavy_hitters")(spark, sf).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("exact_cnt")))
    assert(q.toSeq === out.map(r =>
      (r.getAs[String]("token"), r.getAs[Long]("exact_cnt"))).toSeq)
    // merged per-source sketches answer EXACTLY like one corpus-wide
    // sketch: counter arrays add, so the estimates must be identical
    import org.apache.spark.util.sketch.CountMinSketch
    val tok = docs.select(explode(TextFunctions.tokens(col("text")))
      .as("w"))
    val whole = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(
      tok.agg(expr("count_min_sketch(w, 0.0001d, 0.99d, 42)").as("sk"))
        .head().getAs[Array[Byte]]("sk")))
    out.foreach { r =>
      assert(r.getAs[Long]("est_cnt") ===
        whole.estimateCount(r.getAs[String]("token")))
    }
  }

  test("t22 BPE training reproduces the hand-derived merge sequence") {
    import graft.functions.BpeTrainer
    // Sennrich et al. 2016 worked example (freqs low:5 lower:2 newest:6
    // widest:3); ties break (count desc, left asc, right asc).
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w, "s0") }
    val df = corpus.toDF("doc_id", "text", "source")
    val merges = BpeTrainer.train(df, "text", 5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("pair_freq")))
    assert(merges.toSeq === Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L)))
    // encode applies the trained merges greedily: the unseen word
    // "lowest" segments into the learned units low + est</w>
    val table = merges.map { case (l, r, _) => (l, r) }.toSeq
    val pieces = spark.range(1).select(
      BpeTrainer.encodeWord(lit("lowest"), table).as("p"))
      .head().getSeq[String](0)
    assert(pieces === Seq("low", "est</w>"))
  }

  test("hardNegatives excludes planted twins, keeps the next neighbors") {
    import graft.operators.Similarity
    // 4-d corpus: id 0 (query) and id 1 are exact twins (cos 1.0);
    // ids 2..9 fan out at distinct similarities below the dup bar
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.9f, 0.4f, 0f, 0f)), (3L, Array(0.8f, 0.6f, 0f, 0f)),
      (4L, Array(0.5f, 0.8f, 0f, 0f)), (5L, Array(0f, 1f, 0f, 0f)),
      (6L, Array(0f, 0f, 1f, 0f)), (7L, Array(-1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
    val negs = Similarity.hardNegatives(vecs, q, "vec_id", "embedding",
        k = 3).orderBy("neg_rank").collect()
    val ids = negs.map(_.getAs[Long]("neighbor_id")).toSeq
    // twin 1 (cos 1.0 >= 0.95) excluded; 2 (cos ~0.91), 3 (~0.8),
    // 4 (~0.53) are the hard negatives, in similarity order
    assert(ids === Seq(2L, 3L, 4L))
    assert(negs.map(_.getAs[Long]("neg_rank")).toSeq === Seq(1L, 2L, 3L))
    assert(negs.forall(_.getAs[Double]("cos_sim") < 0.95))
    // with every candidate a near-dup, the miner under-fills rather
    // than leaking positives
    val twins = Seq((0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val none = Similarity.hardNegatives(twins,
      twins.filter(col("vec_id") === 0), "vec_id", "embedding", k = 2)
    assert(none.count() === 0)
  }

  test("mutual-kNN clusters: IVF candidates reproduce the brute-force " +
      "clustering on planted tight clusters (the corpus-scale path)") {
    import graft.operators.Similarity
    // 4 tight clusters × 5 vectors in 8-d: cluster c sits on axis c with
    // a small distinct perturbation per member, so within-cluster cosine
    // ≫ cross-cluster and each vector's true top-4 are its cluster-mates
    val rnd = new scala.util.Random(11)
    val vecs = (for {
      c <- 0 until 4; m <- 0 until 5
    } yield {
      val v = Array.fill(8)(rnd.nextFloat() * 0.05f)
      v(c) = 1f
      ((c * 100 + m).toLong, v)
    }).toDF("vec_id", "embedding")
    val brute = Similarity
      .mutualKnnClusters(vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    // every planted cluster collapses to its lowest id
    assert(brute.size === 20)
    (0 until 4).foreach { c =>
      (0 until 5).foreach { m =>
        assert(brute((c * 100 + m).toLong) === c * 100L, s"cluster $c")
      }
    }
    // the same clustering through the pluggable candidate contract, with
    // IVF candidate generation (trained index, nProbe=2)
    val idx = Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      nCentroids = 4, kmeansIters = 4)
    val ivfCands = Similarity.ivfTopKFromIndex(idx, vecs, "vec_id",
      "embedding", k = 4, nProbe = 2)
    val viaIvf = Similarity
      .mutualKnnClustersFromCandidates(vecs, "vec_id", ivfCands)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    assert(viaIvf === brute)
    // ...and hard negatives consume the SAME candidate contract: IVF
    // candidates with all cells probed ≡ the brute-force miner
    val q = vecs.filter(col("vec_id") === 0)
    val bruteNegs = Similarity.hardNegatives(vecs, q, "vec_id",
        "embedding", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
    val ivfNegs = Similarity.hardNegativesFromCandidates(
        Similarity.ivfTopKFromIndex(idx, q, "vec_id", "embedding",
          k = 3 + 8, nProbe = 4), k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(ivfNegs === bruteNegs && bruteNegs.nonEmpty)
  }

  test("mutual-kNN maxIter bounds component rounds and is raisable for " +
      "deep chain clusters") {
    import graft.operators.Similarity
    // a 30-node mutual path graph: min-label propagation needs ~29
    // rounds to pull node 29's label down to 0
    val n = 30
    val ids = (0 until n).map(_.toLong).toDF("vec_id")
    val cands = (0 until n - 1).flatMap(i =>
        Seq((i.toLong, i + 1L), (i + 1L, i.toLong)))
      .toDF("query_id", "neighbor_id")
    val e = intercept[IllegalArgumentException] {
      Similarity.mutualKnnClustersFromCandidates(ids, "vec_id", cands,
        maxIter = 5).collect()
    }
    assert(e.getMessage.contains("converge"))
    val labels = Similarity.mutualKnnClustersFromCandidates(ids,
        "vec_id", cands, maxIter = 40)
      .collect().map(_.getAs[Long]("cluster")).toSet
    assert(labels === Set(0L))
  }

  test("dedup ledger: admits unseen content once, persists across batches") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ledger").toString + "/ledger"
    // batch 1: two distinct texts, one in-batch duplicate (id 3 of id 1)
    val b1 = Seq((1L, "alpha content"), (2L, "beta content"),
      (3L, "alpha content")).toDF("doc_id", "text")
    val a1 = Dedup.ledgerAdmit(spark, dir, b1, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a1 === Set(1L, 2L)) // in-batch dup collapsed to min id
    // batch 2: one repeat of batch 1, one new; the repeat must be barred
    // by the PERSISTED ledger, not in-memory state
    val b2 = Seq((10L, "beta content"), (11L, "gamma content"))
      .toDF("doc_id", "text")
    val a2 = Dedup.ledgerAdmit(spark, dir, b2, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a2 === Set(11L))
    // ledger now holds exactly the three admitted digests
    assert(spark.read.parquet(graft.util.Gen.resolve(spark, dir))
      .distinct().count() === 3)
    // batch 3: all repeats -> nothing admitted, ledger unchanged;
    // null-text rows are dropped up front (documented precondition),
    // and admittedOut persists the admitted docs BEFORE the append
    val out3 = dir + "_out3"
    val a3 = Dedup.ledgerAdmit(spark, dir,
      Seq((20L, "alpha content"), (21L, "gamma content"),
        (22L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), "doc_id", "text",
      admittedOut = Some(out3)).count()
    assert(a3 === 0L)
    assert(spark.read.parquet(graft.util.Gen.resolve(spark, dir))
      .count() === 3)
    assert(spark.read.parquet(out3).count() === 0)
  }

  test("ingest lease: a held lease fails a second admit AND a " +
      "compaction loudly (a concurrent admit would double-admit); the " +
      "lease releases on success and on failure, and clearIngestLease " +
      "is the crashed-admit recovery") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lease").toString + "/ledger"
    val leasePath = new org.apache.hadoop.fs.Path(
      graft.util.Fs.ingestLeasePath(dir))
    val b1 = Seq((1L, "alpha content")).toDF("doc_id", "text")
    // a normal admit acquires and releases
    assert(Dedup.ledgerAdmit(spark, dir, b1, "doc_id", "text")
      .count() === 1L)
    assert(!fs.exists(leasePath))
    // a held lease (concurrent admit mid-flight, or a hard-crashed
    // one): the next admit must fail loudly, not double-admit
    fs.create(leasePath, false).close()
    val blocked = intercept[IllegalStateException] {
      Dedup.ledgerAdmit(spark, dir,
        Seq((2L, "beta content")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    assert(blocked.getMessage.contains("ingest lease"))
    // ...and maintenance fails FAST at its entry, not late at the
    // content re-verify
    val rewriteBlocked = intercept[IllegalStateException] {
      Dedup.compactDedupLedger(spark, dir)
    }
    assert(rewriteBlocked.getMessage.contains("lease"))
    // the near-dup admit shares the mechanism (lease on ITS primary)
    val ndl = dir + "_ndl"
    val ndlLease = new org.apache.hadoop.fs.Path(
      graft.util.Fs.ingestLeasePath(ndl))
    fs.create(ndlLease, false).close()
    val ndlBlocked = intercept[IllegalStateException] {
      Dedup.nearDupLedgerAdmit(spark, ndl, b1, "doc_id", "text")
    }
    assert(ndlBlocked.getMessage.contains("ingest lease"))
    graft.util.Fs.clearIngestLease(spark, ndl)
    // operator recovery: clear, then the batch re-runs idempotently
    assert(graft.util.Fs.clearIngestLease(spark, dir))
    assert(Dedup.ledgerAdmit(spark, dir,
      Seq((2L, "beta content")).toDF("doc_id", "text"),
      "doc_id", "text").count() === 1L)
    // release-on-failure: an admit that throws at the maintenance
    // fence leaves NO lease behind
    graft.util.Gen.createMarker(spark, dir)
    intercept[IllegalStateException] {
      Dedup.ledgerAdmit(spark, dir, b1, "doc_id", "text")
    }
    graft.util.Gen.deleteMarker(spark, dir)
    assert(!fs.exists(leasePath))
    assert(Dedup.ledgerAdmit(spark, dir, b1, "doc_id", "text")
      .count() === 0L) // alpha already admitted — ledger intact
  }

  test("dedup ledger compaction: bounds the file count, leaves the " +
      "digest set and admit decisions identical, recovers a crashed swap") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files
      .createTempDirectory("graft_ledger_c").toString
    val dir = root + "/ledger"
    try {
    // five "daily" batches, each appending its own file set
    (0 until 5).foreach { b =>
      Dedup.ledgerAdmit(spark,
        dir, Seq((b * 10L, s"content $b"), (b * 10L + 1, s"more $b"))
          .toDF("doc_id", "text"), "doc_id", "text")
    }
    // the store is db-bucketed (partition dirs): count part files
    // recursively, per bucket dir
    def files(): Seq[java.io.File] =
      partFiles(graft.util.Gen.resolve(spark, dir))
    val filesBefore = files().size
    assert(filesBefore >= 5, s"no accretion: $filesBefore")
    val digests = spark.read
      .parquet(graft.util.Gen.resolve(spark, dir))
      .select("text_md5")
      .collect().map(_.getString(0)).toSet
    assert(Dedup.compactDedupLedger(spark, dir)
      === digests.size)
    // one digest-sorted file per touched bucket post-compaction
    assert(files().groupBy(_.getParent).values.forall(_.size == 1))
    assert(files().size <= digests.size)
    assert(spark.read.parquet(graft.util.Gen.resolve(spark, dir))
      .select("text_md5")
      .collect().map(_.getString(0)).toSet === digests)
    // admit decisions unchanged: a full repeat admits nothing, a novel
    // doc still lands
    assert(Dedup.ledgerAdmit(spark, dir,
      Seq((90L, "content 0"), (91L, "novel content"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(91L))
    // crashed-rewrite recovery: a partial uncommitted generation and
    // the surviving marker — admits fail loudly, readers keep the
    // committed generation, and a compaction re-run sweeps the orphan
    // and completes with the marker cleared
    val n = spark.read.parquet(graft.util.Gen.resolve(spark, dir)).count()
    val orphan = new Path(s"$dir/gen-00000099")
    fs.mkdirs(orphan)
    val marker = new Path(graft.util.Fs.maintenanceMarkerPath(dir))
    fs.create(marker, true).close()
    intercept[IllegalStateException] {
      Dedup.ledgerAdmit(spark, dir,
        Seq((99L, "fenced")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(Dedup.compactDedupLedger(spark, dir) === n)
    assert(!fs.exists(orphan) && !fs.exists(marker))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("quality model separates a planted corpus perfectly and retrains " +
      "to identical coefficients") {
    import graft.operators.QualityModel
    // linearly separable on stop_ratio/alpha_frac: "reference" docs are
    // stopword-rich prose, "crawl" docs are symbol soup
    val ref = (0 until 30).map(i =>
      (i.toLong, "the quick brown fox and the lazy dog ran of a it " +
        s"is in word$i text here", 1.0))
    val crawl = (30 until 60).map(i =>
      (i.toLong, s"### $i ### ... %%% @@@ $i-$i-$i ... ###", 0.0))
    val df = (ref ++ crawl).toDF("doc_id", "text", "label")
    val feats = QualityModel.featurize(df, "doc_id", "text")
      .join(df.select("doc_id", "label"), Seq("doc_id"))
    val m1 = QualityModel.train(feats, "label")
    val scored = QualityModel.score(
      QualityModel.featurize(df, "doc_id", "text"), m1, "doc_id")
      .join(df.select("doc_id", "label"), Seq("doc_id")).collect()
    // perfect separation at the 0.5 boundary
    assert(scored.forall { r =>
      (r.getAs[Double]("quality_prob") > 0.5) ==
        (r.getAs[Double]("label") == 1.0)
    })
    // deterministic retrain: identical coefficients
    val m2 = QualityModel.train(feats, "label")
    assert(m1.coefficients.toArray.zip(m2.coefficients.toArray)
      .forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(math.abs(m1.intercept - m2.intercept) < 1e-9)
  }

  test("GD quality trainer separates the planted corpus, retrains " +
      "bit-identically, and respects the sample bound") {
    import graft.operators.QualityModel
    // same planted linearly-separable corpus as the L-BFGS spec above
    val ref = (0 until 30).map(i =>
      (i.toLong, "the quick brown fox and the lazy dog ran of a it " +
        s"is in word$i text here", 1.0))
    val crawl = (30 until 60).map(i =>
      (i.toLong, s"### $i ### ... %%% @@@ $i-$i-$i ... ###", 0.0))
    val df = (ref ++ crawl).toDF("doc_id", "text", "label")
    val feats = QualityModel.featurize(df, "doc_id", "text")
      .join(df.select("doc_id", "label"), Seq("doc_id"))
    val m1 = QualityModel.trainGd(feats, "doc_id", "label",
      iters = 50, lr = 1.0)
    val scored = QualityModel.scoreGd(
      QualityModel.featurize(df, "doc_id", "text"), m1, "doc_id")
      .join(df.select("doc_id", "label"), Seq("doc_id")).collect()
    assert(scored.forall { r =>
      (r.getAs[Double]("quality_prob") > 0.5) ==
        (r.getAs[Double]("label") == 1.0)
    })
    // driver-side fixed-order arithmetic: retrain is BIT-identical,
    // not just close — the property the unrolled oracle leans on
    val m2 = QualityModel.trainGd(feats, "doc_id", "label",
      iters = 50, lr = 1.0)
    assert(m1.weights.sameElements(m2.weights)
      && m1.intercept == m2.intercept
      && m1.means.sameElements(m2.means)
      && m1.stds.sameElements(m2.stds))
    // the sample bound really cuts: training on the lowest-10-ids slice
    // (all label 1) ignores the crawl rows entirely, so the gradient
    // never sees a negative and the intercept moves strictly up
    val m3 = QualityModel.trainGd(feats, "doc_id", "label",
      iters = 50, lr = 1.0, sampleSize = 10)
    assert(m3.intercept > 0.0 && m1.intercept < m3.intercept)
  }

  test("shardAssign: contiguous per-shard positions, stable under " +
      "repartition") {
    val a = Curation.shardAssign(docs, "doc_id", 8)
      .select("doc_id", "shard", "pos")
    val b = Curation.shardAssign(docs.repartition(7), "doc_id", 8)
      .select("doc_id", "shard", "pos")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // positions are exactly 1..|shard| within every shard
    val bad = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"),
        min(col("pos")).as("mn"), countDistinct(col("pos")).as("d"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1 ||
        col("d") =!= col("n"))
    assert(bad.isEmpty)
    // uniform hashing keeps shards balanced (500 docs / 8 shards)
    val sizes = a.groupBy("shard").count().collect().map(_.getLong(1))
    assert(sizes.length === 8 && sizes.min > 30 && sizes.max < 100)
  }

  test("text operators degrade gracefully on null and empty text") {
    // A production corpus WILL contain null/empty payloads; the narrow
    // ops must drop or null them out, never throw.
    val hostile = Seq((1L, "a normal little document here"),
      (2L, null.asInstanceOf[String]), (3L, ""), (4L, "   "))
      .toDF("doc_id", "text")
    // gram/shingle family: null/short docs simply produce no grams —
    // only the one real document (5 tokens → 3 grams) yields a row
    val gn = Dedup.gramNovelty(hostile, "doc_id", "text").collect()
    assert(gn.map(_.getAs[Long]("doc")).toSeq === Seq(1L))
    assert(Dedup.containment(hostile, "doc_id", "text").count() === 0)
    // chunker: null/empty docs drop, the real doc chunks
    val chunks = Curation.chunkWithStride(hostile, "doc_id", "text",
      windowTokens = 3, stride = 2).collect()
    assert(chunks.forall(_.getAs[Long]("doc_id") != 2L))
    assert(chunks.exists(_.getAs[Long]("doc_id") == 1L))
    // hashing-trick embedding: null text → null vector, no throw
    val emb = hostile.select(col("doc_id"),
      graft.functions.TextFunctions.hashedEmbedding(col("text"), 64)
        .as("v")).collect()
    assert(emb.find(_.getLong(0) == 2L).exists(_.isNullAt(1)))
    assert(emb.find(_.getLong(0) == 1L).exists(!_.isNullAt(1)))
    // shard assignment works for every row (id-keyed, text-independent)
    assert(Curation.shardAssign(hostile, "doc_id", 4).count() === 4)
  }

  test("hashedEmbedding: deterministic, twin texts retrieve each other " +
      "at cos 1.0 through the full text-ANN pipeline") {
    import graft.functions.TextFunctions
    val texts = (0 until 60).map(i =>
      (i.toLong, (0 until 12).map(j => s"tok${i}_$j").mkString(" ")))
    // plant doc 100 as an exact text twin of doc 0
    val corpus = (texts :+ (100L, texts.head._2))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextFunctions.hashedEmbedding(col("text"), 64).as("embedding"))
    // determinism across partition layouts
    val a = corpus.orderBy("doc_id").collect().map(_.getSeq[Double](1))
    val b = corpus.repartition(5).orderBy("doc_id").collect()
      .map(_.getSeq[Double](1))
    assert(a.toSeq === b.toSeq)
    val top = Similarity.ivfTopK(corpus,
        corpus.filter(col("doc_id") === 0), "doc_id", "embedding",
        k = 1, nCentroids = 4, nProbe = 2)
      .collect()
    assert(top.length === 1)
    assert(top.head.getAs[Long]("neighbor_id") === 100L)
    assert(top.head.getAs[Double]("cos_sim") === 1.0)
  }

  test("hashedEmbedding native kernel is bit-identical to the HOF fold " +
      "(the formulation the q113 oracle hashes were pinned against)") {
    import org.apache.spark.sql.Column
    // the r8 interpreted-HOF formulation, kept here as the semantic spec
    def hofEmbedding(text: Column, d: Int): Column = {
      val bits = Integer.numberOfTrailingZeros(d)
      aggregate(TextFunctions.tokens(text), array_repeat(lit(0.0), d),
        (a, t) => {
          val h = TextFunctions.hash60(t)
          val dim = h.bitwiseAND(lit(d.toLong - 1)).cast("int")
          val sign = when(
            shiftright(h, bits).bitwiseAND(lit(1L)) === 0, 1.0)
            .otherwise(-1.0)
          transform(a, (v, i) => v + when(i === dim, sign).otherwise(0.0))
        })
    }
    val rnd = new scala.util.Random(7)
    val texts = (0 until 200).map { i =>
      (i.toLong,
        (0 until rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(50)}")
          .mkString(" "))
    } ++ Seq( // tokenizer edges: trim is space-only, split is java-regex
      (500L, "\ttab lead"), (501L, "trail tab\t"),
      (502L, "  doubled  spaces  "), (503L, "dup dup dup dup"),
      (504L, "unicode tøkens café 東京"))
    val both = texts.toDF("doc_id", "text").select(col("doc_id"),
      TextFunctions.hashedEmbedding(col("text"), 64).as("fast"),
      hofEmbedding(col("text"), 64).as("slow")).collect()
    both.foreach { r =>
      assert(r.getSeq[Double](1) === r.getSeq[Double](2),
        s"doc ${r.getLong(0)}")
    }
  }

  test("byteEntropy: planted byte distributions hit exact values, " +
      "empty/null are defined") {
    val rows = Seq[(Long, Array[Byte])](
      (1L, Array.fill[Byte](100)(65)), // constant payload → 0 nats
      (2L, (0 until 256).map(_.toByte).toArray), // uniform → ln 256 exact
      (3L, Array.empty[Byte]), // DEFINED: empty → 0.0
      (4L, null)) // null → null
      .toDF("id", "b")
    val got = rows
      .select(col("id"), Multimodal.byteEntropy(col("b")).as("e"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) === Some(0.0))
    assert(got(2L) === Some(math.log(256.0)))
    assert(got(3L) === Some(0.0))
    assert(got(4L) === None)
    // a compressed-looking (hash-random) payload sniffs near ln 256
    // while ASCII text sits well below — the separation the op exists for
    val sniff = docs.limit(50)
      .select(Multimodal.byteEntropy(col("text").cast("binary")).as("e"))
      .agg(max(col("e"))).head().getDouble(0)
    assert(sniff > 2.0 && sniff < 5.0)
  }

  test("hashedEmbedding kernel: a null token element contributes " +
      "nothing (the HOF form's when-null fall-through)") {
    // tokens() never emits null elements, but the kernel is public and
    // must keep the documented null discipline for arbitrary callers
    graft.expressions.HashedEmbedding.register(spark)
    val arr = spark.sql(
        "SELECT graft_hashed_embedding(array('hello', NULL, 'hello'), 64) AS v")
      .head().getSeq[Double](0)
    assert(arr.map(math.abs).sum === 2.0) // two real tokens, null skipped
  }

  test("containment finds a planted excerpt that Jaccard rejects") {
    val long = (0 until 40).map(i => s"w$i").mkString(" ")
    val shortDoc = (10 until 26).map(i => s"w$i").mkString(" ")
    val other = (100 until 140).map(i => s"x$i").mkString(" ")
    val corpus = Seq((1L, long), (2L, shortDoc), (3L, other))
      .toDF("doc_id", "text")
    val got = Dedup.containment(corpus, "doc_id", "text",
        threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b"), r.getAs[Double]("containment")))
    // the excerpt is contained in its source — and ONLY that direction
    assert(got.toSeq === Seq((2L, 1L, 1.0)))
    // the symmetric Jaccard join structurally misses the pair: the
    // container's 38 grams inflate the union (14/38 ≈ 0.37)
    val jac = Dedup.ngramJaccard(corpus, "doc_id", "text",
      threshold = 0.9)
    assert(!jac.collect().exists(r =>
      Set(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) == Set(1L, 2L)))
  }

  test("writeShards materializes one sorted parquet dir per shard, " +
      "reproducibly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards")
      .toString
    Curation.writeShards(docs, "doc_id", 8, dir)
    // the partition column reads back via directory-name inference (int)
    val back = spark.read.parquet(dir)
      .select(col("doc_id"), col("shard").cast("long").as("shard"),
        col("pos"))
    val expect = Curation.shardAssign(docs, "doc_id", 8)
      .select("doc_id", "shard", "pos")
    assert(back.except(expect).isEmpty && expect.except(back).isEmpty)
    // one directory per shard, one file per shard (repartitioned on the
    // shard key before the dynamic-partition write)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length === 8)
    shardDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1)
    }
    // a trainer reading ONE shard directory sees ascending positions in
    // file order (single sorted file → stable parquet read order)
    val one = spark.read.parquet(s"$dir/shard=3").select("pos")
      .collect().map(_.getLong(0) /* pos is the long-safe running rank */).toSeq
    assert(one === one.sorted && one.head === 1)
  }

  test("snapshotDiff classifies planted add/remove/change/unchanged") {
    val oldS = Seq((1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"))
      .toDF("id", "digest", "source")
    val newS = Seq((2L, "B", "s1"), (3L, "c", "s2"), (4L, "d", "s3"))
      .toDF("id", "digest", "source")
    val got = Dedup.snapshotDiff(oldS, newS, "id", "digest",
        carryCols = Seq("source"))
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String]("status"), r.getAs[String]("source"))).toSet
    assert(got === Set((1L, "removed", "s1"), (2L, "changed", "s1"),
      (3L, "unchanged", "s2"), (4L, "added", "s3")))
  }

  // ---- distributed Lloyd refinement + embedding outlier audit ----

  /** 4 well-separated planted clusters on the unit sphere (dirs e0, e2,
    * e4, e6 of R^8, small deterministic jitter on the odd axes). */
  private def plantedClusters(perCluster: Int): Seq[(Long, Array[Double])] =
    for {
      c <- 0 until 4
      i <- 0 until perCluster
    } yield {
      val v = new Array[Double](8)
      v(2 * c) = 1.0
      v(2 * c + 1) = 0.1 * ((i % 5) - 2) / 2.0
      val n = math.sqrt(v.map(x => x * x).sum)
      // ids interleave round-robin across clusters so the trainer's
      // deterministic first-k seed starts one centroid per cluster
      ((i * 4 + c).toLong, v.map(_ / n))
    }

  test("refineCentroids recovers planted cluster means; objective is " +
      "monotone and partition-invariant") {
    val corpus = plantedClusters(40).toDF("vec_id", "embedding")
    val init = Similarity.trainCentroids(corpus, "vec_id", "embedding", 4)
    val refined = Similarity.refineCentroids(corpus, init, "embedding", 5)
    def cents(df: org.apache.spark.sql.DataFrame): Array[Array[Double]] =
      df.orderBy("cent_id").collect()
        .map(_.getAs[Seq[Double]]("centv").toArray)
    val r = cents(refined)
    // every planted direction is recovered by some refined centroid
    (0 until 4).foreach { c =>
      val best = r.map(v => v(2 * c)).max
      assert(best > 0.995, s"cluster $c not recovered (best axis weight $best)")
    }
    // Lloyd objective (mean own-centroid similarity) must not regress
    def objective(cs: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignWithSim(corpus, cs, "vec_id", "embedding")
        .agg(avg("cent_sim")).head().getDouble(0)
    assert(objective(refined) >= objective(init) - 1e-9)
    // partition layout must not change the result (well-separated data:
    // assignments are stable; means differ only by float sum order)
    val r7 = cents(Similarity.refineCentroids(
      corpus.repartition(7), init, "embedding", 5))
    r.zip(r7).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("buildIvfIndex(refineIters): refined index equals the manual " +
      "refine path and serves planted clusters exactly") {
    val corpus = plantedClusters(40).toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 8)
    val refined = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      nCentroids = 4, refineIters = 3)
    // plumbing: same centroids as refining the sampled seed by hand
    val manual = Similarity.refineCentroids(corpus,
      Similarity.trainCentroids(corpus, "vec_id", "embedding", 4),
      "embedding", 3)
    val a = refined._1.select("cent_id", "centv").orderBy("cent_id")
      .collect().map(_.getSeq[Double](1))
    val b = manual.select("cent_id", "centv").orderBy("cent_id")
      .collect().map(_.getSeq[Double](1))
    a.zip(b).foreach { case (x, y) =>
      x.zip(y).foreach { case (u, v) => assert(math.abs(u - v) < 1e-12) }
    }
    // serving: on well-separated clusters, nProbe=1 over the refined
    // cells recovers the exact top-3 (all true neighbors share the cell)
    val ivf = Similarity.ivfTopKFromIndex(refined, qs, "vec_id",
      "embedding", k = 3, nProbe = 1)
    val brute = Similarity.bruteForceTopK(corpus, qs, "vec_id",
      "embedding", 3)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
    val (gi, gb) = (sets(ivf), sets(brute))
    gb.foreach { case (q, truth) => assert(gi(q) === truth) }
  }

  test("embeddingOutliers ranks a planted alien vector first") {
    val alien = {
      val v = new Array[Double](8); v(7) = 1.0; (9999L, v)
    }
    val corpus = (plantedClusters(40) :+ alien)
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingOutliers(corpus, "vec_id", "embedding",
      nCentroids = 4, refineIters = 3, topN = 5).collect()
    assert(out.length === 5)
    assert(out.head.getAs[Long]("vec_id") === 9999L)
    // the alien's z-score must dwarf the runner-up's
    assert(out.head.getAs[Double]("z") > 2 * out(1).getAs[Double]("z"))
  }

  test("ivfDriftReport: a batch cell with no build-corpus rows is " +
      "flagged has_baseline=false with NULL drifts, and the filtered " +
      "weighted drift ignores it instead of biasing toward zero") {
    // hand-built index: two orthogonal unit centroids, corpus ONLY in
    // cell 0 — a batch vector on axis 1 argmaxes into a cell the build
    // corpus never touched, so it has no baseline by construction
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
      .toDF("cent_id", "centv")
    val assigned = Seq((10L, Array(1.0, 0.0), 0L), (11L, Array(0.8, 0.6), 0L))
      .toDF("neighbor_id", "cv", "cell")
    val batch = Seq((20L, Array(1.0, 0.0)), (21L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.ivfDriftReport((cents, assigned), batch,
      "vec_id", "embedding").collect().map(x =>
        x.getAs[Long]("cell") -> x).toMap
    assert(r.keySet === Set(0L, 1L))
    assert(r(0L).getAs[Boolean]("has_baseline"))
    assert(r(0L).getAs[Long]("base_n") === 2L)
    assert(!r(1L).getAs[Boolean]("has_baseline"))
    assert(r(1L).getAs[Long]("base_n") === 0L)
    assert(r(1L).isNullAt(r(1L).fieldIndex("mean_drift")))
    assert(r(1L).isNullAt(r(1L).fieldIndex("p10_drift")))
    assert(r(1L).getAs[Long]("batch_n") === 1L)
    // the documented consumer discipline: weighted drift over
    // has_baseline cells only — finite, and unpolluted by the
    // baseline-less cell's batch_n (an unfiltered sum would keep its
    // batch_n in the denominator against a NULL-skipped numerator)
    val w = Similarity.ivfDriftReport((cents, assigned), batch,
        "vec_id", "embedding")
      .filter(col("has_baseline"))
      .agg((sum(col("batch_n") * col("mean_drift")) /
        sum(col("batch_n"))).as("d"), sum(col("batch_n")).as("n")).head()
    assert(!w.isNullAt(0) && w.getLong(1) === 1L)
  }

  test("maintenance fence: appends fail loudly during a compaction " +
      "window; the marker survives a crashed swap and clears on the " +
      "recovery re-run") {
    import org.apache.hadoop.fs.Path
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft_fence").toString
    try {
      // --- IVF side -----------------------------------------------------
      val ivf = s"$root/ivf"
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding"), ivf)
      val marker = new Path(
        graft.util.Fs.maintenanceMarkerPath(ivf))
      // a maintenance window is open (what Gen.rewrite does first): the
      // racing append must throw, not silently commit doomed rows
      fs.create(marker, true).close()
      val ex = intercept[IllegalStateException] {
        Similarity.appendToIvfIndex(spark, ivf,
          emb.limit(5), "vec_id", "embedding")
      }
      assert(ex.getMessage.contains("maintenance"))
      fs.delete(marker, false)
      // crashed rewrite: died mid-write WITH the marker still down and
      // a partial generation on disk — ingest stays fenced; readers
      // keep the committed generation
      val rows = spark.read.parquet(
        s"${graft.util.Gen.resolve(spark, ivf)}/assigned").count()
      fs.create(marker, true).close()
      fs.mkdirs(new Path(s"$ivf/gen-00000099"))
      intercept[IllegalStateException] {
        Similarity.appendToIvfIndex(spark, ivf,
          emb.limit(5), "vec_id", "embedding")
      }
      // the natural recovery — re-running the compactor — sweeps the
      // orphan, publishes, AND clears the marker; ingest resumes
      assert(Similarity.compactIvfIndex(spark, ivf) === rows)
      assert(!fs.exists(marker))
      assert(!fs.exists(new Path(s"$ivf/gen-00000099")))
      assert(Similarity.appendToIvfIndex(spark, ivf,
        emb.limit(5), "vec_id", "embedding") === 5L)
      // --- dedup-ledger side (both ledgers share the fence) -------------
      val ledger = s"$root/ledger"
      Dedup.ledgerAdmit(spark, ledger,
        Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"),
        "doc_id", "text")
      val lMarker = new Path(graft.util.Fs.maintenanceMarkerPath(ledger))
      fs.create(lMarker, true).close()
      intercept[IllegalStateException] {
        Dedup.ledgerAdmit(spark, ledger,
          Seq((3L, "c")).toDF("doc_id", "text"), "doc_id", "text")
      }
      intercept[IllegalStateException] {
        Dedup.nearDupLedgerAdmit(spark, ledger,
          Seq((3L, "c")).toDF("doc_id", "text"), "doc_id", "text")
      }
      fs.delete(lMarker, false)
      assert(Dedup.ledgerAdmit(spark, ledger,
        Seq((3L, "c")).toDF("doc_id", "text"), "doc_id", "text")
        .count() === 1L)
      // Gen.rewrite itself holds the marker for exactly the rewrite
      // window: an admit INSIDE the window throws, one after succeeds
      graft.util.Gen.rewrite(spark, ledger) { tmp =>
        intercept[IllegalStateException] {
          Dedup.ledgerAdmit(spark, ledger,
            Seq((4L, "d")).toDF("doc_id", "text"), "doc_id", "text")
        }
        spark.read.parquet(graft.util.Gen.resolve(spark, ledger))
          .write.parquet(tmp)
      }
      assert(Dedup.ledgerAdmit(spark, ledger,
        Seq((4L, "d")).toDF("doc_id", "text"), "doc_id", "text")
        .count() === 1L)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("nearDupLedgerAdmit: three-batch admit decisions ≡ one-shot " +
      "nearDupDrops on the union; re-admits are no-ops; compaction " +
      "bounds files and leaves decisions identical") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ndl").toString
    val dir = s"$root/ledger"
    try {
      // monotone ids across three "daily" batches (the documented ingest
      // contract), with planted exact dups and near-dups WITHIN batches
      // and ACROSS them — including a near-dup of a doc that was itself
      // rejected (the non-transitivity case that forces the store to
      // keep rejected signatures)
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the deep dark forest tonight"
      def tweak(s: String, i: Int) = s + s" tail$i"
      val b1 = Seq(
        (100L, base), (101L, base),            // exact dup in batch
        (102L, tweak(base, 1)),                // near-dup of 100 → drop
        (103L, "completely different short text about spark plans " +
          "and shuffle exchanges in a distributed engine runtime"))
      val b2 = Seq(
        (200L, base),                          // exact dup vs history
        (201L, tweak(base, 1)),                // exact dup of REJECTED 102
        (202L, tweak(base, 2)),                // near-dup vs history
        (203L, "fresh novel content named alpha beta gamma delta " +
          "epsilon zeta eta theta iota kappa lambda mu nu xi"))
      val b3 = Seq(
        (300L, tweak(base, 3)),                // near-dup vs history
        (301L, b2(3)._2 + " tail9"),           // near-dup of batch-2 doc
        (302L, "yet another genuinely unique document mentioning " +
          "catalyst expressions codegen and tungsten memory format"))
      val union = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
      val dropped = Dedup.nearDupDrops(union, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      val expected = (b1 ++ b2 ++ b3).map(_._1).toSet -- dropped
      val got = Seq(b1, b2, b3).flatMap { b =>
        Dedup.nearDupLedgerAdmit(spark, dir,
          b.toDF("doc_id", "text"), "doc_id", "text")
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      assert(got === expected,
        s"ledger admits $got != one-shot survivors $expected " +
          s"(one-shot dropped $dropped)")
      // sanity on the plant: every planted relationship actually fired
      assert(!expected.contains(101L) && !expected.contains(102L) &&
        !expected.contains(200L) && !expected.contains(201L) &&
        !expected.contains(202L) && !expected.contains(300L) &&
        !expected.contains(301L))
      assert(expected.contains(100L) && expected.contains(103L) &&
        expected.contains(203L) && expected.contains(302L))
      // idempotence: a full re-admit of any batch admits nothing and
      // appends nothing (novel-digest set is empty)
      val rowsBefore = spark.read
        .parquet(graft.util.Gen.resolve(spark, dir)).count()
      assert(Dedup.nearDupLedgerAdmit(spark, dir,
        b2.toDF("doc_id", "text"), "doc_id", "text").isEmpty)
      assert(spark.read.parquet(graft.util.Gen.resolve(spark, dir))
        .count() === rowsBefore)
      // geometry guard: admitting with different band geometry fails
      // with the actionable message, not a schema exception downstream
      val gex = intercept[IllegalStateException] {
        Dedup.nearDupLedgerAdmit(spark, dir,
          Seq((400L, "x y z")).toDF("doc_id", "text"), "doc_id", "text",
          bands = 2, rows = 4)
      }
      assert(gex.getMessage.contains("geometry"))
      // the hole the column check alone cannot see: 2×8 produces the
      // SAME 16 mh columns as 4×4 but different band keys — an admit
      // with the wrong split would silently probe nothing; the
      // geometry sidecar turns it into the loud error
      val gex2 = intercept[IllegalStateException] {
        Dedup.nearDupLedgerAdmit(spark, dir,
          Seq((401L, "x y z")).toDF("doc_id", "text"), "doc_id", "text",
          bands = 2, rows = 8)
      }
      assert(gex2.getMessage.contains("geometry"))
      // compaction: bounds the file count (one file per touched db
      // bucket in the primary, one per (band, kb) bucket in the band
      // store), keeps the signature set and all future decisions
      // identical
      assert(partFiles(graft.util.Gen.resolve(spark, dir)).size >= 3)
      val sigs = spark.read.parquet(graft.util.Gen.resolve(spark, dir))
        .collect().map(_.getString(1)).toSet
      assert(Dedup.compactNearDupLedger(spark, dir) === rowsBefore)
      // every bucket dir holds exactly one file post-compaction (in
      // the CURRENT generation — the previous one survives for reader
      // grace until the next rewrite's sweep)
      assert(partFiles(graft.util.Gen.resolve(spark, dir))
        .groupBy(_.getParent).values.forall(_.size == 1))
      assert(partFiles(graft.util.Gen.resolve(spark,
          Dedup.ndlBandsPath(dir)))
        .groupBy(_.getParent).values.forall(_.size == 1))
      assert(spark.read.parquet(graft.util.Gen.resolve(spark, dir))
        .collect().map(_.getString(1)).toSet === sigs)
      // post-compaction decisions: exact dup of history still rejected,
      // near-dup of history still rejected, novel doc admitted — and
      // admittedOut persists exactly the admitted rows (the crash-safe
      // ordering's artifact)
      val out = s"$root/admitted4"
      val after = Dedup.nearDupLedgerAdmit(spark, dir, Seq(
          (500L, base),                        // exact vs history
          (501L, tweak(base, 4)),              // near vs history
          (502L, "final novel closing document about watermarks and " +
            "stateful stream aggregation semantics at scale"))
        .toDF("doc_id", "text"), "doc_id", "text",
        admittedOut = Some(out))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(after === Set(502L))
      assert(spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet === after)
      // backfill: losing the band store is recoverable — the next
      // admit re-derives it from the primary's signatures, and the
      // near-vs-history drop (which NEEDS the band probe) still fires
      graft.util.Fs.deleteRecursively(Dedup.ndlBandsPath(dir))
      val afterBackfill = Dedup.nearDupLedgerAdmit(spark, dir, Seq(
          (600L, base),                 // exact vs history
          (601L, tweak(base, 6)),       // near vs history via the probe
          (602L, "an entirely separate closing document describing " +
            "adaptive query execution and partition coalescing rules"))
        .toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(afterBackfill === Set(602L))
      assert(new java.io.File(Dedup.ndlBandsPath(dir)).exists())
      // pluggable hasher (the nearDupDrops drop-set-equality precedent):
      // a fresh xxhash64-keyed ledger makes the same decisions on the
      // same batch sequence
      val xxDir = s"$root/ledger_xx"
      val gotXx = Seq(b1, b2, b3).flatMap { b =>
        Dedup.nearDupLedgerAdmit(spark, xxDir,
          b.toDF("doc_id", "text"), "doc_id", "text",
          hasher = xxhash64(_))
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      assert(gotXx === expected)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("index deletion: tombstoned ids leave every serve immediately, " +
      "compaction and rebuild drop them physically (raw store reads " +
      "lose the rows), recall/drift stay consistent, the fence holds") {
    import org.apache.hadoop.fs.Path
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft_delete").toString
    try {
      // --- IVF ------------------------------------------------------
      val ivf = s"$root/ivf"
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding"), ivf)
      val queries = emb.filter(col("vec_id") < 3)
      val before = Similarity.ivfTopKFromIndex(
        Similarity.loadIvfIndex(spark, ivf), queries, "vec_id",
        "embedding", k = 5, nProbe = 16)
      // delete exactly the ids the pre-delete serve returned: the
      // post-delete serve must contain NONE of them, and equal a serve
      // over the corpus minus those ids
      val dead = before.select(col("neighbor_id")).distinct()
        .localCheckpoint()
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      assert(Similarity.deleteFromIndex(spark, ivf, dead,
        "neighbor_id") === deadIds.size.toLong)
      val served = Similarity.ivfTopKFromIndex(
        Similarity.loadIvfIndex(spark, ivf), queries, "vec_id",
        "embedding", k = 5, nProbe = 16).localCheckpoint()
      assert(served.filter(col("neighbor_id")
        .isInCollection(deadIds.toSeq)).isEmpty)
      val oracle = Similarity.bruteForceTopK(
        emb.filter(!col("vec_id").isInCollection(deadIds.toSeq)),
        queries, "vec_id", "embedding", k = 5)
      assert(served.except(oracle).isEmpty &&
        oracle.except(served).isEmpty)
      // recall probe samples from the tombstone-filtered store: no
      // deleted id may appear as a sampled query or a truth neighbor,
      // and full probe still recalls exactly 1.0 on the live rows
      val probe = Similarity.ivfRecallProbe(spark, ivf, sampleN = 16,
        k = 5, nProbes = Seq(16))
      assert(probe.filter(col("recall") =!= 1.0).isEmpty)
      // drift report stays consistent: frozen baseline + centroids are
      // untouched by deletion, so the report still runs and every cell
      // the batch lands in has its baseline
      val drift = Similarity.ivfDriftReport(spark, ivf,
        emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding")
      assert(drift.filter(!col("has_baseline")).isEmpty)
      // compaction makes the delete physical: a RAW read of the store
      // files (no tombstone filter) no longer contains the ids, the row
      // count drops accordingly, the tombstone dir clears, and the
      // serve is unchanged
      def rawStore() = spark.read.parquet(
        s"${graft.util.Gen.resolve(spark, ivf)}/assigned")
      val rows = rawStore().count()
      assert(rawStore()
        .filter(col("neighbor_id").isInCollection(deadIds.toSeq))
        .count() === deadIds.size.toLong) // pre-compaction: still on disk
      assert(Similarity.compactIvfIndex(spark, ivf)
        === rows - deadIds.size)
      assert(rawStore()
        .filter(col("neighbor_id").isInCollection(deadIds.toSeq))
        .isEmpty) // post-compaction: physically gone
      assert(!fs.exists(new Path(
        s"${graft.util.Gen.resolve(spark, ivf)}/tombstones")))
      val postCompact = Similarity.ivfTopKFromIndex(
        Similarity.loadIvfIndex(spark, ivf), queries, "vec_id",
        "embedding", k = 5, nProbe = 16)
      assert(postCompact.except(served).isEmpty &&
        served.except(postCompact).isEmpty)
      // fence: a delete racing a maintenance window fails loudly
      val marker = new Path(
        graft.util.Fs.maintenanceMarkerPath(ivf))
      fs.create(marker, true).close()
      intercept[IllegalStateException] {
        Similarity.deleteFromIndex(spark, ivf,
          emb.limit(1).select("vec_id"), "vec_id")
      }
      fs.delete(marker, false)
      // rebuild after a fresh delete is also a physical drop: the new
      // generation holds neither the rows nor a tombstones dir
      val survivor = served.limit(1).select("neighbor_id")
        .first().getLong(0)
      Similarity.deleteFromIndex(spark, ivf,
        Seq(survivor).toDF("vec_id"), "vec_id")
      val liveRows = rawStore().count() - 1
      assert(Similarity.rebuildIvfIndex(spark, ivf) === liveRows)
      assert(!fs.exists(new Path(
        s"${graft.util.Gen.resolve(spark, ivf)}/tombstones")))
      // --- IVF+PQ: serve exclusion + corpus-resurrection guard -------
      val pq = s"$root/ivfpq"
      Similarity.saveIvfPqIndex(
        Similarity.buildIvfPqIndex(emb, "vec_id", "embedding"), pq)
      Similarity.deleteFromIndex(spark, pq, dead, "neighbor_id")
      val pqServed = Similarity.ivfPqTopKFromIndex(
        Similarity.loadIvfPqIndex(spark, pq), emb, queries, "vec_id",
        "embedding", k = 5, nProbe = 16, rerank = 1000)
      assert(pqServed.filter(col("neighbor_id")
        .isInCollection(deadIds.toSeq)).isEmpty)
      assert(Similarity.rebuildIvfPqIndex(spark, pq, emb, "vec_id",
        "embedding") === emb.count() - deadIds.size)
      // --- plain PQ: serve exclusion + frozen-codebook append +
      // physical compaction ---------------------------------------
      val ppq = s"$root/pq"
      Similarity.savePqIndex(
        Similarity.buildPqIndex(emb.filter(col("vec_id") < 400),
          "vec_id", "embedding"), ppq)
      assert(Similarity.appendToPqIndex(spark, ppq,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding")
        === emb.filter(col("vec_id") >= 400).count())
      Similarity.deleteFromIndex(spark, ppq, dead, "neighbor_id")
      val ppqServed = Similarity.pqTopKFromIndex(
        Similarity.loadPqIndex(spark, ppq), emb, queries, "vec_id",
        "embedding", k = 5, rerank = 1000)
      assert(ppqServed.filter(col("neighbor_id")
        .isInCollection(deadIds.toSeq)).isEmpty)
      assert(Similarity.compactPqIndex(spark, ppq)
        === emb.count() - deadIds.size)
      assert(spark.read.parquet(
          s"${graft.util.Gen.resolve(spark, ppq)}/codes")
        .filter(col("neighbor_id").isInCollection(deadIds.toSeq))
        .isEmpty)
      // --- SQ8: serve exclusion + physical compaction ----------------
      val sq = s"$root/sq8"
      Similarity.saveSq8Index(
        Similarity.buildSq8Index(emb, "vec_id", "embedding"), sq)
      Similarity.deleteFromIndex(spark, sq, dead, "neighbor_id")
      val sqServed = Similarity.sq8TopKFromIndex(
        Similarity.loadSq8Index(spark, sq), emb, queries, "vec_id",
        "embedding", k = 5, rerank = 1000)
      assert(sqServed.filter(col("neighbor_id")
        .isInCollection(deadIds.toSeq)).isEmpty)
      assert(Similarity.compactSq8Index(spark, sq)
        === emb.count() - deadIds.size)
      assert(spark.read.parquet(
          s"${graft.util.Gen.resolve(spark, sq)}/codes")
        .filter(col("neighbor_id").isInCollection(deadIds.toSeq))
        .isEmpty)
      assert(!fs.exists(new Path(
        s"${graft.util.Gen.resolve(spark, sq)}/tombstones")))
      assert(Similarity.indexStats(spark, sq)
        .first().getAs[Long]("n_tombstones") === 0L)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("nearDupLedgerForget: scrubs the id from both stores, keeps the " +
      "signature's drop power, is idempotent, and leaves later " +
      "decisions bit-identical") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ndl_forget").toString
    val dir = s"$root/ledger"
    try {
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the deep dark forest tonight"
      val other = "completely different short text about spark plans " +
        "and shuffle exchanges in a distributed engine runtime"
      assert(Dedup.nearDupLedgerAdmit(spark, dir,
        Seq((100L, base), (101L, other)).toDF("doc_id", "text"),
        "doc_id", "text").count() === 2L)
      // forget doc 100 — the takedown: its id must leave both stores...
      assert(Dedup.nearDupLedgerForget(spark, dir,
        Seq(100L).toDF("doc_id"), "doc_id") === 1L)
      val store = spark.read
        .parquet(graft.util.Gen.resolve(spark, dir))
      val bandStore = spark.read.parquet(
        graft.util.Gen.resolve(spark, Dedup.ndlBandsPath(dir)))
      assert(store.filter(col("doc") === 100L).isEmpty)
      assert(bandStore.filter(col("doc") === 100L).isEmpty)
      assert(store.count() === 2L) // ...but its SIGNATURE row stays
      val sentinels = store.filter(col("doc") < 0L)
        .select("doc").collect().map(_.getLong(0))
      assert(sentinels.length === 1)
      // the scrubbed row still carries band keys under the sentinel id
      assert(bandStore.filter(col("doc") === sentinels(0)).count() > 0)
      // ...because the drop rule needs it: an exact dup AND a near-dup
      // of the forgotten content must still be rejected, while novel
      // content admits — decisions bit-identical to an unforgotten run
      val b2 = Seq((200L, base), (201L, base + " tail1"),
        (202L, "fresh novel content named alpha beta gamma delta " +
          "epsilon zeta eta theta iota kappa lambda mu nu xi"))
        .toDF("doc_id", "text")
      val after = Dedup.nearDupLedgerAdmit(spark, dir, b2,
        "doc_id", "text").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(after === Set(202L))
      // idempotence: the id is gone, so a re-forget scrubs nothing
      assert(Dedup.nearDupLedgerForget(spark, dir,
        Seq(100L).toDF("doc_id"), "doc_id") === 0L)
      // a second forget for OTHER ids leaves the earlier sentinels
      // untouched (digest-keyed mapping), and the compactor keeps the
      // scrubbed rows (a crash between the two store flips is
      // LedgerLifecycleSpec's)
      assert(Dedup.nearDupLedgerForget(spark, dir,
        Seq(101L).toDF("doc_id"), "doc_id") === 1L)
      Dedup.compactNearDupLedger(spark, dir)
      val compacted = spark.read
        .parquet(graft.util.Gen.resolve(spark, dir))
      assert(compacted.count() === 4L)
      assert(compacted.filter(col("doc").isin(100L, 101L)).isEmpty)
      assert(Dedup.nearDupLedgerAdmit(spark, dir,
        Seq((300L, other + " tail3")).toDF("doc_id", "text"),
        "doc_id", "text").count() === 0L) // near-dup of forgotten 101
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("expireFromIndex: ingest-log TTL tombstones only pre-cutoff " +
      "rows, compaction makes the drop physical and ages the log with " +
      "it, untimed rows are unexpirable, rebuild carries ages") {
    import org.apache.hadoop.fs.Path
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val fresh = emb.filter(col("vec_id") % 3 === 0)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ttl").toString
    try {
      // --- SQ8: the q135 shape, plus the physical/log lifecycle ----
      val sq = s"$root/sq8"
      Similarity.saveSq8Index(
        Similarity.buildSq8Index(old, "vec_id", "embedding"), sq,
        ingestMicros = 1000L)
      assert(Similarity.appendToSq8Index(spark, sq, fresh, "vec_id",
        "embedding", ingestMicros = 2000L) === fresh.count())
      // expire the save-time batch: exactly the old rows tombstone
      assert(Similarity.expireFromIndex(spark, sq, 1500L)
        === old.count())
      val served = Similarity.sq8TopKFromIndex(
        Similarity.loadSq8Index(spark, sq), emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, rerank = 1000)
      assert(served.filter(col("neighbor_id") % 3 =!= 0).isEmpty)
      // the serve ≡ an index that only ever held the fresh batch
      val oracle = Similarity.sq8TopKFromIndex(
        Similarity.buildSq8Index(fresh, "vec_id", "embedding"), emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, rerank = 1000)
      assert(served.except(oracle).isEmpty &&
        oracle.except(served).isEmpty)
      // compaction drops rows AND their log entries together: the
      // re-expire finds nothing left to tombstone
      assert(Similarity.compactSq8Index(spark, sq) === fresh.count())
      assert(Similarity.expireFromIndex(spark, sq, 1500L) === 0L)
      // the surviving batch's ages survive too: a later cutoff expires
      // the carried 2000 µs rows
      assert(Similarity.expireFromIndex(spark, sq, 2500L)
        === fresh.count())
      // --- untimed rows are UNEXPIRABLE (fail toward keeping) -------
      val un = s"$root/untimed"
      Similarity.saveSq8Index(
        Similarity.buildSq8Index(emb, "vec_id", "embedding"), un)
      assert(Similarity.expireFromIndex(spark, un, Long.MaxValue)
        === 0L)
      assert(Similarity.loadSq8Index(spark, un).count() === emb.count())
      // --- IVF: same verb, and the rebuild carries ages -------------
      val ivf = s"$root/ivf"
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(old, "vec_id", "embedding"), ivf,
        ingestMicros = 1000L)
      assert(Similarity.appendToIvfIndex(spark, ivf, fresh, "vec_id",
        "embedding", ingestMicros = 2000L) === fresh.count())
      // rebuild first: the retrained generation must keep the ages
      assert(Similarity.rebuildIvfIndex(spark, ivf) === emb.count())
      assert(Similarity.expireFromIndex(spark, ivf, 1500L)
        === old.count())
      val ivfServed = Similarity.ivfTopKFromIndex(
        Similarity.loadIvfIndex(spark, ivf),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nProbe = 16)
      assert(ivfServed.filter(col("neighbor_id") % 3 =!= 0).isEmpty)
      assert(Similarity.compactIvfIndex(spark, ivf) === fresh.count())
      assert(!fs.exists(new Path(
        s"${graft.util.Gen.resolve(spark, ivf)}/tombstones")))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("nearDupLedgerExpire: takedown grade scrubs identity with drop " +
      "power intact; retention grade purges rows so copies re-admit; " +
      "sentinels purge only on the explicit flag; idempotent") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ndl_ttl").toString
    val dir = s"$root/ledger"
    try {
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the deep dark forest tonight"
      val keep = "a completely different document about stream " +
        "processing watermarks and stateful aggregation semantics"
      // ids are the ingest axis (the admit contract): 100/101 are the
      // old cohort, 500 is the young cohort
      assert(Dedup.nearDupLedgerAdmit(spark, dir,
        Seq((100L, base), (101L, keep)).toDF("doc_id", "text"),
        "doc_id", "text").count() === 2L)
      assert(Dedup.nearDupLedgerAdmit(spark, dir,
        Seq((500L, keep + " extra tail words here")).toDF(
          "doc_id", "text"), "doc_id", "text").count() === 1L)
      // --- takedown grade (default): identity scrubbed, drop power
      // intact — an exact dup AND a near-dup of expired content are
      // still rejected, a novel doc admits
      assert(Dedup.nearDupLedgerExpire(spark, dir, beforeDoc = 200L)
        === 2L)
      val store1 = spark.read
        .parquet(graft.util.Gen.resolve(spark, dir))
      assert(store1.filter(col("doc").isin(100L, 101L)).isEmpty)
      assert(store1.count() === 3L) // signatures stay (as sentinels)
      val got = Dedup.nearDupLedgerAdmit(spark, dir, Seq(
          (600L, base),                      // exact dup of expired
          (601L, base + " tail1"),           // near-dup of expired
          (602L, "novel closing text about adaptive query execution " +
            "and partition coalescing heuristics"))
        .toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === Set(602L))
      // idempotent: everything below the cutoff is already a sentinel
      assert(Dedup.nearDupLedgerExpire(spark, dir, beforeDoc = 200L)
        === 0L)
      // --- retention grade: purge rows ingested before 650, keeping
      // the sentinels (no explicit flag) — a near-copy of PURGED
      // content now re-admits (the documented horizon), while the
      // SENTINEL content still drops. Three rows purge: 500, plus
      // 601's near-REJECTED-but-novel signature and 602's admitted one
      val purged = Dedup.nearDupLedgerExpire(spark, dir,
        beforeDoc = 650L, dropSignatures = true)
      assert(purged === 3L)
      val store2 = spark.read
        .parquet(graft.util.Gen.resolve(spark, dir))
      assert(store2.filter(col("doc") >= 0L).isEmpty)
      assert(store2.count() === 2L) // the two sentinels stay
      val got2 = Dedup.nearDupLedgerAdmit(spark, dir, Seq(
          (700L, base),                 // sentinel content: still drops
          (701L, keep + " extra tail words here and more"))
        .toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // 700 is an exact copy of SENTINEL-held base content: the
      // takedown grade kept its signature, so it still drops. 701 is
      // a near-dup only of the PURGED 500-signature (vs the surviving
      // plain-keep sentinel it sits under the 0.8 threshold) — the
      // purge horizon means it RE-ADMITS, the documented tradeoff.
      assert(got2 === Set(701L))
      // --- retention grade with the explicit sentinel flag: the
      // whole pre-cutoff history (sentinels included) purges, and an
      // exact copy of formerly-forgotten content re-admits
      assert(Dedup.nearDupLedgerExpire(spark, dir,
        beforeDoc = Long.MaxValue, dropSignatures = true,
        dropForgottenSignatures = true) === 3L) // 2 sentinels + 701
      // the purged generation holds zero rows (no data files at all —
      // hasData is how every consumer checks before reading)
      assert(!graft.util.Gen.hasData(spark, dir))
      assert(Dedup.nearDupLedgerAdmit(spark, dir,
        Seq((800L, base)).toDF("doc_id", "text"), "doc_id", "text")
        .count() === 1L)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  /** Part files under a store dir, recursively (the ledger stores are
    * bucket-partitioned: one subdir per bucket). */
  private def partFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f).filter(_.getName.startsWith("part-"))
    walk(new java.io.File(dir))
  }

  /** The ledger write layout of a store's current generation: exactly
    * one part file per bucket dir, its rows in `keys` order. One scan
    * reads every part file (a file's rows arrive in file order). */
  private def assertBucketLayout(store: String, keys: Seq[String]): Unit = {
    val gen = graft.util.Gen.resolve(spark, store)
    val files = partFiles(gen)
    assert(files.nonEmpty, s"$gen holds no part files")
    files.groupBy(_.getParent).foreach { case (d, fs) =>
      assert(fs.size === 1, s"bucket dir $d holds ${fs.size} files")
    }
    val rows = spark.read.parquet(gen)
      .select(input_file_name() +: keys.map(col): _*).collect()
    // enough rows per file that an unsorted write cannot pass by luck
    assert(rows.length >= 8 * files.size, s"${rows.length} rows")
    def cmp(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) =
      keys.indices.iterator.map(i => a.getAs[Comparable[Any]](i + 1)
        .compareTo(b.get(i + 1))).find(_ != 0).getOrElse(0)
    val unsorted = rows.groupBy(_.getString(0)).count { case (_, rs) =>
      rs.sliding(2).exists {
        case Array(a, b) => cmp(a, b) > 0
        case _ => false
      }
    }
    assert(unsorted == 0, s"$unsorted of ${files.size} files of $store " +
      s"not sorted by ${keys.mkString(", ")}")
  }

  test("ledger stores: every write leaves one key-sorted file per " +
      "bucket dir — exact ledger after an admit and a compaction; " +
      "near-dup band store and primary after an admit, a forget, an " +
      "expiry and a compaction") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ledger_layout").toString
    val exact = s"$root/exact"
    val ndl = s"$root/ndl"
    val bands = Dedup.ndlBandsPath(ndl)
    try {
      Dedup.ledgerAdmit(spark, exact, seededDocs(0 until 1000),
        "doc_id", "text")
      assertBucketLayout(exact, Seq("text_md5"))
      Dedup.ledgerAdmit(spark, exact, seededDocs(1000 until 1200),
        "doc_id", "text")
      assert(Dedup.compactDedupLedger(spark, exact) === 1200L)
      assertBucketLayout(exact, Seq("text_md5"))

      assert(Dedup.nearDupLedgerAdmit(spark, ndl, seededDocs(0 until 1000),
        "doc_id", "text").count() === 1000L)
      assertBucketLayout(bands, Seq("band", "kh"))
      assertBucketLayout(ndl, Nil)
      assert(Dedup.nearDupLedgerForget(spark, ndl,
        (0L until 100L).toDF("doc_id"), "doc_id") === 100L)
      assertBucketLayout(bands, Seq("band", "kh"))
      assertBucketLayout(ndl, Nil)
      Dedup.nearDupLedgerAdmit(spark, ndl, seededDocs(1000 until 1200),
        "doc_id", "text")
      assert(Dedup.nearDupLedgerExpire(spark, ndl, beforeDoc = 200L,
        dropSignatures = true) === 100L)
      assertBucketLayout(bands, Seq("band", "kh"))
      assertBucketLayout(ndl, Nil)
      Dedup.nearDupLedgerAdmit(spark, ndl, seededDocs(1200 until 1300),
        "doc_id", "text")
      assert(Dedup.compactNearDupLedger(spark, ndl) === 1200L)
      assertBucketLayout(bands, Seq("band", "kh"))
      assertBucketLayout(ndl, Nil)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("ledger writes run min(32, defaultParallelism) tasks — sized to " +
      "the cores, not the 32 buckets, and never one coalesced task") {
    val want = math.min(32, spark.sparkContext.defaultParallelism)
    assert(want > 1, "a one-core session cannot tell the sizing from " +
      "a coalesced write")
    val root = java.nio.file.Files
      .createTempDirectory("graft_ledger_tasks").toString
    // result tasks per stage, and the stages whose tasks wrote output
    // records: the file writes (an admit without admittedOut writes
    // nothing but its ledger appends)
    val resultTasks =
      new java.util.concurrent.ConcurrentHashMap[Int, Integer]
    val writeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val tap = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskType == "ResultTask") {
          resultTasks.merge(t.stageId, 1, (a, b) => a + b)
          if (t.taskMetrics != null &&
              t.taskMetrics.outputMetrics.recordsWritten > 0)
            writeStages.add(t.stageId)
          ()
        }
    }
    // the task count of every write stage `body` runs
    def writeTasks(body: => Unit): Seq[Int] = {
      resultTasks.clear(); writeStages.clear()
      listening(tap)(body)
      import scala.jdk.CollectionConverters._
      writeStages.asScala.toSeq.map(resultTasks.get(_).intValue)
    }
    try {
      // appends to existing ledgers: the steady-state write
      Dedup.ledgerAdmit(spark, s"$root/exact", seededDocs(0 until 50),
        "doc_id", "text")
      Dedup.nearDupLedgerAdmit(spark, s"$root/ndl", seededDocs(0 until 50),
        "doc_id", "text")
      val exact = writeTasks(Dedup.ledgerAdmit(spark, s"$root/exact",
        seededDocs(50 until 300), "doc_id", "text"))
      assert(exact.size === 1 && exact.forall(_ == want),
        s"exact append write stages ran $exact tasks, want $want")
      val near = writeTasks(Dedup.nearDupLedgerAdmit(spark, s"$root/ndl",
        seededDocs(50 until 300), "doc_id", "text").count())
      assert(near.size === 2 && near.forall(_ == want),
        s"near-dup append (bands, primary) write stages ran $near " +
          s"tasks, want $want")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("nearDupLedgerAdmit auditOut: drop reasons AND min partners are " +
      "exact per rule, multi-rule docs carry one row per rule, and " +
      "decisions are identical with the audit on or off") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ndl_audit").toString
    try {
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the deep dark forest tonight"
      val other = "completely unrelated prose describing adaptive " +
        "query execution and shuffle partition coalescing at scale"
      val b1 = Seq((100L, base), (101L, other)).toDF("doc_id", "text")
      // batch 2 exercises every rule: 200 = exact copy of history
      // (exact_store + near_store — identical text is a J=1 near hit),
      // 201 = same copy again (exact_batch vs 200), 202 = near-tweak
      // of history AND of 200 (near_store + near_batch), 203 = exact
      // copy of 202 (exact_batch), 204 = novel
      val b2 = Seq(
        (200L, base), (201L, base), (202L, base + " tail1"),
        (203L, base + " tail1"),
        (204L, "a wholly novel document about watermark semantics " +
          "and bounded state in streaming aggregation runtimes"))
        .toDF("doc_id", "text")
      // audit-off decisions (the r15 plan, bit-for-bit)
      val plain = s"$root/plain"
      Dedup.nearDupLedgerAdmit(spark, plain, b1, "doc_id", "text")
      val admittedPlain = Dedup.nearDupLedgerAdmit(spark, plain, b2,
        "doc_id", "text").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // audited run
      val dir = s"$root/ledger"
      Dedup.nearDupLedgerAdmit(spark, dir, b1, "doc_id", "text",
        auditOut = Some(s"$root/a1"))
      val admitted = Dedup.nearDupLedgerAdmit(spark, dir, b2,
        "doc_id", "text", auditOut = Some(s"$root/a2"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admitted === admittedPlain && admitted === Set(204L))
      assert(spark.read.parquet(s"$root/a1").isEmpty) // b1 all novel
      val rows = spark.read.parquet(s"$root/a2")
        .collect().map(r => (r.getAs[Long]("doc"),
          r.getAs[String]("reason"), r.getAs[Long]("partner"))).toSet
      assert(rows === Set(
        (200L, "exact_store", 100L), // the store's holder of the digest
        (200L, "near_store", 100L),  // identical text is a J=1 near hit
        (201L, "exact_batch", 200L), // collapsed onto its in-batch rep
        (202L, "near_batch", 200L),  // min same-batch verified match
        (202L, "near_store", 100L),  // min store verified match
        (203L, "exact_batch", 202L)))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("dedupLedgerStats: accretion pages compact, compaction quiets " +
      "it, duplicates count zero under the fence; an unbucketed store " +
      "is refused, untouched") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ledger_stats").toString
    val dir = s"$root/ledger"
    try {
      // 20 digests per batch over 32 buckets: consecutive batches are
      // pigeonhole-certain to re-touch buckets, so files accrete
      (0 until 4).foreach { b =>
        Dedup.ledgerAdmit(spark, dir,
          (0 until 20).map(i => (b * 100L + i, s"content $b $i"))
            .toDF("doc_id", "text"), "doc_id", "text")
      }
      val accreted = Dedup.dedupLedgerStats(spark, dir,
        maxFilesPerBucket = 1).first()
      assert(accreted.getAs[Long]("n_digests") === 80L)
      assert(accreted.getAs[Long]("n_duplicate_rows") === 0L)
      assert(accreted.getAs[Boolean]("compact_advised"))
      Dedup.compactDedupLedger(spark, dir)
      val quiet = Dedup.dedupLedgerStats(spark, dir,
        maxFilesPerBucket = 1).first()
      assert(quiet.getAs[Long]("max_bucket_files") === 1L)
      assert(!quiet.getAs[Boolean]("compact_advised"))
      // the unbucketed layout from before the db bucketing (digests
      // only, flat at the root) is refused by stats, admit and
      // compaction, and nothing is written or swept
      val flat = s"$root/flat"
      Seq("x", "y").toDF("t").select(md5(col("t")).as("text_md5"))
        .write.parquet(flat)
      val before = tree(root)
      for ((e, layout) <- Seq(
          intercept[IllegalStateException](
            Dedup.dedupLedgerStats(spark, flat)) -> "unbucketed layout",
          intercept[IllegalStateException](Dedup.ledgerAdmit(spark, flat,
            Seq((1L, "z")).toDF("doc_id", "text"), "doc_id", "text")) ->
            "unbucketed layout",
          intercept[IllegalStateException](
            Dedup.compactDedupLedger(spark, flat)) -> "flat store"))
        assert(e.getMessage.contains(s"$flat ") &&
          e.getMessage.contains(layout))
      assert(tree(root) === before)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("nearDupLedgerHealthReport: quiet on a fresh compacted ledger, " +
      "pages compact on accretion, counts sentinels, flags a lost or " +
      "out-of-sync band store") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ndl_health").toString
    val dir = s"$root/ledger"
    try {
      val mk = (i: Long, t: String) => (i, t)
      // three admit batches -> >=2 files in buckets touched twice
      assert(Dedup.nearDupLedgerAdmit(spark, dir, Seq(
          mk(1L, "first document about distributed query planning"),
          mk(2L, "second document about shuffle partitioning rules"))
        .toDF("doc_id", "text"), "doc_id", "text").count() === 2L)
      assert(Dedup.nearDupLedgerAdmit(spark, dir, Seq(
          mk(10L, "third document describing broadcast joins at scale"),
          mk(11L, "fourth document describing watermark semantics"))
        .toDF("doc_id", "text"), "doc_id", "text").count() === 2L)
      def health(maxF: Int = 16) =
        Dedup.nearDupLedgerHealthReport(spark, dir, maxF).first()
      // healthy: band store in sync (4 keys per banded row), no
      // sentinels, accretion under the default threshold
      val h0 = health()
      assert(h0.getAs[Boolean]("has_band_store"))
      assert(!h0.getAs[Boolean]("rebuild_bands_advised"))
      assert(h0.getAs[Long]("band_rows")
        === h0.getAs[Long]("expected_band_rows"))
      assert(h0.getAs[Long]("sentinel_rows") === 0L)
      assert(!h0.getAs[Boolean]("compact_advised"))
      // a tight threshold pages the compact axis (two batches hit at
      // least one shared bucket only when keys collide — primary db
      // buckets ARE per-doc, so use max files >= 1 and threshold 0)
      assert(health(maxF = 0).getAs[Boolean]("compact_advised"))
      // forget -> sentinel census
      assert(Dedup.nearDupLedgerForget(spark, dir,
        Seq(1L).toDF("doc_id"), "doc_id") === 1L)
      assert(health().getAs[Long]("sentinel_rows") === 1L)
      // a LOST band store is the silent-miss hazard: flagged loudly
      graft.util.Fs.deleteRecursively(Dedup.ndlBandsPath(dir))
      val lost = health()
      assert(!lost.getAs[Boolean]("has_band_store"))
      assert(lost.getAs[Boolean]("rebuild_bands_advised"))
      // the remediation restores sync (geometry from the sidecar)
      assert(Dedup.rebuildNearDupLedgerBands(spark, dir)
        === health().getAs[Long]("expected_band_rows"))
      assert(!health().getAs[Boolean]("rebuild_bands_advised"))
      // a ledger without its geometry sidecar (the layout from before
      // the sidecar existed) is refused by every verb that needs the
      // geometry, and nothing is written, stamped or swept
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir + "_meta"))
      val before = tree(root)
      Seq(() => Dedup.nearDupLedgerAdmit(spark, dir,
          Seq(mk(20L, "a fifth document")).toDF("doc_id", "text"),
          "doc_id", "text"),
        () => health(), () => Dedup.rebuildNearDupLedgerBands(spark, dir),
        () => Dedup.nearDupLedgerForget(spark, dir, Seq(2L).toDF("doc_id"),
          "doc_id"),
        () => Dedup.compactNearDupLedger(spark, dir)).foreach { verb =>
        assert(intercept[IllegalStateException](verb()).getMessage.contains(
          s"$dir holds a near-dup ledger without its geometry sidecar"))
      }
      assert(tree(root) === before)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("pinned-generation serve: a load at the deploy-time generation " +
      "keeps serving the PRE-rebuild index through the rebuild — the " +
      "reproducible-serving / A-B form of the versioned layout") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gen_pin_ivf").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding",
          nCentroids = 8), dir)
      val pin = graft.util.Gen.currentGeneration(spark, dir).get
      val queries = emb.filter(col("vec_id") < 8)
      def serve(path: String, nProbe: Int): Set[(Long, Long, Long)] =
        Similarity.ivfTopKFromIndex(
            Similarity.loadIvfIndex(spark, path), queries,
            "vec_id", "embedding", k = 3, nProbe = nProbe)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
      val served0 = serve(dir, 8)
      // the rebuild retrains with a DIFFERENT cell count — a genuinely
      // new index generation
      assert(Similarity.rebuildIvfIndex(spark, dir, nCentroids = 16)
        === emb.count())
      // a pinned load serves the pre-rebuild index bit-identically
      // (loadIvfIndex accepts a generation dir in place of the store)
      val servedPinned = serve(
        graft.util.Gen.resolveAt(spark, dir, pin), 8)
      assert(servedPinned === served0 && served0.nonEmpty)
      // the current index serves too, and at FULL probe both
      // generations agree exactly (full probe ≡ brute force over the
      // same rows — only the cell layout differs)
      assert(serve(dir, 16) === serve(
        graft.util.Gen.resolveAt(spark, dir, pin), 8))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("IVF+PQ lifecycle: frozen-parameter append equals the one-shot " +
      "frozen encode of the union; compaction bounds files and serves " +
      "identically; the fence holds") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_lc").toString
    try {
      val idx = Similarity.buildIvfPqIndex(base, "vec_id", "embedding")
      Similarity.saveIvfPqIndex(idx, dir)
      assert(Similarity.appendToIvfPqIndex(spark, dir, batch,
        "vec_id", "embedding") === batch.count())
      // the appended store must hold EXACTLY the frozen-parameter
      // (build-time centroids + codebooks) assignment/encode of the
      // union — the independent construction from the public kernels
      def storeRows(): Set[(Long, Long, Seq[Int])] =
        spark.read.parquet(
          s"${graft.util.Gen.resolve(spark, dir)}/codes")
          .select(col("neighbor_id"), col("cell").cast("long"),
            col("codes"))
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getAs[Seq[Int]](2))).toSet
      val expected = Similarity.assignWithSim(emb, idx._1, "vec_id",
          "embedding")
        .select(col("vec_id").as("neighbor_id"), col("cell"))
        .join(emb.select(col("vec_id").as("neighbor_id"),
          Similarity.pqEncodeCol(
            Similarity.l2Normalize(col("embedding")), idx._2)
            .as("codes")), Seq("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Seq[Int]](2))).toSet
      assert(storeRows() === expected)
      // compaction: append left ≥2 files in cells both writes touched;
      // the rewrite bounds every cell to one file with rows identical
      def maxFilesPerCell(): Int = new java.io.File(
          s"${graft.util.Gen.resolve(spark, dir)}/codes")
        .listFiles().filter(_.getName.startsWith("cell="))
        .map(_.listFiles().count(_.getName.startsWith("part-"))).max
      assert(maxFilesPerCell() >= 2)
      // the layout-health kernel agrees with java.io ground truth
      def statsMaxFiles(): Int = Similarity.indexStats(spark, dir)
        .agg(max(col("n_files"))).head().getLong(0).toInt
      assert(statsMaxFiles() === maxFilesPerCell())
      def serve(): Set[(Long, Long, Long, Double)] =
        Similarity.ivfPqTopKFromIndex(
            Similarity.loadIvfPqIndex(spark, dir), emb,
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 3, nProbe = 4, rerank = 32)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getDouble(3))).toSet
      val served0 = serve()
      assert(Similarity.compactIvfPqIndex(spark, dir) === emb.count())
      assert(maxFilesPerCell() === 1 && statsMaxFiles() === 1)
      assert(storeRows() === expected)
      assert(serve() === served0 && served0.nonEmpty)
      // fence: an append inside an open maintenance window fails loudly
      import org.apache.hadoop.fs.Path
      val marker = new Path(
        graft.util.Fs.maintenanceMarkerPath(dir))
      fs.create(marker, true).close()
      intercept[IllegalStateException] {
        Similarity.appendToIvfPqIndex(spark, dir, batch.limit(3),
          "vec_id", "embedding")
      }
      fs.delete(marker, false)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("ivfPqDriftReport: zero quantization-error drift on the build " +
      "corpus; a planted off-codebook batch drifts monotonically; a " +
      "baseline-less index fails with the remediation") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_drift").toString
    try {
      Similarity.saveIvfPqIndex(
        Similarity.buildIvfPqIndex(emb, "vec_id", "embedding"), dir)
      // before the baseline exists: actionable failure, not a raw
      // path-not-found from deep inside the plan
      val ex = intercept[IllegalStateException] {
        Similarity.ivfPqDriftReport(spark, dir, emb, "vec_id",
          "embedding")
      }
      assert(ex.getMessage.contains("writeIvfPqErrBaseline"))
      Similarity.writeIvfPqErrBaseline(spark, dir, emb, "vec_id",
        "embedding")
      val self = Similarity.ivfPqDriftReport(spark, dir, emb, "vec_id",
        "embedding").collect()
      assert(self.nonEmpty)
      assert(self.forall(_.getAs[Boolean]("has_baseline")))
      assert(self.forall(_.getAs[Double]("mean_err_drift") === 0.0))
      assert(self.forall(_.getAs[Double]("p90_err_drift") === 0.0))
      assert(self.forall(r =>
        r.getAs[Long]("base_n") === r.getAs[Long]("batch_n")))
      // reverse-blend perturbation (the IVF drift spec's plant): walks
      // every vector away from the space the codebooks were trained
      // on — the PQ error must rise, monotonically with alpha
      def drifted(alpha: Double) = emb.select(col("vec_id"),
        zip_with(col("embedding"), reverse(col("embedding")),
          (a, b) => a * lit(1.0 - alpha) + b * lit(alpha))
          .as("embedding"))
      def weighted(batch: org.apache.spark.sql.DataFrame): Double =
        Similarity.ivfPqDriftReport(spark, dir, batch, "vec_id",
            "embedding")
          .filter(col("has_baseline"))
          .agg((sum(col("batch_n") * col("mean_err_drift")) /
            sum(col("batch_n"))).as("d")).head().getDouble(0)
      val d0 = weighted(emb)
      val d5 = weighted(drifted(0.5))
      val d9 = weighted(drifted(0.9))
      assert(d0 === 0.0)
      assert(d5 > 0.0 && d9 > d5, s"err drift not monotone: $d0 $d5 $d9")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("ivfPqRecallProbe: deterministic, full probe recalls exactly 1, " +
      "recall monotone in nProbe") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pq_recall").toString
    try {
      Similarity.saveIvfPqIndex(
        Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
          nCells = 16), dir)
      def probe() = Similarity.ivfPqRecallProbe(spark, dir, emb,
          "vec_id", "embedding", sampleN = 16, k = 5,
          nProbes = Seq(1, 4, 16), rerank = 32)
        .collect().map(r => (r.getAs[Int]("n_probe"),
          r.getAs[Double]("recall"))).toMap
      val r = probe()
      assert(r.keySet === Set(1, 4, 16))
      assert(r(16) === 1.0)
      assert(r(1) <= r(4) && r(4) <= r(16), s"recall not monotone: $r")
      assert(r(1) > 0.0)
      assert(probe() === r)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("ivfRecallProbe: deterministic, full probe recalls exactly 1, " +
      "recall monotone in nProbe") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_recall").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding",
          nCentroids = 16), dir)
      def probe() = Similarity.ivfRecallProbe(spark, dir, sampleN = 32,
          k = 5, nProbes = Seq(1, 2, 4, 16))
        .collect().map(r => (r.getAs[Int]("n_probe"),
          r.getAs[Double]("recall"))).toMap
      val r = probe()
      assert(r.keySet === Set(1, 2, 4, 16))
      assert(r(16) === 1.0) // full probe ≡ the ground truth
      assert(r(1) <= r(2) && r(2) <= r(4) && r(4) <= r(16),
        s"recall not monotone: $r")
      assert(r(1) > 0.0)
      // deterministic end to end: the probe is a monitoring metric —
      // day-over-day comparability is the point
      assert(probe() === r)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("assignment fallback parity: the >MaxLiteralCents shuffled form " +
      "(map-side-combined argmax at keep=1, window at keep=nProbe) is " +
      "row-identical to the kernel form") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", 16)
    val in = emb.select(col("vec_id").as("nid"),
      Similarity.l2Normalize(col("embedding")).as("nv"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.map {
        case a: Seq[_] => a.toList
        case x => x
      }).toSet
    for (keepSim <- Seq(false, true)) {
      val kern = Similarity.assignCells(in, cents, "nid", "nv",
        keep = 1, keepSim = keepSim)
      val shuf = Similarity.assignCellsShuffled(in, cents, "nid", "nv",
        keep = 1, keepSim = keepSim)
      assert(kern.columns.toSeq === shuf.columns.toSeq)
      assert(rows(kern) === rows(shuf) && rows(kern).nonEmpty,
        s"keep=1 keepSim=$keepSim diverged")
    }
    val kern3 = Similarity.assignCells(in, cents, "nid", "nv", keep = 3)
    val shuf3 = Similarity.assignCellsShuffled(in, cents, "nid", "nv",
      keep = 3)
    assert(rows(kern3) === rows(shuf3) && rows(kern3).nonEmpty)
    // and the keep=1 shuffled plan really is the map-side-combined
    // aggregate: exactly one hash exchange, no Window
    val p = Similarity.assignCellsShuffled(in, cents, "nid", "nv",
      keep = 1).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1 &&
      !p.contains("Window") && p.contains("partial_max"))
  }

  test("assignCells decides the kernel path and fetches a persisted " +
      "index's centroids in ONE Spark job (a bounded collect)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_assign_jobs").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(emb, "vec_id", "embedding"), dir)
      val cents = Similarity.loadIvfIndex(spark, dir)._1
      val in = emb.select(col("vec_id").as("nid"),
        Similarity.l2Normalize(col("embedding")).as("nv"))
      val (assigned, jobs) = withJobCount(
        Similarity.assignCells(in, cents, "nid", "nv", keep = 1))
      assert(jobs === 1,
        s"assignCells ran $jobs jobs over a 16-row centroid table")
      assert(assigned.count() === emb.count())
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("rebuildIvfIndex: drift-triggered in-place retrain — the rebuilt " +
      "baseline absorbs the drifted ingest, the whole-index swap is " +
      "crash-recoverable, and the enclosing-dir fence blocks appends") {
    import org.apache.hadoop.fs.Path
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val drifted = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), zip_with(col("embedding"),
        reverse(col("embedding")),
        (a, b) => a * lit(0.2) + b * lit(0.8)).as("embedding"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_rebuild").toString
    val dir = s"$root/idx"
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(base, "vec_id", "embedding",
          nCentroids = 8), dir)
      Similarity.appendToIvfIndex(spark, dir, drifted, "vec_id",
        "embedding")
      def weighted(): Double = Similarity.ivfDriftReport(spark, dir,
          drifted, "vec_id", "embedding")
        .filter(col("has_baseline"))
        .agg((sum(col("batch_n") * col("mean_drift")) /
          sum(col("batch_n"))).as("d")).head().getDouble(0)
      val dBefore = weighted()
      assert(dBefore > 0.0, s"plant failed: $dBefore")
      val total = base.count() + drifted.count()
      assert(Similarity.rebuildIvfIndex(spark, dir,
        nCentroids = 8) === total)
      // the rebuilt baseline derives from the post-ingest corpus, so
      // the very batch that used to drift now profiles near-baseline
      val dAfter = weighted()
      assert(dAfter < dBefore,
        s"rebuild did not absorb the drift: $dAfter vs $dBefore")
      // serving SLA intact on the rebuilt store
      val recall = Similarity.ivfRecallProbe(spark, dir, sampleN = 16,
          k = 3, nProbes = Seq(8))
        .collect().head.getAs[Double]("recall")
      assert(recall === 1.0)
      // enclosing-dir fence: the whole-index marker blocks appends to
      // the store UNDER it
      val marker = new Path(graft.util.Fs.maintenanceMarkerPath(dir))
      fs.create(marker, true).close()
      intercept[IllegalStateException] {
        Similarity.appendToIvfIndex(spark, dir, emb.limit(3),
          "vec_id", "embedding")
      }
      fs.delete(marker, false)
      // crash mid-rebuild: a partial uncommitted generation and the
      // surviving marker — readers keep the committed generation, and
      // a rebuild re-run sweeps the orphan, retrains, and completes
      val orphanR = new Path(s"$dir/gen-00000099")
      fs.mkdirs(orphanR)
      fs.create(marker, true).close()
      assert(Similarity.rebuildIvfIndex(spark, dir,
        nCentroids = 8) === total)
      assert(!fs.exists(orphanR) && !fs.exists(marker))
      assert(Similarity.appendToIvfIndex(spark, dir, emb.limit(3),
        "vec_id", "embedding") === 3L)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("rebuildIvfPqIndex: corpus-supplied whole-index retrain leaves a " +
      "servable, baseline-fresh PQ index") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val root = java.nio.file.Files
      .createTempDirectory("graft_pq_rebuild").toString
    val dir = s"$root/idx"
    try {
      Similarity.saveIvfPqIndex(
        Similarity.buildIvfPqIndex(base, "vec_id", "embedding"), dir)
      Similarity.writeIvfPqErrBaseline(spark, dir, base, "vec_id",
        "embedding")
      Similarity.appendToIvfPqIndex(spark, dir,
        emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
      // rebuild on the FULL corpus: codes + codebooks + baseline all
      // regenerate in one atomic swap
      assert(Similarity.rebuildIvfPqIndex(spark, dir, emb, "vec_id",
        "embedding") === emb.count())
      // the fresh baseline profiles the rebuild corpus at zero drift
      val self = Similarity.ivfPqDriftReport(spark, dir, emb, "vec_id",
        "embedding").collect()
      assert(self.nonEmpty)
      assert(self.forall(_.getAs[Double]("mean_err_drift") === 0.0))
      // and the rebuilt index serves
      val served = Similarity.ivfPqTopKFromIndex(
        Similarity.loadIvfPqIndex(spark, dir), emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nProbe = 4, rerank = 32)
      assert(served.count() > 0)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("SQ8: rerank ≥ corpus equals brute force exactly; codes bounded " +
      "0..255 with reconstruction error ≤ Δ/2; constant vectors encode " +
      "to Δ=0 all-zero codes") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val n = emb.count().toInt
    // with every candidate surviving the approximate cut, the exact
    // rerank IS brute force — the compression can't change the answer
    assert(rows(Similarity.sq8TopK(emb, queries, "vec_id", "embedding",
      k = 5, rerank = n + 8)) ===
      rows(Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5)))
    val idx = Similarity.buildSq8Index(emb, "vec_id", "embedding")
    val bad = idx.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") > 255).count()
    assert(bad === 0L)
    // per-element reconstruction bound: |x̂ − x| ≤ Δ/2 (+ε for the
    // rounding's floating point)
    val worst = idx
      .join(emb.select(col("vec_id").as("neighbor_id"),
        Similarity.l2Normalize(col("embedding")).as("nv")),
        Seq("neighbor_id"))
      .select(max(expr(
        "aggregate(zip_with(nv, codes, (x, c) -> " +
          "abs(vmin + c * delta - x) - delta / 2), 0D, " +
          "(a, d) -> greatest(a, d))")).as("w"))
      .head().getDouble(0)
    assert(worst <= 1e-12, s"reconstruction bound violated by $worst")
    // constant vector: max = min, delta 0, codes all zero, and the
    // reconstruction is exactly the constant
    import SparkTestBase.session.implicits._
    val const = Seq((1L, Array.fill(8)(0.25))).toDF("vec_id", "embedding")
    val r = Similarity.buildSq8Index(const, "vec_id", "embedding")
      .head()
    assert(r.getAs[Double]("delta") === 0.0)
    assert(r.getAs[Seq[Int]]("codes").forall(_ === 0))
    // l2-normalized constant 8-dim vector has every element 1/sqrt(8)
    assert(math.abs(r.getAs[Double]("vmin") - 1.0 / math.sqrt(8)) < 1e-15)
  }

  test("ivfSq8: full probe + rerank ≥ corpus equals brute force; " +
      "save/load serves identically; frozen-centroid append ≡ the " +
      "one-shot encode of the union; drift monitor + fence hold") {
    import org.apache.hadoop.fs.Path
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val built = Similarity.buildIvfSq8Index(e, "vec_id", "embedding",
      nCentroids = 8)
    // full probe + rerank ≥ corpus makes the index a pure router: the
    // q131 contract, composed with cells
    val full = Similarity.ivfSq8TopKFromIndex(built, e, qs, "vec_id",
      "embedding", k = 3, nProbe = 8, rerank = n)
    val brute = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", 3)
    assert(full.except(brute).isEmpty && brute.except(full).isEmpty)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfsq8").toString
    val dir = s"$root/idx"
    try {
      // save 80%, baseline, append the rest with FROZEN centroids: the
      // store must equal the one-shot frozen encode of the union
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val batch = e.filter(col("vec_id") % 5 === 0)
      val baseIdx = Similarity.buildIvfSq8Index(base, "vec_id",
        "embedding", nCentroids = 8)
      Similarity.saveIvfSq8Index(baseIdx, dir)
      Similarity.writeIvfSq8Baseline(spark, dir, base, "vec_id",
        "embedding")
      assert(Similarity.appendToIvfSq8Index(spark, dir, batch,
        "vec_id", "embedding") === batch.count())
      val stored = spark.read.parquet(
        s"${graft.util.Gen.resolve(spark, dir)}/codes")
        .select(col("neighbor_id"), col("cell").cast("long").as("cell"),
          col("vmin"), col("delta"), col("codes"))
      val oneShot = Similarity.assignCells(
          e.select(col("vec_id").as("neighbor_id"),
            Similarity.l2Normalize(col("embedding")).as("cv")),
          baseIdx._1, "neighbor_id", "cv", keep = 1)
        .select(col("neighbor_id"), col("cell"),
          Similarity.sq8EncodeCol(col("cv")).as("sq"))
        .select(col("neighbor_id"), col("cell"),
          col("sq.vmin").as("vmin"), col("sq.delta").as("delta"),
          col("sq.codes").as("codes"))
      assert(stored.except(oneShot).isEmpty &&
        oneShot.except(stored).isEmpty)
      // the EXISTING drift monitor covers this index unchanged (the
      // one drifting component is the centroids)
      val drift = Similarity.ivfDriftReport(spark, dir, batch,
        "vec_id", "embedding")
      assert(drift.filter(col("has_baseline")).count() > 0)
      // recall probe + health twin: full probe recalls exactly 1.0 on
      // the corpus-supplied sample; a same-distribution batch against
      // its own baseline keeps the health row quiet
      val probe = Similarity.ivfSq8RecallProbe(spark, dir, e, "vec_id",
        "embedding", sampleN = 8, k = 3, nProbes = Seq(8), rerank = n)
      assert(probe.first().getAs[Double]("recall") === 1.0)
      // the build corpus against its own baseline: zero drift + full
      // recall keeps the health row quiet (the held-out batch's small
      // sf0.001 tail CAN legitimately exceed a tight drift threshold)
      val h = Similarity.ivfSq8IndexHealthReport(spark, dir, e, base,
        "vec_id", "embedding", sampleN = 8, k = 3, nProbe = 8,
        rerank = n).first()
      assert(!h.getAs[Boolean]("rebuild_advised"))
      assert(h.getAs[Double]("recall") === 1.0)
      // serve from the loaded index ≡ serve from the in-memory build
      val loaded = Similarity.loadIvfSq8Index(spark, dir)
      val unionIdx = (baseIdx._1, stored)
      val servedL = Similarity.ivfSq8TopKFromIndex(loaded, e, qs,
        "vec_id", "embedding", k = 3, nProbe = 8, rerank = n)
      val servedM = Similarity.ivfSq8TopKFromIndex(unionIdx, e, qs,
        "vec_id", "embedding", k = 3, nProbe = 8, rerank = n)
      assert(servedL.except(servedM).isEmpty &&
        servedM.except(servedL).isEmpty)
      // compaction bounds files; fence blocks a racing append; delete
      // excludes immediately and compaction drops physically
      assert(Similarity.compactIvfSq8Index(spark, dir) === e.count())
      val marker = new Path(
        graft.util.Fs.maintenanceMarkerPath(dir))
      fs.create(marker, true).close()
      intercept[IllegalStateException] {
        Similarity.appendToIvfSq8Index(spark, dir, e.limit(2),
          "vec_id", "embedding")
      }
      fs.delete(marker, false)
      Similarity.deleteFromIndex(spark, dir,
        e.limit(7).select("vec_id"), "vec_id")
      assert(Similarity.loadIvfSq8Index(spark, dir)._2.count()
        === e.count() - 7)
      // rebuild with tombstones PENDING: retrains on the caller corpus
      // minus the tombstoned ids (no resurrection) and the whole-dir
      // swap drops the tombstones with the old generation
      assert(Similarity.rebuildIvfSq8Index(spark, dir, e, "vec_id",
        "embedding", nCentroids = 8) === e.count() - 7)
      assert(!fs.exists(new Path(
        s"${graft.util.Gen.resolve(spark, dir)}/tombstones")))
      assert(Similarity.ivfDriftReport(spark, dir, batch, "vec_id",
        "embedding").filter(col("has_baseline")).count() > 0)
      // a tombstone-free compaction is a pure relayout
      assert(Similarity.compactIvfSq8Index(spark, dir)
        === e.count() - 7)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("ivfIndexHealthReport: quiet on the build corpus, pages on " +
      "planted drift and recall collapse, flags accreted files and " +
      "pending tombstones") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val drifted = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), zip_with(col("embedding"),
        reverse(col("embedding")),
        (a, b) => a * lit(0.2) + b * lit(0.8)).as("embedding"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_health").toString
    val dir = s"$root/idx"
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(base, "vec_id", "embedding",
          nCentroids = 8), dir)
      // the build corpus profiled against its own baseline: zero
      // drift, full-probe recall 1.0 → quiet on both axes
      val healthy = Similarity.ivfIndexHealthReport(spark, dir, base,
        "vec_id", "embedding", sampleN = 16, k = 3, nProbe = 8).first()
      assert(!healthy.getAs[Boolean]("rebuild_advised"))
      assert(!healthy.getAs[Boolean]("compact_advised"))
      assert(healthy.getAs[Double]("recall") === 1.0)
      assert(math.abs(healthy.getAs[Double]("w_p10_drift")) < 0.01)
      // planted drift (the rebuild spec's plant) pages the rebuild
      // axis even at a recall-friendly nProbe
      val paged = Similarity.ivfIndexHealthReport(spark, dir, drifted,
        "vec_id", "embedding", sampleN = 16, k = 3, nProbe = 8,
        maxP10Drift = 0.05).first()
      assert(paged.getAs[Double]("w_p10_drift") > 0.05)
      assert(paged.getAs[Boolean]("rebuild_advised"))
      // a starved nProbe SLA pages through the recall axis even with
      // zero drift
      val lowRecall = Similarity.ivfIndexHealthReport(spark, dir, base,
        "vec_id", "embedding", sampleN = 16, k = 3, nProbe = 1,
        minRecall = 0.999).first()
      assert(lowRecall.getAs[Boolean]("rebuild_advised"))
      // appends accrete files per cell; tombstones await drop — both
      // flag the compact axis
      Similarity.appendToIvfIndex(spark, dir, drifted, "vec_id",
        "embedding")
      Similarity.deleteFromIndex(spark, dir,
        base.limit(2).select("vec_id"), "vec_id")
      val accreted = Similarity.ivfIndexHealthReport(spark, dir, base,
        "vec_id", "embedding", sampleN = 16, k = 3, nProbe = 8,
        maxFilesPerCell = 1).first()
      assert(accreted.getAs[Boolean]("compact_advised"))
      assert(accreted.getAs[Long]("n_tombstones") === 2L)
      // the IVF+PQ twin: error-drift axis quiet on the build corpus
      // (self-encode error matches the baseline), recall at full
      // probe/rerank = 1.0, tombstones flag the compact axis
      val pqDir = s"$root/pq"
      Similarity.saveIvfPqIndex(
        Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
          nCells = 8), pqDir)
      Similarity.writeIvfPqErrBaseline(spark, pqDir, base, "vec_id",
        "embedding")
      val pqHealthy = Similarity.ivfPqIndexHealthReport(spark, pqDir,
        base, base, "vec_id", "embedding", sampleN = 16, k = 3,
        nProbe = 8, rerank = base.count().toInt).first()
      assert(!pqHealthy.getAs[Boolean]("rebuild_advised"))
      assert(!pqHealthy.getAs[Boolean]("compact_advised"))
      assert(pqHealthy.getAs[Double]("recall") === 1.0)
      assert(math.abs(pqHealthy.getAs[Double]("w_p90_err_drift")) < 0.01)
      Similarity.deleteFromIndex(spark, pqDir,
        base.limit(1).select("vec_id"), "vec_id")
      assert(Similarity.ivfPqIndexHealthReport(spark, pqDir, base,
        base, "vec_id", "embedding", sampleN = 16, k = 3, nProbe = 8,
        rerank = base.count().toInt).first()
        .getAs[Boolean]("compact_advised"))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("multimodal: decode stub is deterministic, frame sampling rebuilds payload") {
    val media = Multimodal.fromText(docs, "doc_id", "text", "text")
    val f1 = Multimodal.decodeAndFeaturize(media).collect()
      .sortBy(_.id)
    val f2 = Multimodal.decodeAndFeaturize(media).collect().sortBy(_.id)
    assert(f1.length === 500)
    assert(f1.map(_.width).toSeq === f2.map(_.width).toSeq)
    assert(f1.forall(f => f.width >= 64 && f.width < 576))
    assert(f1.forall(_.features.length === 8))

    val one = media.filter(col("id") === 0)
    val frames = Multimodal.sampleFrames(one, 16)
      .orderBy("frame_no").collect()
    val rebuilt = frames.flatMap(_.getAs[Array[Byte]]("payload"))
    val orig = docs.filter(col("doc_id") === 0).head().getAs[String]("text")
    assert(new String(rebuilt, "UTF-8") === orig)
  }

  test("sniffFormat: every published magic dispatches to its kind, " +
      "truncated and text payloads fall to unknown, and mediaTriage " +
      "pages exactly the mislabeled rows") {
    import SparkTestBase.session.implicits._
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val tail = "payload-bytes".getBytes("UTF-8")
    val rows = Seq(
      ("jpeg", b(0xFF, 0xD8, 0xFF) ++ tail),
      ("png", b(0x89, 0x50, 0x4E, 0x47) ++ tail),
      ("gif", "GIF89a".getBytes("UTF-8") ++ tail),
      ("wav", b(0x52, 0x49, 0x46, 0x46, 1, 2, 3, 4,
        0x57, 0x41, 0x56, 0x45) ++ tail),
      ("webp", b(0x52, 0x49, 0x46, 0x46, 1, 2, 3, 4,
        0x57, 0x45, 0x42, 0x50) ++ tail),
      // mp4: any 4 size bytes, then 'ftyp' at byte 5
      ("mp4", b(0, 0, 0, 0x20) ++ "ftypisom".getBytes("UTF-8") ++ tail),
      ("pdf", "%PDF-1.7".getBytes("UTF-8") ++ tail),
      ("gzip", b(0x1F, 0x8B, 8) ++ tail),
      ("zstd", b(0x28, 0xB5, 0x2F, 0xFD) ++ tail),
      ("unknown", "just some text".getBytes("UTF-8")),
      ("unknown", b(0xFF)), // truncated: shorter than any magic
      ("unknown", Array.emptyByteArray))
    val sniffed = rows.zipWithIndex
      .map { case ((k, p), i) => (i.toLong, k, p) }
      .toDF("id", "expected", "payload")
      .withColumn("sniffed",
        Multimodal.sniffFormat(col("payload")))
      .collect().map(r => (r.getAs[String]("expected"),
        r.getAs[String]("sniffed")))
    sniffed.foreach { case (exp, got) => assert(got === exp) }
    // triage: claimed kind comes from metadata; row 1 is MISLABELED
    // (png bytes claimed as jpeg) and must be the only page
    val media = Seq(
      (1L, "jpeg", b(0x89, 0x50, 0x4E, 0x47) ++ tail),
      (2L, "gif", "GIF89a".getBytes("UTF-8") ++ tail))
      .toDF("id", "kind", "payload")
    val triage = Multimodal.mediaTriage(media, "id", "kind", "payload")
      .orderBy("id").collect()
    assert(triage.map(_.getAs[Boolean]("format_ok")).toSeq ===
      Seq(false, true))
    assert(triage.head.getAs[String]("sniffed") === "png")
    assert(triage.head.getAs[Long]("n_bytes") === 4L + tail.length)
  }

  test("mediaHeader: PNG/GIF/WAV/BMP fields parse at their published " +
      "offsets and endianness (PNG height past u16 proves the BE u32, " +
      "a top-down BMP's negative height abs's), short payloads and " +
      "codec-required formats stay null") {
    import SparkTestBase.session.implicits._
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Long) =
      Array.tabulate(4)(i => ((v >> (8 * i)) & 0xFF).toByte)
    def be32(v: Long) =
      Array.tabulate(4)(i => ((v >> (8 * (3 - i))) & 0xFF).toByte)
    val body = "media-body".getBytes("UTF-8")
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte) ++ be32(13) ++ "IHDR".getBytes("UTF-8") ++
      be32(300) ++ be32(70000) ++ body
    val gif = "GIF89a".getBytes("UTF-8") ++ le16(640) ++ le16(480) ++ body
    val wav = "RIFF".getBytes("UTF-8") ++ le32(36L + body.length) ++
      "WAVE".getBytes("UTF-8") ++ "fmt ".getBytes("UTF-8") ++
      le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++ body
    val bmp = "BM".getBytes("UTF-8") ++ le32(26L) ++ le32(0) ++
      le32(26L) ++ le32(40L) ++ le32(800) ++
      le32(-600L & 0xFFFFFFFFL) ++ body
    val jpeg = Array(0xFF, 0xD8, 0xFF).map(_.toByte) ++ body
    val shortPng = png.take(10)
    val rows = Seq(
      (1L, png, Some(300L), Some(70000L), None, None),
      (2L, gif, Some(640L), Some(480L), None, None),
      (3L, wav, None, None, Some(44100L), Some(2L)),
      (4L, bmp, Some(800L), Some(600L), None, None),
      (5L, jpeg, None, None, None, None), // variable SOF: real parser
      (6L, shortPng, None, None, None, None))
    val got = Multimodal.mediaHeaders(
        rows.map(r => (r._1, r._2)).toDF("id", "payload"),
        "id", "payload")
      .orderBy("id").collect()
    rows.zip(got).foreach { case ((_, _, w, h, sr, ch), r) =>
      def o(c: String): Option[Long] =
        if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
      assert(o("width") === w, s"width of row ${r.getAs[Long]("id")}")
      assert(o("height") === h)
      assert(o("sample_rate") === sr)
      assert(o("channels") === ch)
    }
    assert(got.map(_.getAs[String]("kind")).toSeq ===
      Seq("png", "gif", "wav", "bmp", "jpeg", "png"))
  }

  test("jpegSof: walks variable metadata segments to the first SOF, " +
      "tolerates fill bytes and restart markers, refuses desync, " +
      "scan-before-frame, and truncation") {
    def bb(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def be16(v: Int) = bb((v >> 8) & 0xFF, v & 0xFF)
    val soi = bb(0xFF, 0xD8)
    val app0 = bb(0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46) // len 4: 2+2
    val sof2 = bb(0xFF, 0xC2, 0x00, 0x0B, 0x08) ++ be16(1080) ++
      be16(1920) ++ bb(0x01, 0x01, 0x11, 0x00)
    assert(Multimodal.jpegSof(soi ++ app0 ++ sof2) === Some((1920, 1080)))
    // fill bytes + a standalone restart marker between segments
    assert(Multimodal.jpegSof(
      soi ++ bb(0xFF) ++ app0 ++ bb(0xFF, 0xD0) ++ sof2) ===
      Some((1920, 1080)))
    // SOS (start of scan) before any SOF: entropy data follows — stop
    assert(Multimodal.jpegSof(
      soi ++ app0 ++ bb(0xFF, 0xDA, 0x00, 0x02) ++ sof2) === None)
    // desync: a non-FF byte where a marker must be
    assert(Multimodal.jpegSof(soi ++ bb(0x00, 0x01) ++ sof2) === None)
    // truncation: inside a segment header, and inside the SOF itself
    assert(Multimodal.jpegSof(soi ++ app0.take(3)) === None)
    assert(Multimodal.jpegSof(soi ++ app0 ++ sof2.take(7)) === None)
    // DHT (C4) is NOT a frame header even though it sits in C0-CF
    assert(Multimodal.jpegSof(
      soi ++ bb(0xFF, 0xC4, 0x00, 0x03, 0x00) ++ sof2) ===
      Some((1920, 1080)))
    assert(Multimodal.jpegSof("not a jpeg".getBytes("UTF-8")) === None)
    assert(Multimodal.jpegSof(Array.emptyByteArray) === None)
  }

  test("mp4Walk: bounded ISO-BMFF box walk — ftyp brand, mvhd v0/v1 " +
      "times, first VIDEO track's tkhd dims past audio tracks and " +
      "free boxes; refuses non-mp4, truncation, child desync, and " +
      "moov beyond the bound") {
    def bb(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def be32(v: Long) =
      Array.tabulate(4)(i => ((v >> (8 * (3 - i))) & 0xFF).toByte)
    def be64(v: Long) =
      Array.tabulate(8)(i => ((v >> (8 * (7 - i))) & 0xFF).toByte)
    def box(t: String, p: Array[Byte]) =
      be32(8L + p.length) ++ t.getBytes("ISO-8859-1") ++ p
    val ftyp = box("ftyp",
      "isom".getBytes("ISO-8859-1") ++ be32(512L) ++
        "mp41".getBytes("ISO-8859-1"))
    def mvhd0(ts: Long, d: Long) = box("mvhd",
      bb(0, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(ts) ++ be32(d) ++
        Array.fill(80)(0.toByte))
    def mvhd1(ts: Long, d: Long) = box("mvhd",
      bb(1, 0, 0, 0) ++ be64(0) ++ be64(0) ++ be32(ts) ++ be64(d) ++
        Array.fill(80)(0.toByte))
    def tkhd0(w: Long, h: Long) = box("tkhd",
      bb(0, 0, 0, 0) ++ Array.fill(72)(0.toByte) ++
        be32(w << 16) ++ be32(h << 16))
    def tkhd1(w: Long, h: Long) = box("tkhd",
      bb(1, 0, 0, 0) ++ Array.fill(84)(0.toByte) ++
        be32(w << 16) ++ be32(h << 16))
    def moov(parts: Array[Byte]*) = box("moov", parts.flatten.toArray)
    def trak(t: Array[Byte]) = box("trak", t)

    val simple = ftyp ++ moov(mvhd0(600L, 12000L),
      trak(tkhd0(1280L, 720L)))
    assert(Multimodal.mp4Walk(simple) ===
      Some(("isom", 600L, 12000L, Some((1280L, 720L)))))
    // v1 headers, a free box before moov, an audio (zero-dim) track
    // BEFORE the video track — the walk must keep walking
    val v1 = ftyp ++ box("free", Array.fill(16)(0.toByte)) ++
      moov(mvhd1(90000L, 123456789L), trak(tkhd0(0L, 0L)),
        trak(tkhd1(640L, 480L)))
    assert(Multimodal.mp4Walk(v1) ===
      Some(("isom", 90000L, 123456789L, Some((640L, 480L)))))
    // audio-only movie: times parse, dims None
    assert(Multimodal.mp4Walk(
      ftyp ++ moov(mvhd0(8000L, 16000L), trak(tkhd0(0L, 0L)))) ===
      Some(("isom", 8000L, 16000L, None)))
    // non-mp4 / too short
    assert(Multimodal.mp4Walk("definitely not an mp4 file"
      .getBytes("UTF-8")) === None)
    assert(Multimodal.mp4Walk(Array.emptyByteArray) === None)
    // truncation inside the moov header/payload
    assert(Multimodal.mp4Walk(simple.take(ftyp.length + 12)) === None)
    assert(Multimodal.mp4Walk(simple.dropRight(6)) === None)
    // child desync: a moov child whose size is below its own header
    assert(Multimodal.mp4Walk(ftyp ++ box("moov",
      be32(3L) ++ "mvhd".getBytes("ISO-8859-1"))) === None)
    // moov BEYOND the bound (the moov-at-end layout): unparseable,
    // never an unbounded scan
    val atEnd = ftyp ++ box("mdat", Array.fill(64)(0.toByte)) ++
      moov(mvhd0(600L, 1200L), trak(tkhd0(64L, 64L)))
    assert(Multimodal.mp4Walk(atEnd, bound = ftyp.length + 16) === None)
    assert(Multimodal.mp4Walk(atEnd) ===
      Some(("isom", 600L, 1200L, Some((64L, 64L))))) // default bound ok
    // adversarial: a child largesize near Long.MaxValue wraps i + s64
    // NEGATIVE — must read as NULL, never jump the walk backwards
    // (infinite loop) or index out of bounds
    val wrap = ftyp ++ box("moov",
      be32(1L) ++ "free".getBytes("ISO-8859-1") ++
        be64(Long.MaxValue - 7L) ++ mvhd0(600L, 1200L))
    assert(Multimodal.mp4Walk(wrap) === None)
    // a u64 duration that reads negative (≥ 2^63) is desync, and one
    // that would overflow the ms derivation keeps the raw fields but
    // NULLs duration_ms — never a wrapped negative count
    assert(Multimodal.mp4Walk(ftyp ++ moov(
      mvhd1(600L, -42L), trak(tkhd0(64L, 64L)))) === None)
    val big = ftyp ++ moov(mvhd1(600L, Long.MaxValue / 2L),
      trak(tkhd0(64L, 64L)))
    val r = Multimodal.mp4Headers(
      Seq((1L, big)).toDF("id", "payload"), "id", "payload").first()
    assert(r.getAs[Long]("duration") === Long.MaxValue / 2L)
    assert(r.isNullAt(r.fieldIndex("duration_ms")))

    // size-guided refusal diagnostic: a deep-moov refusal reports the
    // bound a targeted second pass needs (the moov END offset, from
    // the already-parsed top-level box lengths)...
    assert(Multimodal.mp4NeededBound(atEnd, ftyp.length + 16) ===
      Some(atEnd.length.toLong))
    // ...a payload that PARSES reports nothing...
    assert(Multimodal.mp4NeededBound(simple) === None)
    // ...a desync INSIDE a moov that already fits the bound reports
    // nothing (a bigger bound would not change the outcome)...
    assert(Multimodal.mp4NeededBound(ftyp ++ box("moov",
      be32(3L) ++ "mvhd".getBytes("ISO-8859-1"))) === None)
    // ...nor does a non-MP4 (no bound fixes it)
    assert(Multimodal.mp4NeededBound(
      "definitely not an mp4 file".getBytes("UTF-8")) === None)
    // a HEAD-SLICE fetch whose moov header made it in but whose
    // content did not: the needed bound (how much MORE file to
    // fetch) still reports — it exceeds the slice by construction
    val slice = atEnd.take(atEnd.length - 20)
    assert(Multimodal.mp4NeededBound(slice, ftyp.length + 16) ===
      Some(atEnd.length.toLong))
    // end-to-end column contract at the DEFAULT bound: a genuinely
    // deep moov (>64 KB mdat) refuses WITH needed_bound, a faststart
    // payload parses with needed_bound NULL
    val deep = ftyp ++ box("mdat", Array.fill(70000)(0.toByte)) ++
      moov(mvhd0(600L, 1200L), trak(tkhd0(64L, 64L)))
    val nb = Multimodal.mp4Headers(
      Seq((1L, deep), (2L, simple)).toDF("id", "payload"),
      "id", "payload").orderBy("id").collect()
    assert(nb(0).getAs[Long]("needed_bound") === deep.length.toLong)
    assert(nb(0).isNullAt(nb(0).fieldIndex("major_brand")))
    assert(nb(1).isNullAt(nb(1).fieldIndex("needed_bound")))
    assert(nb(1).getAs[String]("major_brand") === "isom")
  }

  test("compressedSizeHint: REAL gzip and zstd round-trips read the " +
      "original byte count from headers alone (no decompression); " +
      "truncated members and uncompressed payloads read NULL") {
    // real compressors, not planted bytes: java.util.zip for gzip,
    // the zstd-jni Spark ships for zstd — a header-offset slip that
    // happened to match q152's planted geometry cannot match both
    val data = ("The quick brown fox jumps over the lazy dog. " * 40)
      .getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val gzo = new java.util.zip.GZIPOutputStream(bos)
    gzo.write(data); gzo.close()
    val gz = bos.toByteArray
    val zs = com.github.luben.zstd.Zstd.compress(data)
    val rows = Multimodal.compressionCensus(
      Seq((1L, gz), (2L, zs), (3L, "plain text".getBytes("UTF-8")),
        (4L, gz.take(10))).toDF("id", "payload"), "id", "payload")
      .orderBy("id").collect()
    assert(rows(0).getAs[String]("codec") === "gzip")
    assert(rows(0).getAs[Long]("uncompressed_size") ===
      data.length.toLong)
    assert(rows(1).getAs[String]("codec") === "zstd")
    assert(rows(1).getAs[Long]("uncompressed_size") ===
      data.length.toLong)
    assert(rows(2).getAs[String]("codec") === "unknown")
    assert(rows(2).isNullAt(rows(2).fieldIndex("uncompressed_size")))
    assert(rows(3).getAs[String]("codec") === "gzip")
    assert(rows(3).isNullAt(rows(3).fieldIndex("uncompressed_size")))
    // a zstd frame with the reserved descriptor bit set (corrupt or
    // future format) refuses rather than misparsing
    val corrupt = zs.clone(); corrupt(4) = (corrupt(4) | 0x08).toByte
    val cr = Multimodal.compressionCensus(
      Seq((1L, corrupt)).toDF("id", "payload"), "id", "payload")
      .first()
    assert(cr.isNullAt(cr.fieldIndex("uncompressed_size")))
  }

  test("sitemapEntries: attribute-bearing tags, integer priority, " +
      "missing loc, and garbage input") {
    import graft.operators.Robots
    val rows = Robots.sitemapEntries(Seq(
      1L -> ("<urlset xmlns=\"x\"><url changed=\"y\">" +
        "<loc href=\"z\">https://a.example.com/?x=1&amp;y=2</loc>" +
        "<priority>1</priority></url>" +
        "<url><lastmod>2024-03-01</lastmod></url></urlset>"),
      2L -> "not xml at all",
      3L -> (null: String)
    ).toDF("id", "xml"), "id", "xml").orderBy("id", "loc").collect()
    assert(rows.length === 2) // garbage and null yield zero rows
    assert(rows(0).isNullAt(rows(0).fieldIndex("loc")) &&
      rows(0).getAs[String]("lastmod") === "2024-03-01")
    assert(rows(1).getAs[String]("loc") ===
      "https://a.example.com/?x=1&y=2")
    assert(rows(1).getAs[Double]("priority") === 1.0)
  }

  test("robots: RFC 9309 parse/merge/longest-match semantics on " +
      "hand-built bodies") {
    import graft.operators.Robots
    // CRLF endings, merged same-agent groups, rules before any
    // user-agent dropped, case-insensitive agent tokens
    val txt = "Disallow: /orphan\r\n" + // no group yet: drops
      "User-agent: A\r\nUser-agent: B\r\nDisallow: /a\r\n" +
      "User-agent: a\r\nAllow: /a/ok\r\n" + // merges with group 1 ('a')
      "User-agent: *\r\nDisallow: /x\r\n"
    val (groups, _) = Robots.parse(txt)
    assert(groups.size === 3)
    val rulesA = Robots.selectRules(groups, "A")
    assert(rulesA.map(_.pattern).sorted === Seq("/a", "/a/ok"))
    assert(Robots.selectRules(groups, "zzz").map(_.pattern) ===
      Seq("/x")) // fallback to *
    // longest match: allow /a/ok beats disallow /a; prefix semantics
    assert(!Robots.isAllowed(rulesA, "/a/other"))
    assert(Robots.isAllowed(rulesA, "/a/ok"))
    assert(Robots.isAllowed(rulesA, "/b"))
    // tie at equal length: allow wins
    val tie = Seq(Robots.Rule(false, "/p"), Robots.Rule(true, "/p"))
    assert(Robots.isAllowed(tie, "/page"))
    // wildcard + anchor
    val wc = Seq(Robots.Rule(false, "/*.pdf$"))
    assert(!Robots.isAllowed(wc, "/d/x.pdf"))
    assert(Robots.isAllowed(wc, "/d/x.pdfs")) // $ anchors the end
    // empty rule set and null body both allow
    assert(Robots.isAllowed(Seq.empty, "/anything"))
    assert(Robots.parse(null)._1.isEmpty)
  }

  test("htmlText/htmlTitle: removal classes, entity decode order, " +
      "case-insensitive tags, and the documented unclosed-block " +
      "limit") {
    import graft.functions.TextFunctions
    val rows = TextFunctions.htmlCensus(Seq(
      1L -> ("<HTML><HEAD><TITLE>Up&amp;Down</TITLE></HEAD>" +
        "<BODY><P>Hello</P><SCRIPT>x<1 && y>2</SCRIPT></BODY></HTML>"),
      2L -> "<p>a &amp;lt; b</p>", // single-pass: &amp;lt; -> &lt;
      3L -> "<p>q &quot;r&quot; &nbsp; s</p>",
      4L -> "<body><script>leaks()</body>", // unclosed: content stays
      5L -> "plain, no markup at all",
      6L -> (null: String),
      7L -> ("<!-- <title>old template</title> --><head>" +
        "<title>Real Page</title></head><body>x</body>")
    ).toDF("id", "html"), "id", "html").orderBy("id").collect()
    def txt(i: Int) = rows(i).getAs[String]("text")
    assert(rows(0).getAs[String]("title") === "Up&Down")
    // a commented-out template title must not shadow the real one
    assert(rows(6).getAs[String]("title") === "Real Page")
    assert(txt(0) === "Hello") // upper-case script block removed whole
    assert(txt(1) === "a &lt; b")
    assert(txt(2) === "q \"r\" s")
    assert(txt(3) === "leaks()") // the documented regex-extractor limit
    assert(txt(4) === "plain, no markup at all" &&
      rows(4).getAs[Long]("n_tags") === 0L &&
      rows(4).isNullAt(rows(4).fieldIndex("title")))
    assert(rows(5).isNullAt(rows(5).fieldIndex("text")))
  }

  test("scriptCensus: mixed-script text, tie-breaks, digit-only and " +
      "NULL rows") {
    import graft.functions.TextFunctions
    val rows = TextFunctions.scriptCensus(Seq(
      1L -> "Привет мир, hello!", // cyrillic-dominant over latin
      2L -> "日本語のテキスト", // 日本語 = 3 han, のテキスト = 5 kana → kana
      3L -> "abc 中文 abc", // latin 6 > han 2
      4L -> "42 + 17 = 59", // digits only: dominant NULL
      5L -> "한국어 텍스트", // hangul
      6L -> (null: String)
    ).toDF("id", "text"), "id", "text").orderBy("id").collect()
    def dom(i: Int) = rows(i).getAs[String]("dominant")
    assert(dom(0) === "cyrillic" &&
      rows(0).getAs[Long]("cyrillic") === 9L &&
      rows(0).getAs[Long]("latin") === 5L)
    assert(dom(1) === "kana" && rows(1).getAs[Long]("han") === 3L &&
      rows(1).getAs[Long]("kana") === 5L)
    assert(dom(2) === "latin")
    assert(dom(3) == null && rows(3).getAs[Long]("digit") === 6L)
    assert(dom(4) === "hangul" && rows(4).getAs[Long]("hangul") === 6L)
    assert(rows(5).isNullAt(rows(5).fieldIndex("n_chars")) &&
      dom(5) == null)
  }

  test("warcWalk: folding, case-insensitive names, CRLF strictness, " +
      "length desyncs, and the record cap on hand-built records") {
    def rec(headers: Seq[String], block: String,
        trailer: Boolean = true): String =
      "WARC/1.0\r\n" + headers.map(_ + "\r\n").mkString + "\r\n" +
        block + (if (trailer) "\r\n\r\n" else "")
    def walk(s: String, max: Int = 10000) =
      Multimodal.warcWalk(s.getBytes("ISO-8859-1"), max)
    // a Common-Crawl-shaped record: case-mixed names, folded URI
    val cc = walk(rec(Seq(
      "warc-type: response",
      "WARC-Target-URI: http://example.com/a",
      "  /very/long/path", // folded continuation extends the value
      "WARC-Date: 2017-03-06T04:02:55Z",
      "content-length: 5",
      "Content-Type: application/http; msgtype=response"), "hello"))
    assert(cc.size === 1)
    assert(cc.head.warcType === Some("response"))
    assert(cc.head.targetUri ===
      Some("http://example.com/a /very/long/path"))
    assert(cc.head.contentType ===
      Some("application/http; msgtype=response"))
    assert(cc.head.contentLength === 5L && !cc.head.blockTruncated)
    // two records: offsets accumulate over header + block + trailer
    val two = rec(Seq("Content-Length: 3"), "abc") +
      rec(Seq("Content-Length: 4"), "defg")
    val w2 = walk(two)
    assert(w2.map(_.rec) === Seq(0L, 1L))
    val h1 = "WARC/1.0\r\nContent-Length: 3\r\n\r\n".length
    assert(w2(0).blockOffset === h1.toLong)
    // the second header is byte-identical in length (same digit count)
    assert(w2(1).blockOffset === (h1 + 3 + 4 + h1).toLong)
    // missing Content-Length, negative length, LF-only line ends,
    // no-colon lines: all stop cleanly with the prior records kept
    assert(walk(two + rec(Seq("WARC-Type: x"), "")).size === 2)
    assert(walk(two + rec(Seq("Content-Length: -5"), "")).size === 2)
    assert(walk(two.replace("\r\n", "\n")).isEmpty)
    assert(walk(two + "WARC/1.0\r\nnocolon\r\n\r\nzz").size === 2)
    // a block the payload truncates is emitted flagged, then stop
    val cut = two + rec(Seq("Content-Length: 50"), "short",
      trailer = false)
    val wc = walk(cut)
    assert(wc.size === 3 && wc(2).blockTruncated &&
      wc(2).contentLength === 50L)
    // record cap, empty, null
    assert(walk(two, max = 1).size === 1)
    assert(walk("").isEmpty)
    assert(Multimodal.warcWalk(null).isEmpty)
    // hostile Content-Length: Long.MaxValue must read as a truncated
    // block (never wrap negative and walk off the array); a value
    // past Long is unparseable -> clean stop with prior records kept
    val hostile = walk(two + rec(
      Seq(s"Content-Length: ${Long.MaxValue}"), "tail",
      trailer = false))
    assert(hostile.size === 3 && hostile(2).blockTruncated)
    assert(walk(two + rec(
      Seq("Content-Length: 99999999999999999999"), "x")).size === 2)
  }

  test("urlNormalize: case, userinfo, default-port, empty-path, " +
      "query-sort and fragment rules on planted edges; unparseable " +
      "URLs read NULL, never throw") {
    import graft.functions.TextFunctions
    val rows = TextFunctions.urlCensus(Seq(
      1L -> "HTTP://User:Pw@ExAmple.COM:80/A/b?z=1&a=2&a=1#frag",
      2L -> "https://example.com:80/x", // MISMATCHED default: kept
      3L -> "https://example.com:443", // matched default + empty path
      4L -> "http://example.com/a//b/", // empty segments don't count
      5L -> "ftp://files.example.com:21/pub", // non-http scheme: port kept
      6L -> "https://[::1]:443/x", // bracketed IPv6 literal
      7L -> "//protocol-relative.example.com/x", // no scheme
      8L -> "mailto:someone", // scheme but no authority -> no host
      9L -> "http://example.com:80abc/x", // malformed port residue
      10L -> "",
      11L -> (null: String)
    ).toDF("id", "url"), "id", "url").orderBy("id").collect()
    def norm(i: Int) = rows(i).getAs[String]("url_norm")
    def depth(i: Int) = rows(i).getAs[Long]("path_depth")
    assert(norm(0) === "http://example.com/A/b?a=1&a=2&z=1")
    assert(rows(0).getAs[Long]("port") === 80L && depth(0) === 2L)
    assert(norm(1) === "https://example.com:80/x")
    assert(norm(2) === "https://example.com/")
    assert(norm(3) === "http://example.com/a//b/" && depth(3) === 2L)
    assert(norm(4) === "ftp://files.example.com:21/pub")
    // IPv6: host is the bracketed literal, the matched default port
    // drops — :443 embedded in a path would be the false-non-dup
    assert(norm(5) === "https://[::1]/x" &&
      rows(5).getAs[String]("host") === "[::1]" &&
      rows(5).getAs[Long]("port") === 443L)
    // ':80abc' is NOT port 80 + path 'abc/x': the authority is
    // malformed, the URL classifies unparseable — never a fabricated
    // canonical key like 'http://example.comabc/x'
    (6 to 10).foreach { i =>
      assert(norm(i) == null, s"row $i should be unparseable")
      assert(!rows(i).getAs[Boolean]("parseable") ||
        rows(i).isNullAt(rows(i).fieldIndex("parseable")))
    }
  }

  test("encodingCensus: BOM dispatch (incl. the FF FE 00 00 UTF-32LE " +
      "tiebreak), strict verdicts, first-invalid offsets, and the " +
      "NUL page on planted edge payloads") {
    def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val rows = Multimodal.encodingCensus(Seq(
      1L -> "plain ascii".getBytes("UTF-8"),
      2L -> "héllo €".getBytes("UTF-8"),
      3L -> bs(0xEF, 0xBB, 0xBF, 'x', 0xC3, 0xA9), // BOM + x + é
      4L -> bs(0xFF, 0xFE, 'a', 0, 'b', 0), // utf16le "ab"
      5L -> bs(0xFE, 0xFF, 0, 'a', 0xD8, 0x3D, 0xDE, 0x00), // be a+😀
      6L -> bs(0xFF, 0xFE, 0x00, 0x00, 'a', 0, 0, 0), // utf32le "a"
      7L -> bs(0x00, 0x00, 0xFE, 0xFF, 0, 0, 0xD8, 0x00), // u32 surr
      8L -> bs('o', 'k', 0xED, 0xA0, 0x80), // surrogate half in utf8
      9L -> Array.emptyByteArray, // empty = valid ascii, 0 chars
      10L -> bs('a', 0, 'b', 0, 'c', 0), // BOM-less utf16: NUL page
      11L -> (null: Array[Byte])
    ).toDF("id", "payload"), "id", "payload").orderBy("id").collect()
    def enc(i: Int) = rows(i).getAs[String]("encoding")
    def ok(i: Int) = rows(i).getAs[Boolean]("valid")
    def inv(i: Int): Any = rows(i).get(rows(i).fieldIndex("first_invalid"))
    def nch(i: Int): Any = rows(i).get(rows(i).fieldIndex("n_chars"))
    def nul(i: Int) = rows(i).getAs[Long]("n_nul")
    assert(enc(0) === "ascii" && ok(0) && nch(0) === 11L && nul(0) === 0L)
    assert(enc(1) === "utf8" && ok(1) && nch(1) === 7L) // é, € multibyte
    assert(enc(2) === "utf8_bom" && ok(2) && nch(2) === 2L) // BOM excl.
    assert(enc(3) === "utf16le" && ok(3) && nch(3) === 2L && nul(3) === 2L)
    assert(enc(4) === "utf16be" && ok(4) && nch(4) === 2L) // pair = 1 cp
    assert(enc(5) === "utf32le" && ok(5) && nch(5) === 1L && nul(5) === 5L)
    assert(enc(6) === "utf32be" && !ok(6) && inv(6) === 4L && nch(6) == null)
    assert(enc(7) === "binary" && !ok(7) && inv(7) === 2L && nch(7) == null)
    assert(enc(8) === "ascii" && ok(8) && nch(8) === 0L && nul(8) === 0L)
    assert(enc(9) === "ascii" && ok(9) && nch(9) === 6L && nul(9) === 3L)
    assert(rows(10).isNullAt(rows(10).fieldIndex("encoding")) &&
      rows(10).isNullAt(rows(10).fieldIndex("n_nul"))) // null payload
  }

  test("encoding scanners agree with java.nio STRICT decoders on " +
      "seeded random payloads (verdict and code-point count)") {
    import java.nio.charset.{Charset, CodingErrorAction}
    def javaVerdict(cs: Charset, b: Array[Byte]): (Boolean, Long) = {
      val dec = cs.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val in = java.nio.ByteBuffer.wrap(b)
      val out = java.nio.CharBuffer.allocate(b.length * 2 + 8)
      val res = dec.decode(in, out, true)
      val fl = if (res.isError) res else dec.flush(out)
      if (res.isError || fl.isError) (false, -1L)
      else {
        out.flip()
        (true, out.toString.codePointCount(0, out.length()).toLong)
      }
    }
    val rnd = new scala.util.Random(4242)
    def randomPayload(): Array[Byte] = {
      val n = rnd.nextInt(25)
      Array.fill(n) {
        // bias toward the interesting byte classes: ASCII, leads,
        // continuations — pure-random bytes are almost always
        // invalid in the first two positions
        rnd.nextInt(4) match {
          case 0 => rnd.nextInt(0x80).toByte // ascii
          case 1 => (0x80 + rnd.nextInt(0x40)).toByte // continuation
          case 2 => (0xC0 + rnd.nextInt(0x40)).toByte // 2/3/4 lead
          case _ => rnd.nextInt(256).toByte
        }
      }
    }
    (1 to 800).foreach { _ =>
      val b = randomPayload()
      val (bad, chars) = Multimodal.utf8Scan(b, 0)
      val (jOk, jChars) = javaVerdict(Charset.forName("UTF-8"), b)
      assert(bad.isEmpty === jOk,
        s"utf8 verdict diverged on ${b.map("%02X".format(_)).mkString}")
      if (jOk) assert(chars === jChars,
        s"utf8 count diverged on ${b.map("%02X".format(_)).mkString}")
    }
    (1 to 800).foreach { _ =>
      val b = randomPayload()
      for (le <- Seq(true, false)) {
        val (bad, chars) = Multimodal.utf16Scan(b, 0, le)
        val (jOk, jChars) = javaVerdict(
          Charset.forName(if (le) "UTF-16LE" else "UTF-16BE"), b)
        assert(bad.isEmpty === jOk,
          s"utf16 le=$le verdict diverged on " +
            b.map("%02X".format(_)).mkString)
        if (jOk) assert(chars === jChars)
        val (bad32, chars32) = Multimodal.utf32Scan(b, 0, le)
        val (jOk32, jChars32) = javaVerdict(
          Charset.forName(if (le) "UTF-32LE" else "UTF-32BE"), b)
        assert(bad32.isEmpty === jOk32,
          s"utf32 le=$le verdict diverged on " +
            b.map("%02X".format(_)).mkString)
        if (jOk32) assert(chars32 === jChars32)
      }
    }
  }

  test("storeHealthReport: ONE dispatcher detects every persisted " +
      "store family from layout alone, routes to its report with " +
      "store_kind leading, redirects a bands store to its ledger " +
      "pair, and refuses unknown directories loudly") {
    import graft.operators.StoreHealth
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft_health").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(e, "vec_id", "embedding"),
        s"$root/ivf")
      Similarity.savePqIndex(
        Similarity.buildPqIndex(e, "vec_id", "embedding"), s"$root/pq")
      Similarity.saveIvfPqIndex(
        Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
          nCells = 8), s"$root/ivfpq")
      Similarity.saveSq8Index(
        Similarity.buildSq8Index(e, "vec_id", "embedding"),
        s"$root/sq8")
      Similarity.saveIvfSq8Index(
        Similarity.buildIvfSq8Index(e, "vec_id", "embedding"),
        s"$root/ivfsq8")
      val docsDf = (0 until 20).map(i => (i.toLong, s"doc number $i"))
        .toDF("doc_id", "text")
      Dedup.ledgerAdmit(spark, s"$root/ledger", docsDf,
        "doc_id", "text")
      Dedup.nearDupLedgerAdmit(spark, s"$root/ndl", docsDf,
        "doc_id", "text")
      Dedup.ledgerAdmitStreamBatch(spark, s"$root/sledger",
        s"$root/epochs", docsDf, "doc_id", "text", 0L)
      val expected = Seq(
        s"$root/ivf" -> "ivf", s"$root/pq" -> "pq",
        s"$root/ivfpq" -> "ivf_pq", s"$root/sq8" -> "sq8",
        s"$root/ivfsq8" -> "ivf_sq8",
        s"$root/ledger" -> "dedup_ledger",
        s"$root/ndl" -> "neardup_ledger",
        s"$root/ndl_bands" -> "neardup_bands",
        s"$root/epochs" -> "admit_epochs")
      expected.foreach { case (p, kind) =>
        assert(StoreHealth.detectStoreKind(spark, p) === kind,
          s"kind of $p")
        val r = StoreHealth.storeHealthReport(spark, p)
        assert(r.columns.head === "store_kind")
        val rows = r.collect()
        assert(rows.nonEmpty && rows.forall(_.getString(0) === kind),
          s"report of $p")
      }
      // the epoch-root report tracks the lifecycle: one sealed epoch,
      // no consumer registered (lag -1, no page), then an ack lands
      val h0 = StoreHealth.storeHealthReport(spark, s"$root/epochs")
        .head()
      assert(h0.getAs[Long]("epochs_sealed") === 1L &&
        h0.getAs[Long]("epochs_unsealed") === 0L &&
        h0.getAs[Long]("consumed_watermark") === -1L &&
        h0.getAs[Long]("consumer_lag") === -1L &&
        !h0.getAs[Boolean]("lag_exceeds_horizon") &&
        h0.getAs[Long]("admitted_rows") === 20L)
      Dedup.ackAdmitEpochs(spark, s"$root/epochs", 0L)
      val h1 = Dedup.admitEpochHealthReport(spark, s"$root/epochs")
        .head()
      assert(h1.getAs[Long]("consumed_watermark") === 0L &&
        h1.getAs[Long]("consumer_lag") === 0L)
      // the bands redirect reports the PAIR: same tail columns as the
      // primary's own report — and it works when handed the bands
      // store's GENERATION dir too (the pass-through the kind
      // detection supports)
      assert(StoreHealth.storeHealthReport(spark, s"$root/ndl_bands")
        .columns.tail.toSeq ===
        StoreHealth.storeHealthReport(spark, s"$root/ndl")
          .columns.tail.toSeq)
      val bandsGen = graft.util.Gen.resolve(spark, s"$root/ndl_bands")
      assert(StoreHealth.detectStoreKind(spark, bandsGen) ===
        "neardup_bands")
      assert(StoreHealth.storeHealthReport(spark, bandsGen)
        .collect().nonEmpty)
      // a generation dir resolves to itself — detection sees through
      assert(StoreHealth.detectStoreKind(spark,
        graft.util.Gen.resolve(spark, s"$root/ivf")) === "ivf")
      // empty and unknown fail loudly, with the diagnosis in the text
      assert(StoreHealth.detectStoreKind(spark, s"$root/nope") ===
        "empty")
      docsDf.write.parquet(s"$root/junk")
      assert(StoreHealth.detectStoreKind(spark, s"$root/junk") ===
        "unknown")
      val boom = intercept[IllegalArgumentException] {
        StoreHealth.storeHealthReport(spark, s"$root/junk")
      }
      assert(boom.getMessage.contains("not a recognizable graft store"))
    } finally graft.util.Fs.deleteRecursively(root)
  }
}
