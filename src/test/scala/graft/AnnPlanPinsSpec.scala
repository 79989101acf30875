package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Physical-plan pins of the ANN serve, build and persisted-index paths
  * on the sf0.01 driver testdata: the cell equi-join (never a cartesian
  * product), the `WindowGroupLimit` prunes every rank cut relies on, the
  * map-only `NearestCells` assignment kernel, and dynamic partition
  * pruning of a persisted cell store. Each test's name is the property
  * it pins; a refactor that changes one of these plans fails here. */
class AnnPlanPinsSpec extends SparkTestBase {

  private lazy val e = spark.read.parquet(s"$testdata/embeddings.parquet")

  // IVF+PQ serve: candidate generation must be the cell EQUI-join
  // (broadcast probed query cells), never an all-pairs scan
  test("t12 ivf+pq serve joins on cell, no cartesian product") {
    val p = plan("t12_ivfpq_topk")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
  }

  // IVF mutual-kNN: candidate generation must be the cell EQUI-join
  // (training/probe literals fold at build time), never an all-pairs
  // scan — and the mutual filter a semi-join, not a product
  test("t50 IVF mutual-kNN plans no cartesian product") {
    assert(!plan("t50_knn_clusters_ivf").contains("CartesianProduct"))
  }

  // rank <= k cuts must keep row_number() so InferWindowGroupLimit
  // prunes each group to k rows BEFORE the window sort — the prune is
  // both the top-k fast path AND the Int-rank overflow guard (Ranks
  // scaladoc); a running-count rank here would silently drop the
  // rewrite and buffer whole partitions
  test("q27 brute top-k plans a WindowGroupLimit prune") {
    assert(plan("q27_embed_topk").contains("WindowGroupLimit"))
  }

  test("t08 IVF serve plans a WindowGroupLimit prune on the rank cut") {
    assert(plan("t08_similarity_ivf").contains("WindowGroupLimit"))
  }

  // each cut pinned by its LIMIT VALUE (a bare node count can't tell
  // one cut's Partial+Final pair from two cuts — the ADC prune plans
  // Partial+Final while the post-window rank prune needs only Final)
  test("t10 PQ serve plans BOTH WindowGroupLimit prunes (ADC=32, k=3)") {
    val p = plan("t10_pq_topk")
    assert(p.contains("row_number(), 32,") && p.contains("row_number(), 3,"))
  }

  // IVF×SQ8 serve: candidate generation is the cell EQUI-join (never
  // an all-pairs scan), both rank cuts ride WindowGroupLimit prunes,
  // and no nested-loop centroid attach survives (the map-only kernel)
  test("q133 IVF×SQ8 serve joins on cell with both rank prunes") {
    val p = plan("q133_ivfsq8_topk")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      p.contains("row_number(), 32,") && p.contains("row_number(), 3,") &&
      p.contains("nearestcells("))
  }

  // tombstone-filtered SQ8 serve: the deletion folds into a scan-side
  // filter (NOT IN over the dead ids), never a join in the hot path
  test("q132 delete-serve excludes via a scan filter, no cartesian") {
    val p = plan("q132_sq8_delete_serve")
    assert(!p.contains("CartesianProduct"))
  }

  // the persisted-index scale claim behind t52's layout: a low-nProbe
  // serve from the cell-partitioned parquet must read ONLY the probed
  // cells — Spark's dynamic partition pruning turns the cell
  // equi-join into a partition filter (the probe side broadcasts, a
  // SubqueryAdaptiveBroadcast feeds `cell IN dynamicpruning#N` into
  // the index scan's PartitionFilters). At a 100 TB index this is the
  // difference between reading nProbe/nCentroids of the data and all
  // of it
  test("persisted IVF index: low-nProbe serve gets dynamic partition " +
      "pruning on cell, the stats scan reads no data column, and a " +
      "tombstone-filtered serve keeps the pruning") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_plan_ivf").toString
    try {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(e, "vec_id", "embedding",
          nCentroids = 16, kmeansIters = 2), path)
      val served = Similarity.ivfTopKFromIndex(
        Similarity.loadIvfIndex(spark, path),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 3, nProbe = 2)
      served.count()
      val p = served.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruningexpression(cast(cell"),
        "low-nProbe serve from a persisted index gets dynamic " +
          "partition pruning on cell")
      // the layout-health scan must not read vector bytes: cell is a
      // partition column and the file name is metadata, so the parquet
      // ReadSchema prunes to the empty struct
      val sp = Similarity.indexStats(spark, path)
        .queryExecution.executedPlan.toString
      assert(sp.contains("ReadSchema: struct<>"),
        "indexStats scan prunes every data column " +
          "(ReadSchema: struct<>)")
      // deletion must not cost the serve its partition pruning: the
      // tombstone exclusion folds into a FILTER on the scan (not an
      // anti-join between the scan and the cell join, which would
      // block DPP's scan extraction) — serve a deleted index and
      // assert the dynamic pruning survives alongside the filter
      Similarity.deleteFromIndex(spark, path,
        e.filter(col("vec_id") >= 3 && col("vec_id") < 8)
          .select("vec_id"), "vec_id")
      val servedDel = Similarity.ivfTopKFromIndex(
        Similarity.loadIvfIndex(spark, path),
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 3, nProbe = 2)
      servedDel.count()
      val pd = servedDel.queryExecution.executedPlan.toString
      assert(pd.contains("dynamicpruningexpression(cast(cell") &&
        pd.contains("NOT neighbor_id"),
        "tombstone-filtered serve keeps dynamic partition pruning")
    } finally graft.util.Fs.deleteRecursively(path)
  }

  // drift monitor: both corpus-sized argmax passes (build assignment
  // under the baseline, batch assignment under the profile) are
  // MAP-ONLY literal argmaxes since r14 — no crossJoin attach exists
  // anymore, so the plan must hold ZERO nested-loop/cartesian nodes;
  // the one broadcast left is the baseline's ≤nCentroids cell=cent_id
  // equi-join. (The final bp⋈base profile join is ≤ nCentroids rows a
  // side — its initial SMJ shape is irrelevant, AQE localizes it.)
  test("q128 drift report assigns map-only (no nested-loop attach, " +
      "no cartesian), broadcasts the baseline join") {
    val p = plan("q128_ivf_drift")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1 &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  // the corpus-sized cell-assignment pass under build/append (keep=1)
  // is the compact graft.expressions.NearestCells kernel — a pure
  // projection with NO window and NO join of any kind; the ONE exchange
  // in the build output is the cell-layout repartition (corpus×1 rows —
  // the same exchange the persisted write pays, collapsed with it on
  // save), NOT a corpus×nCentroids crossJoin+window shuffle
  test("IVF build assignment is the map-only kernel: exactly one " +
      "exchange (cell layout), no Window, no join") {
    val assigned = Similarity.buildIvfIndex(
      e, "vec_id", "embedding", nCentroids = 16, kmeansIters = 2)._2
    val p = assigned.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length == 1 && !p.contains("Window") &&
      !p.contains("Join") && !p.contains("CartesianProduct") &&
      p.contains("nearestcells("))
  }

  // the probe side (keep = nProbe) is the same kernel's array-local
  // top-k — scoring + explode, never a nested-loop centroid attach
  test("IVF serve probe-side assignment shows no nested-loop " +
      "centroid attach") {
    val probed = Similarity.ivfTopKFromIndex(
      Similarity.buildIvfIndex(e, "vec_id",
        "embedding", nCentroids = 16, kmeansIters = 2),
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 3, nProbe = 2)
    val pp = probed.queryExecution.executedPlan.toString
    assert(!pp.contains("BroadcastNestedLoopJoin") &&
      pp.contains("nearestcells("))
  }

  // the join-shape sentinel: an IN-MEMORY serve's probe side must
  // reach the cell join through its own exchange (REPARTITION_BY_COL)
  // so the join strategy is decided on TRUE runtime sizes — the
  // bisected 6× regression was the planner broadcasting a probe side
  // whose STATIC estimate was ~100× under its exploded reality (AQE
  // converting the shuffled join to broadcast when the runtime bytes
  // are genuinely small, as at this SF, is exactly the correct
  // behavior the exchange enables)
  test("in-memory serve sizes its probe side at runtime " +
      "(REPARTITION_BY_COL exchanges feed the cell join)") {
    val fullProbe = Similarity.ivfTopKFromIndex(
      Similarity.buildIvfIndex(e, "vec_id",
        "embedding", nCentroids = 16, kmeansIters = 2),
      e, "vec_id", "embedding", k = 3, nProbe = 16)
    fullProbe.count()
    val fp = fullProbe.queryExecution.executedPlan.toString
    assert("REPARTITION_BY_COL".r.findAllIn(fp).length >= 2)
  }
}
