package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** One table-driven characterization of the persisted-index lifecycle,
  * run step for step on all five ANN families: save (with an ingest
  * time) → append (a later ingest time) → delete → expire → compact →
  * load. Every family must end with the same live id set, no
  * `tombstones/` dataset, an `ingest_log` that lost exactly the dead
  * rows, one file per touched cell where the row store is
  * cell-partitioned, and its family's stats row shape. */
class AnnLifecycleSpec extends SparkTestBase {
  import SparkTestBase.session.implicits._

  /** 500 seeded 64-dim vectors: ids and vector values are all the
    * lifecycle steps look at. */
  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    (0L until 500L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private case class Family(kind: String, store: String,
      cellPartitioned: Boolean,
      save: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Long,
      compact: String => Long,
      loadIds: String => Set[Long],
      statsCols: Seq[String])

  private val SavedAt = 1000L
  private val AppendedAt = 2000L

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("neighbor_id")).collect().map(_.getLong(0)).toSet

  private val cellStats = Seq("cell", "n_rows", "n_files")
  private val flatStats = Seq("n_rows", "n_files", "n_tombstones")

  private lazy val families = Seq(
    Family("ivf", "assigned", cellPartitioned = true,
      (c, p) => Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(c, "vec_id", "embedding"), p,
        ingestMicros = SavedAt),
      (b, p) => Similarity.appendToIvfIndex(spark, p, b, "vec_id",
        "embedding", ingestMicros = AppendedAt),
      p => Similarity.compactIvfIndex(spark, p),
      p => ids(Similarity.loadIvfIndex(spark, p)._2), cellStats),
    Family("pq", "codes", cellPartitioned = false,
      (c, p) => Similarity.savePqIndex(
        Similarity.buildPqIndex(c, "vec_id", "embedding"), p,
        ingestMicros = SavedAt),
      (b, p) => Similarity.appendToPqIndex(spark, p, b, "vec_id",
        "embedding", ingestMicros = AppendedAt),
      p => Similarity.compactPqIndex(spark, p),
      p => ids(Similarity.loadPqIndex(spark, p)._2), flatStats),
    Family("sq8", "codes", cellPartitioned = false,
      (c, p) => Similarity.saveSq8Index(
        Similarity.buildSq8Index(c, "vec_id", "embedding"), p,
        ingestMicros = SavedAt),
      (b, p) => Similarity.appendToSq8Index(spark, p, b, "vec_id",
        "embedding", ingestMicros = AppendedAt),
      p => Similarity.compactSq8Index(spark, p),
      p => ids(Similarity.loadSq8Index(spark, p)), flatStats),
    Family("ivf_pq", "codes", cellPartitioned = true,
      (c, p) => Similarity.saveIvfPqIndex(
        Similarity.buildIvfPqIndex(c, "vec_id", "embedding"), p,
        ingestMicros = SavedAt),
      (b, p) => Similarity.appendToIvfPqIndex(spark, p, b, "vec_id",
        "embedding", ingestMicros = AppendedAt),
      p => Similarity.compactIvfPqIndex(spark, p),
      p => ids(Similarity.loadIvfPqIndex(spark, p)._3), cellStats),
    Family("ivf_sq8", "codes", cellPartitioned = true,
      (c, p) => Similarity.saveIvfSq8Index(
        Similarity.buildIvfSq8Index(c, "vec_id", "embedding"), p,
        ingestMicros = SavedAt),
      (b, p) => Similarity.appendToIvfSq8Index(spark, p, b, "vec_id",
        "embedding", ingestMicros = AppendedAt),
      p => Similarity.compactIvfSq8Index(spark, p),
      p => ids(Similarity.loadIvfSq8Index(spark, p)._2), cellStats))

  test("five-family lifecycle: save → append → delete → expire → " +
      "compact → load leaves the same live ids, no tombstones, the " +
      "ingest log minus the dead rows, one file per touched cell, and " +
      "the family's stats shape") {
    val saved = emb.filter(col("vec_id") % 3 =!= 0)
    val appended = emb.filter(col("vec_id") % 3 === 0)
    val deleted = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val deadIds = deleted.collect().map(_.getLong(0)).toSet
    // the expiry cutoff sits between the two ingest times: every saved
    // row ages out, the appended rows minus the deletes stay live
    val live = all.filter(_ % 3 == 0) -- deadIds
    val root = java.nio.file.Files
      .createTempDirectory("graft_ann_lifecycle").toString
    try families.foreach { f =>
      val path = s"$root/${f.kind}"
      def gen = graft.util.Gen.resolve(spark, path)
      f.save(saved, path)
      assert(f.append(appended, path) === appended.count(), f.kind)
      assert(Similarity.deleteFromIndex(spark, path, deleted, "vec_id")
        === deadIds.size.toLong, f.kind)
      assert(Similarity.expireFromIndex(spark, path,
        (SavedAt + AppendedAt) / 2) === all.count(_ % 3 != 0).toLong,
        f.kind)
      assert(f.loadIds(path) === live, s"${f.kind}: served before compact")
      assert(f.compact(path) === live.size.toLong, f.kind)
      assert(!fs.exists(new Path(s"$gen/tombstones")), f.kind)
      assert(f.loadIds(path) === live, s"${f.kind}: loaded after compact")
      assert(ids(spark.read.parquet(s"$gen/${f.store}")) === live,
        s"${f.kind}: raw store after compact")
      val log = spark.read.parquet(s"$gen/ingest_log")
        .select(col("neighbor_id"), col("ingest_us"))
        .as[(Long, Long)].collect()
      assert(log.map(_._1).toSet === live && log.length === live.size &&
        log.forall(_._2 == AppendedAt), s"${f.kind}: carried ingest log")
      if (f.cellPartitioned) {
        val cells = fs.listStatus(new Path(s"$gen/${f.store}"))
          .filter(_.getPath.getName.startsWith("cell="))
        assert(cells.nonEmpty, f.kind)
        cells.foreach { c =>
          assert(fs.listStatus(c.getPath)
            .count(_.getPath.getName.startsWith("part-")) === 1,
            s"${f.kind}: files in ${c.getPath.getName}")
        }
      }
      val st = Similarity.indexStats(spark, path)
      assert(st.columns.toSeq === f.statsCols, f.kind)
      assert(st.agg(sum(col("n_rows"))).head().getLong(0) ===
        live.size.toLong, s"${f.kind}: stats rows")
    } finally graft.util.Fs.deleteRecursively(root)
  }
}
