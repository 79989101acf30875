package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** On-disk layout parity of the persisted stores between two checkouts.
  * Not part of the build: copy it into src/test/scala/graft/ of a
  * checkout and run, with LAYOUT_PARITY_DIR set to a scratch dir,
  *
  *   sbt "testOnly graft.LayoutParity -- -z seed"       (once, one side)
  *   LAYOUT_PARITY_LABEL=<side> sbt "testOnly graft.LayoutParity -- -z drive"
  *
  * `seed` writes a store set to $LAYOUT_PARITY_DIR/stores: an exact
  * ledger and a near-dup ledger (one batch admit and one streamed epoch
  * each, with their epoch roots) and an IVF index (save plus one
  * append). `drive` copies that set to run-<side>, admits a new batch
  * to both ledgers, delivers a second epoch, re-delivers both epochs,
  * forgets two ids, compacts all three stores, admits once more,
  * appends to and serves the index, and writes manifest-<side>.txt:
  * every decision and report, then every directory and file of the
  * copy with generation tokens masked, each parquet file's schema and
  * its rows in file order, and the content of every small file. Two
  * manifests that are equal mean the two sides made the same decisions
  * and left the same partition dirs, file schemas and rows. */
class LayoutParity extends SparkTestBase {
  import SparkTestBase.session.implicits._

  private val dir = sys.env.getOrElse("LAYOUT_PARITY_DIR", "")
  private def lfs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Distinct documents, some repeating or nearly repeating earlier
    * ones: `dupOf` ids copy a document exactly, `nearOf` ids change its
    * last word. */
  private def docs(ids: Range, dupOf: Map[Int, Int] = Map.empty,
      nearOf: Map[Int, Int] = Map.empty): DataFrame = {
    def text(i: Int) = (0 until 16).map(j =>
      "w" + (scala.util.hashing.MurmurHash3.stringHash(s"$i:$j") & 0xffff))
    ids.map { i =>
      val t = dupOf.get(i).map(text).orElse(nearOf.get(i).map(k =>
        text(k).dropRight(1) :+ "changed")).getOrElse(text(i))
      (i.toLong, t.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def emb = spark.read.parquet(s"$testdata/embeddings.parquet")

  test("seed") {
    require(dir.nonEmpty, "set LAYOUT_PARITY_DIR")
    val s = s"$dir/stores"
    graft.util.Fs.deleteRecursively(s)
    Dedup.ledgerAdmit(spark, s"$s/exact", docs(0 until 120), "doc_id",
      "text")
    Dedup.ledgerAdmitStreamBatch(spark, s"$s/exact", s"$s/exact_epochs",
      docs(200 until 240, dupOf = Map(200 -> 5)), "doc_id", "text", 0L)
    Dedup.nearDupLedgerAdmit(spark, s"$s/neardup", docs(0 until 120),
      "doc_id", "text")
    Dedup.nearDupLedgerAdmitStreamBatch(spark, s"$s/neardup",
      s"$s/neardup_epochs",
      docs(200 until 240, dupOf = Map(200 -> 5), nearOf = Map(201 -> 6)),
      "doc_id", "text", 0L)
    Similarity.saveIvfIndex(Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding"),
      s"$s/ivf", ingestMicros = 1000L)
    Similarity.appendToIvfIndex(spark, s"$s/ivf",
      emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0),
      "vec_id", "embedding", ingestMicros = 2000L)
  }

  test("drive") {
    require(dir.nonEmpty, "set LAYOUT_PARITY_DIR")
    val side = sys.env.getOrElse("LAYOUT_PARITY_LABEL", "side")
    val r = s"$dir/run-$side"
    graft.util.Fs.deleteRecursively(r)
    org.apache.hadoop.fs.FileUtil.copy(lfs, new Path(s"$dir/stores"), lfs,
      new Path(r), false, spark.sparkContext.hadoopConfiguration)
    val out = new StringBuilder
    def ids(df: DataFrame): String =
      df.select(col("doc_id")).as[Long].collect().sorted.mkString(",")
    def line(k: String, v: Any): Unit = out ++= s"$k\t$v\n"
    val (el, ee) = (s"$r/exact", s"$r/exact_epochs")
    val (nl, ne) = (s"$r/neardup", s"$r/neardup_epochs")
    val b = docs(300 until 360, dupOf = Map(300 -> 7, 301 -> 210),
      nearOf = Map(302 -> 8, 303 -> 211))
    line("exact admit", ids(Dedup.ledgerAdmit(spark, el, b, "doc_id",
      "text")))
    line("neardup admit", ids(Dedup.nearDupLedgerAdmit(spark, nl, b,
      "doc_id", "text")))
    val e0 = docs(200 until 240, dupOf = Map(200 -> 5))
    val n0 = docs(200 until 240, dupOf = Map(200 -> 5), nearOf = Map(201 -> 6))
    val e1 = docs(400 until 430, dupOf = Map(400 -> 9), nearOf = Map(401 -> 10))
    line("exact epoch 1", ids(Dedup.ledgerAdmitStreamBatch(spark, el, ee,
      e1, "doc_id", "text", 1L)))
    line("neardup epoch 1", ids(Dedup.nearDupLedgerAdmitStreamBatch(spark,
      nl, ne, e1, "doc_id", "text", 1L)))
    line("exact epoch 0 again", ids(Dedup.ledgerAdmitStreamBatch(spark, el,
      ee, e0, "doc_id", "text", 0L)))
    line("neardup epoch 0 again", ids(Dedup.nearDupLedgerAdmitStreamBatch(
      spark, nl, ne, n0, "doc_id", "text", 0L)))
    line("exact epoch 1 again", ids(Dedup.ledgerAdmitStreamBatch(spark, el,
      ee, e1, "doc_id", "text", 1L)))
    line("neardup epoch 1 again", ids(Dedup.nearDupLedgerAdmitStreamBatch(
      spark, nl, ne, e1, "doc_id", "text", 1L)))
    line("neardup forget", Dedup.nearDupLedgerForget(spark, nl,
      Seq(3L, 301L).toDF("doc_id"), "doc_id"))
    line("exact compact", Dedup.compactDedupLedger(spark, el))
    line("neardup compact", Dedup.compactNearDupLedger(spark, nl))
    val c = docs(500 until 520, dupOf = Map(500 -> 3, 501 -> 302),
      nearOf = Map(502 -> 11))
    line("exact admit after compact", ids(Dedup.ledgerAdmit(spark, el, c,
      "doc_id", "text")))
    line("neardup admit after compact", ids(Dedup.nearDupLedgerAdmit(spark,
      nl, c, "doc_id", "text")))
    line("exact stats", Dedup.dedupLedgerStats(spark, el).first()
      .toSeq.mkString(","))
    line("neardup health", Dedup.nearDupLedgerHealthReport(spark, nl)
      .first().toSeq.mkString(","))
    val ivf = s"$r/ivf"
    line("ivf append", Similarity.appendToIvfIndex(spark, ivf,
      emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", ingestMicros = 3000L))
    line("ivf compact", Similarity.compactIvfIndex(spark, ivf))
    val q = emb.filter(col("vec_id") % 50 === 0)
    line("ivf serve", Similarity.ivfTopKFromIndex(
      Similarity.loadIvfIndex(spark, ivf), q, "vec_id", "embedding", k = 5)
      .collect().map(_.toSeq.mkString(":")).sorted.mkString(","))
    line("ivf drift", Similarity.ivfDriftReport(spark, ivf, q, "vec_id",
      "embedding").collect().map(_.toSeq.mkString(":")).sorted
      .mkString(","))
    // the tree: masked paths, parquet schema + rows, small-file content
    val mask = (p: String) => p.stripPrefix(s"file:$r").stripPrefix(r)
      .replaceAll("gen-(\\d{8})-[0-9a-f]{8}", "gen-$1-*")
      .replaceAll("part-\\d{5}-[0-9a-f-]{36}", "part-*")
    val it = lfs.listFiles(new Path(r), true)
    val files = Iterator.continually(it).takeWhile(_.hasNext)
      .map(_.next().getPath.toString).filterNot(_.endsWith(".crc")).toSeq
    val entries = files.map { f =>
      val m = mask(f)
      if (f.endsWith(".parquet")) {
        val df = spark.read.parquet(f)
        m + "\t" + df.schema.simpleString + "\t" +
          df.collect().map(_.toSeq.map {
            case a: Array[Byte] => a.mkString("[", " ", "]")
            case s: scala.collection.Seq[_] => s.mkString("[", " ", "]")
            case x => String.valueOf(x)
          }.mkString("|")).mkString(";")
      } else {
        val body = graft.util.Gen.readSmall(lfs, new Path(f))
        m + "\t" + mask(body)
      }
    }
    // several part files in one dir sort by content: their names differ
    out ++= entries.sorted.mkString("\n") + "\n"
    val w = new java.io.PrintWriter(s"$dir/manifest-$side.txt", "UTF-8")
    try w.write(out.toString) finally w.close()
  }
}
