package graft

import org.apache.spark.sql.DataFrame
import org.apache.hadoop.fs.{FileUtil, Path}
import graft.operators.Dedup
import graft.util.{Fs, Gen}

/** The crash, retry and fence contracts of the two dedup ledgers, run as
  * one table over both: a streamed epoch re-delivered at each crash point
  * of the epoch protocol, and the near-dup ledger's two-store fence. */
class LedgerLifecycleSpec extends SparkTestBase {
  import SparkTestBase.session.implicits._

  /** One ledger under test: its streamed per-epoch admit and the row
    * counts of its stores. `stores` are the directories an append moves. */
  private case class Ledger(name: String,
      admitEpoch: (String, String, DataFrame, Long) => DataFrame,
      stores: String => Seq[String])

  private def rows(dir: String): Long =
    if (Gen.hasData(spark, dir)) Gen.read(spark, Gen.resolve(spark, dir)).count()
    else 0L

  private val ledgers = Seq(
    Ledger("exact",
      (path, root, b, e) => Dedup.ledgerAdmitStreamBatch(spark, path, root,
        b, "doc_id", "text", e),
      path => Seq(path)),
    Ledger("near-dup",
      (path, root, b, e) => Dedup.nearDupLedgerAdmitStreamBatch(spark, path,
        root, b, "doc_id", "text", e),
      path => Seq(path, Dedup.ndlBandsPath(path))))

  // 20-token texts whose 3-shingle sets differ per base; a near copy
  // swaps the last token (Jaccard 17/19)
  private def base(k: Int): String = (0 until 20).map(j => s"t${k}w$j").mkString(" ")
  private def near(k: Int): String = base(k).replace("w19", "w19x")
  private val b1 = (0 until 10).map(i => (i.toLong, base(i))).toDF("doc_id", "text")
  private val b2 = Seq(
    (10L, base(0)), (11L, base(1)), (12L, base(2)), // exact copies of b1
    (13L, near(3)), (14L, near(4)), // near copies of b1
    (15L, base(15)), (16L, base(16)), (17L, base(15)), // in-batch exact
    (18L, near(16)), (19L, base(19))).toDF("doc_id", "text")

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  private def withRoot(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_ledger_lc").toString
    try body(root) finally Fs.deleteRecursively(root)
  }

  private def copy(src: String, dst: String): Unit =
    if (fs.exists(new Path(src)))
      FileUtil.copy(fs, new Path(src), fs, new Path(dst), false,
        spark.sparkContext.hadoopConfiguration)

  for (l <- ledgers) {
    test(s"${l.name} ledger: a streamed epoch re-delivered at every crash " +
        "point re-emits identical decisions and store row counts hold") {
      withRoot { root =>
        // reference: two clean deliveries
        val ref = s"$root/ref"
        l.admitEpoch(ref, s"$root/ref_epochs", b1, 0L)
        val refE1 = ids(l.admitEpoch(ref, s"$root/ref_epochs", b2, 1L))
        val refCounts = l.stores(ref).map(rows)
        assert(refE1.nonEmpty && refE1.size < 10)

        // crash before `_decided`: a partial epoch output, no seal
        val a = s"$root/a"
        val aEpochs = s"$root/a_epochs"
        l.admitEpoch(a, aEpochs, b1, 0L)
        b2.write.parquet(f"$aEpochs/epoch-${1L}%012d/admitted")
        assert(ids(l.admitEpoch(a, aEpochs, b2, 1L)) === refE1)
        assert(l.stores(a).map(rows) === refCounts)

        // crash after `_decided`, before any append: the stores as they
        // were before the epoch, the epoch dir without its append seals
        val c = s"$root/c"
        val cEpochs = s"$root/c_epochs"
        l.admitEpoch(c, cEpochs, b1, 0L)
        l.stores(c).foreach(s => copy(s, s"$root/snap/${new Path(s).getName}"))
        l.admitEpoch(c, cEpochs, b2, 1L)
        l.stores(c).foreach { s =>
          Fs.deleteRecursively(s)
          copy(s"$root/snap/${new Path(s).getName}", s)
        }
        val eDir = f"$cEpochs/epoch-${1L}%012d"
        Seq("_appended", "_bands_appended", "_primary_appended")
          .foreach(m => fs.delete(new Path(s"$eDir/$m"), false))
        assert(fs.exists(new Path(s"$eDir/_decided")))
        assert(ids(l.admitEpoch(c, cEpochs, b2, 1L)) === refE1)
        assert(l.stores(c).map(rows) === refCounts)

        // sealed: a re-delivery touches nothing
        assert(ids(l.admitEpoch(c, cEpochs, b2, 1L)) === refE1)
        assert(l.stores(c).map(rows) === refCounts)
      }
    }
  }

  /** Leave the near-dup ledger as a crash between its two generation
    * flips does: the band store rewritten, the primary's maintenance
    * marker down, the primary itself unchanged. A stray marker inside
    * the primary store makes its rewrite refuse up front, after the band
    * store has already flipped. */
  private def crashBetweenFlips(ledger: String)(maintenance: => Long): Unit = {
    val stray = new Path(s"$ledger/stray_maintenance")
    fs.create(stray, true).close()
    intercept[IllegalStateException](maintenance)
    fs.delete(stray, false)
  }

  private val twoStoreVerbs: Seq[(String, String => Long, Seq[Long] => Unit)] = Seq(
    ("forget",
      ledger => Dedup.nearDupLedgerForget(spark, ledger,
        Seq(2L, 3L).toDF("doc_id"), "doc_id"),
      bandDocs => assert(!bandDocs.contains(2L) && !bandDocs.contains(3L))),
    ("retention-grade expire",
      ledger => Dedup.nearDupLedgerExpire(spark, ledger, 4L,
        dropSignatures = true),
      bandDocs => assert(bandDocs.forall(d => d >= 4L))))

  for ((verb, run, bandsDone) <- twoStoreVerbs) {
    test(s"near-dup ledger $verb: a crash between the band and primary " +
        "flips keeps admits failing loudly until a re-run completes and " +
        "lifts the fence") {
      withRoot { root =>
        val ref = s"$root/ref"
        Dedup.nearDupLedgerAdmit(spark, ref, b1, "doc_id", "text")
        val refN = run(ref)
        val refAdmit = ids(Dedup.nearDupLedgerAdmit(spark, ref, b2, "doc_id", "text"))

        val ledger = s"$root/ledger"
        Dedup.nearDupLedgerAdmit(spark, ledger, b1, "doc_id", "text")
        val primaryBefore = Gen.read(spark, Gen.resolve(spark, ledger))
          .select("doc").as[Long].collect().sorted.toSeq
        crashBetweenFlips(ledger)(run(ledger))
        val marker = new Path(Fs.maintenanceMarkerPath(ledger))
        assert(fs.exists(marker), "the ledger fence must survive the crash")
        bandsDone(Gen.read(spark, Gen.resolve(spark, Dedup.ndlBandsPath(ledger)))
          .select("doc").as[Long].collect().toSeq)
        assert(Gen.read(spark, Gen.resolve(spark, ledger))
          .select("doc").as[Long].collect().sorted.toSeq === primaryBefore)
        val refused = intercept[IllegalStateException](
          Dedup.nearDupLedgerAdmit(spark, ledger, b2, "doc_id", "text"))
        assert(refused.getMessage.contains("under maintenance"))

        assert(run(ledger) === refN)
        assert(!fs.exists(marker))
        assert(ids(Dedup.nearDupLedgerAdmit(spark, ledger, b2, "doc_id",
          "text")) === refAdmit)
        assert(Seq(ledger, Dedup.ndlBandsPath(ledger)).map(rows) ===
          Seq(ref, Dedup.ndlBandsPath(ref)).map(rows))
      }
    }
  }
}
