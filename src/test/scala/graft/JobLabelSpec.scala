package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Every Spark job a store lifecycle verb runs carries a job description
  * (its `Fs.labeled` phase), so a job table or trace of the engine names
  * the phase each job belongs to. */
class JobLabelSpec extends SparkTestBase {
  import SparkTestBase.session.implicits._

  /** Descriptions of the jobs `body` starts, in start order, and the
    * (description, name) of every stage it submits. */
  private def jobsAndStages(body: => Unit): (Seq[String], Seq[(String, String)]) = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    def descOf(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
    val tap = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(descOf(j.properties))
        ()
      }
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stages.add((descOf(s.properties), s.stageInfo.name))
        ()
      }
    }
    listening(tap)(body)
    (descs.toArray(Array.empty[String]).toSeq,
      stages.toArray(Array.empty[(String, String)]).toSeq)
  }

  private def jobDescriptions(body: => Unit): Seq[String] =
    jobsAndStages(body)._1

  private def assertAllLabeled(what: String, descs: Seq[String]): Unit = {
    assert(descs.nonEmpty, s"$what ran no Spark job")
    assert(descs.forall(_.nonEmpty),
      s"$what ran unlabeled jobs: ${descs.mkString("[", ", ", "]")}")
  }

  /** Every job is labeled, and every stage started under a label is
    * named by it, not by the JDK frame adaptive execution submits from. */
  private def assertLabeledWithStageNames(what: String)(body: => Unit): Unit = {
    val (descs, stages) = jobsAndStages(body)
    assertAllLabeled(what, descs)
    val jdk = stages.filter { case (d, name) =>
      d.nonEmpty && name.contains("CompletableFuture.java") }
    assert(jdk.isEmpty, s"$what: stages named by a JDK frame: " +
      jdk.mkString("[", ", ", "]"))
  }

  test("exact admit, IVF append and IVF compaction label every job") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_job_labels").toString
    try {
      val docs = (0 until 40).map(i => (i.toLong, s"document ${i % 30}"))
        .toDF("doc_id", "text")
      val ledger = s"$root/ledger"
      Dedup.ledgerAdmit(spark, ledger, docs.filter(col("doc_id") < 20),
        "doc_id", "text")
      // the second admit appends to an existing store
      assertAllLabeled("exact admit", jobDescriptions {
        Dedup.ledgerAdmit(spark, ledger, docs.filter(col("doc_id") >= 20),
          "doc_id", "text")
      })
      val rnd = new scala.util.Random(7)
      val emb = (0L until 200L)
        .map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
      val ivf = s"$root/ivf"
      Similarity.saveIvfIndex(Similarity.buildIvfIndex(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding"), ivf)
      assertAllLabeled("IVF append", jobDescriptions {
        Similarity.appendToIvfIndex(spark, ivf,
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      })
      assertAllLabeled("IVF compaction", jobDescriptions {
        Similarity.compactIvfIndex(spark, ivf)
      })
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("near-dup admit, forget and compaction, exact compaction, epoch " +
      "admits and an IVF load plus serve label every job and name every " +
      "stage by its label") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_job_labels_ledgers").toString
    try {
      val docs = (0 until 40).map(i =>
        (i.toLong, s"document ${i % 30} about topic ${i % 30} and more"))
        .toDF("doc_id", "text")
      val ndl = s"$root/ndl"
      Dedup.nearDupLedgerAdmit(spark, ndl, docs.filter(col("doc_id") < 20),
        "doc_id", "text")
      assertLabeledWithStageNames("near-dup admit") {
        Dedup.nearDupLedgerAdmit(spark, ndl,
          docs.filter(col("doc_id") >= 20), "doc_id", "text")
      }
      assertLabeledWithStageNames("near-dup forget") {
        Dedup.nearDupLedgerForget(spark, ndl,
          Seq(1L, 2L).toDF("doc_id"), "doc_id")
      }
      assertLabeledWithStageNames("near-dup compaction") {
        Dedup.compactNearDupLedger(spark, ndl)
      }
      val exact = s"$root/exact"
      Dedup.ledgerAdmit(spark, exact, docs, "doc_id", "text")
      assertLabeledWithStageNames("exact compaction") {
        Dedup.compactDedupLedger(spark, exact)
      }
      assertLabeledWithStageNames("exact epoch admit") {
        Dedup.ledgerAdmitStreamBatch(spark, s"$root/sexact",
          s"$root/exact_epochs", docs, "doc_id", "text", 0L)
      }
      assertLabeledWithStageNames("near-dup epoch admit") {
        Dedup.nearDupLedgerAdmitStreamBatch(spark, s"$root/sndl",
          s"$root/ndl_epochs", docs, "doc_id", "text", 0L)
      }
      val rnd = new scala.util.Random(7)
      val emb = (0L until 200L)
        .map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
      val ivf = s"$root/ivf"
      Similarity.saveIvfIndex(Similarity.buildIvfIndex(
        emb, "vec_id", "embedding"), ivf)
      Similarity.deleteFromIndex(spark, ivf,
        emb.filter(col("vec_id") < 5).select("vec_id"), "vec_id")
      assertLabeledWithStageNames("IVF load and serve") {
        Similarity.ivfTopKFromIndex(Similarity.loadIvfIndex(spark, ivf),
          emb.filter(col("vec_id") >= 190), "vec_id", "embedding", k = 3)
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }
}
