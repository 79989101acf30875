package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Every Spark job a store lifecycle verb runs carries a job description
  * (its `Fs.labeled` phase), so a job table or trace of the engine names
  * the phase each job belongs to. */
class JobLabelSpec extends SparkTestBase {
  import SparkTestBase.session.implicits._

  /** Descriptions of the jobs `body` starts, in start order. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val tap = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(tap)
    try {
      body
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(tap)
    descs.toArray(Array.empty[String]).toSeq
  }

  private def assertAllLabeled(what: String, descs: Seq[String]): Unit = {
    assert(descs.nonEmpty, s"$what ran no Spark job")
    assert(descs.forall(_.nonEmpty),
      s"$what ran unlabeled jobs: ${descs.mkString("[", ", ", "]")}")
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
}
