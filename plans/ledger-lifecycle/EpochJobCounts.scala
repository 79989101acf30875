package graft

import graft.operators.Dedup

/** Spark jobs per streamed epoch of both dedup ledgers. Not part of the
  * build: copy it into src/test/scala/graft/ of a checkout and run
  *
  *   sbt "testOnly graft.EpochJobCounts"
  *
  * It prints one `epoch-jobs <ledger> <delivery> <jobs>` line per epoch
  * delivery: the first epoch into an empty ledger, a second epoch into
  * the existing one, that epoch re-delivered after a crash between its
  * `_decided` and `_appended` seals, and re-delivered once sealed. */
class EpochJobCounts extends SparkTestBase {
  import SparkTestBase.session.implicits._

  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val tap = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(tap)
    try {
      body
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(tap)
    n.get
  }

  test("jobs per streamed epoch") {
    val text = (k: Int) => (0 until 20).map(j => s"t${k}w$j").mkString(" ")
    val b1 = (0 until 50).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val b2 = (50 until 100).map(i => (i.toLong, text(i % 60)))
      .toDF("doc_id", "text")
    val admits = Seq[(String, (String, String, org.apache.spark.sql.DataFrame,
        Long) => org.apache.spark.sql.DataFrame)](
      "exact" -> ((p, r, b, e) =>
        Dedup.ledgerAdmitStreamBatch(spark, p, r, b, "doc_id", "text", e)),
      "near-dup" -> ((p, r, b, e) =>
        Dedup.nearDupLedgerAdmitStreamBatch(spark, p, r, b, "doc_id", "text",
          e)))
    for ((name, admit) <- admits) {
      val root = java.nio.file.Files.createTempDirectory("graft_epoch_jobs")
        .toString
      try {
        val (p, r) = (s"$root/ledger", s"$root/epochs")
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def report(delivery: String, n: Int): Unit =
          println(s"epoch-jobs $name $delivery $n")
        report("first", jobs(admit(p, r, b1, 0L)))
        report("second", jobs(admit(p, r, b2, 1L)))
        Seq("_appended", "_bands_appended", "_primary_appended").foreach(m =>
          fs.delete(new org.apache.hadoop.fs.Path(
            f"$r/epoch-${1L}%012d/$m"), false))
        report("retry-decided", jobs(admit(p, r, b2, 1L)))
        report("retry-sealed", jobs(admit(p, r, b2, 1L)))
      } finally graft.util.Fs.deleteRecursively(root)
    }
  }
}
