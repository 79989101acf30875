package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Dedup

/** Physical-plan pins of the two dedup ledgers' store probes on the
  * sf0.01 driver testdata, read from the plans of the jobs a real admit
  * runs (a `QueryExecutionListener` records them), so a change to the
  * admit itself fails here: dynamic partition pruning on the near-dup
  * band store and primary, the trickle batch's pushed `In(kh, …)` key
  * fold, and the exact ledger's pruned, literal-folded seen probe.
  * sf0.01 holds 500 documents, so every admit here is a trickle batch
  * (at most `NdlLiteralMaxReps` representatives). */
class LedgerPlanPinsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"

  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  /** Executed-plan strings of every query `body` runs. */
  private def plansOf(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val tap = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(tap)
    try {
      body
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(tap)
    plans.toArray(Array.empty[String]).toSeq
  }

  /** The parquet scan lines of `plans` whose output holds `cols`. */
  private def scans(plans: Seq[String], cols: String*): Seq[String] =
    plans.flatMap(_.linesIterator).filter { l =>
      "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(l).exists { m =>
        val out = m.group(1).split(",").map(_.takeWhile(_ != '#')).toSet
        cols.forall(out.contains)
      }
    }

  private def withLedger(body: String => Unit): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ledger_pins").toString
    try body(root) finally graft.util.Fs.deleteRecursively(root)
  }

  test("near-dup admit: the band probe and the verify fetch get dynamic " +
      "partition pruning, and the trickle probe pushes In(kh, …)") {
    withLedger { root =>
      val ledger = s"$root/ledger"
      Dedup.nearDupLedgerAdmit(spark, ledger, docs, "doc_id", "text")
      val plans = plansOf {
        Dedup.nearDupLedgerAdmit(spark, ledger,
          docs.filter(col("doc_id") < 40), "doc_id", "text")
      }
      val bandScans = scans(plans, "band", "kh", "kb")
      assert(bandScans.exists(_.contains("dynamicpruningexpression")),
        "near-dup ledger band probe gets dynamic partition pruning on " +
          "the band store's kb buckets")
      assert(bandScans.exists(s => s.contains("PushedFilters: [In(kh") &&
        s.contains("dynamicpruningexpression")),
        "trickle band probe pushes the literal kh fold into the " +
          "band-store scan (PushedFilters carries In(kh, …)) with DPP " +
          "still live in the same plan")
      assert(scans(plans, "hs", "db")
        .exists(_.contains("dynamicpruningexpression")),
        "near-dup ledger verify fetch gets dynamic partition pruning on " +
          "the primary's db buckets")
    }
  }

  test("exact admit: the seen probe gets DPP on the digest store's db " +
      "buckets and pushes the literal digest fold") {
    withLedger { root =>
      val exact = s"$root/exact"
      Dedup.ledgerAdmit(spark, exact, docs, "doc_id", "text")
      val plans = plansOf {
        Dedup.ledgerAdmit(spark, exact, docs.filter(col("doc_id") < 40),
          "doc_id", "text")
      }
      assert(scans(plans, "text_md5", "db").exists(s =>
        s.contains("dynamicpruningexpression") &&
          s.contains("PushedFilters: [In(text_md5")),
        "exact-ledger seen probe gets DPP on the digest store's db " +
          "buckets AND pushes the literal digest fold " +
          "(PushedFilters carries In(text_md5, …))")
    }
  }
}
