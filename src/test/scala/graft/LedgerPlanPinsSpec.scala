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
  * sf0.01 holds 500 documents, so every admit on it is a trickle batch
  * (at most `NdlLiteralMaxReps` representatives); the non-trickle probes
  * run on seeded in-memory documents. A non-trickle batch touches every
  * band and digest bucket, so only its verify fetch is pinned to DPP. */
class LedgerPlanPinsSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet(s"$testdata/documents.parquet")

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
    listening(tap)(body)
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

  test("non-trickle admit (more than NdlLiteralMaxReps = 2,048 " +
      "representatives): broadcast probes without the literal " +
      "In(kh, …) / In(text_md5, …) fold, and DPP on the verify fetch") {
    withLedger { root =>
      val ledger = s"$root/ledger"
      val exact = s"$root/exact"
      val seed = seededDocs(0 until 100)
      Dedup.nearDupLedgerAdmit(spark, ledger, seed, "doc_id", "text")
      Dedup.ledgerAdmit(spark, exact, seed, "doc_id", "text")
      // fresh documents plus copies of ten stored texts under new ids,
      // so the verify fetch has candidates to fetch
      val batch = seededDocs(100 until 2200).unionByName(
        seededDocs(0 until 10).withColumn("doc_id", col("doc_id") + 10000L))
      val ndPlans = plansOf(Dedup.nearDupLedgerAdmit(spark, ledger,
        batch, "doc_id", "text"))
      assert(ndPlans.exists(
        "BroadcastHashJoin \\[band#\\d+, kb#\\d+, kh#\\d+L\\]".r
          .findFirstIn(_).isDefined),
        "non-trickle band probe is a broadcast equi-join on (band, kb, kh)")
      assert(!scans(ndPlans, "band", "kh", "kb").exists(_.contains("In(kh")),
        "non-trickle band probe folds no literal kh set into the scan")
      assert(scans(ndPlans, "hs", "db")
        .exists(_.contains("dynamicpruningexpression")),
        "non-trickle verify fetch gets dynamic partition pruning on the " +
          "primary's db buckets")
      val exPlans = plansOf(Dedup.ledgerAdmit(spark, exact, batch,
        "doc_id", "text"))
      assert(exPlans.exists(
        "BroadcastHashJoin \\[db#\\d+, text_md5#\\d+\\]".r
          .findFirstIn(_).isDefined),
        "non-trickle exact seen probe is a broadcast equi-join on " +
          "(db, text_md5)")
      assert(!scans(exPlans, "text_md5", "db")
        .exists(_.contains("In(text_md5")),
        "non-trickle exact seen probe folds no literal digest set into " +
          "the scan")
    }
  }
}
