package graft.util

import java.nio.file.{Files, Path, Paths}

/** Tiny filesystem helpers shared by the temp-index lifecycles (t52's
  * driver entry, the plan-pin specs' DPP probes, the DAG-resume spec). */
object Fs {

  /** Run `body` with a thread-local Spark job description (guide §1.5
    * — label your jobs): every action the body triggers is labeled in
    * the UI/event log/QueryProbe with the protocol phase it belongs
    * to. The label is also the call site, so every stage of those
    * jobs is named by it — including the stages adaptive query
    * execution submits from its own threads, whose captured call site
    * would otherwise be a JDK frame. Restores the caller's label and
    * call site on exit (labels nest: an inner phase's label holds for
    * its own jobs only). Zero effect on results or plans — scheduling
    * metadata only. */
  def labeled[T](spark: org.apache.spark.sql.SparkSession,
      desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    val prevSite = sc.getLocalProperty("callSite.short")
    sc.setJobDescription(desc)
    sc.setCallSite(desc)
    try body finally {
      sc.setJobDescription(prev)
      sc.setLocalProperty("callSite.short", prevSite)
    }
  }

  /** Sibling path of the maintenance marker a [[Gen.rewrite]] holds
    * for its rewrite window. */
  def maintenanceMarkerPath(storePath: String): String =
    storePath + "_maintenance"

  /** The ingest-side half of the maintenance fence: every writer that
    * appends to a [[Gen]] store calls this first and fails loudly while
    * a rewrite window (or a crashed rewrite's surviving marker) is open
    * — the alternative is rows committed after the snapshot read being
    * silently obsoleted by the generation flip, the one failure mode
    * that LOSES data. */
  def failIfUnderMaintenance(spark: org.apache.spark.sql.SparkSession,
      storePath: String, who: String): Unit = {
    import org.apache.hadoop.fs.Path
    val store = new Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // check the store's own marker AND the enclosing directory's: a
    // whole-index rewrite (rebuildIvfIndex rewrites the index DIR, not one
    // dataset under it) fences every dataset it contains
    val markers = Seq(Some(store), Option(store.getParent)).flatten
      .map(p => new Path(maintenanceMarkerPath(p.toString)))
    markers.find(fs.exists).foreach { m =>
      throw new IllegalStateException(
        s"$who: $storePath is under maintenance ($m exists) — a " +
          "compaction/rebuild is running (rows appended now would be " +
          "silently dropped by its generation flip) or crashed mid-run " +
          "(re-run it to recover and clear the marker); retry after " +
          "it completes")
    }
  }

  /** Sibling path of the INGEST LEASE a ledger admit holds for its
    * read-decide-append window. */
  def ingestLeasePath(storePath: String): String =
    storePath + "_ingest_lease"

  /** Serialize read-decide-append ingest against a store: ledger
    * admits READ the store to decide, then APPEND — two of them
    * running concurrently each read the store before the other's
    * append lands and silently DOUBLE-ADMIT any content duplicated
    * across (or decided differently by) the two batches. Pure appends
    * (index appendTo*, tombstone deletes) have no decide step and need
    * no lease. The lease is one exclusive create (atomic on HDFS;
    * S3A wants conditional-PUT support, same caveat as
    * [[Gen]]'s commit pointer) held for the admit and released on ANY
    * in-JVM exit, success or failure — only a hard crash leaves it
    * behind, and then admits fail LOUDLY until the operator confirms
    * the dead admit and clears with [[clearIngestLease]] (the crashed
    * batch re-runs idempotently afterwards; see ledgerAdmit's
    * recovery scaladoc). */
  def withIngestLease[T](spark: org.apache.spark.sql.SparkSession,
      storePath: String, who: String)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val lease = new Path(ingestLeasePath(storePath))
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.create(lease, false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"$who: another admit holds the ingest lease on $storePath " +
            s"($lease exists) — concurrent admits each read the store " +
            "before the other's append lands and would DOUBLE-ADMIT " +
            "duplicates; wait for it to finish, or (if it crashed) " +
            "clear the lease with Fs.clearIngestLease and re-run its " +
            "batch")
    }
    try body finally fs.delete(lease, false)
  }

  /** Operator recovery verb for a hard-crashed admit's surviving
    * lease. Returns true when a lease file was actually removed. */
  def clearIngestLease(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val lease = new Path(ingestLeasePath(storePath))
    lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lease, false)
  }

  /** Recursive delete, a no-op when `dir` does not exist. The
    * `Files.walk` stream holds open DirectoryStreams and MUST be
    * closed — leaking it accumulates directory handles on every
    * bench rep / verify pass (the reason this lives in one place
    * instead of three copy-pasted blocks). */
  def deleteRecursively(dir: String): Unit = {
    // a delete may be followed by a re-create at the same path (tests,
    // store resets): drop any cached read schemas under it so the next
    // read re-infers (see Gen.readSchemaCache)
    Gen.invalidateReadSchemas(dir)
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}
