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

  /** The shared maintenance-rewrite protocol for an on-disk parquet
    * store a Spark job wants to rewrite in place (IVF cell-store
    * compaction, dedup-ledger compaction): `writeTo` materializes the
    * rewrite into a sibling `<store>_compacting` dir (a Spark job
    * cannot safely overwrite the directory it is reading), then the
    * swap runs as two renames through the store's own Hadoop
    * FileSystem — store → `<store>_old`, compacted → store, delete
    * old. Each rename is an atomic metadata op on POSIX/HDFS. Crash
    * safety: a prior run that died between its renames left the store
    * missing and `<store>_old` holding the only original copy — a
    * RE-RUN restores it before the cleanup deletes touch anything
    * (deleting first would destroy both surviving copies). A failed
    * promote rolls the first rename back, and the rollback result is
    * CHECKED — if it also fails (e.g. a concurrent writer recreated
    * the store) the exception says where both copies actually are.
    * SINGLE MAINTENANCE WRITER — a BEST-EFFORT fence that narrows the
    * race window (check-then-act, not atomic): a `<store>_maintenance`
    * marker file goes down BEFORE the snapshot read and comes up only
    * after the swap completes, and every in-repo ingest writer
    * ([[graft.operators.Similarity]] appends,
    * [[graft.operators.Dedup]] ledger admits) calls
    * [[failIfUnderMaintenance]] first — an append racing a compaction
    * fails LOUDLY at its fence check instead of being silently dropped
    * by the swap. The residual window (an append that passed its fence
    * check just before the marker went down and commits during the
    * rewrite) is closed by a CONTENT-SUMMARY RE-VERIFY: the store's
    * recursive (file count, byte count) is captured right after marker
    * creation and re-checked before the first rename — a changed
    * summary aborts the swap with the store intact (rows committed
    * before the capture are also in the later snapshot read, so they
    * are never lost). The summary is RECURSIVE deliberately: for a
    * directory-of-datasets store an append commits nested inside a
    * child dir and leaves the top-level listing unchanged (dir names
    * and lengths don't change on HDFS/S3A). Maintenance
    * writers fence EACH OTHER across nesting levels: a rewrite fails
    * up front while the ENCLOSING directory's marker is down (a
    * whole-index rebuild owns every store inside it) or while any
    * `*_maintenance` marker exists INSIDE the store being swapped (a
    * child-store compaction in flight would be torn apart by a parent
    * rename); same-store re-runs deliberately pass (the crashed-run
    * recovery path). A run that crashes mid-swap leaves the marker in
    * place (so ingest stays fenced off the half-swapped store) and a
    * re-run clears it after recovering the rename state; a `writeTo`
    * that THROWS before any rename lifts the marker itself — the
    * store was never touched, so leaving ingest fenced would turn a
    * transient job failure into an outage. READERS are not
    * fenced: between the two renames the store path does not exist,
    * so a concurrent reader (an index serve, a ledger anti-join) hits
    * path-not-found for that window. [[Gen.rewrite]] is the
    * zero-reader-outage successor (per-writer staging dirs + an
    * atomic exclusive commit-pointer create — one winner under
    * concurrent maintenance) and is what every in-repo lifecycle
    * verb routes through; THIS protocol remains as Gen's one-time
    * MIGRATION path for legacy flat stores, and for callers that
    * genuinely want rename-swap semantics on POSIX/HDFS. */
  def swapRewrite(spark: org.apache.spark.sql.SparkSession,
      storePath: String)(writeTo: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val store = new Path(storePath)
    val tmp = new Path(storePath + "_compacting")
    val old = new Path(storePath + "_old")
    val marker = new Path(maintenanceMarkerPath(storePath))
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cross-level fencing BEFORE creating our own marker. Parent: a
    // whole-dir rebuild holding the enclosing marker owns this store
    // too. Children: a live child-store rewrite has its marker INSIDE
    // this dir — renaming the dir out from under it would tear it
    // apart. Our OWN marker deliberately does not fail us (re-running
    // a crashed rewrite on the same store is the recovery path).
    Option(store.getParent)
      .map(p => new Path(maintenanceMarkerPath(p.toString)))
      .filter(fs.exists).foreach { m =>
        throw new IllegalStateException(
          s"swapRewrite: enclosing directory of $storePath is under " +
            s"maintenance ($m exists) — a whole-index rebuild owns " +
            "this store; retry after it completes (or re-run IT if " +
            "it crashed)")
      }
    if (fs.exists(store) && fs.getFileStatus(store).isDirectory) {
      val inner = fs.listStatus(store)
        .filter(_.getPath.getName.endsWith("_maintenance"))
      if (inner.nonEmpty)
        throw new IllegalStateException(
          s"swapRewrite: $storePath contains maintenance markers " +
            s"(${inner.map(_.getPath.getName).mkString(", ")}) — a " +
            "store inside it is mid-rewrite (or crashed mid-rewrite); " +
            "finish/re-run that rewrite first")
    }
    // fence — before the crash recovery and long before the snapshot
    // read inside writeTo; create(overwrite=true) also makes a re-run
    // over a crashed rewrite's surviving marker a no-op
    fs.create(marker, true).close()
    if (!fs.exists(store) && fs.exists(old) && !fs.rename(old, store))
      throw new java.io.IOException(
        s"swapRewrite: $store is missing and restoring $old failed — " +
          "recover manually before re-running")
    fs.delete(tmp, true)
    fs.delete(old, true)
    // capture the post-marker content summary (recursive file + byte
    // counts — a direct-children listing would miss an append nested
    // inside a partition/tombstones subdir): any ingest that slipped
    // through the check-then-act window and commits AFTER this capture
    // is caught by the re-verify below; one that committed BEFORE it
    // is also in writeTo's (later) snapshot read, so nothing is lost
    def listing(): Option[(Long, Long)] =
      if (fs.exists(store)) {
        val cs = fs.getContentSummary(store)
        Some((cs.getFileCount, cs.getLength))
      } else None
    val preListing = listing()
    try writeTo(tmp.toString)
    catch {
      case e: Throwable =>
        // no rename has happened: the store is intact, so leaving the
        // marker down would fence ingest until a human intervened —
        // clean up and surface the original failure instead
        fs.delete(tmp, true)
        fs.delete(marker, false)
        throw e
    }
    if (listing() != preListing) {
      fs.delete(tmp, true)
      fs.delete(marker, false)
      throw new IllegalStateException(
        s"swapRewrite: $storePath changed while the rewrite ran (an " +
          "ingest slipped through the fence's check-then-act window) " +
          "— the swap was aborted with the store intact; re-run to " +
          "include the new rows")
    }
    if (!fs.rename(store, old))
      throw new java.io.IOException(
        s"swapRewrite: could not move $store aside")
    if (!fs.rename(tmp, store)) {
      val restored = fs.rename(old, store)
      throw new java.io.IOException(
        if (restored)
          s"swapRewrite: could not promote $tmp; original restored"
        else
          s"swapRewrite: could not promote $tmp AND rollback failed — " +
            s"original at $old, compacted at $tmp, store state unknown")
    }
    fs.delete(old, true)
    fs.delete(marker, false)
  }

  /** Sibling path of the maintenance marker [[swapRewrite]] holds for
    * the rewrite window. */
  def maintenanceMarkerPath(storePath: String): String =
    storePath + "_maintenance"

  /** The ingest-side half of the maintenance fence: every writer that
    * appends to a swapRewrite-maintained store calls this first and
    * fails loudly while a compaction window (or a crashed compaction's
    * surviving marker) is open — the alternative is rows committed
    * after the snapshot read being silently dropped by the swap, the
    * one failure mode that LOSES data. */
  def failIfUnderMaintenance(spark: org.apache.spark.sql.SparkSession,
      storePath: String, who: String): Unit = {
    import org.apache.hadoop.fs.Path
    val store = new Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // check the store's own marker AND the enclosing directory's: a
    // whole-index rewrite (rebuildIvfIndex swaps the index DIR, not one
    // dataset under it) fences every dataset it contains
    val markers = Seq(Some(store), Option(store.getParent)).flatten
      .map(p => new Path(maintenanceMarkerPath(p.toString)))
    markers.find(fs.exists).foreach { m =>
      throw new IllegalStateException(
        s"$who: $storePath is under maintenance ($m exists) — a " +
          "compaction/rebuild is running (rows appended now would be " +
          "silently dropped by its swap) or crashed mid-run (re-run it " +
          "to recover and clear the marker); retry after it completes")
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
