package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned GENERATION layout for every persisted store — zero
  * reader outage across rewrites, with OPTIMISTIC CONCURRENCY between
  * maintenance writers.
  *
  * Layout (v2): a store at `P` holds its data inside per-writer
  * STAGING dirs, `P/gen-00000002-3fa91c55/…` — the 8-digit number is
  * the generation the writer targets, the hex token makes the dir
  * UNIQUE to that writer (no two rewrites ever touch the same
  * directory). A generation becomes REAL when its COMMIT POINTER
  * lands: `P/_commit-00000002`, a tiny file whose content is the name
  * of the staging dir that won. The pointer is made SELF-VALID at the
  * instant it becomes visible — by the strategy the filesystem's
  * semantics demand ([[publishStrategy]]): on HDFS-family/local, its
  * full content is first written to a writer-unique hidden temp
  * (`P/.commit-00000002-3fa91c55.tmp`), closed, and then RENAMED to
  * the pointer name — one atomic metadata op, so no reader ever
  * observes a pointer whose content is empty or partial (there a
  * create-then-write publish has exactly that torn window, because a
  * created file is visible before close, and a crash inside it would
  * brick the store: an empty pointer that scan kept treating as the
  * current commit); on OBJECT STORES, one exclusive
  * create+write+close — the object materializes whole at the
  * close-time PUT (invisible before it), and rename there would be
  * copy+delete. The exclusive step REFUSES an existing destination
  * (atomic no-overwrite rename on HDFS, conditional-PUT create on a
  * capable object-store connector; elsewhere the exists pre-check
  * narrows it to a small check-then-act window — see
  * [[publishAtomicity]] for the per-scheme capability and the loud
  * once-per-scheme degradation warning), which is the one-winner
  * arbitration. Defense in depth for states the
  * protocol itself can no longer produce (a pre-rename-era crash, a
  * sweep that died between a dir delete and its pointer delete, a
  * manually damaged store): [[scan]] treats a pointer that is EMPTY or
  * names a MISSING dir as POISONED — uncommitted, resolution falls
  * back to the previous generation — and every sweep deletes poisoned
  * pointers, so the store self-heals instead of throwing forever.
  *
  * Concurrent-writer safety, the v2 point: every rewrite fixes its
  * TARGET number at snapshot time (current committed + 1) and
  * publishes by exclusively creating `_commit-<target>`. Two racing
  * rewrites (a scheduled compaction vs an operator-run rebuild)
  * therefore resolve to exactly ONE winner; the loser's exclusive
  * create fails and it aborts LOUDLY with the store serving the
  * winner's generation — its output was derived from a snapshot the
  * store has moved past, so publishing it would silently drop the
  * winner's changes. (The v1 layout — a `_gen_commit` marker INSIDE a
  * shared `gen-N` dir — let both writers build in the SAME directory:
  * the second's orphan sweep could delete the first's half-written
  * files mid-job and the first could then publish the second's
  * incomplete data. v1 stores remain readable; their first v2 rewrite
  * supersedes them.)
  *
  * Reader grace: the previous generation is NOT deleted at publish
  * time. A reader that resolved before the flip keeps a valid path
  * until the NEXT rewrite sweeps it (one full maintenance cycle of
  * grace — tune with [[sweepGenerations]] if disk pressure demands
  * eager reclaim, after in-flight readers quiesce). Transient disk
  * cost is 2× the store, held for one cycle. A deploy that needs a
  * generation to OUTLIVE the grace window (reproducible serving on a
  * [[resolveAt]] pin, an A/B held open across rebuilds) takes a
  * [[keepGeneration]] retention ref, which every sweep honors until
  * [[releaseGeneration]].
  *
  * Crash safety, by construction:
  *   - a crash mid-write leaves an UNREFERENCED staging dir no
  *     resolve ever returns (the commit pointer is the last write);
  *     it is swept once it is provably DOOMED — its target number is
  *     not current+1, so its writer can never publish (a name-based
  *     rule: no clocks, no leases). Only stagings that could still WIN
  *     are protected: a doomed-but-LIVE loser (its target already
  *     superseded) may see its staging reclaimed by a later writer's
  *     entry sweep mid-write and die with an arbitrary task IO error
  *     instead of the designed stale-snapshot abort — data-safe either
  *     way, since a doomed writer could never publish;
  *   - the maintenance marker (`P_maintenance`,
  *     [[Fs.maintenanceMarkerPath]]) goes down before the snapshot
  *     read and comes up after the publish, so ingest writers — which call
  *     [[Fs.failIfUnderMaintenance]] first — fail loudly for the
  *     window instead of appending rows into a generation the flip is
  *     about to obsolete; a crash leaves the marker down (ingest stays
  *     fenced) and a RE-RUN of the rewrite recovers and clears it;
  *   - the check-then-act residue (an ingest that passed its fence
  *     check just before the marker went down and commits during the
  *     rewrite) is closed by a RECURSIVE content-summary re-verify
  *     (file count + byte count of the current generation, captured
  *     after the marker, re-checked before the commit pointer is
  *     created) — a slipped append aborts the publish with the old
  *     generation still current, and nothing is lost.
  *
  * Ingest ([[appendDir]]) writes into the CURRENT generation — an
  * append-only mutation readers tolerate by definition (they just see
  * more rows).
  *
  * A FLAT root — visible data but no generation artifacts, the layout
  * stores had before generations existed — is refused by [[rewrite]]
  * and [[appendDir]] and left untouched: no code writes it any more.
  * Readers still take a non-versioned dir as itself, because epoch
  * roots and generation dirs handed in directly are read that way. */
object Gen {

  private val GenPrefix = "gen-"
  private val CommitPrefix = "_commit-"
  private val KeepPrefix = "_keep-"
  private[graft] val CommitMarker = "_gen_commit" // v1, read-compat

  private def commitName(n: Long): String = f"$CommitPrefix$n%08d"

  private[graft] def genDirName(n: Long, token: String): String =
    f"$GenPrefix$n%08d-$token"

  private def newToken(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** `gen-00000002-3fa91c55` → (2, "3fa91c55"); `gen-00000002` (v1)
    * → (2, ""). */
  private def parseGen(name: String): Option[(Long, String)] =
    if (!name.startsWith(GenPrefix)) None
    else {
      val rest = name.stripPrefix(GenPrefix)
      val (num, tok) = rest.indexOf('-') match {
        case -1 => (rest, "")
        case i => (rest.take(i), rest.drop(i + 1))
      }
      num.toLongOption.map((_, tok))
    }

  private def parseCommit(name: String): Option[Long] =
    if (name.startsWith(CommitPrefix))
      name.stripPrefix(CommitPrefix).toLongOption
    else None

  /** `.commit-00000002-3fa91c55.tmp` — the writer-unique staged
    * pointer content a publish renames into place. Hidden (leading
    * dot) so data readers never see it. */
  private def tempCommitName(n: Long, token: String): String =
    f".commit-$n%08d-$token.tmp"

  private def parseTempCommit(name: String): Option[Long] =
    if (name.startsWith(".commit-") && name.endsWith(".tmp")) {
      // parse the FULL number up to the token separator — %08d pads to
      // 8 digits but prints 9+ for generations ≥ 1e8, and truncating
      // would misclassify a live publish temp as doomed
      val rest = name.stripPrefix(".commit-")
      rest.indexOf('-') match {
        case -1 => None
        case i => rest.take(i).toLongOption
      }
    } else None

  private def keepName(n: Long): String = f"$KeepPrefix$n%08d"

  private def keeps(fs: FileSystem, store: Path): Set[Long] =
    if (!fs.exists(store)) Set.empty
    else fs.listStatus(store).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith(KeepPrefix)) n.stripPrefix(KeepPrefix).toLongOption
      else None
    }.toSet

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A small file's whole content as trimmed UTF-8 — commit pointers
    * here, and the dedup ledgers' epoch seals and geometry sidecar. */
  private[graft] def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toString("UTF-8").trim
    } finally in.close()
  }

  /** One snapshot of a store's generation artifacts.
    *   - `commits`: (generation, data dir NAME), ascending — v2
    *     pointer files whose content names an EXISTING dir, plus v1
    *     dirs holding a `_gen_commit` marker;
    *   - `stagings`: gen-prefixed dirs NOT named by any commit —
    *     in-flight or crashed writers (v2) and v1 orphans;
    *   - `poisoned`: pointer files that are EMPTY or name a missing
    *     dir — crash/damage artifacts the rename publish cannot
    *     produce. Treated as UNCOMMITTED (resolution falls back to the
    *     previous generation instead of throwing on a dangling path)
    *     and deleted by every sweep, so a rewrite can re-target their
    *     number;
    *   - `temps`: staged pointer-content files (`.commit-N-….tmp`) a
    *     publish renames into place — a crashed publish's leftover is
    *     swept once its number is doomed. */
  private case class Scan(commits: Seq[(Long, String)],
      stagings: Seq[(Long, String)],
      poisoned: Seq[(Long, String)],
      temps: Seq[(Long, String)]) {
    def current: Option[(Long, String)] = commits.lastOption
  }

  private def scan(fs: FileSystem, store: Path): Scan =
    if (!fs.exists(store)) Scan(Seq.empty, Seq.empty, Seq.empty,
      Seq.empty)
    else {
      val entries = fs.listStatus(store).toSeq
      val names = entries.map(_.getPath.getName)
      val dirs = names.flatMap(n => parseGen(n).map { case (g, _) =>
        (g, n) })
      val dirSet = dirs.map(_._2).toSet
      // the dir-existence check costs no extra RPC: the dir must be a
      // sibling, and we already hold the full listing. A pointer that
      // vanishes between the listing and this read was deleted by a
      // concurrent sweep (poisoned-pointer reclaim, an entry sweep, a
      // sweepGenerations) — drop it, exactly as if it had never been
      // listed, rather than failing the whole read on FNF. The drop
      // reclassifies the dir it named into `stagings` for THIS scan,
      // which is why every sweep re-probes before deleting a doomed
      // staging (stagingIsCommitted) — a spurious FNF must degrade a
      // read, never destroy a committed generation
      val (v2, poisoned) = names
        .flatMap(n => parseCommit(n).flatMap(c =>
          try Some((c, readSmall(fs, new Path(store, n))))
          catch { case _: java.io.FileNotFoundException => None }))
        .partition { case (_, d) => d.nonEmpty && dirSet.contains(d) }
      val v1 = dirs.filter { case (_, n) =>
        !v2.exists(_._2 == n) &&
          fs.exists(new Path(store, s"$n/$CommitMarker"))
      }
      val commits = (v2 ++ v1).sortBy(_._1)
      val stagings = dirs
        .filter { case (_, n) => !commits.exists(_._2 == n) }
        .sortBy(_._1)
      val temps = names.flatMap(n => parseTempCommit(n).map((_, n)))
      Scan(commits, stagings, poisoned.sortBy(_._1), temps.sortBy(_._1))
    }

  /** Resolve a store path to the directory a READER should scan: the
    * highest committed generation when versioned, the path itself
    * otherwise (an epoch root, a generation dir handed in directly, or
    * a missing store). One or two namenode RPCs; call once per
    * load, not per expression. Deliberately ignores maintenance
    * markers — readers are never fenced. */
  def resolve(spark: SparkSession, storePath: String): String = {
    val store = new Path(storePath)
    scan(fsOf(spark, store), store).current match {
      case Some((_, dir)) => new Path(store, dir).toString
      case None => storePath
    }
  }

  /** Session-scoped parquet READ-SCHEMA cache (r20, guide §1/§6): a
    * schema-less `spark.read.parquet(dir)` infers the schema from file
    * footers on EVERY call — a small Spark job (~25 ms) plus its
    * driver-side scheduling gap, paid once per store read per bench
    * rep. Store data dirs have an immutable schema for their lifetime:
    * generation dirs are writer-unique (gen-N-<uuid> — a name never
    * recurs with different content), appends into a generation never
    * change columns, and epoch dirs are written once then sealed. So
    * the first read's inferred schema is cached per (data dir,
    * session) and later reads pass it explicitly — identical results
    * by construction (the cached schema IS what inference would
    * return), minus the repeated footer jobs. Non-versioned dirs are
    * the one non-unique name class; [[Fs.deleteRecursively]] invalidates
    * by prefix so a delete+recreate at the same path re-infers.
    * Bounded: cleared wholesale past 4096 entries (each is a tiny
    * StructType; the bound only matters to long test JVMs). */
  private val readSchemaCache = new java.util.concurrent.
    ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Schema-cached parquet read of a store data dir (see
    * [[readSchemaCache]]). Use for every read of a dir whose schema is
    * immutable for its lifetime — all generation/epoch dirs. */
  def read(spark: SparkSession, dataDir: String): org.apache.spark.sql.DataFrame = {
    if (readSchemaCache.size > 4096) readSchemaCache.clear()
    val key = dataDir + "|" + spark.sparkContext.applicationId
    val sch = readSchemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(dataDir).schema)
    spark.read.schema(sch).parquet(dataDir)
  }

  /** Drop cached read schemas at/under `pathPrefix` (delete hook). */
  private[graft] def invalidateReadSchemas(pathPrefix: String): Unit =
    readSchemaCache.keySet.removeIf(_.startsWith(pathPrefix))

  /** Does the store hold any readable data? Versioned: a committed
    * generation with at least one non-hidden entry. Non-versioned: any
    * non-hidden entry. Staging dirs never count. */
  def hasData(spark: SparkSession, storePath: String): Boolean = {
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    if (!fs.exists(store)) return false
    val s = scan(fs, store)
    val dataDir =
      if (s.commits.isEmpty && s.stagings.isEmpty) store
      else s.current match {
        case Some((_, dir)) => new Path(store, dir)
        case None => return false
      }
    hasVisible(fs, dataDir)
  }

  /** Does `dir` exist with a visible (not `_`/`.`-prefixed) entry? */
  private def hasVisible(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** The directory an INGEST append should write into: the current
    * generation (versioned) or a freshly-established generation 1 (new
    * store — committed immediately: an empty generation receiving appends is
    * indistinguishable from a committed one receiving appends, and
    * versioned-from-birth means the store's first compaction is
    * already zero-outage). Race-safe like [[rewrite]]: two concurrent
    * first-appends both stage, ONE wins the exclusive `_commit-…`
    * create, and the loser appends into the winner's dir (its own
    * empty staging is doomed and sweeps later). Callers fence with
    * [[Fs.failIfUnderMaintenance]] BEFORE calling, per the ingest
    * contract. */
  def appendDir(spark: SparkSession, storePath: String): String = {
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    val s = scan(fs, store)
    s.current match {
      case Some((_, dir)) => new Path(store, dir).toString
      case None =>
        refuseFlat(fs, store, s, "Gen.appendDir")
        // a store reduced to crash artifacts (poisoned pointers,
        // doomed stagings/temps) self-heals here: sweeping first is
        // what frees a poisoned `_commit-00000001` for the publish
        sweep(fs, store, s)
        // never adopt an EXISTING staging dir: it is another
        // writer's — in flight (appending into it would race its
        // publish) or crashed (partial content) — so establish our
        // OWN generation-1 staging and publish it with the same
        // temp+rename every rewrite uses
        val token = newToken()
        val g = new Path(store, genDirName(1L, token))
        fs.mkdirs(g)
        if (publishPointer(fs, store, 1L, g.getName, token))
          g.toString
        else {
          // lost the establish race — append into the winner's
          // dir; our empty staging is doomed and sweeps later
          fs.delete(g, true)
          resolve(spark, storePath)
        }
    }
  }

  /** Refuse a FLAT root: no generation artifacts, but real (visible,
    * non-hidden) content at the root — the layout stores had before
    * generations existed. Counting only visible entries is deliberate:
    * a store reduced to a poisoned pointer or a publish temp by a
    * crash must NOT be mistaken for flat data. */
  private def refuseFlat(fs: FileSystem, store: Path, s: Scan,
      who: String): Unit =
    if (s.commits.isEmpty && s.stagings.isEmpty && hasVisible(fs, store))
      throw new IllegalStateException(
        s"$who: $store is a flat store (data at the root, no generation " +
          "commit) — a layout from before generation stores, which " +
          "this code does not write; it was left untouched. Rebuild it " +
          "into a new store path.")

  private[graft] def createMarker(spark: SparkSession,
      storePath: String): Unit = {
    val m = new Path(Fs.maintenanceMarkerPath(storePath))
    fsOf(spark, m).create(m, true).close()
  }

  private[graft] def deleteMarker(spark: SparkSession,
      storePath: String): Unit = {
    val m = new Path(Fs.maintenanceMarkerPath(storePath))
    fsOf(spark, m).delete(m, false)
  }

  /** Recursive (file count, byte count) of a directory — the
    * re-verify snapshot. Unlike a direct-children listing this SEES an
    * append that lands nested inside a partition subdir or a
    * tombstones dir (dir names and lengths do not change on HDFS/S3A
    * when files appear inside them). */
  private def summary(fs: FileSystem, dir: Path): Option[(Long, Long)] =
    if (!fs.exists(dir)) None
    else {
      val cs = fs.getContentSummary(dir)
      Some((cs.getFileCount, cs.getLength))
    }

  /** A staging dir that can no longer win: every LIVE writer's target
    * is exactly current+1 (it was fixed at snapshot time as
    * then-current + 1, and a later publish at that number dooms it via
    * the exclusive create), so a staging numbered anything else is a
    * lost race, a superseded crash, or junk — deletable without
    * clocks or leases, and a staging that could still WIN is never
    * touched. */
  private def doomed(cur: Option[(Long, String)], n: Long): Boolean =
    n != cur.map(_._1).getOrElse(0L) + 1

  /** Sweep (a) committed generations older than the current one —
    * their reader grace ended when a NEWER publish landed — (b) DOOMED
    * staging dirs (see [[doomed]]), (c) POISONED pointers (empty or
    * dangling — crash artifacts; deleting them is what lets a rewrite
    * re-target their number), and (d) doomed publish temps. */
  private def sweep(fs: FileSystem, store: Path, s: Scan): Unit = {
    val cur = s.current
    val kept = keeps(fs, store)
    s.commits.foreach { case (n, dir) =>
      if (cur.exists(n < _._1) && !kept.contains(n)) {
        fs.delete(new Path(store, dir), true)
        fs.delete(new Path(store, commitName(n)), false)
      }
    }
    s.stagings.foreach { case (n, dir) =>
      if (doomed(cur, n) && !stagingIsCommitted(fs, store, n, dir))
        fs.delete(new Path(store, dir), true)
    }
    s.poisoned.foreach { case (n, _) =>
      deleteIfStillPoisoned(fs, store, n)
    }
    s.temps.foreach { case (n, name) =>
      if (doomed(cur, n))
        fs.delete(new Path(store, name), false)
    }
  }

  /** Is this "staging" actually a COMMITTED generation's data dir
    * right now? [[scan]] tolerates a commit pointer whose read throws
    * FileNotFoundException (deleted between the listing and the read
    * by a concurrent sweep — a real race), but the SAME tolerance can
    * misclassify on a SPURIOUS/transient FNF (an object-store hiccup,
    * an FS-cache wobble): the pointer still exists, yet the scan
    * dropped it, so the committed data dir it names fell into
    * `stagings` — where the doomed() rule protects only current+1.
    * Deleting on that stale classification would destroy a committed
    * — possibly [[keepGeneration]]-PROTECTED — generation's data while
    * its pointer survives (a dangling pointer a later sweep reclaims:
    * silent data loss where the pre-tolerance behavior failed the read
    * loudly, which was fail-safe). So both sweep paths RE-PROBE at
    * delete time: a staging whose number's pointer exists AND names
    * this exact dir is committed — skipped; a genuine loser staging
    * (pointer absent, or naming the winner's dir) still sweeps. Same
    * delete-time re-validation discipline as
    * [[deleteIfStillPoisoned]]. */
  private def stagingIsCommitted(fs: FileSystem, store: Path, n: Long,
      dir: String): Boolean =
    try readSmall(fs, new Path(store, commitName(n))) == dir
    catch { case _: java.io.FileNotFoundException => false }

  /** Delete a pointer a SCAN classified poisoned, re-validating at
    * delete time: between that scan and this delete a concurrent
    * writer's own sweep may have reclaimed the crash artifact and
    * published a REAL pointer under the same name — deleting on the
    * stale classification would silently unreference its generation.
    * The re-read narrows the window to the microseconds between this
    * check and the delete (the same residue class as every other
    * check-then-act on a plain FileSystem — closed in practice because
    * the publish path never creates a pointer that is not already
    * self-valid, so a pointer that re-validates as poisoned can only
    * be the original artifact). */
  private def deleteIfStillPoisoned(fs: FileSystem, store: Path,
      n: Long): Unit = {
    val ptr = new Path(store, commitName(n))
    val stillPoisoned =
      try {
        val d = readSmall(fs, ptr)
        d.isEmpty || !fs.exists(new Path(store, d))
      } catch { case _: java.io.FileNotFoundException => false }
    if (stillPoisoned) fs.delete(ptr, false)
  }

  /** The atomic publish, STRATEGY-DEPENDENT (see [[publishStrategy]]):
    *   - `rename` (HDFS-family, POSIX local): stage the pointer's FULL
    *     content in a hidden writer-unique temp, close it, then rename
    *     it to `_commit-<target>` — the pointer is self-valid the
    *     instant it is visible, and a destination-refusing rename is
    *     the one-winner arbitration;
    *   - `create` (object stores): ONE exclusive
    *     `create(overwrite = false)` + write + close — the object
    *     appears atomically and fully-formed at the close-time PUT
    *     (invisible before it, so self-valid by construction), and a
    *     connector with conditional-PUT create makes the arbitration
    *     truly atomic. Temp+rename there would be strictly WEAKER:
    *     object-store rename is copy+delete, so the arbitration window
    *     is the whole copy instead of one PUT.
    * Returns true when this writer WON the generation; false when the
    * target was already committed by a concurrent writer (any staged
    * temp is cleaned up — the caller aborts loudly). Any other
    * rename/close failure throws with the pointer state unknown
    * (callers leave the maintenance marker down — a fenced ingest
    * beats a silently-diverged store). */
  private def publishPointer(fs: FileSystem, store: Path, target: Long,
      dirName: String, token: String): Boolean = {
    val ptr = new Path(store, commitName(target))
    warnIfDegradedPublish(fs, store)
    if (publishStrategy(fs) == "create") {
      val out =
        try fs.create(ptr, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            return false
          case e: java.io.IOException =>
            if (fs.exists(ptr)) return false else throw e
        }
      out.write(dirName.getBytes("UTF-8")); out.close()
      true
    } else {
      val tmp = new Path(store, tempCommitName(target, token))
      val out = fs.create(tmp, true)
      out.write(dirName.getBytes("UTF-8")); out.close()
      if (fs.exists(ptr)) { fs.delete(tmp, false); return false }
      if (fs.rename(tmp, ptr)) true
      else if (fs.exists(ptr)) { fs.delete(tmp, false); false }
      else {
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"Gen: publishing $ptr failed (rename returned false with no " +
            "winning pointer present) — inspect the store before " +
            "re-running")
      }
    }
  }

  /** Filesystems that are OBJECT STORES with PUT-at-close visibility:
    * their rename is copy+delete (neither atomic nor
    * destination-refusing) and a created object is INVISIBLE until
    * close — so the publish flips to the `create` strategy there.
    * Deliberately NOT in this set: abfs/abfss (ADLS Gen2), whose
    * semantics are the HDFS-shaped opposite on both axes — its rename
    * is one atomic server-side metadata op AND its create is visible
    * as an empty file before close, so the create strategy there
    * would reintroduce exactly the torn empty-pointer window the
    * rename strategy exists to close; it stays on `rename` (declare
    * `graft.gen.publish.atomicity.abfs=atomic` if the account has
    * hierarchical namespace). wasb/wasbs (flat Blob) keep `create`:
    * their rename is client-side copy+delete. */
  private val ObjectStoreSchemes =
    Set("s3a", "s3", "s3n", "gs", "wasb", "wasbs",
      "oss", "cos", "cosn", "obs", "swift")

  /** Publish strategy for the filesystem behind a store: `"rename"`
    * (temp + rename — HDFS-family and POSIX local, where a created
    * file is VISIBLE before close, so the content must be staged and
    * the atomic metadata rename makes it appear whole) or `"create"`
    * (exclusive create + write + close — object stores, where the
    * object materializes atomically at the close-time PUT and rename
    * would be copy+delete). Override per scheme with the Hadoop conf
    * key `graft.gen.publish.strategy.<scheme>` = rename|create (for an
    * HDFS-compatible store behind a custom scheme, or an object store
    * whose connector renames server-side atomically). */
  def publishStrategy(fs: FileSystem): String =
    Option(fs.getConf.get(
      s"graft.gen.publish.strategy.${schemeOf(fs)}"))
      .map(_.trim.toLowerCase)
      .filter(v => v == "rename" || v == "create")
      .getOrElse(
        if (ObjectStoreSchemes.contains(schemeOf(fs))) "create"
        else "rename")

  /** Filesystems whose `rename` is a single atomic metadata op that
    * REFUSES an existing destination — the two properties the publish
    * needs for true one-winner arbitration with no torn window. */
  private val AtomicRenameSchemes =
    Set("hdfs", "webhdfs", "swebhdfs", "viewfs", "ofs", "o3fs")

  /** Capability of the publish's EXCLUSIVE STEP (whichever
    * [[publishStrategy]] selects) on the filesystem behind a store:
    * `"atomic"` (the step both arbitrates and publishes in one op —
    * HDFS-family's destination-refusing rename) or `"check-then-act"`
    * (the exists pre-check narrows the arbitration to a small race
    * window: POSIX local rename OVERWRITES an existing destination,
    * and an object-store `create(overwrite=false)` without
    * conditional-PUT support is HEAD-then-PUT — still strictly safer
    * than last-writer-wins, and the stale-snapshot re-scan before the
    * publish catches every race wider than microseconds). Detection is
    * by URI scheme; a deployment that KNOWS its exclusive step is
    * atomic declares it via the Hadoop conf key
    * `graft.gen.publish.atomicity.<scheme>` = atomic|check-then-act,
    * which takes precedence — e.g. s3a with conditional (If-None-Match)
    * create enabled, where the `create`-strategy publish really is one
    * atomic self-valid PUT. The declaration describes the CHOSEN
    * strategy's step: do not declare `atomic` for a scheme forced onto
    * the rename strategy whose rename is copy+delete — it cannot make
    * that rename atomic and only silences the warning. A degraded
    * store is announced by ONE loud warning per scheme per JVM at
    * first publish ([[warnIfDegradedPublish]]) — visible in the driver
    * log, not buried per-call. */
  def publishAtomicity(scheme: String,
      conf: org.apache.hadoop.conf.Configuration): String =
    Option(conf.get(s"graft.gen.publish.atomicity.$scheme"))
      .map(_.trim.toLowerCase)
      .filter(v => v == "atomic" || v == "check-then-act")
      .getOrElse(
        if (AtomicRenameSchemes.contains(scheme)) "atomic"
        else "check-then-act")

  private def schemeOf(fs: FileSystem): String =
    Option(fs.getUri.getScheme).getOrElse("file")

  /** Capability by FileSystem — declarations read from the conf the
    * FS was CREATED with (the cached-FS snapshot), so prefer the
    * (scheme, conf) or (spark, path) forms when the declaration may
    * have been set on the live session conf after the FS cache warmed
    * up. */
  def publishAtomicity(fs: FileSystem): String =
    publishAtomicity(schemeOf(fs), fs.getConf)

  /** Convenience overload for operators auditing a store path —
    * declarations resolve against the LIVE session Hadoop conf. */
  def publishAtomicity(spark: SparkSession, storePath: String): String =
    publishAtomicity(schemeOf(fsOf(spark, new Path(storePath))),
      spark.sparkContext.hadoopConfiguration)

  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def warnIfDegradedPublish(fs: FileSystem, store: Path): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (publishAtomicity(fs) != "atomic" && warnedSchemes.add(scheme))
      org.slf4j.LoggerFactory.getLogger("graft.util.Gen").warn(
        s"Gen publish on scheme '$scheme' (first store: $store, " +
          s"strategy: ${publishStrategy(fs)}) is CHECK-THEN-ACT, not " +
          "atomic: this filesystem's exclusive step (no-overwrite " +
          "rename, or exclusive create without conditional PUT) does " +
          "not refuse an existing destination atomically, so two " +
          "maintenance writers racing the same generation have a " +
          "small window where both can publish (last one visible " +
          "wins). Schedule maintenance single-writer per store, or " +
          s"declare graft.gen.publish.atomicity.$scheme=atomic if " +
          "the chosen strategy's exclusive step is known atomic " +
          "(e.g. conditional-PUT create on an object store).")
  }

  /** PROTECT a committed generation from every sweep — the retention
    * ref that turns a pinned read ([[resolveAt]]) into something a
    * deploy can actually rely on: without it, the pin dies at the
    * second maintenance cycle (reader grace is one cycle by design).
    * Take the keep while the generation is CURRENT (at deploy time,
    * right after recording [[currentGeneration]]) — taking it later
    * races the next rewrite's sweep, which is why this verb throws
    * rather than creating a ref to a generation that is already gone
    * or never published. Kept generations cost their disk until
    * [[releaseGeneration]] lets the next sweep reclaim them. */
  def keepGeneration(spark: SparkSession, storePath: String,
      generation: Long): Unit = {
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    resolveAt(spark, storePath, generation) // throws if not committed
    fs.create(new Path(store, keepName(generation)), true).close()
  }

  /** Release a [[keepGeneration]] ref; the generation (if no longer
    * current) is reclaimed by the next rewrite's sweep or an explicit
    * [[sweepGenerations]]. Returns true when a ref was removed. */
  def releaseGeneration(spark: SparkSession, storePath: String,
      generation: Long): Boolean = {
    val store = new Path(storePath)
    fsOf(spark, store).delete(new Path(store, keepName(generation)),
      false)
  }

  /** Rewrite a store as a NEW GENERATION with zero reader outage —
    * the shared maintenance protocol behind every save-over /
    * compaction / rebuild / forget. `writeTo` receives a staging
    * directory UNIQUE to this call and must fully materialize the new
    * store content there; the exclusive commit-pointer create
    * afterwards is the atomic publish, and losing that race to a
    * concurrent rewrite aborts THIS one loudly with the winner's
    * generation serving. See the object scaladoc for the full
    * protocol.
    *
    * `ownsMarker = true` is for callers that hold the store's
    * maintenance marker THEMSELVES across a larger critical section
    * (the near-dup ledger's two-store rewrite — forget, retention
    * expiry, compaction — spans both stores under the primary's
    * marker): the rewrite then neither creates nor deletes it, and a
    * failure leaves it down — the caller decides when the compound
    * operation is complete.
    *
    * `extraLeases` are ADDITIONAL store paths whose ingest lease fails
    * this rewrite fast: a store whose ingest is serialized by a
    * SIBLING's lease (the near-dup band store is appended under the
    * PRIMARY's lease) would otherwise only be protected by the late
    * content re-verify — the rewrite would run to completion and then
    * abort at the publish instead of refusing up front. */
  def rewrite(spark: SparkSession, storePath: String,
      ownsMarker: Boolean = false, extraLeases: Seq[String] = Nil)(
      writeTo: String => Unit): Unit = {
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    // cross-level fencing: an enclosing dir's rewrite owns this store;
    // a child store mid-rewrite inside this dir (or inside the current
    // generation) must not be swept out from under its own maintenance
    Option(store.getParent)
      .map(p => new Path(Fs.maintenanceMarkerPath(p.toString)))
      .filter(fs.exists).foreach { m =>
        throw new IllegalStateException(
          s"Gen.rewrite: enclosing directory of $storePath is under " +
            s"maintenance ($m exists) — retry after it completes (or " +
            "re-run IT if it crashed)")
      }
    def innerMarkers(dir: Path): Seq[String] =
      if (fs.exists(dir) && fs.getFileStatus(dir).isDirectory)
        fs.listStatus(dir).toSeq.map(_.getPath.getName)
          .filter(_.endsWith("_maintenance"))
      else Seq.empty
    val scan0 = scan(fs, store)
    val inner = innerMarkers(store) ++ scan0.current.toSeq
      .flatMap { case (_, dir) => innerMarkers(new Path(store, dir)) }
    if (inner.nonEmpty)
      throw new IllegalStateException(
        s"Gen.rewrite: $storePath contains maintenance markers " +
          s"(${inner.mkString(", ")}) — a store inside it is " +
          "mid-rewrite (or crashed mid-rewrite); finish/re-run that " +
          "rewrite first")
    // fail FAST on a held ingest lease (a live admit mid
    // read-decide-append) rather than late at the content re-verify;
    // a crashed admit's surviving lease is operator-cleared
    // (Fs.clearIngestLease) after its batch is re-run
    (storePath +: extraLeases).foreach { lp =>
      val lease = new Path(Fs.ingestLeasePath(lp))
      if (fs.exists(lease))
        throw new IllegalStateException(
          s"Gen.rewrite: an ingest admit holds the lease on " +
            s"$lp ($lease exists) — in flight (retry after it " +
            "finishes) or crashed (clear with Fs.clearIngestLease " +
            "and re-run its batch first)")
    }
    refuseFlat(fs, store, scan0, "Gen.rewrite")
    if (!ownsMarker) createMarker(spark, storePath)
    def lift(): Unit = if (!ownsMarker) deleteMarker(spark, storePath)
    // reclaim: superseded generations (reader grace over) and doomed
    // stagings (their target's pointer names another dir). A racing
    // writer's UNDOOMED staging survives — it owns a different dir
    // and exactly one of us will win the pointer create below.
    sweep(fs, store, scan0)
    val cur = scan0.current
    val curDir = cur.map { case (_, d) => new Path(store, d) }
    val pre = curDir.flatMap(summary(fs, _))
    // the TARGET is fixed at snapshot time: this rewrite's output is
    // derived from generation `cur`, so it may only ever become
    // generation cur+1 — if the store advances first, publishing
    // would silently drop the other writer's changes, and the
    // exclusive create below turns that into a loud abort instead
    val target = cur.map(_._1).getOrElse(0L) + 1
    val token = newToken()
    val next = new Path(store, genDirName(target, token))
    try writeTo(next.toString)
    catch {
      case e: Throwable =>
        // nothing was published: the current generation is intact,
        // so surface the failure instead of leaving ingest fenced
        fs.delete(next, true)
        lift()
        throw e
    }
    if (scan(fs, store).current != cur) {
      fs.delete(next, true)
      lift()
      throw new IllegalStateException(
        s"Gen.rewrite: $storePath advanced to a new generation while " +
          "this rewrite ran (a concurrent rewrite published first) — " +
          "this writer's snapshot is stale and its output was " +
          "discarded; re-run against the current generation")
    }
    if (curDir.flatMap(summary(fs, _)) != pre) {
      fs.delete(next, true)
      lift()
      throw new IllegalStateException(
        s"Gen.rewrite: $storePath changed while the rewrite ran (an " +
          "ingest slipped through the fence's check-then-act " +
          "window) — the publish was aborted with the old " +
          "generation still current; re-run to include the new rows")
    }
    // a writeTo that legitimately wrote nothing must still publish a
    // dir that EXISTS, or later resolves would hand readers a dangling
    // path (no-op when the write already created it, i.e. always in
    // practice; kept AFTER writeTo so the callback keeps its fresh,
    // nonexistent staging path — default-mode parquet writes depend
    // on it)
    fs.mkdirs(next)
    // the atomic publish: temp + rename (see publishPointer) — one
    // winner per target; any non-race IO failure propagates with the
    // marker left down (pointer state unknown, and a fenced ingest
    // beats a silently-diverged store — the re-run recovers)
    if (!publishPointer(fs, store, target, next.getName, token)) {
      fs.delete(next, true)
      lift()
      throw new IllegalStateException(
        s"Gen.rewrite: lost the generation-$target publish race on " +
          s"$storePath to a concurrent rewrite — this writer's " +
          "snapshot is stale and its output was discarded; re-run " +
          "against the current generation")
    }
    lift()
    // a sweep/summary IO failure above deliberately leaves the
    // marker down — the store's state is unverified, and a fenced
    // ingest beats a silently-lost one; re-running the rewrite
    // recovers and clears it
  }

  /** Resolve a SPECIFIC committed generation — the pinned-read form
    * behind reproducible serving and A/B across a rebuild: a job that
    * records `currentGeneration` at deploy time keeps serving exactly
    * that index through later compactions/rebuilds (for as long as its
    * generation survives the sweep policy — pair with
    * [[sweepGenerations]]' `keepLast`), and an operator can diff the
    * pre- and post-rebuild indexes by loading both generations. The
    * returned dir is stable: every `load*` verb accepts it directly in
    * place of the store path (resolving a generation dir is the
    * identity). Fails loudly on a missing or uncommitted generation —
    * a pinned reader must never silently fall forward. */
  def resolveAt(spark: SparkSession, storePath: String,
      generation: Long): String = {
    val store = new Path(storePath)
    val s = scan(fsOf(spark, store), store)
    s.commits.find(_._1 == generation) match {
      case Some((_, dir)) => new Path(store, dir).toString
      case None if s.poisoned.exists(_._1 == generation) =>
        throw new IllegalStateException(
          s"Gen.resolveAt: generation $generation of $storePath has a " +
            "POISONED commit pointer (empty, or naming a missing dir " +
            "— a crash/damage artifact) — it holds no servable data " +
            "and the next sweep reclaims the pointer")
      case None if s.stagings.exists(_._1 == generation) =>
        throw new IllegalStateException(
          s"Gen.resolveAt: generation $generation of $storePath is " +
            "staged but UNCOMMITTED (a crashed or in-flight rewrite) " +
            "— it holds no publishable data")
      case None => throw new IllegalStateException(
        s"Gen.resolveAt: $storePath has no generation $generation " +
          "(swept, or never written) — list generations with " +
          "Gen.generationCensus")
    }
  }

  /** The current committed generation number, if the store is
    * versioned. */
  def currentGeneration(spark: SparkSession,
      storePath: String): Option[Long] = {
    val store = new Path(storePath)
    scan(fsOf(spark, store), store).current.map(_._1)
  }

  /** One row per generation artifact — the observability surface for
    * the versioned layout: (generation, committed, current, n_files,
    * bytes, kept, dangling). Uncommitted rows are staging dirs —
    * crashed or in-flight rewrites (swept once doomed); non-current
    * committed rows are reader-grace copies [[sweepGenerations]] can
    * reclaim; `dangling = true` rows are POISONED pointers (empty or
    * naming a missing dir) or dirs that vanished between the scan and
    * this listing — reported as distinct rows instead of throwing,
    * because the census must WORK in exactly the degraded states it
    * exists to diagnose. Driver-side listing only — no Spark job. */
  def generationCensus(spark: SparkSession,
      storePath: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    val s = scan(fs, store)
    val cur = s.current.map(_._1)
    val kept = keeps(fs, store)
    val rows =
      s.commits.map { case (n, d) => (n, true, d) } ++
        s.stagings.map { case (n, d) => (n, false, d) }
    val dirRows = rows.sortBy(r => (r._1, !r._2))
      .map { case (n, committed, d) =>
        val cs = summary(fs, new Path(store, d))
        (n, committed, committed && cur.contains(n),
          cs.map(_._1).getOrElse(0L), cs.map(_._2).getOrElse(0L),
          committed && kept.contains(n), cs.isEmpty)
      }
    val poisonedRows = s.poisoned.map { case (n, _) =>
      (n, true, false, 0L, 0L, kept.contains(n), true)
    }
    (dirRows ++ poisonedRows)
      .toDF("generation", "committed", "current", "n_files", "bytes",
        "kept", "dangling")
  }

  /** Eagerly drop old committed generations, keeping the newest
    * `keepLast` (≥ 1) and every [[keepGeneration]]-protected one, plus
    * any DOOMED staging dirs; an undoomed staging (a live rewrite may
    * be writing it) is never touched. For operators who cannot wait
    * for the next rewrite's sweep to reclaim disk — only safe once
    * in-flight readers of the old generations have quiesced. Returns
    * the number of generation dirs removed. */
  def sweepGenerations(spark: SparkSession, storePath: String,
      keepLast: Int = 1): Int = {
    require(keepLast >= 1, "keepLast must be ≥ 1")
    val store = new Path(storePath)
    val fs = fsOf(spark, store)
    val s = scan(fs, store)
    val kept = keeps(fs, store)
    val drop = s.commits.dropRight(keepLast)
      .filterNot { case (n, _) => kept.contains(n) }
    drop.foreach { case (n, dir) =>
      fs.delete(new Path(store, dir), true)
      fs.delete(new Path(store, commitName(n)), false)
    }
    // same DOOMED predicate as every rewrite's entry sweep — the
    // explicit reclaim verb must not leak stagings (a crashed staging
    // whose same-numbered pointer an earlier sweep already reclaimed
    // is provably dead under doomed() but invisible to a
    // commit-exists rule); poisoned pointers and dead publish temps
    // go with it. Same delete-time re-probe as the entry sweep: a
    // committed dir misclassified as a staging by a transient
    // pointer-read FNF must not be reclaimed (stagingIsCommitted).
    val dead = s.stagings.filter { case (n, dir) =>
      doomed(s.current, n) && !stagingIsCommitted(fs, store, n, dir) }
    dead.foreach { case (_, dir) =>
      fs.delete(new Path(store, dir), true)
    }
    s.poisoned.foreach { case (n, _) =>
      deleteIfStillPoisoned(fs, store, n)
    }
    s.temps.foreach { case (n, name) =>
      if (doomed(s.current, n))
        fs.delete(new Path(store, name), false)
    }
    drop.size + dead.size
  }
}
