package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.util.Gen

/** Pins the versioned-generation store protocol ([[graft.util.Gen]]) —
  * the zero-reader-outage rewrite that every persisted store's
  * lifecycle verbs route through:
  *   - a reader that resolved BEFORE a rewrite's flip completes
  *     correctly against its generation (the concurrent-reader spec);
  *   - resolution never lands on a staging dir (the commit POINTER —
  *     full content staged to a hidden temp, then one atomic rename —
  *     is the publish, self-valid the instant it is visible), and
  *     doomed stagings, poisoned pointers, and dead publish temps are
  *     swept (the crash specs);
  *   - two CONCURRENT rewrites resolve to exactly one winner: the
  *     loser's publish aborts loudly with the winner's generation
  *     serving (the OCC spec);
  *   - a flat root (the pre-generation layout) is refused by rewrite
  *     and appendDir and left untouched; v1 marker-in-dir stores stay
  *     readable and are superseded in place;
  *   - maintenance writers fence each other across nesting levels;
  *   - ingest appends land in the CURRENT generation or fail loudly at
  *     the maintenance fence, and an append that slips the fence's
  *     check-then-act window aborts the publish (content re-verify). */
class GenSpec extends SparkTestBase {
  import SparkTestBase.session.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(n: Int, tag: String) =
    (0 until n).map(i => (i.toLong, s"$tag-$i")).toDF("id", "v")

  /** Staging-dir basename check: `gen-<8-digit n>-<writer token>`. */
  private def isGenDir(path: String, n: Long): Boolean =
    new Path(path).getName.startsWith(f"gen-$n%08d-")

  test("create + resolve: a fresh rewrite stages and publishes gen 1, " +
      "resolve returns it, hasData sees it; an unpublished staging is " +
      "invisible") {
    val root = tmp("graft_gen_create")
    val store = s"$root/store"
    try {
      assert(!Gen.hasData(spark, store))
      assert(Gen.resolve(spark, store) === store) // missing → itself
      Gen.rewrite(spark, store)(g =>
        rows(4, "a").write.parquet(g))
      val g1 = Gen.resolve(spark, store)
      assert(isGenDir(g1, 1L))
      assert(Gen.currentGeneration(spark, store) === Some(1L))
      assert(fs.exists(new Path(s"$store/_commit-00000001")))
      assert(Gen.hasData(spark, store))
      assert(spark.read.parquet(g1).count() === 4L)
      // a partial (unpublished) staging: resolve and hasData ignore
      // it — the commit pointer IS the publish
      fs.mkdirs(new Path(s"$store/gen-00000002-deadbeef"))
      fs.create(new Path(
        s"$store/gen-00000002-deadbeef/part-junk.parquet"), true).close()
      assert(Gen.resolve(spark, store) === g1)
      assert(Gen.hasData(spark, store)) // still: the COMMITTED gen
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("concurrent reader: a DataFrame resolved before the flip " +
      "completes against ITS generation after the rewrite publishes — " +
      "zero reader outage; new resolves see the new generation") {
    val root = tmp("graft_gen_reader")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(6, "old").write.parquet(g))
      val g1 = Gen.resolve(spark, store)
      // the reader resolves ONCE (the load* contract) and holds a lazy
      // plan over that generation
      val preFlip = spark.read.parquet(g1)
      assert(preFlip.count() === 6L)
      // maintenance publishes a NEW generation while the reader is
      // "in flight" (its plan unexecuted)
      Gen.rewrite(spark, store)(g => rows(3, "new").write.parquet(g))
      val g2 = Gen.resolve(spark, store)
      // the pre-flip reader completes correctly against the OLD
      // generation (kept for reader grace until the NEXT rewrite)
      assert(preFlip.count() === 6L)
      assert(preFlip.select("v").as[String].collect()
        .forall(_.startsWith("old")))
      // a fresh resolve serves the new generation
      assert(spark.read.parquet(g2).count() === 3L)
      // ...and the next rewrite sweeps the old generation (grace over)
      Gen.rewrite(spark, store)(g => rows(2, "next").write.parquet(g))
      assert(!fs.exists(new Path(g1)))
      assert(!fs.exists(new Path(s"$store/_commit-00000001")))
      assert(fs.exists(new Path(g2))) // new grace
      assert(spark.read.parquet(Gen.resolve(spark, store))
        .count() === 2L)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("crash protocol: a rewrite that dies mid-write leaves a staging " +
      "no resolve returns and a marker that fences ingest; the re-run " +
      "publishes and clears, and the dead staging sweeps once doomed") {
    val root = tmp("graft_gen_crash")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(5, "a").write.parquet(g))
      // simulate the crash: partial staging + surviving marker
      val dead = new Path(s"$store/gen-00000002-deadwrtr")
      fs.mkdirs(dead)
      Gen.createMarker(spark, store)
      assert(isGenDir(Gen.resolve(spark, store), 1L))
      intercept[IllegalStateException] {
        graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      }
      // re-run: publishes its OWN gen-2 staging (never adopts the dead
      // writer's — it could be live mid-job) and clears the marker;
      // the dead staging is invisible and now DOOMED (its target's
      // pointer names the re-run's dir)
      Gen.rewrite(spark, store)(g => rows(5, "b").write.parquet(g))
      val g2 = Gen.resolve(spark, store)
      assert(isGenDir(g2, 2L))
      assert(g2 !== dead.toString)
      assert(fs.exists(new Path(s"$store/_commit-00000002")))
      assert(spark.read.parquet(g2).select("v").as[String].collect()
        .forall(_.startsWith("b")))
      graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      assert(fs.exists(dead)) // doomed, but swept only by a sweep pass
      // a failed writeTo lifts its own marker (store untouched — a
      // transient job failure must not become an ingest outage); its
      // entry sweep reclaims the doomed staging
      val boom = intercept[RuntimeException] {
        Gen.rewrite(spark, store)(_ =>
          throw new RuntimeException("transient"))
      }
      assert(boom.getMessage === "transient")
      assert(!fs.exists(dead))
      graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      assert(Gen.resolve(spark, store) === g2)
      // crash AFTER the pointer create but BEFORE the marker lift: the
      // publish already happened (readers serve the new generation),
      // ingest stays fenced, and a maintenance re-run converges — one
      // extra (identical-content) cycle, marker cleared
      Gen.createMarker(spark, store)
      assert(Gen.resolve(spark, store) === g2) // readers unaffected
      intercept[IllegalStateException] {
        graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      }
      Gen.rewrite(spark, store)(g =>
        spark.read.parquet(Gen.resolve(spark, store)).write.parquet(g))
      graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      assert(spark.read.parquet(Gen.resolve(spark, store))
        .select("v").as[String].collect().forall(_.startsWith("b")))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("OCC: of two concurrent rewrites exactly one publishes — the " +
      "loser aborts loudly, its staging is discarded, the store serves " +
      "the winner, and ingest is not left fenced") {
    val root = tmp("graft_gen_occ")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(4, "base").write.parquet(g))
      var loserStaging: String = null
      // writer A stages its output, then writer B (a concurrent
      // compaction) runs an ENTIRE rewrite before A reaches its
      // publish — the snapshot A derived from is now stale
      val lost = intercept[IllegalStateException] {
        Gen.rewrite(spark, store) { g =>
          loserStaging = g
          rows(9, "loser").write.parquet(g)
          Gen.rewrite(spark, store)(g2 =>
            rows(5, "winner").write.parquet(g2))
        }
      }
      assert(lost.getMessage.contains("concurrent rewrite"))
      // the winner's generation serves; the loser's never will
      assert(Gen.currentGeneration(spark, store) === Some(2L))
      val cur = spark.read.parquet(Gen.resolve(spark, store))
      assert(cur.count() === 5L)
      assert(cur.select("v").as[String].collect()
        .forall(_.startsWith("winner")))
      assert(!fs.exists(new Path(loserStaging)))
      // no stale fence: the next maintenance and the next ingest both
      // proceed normally
      graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      Gen.rewrite(spark, store)(g => rows(1, "after").write.parquet(g))
      assert(Gen.currentGeneration(spark, store) === Some(3L))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("v1 back-compat: a marker-in-dir store resolves and appends; " +
      "its first v2 rewrite supersedes it in place and the v1 dir " +
      "sweeps after its reader grace") {
    val root = tmp("graft_gen_v1")
    val store = s"$root/store"
    try {
      // hand-build the v1 layout: gen-N dir made real by _gen_commit
      val v1 = new Path(s"$store/gen-00000003")
      rows(4, "v1").write.parquet(v1.toString)
      fs.create(new Path(v1, "_gen_commit"), true).close()
      assert(Gen.resolve(spark, store) === v1.toString)
      assert(Gen.currentGeneration(spark, store) === Some(3L))
      assert(Gen.hasData(spark, store))
      assert(Gen.appendDir(spark, store) === v1.toString)
      // the first v2 rewrite continues the NUMBERING and publishes a
      // pointer; the v1 dir survives one grace cycle
      Gen.rewrite(spark, store)(g => rows(2, "v2").write.parquet(g))
      assert(Gen.currentGeneration(spark, store) === Some(4L))
      assert(isGenDir(Gen.resolve(spark, store), 4L))
      assert(fs.exists(v1))
      Gen.rewrite(spark, store)(g => rows(1, "v2b").write.parquet(g))
      assert(!fs.exists(v1))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("slipped ingest: an append committing into the current " +
      "generation DURING a rewrite aborts the publish with the old " +
      "generation still current and the marker lifted") {
    val root = tmp("graft_gen_slip")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(4, "a").write.parquet(g))
      val cur = Gen.resolve(spark, store)
      val slipped = intercept[IllegalStateException] {
        Gen.rewrite(spark, store) { g =>
          // bypasses the fence — the check-then-act residue
          rows(1, "slip").write.mode("append").parquet(cur)
          spark.read.parquet(cur).limit(2).write.parquet(g)
        }
      }
      assert(slipped.getMessage.contains("changed while the rewrite ran"))
      assert(Gen.resolve(spark, store) === cur)
      // nothing lost: the slipped rows are in the still-current
      // generation, and ingest is not fenced
      assert(spark.read.parquet(cur).count() === 5L)
      graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      // the re-run (the error's remediation) includes the new rows
      Gen.rewrite(spark, store)(g =>
        spark.read.parquet(Gen.resolve(spark, store)).write.parquet(g))
      assert(spark.read.parquet(Gen.resolve(spark, store))
        .count() === 5L)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("cross-level fences: a rewrite refuses while the enclosing " +
      "directory is under maintenance or a store inside it is " +
      "mid-rewrite, writing nothing; its own surviving marker does not " +
      "fence a re-run") {
    val root = tmp("graft_gen_fence")
    val store = s"$root/idx/store"
    val marker = new Path(graft.util.Fs.maintenanceMarkerPath(store))
    try {
      Gen.rewrite(spark, store)(g => rows(3, "a").write.parquet(g))
      val before = tree(root)
      // each marker and the rewrite it fences: the ENCLOSING dir's (a
      // whole-index rebuild owns the store), and a child store's,
      // inside the dir (seen by a rewrite of the parent) or inside the
      // current generation
      for ((m, target, msg) <- Seq(
          (s"$root/idx_maintenance", store, "enclosing directory"),
          (marker.toString, s"$root/idx", "contains maintenance markers"),
          (s"${Gen.resolve(spark, store)}/child_maintenance", store,
            "contains maintenance markers"))) {
        fs.create(new Path(m), true).close()
        val e = intercept[IllegalStateException](
          Gen.rewrite(spark, target)(_ => fail("writeTo ran")))
        assert(e.getMessage.contains(msg))
        fs.delete(new Path(m), false)
        assert(tree(root) === before)
      }
      // a same-store re-run passes its OWN surviving marker (the
      // crashed-rewrite recovery path must not fence itself out)
      fs.create(marker, true).close()
      Gen.rewrite(spark, store)(g =>
        spark.read.parquet(Gen.resolve(spark, store)).write.parquet(g))
      assert(!fs.exists(marker))
      assert(Gen.currentGeneration(spark, store) === Some(2L))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("appendDir: establishes a committed gen 1 for a fresh store so " +
      "ingest-born stores are versioned from birth; appends land in " +
      "the current generation; a dead first write is never adopted") {
    val root = tmp("graft_gen_append")
    val store = s"$root/store"
    try {
      val d1 = Gen.appendDir(spark, store)
      assert(isGenDir(d1, 1L))
      assert(Gen.currentGeneration(spark, store) === Some(1L))
      rows(2, "b1").write.mode("append").parquet(d1)
      assert(spark.read.parquet(Gen.resolve(spark, store))
        .count() === 2L)
      rows(3, "b2").write.mode("append")
        .parquet(Gen.appendDir(spark, store))
      assert(spark.read.parquet(Gen.resolve(spark, store))
        .count() === 5L)
      // after a rewrite, appends land in the NEW generation
      Gen.rewrite(spark, store)(g =>
        spark.read.parquet(Gen.resolve(spark, store))
          .write.parquet(g))
      assert(Gen.appendDir(spark, store) ===
        Gen.resolve(spark, store))
      assert(isGenDir(Gen.appendDir(spark, store), 2L))
      // a crashed FIRST write's staging is never adopted: committing
      // it would publish half-written data — the establish writes its
      // OWN dir and the orphan stays invisible until doomed
      val store2 = s"$root/store2"
      val orphan = new Path(s"$store2/gen-00000001-deadwrtr")
      fs.mkdirs(orphan)
      fs.create(new Path(orphan, "part-junk.parquet"), true).close()
      val d2 = Gen.appendDir(spark, store2)
      assert(isGenDir(d2, 1L))
      assert(d2 !== orphan.toString)
      rows(1, "x").write.mode("append").parquet(d2)
      assert(spark.read.parquet(Gen.resolve(spark, store2))
        .count() === 1L)
      // a FLAT root (data at the root, no generation commit — the
      // pre-generation layout) is refused by appendDir and rewrite and
      // left untouched; readers still take it as itself
      val flat = s"$root/flat"
      rows(3, "flat").write.parquet(flat)
      val before = tree(root)
      for (e <- Seq(
          intercept[IllegalStateException](Gen.appendDir(spark, flat)),
          intercept[IllegalStateException](
            Gen.rewrite(spark, flat)(_ => fail("writeTo ran")))))
        assert(e.getMessage.contains(s"$flat is a flat store"))
      assert(tree(root) === before)
      assert(Gen.resolve(spark, flat) === flat && Gen.hasData(spark, flat))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("pinned reads: resolveAt serves a SPECIFIC committed generation " +
      "through later rewrites, refuses uncommitted/missing ones, and " +
      "generationCensus reports the layout") {
    val root = tmp("graft_gen_pin")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(4, "v1").write.parquet(g))
      val pinned = Gen.currentGeneration(spark, store).get
      assert(pinned === 1L)
      // maintenance moves the store forward...
      Gen.rewrite(spark, store)(g => rows(9, "v2").write.parquet(g))
      // ...but the pinned resolve still serves the deploy-time
      // generation (reader grace: one maintenance cycle by default)
      val atPin = Gen.resolveAt(spark, store, pinned)
      assert(spark.read.parquet(atPin).count() === 4L)
      // a generation dir resolves to itself — every load* verb accepts
      // it directly in place of the store path
      assert(Gen.resolve(spark, atPin) === atPin)
      assert(spark.read.parquet(Gen.resolve(spark, store))
        .count() === 9L)
      // census: one row per generation, current flagged
      val census = Gen.generationCensus(spark, store)
        .orderBy(col("generation")).collect()
      assert(census.map(_.getLong(0)).toSeq === Seq(1L, 2L))
      assert(census.map(_.getBoolean(2)).toSeq === Seq(false, true))
      assert(census.forall(_.getBoolean(1)))
      assert(census.forall(_.getLong(4) > 0L))
      // an in-flight staging: census shows it, resolveAt refuses
      fs.mkdirs(new Path(s"$store/gen-00000003-inflight"))
      val c2 = Gen.generationCensus(spark, store)
        .filter(col("generation") === 3L).first()
      assert(!c2.getBoolean(1))
      intercept[IllegalStateException] {
        Gen.resolveAt(spark, store, 3L)
      }
      intercept[IllegalStateException] {
        Gen.resolveAt(spark, store, 42L)
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("sweepGenerations reclaims old committed generations eagerly, " +
      "keeping the newest keepLast") {
    val root = tmp("graft_gen_sweep")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(1, "a").write.parquet(g))
      val g1 = Gen.resolve(spark, store)
      Gen.rewrite(spark, store)(g => rows(2, "b").write.parquet(g))
      // gen 1 (grace) + gen 2 (current) exist; an eager sweep drops
      // gen 1 without waiting for the next rewrite
      assert(fs.exists(new Path(g1)))
      assert(Gen.sweepGenerations(spark, store) === 1)
      assert(!fs.exists(new Path(g1)))
      assert(!fs.exists(new Path(s"$store/_commit-00000001")))
      assert(spark.read.parquet(Gen.resolve(spark, store))
        .count() === 2L)
      assert(Gen.sweepGenerations(spark, store) === 0)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("keepGeneration: a retention ref carries a pinned generation " +
      "through MULTIPLE maintenance cycles and eager sweeps; release " +
      "reclaims it; a ref to a missing/unpublished generation refuses") {
    val root = tmp("graft_gen_keep")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(4, "a").write.parquet(g))
      val pin = Gen.currentGeneration(spark, store).get
      Gen.keepGeneration(spark, store, pin)
      // two cycles: without the ref, gen 1's grace ends at the SECOND
      // rewrite's sweep
      Gen.rewrite(spark, store)(g => rows(3, "b").write.parquet(g))
      val g2 = Gen.resolve(spark, store)
      Gen.rewrite(spark, store)(g => rows(2, "c").write.parquet(g))
      // gen 1 outlived the cycle that would have swept it (the kept
      // ref), gen 2 is in its ordinary one-cycle grace
      val atPin = Gen.resolveAt(spark, store, pin)
      assert(spark.read.parquet(atPin).select("v").as[String]
        .collect().forall(_.startsWith("a")))
      // eager sweep reclaims the unkept grace copy (gen 2) but honors
      // the ref on gen 1
      assert(Gen.sweepGenerations(spark, store) === 1)
      assert(!fs.exists(new Path(g2)))
      assert(fs.exists(new Path(atPin)))
      assert(Gen.generationCensus(spark, store)
        .filter(col("generation") === pin).first().getBoolean(5))
      // release: the next sweep reclaims, the pin then fails loudly
      assert(Gen.releaseGeneration(spark, store, pin))
      assert(Gen.sweepGenerations(spark, store) === 1)
      intercept[IllegalStateException] {
        Gen.resolveAt(spark, store, pin)
      }
      // refs to generations that cannot serve refuse up front
      intercept[IllegalStateException] {
        Gen.keepGeneration(spark, store, 42L)
      }
      fs.mkdirs(new Path(s"$store/gen-00000099-inflight"))
      intercept[IllegalStateException] {
        Gen.keepGeneration(spark, store, 99L)
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("protocol fuzz: seeded random interleavings of rewrite / append " +
      "/ crash-staging / eager sweep / keep+release never break the " +
      "reader invariants (resolve serves exactly the expected rows, " +
      "generations are monotone, kept pins stay resolvable)") {
    val root = tmp("graft_gen_fuzz")
    val rnd = new scala.util.Random(42)
    try {
      for (trial <- 0 until 4) {
        val store = s"$root/store$trial"
        var expected = Set.empty[String] // v-values of the CURRENT gen
        var op = 0
        var lastGen = 0L
        var kept = Map.empty[Long, Set[String]] // pinned gen → its rows
        def check(): Unit = {
          val cur = Gen.currentGeneration(spark, store)
          assert(cur.forall(_ >= lastGen), "generation went backwards")
          cur.foreach(c => lastGen = c)
          val got =
            if (!Gen.hasData(spark, store)) Set.empty[String]
            else spark.read.parquet(Gen.resolve(spark, store))
              .select("v").as[String].collect().toSet
          assert(got === expected, s"trial $trial after op $op")
          kept.foreach { case (g, rows) =>
            val atPin = spark.read
              .parquet(Gen.resolveAt(spark, store, g))
              .select("v").as[String].collect().toSet
            assert(atPin === rows, s"kept gen $g of trial $trial")
          }
        }
        for (_ <- 0 until 10) {
          op += 1
          rnd.nextInt(6) match {
            case 0 | 1 => // maintenance rewrite: fresh content
              val tag = s"rw$trial-$op"
              val n = 1 + rnd.nextInt(3)
              Gen.rewrite(spark, store)(g =>
                rows(n, tag).write.parquet(g))
              expected = rows(n, tag).select("v").as[String]
                .collect().toSet
            case 2 => // ingest append into the current generation —
              // readers of that generation (including a kept pin ON
              // the current one) see the new rows by design
              val tag = s"ap$trial-$op"
              val n = 1 + rnd.nextInt(2)
              rows(n, tag).write.mode("append")
                .parquet(Gen.appendDir(spark, store))
              val added = rows(n, tag).select("v").as[String]
                .collect().toSet
              expected ++= added
              Gen.currentGeneration(spark, store).foreach { g =>
                if (kept.contains(g)) kept += g -> (kept(g) ++ added)
              }
            case 3 => // crashed writer: a staging dir at a live-looking
              // OR junk number — must never become visible
              val n = if (rnd.nextBoolean()) lastGen + 1
                else 50L + rnd.nextInt(50)
              fs.mkdirs(new Path(f"$store/gen-$n%08d-deadf$op"))
            case 4 => // eager reclaim
              if (Gen.hasData(spark, store))
                Gen.sweepGenerations(spark, store)
            case 5 => // pin + keep the current generation (released at
              // 2 pins to bound disk), only when versioned
              Gen.currentGeneration(spark, store).foreach { g =>
                if (!kept.contains(g)) {
                  Gen.keepGeneration(spark, store, g)
                  kept += g -> expected
                  if (kept.size > 2) {
                    val drop = kept.keys.min
                    Gen.releaseGeneration(spark, store, drop)
                    kept -= drop
                  }
                }
              }
          }
          check()
        }
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("poisoned pointers: an EMPTY commit pointer (crash/damage " +
      "artifact the rename publish cannot produce) is treated as " +
      "uncommitted — resolve falls back, census reports it dangling, " +
      "resolveAt refuses it by name, and the next rewrite sweeps it " +
      "and re-targets its number instead of bricking the store") {
    val root = tmp("graft_gen_poison")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(4, "a").write.parquet(g))
      val g1 = Gen.resolve(spark, store)
      // simulate the legacy torn publish: _commit-00000002 exists with
      // EMPTY content (a pre-rename-era crash between create and close)
      fs.create(new Path(s"$store/_commit-00000002"), true).close()
      // NOT bricked: resolution falls back to the committed gen 1
      assert(Gen.resolve(spark, store) === g1)
      assert(Gen.currentGeneration(spark, store) === Some(1L))
      assert(Gen.hasData(spark, store))
      assert(spark.read.parquet(Gen.resolve(spark, store)).count() === 4L)
      // observability: the census REPORTS the poisoned pointer as a
      // dangling row instead of throwing in the degraded state
      val c = Gen.generationCensus(spark, store)
        .orderBy(col("generation")).collect()
      assert(c.map(_.getLong(0)).toSeq === Seq(1L, 2L))
      assert(c.map(_.getBoolean(6)).toSeq === Seq(false, true))
      assert(c(1).getBoolean(1) && !c(1).getBoolean(2))
      // a pinned read refuses it with the poisoned-specific message
      val e = intercept[IllegalStateException] {
        Gen.resolveAt(spark, store, 2L)
      }
      assert(e.getMessage.contains("POISONED"))
      // the next rewrite self-heals: entry sweep deletes the poisoned
      // pointer, freeing generation 2 for a REAL publish
      Gen.rewrite(spark, store)(g => rows(7, "b").write.parquet(g))
      assert(Gen.currentGeneration(spark, store) === Some(2L))
      assert(spark.read.parquet(Gen.resolve(spark, store)).count() === 7L)
      assert(!Gen.generationCensus(spark, store).collect()
        .exists(_.getBoolean(6)))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("dangling pointers: a pointer naming a MISSING dir (crash " +
      "between a sweep's dir delete and pointer delete) is poisoned — " +
      "resolve falls back, the census still works, and " +
      "sweepGenerations reclaims the pointer plus any staging a " +
      "commit-exists rule would have leaked") {
    val root = tmp("graft_gen_dangle")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(3, "a").write.parquet(g))
      Gen.rewrite(spark, store)(g => rows(5, "b").write.parquet(g))
      val g2 = Gen.resolve(spark, store)
      // simulate the sweep crash: gen-2's DIR deleted, pointer left
      fs.delete(new Path(g2), true)
      assert(Gen.currentGeneration(spark, store) === Some(1L))
      assert(spark.read.parquet(Gen.resolve(spark, store)).count() === 3L)
      val c = Gen.generationCensus(spark, store)
        .filter(col("generation") === 2L).collect()
      assert(c.length === 1 && c(0).getBoolean(6))
      // the leaked-staging case the shared doomed() predicate fixes: a
      // crashed staging at a junk number with NO same-numbered commit
      val leaked = new Path(s"$store/gen-00000077-deadwrtr")
      fs.mkdirs(leaked)
      // sweepGenerations: reclaims the dangling pointer AND the leaked
      // staging (returned count tallies generation DIRS only — the
      // dangling pointer has no dir left to count)
      assert(Gen.sweepGenerations(spark, store) === 1)
      assert(!fs.exists(new Path(s"$store/_commit-00000002")))
      assert(!fs.exists(leaked))
      assert(Gen.currentGeneration(spark, store) === Some(1L))
      // and the store moves on normally
      Gen.rewrite(spark, store)(g => rows(2, "c").write.parquet(g))
      assert(Gen.currentGeneration(spark, store) === Some(2L))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("publish temps: a crashed publish's .commit-N-….tmp is hidden " +
      "from readers and swept once doomed; appendDir self-heals a " +
      "store reduced to a poisoned pointer") {
    val root = tmp("graft_gen_temps")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(2, "a").write.parquet(g))
      // a crash between temp-write and rename at a SUPERSEDED number
      val t = new Path(s"$store/.commit-00000001-deadbeef.tmp")
      val out = fs.create(t, true)
      out.write("gen-00000001-junk".getBytes("UTF-8")); out.close()
      assert(Gen.currentGeneration(spark, store) === Some(1L))
      Gen.rewrite(spark, store)(g => rows(3, "b").write.parquet(g))
      // doomed (1 != current+1) → swept by the rewrite's entry... or
      // this rewrite's own sweep ran before our temp was doomed, so
      // force one more cycle and assert it is gone
      Gen.rewrite(spark, store)(g => rows(4, "c").write.parquet(g))
      assert(!fs.exists(t))
      // appendDir on a store holding ONLY a poisoned gen-1 pointer:
      // sweeps it and establishes a fresh committed generation 1
      val store2 = s"$root/store2"
      fs.mkdirs(new Path(store2))
      fs.create(new Path(s"$store2/_commit-00000001"), true).close()
      val d = Gen.appendDir(spark, store2)
      assert(isGenDir(d, 1L))
      rows(2, "x").write.mode("append").parquet(d)
      assert(spark.read.parquet(Gen.resolve(spark, store2)).count() === 2L)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("wide generation numbers: a 9-digit generation round-trips " +
      "through pointer/staging/temp parsing — a live publish temp at " +
      "current+1 survives the sweep instead of being misparsed as a " +
      "truncated (doomed) number") {
    val root = tmp("graft_gen_wide")
    val store = s"$root/store"
    try {
      // hand-build a committed 9-digit generation (the %08d pad prints
      // all digits past 1e8)
      val n = 123456789L
      val g = new Path(f"$store/gen-$n%08d-abcd1234")
      rows(2, "w").write.parquet(g.toString)
      val out = fs.create(new Path(f"$store/_commit-$n%08d"), true)
      out.write(g.getName.getBytes("UTF-8")); out.close()
      assert(Gen.currentGeneration(spark, store) === Some(n))
      assert(spark.read.parquet(Gen.resolve(spark, store)).count() === 2L)
      // a live writer's publish temp at current+1 — MUST survive a
      // sweep (truncating its number to 8 digits would doom it); a
      // junk temp at an unrelated wide number goes
      val live = new Path(f"$store/.commit-${n + 1}%08d-tok1.tmp")
      fs.create(live, true).close()
      val junk = new Path(f"$store/.commit-${n + 77}%08d-tok2.tmp")
      fs.create(junk, true).close()
      Gen.sweepGenerations(spark, store)
      assert(fs.exists(live))
      assert(!fs.exists(junk))
      // and the store advances normally past 1e8
      Gen.rewrite(spark, store)(d => rows(3, "x").write.parquet(d))
      assert(Gen.currentGeneration(spark, store) === Some(n + 1))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("publishAtomicity: HDFS-family schemes detect atomic, local " +
      "and unknown schemes are conservatively check-then-act, and a " +
      "Hadoop conf declaration per scheme takes precedence (a custom " +
      "FileSystem impl registered under its own scheme gets the " +
      "conservative default until declared)") {
    val conf = spark.sparkContext.hadoopConfiguration
    // local fs: POSIX rename overwrites → check-then-act
    assert(Gen.publishAtomicity(spark, "/tmp/anystore") ===
      "check-then-act")
    // a custom FileSystem registered under its own scheme (the fake-FS
    // pin): unknown scheme → conservative default
    conf.set("fs.graftmock.impl", classOf[GraftMockFs].getName)
    try {
      val mockFs = new Path("graftmock:///x").getFileSystem(conf)
      assert(mockFs.getUri.getScheme === "graftmock")
      assert(Gen.publishAtomicity(mockFs) === "check-then-act")
      // …and the same declaration route upgrades it (resolved against
      // an explicit conf — the FS-object form reads the conf snapshot
      // the cached FS was created with, which under a parallel suite
      // may predate this test's set())
      conf.set("graft.gen.publish.atomicity.graftmock", "atomic")
      assert(Gen.publishAtomicity("graftmock", conf) === "atomic")
      conf.unset("graft.gen.publish.atomicity.graftmock")
      // a deployment that KNOWS its store honors atomic no-overwrite
      // rename declares it — the declaration wins
      conf.set("graft.gen.publish.atomicity.file", "atomic")
      assert(Gen.publishAtomicity(spark, "/tmp/anystore") === "atomic")
      // junk declarations are ignored, not trusted
      conf.set("graft.gen.publish.atomicity.file", "yes-please")
      assert(Gen.publishAtomicity(spark, "/tmp/anystore") ===
        "check-then-act")
    } finally {
      conf.unset("graft.gen.publish.atomicity.file")
      conf.unset("fs.graftmock.impl")
    }
  }

  test("publishStrategy: object-store schemes publish via ONE " +
      "exclusive create (self-valid at the close-time PUT; rename " +
      "there is copy+delete), rename strategy elsewhere, per-scheme " +
      "conf override wins — and the create-strategy publish works " +
      "end to end") {
    val conf = spark.sparkContext.hadoopConfiguration
    // local fs: created file visible before close → rename strategy
    assert(Gen.publishStrategy(
      new Path("/tmp/x").getFileSystem(conf)) === "rename")
    conf.set("fs.s3a.impl", classOf[GraftMockS3Fs].getName)
    val root = tmp("graft_gen_s3")
    try {
      val store = s"s3a://$root/store"
      val s3fs = new Path(store).getFileSystem(conf)
      assert(s3fs.getUri.getScheme === "s3a")
      assert(Gen.publishStrategy(s3fs) === "create")
      // end-to-end on the create path: two rewrites publish, resolve
      // serves the data, the pointer is self-valid (names the dir),
      // and no rename-strategy .commit temp is ever staged
      Gen.rewrite(spark, store)(d => rows(2, "a").write.parquet(d))
      assert(spark.read.parquet(Gen.resolve(spark, store)).count() === 2)
      Gen.rewrite(spark, store)(d => rows(3, "b").write.parquet(d))
      assert(Gen.currentGeneration(spark, store) === Some(2L))
      assert(spark.read.parquet(Gen.resolve(spark, store)).count() === 3)
      assert(!s3fs.listStatus(new Path(store)).exists(
        _.getPath.getName.endsWith(".tmp")))
      // arbitration: an existing pointer REFUSES the exclusive create
      // — appendDir's gen-1 establish race resolves to one winner
      val store2 = s"s3a://$root/store2"
      Gen.rewrite(spark, store2)(d => rows(1, "x").write.parquet(d))
      val before = Gen.resolve(spark, store2)
      // a same-target manual pointer already exists → a racing
      // publish must lose, not overwrite
      assert(Gen.currentGeneration(spark, store2) === Some(1L))
      // per-scheme override flips the strategy back
      conf.set("graft.gen.publish.strategy.s3a", "rename")
      assert(Gen.publishStrategy(s3fs) === "rename")
      conf.unset("graft.gen.publish.strategy.s3a")
      assert(Gen.publishStrategy(s3fs) === "create")
      assert(Gen.resolve(spark, store2) === before)
      // abfs/abfss (ADLS Gen2) deliberately stay on RENAME: their
      // rename is one atomic server-side op and their create is
      // visible-before-close — the create strategy there would
      // reintroduce the torn empty-pointer window
      conf.set("fs.abfs.impl", classOf[GraftMockAbfsFs].getName)
      try assert(Gen.publishStrategy(
        new Path("abfs:///x").getFileSystem(conf)) === "rename")
      finally conf.unset("fs.abfs.impl")
    } finally {
      conf.unset("graft.gen.publish.strategy.s3a")
      conf.unset("fs.s3a.impl")
      graft.util.Fs.deleteRecursively(root)
    }
  }

  test("create-strategy arbitration: a winner's pointer landing " +
      "between the stale-snapshot re-scan and the exclusive create " +
      "makes the loser REFUSE and abort loudly — never overwrite the " +
      "winner") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.gs.impl", classOf[GraftRacyGsFs].getName)
    val root = tmp("graft_gen_race_gs")
    try {
      val store = s"gs://$root/store"
      val gsFs = new Path(store).getFileSystem(conf)
      assert(Gen.publishStrategy(gsFs) === "create")
      Gen.rewrite(spark, store)(d => rows(2, "base").write.parquet(d))
      val g1 = new Path(Gen.resolve(spark, store)).getName
      // inject the race: the moment the loser's exclusive create of
      // _commit-00000002 runs, a concurrent winner's pointer has
      // already landed (content = an existing dir, so it is a REAL
      // commit) — the create must refuse, not replace it
      GraftRacyGsFs.winnerDir.set(g1)
      GraftRacyGsFs.raceOnce.add("_commit-00000002")
      val lost = intercept[IllegalStateException] {
        Gen.rewrite(spark, store)(d =>
          rows(3, "loser").write.parquet(d))
      }
      assert(lost.getMessage.contains("lost the generation-2 publish"))
      // the winner's pointer survives byte-identical and serves
      assert(Gen.currentGeneration(spark, store) === Some(2L))
      assert(new Path(Gen.resolve(spark, store)).getName === g1)
      // the loser's staging was discarded and ingest is not fenced
      graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
    } finally {
      conf.unset("fs.gs.impl")
      graft.util.Fs.deleteRecursively(root)
    }
  }

  test("scan FNF tolerance: a commit pointer deleted between the " +
      "listing and its read (a concurrent sweep reclaiming it) is " +
      "DROPPED — resolution falls back to the previous generation " +
      "instead of failing the whole read") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftflaky.impl", classOf[GraftFlakyFs].getName)
    val root = tmp("graft_gen_flaky")
    try {
      val store = s"graftflaky://$root/store"
      Gen.rewrite(spark, store)(d => rows(2, "a").write.parquet(d))
      Gen.rewrite(spark, store)(d => rows(3, "b").write.parquet(d))
      val g2 = Gen.resolve(spark, store)
      assert(isGenDir(g2, 2))
      // the NEXT open of gen-2's pointer throws FNF exactly once —
      // the listed-then-deleted race
      GraftFlakyFs.vanishOnce.add("_commit-00000002")
      val resolved = Gen.resolve(spark, store)
      assert(isGenDir(resolved, 1),
        s"FNF'd pointer must drop to the previous generation, got " +
          resolved)
      // the artifact was transient: the pointer is intact on disk and
      // the very next resolve serves gen 2 again
      assert(Gen.resolve(spark, store) === g2)
    } finally {
      conf.unset("fs.graftflaky.impl")
      graft.util.Fs.deleteRecursively(root)
    }
  }

  test("sweep FNF fail-safe: a transient pointer-read FNF that " +
      "reclassifies a committed, keepGeneration-PROTECTED " +
      "generation's data dir as a doomed staging must NOT let either " +
      "sweep path delete it (delete-time pointer re-probe), while a " +
      "genuine loser staging still sweeps") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftflaky.impl", classOf[GraftFlakyFs].getName)
    val root = tmp("graft_gen_fnf_sweep")
    try {
      val store = s"graftflaky://$root/store"
      val ffs = new Path(store).getFileSystem(conf)
      Gen.rewrite(spark, store)(d => rows(2, "a").write.parquet(d))
      Gen.keepGeneration(spark, store, 1L)
      Gen.rewrite(spark, store)(d => rows(3, "b").write.parquet(d))
      Gen.rewrite(spark, store)(d => rows(4, "c").write.parquet(d))
      val g1 = new Path(Gen.resolveAt(spark, store, 1L))
      // a genuine loser staging at a doomed number: its pointer names
      // the OTHER writer's dir, so the re-probe must not protect it
      val loser = new Path(s"$store/gen-00000002-0badcafe")
      ffs.mkdirs(loser)
      // the spurious FNF: gen 1's pointer read fails exactly once, so
      // the scan drops it and gen 1's data dir lands in `stagings`
      // (doomed: 1 != cur+1) — the exact misclassification that made
      // the old sweep delete a kept generation's data
      GraftFlakyFs.vanishOnce.add("_commit-00000001")
      Gen.sweepGenerations(spark, store, keepLast = 2)
      assert(ffs.exists(g1),
        "explicit sweep deleted a committed KEPT generation on a " +
          "transient pointer-read FNF")
      assert(!ffs.exists(loser), "genuine doomed staging survived")
      assert(spark.read.parquet(
        Gen.resolveAt(spark, store, 1L)).count() === 2L)
      // same race through a REWRITE's entry sweep: gen 1 must survive
      // and the rewrite must still target cur+1 correctly
      GraftFlakyFs.vanishOnce.add("_commit-00000001")
      Gen.rewrite(spark, store)(d => rows(5, "d").write.parquet(d))
      assert(Gen.currentGeneration(spark, store) === Some(4L))
      assert(ffs.exists(g1),
        "rewrite entry sweep deleted a committed KEPT generation on " +
          "a transient pointer-read FNF")
      assert(spark.read.parquet(
        Gen.resolveAt(spark, store, 1L)).count() === 2L)
    } finally {
      conf.unset("fs.graftflaky.impl")
      graft.util.Fs.deleteRecursively(root)
    }
  }

  test("ownsMarker: the compound-operation form neither creates nor " +
      "lifts the caller's marker — a failure between two store " +
      "rewrites leaves ingest fenced until the re-run completes") {
    val root = tmp("graft_gen_owns")
    val store = s"$root/store"
    try {
      Gen.rewrite(spark, store)(g => rows(2, "a").write.parquet(g))
      Gen.createMarker(spark, store)
      // the rewrite runs under the CALLER's marker...
      Gen.rewrite(spark, store, ownsMarker = true)(g =>
        rows(2, "b").write.parquet(g))
      // ...and leaves it down afterwards (the caller decides when the
      // compound operation is complete)
      intercept[IllegalStateException] {
        graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      }
      // a failure inside ALSO leaves it down
      intercept[RuntimeException] {
        Gen.rewrite(spark, store, ownsMarker = true)(_ =>
          throw new RuntimeException("mid-compound failure"))
      }
      intercept[IllegalStateException] {
        graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
      }
      Gen.deleteMarker(spark, store)
      graft.util.Fs.failIfUnderMaintenance(spark, store, "ingest")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("Gen.read: schema-cached reads see appended rows, and a " +
      "delete+recreate at the same path re-infers (r20 footer-job " +
      "elimination must never serve a stale schema)") {
    val root = tmp("graft_gen_readcache")
    val dir = s"$root/data"
    try {
      rows(3, "a").write.parquet(dir)
      assert(Gen.read(spark, dir).count() === 3L)
      // append into the same dir: cached schema, fresh listing — the
      // cache holds METADATA only, every read scans the files
      rows(2, "b").write.mode("append").parquet(dir)
      assert(Gen.read(spark, dir).count() === 5L)
      assert(Gen.read(spark, dir).columns.toSeq === Seq("id", "v"))
      // delete + recreate with a DIFFERENT schema: deleteRecursively
      // invalidates, so the next read infers the new schema instead of
      // failing (or silently projecting) against the stale one
      graft.util.Fs.deleteRecursively(dir)
      (0 until 4).map(i => (i.toLong, i * 2L, s"x$i"))
        .toDF("id", "w", "s").write.parquet(dir)
      assert(Gen.read(spark, dir).columns.toSeq === Seq("id", "w", "s"))
      assert(Gen.read(spark, dir).count() === 4L)
    } finally graft.util.Fs.deleteRecursively(root)
  }
}

/** Fake FileSystem for the publish-atomicity capability pin: local
  * semantics under a scheme [[graft.util.Gen]] has never heard of —
  * must resolve to the conservative check-then-act default until a
  * conf declaration says otherwise. Top-level because Hadoop
  * instantiates `fs.<scheme>.impl` reflectively with a no-arg ctor. */
class GraftMockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create("graftmock:///")
}

/** Local semantics under the `s3a` scheme — the publish-strategy pin's
  * end-to-end vehicle for the object-store create path (no real object
  * store in this sandbox; the strategy dispatches on the scheme). */
class GraftMockS3Fs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("s3a:///")
}

/** Fault-injecting local FS for the scan-FNF-tolerance pin: opening a
  * path whose NAME is in [[GraftFlakyFs.vanishOnce]] throws
  * FileNotFoundException exactly once — the "a concurrent sweep
  * deleted the pointer between the listing and the read" race, made
  * deterministic. */
class GraftFlakyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create("graftflaky:///")
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    if (GraftFlakyFs.vanishOnce.remove(f.getName))
      throw new java.io.FileNotFoundException(f.toString)
    super.open(f, bufferSize)
  }
}

object GraftFlakyFs {
  val vanishOnce: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** Local semantics under the `abfs` scheme — the strategy pin only
  * (no IO through it): ADLS Gen2 must resolve to the RENAME
  * strategy. */
class GraftMockAbfsFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("abfs:///")
}

/** Race-injecting local FS under the `gs` scheme for the
  * create-strategy arbitration pin: the first exclusive create of a
  * path named in [[GraftRacyGsFs.raceOnce]] finds a concurrent
  * winner's pointer (content = [[GraftRacyGsFs.winnerDir]]) landed
  * just before it — the exact between-rescan-and-create window the
  * exclusive create exists to arbitrate. */
class GraftRacyGsFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("gs:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (!overwrite && GraftRacyGsFs.raceOnce.remove(f.getName)) {
      val out = super.create(f, true, bufferSize, replication,
        blockSize, progress)
      out.write(GraftRacyGsFs.winnerDir.get().getBytes("UTF-8"))
      out.close()
    }
    super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
  }
}

object GraftRacyGsFs {
  val raceOnce: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val winnerDir = new java.util.concurrent.atomic.AtomicReference("")
}
