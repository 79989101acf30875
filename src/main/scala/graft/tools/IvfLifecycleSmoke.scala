package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Scale-stress for the persisted-IVF lifecycle: build → save → N daily
  * appends → drift report → compact → serve, at a size where the
  * small-files accretion the compactor exists for is visible (default:
  * 200k base vectors × 64 dims, 10 append batches of 20k, 32 cells —
  * after which every cell holds 11 files and a serve pays 11× the file
  * opens it needs). Prints file-per-cell counts and wall times for
  * serve-before, compaction, and serve-after, then asserts the served
  * top-k is IDENTICAL pre/post compaction (the compactor's contract:
  * layout changes, rows don't).
  *
  * `sbt "runMain graft.tools.IvfLifecycleSmoke [nBase] [nBatches]"`
  */
object IvfLifecycleSmoke {
  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 200000L
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val batchRows = nBase / 10
    val spark = graft.Bench.sessionBuilder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // hash-derived 64-dim vectors, generated distributively (no driver
    // materialization); ids beyond nBase become the append stream
    def vecs(from: Long, n: Long) = spark.range(from, from + n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(col("id") * 64 + j), lit(1000003L)).cast("double")
          / 5e5 - 1.0)).as("embedding"))

    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_smoke").toString
    val allOk = try {
      time(s"build+save ($nBase vecs, 32 cells)") {
        Similarity.saveIvfIndex(
          Similarity.buildIvfIndex(vecs(0, nBase), "vec_id", "embedding",
            nCentroids = 32, kmeansIters = 4), dir)
      }
      time(s"$nBatches appends of $batchRows") {
        (0 until nBatches).foreach { b =>
          Similarity.appendToIvfIndex(spark, dir,
            vecs(nBase + b * batchRows, batchRows), "vec_id", "embedding")
        }
      }
      val drift = time("drift report (last batch vs build baseline)") {
        Similarity.ivfDriftReport(spark, dir,
            vecs(nBase + (nBatches - 1) * batchRows, batchRows),
            "vec_id", "embedding")
          .filter(col("has_baseline"))
          .agg(sum(col("batch_n") * col("mean_drift")) /
            sum(col("batch_n"))).head().getDouble(0)
      }
      println(f"  weighted mean_drift (same distribution): $drift%.6f")

      def filesPerCell(): Seq[Int] = {
        val root = new java.io.File(
          s"${graft.util.Gen.resolve(spark, dir)}/assigned")
        root.listFiles().filter(_.getName.startsWith("cell="))
          .map(_.listFiles().count(_.getName.startsWith("part-"))).toSeq
      }
      val queries = vecs(0, 64)
      def serve(): Array[(Long, Long, Long)] =
        Similarity.ivfTopKFromIndex(
            Similarity.loadIvfIndex(spark, dir), queries,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
      val fBefore = filesPerCell()
      println(s"  files/cell before: min=${fBefore.min} " +
        s"max=${fBefore.max} total=${fBefore.sum}")
      val sBefore = time("serve (64 queries, nProbe=2) pre-compaction") {
        serve()
      }
      // deploy-style pin: record + keep the pre-compaction generation;
      // it must keep serving EXACTLY the pre-compaction answers through
      // the maintenance below, then release cleanly
      val pin = graft.util.Gen.currentGeneration(spark, dir).get
      graft.util.Gen.keepGeneration(spark, dir, pin)
      val rows = time("compactIvfIndex") {
        Similarity.compactIvfIndex(spark, dir)
      }
      val fAfter = filesPerCell()
      println(s"  files/cell after: min=${fAfter.min} " +
        s"max=${fAfter.max} total=${fAfter.sum} rows=$rows")
      val sAfter = time("serve (64 queries, nProbe=2) post-compaction") {
        serve()
      }
      // a SECOND maintenance cycle: without the keep ref the pinned
      // generation's one-cycle grace would end right here
      time("compactIvfIndex (second cycle, keep ref must hold)") {
        Similarity.compactIvfIndex(spark, dir)
      }
      val sPinned = time("serve PINNED pre-compaction generation") {
        Similarity.ivfTopKFromIndex(
            Similarity.loadIvfIndex(spark,
              graft.util.Gen.resolveAt(spark, dir, pin)), queries,
            "vec_id", "embedding", k = 5, nProbe = 2)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
      }
      require(sPinned.toSeq == sBefore.toSeq,
        "pinned-generation serve diverged from the pre-compaction serve")
      require(graft.util.Gen.releaseGeneration(spark, dir, pin),
        "keep ref was not found at release time")
      println(s"  pinned serve ≡ pre-compaction serve " +
        s"(${sPinned.length} rows); keep ref released")
      // drift → recall calibration: the drift report is a proxy; this
      // ties its number to the SLA metric, on a corpus where there is
      // structure TO drift from (a uniform corpus has structureless
      // cells — any unit vector's assigned cosine is drawn from the
      // same max-dot distribution, so drift is undetectable by
      // construction and low-probe recall is poor for clean data too).
      // Base = 32 tight clusters; same-distribution ingest keeps the
      // cluster structure; the drifted ingest is uniform random. The
      // printed (drift, recall) pairs are what turn q128's "your
      // tolerance" into a measured rebuild threshold.
      val nCal = 100000L
      def clustered(from: Long, n: Long) = spark.range(from, from + n)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            (pmod(xxhash64(pmod(col("id"), lit(32)) * 64 + j),
              lit(1000003L)).cast("double") / 5e5 - 1.0) +
            (pmod(xxhash64(col("id") * 64 + j + 7777777L),
              lit(1000003L)).cast("double") / 5e5 - 1.0) * lit(0.15))
            .as("embedding"))
      val dirCal = java.nio.file.Files
        .createTempDirectory("graft_ivf_cal").toString
      val okCal = try {
        Similarity.saveIvfIndex(
          Similarity.buildIvfIndex(clustered(0, nCal), "vec_id",
            "embedding", nCentroids = 32, kmeansIters = 4), dirCal)
        def weightedDrift(batch: org.apache.spark.sql.DataFrame) =
          Similarity.ivfDriftReport(spark, dirCal, batch, "vec_id",
              "embedding")
            .filter(col("has_baseline"))
            .agg(sum(col("batch_n") * col("mean_drift")) /
              sum(col("batch_n"))).head().getDouble(0)
        def probeRecall(label: String): Map[Int, Double] = {
          val r = Similarity.ivfRecallProbe(spark, dirCal, sampleN = 32,
              k = 5, nProbes = Seq(1, 2))
            .collect().map(x => x.getAs[Int]("n_probe") ->
              x.getAs[Double]("recall")).toMap
          println(s"  recall@5 $label: " + r.toSeq.sorted
            .map { case (p, v) => s"nProbe=$p:$v" }.mkString(" "))
          r
        }
        val selfDrift = weightedDrift(clustered(nCal, 20000))
        println(f"  calibration weighted mean_drift, same-distribution " +
          f"batch: $selfDrift%.6f")
        val recall0 = probeRecall("clustered store, pre-drift")
        // the drifted ingest is 32 NEW tight clusters (different center
        // seed) — structured data the FROZEN centroids know nothing
        // about: drift spikes and their neighbors scatter across old
        // cells (low-probe recall drops). A rebuild can LEARN this —
        // unlike uniform noise, where recall is unrecoverable by any
        // centroid set (measured: rebuild left uniform recall flat)
        def shifted(from: Long, n: Long) = spark.range(from, from + n)
          .select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(63)), j =>
              (pmod(xxhash64(pmod(col("id"), lit(32)) * 64 + j
                + 99991234L), lit(1000003L)).cast("double") / 5e5 - 1.0) +
              (pmod(xxhash64(col("id") * 64 + j + 7777777L),
                lit(1000003L)).cast("double") / 5e5 - 1.0) * lit(0.15))
            .as("embedding"))
        Similarity.appendToIvfIndex(spark, dirCal,
          shifted(nCal + 20000, 20000), "vec_id", "embedding")
        Similarity.appendToIvfIndex(spark, dirCal,
          shifted(nCal + 40000, 20000), "vec_id", "embedding")
        val shiftDrift = weightedDrift(shifted(nCal + 20000, 20000))
        println(f"  calibration weighted mean_drift, shifted-cluster " +
          f"batch: $shiftDrift%.6f")
        val recall1 = probeRecall("after 40k shifted-cluster ingest")
        // ...and the loop closes: the rebuild the monitor triggers
        // retrains on the post-ingest store and recovers the low-probe
        // recall the drift cost
        val rebuilt = time("rebuildIvfIndex (140k rows, 32 cells)") {
          Similarity.rebuildIvfIndex(spark, dirCal, nCentroids = 32,
            kmeansIters = 4)
        }
        val recall2 = probeRecall("after rebuild")
        shiftDrift > selfDrift + 0.05 && recall1(1) < recall0(1) &&
          rebuilt == nCal + 40000L && recall2(1) > recall1(1)
      } finally graft.util.Fs.deleteRecursively(dirCal)
      // the IVF+PQ lifecycle at the same scale: frozen-parameter
      // appends accrete per-cell files exactly like the IVF store;
      // compaction rewrites to one file per cell with served results
      // identical; the error-drift monitor reads ~0 on same-distribution
      // ingest (the quiet baseline a deployment alarms against)
      val dirPq = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_smoke").toString
      val okPq = try {
        time(s"PQ build+save ($nBase vecs, 32 cells, m=16)") {
          Similarity.saveIvfPqIndex(
            Similarity.buildIvfPqIndex(vecs(0, nBase), "vec_id",
              "embedding", nCells = 32, m = 16, k = 16), dirPq)
        }
        time("writeIvfPqErrBaseline") {
          Similarity.writeIvfPqErrBaseline(spark, dirPq, vecs(0, nBase),
            "vec_id", "embedding")
        }
        time(s"3 PQ appends of $batchRows") {
          (0 until 3).foreach { b =>
            Similarity.appendToIvfPqIndex(spark, dirPq,
              vecs(nBase + b * batchRows, batchRows), "vec_id",
              "embedding")
          }
        }
        val pqDrift = time("PQ err-drift report (batch vs baseline)") {
          Similarity.ivfPqDriftReport(spark, dirPq,
              vecs(nBase, batchRows), "vec_id", "embedding")
            .filter(col("has_baseline"))
            .agg(sum(col("batch_n") * col("mean_err_drift")) /
              sum(col("batch_n"))).head().getDouble(0)
        }
        println(f"  PQ weighted mean_err_drift (same distribution): " +
          f"$pqDrift%.6f")
        val corpusAll = vecs(0, nBase + 3 * batchRows)
        def servePq(): Set[(Long, Long, Long)] =
          Similarity.ivfPqTopKFromIndex(
              Similarity.loadIvfPqIndex(spark, dirPq), corpusAll,
              vecs(0, 64), "vec_id", "embedding", k = 5, nProbe = 4,
              rerank = 64)
            .collect().map(r => (r.getAs[Long]("query_id"),
              r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
            .toSet
        val sp0 = time("PQ serve (64 queries, nProbe=4) pre-compaction") {
          servePq()
        }
        val pqRows = time("compactIvfPqIndex") {
          Similarity.compactIvfPqIndex(spark, dirPq)
        }
        val sp1 = time("PQ serve (64 queries, nProbe=4) post-compaction") {
          servePq()
        }
        val maxF = Similarity.indexStats(spark, dirPq)
          .agg(org.apache.spark.sql.functions.max(col("n_files")))
          .head().getLong(0)
        println(s"  PQ code store after compaction: max files/cell " +
          s"$maxF, rows $pqRows")
        sp0 == sp1 && sp0.nonEmpty && maxF == 1L &&
          pqRows == nBase + 3L * batchRows && math.abs(pqDrift) < 0.01
      } finally graft.util.Fs.deleteRecursively(dirPq)

      // IVF×SQ8 at the same scale: the training-free composed tier.
      // Build+save, one frozen-centroid append, drift through the
      // UNCHANGED ivfDriftReport (its whole maintenance story), a
      // serve timed against the IVF+PQ serve above, and the health
      // report that folds drift + recall + layout into one row.
      val dirSq = java.nio.file.Files
        .createTempDirectory("graft_ivfsq8_smoke").toString
      val okSq = try {
        time(s"IVF×SQ8 build+save ($nBase vecs, 32 cells)") {
          Similarity.saveIvfSq8Index(
            Similarity.buildIvfSq8Index(vecs(0, nBase), "vec_id",
              "embedding", nCentroids = 32), dirSq)
        }
        time("writeIvfSq8Baseline") {
          Similarity.writeIvfSq8Baseline(spark, dirSq, vecs(0, nBase),
            "vec_id", "embedding")
        }
        time(s"IVF×SQ8 append of $batchRows (map-only encode)") {
          Similarity.appendToIvfSq8Index(spark, dirSq,
            vecs(nBase, batchRows), "vec_id", "embedding")
        }
        val sqDrift = time("IVF×SQ8 drift (the plain IVF monitor)") {
          Similarity.ivfDriftReport(spark, dirSq, vecs(nBase, batchRows),
              "vec_id", "embedding")
            .filter(col("has_baseline"))
            .agg(sum(col("batch_n") * col("mean_drift")) /
              sum(col("batch_n"))).head().getDouble(0)
        }
        println(f"  IVF×SQ8 weighted mean_drift (same distribution): " +
          f"$sqDrift%.6f")
        val corpusSq = vecs(0, nBase + batchRows)
        val sq0 = time("IVF×SQ8 serve (64 queries, nProbe=4) — compare " +
          "the PQ serve above") {
          Similarity.ivfSq8TopKFromIndex(
              Similarity.loadIvfSq8Index(spark, dirSq), corpusSq,
              vecs(0, 64), "vec_id", "embedding", k = 5, nProbe = 4,
              rerank = 64)
            .collect().map(r => (r.getAs[Long]("query_id"),
              r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
            .toSet
        }
        val sqRows = time("compactIvfSq8Index") {
          Similarity.compactIvfSq8Index(spark, dirSq)
        }
        sq0.nonEmpty && sqRows == nBase + batchRows &&
          math.abs(sqDrift) < 0.01
      } finally graft.util.Fs.deleteRecursively(dirSq)

      // the page-on-this composition, on the 300k plain-IVF store the
      // lifecycle above just compacted: drift + recall + layout in one
      // row — the line an operator's alerting actually tails
      val health = time("ivfIndexHealthReport (drift + recall + " +
        "layout, one row, 300k store)") {
        Similarity.ivfIndexHealthReport(spark, dir,
          vecs(nBase, batchRows), "vec_id", "embedding",
          sampleN = 32, k = 5, nProbe = 8).first()
      }
      println(s"  health: w_p10_drift=" +
        s"${health.getAs[Double]("w_p10_drift")} recall@5(nProbe=8)=" +
        s"${health.getAs[Double]("recall")} max_files=" +
        s"${health.getAs[Long]("max_cell_files")} rebuild_advised=" +
        s"${health.getAs[Boolean]("rebuild_advised")} " +
        s"compact_advised=${health.getAs[Boolean]("compact_advised")}")
      val okHealth = !health.getAs[Boolean]("compact_advised") &&
        health.getAs[Long]("max_cell_files") == 1L

      // deletion at scale on the same 300k store: tombstone 10k ids
      // (one fenced append), serve excludes them instantly, the next
      // compaction drops them physically and clears the tombstones
      val okDelete = locally {
        val nDel = time("deleteFromIndex (10k ids vs 300k store)") {
          Similarity.deleteFromIndex(spark, dir,
            vecs(0, nBase + nBatches * batchRows)
              .filter(col("vec_id") % 30 === 7).select("vec_id"),
            "vec_id")
        }
        val servedDel = time("serve post-delete (tombstone filter)") {
          serve()
        }
        val compactedDel = time("compactIvfIndex (physical drop)") {
          Similarity.compactIvfIndex(spark, dir)
        }
        println(s"  deleted $nDel, store $rows -> $compactedDel rows")
        servedDel.forall(_._3 % 30 != 7) &&
          compactedDel == rows - nDel &&
          !new java.io.File(
            s"${graft.util.Gen.resolve(spark, dir)}/tombstones").exists()
      }

      // hot-cell write straggler: 2M vectors, ~97% piled near one axis
      // → one cell holds almost the whole corpus. The unsalted write
      // funnels it through ONE task; the salted form spreads it across
      // ceil(n/maxRows) tasks. Same rows, same serves — only the write
      // parallelism differs; this measures the straggler cost directly.
      val nSkew = 2000000L
      // the low-id half is hash-random (the training sample is id-
      // sorted, so its head seeds 32 SPREAD centroids and keeps them
      // spread through Lloyd); the high-id half piles onto axis 0 →
      // one cell ends up ~32× the average — the write straggler
      def skewed = spark.range(0, nSkew).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), j =>
          when(col("id") < nSkew / 2,
            (pmod(xxhash64(col("id") * 16 + j), lit(1000003L))
              .cast("double") / 5e5 - 1.0))
            .otherwise(when(j === 0, lit(1.0))
              .otherwise(pmod(xxhash64(col("id") * 16 + j), lit(1000L))
                .cast("double") / 1e6))).as("embedding"))
      val builtSkew = Similarity.buildIvfIndex(skewed, "vec_id",
        "embedding", nCentroids = 32, kmeansIters = 2)
      val cached = (builtSkew._1, builtSkew._2.localCheckpoint())
      val dirU = java.nio.file.Files
        .createTempDirectory("graft_ivf_skewu").toString
      val dirS = java.nio.file.Files
        .createTempDirectory("graft_ivf_skews").toString
      // assignment-kernel A/B: the r14 map-only literal argmax vs the
      // crossJoin + window row_number form it replaced, on the same 2M
      // corpus — the old form materializes corpus × nCentroids rows
      // (each still carrying the vector) through a hash exchange just
      // to pick the max; the new form is a narrow scan. Equality of the
      // (count, Σcell) fingerprints doubles as a cheap identity check.
      locally {
        import org.apache.spark.sql.expressions.Window
        val centsAb = builtSkew._1
        val fpNew = time(s"assign $nSkew vecs MAP-ONLY argmax (r14)") {
          Similarity.assignWithSim(skewed, centsAb, "vec_id", "embedding")
            .agg(count(lit(1)), sum(col("cell"))).head()
        }
        val w = Window.partitionBy(col("neighbor_id"))
          .orderBy(col("cent_sim").desc, col("cent_id"))
        val fpOld = time(s"assign $nSkew vecs crossJoin+window (r13)") {
          skewed.select(col("vec_id").as("neighbor_id"),
              Similarity.l2Normalize(col("embedding")).as("cv"))
            .crossJoin(broadcast(centsAb))
            .withColumn("cent_sim",
              Similarity.dotCol(col("cv"), col("centv")))
            .withColumn("cent_rank", row_number().over(w))
            .filter(col("cent_rank") <= 1)
            .select(col("neighbor_id"), col("cent_id").as("cell"))
            .agg(count(lit(1)), sum(col("cell"))).head()
        }
        require(fpNew == fpOld,
          s"assignment A/B fingerprints diverge: $fpNew vs $fpOld")
      }
      val okSalt = try {
        time(s"skewed save ($nSkew vecs, hot cell) UNSALTED") {
          Similarity.saveIvfIndex(cached, dirU)
        }
        time("skewed save SALTED (maxRowsPerWriteTask=65536)") {
          Similarity.saveIvfIndex(cached, dirS,
            maxRowsPerWriteTask = 65536)
        }
        val st = Similarity.indexStats(spark, dirS)
          .collect().map(r => (r.getAs[Long]("n_rows"),
            r.getAs[Long]("n_files"))).toSeq
        val (hotN, hotF) = st.maxBy(_._1)
        println(s"  hot cell: $hotN rows in $hotF files " +
          s"(bound ${(hotN + 65535) / 65536})")
        hotF > 1 && hotF <= (hotN + 65535) / 65536 &&
          spark.read.parquet(
              s"${graft.util.Gen.resolve(spark, dirU)}/assigned").count() ==
            spark.read.parquet(
              s"${graft.util.Gen.resolve(spark, dirS)}/assigned").count()
      } finally {
        graft.util.Fs.deleteRecursively(dirU)
        graft.util.Fs.deleteRecursively(dirS)
      }

      val ok = fAfter.forall(_ == 1) &&
        rows == nBase + nBatches.toLong * batchRows &&
        sBefore.toSet == sAfter.toSet && sBefore.nonEmpty && okSalt &&
        okCal && okPq && okSq && okHealth && okDelete
      println(if (ok) "IvfLifecycleSmoke: OK"
        else "IvfLifecycleSmoke: MISMATCH")
      ok
    } finally {
      graft.util.Fs.deleteRecursively(dir)
      spark.stop()
    }
    // sys.exit inside the try would bypass the finally (System.exit
    // does not unwind), stranding the multi-hundred-MB temp index —
    // so cleanup runs above and the exit code follows here
    if (!allOk) sys.exit(1)
  }
}
