package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark contract: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and emits ONE JSON metric line.
  *
  * Robustness (round-1 driver run showed 4-8× outliers on three queries vs
  * the local replica, plus an unparseable metric line):
  *   - each query runs `reps` times (default 2) and reports the MIN — a
  *     GC pause / contended-CPU hiccup on one rep no longer defines the
  *     query's number;
  *   - an untimed warmup absorbs JVM/codegen/classloader startup;
  *   - queries run in sorted name order (deterministic across JVMs);
  *   - the metric JSON is written to `bench.json` AND printed as the final
  *     bare stdout line after `spark.stop()` (with `run / outputStrategy :=
  *     StdoutOutput` in build.sbt there is no sbt `[info]` prefix to break
  *     the driver's parser).
  */
object Bench {

  /** The contention sentinel's fixed pure-compute unit: `iters` LCG
    * steps, data-independent, no allocation — a hardware constant on
    * an idle host (PERF.md records this builder's band). Object-level
    * so the spec can time the SAME loop under deliberate load. */
  private[graft] def calibWork(seed: Long,
      iters: Int = 200000000): Long = {
    var x = seed; var i = 0
    while (i < iters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33); i += 1
    }
    x
  }

  /** Sentinel VERDICT (r19): turns the raw calib numbers into a flag
    * the artifact itself carries, so an inflated run is labeled in
    * bench.json instead of adjudicated from PERF prose after the
    * fact. Two independent signals per sentinel class:
    *   - BAND ratio — the worse (max) of pre/post against the
    *     recorded idle band's UPPER edge (PERF.md r18: calib_1t
    *     0.38-0.46 s, calib_job 0.10-0.15 s; env-overridable for a
    *     different host). Above 1.3× the run is measuring the host:
    *     the r17 driver mode read a uniform ~1.5× here.
    *   - SHIFT — pre vs post disagreeing by more than the shift
    *     threshold means the tier CHANGED mid-run, which no band can
    *     absolve (the r18 driver signature: calib_job 0.182 pre vs
    *     0.045 post on a host FASTER than the builder band, CPU
    *     spotless — shift 4.0). Job shift threshold 3.0×: the idle
    *     band itself spans 1.5× and a cold-pre vs warm-post on
    *     recorded IDLE builder replicas reaches 2.78× (whose elevated
    *     pre the band ratio already labels) — 3.0 separates the
    *     observed drift mode from idle wobble. CPU shift 1.5×
    *     (calib_1t is a hardware constant, idle wobble is a few
    *     percent).
    * `cpu_contended` outranks `scheduler_drift`: compute starvation
    * inflates the job sentinel too, and the wider diagnosis should
    * win the label. */
  private[graft] def tierVerdict(c1tPre: Double, c1tPost: Double,
      jobPre: Double, jobPost: Double, ref1t: Double,
      refJob: Double): (String, Double, Double, Double, Double) = {
    val cpuRatio = math.max(c1tPre, c1tPost) / ref1t
    val jobRatio = math.max(jobPre, jobPost) / refJob
    def shift(a: Double, b: Double): Double =
      if (math.min(a, b) <= 0) 1.0
      else math.max(a, b) / math.min(a, b)
    val cpuShift = shift(c1tPre, c1tPost)
    val jobShift = shift(jobPre, jobPost)
    val flag =
      if (cpuRatio > 1.3 || cpuShift > 1.5) "cpu_contended"
      else if (jobRatio > 1.3 || jobShift > 3.0) "scheduler_drift"
      else "clean"
    (flag, cpuRatio, jobRatio, cpuShift, jobShift)
  }

  /** The ONE session config of the engine: every SparkSession in the
    * repo builds here — the bench, perfbench, `Verify`, the test suite,
    * the demos, `QueryProbe` and the scale smokes — so correctness is
    * proven under the config the benchmark measures. A caller that
    * needs a different value sets it on top of this builder, with its
    * reason at the call site.
    *   - codegen cache 5000: the default 100-entry cache thrashes on
    *     the wider plans (q42 alone has ~100 codegen units); with
    *     eviction EVERY rep paid 10+ s of janino recompilation —
    *     measured 14.7 s → 3.2 s on q42.
    *   - bypassMergeThreshold 1 (r19, guide §2.1/§7): with
    *     shuffle.partitions = local cores (≤ 200) every exchange
    *     otherwise takes the bypass-merge writer — one file created,
    *     written and re-concatenated per reducer per map task, measured
    *     as 50-70% of the ledger family's executor time (q150 run
    *     26.4 s → 4.7 s with the sort path). Production clusters run
    *     shuffle.partitions ≫ 200 where bypass-merge never fires, so
    *     threshold 1 makes local execution take exactly the writer the
    *     100-TB deployment uses — a fidelity fix, not a local tune. */
  private[graft] def sessionBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Host-contention sentinel (r18): a FIXED pure-compute workload —
    // no I/O, no Spark, no data dependence — timed single-threaded and
    // across all bench cores, before and after the query sweep. On an
    // idle host these are hardware constants (PERF.md records this
    // builder's reference band); a contention-inflated run (noisy
    // neighbor, CPU-starved container) inflates them by roughly the
    // same factor as the query walls, so an inflated total
    // self-identifies IN the artifact instead of needing a per-entry
    // diff against replica history (the r17 driver run read 1.54×
    // slow purely from host contention).
    val calibSink = new java.util.concurrent.atomic.AtomicLong
    def calib(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map(t =>
        new Thread(() => { calibSink.addAndGet(calibWork(t.toLong)); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    calibSink.addAndGet(calibWork(0L)) // JIT warmup, untimed
    def r3c(d: Double) = math.rint(d * 1000) / 1000
    val (calibPre1, calibPreN) = (r3c(calib(1)), r3c(calib(cpus.toInt)))
    // Second sentinel class: a pinned TRIVIAL Spark job (32 tasks over
    // a generated range — no I/O, no shuffle beyond the final agg).
    // The CPU loop above catches compute starvation (the r17 driver
    // run: uniform 1.48× including pure-compute entries); this one
    // catches SCHEDULER/small-task-tier drift, which inflates
    // many-small-job suites while pure-CPU loops stay clean (observed
    // r18: a 1.3× tier day with calib_1t flat). Min of 3 after one
    // untimed warmup — steady-state scheduling cost, not JIT.
    // numSlices pinned to 32 EXPLICITLY: spark.range's default is the
    // session parallelism, which would make the task count (and hence
    // the sentinel's reference band) depend on SPARK_GRAFT_CPUS — a
    // 4-task job barely samples the per-task overhead this exists to
    // measure
    def calibJob(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 32L * 1000000L, 1L, 32)
        .selectExpr("sum(id)").head()
      (System.nanoTime() - t0) / 1e9
    }.min
    // Untimed JVM/codegen warmup: one small query through each engine path
    // (parquet scan+agg, window, broadcast join, JSON trace pipeline) so the
    // first timed query doesn't absorb classloading + codegen compilation.
    try {
      SparkEntry.entry(spark).count()
      SparkEntry.queries("q03_topk")(spark, sfDir).count()
      SparkEntry.queries("q14_window_rank")(spark,
        sfDir.replace("sf0.1", "sf0.001")).count()
      spark.range(0L, 1000L, 1L, 32)
        .selectExpr("sum(id)").head() // calibJob warmup (same shape)
    } catch { case _: Throwable => () }
    val calibJobPre = r3c(calibJob())
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // Per-query task-metric breakdown so a slow wall-clock is attributable
    // (executor work vs GC vs scheduler/host noise) instead of argued from
    // totals: one listener accumulates executorRunTime/jvmGcTime, snapshotted
    // around each rep after draining the (async) listener bus.
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            runMs.addAndGet(m.executorRunTime)
            gcMs.addAndGet(m.jvmGCTime)
            maxTaskMs.accumulateAndGet(m.executorRunTime, Math.max(_, _))
          }
        }
      })
    // (wall, executorRunTime sec, gc sec, max single-task sec) per rep;
    // min-wall rep wins
    val detail = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double, Double, Double)]
    def timeOnce(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Double = {
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      val (r0, g0) = (runMs.get, gcMs.get)
      maxTaskMs.set(0L) // bus drained: nothing in flight belongs elsewhere
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        // a crashing query must not masquerade as a fast timing
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      val (run, gc) = ((runMs.get - r0) / 1e3, (gcMs.get - g0) / 1e3)
      if (!detail.get(name).exists(_._1 <= wall))
        detail(name) = (wall, run, gc, maxTaskMs.get / 1e3)
      wall
    }
    // optional arg: comma-separated query-name filter for iterating on one
    // query without paying for the suite (contract runs pass no args)
    val only = args.headOption.map(_.split(",").toSet)
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        name -> (1 to math.max(1, reps)).map(_ => timeOnce(name, fn)).min
    }
    // Adaptive outlier re-timing: a multi-second contention burst (GC,
    // noisy neighbor) can cover BOTH reps of one query and masquerade as
    // a 10x regression. Any query whose min is far above the median gets
    // two more attempts once the burst has likely passed.
    val median = firstPass.map(_._2).sorted.apply(firstPass.size / 2)
    val results = firstPass.map { case (name, t) =>
      if (t > math.max(1.0, 3 * median))
        name -> math.min(t,
          (1 to 2).map(_ => timeOnce(name, SparkEntry.queries(name))).min)
      else name -> t
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def r3(d: Double) = math.rint(d * 1000) / 1000
    val detailJson = results.map { case (k, _) =>
      val (w, run, gc, mt) = detail.getOrElse(k, (0.0, 0.0, 0.0, 0.0))
      s"""\"$k\":{"wall":${r3(w)},"run":${r3(run)},"gc":${r3(gc)},"maxTask":${r3(mt)}}"""
    }.mkString("{", ",", "}")
    // Parallelism gate: a query with > 2 s of executor work where ONE
    // task did > 60% of it is effectively SERIAL on this many-core host
    // — exactly how r4's t13 (one 4.68 s task) hid behind a green total.
    // Gating on max-task SHARE (not run/wall, the r5 form) keeps two
    // false-positive classes out: driver-heavy queries whose wall dwarfs
    // a well-parallelized run, and small well-spread queries where
    // per-task overhead keeps run/wall low (at the data-proportionate
    // 8-way ingest, healthy q24 sits at run 3 s / wall 2.2 s). The 2 s
    // floor keeps single-split scan-stage artifacts out (q43's ~1.3 s
    // partial session agg runs in the one-task scan of a one-file local
    // input — a plan that is right at scale, where the scan has a task
    // per split). Violators land in bench.json ("serial") on every run;
    // SPARK_GRAFT_BENCH_STRICT=1 (local iteration) makes them rc != 0 so
    // a reintroduced serial plan fails loudly. The driver's contract run
    // stays non-strict: one noisy-host rep must not flip the bench gate.
    val serial = if (cpus.toInt < 4) Seq.empty[String] else
      results.collect { case (name, _)
        if {
          val (_, run, _, mt) = detail.getOrElse(name, (0.0, 0.0, 0.0, 0.0))
          run > 2.0 && mt > 0.6 * run
        } => name }
    val serialJson = serial.map("\"" + _ + "\"").mkString("[", ",", "]")
    val (calibPost1, calibPostN) = (r3c(calib(1)), r3c(calib(cpus.toInt)))
    val calibJobPost = r3c(calibJob())
    if (calibSink.get == 42L) println("calib sink (never prints)")
    // reference band: this builder host, idle (PERF.md r18) — 1t ≈
    // 0.38-0.46 s, 32t ≈ 0.40-0.75 s, job ≈ 0.10-0.15 s. tierVerdict
    // turns the numbers into the in-artifact flag (band ratio vs the
    // upper edge at 1.3×, pre/post shift for a mid-run tier change);
    // the refs are env-overridable for a host with a different band.
    val ref1t =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_REF_1T", "0.46").toDouble
    val refJob =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_REF_JOB", "0.15").toDouble
    val (tierFlag, cpuRatio, jobRatio, cpuShift, jobShift) =
      tierVerdict(calibPre1, calibPost1, calibJobPre, calibJobPost,
        ref1t, refJob)
    val contentionJson =
      s"""{"calib_1t_pre":$calibPre1,"calib_${cpus}t_pre":$calibPreN,""" +
        s""""calib_1t_post":$calibPost1,"calib_${cpus}t_post":$calibPostN,""" +
        s""""calib_job_pre":$calibJobPre,"calib_job_post":$calibJobPost,""" +
        s""""tier_flag":"$tierFlag","cpu_ratio":${r3(cpuRatio)},""" +
        s""""job_ratio":${r3(jobRatio)},"cpu_shift":${r3(cpuShift)},""" +
        s""""job_shift":${r3(jobShift)}}"""
    if (tierFlag != "clean")
      System.err.println(s"[bench] SENTINEL: tier_flag=$tierFlag " +
        f"(cpu_ratio $cpuRatio%.2f, job_ratio $jobRatio%.2f, " +
        f"cpu_shift $cpuShift%.2f, job_shift $jobShift%.2f) — this " +
        "run's walls are measuring the host, compare with care")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"serial":$serialJson,"contention":$contentionJson,"detail":$detailJson,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench.json"), line + "\n")
    if (serial.nonEmpty)
      System.err.println(s"[bench] SERIAL queries (run > 2 s, one task > 60% of run): " +
        serial.mkString(", "))
    spark.stop()
    // Full detail goes to bench.json; stdout gets it too (for humans),
    // followed by a COMPACT final line. The driver's capture keeps only a
    // ~2,000-char TAIL of stdout, and the full line (~6 KB for 91
    // queries) got its head — `{"metric":...` — truncated away in r4,
    // parsing as null. The compact line fits any truncated capture.
    println(line)
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","failed":$failedJson}""")
    if (serial.nonEmpty && sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1"))
      sys.exit(1)
  }
}
