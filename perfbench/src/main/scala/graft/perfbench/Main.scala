package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonSerializer, ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.{Bench, TraceFrame}

/** The benchmark harness: one workload, one seed, one closed loop.
  *
  * Prints a `{"detail": ...}` line and then the result line
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the timed window is
  * traced and the metrics are its per-layer split, plus the tracing
  * overhead against `--untraced-throughput` (the throughput an untraced
  * run of the same workload and seed measured). Any failed output check
  * exits 1 without a result line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cpus: Int, heap: String,
      untracedThroughput: Option[Double])

  /** The per-layer boundaries every traced run reports, 0 for those its
    * workload does not call: the trace pipeline's, then the generation
    * stores'. */
  val Boundaries: Seq[String] = Seq(
    "spanops.flatten", "spanops.pivot_tags", "traceops.summarize",
    "criticalpath.segments", "servicegraph.pagerank",
    "percentiles.grouped_exact",
    "spanops.trace_with_spans", "presentation.gantt", "percentiles.slice",
    "dedup.exact_admit", "dedup.neardup_admit", "similarity.ivf_append",
    "similarity.ivf_serve", "dedup.neardup_forget", "dedup.neardup_compact",
    "dedup.exact_compact", "similarity.ivf_compact")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv("work"),
      kv.get("cpus").map(_.toInt).getOrElse(4), kv.getOrElse("heap", "?"),
      kv.get("untraced-throughput").map(_.toDouble))
    require(!a.trace || a.untracedThroughput.isDefined,
      "--trace 1 needs --untraced-throughput")
    val code =
      try run(a)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def deleteTree(p: java.io.File): Unit = {
    Option(p.listFiles).foreach(_.foreach(deleteTree))
    p.delete()
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** JVM GC time so far, and heap in use after a full collection. The
    * harness samples the heap only between measurement phases, so no
    * forced collection lands inside a timed window. */
  private final class Heap {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val samplesMb = mutable.ArrayBuffer.empty[Double]
    def peakMb: Double = samplesMb.max
    def gcMs: Long = gcs.map(_.getCollectionTime).sum
    def sample(): Unit = {
      // the first collection hands Spark's ContextCleaner the dead
      // broadcasts and shuffles; the second frees what it released
      System.gc()
      Thread.sleep(200)
      System.gc()
      samplesMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
  }

  final case class Window(ops: Seq[OpResult], wallS: Double, gcMs: Long) {
    def units: Double = ops.map(_.units).sum
    def seconds: Double = ops.map(_.seconds).sum
    def throughput: Double = units / seconds
    def latencies: Seq[Double] = ops.flatMap(_.latencyMs)
  }

  private def run(a: Args): Int = {
    val work = new java.io.File(a.work)
    deleteTree(work)
    work.mkdirs()
    val detail = mutable.LinkedHashMap.empty[String, Any]
    detail("workload") = a.workload
    detail("seed") = a.seed
    detail("traced") = a.trace
    detail("cpus") = a.cpus
    detail("heap") = a.heap

    // host sentinel (traced runs): a fixed pure-compute loop and a fixed
    // trivial Spark job, before and after the measurement; a contended
    // host labels the run instead of passing for a slow program
    val calibSink = new java.util.concurrent.atomic.AtomicLong
    def calib1t(): Double = {
      val t0 = now(); calibSink.addAndGet(Bench.calibWork(a.seed)); now() - t0
    }
    val c1tPre =
      if (!a.trace) Double.NaN
      else { calibSink.addAndGet(Bench.calibWork(0L, 20000000)); calib1t() }

    val t0 = now()
    val builder = Bench.sessionBuilder(a.cpus.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
    if (a.trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = now() - t0
    try {
      val probe = new Probe(spark)
      val heap = new Heap
      val w: Workload = a.workload match {
        case "trace-ingest" => new TraceIngest(spark, probe, a.work, a.seed)
        case "store-churn" => new StoreChurn(spark, probe, a.work, a.seed)
      }
      val failures = mutable.ArrayBuffer.empty[String]
      var attempted = 0
      var failed = 0
      var opIndex = 0
      def runOp(): OpResult = {
        probe.beginOp(opIndex)
        val r =
          try w.op(opIndex)
          catch { case e: Exception =>
            OpResult(0.0, 0.0, Nil, Seq(s"op $opIndex threw: $e"))
          }
        opIndex += 1
        attempted += 1
        if (r.errors.nonEmpty) { failed += 1; failures ++= r.errors.take(3) }
        r
      }

      val g0 = now(); w.generate(); val genS = now() - g0
      val p0 = now(); w.prepare(); val prepS = now() - p0
      val warm = (0 until w.warmupOps).map(_ => runOp())
      val setupS = sessionS + prepS + warm.map(_.seconds).sum
      heap.sample()

      def calibJob(): Double = (1 to 3).map { _ =>
        val c0 = now()
        spark.range(0L, 32L * 1000000L, 1L, 32).selectExpr("sum(id)").head()
        now() - c0
      }.min
      val jobPre =
        if (!a.trace) Double.NaN
        else { spark.range(0L, 1000L, 1L, 32).selectExpr("sum(id)").head(); calibJob() }

      if (a.trace) {
        probe.startTracing()
        probe.forgetCalls()
      }
      // the timed window: whole ops until --seconds have passed
      var storeRatio = Double.NaN
      val ops = mutable.ArrayBuffer.empty[OpResult]
      val gc0 = heap.gcMs
      val start = now()
      do {
        ops += runOp()
        if (a.trace) probe.drain()
        if (storeRatio.isNaN) storeRatio = w.storeBytes.toDouble / w.inputBytes
      } while (now() - start < a.seconds)
      val main = Window(ops.toSeq, now() - start, heap.gcMs - gc0)
      heap.sample()
      if (a.trace) {
        val (jobPost, c1tPost) = (calibJob(), calib1t())
        if (calibSink.get == 42L) println("calibration sink")
        val (flag, cpuRatio, jobRatio, _, _) = Bench.tierVerdict(c1tPre,
          c1tPost, jobPre, jobPost,
          sys.env.getOrElse("SPARK_GRAFT_CALIB_REF_1T", "0.46").toDouble,
          sys.env.getOrElse("SPARK_GRAFT_CALIB_REF_JOB", "0.15").toDouble)
        detail("sentinel") = Map("tier_flag" -> flag,
          "calib_1t_pre" -> c1tPre, "calib_1t_post" -> c1tPost,
          "calib_job_pre" -> jobPre, "calib_job_post" -> jobPost,
          "cpu_ratio" -> cpuRatio, "job_ratio" -> jobRatio)
      }

      val lat = main.latencies
      detail("input_generation_s") = genS
      detail("session_start_s") = sessionS
      detail("prepare_s") = prepS
      detail("warmup_op_s") = warm.map(_.seconds)
      detail("timed_ops") = main.ops.size
      detail("timed_op_s") = main.ops.map(_.seconds)
      detail("heap_samples_mb") = heap.samplesMb.toSeq
      detail("timed_s") = main.seconds
      detail("window_wall_s") = main.wallS
      detail("input_bytes") = w.inputBytes
      detail("latency_samples") = lat.size
      tailPercentile(lat).foreach { case (p, v) =>
        detail("tail") = Map("percentile" -> p, "ms" -> v, "samples" -> lat.size)
      }

      val metrics: Seq[(String, Double, String)] = a.untracedThroughput match {
        case None => Seq(
          ("throughput_per_s", main.throughput, "1/s"),
          ("op_p50_ms", median(lat), "ms"),
          ("setup_s", setupS, "s"),
          ("peak_heap_mb", heap.peakMb, "MiB"),
          ("store_bytes_per_input_byte", storeRatio, "B/B"))
        case Some(untraced) =>
          val (layers, export) = layerMetrics(spark, probe, a)
          detail("trace_export") = export
          detail("untraced_throughput_per_s") = untraced
          detail("traced_throughput_per_s") = main.throughput
          layers ++ Seq(
            ("gc_ms", main.gcMs.toDouble / main.ops.size, "ms"),
            ("tracing_overhead_pct",
              (untraced / main.throughput - 1.0) * 100.0, "%"))
      }
      metrics.find(m => !m._2.isFinite).foreach { m =>
        failures += s"metric ${m._1} is ${m._2}"; failed += 1
      }
      if (failures.nonEmpty) detail("failures") = failures.take(20).toSeq
      println(Json.write(Map("detail" -> detail)))
      if (failed > 0) {
        System.err.println("perfbench: output checks failed:\n  " +
          failures.take(20).mkString("\n  "))
        return 1
      }
      println(Json.write(mutable.LinkedHashMap(
        "correct" -> true, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
          n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
      0
    } finally {
      spark.stop()
      // leave only the small reports behind
      Option(work.listFiles).foreach(_.filterNot(f =>
        f.getName.endsWith(".json")).foreach(deleteTree))
    }
  }

  /** The highest of p50..p99.9 with at least ten samples beyond it. */
  private def tailPercentile(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted.toIndexedSeq
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => s.size * (1 - p / 100) >= 10)
      .map(p => p -> s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** Per-layer metrics of the traced window, and the Jaeger export of its
    * calls, written and read back through the engine's own reader. */
  private def layerMetrics(spark: SparkSession, probe: Probe,
      a: Args): (Seq[(String, Double, String)], Map[String, Any]) = {
    probe.drain()
    val layers = Layer.of(probe)
    val perBoundary = layers.groupBy(_._1.boundary)
    val ms = Boundaries.flatMap { b =>
      val ls = perBoundary.getOrElse(b, Nil).map(_._2)
      Layer.Measures.zipWithIndex.map { case ((m, u), k) =>
        val v = if (ls.isEmpty) 0.0 else ls.map(l => Layer.values(l)(k)).sum / ls.size
        (s"$b.$m", v, u)
      }
    }
    val path = s"${a.work}/trace_export.json"
    val written = JaegerExport.write(path, a.workload, layers, probe)
    val read = TraceFrame.spansFromJaegerFile(spark, path)
    val (n, traces) = {
      val r = read.selectExpr("count(1)", "count(distinct traceID)").head()
      (r.getLong(0), r.getLong(1))
    }
    val ops = layers.map(_._1.op).distinct.size
    val info = Map[String, Any]("path" -> path, "spans_written" -> written,
      "spans_read" -> n, "traces_read" -> traces, "ops" -> ops,
      "calls" -> layers.size)
    if (n != written || traces != ops)
      throw new IllegalStateException(s"Jaeger export check failed: $info")
    (ms, info)
  }
}

/** Writes the traced calls as a Jaeger-UI JSON export: one trace per
  * op, op → call → job → stage. */
object JaegerExport {
  def write(path: String, workload: String,
      layers: Seq[(Call, Layer, Seq[JobRec])], probe: Probe): Long = {
    var spans = 0L
    var next = 0L
    def sid(): String = { next += 1; f"$next%016x" }
    val traces = layers.groupBy(_._1.op).toSeq.sortBy(_._1).map { case (op, cs) =>
      val tid = f"${op + 1}%032x"
      val procs = mutable.LinkedHashMap.empty[String, String]
      def pid(service: String): String =
        procs.getOrElseUpdate(service, s"p${procs.size + 1}")
      val out = mutable.ArrayBuffer.empty[Map[String, Any]]
      def span(parent: Option[String], service: String, name: String,
          startUs: Long, durUs: Long, tags: Seq[(String, Any)]): String = {
        val id = sid()
        out += mutable.LinkedHashMap[String, Any]("traceID" -> tid,
          "spanID" -> id, "flags" -> 1, "operationName" -> name,
          "references" -> parent.map(p => Map("refType" -> "CHILD_OF",
            "traceID" -> tid, "spanID" -> p)).toSeq,
          "startTime" -> startUs, "duration" -> math.max(0L, durUs),
          "tags" -> tags.map { case (k, v) => Map("key" -> k,
            "type" -> (v match {
              case _: Int | _: Long => "int64"
              case _: Double => "float64"
              case _ => "string"
            }), "value" -> v) },
          "logs" -> Seq.empty[Any], "processID" -> pid(service),
          "warnings" -> null).toMap
        id
      }
      val opStart = cs.map(_._1.startMs).min
      val opEnd = cs.map(_._1.endMs).max
      val root = span(None, "perfbench", s"$workload op $op", opStart * 1000,
        (opEnd - opStart) * 1000, Seq("op" -> op))
      cs.foreach { case (c, l, js) =>
        val cid = span(Some(root), c.boundary.takeWhile(_ != '.'), c.boundary,
          c.startMs * 1000, c.wallNs / 1000, Seq("jobs" -> l.jobs,
            "plan_ms" -> l.planMs, "driver_ms" -> l.driverMs,
            "exec_cpu_ms" -> l.execCpuMs,
            "shuffle_write_mb" -> l.shuffleWriteMb, "fs_ops" -> l.fsOps))
        js.foreach { j =>
          val jid = span(Some(cid), "spark", s"job ${j.id}",
            j.startMs * 1000, (j.endMs - j.startMs) * 1000,
            Seq("description" -> j.desc))
          j.stageIds.flatMap(probe.stages.get).filter(_.tasks > 0).foreach { s =>
            span(Some(jid), "spark", s"stage ${s.id}", s.submitMs * 1000,
              (s.endMs - s.submitMs) * 1000, Seq("tasks" -> s.tasks,
                "cpu_ms" -> s.cpuNs / 1e6, "name" -> s.name))
          }
        }
      }
      spans += out.size
      Map("traceID" -> tid, "spans" -> out.toSeq,
        "processes" -> procs.map { case (svc, p) =>
          p -> Map("serviceName" -> svc, "tags" -> Seq.empty[Any]) }.toMap,
        "warnings" -> null)
    }
    Files.write(Paths.get(path), Json.write(traces).getBytes(StandardCharsets.UTF_8))
    spans
  }
}

/** JSON for the harness's own reports. Non-finite numbers, which JSON
  * cannot hold, are written as null. */
object Json {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule().addSerializer(classOf[java.lang.Double],
      new JsonSerializer[java.lang.Double] {
        override def serialize(d: java.lang.Double, g: JsonGenerator,
            p: SerializerProvider): Unit =
          if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
      }))

  def write(v: Any): String = mapper.writeValueAsString(v)
}
