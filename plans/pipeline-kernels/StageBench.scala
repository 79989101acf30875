package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import graft.{Bench, TraceFrame}
import graft.analysis.CriticalPath
import graft.operators.{SpanOps, TraceOps}
import graft.sources.JaegerJsonSource

/** Per-stage micro-bench of the paper pass on one seeded `trace-ingest`
  * batch. Not part of the build: `stagebench.sh` compiles it against a
  * checkout's perfbench classpath and runs it, so the same file times
  * the parent's stages and the change's.
  *
  *   StageBench <work dir> <seed> <reps>
  *
  * Writes the seed's batch (`TraceGen`, as `trace-ingest` does), runs
  * every stage `reps` times untimed to warm the JIT, then `reps` timed
  * rounds, each stage once per round in pass order, forced the way the
  * workload forces it (a parquet write, or a `collect` for the lookup;
  * the lookup's read of the stored summary stays untimed, as there).
  * Prints one JSON line per stage: the median wall ms, the median
  * executor CPU ms (task `executorCpuTime` summed over the stage's
  * jobs) and the job count of one call. */
object StageBench {

  def main(argv: Array[String]): Unit = {
    val Array(work, seedArg, repsArg) = argv
    val (seed, reps) = (seedArg.toLong, repsArg.toInt)
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = Bench.sessionBuilder(cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val batch = TraceGen.write(s"$work/input.jsonl", TraceIngest.Traces, seed)
    val out = s"$work/pass"

    val jobs = new AtomicLong
    val cpuNs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (e.taskMetrics != null)
          cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
        ()
      }
    })

    val raw = JaegerJsonSource.tracesJsonl(spark, batch.path)
    val schema = SpanOps.flatten(raw).schema
    def flat = spark.read.schema(schema).parquet(s"$out/flat")
    val lookupIds = batch.traceIds.indices
      .filter(batch.spanCounts(_) > 0).map(batch.traceIds(_))
    var lookups = 0
    // each stage prepares untimed, then returns its timed call
    val stages: Seq[(String, () => () => Unit)] = Seq(
      "flatten" -> (() => () =>
        SpanOps.flatten(raw).write.mode("overwrite").parquet(s"$out/flat")),
      "pivot_tags" -> (() => () =>
        SpanOps.pivotTags(flat).write.mode("overwrite").parquet(s"$out/wide")),
      "summarize" -> (() => () =>
        TraceOps.summarize(raw).write.mode("overwrite")
          .parquet(s"$out/summary")),
      "critical_path" -> (() => () =>
        CriticalPath.segmentsFromFlat(flat).write.mode("overwrite")
          .parquet(s"$out/critical")),
      "trace_with_spans" -> (() => {
        val id = lookupIds(lookups % lookupIds.size)
        lookups += 1
        val (summary, spans) = (spark.read.parquet(s"$out/summary"), flat)
        () => {
          val rows = TraceFrame.traceWithSpans(summary, spans, id).collect()
          require(rows.length == 1, s"lookup $id: ${rows.length} rows")
        }
      }))

    def measure(prepare: () => () => Unit): (Double, Double, Long) = {
      val f = prepare()
      Thread.sleep(200)
      val (j0, c0, t0) = (jobs.get, cpuNs.get, System.nanoTime)
      f()
      val wall = (System.nanoTime - t0) / 1e6
      // the listener bus delivers task ends asynchronously
      Thread.sleep(200)
      (wall, (cpuNs.get - c0) / 1e6, jobs.get - j0)
    }

    for (_ <- 0 until reps; (_, f) <- stages) f()()
    val rounds = (0 until reps).map(_ => stages.map { case (n, f) =>
      n -> measure(f) })
    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    stages.map(_._1).foreach { n =>
      val ms = rounds.map(_.find(_._1 == n).get._2)
      println(f"""{"stage": "$n", "wall_ms": ${median(ms.map(_._1))}%.1f, """ +
        f""""exec_cpu_ms": ${median(ms.map(_._2))}%.1f, """ +
        s""""jobs": ${ms.map(_._3).max}, "reps": $reps}""")
    }
    spark.stop()
  }
}
