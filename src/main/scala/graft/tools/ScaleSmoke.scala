package graft.tools

import org.apache.spark.sql.functions._
import graft.analysis.CriticalPath
import graft.model.SpanLite

/** Scale-stress harness for the flagship operator: generates a large
  * synthetic span corpus distributively (no driver materialization) and
  * measures the critical-path pipeline — the 1000×-the-fixture check that
  * local bench data (40 traces) cannot provide.
  *
  * `sbt "runMain graft.tools.ScaleSmoke [nTraces] [spansPerTrace]"`
  * Default: 50k traces × 20 spans = 1M spans, plus one pathological
  * 100k-span trace to probe group skew.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nTraces = if (args.length > 0) args(0).toLong else 50000L
    val perTrace = if (args.length > 1) args(1).toInt else 20
    val spark = graft.Bench.sessionBuilder("32").getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // distributed generation: trace i = root + (perTrace-1) sequential
    // children, well-nested; no collect anywhere
    val base = 1700000000000000L
    val spans = spark.range(nTraces * perTrace).select(
      (col("id") / perTrace).cast("long").as("t"),
      (col("id") % perTrace).cast("long").as("j"))
      .select(
        concat(lit("trace"), col("t")).as("traceID"),
        concat(lit("s"), col("t"), lit("_"), col("j")).as("spanID"),
        concat(lit("op"), col("j") % 7).as("operationName"),
        (lit(base) + col("t") * 10000000L +
          when(col("j") === 0, 0L).otherwise(col("j") * 40000L + 1000L))
          .as("startTime"),
        when(col("j") === 0, lit(perTrace * 41000L))
          .otherwise(lit(39000L)).as("duration"),
        concat(lit("p"), col("j") % 5).as("processID"),
        when(col("j") === 0, lit(""))
          .otherwise(concat(lit("s"), col("t"), lit("_0"))).as("parent"),
        concat(lit("svc"), col("j") % 5).as("service"))
      .as[SpanLite]

    println(s"== critical path over ${nTraces} traces x $perTrace spans " +
      s"(${nTraces * perTrace} spans) ==")
    val segs = CriticalPath.segments(spans)
    val n = time("segments (full pipeline incl. shuffle)")(segs.count())
    println(s"  segments: $n")
    // every trace alternates child/root segments: 2*(perTrace-1)+1
    require(n == nTraces * (2 * (perTrace - 1) + 1) - nTraces + nTraces,
      s"unexpected segment count $n")

    println("== skew probe: one 100k-span trace among small ones ==")
    val skewed = spark.range(100000).select(
      lit("bigtrace").as("traceID"),
      concat(lit("b"), col("id")).as("spanID"),
      lit("op").as("operationName"),
      (lit(base) + when(col("id") === 0, 0L)
        .otherwise(col("id") * 50L + 10L)).as("startTime"),
      when(col("id") === 0, lit(100000L * 51L)).otherwise(lit(40L))
        .as("duration"),
      lit("p1").as("processID"),
      when(col("id") === 0, lit("")).otherwise(lit("b0")).as("parent"),
      lit("svc").as("service")).as[SpanLite]
    val skewN = time("100k-span single group")(
      CriticalPath.segments(skewed).count())
    println(s"  segments: $skewN")

    // the other single-trace pathology: maximal DEPTH instead of
    // breadth — a 100k-deep well-nested call chain. Exercises the
    // automaton's leader-stack descent/drain (heap List, no JVM
    // recursion) at 5000x the fixture's deepest trace; with the
    // LinkedHashSet returns this stays the same O(n log n) as the flat
    // probe (the sort dominates), where a quadratic automaton would
    // blow up here first
    println("== depth probe: one 100k-deep chain trace ==")
    val nDeep = 100000L
    val deep = spark.range(nDeep).select(
      lit("deeptrace").as("traceID"),
      concat(lit("d"), col("id")).as("spanID"),
      lit("op").as("operationName"),
      (lit(base) + col("id")).as("startTime"),
      ((lit(nDeep) - col("id")) * 3L).as("duration"),
      lit("p1").as("processID"),
      when(col("id") === 0, lit(""))
        .otherwise(concat(lit("d"), col("id") - 1)).as("parent"),
      lit("svc").as("service")).as[SpanLite]
    val deepN = time("100k-deep single chain")(
      CriticalPath.segments(deep).count())
    println(s"  segments: $deepN")
    // exact: one descent segment per parent + one drain segment per
    // span = 2n - 1 (same count as the flat probe, reached the other way)
    require(deepN == 2 * nDeep - 1,
      s"chain trace must tile exactly ${2 * nDeep - 1} segments, got $deepN")

    println("== plan ==")
    segs.explain()
    spark.stop()
  }
}
