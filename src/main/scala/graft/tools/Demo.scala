package graft.tools

import graft.TraceFrame
import graft.operators.SpanOps
import graft.sources.JaegerJsonSource

/** Example program driving the public TraceFrame API end-to-end on the
  * bundled fixture — the Spark-native equivalent of the reference's README
  * usage (`/root/reference/README.md:11-60`). Run:
  * `sbt "runMain graft.tools.Demo"` */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.sessionBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val path =
      if (args.nonEmpty) args(0)
      else JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")

    println("=== traces summary frame (reference: traces_from_jaeger_file) ===")
    val traces = TraceFrame.tracesFromJaegerFile(spark, path)
    traces.drop("processes").show(8, truncate = false)

    println("=== flat spans frame, map-typed tags (spans_from_jaeger_file) ===")
    val spans = TraceFrame.spansFromJaegerFile(spark, path)
    spans.select("traceID", "spanID", "operationName", "service", "parent",
      "startTime", "duration").show(8, truncate = false)

    println("=== wide (tag-pivoted) spans frame ===")
    val wide = SpanOps.pivotTags(spans)
    println(s"wide columns (${wide.columns.length}): " +
      wide.columns.mkString(", "))

    println("=== critical path segments (get_critical_segments, all traces) ===")
    val crits = TraceFrame.criticalSegments(spans)
    crits.toDF().selectExpr("span.traceID", "span.spanID", "span.service",
      "startTime", "duration").show(10, truncate = false)
    println(s"traces=${traces.count()} spans=${spans.count()} " +
      s"critSegs=${crits.count()}")

    spark.stop()
  }
}
