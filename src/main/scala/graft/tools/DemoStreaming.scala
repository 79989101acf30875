package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.SpanOps
import graft.sources.JaegerJsonSource
import graft.streaming.TraceStreams

/** Drives the streaming module on the bundled fixture:
  * `sbt "runMain graft.tools.DemoStreaming"`. */
object DemoStreaming {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.sessionBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
    val flat = SpanOps.flatten(JaegerJsonSource.traces(spark, fx))
      .select("traceID", "spanID", "operationName", "startTime", "duration",
        "processID", "parent", "service")
    val dir = Files.createTempDirectory("graft_demo_stream").toString
    flat.coalesce(1).write.mode("overwrite").json(dir)

    val q = TraceStreams.serviceWindowStats(
      TraceStreams.spanFileStream(spark, dir))
      .writeStream.outputMode("complete").format("memory")
      .queryName("svc").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    println("== per-service windowed span metrics (streaming) ==")
    spark.table("svc").orderBy(desc("n_spans")).show(8, truncate = false)
    spark.stop()
  }
}
