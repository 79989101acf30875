package graft.tools

import graft.sources.jaeger.JaegerSource

/** Drives the "jaeger" DSv2 format end-to-end with the fixture-backed
  * client: `sbt "Test/runMain graft.tools.DemoJaeger"`. */
object DemoJaeger {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.sessionBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val opts = Map(
      "client" -> classOf[graft.FixtureJaegerClient].getName,
      "partitions" -> "4",
      "start" -> "1700000000000000", "end" -> "1700000300000000",
      "maxReturnable" -> "5")
    println("== spark.read.format(\"jaeger\") raw scan ==")
    JaegerSource.rawResponses(spark, "fake://jaeger", opts).show(3, 60)
    println("== typed traces via the connector ==")
    val traces = JaegerSource.traces(spark, "fake://jaeger", opts)
    traces.drop("processes").show(5, truncate = false)
    println(s"total traces: ${traces.count()}; API calls made: ${graft.FixtureJaegerClient.calls.size()}")
    println("== limit pushdown plan ==")
    JaegerSource.rawTraces(spark, "fake://jaeger", opts).limit(3).explain()
    spark.stop()
  }
}
