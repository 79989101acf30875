package graft.tools

import graft.sources.es.EsSpanOps

/** Drives the "es-spans" DSv2 format end-to-end with the fixture fake:
  * `sbt "Test/runMain graft.tools.DemoEs"`. */
object DemoEs {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.sessionBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val opts = Map("client" -> classOf[graft.FixtureEsClient].getName,
      "slices" -> "4")
    println("== raw es-spans scan (sliced scroll) ==")
    val raw = spark.read.format("es-spans")
      .option("endpoint", "fake://es").options(opts).load()
    raw.show(2, 80)
    println(s"span docs: ${raw.count()}")
    println("== traces_from_es (scan -> flatten -> assemble -> summarize) ==")
    EsSpanOps.traces(spark, "fake://es", opts)
      .drop("processes").show(6, truncate = false)
    spark.stop()
  }
}
