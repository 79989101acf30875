package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.analysis.CriticalPath
import graft.operators.{SpanOps, TraceOps}
import graft.sources.JaegerJsonSource

/** Job, stage and input pins of the paper pass on the bundled fixture:
  * each stage does its work once, at full parallelism. The tag census is
  * one job, the one-trace lookup two, and the critical path's reduce
  * stage runs `defaultParallelism` tasks. */
class PaperPassPinsSpec extends SparkTestBase {

  private lazy val raw = JaegerJsonSource.traces(spark, fixturePath)
  private lazy val flat = SpanOps.flatten(raw)

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_pass").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("pivotTags finds its keys and types in ONE Spark job, typed or not") {
    val (wide, n) = withJobCount(SpanOps.pivotTags(flat))
    assert(n === 1)
    assert(wide.columns.length === 20)
    val (tagsOnly, m) = withJobCount(SpanOps.pivotTags(flat.drop("tagTypes")))
    assert(m === 1)
    assert(tagsOnly.columns.length === 20)
  }

  test("traceWithSpans runs 2 jobs; a missing trace raises after at most " +
      "1, or with strict = false comes back empty after 1") {
    val dir = tmpDir()
    TraceOps.summarize(raw).write.mode("overwrite").parquet(s"$dir/summary")
    flat.write.mode("overwrite").parquet(s"$dir/flat")
    val summary = spark.read.parquet(s"$dir/summary")
    val spans = spark.read.parquet(s"$dir/flat")
    val (rows, n) = withJobCount(
      SpanOps.traceWithSpans(summary, spans, "073a675ee5118cde").collect())
    assert(n === 2)
    assert(rows.length === 1)
    val (_, m) = withJobCount(intercept[NoSuchElementException](
      SpanOps.traceWithSpans(summary, spans, "nope")))
    assert(m <= 1)
    // strict = false is eager too: one job, and no read of the spans
    val (none, k) = withJobCount(
      SpanOps.traceWithSpans(summary, spans, "nope", strict = false))
    assert(k === 1)
    assert(none.isEmpty)
  }

  /** The lazy join `traceWithSpans` was before it turned eager: the
    * oracle of its schema and rows. */
  private def joinForm(traces: DataFrame, flatSpans: DataFrame,
      traceID: String): DataFrame = {
    val w = Window.partitionBy(col("spanID"))
      .orderBy(col("startTime"), col("duration"))
    val spansAgg = flatSpans
      .filter(col("traceID") === traceID)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .groupBy(col("traceID"))
      .agg(collect_list(struct(
        col("spanID"), col("operationName"), col("startTime"),
        col("duration"), col("processID"), col("parent"), col("service")))
        .as("spans"))
    traces.filter(col("traceID") === traceID).join(spansAgg, Seq("traceID"))
  }

  test("traceWithSpans equals the join form: schema with nullability, the " +
      "summary row, the deduplicated spans; no row for a trace without " +
      "spans") {
    val traces = TraceOps.summarize(raw)
    val doubled = flat.union(flat)
    val ids = traces.select(col("traceID"), col("nspans")).collect()
      .map(r => r.getString(0) -> r.getInt(1))
    val picked = ids.take(6) ++ ids.filter(_._2 == 0).take(1)
    assert(picked.exists(_._2 == 0), "the fixture holds an empty trace")
    def rows(df: DataFrame) = df.collect().map(r => Row.fromSeq(
      r.toSeq.init :+ r.getSeq[Row](r.length - 1)
        .sortBy(s => (s.getAs[Long]("startTime"), s.getAs[String]("spanID")))))
      .toSeq
    picked.foreach { case (id, _) =>
      val got = SpanOps.traceWithSpans(traces, doubled, id)
      val want = joinForm(traces, doubled, id)
      assert(got.schema === want.schema, id)
      assert(rows(got) === rows(want), id)
    }
    val none = SpanOps.traceWithSpans(traces, flat, "nope", strict = false)
    assert(none.schema === joinForm(traces, flat, "nope").schema)
    assert(none.isEmpty)
  }

  test("segmentsFromFlat's reduce stage runs defaultParallelism tasks") {
    val stages = scala.collection.concurrent.TrieMap.empty[Int, Int]
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.put(e.stageInfo.stageId, e.stageInfo.numTasks); ()
      }
    })(CriticalPath.segmentsFromFlat(flat).collect())
    val last = stages(stages.keys.max)
    assert(last === spark.sparkContext.defaultParallelism)
  }
}
