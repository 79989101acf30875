package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.JaegerModel
import graft.operators.{SpanOps, TraceOps}
import graft.sources.JaegerJsonSource

/** The compiled span kernels ([[graft.expressions.SpanKernels]]) against
  * the higher-order spellings they replaced, which live on here only, as
  * the oracle: kernel ≡ HOF form on the fixture and on every null and
  * empty edge, with the generated path (whole-stage codegen,
  * `CODEGEN_ONLY`) and the interpreted path (`NO_CODEGEN`) each. */
class SpanKernelsSpec extends SparkTestBase {

  // --- the pre-kernel HOF forms, verbatim ---------------------------------

  private def hofParent(span: Column): Column =
    coalesce(
      get(filter(span.getField("references"),
        r => r.getField("refType") === "CHILD_OF"), lit(0))
        .getField("spanID"),
      lit(""))

  private def hofLastWinMap(entries: Column, valueField: String): Column = {
    val withIdx = transform(entries, (t, i) =>
      struct(t.getField("key").as("key"),
        t.getField(valueField).as("value"), i.as("i")))
    val kept = filter(withIdx, e =>
      !exists(withIdx, o =>
        o.getField("key") === e.getField("key") &&
          o.getField("i") > e.getField("i")))
    map_from_entries(transform(kept, e =>
      struct(e.getField("key").as("key"), e.getField("value").as("value"))))
  }

  private def hofRoot(spans: Column): Column =
    coalesce(
      get(filter(spans, s => size(s.getField("references")) === 0), lit(0)),
      get(spans, lit(0)))

  private def hofErrCount(spans: Column): Column =
    coalesce(
      aggregate(spans, lit(0),
        (acc, s) =>
          acc + coalesce(
            size(filter(coalesce(s.getField("tags"), array()),
              t => t.getField("key") === "error")),
            lit(0))),
      lit(0))

  // --- inputs ---------------------------------------------------------------

  private def tag(k: String, t: String, v: String) = Row(k, t, v)
  private def ref(t: String, id: String) = Row(t, "t", id)
  private def span(id: String, refs: Seq[Row], tags: Seq[Row]) =
    Row("t", id, 1L, "op", refs, 1L, 2L, tags, null, "p1", null)

  /** Rows of `schema` from an RDD, so no optimizer rule folds the
    * projection on the driver and the kernels run in tasks. */
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private lazy val traces = frame(Seq(
    Row("null spans", null, null, null),
    Row("empty spans", Seq.empty, null, null),
    Row("null-element spans", Seq(null), null, null),
    Row("missing root", Seq(
      span("a", Seq(ref("CHILD_OF", "x")), Seq(tag("error", "bool", "true"))),
      span("b", Seq(ref("FOLLOWS_FROM", "a")), null)), null, null),
    Row("null refs before root", Seq(
      span("a", null, Seq(tag("error", "bool", "true"),
        tag("error", "string", "x"), null)),
      null,
      span("b", Seq.empty, Seq(tag("k", "string", "v"))),
      span("c", Seq.empty, Seq.empty)), null, null),
    Row("null first span", Seq(null, span("a", Seq(ref("CHILD_OF", "x")),
      Seq(tag("error", "bool", "true")))), null, null)),
    JaegerModel.traceSchema)

  private lazy val spans = frame(Seq(
    Row(span("null tags", null, null)),
    Row(span("empty tags", Seq.empty, Seq.empty)),
    Row(span("dup keys, types differ", Seq(ref("FOLLOWS_FROM", "f")),
      Seq(tag("a", "string", "1"), tag("b", "int64", "2"),
        tag("a", "bool", "true"), tag("c", "string", null),
        tag("b", "float64", "2.5")))),
    Row(span("null value", Seq(null, ref("CHILD_OF", "p"), ref("CHILD_OF", "q")),
      Seq(tag("k", "string", null)))),
    Row(span("null refType, null CHILD_OF id", Seq(ref(null, "n"),
      ref("CHILD_OF", null), ref("CHILD_OF", "q")), Seq(tag("x", null, "1")))),
    Row(span("many tags", Seq(ref("FOLLOWS_FROM", "a"), ref("CHILD_OF", "b")),
      (0 until 40).map(i => tag(s"k${i % 23}", "string", s"v$i"))))),
    StructType(Seq(org.apache.spark.sql.types.StructField("s",
      JaegerModel.spanSchema))))

  /** Collects `f()` with codegen on (whole-stage, `CODEGEN_ONLY`) and off
    * (`NO_CODEGEN`, no whole-stage), returning both. */
  private def bothPaths[T](f: () => T): (T, T) = {
    def under(wholeStage: String, mode: String): T = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try f()
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    (under("true", "CODEGEN_ONLY"), under("false", "NO_CODEGEN"))
  }

  /** `kernel` and `hof` over `df`, each collected down both paths: all
    * four results are equal (entries compared in map order). */
  private def assertParity(df: DataFrame, kernel: Column, hof: Column): Unit = {
    def run(c: Column) = () => df.select(col(df.columns.head), c.as("v"))
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    val (kGen, kInt) = bothPaths(run(kernel))
    val (hGen, hInt) = bothPaths(run(hof))
    assert(kGen === hGen)
    assert(kInt === hInt)
    assert(kGen === kInt)
  }

  test("parent kernel ≡ HOF form: first CHILD_OF ref's spanID, else \"\"") {
    assertParity(spans.select(col("s.spanID").as("id"), col("s")),
      SpanOps.parentExpr(col("s")), hofParent(col("s")))
    // a null span struct has no references either
    val nullSpan = frame(Seq(Row("x", null)), StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("s", JaegerModel.spanSchema))))
    assertParity(nullSpan, SpanOps.parentExpr(col("s")), hofParent(col("s")))
  }

  test("last-win map kernel ≡ HOF form: entry order, null values, both fields") {
    val df = spans.select(col("s.spanID").as("id"), col("s.tags").as("tags"))
    for (field <- Seq("value", "type")) {
      assertParity(df, map_entries(SpanOps.lastWinMap(col("tags"), field)),
        map_entries(hofLastWinMap(col("tags"), field)))
      def typeOf(c: Column) = {
        val f = df.select(c).schema.head
        (f.dataType, f.nullable)
      }
      assert(typeOf(SpanOps.lastWinMap(col("tags"), field)) ===
        typeOf(hofLastWinMap(col("tags"), field)))
    }
    val dup = df.filter(col("id") === "dup keys, types differ")
      .select(map_entries(SpanOps.lastWinMap(col("tags"), "type")))
      .head().getSeq[Row](0).map(r => r.getString(0) -> r.getString(1))
    assert(dup === Seq("a" -> "bool", "c" -> "string", "b" -> "float64"))
  }

  test("last-win map kernel ≡ HOF form on null keys and null tags: last " +
      "position raises NULL_MAP_KEY, elsewhere the tag and all before it drop") {
    val tagsType = JaegerModel.spanSchema("tags").dataType
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tags", tagsType)))
    val a = tag("a", "string", "1")
    val b = tag("b", "string", "2")
    val nullKey = tag(null, "string", "3")
    // three-valued `exists`: a later null key makes every earlier tag's
    // "is there a later occurrence" test null, so filter drops it
    val dropping = frame(Seq(
      Row("null key first", Seq(nullKey, a)),
      Row("null tag first", Seq(null, a)),
      Row("null tag between", Seq(a, null, b)),
      Row("null key between, key repeats", Seq(a, nullKey, b, a)),
      Row("two nulls", Seq(b, null, a, nullKey, b))), schema)
    assertParity(dropping, map_entries(SpanOps.lastWinMap(col("tags"), "value")),
      map_entries(hofLastWinMap(col("tags"), "value")))
    val kept = dropping.select(col("id"),
        map_entries(SpanOps.lastWinMap(col("tags"), "value")))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Row](1).map(e => e.getString(0) -> e.getString(1))).toMap
    assert(kept("null key first") === Seq("a" -> "1"))
    assert(kept("null tag between") === Seq("b" -> "2"))
    assert(kept("null key between, key repeats") === Seq("b" -> "2", "a" -> "1"))
    assert(kept("two nulls") === Seq("b" -> "2"))
    for (tags <- Seq(Seq(a, nullKey), Seq(a, null), Seq(nullKey, a, null))) {
      val df = frame(Seq(Row("last", tags)), schema)
      // the innermost error condition: a task failure arrives wrapped
      def condition(c: Column) = Iterator
        .iterate[Throwable](intercept[Exception](df.select(c).collect()))(
          _.getCause)
        .takeWhile(_ != null)
        .collect { case t: SparkThrowable if t.getCondition != null =>
          t.getCondition }
        .toSeq.lastOption.orNull
      val hof = condition(hofLastWinMap(col("tags"), "value"))
      assert(hof === "NULL_MAP_KEY")
      val (gen, int) = bothPaths(() =>
        condition(SpanOps.lastWinMap(col("tags"), "value")))
      assert(gen === hof && int === hof)
    }
  }

  test("root and error-count kernels ≡ HOF forms: null, empty, null-element " +
      "spans, a missing root, per-TAG counting") {
    assertParity(traces, TraceOps.rootSpan(col("spans")).getField("spanID"),
      hofRoot(col("spans")).getField("spanID"))
    assertParity(traces, TraceOps.rootSpan(col("spans")),
      hofRoot(col("spans")))
    assertParity(traces, TraceOps.errTagCount(col("spans")),
      hofErrCount(col("spans")))
    val counts = traces.select(col("traceID"), TraceOps.errTagCount(col("spans")))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(counts("null refs before root") === 2)
    assert(counts("null spans") === 0)
  }

  test("flatten and summarize on the fixture equal their HOF-form plans " +
      "row for row, schema included") {
    val raw = JaegerJsonSource.traces(spark, fixturePath)
    val emptyTags =
      array().cast("array<struct<key:string,type:string,value:string>>")
    val s = raw.select(col("traceID").as("tid"), explode(col("spans")).as("s"))
    val tags = coalesce(col("s.tags"), emptyTags)
    val kernels = Seq(SpanOps.parentExpr(col("s")),
      map_entries(SpanOps.lastWinMap(tags, "value")),
      map_entries(SpanOps.lastWinMap(tags, "type")))
    val hofs = Seq(hofParent(col("s")),
      map_entries(hofLastWinMap(tags, "value")),
      map_entries(hofLastWinMap(tags, "type")))
    assertParity(s, struct(kernels: _*), struct(hofs: _*))
    val t = raw.select(col("traceID"), col("spans"))
    val tk = Seq(TraceOps.rootSpan(col("spans")), TraceOps.errTagCount(col("spans")))
    val th = Seq(hofRoot(col("spans")), hofErrCount(col("spans")))
    assertParity(t, struct(tk: _*), struct(th: _*))
    def types(df: DataFrame, cs: Seq[Column]) =
      df.select(cs: _*).schema.map(f => (f.dataType, f.nullable))
    assert(types(s, kernels) === types(s, hofs))
    assert(types(t, tk) === types(t, th))
  }
}
