package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import graft.expressions.{LastWinMap, ParentSpanId}

/** Span-shaping operators: raw traces → flat spans frame
  * (reference `spans_from_jaeger_file` / `append_spans`,
  * `/root/reference/traceframe/traceframe.py:436-495`).
  *
  * Core schema decision (SURVEY.md §1.3): the reference pivots every distinct
  * tag key into its own column (71 columns on its fixture; unbounded at
  * scale). Our core model keeps `tags` as a stable `MapType(String,String)`
  * column — schema-stable at 100 TB — and offers [[pivotTags]] as an explicit
  * wide pivot for interactive use: one census job, then the projection.
  */
object SpanOps {

  /** T3 `parent_span` (`traceframe.py:429-433`): first CHILD_OF reference's
    * spanID, else "" — one compiled pass ([[graft.expressions.SpanKernels]]). */
  def parentExpr(span: Column): Column =
    column(ParentSpanId(expression(span.getField("references"))))

  /** T4 `taglist_to_tags` (`traceframe.py:261-265`): tag entry array → map
    * with duplicate keys resolved LAST-wins, like the reference's dict
    * overwrite, in one compiled pass per span
    * ([[graft.expressions.SpanKernels.lastWinMap]]): no session-global
    * `spark.sql.mapKeyDedupPolicy` mutation is needed, so the operator
    * composes under any session config. A null key (or null tag) in the
    * last position raises `NULL_MAP_KEY`, as a map cannot hold one; one
    * earlier in the list drops itself and every tag before it, as the
    * three-valued higher-order form did. */
  def lastWinMap(entries: Column, valueField: String): Column =
    column(LastWinMap(expression(entries), valueField))

  private val emptyTags =
    array().cast("array<struct<key:string,type:string,value:string>>")

  /** T2 span flatten (`traceframe.py:455-471,485-495`): explode `spans`, add
    * `service` (processes-map lookup — a co-located map access, not a join)
    * and `parent`, fold the tag list into a map (T4 `taglist_to_tags`,
    * last-key-wins like the reference's dict overwrite). `tagTypes` keeps
    * the per-key Jaeger type discriminator (string/bool/int64/float64) so
    * [[pivotTags]] can emit typed columns like the reference's wide frame.
    *
    * Output: traceID, spanID, flags, operationName, startTime, duration,
    * logs, processID, warnings, service, parent, tags(map), tagTypes(map).
    * Narrow transformation — zero shuffles; nested-column pruning drops
    * untouched span fields at the parquet/JSON scan.
    */
  def flatten(rawTraces: DataFrame): DataFrame =
    rawTraces
      .select(col("processes"), explode(col("spans")).as("s"))
      .select(
        col("s.traceID"),
        col("s.spanID"),
        col("s.flags"),
        col("s.operationName"),
        col("s.startTime"),
        col("s.duration"),
        col("s.logs"),
        col("s.processID"),
        col("s.warnings"),
        try_element_at(col("processes"), col("s.processID"))
          .getField("serviceName").as("service"),
        parentExpr(col("s")).as("parent"),
        lastWinMap(coalesce(col("s.tags"), emptyTags), "value").as("tags"),
        lastWinMap(coalesce(col("s.tags"), emptyTags), "type").as("tagTypes"))

  /** Spark type per Jaeger tag-type discriminator. A key observed with
    * conflicting discriminators degrades to string (pandas' `object` analog). */
  private def sparkTypeFor(jaegerTypes: Set[String]): String =
    if (jaegerTypes.size != 1) "string"
    else jaegerTypes.head match {
      case "bool" => "boolean"
      case "int64" => "long"
      case "float64" => "double"
      case _ => "string"
    }

  /** Wide tag pivot: one column per tag key, TYPED by the Jaeger tag `type`
    * discriminator (bool/int64/float64/string) so the frame matches the
    * reference's per-key dtypes (`traceframe.py:466`, README.md:29-60) —
    * `df.filter($"http.status_code" > 400)` compares numerically, not
    * lexically. Same shape as Spark's own `Pivot`: one census job finds
    * the keys and their discriminators ([[keyCensus]]; skipped when `keys`
    * is given), then a pure projection with `try_cast` per key. `maxKeys`
    * guards against hostile key cardinality at scale (analogous to
    * `spark.sql.pivotMaxValues`). */
  def pivotTags(flatSpans: DataFrame, keys: Option[Seq[String]] = None,
      maxKeys: Int = 10000): DataFrame = {
    val hasTypes = flatSpans.columns.contains("tagTypes")
    val keyTypes: Seq[(String, String)] = keys match {
      case Some(ks) => ks.map(_ -> "string")
      case None =>
        keyCensus(flatSpans, if (hasTypes) "tagTypes" else "tags", hasTypes,
          maxKeys)
          .map { case (k, ts) =>
            k -> (if (hasTypes) sparkTypeFor(ts) else "string") }
    }
    require(keyTypes.size <= maxKeys,
      s"tag pivot would create ${keyTypes.size} columns (> $maxKeys); " +
        "pass an explicit key list or use the map-typed core schema")
    val fixed = flatSpans.columns
      .filterNot(c => c == "tags" || c == "tagTypes").map(col).toSeq
    val pivoted = keyTypes.map { case (k, t) =>
      val v = try_element_at(col("tags"), lit(k))
      (if (t == "string") v else v.try_cast(t)).as(k)
    }
    flatSpans.select(fixed ++ pivoted: _*)
  }

  /** The keys of the string map column `mapCol`, in Spark's string order,
    * each with the set of its non-null values when `withValues` (null
    * discriminators are ignored, as `countDistinct` ignores them; a set
    * stops growing at 2, which already means "conflicting"), else with an
    * empty set. One Spark job: each partition folds the map's exploded
    * entries, as internal rows, into a key table, and `treeAggregate`
    * merges the tables. Every table, per partition and merged, stops
    * taking new keys at `maxKeys + 1`, so driver and executor memory are
    * bounded by the key cap and the caller's cardinality guard still
    * fires; past the cap, which keys are kept is unspecified. The entries
    * are read through `explode(map_entries(…))`, not by walking `MapData`
    * by hand: with the hand walk the pivot's write job that follows ran at
    * about 2x its executor CPU through the first passes of a fresh JVM
    * (perfbench `trace-ingest`, 4 vCPUs). */
  private def keyCensus(flatSpans: DataFrame, mapCol: String,
      withValues: Boolean, maxKeys: Int): Seq[(String, Set[String])] = {
    type Census = Map[String, Set[String]]
    def merge(a: Census, b: Census): Census =
      b.foldLeft(a) { case (m, (k, ts)) =>
        if (m.contains(k)) m.updated(k, (m(k) ++ ts).take(2))
        else if (m.size <= maxKeys) m.updated(k, ts)
        else m
      }
    val entries = flatSpans.select(explode(map_entries(col(mapCol))).as("e"))
    val census = entries
      .select(col("e.key") +: (if (withValues) Seq(col("e.value")) else Nil): _*)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val seen = new java.util.HashMap[UTF8String, Set[String]]
        while (rows.hasNext && seen.size <= maxKeys) {
          val r = rows.next()
          val k = r.getUTF8String(0)
          var ts = seen.get(k)
          if (ts == null) { ts = Set.empty; seen.put(k.clone(), ts) }
          if (withValues && ts.size < 2 && !r.isNullAt(1))
            seen.put(k, ts + r.getString(1))
        }
        val out = Map.newBuilder[String, Set[String]]
        seen.forEach((k, ts) => out += k.toString -> ts)
        Iterator.single(out.result())
      }
      .treeAggregate(Map.empty: Census)(merge, merge)
    census.toSeq.sortWith((a, b) => UTF8String.fromString(a._1)
      .compareTo(UTF8String.fromString(b._1)) < 0)
  }

  /** Inverse of [[flatten]]: reassemble nested trace rows from a flat spans
    * frame — the shape of the reference's ES ingestion (`traces_from_es`,
    * `traceframe.py:268-317`), which groups raw span documents into traces
    * before summarizing. The reference hand-rolls a sort-based group-by
    * (sort by traceID + adjacency scan); the Spark shape is a plain hash
    * aggregation — one shuffle on traceID, no global sort (SURVEY.md §2.1 S9).
    *
    * Reconstructs the raw trace schema (references from `parent`, tag list
    * from the tag map with string types, processes map from per-span
    * service) so [[TraceOps.summarize]] runs on the result unchanged. */
  def assembleTraces(flatSpans: DataFrame): DataFrame = {
    val spanStruct = struct(
      col("traceID"), col("spanID"), col("flags"), col("operationName"),
      when(col("parent") === "",
        array().cast("array<struct<refType:string,traceID:string,spanID:string>>"))
        .otherwise(array(struct(
          lit("CHILD_OF").as("refType"),
          col("traceID").as("traceID"),
          col("parent").as("spanID")))).as("references"),
      col("startTime"), col("duration"),
      transform(map_entries(col("tags")),
        e => struct(e.getField("key").as("key"),
          lit("string").as("type"),
          e.getField("value").as("value"))).as("tags"),
      col("logs"), col("processID"), col("warnings"))
    flatSpans
      .groupBy(col("traceID"))
      .agg(
        collect_list(spanStruct).as("spans"),
        map_from_entries(array_distinct(collect_list(
          struct(col("processID"),
            struct(col("service").as("serviceName"),
              array().cast("array<struct<key:string,type:string,value:string>>")
                .as("tags")))))).as("processes"))
      .withColumn("warnings", lit(null).cast("array<string>"))
  }

  /** T13 `traceWithSpans` (`traceframe.py:620-632`): the trace's summary
    * row with its (deduplicated) spans as one nested row. Eager, like the
    * reference: two jobs, each bounded by one trace, collect the summary
    * row and the trace's spans; the driver keeps the first span per spanID
    * by `(startTime, duration)` (pandas' `drop_duplicates` keep-first is
    * row-order-dependent, which has no stable distributed analog), orders
    * the spans by `(startTime, spanID)` and returns a local frame.
    * Raises when the traceID is absent (`traceframe.py:625`), after the
    * first job. Both modes are eager: `strict = false` runs the same jobs
    * when the trace exists (the join form it replaced ran none until its
    * frame was read) and, when it is absent, returns an empty frame after
    * the first job, without reading the spans. */
  def traceWithSpans(traces: DataFrame, flatSpans: DataFrame,
      traceID: String, strict: Boolean = true): DataFrame = {
    val spark = traces.sparkSession
    val summary = traces.filter(col("traceID") === traceID)
    val spanCols = Seq("spanID", "operationName", "startTime", "duration",
      "processID", "parent", "service")
    val spans = flatSpans.filter(col("traceID") === traceID)
      .select(spanCols.map(col): _*)
    val key = summary.schema("traceID")
    val schema = StructType(key +: summary.schema.filterNot(_ == key) :+
      StructField("spans", ArrayType(spans.schema, containsNull = false),
        nullable = false))
    val rows = summary.collect()
    if (strict && rows.isEmpty)
      throw new NoSuchElementException(
        s"No trace with traceID=$traceID") // traceframe.py:625 raises
    val nested = if (rows.isEmpty) Nil else {
      val (start, dur, id) = (spans.schema.fieldIndex("startTime"),
        spans.schema.fieldIndex("duration"), spans.schema.fieldIndex("spanID"))
      // nulls first, as Spark's ascending sort puts them
      def long(r: Row, i: Int) =
        if (r.isNullAt(i)) Long.MinValue else r.getLong(i)
      val kept = spans.collect()
        .sortBy(r => (long(r, start), long(r, dur)))
        .groupBy(_.getString(id)).values.map(_.head).toSeq
        .sortBy(r => (long(r, start), Option(r.getString(id))))
      val k = summary.schema.fieldIndex("traceID")
      val rest = summary.schema.indices.filterNot(_ == k)
      // a trace without spans has no row, as in the summary ⋈ spans join
      if (kept.isEmpty) Nil
      else rows.toSeq.map(r => Row.fromSeq(
        (r.get(k) +: rest.map(r.get)) :+ kept))
    }
    spark.createDataFrame(java.util.Arrays.asList(nested: _*), schema)
  }
}
