package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.model.SpanLite
import graft.operators.SpanOps
import graft.sources.JaegerJsonSource
import graft.streaming.TraceStreams

/** Streaming smoke tests: batch parquet/JSONL drives each streaming query
  * synchronously through the memory sink (spark_guide.md pattern). */
class StreamingSpec extends SparkTestBase {

  private def writeSpanJsonl(): String = {
    val flat = SpanOps.flatten(JaegerJsonSource.traces(spark, fixturePath))
      .select("traceID", "spanID", "operationName", "startTime", "duration",
        "processID", "parent", "service")
    val dir = Files.createTempDirectory("graft_stream").toString
    flat.coalesce(1).write.mode("overwrite").json(dir)
    dir
  }

  test("windowed span metrics stream produces the batch-equivalent counts") {
    val dir = writeSpanJsonl()
    val stream = TraceStreams.serviceWindowStats(
      TraceStreams.spanFileStream(spark, dir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("svc_stats")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("svc_stats")
      .agg(sum("n_spans")).head().getLong(0)
    assert(got === 331) // every fixture span lands in some window
  }

  test("windowed latency percentiles stream matches the batch windows " +
      "exactly (t33's streaming twin)") {
    val dir = writeSpanJsonl()
    val stream = TraceStreams.serviceLatencyStream(
      TraceStreams.spanFileStream(spark, dir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("lat_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("lat_stream")
      .selectExpr("window.start", "service", "n_spans", "p50_us", "p95_us")
      .collect().map(_.toString).sorted
    val batch = spark.read.schema(TraceStreams.spanStreamSchema).json(dir)
      .withColumn("eventTime", timestamp_micros(col("startTime")))
      .groupBy(window(col("eventTime"), "1 minute"), col("service"))
      .agg(count(lit(1)).as("n_spans"),
        round(expr("percentile(duration, 0.5)"), 4).as("p50_us"),
        round(expr("percentile(duration, 0.95)"), 4).as("p95_us"))
      .selectExpr("window.start", "service", "n_spans", "p50_us", "p95_us")
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq)
  }

  test("session windows merge nearby spans per service") {
    val dir = writeSpanJsonl()
    val stream = TraceStreams.serviceSessions(
      TraceStreams.spanFileStream(spark, dir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("svc_sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("svc_sessions")
    assert(rows.agg(sum("n_spans")).head().getLong(0) === 331)
    // session merge actually happened: fewer sessions than spans
    assert(rows.count() < 331)
    assert(rows.select("session_window.start").head() != null)
  }

  test("event-time critical-path stream: late spans merge, watermark flushes") {
    import SparkTestBase.session.implicits._
    val flat = SpanOps.flatten(JaegerJsonSource.traces(spark, fixturePath))
      .select(col("traceID"), col("spanID"), col("operationName"),
        col("startTime"), col("duration"), col("processID"), col("parent"),
        col("service")).as[SpanLite].collect()

    // batch 1: half of every trace's spans; batch 2: the LATE other half
    // (out of order but inside the watermark delay); batches 3+4: sentinel
    // spans far in the future — 3 advances the watermark past every
    // trace's (end + gap), 4 triggers the batch in which timeouts fire.
    val dir = Files.createTempDirectory("graft_stream_cp").toString
    val (half1, half2) = flat.zipWithIndex.partition(_._2 % 2 == 0)
    val maxEnd = flat.map(s => s.startTime + s.duration).max
    def sentinel(id: String, at: Long) = SpanLite("sentinel_trace", id,
      "noop", at, 1000L, "p1", "", "sentinel")
    def write(name: String, spans: Seq[SpanLite]): Unit =
      spark.createDataset(spans).toDF().coalesce(1)
        .write.mode("overwrite").json(s"$dir/$name")
    write("b1", half1.map(_._1).toSeq)
    write("b2", half2.map(_._1).toSeq)
    write("b3", Seq(sentinel("s1", maxEnd + 3600L * 1000000)))
    write("b4", Seq(sentinel("s2", maxEnd + 3601L * 1000000)))

    val streamSpans = spark.readStream
      .schema(TraceStreams.spanStreamSchema)
      .option("maxFilesPerTrigger", 1)   // one file per micro-batch
      .json(s"$dir/*")
      .as[SpanLite]
    val segs = TraceStreams.criticalPathStream(streamSpans,
      gapMs = 5000, watermarkDelay = "30 minutes")
    val q = segs.toDF().writeStream.outputMode("append")
      .format("memory").queryName("crit_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("crit_stream")
      .where(col("span.traceID") =!= "sentinel_trace")
      .selectExpr("startTime", "duration", "span.spanID")
      .collect().map(_.toString).sorted
    // value equality with the batch operator: the split/late delivery must
    // reassemble every trace exactly
    val batch = graft.analysis.CriticalPath.segmentsFromFlat(
      spark.createDataset(flat.toSeq).toDF())
      .toDF().selectExpr("startTime", "duration", "span.spanID")
      .collect().map(_.toString).sorted
    assert(streamed.length === 546)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("event-time critical path: too-late spans are dropped, not merged") {
    import SparkTestBase.session.implicits._
    val base = 1700000000000000L
    def sp(tid: String, sid: String, parent: String, start: Long,
        dur: Long) = SpanLite(tid, sid, "op", start, dur, "p1", parent, "svc")
    val dir = Files.createTempDirectory("graft_stream_late").toString
    def write(name: String, spans: Seq[SpanLite]): Unit =
      spark.createDataset(spans).toDF().coalesce(1)
        .write.mode("overwrite").json(s"$dir/$name")
    // trace t1 completes in batch 1; batch 2's sentinel pushes the
    // watermark far past it; batch 3 carries a WAY-too-late extra child of
    // t1 (beyond the 1-minute delay) plus a trigger sentinel; batch 4
    // triggers timeout processing
    write("b1", Seq(sp("t1", "root", "", base, 100000L),
      sp("t1", "child", "root", base + 10000L, 50000L)))
    write("b2", Seq(sp("s", "s1", "", base + 7200L * 1000000, 1000L)))
    write("b3", Seq(sp("t1", "late", "root", base + 20000L, 1000L),
      sp("s", "s2", "", base + 7201L * 1000000, 1000L)))
    write("b4", Seq(sp("s", "s3", "", base + 7202L * 1000000, 1000L)))
    val streamSpans = spark.readStream
      .schema(TraceStreams.spanStreamSchema)
      .option("maxFilesPerTrigger", 1).json(s"$dir/*").as[SpanLite]
    val segs = TraceStreams.criticalPathStream(streamSpans,
      gapMs = 1000, watermarkDelay = "1 minute")
    val q = segs.toDF().writeStream.outputMode("append")
      .format("memory").queryName("crit_late")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val t1 = spark.table("crit_late")
      .where(col("span.traceID") === "t1")
      .select("span.spanID").collect().map(_.getString(0)).toSet
    // t1 flushed from batches 1-2 only; the too-late span never appears
    assert(t1 === Set("root", "child"))
  }

  test("event-time critical path: straggler behind the timeout is tombstoned") {
    import SparkTestBase.session.implicits._
    val base = 1700000000000000L
    def sp(tid: String, sid: String, parent: String, start: Long,
        dur: Long) = SpanLite(tid, sid, "op", start, dur, "p1", parent, "svc")
    val dir = Files.createTempDirectory("graft_stream_ts").toString
    def write(name: String, spans: Seq[SpanLite]): Unit =
      spark.createDataset(spans).toDF().coalesce(1)
        .write.mode("overwrite").json(s"$dir/$name")
    // b1: t1's child spans only (end base+65s); b2: sentinel A lifts the
    // watermark to base+70s (> end+gap); b3: sentinel B triggers the batch
    // where t1 times out and emits its child-only partial path (tombstone
    // set for 30s of watermark time); b4: t1's ROOT — a straggler above
    // the watermark but behind the emission — plus sentinel C; b5:
    // sentinel D lifts the watermark past the tombstone so cleanup runs;
    // a buggy re-open would emit a second root-only path here.
    write("b1", Seq(sp("t1", "c1", "root", base, 60000000L),
      sp("t1", "c2", "root", base + 60000000L, 5000000L)))
    write("b2", Seq(sp("s", "sA", "", base + 129000000L, 1000000L)))
    write("b3", Seq(sp("s", "sB", "", base + 130000000L, 1000000L)))
    write("b4", Seq(sp("t1", "root", "", base, 80000000L),
      sp("s", "sC", "", base + 131000000L, 1000000L)))
    write("b5", Seq(sp("s", "sD", "", base + 200000000L, 1000000L)))
    val streamSpans = spark.readStream
      .schema(TraceStreams.spanStreamSchema)
      .option("maxFilesPerTrigger", 1).json(s"$dir/*").as[SpanLite]
    val segs = TraceStreams.criticalPathStream(streamSpans,
      gapMs = 1000, watermarkDelay = "1 minute", tombstoneMs = 30000L)
    val q = segs.toDF().writeStream.outputMode("append")
      .format("memory").queryName("crit_tomb")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val t1Spans = spark.table("crit_tomb")
      .where(col("span.traceID") === "t1")
      .select("span.spanID").collect().map(_.getString(0))
    // exactly ONE emission (the child-only partial path): the late root
    // never re-opens the trace as a second overlapping decomposition
    assert(t1Spans.nonEmpty)
    assert(!t1Spans.contains("root"))
  }

  test("streaming dedup drops in-watermark duplicates (batch-twin parity)") {
    val dir = writeSpanJsonl()
    // duplicate the whole feed: same rows written twice into the stream dir
    val flat = spark.read.json(dir)
    flat.coalesce(1).write.mode("append").json(dir)
    val deduped = TraceStreams.dedupStream(
      TraceStreams.spanFileStream(spark, dir),
      keyCols = Seq("traceID", "spanID"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_stream")
    assert(got.count() === 331) // one copy per span, not two
    // value equality with the batch twin on the same doubled input
    val batch = spark.read.schema(TraceStreams.spanStreamSchema).json(dir)
      .dropDuplicates("traceID", "spanID")
    assert(got.select("traceID", "spanID").except(
      batch.select("traceID", "spanID")).isEmpty)
  }

  test("stream-stream join enriches spans with their root (batch parity)") {
    val dir = writeSpanJsonl()
    val enriched = TraceStreams.enrichWithRoot(
      TraceStreams.spanFileStream(spark, dir))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("root_join")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("root_join")
      .select("traceID", "spanID", "rootService", "rootOperation")
    // batch twin: plain inner join with the same time-bound predicate
    val spans = spark.read.schema(TraceStreams.spanStreamSchema).json(dir)
      .withColumn("eventTime", timestamp_micros(col("startTime")))
    val roots = spans.filter(col("parent") === "")
      .select(col("traceID").as("rtid"), col("service").as("rootService"),
        col("operationName").as("rootOperation"),
        col("eventTime").as("rootTime"))
    val batch = spans.join(roots,
      col("traceID") === col("rtid") &&
        col("eventTime") >= col("rootTime") &&
        col("eventTime") <= col("rootTime") + expr("INTERVAL 1 minute"))
      .select("traceID", "spanID", "rootService", "rootOperation")
    assert(got.count() > 0)
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
  }

  test("curation ops apply unchanged to streams (hash sample + split)") {
    // hashSample/assignSplit are stateless narrow ops, so the SAME
    // operator code runs on a stream — and, being hash-deterministic,
    // selects exactly the rows the batch twin selects
    val dir = writeSpanJsonl()
    val stream = graft.operators.Curation.assignSplit(
      graft.operators.Curation.hashSample(
        TraceStreams.spanFileStream(spark, dir), "spanID", 5000),
      "spanID", 8000, 1000)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("curation_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("curation_stream").select("spanID", "split")
    val batch = graft.operators.Curation.assignSplit(
      graft.operators.Curation.hashSample(
        spark.read.schema(TraceStreams.spanStreamSchema).json(dir),
        "spanID", 5000),
      "spanID", 8000, 1000).select("spanID", "split")
    assert(got.count() > 0 && got.count() < 331)
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
  }

  test("pii redaction + pq encoding are stream-safe (batch parity)") {
    // both are stateless narrow ops (regexp chain; codegen'd expression
    // with batch-trained codebooks), so the SAME operator code runs on a
    // file stream and must produce exactly the batch outputs
    import graft.functions.TextFunctions
    import graft.operators.Similarity
    def streamCopyOf(table: String): (String,
        org.apache.spark.sql.types.StructType) = {
      val src = s"/root/testdata/sf0.001/$table.parquet"
      val dir = Files.createTempDirectory(s"graft_stream_$table")
      Files.copy(java.nio.file.Paths.get(src),
        dir.resolve(s"$table.parquet"))
      (dir.toString, spark.read.parquet(src).schema)
    }
    val (ddir, dSchema) = streamCopyOf("documents")
    val sd = spark.readStream.schema(dSchema).parquet(ddir)
      .select(col("doc_id"), TextFunctions.redactPii(col("text")).as("r"))
    val qd = sd.writeStream.outputMode("append").format("memory")
      .queryName("redact_stream").trigger(Trigger.AvailableNow()).start()
    qd.processAllAvailable(); qd.stop()
    val batchD = spark.read.parquet(s"$ddir/documents.parquet")
      .select(col("doc_id"), TextFunctions.redactPii(col("text")).as("r"))
    val gotD = spark.table("redact_stream")
    assert(gotD.count() === batchD.count())
    assert(gotD.except(batchD).isEmpty && batchD.except(gotD).isEmpty)

    val (edir, eSchema) = streamCopyOf("embeddings")
    val emb = spark.read.parquet(s"$edir/embeddings.parquet")
    val (cb, batchCodes) = Similarity.buildPqIndex(emb, "vec_id",
      "embedding")
    val se = spark.readStream.schema(eSchema).parquet(edir)
      .select(col("vec_id").as("neighbor_id"),
        Similarity.pqEncodeCol(
          Similarity.l2Normalize(col("embedding")), cb).as("codes"))
    val qe = se.writeStream.outputMode("append").format("memory")
      .queryName("pq_stream").trigger(Trigger.AvailableNow()).start()
    qe.processAllAvailable(); qe.stop()
    val gotE = spark.table("pq_stream")
    assert(gotE.count() === batchCodes.count())
    assert(gotE.except(batchCodes).isEmpty &&
      batchCodes.except(gotE).isEmpty)
  }

  test("gopher quality gate streams: stateless rules have batch parity") {
    // the whole rule battery is narrow column math (HOF filters over a
    // materialized token array) — no join, agg, or state — so the SAME
    // operator code gates an ingest stream and must match the batch run
    import graft.functions.TextFunctions
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graft_stream_gopher")
    Files.copy(java.nio.file.Paths.get(src),
      dir.resolve("documents.parquet"))
    def gated(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("text"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextFunctions.gopherStruct(
        col("text"), col("toks"), minWords = 20).as("g"))
      .select(col("doc_id"), col("g.n_tokens"), col("g.keep"))
    val sq = gated(spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(dir.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("gopher_stream").trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable(); sq.stop()
    val batch = gated(spark.read.parquet(s"$dir/documents.parquet"))
    val got = spark.table("gopher_stream")
    assert(got.count() === batch.count() && batch.count() > 0)
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
  }

  test("bigram LM gate streams: stream-static LM joins have batch parity") {
    // the LM tables (bigram + unigram over the reference slice) are
    // BATCH artifacts; scoring incoming docs is a stream — posexplode is
    // narrow, LM lookups are stream-static left equi-joins, and the two
    // corpus totals fold in as plan literals (collected once, one row).
    // Per-doc aggregation runs in complete mode for the memory sink.
    import graft.functions.TextFunctions
    import org.apache.spark.sql.DataFrame
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graft_stream_lm")
    Files.copy(java.nio.file.Paths.get(src), dir.resolve("documents.parquet"))
    val batchDocs = spark.read.parquet(src)
    def occOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), posexplode(col("toks")))
      .filter(col("pos") < size(col("toks")) - 1)
      .select(col("doc_id"), xxhash64(col("col")).as("ha"),
        xxhash64(get(col("toks"), col("pos") + 1)).as("hb"))
    val bg = occOf(batchDocs.filter(col("lang") === "en"))
      .groupBy(col("ha"), col("hb"))
      .agg(count(lit(1)).cast("double").as("n_ab")).localCheckpoint()
    val uni = batchDocs.filter(col("lang") === "en")
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .select(xxhash64(col("w")).as("hw"))
      .groupBy(col("hw")).agg(count(lit(1)).cast("double").as("n_w"))
      .localCheckpoint()
    val totRow = uni.agg(sum(col("n_w")), count(lit(1)).cast("double")).head
    val backoffDenom = totRow.getDouble(0) + 0.5 * totRow.getDouble(1)
    def score(occ: DataFrame): DataFrame = occ
      .join(bg, Seq("ha", "hb"), "left")
      .join(uni.select(col("hw").as("ha"), col("n_w").as("n_a")),
        Seq("ha"), "left")
      .join(uni.select(col("hw").as("hb"), col("n_w").as("n_b")),
        Seq("hb"), "left")
      .withColumn("sc",
        when(col("n_ab").isNotNull, col("n_ab") / col("n_a"))
          .otherwise(lit(0.4) * (coalesce(col("n_b"), lit(0.0)) + 0.5) /
            lit(backoffDenom)))
      .groupBy(col("doc_id")).agg(round(avg(log(col("sc"))), 6).as("lp"))
    val sq = score(occOf(spark.readStream.schema(batchDocs.schema)
        .parquet(dir.toString)))
      .writeStream.outputMode("complete").format("memory")
      .queryName("lm_stream").trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable(); sq.stop()
    val batch = score(occOf(spark.read.parquet(s"$dir/documents.parquet")))
    val got = spark.table("lm_stream")
    assert(got.count() === batch.count() && batch.count() > 0)
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
  }

  test("contamination gate streams: literal-bloom score has batch parity") {
    // the scalar-subquery bloom of the batch path can't run in a
    // streaming plan; the literal-bloom score is array-local and
    // stateless, so the SAME operator code gates a stream
    import graft.operators.Dedup
    val src = "/root/testdata/sf0.001/documents.parquet"
    val batchDocs = spark.read.parquet(src)
    val bloom = Dedup.benchGramBloom(
      batchDocs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
      n = 4, expectedBenchGrams = 1 << 14)
    val dir = Files.createTempDirectory("graft_stream_decon")
    Files.copy(java.nio.file.Paths.get(src),
      dir.resolve("documents.parquet"))
    val stream = Dedup.contaminationScore(
      spark.readStream.schema(batchDocs.schema).parquet(dir.toString)
        .filter(col("doc_id") % 7 =!= 0), "doc_id", "text", 4, bloom)
    // the gate that streams is the fused CODEGEN'D kernel (bloom bytes
    // travel inside the expression — no scalar subquery, no state), not
    // an interpreted lambda chain
    assert(stream.queryExecution.analyzed.toString
      .contains("shingle_bloom_count"))
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("decon_stream").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("decon_stream")
    val batch = Dedup.contaminationScore(
      batchDocs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", 4,
      bloom)
    assert(got.count() === batch.count())
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
    assert(got.filter(col("n_maybe_shared") > 0).count() > 0)
  }

  test("chunk dedup streams: first-occurrence parity with the batch twin") {
    // chunkHashes is a stateless narrow transform, so the SAME operator
    // code chunks a stream; first-occurrence keeping becomes streaming
    // dropDuplicates state keyed by the 8-byte chunk hash. Arrival order
    // inside a micro-batch is nondeterministic, so parity is on the
    // chunk-hash SET (which chunk_h survive), not on which (id,pos) was
    // kept — the batch op's (id,pos) tie-break has no streaming analog,
    // which is exactly the divergence the scaladoc documents.
    import SparkTestBase.session.implicits._
    val dir = Files.createTempDirectory("graft_chunks").toString
    val docsDf = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t"),
      (2L, "a b c d e f g h i j z z z z z z z z z z"), // dup first chunk
      (3L, "k l m n o p q r s t a b c d e f g h i j") // both chunks dups
    ).toDF("doc_id", "text")
    docsDf.coalesce(1).write.mode("overwrite").json(dir)
    val schema = "doc_id BIGINT, text STRING"
    val stream = graft.operators.Dedup.chunkHashes(
      spark.readStream.schema(schema).json(dir), "doc_id", "text")
      .dropDuplicates("chunk_h")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("chunk_stream").select("chunk_h").collect()
      .map(_.getLong(0)).toSet
    val batch = graft.operators.Dedup
      .chunkDuplicates(spark.read.schema(schema).json(dir), "doc_id", "text")
    val kept = batch.filter(!col("is_dup")).select("chunk_h").collect()
      .map(_.getLong(0)).toSet
    // one survivor per distinct chunk on both paths
    assert(got === kept)
    assert(spark.table("chunk_stream").count() === got.size)
    // and the batch op really flagged the planted duplicates
    assert(batch.filter(col("is_dup")).count() === 3)
  }

  test("incremental ingest gate as a stream-static anti join") {
    // q71's streaming shape: new docs arrive as a stream and are admitted
    // only if their content digest is absent from the STATIC corpus digest
    // table — Spark's stream-static join needs no state and re-reads the
    // static side per micro-batch, which is exactly the daily-ingest gate
    // run continuously. Parity with the batch anti join on the same data.
    import SparkTestBase.session.implicits._
    val dir = Files.createTempDirectory("graft_ingest").toString
    val newDocs = Seq(
      (10L, "fresh content one"), (11L, "known content alpha"),
      (12L, "fresh content two"), (13L, "known content beta"))
      .toDF("doc_id", "text")
    newDocs.coalesce(1).write.mode("overwrite").json(dir)
    val corpus = Seq((1L, "known content alpha"), (2L, "known content beta"),
      (3L, "other corpus text")).toDF("doc_id", "text")
    val corpusDigests = corpus.select(md5(col("text")).as("k")).distinct()
    val schema = "doc_id BIGINT, text STRING"
    val admitted = spark.readStream.schema(schema).json(dir)
      .withColumn("k", md5(col("text")))
      .join(corpusDigests, Seq("k"), "left_anti")
    val q = admitted.writeStream.outputMode("append")
      .format("memory").queryName("ingest_gate")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ingest_gate").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val batch = spark.read.schema(schema).json(dir)
      .withColumn("k", md5(col("text")))
      .join(corpusDigests, Seq("k"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(10L, 12L))
    assert(got === batch)
  }

  test("boilerplate clean streams: narrow hot-set strip has batch parity") {
    // Production shape: a batch job over the existing corpus computes
    // the hot-segment set (removeBoilerplate's df stage); arriving docs
    // then clean themselves statelessly against that set. Parity: the
    // streamed cleanAgainstHotSet output must match removeBoilerplate's
    // per-doc result on the same corpus (same hash basis, same rebuild).
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    import graft.functions.TextFunctions
    val boiler = (0 until 10).map(i => s"b$i").mkString(" ")
    def uniq(d: Int) = (0 until 10).map(i => s"u$d-$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$boiler ${uniq(1)}"), (2L, s"${uniq(2)} $boiler"),
      (3L, uniq(3)), (4L, s"$boiler"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_boiler").toString
    corpus.coalesce(1).write.mode("overwrite").json(dir)
    // hot set from the batch df-count stage (df >= 2 over the corpus)
    val hot = Dedup.chunkHashes(corpus, "doc_id", "text")
      .select(col("id"), col("chunk_h")).distinct()
      .groupBy("chunk_h").count().filter(col("count") >= 2)
      .select("chunk_h").collect().map(_.getLong(0)).toSeq
    val schema = "doc_id BIGINT, text STRING"
    val stream = Dedup.cleanAgainstHotSet(
      spark.readStream.schema(schema).json(dir), "doc_id", "text", hot)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("boiler_clean")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("boiler_clean")
      .orderBy("doc_id").collect().toSeq
    val batch = Dedup.removeBoilerplate(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(got === batch)
    // and the strip did something: docs 1,2,4 lose the boilerplate
    assert(got.map(_.getAs[Long]("n_removed")).toSeq ===
      Seq(1L, 1L, 0L, 1L))
  }

  test("quality-model scoring streams: trained LR gates an ingest " +
      "stream (batch parity)") {
    // Production shape: the reference-vs-crawl classifier trains ONCE on
    // the bounded labeled set (batch); the fitted model is a broadcast
    // coefficient vector, so scoring an ingest stream is a stateless
    // narrow pass — featurize + transform apply unchanged to streams.
    import graft.operators.QualityModel
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graft_stream_qm")
    Files.copy(java.nio.file.Paths.get(src),
      dir.resolve("documents.parquet"))
    val batchDocs = spark.read.parquet(src)
    val feats = QualityModel.featurize(batchDocs, "doc_id", "text")
    val labeled = feats.join(batchDocs.select(col("doc_id"),
      (col("lang") === "en").cast("double").as("label")), Seq("doc_id"))
    val model = QualityModel.train(labeled, "label")
    def scored(df: org.apache.spark.sql.DataFrame) =
      QualityModel.score(
        QualityModel.featurize(df, "doc_id", "text"), model, "doc_id")
    val sq = scored(spark.readStream.schema(batchDocs.schema)
        .parquet(dir.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("qm_stream").trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable(); sq.stop()
    val batch = scored(spark.read.parquet(s"$dir/documents.parquet"))
    val got = spark.table("qm_stream")
    assert(got.count() === batch.count() && batch.count() > 0)
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
  }

  test("snapshot drift monitor streams: per-bin histogram counts have " +
      "batch parity") {
    // Production shape of q103: yesterday's histogram is a static
    // table; TODAY'S side is the live ingest stream, aggregated
    // per-(source, bin) in complete mode — (sources×64)-bounded state.
    // The TVD against the static side is driver math on that tiny
    // table. Parity: streamed bin counts == batch bin counts.
    import graft.operators.Curation
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graft_stream_drift")
    Files.copy(java.nio.file.Paths.get(src),
      dir.resolve("documents.parquet"))
    def binned(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("bk", Curation.hashBucket(col("doc_id"), "snap"))
      .filter(col("bk") >= 500)
      .withColumn("bin", least(floor(col("n_chars") / 512), lit(63L)))
      .groupBy(col("source"), col("bin")).count()
    val sq = binned(spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(dir.toString))
      .writeStream.outputMode("complete").format("memory")
      .queryName("drift_stream").trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable(); sq.stop()
    val batch = binned(spark.read.parquet(s"$dir/documents.parquet"))
    val got = spark.table("drift_stream")
    assert(got.count() === batch.count() && batch.count() > 0)
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
  }

  test("hashed-embedding cell assignment streams (batch parity)") {
    // The live side of a semantic index: text → hashing-trick embedding
    // (map-only) → literal-argmax cell assignment against batch-trained
    // centroids. Stateless end to end, so the SAME operator code runs
    // on the ingest stream and must match the batch pass.
    import graft.functions.TextFunctions
    import graft.operators.Similarity
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graft_stream_embed")
    Files.copy(java.nio.file.Paths.get(src),
      dir.resolve("documents.parquet"))
    val batchDocs = spark.read.parquet(src)
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        TextFunctions.hashedEmbedding(col("text"), 64).as("embedding"))
    val cents = Similarity.trainCentroids(embed(batchDocs), "doc_id",
      "embedding", 8)
    def assigned(df: org.apache.spark.sql.DataFrame) =
      Similarity.assignWithSim(embed(df), cents, "doc_id", "embedding")
        .select(col("doc_id"), col("cell"),
          round(col("cent_sim"), 6).as("cs"))
    val sq = assigned(spark.readStream.schema(batchDocs.schema)
        .parquet(dir.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("embed_assign").trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable(); sq.stop()
    val batch = assigned(spark.read.parquet(s"$dir/documents.parquet"))
    val got = spark.table("embed_assign")
    assert(got.count() === batch.count() && batch.count() > 0)
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
  }

  test("ledger gate streams: arriving docs anti-join the persisted " +
      "digest store") {
    // Daily-ingest shape: the durable ledger (Dedup.ledgerAdmit's
    // parquet digest store) is batch-maintained; the LIVE gate is a
    // stream-static left-anti join against it plus in-stream digest
    // dedup — arriving docs admit exactly the never-seen content.
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val ledgerDir = Files.createTempDirectory("graft_ledger_s").toString
    val batch1 = (0 until 10).map(i => (i.toLong, s"doc content $i"))
      .toDF("doc_id", "text")
    Dedup.ledgerAdmit(spark, s"$ledgerDir/ledger", batch1, "doc_id",
      "text")
    val streamDir = Files.createTempDirectory("graft_ledger_in").toString
    (5 until 15).map(i => (i.toLong, s"doc content $i"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").json(streamDir)
    val ledger = spark.read.parquet(
      graft.util.Gen.resolve(spark, s"$ledgerDir/ledger"))
    val gated = spark.readStream.schema("doc_id BIGINT, text STRING")
      .json(streamDir)
      .withColumn("text_md5", md5(col("text")))
      .dropDuplicates("text_md5")
      .join(ledger, Seq("text_md5"), "left_anti")
    val sq = gated.writeStream.outputMode("append").format("memory")
      .queryName("ledger_gate").trigger(Trigger.AvailableNow()).start()
    sq.processAllAvailable(); sq.stop()
    val got = spark.table("ledger_gate").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got === (10L until 15L))
  }

  test("event transition matrix streams: per-user chained pairs across " +
      "micro-batches match the batch q108 matrix exactly") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    // two micro-batches split at the global median ts: every b1 event
    // precedes every b2 event, so per-user order holds across the batch
    // boundary — users straddling the split exercise the state chaining
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val dir = Files.createTempDirectory("graft_events").toString
    ev.filter(col("ts_us") <= cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b1")
    ev.filter(col("ts_us") > cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b2")
    assert(spark.read.schema(EventStreams.eventStreamSchema)
      .json(s"$dir/b1").count() > 0)
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val pairs = EventStreams.transitionPairs(src)
    val q = pairs.toDF().writeStream.outputMode("append")
      .format("memory").queryName("event_transitions")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("event_transitions")
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q108_event_paths")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch && batch.nonEmpty)
    // cross-batch chaining really happened: some users have events on
    // both sides of the split, so a purely per-batch lag would miss
    // their boundary edge and the totals would differ
    val straddlers = ev.filter(col("ts_us") <= cut).select("user_id")
      .intersect(ev.filter(col("ts_us") > cut).select("user_id")).count()
    assert(straddlers > 0)
  }

  test("funnel stages stream: per-user stage advances across " +
      "micro-batches match the batch q105 funnel exactly") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val dir = Files.createTempDirectory("graft_funnel").toString
    ev.filter(col("ts_us") <= cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b1")
    ev.filter(col("ts_us") > cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b2")
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val q = EventStreams.funnelStages(src).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("funnel_stream")
      .groupBy(col("stage"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = SparkEntry.queries("q105_event_funnel")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed === batch)
    // a stage advance emits exactly once per (user, stage)
    assert(spark.table("funnel_stream").count() ===
      spark.table("funnel_stream").select("user_id", "stage")
        .distinct().count())
  }

  test("retention marks stream: cohort assignments and d1/d7/d14 " +
      "activity across micro-batches match the batch q106 cohorts") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val dir = Files.createTempDirectory("graft_retention").toString
    ev.filter(col("ts_us") <= cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b1")
    ev.filter(col("ts_us") > cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b2")
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val q = EventStreams.retentionMarks(src).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("retention_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // streamed marks → (cohort date, mark) distinct-user counts
    val streamed = spark.table("retention_stream")
      .withColumn("cohort_date",
        to_date(timestamp_micros(col("cohort_day") * 86400000000L)))
      .groupBy(col("cohort_date"), col("mark"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    // batch q106 reshaped to the same (cohort, mark, n) triples
    val batch = SparkEntry.queries("q106_retention_cohorts")(spark, sf)
      .collect().flatMap { r =>
        val cd = r.getDate(0).toString
        Seq((cd, "new_user", r.getLong(1)), (cd, "d1", r.getLong(2)),
          (cd, "d7", r.getLong(3)), (cd, "d14", r.getLong(4)))
      }.filter(_._3 > 0).toSet
    assert(streamed === batch && batch.nonEmpty)
  }

  test("event transition state evicts on idle timeout: a post-eviction " +
      "event starts a fresh chain instead of bridging the gap") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val t0 = 1700000000000000L // µs
    val day = 86400000000L
    def row(uid: Long, eid: Long, typ: String, ts: Long) =
      (uid, eid, typ, ts)
    val dir = Files.createTempDirectory("graft_evict").toString
    def write(name: String, rows: Seq[(Long, Long, String, Long)]): Unit =
      rows.toDF("user_id", "event_id", "event_type", "ts_us")
        .coalesce(1).write.mode("overwrite").json(s"$dir/$name")
    // b1: user 1 does view→click (one edge). b2: sentinel user 99 far in
    // the future advances the watermark 100 days — way past user 1's 1 h
    // idle timeout. b3: another sentinel event, in whose batch user 1's
    // timeout fires and the state is removed. b4: user 1 returns — with
    // state evicted this is a FIRST event again, so no view→purchase (or
    // click→purchase) edge may bridge the 100-day gap.
    write("b1", Seq(row(1, 1, "view", t0), row(1, 2, "click", t0 + 60000000L)))
    write("b2", Seq(row(99, 3, "view", t0 + 100 * day)))
    write("b3", Seq(row(99, 4, "click", t0 + 100 * day + 60000000L)))
    write("b4", Seq(row(1, 5, "purchase", t0 + 100 * day + 120000000L)))
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val q = EventStreams.transitionPairs(src).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("evict_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val u1 = spark.table("evict_stream").filter(col("user_id") === 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // only the in-session edge; the 100-day gap produced NO edge because
    // the state was evicted, not chained
    assert(u1 === Seq(("view", "click")))
  }

  test("attribution stream: per-purchase last-touch credits across " +
      "micro-batches match the batch q112 attribution") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val dir = Files.createTempDirectory("graft_attr").toString
    ev.filter(col("ts_us") <= cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b1")
    ev.filter(col("ts_us") > cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b2")
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val q = EventStreams.attributionStream(src).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("attr_stream")
      .groupBy(col("touch")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = SparkEntry.queries("q112_attribution")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed === batch && batch.nonEmpty)
  }

  test("hourly rate counts stream: watermark-flushed hours reproduce " +
      "the batch q109 anomaly table exactly") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val maxTs = ev.agg(max(col("ts_us"))).head.getLong(0)
    val dir = Files.createTempDirectory("graft_rates").toString
    ev.filter(col("ts_us") <= cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b1")
    ev.filter(col("ts_us") > cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b2")
    // flush sentinel: one event 4 h past the stream end pushes the
    // watermark (2 h delay) beyond every real hour's close, so every
    // real hour emits; the sentinel's OWN hour never closes and is
    // never emitted — no filtering needed (asserted below)
    Seq((-1L, -1L, "sentinel", maxTs + 4L * 3600000000L))
      .toDF("user_id", "event_id", "event_type", "ts_us")
      .coalesce(1).write.mode("overwrite").json(s"$dir/b3")
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val q = EventStreams.hourlyRates(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("hourly_rates")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val hourly = spark.table("hourly_rates")
    assert(hourly.filter(col("hour") >
      timestamp_micros(lit(maxTs))).count() === 0)
    // the z-scoring half is corpus-relative, so it runs at rest over
    // the #hours-bounded emitted counts — the identical q109 expression
    val stats = hourly.agg(count(lit(1)).as("h"),
      sum(col("n")).as("s1"),
      sum(col("n").cast("decimal(19,0)") * col("n")).as("s2"))
    val streamedTop = hourly.crossJoin(broadcast(stats))
      .withColumn("mean", col("s1").cast("double") / col("h"))
      .withColumn("sd", sqrt(col("s2").cast("double") / col("h") -
        col("mean") * col("mean")))
      .withColumn("z",
        round((col("n").cast("double") - col("mean")) / col("sd"), 4))
      .orderBy(abs(col("z")).desc, col("hour"))
      .limit(10)
      .select(col("hour"), col("n"), col("z"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq
    val batchTop = SparkEntry.queries("q109_rate_anomalies")(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamedTop === batchTop && batchTop.nonEmpty)
  }

  test("inter-event gap stream: per-(user,type) chained gaps across " +
      "micro-batches reproduce the batch q119 cadence table exactly") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val dir = Files.createTempDirectory("graft_gaps").toString
    ev.filter(col("ts_us") <= cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b1")
    ev.filter(col("ts_us") > cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b2")
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val q = EventStreams.interEventGaps(src).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("gap_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // the med/p90 summary is corpus-relative → at rest over the gaps,
    // the identical q119 aggregation expression
    val streamed = spark.table("gap_stream")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)"), 4).as("med_gap_us"),
        round(expr("percentile(gap_us, 0.9)"), 4).as("p90_gap_us"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val batch = SparkEntry.queries("q119_interevent_gaps")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(streamed === batch && batch.nonEmpty)
    // cross-batch chaining really happened for same-type pairs: some
    // (user, type) keys have events on both sides of the split
    val straddlers = ev.filter(col("ts_us") <= cut)
      .select("user_id", "event_type")
      .intersect(ev.filter(col("ts_us") > cut)
        .select("user_id", "event_type")).count()
    assert(straddlers > 0)
  }

  test("conversion delay stream: one emission per converter across " +
      "micro-batches reproduces the batch q127 summary exactly") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val dir = Files.createTempDirectory("graft_conv").toString
    ev.filter(col("ts_us") <= cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b1")
    ev.filter(col("ts_us") > cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b2")
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val q = EventStreams.conversionDelays(src).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("conv_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("conv_stream")
    // at most one conversion per user, ever
    assert(emitted.groupBy(col("user_id")).count()
      .filter(col("count") > 1).count() === 0)
    val streamed = emitted
      .agg(count(lit(1)).as("n_converters"),
        round(expr("percentile(conv_us, 0.5)"), 4).as("med_conv_us"),
        round(expr("percentile(conv_us, 0.9)"), 4).as("p90_conv_us"))
      .head()
    val batch = SparkEntry.queries("q127_conversion_time")(spark, sf)
      .head()
    assert(streamed.getLong(0) === batch.getLong(0) &&
      batch.getLong(0) > 0)
    assert(streamed.getDouble(1) === batch.getDouble(1))
    assert(streamed.getDouble(2) === batch.getDouble(2))
  }

  test("cohort value stream: once-per-event cohort labels across " +
      "micro-batches reproduce the batch q126 LTV table exactly") {
    import SparkTestBase.session.implicits._
    import graft.streaming.EventStreams
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("value").cast("double").as("value"))
    val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val dir = Files.createTempDirectory("graft_cohortv").toString
    ev.filter(col("ts_us") <= cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b1")
    ev.filter(col("ts_us") > cut).coalesce(1)
      .write.mode("overwrite").json(s"$dir/b2")
    val src = spark.readStream.schema(EventStreams.eventStreamSchema)
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
      .withColumn("eventTime", timestamp_micros(col("ts_us")))
    val q = EventStreams.cohortValues(src).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("cohort_values")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("cohort_values")
      .withColumn("cd",
        expr("date_add(DATE '1970-01-01', CAST(cohort_day AS INT))"))
    // every event emitted exactly once
    assert(emitted.count() === ev.count())
    // the corpus-relative LTV table at rest — q126's expressions
    val sized = emitted.select(col("cd"), col("user_id")).distinct()
      .groupBy(col("cd")).agg(count(lit(1)).as("n_users"))
    val daily = emitted.groupBy(col("cd"), col("k"))
      .agg(round(sum(col("value")), 2).as("day_value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cd")).orderBy(col("k"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val streamed = daily
      .withColumn("cum_value", sum(col("day_value")).over(w))
      .join(sized, Seq("cd"))
      .select(col("cd").cast("string").as("cohort_day"),
        col("k"), col("n_users"),
        round(col("cum_value"), 2).as("cum_value"),
        round(col("cum_value") / col("n_users"), 6).as("ltv_per_user"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val batch = SparkEntry.queries("q126_cohort_ltv")(spark, sf)
      .select(col("cohort_day").cast("string"), col("k"),
        col("n_users"), col("cum_value"), col("ltv_per_user"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(streamed === batch && batch.nonEmpty)
  }

  test("streaming IVF ingest: N micro-batch appends serve identically " +
      "to one batch append") {
    // the production shape of "daily ingest": a file stream of embedding
    // batches drains through foreachBatch -> appendToIvfIndex against a
    // persisted index. Frozen centroids make append order irrelevant, so
    // the served result after N micro-batches must equal a single
    // one-shot append of the same rows.
    import graft.operators.Similarity
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val srcDir = Files.createTempDirectory("graft_ivf_src").toString
    val ckpt = Files.createTempDirectory("graft_ivf_ckpt").toString
    val idxStream = Files.createTempDirectory("graft_ivf_sidx").toString
    val idxOnce = Files.createTempDirectory("graft_ivf_oidx").toString
    try {
      val built = Similarity.buildIvfIndex(base, "vec_id", "embedding")
      Similarity.saveIvfIndex(built, idxStream)
      Similarity.saveIvfIndex(built, idxOnce)
      Similarity.appendToIvfIndex(spark, idxOnce, batch,
        "vec_id", "embedding")
      // three "daily" files; maxFilesPerTrigger=1 forces one micro-batch
      // per file even under AvailableNow
      (0 to 2).foreach { i =>
        batch.filter(col("vec_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(srcDir)
      }
      val nBatches = spark.sparkContext.longAccumulator("ivf_batches")
      // the full advertised ingest-job shape: append THEN drift-check
      // each micro-batch against the persisted frozen baseline — the
      // collected per-batch drifts must match the same slices profiled
      // in plain batch mode (the baseline is frozen, so mid-stream
      // appends cannot perturb the numbers)
      val streamDrift =
        scala.collection.concurrent.TrieMap.empty[Long, Double]
      def weightedDrift(r: org.apache.spark.sql.DataFrame): Double =
        r.filter(col("has_baseline"))
          .agg((sum(col("batch_n") * col("mean_drift")) /
            sum(col("batch_n"))).as("d")).head().getDouble(0)
      val q = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) {
            Similarity.appendToIvfIndex(spark, idxStream, b,
              "vec_id", "embedding")
            val key = b.agg(min(col("vec_id"))).head().getLong(0)
            streamDrift(key) = weightedDrift(Similarity.ivfDriftReport(
              spark, idxStream, b, "vec_id", "embedding"))
            nBatches.add(1)
          }
        }
        .start()
      q.processAllAvailable(); q.stop()
      assert(nBatches.value >= 3, s"expected >=3 micro-batches, " +
        s"got ${nBatches.value}")
      // per-slice drift parity: stream-side == batch-side, keyed by the
      // slice's min id (file → micro-batch order is not guaranteed)
      (0 to 2).foreach { i =>
        val slice = batch.filter(col("vec_id") % 3 === i)
        val key = slice.agg(min(col("vec_id"))).head().getLong(0)
        val want = weightedDrift(Similarity.ivfDriftReport(
          spark, idxOnce, slice, "vec_id", "embedding"))
        assert(streamDrift.get(key).contains(want),
          s"drift parity broke for slice $i: " +
            s"${streamDrift.get(key)} vs $want")
      }
      def serve(path: String): Set[(Long, Long, Long, Double)] =
        Similarity.ivfTopKFromIndex(Similarity.loadIvfIndex(spark, path),
            emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 3, nProbe = 2)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"),
            r.getAs[Double]("cos_sim"))).toSet
      val streamed = serve(idxStream)
      assert(streamed === serve(idxOnce) && streamed.nonEmpty)
      // and the stores hold the same logical content
      assert(spark.read.parquet(
          s"${graft.util.Gen.resolve(spark, idxStream)}/assigned").count()
        === spark.read.parquet(
          s"${graft.util.Gen.resolve(spark, idxOnce)}/assigned").count())
    } finally Seq(srcDir, ckpt, idxStream, idxOnce)
      .foreach(graft.util.Fs.deleteRecursively)
  }

  test("streaming IVF+PQ ingest: N micro-batch appends serve " +
      "identically to one batch append") {
    // the PQ twin of the IVF ingest parity: frozen centroids AND frozen
    // codebooks make append order irrelevant, so N micro-batch
    // frozen-parameter encodes must serve exactly like one
    import graft.operators.Similarity
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val srcDir = Files.createTempDirectory("graft_pq_src").toString
    val ckpt = Files.createTempDirectory("graft_pq_ckpt").toString
    val idxStream = Files.createTempDirectory("graft_pq_sidx").toString
    val idxOnce = Files.createTempDirectory("graft_pq_oidx").toString
    try {
      val built = Similarity.buildIvfPqIndex(base, "vec_id", "embedding")
      Similarity.saveIvfPqIndex(built, idxStream)
      Similarity.saveIvfPqIndex(built, idxOnce)
      Similarity.appendToIvfPqIndex(spark, idxOnce, batch,
        "vec_id", "embedding")
      (0 to 2).foreach { i =>
        batch.filter(col("vec_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(srcDir)
      }
      val nBatches = spark.sparkContext.longAccumulator("pq_batches")
      val q = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) {
            Similarity.appendToIvfPqIndex(spark, idxStream, b,
              "vec_id", "embedding")
            nBatches.add(1)
          }
        }
        .start()
      q.processAllAvailable(); q.stop()
      assert(nBatches.value >= 3)
      def serve(path: String): Set[(Long, Long, Long, Double)] =
        Similarity.ivfPqTopKFromIndex(
            Similarity.loadIvfPqIndex(spark, path), emb,
            emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 3, nProbe = 4, rerank = 32)
          .collect().map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"),
            r.getAs[Double]("cos_sim"))).toSet
      val streamed = serve(idxStream)
      assert(streamed === serve(idxOnce) && streamed.nonEmpty)
      assert(spark.read.parquet(
          s"${graft.util.Gen.resolve(spark, idxStream)}/codes").count()
        === spark.read.parquet(
          s"${graft.util.Gen.resolve(spark, idxOnce)}/codes").count())
    } finally Seq(srcDir, ckpt, idxStream, idxOnce)
      .foreach(graft.util.Fs.deleteRecursively)
  }

  test("streaming near-dup ledger ingest: micro-batch admits match " +
      "sequential batch admits and the one-shot union decision set") {
    import graft.operators.Dedup
    import SparkTestBase.session.implicits._
    // the ledger-spec plant, drained as an id-ordered file stream (the
    // monotone-id contract applies to STREAM order too — part-file
    // mtimes are stamped so FileStreamSource processes batches in id
    // order, the same guarantee an ordered ingest queue provides)
    val baseTxt = "the quick brown fox jumps over the lazy dog and " +
      "then runs far away into the deep dark forest tonight"
    def tweak(s: String, i: Int) = s + s" tail$i"
    val chunks = Seq(
      Seq((100L, baseTxt), (101L, baseTxt), (102L, tweak(baseTxt, 1)),
        (103L, "completely different short text about spark plans " +
          "and shuffle exchanges in a distributed engine runtime")),
      Seq((200L, baseTxt), (201L, tweak(baseTxt, 1)),
        (202L, tweak(baseTxt, 2)),
        (203L, "fresh novel content named alpha beta gamma delta " +
          "epsilon zeta eta theta iota kappa lambda mu nu xi")),
      Seq((300L, tweak(baseTxt, 3)),
        (301L, "fresh novel content named alpha beta gamma delta " +
          "epsilon zeta eta theta iota kappa lambda mu nu xi tail9"),
        (302L, "yet another genuinely unique document mentioning " +
          "catalyst expressions codegen and tungsten memory format")))
    val srcDir = Files.createTempDirectory("graft_ndl_src").toString
    val ckpt = Files.createTempDirectory("graft_ndl_ckpt").toString
    val ledgerS = Files.createTempDirectory("graft_ndl_sl").toString +
      "/ledger"
    val ledgerB = Files.createTempDirectory("graft_ndl_bl").toString +
      "/ledger"
    try {
      var seen = Set.empty[String]
      chunks.zipWithIndex.foreach { case (c, i) =>
        c.toDF("doc_id", "text").coalesce(1)
          .write.mode("append").parquet(srcDir)
        val fresh = new java.io.File(srcDir).listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            !seen(f.getName))
        fresh.foreach(_.setLastModified(1000000000L + i * 60000L))
        seen ++= fresh.map(_.getName)
      }
      val admitted =
        scala.collection.concurrent.TrieMap.empty[Long, Boolean]
      val q = spark.readStream
        .schema(chunks.head.toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty)
            Dedup.nearDupLedgerAdmit(spark, ledgerS, b,
              "doc_id", "text")
              .select("doc_id").collect()
              .foreach(r => admitted.put(r.getLong(0), true))
        }
        .start()
      q.processAllAvailable(); q.stop()
      val batchAdmits = chunks.flatMap(c =>
        Dedup.nearDupLedgerAdmit(spark, ledgerB,
          c.toDF("doc_id", "text"), "doc_id", "text")
          .select("doc_id").collect().map(_.getLong(0))).toSet
      val oneShot = chunks.flatten.map(_._1).toSet --
        Dedup.nearDupDrops(chunks.flatten.toDF("doc_id", "text"),
          "doc_id", "text").collect().map(_.getLong(0)).toSet
      assert(admitted.keySet.toSet === batchAdmits)
      assert(batchAdmits === oneShot && oneShot.nonEmpty)
      // stream and batch ledgers hold the identical signature set
      assert(spark.read.parquet(ledgerS)
        .select("text_md5").collect().map(_.getString(0)).toSet ===
        spark.read.parquet(ledgerB)
          .select("text_md5").collect().map(_.getString(0)).toSet)
    } finally Seq(srcDir, ckpt,
      new java.io.File(ledgerS).getParent,
      new java.io.File(ledgerB).getParent)
      .foreach(graft.util.Fs.deleteRecursively)
  }

  test("streamed exact-ledger admit (ledgerAdmitStream): epoch-keyed " +
      "decisions match the batch replay, and a forcibly RE-RUN epoch " +
      "re-emits bit-identical decisions without re-deciding against " +
      "the moved ledger or growing it") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_lstream").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    val srcDir = s"$root/src"
    try {
      // two micro-batches with cross-batch AND in-batch duplicates:
      // epoch 0 = docs 0-9, epoch 1 = docs 10-19 where 10-14 duplicate
      // 5-9's content and 18/19 duplicate 16/17's within the batch
      val b1 = (0 until 10).map(i => (i.toLong, s"content ${i}"))
      val b2 = (10 until 20).map(i =>
        (i.toLong, s"content ${if (i < 15) i - 5 else if (i > 17) i - 2
          else i}"))
      b1.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").json(s"$srcDir/b1")
      b2.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").json(s"$srcDir/b2")
      new java.io.File(s"$srcDir/b1").listFiles()
        .foreach(_.setLastModified(1000000000L))
      new java.io.File(s"$srcDir/b2").listFiles()
        .foreach(_.setLastModified(1000060000L))
      val q = Dedup.ledgerAdmitStream(spark, ledger, epochs,
        spark.readStream.schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1").json(s"$srcDir/*"),
        "doc_id", "text", s"$root/ckpt")
      q.processAllAvailable(); q.stop()
      // per-epoch decisions ≡ the batch two-admit replay
      val e0 = spark.read.parquet(s"$epochs/epoch-000000000000/admitted")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val e1 = spark.read.parquet(s"$epochs/epoch-000000000001/admitted")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val ledgerB = s"$root/ledgerB"
      val a1 = Dedup.ledgerAdmit(spark, ledgerB,
        b1.toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val a2 = Dedup.ledgerAdmit(spark, ledgerB,
        b2.toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(e0 === a1 && e1 === a2)
      assert(e1 === Seq(15L, 16L, 17L)) // 10-14 cross-dup, 18/19 in-dup
      def digests() = spark.read
        .parquet(graft.util.Gen.resolve(spark, ledger)).count()
      val nBefore = digests()
      // FORCED epoch re-delivery (the at-least-once retry): epoch 0
      // re-runs against a ledger both epochs already moved — a naive
      // re-decide would now admit nothing; the protocol re-emits the
      // SEALED decisions and appends nothing
      val replay = Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
        b1.toDF("doc_id", "text"), "doc_id", "text", 0L)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(replay === e0)
      assert(digests() === nBefore)
      // crash BETWEEN _decided and _appended: drop epoch 1's append
      // seal and retry — decisions still come from the sealed store
      // (bit-identical), the re-append may duplicate digests, and
      // compaction collapses them to the same distinct count
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$epochs/epoch-000000000001/_appended"), false)
      val replay2 = Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
        b2.toDF("doc_id", "text"), "doc_id", "text", 1L)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(replay2 === e1)
      assert(Dedup.compactDedupLedger(spark, ledger) === nBefore)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("streamed near-dup ledger admit (nearDupLedgerAdmitStream): " +
      "epoch decisions match the batch replay and a forced epoch " +
      "re-run re-emits identical decisions with both stores unmoved") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_ndlstream").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    val srcDir = s"$root/src"
    try {
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val cut = 150L
      docs.filter(col("doc_id") < cut).coalesce(1)
        .write.mode("overwrite").json(s"$srcDir/b1")
      docs.filter(col("doc_id") >= cut).coalesce(1)
        .write.mode("overwrite").json(s"$srcDir/b2")
      new java.io.File(s"$srcDir/b1").listFiles()
        .foreach(_.setLastModified(1000000000L))
      new java.io.File(s"$srcDir/b2").listFiles()
        .foreach(_.setLastModified(1000060000L))
      val q = Dedup.nearDupLedgerAdmitStream(spark, ledger, epochs,
        spark.readStream.schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1").json(s"$srcDir/*"),
        "doc_id", "text", s"$root/ckpt")
      q.processAllAvailable(); q.stop()
      val e0 = spark.read.parquet(s"$epochs/epoch-000000000000/admitted")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val e1 = spark.read.parquet(s"$epochs/epoch-000000000001/admitted")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val ledgerB = s"$root/ledgerB"
      val a1 = Dedup.nearDupLedgerAdmit(spark, ledgerB,
        docs.filter(col("doc_id") < cut), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val a2 = Dedup.nearDupLedgerAdmit(spark, ledgerB,
        docs.filter(col("doc_id") >= cut), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(e0 === a1 && e1 === a2 && e0.nonEmpty && e1.nonEmpty)
      // the streamed ledger pair holds the same signature set as the
      // batch pair
      def sigs(p: String) = spark.read
        .parquet(graft.util.Gen.resolve(spark, p))
        .select("text_md5").as[String].collect().toSet
      assert(sigs(ledger) === sigs(ledgerB))
      // forced re-delivery of epoch 0 against the fully-moved ledger:
      // identical decisions, primary AND band stores unmoved
      def counts() = (
        spark.read.parquet(graft.util.Gen.resolve(spark, ledger))
          .count(),
        spark.read.parquet(graft.util.Gen.resolve(spark,
          s"${ledger}_bands")).count())
      val before = counts()
      val replay = Dedup.nearDupLedgerAdmitStreamBatch(spark, ledger,
        epochs, docs.filter(col("doc_id") < cut), "doc_id", "text", 0L)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(replay === e0)
      assert(counts() === before)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("streamed-admit epoch lifecycle: readAdmittedEpochs consumes " +
      "only SEALED epochs with their epoch label; sweepAdmitEpochs " +
      "reclaims old sealed epochs but never an unsealed (crashed) " +
      "one, and a swept root keeps serving the retained tail") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_epochs").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    try {
      // four epochs of disjoint content
      (0 until 4).foreach { e =>
        Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
          (e * 10 until e * 10 + 5).map(i => (i.toLong, s"text $i"))
            .toDF("doc_id", "text"),
          "doc_id", "text", e.toLong)
      }
      val all = Dedup.readAdmittedEpochs(spark, epochs)
      assert(all.count() === 20L)
      assert(all.groupBy("epoch").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap ===
        (0L until 4L).map(_ -> 5L).toMap)
      // an UNSEALED epoch (crash between _decided and _appended) is
      // invisible to consumers...
      fs.delete(new org.apache.hadoop.fs.Path(
        f"$epochs/epoch-${3L}%012d/_appended"), false)
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(0L, 1L, 2L))
      // ...and the sweep never touches it, no matter how old: epochs
      // 0 and 1 (sealed, older than the newest 2) go, 3 (unsealed)
      // stays for its retry
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 2) === 2)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        f"$epochs/epoch-${0L}%012d")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        f"$epochs/epoch-${3L}%012d/_decided")))
      // the retained tail still reads
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(2L))
      // the crashed epoch's retry completes from its sealed decisions
      // and becomes consumable again
      val replay = Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
        (30 until 35).map(i => (i.toLong, s"text $i"))
          .toDF("doc_id", "text"), "doc_id", "text", 3L)
      assert(replay.count() === 5L)
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(2L, 3L))
      // idempotent sweep; keepLast floor enforced
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 2) === 0)
      intercept[IllegalArgumentException] {
        Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 0)
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("streamed near-dup audit read-back: per-epoch drop reasons " +
      "surface with their epoch label and match the batch audit; an " +
      "unaudited root refuses loudly") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_audepochs").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    try {
      // epoch 0: three docs, one in-batch exact dup; epoch 1: one
      // cross-epoch exact dup + one novel
      val b1 = Seq((1L, "alpha text"), (2L, "beta text"),
        (3L, "alpha text")).toDF("doc_id", "text")
      val b2 = Seq((10L, "beta text"), (11L, "gamma text"))
        .toDF("doc_id", "text")
      Dedup.nearDupLedgerAdmitStreamBatch(spark, ledger, epochs, b1,
        "doc_id", "text", 0L, audit = true)
      Dedup.nearDupLedgerAdmitStreamBatch(spark, ledger, epochs, b2,
        "doc_id", "text", 1L, audit = true)
      val audit = Dedup.readAuditEpochs(spark, epochs)
      val rows = audit.select("epoch", "doc", "reason", "partner")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2), r.getLong(3))).toSet
      assert(rows === Set(
        (0L, 3L, "exact_batch", 1L),
        (1L, 10L, "exact_store", 2L)))
      // a root whose epochs ran WITHOUT audit refuses
      val root2 = Files.createTempDirectory("graft_audepochs2").toString
      try {
        Dedup.nearDupLedgerAdmitStreamBatch(spark, s"$root2/ledger",
          s"$root2/epochs", b1, "doc_id", "text", 0L)
        val e = intercept[IllegalArgumentException] {
          Dedup.readAuditEpochs(spark, s"$root2/epochs")
        }
        assert(e.getMessage.contains("audit = true"))
      } finally graft.util.Fs.deleteRecursively(root2)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("epoch fingerprint: a decided epochId re-delivered with " +
      "DIFFERENT rows (reset checkpoint over a surviving epochRoot) " +
      "fails loudly instead of re-emitting stale decisions and " +
      "silently discarding the new batch; a true retry (same rows, " +
      "any order) still re-emits") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_epoch_fp").toString
    try {
      val mk = (ids: Seq[Long]) =>
        ids.map(i => (i, s"text $i")).toDF("doc_id", "text")
      // exact ledger
      val a = Dedup.ledgerAdmitStreamBatch(spark, s"$root/l", s"$root/e",
        mk(Seq(1L, 2L, 3L)), "doc_id", "text", 0L)
      assert(a.count() === 3L)
      // a legitimate retry: same id set, different row order — the xor
      // fingerprint is delivery-order-blind, decisions re-emit
      assert(Dedup.ledgerAdmitStreamBatch(spark, s"$root/l", s"$root/e",
        mk(Seq(3L, 1L, 2L)).repartition(4), "doc_id", "text", 0L)
        .count() === 3L)
      // the lifecycle mismatch: epoch 0 arrives carrying NEW rows
      val e1 = intercept[IllegalStateException] {
        Dedup.ledgerAdmitStreamBatch(spark, s"$root/l", s"$root/e",
          mk(Seq(7L, 8L)), "doc_id", "text", 0L)
      }
      assert(e1.getMessage.contains("DIFFERENT batch"))
      assert(e1.getMessage.contains("checkpoint"))
      // the harder mismatch: a rebuilt pipeline whose doc ids ALSO
      // restart — same id set, different CONTENT (the fingerprint
      // hashes id AND text, so ids alone cannot wave it through)
      val e1b = intercept[IllegalStateException] {
        Dedup.ledgerAdmitStreamBatch(spark, s"$root/l", s"$root/e",
          Seq((1L, "text 1"), (2L, "day-two content"), (3L, "text 3"))
            .toDF("doc_id", "text"), "doc_id", "text", 0L)
      }
      assert(e1b.getMessage.contains("DIFFERENT batch"))
      // near-dup ledger: same protocol, same pin
      Dedup.nearDupLedgerAdmitStreamBatch(spark, s"$root/nl",
        s"$root/ne", mk(Seq(1L, 2L)), "doc_id", "text", 0L)
      val e2 = intercept[IllegalStateException] {
        Dedup.nearDupLedgerAdmitStreamBatch(spark, s"$root/nl",
          s"$root/ne", mk(Seq(9L)), "doc_id", "text", 0L)
      }
      assert(e2.getMessage.contains("DIFFERENT batch"))
      // NULL text and EMPTY text fingerprint differently: the decide
      // drops null-text rows up front, so conflating them would
      // re-emit stale decisions over a batch that now carries content
      Dedup.ledgerAdmitStreamBatch(spark, s"$root/l2", s"$root/e2",
        Seq((1L, null.asInstanceOf[String]), (2L, "x"))
          .toDF("doc_id", "text"), "doc_id", "text", 0L)
      val e3 = intercept[IllegalStateException] {
        Dedup.ledgerAdmitStreamBatch(spark, s"$root/l2", s"$root/e2",
          Seq((1L, ""), (2L, "x")).toDF("doc_id", "text"),
          "doc_id", "text", 0L)
      }
      assert(e3.getMessage.contains("DIFFERENT batch"))
      // a seal in a PREVIOUS fingerprint format or an EMPTY one (the
      // pre-fingerprint bare marker) cannot vouch for the delivered
      // rows: even the true retry fails as the mismatch, epoch untouched
      val seal = new org.apache.hadoop.fs.Path(
        f"$root/e/epoch-${0L}%012d/_decided")
      assert(graft.util.Gen.readSmall(fs, seal).startsWith("fp1:"))
      for (old <- Seq("3:12345", "")) {
        val o = fs.create(seal, true)
        o.write(old.getBytes("UTF-8")); o.close()
        val before = tree(root)
        assert(intercept[IllegalStateException](
          Dedup.ledgerAdmitStreamBatch(spark, s"$root/l", s"$root/e",
            mk(Seq(3L, 1L, 2L)), "doc_id", "text", 0L))
          .getMessage.contains("DIFFERENT batch"))
        assert(tree(root) === before)
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("consumer-ack retention: sweepAdmitEpochs never drops a sealed " +
      "epoch ABOVE the ack watermark (a lagging consumer's unread " +
      "admits are unrecoverable once swept); acked epochs reclaim, " +
      "force overrides, acks are monotone") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_epoch_ack").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    try {
      (0 until 4).foreach { e =>
        Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
          (e * 10 until e * 10 + 5).map(i => (i.toLong, s"text $i"))
            .toDF("doc_id", "text"), "doc_id", "text", e.toLong)
      }
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === None)
      // guard: an ack beyond the newest sealed epoch (a row count, a
      // wrong root) would silently disable the gate forever — refuse
      val over = intercept[IllegalArgumentException] {
        Dedup.ackAdmitEpochs(spark, epochs, 50000L)
      }
      assert(over.getMessage.contains("newest SEALED"))
      intercept[IllegalArgumentException] {
        Dedup.ackAdmitEpochs(spark, s"$root/virgin", 0L)
      }
      // consumer has read only epoch 0; keepLast=1 would blindly drop
      // epochs 0-2 — the watermark protects the unread 1 and 2
      assert(Dedup.ackAdmitEpochs(spark, epochs, 0L) === 0L)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(0L))
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1) === 1)
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(1L, 2L, 3L))
      // the consumer catches up through epoch 2 — those reclaim
      assert(Dedup.ackAdmitEpochs(spark, epochs, 2L) === 2L)
      // monotone: a stale (lower) ack is a no-op on the watermark
      assert(Dedup.ackAdmitEpochs(spark, epochs, 1L) === 2L)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(2L))
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1) === 2)
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(3L))
      // force: the operator abandoning a dead consumer overrides the
      // gate (epoch 4 lands, 3 is still above the watermark)
      Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
        Seq((40L, "text 40")).toDF("doc_id", "text"),
        "doc_id", "text", 4L)
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1) === 0)
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1,
        force = true) === 1)
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(4L))
      // ack-race safety: a stale concurrent ack (its pre-check read
      // the OLD watermark, its marker landed next to the fresh one)
      // must never move the watermark backwards — max wins, and a
      // later ack reclaims the leftover lower marker
      fs.create(new org.apache.hadoop.fs.Path(epochs,
        f"_consumed-${1L}%012d"), true).close() // the stale ack's marker
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(2L))
      assert(Dedup.ackAdmitEpochs(spark, epochs, 1L) === 2L) // no-op
      assert(Dedup.ackAdmitEpochs(spark, epochs, 4L) === 4L)
      // the higher ack's cleanup reclaimed every LOWER marker
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(epochs))
        .map(_.getPath.getName).count(_.startsWith("_consumed-")) === 1)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(4L))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("streamed exact-ledger audit: per-epoch drop reasons surface " +
      "epoch-labeled — exact_batch names the in-batch rep, " +
      "exact_store carries a NULL partner by design (the digest " +
      "store is id-free)") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_exaudit").toString
    try {
      // epoch 0: one in-batch exact dup; epoch 1: one cross-epoch
      // exact dup + one novel
      val b1 = Seq((1L, "alpha text"), (2L, "beta text"),
        (3L, "alpha text")).toDF("doc_id", "text")
      val b2 = Seq((10L, "beta text"), (11L, "gamma text"))
        .toDF("doc_id", "text")
      Dedup.ledgerAdmitStreamBatch(spark, s"$root/ledger",
        s"$root/epochs", b1, "doc_id", "text", 0L, audit = true)
      Dedup.ledgerAdmitStreamBatch(spark, s"$root/ledger",
        s"$root/epochs", b2, "doc_id", "text", 1L, audit = true)
      val rows = Dedup.readAuditEpochs(spark, s"$root/epochs")
        .select("epoch", "doc", "reason", "partner")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(rows === Set(
        (0L, 3L, "exact_batch", Some(1L)),
        (1L, 10L, "exact_store", None)))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("named consumer groups: the retention gate is the SLOWEST " +
      "group's watermark — a fast sibling's acks can never release a " +
      "lagging group's unread epochs; per-group acks are monotone " +
      "and independently race-safe") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_groups").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    try {
      (0 until 4).foreach { e =>
        Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
          (e * 10 until e * 10 + 5).map(i => (i.toLong, s"text $i"))
            .toDF("doc_id", "text"), "doc_id", "text", e.toLong)
      }
      // trainer raced ahead; evalpipe is still on epoch 0
      assert(Dedup.ackAdmitEpochs(spark, epochs, "trainer", 3L) === 3L)
      assert(Dedup.ackAdmitEpochs(spark, epochs, "evalpipe", 0L) === 0L)
      assert(Dedup.consumerAdmitWatermark(spark, epochs, "trainer") ===
        Some(3L))
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(0L))
      // the gate holds retention for the slowest group: keepLast=1
      // would blindly drop 0-2, but only epoch 0 is past EVERY group
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1) === 1)
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(1L, 2L, 3L))
      // per-group monotonicity: a stale trainer ack is a no-op and
      // cannot lower the trainer's own watermark
      assert(Dedup.ackAdmitEpochs(spark, epochs, "trainer", 1L) === 3L)
      // the laggard catches up — the gate advances with the min
      assert(Dedup.ackAdmitEpochs(spark, epochs, "evalpipe", 2L) === 2L)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(2L))
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1) === 2)
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(3L))
      // an anonymous ack registers as its own (third) group and the
      // health report counts the groups behind the gate
      Dedup.ackAdmitEpochs(spark, epochs, 1L)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(1L))
      val h = Dedup.admitEpochHealthReport(spark, epochs).head()
      assert(h.getAs[Long]("n_consumers") === 3L)
      assert(h.getAs[Long]("consumed_watermark") === 1L)
      // names are marker-file-embedded: refuse anything else loudly
      intercept[IllegalArgumentException] {
        Dedup.ackAdmitEpochs(spark, epochs, "bad/name", 1L)
      }
      intercept[IllegalArgumentException] {
        Dedup.ackAdmitEpochs(spark, epochs, "bad-name", 1L)
      }
      // a consumer re-acking its PERSISTED progress after a restart
      // is a no-op even when every sealed epoch at or below it has
      // been swept and the newest delivery crashed unsealed — the
      // marker outlives the epochs it acknowledges; only an ADVANCING
      // ack needs a sealed epoch to reference
      fs.delete(new org.apache.hadoop.fs.Path(
        f"$epochs/epoch-${3L}%012d/_appended"), false)
      assert(Dedup.ackAdmitEpochs(spark, epochs, "trainer", 3L) === 3L)
      intercept[IllegalArgumentException] {
        Dedup.ackAdmitEpochs(spark, epochs, "trainer", 4L)
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("retireConsumer: deleting ONE dead group's ack markers lets " +
      "the retention gate recompute over the survivors (the next " +
      "sweep reclaims up to the remaining min); retiring the LAST " +
      "group reverts to the blind horizon; a typo'd name refuses " +
      "loudly; a mistaken retire self-heals at the next ack") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_retire").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    try {
      (0 until 4).foreach { e =>
        Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
          (e * 10 until e * 10 + 5).map(i => (i.toLong, s"text $i"))
            .toDF("doc_id", "text"), "doc_id", "text", e.toLong)
      }
      Dedup.ackAdmitEpochs(spark, epochs, "trainer", 2L)
      Dedup.ackAdmitEpochs(spark, epochs, "deadpipe", 0L)
      // the dead group gates: keepLast=1 reclaims only epoch 0
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1) === 1)
      // a typo must fail loudly (naming the registered groups), not
      // report success while the real dead group keeps blocking
      val typo = intercept[IllegalArgumentException] {
        Dedup.retireConsumer(spark, epochs, "deadpip")
      }
      assert(typo.getMessage.contains("deadpip") &&
        typo.getMessage.contains("deadpipe"))
      intercept[IllegalArgumentException] {
        Dedup.retireConsumer(spark, epochs, "bad/name")
      }
      // retire the dead group: the SAME sweep now reclaims up to the
      // surviving group's watermark
      assert(Dedup.retireConsumer(spark, epochs, "deadpipe") === 1)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(2L))
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1) === 2)
      assert(Dedup.readAdmittedEpochs(spark, epochs)
        .select("epoch").distinct().as[Long].collect().sorted.toSeq ===
        Seq(3L))
      // ...and the health report stops paging on the retired group
      val h = Dedup.admitEpochHealthReport(spark, epochs,
        horizon = 2).head()
      assert(h.getAs[Long]("n_consumers") === 1L)
      assert(!h.getAs[Boolean]("lag_exceeds_horizon"))
      // retiring the LAST group reverts to the blind horizon (logged
      // loudly, not refused): an epoch above nobody's watermark is
      // reclaimable again
      assert(Dedup.retireConsumer(spark, epochs, "trainer") === 1)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === None)
      Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
        Seq((99L, "text 99")).toDF("doc_id", "text"),
        "doc_id", "text", 4L)
      assert(Dedup.sweepAdmitEpochs(spark, epochs, keepLast = 1) === 1)
      // a group retired by mistake re-registers at its next ack
      assert(Dedup.ackAdmitEpochs(spark, epochs, "trainer", 4L) === 4L)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(4L))
      // the anonymous group is one group like any other — retirable,
      // and multiple leftover markers all go (the race-leftover shape)
      Dedup.ackAdmitEpochs(spark, epochs, 4L)
      fs.create(new org.apache.hadoop.fs.Path(epochs,
        f"_consumed-${3L}%012d"), true).close() // stale-ack leftover
      assert(Dedup.retireAnonymousConsumer(spark, epochs) === 2)
      assert(Dedup.consumedAdmitWatermark(spark, epochs) === Some(4L))
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("admitEpochHealthReport is driver-side metadata only: ZERO " +
      "Spark jobs at any epoch count (admitted_rows comes from " +
      "parquet footers) and the footer count matches the scan count " +
      "exactly") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_health_meta").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    try {
      (0 until 3).foreach { e =>
        Dedup.ledgerAdmitStreamBatch(spark, ledger, epochs,
          (e * 10 until e * 10 + 4).map(i => (i.toLong, s"text $i"))
            .toDF("doc_id", "text"), "doc_id", "text", e.toLong)
      }
      val scanCount = Dedup.readAdmittedEpochs(spark, epochs).count()
      assert(scanCount === 12L)
      val (h, jobs) =
        withJobCount(Dedup.admitEpochHealthReport(spark, epochs).head())
      assert(h.getAs[Long]("admitted_rows") === scanCount)
      assert(jobs === 0,
        s"health report launched $jobs Spark jobs — a health " +
          "poll must stay one driver listing at any store age")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("batch-vs-stream interleaving: a batch admit landing while a " +
      "streamed epoch holds the ingest lease fails LOUDLY on the " +
      "lease — no deadlock, no silent interleave (route backfills " +
      "through the stream's source instead)") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_interleave").toString
    val ledger = s"$root/ledger"
    try {
      val b = Seq((1L, "alpha")).toDF("doc_id", "text")
      // the streamed epoch's lease is held for its whole
      // read-decide-append window; a batch admit inside it must refuse
      graft.util.Fs.withIngestLease(spark, ledger,
          "ledgerAdmitStream(epoch=0)") {
        val e = intercept[IllegalStateException] {
          Dedup.ledgerAdmit(spark, ledger, b, "doc_id", "text")
        }
        assert(e.getMessage.contains("ingest lease"))
      }
      // and vice versa: a streamed epoch refuses while a batch admit
      // holds the same lease
      graft.util.Fs.withIngestLease(spark, ledger, "ledgerAdmit") {
        val e = intercept[IllegalStateException] {
          Dedup.ledgerAdmitStreamBatch(spark, ledger, s"$root/epochs",
            b, "doc_id", "text", 0L)
        }
        assert(e.getMessage.contains("ingest lease"))
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("per-store append seals: a near-dup epoch retry that crashed " +
      "after its appends but before the epoch seal re-appends " +
      "NOTHING (both halves short-circuit on their markers) — store " +
      "row counts hold and the band/primary sync invariant the " +
      "health report pages on stays green") {
    import SparkTestBase.session.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_seal").toString
    val ledger = s"$root/ledger"
    val epochs = s"$root/epochs"
    try {
      val b = Seq((1L, "alpha beta gamma delta"),
        (2L, "wholly unrelated content here"))
        .toDF("doc_id", "text")
      Dedup.nearDupLedgerAdmitStreamBatch(spark, ledger, epochs, b,
        "doc_id", "text", 0L)
      val eDir = f"$epochs/epoch-${0L}%012d"
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$eDir/_bands_appended")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$eDir/_primary_appended")))
      def counts() = (
        spark.read.parquet(graft.util.Gen.resolve(spark, ledger))
          .count(),
        spark.read.parquet(graft.util.Gen.resolve(spark,
          ledger + "_bands")).count())
      val before = counts()
      // crash between the appends and the epoch seal: only _appended
      // is missing — the retry must skip both sealed halves
      fs.delete(new org.apache.hadoop.fs.Path(s"$eDir/_appended"),
        false)
      val replay = Dedup.nearDupLedgerAdmitStreamBatch(spark, ledger,
        epochs, b, "doc_id", "text", 0L)
      assert(replay.count() === 2L)
      assert(counts() === before)
      val health = Dedup.nearDupLedgerHealthReport(spark, ledger)
        .select("band_rows", "expected_band_rows",
          "rebuild_bands_advised").head()
      assert(health.getLong(0) === health.getLong(1))
      assert(health.getBoolean(2) === false)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("driver smoke parity: SparkEntry.entry returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
