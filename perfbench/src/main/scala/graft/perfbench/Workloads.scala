package graft.perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.TraceFrame
import graft.analysis.{CriticalPath, ServiceGraph}
import graft.operators.{Dedup, Percentiles, Presentation, SpanOps, Similarity, TraceOps}
import graft.sources.JaegerJsonSource

/** One timed op: `units` of work over `seconds` of timed engine calls;
  * `latencyMs` are the op's latency samples (the whole pass, or each
  * serve call) and `errors` its failed output checks. */
final case class OpResult(units: Double, seconds: Double,
    latencyMs: Seq[Double], errors: Seq[String])

/** A benchmark workload: seeded input, one preparation, a fixed warm-up
  * and a closed loop of homogeneous ops. */
trait Workload {
  def warmupOps: Int
  /** Write the seeded input; untimed (it is the load generator's). */
  def generate(): Unit
  def inputBytes: Long
  /** Build whatever the ops read. */
  def prepare(): Unit = ()
  def op(i: Int): OpResult
  /** Bytes this workload's outputs and stores hold on disk now. */
  def storeBytes: Long
}

object Workload {
  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum)
      .getOrElse(0L)
  }

  private[perfbench] val Ps = Seq(0.5 -> "p50", 0.99 -> "p99")

  /** Per-service exact duration percentiles plus a row count. */
  def durationPercentiles(spans: DataFrame): Array[Row] =
    Percentiles.groupedExact(spans, Seq("service"), "duration", Ps,
      extras = Seq(count(lit(1)).as("n"))).collect()

  /** p50 ≤ p99 on every row and the counts cover `expected` spans. */
  def checkPercentiles(rows: Array[Row], expected: Long,
      what: String): Seq[String] = {
    val n = rows.map(_.getAs[Long]("n")).sum
    val bad = rows.count(r => r.getAs[Double]("p50") > r.getAs[Double]("p99"))
    (if (n != expected) Seq(s"$what: percentiles cover $n spans, expected $expected")
     else Nil) ++
      (if (bad > 0) Seq(s"$what: $bad services with p50 > p99") else Nil)
  }

  /** Critical segments (start, end) of one trace tile it exactly: they
    * are contiguous and non-negative, start at the trace's first span and
    * end where its last span ends. */
  def checkTiling(segs: Seq[(Long, Long)], traceStart: Long, traceEnd: Long,
      what: String): Seq[String] = {
    val s = segs.sortBy(identity)
    if (s.isEmpty) Seq(s"$what: no critical segments")
    else if (s.head._1 != traceStart)
      Seq(s"$what: critical path starts at ${s.head._1}, trace at $traceStart")
    else if (s.last._2 != traceEnd)
      Seq(s"$what: critical path ends at ${s.last._2}, trace at $traceEnd")
    else if (s.exists { case (a, b) => b < a })
      Seq(s"$what: negative critical segment")
    else if (s.sliding(2).exists {
        case Seq(a, b) => a._2 != b._1
        case _ => false
      }) Seq(s"$what: critical segments leave a gap or overlap")
    else Nil
  }
}

/** `trace-ingest`: one pass of the paper pipeline over one batch, then
  * three interactive requests on the frames the pass stored: a
  * `traceWithSpans` lookup, a Gantt chart and a status slice, on
  * Zipf(1.1)-skewed traceIDs. */
final class TraceIngest(spark: SparkSession, probe: Probe, work: String,
    seed: Long) extends Workload {
  val warmupOps = 3
  private var batch: TraceBatch = _
  private val out = s"$work/pass"
  private val rnd = new Random(seed * 31 + 7)
  private var zipfIdx: Array[Int] = _
  private var zipfCdf: Array[Double] = _
  private val thresholds = Array(200, 300, 400, 429, 500, 503)

  def inputBytes: Long = batch.bytes
  def storeBytes: Long = Workload.dirBytes(out)

  def generate(): Unit = {
    batch = TraceGen.write(s"$work/input.jsonl", TraceIngest.Traces, seed)
    // Zipf(1.1) over the non-empty traces, in a seeded order
    zipfIdx = new Random(seed).shuffle(
      batch.traceIds.indices.filter(batch.spanCounts(_) > 0)).toArray
    val w = zipfIdx.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def op(i: Int): OpResult = {
    val raw = JaegerJsonSource.tracesJsonl(spark, batch.path)
    val schema = SpanOps.flatten(raw).schema
    def flat = spark.read.schema(schema).parquet(s"$out/flat")
    val t = mutable.ArrayBuffer.empty[Double]
    t += probe.call("spanops.flatten") {
      SpanOps.flatten(raw).write.mode("overwrite").parquet(s"$out/flat")
    }._2
    t += probe.call("spanops.pivot_tags") {
      SpanOps.pivotTags(flat).write.mode("overwrite").parquet(s"$out/wide")
    }._2
    t += probe.call("traceops.summarize") {
      TraceOps.summarize(raw).write.mode("overwrite").parquet(s"$out/summary")
    }._2
    t += probe.call("criticalpath.segments") {
      CriticalPath.segmentsFromFlat(flat).write.mode("overwrite")
        .parquet(s"$out/critical")
    }._2
    val (ranks, tr) = probe.call("servicegraph.pagerank") {
      ServiceGraph.pageRank(ServiceGraph.dependencyEdges(flat)).collect()
    }
    t += tr
    val (pcts, tp) = probe.call("percentiles.grouped_exact") {
      Workload.durationPercentiles(flat)
    }
    t += tp
    val errs = check(ranks, pcts)
    val stored = Stored(spark.read.parquet(s"$out/summary"), flat,
      spark.read.parquet(s"$out/wide"))
    val reqs = Seq(lookup(stored), gantt(stored), slice(stored))
    val secs = t.sum + reqs.map(_._1).sum
    OpResult(batch.spans.toDouble, secs, Seq(secs * 1000),
      errs ++ reqs.flatMap(_._2))
  }

  private def check(ranks: Array[Row], pcts: Array[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val tot = spark.read.parquet(s"$out/summary")
      .agg(count(lit(1)), sum("nspans"), sum("errspans")).head()
    if (tot.getLong(0) != batch.traces)
      errs += s"summary has ${tot.getLong(0)} rows, expected ${batch.traces}"
    if (tot.getLong(1) != batch.spans)
      errs += s"sum(nspans) = ${tot.getLong(1)}, expected ${batch.spans}"
    if (tot.getLong(2) != batch.errorTags)
      errs += s"sum(errspans) = ${tot.getLong(2)}, expected ${batch.errorTags}"
    val flatCols = spark.read.parquet(s"$out/flat").columns
      .count(c => c != "tags" && c != "tagTypes")
    val width = spark.read.parquet(s"$out/wide").columns.length
    if (width != flatCols + batch.tagKeys.size)
      errs += s"pivot width $width, expected $flatCols + ${batch.tagKeys.size}"
    errs ++= checkCritical()
    val rankSum = ranks.map(_.getDouble(1)).sum
    if (math.abs(rankSum - 1.0) > 1e-9) errs += s"PageRank ranks sum to $rankSum"
    errs ++= Workload.checkPercentiles(pcts, batch.spans, "grouped_exact")
    errs.toSeq
  }

  /** Tiling of every trace's critical path, checked in Spark. */
  private def checkCritical(): Seq[String] = {
    import spark.implicits._
    val segs = spark.read.parquet(s"$out/critical").select(
      col("span.traceID").as("traceID"), col("startTime").as("s"),
      (col("startTime") + col("duration")).as("e"))
    val w = Window.partitionBy("traceID").orderBy("s", "e")
    val gaps = segs.withColumn("prev", lag("e", 1).over(w))
      .filter(col("e") < col("s") ||
        (col("prev").isNotNull && col("prev") =!= col("s")))
      .count()
    val bounds = batch.traceIds.indices.filter(batch.spanCounts(_) > 0)
      .map(i => (batch.traceIds(i), batch.traceStarts(i), batch.traceEnds(i)))
      .toDF("traceID", "t0", "t1")
    val ends = segs.groupBy("traceID").agg(min("s").as("s"), max("e").as("e"))
      .join(bounds, Seq("traceID"), "full_outer")
      .filter(col("s").isNull || col("t0").isNull || col("s") =!= col("t0") ||
        col("e") =!= col("t1"))
      .count()
    (if (gaps > 0) Seq(s"$gaps critical segments leave a gap or overlap") else Nil) ++
      (if (ends > 0) Seq(s"$ends traces whose critical path is missing or " +
        "does not span the trace from its first start to its last end") else Nil)
  }

  private final case class Stored(summary: DataFrame, flat: DataFrame,
      wide: DataFrame)

  private def drawTrace(): Int = {
    val u = rnd.nextDouble()
    val r = java.util.Arrays.binarySearch(zipfCdf, u)
    zipfIdx(math.min(if (r >= 0) r else -r - 1, zipfIdx.length - 1))
  }

  private def lookup(st: Stored): (Double, Seq[String]) = {
    val t = drawTrace(); val tid = batch.traceIds(t)
    val (rows, s) = probe.call("spanops.trace_with_spans") {
      TraceFrame.traceWithSpans(st.summary, st.flat, tid).collect()
    }
    val n = rows.headOption.map(_.getAs[Seq[Row]]("spans").size).getOrElse(-1)
    (s, if (rows.length == 1 && n == batch.spanCounts(t)) Nil
        else Seq(s"lookup $tid: ${rows.length} rows, $n spans, " +
          s"expected 1 row, ${batch.spanCounts(t)} spans"))
  }

  private def gantt(st: Stored): (Double, Seq[String]) = {
    val t = drawTrace(); val tid = batch.traceIds(t)
    val ((bars, crit), s) = probe.call("presentation.gantt") {
      val spans = st.flat.filter(col("traceID") === tid)
      (Presentation.spanSegments(spans).collect(),
        Presentation.critSegments(TraceFrame.criticalSegments(spans)).collect())
    }
    val errs =
      (if (bars.length != batch.spanCounts(t))
        Seq(s"gantt $tid: ${bars.length} bars, expected ${batch.spanCounts(t)}")
       else Nil) ++
        Workload.checkTiling(crit.map(r => (r.getLong(0), r.getLong(1))).toSeq,
          batch.traceStarts(t), batch.traceEnds(t), s"gantt $tid")
    (s, errs)
  }

  private def slice(st: Stored): (Double, Seq[String]) = {
    val thr = thresholds(rnd.nextInt(thresholds.length))
    val (rows, s) = probe.call("percentiles.slice") {
      Workload.durationPercentiles(
        st.wide.filter(col("`http.status_code`") >= thr))
    }
    (s, Workload.checkPercentiles(rows, batch.spansWithStatusAtLeast(thr),
      s"slice >= $thr"))
  }
}

object TraceIngest {
  /** Traces per batch: the same span count for every seed. */
  val Traces = 2000
}

/** `store-churn`: each op admits one batch to both ledgers, appends it to
  * the IVF index and serves queries from it, then forgets a few admitted
  * ids and compacts both ledgers and the index. */
final class StoreChurn(spark: SparkSession, probe: Probe, work: String,
    seed: Long) extends Workload {
  import StoreChurn._
  val warmupOps = 1
  private val copies = BatchDocs / 25 // per kind: in-batch and stored copies
  private val originals = BatchDocs - 2 * copies
  private val queryOffset = 1000000000000L
  private val docs = new DocGen(seed)
  private var root: String = _
  private def exact = s"$root/exact"
  private def ndl = s"$root/neardup"
  private def ivf = s"$root/ivf"
  private val rnd = new Random(seed * 17 + 3)
  // ground truth of the stores' live contents
  private val admittedIds = mutable.ArrayBuffer.empty[Long]
  private var everAdmitted = 0L // forgetting keeps the rows, scrubbed
  private var ivfRows = 0L
  private var fedBytes = 0L
  private var batchNo = 0

  private val schema = StructType(Seq(StructField("id", LongType, false),
    StructField("text", StringType, false),
    StructField("vec", ArrayType(DoubleType, false), false)))

  def inputBytes: Long = fedBytes
  def storeBytes: Long = Workload.dirBytes(root)
  def generate(): Unit = ()

  private def frame(ids: Seq[Long], text: Long => String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map(id =>
      Row(id, text(id), docs.vector(id).toSeq)): _*), schema)

  private def feed(ids: Seq[Long], text: Long => String): Unit =
    fedBytes += ids.map(id => text(id).getBytes("UTF-8").length + 8L +
      8L * DocGen.Dim).sum

  /** Builds and saves the IVF index the ops append to; the ledgers start
    * empty and the first op creates them. */
  override def prepare(): Unit = {
    root = s"$work/stores"
    val ids = (0 until InitialDocs).map(_.toLong)
    Similarity.saveIvfIndex(Similarity.buildIvfIndex(frame(ids, docs.text),
      "id", "vec", nCentroids = 16), ivf)
    ivfRows = ids.size
    feed(ids, docs.text)
  }

  def op(i: Int): OpResult = {
    val b = batchNo; batchNo += 1
    val base = 1000000L * (b + 1)
    val orig = (0 until originals).map(base + _)
    val inBatch = (0 until copies).map(k => base + originals + k)
    val storedCopies = (0 until copies).map(k => base + originals + copies + k)
    // each copy id maps to the id whose text it repeats: an original of
    // this batch, or a document admitted earlier (an original of this
    // batch too while the ledgers are still empty)
    val earlier = if (admittedIds.isEmpty) orig else admittedIds
    val copyOf = (inBatch.map(_ -> orig(rnd.nextInt(originals))) ++
      storedCopies.map(_ -> earlier(rnd.nextInt(earlier.size)))).toMap
    def text(id: Long): String = docs.text(copyOf.getOrElse(id, id))
    val ids = orig ++ inBatch ++ storedCopies
    val df = frame(ids, text)
    feed(ids, text)
    val errs = mutable.ArrayBuffer.empty[String]
    val writes = mutable.ArrayBuffer.empty[Double]
    def admitted(name: String)(admit: => DataFrame): Unit = {
      val (rows, s) = probe.call(name)(admit.select("id").collect())
      writes += s
      val got = rows.map(_.getLong(0)).toSet
      if (got.size != rows.length || !got.subsetOf(ids.toSet))
        errs += s"$name: admits do not partition the batch"
      if (got != orig.toSet)
        errs += s"$name: admitted ${got.size} of ${ids.size}, expected the " +
          s"${orig.size} originals (every planted copy rejected)"
    }
    admitted("dedup.exact_admit")(
      Dedup.ledgerAdmit(spark, exact, df, "id", "text"))
    admitted("dedup.neardup_admit")(
      Dedup.nearDupLedgerAdmit(spark, ndl, df, "id", "text"))
    val (appended, sa) = probe.call("similarity.ivf_append") {
      Similarity.appendToIvfIndex(spark, ivf, df, "id", "vec")
    }
    writes += sa
    if (appended != ids.size) errs += s"ivf_append appended $appended of ${ids.size}"
    admittedIds ++= orig
    everAdmitted += orig.size
    ivfRows += ids.size
    val serveMs = (0 until ServesPerOp).map { _ =>
      val q = rnd.shuffle(ids).take(QueriesPerServe)
      val qdf = frame(q, text).select((col("id") + queryOffset).as("id"),
        col("vec"))
      val (rows, s) = probe.call("similarity.ivf_serve") {
        Similarity.ivfTopKFromIndex(Similarity.loadIvfIndex(spark, ivf), qdf,
          "id", "vec", k = 3).collect()
      }
      val top = rows.filter(_.getAs[Long]("rank") == 1L)
        .map(r => r.getAs[Long]("query_id") - queryOffset ->
          r.getAs[Long]("neighbor_id")).toMap
      val miss = q.count(id => !top.get(id).contains(id))
      if (miss > 0) errs += s"ivf_serve: $miss of ${q.size} vectors not at rank 1"
      s * 1000
    }
    val forget = rnd.shuffle(admittedIds.toSeq).take(ForgetPerOp)
    val fdf = spark.createDataFrame(java.util.Arrays.asList(
      forget.map(Row(_)): _*), StructType(Seq(StructField("id", LongType))))
    val (scrubbed, sf) = probe.call("dedup.neardup_forget") {
      Dedup.nearDupLedgerForget(spark, ndl, fdf, "id")
    }
    writes += sf
    admittedIds --= forget
    if (scrubbed != forget.size)
      errs += s"neardup_forget scrubbed $scrubbed of ${forget.size}"
    def compact(name: String, expected: Long)(run: => Long): Unit = {
      val (n, s) = probe.call(name)(run)
      writes += s
      if (n != expected) errs += s"$name: $n live rows after, expected $expected"
    }
    compact("dedup.neardup_compact", everAdmitted)(Dedup.compactNearDupLedger(spark, ndl))
    compact("dedup.exact_compact", everAdmitted)(Dedup.compactDedupLedger(spark, exact))
    compact("similarity.ivf_compact", ivfRows)(Similarity.compactIvfIndex(spark, ivf))
    OpResult(ids.size.toDouble, writes.sum, serveMs, errs.toSeq)
  }
}

object StoreChurn {
  val InitialDocs = 200
  val BatchDocs = 250
  val ServesPerOp = 5
  val QueriesPerServe = 16
  val ForgetPerOp = 20
}

/** Seeded documents and vectors: text and vector are pure functions of
  * (seed, id), so a stored copy can be re-derived from its id. */
final class DocGen(seed: Long) {
  private val vocab = {
    val r = new Random(seed)
    Array.fill(2000)(Iterator.continually(('a' + r.nextInt(26)).toChar)
      .take(3 + r.nextInt(6)).mkString)
  }
  def text(id: Long): String = {
    val r = new Random(seed * 1000003L + id)
    Array.fill(30)(vocab(r.nextInt(vocab.length))).mkString(" ")
  }
  def vector(id: Long): Array[Double] = {
    val r = new Random(~seed * 7919L + id)
    Array.fill(DocGen.Dim)(r.nextGaussian())
  }
}

object DocGen {
  val Dim = 32
}
