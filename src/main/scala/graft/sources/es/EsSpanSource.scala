package graft.sources.es

import java.util
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.model.JaegerModel
import graft.operators.{SpanOps, TraceOps}

/** Elasticsearch span-index ingestion (reference `internal_spans_from_es` /
  * `traces_from_es`, `/root/reference/traceframe/traceframe.py:268-402`).
  *
  * The reference scrolls `{prefix}jaeger-span-*` sequentially (15 s scroll,
  * `min(10000, limit)` pages). Here each Spark input partition owns one ES
  * **slice** (the public `slice: {id, max}` scroll feature), so executors
  * scroll concurrently; within a partition pagination stays sequential as
  * the scroll protocol requires. The transport is injectable ([[EsClient]])
  * — the production HTTP implementation mirrors [[graft.sources.jaeger.HttpJaegerClient]];
  * tests use a fixture-backed fake (zero-egress environment).
  *
  * Each emitted row is one span document's `_source` JSON; [[EsSpanOps]]
  * parses and reshapes.
  */
trait EsClient extends Serializable {
  /** Open a scroll over `index` for `sliceId`/`maxSlices`; returns the first
    * page of `_source` JSON documents plus a scroll token ("" = done). */
  def openScroll(index: String, sliceId: Int, maxSlices: Int,
      pageSize: Int): (Seq[String], String)
  /** Continue a scroll; empty page ends it. */
  def scroll(token: String): (Seq[String], String)
  /** Release a server-side scroll context early (readers that stop at a
    * limit would otherwise pin contexts until the keep-alive expires and
    * can exhaust ES `max_open_scroll_context`). */
  def clearScroll(token: String): Unit = ()
  /** Time-bounded scroll for the streaming source: spans with
    * `startTime ∈ [fromUs, toUs)` only — the production transport issues
    * a range query so only the window's documents leave the server. */
  def openScrollRange(index: String, sliceId: Int, maxSlices: Int,
      pageSize: Int, fromUs: Long, toUs: Long): (Seq[String], String)
  /** Max span `startTime` currently in the index (µs), −1 when empty —
    * drives [[EsSpanMicroBatchStream.latestOffset]] with one agg query. */
  def maxStartTimeUs(index: String): Long
}

object EsClient {
  def forName(className: String, endpoint: String): EsClient = {
    val cls = Class.forName(className)
    val ctor = cls.getConstructors.minBy(_.getParameterCount)
    (ctor.getParameterCount match {
      case 0 => ctor.newInstance()
      case 1 => ctor.newInstance(endpoint)
      case n => throw new IllegalArgumentException(
        s"$className ctor takes $n args; need 0 or 1")
    }).asInstanceOf[EsClient]
  }
}

class EsSpanTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "es-spans"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EsSpanTableProvider.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EsSpanTable(properties.asScala.toMap)
}

object EsSpanTableProvider {
  val schema: StructType = StructType(Seq(StructField("json", StringType)))
  /** reference defaults: limit 2000, page ≤ 10000 (`traceframe.py:352,373`) */
  val DefaultLimit = 2000
  val MaxPageSize = 10000
}

class EsSpanTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"es-spans:${props.getOrElse("index", "?")}"
  override def schema(): StructType = EsSpanTableProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EsScanBuilder(props ++ options.asScala)
}

/** The `limit` OPTION is a per-slice upper bound only (slices cannot
  * coordinate a global cutoff); an exact total cap needs `df.limit(n)`,
  * which pushes down AND retains the trimming Limit — the [[EsSpanOps]]
  * facade does this for the reference's total-limit semantics. */
class EsScanBuilder(rawOpts: Map[String, String])
    extends ScanBuilder with SupportsPushDownLimit {
  private val opts = rawOpts.map { case (k, v) => k.toLowerCase -> v }
  private var limit: Option[Int] = opts.get("limit").map(_.toInt)
  override def pushLimit(n: Int): Boolean = {
    limit = Some(limit.fold(n)(math.min(_, n))); true
  }
  override def build(): Scan = new EsScan(EsScanConfig(
    endpoint = opts.getOrElse("endpoint",
      throw new IllegalArgumentException("es-spans source needs 'endpoint'")),
    clientClass = opts.getOrElse("client", classOf[HttpEsClient].getName),
    index = opts.getOrElse("index", "jaeger-span-*"),
    slices = opts.getOrElse("slices", "4").toInt,
    limit = limit,
    streamFromUs = opts.getOrElse("streamfrom", "0").toLong))
}

case class EsScanConfig(endpoint: String, clientClass: String, index: String,
    slices: Int, limit: Option[Int], streamFromUs: Long = 0L)

case class EsSlicePartition(sliceId: Int, maxSlices: Int) extends InputPartition

class EsScan(conf: EsScanConfig) extends Scan with Batch {
  override def readSchema(): StructType = EsSpanTableProvider.schema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // fail fast rather than diverge: the batch scan pushes `limit` down
    // per slice, but a micro-batch stream is unbounded by construction —
    // silently returning every row would make the same option mean two
    // different things on the two read paths (ADVICE r4)
    require(conf.limit.isEmpty,
      "the 'limit' option applies only to batch reads; a streaming read " +
        "is unbounded — drop the option (bound the stream with " +
        "trigger/watermark policy instead)")
    new EsSpanMicroBatchStream(conf, conf.streamFromUs)
  }
  override def planInputPartitions(): Array[InputPartition] = {
    val n = math.max(1, conf.slices)
    (0 until n).map(i => EsSlicePartition(i, n)).toArray[InputPartition]
  }
  override def createReaderFactory(): PartitionReaderFactory =
    EsSliceReaderFactory(conf)
}

case class EsSliceReaderFactory(conf: EsScanConfig)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new EsSliceReader(conf, p.asInstanceOf[EsSlicePartition])
}

/** Sequential scroll within one slice. Each slice is capped at the FULL
  * pushed limit, not limit/slices: ES slices are hash-based and can skew,
  * so a per-slice share under-delivers (a LIMIT n query would silently
  * return < n rows even though more exist). Spark retains the Limit above
  * a partially-pushed scan and trims the ≤ slices×limit excess exactly. */
class EsSliceReader(conf: EsScanConfig, part: EsSlicePartition)
    extends PartitionReader[InternalRow] {
  private val sliceLimit = conf.limit
  private val pageSize = math.min(EsSpanTableProvider.MaxPageSize,
    sliceLimit.getOrElse(EsSpanTableProvider.MaxPageSize))
  private lazy val client = EsClient.forName(conf.clientClass, conf.endpoint)
  private var (page, token) =
    client.openScroll(conf.index, part.sliceId, part.maxSlices, pageSize)
  private var emitted = 0
  private var it: Iterator[String] = page.iterator
  private var current: String = _

  override def next(): Boolean = {
    if (sliceLimit.exists(emitted >= _)) return false
    while (!it.hasNext && token.nonEmpty) {
      val (p, t) = client.scroll(token)
      it = p.iterator; token = t
      if (p.isEmpty) return false
    }
    if (it.hasNext) { current = it.next(); emitted += 1; true } else false
  }
  override def get(): InternalRow = InternalRow(UTF8String.fromString(current))
  /** A reader that stopped early (limit) leaves a live scroll context —
    * release it instead of waiting out the 15 s keep-alive. */
  override def close(): Unit =
    if (token != null && token.nonEmpty) client.clearScroll(token)
}

/** Server-side scroll-context budget probe for the retried-open path.
  * Parsing and thresholding are pure (spec-pinned); the transport feeds
  * it `GET /_nodes/stats/indices/search` output best-effort. */
object EsScrollPressure {
  /** ES default `search.max_open_scroll_context`. */
  val DefaultCap = 500
  private val OpenContexts =
    """"open_scroll_contexts"\s*:\s*(\d+)|"open_contexts"\s*:\s*(\d+)""".r
  /** Total open scroll contexts across nodes from a node-stats body, or
    * None when the field is absent (older ES / restricted stats). */
  def openContexts(nodeStatsJson: String): Option[Long] = {
    val counts = OpenContexts.findAllMatchIn(nodeStatsJson).map(m =>
      Option(m.group(1)).getOrElse(m.group(2)).toLong).toSeq
    if (counts.isEmpty) None else Some(counts.sum)
  }
  /** Warning to log before a retried scroll open lands on a
    * near-exhausted context budget (>= 80% of cap). */
  def check(nodeStatsJson: String, cap: Int = DefaultCap): Option[String] =
    openContexts(nodeStatsJson).filter(_ >= (cap * 8L) / 10).map(n =>
      s"retrying a scroll open with $n open scroll contexts on the " +
        s"server (cap ~$cap): orphaned contexts from lost responses " +
        "expire with the 15 s keep-alive, but a retry storm this close " +
        "to max_open_scroll_context can exhaust the budget")
}

/** Production ES transport (POST _search with slice + scroll). Untestable
  * in this zero-egress environment; kept minimal and mirrored by the
  * fixture fake in tests. */
class HttpEsClient(endpoint: String) extends EsClient {
  import java.net.URI
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}
  import java.time.Duration
  @transient private lazy val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val mapper = new ObjectMapper()

  private def post(path: String, body: String): String = {
    val req = HttpRequest.newBuilder(URI.create(s"$endpoint$path"))
      .header("Content-Type", "application/json")
      .timeout(Duration.ofSeconds(15)) // reference scroll keep-alive
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new graft.sources.HttpStatusException(resp.statusCode(),
        s"ES ${resp.statusCode()}: ${resp.body().take(200)}")
    resp.body()
  }

  /** Idempotent search/agg calls retry on transient failures; scroll
    * CONTINUATIONS must not (see [[graft.sources.HttpRetry]]: a lost
    * response already advanced the server cursor — retrying skips a
    * page; recovery is the task re-running its slice).
    *
    * Scroll OPENS do retry, which carries a bounded leak: if the server
    * opened a context but the response was lost, its scroll id was in
    * the lost body — unclearable by construction (and `DELETE
    * /_search/scroll/_all` would kill sibling slices' LIVE scrolls, so
    * no blanket clear either). The orphan expires with the 15 s
    * keep-alive, so the worst case is (retries × concurrent tasks) extra
    * contexts for 15 s, which is why keep-alive stays short and retries
    * few. What the retry path CAN do — and does, via `onRetry` — is
    * check the server-side budget before piling on: a best-effort node
    * stats probe compares open scroll contexts against
    * `max_open_scroll_context` (ES default 500) and logs a loud warning
    * when a retried open is about to land on a near-exhausted budget
    * ([[EsScrollPressure]], pinned by spec). */
  private def postRetrying(path: String, body: String): String =
    graft.sources.HttpRetry.withRetries()(post(path, body))

  /** Scroll opens: same retry discipline plus the pressure probe. */
  private def postScrollOpen(path: String, body: String): String =
    graft.sources.HttpRetry.withRetries(onRetry = _ =>
      try {
        EsScrollPressure.check(get("/_nodes/stats/indices/search"))
          .foreach(w => System.err.println(s"[es-spans] $w"))
      } catch { case _: Exception => () } // best-effort, never fail a retry
    )(post(path, body))

  private def get(path: String): String = {
    val req = HttpRequest.newBuilder(URI.create(s"$endpoint$path"))
      .timeout(Duration.ofSeconds(5)).GET().build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new graft.sources.HttpStatusException(resp.statusCode(),
        s"ES ${resp.statusCode()}")
    resp.body()
  }

  private def parse(body: String): (Seq[String], String) = {
    val root = mapper.readTree(body)
    val hits = root.path("hits").path("hits")
    val docs = (0 until hits.size())
      .map(i => mapper.writeValueAsString(hits.get(i).path("_source")))
    val tok = Option(root.get("_scroll_id")).map(_.asText()).getOrElse("")
    (docs, if (docs.isEmpty) "" else tok)
  }

  override def openScroll(index: String, sliceId: Int, maxSlices: Int,
      pageSize: Int): (Seq[String], String) = {
    val slice =
      if (maxSlices > 1) s""""slice": {"id": $sliceId, "max": $maxSlices},"""
      else ""
    parse(postScrollOpen(s"/$index/_search?scroll=15s",
      s"""{$slice "size": $pageSize, "query": {"match_all": {}}}"""))
  }

  override def scroll(token: String): (Seq[String], String) =
    parse(post("/_search/scroll",
      s"""{"scroll": "15s", "scroll_id": "$token"}"""))

  override def openScrollRange(index: String, sliceId: Int, maxSlices: Int,
      pageSize: Int, fromUs: Long, toUs: Long): (Seq[String], String) = {
    val slice =
      if (maxSlices > 1) s""""slice": {"id": $sliceId, "max": $maxSlices},"""
      else ""
    parse(postScrollOpen(s"/$index/_search?scroll=15s",
      s"""{$slice "size": $pageSize, "query": {"range": {"startTime":
         | {"gte": $fromUs, "lt": $toUs}}}}""".stripMargin.replace("\n", "")))
  }

  override def maxStartTimeUs(index: String): Long = {
    val body = postRetrying(s"/$index/_search",
      """{"size": 0, "aggs": {"m": {"max": {"field": "startTime"}}}}""")
    val v = mapper.readTree(body).path("aggregations").path("m").path("value")
    if (v.isMissingNode || v.isNull) -1L else v.asDouble().toLong
  }

  override def clearScroll(token: String): Unit = {
    val req = HttpRequest.newBuilder(URI.create(s"$endpoint/_search/scroll"))
      .header("Content-Type", "application/json")
      .timeout(Duration.ofSeconds(5))
      .method("DELETE", HttpRequest.BodyPublishers.ofString(
        s"""{"scroll_id": "$token"}""")).build()
    try http.send(req, HttpResponse.BodyHandlers.discarding())
    catch { case _: Exception => () } // best-effort cleanup
  }
}

/** Shaping for ES span documents (reference `traces_from_es`,
  * `traceframe.py:268-317`). */
object EsSpanOps {

  /** ES jaeger-span `_source` schema: span fields + embedded process. */
  val esSpanSchema: StructType = StructType(Seq(
    StructField("traceID", StringType),
    StructField("spanID", StringType),
    StructField("flags", LongType),
    StructField("operationName", StringType),
    StructField("references", org.apache.spark.sql.types.ArrayType(
      JaegerModel.referenceSchema)),
    StructField("startTime", LongType),
    StructField("duration", LongType),
    StructField("tags", org.apache.spark.sql.types.ArrayType(
      JaegerModel.tagSchema)),
    StructField("process", JaegerModel.processSchema)))

  /** Raw ES scan → flat spans frame. processID is synthesized from the
    * process `hostname` tag (reference PROCESS_NAME_KEY quirk,
    * `traceframe.py:280,298-301`), service from the embedded process. */
  def flatSpans(raw: DataFrame): DataFrame = {
    raw
      .select(from_json(col("json"), esSpanSchema).as("s"))
      .select(
        col("s.traceID"), col("s.spanID"), col("s.flags"),
        col("s.operationName"), col("s.startTime"), col("s.duration"),
        lit(null).cast("array<struct<timestamp:bigint,fields:array<struct<key:string,type:string,value:string>>>>")
          .as("logs"),
        coalesce(
          get(filter(col("s.process.tags"),
            t => t.getField("key") === "hostname"), lit(0))
            .getField("value"),
          lit("unknown-host")).as("processID"),
        lit(null).cast("array<string>").as("warnings"),
        col("s.process.serviceName").as("service"),
        SpanOps.parentExpr(col("s")).as("parent"),
        // last-win duplicate-key fold (see SpanOps.lastWinMap)
        SpanOps.lastWinMap(
          coalesce(col("s.tags"),
            array().cast("array<struct<key:string,type:string,value:string>>")),
          "value").as("tags"))
  }

  /** S9 `traces_from_es`: ES scan → spans → assembled traces → summary.
    * The reference's `limit` is a TOTAL span cap (`traceframe.py:352`);
    * the scan-level option alone is only a per-slice upper bound (slices
    * can't coordinate), so the facade applies an explicit `.limit(n)` —
    * which Spark also pushes into the scan and then trims exactly. */
  def traces(spark: SparkSession, endpoint: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val raw = options.foldLeft(
      spark.read.format("es-spans").option("endpoint", endpoint)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
    val capped = options.get("limit").map(l => raw.limit(l.toInt))
      .getOrElse(raw)
    TraceOps.summarize(SpanOps.assembleTraces(flatSpans(capped)))
  }
}
