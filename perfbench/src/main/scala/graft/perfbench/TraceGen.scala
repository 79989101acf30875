package graft.perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import scala.util.Random

/** What a generated batch must produce downstream: the ground truth
  * every output check compares against. */
final case class TraceBatch(
    path: String,
    bytes: Long,
    traceIds: Array[String],
    spanCounts: Array[Int],
    traceStarts: Array[Long],
    traceEnds: Array[Long],
    errorTags: Long,
    tagKeys: Seq[String],
    statusCounts: Map[Int, Long]) {
  def traces: Int = traceIds.length
  def spans: Long = spanCounts.map(_.toLong).sum
  def spansWithStatusAtLeast(threshold: Int): Long =
    statusCounts.collect { case (c, n) if c >= threshold => n }.sum
}

/** Seeded Jaeger JSONL generator (one trace per line, the
  * `JaegerJsonSource.tracesJsonl` layout).
  *
  * The volume is fixed: trace count, per-trace span counts, tag-key set
  * and the positions of error tags depend only on `traces`, never on the
  * seed. The seed draws the content: ids, timings, tree shape, services,
  * status codes and tag values. The edge cases of the bundled fixture's
  * generator all recur at fixed positions: a trace whose root is missing
  * (its first span points at an absent parent), an empty trace, async
  * siblings and children that outlive their parent, a duplicated tag
  * key (last one wins), spans with two `error` tags, and typed tags
  * (int64, bool, float64). */
object TraceGen {
  val Services: Array[String] = Array("web", "api", "auth", "db", "cache",
    "queue", "search", "billing")
  private val Ops = Array("/home", "/checkout", "/v1/get", "/v1/put",
    "SELECT", "INSERT", "GET", "SET", "publish", "/query", "/charge")
  private val Statuses = Array(200, 200, 200, 200, 201, 204, 301, 400, 404,
    429, 500, 503)
  private val SpanSizes = Array(1, 5, 12, 20, 33, 8, 27, 15, 40, 19)
  private val BaseMicros = 1700000000000000L

  /** Every key the generator can plant; each occurs in any batch of at
    * least 50 traces. */
  val TagKeys: Seq[String] = Seq("component", "internal.span.format",
    "http.method", "http.url", "http.status_code", "sampler.type",
    "sampler.param", "region", "retry.count", "db.statement",
    "latency.ratio", "error").sorted

  def spanCount(i: Int): Int =
    if (i % 97 == 3) 0 else SpanSizes(i % SpanSizes.length)
  def missingRoot(i: Int): Boolean = i % 50 == 7

  private def hex(rnd: Random, n: Int): String = {
    val sb = new StringBuilder(n)
    var k = 0
    while (k < n) { sb.append("0123456789abcdef".charAt(rnd.nextInt(16))); k += 1 }
    sb.toString
  }

  private def tag(sb: StringBuilder, key: String, tpe: String,
      value: String): Unit = {
    if (sb.charAt(sb.length - 1) != '[') sb.append(',')
    sb.append("{\"key\":\"").append(key).append("\",\"type\":\"")
      .append(tpe).append("\",\"value\":").append(value).append('}')
  }

  /** Write `traces` traces drawn from `seed` to `path`. */
  def write(path: String, traces: Int, seed: Long): TraceBatch = {
    val rnd = new Random(seed)
    val ids = new Array[String](traces)
    val counts = new Array[Int](traces)
    val starts = new Array[Long](traces)
    val ends = new Array[Long](traces)
    val status = scala.collection.mutable.Map.empty[Int, Long]
    var errorTags = 0L
    var spanSeq = 0L // global span position: fixes tag placement
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    try {
      var i = 0
      while (i < traces) {
        val tid = hex(rnd, 32)
        val n = spanCount(i)
        ids(i) = tid; counts(i) = n
        val t0 = BaseMicros + i * 5000000L + rnd.nextInt(1000000)
        starts(i) = t0
        val spanIds = Array.fill(n)(hex(rnd, 16))
        val begin = new Array[Long](n)
        val dur = new Array[Long](n)
        val svc = new Array[Int](n)
        val sb = new StringBuilder(4096)
        sb.append("{\"traceID\":\"").append(tid).append("\",\"spans\":[")
        var k = 0
        while (k < n) {
          val parent = if (k == 0) -1 else rnd.nextInt(k)
          if (k == 0) {
            begin(k) = t0; dur(k) = 200000L + rnd.nextInt(800000)
            svc(k) = rnd.nextInt(2) // web or api at the entry
          } else {
            val pb = begin(parent); val pd = dur(parent)
            begin(k) = pb + rnd.nextInt(math.max(1, (pd / 2).toInt))
            val room = pb + pd - begin(k)
            // one child in ten outlives its parent (an async tail);
            // the rest nest, often overlapping their siblings
            dur(k) =
              if (rnd.nextInt(10) == 0) room + 1 + rnd.nextInt(50000)
              else 1 + (room * (0.1 + 0.8 * rnd.nextDouble())).toLong
            svc(k) = rnd.nextInt(Services.length)
          }
          ends(i) = math.max(ends(i), begin(k) + dur(k))
          if (k > 0) sb.append(',')
          sb.append("{\"traceID\":\"").append(tid)
            .append("\",\"spanID\":\"").append(spanIds(k))
            .append("\",\"flags\":1,\"operationName\":\"")
            .append(Ops(rnd.nextInt(Ops.length))).append("\",\"references\":[")
          if (parent >= 0 || missingRoot(i)) {
            val pid = if (parent >= 0) spanIds(parent) else hex(rnd, 16)
            sb.append("{\"refType\":\"CHILD_OF\",\"traceID\":\"").append(tid)
              .append("\",\"spanID\":\"").append(pid).append("\"}")
          }
          sb.append("],\"startTime\":").append(begin(k))
            .append(",\"duration\":").append(dur(k)).append(",\"tags\":[")
          val j = spanSeq
          tag(sb, "internal.span.format", "string", "\"proto\"")
          tag(sb, "component", "string", "\"" + Services(svc(k)) + "\"")
          if (k == 0) {
            tag(sb, "sampler.type", "string", "\"const\"")
            tag(sb, "sampler.param", "bool", "true")
          }
          if (j % 3 == 0) {
            val code = Statuses(rnd.nextInt(Statuses.length))
            status(code) = status.getOrElse(code, 0L) + 1
            tag(sb, "http.method", "string",
              if (rnd.nextBoolean()) "\"GET\"" else "\"POST\"")
            tag(sb, "http.url", "string",
              "\"http://" + Services(svc(k)) + ".svc/" + rnd.nextInt(100) + "\"")
            tag(sb, "http.status_code", "int64", code.toString)
          }
          if (j % 4 == 0) tag(sb, "region", "string",
            if (rnd.nextBoolean()) "\"us-east\"" else "\"eu-west\"")
          if (j % 5 == 0) tag(sb, "retry.count", "int64", rnd.nextInt(4).toString)
          if (j % 7 == 0) tag(sb, "db.statement", "string",
            "\"SELECT * FROM t" + rnd.nextInt(50) + "\"")
          if (j % 11 == 0) tag(sb, "latency.ratio", "float64",
            f"${rnd.nextDouble()}%.6f")
          if (j % 17 == 0) { tag(sb, "error", "bool", "true"); errorTags += 1 }
          if (j % 41 == 0) {
            tag(sb, "error", "bool", "true"); tag(sb, "error", "bool", "true")
            errorTags += 2
          }
          if (j % 13 == 0) tag(sb, "region", "string", "\"ap-south\"")
          sb.append("],\"logs\":[],\"processID\":\"p").append(svc(k) + 1)
            .append("\",\"warnings\":null}")
          spanSeq += 1
          k += 1
        }
        sb.append("],\"processes\":{")
        val used = svc.distinct.sorted
        used.zipWithIndex.foreach { case (s, u) =>
          if (u > 0) sb.append(',')
          sb.append("\"p").append(s + 1).append("\":{\"serviceName\":\"")
            .append(Services(s)).append("\",\"tags\":[]}")
        }
        sb.append("},\"warnings\":null}\n")
        out.write(sb.toString)
        i += 1
      }
    } finally out.close()
    TraceBatch(path, new java.io.File(path).length, ids, counts, starts,
      ends, errorTags, TagKeys, status.toMap)
  }
}
