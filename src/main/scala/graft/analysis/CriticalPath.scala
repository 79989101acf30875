package graft.analysis

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{CritSeg, SpanLite}

/** Critical-path extraction over a span tree (reference
  * `get_critical_segments`, `/root/reference/traceframe/traceframe.py:559-617`,
  * which cites _Distributed Tracing in Practice_, Parker, p.160).
  *
  * The sweep-line automaton is inherently sequential **per trace** but
  * embarrassingly parallel **across traces**: each trace is one small group
  * (≤ thousands of spans), so the distributed shape is one hash shuffle on
  * traceID into `defaultParallelism` partitions, a sort by traceID within
  * each partition, and a pass that streams each run of one trace's spans
  * into [[compute]] — pure Scala on executors, memory bounded by one trace.
  * The shuffle carries only the 8 `SpanLite` columns (nested-column pruning
  * keeps tags/logs out of it). The explicit partition count keeps AQE from
  * coalescing the small shuffle into one reduce task that computes every
  * trace serially (the sizing `Dedup.writeBucketed` uses). At 100 TB the
  * cost is one shuffle of the narrow span projection; group skew
  * (pathological 100k-span traces) stays bounded because the automaton is
  * O(n log n) in the group size.
  *
  * Determinism: the reference relies on Python's stable `list.sort` over
  * insertion order (`traceframe.py:571`). Distributed inputs have no
  * insertion order, so the operator fixes a canonical one — spans sorted by
  * `(startTime, spanID)`, then per-span (call, return) event pairs sorted
  * stably by timestamp. On the reference golden (which has no timestamp ties)
  * this reproduces its output exactly.
  */
object CriticalPath {

  private case class Ev(isCall: Boolean, ts: Long, span: SpanLite, seq: Int)

  /** Sequential kernel: one trace's spans → its critical segments.
    * Faithful port of the reference automaton's semantics, including:
    * absorbed overlapping child calls (no segment, no leadership change),
    * leader-stack descent into the first outstanding child on drain, and
    * output that tiles `[traceStart, traceEnd]` exactly. */
  def compute(spansIn: Seq[SpanLite]): Seq[CritSeg] = {
    if (spansIn.isEmpty) throw new IllegalArgumentException("No spans")
    val spans = spansIn.sortBy(s => (s.startTime, s.spanID))

    val idToSpan = mutable.Map.empty[String, SpanLite]
    val events = new mutable.ArrayBuffer[Ev](spans.size * 2)
    var seq = 0
    spans.foreach { s =>
      idToSpan(s.spanID) = s
      events += Ev(isCall = true, s.startTime, s, seq); seq += 1
      events += Ev(isCall = false, s.startTime + s.duration, s, seq); seq += 1
    }
    val sorted = events.sortBy(e => (e.ts, e.seq))

    val critSegs = mutable.ArrayBuffer.empty[CritSeg]
    // spanID -> active (outstanding) child spanIDs, in call order. A
    // LinkedHashSet preserves insertion (call) order for `.head` while
    // making the per-return removal O(1) — the r8 ArrayBuffer's
    // indexOf+remove was O(children) per return, O(n²) on a pathological
    // flat 50k-child trace (spanIDs are unique per trace — `idToSpan`
    // above already assumes so — so set semantics equal buffer semantics).
    val outstanding = mutable.Map.empty[String, mutable.LinkedHashSet[String]]
    def out(id: String): mutable.LinkedHashSet[String] =
      outstanding.getOrElseUpdate(id, mutable.LinkedHashSet.empty)
    var leaderStack = List.empty[SpanLite]
    var leader = sorted.head.span
    var ts = leader.startTime

    sorted.foreach { event =>
      val parentId = event.span.parent
      if (event.isCall) {
        if (leader.spanID == parentId && out(parentId).isEmpty) {
          if (parentId != "") {
            critSegs += CritSeg(ts, event.ts - ts, idToSpan(parentId))
            leaderStack = leader :: leaderStack
            leader = event.span
          }
          ts = event.ts
        }
        out(parentId) += event.span.spanID
      } else {
        out(parentId) -= event.span.spanID
        if (out(leader.spanID).isEmpty) {
          critSegs += CritSeg(ts, event.ts - ts, leader)
          ts = event.ts
          while (out(leader.spanID).isEmpty && leaderStack.nonEmpty) {
            leader = leaderStack.head
            leaderStack = leaderStack.tail
          }
          if (out(leader.spanID).nonEmpty) {
            leaderStack = leader :: leaderStack
            leader = idToSpan(out(leader.spanID).head)
          }
        }
      }
    }
    critSegs.toSeq
  }

  /** A1/A2: distributed critical path — per-trace fan-out across executors. */
  def segments(spans: Dataset[SpanLite]): Dataset[CritSeg] = {
    import spans.sparkSession.implicits._
    spans
      .repartition(spans.sparkSession.sparkContext.defaultParallelism,
        col("traceID"))
      .sortWithinPartitions(col("traceID"))
      .mapPartitions { it =>
        val in = it.buffered
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val id = in.head.traceID
          val trace = mutable.ArrayBuffer.empty[SpanLite]
          while (in.hasNext && in.head.traceID == id) trace += in.next()
          compute(trace.toSeq)
        }
      }
  }

  /** Same over the flat spans frame produced by `SpanOps.flatten` — selects
    * only the 8 needed columns so the shuffle carries no tags/logs. */
  def segmentsFromFlat(flatSpans: DataFrame): Dataset[CritSeg] = {
    import flatSpans.sparkSession.implicits._
    val lite = flatSpans.select(
      col("traceID"), col("spanID"), col("operationName"),
      col("startTime"), col("duration"), col("processID"),
      col("parent"), col("service")).as[SpanLite]
    segments(lite)
  }
}
