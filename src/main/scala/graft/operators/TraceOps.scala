package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import graft.expressions.{ErrTagCount, RootSpan}

/** Trace-shaping operators: raw trace rows → the 8-column traces summary frame
  * (reference `process_traces` + per-row kernels,
  * `/root/reference/traceframe/traceframe.py:140-230`).
  *
  * Every kernel (K1-K7 in SURVEY.md §2.2) is a `Column` expression over the
  * nested `spans` array — no UDFs; the two array scans (K1 root, K4 error
  * tags) are compiled kernels ([[graft.expressions.SpanKernels]]). The
  * reference recomputes the root span 4× per row (`traceframe.py:222-226`);
  * here a single shared `root` struct column is computed once.
  */
object TraceOps {

  /** K1 `rootspan` (`traceframe.py:140-155`): first span with zero references;
    * quirk preserved for golden parity: fallback is `spans[0]` (first, NOT
    * earliest — the reference marks this TODO), null when the trace is empty. */
  def rootSpan(spans: Column): Column = column(RootSpan(expression(spans)))

  /** K4 `traceobj_errcount` (`traceframe.py:177-183`): counts `error` **tags**,
    * not error spans — a span with two error tags counts twice (quirk kept);
    * 0 for a null spans array. */
  def errTagCount(spans: Column): Column = column(ErrTagCount(expression(spans)))

  /** T1 `process_traces` (`traceframe.py:209-230`): the traces summary frame.
    *
    * Columns: traceID, traceName, nspans, errspans, duration (µs), startTime,
    * processes, iserror — globally sorted by startTime desc (range-partitioned
    * shuffle; the only shuffle in this pipeline).
    */
  def summarize(rawTraces: DataFrame): DataFrame = {
    val svc = tryElementAt(col("processes"), col("root.processID"))
      .getField("serviceName")
    rawTraces
      .withColumn("root", rootSpan(col("spans")))
      .select(
        col("traceID"),
        // K2 (`traceframe.py:159-170`): "{service}: {operation}", fallback traceID
        coalesce(
          concat(svc, lit(": "), col("root.operationName")),
          col("traceID")).as("traceName"),
        // K3: span count
        coalesce(size(col("spans")), lit(0)).as("nspans"),
        errTagCount(col("spans")).as("errspans"),
        // K6 (`traceframe.py:199-206`): duration = ROOT span duration only
        // (async tails ignored — reference marks its own behavior TODO)
        coalesce(col("root.duration"), lit(0L)).as("duration"),
        // K5 (`traceframe.py:188-194`): root start, fallback epoch 0
        timestamp_micros(coalesce(col("root.startTime"), lit(0L)))
          .as("startTime"),
        col("processes"))
      // K7 (`traceframe.py:229`)
      .withColumn("iserror", col("errspans") > 0)
      .orderBy(desc("startTime"))
  }

  /** ANSI-safe map lookup (missing key → null, like the non-ANSI
    * `element_at`); Spark 4 runs with ANSI on by default. */
  private def tryElementAt(m: Column, k: Column): Column = try_element_at(m, k)
}
