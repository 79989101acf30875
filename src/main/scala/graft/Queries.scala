package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.JaegerJsonSource

/** The driver-contract query surface: every implemented operator from
  * SURVEY.md §2 (plus the 100-TB pipeline extensions) demonstrated as a named
  * query over the driver's parquet tables, with a DuckDB-equivalent oracle in
  * [[oracle]] where the semantics are ANSI-expressible.
  *
  * Conventions for oracle hash-parity:
  *   - every computed column is aliased identically in Spark and SQL;
  *   - float aggregates are `round(..., n)`-ed on both sides; DuckDB integer
  *     sums are CAST to BIGINT (DuckDB widens to HUGEINT, Spark to LONG);
  *   - every query has a total ORDER BY so row order is deterministic;
  *   - no NULLs in output sort keys (Spark sorts nulls first, DuckDB last).
  */
object Queries {

  /** One footer-inference per (session, table) — r20, guide §1/§6.
    * `spark.read.parquet(path)` with no schema infers it from the file
    * footers EVERY call, as a small Spark job (visible as "parquet at
    * Queries.scala" in the job log) costing ~30-115 ms of driver
    * latency per table per invocation. The driver tables are immutable
    * inputs, so the inferred schema is cached per (session, dir, table)
    * — the same metadata-caching Spark's own catalog does for tables —
    * and later reads pass it explicitly. Results are byte-identical:
    * the cached schema IS the one inference would return (same session,
    * same configs, same files); only the repeated footer jobs go.
    * The cache holds metadata (a StructType), never data or results —
    * every read still scans the parquet input. */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = tableSchemaCache.computeIfAbsent(
      ckey(spark, dir) + "|" + name,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Driver testdata ships one row group per table, so Spark scans with a
    * single task; the text/embedding pipelines do heavy per-row compute
    * (shingling, hashing, dot products) BEFORE their first shuffle and
    * would run it single-threaded. Spreading the (small) corpus across
    * the cluster first costs one cheap shuffle and parallelizes
    * everything downstream.
    *
    * The spread is DATA-PROPORTIONATE, not core-count-wide:
    * repartitioning 5k rows 32 ways left every downstream stage paying
    * 32 tasks of per-task setup + a 32×32 shuffle fan-out per pass, and
    * the multi-consumer dedup subtrees pay that ×3 — measured on q71
    * (in-JVM interleaved A/B, min over 4 rounds): 32-way wall 2.45 s /
    * 25.8 s task-time vs 8-way 2.07 s / 5.1 s, and under host contention
    * the 32-way median task-time blew up 7× worse (42.6 s vs 5.8 s — the
    * r5 driver-host q71 "regression" was exactly this amplification).
    *
    * Width derives from the scan's size estimate (Catalyst plan stats —
    * no job): one slice per MiB of input, clamped to [8 (the floor the
    * bench measured), defaultParallelism]. The ~600 KB bench corpus
    * lands on the floor; a bigger SPARK_GRAFT_SF_DIR widens with the
    * data instead of funneling through a constant. At 100 TB the input
    * is already many splits and this shim disappears at the ingest
    * layer — the lesson that survives scale is parallelism ∝ data
    * volume, not executor count.
    *
    * r20: evaluating `optimizedPlan.stats` runs the analyzer+optimizer
    * over the scan subtree — ~10-30 ms of driver CPU per call, per
    * bench rep. The width is a pure function of the (immutable)
    * input's size estimate, so [[docs]]/[[emb]] cache it per
    * (session, dir, table) and apply the repartition directly. */
  private def spreadWidth(df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Clamp to [min(8, par), par]: the cluster's parallelism wins over the
    // measured 8-slice floor when the cluster is narrower than 8 — width
    // must never exceed what the scheduler can actually run at once.
    ((bytes / (1L << 20)) + 1)
      .max(BigInt(math.min(8, par))).min(BigInt(par)).toInt
  }

  /** Normalize a scanned table onto the canonical engine schema. The
    * driver has re-encoded physical types between rounds (events `ts`
    * shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)); a reader that
    * assumes one encoding breaks on the next. Casting on the SCANNED
    * Catalyst type is free when types already match (SimplifyCasts
    * elides the no-op) and value-exact for every re-encoding accepted
    * here (int32→int64, float32→float64). Columns absent from the scan
    * pass through untouched. */
  private def conform(df: DataFrame, types: (String, String)*): DataFrame =
    types.foldLeft(df) { case (d, (c, ty)) =>
      if (d.columns.contains(c)) d.withColumn(c, col(c).cast(ty)) else d
    }

  private def docs(s: SparkSession, dir: String): DataFrame = {
    val d = conform(t(s, dir, "documents"),
      "doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint")
    d.repartition(spreadWidthCache.computeIfAbsent(
      ckey(s, dir) + "|documents", _ => spreadWidth(d)))
  }

  /** Embedding elements conform to double: float32→double is value-exact,
    * every similarity kernel computes in double anyway (l2Normalize casts
    * internally), and DuckDB's oracle arithmetic is double — so results
    * are encoding-independent whether the driver ships float32 or
    * float64 vectors. */
  private def emb(s: SparkSession, dir: String): DataFrame = {
    val e = conform(t(s, dir, "embeddings"),
      "vec_id" -> "bigint", "embedding" -> "array<double>",
      "label" -> "int")
    e.repartition(spreadWidthCache.computeIfAbsent(
      ckey(s, dir) + "|embeddings", _ => spreadWidth(e)))
  }

  /** All session caches below (IVF/PQ/bloom/cluster). Keys come from
    * [[ckey]] only, so every entry is prefixed `applicationId + "|"` and
    * can be swept when its context ends. */
  private val sessionCaches =
    scala.collection.mutable.ArrayBuffer
      .empty[java.util.concurrent.ConcurrentHashMap[String, _]]
  private def sessionCache[V]()
      : java.util.concurrent.ConcurrentHashMap[String, V] = {
    val c = new java.util.concurrent.ConcurrentHashMap[String, V]
    sessionCaches.synchronized { sessionCaches += c }
    c
  }
  private val evictionHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Cache key for the session caches, with dead-session hygiene:
    * the first key built for a context registers a listener that, when
    * that application ends, evicts every entry it contributed to any of
    * the caches. applicationIds are never reused, so a stale entry can
    * never be *served* — without the sweep it would only leak (pinned
    * localCheckpoint blocks, and heap) across the many short-lived
    * sessions of a test JVM. */
  private def ckey(s: SparkSession, dir: String): String = {
    val appId = s.sparkContext.applicationId
    if (evictionHooked.add(appId))
      s.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = {
            val caches = sessionCaches.synchronized(sessionCaches.toList)
            caches.foreach(_.keySet.removeIf(_.startsWith(appId + "|")))
            evictionHooked.remove(appId)
          }
        })
    appId + "|" + dir
  }

  /** [[t]]'s schema cache (declared after [[sessionCache]] so object
    * init order holds — [[t]] itself is a def and may live above). */
  private val tableSchemaCache =
    sessionCache[org.apache.spark.sql.types.StructType]()

  /** [[spreadWidth]]'s per-(session, dir, table) cache — see [[docs]]. */
  private val spreadWidthCache = sessionCache[Integer]()

  /** Session-cached IVF index per (context, sfDir) — the build-once /
    * query-many ANN deployment ([[operators.Similarity.buildIvfIndex]]):
    * t08 serves queries from this index; the build cost is its own bench
    * entry (t09). Checkpointed so repeated serves never re-run k-means or
    * the cell assignment. */
  private val ivfCache = sessionCache[(DataFrame, DataFrame)]()
  private def ivfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfCache.computeIfAbsent(ckey(s, dir), _ => {
      val (cents, assigned) = graft.operators.Similarity
        .buildIvfIndex(emb(s, dir), "vec_id", "embedding")
      (cents.localCheckpoint(), assigned.localCheckpoint())
    })

  /** Session-cached PQ index per (context, sfDir) — same build-once /
    * serve-many split as [[ivfIndex]]: t10 serves from this, t11 times
    * the uncached build. */
  private val pqCache =
    sessionCache[(graft.operators.Similarity.PqCodebooks, DataFrame)]()
  private def pqIndex(s: SparkSession, dir: String)
      : (graft.operators.Similarity.PqCodebooks, DataFrame) =
    pqCache.computeIfAbsent(ckey(s, dir), _ => {
      val (cb, codes) = graft.operators.Similarity
        .buildPqIndex(emb(s, dir), "vec_id", "embedding")
      (cb, codes.localCheckpoint())
    })

  /** Session-cached bench-gram bloom bytes: t13's ingest gate serves
    * from this (the gate is built once per bench set). */
  private val bloomCache = sessionCache[Array[Byte]]()

  /** Session-cached IVF+PQ index (composed cells + codes): t12 serves
    * from this. */
  private val ivfPqCache = sessionCache[
    (DataFrame, graft.operators.Similarity.PqCodebooks, DataFrame)]()
  private def ivfPqIndex(s: SparkSession, dir: String)
      : (DataFrame, graft.operators.Similarity.PqCodebooks, DataFrame) =
    ivfPqCache.computeIfAbsent(ckey(s, dir),
      _ => {
        val (cents, cb, codes) = graft.operators.Similarity
          .buildIvfPqIndex(emb(s, dir), "vec_id", "embedding")
        (cents.localCheckpoint(), cb, codes.localCheckpoint())
      })

  /** The events table has shipped `ts` both as parquet TIMESTAMP(NANOS)
    * (which Spark refuses by default — PARQUET_TYPE_ILLEGAL — so it is
    * read as a nanos long and truncated to µs, matching DuckDB's
    * `epoch_us`) and as plain TIMESTAMP(MICROS) (read natively as
    * TIMESTAMP_NTZ). Both normalize to a µs TimestampType under the
    * UTC session, so every downstream query and oracle comparison sees
    * one schema, integer-exact. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    val tsNorm = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div`, not `/`: long `/` is double division, and ns-since-epoch
        // exceeds 2^53 — the rounding costs ±1µs.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    conform(tsNorm, "event_id" -> "bigint", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string")
  }

  // ==========================================================================
  // Relational core (SURVEY.md §2.3: T5-T12 filter/sort/limit/distinct/
  // group/union/join + §2.2 aggregation kernels re-expressed on TPC-H-ish data)
  // ==========================================================================

  /** T1-analog aggregation: TPC-H Q1-style pricing summary. Single shuffle,
    * map-side partial aggregation; filter pushed to parquet row groups. */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1998-09-03").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** T5 filter + projection; predicates and column pruning reach the scan. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 49 &&
        col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** T7 top-k: planned as TakeOrderedAndProject (no global sort at scale). */
  private def q03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** T12 joins: dims broadcast (nation 25 rows, customer small vs orders);
    * no shuffle on the fact side until the final aggregation. */
  private def q04(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("n_name"))

  /** T8 distinct (hash aggregate). */
  private def q05(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** T8 deterministic dedup: window-rank keep-first (the distributed
    * replacement for pandas drop_duplicates row-order dependence). */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_custkey"))
  }

  /** T10 argmin: orderBy+limit → TakeOrderedAndProject, not a global sort. */
  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(col("s_acctbal"), col("s_suppkey"))
      .limit(1)

  /** T11 union (unionByName) + aggregate. */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_totalprice") > 400000)
      .unionByName(o.filter(col("o_orderpriority") === "1-URGENT"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("o_orderstatus"))
  }

  /** Semi join (EXISTS): customers having any 300k+ order. */
  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("c_mktsegment"))

  /** Anti join (NOT EXISTS): customers with no orders at all. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("c_nationkey"))

  /** Conditional aggregation (CASE WHEN inside agg). */
  private def q11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .agg(
        round(sum(when(col("l_returnflag") === "R", col("l_quantity"))
          .otherwise(lit(0.0))), 2).as("returned_qty"),
        count(when(col("l_returnflag") === "R", lit(1))).as("returned_rows"),
        count(lit(1)).as("total_rows"))
      .orderBy(col("l_linestatus"))

  /** GROUP BY ... HAVING. */
  private def q12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"),
        round(avg(col("p_retailprice")), 4).as("avg_price"))
      .filter(col("cnt") > 40)
      .orderBy(col("p_brand"))

  /** ROLLUP with grouping id (multi-level aggregate in one pass). */
  private def q13(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ==========================================================================
  // Event-stream analytics (§2.6 extensions: windowed analytics over `events`)
  // ==========================================================================

  /** Window rank: top-3 events per user by value. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Window lag: inter-event gap per user in µs. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("event_id"), col("user_id"),
        (unix_micros(col("ts")) - col("prev_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Tumbling window: hourly counts and value sums per event type. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour_ts"), col("event_type"))

  /** Sessionization (30-min inactivity gap): lag → new-session flag →
    * running sum. Same shape a streaming session_window would produce;
    * expressed with ANSI windows so DuckDB can oracle it. */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_s")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Pivot (dynamic columns from values — the relational analog of the
    * reference's tag pivot, SURVEY.md §2.3 T2). */
  private def q18(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** JSON extraction from the props payload column. */
  private def q19(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("cnt"))
      .orderBy(col("event_type"))

  // ==========================================================================
  // Text analysis / dedup / similarity / multimodal (100-TB pipeline ops)
  // ==========================================================================

  import graft.functions.TextFunctions
  import graft.operators.{Dedup, Multimodal, QualityModel, Robots, Similarity}

  /** Token statistics per document (tokenizer + HOF aggregation). */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    docs(s, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        round(aggregate(toks, lit(0L), (acc, x) => acc + length(x))
          .cast("double") / size(toks).cast("double"), 6)
          .as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language ID (lexicon-hit argmax). */
  private def q21(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  /** Quality scoring components per document. */
  private def q22(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextFunctions.qualityStruct(col("text")).as("q"))
      .select(col("doc_id"),
        col("q.n_chars").cast("long").as("n_chars"),
        col("q.n_tokens").cast("long").as("n_tokens"),
        col("q.punct_ratio").as("punct_ratio"),
        col("q.stop_ratio").as("stop_ratio"),
        col("q.avg_token_len").as("avg_token_len"))
      .orderBy(col("doc_id"))

  /** Exact dedup by content hash (+ fingerprint demo on normalized text). */
  private def q23(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")
      .orderBy(col("text_md5"))

  /** Exact 3-gram Jaccard near-dup pairs (inverted-index join). */
  private def q24(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(docs(s, dir), "doc_id", "text",
      n = 3, threshold = 0.8)
      .withColumn("inter", col("inter").cast("long"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** MinHash + banded LSH candidate pairs (16 perms, 4 bands × 4 rows). */
  private def q25(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))

  /** 32-bit SimHash signature per document. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Brute-force cosine top-3 neighbors for query vectors (vec_id < 10). */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact embedding near-dup pairs (cosine ≥ 0.45). */
  private def q28(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(emb(s, dir), "vec_id", "embedding",
      threshold = 0.45)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Multimodal payload fingerprint (binary column plumbing, sha256). */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Multimodal.fingerprint(
      Multimodal.fromText(docs(s, dir), "doc_id", "text", "text")
        .toDF().withColumnRenamed("id", "doc_id"),
      "doc_id", "bytes")
      .orderBy(col("doc_id"))

  // ==========================================================================
  // Deeper relational coverage: multi-way joins, subqueries, scalar function
  // families, percentiles, outer joins, SQL-registered custom expression
  // ==========================================================================

  /** TPC-H Q3-shaped shipping-priority query (3-way join + agg + top-k). */
  private def q30(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)

  /** TPC-H Q5-shaped local-supplier volume (5-way join, same-nation
    * customer+supplier). */
  private def q31(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("n_name"))

  /** String function family over part names. */
  private def q32(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").filter(col("p_partkey") < 200)
      .select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 8).as("name8"),
        regexp_replace(col("p_type"), " ", "_").as("type_u"),
        length(col("p_name")).cast("long").as("name_len"),
        lpad(col("p_size").cast("string"), 3, "0").as("size_pad"),
        when(col("p_name").contains("green"), lit(1L)).otherwise(lit(0L))
          .as("is_green"))
      .orderBy(col("p_partkey"))

  /** Date/time function family over order dates. */
  private def q33(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_add(to_date(col("o_orderdate")), 30).as("plus30"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_95"))
      .orderBy(col("o_orderkey"))

  /** Exact interpolated percentiles per group. */
  private def q34(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"))
      .orderBy(col("l_returnflag"))

  /** Scalar subquery: suppliers above the global average balance (computed
    * as a broadcast cross join, not a driver collect). */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
    val avgBal = sup.agg(avg(col("s_acctbal")).as("avg_bal"))
    sup.crossJoin(broadcast(avgBal))
      .filter(col("s_acctbal") > col("avg_bal"))
      .select(col("s_suppkey"), col("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  /** IN-subquery (semi join): brands of parts ever shipped in quantity ≥ 50. */
  private def q36(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 50)
        .select(col("l_partkey")).distinct(),
        col("p_partkey") === col("l_partkey"), "left_semi")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("p_brand"))

  /** Array aggregation: sorted distinct sets rendered stably as strings. */
  private def q37(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("l_linestatus"))))
          .as("statuses"),
        countDistinct(col("l_linestatus")).as("n_status"))
      .orderBy(col("l_returnflag"))

  /** Full outer join of per-nation customer/supplier counts. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("nc"))
    val sup = t(s, dir, "supplier").groupBy(col("s_nationkey").as("k"))
      .agg(count(lit(1)).as("ns"))
    c.join(sup, Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("nc"), lit(0L)).as("nc"),
        coalesce(col("ns"), lit(0L)).as("ns"))
      .orderBy(col("k"))
  }

  /** The custom DotProduct expression registered and used through SQL —
    * proving the Catalyst extension surfaces in plain `spark.sql`. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.DotProduct.register(s)
    emb(s, dir).createOrReplaceTempView("emb_v")
    s.sql(
      """SELECT vec_id,
        |  round(graft_dot(transform(embedding, x -> CAST(x AS DOUBLE)),
        |                  transform(embedding, x -> CAST(x AS DOUBLE))), 4)
        |    AS norm2
        |FROM emb_v WHERE vec_id < 50 ORDER BY vec_id""".stripMargin)
  }

  /** TF-IDF: top-3 scoring terms per document (doc_id < 50). tf = in-doc
    * term count, idf = ln(N/df); deterministic tie-break by term. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // corpus size folded in as a broadcast scalar aggregate (q35 pattern):
    // ONE plan, one job — a plan-build-time d.count() cost an extra job
    // per run
    val total = d.agg(count(lit(1)).cast("double").as("n_docs"))
    val tok = d
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequency DERIVES from tf (tf already holds one row per
    // (doc, term)) instead of a second tokenize+explode+distinct over the
    // corpus: the tokenize subtree runs once, and tf's (doc_id, term)
    // exchange is planner-reused by both consumers (deterministic agg)
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .filter(col("doc_id") < 50)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"),
        col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Exploded corpus bigrams, built CODEGEN-FIRST: `posexplode` the
    * token array and pair each token with its successor via one
    * `get(toks, pos+1)` — every operator is a codegen'd builtin. The
    * `explode(shinglesFromTokens(toks, 2))` spelling is semantically
    * identical but materializes the shingle array through an interpreted
    * HOF lambda (~20 s of executor time per corpus pass at sf0.1 —
    * measured when q41/q75 started paying it twice). */
  private def bigrams(tk: DataFrame): DataFrame = tk
    .select(col("toks"), posexplode(col("toks")))
    .filter(col("pos") < size(col("toks")) - 1)
    .select(concat_ws(" ",
      col("col"), get(col("toks"), col("pos") + 1)).as("bigram"))

  /** A count-threshold candidate set is UNBOUNDED on a flat or tie-heavy
    * count distribution (threshold collapses to 1 → every distinct key
    * qualifies), so broadcasting it unconditionally is an OOM at scale.
    * Probing the candidate cardinality first is cheap — every caller's
    * candidate frame derives from an already-localCheckpointed count
    * table, and the probe is BOUNDED (`limit(max+1).count()` can stop
    * scanning once max+1 rows exist, where an exact `count()` would do
    * unbounded work just to compare against the cap) — and buys the
    * right join: broadcast when small, shuffle hash join (same results,
    * no driver/executor materialization) when not. NOTE: building the
    * returned DataFrame therefore triggers one (bounded) Spark job. */
  private def joinCandidates(big: DataFrame, cands: DataFrame,
      joinExpr: Column, maxBroadcast: Long = 1000000): DataFrame = {
    val probe =
      cands.limit(math.min(maxBroadcast + 1, Int.MaxValue.toLong).toInt).count()
    if (probe <= maxBroadcast) big.join(broadcast(cands), joinExpr)
    else big.join(cands.hint("shuffle_hash"), joinExpr)
  }

  /** Bigram frequency table: top 20 corpus-wide word bigrams.
    *
    * Hashes-not-strings discipline (the same one `Dedup.shingleIndex`
    * uses): the GLOBAL count groups on `xxhash64(bigram)` — the shuffle
    * and aggregation hash tables carry 8-byte longs, not bigram strings
    * (the round-4 string-keyed formulation spent 45% of executor time in
    * GC). Strings are recovered afterwards for only the rows that can
    * appear in the answer: the threshold = the 20th-largest count (a
    * broadcast scalar — well-defined under ties), every hash at-or-above
    * it joins back to its string in a second corpus pass (guarded by
    * [[joinCandidates]] — ties can make the candidate set the whole
    * table), and the final (cnt desc, bigram) sort keeps the oracle's
    * tie-break exact. The hash-keyed counts materialize once
    * (`localCheckpoint`) for both the threshold and candidate branches.
    * A 64-bit collision merging two distinct bigrams is the usual ~2⁻⁶⁴
    * non-event. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val bg = bigrams(docs(s, dir)
      .select(TextFunctions.tokens(col("text")).as("toks")))
    val counts = bg.select(xxhash64(col("bigram")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val thr = counts.orderBy(col("cnt").desc).limit(20)
      .agg(min(col("cnt")).as("thr"))
    val cands = counts.crossJoin(broadcast(thr))
      .filter(col("cnt") >= col("thr"))
      .select(col("h"), col("cnt"))
    joinCandidates(bg, cands, xxhash64(col("bigram")) === col("h"))
      .select(col("bigram"), col("cnt")).distinct()
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)
  }

  /** End-to-end near-dup dedup: LSH candidates → exact verify → drop set.
    * Oracle = drop set from ALL-pairs exact Jaccard: equal because banded
    * LSH has recall 1 on this corpus (verified; the operator itself would
    * be rows-only if recall dropped below 1 on a future corpus). */
  private def q42(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupDrops(docs(s, dir), "doc_id", "text")
      .orderBy(col("dropped"))

  /** As-of join composed from window functions (preference (a) of the
    * custom-operator ladder: no custom plan needed): each purchase event
    * joined to the same user's most recent PRIOR click. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", unix_micros(col("ts"))))
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"), col("last_click_us"))
      .filter(col("last_click_us").isNotNull)
      .orderBy(col("event_id"))
  }

  /** BPE-ish token statistics: subword-piece counts (the cheap proxy for
    * LLM token budgets) vs whitespace words. The synthetic corpus is pure
    * lowercase words, so a punct/number-bearing marker (`doc-<id>.v2!`,
    * identical on the oracle side) is appended to exercise real subword
    * splitting: one whitespace word → 7 BPE pieces. */
  private def q46(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        concat(col("text"), lit(" doc-"), col("doc_id").cast("string"),
          lit(".v2!")).as("aug"))
      .select(col("doc_id"),
        TextFunctions.bpeTokenCount(col("aug")).cast("long").as("n_bpe"),
        TextFunctions.tokenCount(col("aug")).cast("long").as("n_ws"))
      .withColumn("bpe_ratio",
        round(col("n_bpe").cast("double") /
          greatest(col("n_ws"), lit(1L)).cast("double"), 6))
      .orderBy(col("doc_id"))

  /** Tokenizer fertility per language ([[TextFunctions.bpeTokenCount]]):
    * chars-per-token — the standard multilingual-tokenizer efficiency
    * metric (a language whose fertility is much worse than the others
    * pays more sequence budget per character and under-trains). Exact
    * integer char/token sums; the one division happens on the
    * #langs-bounded result. Map-only until the final agg. */
  private def q104(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), length(col("text")).cast("long").as("nc"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("nb"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("total_chars"),
        sum(col("nb")).as("total_bpe"))
      .withColumn("chars_per_token",
        round(col("total_chars").cast("double") /
          greatest(col("total_bpe"), lit(1L)).cast("double"), 6))
      .orderBy(col("lang"))

  /** Winnowing (rolling-hash) document fingerprints: count of selected
    * window-min hashes + a scalar digest of the sorted fingerprint set.
    * Staged projections keep each HOF input a bound attribute (see
    * TextFunctions.charGramHashes scaladoc). */
  private def q47(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextFunctions.normText(col("text")).as("norm"))
      .select(col("doc_id"),
        TextFunctions.charGramHashes(col("norm"), 5).as("grams"))
      .select(col("doc_id"), TextFunctions.windowMins(col("grams"), 4).as("fp"))
      .select(col("doc_id"),
        size(col("fp")).cast("long").as("n_fp"),
        TextFunctions.hash60(
          concat_ws(",", transform(col("fp"), _.cast("string"))))
          .as("fp_hash"))
      .orderBy(col("doc_id"))

  /** Histogram binning: 10 equal-width value buckets (global min/max via a
    * broadcast scalar aggregate, not a driver collect). */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val bounds = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    e.crossJoin(broadcast(bounds))
      .withColumn("bin",
        least(floor((col("value") - col("lo")) * 10.0 /
          (col("hi") - col("lo"))), lit(9L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_v"))
      .orderBy(col("bin"))
  }

  /** CUBE aggregation (all grouping-set combinations; q13's rollup sibling).
    * Same single-shuffle Expand-based plan as rollup — no per-set rescan. */
  private def q49(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("cnt"), col("sum_price"))
      .orderBy(col("prio"), col("status"))

  /** Sliding window frame: 4-event moving average per user. The frame is
    * evaluated inside one window pass per partition — no self-join. */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        round(avg(col("value")).over(w), 6).as("mavg"))
      .orderBy(col("event_id"))
  }

  /** Distribution ranks: ntile/percent_rank/cume_dist over a global order.
    * A single unpartitioned window is a deliberate serial point — at scale
    * the same statistics come from approx_percentile or a two-pass
    * rank-by-range-partition; this query pins the exact-window semantics. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_custkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"))
      .orderBy(col("c_custkey"))
  }

  /** Disjunctive multi-clause predicate over a fact×dim join (TPC-H Q19
    * shape). The OR-of-ANDs can't push below the join as a whole, but each
    * side's derivable disjunction (brand IN ..., quantity range union) does
    * prune the scans; the join stays a single broadcast hash join. */
  private def q52(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) &&
          col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20) &&
          col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30) &&
          col("p_size").between(1, 15)))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("cnt"))

  /** Multiple exact count-distincts in one aggregation (Expand-based
    * single-pass plan, not one scan per distinct). */
  private def q53(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("cnt"))
      .orderBy(col("o_orderstatus"))

  /** max_by/min_by argmax aggregates (q07's argmin done as a single
    * aggregation instead of sort+limit). Ties on price are broken
    * deterministically by embedding the key into a zero-padded sortable
    * string — the same total order DuckDB's max_by sees. */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val key = format_string("%020.4f|%010d",
      col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(max_by(col("o_orderkey"), key).as("max_price_order"),
        min_by(col("o_orderkey"), key).as("min_price_order"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Statistical aggregates: stddev/correlation/covariance per group. */
  private def q55(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 8)
          .as("cov_qd"))
      .orderBy(col("l_returnflag"))

  /** Regex extraction/replacement family (patterns restricted to the
    * class both java.util.regex and RE2 evaluate identically). */
  private def q56(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]*e"), lit(0)))
          .cast("long").as("n_e_words"),
        length(regexp_replace(col("text"), "[aeiou]", "")).cast("long")
          .as("n_non_vowel"))
      .orderBy(col("doc_id"))

  /** posexplode: lateral expansion with ordinality (first 3 tokens per
    * doc). The generator runs inside the scan stage — no shuffle. */
  private def q57(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        slice(TextFunctions.tokens(col("text")), 1, 3).as("t3"))
      .select(col("doc_id"), posexplode(col("t3")))
      .toDF("doc_id", "pos", "token")
      .orderBy(col("doc_id"), col("pos"))

  /** Token-distribution entropy (TextFunctions.tokenEntropy): the
    * repetition/boilerplate quality signal. */
  private def q58(s: SparkSession, dir: String): DataFrame =
    TextFunctions.tokenEntropy(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  import graft.operators.Curation

  /** Deterministic hash sampling + mixture weighting (Curation.hashSample /
    * sampleBySource): even sources keep 30%, odd sources 10%. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val rates = (0 until 20)
      .map(i => s"src$i" -> (if (i % 2 == 0) 3000 else 1000)).toMap
    Curation.sampleBySource(docs(s, dir), "doc_id", "source", rates)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"))
  }

  /** Train/val/test split assignment (Curation.assignSplit 80/10/10). */
  private def q60(s: SparkSession, dir: String): DataFrame =
    Curation.assignSplit(docs(s, dir), "doc_id", trainBp = 8000, valBp = 1000)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))

  /** Token-budget packing (Curation.packTokens, 4096-token bins per
    * source): per-bin document and token totals. */
  private def q61(s: SparkSession, dir: String): DataFrame =
    Curation.packTokens(docs(s, dir), "doc_id", "source", "text", 4096)
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy(col("source"), col("bin"))

  /** Decontaminated-corpus composition: the bloom-gated EXACT hit list
    * (q72's operator) drives a left-anti drop of contaminated documents,
    * then per-source survivor counts — the decontamination step as it
    * sits inside a real curation pipeline, one composed plan. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.filter(col("doc_id") % 50 =!= 0)
    val contaminated = Dedup.decontaminationHits(
        corpus, d.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        n = 4)
      .filter(col("n_shared") >= 5)
      .select(col("doc").as("doc_id"))
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Gopher-style composite quality gate (Rae et al. 2021 heuristics,
    * [[graft.functions.TextFunctions.gopherStruct]]): per-document rule
    * metrics plus the `keep` conjunction. The whole rule set is HOF and
    * regex compositions over a tokenize-once array — ONE codegen'd map
    * stage, no shuffle, so at 100 TB it runs at scan speed and the
    * `keep` predicate pushes into the corpus side of any downstream
    * pipeline (this is the standard first gate before dedup). */
  private def q78(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("text"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextFunctions.gopherStruct(col("text"), col("toks")).as("g"))
      .select(col("doc_id"),
        col("g.n_tokens").as("n_tokens"),
        col("g.mean_word_len").as("mean_word_len"),
        col("g.symbol_ratio").as("symbol_ratio"),
        col("g.bullet_frac").as("bullet_frac"),
        col("g.ellipsis_frac").as("ellipsis_frac"),
        col("g.alpha_frac").as("alpha_frac"),
        col("g.n_stop").as("n_stop"),
        col("g.keep").as("keep"))
      .orderBy(col("doc_id"))

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): rank raw
    * documents by how much likelier their unigrams are under a
    * target-domain LM (here: the `src0` source) than under the
    * raw-corpus LM — the standard domain-reweighting score for training
    * mixtures. Hashes-not-strings discipline (q41's): tf, the weight
    * table, and every shuffle key on `xxhash64(term)` 8-byte longs;
    * term strings never outlive the tokenizer projection and never
    * appear in the output. BOTH ±0.5-smoothed LMs derive from the ONE
    * tf pass (q40's exchange-reuse pattern — target counts are a
    * conditional sum over the same rows), and the three corpus totals
    * fold in as ONE broadcast scalar row. At 100 TB the weight table is
    * vocabulary-sized and stays distributed; only the scalar row is
    * driver-resident. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val tf = d
      .select(col("doc_id"), (col("source") === "src0").as("is_tgt"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("is_tgt"), explode(col("toks")).as("term"))
      .select(col("doc_id"), col("is_tgt"), xxhash64(col("term")).as("h"))
      .groupBy(col("doc_id"), col("is_tgt"), col("h"))
      .agg(count(lit(1)).as("tf"))
    val w = tf.groupBy(col("h"))
      .agg(sum(col("tf")).as("raw_cnt"),
        sum(when(col("is_tgt"), col("tf")).otherwise(lit(0L))).as("tgt_cnt"))
    val totals = w.agg(
      sum(col("raw_cnt")).cast("double").as("raw_tot"),
      sum(col("tgt_cnt")).cast("double").as("tgt_tot"),
      count(lit(1)).cast("double").as("vocab"))
    tf.join(w, Seq("h"))
      .crossJoin(broadcast(totals))
      .withColumn("llr",
        log((col("tgt_cnt") + 0.5) / (col("tgt_tot") + lit(0.5) * col("vocab"))) -
        log((col("raw_cnt") + 0.5) / (col("raw_tot") + lit(0.5) * col("vocab"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("tf") * col("llr")), 6).as("importance"))
      .orderBy(col("importance").desc, col("doc_id"))
      .limit(25)
  }

  /** CCNet-style unigram-LM filter (Wenzek et al., LREC 2020 — their
    * KenLM perplexity gate, collapsed to the unigram case): score every
    * document by its cross-entropy under a reference LM estimated from
    * the `lang='en'` slice, keep the best-scoring head. Same skeleton as
    * [[q79]] — one hashed tf pass feeds both the LM counts (conditional
    * sum) and the per-doc probe, totals ride ONE broadcast scalar row,
    * shuffles carry 8-byte hashes. Output is the 20 lowest-cross-entropy
    * docs; cross-entropy (not exp'd perplexity) keeps the compared
    * values in a numerically tame range. */
  /** Full per-doc unigram cross-entropy table (q80's score) — shared by
    * q80 (plain top-k) and q91 (multi-signal selection). */
  private def crossEntropyScores(s: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(s, dir)
    val tf = d
      .select(col("doc_id"), (col("lang") === "en").as("is_ref"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("is_ref"), explode(col("toks")).as("term"))
      .select(col("doc_id"), col("is_ref"), xxhash64(col("term")).as("h"))
      .groupBy(col("doc_id"), col("is_ref"), col("h"))
      .agg(count(lit(1)).as("tf"))
    val lm = tf.groupBy(col("h"))
      .agg(sum(when(col("is_ref"), col("tf")).otherwise(lit(0L)))
        .as("ref_cnt"))
    val totals = lm.agg(
      sum(col("ref_cnt")).cast("double").as("ref_tot"),
      count(lit(1)).cast("double").as("vocab"))
    tf.join(lm, Seq("h"))
      .crossJoin(broadcast(totals))
      .withColumn("logp",
        log((col("ref_cnt") + 0.5) / (col("ref_tot") + lit(0.5) * col("vocab"))))
      .groupBy(col("doc_id"))
      .agg((-sum(col("tf") * col("logp")) / sum(col("tf"))).as("ce"))
      .select(col("doc_id"), round(col("ce"), 6).as("cross_entropy"))
  }
  private def q80(s: SparkSession, dir: String): DataFrame =
    crossEntropyScores(s, dir)
      .orderBy(col("cross_entropy"), col("doc_id"))
      .limit(20)

  /** BM25 keyword retrieval (Robertson/Spärck Jones; the Lucene-form
    * +1-inside-the-log IDF so scores stay positive): top-15 documents
    * for a fixed 3-term query. The inverted-index shape, Spark-first:
    * the term filter lands BEFORE the first shuffle (only postings for
    * query terms ever leave the scan), per-term document frequencies are
    * a 3-row broadcast, and corpus stats (N, avgdl) ride ONE broadcast
    * scalar row. Per-doc length joins on doc_id — at 100 TB that is the
    * only corpus-wide shuffle, and it carries (doc_id, one double). */
  private val bm25Query = Seq("spark", "join", "vector")
  /** Full BM25 score table for [[bm25Query]] — shared by q81 (plain
    * top-k) and q88 (rank fusion). */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val tok = docs(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val len = tok.select(col("doc_id"),
      size(col("toks")).cast("double").as("dl"))
    val tf = tok
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(bm25Query: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = len.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))
    tf.join(broadcast(dfreq), Seq("term"))
      .join(len, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("sc", col("idf") * col("tf") * lit(k1 + 1) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("sc")), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
  }
  private def q81(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(15)

  /** Duplicated-span extraction (the distributed approximation of Lee et
    * al. 2022's suffix-array substring dedup): positions whose 5-gram
    * shingle occurs in ≥2 distinct documents, collapsed into maximal
    * consecutive runs by the gaps-and-islands trick (pos − row_number is
    * constant within a run). Shuffles carry (doc_id, pos, 60-bit shingle
    * hash) — never text; the run window partitions BY DOCUMENT, so state
    * is bounded by one doc's length at any corpus size. Output: the 25
    * docs with the longest cross-doc duplicated token span. */
  private def q82(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(docs(s, dir), "doc_id", "text", n = 5)
      .orderBy(col("longest_tokens").desc, col("doc_id"))
      .limit(25)

  /** Stupid-Backoff bigram LM scoring (Brants et al. 2007 — the
    * smoothing-free LM built exactly because it scales on MapReduce-style
    * engines): score every document by its mean log-score under a bigram
    * LM estimated from the `lang='en'` reference slice, backing off to
    * α=0.4 times the (+0.5-smoothed) unigram when a bigram is unseen.
    * The occurrence stream and both LM tables key on 60-bit token
    * hashes, so every shuffle carries hashes and counts — token strings
    * die in the tokenizer projection. The unigram table is
    * localCheckpointed once for its three consumers (n_a, n_b, totals);
    * totals ride ONE broadcast scalar row. At 100 TB the LM tables are
    * vocabulary-sized, the big side streams through two hash joins. */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val tk = docs(s, dir)
      .select(col("doc_id"), (col("lang") === "en").as("is_ref"),
        TextFunctions.tokens(col("text")).as("toks"))
    val occ = tk
      .select(col("doc_id"), col("is_ref"), col("toks"),
        posexplode(col("toks")))
      .filter(col("pos") < size(col("toks")) - 1)
      .select(col("doc_id"), col("is_ref"),
        TextFunctions.hash60(col("col")).as("ha"),
        TextFunctions.hash60(get(col("toks"), col("pos") + 1)).as("hb"))
    val bg = occ.filter(col("is_ref")).groupBy(col("ha"), col("hb"))
      .agg(count(lit(1)).cast("double").as("n_ab"))
    val uni = tk.filter(col("is_ref"))
      .select(explode(col("toks")).as("w"))
      .select(TextFunctions.hash60(col("w")).as("hw"))
      .groupBy(col("hw")).agg(count(lit(1)).cast("double").as("n_w"))
      .localCheckpoint()
    val tot = uni.agg(sum(col("n_w")).as("n"),
      count(lit(1)).cast("double").as("v"))
    occ.join(bg, Seq("ha", "hb"), "left")
      .join(uni.select(col("hw").as("ha"), col("n_w").as("n_a")),
        Seq("ha"), "left")
      .join(uni.select(col("hw").as("hb"), col("n_w").as("n_b")),
        Seq("hb"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("sc",
        when(col("n_ab").isNotNull, col("n_ab") / col("n_a"))
          .otherwise(lit(0.4) * (coalesce(col("n_b"), lit(0.0)) + 0.5) /
            (col("n") + lit(0.5) * col("v"))))
      .groupBy(col("doc_id"))
      .agg(round(avg(log(col("sc"))), 6).as("avg_logp"))
      .orderBy(col("avg_logp").desc, col("doc_id"))
      .limit(20)
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
    * the lexical (BM25, q81) and semantic (brute-force cosine vs the
    * vec_id=0 query embedding) top-50 rankings fuse as
    * Σ 1/(60 + rank) over the shared id space — the standard
    * score-scale-free way to combine retrievers. Each side's ranking is
    * a top-k (`orderBy.limit` → TakeOrderedAndProject, never a global
    * sort); the rank window then runs over ≤50 rows, so the one
    * single-partition window is k-bounded, not corpus-bounded. Absent
    * ranks contribute 0 and surface as -1. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val lexW = Window.orderBy(col("bm25").desc, col("doc_id"))
    val lex = bm25Scores(s, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
      .withColumn("r_lex", row_number().over(lexW))
      .select(col("doc_id").as("id"), col("r_lex"))
    val e = emb(s, dir)
    val sem = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
      .select(col("neighbor_id").as("id"), col("rank").as("r_sem"))
    lex.join(sem, Seq("id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("r_sem")), lit(0.0)), 6))
      .select(col("id").as("doc_id"),
        coalesce(col("r_lex"), lit(-1)).cast("long").as("r_lex"),
        coalesce(col("r_sem"), lit(-1)).cast("long").as("r_sem"),
        col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(15)
  }

  /** Per-source duplication diagnostics: which mixture components carry
    * the duplicated mass — for every source, the fraction of its
    * documents that sit in a near-dup cluster (the report a curation
    * team reads before deciding per-source dedup policy). Reuses the
    * session-cached cluster table ([[dupClusters]]); the left join is
    * doc_id-equi, the output source-cardinality bounded. */
  private def q89(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).join(dupClusters(s, dir), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster").isNotNull, 1L).otherwise(0L))
          .as("n_dup"),
        round(sum(when(col("cluster").isNotNull, 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("dup_rate"))
      .orderBy(col("source"))

  /** Cross-split leakage audit: after a hash split (q60's assignment),
    * does any val/test document share enough distinct 4-grams with the
    * TRAIN slice to constitute leakage? The post-split hygiene check
    * every training pipeline should run — same machinery as q67's
    * decontamination but gating the pipeline's own split boundary. The
    * gram join is an equi-join on 60-bit hashes (the train side is
    * corpus-sized at 100 TB — it shuffles hashes, never broadcast, never
    * text); the output is split-cardinality bounded. */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val d = Curation.assignSplit(docs(s, dir), "doc_id", 8000, 1000)
    val sh = d
      .select(col("doc_id"), col("split"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("split"),
        explode(TextFunctions.shinglesFromTokens(col("toks"), 4)).as("g"))
      .select(col("doc_id"), col("split"),
        TextFunctions.hash60(col("g")).as("h"))
      .distinct()
    val trainG = sh.filter(col("split") === "train")
      .select(col("h")).distinct()
    val hits = sh.filter(col("split") =!= "train")
      .join(trainG, Seq("h"))
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_shared"))
    d.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(hits.groupBy(col("split")).agg(
          sum(when(col("n_shared") >= 5, 1L).otherwise(0L)).as("lk"),
          max(col("n_shared")).as("mx")),
        Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("lk"), lit(0L)).as("n_leaky"),
        coalesce(col("mx"), lit(0L)).as("max_shared"))
      .orderBy(col("split"))
  }

  /** Canonical-representative selection: the keep-BEST-of-cluster dedup
    * policy (vs q06/q65's keep-first) — near-dup clusters from q64's
    * exact-Jaccard connected components, representative = the
    * highest-token-entropy member (ties → lowest doc_id), the standard
    * "retain the least-templated copy" rule. Cluster membership joins
    * the per-doc entropy on doc_id; the argmax is a per-cluster window
    * whose state is bounded by cluster size. Only multi-doc clusters
    * appear (singletons are trivially their own representative). */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val clusters = dupClusters(s, dir)
    val ent = TextFunctions.tokenEntropy(d, "doc_id", "text")
    clusters.join(ent, Seq("doc_id"))
      .withColumn("n_docs",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .withColumn("rn", graft.operators.Ranks.cutRank(s,
        Window.partitionBy(col("cluster"))
          .orderBy(col("entropy").desc, col("doc_id")), 1))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("n_docs"),
        col("doc_id").as("rep_doc"), col("entropy").as("rep_entropy"))
      .orderBy(col("cluster"))
  }

  /** Temperature-reweighted mixture sizing (the multilingual/multi-source
    * rebalance from the GPT-3/PaLM data recipes: sampling weight
    * ∝ p_s^τ, τ=0.7 < 1 upweights small sources): per-source token
    * counts → w_s = n_s^τ / Σ n^τ → token budget per source for a fixed
    * 10^9-token draw. One groupBy; the normalizer folds in as a
    * broadcast scalar row — source cardinality, not corpus size, bounds
    * everything after the first aggregation. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val tau = 0.7
    val per = docs(s, dir)
      .select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("tokens"))
    val z = per.agg(
      sum(pow(col("tokens").cast("double"), tau)).as("z"))
    per.crossJoin(broadcast(z))
      .withColumn("w", pow(col("tokens").cast("double"), tau) / col("z"))
      .select(col("source"), col("tokens"),
        round(col("w"), 6).as("weight"),
        round(lit(1e9) * col("w"), 0).cast("long").as("budget_tokens"))
      .orderBy(col("source"))
  }

  /** Source-overlap matrix: vocabulary Jaccard between every pair of
    * sources — the standard "how much do my mixture components share"
    * diagnostic when composing a training mixture. The per-source
    * vocabulary is a distinct (source, term-hash) set, so the self-join
    * is an equi-join on the 60-bit hash whose per-key fan-out is bounded
    * by #sources² (a universal term meets ≤ S sources — never the
    * corpus), and set sizes fold in as a broadcast. Top-20 pairs. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val sv = docs(s, dir)
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .select(col("source"), TextFunctions.hash60(col("term")).as("h"))
      .distinct()
    val sizes = sv.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("nv"))
    sv.as("a").join(sv.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .join(broadcast(sizes).as("sa"), col("src_a") === col("sa.source"))
      .join(broadcast(sizes).as("sb"), col("src_b") === col("sb.source"))
      .select(col("src_a"), col("src_b"),
        round(col("inter") /
          (col("sa.nv") + col("sb.nv") - col("inter")), 6)
          .as("vocab_jaccard"))
      .orderBy(col("vocab_jaccard").desc, col("src_a"), col("src_b"))
      .limit(20)
  }

  /** Packed training sequences: q61 assigns token-budget bins; this
    * materializes each (source, bin) into ONE training sequence — docs
    * EOS-joined in doc_id order. `collect_list` is per-bin (bounded by
    * the token budget, never the corpus) and wrapped in `sort_array`
    * over (doc_id, text) structs for a deterministic concat order that
    * DuckDB's `string_agg(... ORDER BY doc_id)` mirrors exactly. */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val packed = Curation.packTokens(docs(s, dir), "doc_id", "source",
      "text", 4096)
    docs(s, dir).select(col("doc_id"), col("text"))
      .join(packed, Seq("doc_id"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), " <eos> ").as("seq_text"))
      .orderBy(col("source"), col("bin"))
  }

  /** Range join: orders against quarter intervals, in the BINNED shape —
    * each side derives a bucket key (here quarter ordinal; for irregular
    * ranges: fixed-width buckets with the interval side exploded to every
    * bucket it covers), the join is a broadcast HASH join on the bucket,
    * and the true range predicate remains as a residual filter. The naive
    * alternative — a non-equi BroadcastNestedLoopJoin — evaluates every
    * interval per fact row outside whole-stage codegen (measured 16 s vs
    * ~1 s for this plan at sf0.1) and at scale degrades with interval
    * count; the binned form stays one codegen'd equi-join regardless. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    def qidx(d: Column): Column = year(d) * 4 + quarter(d)
    val quarters = s.range(1)
      .select(explode(sequence(
        lit("1995-01-01").cast("date"),
        lit("2001-07-01").cast("date"),
        expr("INTERVAL 3 MONTHS"))).as("q_start"))
      .withColumn("q_end", add_months(col("q_start"), 3))
      .withColumn("qidx", qidx(col("q_start")))
    t(s, dir, "orders")
      .withColumn("qidx", qidx(col("o_orderdate")))
      .join(broadcast(quarters), Seq("qidx"))
      .filter(col("o_orderdate") >= col("q_start").cast("timestamp") &&
        col("o_orderdate") < col("q_end").cast("timestamp"))
      .groupBy(col("q_start"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("q_start"))
  }

  /** Sub-document chunk dedup (Dedup.chunkDuplicates, 10-token chunks):
    * per-doc duplicated-span ratio — the C4-style boilerplate signal. */
  private def q63(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDuplicates(docs(s, dir), "doc_id", "text")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
        round(avg(when(col("is_dup"), 1.0).otherwise(0.0)), 6)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))

  /** Near-dup cluster assignment (Dedup.connectedComponents over the
    * exact-Jaccard pairs): cluster id = smallest reachable doc id. */
  /** Session-cached near-dup cluster table per (context, sfDir) — the
    * build-once / reuse-many shape of a production dedup pipeline (the
    * cluster table is computed once per corpus snapshot and consumed by
    * many downstream jobs): q64 reports it, q84 selects representatives
    * from it. Checkpointed so the iterative label propagation never
    * re-runs within a session. */
  private val clusterCache = sessionCache[DataFrame]()
  private def dupClusters(s: SparkSession, dir: String): DataFrame =
    clusterCache.computeIfAbsent(ckey(s, dir),
      _ => Dedup.connectedComponents(
          Dedup.ngramJaccard(docs(s, dir), "doc_id", "text",
            threshold = 0.8))
        .select(col("node").as("doc_id"), col("lbl").as("cluster"))
        .localCheckpoint())

  private def q64(s: SparkSession, dir: String): DataFrame =
    dupClusters(s, dir).orderBy(col("doc_id"))

  /** End-to-end curation pipeline — the composition the individual ops
    * exist for: language filter (q21's langId) → minimum-length quality
    * gate → exact dedup keep-first → deterministic 50% hash sample →
    * per-source corpus stats. Each stage is narrow or one shuffle; text
    * never shuffles (dedup partitions on md5, sampling is a filter). */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val filtered = docs(s, dir)
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .withColumn("n_tokens",
        TextFunctions.tokenCount(col("text")).cast("long"))
      .filter(col("lang_pred") === "en" && col("n_tokens") >= 20)
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val deduped = filtered
      .withColumn("rn", graft.operators.Ranks.cutRank(s, w, 1))
      .filter(col("rn") === 1)
    Curation.hashSample(deduped, "doc_id", 5000)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("source"))
  }

  // ==========================================================================
  // Curation/quality extensions: repetition signals, benchmark
  // decontamination, exact-k stratified sampling, curriculum buckets,
  // per-stratum quality selection
  // ==========================================================================

  /** Gopher-style repetition quality signals: per doc, the mass fraction
    * of the single most frequent token and the duplicate-bigram fraction.
    * Top-token needs one (doc, token) aggregation (map-side partial
    * combine); the bigram ratio is computed entirely inside the per-doc
    * token array — narrow, no shuffle. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val top = tok.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_tf"), sum(col("c")).as("n_tokens"))
    val bg = tok.select(col("doc_id"),
      TextFunctions.shinglesFromTokens(col("toks"), 2).as("bgs"))
      .select(col("doc_id"), size(col("bgs")).as("n_bg"),
        size(array_distinct(col("bgs"))).as("n_uniq"))
    top.join(bg, Seq("doc_id"))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("max_tf").cast("double") /
          col("n_tokens").cast("double"), 6).as("top_token_ratio"),
        round(when(col("n_bg") > 0,
          lit(1.0) - col("n_uniq").cast("double") / col("n_bg").cast("double"))
          .otherwise(lit(0.0)), 6).as("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: which training docs share any 4-gram with
    * the "benchmark" slice (doc_id % 50 == 0 here), and how many distinct
    * 4-grams they share — the standard pre-training contamination scan.
    * Both sides derive from ONE shingle index subtree (deterministic, so
    * its distinct-Exchange is planner-reused); only 8-byte gram hashes
    * shuffle, and AQE broadcasts the benchmark gram side when it fits. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    // Shingling is per-document, so the bench/train split commutes with
    // it: filtering BEFORE the index means the corpus is tokenized and
    // exploded exactly once across the two disjoint scans (a shared
    // post-index filter recomputes the full explode per consumer — the
    // measured cost was 2× CPU), and each `doc_id % 50` predicate
    // reaches its parquet scan.
    val d = docs(s, dir)
    val benchGrams = Dedup.shingleIndex(
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4)
      .select(col("h")).distinct()
    Dedup.shingleIndex(
        d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", n = 4)
      .join(benchGrams, Seq("h"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc").as("doc_id"), col("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-pre-filtered decontamination ([[Dedup.decontaminationHits]]):
    * same n-gram-overlap semantics as q67 on a different bench split, but
    * the train-side gram stream passes a `might_contain` scalar-subquery
    * bloom before the exact join — the shape that survives a bench set
    * too large to broadcast-hash. The exact join kills bloom false
    * positives, so the oracle is the plain-join SQL. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.decontaminationHits(
        corpus = d.filter(col("doc_id") % 23 =!= 0),
        bench = d.filter(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 4)
      .select(col("doc").as("doc_id"), col("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer-vocabulary build: global token frequencies, top-V with
    * dense ids. The id-assigning window is a deliberate serial point over
    * ONLY the top-V rows (V=512 here) — the corpus-wide count is fully
    * distributed and V is a constant, so the shape holds at 100 TB (same
    * argument as q51's documented global window). */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val counts = docs(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(512)
    val w = Window.orderBy(col("n").desc, col("token"))
    counts.withColumn("token_id", row_number().over(w).cast("long"))
      .orderBy(col("token_id"))
  }

  /** Corpus tokenization against the trained vocabulary — the step that
    * turns text into model-ready id sequences (q73 BUILDS the top-512
    * vocab; this APPLIES it): every token joins its dense id through a
    * broadcast of the vocabulary (V-bounded, never corpus-bounded),
    * out-of-vocab tokens map to UNK=0, and each document re-assembles
    * its id sequence in position order via a per-doc `sort_array
    * (collect_list(struct(pos,id)))` — bounded by one document's
    * length, the same shape q76 uses. The doc_id<40 output bound pushes
    * into the tokenize branch only; the vocab branch keeps its own
    * full-corpus scan (verified: separate scans per branch, q67's
    * pattern). Ids render as a space-joined string because the driver's
    * row comparator rejects array columns. */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("token"))
    val counts = tok.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(512)
    val vocab = counts.withColumn("token_id",
      row_number().over(Window.orderBy(col("n").desc, col("token")))
        .cast("long"))
    tok.filter(col("doc_id") < 40)
      .join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .withColumn("tid", coalesce(col("token_id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_unk"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tid")))),
          x => x.getField("tid").cast("string")), " ").as("ids"))
      .orderBy(col("doc_id"))
  }

  /** Multi-signal quality selection: token-distribution entropy (higher
    * = less templated) and reference-LM cross-entropy (lower = more
    * natural) blend into one composite via PER-SOURCE `percent_rank`
    * normalization — the scale-free way to combine signals with
    * incomparable units (the poor-man's model-based data selection).
    * Windows partition by source (parallelism = source count, q70's
    * pattern — never one global sort); output = top-3 per source. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val ent = TextFunctions.tokenEntropy(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("entropy"))
    val j = docs(s, dir).select(col("doc_id"), col("source"))
      .join(ent, Seq("doc_id"))
      .join(crossEntropyScores(s, dir), Seq("doc_id"))
    val scored = j
      .withColumn("pr_ent", percent_rank().over(
        Window.partitionBy(col("source")).orderBy(col("entropy"))))
      .withColumn("pr_ce", percent_rank().over(
        Window.partitionBy(col("source"))
          .orderBy(col("cross_entropy").desc)))
      .withColumn("quality",
        round((col("pr_ent") + col("pr_ce")) / 2, 6))
    scored.withColumn("rn", graft.operators.Ranks.cutRank(s,
        Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id")), 3))
      .filter(col("rn") <= 3)
      .select(col("source"), col("doc_id"), col("quality"))
      .orderBy(col("source"), col("quality").desc, col("doc_id"))
  }

  /** Cross-document boilerplate removal ([[Dedup.removeBoilerplate]]):
    * segments repeated in ≥2 documents are stripped everywhere and the
    * documents reassembled; the md5 of each cleaned text pins exact
    * reassembly against the oracle. */
  private def q92(s: SparkSession, dir: String): DataFrame =
    Dedup.removeBoilerplate(docs(s, dir), "doc_id", "text",
        segTokens = 10, minDf = 2)
      .orderBy(col("doc_id"))

  /** Token-budget selection ([[Curation.budgetSelect]]): within each
    * source, admit documents in quality order (stop_ratio desc, doc_id
    * tiebreak) until the running token total exceeds the per-source
    * budget — the "fill the mixture to N tokens, best first" curation
    * step. This runs the PRODUCTION path — sketch-bucketed pre-filter,
    * exact cumsum only over the budget-bounded survivor sliver — and
    * the DuckDB oracle is the naive full-window form, so the round gate
    * itself proves the two equivalent (the pre-filter is
    * edge-placement-independent; see the operator scaladoc). */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir).select(col("doc_id"), col("source"),
        TextFunctions.qualityStruct(col("text")).as("q"))
      .select(col("doc_id"), col("source"),
        col("q.n_tokens").cast("long").as("n_tokens"),
        col("q.stop_ratio").as("stop_ratio"))
    Curation.budgetSelect(scored, "doc_id", "source", "n_tokens",
        "stop_ratio", budget = 800L)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"), col("stop_ratio"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  /** Char-weighted repetition fractions — the half of the Gopher
    * repetition suite (Rae et al. 2021, A1.2) that q66's count-ratios
    * don't cover: the character MASS of the most frequent word 2-/3-gram
    * and of all duplicated 5-grams, as a fraction of the document's
    * token characters. `keep` applies the published thresholds
    * (0.20 / 0.18 / 0.15).
    *
    * Scale shape: grams shuffle as (doc_id, 60-bit hash, char length) —
    * the length is computed map-side so gram STRINGS never hit the wire;
    * each n-gram order is one per-doc count aggregation (map-side
    * partial) and the three join back on doc_id. The fraction needs only
    * max/sum of count×length, so no argmax tie-break exists to pin. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val tot = tok.select(col("doc_id"),
      length(array_join(col("toks"), " ")).cast("double").as("tot"))
    def gramMass(n: Int): DataFrame = tok
      .select(col("doc_id"),
        explode(TextFunctions.shinglesFromTokens(col("toks"), n)).as("g"))
      .select(col("doc_id"), TextFunctions.hash60(col("g")).as("h"),
        length(col("g")).as("len"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("c"), max(col("len")).as("len"))
    val top2 = gramMass(2).groupBy(col("doc_id"))
      .agg(max(col("c") * col("len")).as("m2"))
    val top3 = gramMass(3).groupBy(col("doc_id"))
      .agg(max(col("c") * col("len")).as("m3"))
    val dup5 = gramMass(5).filter(col("c") >= 2).groupBy(col("doc_id"))
      .agg(sum(col("c") * col("len")).as("m5"))
    tot.join(top2, Seq("doc_id"), "left")
      .join(top3, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("m2"), lit(0L)).cast("double") / col("tot"), 6)
          .as("top2_char_frac"),
        round(coalesce(col("m3"), lit(0L)).cast("double") / col("tot"), 6)
          .as("top3_char_frac"),
        round(coalesce(col("m5"), lit(0L)).cast("double") / col("tot"), 6)
          .as("dup5_char_frac"))
      .withColumn("keep",
        col("top2_char_frac") <= 0.20 && col("top3_char_frac") <= 0.18 &&
          col("dup5_char_frac") <= 0.15)
      .orderBy(col("doc_id"))
  }

  /** Epoch-capped mixture allocation — the data-constrained variant of
    * q85's temperature mixture (Muennighoff et al. 2023: repeating data
    * beyond ~4 epochs stops helping): temperature-weighted token
    * requests are capped at `maxEpochs` passes over each source, and the
    * freed budget is redistributed pro-rata to the unsaturated sources
    * in one waterfall round (then re-capped).
    *
    * Scale shape: everything after the per-source token count (one
    * map-side-combined aggregation) operates on a #sources-row table;
    * the corpus-independent scalars (Z, excess) fold in as broadcast
    * single-row crossJoins, the q85 pattern. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val tau = 0.5; val budgetMult = 2.0; val maxEpochs = 4.0
    val per = docs(s, dir)
      .select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("tokens"))
    val z = per.agg(
      sum(pow(col("tokens").cast("double"), tau)).as("z"),
      (sum(col("tokens")).cast("double") * budgetMult).as("budget"))
    val g1 = per.crossJoin(broadcast(z))
      .withColumn("wt", pow(col("tokens").cast("double"), tau))
      .withColumn("req", col("budget") * col("wt") / col("z"))
      .withColumn("cap", col("tokens").cast("double") * maxEpochs)
      .withColumn("grant1", least(col("req"), col("cap")))
    val agg1 = g1.agg(
      (max(col("budget")) - sum(col("grant1"))).as("excess"),
      sum(when(col("grant1") < col("cap"), col("wt"))
        .otherwise(lit(0.0))).as("zu"))
    g1.crossJoin(broadcast(agg1))
      .withColumn("granted", least(col("cap"),
        col("grant1") + when(col("grant1") < col("cap") && col("zu") > 0,
          col("excess") * col("wt") / col("zu")).otherwise(lit(0.0))))
      .select(col("source"), col("tokens"),
        round(col("req"), 2).as("requested_tokens"),
        round(col("granted"), 2).as("granted_tokens"),
        round(col("granted") / col("tokens").cast("double"), 6)
          .as("epochs"))
      .orderBy(col("source"))
  }

  /** Deterministic weighted sampling without replacement
    * ([[Curation.weightedSample]], Efraimidis-Spirakis): 50 docs drawn
    * with probability proportional to token count, stable across reruns
    * and partition layouts because the uniform derives from the salted
    * content hash — which is also what lets DuckDB replay the exact
    * draw. Top-k plans TakeOrderedAndProject (pinned in PlanPinsSpec). */
  private def q96(s: SparkSession, dir: String): DataFrame =
    Curation.weightedSample(
        docs(s, dir).select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "doc_id", col("n_tokens").cast("double"), k = 50)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("sample_key"), 6).as("sample_key"))
      .orderBy(col("sample_key").desc, col("doc_id"))

  /** CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3): docs
    * tercile-split per source by LM cross-entropy — "head" is the
    * cleanest third, the slice CCNet keeps for training. Shares q80's
    * cross-entropy table; the ntile window is source-partitioned with a
    * (ce, doc_id) tie-break so bucket edges are deterministic. Reports
    * per (source, bucket): doc count, token mass, mean cross-entropy.
    * Source-bounded window state; the output is 3×#sources rows. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val j = docs(s, dir).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(crossEntropyScores(s, dir), Seq("doc_id"))
    j.withColumn("nb", ntile(3).over(
        Window.partitionBy(col("source"))
          .orderBy(col("cross_entropy"), col("doc_id"))))
      .withColumn("bucket", when(col("nb") === 1, "head")
        .when(col("nb") === 2, "middle").otherwise("tail"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        // mean over exact micro-units: summing the already-6-rounded CE
        // as longs is order-independent, where avg() over doubles can
        // flip the 6th decimal with partial-aggregation order
        round((sum(round(col("cross_entropy") * 1e6, 0).cast("long"))
          .cast("double") / count(lit(1)) / 1e6), 6).as("mean_ce"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Language-label audit ([[TextFunctions.langId]] vs the declared
    * `lang` column): per-source mislabel diagnostics — the
    * metadata-trust check a multilingual pipeline runs before routing
    * documents to language-specific filters. Map-only lexicon scoring
    * (no shuffle until the #sources-bounded final agg). */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val mis = col("pred") =!= "und" && col("pred") =!= col("lang")
    docs(s, dir)
      .select(col("source"), col("lang"),
        TextFunctions.langId(col("text")).as("pred"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === "und", 1L).otherwise(0L))
          .as("n_unknown"),
        sum(when(mis, 1L).otherwise(0L)).as("n_mislabeled"))
      .withColumn("mislabel_rate",
        round(col("n_mislabeled").cast("double") /
          col("n_docs").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** Deterministic balanced shard layout ([[Curation.shardAssign]]):
    * per-shard counts, char mass, and an order digest (Σ doc_id·pos) —
    * the digest pins the exact within-shard hash order, which is the
    * property that makes re-runs produce byte-identical training
    * shards. The only sort is per-shard (window), never global.
    * NOTE: the Σ doc_id·pos digest form assumes the product fits a
    * long — true for the test corpora and any sub-billion-doc shard
    * with ≤ ~1e9 ids; a corpus beyond that should digest
    * `xxhash64(doc_id, pos)` sums instead (same pinning property,
    * overflow-free by construction). */
  private def q99(s: SparkSession, dir: String): DataFrame =
    Curation.shardAssign(docs(s, dir), "doc_id", nShards = 16)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id") * col("pos")).as("ord_digest"))
      .orderBy(col("shard"))

  /** Corpus snapshot diff ([[Dedup.snapshotDiff]]): yesterday's snapshot
    * (salted buckets < 9500) vs today's (buckets ≥ 500, with buckets
    * 4000-4499 re-crawled to new content — digest salted with 'v2'),
    * classified added/removed/changed/unchanged per source. Only
    * (doc_id, md5, source) shuffle — text never travels. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("bk", Curation.hashBucket(col("doc_id"), "snap"))
    val oldSnap = d.filter(col("bk") < 9500)
      .withColumn("digest", md5(col("text")))
    val newSnap = d.filter(col("bk") >= 500)
      .withColumn("digest", md5(
        when(col("bk").between(4000, 4499), concat(col("text"), lit("v2")))
          .otherwise(col("text"))))
    Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "digest",
        carryCols = Seq("source"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"), col("status"))
  }

  /** Templated-content diagnostics ([[Dedup.gramNovelty]]): per-source
    * gram-sharing mass (Σcommon/Σgrams — exact integer sums, so the
    * ratio is partial-agg-order-proof) and the count of documents whose
    * majority of distinct 3-grams is corpus-shared (2·common ≥ grams —
    * an integer predicate, same reason). Only 8-byte gram hashes
    * shuffle. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.gramNovelty(d, "doc_id", "text", n = 3, minDf = 3)
      .join(d.select(col("doc_id").as("doc"), col("source")), Seq("doc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_common")).cast("double") /
          sum(col("n_grams")).cast("double"), 6).as("common_frac"),
        sum(when(col("n_common") * 2 >= col("n_grams"), 1L)
          .otherwise(0L)).as("n_templated"))
      .orderBy(col("source"))
  }

  /** Per-label embedding centroid drift — the class-balance /
    * embedding-health monitor: cosine between each label's centroid and
    * the corpus centroid. A label whose centroid drifts far from the
    * corpus mean signals a skewed or mis-embedded class.
    *
    * Exactness engineering (the q97 lesson applied to vectors): element
    * values quantize to micro-units (round(v·1e6) — integral doubles,
    * exact under double addition to 2^53), so the per-label vector sums
    * are partial-agg-order-proof; cosine is scale-invariant so it is
    * computed directly on the exact SUM vectors — no division ever
    * enters the aggregation, and Spark and DuckDB fold the same exact
    * integers in the same order.
    *
    * Scale shape: ONE corpus scan; `Summarizer.sum` partial-aggregates
    * (k×d partials per task, rows never shuffle); the global centroid
    * derives from the k label sums (k×d rows), then broadcasts. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val micro = emb(s, dir).select(col("label"),
      array_to_vector(transform(col("embedding"),
        v => round(v * 1e6, 0))).as("mv"))
    // the k-row label-sum table feeds BOTH the global derivation and the
    // final join; localCheckpoint materializes it once so the corpus is
    // scanned exactly once (without it Catalyst plans the scan per
    // consumer — PlanPinsSpec pins the single-scan shape)
    val sums = micro.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        vector_to_array(Summarizer.sum(col("mv"))).as("a"))
      .localCheckpoint()
    val g = sums.select(posexplode(col("a")))
      .groupBy(col("pos")).agg(sum(col("col")).as("gv"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        col("gv")))), x => x.getField("gv")).as("g"))
    def dot(a: Column, b: Column) = Similarity.dotCol(a, b)
    sums.crossJoin(broadcast(g))
      .select(col("label"), col("n"),
        round(dot(col("a"), col("g")) /
          (sqrt(dot(col("a"), col("a"))) * sqrt(dot(col("g"), col("g")))),
          6).as("drift_cos"))
      .orderBy(col("label"))
  }

  /** Snapshot distribution drift — the corpus-composition monitor run
    * between ingest batches: per-source total-variation distance
    * between yesterday's and today's document-length histograms (64
    * fixed 512-char bins). A drifting source signals a crawler change,
    * an upstream format break, or contamination.
    *
    * Exactness engineering: TVD's Σ|p−q| is made partial-agg-order-
    * proof by clearing denominators — the per-bin term
    * |old_n·new_tot − new_n·old_tot| is an exact integer (summed as
    * decimal(38,0) so a 10¹⁰-doc corpus cannot overflow; DuckDB's
    * HUGEINT mirrors it), and the single division happens once at the
    * end. Scale shape: map-only bucketing, (source×64)-bounded state. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("bk", Curation.hashBucket(col("doc_id"), "snap"))
      .withColumn("bin", least(floor(col("n_chars") / 512), lit(63L)))
    val perBin = d.groupBy(col("source"), col("bin"))
      .agg(sum(when(col("bk") < 9500, 1L).otherwise(0L)).as("old_n"),
        sum(when(col("bk") >= 500, 1L).otherwise(0L)).as("new_n"))
    val tot = perBin.groupBy(col("source"))
      .agg(sum(col("old_n")).as("n_old"), sum(col("new_n")).as("n_new"))
    perBin.join(tot, Seq("source"))
      .groupBy(col("source"), col("n_old"), col("n_new"))
      .agg(sum(abs(col("old_n") * col("n_new") -
          col("new_n") * col("n_old")).cast("decimal(38,0)"))
        .as("num"))
      .select(col("source"), col("n_old"), col("n_new"),
        round(col("num").cast("double") / 2.0 /
          col("n_old").cast("double") / col("n_new").cast("double"), 6)
          .as("tvd"))
      .orderBy(col("source"))
  }

  /** Ordered event funnel (view → click → purchase): per-user strict
    * event-time ordering enforced by chained min-timestamp joins — the
    * classic product-analytics conversion query. Every stage is a
    * user-keyed agg/join (shuffles on user_id only), so the shape holds
    * at any user count; output is 4 stage rows. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), col("event_type"),
      col("ts"))
    def firstAt(types: DataFrame, name: String) =
      types.groupBy(col("user_id")).agg(min(col("ts")).as(name))
    val v = firstAt(e.filter(col("event_type") === "view"), "tv")
    val c = firstAt(e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("tv")), "tc")
    val p = firstAt(e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("tc")), "tp")
    def stageCount(df: DataFrame, stage: String) =
      df.agg(count(lit(1)).as("n_users"))
        .withColumn("stage", lit(stage))
    stageCount(e.select(col("user_id")).distinct(), "1_any_event")
      .unionByName(stageCount(v, "2_view"))
      .unionByName(stageCount(c, "3_click_after_view"))
      .unionByName(stageCount(p, "4_purchase_after_click"))
      .select(col("stage"), col("n_users"))
      .orderBy(col("stage"))
  }

  /** Daily retention cohorts: users grouped by first-seen day; for each
    * cohort, distinct users active 1/7/14 days later. One user-keyed
    * agg for cohort assignment, one join back, then a cohort-bounded
    * conditional count-distinct — the standard cohort table,
    * Spark-first (shuffles on user_id / cohort day only). */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), col("ts"))
    val cohort = e.groupBy(col("user_id"))
      .agg(min(col("ts")).cast("date").as("cd"))
    e.join(cohort, Seq("user_id"))
      .withColumn("k", datediff(col("ts").cast("date"), col("cd")))
      .groupBy(col("cd").as("cohort_day"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("k") === 1, col("user_id"))).as("d1"),
        countDistinct(when(col("k") === 7, col("user_id"))).as("d7"),
        countDistinct(when(col("k") === 14, col("user_id"))).as("d14"))
      .orderBy(col("cohort_day"))
  }

  /** Asymmetric containment pairs ([[Dedup.containment]]): documents
    * whose 3-gram set is ≥90% inside another document — the
    * quote/excerpt detector Jaccard structurally misses. Prefix(A) ⋈
    * full-index(B) candidates on 8-byte hashes, exact verify. */
  private def q110(s: SparkSession, dir: String): DataFrame =
    Dedup.containment(docs(s, dir), "doc_id", "text", n = 3,
        threshold = 0.9)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Sliding-window chunking ([[Curation.chunkWithStride]], window 32 /
    * stride 24): one row per chunk with its token count and content
    * digest — the embedding-ingestion splitter. Map-only chunk
    * derivation; the digest pins exact window boundaries. */
  private def q111(s: SparkSession, dir: String): DataFrame =
    Curation.chunkWithStride(docs(s, dir), "doc_id", "text",
        windowTokens = 32, stride = 24)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Last-touch attribution: for each purchase, the nearest PRECEDING
    * non-purchase event of the same user (IGNORE NULLS last_value over
    * a preceding-rows frame — per-user window state only); output =
    * purchases per attributed touch type. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("touch"))
  }

  /** Feature-hashed embeddings ([[TextFunctions.hashedEmbedding]]):
    * per-doc summary of the 64-d hashing-trick vector — nonzero count,
    * L2 norm, and the dominant dimension. Every value derives from
    * exact ±1 integer sums (signs/dims are pure integer hash bits), so
    * the map-only fold and DuckDB's explode-and-regroup formulation
    * agree bit-for-bit. */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val acc = TextFunctions.hashedEmbedding(col("text"), 64)
    docs(s, dir)
      .select(col("doc_id"), acc.as("v"))
      .select(col("doc_id"),
        filter(transform(col("v"), (v, i) =>
          struct(v.as("v"), i.as("i"))), e => e.getField("v") =!= 0.0)
          .as("nz"))
      .filter(size(col("nz")) > 0)
      .select(col("doc_id"),
        size(col("nz")).cast("long").as("nnz"),
        round(sqrt(aggregate(col("nz"), lit(0.0),
          (a, e) => a + e.getField("v") * e.getField("v"))), 6)
          .as("norm"),
        array_max(transform(col("nz"), e =>
          struct(abs(e.getField("v")).as("a"),
            (-e.getField("i")).as("ni"))))
          .getField("ni").as("nni"))
      .select(col("doc_id"), col("nnz"), col("norm"),
        (-col("nni")).cast("long").as("top_dim"))
      .orderBy(col("doc_id"))
  }

  /** Binary media dedup ([[Multimodal.dedupByDigest]]): exact dedup of
    * the media payload column by content digest — digests computed
    * map-side, bytes never shuffle. Corpus-level summary row. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.fromText(docs(s, dir), "doc_id", "text",
      "text").toDF()
    Multimodal.dedupByDigest(media, "id", "bytes")
      .agg(count(lit(1)).as("n_unique"),
        sum(col("n_copies")).as("n_items"),
        sum(col("n_copies") - 1).as("n_dropped"),
        sum(col("keeper")).as("keeper_id_sum"))
  }

  /** Referential-integrity / constraint audit (the Deequ-style data
    * validation pass a pipeline runs before trusting a batch): orphan
    * FK rows via anti joins, range constraints via filters, cross-table
    * ordering via one equi-join — each rule one bounded count row.
    * Anti joins broadcast the smaller key side under AQE; nothing here
    * materializes violations (counts only). */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    def cnt(df: DataFrame, rule: String) =
      df.agg(count(lit(1)).as("n_violations"))
        .withColumn("rule", lit(rule))
    cnt(o.join(c, col("o_custkey") === col("c_custkey"), "left_anti"),
        "orphan_order_custkey")
      .unionByName(cnt(
        l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti"),
        "orphan_lineitem_orderkey"))
      .unionByName(cnt(l.filter(col("l_quantity") <= 0),
        "nonpositive_quantity"))
      .unionByName(cnt(
        l.filter(col("l_discount") < 0 || col("l_discount") > 1),
        "discount_out_of_range"))
      .unionByName(cnt(
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") < col("o_orderdate")),
        "ship_before_order"))
      .select(col("rule"), col("n_violations"))
      .orderBy(col("rule"))
  }

  /** Column profiler (ANALYZE-style summary for a declared column
    * list): non-null count, exact distinct, min/max/mean — ALL columns
    * in ONE aggregation over ONE table scan (Spark plans the multi
    * `countDistinct` via a single scan + Expand), then the one wide row
    * unpivots to a row per column. The r8 form ran one agg per column —
    * four full scans; at 100 TB the single pass is the difference
    * between one read of the table and #columns reads. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      round(min(col(c)), 4).as(s"mn_$c"),
      round(max(col(c)), 4).as(s"mx_$c"),
      round(avg(col(c)), 4).as(s"av_$c"))
    }
    l.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"),
          col(s"nn_$c").as("non_null"),
          col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").as("min_v"),
          col(s"mx_$c").as("max_v"),
          col(s"av_$c").as("mean_v"))): _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Mutual-kNN clusters over the embedding space — the density-based
    * topic grouping for cluster-aware curation: an edge requires BOTH
    * endpoints in each other's top-5 (hub kill), connected components
    * label the groups, singletons keep their own id. Candidates are the
    * exact kNN here (the oracle-able baseline — the DuckDB oracle
    * re-derives the same graph brute-force + recursive CTE); the corpus
    * scale path — [[Similarity.mutualKnnClustersFromCandidates]] fed by
    * [[Similarity.ivfTopKFromIndex]] — is the t50 driver entry (full
    * probe ≡ brute force, so it hashes against this same oracle). Past
    * candidates everything runs on the ≤ k·n two-id edge list. */
  private def q117(s: SparkSession, dir: String): DataFrame =
    Similarity.mutualKnnClusters(emb(s, dir), "vec_id", "embedding", k = 5)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy(col("vec_id"))

  /** Distinct-n lexical diversity per source (distinct-1/distinct-2,
    * Li et al. 2016's diversity diagnostics): unique-gram share of all
    * emitted grams. Gram shuffles carry (source, gram) only for the two
    * distinct counts; all math is integer until two divisions on the
    * #sources-bounded result. DEFINED behavior: the uni⋈bi inner join
    * means a source whose documents yield zero bigrams (all docs empty
    * or single-token) is OMITTED from the output entirely — the metric
    * reports only sources where both diversities are defined (the
    * DuckDB oracle joins identically). */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val tk = docs(s, dir)
      .select(col("source"), TextFunctions.tokens(col("text")).as("toks"))
    val u = tk.select(col("source"), explode(col("toks")).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_uni"), countDistinct(col("g")).as("d_uni"))
    val b = tk.select(col("source"), col("toks"),
        posexplode(col("toks")))
      .filter(col("pos") < size(col("toks")) - 1)
      .select(col("source"), concat_ws(" ",
        col("col"), get(col("toks"), col("pos") + 1)).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bi"), countDistinct(col("g")).as("d_bi"))
    u.join(b, Seq("source"))
      .select(col("source"), col("n_uni"), col("d_uni"), col("n_bi"),
        col("d_bi"),
        round(col("d_uni").cast("double") / col("n_uni"), 6)
          .as("distinct1"),
        round(col("d_bi").cast("double") / col("n_bi"), 6)
          .as("distinct2"))
      .orderBy(col("source"))
  }

  /** Inter-arrival cadence profile per event type: gaps between
    * consecutive SAME-TYPE events of one user (user+type-keyed lag
    * window — per-partition state is one user's events of one type),
    * in exact integer µs, then median/p90 per type (interpolated
    * percentiles; the t36-pinned `quantile_cont` ≡ `percentile`
    * equivalence makes the oracle comparison exact). The
    * "how often does a user do X" profile behind re-engagement
    * triggers and bot-cadence detection. The exact `percentile()`
    * buffer here is group-size-unbounded — a deliberate oracle-simple
    * baseline; the 100-TB path is the bounded twin t47 (same oracle,
    * spilling window rank), and the live path is
    * [[graft.streaming.EventStreams.interEventGaps]] (parity spec). */
  private def q119(s: SparkSession, dir: String): DataFrame =
    interEventGapFrame(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)"), 4).as("med_gap_us"),
        round(expr("percentile(gap_us, 0.9)"), 4).as("p90_gap_us"))
      .orderBy(col("event_type"))

  /** Same-type inter-arrival gap frame — the ONE derivation under q119
    * and its bounded twin t47 (two percentile plans, one source of
    * truth: an edit here reaches both or neither). */
  private def interEventGapFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
  }

  /** Distinctive terms per source — log-odds ratio with an informative
    * Dirichlet prior, z-scored (Monroe et al. 2008, "Fightin' Words":
    * the corpus-card diagnostic that surfaces WHAT a source is about,
    * where raw TF-IDF surfaces rare noise). For term w in source i vs
    * the rest of the corpus:
    * δ = ln((y_iw+α_w)/(n_i+α₀−y_iw−α_w)) − ln(same for rest),
    * z = δ/√(1/(y_iw+α_w) + 1/(y_rest+α_w)), α_w = α₀·y_w/N.
    * Scale shape: one (source, term) count shuffle; term totals join on
    * the term hash-key; per-source totals and the corpus total ride
    * broadcasts; the top-5 selection is a SALTED two-phase window —
    * local top-5 per (source, salt-of-term) then global top-5 over the
    * ≤ 32·5 survivors per source — so no single task ever sorts a whole
    * source's vocabulary (the result is identical: every true top-5
    * term wins its salt bucket). Ranks use the ROUNDED z (engine-stable
    * ties). Output is #sources·5 rows. DEFINED: a source with no term
    * reaching the y ≥ 5 evidence floor is omitted entirely (the oracle
    * filters identically). */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val a0 = 1000.0
    val tok = docs(s, dir).select(col("source"),
      explode(TextFunctions.tokens(col("text"))).as("w"))
    // checkpointed: four consumers (term totals, source totals, corpus
    // total, the scored join) would otherwise each re-run the corpus
    // explode+count — at 100 TB that is four scans for one
    val yiw = tok.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint()
    val yw = yiw.groupBy(col("w")).agg(sum(col("y")).as("y_all"))
    val ni = yiw.groupBy(col("source")).agg(sum(col("y")).as("n_i"))
    val nAll = yw.agg(sum(col("y_all")).as("n_all"))
    val scored = yiw
      .join(yw, Seq("w"))
      .join(broadcast(ni), Seq("source"))
      .crossJoin(broadcast(nAll))
      .filter(col("y") >= 5) // noise floor: rare terms have no evidence
      .withColumn("aw", lit(a0) * col("y_all") / col("n_all"))
      .withColumn("y_rest", col("y_all") - col("y"))
      .withColumn("n_rest", col("n_all") - col("n_i"))
      .withColumn("z", round(
        (log((col("y") + col("aw")) /
          (col("n_i") + lit(a0) - col("y") - col("aw"))) -
         log((col("y_rest") + col("aw")) /
          (col("n_rest") + lit(a0) - col("y_rest") - col("aw")))) /
        sqrt(lit(1.0) / (col("y") + col("aw")) +
          lit(1.0) / (col("y_rest") + col("aw"))), 6))
    val wLocal = Window.partitionBy(col("source"),
        pmod(xxhash64(col("w")), lit(32)))
      .orderBy(col("z").desc, col("w"))
    val survivors = scored
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= 5).drop("lrk")
    val rw = Window.partitionBy(col("source"))
      .orderBy(col("z").desc, col("w"))
    survivors.withColumn("rk", row_number().over(rw))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("w").as("term"), col("y").cast("long").as("y"), col("z"))
      .orderBy(col("source"), col("rk"))
  }

  /** Zipf rank-frequency slope per source (lexical-health diagnostic:
    * natural text sits near −1; templated/boilerplate corpora flatten,
    * spam steepens). Least-squares slope of ln(freq) on ln(rank) over
    * the top-1000 non-singleton terms per source. Engine-exact
    * aggregation: ln values land in integer MICRO-UNITS before any sum
    * (the q102 trick — FP addition order can never differ between
    * engines when the addends are integers), products stay ≤ 1e17 under
    * the rank-1000 cap, and the closed-form slope is evaluated in
    * identically-ordered double arithmetic on both sides. One
    * (source, term) count shuffle; the top-1000 ranking is a SALTED
    * two-phase window (local top-1000 per (source, salt-of-term), then
    * true global ranks over the ≤ 32k survivors per source) so no task
    * ever sorts a whole source's vocabulary — every true top-1000 term
    * wins its salt bucket, so the ranks are identical. */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir).select(col("source"),
      explode(TextFunctions.tokens(col("text"))).as("w"))
    val yiw = tok.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("y"))
    val wLocal = Window.partitionBy(col("source"),
        pmod(xxhash64(col("w")), lit(32)))
      .orderBy(col("y").desc, col("w"))
    val survivors = yiw
      .withColumn("lr", row_number().over(wLocal))
      .filter(col("lr") <= 1000).drop("lr")
    val rw = Window.partitionBy(col("source"))
      .orderBy(col("y").desc, col("w"))
    val ranked = survivors.withColumn("r", row_number().over(rw))
      .filter(col("y") >= 2 && col("r") <= 1000)
      .withColumn("x", round(log(col("r")) * 1e6).cast("long"))
      .withColumn("ly", round(log(col("y")) * 1e6).cast("long"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("x") * col("ly")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_terms") >= 10)
      .select(col("source"), col("n_terms"),
        round((col("n_terms").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
         (col("n_terms").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_slope"))
      .orderBy(col("source"))
  }

  /** Doc-length inequality per source — the Gini coefficient of the
    * `n_chars` distribution (corpus-balance diagnostic: a source whose
    * mass sits in a few huge documents behaves very differently under
    * token-budget selection than its doc count suggests). Computed from
    * the rank-weighted sum on ascending length order:
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx). All sums are pure integers
    * (rank × chars), so aggregation is engine-exact; the final ratio is
    * one identically-ordered double expression. One per-source window +
    * integer agg. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    docs(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      // running count, not row_number(): same positional rank, but
      // LongType end to end — row_number is Int and wraps past 2^31
      // docs in one source, the same scale the decimal cast below is
      // guarding (the Percentiles.groupedExact lesson)
      .withColumn("i", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sx"),
        // decimal(38,0) BEFORE the multiply: rank × chars for one row
        // already exceeds long past ~3e9-char positions, and casting the
        // long product would wrap first; summed over a billion-doc
        // source the decimal total matches DuckDB's exact HUGEINT sum,
        // so the double cast still agrees
        sum(col("i").cast("decimal(38,0)") * col("n_chars")).as("sw"))
      .select(col("source"), col("n_docs"),
        round((lit(2.0) * col("sw").cast("double") -
          (col("n_docs") + 1).cast("double") * col("sx").cast("double")) /
          (col("n_docs").cast("double") * col("sx").cast("double")), 6)
          .as("gini"))
      .orderBy(col("source"))
  }

  /** Event-type co-occurrence lift (market-basket over users): for each
    * unordered type pair, lift = P(A∧B)/(P(A)·P(B)) over the user
    * universe — which behaviors travel together vs anti-correlate, the
    * segmentation primer. Distinct (user, type) is one hash shuffle;
    * the pair join is per-user over ≤ #types rows each (state bounded
    * by one user's distinct types); totals ride a broadcast. All math
    * is integer until one identically-ordered double ratio. Output is
    * #types²-bounded. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: five consumers (user total, type totals, both pair
    // sides) would otherwise each re-run the events distinct scan
    val ut = events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint()
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val a = ut.select(col("user_id"), col("event_type").as("ta"))
    val b = ut.select(col("user_id"), col("event_type").as("tb"))
    val pairs = a.join(b, Seq("user_id")).filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("ta"),
        col("n").as("n_a"))), Seq("ta"))
      .join(broadcast(perType.select(col("event_type").as("tb"),
        col("n").as("n_b"))), Seq("tb"))
      .crossJoin(broadcast(nUsers))
      .select(col("ta"), col("tb"), col("n_ab"), col("n_a"), col("n_b"),
        round((col("n_ab").cast("double") * col("n_users").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("lift"))
      .orderBy(col("ta"), col("tb"))
  }

  /** Byte-distribution entropy per payload
    * ([[graft.operators.Multimodal.byteEntropy]], the native codegen
    * kernel): the codec-free corrupt/format sniff over binary media —
    * one map-only pass, one double out. The oracle replays the q58
    * entropy identity over DuckDB's char split — byte-exact here
    * because the fixture payloads are ASCII (chars ≡ bytes); the KERNEL
    * is defined over raw bytes and handles arbitrary binary. */
  private def q124(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      length(col("text").cast("binary")).cast("long").as("n_bytes"),
      round(Multimodal.byteEntropy(col("text").cast("binary")), 6)
        .as("byte_entropy"))
      .orderBy(col("doc_id"))

  /** RFM segmentation (recency / frequency / monetary — the classic
    * customer-value grid): per-user last-seen gap, event count, and
    * value sum, each scored 1–5 against the quintile cut points of the
    * user population, then segment sizes. SCALE-SAFE scoring: the cut
    * points are ONE exact-percentile aggregation broadcast back
    * (4 doubles per metric), and each user's score is a map-side CASE
    * comparison — no global ntile window (which would funnel every user
    * through one sort task). The cut-point `percentile()` buffers the
    * per-user frame's distinct values in one task — acceptable while
    * users ≪ events; past that, run the bounded twin t51 (same oracle,
    * cut points via [[graft.operators.Percentiles.globalExact]]).
    * Convention: R counts recency boundaries
    * NOT exceeded (5 = most recent); F/M count boundaries exceeded + 1
    * (5 = highest). Monetary is rounded to cents BEFORE scoring so the
    * quintile comparisons are engine-stable. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val per = rfmPerUser(s, dir)
    val cuts = per.agg(
      expr("percentile(recency_us, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
      expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
      expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
    rfmScored(per.crossJoin(broadcast(cuts)),
      (arr, i) => get(col(arr), lit(i)))
  }

  /** The ONE RFM scoring tail shared by q125 and t51 — the scoring
    * convention (5 = most recent R; F/M = boundaries exceeded + 1; the
    * cents-rounded monetary; the segment aggregation) lives here once,
    * parameterized only by where a cut point comes from: an array
    * lookup on the broadcast percentile row (q125) or a driver literal
    * from [[graft.operators.Percentiles.globalExact]] (t51). */
  private def rfmScored(per: DataFrame,
      cut: (String, Int) => Column): DataFrame = {
    def crossed(metric: Column, arr: String): Column =
      (0 until 4).map(i =>
        when(metric > cut(arr, i), 1).otherwise(0): Column)
        .reduce(_ + _)
    per
      .withColumn("r_score",
        (lit(5) - crossed(col("recency_us").cast("double"), "rc"))
          .cast("long"))
      .withColumn("f_score",
        (lit(1) + crossed(col("freq").cast("double"), "fc")).cast("long"))
      .withColumn("m_score",
        (lit(1) + crossed(col("monetary"), "mc")).cast("long"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("monetary")), 2).as("seg_value"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Per-user RFM frame — the ONE derivation under q125 and its bounded
    * twin t51. Checkpointed: its consumers (cut-point derivation and the
    * scoring pass) would otherwise each re-run the per-user events
    * aggregation (the q120 precedent: 6.9 → 0.5 s for this class). */
  private def rfmPerUser(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    e.groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        round(sum(col("value")), 2).as("monetary"))
      .crossJoin(broadcast(
        e.agg(max(unix_micros(col("ts"))).as("now_us"))))
      .withColumn("recency_us", col("now_us") - col("last_us"))
      .localCheckpoint()
  }

  /** Bounded twin of q125: the three quintile cut-point vectors come
    * from [[graft.operators.Percentiles.globalExact]] — three
    * distributed selections over the (already user-bounded) RFM frame,
    * each returning 4 doubles BIT-identical to the exact aggregate
    * (spec-pinned), folded into the map-side CASE scoring as literals.
    * Same oracle, same output schema; this is the configuration the
    * q125 caveat prescribes once users stop being ≪ events. */
  private def t51(s: SparkSession, dir: String): DataFrame = {
    val per = rfmPerUser(s, dir)
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val cuts: Map[String, Seq[Double]] = Map(
      "rc" -> graft.operators.Percentiles.globalExact(per, "recency_us", qs),
      "fc" -> graft.operators.Percentiles.globalExact(per, "freq", qs),
      "mc" -> graft.operators.Percentiles.globalExact(per, "monetary", qs))
    rfmScored(per, (arr, i) => lit(cuts(arr)(i)))
  }

  /** Cohort LTV curve: cumulative per-user value by days-since-cohort —
    * the "how fast does a cohort pay back" table that retention (q106)
    * counts and attribution (q112) credits feed into. Day sums round to
    * cents BEFORE the cumulative window, so the k-ordered running sum
    * adds identical addends in identical order on both engines; the
    * window state is one cohort's day list (#days-bounded). */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), col("ts"), col("value"))
    val cohort = e.groupBy(col("user_id"))
      .agg(min(col("ts")).cast("date").as("cd"))
      // checkpointed: two consumers (`sized` and the `daily` join) would
      // otherwise each re-run the per-user min-ts aggregation — one
      // events scan each where one suffices (the q120 precedent)
      .localCheckpoint()
    val sized = cohort.groupBy(col("cd")).agg(count(lit(1)).as("n_users"))
    val daily = e.join(cohort, Seq("user_id"))
      .withColumn("k", datediff(col("ts").cast("date"), col("cd")))
      .groupBy(col("cd"), col("k"))
      .agg(round(sum(col("value")), 2).as("day_value"))
    val w = Window.partitionBy(col("cd")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_value", sum(col("day_value")).over(w))
      .join(sized, Seq("cd"))
      .select(col("cd").as("cohort_day"), col("k").cast("long").as("k"),
        col("n_users"), round(col("cum_value"), 2).as("cum_value"),
        round(col("cum_value") / col("n_users"), 6).as("ltv_per_user"))
      .orderBy(col("cohort_day"), col("k"))
  }

  /** Funnel conversion time: for users who purchase after their first
    * view, the first-view → first-qualifying-purchase delay — the
    * "how long does conversion take" companion to q105's how-many and
    * q119's same-type cadence. Exact integer µs; med/p90 via the
    * t36-pinned interpolated-percentile equivalence. User-keyed
    * shuffles only; output is one summary row. The whole-frame exact
    * `percentile()` buffers every distinct gap in one task — deliberate
    * oracle-simple baseline; the 100-TB path is the bounded twin t49
    * (same oracle, distributed selection). */
  private def q127(s: SparkSession, dir: String): DataFrame =
    converterFrame(s, dir)
      .agg(count(lit(1)).as("n_converters"),
        round(expr("percentile(conv_us, 0.5)"), 4).as("med_conv_us"),
        round(expr("percentile(conv_us, 0.9)"), 4).as("p90_conv_us"))

  /** IVF centroid-drift monitor ([[Similarity.ivfDriftReport]]) on the
    * t52 split: index built on the 80% id-slice, the 20% slice profiled
    * as the "append batch" against the frozen centroids — per cell,
    * batch n / mean / exact-p10 assigned cosine vs the build-time
    * baseline, `mean_drift` = base − batch. This is the rebuild trigger
    * of the append lifecycle (What's-missing #2, r12): run it on every
    * ingest batch, rebuild when drift crosses tolerance. Fully oracled —
    * the lloydCtes unroll re-derives the frozen centroids and everything
    * downstream is plain aggregation (quantile_cont ≡ percentile is the
    * t36-pinned equivalence). */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfDriftReport(
      Similarity.buildIvfIndex(e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", nCentroids = 16, kmeansIters = 4),
      e.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
      .orderBy(col("cell"))
  }

  /** Persisted near-dup ledger ([[Dedup.nearDupLedgerAdmit]]) over a
    * two-batch ingest split: batch 1 = the id-lower half, batch 2 = the
    * rest (monotone ids across batches — the ledger's documented
    * contract). Emits the admitted (doc_id, batch). Fully oracled: the
    * ledger's admit decisions are spec-pinned identical to one-shot
    * [[Dedup.nearDupDrops]] on the union, whose ANSI form is the q42
    * all-pairs-jaccard + exact-digest drop rule; the batch label
    * re-derives from the same max(doc_id)/2 cut. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    val path = java.nio.file.Files
      .createTempDirectory("graft_q129_ndl").toString
    try {
      val ledger = s"$path/ledger"
      val a1 = Dedup.nearDupLedgerAdmit(s, ledger,
        d.filter(col("doc_id") <= cut), "doc_id", "text")
        .select(col("doc_id"), lit(1L).as("batch"))
      val a2 = Dedup.nearDupLedgerAdmit(s, ledger,
        d.filter(col("doc_id") > cut), "doc_id", "text")
        .select(col("doc_id"), lit(2L).as("batch"))
      a1.unionByName(a2).orderBy(col("doc_id")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** IVF+PQ quantization-error drift monitor
    * ([[Similarity.ivfPqDriftReport]]) on the t52/q128 split: index +
    * frozen error baseline built on the 80% id-slice, the 20% slice
    * profiled as the append batch — per cell, batch n / mean /
    * exact-p90 PQ error (1 − ⟨v, recon(v)⟩) vs the build-time baseline,
    * `mean_err_drift` = batch − base (error RISES with drift). Fully
    * oracled: lloydCtes re-derives the frozen centroids, pqCtes the
    * frozen codebooks + the expanded-argmin encode, the self-ADC sums
    * in ascending-mi order (list_aggregate over an ORDER BY mi list —
    * matching PqAdc's loop), and quantile_cont ≡ percentile ≡
    * groupedRangeExact by the t36-pinned equivalence. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q130_pqd").toString
    try {
      val idx = s"$path/idx"
      Similarity.saveIvfPqIndex(
        Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
          nCells = 16, m = 16, k = 16), idx)
      Similarity.writeIvfPqErrBaseline(s, idx, base, "vec_id",
        "embedding")
      Similarity.ivfPqDriftReport(s, idx, batch, "vec_id", "embedding")
        .orderBy(col("cell")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** SQ8 compressed-scan ANN ([[Similarity.sq8TopK]]): per-vector int8
    * affine quantization (training-free — no codebooks, nothing
    * drifts), approximate scoring via the affine identity
    * `vmin·Σq + Δ·Σ q·code`, exact cosine rerank of the top 32. Fully
    * oracled — encode/score/rerank are pure per-row arithmetic DuckDB
    * replays term for term (floor(t+0.5) codes, left-to-right sums). */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.sq8TopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 3, rerank = 32)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Tombstone-filtered SQ8 serve ([[Similarity.deleteFromIndex]] →
    * [[Similarity.loadSq8Index]] → serve): the deletion verb's oracled
    * face — build, delete every vec_id ≡ 3 (mod 7), serve. The load's
    * tombstone exclusion must make the serve identical to an index that
    * never contained the deleted rows, which is exactly what the oracle
    * computes (q131's SQL with the deleted ids absent from the code
    * table; queries unfiltered — a deleted doc may still ASK). */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q132_sqdel").toString
    try {
      val idx = s"$path/idx"
      Similarity.saveSq8Index(
        Similarity.buildSq8Index(e, "vec_id", "embedding"), idx)
      Similarity.deleteFromIndex(s, idx,
        e.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
      Similarity.sq8TopKFromIndex(Similarity.loadSq8Index(s, idx), e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 3, rerank = 32)
        .orderBy(col("query_id"), col("rank")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** IVF×SQ8 composed ANN serve ([[Similarity.ivfSq8TopK]]): trained
    * coarse cells bound WHICH rows are scored (nProbe = 4 of 16), the
    * training-free SQ8 affine codes bound the BYTES per row, exact
    * cosine reranks the top 32. Fully oracled: lloydCtes re-derives
    * the trained centroids (sample ≡ corpus at this SF), the argmax
    * assignment and nProbe query cells are window ranks, and the
    * encode/score/rerank replay q131's per-row arithmetic term for
    * term. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfSq8TopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 3, nCentroids = 16, nProbe = 4, rerank = 32)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Near-dup ledger forget ([[Dedup.nearDupLedgerForget]]) between two
    * admits: batch 1 admits, a third of its docs are forgotten
    * (takedown), batch 2 admits. The forget scrubs IDENTITY but keeps
    * signatures, so batch 2's decisions must be bit-identical to the
    * never-forgotten q129 run — which is what the oracle computes (the
    * one-shot union drop rule restricted to the upper half). */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    // the even-id half: the entry pays two ledger builds plus two
    // fenced store rewrites, so it runs on half the corpus (the admit
    // semantics are q129's — already exercised at full size there)
    val d = docs(s, dir).filter(col("doc_id") % 2 === 0)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    val path = java.nio.file.Files
      .createTempDirectory("graft_q134_ndlf").toString
    try {
      val ledger = s"$path/ledger"
      val a1 = Dedup.nearDupLedgerAdmit(s, ledger,
        d.filter(col("doc_id") <= cut), "doc_id", "text")
      Dedup.nearDupLedgerForget(s, ledger,
        a1.filter(col("doc_id") % 3 === 0).select("doc_id"), "doc_id")
      Dedup.nearDupLedgerAdmit(s, ledger,
        d.filter(col("doc_id") > cut), "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Retention/TTL expiry serve ([[Similarity.expireFromIndex]]): the
    * save lands at ingest time 1000 µs (vec_id % 3 ≠ 0), an append at
    * 2000 µs (% 3 = 0), and expiring everything older than 1500 µs
    * tombstones exactly the save-time rows — the tombstone-filtered
    * serve must be indistinguishable from an index that only ever held
    * the appended batch, which is exactly what the oracle computes
    * (q131's SQL over a code table restricted to vec_id % 3 = 0;
    * queries unfiltered — an expired doc may still ask). */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q135_ttl").toString
    try {
      val idx = s"$path/idx"
      Similarity.saveSq8Index(
        Similarity.buildSq8Index(e.filter(col("vec_id") % 3 =!= 0),
          "vec_id", "embedding"), idx, ingestMicros = 1000L)
      Similarity.appendToSq8Index(s, idx,
        e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        ingestMicros = 2000L)
      Similarity.expireFromIndex(s, idx, olderThanMicros = 1500L)
      Similarity.sq8TopKFromIndex(Similarity.loadSq8Index(s, idx), e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 3, rerank = 32)
        .orderBy(col("query_id"), col("rank")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Near-dup ledger drop-reason AUDIT ([[Dedup.nearDupLedgerAdmit]]
    * with `auditOut`): two batch admits on a quarter of the corpus,
    * each persisting one row per dropped doc with the sorted set of
    * rules that fired (exact_store / exact_batch / near_store /
    * near_batch) — the explainability surface a takedown review reads.
    * The oracle re-derives every reason independently in DuckDB: reps
    * are per-(digest, batch) min-ids, exact reasons come from digest
    * joins across/within batches, near reasons from the all-pairs
    * exact-Jaccard rule (q129's parity precedent) split by the
    * partner's batch. */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    // batch 1 = a quarter of the corpus; batch 2 = four DERIVED copies
    // of it (the corpus has no exact dups, so the fixtures that
    // exercise every reason are derived from the table itself — the
    // same derivation the SQL oracle replays): ids offset so the
    // monotone-id contract holds and the four copies order A < B < C
    // < D within the batch. A (verbatim) draws exact_store (+
    // near_store — an identical text is also a J=1 near hit); B
    // (verbatim again) collapses onto A in-batch → exact_batch; C
    // (one appended token) near-matches batch-1 content AND its
    // same-batch twin A → {near_batch, near_store} for ≥7-token docs;
    // D (same tweak) collapses onto C → exact_batch. Batch 1's own
    // natural near pairs add in-batch drops of their own.
    // an EIGHTH of the corpus: the entry pays two ledger admits plus
    // the five audit joins, and the derived batch-2 fixtures supply
    // all four reasons regardless of slice size
    val base = docs(s, dir).filter(col("doc_id") % 8 === 1)
      .select(col("doc_id"), col("text"))
    def shift(k: Int, tweak: Boolean) = base.select(
      (col("doc_id") + lit(1000000L) * k).as("doc_id"),
      (if (tweak) concat(col("text"), lit(" zzyzx"))
       else col("text")).as("text"))
    val b2 = shift(1, tweak = false).unionByName(shift(2, tweak = false))
      .unionByName(shift(3, tweak = true))
      .unionByName(shift(4, tweak = true))
    val path = java.nio.file.Files
      .createTempDirectory("graft_q136_audit").toString
    try {
      val ledger = s"$path/ledger"
      Dedup.nearDupLedgerAdmit(s, ledger, base, "doc_id", "text",
        auditOut = Some(s"$path/audit1"))
      Dedup.nearDupLedgerAdmit(s, ledger, b2, "doc_id", "text",
        auditOut = Some(s"$path/audit2"))
      graft.util.Gen.read(s, s"$path/audit1")
        .unionByName(graft.util.Gen.read(s, s"$path/audit2"))
        .select(col("doc").as("doc_id"), col("reason"), col("partner"))
        .orderBy(col("doc_id"), col("reason")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Pinned-generation serving ([[graft.util.Gen.resolveAt]]) — the
    * versioned store's time-travel read, oracled. Build + save a full
    * SQ8 index (generation 1), record the pin, then REPLACE the index
    * with a save-over that excludes vec_id ≡ 3 (mod 7) (generation 2 —
    * a refresh that retired rows). A deploy that recorded the pin
    * keeps serving exactly the deploy-time index through the refresh
    * (the q131 replay), while fresh loads serve the refreshed one (the
    * q132 replay) — one entry, both faces, both hash-oracled. Only ONE
    * rewrite happens after the pin, so the pinned generation is inside
    * its documented one-cycle reader grace. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q137_pin").toString
    try {
      val idx = s"$path/idx"
      Similarity.saveSq8Index(
        Similarity.buildSq8Index(e, "vec_id", "embedding"), idx)
      val pin = graft.util.Gen.currentGeneration(s, idx).get
      Similarity.saveSq8Index(
        Similarity.buildSq8Index(e.filter(col("vec_id") % 7 =!= 3),
          "vec_id", "embedding"), idx)
      val qs = e.filter(col("vec_id") < 10)
      def serve(index: DataFrame, view: String) =
        Similarity.sq8TopKFromIndex(index, e, qs, "vec_id",
            "embedding", k = 3, rerank = 32)
          .withColumn("view", lit(view))
      serve(Similarity.loadSq8Index(s,
          graft.util.Gen.resolveAt(s, idx, pin)), "pinned")
        .unionByName(
          serve(Similarity.loadSq8Index(s, idx), "current"))
        .orderBy(col("view"), col("query_id"), col("rank"))
        .localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Media-format triage ([[Multimodal.mediaTriage]]): the codec-free
    * magic-byte sniff + claimed-vs-sniffed mismatch page — the first
    * pass over any fresh media drop. The fixture fabricates payloads
    * from the documents table (a real container magic prepended to the
    * utf-8 text), labels each row by `doc_id % 5`, and MISLABELS every
    * seventh row (its payload carries the NEXT kind's magic) — the
    * triage must flag exactly those. Fully oracled: DuckDB rebuilds
    * the same payload hex (magic ∥ hex(encode(text))) and replays the
    * CASE dispatch clause for clause. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val kinds = Seq("jpeg", "png", "gif", "wav", "pdf")
    val magics = Map[String, Array[Byte]](
      "jpeg" -> Array(0xFF, 0xD8, 0xFF).map(_.toByte),
      "png" -> Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte),
      "gif" -> "GIF89a".getBytes("UTF-8"),
      "wav" -> (Array(0x52, 0x49, 0x46, 0x46, 0, 0, 0, 0,
        0x57, 0x41, 0x56, 0x45).map(_.toByte)),
      "pdf" -> "%PDF".getBytes("UTF-8"))
    val kindArr = array(kinds.map(lit): _*)
    val magicArr = array(kinds.map(k => lit(magics(k))): _*)
    val claimedIdx = (col("doc_id") % 5).cast("int")
    val actualIdx = when(col("doc_id") % 7 === 0,
      ((col("doc_id") + 1) % 5).cast("int")).otherwise(claimedIdx)
    val media = d.select(col("doc_id"),
      get(kindArr, claimedIdx).as("kind"),
      concat(get(magicArr, actualIdx),
        col("text").cast("binary")).as("payload"))
    Multimodal.mediaTriage(media, "doc_id", "kind", "payload")
      .orderBy(col("doc_id"))
  }

  /** Fixed-offset media-header extraction ([[Multimodal.mediaHeaders]]):
    * REAL metadata parsing with zero codecs — PNG IHDR (big-endian),
    * GIF logical screen (little-endian u16), canonical WAV fmt
    * (channels + sample rate, little-endian). The fixture CONSTRUCTS
    * byte-true headers (id-derived dimensions packed in each format's
    * own endianness plus the utf-8 text as body), the operator parses
    * them back, and the oracle recomputes the expected fields from the
    * same id arithmetic — a construct→parse round-trip hashed against
    * pure arithmetic, so an endianness or offset slip fails loudly. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Long) =
      Array.tabulate(4)(i => ((v >> (8 * i)) & 0xFF).toByte)
    def be32(v: Long) =
      Array.tabulate(4)(i => ((v >> (8 * (3 - i))) & 0xFF).toByte)
    val media = docs(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        val body = text.getBytes("UTF-8")
        val w = 16 + (id % 1000)
        val h = 16 + ((id * 7) % 1000)
        val payload = (id % 3) match {
          case 0L =>
            Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
              .map(_.toByte) ++ be32(13L) ++ "IHDR".getBytes("UTF-8") ++
              be32(w) ++ be32(h) ++ body
          case 1L =>
            "GIF89a".getBytes("UTF-8") ++ le16(w.toInt) ++
              le16(h.toInt) ++ body
          case _ =>
            val rate = 8000L + (id % 5) * 8000L
            val ch = 1 + (id % 2)
            "RIFF".getBytes("UTF-8") ++ le32(36L + body.length) ++
              "WAVE".getBytes("UTF-8") ++ "fmt ".getBytes("UTF-8") ++
              le32(16L) ++ le16(1) ++ le16(ch.toInt) ++ le32(rate) ++ body
        }
        (id, payload)
      }.toDF("doc_id", "payload")
    Multimodal.mediaHeaders(media, "doc_id", "payload")
      .orderBy(col("doc_id"))
  }

  /** JPEG dimension walk ([[Multimodal.jpegDimensions]]): unlike q139's
    * fixed-offset headers, JPEG dims hide in the first SOF segment
    * behind a VARIABLE prefix of metadata segments — the fixture
    * builds byte-true JPEGs (SOI + JFIF APP0 + an id-length EXIF-ish
    * APP1 on every third doc, so the walk must actually walk) with
    * id-derived dimensions, plus planted failures (every 7th doc is
    * not a JPEG; every 5th truncates before the SOF) that must read as
    * NULL, never garbage. Oracled against pure id arithmetic. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def be16(v: Int) =
      Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val media = docs(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        val body = text.getBytes("UTF-8")
        val w = 16 + (id % 2000).toInt
        val h = 16 + ((id * 3) % 2000).toInt
        val payload: Array[Byte] =
          if (id % 7 == 0) body // mislabeled: not a JPEG at all
          else {
            val soi = Array(0xFF, 0xD8).map(_.toByte)
            val app0 = Array(0xFF, 0xE0, 0x00, 0x10).map(_.toByte) ++
              "JFIF".getBytes("UTF-8") ++
              Array[Int](0, 1, 1, 0, 0, 1, 0, 1, 0, 0).map(_.toByte)
            val app1 =
              if (id % 3 == 0) {
                val pad = 10 + (id % 50).toInt
                Array(0xFF, 0xE1).map(_.toByte) ++ be16(2 + pad) ++
                  Array.fill(pad)(0x45.toByte)
              } else Array.emptyByteArray
            val sof =
              Array(0xFF, 0xC0, 0x00, 0x11, 0x08).map(_.toByte) ++
                be16(h) ++ be16(w) ++
                Array[Int](0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01,
                  0x03, 0x11, 0x01).map(_.toByte)
            val full = soi ++ app0 ++ app1 ++ sof ++ body
            if (id % 5 == 0) full.take(soi.length + app0.length + 2)
            else full
          }
        (id, payload)
      }.toDF("doc_id", "payload")
    Multimodal.jpegDimensions(media, "doc_id", "payload")
      .orderBy(col("doc_id"))
  }

  /** MP4/ISO-BMFF box walk ([[Multimodal.mp4Headers]]): the container
    * family's variable-LAYOUT parser — brand, mvhd timescale/duration
    * (v0 AND v1 64-bit headers, both planted), and the first video
    * track's 16.16-fixed tkhd dims, behind an optional `free` box the
    * walk must skip. Planted failures: every 7th doc is not an MP4 at
    * all, every 5th truncates 12 bytes into its moov — both must read
    * NULL, never garbage; every 9th is an audio-only movie (times
    * parse, dims NULL). Oracled against pure id arithmetic, the
    * q139/q140 construct→parse round-trip discipline. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def be32(v: Long) =
      Array.tabulate(4)(i => ((v >> (8 * (3 - i))) & 0xFF).toByte)
    def be64(v: Long) =
      Array.tabulate(8)(i => ((v >> (8 * (7 - i))) & 0xFF).toByte)
    def bx(t: String, p: Array[Byte]) =
      be32(8L + p.length) ++ t.getBytes("ISO-8859-1") ++ p
    val media = docs(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        val body = text.getBytes("UTF-8")
        val ts = 600L + (id % 9) * 400L
        val dur = 10000L + (id * 37) % 90000L
        val w = 16L + id % 1280L
        val h = 16L + (id * 3) % 720L
        val payload: Array[Byte] =
          if (id % 7 == 0) body // mislabeled: not an MP4 at all
          else {
            val ftyp = bx("ftyp", "isom".getBytes("ISO-8859-1") ++
              be32(512L) ++ "mp41".getBytes("ISO-8859-1"))
            val free =
              if (id % 3 == 0)
                bx("free", Array.fill(8 + (id % 32).toInt)(0x46.toByte))
              else Array.emptyByteArray
            val mvhd =
              if (id % 11 == 0) // version 1: 64-bit times
                bx("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0L) ++
                  be64(0L) ++ be32(ts) ++ be64(dur) ++
                  Array.fill(80)(0.toByte))
              else
                bx("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0L) ++
                  be32(0L) ++ be32(ts) ++ be32(dur) ++
                  Array.fill(80)(0.toByte))
            val (tw, th) =
              if (id % 9 == 0) (0L, 0L) else (w << 16, h << 16)
            val tkhd =
              if (id % 4 == 0) // version 1
                bx("tkhd", Array[Byte](1, 0, 0, 0) ++
                  Array.fill(84)(0.toByte) ++ be32(tw) ++ be32(th))
              else
                bx("tkhd", Array[Byte](0, 0, 0, 0) ++
                  Array.fill(72)(0.toByte) ++ be32(tw) ++ be32(th))
            val moov = bx("moov", mvhd ++ bx("trak", tkhd))
            val full = ftyp ++ free ++ moov ++ body
            if (id % 5 == 0)
              full.take(ftyp.length + free.length + 12)
            else full
          }
        (id, payload)
      }.toDF("doc_id", "payload")
    // needed_bound projected away: every planted refusal here is a
    // truncation/desync no bound can fix (q147 oracles the deep-moov
    // diagnostic where it is meaningful)
    Multimodal.mp4Headers(media, "doc_id", "payload")
      .select(col("doc_id"), col("major_brand"), col("timescale"),
        col("duration"), col("duration_ms"), col("width"),
        col("height"))
      .orderBy(col("doc_id"))
  }

  /** Streamed near-dup ledger admit
    * ([[Dedup.nearDupLedgerAdmitStreamBatch]]) on q129's two-batch
    * split — AND the epoch-retry pin inside the oracled path: batch 1
    * admits as epoch 0, batch 2 as epoch 1, then epoch 0 is
    * RE-DELIVERED (the at-least-once retry) against the fully-moved
    * ledger and the emitted rows use that replay's output. A protocol
    * that re-decided instead of re-emitting the sealed decisions
    * would hash-mismatch (the replayed batch is 100% seen by then).
    * Oracle = q129's (decisions ≡ the batch replay ≡ one-shot
    * nearDupDrops under the monotone-id contract). */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    val path = java.nio.file.Files
      .createTempDirectory("graft_q142_ndls").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.nearDupLedgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= cut), "doc_id", "text", 0L)
      val a2 = Dedup.nearDupLedgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > cut), "doc_id", "text", 1L)
        .select(col("doc_id"), lit(2L).as("batch"))
      val r0 = Dedup.nearDupLedgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= cut), "doc_id", "text", 0L)
        .select(col("doc_id"), lit(1L).as("batch"))
      r0.unionByName(a2).orderBy(col("doc_id")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Streamed EXACT-dedup ledger admit ([[Dedup.ledgerAdmitStreamBatch]])
    * — the exact ledger's first fully-oracled multi-batch entry, same
    * shape as q142: two epochs split at max(doc_id)/2, epoch 0
    * re-delivered after the ledger moved, emitted rows from the
    * replay. Under monotone ids the admitted set is exactly the
    * global min-id representative per content digest, which is what
    * the oracle computes. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    val path = java.nio.file.Files
      .createTempDirectory("graft_q143_ls").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= cut), "doc_id", "text", 0L)
      val a2 = Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > cut), "doc_id", "text", 1L)
        .select(col("doc_id"), lit(2L).as("batch"))
      val r0 = Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= cut), "doc_id", "text", 0L)
        .select(col("doc_id"), lit(1L).as("batch"))
      r0.unionByName(a2).orderBy(col("doc_id")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Streamed-admit EPOCH LIFECYCLE oracled end to end
    * ([[Dedup.sweepAdmitEpochs]] + [[Dedup.readAdmittedEpochs]]):
    * three epochs split at the id terciles, retention sweeps the
    * oldest (keepLast = 2), and the read-back emits the surviving
    * epochs' admitted rows with their epoch labels. The oracle
    * recomputes both the admit semantics (global min-id per content
    * digest under monotone ids) and the retention cut (only rows past
    * the first tercile survive, labeled by which remaining epoch
    * admitted them) — a sweep that dropped the wrong epoch, or a
    * read-back that resurrected a swept one, hash-mismatches. */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val mx = d.agg(max(col("doc_id"))).head().getLong(0)
    val (c1, c2) = (mx / 3, 2 * mx / 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q145_epochs").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= c1), "doc_id", "text", 0L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "doc_id", "text", 1L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > c2), "doc_id", "text", 2L)
      Dedup.sweepAdmitEpochs(s, epochs, keepLast = 2)
      Dedup.readAdmittedEpochs(s, epochs)
        .select(col("doc_id"), col("epoch"))
        .orderBy(col("doc_id")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Watermark-GATED epoch retention oracled end to end (q145's
    * lifecycle plus [[Dedup.ackAdmitEpochs]], the consumer-ack
    * handshake that closes the streamed lifecycle's one data-loss
    * seam): three tercile epochs; a consumer lagging at epoch 0 acks
    * it and retention runs `keepLast = 1` — which would BLINDLY
    * reclaim epochs 0 AND 1, but the watermark protects the unread
    * epoch 1 (stage `lagging`: epochs 1 and 2 both survive the sweep);
    * the consumer then acks epoch 1 and the SAME sweep reclaims it
    * (stage `acked`: epoch 2 alone). A sweep that ignored the
    * watermark loses stage-`lagging` rows; an ack that failed to
    * release keeps stage-`acked` rows — either hash-mismatches. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val mx = d.agg(max(col("doc_id"))).head().getLong(0)
    val (c1, c2) = (mx / 3, 2 * mx / 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q146_ack").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= c1), "doc_id", "text", 0L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "doc_id", "text", 1L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > c2), "doc_id", "text", 2L)
      Dedup.ackAdmitEpochs(s, epochs, 0L)
      Dedup.sweepAdmitEpochs(s, epochs, keepLast = 1)
      // materialize before the second sweep deletes epoch 1's files
      val lagging = Dedup.readAdmittedEpochs(s, epochs)
        .select(lit("lagging").as("stage"), col("doc_id"), col("epoch"))
        .localCheckpoint()
      Dedup.ackAdmitEpochs(s, epochs, 1L)
      Dedup.sweepAdmitEpochs(s, epochs, keepLast = 1)
      val acked = Dedup.readAdmittedEpochs(s, epochs)
        .select(lit("acked").as("stage"), col("doc_id"), col("epoch"))
      lagging.unionByName(acked)
        .orderBy(col("stage"), col("doc_id")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** DEEP-MOOV MP4s — the non-faststart layout a real media census
    * must cover ([[Multimodal.mp4Headers]] at a raised `bound`): the
    * fixture is q141's byte-true construction with the movie data
    * FIRST (one >64 KB `mdat` box, then `moov`) — a genuine
    * moov-at-end file. Parsed twice: at the DEFAULT 64 KB bound every
    * such payload reads NULL by contract (the walk refuses a moov it
    * cannot complete — mode `head`) but carries `needed_bound`, the
    * moov's end offset read from the already-parsed top-level box
    * lengths — exactly ftyp(20) + mdat(8 + 65536 + id%97) + moov(the
    * planted mvhd/tkhd version geometry), so the oracle asserts the
    * diagnostic's ARITHMETIC, not just non-nullness; at `bound` =
    * full payload the same walk skips the mdat and parses the deep
    * moov (mode `full`, needed_bound NULL — nothing refused).
    * Every 7th doc is not an MP4 at all (NULL in both modes,
    * needed_bound NULL — no bound fixes a non-MP4); every
    * 9th is audio-only (times parse, dims NULL). Oracled against pure
    * id arithmetic in both modes. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def be32(v: Long) =
      Array.tabulate(4)(i => ((v >> (8 * (3 - i))) & 0xFF).toByte)
    def be64(v: Long) =
      Array.tabulate(8)(i => ((v >> (8 * (7 - i))) & 0xFF).toByte)
    def bx(t: String, p: Array[Byte]) =
      be32(8L + p.length) ++ t.getBytes("ISO-8859-1") ++ p
    val media = docs(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        val ts = 600L + (id % 9) * 400L
        val dur = 10000L + (id * 37) % 90000L
        val w = 16L + id % 1280L
        val h = 16L + (id * 3) % 720L
        val payload: Array[Byte] =
          if (id % 7 == 0) text.getBytes("UTF-8") // not an MP4
          else {
            val ftyp = bx("ftyp", "isom".getBytes("ISO-8859-1") ++
              be32(512L) ++ "mp41".getBytes("ISO-8859-1"))
            // the movie data leads — moov starts past the 64 KB head
            val mdat =
              bx("mdat", Array.fill(65536 + (id % 97).toInt)(0x6D.toByte))
            val mvhd =
              if (id % 11 == 0) // version 1: 64-bit times
                bx("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0L) ++
                  be64(0L) ++ be32(ts) ++ be64(dur) ++
                  Array.fill(80)(0.toByte))
              else
                bx("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0L) ++
                  be32(0L) ++ be32(ts) ++ be32(dur) ++
                  Array.fill(80)(0.toByte))
            val (tw, th) =
              if (id % 9 == 0) (0L, 0L) else (w << 16, h << 16)
            val tkhd =
              if (id % 4 == 0) // version 1
                bx("tkhd", Array[Byte](1, 0, 0, 0) ++
                  Array.fill(84)(0.toByte) ++ be32(tw) ++ be32(th))
              else
                bx("tkhd", Array[Byte](0, 0, 0, 0) ++
                  Array.fill(72)(0.toByte) ++ be32(tw) ++ be32(th))
            ftyp ++ mdat ++ bx("moov", mvhd ++ bx("trak", tkhd))
          }
        (id, payload)
      }.toDF("doc_id", "payload")
    val cols = Seq("doc_id", "major_brand", "timescale", "duration",
      "duration_ms", "width", "height", "needed_bound").map(col)
    Multimodal.mp4Headers(media, "doc_id", "payload", bound = 1 << 20)
      .select(lit("full").as("mode") +: cols: _*)
      .unionByName(Multimodal.mp4Headers(media, "doc_id", "payload")
        .select(lit("head").as("mode") +: cols: _*))
      .orderBy(col("mode"), col("doc_id"))
  }

  /** Streamed near-dup AUDIT read-back oracled end to end
    * ([[Dedup.readAuditEpochs]], spec-only until now): q142's
    * two-epoch split run with `audit = true`, then the flat
    * epoch-labeled drop-reason read-back — one row per (dropped doc,
    * rule that fired) with the minimum matching partner, labeled by
    * the epoch that dropped it. The oracle recomputes the full audit
    * semantics (q136's rule replay — exact in-batch/vs-store, near
    * in-batch/vs-store over banded candidates) with the batch label
    * derived from the id cut. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    val path = java.nio.file.Files
      .createTempDirectory("graft_q148_aud").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.nearDupLedgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= cut), "doc_id", "text", 0L,
        audit = true)
      Dedup.nearDupLedgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > cut), "doc_id", "text", 1L,
        audit = true)
      Dedup.readAuditEpochs(s, epochs)
        .select(col("doc").as("doc_id"), col("reason"), col("partner"),
          col("epoch"))
        .orderBy(col("doc_id"), col("reason")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Streamed EXACT-dedup AUDIT read-back oracled end to end — the
    * exact ledger's explainability twin of q148: q143's two-epoch
    * split run with `audit = true`, then the flat epoch-labeled
    * drop-reason read-back. `exact_batch` rows name the in-batch
    * min-id representative; `exact_store` rows carry a NULL partner BY
    * DESIGN — the digest store is id-free (its takedown story), so
    * "an earlier ingest admitted this content" is the whole knowable
    * fact, and the oracle asserts exactly that NULL. The documents
    * corpus holds no exact duplicates, so epoch 1 is the q136-style
    * planted re-ingest: every epoch-0 text arrives TWICE under new
    * ids (+1M, +2M) — the +1M copy is its digest's in-batch rep and
    * drops `exact_store` (the store has the epoch-0 digest), the +2M
    * copy drops `exact_batch` naming the +1M rep. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_q150_exaud").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d, "doc_id", "text", 0L, audit = true)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
          .unionByName(d.select((col("doc_id") + 2000000L)
            .as("doc_id"), col("text"))),
        "doc_id", "text", 1L, audit = true)
      Dedup.readAuditEpochs(s, epochs)
        .select(col("doc").as("doc_id"), col("reason"), col("partner"),
          col("epoch"))
        .orderBy(col("doc_id"), col("reason")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Epoch-root HEALTH report oracled end to end
    * ([[Dedup.admitEpochHealthReport]] through the
    * [[StoreHealth.storeHealthReport]] dispatcher): three tercile
    * epochs, epoch 2's seal removed (a crashed delivery awaiting its
    * retry), consumer acked at epoch 0, horizon 1 — the report must
    * count 2 sealed / 1 unsealed / 0 audited, name the sealed span
    * [0, 1], read the watermark 0 and lag 1, PAGE on the horizon, and
    * count the sealed epochs' admitted rows (data-dependent: the
    * min-id digest reps of the first two terciles). The dispatcher
    * detects the root by layout and prepends `store_kind`. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val mx = d.agg(max(col("doc_id"))).head().getLong(0)
    val (c1, c2) = (mx / 3, 2 * mx / 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q149_health").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= c1), "doc_id", "text", 0L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "doc_id", "text", 1L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > c2), "doc_id", "text", 2L)
      val fs = new org.apache.hadoop.fs.Path(epochs).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(
        f"$epochs/epoch-${2L}%012d/_appended"), false)
      Dedup.ackAdmitEpochs(s, epochs, 0L)
      // horizon is a parameter of the report, not the dispatcher —
      // run the direct verb at horizon = 1 and prepend the
      // dispatcher's DETECTED kind (the layout-detection pin; the
      // case routing itself is spec-pinned in ExtensionsSpec)
      Dedup.admitEpochHealthReport(s, epochs, horizon = 1)
        .select(lit(graft.operators.StoreHealth
            .detectStoreKind(s, epochs)).as("store_kind"),
          col("epochs_sealed"), col("epochs_unsealed"),
          col("epochs_audited"), col("oldest_sealed"),
          col("newest_sealed"), col("consumed_watermark"),
          col("consumer_lag"), col("lag_exceeds_horizon"),
          col("admitted_rows"))
        .localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Consumer-group RETIREMENT oracled end to end
    * ([[Dedup.retireConsumer]], the surgical verb that closes the
    * force-forever seam): three tercile epochs; group `fast` has read
    * through epoch 1, group `slow` (a decommissioned downstream) is
    * stuck at 0. A keepLast=1 sweep reclaims only epoch 0 — the dead
    * group's watermark gates everything above it (stage `gated`:
    * epochs 1 and 2 survive). The operator retires `slow`; the SAME
    * sweep now recomputes over the survivors and reclaims epoch 1,
    * fast's unread epoch 2 still protected (stage `retired`). A
    * retire that dropped the wrong group's markers, or a gate that
    * failed to recompute, hash-mismatches one of the stages. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val mx = d.agg(max(col("doc_id"))).head().getLong(0)
    val (c1, c2) = (mx / 3, 2 * mx / 3)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q151_retire").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") <= c1), "doc_id", "text", 0L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        "doc_id", "text", 1L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        d.filter(col("doc_id") > c2), "doc_id", "text", 2L)
      Dedup.ackAdmitEpochs(s, epochs, "fast", 1L)
      Dedup.ackAdmitEpochs(s, epochs, "slow", 0L)
      Dedup.sweepAdmitEpochs(s, epochs, keepLast = 1)
      // materialize before the post-retire sweep deletes epoch 1
      val gated = Dedup.readAdmittedEpochs(s, epochs)
        .select(lit("gated").as("stage"), col("doc_id"), col("epoch"))
        .localCheckpoint()
      Dedup.retireConsumer(s, epochs, "slow")
      Dedup.sweepAdmitEpochs(s, epochs, keepLast = 1)
      val retired = Dedup.readAdmittedEpochs(s, epochs)
        .select(lit("retired").as("stage"), col("doc_id"), col("epoch"))
      gated.unionByName(retired)
        .orderBy(col("stage"), col("doc_id")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** Compression CENSUS oracled end to end
    * ([[Multimodal.compressedSizeHint]]): byte-true gzip members
    * (RFC 1952 — ISIZE is the little-endian u32 TAIL) and zstd frame
    * headers (RFC 8878 — Frame_Content_Size at a flag-dependent
    * offset), planted to cover EVERY header geometry: gzip with a
    * planted truncation (every 11th — NULL by the 18-byte member
    * minimum), zstd across all four FCS field sizes × dictionary-id
    * sizes × single-segment on/off — including the two contractual
    * NULLs (fcs flag 0 without single-segment = unknown length; an
    * 8-byte size past Long range = garbage) — and raw text (codec
    * unknown, size NULL). The oracle recomputes codec and size from
    * pure id arithmetic; an offset slip anywhere in the CASE tree
    * breaks the hash. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def le(v: Long, n: Int) =
      Array.tabulate(n)(i => ((v >> (8 * i)) & 0xFF).toByte)
    val media = docs(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        val payload: Array[Byte] =
          if (id % 7 == 3) // not compressed at all
            ("raw payload " + text).getBytes("UTF-8")
          else if (id % 5 == 0) {
            // gzip: header + deflate-shaped garbage + CRC32 + ISIZE
            val gz = Array[Byte](0x1F.toByte, 0x8B.toByte, 8, 0) ++
              le(0L, 4) ++ Array[Byte](0, 3) ++
              Array.fill(6 + (id % 11).toInt)(0x55.toByte) ++
              le((id * 53L) % 4294967296L, 4) ++ le(id * 131L, 4)
            if (id % 11 == 0) gz.take(10) else gz // truncated member
          } else {
            // zstd: magic + FHD + [window] + [dict id] + FCS
            val fcsFlag = (id % 4).toInt
            val didFlag = ((id / 4) % 4).toInt
            val ss = id % 3 == 0
            val didLen = if (didFlag == 3) 4 else didFlag
            val fhd = (fcsFlag << 6) | (if (ss) 32 else 0) | didFlag
            val fcs: Array[Byte] = fcsFlag match {
              case 0 => if (ss) le(id % 256, 1) else Array.emptyByteArray
              case 1 => le((id * 37L) % 65536L, 2)
              case 2 => le(id * 97L, 4)
              case _ =>
                val hi = if (id % 9 == 0) 2147483653L else id % 100000L
                le(id * 53L, 4) ++ le(hi, 4)
            }
            Array(0x28, 0xB5, 0x2F, 0xFD).map(_.toByte) ++
              Array(fhd.toByte) ++
              (if (ss) Array.emptyByteArray else Array(0x58.toByte)) ++
              le(id % 1000L, didLen) ++ fcs ++
              Array.fill(4 + (id % 13).toInt)(0x66.toByte)
          }
        (id, payload)
      }.toDF("doc_id", "payload")
    Multimodal.compressionCensus(media, "doc_id", "payload")
      .orderBy(col("doc_id"))
  }

  /** Encoding CENSUS oracled end to end
    * ([[Multimodal.encodingCensus]]): byte-true payloads planted to
    * cover the whole verdict surface — all five BOMs (incl. the
    * `FF FE 00 00` UTF-32LE-over-UTF-16LE tiebreak), plain ASCII,
    * valid multibyte UTF-8 at widths 2/3/4, every strict-UTF-8
    * rejection class (bare continuation, overlong `C0 AF`, surrogate
    * half `ED A0 80`, past-U+10FFFF `F5`, truncated tail), UTF-16
    * surrogate pairing (astral pair valid, lone high invalid, odd
    * tail invalid), UTF-32 range/alignment (past-max and surrogate
    * units invalid, ragged tail invalid), and the NUL-count page for
    * BOM-less UTF-16 masquerading as ASCII. The oracle recomputes
    * encoding, validity, FIRST-INVALID byte offset, code-point count,
    * and NUL count from pure id arithmetic — an off-by-one anywhere
    * in any scanner breaks the hash. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val k = (id % 7).toInt
        val m = 1 + (id % 3).toInt
        val a = Array.fill(k)('a'.toByte)
        def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
        def rep(seq: Array[Byte], t: Int): Array[Byte] =
          Array.fill(t)(seq).flatten
        val payload: Array[Byte] = (id % 5) match {
          case f @ (0 | 1) =>
            val bom = if (f == 1) bs(0xEF, 0xBB, 0xBF)
              else Array.emptyByteArray
            val body = (id % 9) match {
              case 0 => Array.emptyByteArray
              case 1 => rep(bs(0xC3, 0xA9), m) // é ×m
              case 2 => rep(bs(0xE2, 0x82, 0xAC), m) // € ×m
              case 3 => rep(bs(0xF0, 0x9F, 0x98, 0x80), m) // 😀 ×m
              case 4 => bs(0x80) // bare continuation
              case 5 => bs(0xC0, 0xAF) // overlong /
              case 6 => bs(0xED, 0xA0, 0x80) // surrogate half
              case 7 => bs(0xF5, 0x80, 0x80) // past U+10FFFF
              case _ => bs(0xE2, 0x82) // truncated 3-byte seq
            }
            bom ++ a ++ body
          case 2 =>
            val le = id % 2 == 0
            def u16(v: Int): Array[Byte] =
              if (le) bs(v & 0xFF, v >>> 8) else bs(v >>> 8, v & 0xFF)
            val bom = if (le) bs(0xFF, 0xFE) else bs(0xFE, 0xFF)
            val chars = rep(u16('a'), k)
            val tail = (id % 4) match {
              case 0 => Array.emptyByteArray
              case 1 => u16(0xD83D) ++ u16(0xDE00) // 😀 as a pair
              case 2 => u16(0xD800) ++ u16('b') // lone high surrogate
              case _ => bs(0x61) // odd trailing byte
            }
            bom ++ chars ++ tail
          case 3 =>
            val le = id % 2 == 0
            def u32(v: Long): Array[Byte] =
              if (le) bs((v & 0xFF).toInt, ((v >> 8) & 0xFF).toInt,
                ((v >> 16) & 0xFF).toInt, ((v >> 24) & 0xFF).toInt)
              else bs(((v >> 24) & 0xFF).toInt, ((v >> 16) & 0xFF).toInt,
                ((v >> 8) & 0xFF).toInt, (v & 0xFF).toInt)
            val bom = if (le) bs(0xFF, 0xFE, 0x00, 0x00)
              else bs(0x00, 0x00, 0xFE, 0xFF)
            val chars = rep(u32('a'.toLong), k)
            val tail = (id % 4) match {
              case 0 => u32(0x1F600L) // astral, valid
              case 1 => u32(0x110000L) // past U+10FFFF
              case 2 => u32(0xD800L) // surrogate value
              case _ => bs(0x61, 0x61) // ragged 2-byte tail
            }
            bom ++ chars ++ tail
          case _ => // BOM-less NUL page: ascii text with planted NULs
            a ++ Array.fill(m)(0x00.toByte) ++ Array('b'.toByte)
        }
        (id, payload)
      }.toDF("doc_id", "payload")
    Multimodal.encodingCensus(media, "doc_id", "payload")
      .orderBy(col("doc_id"))
  }

  /** URL census + canonicalization oracled end to end
    * ([[TextFunctions.urlCensus]] / `urlNormalize` — THE dedup key of
    * a web-crawl manifest): planted URLs covering case-mixed scheme
    * and host (lowercased), userinfo (dropped from the canonical
    * form), default vs non-default ports (http:80/https:443 dropped,
    * 8080 and MISMATCHED defaults — https:80 — kept), 0-3 path
    * segments with and without trailing slash (empty path → `/`),
    * unsorted querystrings with duplicate keys and empty params
    * (`a=3&&a=1` — sorted, empties dropped), fragments (dropped),
    * plus the two unparseable classes a crawl always has (no scheme:
    * relative path; no structure: garbage) which read NULL canonical
    * with `parseable` false rather than inventing a key. Every column
    * recomputed in DuckDB from the construction arithmetic. */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urls = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val url: String =
          if (id % 13 == 0) s"not a url $id %%"
          else if (id % 13 == 1) s"/relative/path/$id?x=1"
          else {
            val scheme = if (id % 3 == 1) "https" else "HTTP"
            val user = if (id % 11 == 0) "u:pw@" else ""
            val host = s"WWW.Site${id % 20}.ExAmple.COM"
            val port = (id % 4) match {
              case 0 => ":80"
              case 1 => ":443"
              case 2 => ":8080"
              case _ => ""
            }
            val nSeg = ((id / 4) % 4).toInt
            val path =
              if (nSeg == 0) ""
              else (0 until nSeg).map(i => s"seg$i")
                .mkString("/", "/", "") +
                (if (id % 5 == 0) "/" else "")
            val query = ((id / 3) % 3) match {
              case 0 => ""
              case 1 => s"?b=${id % 7}&a=1"
              case _ => s"?z=9&m=${id % 5}&a=3&&a=1"
            }
            val frag = if (id % 2 == 0) "#sec" else ""
            s"$scheme://$user$host$port$path$query$frag"
          }
        (id, url)
      }.toDF("doc_id", "url")
    TextFunctions.urlCensus(urls, "doc_id", "url")
      .orderBy(col("doc_id"))
  }

  /** WARC record walk oracled end to end
    * ([[Multimodal.warcHeaders]], the ISO 28500 web-crawl container):
    * byte-true multi-record payloads (1-3 records each) with four
    * planted families — a payload whose LAST block the byte stream
    * truncates (emitted with `block_truncated`, the partial-fetch
    * page), a garbage tail after the final trailer (clean stop, no
    * invented records), extra headers (WARC-Date + Content-Type —
    * unknown-to-the-census headers must skip cleanly and the typed
    * ones must land), and a mid-stream desync at record 1 (a header
    * line without a colon — records before it kept, nothing after it
    * guessed). The oracle rebuilds record counts, every header
    * field, and the cumulative BLOCK OFFSETS (strlen over the same
    * constructed header text + a window sum over prior records) —
    * one byte of drift anywhere in the walk breaks the hash. */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val nRec = 1 + (id % 3).toInt
        val bos = new java.io.ByteArrayOutputStream()
        def put(t: String): Unit = bos.write(t.getBytes("ISO-8859-1"))
        (0 until nRec).foreach { r =>
          if (id % 13 == 3 && r >= 1) {
            // mid-stream desync: a header line without a colon
            if (r == 1) put("WARC/1.0\r\nBadHeaderNoColon\r\n\r\nxxxx")
          } else {
            val typ = (r % 3) match {
              case 0 => "response"
              case 1 => "request"
              case _ => "warcinfo"
            }
            val uri = s"http://s${id % 10}.example.com/$r"
            val len = (10 + (id * 7 + r * 5) % 23).toInt
            put("WARC/1.0\r\n")
            put(s"WARC-Type: $typ\r\n")
            put(s"WARC-Target-URI: $uri\r\n")
            if (id % 13 == 2) {
              put("WARC-Date: 2024-01-01T00:00:00Z\r\n")
              put("Content-Type: application/http\r\n")
            }
            put(s"Content-Length: $len\r\n")
            put("\r\n")
            val cut = if (id % 13 == 0 && r == nRec - 1) len / 2 else len
            bos.write(Array.fill(cut)('x'.toByte))
            if (!(id % 13 == 0 && r == nRec - 1)) put("\r\n\r\n")
          }
        }
        if (id % 13 == 1) put("GARBAGE")
        (id, bos.toByteArray)
      }.toDF("doc_id", "payload")
    Multimodal.warcHeaders(media, "doc_id", "payload")
      .orderBy(col("doc_id"), col("rec"))
  }

  /** Unicode script census oracled end to end
    * ([[TextFunctions.scriptCensus]]): texts planted as arithmetic
    * mixes of seven scripts (Latin/Han/Cyrillic/Arabic/Devanagari/
    * Kana/Hangul) + digits + fixed punctuation, so every count and
    * the tie-broken dominant label recompute as pure id arithmetic —
    * a script-class slip in any of the eight regex passes, or a
    * tie-break drift in the dominant chain, breaks the hash. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val texts = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val t = "a" * (id % 7).toInt + "中" * ((id / 7) % 5).toInt +
          "д" * ((id / 5) % 4).toInt + "م" * ((id / 3) % 3).toInt +
          "क" * (id % 2).toInt + "あ" * ((id / 2) % 3).toInt +
          "한" * ((id / 11) % 2).toInt + "7" * (id % 3).toInt + " ."
        (id, t)
      }.toDF("doc_id", "text")
    TextFunctions.scriptCensus(texts, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** The CRAWL-INGEST composition, oracled end to end — the r19
    * censuses chained the way a real web-crawl front door chains
    * them: [[Multimodal.warcRecords]] splits multi-record WARC
    * payloads (blocks sliced in the same walk, no join back to the
    * source bytes), [[TextFunctions.urlNormalize]] canonicalizes each
    * record's case-mixed target URI, a deterministic window-rank
    * dedup keeps the FIRST record per canonical URL (the q06 shape —
    * crawl dup rates are planted via a 97-bucket URI space), and the
    * [[Multimodal.encodingCensus]] gate then drops keepers that are
    * not valid UTF-8/ASCII (a kept-but-binary URL dies, it is not
    * replaced by a later duplicate — gate AFTER dedup, the cheap-
    * first order). Blocks are judged map-side and projected away
    * before the dedup shuffle — the shuffle carries only (url, ids,
    * census fields). The oracle replays the whole chain as id
    * arithmetic + one window. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val nRec = 1 + (id % 3).toInt
        val bos = new java.io.ByteArrayOutputStream()
        def put(t: String): Unit = bos.write(t.getBytes("ISO-8859-1"))
        (0 until nRec).foreach { r =>
          val k = (id * 7 + r) % 97
          val uri = s"HTTP://Site$k.example.COM/p"
          val block: Array[Byte] = ((id + r) % 4) match {
            case 0 => s"doc $id rec $r".getBytes("UTF-8")
            case 1 => ("é" * (1 + (id % 5)).toInt).getBytes("UTF-8")
            case 2 => Array(0x80.toByte) // binary: gated out
            case _ => Array(0xFF.toByte, 0xFE.toByte, 0x61.toByte,
              0x00.toByte) // valid utf16le: still gated out
          }
          put("WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: $uri\r\n" +
            s"Content-Length: ${block.length}\r\n\r\n")
          bos.write(block)
          put("\r\n\r\n")
        }
        (id, bos.toByteArray)
      }.toDF("doc_id", "payload")
    val recs = Multimodal.warcRecords(media, "doc_id", "payload")
      .select(col("doc_id"), col("rec"),
        (col("doc_id") * 4 + col("rec")).as("rid"),
        col("target_uri"), col("block"))
      .localCheckpoint()
    val urls = recs.select(col("rid"), col("doc_id"), col("rec"),
      TextFunctions.urlNormalize(col("target_uri")).as("url_norm"))
    val cen = Multimodal.encodingCensus(
      recs.select(col("rid"), col("block")), "rid", "block")
    val w = Window.partitionBy(col("url_norm"))
      .orderBy(col("doc_id"), col("rec"))
    urls.join(cen, "rid")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("valid") &&
        col("encoding").isin("ascii", "utf8"))
      .select(col("url_norm"), col("doc_id"), col("rec"),
        col("n_chars"))
      .orderBy(col("url_norm"), col("doc_id"))
  }

  /** HTML extraction census oracled end to end
    * ([[TextFunctions.htmlCensus]]): planted pages exercising every
    * removal class — comments, `<style>` inside `<head>`, optional
    * `<script>` in the body, an optional `<title>` (absent → NULL),
    * 0-3 anchors — plus entity decoding (`&amp;` `&lt;` `&gt;`) in
    * the visible text. The oracle rebuilds title, the EXACT extracted
    * text (tag→space collapse included), the anchor count and the
    * raw tag count from id arithmetic — a greediness slip, a
    * decode-order slip, or a collapse slip breaks the hash. */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val nL = (id % 4).toInt
        val links = (0 until nL)
          .map(i => s"""<a href="/p$i">go $i</a>""").mkString
        val title =
          if (id % 9 == 0) "" else s"<title> Doc $id </title>"
        val script =
          if (id % 5 == 0) s"<script>var x = $id;</script>" else ""
        val html = s"<html><head>$title<style>p{x:$id}</style></head>" +
          s"<body><!-- hidden $id --><h1>Head$id</h1>" +
          s"<p>A &amp; B &lt;C&gt; #${id % 7}</p>" + script + links +
          "</body></html>"
        (id, html)
      }.toDF("doc_id", "html")
    TextFunctions.htmlCensus(pages, "doc_id", "html")
      .orderBy(col("doc_id"))
  }

  /** The INCREMENTAL crawl front door, oracled end to end — q157's
    * chain feeding the flagship streamed exact ledger
    * ([[Dedup.ledgerAdmitStreamBatch]]) with the CANONICAL URL as the
    * dedup text: two crawl batches of multi-record WARC payloads run
    * warc-split → urlNormalize → encoding gate, then admit
    * epoch-by-epoch against the persisted digest store — batch 1
    * admits the first record per canonical URL, batch 2 admits only
    * URLs the ledger has NEVER seen (cross-batch dedup, the thing a
    * window over one batch cannot do). The planted 4001-bucket URI
    * space makes both in-batch and cross-batch collisions real. The
    * oracle replays the chain as arithmetic plus the ledger's
    * min-id-per-digest, batch-partitioned rule. */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val mx = d.agg(max(col("doc_id"))).head().getLong(0)
    val mid = mx / 2
    def warcify(df: DataFrame): DataFrame =
      df.select(col("doc_id")).as[Long].map { id =>
        val nRec = 1 + (id % 2).toInt
        val bos = new java.io.ByteArrayOutputStream()
        def put(t: String): Unit = bos.write(t.getBytes("ISO-8859-1"))
        (0 until nRec).foreach { r =>
          val k = (id * 13 + r * 7) % 4001
          val uri = s"HTTP://Site$k.example.COM/p"
          val block: Array[Byte] = ((id + r) % 3) match {
            case 0 => s"page $id $r".getBytes("UTF-8")
            case 1 => "éé".getBytes("UTF-8")
            case _ => Array(0x80.toByte) // binary: gated out
          }
          put("WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: $uri\r\n" +
            s"Content-Length: ${block.length}\r\n\r\n")
          bos.write(block)
          put("\r\n\r\n")
        }
        (id, bos.toByteArray)
      }.toDF("doc_id", "payload")
    def chain(df: DataFrame): DataFrame = {
      val recs = Multimodal.warcRecords(df, "doc_id", "payload")
        .select((col("doc_id") * 4 + col("rec")).as("rid"),
          col("target_uri"), col("block"))
        .localCheckpoint()
      val urls = recs.select(col("rid"),
        TextFunctions.urlNormalize(col("target_uri")).as("url_norm"))
      val cen = Multimodal.encodingCensus(
        recs.select(col("rid"), col("block")), "rid", "block")
      urls.join(cen, "rid")
        .filter(col("valid") && col("encoding").isin("ascii", "utf8"))
        .select(col("rid"), col("url_norm"))
        .localCheckpoint()
    }
    val path = java.nio.file.Files
      .createTempDirectory("graft_q159_crawl").toString
    try {
      val ledger = s"$path/ledger"
      val epochs = s"$path/epochs"
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        chain(warcify(d.filter(col("doc_id") <= mid))),
        "rid", "url_norm", 0L)
      Dedup.ledgerAdmitStreamBatch(s, ledger, epochs,
        chain(warcify(d.filter(col("doc_id") > mid))),
        "rid", "url_norm", 1L)
      Dedup.readAdmittedEpochs(s, epochs)
        .select(floor(col("rid") / 4).cast("long").as("doc_id"),
          (col("rid") % 4).cast("long").as("rec"),
          col("url_norm"), col("epoch"))
        .orderBy(col("doc_id"), col("rec")).localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** The planted robots.txt body for fixture host `h` — comments,
    * case-mixed keys, an unknown directive, an EMPTY Disallow (the
    * RFC's allow-everything idiom, must drop), host-varying wildcard
    * rules, a global Sitemap line mid-group, and for every 5th host a
    * second agent-specific group. */
  private def robotsTxt(h: Long): String = {
    val sb = new StringBuilder
    sb ++= "# graft robots fixture\n"
    sb ++= "User-agent: *\n"
    sb ++= "disallow: /private\n" // keys are case-insensitive
    sb ++= "Allow: /private/ok\n"
    if (h % 2 == 0) sb ++= "Disallow: /tmp*\n"
    if (h % 3 == 0) sb ++= "Disallow: /*.pdf$\n"
    sb ++= "Crawl-delay: 5\n" // unknown directive: tolerated in-group
    sb ++= "Disallow:\n" // empty value: matches nothing, drops
    if (h % 4 == 0)
      sb ++= s"Sitemap: https://h$h.example.com/sitemap.xml\n"
    if (h % 5 == 0) {
      sb ++= "\nUser-agent: GraftBot\n"
      sb ++= "Disallow: /\n"
      sb ++= "Allow: /pub\n"
    }
    sb.toString
  }

  private def robotsFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select((col("doc_id") % 20).as("h")).distinct()
      .as[Long].map(h => (s"h$h.example.com", robotsTxt(h)))
      .toDF("host", "txt")
  }

  /** robots.txt rule CENSUS oracled end to end
    * ([[Robots.robotsRules]]): the 20-host fixture covers comments,
    * case-mixed keys, the empty-Disallow drop, unknown directives
    * inside a group, a mid-group global Sitemap line, presence-
    * varying wildcard rules (so rule INDICES shift by host), and a
    * second agent-specific group — every exploded row (host, group,
    * agents, directive, pattern, rule index) recomputed from host
    * arithmetic. */
  private def q160(s: SparkSession, dir: String): DataFrame =
    Robots.robotsRules(robotsFixture(s, dir), "host", "txt")
      .orderBy(col("host"), col("grp"), col("rule"))

  /** RFC 9309 VERDICT pass oracled end to end
    * ([[Robots.robotsAllowed]]): seven path families per doc against
    * the 20-host rule fixture, evaluated for the case-mixed agent
    * `GraftBot` — longest-match precedence (`/private/ok` allow beats
    * `/private` disallow), prefix semantics (`/privateer` disallowed
    * by `/private`), wildcard and `$`-anchored rules, the
    * agent-specific full-block group with its longer Allow carve-out,
    * and a 21st host with NO robots body (left-join miss → allowed,
    * the no-robots default). */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val paths = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val h = id % 21
        val p = (id % 7) match {
          case 0 => s"/pub/x$id"
          case 1 => "/private/x"
          case 2 => "/private/ok"
          case 3 => s"/tmp/a$id.html"
          case 4 => s"/files/d$id.pdf"
          case 5 => "/private"
          case _ => "/privateer"
        }
        (id, s"h$h.example.com", p)
      }.toDF("doc_id", "host", "path")
    Robots.robotsAllowed(robotsFixture(s, dir), "host", "txt",
        paths, "doc_id", "host", "path", "GraftBot")
      .orderBy(col("doc_id"))
  }

  /** Sitemap XML walk oracled end to end
    * ([[Robots.sitemapEntries]], the crawl-frontier companion to the
    * robots `Sitemap:` lines): urlsets of 1-3 `<url>` entries with
    * entity-encoded query URLs (`&amp;` must decode), optional
    * lastmod, cycling changefreq, a NON-NUMERIC priority (reads
    * NULL, never throws) and a planted missing `<loc>` (a NULL-loc
    * row to count, not an exception); every 11th doc is a
    * sitemapindex instead — its `<sitemap>` children come back as
    * kind `sitemap` for the frontier walk to recurse on. Namespaced
    * wrappers, indentation and attribute-bearing tags throughout.
    * Every field recomputed from id arithmetic. */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val xmls = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val xml = if (id % 11 == 0) {
          val sms = (0 until 2).map { j =>
            val lm = if (j == 0) "\n    <lastmod>2024-02-01</lastmod>"
              else ""
            s"\n  <sitemap>\n    <loc> https://h${id % 20}" +
              s".example.com/sm$j.xml </loc>$lm\n  </sitemap>"
          }.mkString
          "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<sitemapindex " +
            "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            s"$sms\n</sitemapindex>"
        } else {
          val n = 1 + (id % 3).toInt
          val urls = (0 until n).map { r =>
            val loc = if (id % 13 == 4 && r == 0) ""
              else s"\n    <loc>https://s${(id * 3 + r) % 50}" +
                s".example.com/p$r?a=1&amp;b=2</loc>"
            val lm = if (r % 2 == 0)
              s"\n    <lastmod>2024-01-1$r</lastmod>" else ""
            val cf = Seq("daily", "weekly", "monthly")(r % 3)
            val pr = if (r == 2) "high" else s"0.${5 + r}"
            s"\n  <url>$loc$lm\n    <changefreq>$cf</changefreq>" +
              s"\n    <priority>$pr</priority>\n  </url>"
          }.mkString
          "<?xml version=\"1.0\"?>\n<urlset " +
            "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            s"$urls\n</urlset>"
        }
        (id, xml)
      }.toDF("doc_id", "xml")
    Robots.sitemapEntries(xmls, "doc_id", "xml")
      .orderBy(col("doc_id"), col("kind"), col("loc"))
  }

  /** Per-converter first-view → first-qualifying-purchase delay frame —
    * the ONE derivation under q127 and its bounded twin t49. */
  private def converterFrame(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
    e.filter(col("event_type") === "purchase")
      .join(v, Seq("user_id")).filter(col("ts") > col("tv"))
      .groupBy(col("user_id"), col("tv")).agg(min(col("ts")).as("tp"))
      .withColumn("conv_us",
        unix_micros(col("tp")) - unix_micros(col("tv")))
  }

  // --- bounded-memory percentile twins (t46-t49) ---------------------------
  // Spark's exact `percentile()` aggregate buffers a value→count map per
  // group that cannot spill — hash-exact at sf0.1, executor-OOM on a
  // 100-TB hot group. Each twin below recomputes one exact-percentile
  // entry through [[graft.operators.Percentiles]] (spilling window rank /
  // distributed selection), hashes against the SAME DuckDB oracle as its
  // exact baseline, and is pinned bit-equal to `percentile()` by
  // PercentilesSpec. The baselines keep their aggregate form as the
  // oracle-simple reference; these are the plans a 100-TB SLO user runs.

  /** Fixture spans with the per-span error flag — the ONE derivation
    * under t33 and its bounded twin t46. */
  private def fixtureSpansWithErr(s: SparkSession): DataFrame = {
    FixtureOracle.ensure(s)
    val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
    TraceFrame.spansFromJaegerFile(s, fx)
      .withColumn("is_err",
        when(col("tags").getItem("error").isNotNull, 1L).otherwise(0L))
  }

  /** Bounded twin of t33: per-service latency percentiles through the
    * spilling window-rank form — same oracle, same output schema. */
  private def t46(s: SparkSession): DataFrame =
    graft.operators.Percentiles.groupedExact(fixtureSpansWithErr(s),
      Seq("service"), "duration",
      Seq(0.5 -> "p50_us", 0.95 -> "p95_us", 0.99 -> "p99_us"),
      extras = Seq(count(lit(1)).as("n_spans"),
        sum(col("is_err")).as("n_err_spans")),
      roundTo = 4)
      .orderBy(col("service"))

  /** Bounded twin of q119: per-type inter-arrival cadence through the
    * spilling window-rank form — same oracle, same output schema,
    * same [[interEventGapFrame]] derivation. */
  private def t47(s: SparkSession, dir: String): DataFrame =
    graft.operators.Percentiles.groupedExact(interEventGapFrame(s, dir),
      Seq("event_type"),
      "gap_us", Seq(0.5 -> "med_gap_us", 0.9 -> "p90_gap_us"),
      extras = Seq(count(lit(1)).as("n_gaps")), roundTo = 4)
      .orderBy(col("event_type"))

  /** Fixture (service, operation, duration) projection — the ONE
    * derivation under t36 and its bounded twin t48. */
  private def fixtureOpDurations(s: SparkSession): DataFrame = {
    FixtureOracle.ensure(s)
    val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
    TraceFrame.spansFromJaegerFile(s, fx)
      .select(col("service"), col("operationName"), col("duration"))
  }

  /** Bounded twin of t36: median/MAD latency anomalies with BOTH
    * percentile passes (median, then median absolute deviation) through
    * the spilling window-rank form, unrounded (`roundTo = -1`) so the
    * MAD derives from the bit-identical median — same oracle, same
    * output schema. */
  private def t48(s: SparkSession): DataFrame = {
    val sp = fixtureOpDurations(s)
    val keys = Seq("service", "operationName")
    val med = graft.operators.Percentiles.groupedExact(sp, keys,
      "duration", Seq(0.5 -> "med"), roundTo = -1)
    val adev = sp.join(med, keys)
      .withColumn("adev", abs(col("duration").cast("double") - col("med")))
    val stats = graft.operators.Percentiles.groupedExact(adev, keys,
      "adev", Seq(0.5 -> "mad"),
      extras = Seq(count(lit(1)).as("n_spans"),
        first(col("med")).as("med")),
      roundTo = -1)
    sp.join(stats, keys)
      .withColumn("is_anom", when(col("mad") > 0 &&
        abs(col("duration").cast("double") - col("med")) >
          lit(3.0) * col("mad"), 1L).otherwise(0L))
      .groupBy(col("service"), col("operationName"))
      .agg(first(col("n_spans")).as("n_spans"),
        round(first(col("med")), 4).as("med_us"),
        round(first(col("mad")), 4).as("mad_us"),
        sum(col("is_anom")).as("n_anomalies"))
      .orderBy(col("service"), col("operationName"))
  }

  /** Bounded twin of q127: whole-frame conversion-delay percentiles via
    * [[graft.operators.Percentiles.globalExact]] (range-sort + partition
    * census — no task ever holds the distribution) — same oracle, same
    * one-row output. The converter frame is checkpointed once for its
    * two consumers (count + selection) and released after. */
  private def t49(s: SparkSession, dir: String): DataFrame = {
    val conv = converterFrame(s, dir).select(col("conv_us"))
      // persist, not localCheckpoint: only a CacheManager-registered
      // cache can actually be released in the finally (Dataset.unpersist
      // cannot free RDD-level checkpoint blocks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = conv.count()
      val qs = graft.operators.Percentiles.globalExact(conv, "conv_us",
        Seq(0.5, 0.9))
      // HALF_UP to 4 — the Spark round() the exact baseline applies
      def r4(x: Double): Double =
        graft.operators.Percentiles.roundHalfUp(x, 4)
      import s.implicits._
      Seq((n, r4(qs.head), r4(qs(1))))
        .toDF("n_converters", "med_conv_us", "p90_conv_us")
    } finally conv.unpersist(blocking = false)
  }

  /** The corpus-scale mutual-kNN path with driver-grade evidence: the
    * SAME build → cell-assign → probe → mutual-filter → components
    * pipeline a 100-TB user runs ([[Similarity.buildIvfIndex]] +
    * [[Similarity.ivfTopKFromIndex]] feeding
    * [[Similarity.mutualKnnClustersFromCandidates]]), probed at
    * nProbe = nCentroids. Full probe makes the IVF candidate set
    * EXACTLY the brute-force top-k (each corpus vector lives in one
    * cell and every cell is probed; identical rounding and tie-break —
    * the full-probe ≡ brute spec pins it), so this entry hashes against
    * q117's DuckDB oracle while exercising the scale machinery end to
    * end. At corpus scale, dial nProbe < nCentroids: recall trades
    * smoothly (0.97 recall@3 at nProbe=2/16 on the bench embeddings)
    * and cost is ∝ cells probed, never n². */
  private def t50(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // 32 cells, not 8: under full probe the candidate SET is identical
    // (exact), but the cell equi-join spreads over 32 keys instead of
    // funneling the hottest cell through one task (measured 6.9 → ~4 s
    // at sf0.1; at corpus scale nCentroids ∝ √n keeps cells bounded)
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding",
      nCentroids = 32, kmeansIters = 4)
    val cand = Similarity.ivfTopKFromIndex(idx, e, "vec_id", "embedding",
      k = 5, nProbe = 32)
    Similarity.mutualKnnClustersFromCandidates(e, "vec_id", cand)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** The incremental-ingest ANN lifecycle with driver-grade evidence —
    * the operation a 100 TB deployment runs daily: build the IVF index
    * on a deterministic 80% id-slice of the corpus, persist it
    * ([[Similarity.saveIvfIndex]] — cell-partitioned parquet), append
    * the remaining 20% with FROZEN centroids
    * ([[Similarity.appendToIvfIndex]] — a dynamic-partition append that
    * touches only the cells the batch lands in), then serve the
    * mutual-kNN clustering from the LOADED index. Probed at
    * nProbe = nCentroids: under full probe the candidate set is exactly
    * the brute-force top-k over the whole (base ∪ appended) corpus —
    * each vector lives in one cell regardless of WHICH centroids
    * assigned it there, and every cell is probed — so this entry hashes
    * against q117's DuckDB oracle while exercising
    * build → save → append → load → serve end to end (parquet
    * round-trips doubles exactly; the planted-twin spec pins the
    * frozen-centroid semantics, the save/load spec pins served ≡
    * direct). At corpus scale dial nProbe < nCentroids and rebuild only
    * when centroid drift warrants it — recall on appended data degrades
    * gracefully, never collapses, because assignment and probe share
    * the same centroids. The result is localCheckpointed (it is ≤ n
    * two-column rows) so the temp index can be deleted eagerly. */
  private def t52(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft_t52_ivf").toString
    try {
      graft.util.Fs.labeled(s, "t52:build+save") {
        Similarity.saveIvfIndex(
          Similarity.buildIvfIndex(base, "vec_id", "embedding",
            nCentroids = 32, kmeansIters = 4), path)
      }
      graft.util.Fs.labeled(s, "t52:append") {
        Similarity.appendToIvfIndex(s, path, batch, "vec_id", "embedding")
      }
      val idx = Similarity.loadIvfIndex(s, path)
      val cand = Similarity.ivfTopKFromIndex(idx, e, "vec_id",
        "embedding", k = 5, nProbe = 32)
      graft.util.Fs.labeled(s, "t52:serve") {
        Similarity.mutualKnnClustersFromCandidates(e, "vec_id", cand)
          .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
          .orderBy(col("vec_id"))
          .localCheckpoint()
      }
    } finally graft.util.Fs.deleteRecursively(path)
  }

  /** The CMS side of t21 (spec-pinned — a trained sketch is not
    * ANSI-expressible, so the driver oracle covers only the exact side):
    * per-source `count_min_sketch` aggregates merged by counter addition
    * into one corpus sketch, then each exact top-`topN` token is checked
    * against the one-sided CMS error bound
    * (exact ≤ est ≤ exact + ε·N). At 100 TB the per-source/per-day
    * sketches are the incremental path: fixed-width rows merge exactly,
    * and `collect` is #sources-bounded. Emits
    * (token, exact_cnt, est_cnt, bound_ok). */
  def heavyHitterBounds(s: SparkSession, dir: String,
      topN: Int = 20): DataFrame = {
    val eps = 0.0001; val conf = 0.99; val seed = 42
    val tok = docs(s, dir)
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
    val perSrc = tok.groupBy(col("source"))
      .agg(expr(s"count_min_sketch(w, ${eps}d, ${conf}d, $seed)")
        .as("sk"))
      .select(col("sk")).collect()
    val merged = perSrc.map(r =>
        org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("sk"))))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val n = merged.totalCount()
    val exact = tok.groupBy(col("w")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("w")).limit(topN).collect()
    import s.implicits._
    exact.toSeq.map { r =>
      val w = r.getString(0); val c = r.getLong(1)
      val est = merged.estimateCount(w)
      (w, c, est, est >= c && est <= c + (eps * n).toLong + 1)
    }.toDF("token", "exact_cnt", "est_cnt", "bound_ok")
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  /** Event transition matrix (path analysis): per-user consecutive
    * event-type pairs in event-time order → global transition counts.
    * The per-user sequence is a user-partitioned window (lag), so state
    * is bounded by one user's events; output ≤ #types². */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Event-rate anomaly detection: hourly event counts z-scored against
    * the global hourly mean/stddev — the ops-side traffic monitor.
    * Mean and variance derive from exact integer count sums (Σn, Σn²),
    * so the z expression is deterministic; the stats ride one broadcast
    * scalar row. Output: the 10 most anomalous hours. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.agg(count(lit(1)).as("h"),
      sum(col("n")).as("s1"),
      // decimal: Σn² over 100-TB hourly volumes exceeds long (ANSI mode
      // throws on overflow); the double cast downstream is unchanged
      sum(col("n").cast("decimal(19,0)") * col("n")).as("s2"))
    hourly.crossJoin(broadcast(stats))
      .withColumn("mean", col("s1").cast("double") / col("h"))
      .withColumn("sd", sqrt(col("s2").cast("double") / col("h") -
        col("mean") * col("mean")))
      .withColumn("z",
        round((col("n").cast("double") - col("mean")) / col("sd"), 4))
      .orderBy(abs(col("z")).desc, col("hour"))
      .limit(10)
      .select(col("hour"), col("n"), col("z"))
  }

  /** Cross-source duplication matrix: which source PAIRS share near-dup
    * clusters (mirror-site / content-syndication detection). Reuses the
    * session-cached cluster table (q64's connected components); the
    * matrix is a self-join on the cluster id over the DISTINCT
    * (cluster, source) projection — output ≤ #sources², state ≤
    * cluster count. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val cs = dupClusters(s, dir)
      .join(docs(s, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select(col("cluster"), col("source")).distinct()
    cs.as("a").join(cs.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_clusters"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** PII redaction ([[TextFunctions.redactPii]]): the synthetic corpus
    * ships no PII, so the patterns are exercised on a deterministic
    * contact blob derived from customer keys — the point of the oracle
    * row is pinning Spark↔DuckDB REGEX REPLACE semantics (global 'g'
    * replace, \b boundaries, class escapes) for the exact patterns the
    * redactor ships. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val key = col("c_custkey").cast("string")
    val blob = concat_ws(" ", col("c_name"),
      concat(lit("user"), key, lit("@mail.example.org")),
      concat(lit("https://ex.org/u/"), key),
      concat(lit("10."), col("c_nationkey").cast("string"), lit(".0."),
        pmod(col("c_custkey"), lit(250)).cast("string")))
    t(s, dir, "customer")
      .filter(col("c_custkey") < 200)
      .select(col("c_custkey"), blob.as("blob"))
      .select(col("c_custkey"),
        TextFunctions.redactPii(col("blob")).as("redacted"),
        TextFunctions.piiCount(col("blob"), "url")
          .cast("long").as("n_urls"),
        TextFunctions.piiCount(col("blob"), "email")
          .cast("long").as("n_emails"),
        TextFunctions.piiCount(col("blob"), "ip")
          .cast("long").as("n_ips"),
        TextFunctions.piiCount(col("blob"), "num")
          .cast("long").as("n_nums"))
      .orderBy(col("c_custkey"))
  }

  /** PMI collocations: pointwise mutual information of adjacent token
    * pairs — ln(p(ab) / (p(a)·p(b))). Unigram and bigram totals fold in
    * as broadcast scalar aggregates (q35/q40 pattern, one plan).
    *
    * Hashes-not-strings discipline (q41's): BOTH global counts group on
    * `xxhash64` — the unigram table never needs its strings at all
    * (components re-hash at join time: `xxhash64(a) = hw`), and bigram
    * strings are recovered in a second corpus pass for only the `n_ab
    * >= 5` candidates. Each hash-keyed count materializes once
    * (`localCheckpoint`): the unigram table feeds its total and two
    * broadcast component joins; the bigram table feeds its total and
    * the candidate filter. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val tk = docs(s, dir)
      .select(TextFunctions.tokens(col("text")).as("toks"))
    val uni = tk.select(explode(col("toks")).as("w"))
      .select(xxhash64(col("w")).as("hw"))
      .groupBy(col("hw")).agg(count(lit(1)).as("n_w"))
      .localCheckpoint()
    val bgOcc = bigrams(tk)
    val bn = bgOcc.select(xxhash64(col("bigram")).as("hb"))
      .groupBy(col("hb")).agg(count(lit(1)).as("n_ab"))
      .localCheckpoint()
    // totals derive from the AGGREGATES (q40's df-from-tf trick): summing
    // n_w / n_ab over the grouped sets equals counting the raw exploded
    // rows, without another tokenize+explode pass per total
    val nTok = uni.agg(sum(col("n_w")).cast("double").as("n_tok"))
    val nBg = bn.agg(sum(col("n_ab")).cast("double").as("n_bg"))
    // candidate-set broadcast guarded: `n_ab >= 5` usually prunes hard,
    // but nothing bounds it on a repetitive corpus (see joinCandidates)
    joinCandidates(bgOcc, bn.filter(col("n_ab") >= 5),
        xxhash64(col("bigram")) === col("hb"))
      .select(col("bigram"), col("n_ab")).distinct()
      .withColumn("a", get(split(col("bigram"), " "), lit(0)))
      .withColumn("b", get(split(col("bigram"), " "), lit(1)))
      .join(broadcast(uni.select(col("hw").as("ha"), col("n_w").as("n_a"))),
        xxhash64(col("a")) === col("ha"))
      .join(broadcast(uni.select(col("hw").as("hb2"), col("n_w").as("n_b"))),
        xxhash64(col("b")) === col("hb2"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .withColumn("pmi", round(log((col("n_ab") / col("n_bg")) /
        ((col("n_a") / col("n_tok")) * (col("n_b") / col("n_tok")))), 6))
      .orderBy(col("pmi").desc, col("bigram")).limit(20)
      .select(col("bigram"), col("n_ab"), col("pmi"))
  }

  /** Exact-k stratified sample (Curation.stratifiedTakeK): exactly 5 docs
    * per source, chosen in salted-hash order — reproducible eval carve-out. */
  private def q68(s: SparkSession, dir: String): DataFrame =
    Curation.stratifiedTakeK(docs(s, dir), "doc_id", "source", k = 5)
      .select(col("doc_id"), col("source"))
      .orderBy(col("source"), col("doc_id"))

  /** Curriculum bucketing: global ntile(4) by document length. The single
    * unpartitioned window is a deliberate serial point (like q51's global
    * ranks); at corpus scale derive quartile edges with approx quantiles
    * and bucket via broadcast instead. */
  private def q69(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("bucket",
        ntile(4).over(Window.orderBy(col("n_chars"), col("doc_id"))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(col("bucket").cast("long").as("bucket"), col("n_docs"),
        col("min_chars"), col("max_chars"))
      .orderBy(col("bucket"))

  /** Quality-gated selection: keep each source's top-quartile docs by
    * token entropy (percent_rank ≥ 0.75 within the source) — the
    * per-stratum window form of a quality threshold. Entropy is rounded
    * to 6 places BEFORE ranking on both engines, so order and filter
    * agree bit-for-bit. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val ent = TextFunctions.tokenEntropy(docs(s, dir), "doc_id", "text")
      .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("entropy"), col("doc_id"))
    ent.withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= 0.75)
      .select(col("doc_id"), col("source"), col("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Incremental ingest near-dedup: the "new batch" (doc_id ≥ 400 here)
    * is admitted only where NO existing-corpus doc (doc_id < 400) is a
    * near-duplicate (exact 3-gram Jaccard ≥ 0.8) — the daily-ingest gate.
    * Cross-set prefix-filtered join (Dedup.jaccardAcross): at corpus
    * scale the corpus-side prefix index is precomputed and reused across
    * batches; only 8-byte hashes shuffle. */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val newBatch = d.filter(col("doc_id") >= 400)
    val dup = Dedup.jaccardAcross(
      Dedup.shingleIndex(newBatch, "doc_id", "text"),
      Dedup.shingleIndex(d.filter(col("doc_id") < 400), "doc_id", "text"),
      threshold = 0.8)
      .select(col("doc_a").as("dup_id")).distinct()
    newBatch
      .join(dup, col("doc_id") === col("dup_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  // --- trace-pipeline oracle over the raw fixture export -------------------
  // (see FixtureOracle: raw_* parquet is pure posexplode — all trace
  // semantics below are re-derived in SQL, independent of the operators)

  private def fixP(name: String): String =
    s"read_parquet('${FixtureOracle.dir}/$name.parquet/*.parquet')"

  /** DuckDB re-derivation of per-service span self-time (t29): parent =
    * first CHILD_OF reference (engine `SpanOps.parentExpr` semantics),
    * self = duration − Σ direct-children durations, grouped by the
    * processes-map service name. */
  private def t29Oracle: String =
    s"""WITH s AS (SELECT * FROM ${fixP("raw_spans")}),
       | r AS (SELECT * FROM ${fixP("raw_refs")}),
       | p AS (SELECT * FROM ${fixP("raw_processes")}),
       | par AS (SELECT traceID, span_idx, refSpanID FROM (
       |     SELECT *, row_number() OVER (PARTITION BY traceID, span_idx
       |       ORDER BY ref_idx) AS rn
       |     FROM r WHERE refType = 'CHILD_OF') WHERE rn = 1),
       | sp2 AS (SELECT s.traceID, s.span_idx, s.spanID, s.duration,
       |     s.processID, coalesce(par.refSpanID, '') AS parent
       |   FROM s LEFT JOIN par USING (traceID, span_idx)),
       | cs AS (SELECT traceID, parent AS spanID,
       |     sum(duration) AS child_dur
       |   FROM sp2 WHERE parent <> '' GROUP BY 1, 2),
       | j AS (SELECT sp2.*, coalesce(cs.child_dur, 0) AS child_dur
       |   FROM sp2 LEFT JOIN cs ON sp2.traceID = cs.traceID
       |     AND sp2.spanID = cs.spanID)
       |SELECT p.serviceName AS service, count(*) AS n_spans,
       |  CAST(sum(j.duration) AS BIGINT) AS total_us,
       |  CAST(sum(j.duration - j.child_dur) AS BIGINT) AS self_us
       |FROM j LEFT JOIN p ON j.traceID = p.traceID
       |  AND j.processID = p.processID
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB re-derivation of the critical-path automaton (t03/t30,
    * graduated r12) — the "set-valued per-step state no recursive CTE
    * can carry" CAN in fact be carried: the whole per-trace state
    * (leader, leader stack, insertion-ordered outstanding-children
    * sets, emitted segments) serializes into ONE delimited VARCHAR and
    * the event sweep becomes a `list_reduce` fold — the t22
    * serialized-state precedent pushed to a full automaton.
    * Let-bindings inside the lambda are emulated with single-element
    * `list_transform([x], v -> body)[1]`. Every branch of the faithful
    * port [[graft.analysis.CriticalPath.compute]] is reproduced term by
    * term: the (startTime, spanID) span sort with seq = 2i / 2i+1 event
    * numbering, the (ts, seq) event sort, absorbed overlapping calls
    * (cond checks the PRE-add outstanding set), the leader-stack drain
    * to the first stack entry with outstanding children (descending
    * into its first-inserted child), and exact [traceStart, traceEnd]
    * tiling. All arithmetic is integer µs, so hash-exactness carries NO
    * drift caveat. Separators: chr(30) state fields / chr(29) list
    * items / chr(28) entry+event fields / chr(26) kid ids (none occur
    * in span ids). DuckDB traps: `array_to_string` of an EMPTY list is
    * NULL (poisons the concat — every serialization site coalesces to
    * '') and `list_reduce` seeds from the first element, so the init
    * state (leader = first event's span, ts = its start) is PREPENDED
    * to the event list. */
  private object CritSql {
    private val FS = "chr(30)"
    private val LS = "chr(29)"
    private val ES = "chr(28)"
    private val KS = "chr(26)"

    /** kids list of `pid` in the outstanding assoc-list `outs`
      * (insertion-ordered), [] when absent or empty; `v` prefixes the
      * lambda vars so nested uses never shadow. */
    private def okids(outs: String, pid: String, v: String): String =
      s"list_transform([list_filter($outs, ${v}e -> " +
        s"string_split(${v}e, $ES)[1] = $pid)], ${v}f -> " +
        s"CASE WHEN len(${v}f) = 0 " +
        s"OR string_split(${v}f[1], $ES)[2] = '' " +
        s"THEN CAST([] AS VARCHAR[]) " +
        s"ELSE string_split(string_split(${v}f[1], $ES)[2], $KS) " +
        s"END)[1]"

    private def outAdd(outs: String, pid: String, sid: String): String =
      s"CASE WHEN len(list_filter($outs, ae -> " +
        s"string_split(ae, $ES)[1] = $pid)) > 0 " +
        s"THEN list_transform($outs, au -> " +
        s"CASE WHEN string_split(au, $ES)[1] = $pid " +
        s"THEN $pid || $ES || " +
        s"(CASE WHEN string_split(au, $ES)[2] = '' THEN $sid " +
        s"ELSE string_split(au, $ES)[2] || $KS || $sid END) " +
        s"ELSE au END) " +
        s"ELSE list_append($outs, $pid || $ES || $sid) END"

    private def outRm(outs: String, pid: String, sid: String): String =
      s"list_transform($outs, ru -> " +
        s"CASE WHEN string_split(ru, $ES)[1] = $pid " +
        s"THEN $pid || $ES || coalesce(array_to_string(list_filter(" +
        s"CASE WHEN string_split(ru, $ES)[2] = '' " +
        s"THEN CAST([] AS VARCHAR[]) " +
        s"ELSE string_split(string_split(ru, $ES)[2], $KS) END, " +
        s"rk -> rk <> $sid), $KS), '') " +
        s"ELSE ru END)"

    private def state(leader: String, ts: String, stack: String,
        outs: String, segs: String): String =
      s"($leader) || $FS || ($ts) || $FS || " +
        s"coalesce(array_to_string($stack, $LS), '') || $FS || " +
        s"coalesce(array_to_string($outs, $LS), '') || $FS || ($segs)"

    private def segApp(segs: String, stTs: String, evTs: String,
        sid: String): String = {
      val entry = s"($stTs) || $ES || CAST(CAST(($evTs) AS BIGINT) - " +
        s"CAST(($stTs) AS BIGINT) AS VARCHAR) || $ES || ($sid)"
      s"CASE WHEN ($segs) = '' THEN $entry " +
        s"ELSE ($segs) || $LS || $entry END"
    }

    private val stackOf = s"CASE WHEN st[3] = '' " +
      s"THEN CAST([] AS VARCHAR[]) ELSE string_split(st[3], $LS) END"
    private val outsOf = s"CASE WHEN st[4] = '' " +
      s"THEN CAST([] AS VARCHAR[]) ELSE string_split(st[4], $LS) END"

    private val callBranch =
      s"list_transform([$outsOf], os -> " +
        s"CASE WHEN st[1] = ev[4] AND len(${okids("os", "ev[4]", "c")}) = 0 " +
        s"THEN CASE WHEN ev[4] <> '' THEN " +
        state("ev[3]", "ev[2]", s"list_prepend(st[1], $stackOf)",
          outAdd("os", "ev[4]", "ev[3]"),
          segApp("st[5]", "st[2]", "ev[2]", "ev[4]")) +
        s" ELSE " +
        state("st[1]", "ev[2]", stackOf,
          outAdd("os", "ev[4]", "ev[3]"), "st[5]") +
        s" END ELSE " +
        state("st[1]", "st[2]", stackOf,
          outAdd("os", "ev[4]", "ev[3]"), "st[5]") +
        s" END)[1]"

    private val drain =
      s"list_transform([$stackOf], sk -> " +
        s"list_transform([list_filter(generate_series(1, len(sk)), ji -> " +
        s"len(${okids("os2", "sk[ji]", "d")}) > 0)], fidx -> " +
        s"CASE WHEN len(fidx) > 0 THEN " +
        state(s"${okids("os2", "sk[fidx[1]]", "g")}[1]", "ev[2]",
          "list_slice(sk, fidx[1], len(sk))", "os2",
          segApp("st[5]", "st[2]", "ev[2]", "st[1]")) +
        s" WHEN len(sk) > 0 THEN " +
        state("sk[len(sk)]", "ev[2]", "CAST([] AS VARCHAR[])", "os2",
          segApp("st[5]", "st[2]", "ev[2]", "st[1]")) +
        s" ELSE " +
        state("st[1]", "ev[2]", "sk", "os2",
          segApp("st[5]", "st[2]", "ev[2]", "st[1]")) +
        s" END)[1])[1]"

    private val retBranch =
      s"list_transform([${outRm(outsOf, "ev[4]", "ev[3]")}], os2 -> " +
        s"CASE WHEN len(${okids("os2", "st[1]", "r")}) = 0 THEN $drain" +
        s" ELSE " +
        state("st[1]", "st[2]", stackOf, "os2", "st[5]") +
        s" END)[1]"

    private val step =
      s"list_transform([string_split(a, $FS)], st -> " +
        s"list_transform([string_split(x, $ES)], ev -> " +
        s"CASE WHEN ev[1] = '1' THEN $callBranch ELSE $retBranch END" +
        s")[1])[1]"

    /** CTE chain `sv → so → evt → el → fin → cseg`; `cseg` holds one
      * row per critical segment: (traceID, sg = ts⟨ES⟩dur⟨ES⟩spanID).
      * (`evt`, not `ev` — that name is the fold's event lambda var.) */
    def segsCtes(svPrefix: String): String =
      s"""$svPrefix,
         | so AS (SELECT *, row_number() OVER (PARTITION BY traceID
         |     ORDER BY startTime, spanID) - 1 AS i FROM sv),
         | evt AS (SELECT traceID,
         |     CASE WHEN k = 1 THEN '0' ELSE '1' END || $ES ||
         |     CAST(startTime + CASE WHEN k = 1 THEN duration ELSE 0 END
         |       AS VARCHAR) || $ES || spanID || $ES || parent AS e,
         |     startTime + CASE WHEN k = 1 THEN duration ELSE 0 END AS ts,
         |     2 * i + k AS seq
         |   FROM so, (SELECT unnest([0, 1]) AS k) ks),
         | el AS MATERIALIZED (SELECT traceID, list(e ORDER BY ts, seq)
         |     AS evs
         |   FROM evt GROUP BY traceID),
         | fin AS (SELECT traceID,
         |     list_reduce(list_prepend(
         |       string_split(evs[1], $ES)[3] || $FS ||
         |       string_split(evs[1], $ES)[2] || $FS || '' || $FS ||
         |       '' || $FS || '',
         |       evs), (a, x) -> $step) AS st_final
         |   FROM el),
         | cseg AS (SELECT traceID,
         |     unnest(string_split(string_split(st_final, $FS)[5], $LS))
         |       AS sg
         |   FROM fin)""".stripMargin

    def t03(svPrefix: String): String =
      s"""WITH ${segsCtes(svPrefix)}
         |SELECT g.traceID, string_split(g.sg, $ES)[3] AS spanID,
         |  f.service,
         |  CAST(string_split(g.sg, $ES)[1] AS BIGINT) AS startTime,
         |  CAST(string_split(g.sg, $ES)[2] AS BIGINT) AS duration
         |FROM cseg g JOIN sv f ON f.traceID = g.traceID
         |  AND f.spanID = string_split(g.sg, $ES)[3]
         |ORDER BY g.traceID, startTime, spanID""".stripMargin

    def t30(svPrefix: String): String =
      s"""WITH ${segsCtes(svPrefix)}
         |SELECT f.service, count(*) AS n_segments,
         |  CAST(sum(CAST(string_split(g.sg, $ES)[2] AS BIGINT))
         |    AS BIGINT) AS crit_us
         |FROM cseg g JOIN sv f ON f.traceID = g.traceID
         |  AND f.spanID = string_split(g.sg, $ES)[3]
         |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Shared SQL prefix for the t34/t35/t36 oracles: spans with parent
    * (first CHILD_OF reference, engine `SpanOps.parentExpr` semantics)
    * and service (processes-map lookup) resolved — the raw-export
    * re-derivation of `spansFromJaegerFile`'s flat view. The processes
    * lookup is a LEFT join: the engine's flatten uses `try_element_at`
    * and KEEPS spans whose processID has no processes entry (service
    * NULL), so the oracle must too — an inner join would silently drop
    * them if the fixture ever gained an unresolved processID. */
  private def svSpansSql: String =
    s"""s AS (SELECT * FROM ${fixP("raw_spans")}),
       | r AS (SELECT * FROM ${fixP("raw_refs")}),
       | p AS (SELECT * FROM ${fixP("raw_processes")}),
       | par AS (SELECT traceID, span_idx, refSpanID FROM (
       |     SELECT *, row_number() OVER (PARTITION BY traceID, span_idx
       |       ORDER BY ref_idx) AS rn
       |     FROM r WHERE refType = 'CHILD_OF') WHERE rn = 1),
       | sv AS (SELECT s.traceID, s.span_idx, s.spanID, s.operationName,
       |     s.startTime, s.duration, p.serviceName AS service,
       |     coalesce(par.refSpanID, '') AS parent
       |   FROM s LEFT JOIN par USING (traceID, span_idx)
       |   LEFT JOIN p ON s.traceID = p.traceID
       |     AND s.processID = p.processID)"""
      .stripMargin

  /** DuckDB re-derivation of the trace-shape fingerprint (t34): md5 of
    * the '|'-joined SORTED call-edge multiset per trace, then shape
    * census. */
  private def t34Oracle: String =
    s"""WITH $svSpansSql,
       | pn AS (SELECT traceID AS tid, spanID AS pid,
       |     concat_ws(':', service, operationName) AS p_node FROM sv),
       | ed AS (SELECT sv.traceID, concat_ws('>',
       |     coalesce(pn.p_node, 'ROOT'),
       |     concat_ws(':', sv.service, sv.operationName)) AS edge
       |   FROM sv LEFT JOIN pn ON sv.traceID = pn.tid
       |     AND sv.parent = pn.pid),
       | sh AS (SELECT traceID,
       |     md5(string_agg(edge, '|' ORDER BY edge)) AS shape
       |   FROM ed GROUP BY traceID)
       |SELECT shape, count(*) AS n_traces, min(traceID) AS exemplar
       |FROM sh GROUP BY shape ORDER BY shape""".stripMargin

  /** DuckDB re-derivation of span idle-gap analysis (t35): children
    * clamped to the parent window, interval union via the running-max
    * window, per-service idle/overlap totals — identical integer
    * algebra to the Spark plan. */
  private def t35Oracle: String =
    s"""WITH $svSpansSql,
       | pr AS (SELECT traceID AS tid, spanID AS pid,
       |     service AS p_service, startTime AS ps,
       |     startTime + duration AS pe, duration AS p_dur FROM sv),
       | kd AS (SELECT traceID, parent, spanID AS cid,
       |     startTime AS cs0, startTime + duration AS ce0
       |   FROM sv WHERE parent <> ''),
       | j AS (SELECT pr.tid, pr.pid, pr.p_service, pr.p_dur, kd.cid,
       |     greatest(kd.cs0, pr.ps) AS cs, least(kd.ce0, pr.pe) AS ce
       |   FROM kd JOIN pr ON kd.traceID = pr.tid AND kd.parent = pr.pid
       |   WHERE least(kd.ce0, pr.pe) > greatest(kd.cs0, pr.ps)),
       | c AS (SELECT *, max(ce) OVER (PARTITION BY tid, pid
       |     ORDER BY cs, ce, cid
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |   FROM j),
       | pp AS (SELECT tid, pid, p_service, p_dur,
       |     sum(greatest(0, ce - greatest(cs, coalesce(pmax, cs))))
       |       AS covered,
       |     sum(ce - cs) AS child_clamped
       |   FROM c GROUP BY 1, 2, 3, 4)
       |SELECT p_service AS service, count(*) AS n_parent_spans,
       |  CAST(sum(p_dur) AS BIGINT) AS parent_us,
       |  CAST(sum(covered) AS BIGINT) AS covered_us,
       |  CAST(sum(p_dur - covered) AS BIGINT) AS idle_us,
       |  CAST(sum(child_clamped - covered) AS BIGINT) AS overlap_us
       |FROM pp GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB re-derivation of median/MAD latency anomalies (t36):
    * interpolated median via quantile_cont (the q34-pinned equivalence
    * to Spark `percentile`); integer-µs durations make every med/MAD a
    * .0/.5 value so all double comparisons are exact. */
  private def t36Oracle: String =
    s"""WITH $svSpansSql,
       | md AS (SELECT service, operationName,
       |     quantile_cont(duration, 0.5) AS med
       |   FROM sv GROUP BY 1, 2),
       | st AS (SELECT sv.service, sv.operationName,
       |     count(*) AS n_spans, min(md.med) AS med,
       |     quantile_cont(abs(sv.duration - md.med), 0.5) AS mad
       |   FROM sv JOIN md USING (service, operationName)
       |   GROUP BY 1, 2)
       |SELECT sv.service, sv.operationName,
       |  CAST(min(st.n_spans) AS BIGINT) AS n_spans,
       |  round(min(st.med), 4) AS med_us,
       |  round(min(st.mad), 4) AS mad_us,
       |  CAST(sum(CASE WHEN st.mad > 0
       |    AND abs(sv.duration - st.med) > 3.0 * st.mad
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
       |FROM sv JOIN st USING (service, operationName)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DuckDB re-derivation of `process_traces` (reference
    * `traceframe.py:209-230`): root = first span with zero references,
    * fallback spans[0]; traceName = "{service}: {operation}" of the root
    * (NULL-propagating concat → traceID fallback); errspans counts `error`
    * TAGS (per-tag, not per-span); duration/startTime from the root only;
    * empty-spans traces anchor on raw_traces with 0/0/0 fallbacks. */
  private def t01Oracle: String =
    s"""WITH tr AS (SELECT * FROM ${fixP("raw_traces")}),
       | s AS (SELECT * FROM ${fixP("raw_spans")}),
       | p AS (SELECT * FROM ${fixP("raw_processes")}),
       | tg AS (SELECT * FROM ${fixP("raw_tags")}),
       | root AS (SELECT traceID,
       |     coalesce(min(CASE WHEN n_refs = 0 THEN span_idx END),
       |              min(span_idx)) AS ri
       |   FROM s GROUP BY traceID),
       | r AS (SELECT root.traceID, s.operationName, s.startTime, s.duration,
       |     s.processID
       |   FROM root JOIN s ON s.traceID = root.traceID
       |     AND s.span_idx = root.ri),
       | nsp AS (SELECT traceID, count(*) AS nspans FROM s GROUP BY traceID),
       | err AS (SELECT traceID, count(*) AS errspans FROM tg
       |   WHERE tag_key = 'error' GROUP BY traceID)
       |SELECT tr.traceID,
       |  coalesce(p.serviceName || ': ' || r.operationName, tr.traceID)
       |    AS traceName,
       |  CAST(coalesce(nsp.nspans, 0) AS BIGINT) AS nspans,
       |  CAST(coalesce(err.errspans, 0) AS BIGINT) AS errspans,
       |  coalesce(r.duration, 0) AS duration_us,
       |  coalesce(r.startTime, 0) AS start_us,
       |  CAST(CASE WHEN coalesce(err.errspans, 0) > 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS iserror
       |FROM tr
       |LEFT JOIN r ON r.traceID = tr.traceID
       |LEFT JOIN nsp ON nsp.traceID = tr.traceID
       |LEFT JOIN err ON err.traceID = tr.traceID
       |LEFT JOIN p ON p.traceID = tr.traceID AND p.processID = r.processID
       |ORDER BY tr.traceID""".stripMargin

  /** DuckDB re-derivation of the span flatten (`traceframe.py:455-495`):
    * service via processes lookup, parent = first CHILD_OF reference else '',
    * tags deduped last-key-wins then rendered as sorted `k=v|...` — the same
    * canonical string the Spark entry emits. */
  private def t02Oracle: String =
    s"""WITH s AS (SELECT * FROM ${fixP("raw_spans")}),
       | p AS (SELECT * FROM ${fixP("raw_processes")}),
       | tg AS (SELECT * FROM ${fixP("raw_tags")}),
       | rf AS (SELECT * FROM ${fixP("raw_refs")}),
       | par AS (SELECT traceID, span_idx, refSpanID FROM (
       |     SELECT traceID, span_idx, refSpanID,
       |       row_number() OVER (PARTITION BY traceID, span_idx
       |         ORDER BY ref_idx) AS rn
       |     FROM rf WHERE refType = 'CHILD_OF') WHERE rn = 1),
       | lw AS (SELECT traceID, span_idx, tag_key, tag_value FROM (
       |     SELECT traceID, span_idx, tag_key, tag_value,
       |       row_number() OVER (PARTITION BY traceID, span_idx, tag_key
       |         ORDER BY tag_idx DESC) AS rn
       |     FROM tg) WHERE rn = 1),
       | ts AS (SELECT traceID, span_idx,
       |     list_aggregate(list_sort(list(tag_key || '=' || tag_value)),
       |       'string_agg', '|') AS tags_str
       |   FROM lw GROUP BY traceID, span_idx)
       |SELECT s.traceID, s.spanID, s.flags, s.operationName,
       |  s.startTime AS start_us, s.duration AS duration_us, s.processID,
       |  p.serviceName AS service,
       |  coalesce(par.refSpanID, '') AS parent,
       |  coalesce(ts.tags_str, '') AS tags_str
       |FROM s
       |LEFT JOIN p ON p.traceID = s.traceID AND p.processID = s.processID
       |LEFT JOIN par ON par.traceID = s.traceID
       |  AND par.span_idx = s.span_idx
       |LEFT JOIN ts ON ts.traceID = s.traceID AND ts.span_idx = s.span_idx
       |ORDER BY s.traceID, s.spanID""".stripMargin

  // --- oracle SQL builders for the hash-heavy queries ----------------------

  /** DuckDB equivalent of TextFunctions.hash60. */
  private val H = "CAST(('0x' || substr(md5(%s),1,15)) AS BIGINT)"
  private val toksSql = """regexp_split_to_array(trim(text), '\s+')"""
  /** Raw (non-distinct) 3-gram shingles; consumers hash-then-distinct to
    * mirror the Spark operators. */
  private val shinglesSql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
       | shr AS (SELECT doc_id, unnest(list_transform(
       |   generate_series(1, greatest(len(t)-2, 0)),
       |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tk)"""
      .stripMargin

  /** The q136 banding replay strings (shared spelling with
    * [[minhashOracle]], hoisted because q136 bands a DERIVED doc set,
    * not the documents table). */
  private val q136Sig = (0 until 16).map(i =>
    s"min((h*${Dedup.permA(i)}+${Dedup.permB(i)})%${Dedup.P}) AS mh$i")
    .mkString(", ")
  /** The q131/q132 SQ8 serve chain (encode → affine approx → top-32
    * candidates → exact-cosine rerank → top-3), emitted with a CTE-name
    * suffix and an optional code-table predicate so q137 can replay it
    * twice (pinned vs current view) in one statement. Expects `v`
    * (normalized vectors) and `q` (queries with qsum) in scope. */
  private def sq8ServeCtes(sfx: String, pred: String): String =
    s""" sq$sfx AS MATERIALIZED (SELECT vec_id,
       |    list_min(nv) AS vmin,
       |    (list_max(nv) - list_min(nv)) / 255.0 AS delta,
       |    CASE WHEN list_max(nv) > list_min(nv) THEN
       |      list_transform(nv, x -> CAST(floor(
       |        (x - list_min(nv)) * 255.0 /
       |        (list_max(nv) - list_min(nv)) + 0.5) AS DOUBLE))
       |    ELSE list_transform(nv, x -> 0.0) END AS codes
       |  FROM v $pred),
       | approx$sfx AS (SELECT q.query_id, q.qv, s.vec_id AS neighbor_id,
       |    s.vmin * q.qsum + s.delta * list_dot_product(q.qv, s.codes)
       |      AS approx
       |  FROM sq$sfx s, q WHERE q.query_id <> s.vec_id),
       | cand$sfx AS (SELECT query_id, qv, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx DESC, neighbor_id) AS ar
       |  FROM approx$sfx),
       | rr$sfx AS (SELECT c.query_id, c.neighbor_id,
       |    round(list_dot_product(c.qv, nb.nv), 6) AS cos_sim
       |  FROM cand$sfx c JOIN v nb ON nb.vec_id = c.neighbor_id
       |  WHERE c.ar <= 32),
       | rk$sfx AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM rr$sfx)"""
      .stripMargin

  private val q136Bands = (0 until 4).map(b =>
    s"SELECT doc_id, $b AS band, concat_ws('_', " +
      (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ") +
      ") AS key FROM sig").mkString(" UNION ALL ")

  private def minhashOracle: String = {
    val sig = (0 until 16).map(i =>
      s"min((h*${Dedup.permA(i)}+${Dedup.permB(i)})%${Dedup.P}) AS mh$i")
      .mkString(", ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws('_', " +
        (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ") +
        ") AS key FROM sig").mkString(" UNION ALL ")
    s"""$shinglesSql,
       | hh AS (SELECT DISTINCT doc_id, ${H.format("s")} % ${Dedup.P} AS h
       |   FROM shr),
       | sig AS (SELECT doc_id, $sig FROM hh GROUP BY doc_id),
       | bands AS ($bands)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
       |FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SimHash-per-doc SELECT (no ORDER BY), width-parametric — shared
    * by q26/q48 (32 bits) and q144 (60 bits). */
  private def simhashSelectBits(bits: Int): String = {
    val bitSums = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val combine = (0 until bits).map(i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (SELECT DISTINCT doc_id, unnest($toksSql) AS tk
       |   FROM documents),
       | h AS (SELECT doc_id, ${H.format("tk")} AS h FROM tok),
       | b AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM b""".stripMargin
  }

  private def simhashSelect: String = simhashSelectBits(32)

  private def simhashOracle: String = simhashSelect + " ORDER BY doc_id"

  /** Oracle for the BANDED SimHash search: the all-pairs ground truth —
    * valid because pigeonhole banding has recall 1 by construction. */
  private def simhashBandedOracle: String =
    s"""WITH sh AS ($simhashSelect)
       |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh c ON a.doc_id < c.doc_id
       |WHERE bit_count(xor(a.simhash, c.simhash)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q144: the same ground-truth rule at the corpus-scale geometry
    * (60-bit signatures, Hamming ≤ 3). */
  private def simhash60BandedOracle: String =
    s"""WITH sh AS (${simhashSelectBits(60)})
       |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh c ON a.doc_id < c.doc_id
       |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Matches Similarity.l2Normalize + DotProduct: normalize each vector
    * once, then a single ordered dot per pair. */
  private val normVecSql =
    """SELECT vec_id, list_transform(ve, x ->
      | x / sqrt(list_dot_product(ve, ve))) AS nv
      |FROM (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings)""".stripMargin

  /** Unrolled Lloyd-iteration CTE chain over a normalized-vector CTE
    * `v(vec_id, nv)` — the shared machinery behind the trained-clustering
    * oracle graduations (t08/t09/t25/t26): `c0` = the first `k` vectors
    * by id (the trainer's first-k init), then `iters` assign/mean/
    * normalize steps named `c1..c<iters>`. Assignment argmax breaks ties
    * toward the LOWEST cent_id (the engine's struct-argmax rule);
    * element-wise means use the q90 unnest-zip; empty cells keep their
    * previous centroid; means re-normalize to the unit sphere.
    *
    * PRECONDITION (holds at every oracle SF): corpus ≤ 2048 vectors, so
    * `trainCentroids`' deterministic sample (stride 1, limit 2048) IS
    * the corpus ordered by id, and its driver-side iterations share
    * `refineCentroids`' update rule exactly — trainer and refine steps
    * unroll as one chain. Iteration CTEs are MATERIALIZED (the t28/t37
    * inlining-explosion lesson). Double-sum association order differs
    * between engines — callers absorb the ~1e-12 drift in their output
    * rounding (the t28 precedent). The residual risk is DISCRETE
    * decisions (argmax cell flips, ADC rank cuts) on near-exact ties:
    * both engines are deterministic per dataset/partitioning (driver
    * correctness always runs the same sf0.01 layout), and on the real
    * data every such boundary gap is orders of magnitude above the
    * drift — a future data regeneration landing a tie within ~1e-12
    * would surface loudly as a hash mismatch, not silently. */
  private def lloydCtes(k: Int, iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"c${i - 1}"
      s""",
         | a$i AS (SELECT v.vec_id, v.nv, c.cent_id,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, $prev c),
         | e$i AS (SELECT cent_id,
         |    unnest(generate_series(1, len(nv))) AS pos,
         |    unnest(nv) AS x
         |  FROM a$i WHERE rn = 1),
         | m$i AS (SELECT cent_id, list(m ORDER BY pos) AS mv FROM (
         |    SELECT cent_id, pos, avg(x) AS m FROM e$i GROUP BY 1, 2)
         |  GROUP BY 1),
         | c$i AS MATERIALIZED (SELECT c.cent_id,
         |    CASE WHEN m.cent_id IS NULL
         |        OR sqrt(list_dot_product(m.mv, m.mv)) = 0 THEN c.nv
         |      ELSE list_transform(m.mv, x ->
         |        x / sqrt(list_dot_product(m.mv, m.mv))) END AS nv
         |  FROM $prev c LEFT JOIN m$i m USING (cent_id))""".stripMargin
    }.mkString
    s""" c0 AS MATERIALIZED (SELECT
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |      AS cent_id, nv
       |  FROM v ORDER BY vec_id LIMIT $k)$steps""".stripMargin
  }

  /** Unrolled PQ codebook training + encoding over `v(vec_id, nv)` — the
    * [[lloydCtes]] companion for the PQ oracle graduations (t10/t11/t12).
    * Joint-subspace formulation: `sub(vec_id, mi, sv)` slices every
    * vector into `m` `dsub`-wide subvectors, `p0` = the first-`k` init
    * per subspace, then `iters` plain-L2 Lloyd steps (the trainer's
    * Σ(x−c)² form, strict-< argmin → lowest cent_id, mean update WITHOUT
    * normalization, empty cells keep their centroid) as `p1..p<iters>`,
    * and `enc(vec_id, mi, code)` re-derives PqEncode's EXPANDED
    * ‖c‖²−2x·c argmin — both kernels' left-assoc ascending-j arithmetic
    * reproduced term by term. Same ≤2048-vector precondition and
    * double-sum drift caveat as [[lloydCtes]]. */
  private def pqCtes(m: Int, k: Int, dsub: Int, iters: Int): String = {
    def d2(a: String, b: String): String =
      (1 to dsub).map(j => s"($a[$j] - $b[$j]) * ($a[$j] - $b[$j])")
        .mkString(" + ")
    val cn2 = (1 to dsub).map(j => s"p.cv[$j] * p.cv[$j]").mkString(" + ")
    val twoXC = (1 to dsub).map(j => s" - 2 * s.sv[$j] * p.cv[$j]").mkString
    val meanList = (1 to dsub).map(j => s"avg(sv[$j])")
      .mkString("list_value(", ", ", ")")
    val slice = (1 to dsub).map(j => s"v.nv[g.mi * $dsub + $j]")
      .mkString("list_value(", ", ", ")")
    val steps = (1 to iters).map { i =>
      val prev = s"p${i - 1}"
      s""",
         | pa$i AS (SELECT s.vec_id, s.mi, s.sv, p.cent_id,
         |    row_number() OVER (PARTITION BY s.vec_id, s.mi
         |      ORDER BY ${d2("s.sv", "p.cv")} ASC, p.cent_id) AS rn
         |  FROM sub s JOIN $prev p USING (mi)),
         | pm$i AS (SELECT mi, cent_id, $meanList AS mv
         |  FROM pa$i WHERE rn = 1 GROUP BY 1, 2),
         | p$i AS MATERIALIZED (SELECT p.mi, p.cent_id,
         |    CASE WHEN m.cent_id IS NULL THEN p.cv ELSE m.mv END AS cv
         |  FROM $prev p LEFT JOIN pm$i m ON p.mi = m.mi
         |    AND p.cent_id = m.cent_id)""".stripMargin
    }.mkString
    s""" sub AS MATERIALIZED (SELECT v.vec_id, g.mi, $slice AS sv
       |  FROM v, (SELECT unnest(generate_series(0, ${m - 1})) AS mi) g),
       | p0 AS MATERIALIZED (SELECT mi, cent_id, sv AS cv FROM (
       |    SELECT mi, sv, CAST(row_number() OVER (PARTITION BY mi
       |      ORDER BY vec_id) - 1 AS BIGINT) AS cent_id
       |    FROM sub) WHERE cent_id < $k)$steps,
       | enc AS MATERIALIZED (SELECT vec_id, mi, cent_id AS code FROM (
       |    SELECT s.vec_id, s.mi, p.cent_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.mi
       |        ORDER BY ($cn2)$twoXC ASC, p.cent_id) AS rn
       |    FROM sub s JOIN p$iters p USING (mi)) WHERE rn = 1)""".stripMargin
  }

  /** Unrolled fixed-iteration logistic-GD oracle for t53 — the
    * [[graft.operators.QualityModel.trainGd]] twin in pure DuckDB SQL,
    * one CTE pair per iteration: `p$i` scores the z-scored sample under
    * the previous weights, `g$i` averages the batch gradient, `w$i`
    * steps (`w ← w − lr · g`). Feature expressions are lifted verbatim
    * from q22 and q78 — and since BOTH structs round their ratio fields
    * to 6 decimals internally (`qualityStruct` AND `gopherStruct`),
    * every ratio here carries the same round(·, 6), making the GD input
    * bit-identical to `featurize`'s: integer-count divisions are
    * IEEE-exact in both engines and the round-6 snap is decimal-exact.
    * Unlike [[lloydCtes]], the trainer's bound is mirrored IN the SQL
    * (r13, advice item): `ftr` is the `ORDER BY doc_id LIMIT 2048`
    * slice of `f`, the stats + GD steps train on it, and the final
    * scoring z-scores ALL of `f` with the slice's stats — exactly
    * `trainGd`'s sample-then-score-everything shape, so the oracle
    * stays sound even if a fixture one day outgrows sampleSize (at the
    * current oracle SF the slice ≡ corpus and nothing changes). Same
    * double-drift caveat as lloydCtes: DuckDB's `avg`/`stddev_pop`
    * associate differently than the driver loop's ascending-id
    * left-assoc sums — the final round(·, 4) absorbs the ~1e-13 drift,
    * and the output has NO rank cut. The one residual discrete branch,
    * the zero-variance guard, compares `sd < 1e-12` on both sides
    * (NOT `= 0`): a constant feature yields sd exactly 0 under DuckDB's
    * Welford pass but ~1e-16 under the driver's two-pass sums, so an
    * equality guard would fire on one engine only — the epsilon makes
    * both engines take the same branch for every (near-)constant
    * feature, and a genuine sd landing within drift of 1e-12 itself is
    * the same astronomically-unlikely boundary class every rounded
    * oracle carries. `w$i` is MATERIALIZED (referenced by both
    * `p${i+1}` and `w${i+1}` — the t28/t37 inlining-explosion
    * lesson). */
  private def gdOracle(iters: Int, lr: Double): String = {
    val stopIn = TextFunctions.langLexicons.flatMap(_._2)
      .map(w => s"'$w'").mkString("(", ", ", ")")
    val feats = Seq(
      s"CAST(len(t) AS DOUBLE)",
      s"""round(CAST(length(text) - length(regexp_replace(text,
         |      '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE), 6)""".stripMargin,
      s"""round(CAST(len(list_filter(t, x -> x IN $stopIn)) AS DOUBLE)
         |    / CAST(CASE WHEN len(t) > 0 THEN len(t) ELSE 1 END
         |      AS DOUBLE), 6)""".stripMargin,
      s"""CASE WHEN len(t) > 0 THEN round(CAST(list_sum(
         |      list_transform(t, x -> length(x))) AS DOUBLE)
         |    / CAST(len(t) AS DOUBLE), 6) ELSE 0.0 END""".stripMargin,
      s"""round(CASE WHEN len(t) > 0 THEN CAST(length(text)
         |      - length(replace(text, '#', ''))
         |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |    / len(t) ELSE 0.0 END, 6)""".stripMargin,
      s"""round(CAST(len(list_filter(string_split(text, chr(10)),
         |      l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
         |    AS DOUBLE) / len(string_split(text, chr(10))), 6)"""
        .stripMargin,
      s"""round(CAST(len(list_filter(string_split(text, chr(10)),
         |      l -> ends_with(rtrim(l), '...')
         |        OR ends_with(rtrim(l), '…'))) AS DOUBLE)
         |    / len(string_split(text, chr(10))), 6)""".stripMargin,
      s"""round(CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t,
         |      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
         |    / len(t) ELSE 0.0 END, 6)""".stripMargin)
    val js = 1 to feats.length
    val xCols = js.map(j => s"\n    ${feats(j - 1)} AS x$j").mkString(",")
    val stCols = js.map(j =>
      s"avg(x$j) AS m$j, stddev_pop(x$j) AS d$j").mkString(",\n    ")
    def zExpr(j: Int, src: String): String =
      s"($src.x$j - st.m$j) / " +
        s"(CASE WHEN st.d$j < 1e-12 THEN 1 ELSE st.d$j END)"
    val zCols = js.map(j => s"${zExpr(j, "f")} AS z$j").mkString(",\n    ")
    val w0 = ("CAST(0.0 AS DOUBLE) AS b" +:
      js.map(j => s"CAST(0.0 AS DOUBLE) AS w$j")).mkString(", ")
    val margin = ("w.b" +: js.map(j => s"w.w$j * z.z$j")).mkString(" + ")
    val steps = (1 to iters).map { i =>
      val prev = s"w${i - 1}"
      val gCols = ("avg(p - y) AS gb" +:
        js.map(j => s"avg((p - y) * z$j) AS g$j")).mkString(",\n    ")
      val wCols = (s"w.b - $lr * g.gb AS b" +:
        js.map(j => s"w.w$j - $lr * g.g$j AS w$j")).mkString(",\n    ")
      s""",
         | p$i AS (SELECT z.y, ${js.map(j => s"z.z$j").mkString(", ")},
         |    1 / (1 + exp(-($margin))) AS p FROM ztr z, $prev w),
         | g$i AS (SELECT $gCols FROM p$i),
         | w$i AS MATERIALIZED (SELECT $wCols
         |  FROM $prev w, g$i g)""".stripMargin
    }.mkString
    // score off the full-corpus z CTE (z-scored with the TRAINING
    // slice's stats, like scoreGd's folded literals): training used
    // ztr, so the sample bound and the score-everything contract are
    // both explicit in the SQL
    val scoreMargin = ("w.b" +: js.map(j =>
      s"w.w$j * z.z$j")).mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, text, $toksSql AS t,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       | f AS MATERIALIZED (SELECT doc_id, y,$xCols
       |  FROM tk),
       | ftr AS MATERIALIZED (SELECT * FROM f ORDER BY doc_id
       |  LIMIT 2048),
       | st AS MATERIALIZED (SELECT
       |    $stCols
       |  FROM ftr),
       | ztr AS MATERIALIZED (SELECT f.doc_id, f.y,
       |    $zCols
       |  FROM ftr f, st),
       | z AS MATERIALIZED (SELECT f.doc_id, f.y,
       |    $zCols
       |  FROM f, st),
       | w0 AS (SELECT $w0)$steps
       |SELECT z.doc_id,
       |  round(1 / (1 + exp(-($scoreMargin))), 4) AS quality_prob
       |FROM z, w$iters w ORDER BY z.doc_id""".stripMargin
  }

  // ==========================================================================
  // Registry
  // ==========================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_project" -> (q02 _),
    "q03_topk" -> (q03 _),
    "q04_join_agg" -> (q04 _),
    "q05_distinct" -> (q05 _),
    "q06_dedup_first" -> (q06 _),
    "q07_argmin" -> (q07 _),
    "q08_union_agg" -> (q08 _),
    "q09_semi_join" -> (q09 _),
    "q10_anti_join" -> (q10 _),
    "q11_case_agg" -> (q11 _),
    "q12_having" -> (q12 _),
    "q13_rollup" -> (q13 _),
    "q14_window_rank" -> (q14 _),
    "q15_window_lag" -> (q15 _),
    "q16_tumbling_window" -> (q16 _),
    "q17_sessionize" -> (q17 _),
    "q18_pivot" -> (q18 _),
    "q19_json_extract" -> (q19 _),
    "q20_token_stats" -> (q20 _),
    "q21_lang_id" -> (q21 _),
    "q22_quality_score" -> (q22 _),
    "q23_dedup_exact" -> (q23 _),
    "q24_ngram_jaccard" -> (q24 _),
    "q25_minhash_lsh" -> (q25 _),
    "q26_simhash" -> (q26 _),
    "q27_embed_topk" -> (q27 _),
    "q28_embed_neardup" -> (q28 _),
    "q29_media_fingerprint" -> (q29 _),
    "q30_shipping_priority" -> (q30 _),
    "q31_local_supplier_volume" -> (q31 _),
    "q32_string_funcs" -> (q32 _),
    "q33_date_funcs" -> (q33 _),
    "q34_percentiles" -> (q34 _),
    "q35_scalar_subquery" -> (q35 _),
    "q36_in_subquery" -> (q36 _),
    "q37_array_agg" -> (q37 _),
    "q38_full_outer" -> (q38 _),
    "q39_custom_expr_sql" -> (q39 _),
    "q40_tfidf" -> (q40 _),
    "q41_bigram_freq" -> (q41 _),
    "q42_neardup_pipeline" -> (q42 _),
    "q44_asof_join" -> (q44 _),
    "q45_histogram" -> (q45 _),
    "q46_bpe_tokens" -> (q46 _),
    "q47_winnowing_fp" -> (q47 _),
    "q49_cube" -> (q49 _),
    "q50_moving_avg" -> (q50 _),
    "q51_dist_ranks" -> (q51 _),
    "q52_disjunctive_join" -> (q52 _),
    "q53_multi_count_distinct" -> (q53 _),
    "q54_argmax_agg" -> (q54 _),
    "q55_stat_aggs" -> (q55 _),
    "q56_regex_funcs" -> (q56 _),
    "q57_posexplode" -> (q57 _),
    "q58_token_entropy" -> (q58 _),
    "q59_hash_sample" -> (q59 _),
    "q60_split_assign" -> (q60 _),
    "q61_token_packing" -> (q61 _),
    "q62_range_join" -> (q62 _),
    "q63_chunk_dedup" -> (q63 _),
    "q64_dedup_clusters" -> (q64 _),
    "q65_curation_pipeline" -> (q65 _),
    "q66_repetition_ratio" -> (q66 _),
    "q67_decontamination" -> (q67 _),
    "q68_stratified_k" -> (q68 _),
    "q69_length_ntile" -> (q69 _),
    "q70_quality_select" -> (q70 _),
    "q71_incremental_ingest" -> (q71 _),
    "q72_bloom_decontaminate" -> (q72 _),
    "q73_vocab_build" -> (q73 _),
    "q74_pii_redaction" -> (q74 _),
    "q75_pmi_bigrams" -> (q75 _),
    "q76_pack_sequences" -> (q76 _),
    "q77_decontaminated_corpus" -> (q77 _),
    "q78_gopher_rules" -> (q78 _),
    "q79_importance_weights" -> (q79 _),
    "q80_lm_cross_entropy" -> (q80 _),
    "q81_bm25_topk" -> (q81 _),
    "q82_dup_spans" -> (q82 _),
    "q83_source_overlap" -> (q83 _),
    "q84_cluster_reps" -> (q84 _),
    "q85_temperature_mix" -> (q85 _),
    "q86_stupid_backoff" -> (q86 _),
    "q87_split_leakage" -> (q87 _),
    "q88_rank_fusion" -> (q88 _),
    "q89_source_dup_rates" -> (q89 _),
    "q90_tokenize_ids" -> (q90 _),
    "q91_quality_blend" -> (q91 _),
    "q92_boilerplate_strip" -> (q92 _),
    "q93_budget_select" -> (q93 _),
    "q94_char_repetition" -> (q94 _),
    "q95_epoch_mix" -> (q95 _),
    "q96_weighted_sample" -> (q96 _),
    "q97_ccnet_buckets" -> (q97 _),
    "q98_lang_mismatch" -> (q98 _),
    "q99_shard_assign" -> (q99 _),
    "q100_snapshot_diff" -> (q100 _),
    "q101_gram_novelty" -> (q101 _),
    "q102_label_drift" -> (q102 _),
    "q103_snapshot_drift" -> (q103 _),
    "q104_bpe_fertility" -> (q104 _),
    "q105_event_funnel" -> (q105 _),
    "q106_retention_cohorts" -> (q106 _),
    "q107_source_dup_matrix" -> (q107 _),
    "q108_event_paths" -> (q108 _),
    "q109_rate_anomalies" -> (q109 _),
    "q110_containment" -> (q110 _),
    "q111_chunk_stride" -> (q111 _),
    "q112_attribution" -> (q112 _),
    "q113_hashed_embedding" -> (q113 _),
    "q114_media_dedup" -> (q114 _),
    "q115_integrity_audit" -> (q115 _),
    "q117_knn_clusters" -> (q117 _),
    "q118_distinct_ngrams" -> (q118 _),
    "q116_column_profile" -> (q116 _),
    "q119_interevent_gaps" -> (q119 _),
    "q120_source_terms" -> (q120 _),
    "q121_zipf_slope" -> (q121 _),
    "q122_length_gini" -> (q122 _),
    "q123_event_lift" -> (q123 _),
    "q124_byte_entropy" -> (q124 _),
    "q125_rfm_segments" -> (q125 _),
    "q126_cohort_ltv" -> (q126 _),
    "q127_conversion_time" -> (q127 _),
    "q128_ivf_drift" -> (q128 _),
    "q129_neardup_ledger" -> (q129 _),
    "q130_ivfpq_err_drift" -> (q130 _),
    "q131_sq8_topk" -> (q131 _),
    "q132_sq8_delete_serve" -> (q132 _),
    "q133_ivfsq8_topk" -> (q133 _),
    "q134_neardup_forget" -> (q134 _),
    "q135_index_expire_serve" -> (q135 _),
    "q136_neardup_audit" -> (q136 _),
    "q137_pinned_generation_serve" -> (q137 _),
    "q138_media_sniff" -> (q138 _),
    "q139_media_header" -> (q139 _),
    "q140_jpeg_dims" -> (q140 _),
    "q141_mp4_header" -> (q141 _),
    "q142_neardup_ledger_stream" -> (q142 _),
    "q143_exact_ledger_stream" -> (q143 _),
    "q145_admit_epoch_lifecycle" -> (q145 _),
    "q146_ack_epoch_retention" -> (q146 _),
    "q147_mp4_deep_moov" -> (q147 _),
    "q148_neardup_audit_stream" -> (q148 _),
    "q149_stream_health" -> (q149 _),
    "q150_exact_audit_stream" -> (q150 _),
    "q151_retire_consumer" -> (q151 _),
    "q152_compression_census" -> (q152 _),
    "q153_encoding_census" -> (q153 _),
    "q154_url_census" -> (q154 _),
    "q155_warc_walk" -> (q155 _),
    "q156_script_census" -> (q156 _),
    "q157_crawl_ingest" -> (q157 _),
    "q158_html_extract" -> (q158 _),
    "q159_crawl_ledger_stream" -> (q159 _),
    "q160_robots_rules" -> (q160 _),
    "q161_robots_verdict" -> (q161 _),
    "q162_sitemap_walk" -> (q162 _),
    "t46_service_latency_b" -> ((s: SparkSession, _: String) => t46(s)),
    "t47_interevent_gaps_b" -> (t47 _),
    "t48_op_anomalies_b" -> ((s: SparkSession, _: String) => t48(s)),
    "t49_conversion_time_b" -> (t49 _),
    "t50_knn_clusters_ivf" -> (t50 _),
    "t51_rfm_segments_b" -> (t51 _),
    "t52_ivf_append_serve" -> (t52 _),
    // Hard-negative mining (contrastive training data): top-5 non-dup
    // neighbors for 10 deterministic query vectors; near-dups above
    // cos 0.95 are excluded as disguised positives. Candidate
    // generation composes with ivfTopK at corpus scale (same contract).
    "t23_hard_negatives" -> ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") % 40 === 0),
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("neg_rank"))
    }),
    "q48_simhash_neardup" -> ((s: SparkSession, dir: String) =>
      // the banded (production) search; oracle = all-pairs ground truth,
      // equal by pigeonhole recall 1 + exact hamming verify
      Dedup.simHashNearDupsBanded(docs(s, dir), "doc_id", "text",
        maxDist = 1)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("doc_a"), col("doc_b"))),
    "q144_simhash60_banded" -> ((s: SparkSession, dir: String) =>
      // the corpus-scale geometry the scaladoc recommends (bits = 60,
      // 4 pigeonhole bands of 15 bits): same all-pairs oracle rule,
      // recall 1 by construction at maxDist 3
      Dedup.simHashNearDupsBanded(docs(s, dir), "doc_id", "text",
        maxDist = 3, bits = 60)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("doc_a"), col("doc_b"))),
    // --- trained / approximate / sketch ops ------------------------------
    // (the trained-clustering family graduated to full DuckDB oracles in
    // r11 via the lloydCtes/pqCtes unrolls — t08-t12, t15, t16, t25,
    // t26, t32; r12 graduated the quality trainer via its GD twin t53
    // [gdOracle] AND the critical-path automaton t03/t30 [CritSql];
    // the sketch entries, the bloom gate, and t24's L-BFGS itself stay
    // rows-only by design)
    "t08_similarity_ivf" -> ((s: SparkSession, dir: String) => {
      // serve path: probe the once-built session-cached index — the r2
      // entry retrained centroids + re-assigned every cell per rep, timing
      // the build the build/save/load split exists to avoid
      Similarity.ivfTopKFromIndex(ivfIndex(s, dir),
        emb(s, dir).filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),
    "t09_ivf_build" -> ((s: SparkSession, dir: String) => {
      // the build phase measured on its own: fresh (uncached) centroids +
      // cell assignment, reported as per-cell occupancy
      val (_, assigned) =
        Similarity.buildIvfIndex(emb(s, dir), "vec_id", "embedding")
      assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("cell"))
    }),
    "t10_pq_topk" -> ((s: SparkSession, dir: String) => {
      // PQ serve: LUT-scored code-word scan + exact rerank of the top
      // ADC candidates, from the session-cached encoded corpus
      Similarity.pqTopKFromIndex(pqIndex(s, dir), emb(s, dir),
        emb(s, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),
    "t11_pq_build" -> ((s: SparkSession, dir: String) => {
      // uncached codebook training + corpus encoding, reported as code
      // histogram of the first subspace (deterministic, small)
      val (_, codes) =
        Similarity.buildPqIndex(emb(s, dir), "vec_id", "embedding")
      codes.select(get(col("codes"), lit(0)).as("code0"))
        .groupBy(col("code0")).agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("code0"))
    }),
    "t14_quantile_buckets" -> ((s: SparkSession, dir: String) => {
      // q69's scale path: sketch-edged quantile bucketing (no global
      // sort/window). Rows-only: the sketch's merge order isn't an ANSI
      // SQL semantic to mirror; the spec pins it against exact ntile
      Curation.quantileBuckets(docs(s, dir), "n_chars", 4)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket"))
    }),
    "t13_contamination_gate" -> ((s: SparkSession, dir: String) => {
      // the streaming-shape ingest gate: literal-bloom per-row score
      // (approximate, >= the exact count by construction — rows-only
      // here; q72 is the exact batch confirm). The bench bloom is
      // session-cached like the ANN indexes: a gate in front of a
      // stream is built once and serves every batch
      val d = docs(s, dir)
      val bloom = bloomCache.computeIfAbsent(ckey(s, dir),
        _ => Dedup.benchGramBloom(
          d.filter(col("doc_id") % 23 === 0), "doc_id", "text", n = 4))
      // no_pushdown fence: this predicate costs a full tokenize+shingle+
      // probe per row — pushed below the repartition it lands in the
      // (single-split) scan stage and the whole gate runs on ONE task
      // (round-4 driver detail: wall 4.61 s ≈ run 4.68 s). Fenced, the
      // score evaluates once, post-shuffle, 32-way parallel.
      Dedup.contaminationScore(d.filter(col("doc_id") % 23 =!= 0),
        "doc_id", "text", 4, bloom)
        .filter(graft.expressions.NoPushdown.noPushdown(
          col("n_maybe_shared") > 0))
        .orderBy(col("doc"))
    }),
    "t12_ivfpq_topk" -> ((s: SparkSession, dir: String) => {
      // composed IVF+PQ serve: cell equi-join bounds WHICH rows score,
      // PQ codes bound the bytes each scoring touches; exact rerank last
      Similarity.ivfPqTopKFromIndex(ivfPqIndex(s, dir), emb(s, dir),
        emb(s, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q43_session_window_batch" -> ((s: SparkSession, dir: String) =>
      // native session_window in batch mode (streaming twin: TraceStreams);
      // window start = first event's ts, so the lag+cumsum oracle matches.
      // The ~1.3 s partial session merge runs in the scan stage — ONE
      // task locally because events is a single parquet split. That is
      // the scale-correct plan (partial agg before the shuffle cuts
      // 100k rows to ~9.5k; at 100 TB the scan stage has a task per
      // split); pre-partitioning by user_id was measured SLOWER here
      // (1.75 s vs 1.27 s) because it ships raw rows to buy parallelism
      // the corpus is too small to repay
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("session_window.start")).as("sess_start_us"),
          col("user_id"), col("n_events"))
        .orderBy(col("user_id"), col("sess_start_us"))),
    "t07_approx_sketches" -> ((s: SparkSession, dir: String) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          expr("approx_percentile(l_extendedprice, 0.5)").as("approx_p50"))
        .orderBy(col("l_returnflag"))),
    // MERGEABLE distinct-count sketches (DataSketches HLL): per-(source,
    // lang) slice sketches union-merge to exactly the direct per-source
    // sketch — HLL register updates are order-independent maxes, so
    // incremental/per-shard corpus monitoring at 100 TB needs no
    // full-corpus re-scan, only a sketch-merge. The equality flag is the
    // point: merge ≡ direct, deterministically (pinned by spec).
    "t18_sketch_merge" -> ((s: SparkSession, dir: String) => {
      val tok = docs(s, dir).select(col("source"), col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      val merged = tok.groupBy(col("source"), col("lang"))
        .agg(expr("hll_sketch_agg(w)").as("sk"))
        .groupBy(col("source"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("merged_distinct"))
      val direct = tok.groupBy(col("source"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(w))")
          .as("direct_distinct"))
      merged.join(direct, Seq("source"))
        .select(col("source"), col("merged_distinct"),
          col("direct_distinct"),
          (col("merged_distinct") === col("direct_distinct"))
            .as("merge_exact"))
        .orderBy(col("source"))
    }),
    // q83's diagnostic at the 100-TB scale: the exact distinct self-join
    // shuffles a vocabulary-sized table per source pair; this form
    // reduces each source to ONE HLL sketch row (mergeable, map-side
    // partial) and estimates pairwise Jaccard by inclusion-exclusion —
    // |A∩B| ≈ |A|+|B|−|A∪B| with the union estimated from hll_union of
    // the two sketches. The pair join is over the source-bounded sketch
    // table (broadcast both sides), never the corpus. lgConfigK=16 holds
    // the relative error near 0.4% (error-bound spec pins the estimates
    // against q83's exact numbers); q83 stays the oracled exact baseline.
    "t20_overlap_sketch" -> ((s: SparkSession, dir: String) =>
      Dedup.vocabOverlapSketch(docs(s, dir), "source", "text")
        .orderBy(col("src_a"), col("src_b"))),
    // Heavy-hitter monitoring with count-min sketches: each source folds
    // its token stream into ONE fixed-width CMS row (mergeable, map-side
    // partial — Spark's codegen'd count_min_sketch aggregate), and the
    // merged sketch answers point-frequency queries for the corpus-wide
    // exact top-k. The query output is ONLY the oracle-able exact side
    // (token, exact_cnt — hash-exact vs DuckDB); the CMS machinery —
    // mergeable per-source sketches, merged ≡ single-pass, one-sided
    // error bound per row — lives in [[heavyHitterBounds]] and is
    // spec-pinned (it is not ANSI-expressible). In production the exact
    // candidate set comes from per-partition top-k unioned (a superset
    // of any true heavy hitter by pigeonhole) and the CMS tracks token
    // frequencies incrementally across ingest batches.
    "t21_heavy_hitters" -> ((s: SparkSession, dir: String) =>
      docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("token")).limit(20)),
    // Model-based quality filter (GPT-3-style reference-vs-crawl
    // classifier): logistic regression on the narrow surface-quality
    // features, label = lang=='en' (the reference slice, as q79/q80 use
    // it), scored corpus-wide; top-20 by P(reference-like). Training is
    // corpus-bounded here and sample-bounded at 100 TB; scoring is one
    // narrow broadcast-coefficients pass. No ANSI oracle for the L-BFGS
    // fit — pinned by the planted-separability + retrain-stability spec.
    "t24_quality_model" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val feats = QualityModel.featurize(d, "doc_id", "text")
      val labeled = feats.join(
        d.select(col("doc_id"),
          (col("lang") === "en").cast("double").as("label")), Seq("doc_id"))
      val model = QualityModel.train(labeled, "label")
      QualityModel.score(feats, model, "doc_id")
        .orderBy(col("quality_prob").desc, col("doc_id")).limit(20)
    }),
    // Oracle-able trainer twin of t24 (r11 verdict ask #2): fixed-
    // iteration batch-GD logistic regression on the same features and
    // label, trained on the deterministic lowest-2048-ids slice
    // (≡ corpus at oracle SF — the lloydCtes precedent) and scored
    // corpus-wide as one literal-folded codegen'd projection. Output is
    // ALL docs ordered by id — no rank cut, so the unrolled [[gdOracle]]
    // has zero discrete-decision surface and round-4 absorbs the
    // cross-engine avg-association drift. t24 stays the production
    // L-BFGS path; this entry makes the trainer family hash-auditable.
    "t53_quality_gd" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val feats = QualityModel.featurize(d, "doc_id", "text")
      val labeled = feats.join(
        d.select(col("doc_id"),
          // when/otherwise, not a bare cast: a null lang must label 0.0
          // (matching the oracle's CASE), never null — trainGd's
          // driver-side getDouble would throw on a null label
          when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
            .as("label")), Seq("doc_id"))
      val model = QualityModel.trainGd(labeled, "doc_id", "label",
        iters = 10, lr = 0.5)
      QualityModel.scoreGd(feats, model, "doc_id")
        .orderBy(col("doc_id"))
    }),
    // Real BPE tokenizer training ([[BpeTrainer]]): the corpus collapses
    // to its word-frequency table in ONE pass, then every merge
    // iteration runs on that vocabulary-bounded table — pair counting is
    // a map-side-combined groupBy-sum, the argmax is one collected row,
    // the merge application a narrow HOF fold. Iterative like t17's
    // cluster build. Fully oracled (graduated r11): the DuckDB side
    // unrolls all 30 merge rounds — pair counts, the lexicographic
    // argmax, and the greedy merge as a list_reduce fold; the
    // planted-corpus spec (hand-derived Sennrich et al. merge sequence)
    // and the encode round-trip property still pin semantics
    // independently.
    "t22_bpe_train" -> ((s: SparkSession, dir: String) =>
      graft.functions.BpeTrainer.train(docs(s, dir), "text", 30)
        .orderBy(col("rank"))),
    "t04_media_features" -> ((s: SparkSession, dir: String) =>
      // `features` rendered as a bracketed integer-thousandths string:
      // the driver's row comparator sorts on every column and cannot
      // sort raw arrays, and integers render identically in Spark and
      // DuckDB where float JSON would not — this is what lets t04 carry
      // a full hash oracle (the stub features are exact k/1000 values,
      // so round(f*1000) recovers k losslessly)
      Multimodal.decodeAndFeaturize(
        Multimodal.fromText(docs(s, dir), "doc_id", "text", "text"))
        .toDF()
        .withColumn("features", concat(lit("["),
          array_join(transform(col("features"),
            f => round(f * 1000).cast("int").cast("string")), ","),
          lit("]")))
        .orderBy(col("id"))),
    "t05_frame_sample" -> ((s: SparkSession, dir: String) =>
      Multimodal.sampleFrames(
        Multimodal.fromText(docs(s, dir), "doc_id", "text", "text"),
        stride = 64)
        .select(col("id"), col("frame_no"), col("frame_bytes"))
        .orderBy(col("id"), col("frame_no"))),
    // Sign-bucket LSH top-k — fully oracled: the seeded hyperplanes are
    // reproducible, so the DuckDB side replays them as list literals
    // (bucketing + in-bucket exact cosine in plain ANSI).
    "t06_similarity_lsh" -> ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),
    // SemDeDup (cluster-bucketed embedding near-dup): k-means cells bound
    // the candidate pairs, assignment is a map-only literal argmax.
    // Fully oracled (r11, lloydCtes unroll); also pinned by the
    // nCentroids=1 ≡ brute-force and planted-twin specs.
    "t15_semantic_dedup" -> ((s: SparkSession, dir: String) => {
      Similarity.semanticNearDupPairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.35, nCentroids = 16)
        .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
    }),
    // Distributed Lloyd refinement of the sampled k-means seed — the
    // 100-TB training path: per iteration one map-only literal-argmax
    // assignment scan + one Summarizer partial-agg (partitions×k vector
    // sums on the wire, never rows). Output: per-cell size, mean
    // centroid similarity, and cosine(initial, refined) per centroid.
    // Fully oracled (r11, lloydCtes unroll: init = c4, refined = c7);
    // also pinned by the planted-cluster recovery, objective
    // monotonicity, and partition-invariance specs.
    "t25_kmeans_refine" -> ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val init = Similarity.trainCentroids(e, "vec_id", "embedding", 8)
      val refined = Similarity.refineCentroids(e, init, "embedding",
        iters = 3)
      val shift = init.select(col("cent_id"), col("centv").as("iv"))
        .join(refined.select(col("cent_id"), col("centv").as("rv")),
          Seq("cent_id"))
        .select(col("cent_id"),
          // both sides unit-norm → dot IS the cosine drift of the
          // centroid under full-corpus refinement
          round(Similarity.dotCol(col("iv"), col("rv")), 4)
            .as("init_sim"))
      Similarity.assignWithSim(e, refined, "vec_id", "embedding")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("cent_sim")), 4).as("mean_sim"))
        .join(broadcast(shift), col("cell") === col("cent_id"))
        .select(col("cell"), col("n"), col("mean_sim"), col("init_sim"))
        .orderBy(col("cell"))
    }),
    // Embedding-space outlier audit (mis-embedded / poisoned-document
    // detector): per-cell z-score of own-centroid similarity, global
    // topN via TakeOrderedAndProject. Fully oracled (graduated r11): at
    // the oracle's ≤2048-vector scale the deterministic training sample
    // IS the corpus ordered by vec_id, so the DuckDB side re-derives
    // the whole pipeline — first-8 init, 4 trainer + 2 refine Lloyd
    // iterations (one shared update rule), argmax assignment, cell
    // stats, z, top-20 — as 6 unrolled MATERIALIZED iteration CTEs (the
    // t28 pattern); the planted-outlier spec still pins semantics at
    // scales where sampling engages.
    "t26_embed_outliers" -> ((s: SparkSession, dir: String) =>
      Similarity.embeddingOutliers(emb(s, dir), "vec_id", "embedding",
        nCentroids = 8, refineIters = 2, topN = 20)),
    // The per-source "corpus card" — the one-table daily report a data
    // team reads: volume (docs, tokens, chars), language mix (langid
    // en-fraction), surface quality (micro-exact mean punct/stop
    // ratios), LM quality (micro-exact mean cross-entropy, q80's shared
    // table), and near-dup rate (q89's cached cluster table). Fully
    // oracled (graduated r11): the DuckDB side composes the q21/q22/
    // q80/q89 derivations end to end and joins them on the
    // #sources-bounded key. Means use the q97 lesson (exact micro-unit
    // long sums, order-independent). One text scan computes every
    // surface signal.
    "t27_corpus_card" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val surface = d.select(col("doc_id"), col("source"),
          TextFunctions.langId(col("text")).as("pred"),
          TextFunctions.qualityStruct(col("text")).as("q"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("q.n_tokens").cast("long")).as("total_tokens"),
          sum(col("q.n_chars").cast("long")).as("total_chars"),
          sum(when(col("pred") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(round(col("q.punct_ratio") * 1e6, 0).cast("long"))
            .as("punct_mu"),
          sum(round(col("q.stop_ratio") * 1e6, 0).cast("long"))
            .as("stop_mu"))
      val ce = d.select(col("doc_id"), col("source"))
        .join(crossEntropyScores(s, dir), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(round(col("cross_entropy") * 1e6, 0).cast("long"))
          .as("ce_mu"), count(lit(1)).as("ce_n"))
      val dup = d.select(col("doc_id"), col("source"))
        .join(dupClusters(s, dir), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(sum(when(col("cluster").isNotNull, 1L).otherwise(0L))
          .as("n_dup"))
      surface.join(ce, Seq("source")).join(dup, Seq("source"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("total_chars"),
          round(col("n_en").cast("double") / col("n_docs"), 6)
            .as("en_frac"),
          round(col("punct_mu").cast("double") / col("n_docs") / 1e6, 6)
            .as("mean_punct_ratio"),
          round(col("stop_mu").cast("double") / col("n_docs") / 1e6, 6)
            .as("mean_stop_ratio"),
          round(col("ce_mu").cast("double") / col("ce_n") / 1e6, 6)
            .as("mean_ce"),
          round(col("n_dup").cast("double") / col("n_docs"), 6)
            .as("dup_rate"))
        .orderBy(col("source"))
    }),
    // cluster-balanced subsample — fully oracled (r11): the hash60 pick
    // order is engine-portable, so the oracle checks EXACT membership;
    // determinism + balance also pinned by spec tests
    "t16_cluster_sample" -> ((s: SparkSession, dir: String) => {
      Similarity.clusterBalancedSample(emb(s, dir), "vec_id", "embedding",
        nClusters = 8, perCluster = 16)
        .orderBy(col("cluster"), col("pick"))
    }),
    // The complete curation DAG in ONE composed plan — the pipeline the
    // individual operators exist for: Gopher quality gate → exact dedup
    // keep-first → LSH near-dup drop → bloom-gated decontamination vs
    // the doc_id%50==0 bench slice → hash split → train-split token
    // packing. Output = per-source survivor counts at every stage.
    // Fully oracled (graduated r11): the DuckDB side chains all six
    // stage derivations (q78 at minWords=20, md5 keep-first, the q42
    // exact-Jaccard drop set over the stage survivors, q67's gram
    // decontamination at the >= 5 floor, q60's split, q61's packing) in
    // one SQL; the spec additionally pins per-source monotone shrinkage
    // across stages.
    "t19_curation_dag" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      def stage(df: DataFrame, name: String): DataFrame = df
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .withColumn("stage", lit(name))
      // each stage boundary is localCheckpointed: the survivor-count
      // report reads every stage (6 union branches), and downstream
      // stages are derived from upstream ones — without materialization
      // the quality gate would re-run per branch and the LSH drop per
      // consumer (measured: wall 5.5 s → 3.4 s at sf0.1). This is
      // exactly where a production DAG writes its stage tables.
      val g = d
        .select(col("doc_id"), col("source"), col("text"),
          TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("gs", TextFunctions.gopherStruct(
          col("text"), col("toks"), minWords = 20))
        .filter(col("gs.keep"))
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint()
      val ex = g.withColumn("rn", graft.operators.Ranks.cutRank(s,
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id")), 1))
        .filter(col("rn") === 1).drop("rn")
        .localCheckpoint()
      val nd = ex.join(
        Dedup.nearDupDrops(ex.select(col("doc_id"), col("text")),
          "doc_id", "text")
          .select(col("dropped").as("doc_id")),
        Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val train0 = nd.filter(col("doc_id") % 50 =!= 0)
      val hits = Dedup.decontaminationHits(
          train0.select(col("doc_id"), col("text")),
          d.filter(col("doc_id") % 50 === 0)
            .select(col("doc_id"), col("text")),
          "doc_id", "text")
        .filter(col("n_shared") >= 5).select(col("doc").as("doc_id"))
      val clean = train0.join(hits, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val sp = Curation.assignSplit(clean, "doc_id", 8000, 1000)
      val packed = Curation.packTokens(
        sp.filter(col("split") === "train"), "doc_id", "source",
        "text", 4096)
      stage(d, "0_raw")
        .unionByName(stage(g, "1_quality"))
        .unionByName(stage(ex, "2_exact"))
        .unionByName(stage(nd, "3_neardup"))
        .unionByName(stage(clean, "4_decontam"))
        .unionByName(packed.groupBy(col("source"))
          .agg((max(col("bin")) + 1).as("n"))
          .withColumn("stage", lit("5_train_bins")))
        .select(col("stage"), col("source"), col("n"))
        .orderBy(col("stage"), col("source"))
    }),
    // the UNCACHED near-dup clustering build (q64/q84 serve from the
    // session cache — same build-vs-serve split as t09/t11 vs t08/t10;
    // this entry keeps the iterative label propagation's true cost an
    // honest, separately-timed line in the bench)
    "t17_cluster_build" -> ((s: SparkSession, dir: String) => {
      Dedup.connectedComponents(
        Dedup.ngramJaccard(docs(s, dir), "doc_id", "text",
          threshold = 0.8))
        .select(col("node").as("doc_id"), col("lbl").as("cluster"))
        .orderBy(col("doc_id"))
    }),
    // --- trace engine: oracled via the raw-structure fixture export -------
    // (FixtureOracle writes pure-posexplode parquet; the DuckDB SQL below
    // re-derives summarize/flatten semantics independently → hash-equality
    // on the engine's core domain, not just rows>0)
    "t01_trace_summary" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      TraceFrame.tracesFromJaegerFile(s, fx)
        .select(col("traceID"), col("traceName"),
          col("nspans").cast("long").as("nspans"),
          col("errspans").cast("long").as("errspans"),
          col("duration").as("duration_us"),
          unix_micros(col("startTime")).as("start_us"),
          col("iserror").cast("long").as("iserror"))
        .orderBy(col("traceID"))
    }),
    "t02_span_flatten" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("flags"),
          col("operationName"),
          col("startTime").as("start_us"), col("duration").as("duration_us"),
          col("processID"), col("service"), col("parent"),
          // canonical scalar rendering of the tag map (sorted k=v pairs):
          // array columns crash the driver's row comparator
          concat_ws("|", array_sort(transform(map_entries(col("tags")),
            e => concat(e.getField("key"), lit("="), e.getField("value")))))
            .as("tags_str"))
        .orderBy(col("traceID"), col("spanID"))
    }),
    // Fully oracled as of r12 ([[CritSql]]): the automaton's per-trace
    // sweep — leader stack, outstanding-children sets, segment tiling —
    // replays in DuckDB as a serialized-state list_reduce fold over the
    // raw fixture export, hash-exact (integer µs, no rounding). The
    // golden-parity + tiling/permutation specs remain as independent
    // pins.
    "t03_critical_path" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      // spanID tiebreaker matches CritSql.t03's ORDER BY exactly: the
      // automaton can emit zero-duration segments, so two segments in a
      // trace may share startTime and a (traceID, startTime)-only sort
      // would leave the order-sensitive hash at the planner's mercy
      SparkEntry.entry(s)
        .orderBy(col("traceID"), col("startTime"), col("spanID"))
    }),
    // Per-service span SELF-time (exclusive time = duration − Σ direct
    // children): the flame-graph metric trace UIs report. Fully oracled
    // against the raw fixture export (parent via first CHILD_OF ref).
    "t29_span_selftime" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("parent"),
          col("service"), col("duration"))
      val childSum = sp.filter(col("parent") =!= "")
        .groupBy(col("traceID"), col("parent").as("spanID"))
        .agg(sum(col("duration")).as("child_dur"))
      sp.join(childSum, Seq("traceID", "spanID"), "left")
        .withColumn("self_us",
          col("duration") - coalesce(col("child_dur"), lit(0L)))
        .groupBy(col("service"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("duration")).as("total_us"),
          sum(col("self_us")).as("self_us"))
        .orderBy(col("service"))
    }),
    // Self-contained text ANN: hashing-trick embeddings feed the
    // trained-IVF search — semantic-ish retrieval with ZERO external
    // models (the full pipeline a user gets out of the box). Rows-only
    // (trained cells); the embedding itself is oracled as q113 and the
    // twin-retrieval spec pins end-to-end correctness.
    "t32_text_ann" -> ((s: SparkSession, dir: String) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextFunctions.hashedEmbedding(col("text"), 64).as("embedding"))
      Similarity.ivfTopK(d, d.filter(col("doc_id") < 5), "doc_id",
          "embedding", k = 3, nCentroids = 8, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),
    // Critical-path service attribution: which services own the
    // system's latency — per-service share of distributed critical-path
    // segments (composes the A1 automaton with a bounded agg). Fully
    // oracled as of r12: aggregates [[CritSql]]'s replayed segments.
    "t30_critpath_services" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      SparkEntry.entry(s)
        .groupBy(col("service"))
        .agg(count(lit(1)).as("n_segments"),
          sum(col("duration")).as("crit_us"))
        .orderBy(col("service"))
    }),
    // Error-origin attribution: per trace, the FIRST error span (min
    // startTime, spanID tie-break) — which service is where failures
    // START, as opposed to where they surface. Fully oracled from the
    // raw fixture export (error TAGS, reference errcount semantics).
    "t31_error_origin" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
      val w = Window.partitionBy(col("traceID"))
        .orderBy(col("startTime"), col("spanID"))
      sp.filter(col("tags").getItem("error").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("service"))
        .agg(count(lit(1)).as("n_traces_originated"))
        .orderBy(col("service"))
    }),
    // Per-service latency percentiles — the SLO dashboard table (p50/
    // p95/p99 span durations + error-tagged span rate). Exact
    // interpolated percentiles pinned Spark↔DuckDB by q34's machinery;
    // fully oracled against the raw fixture export. The `percentile()`
    // buffer is group-size-unbounded — deliberate oracle-simple
    // baseline; the 100-TB path is the bounded twin t46 (same oracle).
    "t33_service_latency" -> ((s: SparkSession, _: String) => {
      fixtureSpansWithErr(s)
        .groupBy(col("service"))
        .agg(count(lit(1)).as("n_spans"),
          round(expr("percentile(duration, 0.5)"), 4).as("p50_us"),
          round(expr("percentile(duration, 0.95)"), 4).as("p95_us"),
          round(expr("percentile(duration, 0.99)"), 4).as("p99_us"),
          sum(col("is_err")).as("n_err_spans"))
        .orderBy(col("service"))
    }),
    // Service-dependency PageRank over the parent→child call graph —
    // which services the system structurally leans on. Edge aggregation
    // is the only corpus-scale stage (#services²-bounded output); the
    // power iteration runs on the bounded graph. Fully oracled: the
    // DuckDB side unrolls the same 20 damped updates as chained CTEs
    // (plus the hand-checkable-graph spec + mass conservation).
    "t28_service_pagerank" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
      val edges = graft.analysis.ServiceGraph.dependencyEdges(sp)
      graft.analysis.ServiceGraph.pageRank(edges, iters = 20)
        .select(col("service"), round(col("rank"), 6).as("rank"))
        .orderBy(col("service"))
    }),
    // Trace structural fingerprint: md5 over the SORTED multiset of
    // "parent_node>child_node" call edges (node = service:operation;
    // roots/orphans anchor on ROOT) — groups traces by request SHAPE,
    // the primitive behind shape-aware trace sampling ("keep 3 per
    // shape") and "new shape appeared" alerting. Per-trace state is one
    // trace's edges; shapes output is shape-cardinality bounded. Fully
    // oracled vs the raw fixture export.
    "t34_trace_shape" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("parent"),
          concat_ws(":", col("service"), col("operationName")).as("node"))
      val par = sp.select(col("traceID").as("tid"),
        col("spanID").as("pid"), col("node").as("p_node"))
      val edges = sp.join(par, col("traceID") === col("tid") &&
          col("parent") === col("pid"), "left")
        .select(col("traceID"), concat_ws(">",
          coalesce(col("p_node"), lit("ROOT")), col("node")).as("edge"))
      edges.groupBy(col("traceID"))
        .agg(md5(concat_ws("|", sort_array(collect_list(col("edge")))))
          .as("shape"))
        .groupBy(col("shape"))
        .agg(count(lit(1)).as("n_traces"),
          min(col("traceID")).as("exemplar"))
        .orderBy(col("shape"))
    }),
    // Span idle-gap / child-parallelism analysis: per parent span, the
    // interval UNION of its (parent-window-clamped) children separates
    // self-blocking idle time (duration − covered) from concurrent
    // child overlap (Σchild − covered) — are children serial or
    // parallel, and where does waiting live. The union is the classic
    // running-max window per (trace, parent) — state bounded by one
    // parent's children; all math integer µs, so the oracle comparison
    // is exact. Fully oracled vs the raw fixture export.
    "t35_span_gaps" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("parent"),
          col("service"), col("startTime"), col("duration"))
      val par = sp.select(col("traceID").as("tid"),
        col("spanID").as("pid"), col("service").as("p_service"),
        col("startTime").as("ps"),
        (col("startTime") + col("duration")).as("pe"),
        col("duration").as("p_dur"))
      val kids = sp.filter(col("parent") =!= "")
        .select(col("traceID"), col("parent"), col("spanID").as("cid"),
          col("startTime").as("cs0"),
          (col("startTime") + col("duration")).as("ce0"))
      val j = kids.join(par, col("traceID") === col("tid") &&
          col("parent") === col("pid"))
        .withColumn("cs", greatest(col("cs0"), col("ps")))
        .withColumn("ce", least(col("ce0"), col("pe")))
        .filter(col("ce") > col("cs"))
      val w = Window.partitionBy(col("tid"), col("pid"))
        .orderBy(col("cs"), col("ce"), col("cid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val perParent = j.withColumn("pmax", max(col("ce")).over(w))
        .withColumn("inc", greatest(lit(0L),
          col("ce") - greatest(col("cs"), coalesce(col("pmax"), col("cs")))))
        .groupBy(col("tid"), col("pid"), col("p_service"), col("p_dur"))
        .agg(sum(col("inc")).as("covered"),
          sum(col("ce") - col("cs")).as("child_clamped"))
      perParent.groupBy(col("p_service").as("service"))
        .agg(count(lit(1)).as("n_parent_spans"),
          sum(col("p_dur")).as("parent_us"),
          sum(col("covered")).as("covered_us"),
          sum(col("p_dur") - col("covered")).as("idle_us"),
          sum(col("child_clamped") - col("covered")).as("overlap_us"))
        .orderBy(col("service"))
    }),
    // Per-operation latency anomalies by median/MAD (robust z — the
    // outlier detector that survives heavy-tailed latency where
    // mean/stddev drowns): spans with |d − med| > 3·MAD, summarized per
    // (service, operation). Durations are integer µs, so med/MAD land
    // on .0/.5 and every comparison is EXACT double arithmetic — no FP
    // boundary hazard vs the oracle. Two bounded passes (group stats
    // are #operations-sized, broadcast back). Fully oracled. Both
    // `percentile()` buffers are group-size-unbounded — deliberate
    // oracle-simple baseline; the 100-TB path is the bounded twin t48
    // (same oracle, both passes through the spilling window rank).
    "t36_op_anomalies" -> ((s: SparkSession, _: String) => {
      val sp = fixtureOpDurations(s)
      val med = sp.groupBy(col("service"), col("operationName"))
        .agg(expr("percentile(duration, 0.5)").as("med"))
      val stats = sp.join(med, Seq("service", "operationName"))
        .withColumn("adev",
          abs(col("duration").cast("double") - col("med")))
        .groupBy(col("service"), col("operationName"))
        .agg(count(lit(1)).as("n_spans"), first(col("med")).as("med"),
          expr("percentile(adev, 0.5)").as("mad"))
      sp.join(stats, Seq("service", "operationName"))
        .withColumn("is_anom", when(col("mad") > 0 &&
          abs(col("duration").cast("double") - col("med")) >
            lit(3.0) * col("mad"), 1L).otherwise(0L))
        .groupBy(col("service"), col("operationName"))
        .agg(first(col("n_spans")).as("n_spans"),
          round(first(col("med")), 4).as("med_us"),
          round(first(col("mad")), 4).as("mad_us"),
          sum(col("is_anom")).as("n_anomalies"))
        .orderBy(col("service"), col("operationName"))
    }),
    // Per-trace call-depth census: max parent-chain depth + span count
    // — the "how deep do our call stacks go" structural profile (pairs
    // with t34's shape census; a depth-growth regression is a classic
    // microservice smell). The per-trace depth walk is the
    // [[graft.analysis.TraceDepth]] kernel behind the same narrow
    // groupByKey shuffle as A2; orphan parents anchor at depth 1 and a
    // step cap breaks malformed cycles deterministically (planted
    // cycle/orphan spec: TraceDepthSpec). Fully oracled: the DuckDB
    // side re-derives depths with a recursive CTE over the raw fixture
    // export.
    "t38_trace_depth" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      import s.implicits._
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("parent"))
        .as[(String, String, String)]
      graft.analysis.TraceDepth.maxDepths(sp).orderBy(col("traceID"))
    }),
    // Per-service PEAK span concurrency — the capacity-planning census
    // ("how many spans does this service run at once at the worst
    // moment"): classic sweep line as a per-service running sum over
    // ±1 call/return events, returns ordered BEFORE calls at equal
    // timestamps so back-to-back spans don't count as concurrent.
    // Integer events, deterministic peak (order among equal (ts, ±1)
    // rows cannot change any prefix maximum). Per-service window state;
    // fully oracled via the identical SQL sweep on the raw export.
    "t39_span_concurrency" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("service"), col("startTime"), col("duration"))
      val ev = sp.select(col("service"), col("startTime").as("ts"),
          lit(1L).as("d"))
        .unionByName(sp.select(col("service"),
          (col("startTime") + col("duration")).as("ts"),
          lit(-1L).as("d")))
      val w = Window.partitionBy(col("service"))
        .orderBy(col("ts"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("conc", sum(col("d")).over(w))
        .groupBy(col("service"))
        .agg(max(col("conc")).as("peak_concurrency"),
          (count(lit(1)) / 2).cast("long").as("n_spans"))
        .orderBy(col("service"))
    }),
    // Error propagation along call edges: per (parent_service →
    // child_service) edge, call volume, child-error count, and
    // BOTH-erred count — separates "child fails and the parent absorbs
    // it" from "child failure cascades upward", the first question of
    // an incident review. One self-join on (traceID, parent) with
    // error flags derived map-side from the tags map; output is
    // #service²-bounded. Fully oracled vs the raw fixture export.
    "t40_error_edges" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("parent"),
          col("service"),
          when(col("tags").getItem("error").isNotNull, 1L).otherwise(0L)
            .as("err"))
      val par = sp.select(col("traceID").as("tid"),
        col("spanID").as("pid"), col("service").as("parent_service"),
        col("err").as("p_err"))
      sp.filter(col("parent") =!= "")
        .join(par, col("traceID") === col("tid") &&
          col("parent") === col("pid"))
        .groupBy(col("parent_service"), col("service").as("child_service"))
        .agg(count(lit(1)).as("n_calls"),
          sum(col("err")).as("n_child_err"),
          sum(col("err") * col("p_err")).as("n_both_err"))
        .orderBy(col("parent_service"), col("child_service"))
    }),
    // Direct-children fan-out per (service, operation): how widely each
    // operation fans out (avg/max direct children per span) — the
    // "which call sites amplify load" census that pairs depth (t38)
    // with breadth. One (trace, parent) count + one equi-join back;
    // output (service × operation)-bounded. Fully oracled.
    "t41_span_fanout" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("parent"),
          col("service"), col("operationName"))
      val kids = sp.filter(col("parent") =!= "")
        .groupBy(col("traceID").as("tid"), col("parent").as("pid"))
        .agg(count(lit(1)).as("nk"))
      sp.join(kids, col("traceID") === col("tid") &&
          col("spanID") === col("pid"), "left")
        .withColumn("n_kids", coalesce(col("nk"), lit(0L)))
        .groupBy(col("service"), col("operationName"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("n_kids")).as("n_children"),
          max(col("n_kids")).as("max_fanout"),
          round(sum(col("n_kids")).cast("double") / count(lit(1)), 6)
            .as("avg_fanout"))
        .orderBy(col("service"), col("operationName"))
    }),
    // Trace parallelism factor: Σ span durations / root wall duration
    // per trace — >1 means genuinely concurrent execution, ≈1 serial,
    // ≪1 a root that mostly waits on nothing instrumented. The 1-number
    // "is this request actually parallel" census (t35 localizes WHERE
    // the waiting lives; this ranks traces by how much parallelism they
    // achieve). Root duration uses the reference's t01 root semantics;
    // zero-duration fallback roots are excluded (DEFINED — the ratio is
    // undefined there). Fully oracled.
    "t42_trace_parallelism" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val summary = TraceFrame.tracesFromJaegerFile(s, fx)
        .select(col("traceID"), col("duration").as("duration_us"))
      val sums = TraceFrame.spansFromJaegerFile(s, fx)
        .groupBy(col("traceID"))
        .agg(sum(col("duration")).as("sum_us"),
          count(lit(1)).as("n_spans"))
      summary.join(sums, Seq("traceID"))
        .filter(col("duration_us") > 0)
        .select(col("traceID"), col("n_spans"), col("duration_us"),
          col("sum_us").cast("long").as("span_us"),
          round(col("sum_us").cast("double") /
            col("duration_us").cast("double"), 6).as("parallelism"))
        .orderBy(col("traceID"))
    }),
    // Fan-out → latency correlation per service: Pearson r between a
    // span's direct-children count and its duration — does fanning out
    // actually cost wall time here, the follow-up question to t41's
    // fan-out census. ENGINE-EXACT correlation: all five sufficient
    // statistics are integer sums accumulated in decimal (Σy² over
    // µs-scale durations exceeds long at corpus scale), and the closed
    // form is one identically-ordered double expression — no reliance
    // on corr()'s engine-internal accumulation. Services with zero
    // variance on either axis are omitted (DEFINED — r is undefined).
    "t43_fanout_latency_corr" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("parent"),
          col("service"), col("duration"))
      val kids = sp.filter(col("parent") =!= "")
        .groupBy(col("traceID").as("tid"), col("parent").as("pid"))
        .agg(count(lit(1)).as("nk"))
      val xy = sp.join(kids, col("traceID") === col("tid") &&
          col("spanID") === col("pid"), "left")
        .select(col("service"), coalesce(col("nk"), lit(0L)).as("x"),
          col("duration").as("y"))
      // cast to decimal BEFORE multiplying: y² over long µs durations
      // overflows long at the product, not just the sum
      def dec(c: Column) = c.cast("decimal(19,0)")
      val ag = xy.groupBy(col("service"))
        .agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"),
          sum(dec(col("y"))).as("sy"),
          sum(dec(col("x")) * col("y")).as("sxy"),
          sum(dec(col("x")) * col("x")).as("sxx"),
          sum(dec(col("y")) * col("y")).as("syy"))
      def d(c: String) = col(c).cast("double")
      ag.withColumn("vx", d("n") * d("sxx") - d("sx") * d("sx"))
        .withColumn("vy", d("n") * d("syy") - d("sy") * d("sy"))
        .filter(col("vx") > 0 && col("vy") > 0)
        .select(col("service"), col("n").as("n_spans"),
          round((d("n") * d("sxy") - d("sx") * d("sy")) /
            sqrt(col("vx") * col("vy")), 6).as("fanout_latency_r"))
        .orderBy(col("service"))
    }),
    // Clock-skew / instrumentation-quality audit: children that START
    // before their parent or END after it, per child service — the
    // hygiene check that tells you whether t35's parent-window clamping
    // is correcting real async spans or broken clocks. One
    // (traceID, parent) equi-join, exact integer µs, per-service
    // bounded output. Fully oracled.
    "t44_clock_skew" -> ((s: SparkSession, _: String) => {
      FixtureOracle.ensure(s)
      val fx = JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")
      val sp = TraceFrame.spansFromJaegerFile(s, fx)
        .select(col("traceID"), col("spanID"), col("parent"),
          col("service"), col("startTime"), col("duration"))
      val par = sp.select(col("traceID").as("tid"),
        col("spanID").as("pid"), col("startTime").as("ps"),
        (col("startTime") + col("duration")).as("pe"))
      sp.filter(col("parent") =!= "")
        .join(par, col("traceID") === col("tid") &&
          col("parent") === col("pid"))
        .withColumn("early_us",
          greatest(lit(0L), col("ps") - col("startTime")))
        .withColumn("late_us", greatest(lit(0L),
          col("startTime") + col("duration") - col("pe")))
        .groupBy(col("service"))
        .agg(count(lit(1)).as("n_children"),
          sum(when(col("early_us") > 0 || col("late_us") > 0, 1L)
            .otherwise(0L)).as("n_skewed"),
          max(col("early_us")).as("max_early_us"),
          max(col("late_us")).as("max_late_us"))
        .orderBy(col("service"))
    }),
    // MMR diversified selection (Carbonell & Goldstein 1998): top-10
    // most-relevant-yet-diverse vectors for the vec_id=0 probe, λ=0.7.
    // Fully oracled: the greedy argmax sequence unrolls as 10 chained
    // LIMIT-1 CTEs on the DuckDB side (identical scoring expression);
    // also pinned by the planted-cluster spec (one pick per tight
    // cluster before any second) + determinism. k narrow scans,
    // k-bounded driver state.
    "t37_mmr_select" -> ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val v0 = e.filter(col("vec_id") === 0)
        .select(Similarity.l2Normalize(col("embedding")).as("nv"))
        .head.getSeq[Double](0).toArray
      val withRel = e.filter(col("vec_id") =!= 0)
        .withColumn("rel", Similarity.dotCol(
          Similarity.l2Normalize(col("embedding")), typedLit(v0.toSeq)))
      Similarity.mmrSelect(withRel, "vec_id", "embedding", "rel",
          k = 10, lambda = 0.7)
        .orderBy(col("sel_rank"))
    }),
  )

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-03'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_quantity >= 49 AND l_shipdate >= TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q04_join_agg" ->
      """SELECT n_name, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q05_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q06_dedup_first" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q07_argmin" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |ORDER BY s_acctbal, s_suppkey LIMIT 1""".stripMargin,
    "q08_union_agg" ->
      """SELECT o_orderstatus, count(*) AS cnt FROM (
        |  SELECT * FROM orders WHERE o_totalprice > 400000
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q09_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_cust FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q10_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_cust FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q11_case_agg" ->
      """SELECT l_linestatus,
        |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity
        |    ELSE 0.0 END), 2) AS returned_qty,
        |  count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS returned_rows,
        |  count(*) AS total_rows
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q12_having" ->
      """SELECT p_brand, count(*) AS cnt,
        |  round(avg(p_retailprice), 4) AS avg_price
        |FROM part GROUP BY p_brand HAVING count(*) > 40
        |ORDER BY p_brand""".stripMargin,
    "q13_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q14_window_rank" ->
      """SELECT user_id, rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "q15_window_lag" ->
      """SELECT event_id, user_id, epoch_us(ts) - prev_us AS gap_us FROM (
        |  SELECT event_id, user_id, ts,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events) WHERE prev_us IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "q16_tumbling_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |  event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin,
    "q17_sessionize" ->
      """SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_us IS NULL
        |      OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT user_id, ts,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q18_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q19_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q20_token_stats" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
         |  round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
         |    / CAST(len(t) AS DOUBLE), 6) AS avg_token_len
         |FROM tk ORDER BY doc_id""".stripMargin,
    "q21_lang_id" -> {
      val lex = TextFunctions.langLexicons.map { case (lang, ws) =>
        lang -> ws.map(w => s"'$w'").mkString("(", ", ", ")")
      }
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | sc AS (SELECT doc_id,
         |   ${lex.map { case (l, in) =>
        s"len(list_filter(t, x -> x IN $in)) AS s_$l" }.mkString(", ")}
         | FROM tk)
         |SELECT doc_id, CASE
         |  WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
         |  WHEN s_es >= s_de AND s_es > 0 THEN 'es'
         |  WHEN s_de > 0 THEN 'de'
         |  ELSE 'und' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    "q22_quality_score" -> {
      val stopIn = TextFunctions.langLexicons.flatMap(_._2)
        .map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH tk AS (SELECT doc_id, text, $toksSql AS t FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  round(CAST(length(text) -
         |      length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
         |    AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(t, x -> x IN $stopIn)) AS DOUBLE)
         |    / CAST(CASE WHEN len(t) > 0 THEN len(t) ELSE 1 END AS DOUBLE),
         |    6) AS stop_ratio,
         |  round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
         |    / CAST(len(t) AS DOUBLE), 6) AS avg_token_len
         |FROM tk ORDER BY doc_id""".stripMargin
    },
    "q23_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        |  count(*) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY text_md5""".stripMargin,
    "q24_ngram_jaccard" ->
      s"""$shinglesSql,
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
         |  round(CAST(inter AS DOUBLE) /
         |    CAST(za.n_sh + zb.n_sh - inter AS DOUBLE), 6) AS jaccard
         |FROM inter
         |JOIN sz za ON doc_a = za.doc_id
         |JOIN sz zb ON doc_b = zb.doc_id
         |WHERE CAST(inter AS DOUBLE) /
         |  CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q25_minhash_lsh" -> minhashOracle,
    "q26_simhash" -> simhashOracle,
    "q48_simhash_neardup" -> simhashBandedOracle,
    "q144_simhash60_banded" -> simhash60BandedOracle,
    // LSH oracle: the seeded hyperplanes are DETERMINISTIC (same
    // scala.util.Random(42) draw order as Similarity.lshTopK), so the
    // oracle embeds them as SQL list literals (Double.toString
    // round-trips exactly) and replays sign-bucketing + in-bucket
    // exact cosine in plain ANSI — the approximate op becomes fully
    // checkable because its randomness is reproducible.
    "t06_similarity_lsh" -> {
      val rnd = new scala.util.Random(42L)
      val planes = Array.fill(4)(Array.fill(64)(rnd.nextGaussian()))
      val bucketExpr = (0 until 4).map { i =>
        s"(CASE WHEN list_dot_product(nv, ${
          planes(i).mkString("[", ", ", "]")}) >= 0 " +
          s"THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH v AS ($normVecSql),
         | b AS MATERIALIZED (SELECT vec_id, nv,
         |     $bucketExpr AS bucket FROM v),
         | q AS (SELECT * FROM b WHERE vec_id < 10),
         | s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |     round(list_dot_product(q.nv, c.nv), 6) AS cos_sim
         |   FROM q JOIN b c ON q.bucket = c.bucket
         |     AND q.vec_id <> c.vec_id),
         | r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM r WHERE rnk <= 3 ORDER BY query_id, "rank"""".stripMargin
    },
    // hard negatives: brute-force candidates (k+margin=13), dup filter,
    // per-query re-pack — all plain ANSI over the shared normalized-
    // vector CTE (the q27 cosine machinery)
    "t23_hard_negatives" ->
      s"""WITH v AS ($normVecSql),
         | q AS (SELECT * FROM v WHERE vec_id % 40 = 0),
         | s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |     round(list_dot_product(q.nv, c.nv), 6) AS cos_sim
         |   FROM q JOIN v c ON q.vec_id <> c.vec_id),
         | r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM s),
         | cand AS (SELECT * FROM r WHERE rnk <= 13),
         | negs AS (SELECT query_id, neighbor_id, cos_sim,
         |     row_number() OVER (PARTITION BY query_id
         |       ORDER BY cos_sim DESC, neighbor_id) AS neg_rank
         |   FROM cand WHERE cos_sim < 0.95)
         |SELECT query_id, CAST(neg_rank AS BIGINT) AS neg_rank,
         |  neighbor_id, cos_sim
         |FROM negs WHERE neg_rank <= 5
         |ORDER BY query_id, neg_rank""".stripMargin,
    // MMR oracle: the greedy argmax sequence UNROLLED as 10 chained
    // LIMIT-1 CTEs (each pick re-scores the remaining corpus with
    // max-cosine-to-selected via cross joins to the 1-row pick tables;
    // variadic greatest ≡ the engine's greatest-reduce for doubles).
    // MATERIALIZED for the same inlining-explosion reason as t28.
    "t37_mmr_select" -> {
      val picks = (1 to 10).map { i =>
        val prev = (1 until i).map(j => s"p$j")
        val ms =
          if (prev.isEmpty) "0.0"
          else if (prev.size == 1) "list_dot_product(b.nv, p1.nv)"
          else prev.map(p => s"list_dot_product(b.nv, $p.nv)")
            .mkString("greatest(", ", ", ")")
        val from = ("base b" +: prev).mkString(", ")
        val notin = if (prev.isEmpty) "" else
          s" WHERE b.id NOT IN (${prev.map(_ + ".id").mkString(", ")})"
        s""",
           | p$i AS MATERIALIZED (SELECT b.id, b.nv,
           |    0.7 * b.rel - (1 - 0.7) * $ms AS score
           |  FROM $from$notin
           |  ORDER BY score DESC, b.id LIMIT 1)""".stripMargin
      }.mkString
      val sel = (1 to 10).map(i =>
        s"SELECT CAST($i AS BIGINT) AS sel_rank, id AS vec_id, " +
          s"round(score, 6) AS mmr_score FROM p$i")
        .mkString("", "\nUNION ALL ", "")
      s"""WITH v AS ($normVecSql),
         | v0 AS (SELECT nv FROM v WHERE vec_id = 0),
         | base AS MATERIALIZED (SELECT v.vec_id AS id, v.nv,
         |     list_dot_product(v.nv, v0.nv) AS rel
         |   FROM v, v0 WHERE v.vec_id <> 0)$picks
         |$sel
         |ORDER BY sel_rank""".stripMargin
    },
    // Embedding-outlier oracle: the full t26 pipeline re-derived in SQL
    // over the [[lloydCtes]] unroll (8 centroids, 4 trainer + 2 refine
    // steps — one shared update rule). Means/stddevs are double sums, so
    // association order differs between engines — absorbed by the
    // 6/4-decimal output rounding (the t28 precedent), and the top-20 z
    // cut sits far from any boundary (rank-20 margin ≫ the ~1e-12
    // drift).
    "t26_embed_outliers" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${lloydCtes(8, 6)},
         | asg AS (SELECT v.vec_id, c.cent_id AS cell,
         |    list_dot_product(v.nv, c.nv) AS cent_sim,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, c6 c),
         | fa AS (SELECT vec_id, cell, cent_sim FROM asg WHERE rn = 1),
         | st AS (SELECT cell, avg(cent_sim) AS mu,
         |    stddev_samp(cent_sim) AS sd FROM fa GROUP BY 1),
         | zz AS (SELECT fa.vec_id, fa.cell, fa.cent_sim,
         |    CASE WHEN st.sd > 1e-12 THEN (st.mu - fa.cent_sim) / st.sd
         |      ELSE 0.0 END AS z
         |  FROM fa JOIN st USING (cell))
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell,
         |  round(cent_sim, 6) AS cent_sim, round(z, 4) AS z
         |FROM zz ORDER BY z DESC, vec_id LIMIT 20""".stripMargin,
    // k-means refine oracle (graduated r11): init = the trainer's 4
    // Lloyd steps (c4), refined = 3 more full-corpus steps (c7 — same
    // update rule at oracle scale, see lloydCtes); per-cell occupancy +
    // mean own-centroid similarity + init→refined centroid drift.
    "t25_kmeans_refine" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${lloydCtes(8, 7)},
         | shift AS (SELECT i.cent_id,
         |    round(list_dot_product(i.nv, r.nv), 4) AS init_sim
         |  FROM c4 i JOIN c7 r USING (cent_id)),
         | asg AS (SELECT v.vec_id, c.cent_id AS cell,
         |    list_dot_product(v.nv, c.nv) AS cent_sim,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, c7 c),
         | st AS (SELECT cell, count(*) AS n,
         |    round(avg(cent_sim), 4) AS mean_sim
         |  FROM asg WHERE rn = 1 GROUP BY 1)
         |SELECT st.cell, st.n, st.mean_sim, shift.init_sim
         |FROM st JOIN shift ON st.cell = shift.cent_id
         |ORDER BY st.cell""".stripMargin,
    // IVF serve oracle (graduated r11): the session-cached index is
    // buildIvfIndex defaults — 16 centroids, 4 trainer steps, no refine
    // (c4) — probed by the vec_id<10 queries at nProbe=2: per query the
    // 2 best cells (ties → lowest cent_id), candidates = corpus rows in
    // those cells, exact top-3 by (rounded cosine, neighbor_id).
    "t08_similarity_ivf" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${lloydCtes(16, 4)},
         | corp AS (SELECT v.vec_id, v.nv, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, c4 c),
         | asgn AS (SELECT vec_id, nv, cell FROM corp WHERE rn = 1),
         | q AS (SELECT vec_id AS query_id, nv AS qv, cell
         |  FROM corp WHERE vec_id < 10 AND rn <= 2),
         | sc AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |    round(list_dot_product(q.qv, a.nv), 6) AS cos_sim
         |  FROM q JOIN asgn a USING (cell)
         |  WHERE q.query_id <> a.vec_id),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM sc)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM rk WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,
    // Text-ANN oracle (graduated r11): the q113 hashed-embedding
    // machinery densified to 64-dim vectors (zero-safe normalization —
    // an empty doc keeps its zero vector, as l2Normalize does), then the
    // 8-centroid Lloyd unroll and the nProbe=3 probe — the whole
    // self-contained text ANN re-derived in SQL.
    "t32_text_ann" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tk
         |  FROM documents),
         | hx AS (SELECT doc_id, ${H.format("tk")} AS h FROM tok),
         | vv AS (SELECT doc_id, CAST(h % 64 AS INT) AS dim,
         |    CAST(sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END)
         |      AS DOUBLE) AS x
         |  FROM hx GROUP BY 1, 2),
         | dims AS (SELECT d.doc_id, g.dim
         |  FROM (SELECT DISTINCT doc_id FROM documents) d,
         |    (SELECT unnest(generate_series(0, 63)) AS dim) g),
         | vec AS (SELECT dims.doc_id,
         |    list(coalesce(vv.x, 0.0) ORDER BY dims.dim) AS ve
         |  FROM dims LEFT JOIN vv USING (doc_id, dim) GROUP BY 1),
         | v AS MATERIALIZED (SELECT vec_id,
         |    CASE WHEN nrm = 0 THEN ve
         |      ELSE list_transform(ve, x -> x / nrm) END AS nv
         |  FROM (SELECT doc_id AS vec_id, ve,
         |    sqrt(list_dot_product(ve, ve)) AS nrm FROM vec)),
         |${lloydCtes(8, 4)},
         | corp AS (SELECT v.vec_id, v.nv, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, c4 c),
         | asgn AS (SELECT vec_id, nv, cell FROM corp WHERE rn = 1),
         | q AS (SELECT vec_id AS query_id, nv AS qv, cell
         |  FROM corp WHERE vec_id < 5 AND rn <= 3),
         | sc AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |    round(list_dot_product(q.qv, a.nv), 6) AS cos_sim
         |  FROM q JOIN asgn a USING (cell)
         |  WHERE q.query_id <> a.vec_id),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM sc)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM rk WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,
    // PQ build oracle (graduated r11): the pqCtes trainer + PqEncode
    // re-derivation, reported as the subspace-0 code histogram (the
    // entry's deterministic build digest).
    "t11_pq_build" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${pqCtes(16, 16, 4, 4)}
         |SELECT CAST(code AS INT) AS code0, count(*) AS n_vecs
         |FROM enc WHERE mi = 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // PQ serve oracle (graduated r11): LUT = per-(query, subspace, cent)
    // dot; ADC = Σ_mi lut[code]; top-32 ADC candidates rerank by exact
    // rounded cosine — PqLut/PqAdc and the rerank window re-derived.
    "t10_pq_topk" -> {
      val dot = (1 to 4).map(j => s"s.sv[$j] * p.cv[$j]").mkString(" + ")
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${pqCtes(16, 16, 4, 4)},
         | lut AS (SELECT s.vec_id AS query_id, s.mi, p.cent_id,
         |    $dot AS lv
         |  FROM sub s JOIN p4 p USING (mi) WHERE s.vec_id < 10),
         | adc AS (SELECT l.query_id, e.vec_id AS neighbor_id,
         |    sum(l.lv) AS adc
         |  FROM enc e JOIN lut l ON e.mi = l.mi AND e.code = l.cent_id
         |  WHERE e.vec_id <> l.query_id
         |  GROUP BY 1, 2),
         | cand AS (SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS ar
         |  FROM adc),
         | rr AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_dot_product(qv.nv, nb.nv), 6) AS cos_sim
         |  FROM cand c JOIN v qv ON qv.vec_id = c.query_id
         |    JOIN v nb ON nb.vec_id = c.neighbor_id
         |  WHERE c.ar <= 32),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM rr)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM rk WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin
    },
    // IVF+PQ serve oracle (graduated r11): coarse cells from the
    // 16-centroid lloydCtes unroll (nProbe=4 per query), PQ codes from
    // pqCtes, ADC top-128 within the probed cells, exact rerank — the
    // full composed index re-derived.
    "t12_ivfpq_topk" -> {
      val dot = (1 to 4).map(j => s"s.sv[$j] * p.cv[$j]").mkString(" + ")
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${lloydCtes(16, 4)},
         |${pqCtes(16, 16, 4, 4)},
         | corp AS (SELECT v.vec_id, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, c4 c),
         | asgn AS (SELECT vec_id, cell FROM corp WHERE rn = 1),
         | qc AS (SELECT vec_id AS query_id, cell
         |  FROM corp WHERE vec_id < 10 AND rn <= 4),
         | lut AS (SELECT s.vec_id AS query_id, s.mi, p.cent_id,
         |    $dot AS lv
         |  FROM sub s JOIN p4 p USING (mi) WHERE s.vec_id < 10),
         | pool AS (SELECT qc.query_id, a.vec_id AS neighbor_id
         |  FROM qc JOIN asgn a USING (cell)
         |  WHERE qc.query_id <> a.vec_id),
         | adc AS (SELECT po.query_id, po.neighbor_id, sum(l.lv) AS adc
         |  FROM pool po
         |  JOIN enc e ON e.vec_id = po.neighbor_id
         |  JOIN lut l ON l.query_id = po.query_id AND l.mi = e.mi
         |    AND l.cent_id = e.code
         |  GROUP BY 1, 2),
         | cand AS (SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS ar
         |  FROM adc),
         | rr AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_dot_product(qv.nv, nb.nv), 6) AS cos_sim
         |  FROM cand c JOIN v qv ON qv.vec_id = c.query_id
         |    JOIN v nb ON nb.vec_id = c.neighbor_id
         |  WHERE c.ar <= 128),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM rr)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM rk WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin
    },
    // SemDeDup oracle (graduated r11): 16-centroid unroll, keep-1
    // assignment, within-cell pairs at cosine ≥ 0.35 — the oracle
    // re-derives cell membership, so it checks the clustering AND the
    // pair scan (the hot-cell salting path changes the PLAN only).
    "t15_semantic_dedup" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${lloydCtes(16, 4)},
         | corp AS (SELECT v.vec_id, v.nv, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, c4 c),
         | asgn AS (SELECT vec_id, nv, cell FROM corp WHERE rn = 1),
         | pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
         |    round(list_dot_product(a.nv, b.nv), 6) AS cos_sim
         |  FROM asgn a JOIN asgn b USING (cell)
         |  WHERE a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, CAST(cell AS BIGINT) AS cell, cos_sim
         |FROM pr WHERE cos_sim >= 0.35
         |ORDER BY cos_sim DESC, vec_a, vec_b""".stripMargin,
    // Cluster-balanced sample oracle (graduated r11): 8-centroid unroll,
    // keep-1 assignment, per-cell top-16 in salted-hash60 order — the
    // EXACT sample membership and pick ranks, not just counts.
    "t16_cluster_sample" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${lloydCtes(8, 4)},
         | corp AS (SELECT v.vec_id, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, c4 c),
         | pk AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY ${H.format("'cbs1' || CAST(vec_id AS VARCHAR)")},
         |        vec_id) AS pick
         |  FROM corp WHERE rn = 1)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cluster,
         |  CAST(pick AS BIGINT) AS pick
         |FROM pk WHERE pick <= 16 ORDER BY cluster, pick""".stripMargin,
    // IVF build oracle (graduated r11): same 16-centroid unroll, keep-1
    // assignment, per-cell occupancy.
    "t09_ivf_build" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${lloydCtes(16, 4)},
         | corp AS (SELECT v.vec_id, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |      AS rn
         |  FROM v, c4 c)
         |SELECT cell, count(*) AS n_vecs FROM corp WHERE rn = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_embed_topk" ->
      s"""WITH v AS ($normVecSql),
         | q AS (SELECT * FROM v WHERE vec_id < 10),
         | s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |     round(list_dot_product(q.nv, c.nv), 6) AS cos_sim
         |   FROM q JOIN v c ON q.vec_id <> c.vec_id),
         | r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM s)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM r WHERE "rank" <= 3 ORDER BY query_id, "rank"""".stripMargin,
    "q28_embed_neardup" ->
      s"""WITH v AS ($normVecSql)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.nv, b.nv), 6) AS cos_sim
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.nv, b.nv), 6) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q29_media_fingerprint" ->
      """SELECT doc_id, sha256(text) AS sha256_hex,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q30_shipping_priority" ->
      """SELECT o_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q31_local_supplier_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q32_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        |  substr(p_name, 1, 8) AS name8,
        |  regexp_replace(p_type, ' ', '_', 'g') AS type_u,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_pad,
        |  CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS is_green
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin,
    "q33_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS d,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |    AS BIGINT) AS days_since_95
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,
    "q34_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q35_scalar_subquery" ->
      """SELECT s_suppkey, s_acctbal FROM supplier
        |WHERE s_acctbal > (SELECT avg(s_acctbal) FROM supplier)
        |ORDER BY s_suppkey""".stripMargin,
    "q36_in_subquery" ->
      """SELECT p_brand, count(*) AS cnt FROM part
        |WHERE p_partkey IN
        |  (SELECT l_partkey FROM lineitem WHERE l_quantity >= 50)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q37_array_agg" ->
      """SELECT l_returnflag,
        |  list_aggregate(list_sort(list(DISTINCT l_linestatus)),
        |    'string_agg', ',') AS statuses,
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_status
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q38_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS k, count(*) AS nc FROM customer
        |    GROUP BY 1),
        |  s AS (SELECT s_nationkey AS k, count(*) AS ns FROM supplier
        |    GROUP BY 1)
        |SELECT coalesce(c.k, s.k) AS k, coalesce(nc, 0) AS nc,
        |  coalesce(ns, 0) AS ns
        |FROM c FULL OUTER JOIN s ON c.k = s.k ORDER BY k""".stripMargin,
    "q39_custom_expr_sql" ->
      """SELECT vec_id,
        |  round(list_dot_product(
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |    list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS norm2
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin,
    "q40_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         | dfreq AS (SELECT term, count(*) AS df FROM
         |   (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
         | n AS (SELECT count(*) AS total FROM documents),
         | scored AS (SELECT doc_id, term,
         |     round(tf * ln(CAST(total AS DOUBLE) / df), 6) AS tfidf
         |   FROM tf JOIN dfreq USING (term) CROSS JOIN n
         |   WHERE doc_id < 50),
         | ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |     ORDER BY tfidf DESC, term) AS rnk FROM scored)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tfidf
         |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q41_bigram_freq" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | bg AS (SELECT unnest(list_transform(
         |     generate_series(1, greatest(len(t)-1, 0)),
         |     i -> t[i] || ' ' || t[i+1])) AS bigram FROM tk)
         |SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
         |ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,
    "q42_neardup_pipeline" ->
      s"""$shinglesSql,
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2)
         |SELECT DISTINCT doc_b AS dropped FROM inter
         |JOIN sz za ON doc_a = za.doc_id
         |JOIN sz zb ON doc_b = zb.doc_id
         |WHERE CAST(inter AS DOUBLE) /
         |  CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8
         |ORDER BY dropped""".stripMargin,
    "q43_session_window_batch" ->
      """WITH g AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id)),
        | sess AS (SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT min(us) AS sess_start_us, user_id, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, sess_start_us""".stripMargin,
    "q44_asof_join" ->
      """SELECT event_id, user_id, epoch_us(ts) AS purchase_us, last_click_us
        |FROM (SELECT *,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click_us
        |  FROM events)
        |WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "q45_histogram" ->
      """WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
        |SELECT CAST(least(floor((value - lo) * 10.0 / (hi - lo)), 9)
        |    AS BIGINT) AS bin,
        |  count(*) AS cnt, round(sum(value), 2) AS sum_v
        |FROM events CROSS JOIN b
        |GROUP BY 1 ORDER BY bin""".stripMargin,
    "q46_bpe_tokens" -> {
      val pat = graft.functions.TextFunctions.bpePattern.replace("'", "''")
      s"""WITH tk AS (SELECT doc_id,
         |    text || ' doc-' || CAST(doc_id AS VARCHAR) || '.v2!' AS aug
         |  FROM documents),
         | c AS (SELECT doc_id,
         |   CAST(len(regexp_extract_all(aug, '$pat')) AS BIGINT) AS n_bpe,
         |   CAST(len(regexp_split_to_array(trim(aug), '\\s+')) AS BIGINT)
         |     AS n_ws
         | FROM tk)
         |SELECT doc_id, n_bpe, n_ws,
         |  round(CAST(n_bpe AS DOUBLE) / CAST(greatest(n_ws, 1) AS DOUBLE),
         |    6) AS bpe_ratio
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "q47_winnowing_fp" ->
      s"""WITH nrm AS (SELECT doc_id,
         |    regexp_replace(regexp_replace(lower(trim(text)),
         |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g') AS norm
         |  FROM documents),
         | g AS (SELECT doc_id, list_transform(
         |     generate_series(1, greatest(length(norm) - 4, 0)),
         |     i -> ${H.format("substr(norm, i, 5)")}) AS grams FROM nrm),
         | m AS (SELECT doc_id, list_sort(list_distinct(list_transform(
         |     generate_series(1, greatest(len(grams) - 3, 0)),
         |     j -> list_min(list_slice(grams, j, j + 3))))) AS fp FROM g)
         |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
         |  ${H.format("coalesce(list_aggregate(list_transform(fp, " +
               "x -> CAST(x AS VARCHAR)), 'string_agg', ','), '')")}
         |    AS fp_hash
         |FROM m ORDER BY doc_id""".stripMargin,
    "q49_cube" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS prio,
        |  coalesce(o_orderstatus, 'ALL') AS status, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY prio, status""".stripMargin,
    "q50_moving_avg" ->
      """SELECT event_id, user_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg
        |FROM events ORDER BY event_id""".stripMargin,
    "q51_dist_ranks" ->
      """SELECT c_custkey, CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cum_dist
        |FROM customer WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q52_disjunctive_join" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
        |    AND p_size BETWEEN 1 AND 5)
        |  OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
        |    AND p_size BETWEEN 1 AND 10)
        |  OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
        |    AND p_size BETWEEN 1 AND 15)""".stripMargin,
    "q53_multi_count_distinct" ->
      """SELECT o_orderstatus,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
        |  count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q54_argmax_agg" ->
      """SELECT o_orderstatus,
        |  max_by(o_orderkey, printf('%020.4f|%010d', o_totalprice,
        |    o_orderkey)) AS max_price_order,
        |  min_by(o_orderkey, printf('%020.4f|%010d', o_totalprice,
        |    o_orderkey)) AS min_price_order,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q55_stat_aggs" ->
      """SELECT l_returnflag, round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 8) AS cov_qd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q56_regex_funcs" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]*e')) AS BIGINT)
        |    AS n_e_words,
        |  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
        |    AS n_non_vowel
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q57_posexplode" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents)
         |SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, t[i] AS token
         |FROM tk, unnest(generate_series(1, least(len(t), 3))) s(i)
         |ORDER BY doc_id, pos""".stripMargin,
    "q58_token_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tk FROM documents),
         | c AS (SELECT doc_id, tk, count(*) AS n FROM tok GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q59_hash_sample" ->
      s"""SELECT source, count(*) AS n_kept,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM documents
         |WHERE ${H.format("'s1' || CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
         |    THEN 3000 ELSE 1000 END
         |GROUP BY source ORDER BY source""".stripMargin,
    "q60_split_assign" ->
      s"""WITH b AS (SELECT n_chars,
         |  ${H.format("'split1' || CAST(doc_id AS VARCHAR)")} % 10000 AS bk
         |  FROM documents)
         |SELECT CASE WHEN bk < 8000 THEN 'train'
         |  WHEN bk < 9000 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "q61_token_packing" ->
      s"""WITH tk AS (SELECT doc_id, source,
         |   CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         | c AS (SELECT source, n, CAST(floor((sum(n) OVER (
         |     PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)
         |   / 4096.0) AS BIGINT) AS bin FROM tk)
         |SELECT source, bin, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS bin_tokens
         |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "q76_pack_sequences" ->
      s"""WITH tk AS (SELECT doc_id, source, text,
         |   CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         | c AS (SELECT doc_id, source, text, n, CAST(floor((sum(n) OVER (
         |     PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)
         |   / 4096.0) AS BIGINT) AS bin FROM tk)
         |SELECT source, bin, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS bin_tokens,
         |  string_agg(text, ' <eos> ' ORDER BY doc_id) AS seq_text
         |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "q62_range_join" ->
      """WITH q AS (SELECT CAST(unnest(generate_series(DATE '1995-01-01',
        |    DATE '2001-07-01', INTERVAL 3 MONTH)) AS DATE) AS q_start)
        |SELECT q_start, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN q ON o_orderdate >= CAST(q_start AS TIMESTAMP)
        |  AND o_orderdate < CAST(q_start + INTERVAL 3 MONTH AS TIMESTAMP)
        |GROUP BY q_start ORDER BY q_start""".stripMargin,
    "q63_chunk_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | ch AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |   ${H.format("list_aggregate(list_slice(t, (i-1)*10 + 1, " +
               "(i-1)*10 + 10), 'string_agg', ' ')")} AS h
         |  FROM tk, unnest(generate_series(1,
         |    CAST(floor((len(t) - 1) / 10.0) AS BIGINT) + 1)) s(i)
         |  WHERE len(t) > 0),
         | rk AS (SELECT doc_id, pos,
         |   CASE WHEN row_number() OVER (PARTITION BY h
         |     ORDER BY doc_id, pos) > 1 THEN 1 ELSE 0 END AS d FROM ch)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(d) AS BIGINT) AS n_dup,
         |  round(avg(CAST(d AS DOUBLE)), 6) AS dup_ratio
         |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q64_dedup_clusters" ->
      s"""${shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2),
         | p AS (SELECT doc_a, doc_b FROM inter
         |   JOIN sz za ON doc_a = za.doc_id
         |   JOIN sz zb ON doc_b = zb.doc_id
         |   WHERE CAST(inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8),
         | e AS (SELECT doc_a AS a, doc_b AS b FROM p
         |   UNION SELECT doc_b, doc_a FROM p),
         | r AS (SELECT a AS node, a AS reach FROM e
         |   UNION
         |   SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a)
         |SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS cluster
         |FROM r GROUP BY node ORDER BY doc_id""".stripMargin,
    "q65_curation_pipeline" -> {
      val lex = TextFunctions.langLexicons.map { case (lang, ws) =>
        lang -> ws.map(w => s"'$w'").mkString("(", ", ", ")")
      }
      s"""WITH tk AS (SELECT doc_id, source, text, $toksSql AS t
         |   FROM documents),
         | sc AS (SELECT doc_id, source, text,
         |   CAST(len(t) AS BIGINT) AS n_tokens,
         |   ${lex.map { case (l, in) =>
        s"len(list_filter(t, x -> x IN $in)) AS s_$l" }.mkString(", ")}
         |  FROM tk),
         | en AS (SELECT * FROM sc WHERE s_en >= s_es AND s_en >= s_de
         |   AND s_en > 0 AND n_tokens >= 20),
         | dd AS (SELECT * FROM (SELECT *, row_number() OVER (
         |     PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM en)
         |   WHERE rn = 1),
         | sm AS (SELECT * FROM dd WHERE
         |   ${H.format("'s1' || CAST(doc_id AS VARCHAR)")} % 10000 < 5000)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM sm GROUP BY source ORDER BY source""".stripMargin
    },
    "q66_repetition_ratio" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | tf AS (SELECT doc_id, tok, count(*) AS c
         |   FROM (SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY 1, 2),
         | top AS (SELECT doc_id, max(c) AS max_tf,
         |     CAST(sum(c) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
         | bg AS (SELECT doc_id, len(b) AS n_bg,
         |     len(list_distinct(b)) AS n_uniq
         |   FROM (SELECT doc_id, list_transform(
         |       generate_series(1, greatest(len(t)-1, 0)),
         |       i -> t[i] || ' ' || t[i+1]) AS b FROM tk))
         |SELECT doc_id, n_tokens,
         |  round(CAST(max_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |    AS top_token_ratio,
         |  round(CASE WHEN n_bg > 0
         |    THEN 1.0 - CAST(n_uniq AS DOUBLE) / CAST(n_bg AS DOUBLE)
         |    ELSE 0.0 END, 6) AS dup_bigram_ratio
         |FROM top JOIN bg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q67_decontamination" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | shr AS (SELECT doc_id, unnest(list_transform(
         |     generate_series(1, greatest(len(t)-3, 0)),
         |     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])))
         |   AS s FROM tk),
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS h FROM shr),
         | bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0)
         |SELECT doc_id, count(*) AS n_shared
         |FROM sh JOIN bench USING (h)
         |WHERE doc_id % 50 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q72_bloom_decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | shr AS (SELECT doc_id, unnest(list_transform(
         |     generate_series(1, greatest(len(t)-3, 0)),
         |     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])))
         |   AS s FROM tk),
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS h FROM shr),
         | bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 23 = 0)
         |SELECT doc_id, count(*) AS n_shared
         |FROM sh JOIN bench USING (h)
         |WHERE doc_id % 23 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q77_decontaminated_corpus" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | shr AS (SELECT doc_id, unnest(list_transform(
         |     generate_series(1, greatest(len(t)-3, 0)),
         |     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])))
         |   AS s FROM tk),
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS h FROM shr),
         | bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
         | hits AS (SELECT doc_id FROM sh JOIN bench USING (h)
         |   WHERE doc_id % 50 <> 0 GROUP BY doc_id HAVING count(*) >= 5)
         |SELECT source, count(*) AS n_kept FROM documents
         |WHERE doc_id % 50 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM hits)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q78_gopher_rules" -> {
      val stopIn = graft.functions.TextFunctions.gopherStops
        .map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH tk AS (SELECT doc_id, text, $toksSql AS t FROM documents),
         | m AS (SELECT doc_id,
         |   len(t) AS n_tokens,
         |   CASE WHEN len(t) > 0 THEN
         |     CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
         |       / len(t) ELSE 0.0 END AS mwl,
         |   CASE WHEN len(t) > 0 THEN
         |     CAST(length(text) - length(replace(text, '#', ''))
         |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |       / len(t) ELSE 0.0 END AS sym,
         |   CAST(len(list_filter(string_split(text, chr(10)),
         |       l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
         |     / len(string_split(text, chr(10))) AS bullet,
         |   CAST(len(list_filter(string_split(text, chr(10)),
         |       l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
         |     AS DOUBLE) / len(string_split(text, chr(10))) AS ell,
         |   CASE WHEN len(t) > 0 THEN
         |     CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
         |       AS DOUBLE) / len(t) ELSE 0.0 END AS alpha,
         |   len(list_filter(t, x -> x IN $stopIn)) AS n_stop
         | FROM tk)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  round(mwl, 6) AS mean_word_len,
         |  round(sym, 6) AS symbol_ratio,
         |  round(bullet, 6) AS bullet_frac,
         |  round(ell, 6) AS ellipsis_frac,
         |  round(alpha, 6) AS alpha_frac,
         |  CAST(n_stop AS BIGINT) AS n_stop,
         |  (n_tokens BETWEEN 50 AND 100000 AND mwl BETWEEN 3 AND 10
         |    AND sym <= 0.1 AND bullet <= 0.9 AND ell <= 0.3
         |    AND alpha >= 0.8 AND n_stop >= 2) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "q79_importance_weights" ->
      s"""WITH tok AS (SELECT doc_id, source = 'src0' AS is_tgt,
         |     unnest($toksSql) AS term FROM documents),
         | tf AS (SELECT doc_id, is_tgt, term, count(*) AS tf
         |   FROM tok GROUP BY 1, 2, 3),
         | w AS (SELECT term, sum(tf) AS raw_cnt,
         |     sum(CASE WHEN is_tgt THEN tf ELSE 0 END) AS tgt_cnt
         |   FROM tf GROUP BY term),
         | tot AS (SELECT CAST(sum(raw_cnt) AS DOUBLE) AS raw_tot,
         |     CAST(sum(tgt_cnt) AS DOUBLE) AS tgt_tot,
         |     CAST(count(*) AS DOUBLE) AS vocab FROM w)
         |SELECT doc_id, round(sum(tf * (
         |    ln((tgt_cnt + 0.5) / (tgt_tot + 0.5 * vocab)) -
         |    ln((raw_cnt + 0.5) / (raw_tot + 0.5 * vocab)))), 6)
         |  AS importance
         |FROM tf JOIN w USING (term) CROSS JOIN tot
         |GROUP BY doc_id
         |ORDER BY importance DESC, doc_id LIMIT 25""".stripMargin,
    "q80_lm_cross_entropy" ->
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_ref,
         |     unnest($toksSql) AS term FROM documents),
         | tf AS (SELECT doc_id, is_ref, term, count(*) AS tf
         |   FROM tok GROUP BY 1, 2, 3),
         | lm AS (SELECT term,
         |     sum(CASE WHEN is_ref THEN tf ELSE 0 END) AS ref_cnt
         |   FROM tf GROUP BY term),
         | tot AS (SELECT CAST(sum(ref_cnt) AS DOUBLE) AS ref_tot,
         |     CAST(count(*) AS DOUBLE) AS vocab FROM lm)
         |SELECT doc_id, round(
         |    -sum(tf * ln((ref_cnt + 0.5) / (ref_tot + 0.5 * vocab)))
         |      / sum(tf), 6) AS cross_entropy
         |FROM tf JOIN lm USING (term) CROSS JOIN tot
         |GROUP BY doc_id
         |ORDER BY cross_entropy, doc_id LIMIT 20""".stripMargin,
    "q81_bm25_topk" -> {
      val terms = bm25Query.map(t => s"'$t'").mkString("(", ", ", ")")
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term
         |     FROM documents),
         | len AS (SELECT doc_id, CAST(len($toksSql) AS DOUBLE) AS dl
         |   FROM documents),
         | tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |   FROM tok WHERE term IN $terms GROUP BY 1, 2),
         | dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
         |   FROM tf GROUP BY term),
         | st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
         |   FROM len)
         |SELECT doc_id, round(sum(
         |    ln((n - df + 0.5) / (df + 0.5) + 1) * tf * 2.2 /
         |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25,
         |  CAST(count(*) AS BIGINT) AS n_terms
         |FROM tf JOIN dfq USING (term) JOIN len USING (doc_id)
         |  CROSS JOIN st
         |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin
    },
    "q82_dup_spans" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | sp AS (SELECT doc_id,
         |     unnest(generate_series(0, len(t) - 5)) AS pos,
         |     unnest(list_transform(generate_series(1, len(t) - 4),
         |       i -> ${H.format(
                  "concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])")}))
         |       AS h
         |   FROM tk WHERE len(t) >= 5),
         | shared AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sp)
         |   GROUP BY h HAVING count(*) >= 2),
         | marked AS (SELECT doc_id, pos,
         |     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |       AS grp
         |   FROM sp JOIN shared USING (h)),
         | runs AS (SELECT doc_id, grp, count(*) AS run_len
         |   FROM marked GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
         |  CAST(max(run_len) + 4 AS BIGINT) AS longest_tokens,
         |  CAST(sum(run_len) AS BIGINT) AS dup_ngrams
         |FROM runs GROUP BY doc_id
         |ORDER BY longest_tokens DESC, doc_id LIMIT 25""".stripMargin,
    "q91_quality_blend" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tk
         |     FROM documents),
         | c AS (SELECT doc_id, tk, count(*) AS n FROM tok GROUP BY 1, 2),
         | ent AS (SELECT doc_id,
         |     round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
         |   FROM c GROUP BY doc_id),
         | tk80 AS (SELECT doc_id, lang = 'en' AS is_ref,
         |     unnest($toksSql) AS term FROM documents),
         | tf AS (SELECT doc_id, is_ref, term, count(*) AS tf
         |   FROM tk80 GROUP BY 1, 2, 3),
         | lm AS (SELECT term,
         |     sum(CASE WHEN is_ref THEN tf ELSE 0 END) AS ref_cnt
         |   FROM tf GROUP BY term),
         | tot AS (SELECT CAST(sum(ref_cnt) AS DOUBLE) AS ref_tot,
         |     CAST(count(*) AS DOUBLE) AS vocab FROM lm),
         | ce AS (SELECT doc_id, round(
         |     -sum(tf * ln((ref_cnt + 0.5) / (ref_tot + 0.5 * vocab)))
         |       / sum(tf), 6) AS cross_entropy
         |   FROM tf JOIN lm USING (term) CROSS JOIN tot GROUP BY doc_id),
         | j AS (SELECT d.source, d.doc_id, ent.entropy, ce.cross_entropy
         |   FROM documents d JOIN ent USING (doc_id) JOIN ce
         |     USING (doc_id)),
         | pr AS (SELECT source, doc_id,
         |     percent_rank() OVER (PARTITION BY source ORDER BY entropy)
         |       AS pr_ent,
         |     percent_rank() OVER (PARTITION BY source
         |       ORDER BY cross_entropy DESC) AS pr_ce
         |   FROM j),
         | q AS (SELECT source, doc_id,
         |     round((pr_ent + pr_ce) / 2, 6) AS quality FROM pr),
         | r AS (SELECT *, row_number() OVER (PARTITION BY source
         |     ORDER BY quality DESC, doc_id) AS rn FROM q)
         |SELECT source, doc_id, quality FROM r WHERE rn <= 3
         |ORDER BY source, quality DESC, doc_id""".stripMargin,
    "q92_boilerplate_strip" ->
      // token-less docs need care the shared toksSql doesn't give: Spark
      // tokenizes ''/NULL to [] where DuckDB's regexp_split_to_array
      // yields [''] — the CASE mirrors Spark; and every document must
      // emit a row (n_segs=0, md5('')) even with no segments, hence the
      // LEFT JOIN from documents rather than grouping mk alone
      s"""WITH tk AS (SELECT doc_id, CASE WHEN text IS NULL OR
         |     trim(text) = '' THEN CAST([] AS VARCHAR[])
         |     ELSE $toksSql END AS t FROM documents),
         | ch AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |   list_aggregate(list_slice(t, (i-1)*10 + 1, (i-1)*10 + 10),
         |     'string_agg', ' ') AS seg
         |  FROM tk, unnest(generate_series(1,
         |    CAST(floor((len(t) - 1) / 10.0) AS BIGINT) + 1)) s(i)
         |  WHERE len(t) > 0),
         | hot AS (SELECT seg FROM (SELECT seg,
         |     count(DISTINCT doc_id) AS df FROM ch GROUP BY seg)
         |   WHERE df >= 2),
         | mk AS (SELECT c.doc_id, c.pos, c.seg,
         |     (h.seg IS NOT NULL) AS dropped
         |   FROM ch c LEFT JOIN hot h ON c.seg = h.seg),
         | agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
         |   CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_removed,
         |   CAST(length(coalesce(string_agg(seg, ' ' ORDER BY pos)
         |     FILTER (WHERE NOT dropped), '')) AS BIGINT) AS clean_chars,
         |   md5(coalesce(string_agg(seg, ' ' ORDER BY pos)
         |     FILTER (WHERE NOT dropped), '')) AS clean_md5
         |  FROM mk GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_segs, 0) AS n_segs,
         |  coalesce(a.n_removed, 0) AS n_removed,
         |  coalesce(a.clean_chars, 0) AS clean_chars,
         |  coalesce(a.clean_md5, md5('')) AS clean_md5
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q93_budget_select" -> {
      val stopIn = TextFunctions.langLexicons.flatMap(_._2)
        .map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH tk AS (SELECT doc_id, source, $toksSql AS t
         |     FROM documents),
         | sc AS (SELECT doc_id, source,
         |   CAST(len(t) AS BIGINT) AS n_tokens,
         |   round(CAST(len(list_filter(t, x -> x IN $stopIn)) AS DOUBLE)
         |     / CAST(CASE WHEN len(t) > 0 THEN len(t) ELSE 1 END
         |       AS DOUBLE), 6) AS stop_ratio
         |  FROM tk),
         | c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |     ORDER BY stop_ratio DESC, doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS BIGINT) AS cum_tokens FROM sc)
         |SELECT source, doc_id, n_tokens, cum_tokens, stop_ratio FROM c
         |WHERE cum_tokens <= 800 ORDER BY source, cum_tokens""".stripMargin
    },
    "q94_char_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | tot AS (SELECT doc_id, CAST(length(list_aggregate(t,
         |     'string_agg', ' ')) AS DOUBLE) AS tot FROM tk),
         | g2 AS (SELECT doc_id, unnest(list_transform(
         |     generate_series(1, greatest(len(t) - 1, 0)),
         |     i -> t[i] || ' ' || t[i+1])) AS g FROM tk),
         | c2 AS (SELECT doc_id, max(cnt * length(g)) AS m2 FROM
         |   (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2)
         |   GROUP BY doc_id),
         | g3 AS (SELECT doc_id, unnest(list_transform(
         |     generate_series(1, greatest(len(t) - 2, 0)),
         |     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM tk),
         | c3 AS (SELECT doc_id, max(cnt * length(g)) AS m3 FROM
         |   (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2)
         |   GROUP BY doc_id),
         | g5 AS (SELECT doc_id, unnest(list_transform(
         |     generate_series(1, greatest(len(t) - 4, 0)),
         |     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
         |       t[i+3] || ' ' || t[i+4])) AS g FROM tk),
         | c5 AS (SELECT doc_id, sum(cnt * length(g)) AS m5 FROM
         |   (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2)
         |   WHERE cnt >= 2 GROUP BY doc_id)
         |SELECT t.doc_id,
         |  round(CAST(coalesce(m2, 0) AS DOUBLE) / tot, 6)
         |    AS top2_char_frac,
         |  round(CAST(coalesce(m3, 0) AS DOUBLE) / tot, 6)
         |    AS top3_char_frac,
         |  round(CAST(coalesce(m5, 0) AS DOUBLE) / tot, 6)
         |    AS dup5_char_frac,
         |  (round(CAST(coalesce(m2, 0) AS DOUBLE) / tot, 6) <= 0.20 AND
         |   round(CAST(coalesce(m3, 0) AS DOUBLE) / tot, 6) <= 0.18 AND
         |   round(CAST(coalesce(m5, 0) AS DOUBLE) / tot, 6) <= 0.15)
         |    AS keep
         |FROM tot t LEFT JOIN c2 USING (doc_id)
         |  LEFT JOIN c3 USING (doc_id) LEFT JOIN c5 USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    "q95_epoch_mix" ->
      s"""WITH per AS (SELECT source, CAST(sum(len($toksSql)) AS BIGINT)
         |     AS tokens FROM documents GROUP BY source),
         | z AS (SELECT sum(pow(CAST(tokens AS DOUBLE), 0.5)) AS z,
         |     CAST(sum(tokens) AS DOUBLE) * 2.0 AS budget FROM per),
         | g1 AS (SELECT source, tokens,
         |     pow(CAST(tokens AS DOUBLE), 0.5) AS wt,
         |     budget * pow(CAST(tokens AS DOUBLE), 0.5) / z AS req,
         |     CAST(tokens AS DOUBLE) * 4.0 AS cap, budget
         |   FROM per CROSS JOIN z),
         | g1b AS (SELECT *, least(req, cap) AS grant1 FROM g1),
         | a1 AS (SELECT max(budget) - sum(grant1) AS excess,
         |     sum(CASE WHEN grant1 < cap THEN wt ELSE 0 END) AS zu
         |   FROM g1b)
         |SELECT source, tokens, round(req, 2) AS requested_tokens,
         |  round(least(cap, grant1 + CASE WHEN grant1 < cap AND zu > 0
         |    THEN excess * wt / zu ELSE 0 END), 2) AS granted_tokens,
         |  round(least(cap, grant1 + CASE WHEN grant1 < cap AND zu > 0
         |    THEN excess * wt / zu ELSE 0 END)
         |    / CAST(tokens AS DOUBLE), 6) AS epochs
         |FROM g1b CROSS JOIN a1 ORDER BY source""".stripMargin,
    "q97_ccnet_buckets" ->
      s"""WITH tk80 AS (SELECT doc_id, lang = 'en' AS is_ref,
         |     unnest($toksSql) AS term FROM documents),
         | tf AS (SELECT doc_id, is_ref, term, count(*) AS tf
         |   FROM tk80 GROUP BY 1, 2, 3),
         | lm AS (SELECT term,
         |     sum(CASE WHEN is_ref THEN tf ELSE 0 END) AS ref_cnt
         |   FROM tf GROUP BY term),
         | tot AS (SELECT CAST(sum(ref_cnt) AS DOUBLE) AS ref_tot,
         |     CAST(count(*) AS DOUBLE) AS vocab FROM lm),
         | ce AS (SELECT doc_id, round(
         |     -sum(tf * ln((ref_cnt + 0.5) / (ref_tot + 0.5 * vocab)))
         |       / sum(tf), 6) AS cross_entropy
         |   FROM tf JOIN lm USING (term) CROSS JOIN tot GROUP BY doc_id),
         | j AS (SELECT d.source, d.doc_id,
         |     CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |     ce.cross_entropy
         |   FROM documents d JOIN ce USING (doc_id)),
         | b AS (SELECT *, ntile(3) OVER (PARTITION BY source
         |     ORDER BY cross_entropy, doc_id) AS nb FROM j)
         |SELECT source, CASE nb WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  round(CAST(sum(CAST(round(cross_entropy * 1e6, 0) AS BIGINT))
         |      AS DOUBLE) / count(*) / 1e6, 6) AS mean_ce
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q96_weighted_sample" ->
      s"""WITH tk AS (SELECT doc_id, source,
         |     CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         | keyed AS (SELECT doc_id, source, n_tokens,
         |   pow((CAST(${H.format(
                  "CAST(doc_id AS VARCHAR) || 'ws1'")} AS DOUBLE) + 1.0)
         |       / 1152921504606846977.0,
         |     1.0 / CAST(n_tokens AS DOUBLE)) AS k FROM tk),
         | top AS (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 50)
         |SELECT doc_id, source, n_tokens, round(k, 6) AS sample_key
         |FROM top ORDER BY round(k, 6) DESC, doc_id""".stripMargin,
    "q98_lang_mismatch" -> {
      val lex = TextFunctions.langLexicons.map { case (lang, ws) =>
        lang -> ws.map(w => s"'$w'").mkString("(", ", ", ")")
      }
      s"""WITH tk AS (SELECT source, lang, $toksSql AS t FROM documents),
         | sc AS (SELECT source, lang,
         |   ${lex.map { case (l, in) =>
        s"len(list_filter(t, x -> x IN $in)) AS s_$l" }.mkString(", ")}
         | FROM tk),
         | p AS (SELECT source, lang, CASE
         |   WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
         |   WHEN s_es >= s_de AND s_es > 0 THEN 'es'
         |   WHEN s_de > 0 THEN 'de' ELSE 'und' END AS pred FROM sc)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN pred = 'und' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unknown,
         |  CAST(sum(CASE WHEN pred <> 'und' AND pred <> lang
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mislabeled,
         |  round(CAST(sum(CASE WHEN pred <> 'und' AND pred <> lang
         |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS mislabel_rate
         |FROM p GROUP BY source ORDER BY source""".stripMargin
    },
    "q99_shard_assign" ->
      s"""WITH b AS (SELECT doc_id, n_chars,
         |    ${H.format("'shard1' || CAST(doc_id AS VARCHAR)")} AS hk
         |  FROM documents),
         | a AS (SELECT doc_id, n_chars, hk % 16 AS shard,
         |    row_number() OVER (PARTITION BY hk % 16
         |      ORDER BY hk, doc_id) AS pos
         |  FROM b)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id * pos) AS BIGINT) AS ord_digest
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    "q100_snapshot_diff" ->
      s"""WITH d AS (SELECT doc_id, source, text,
         |    ${H.format("'snap' || CAST(doc_id AS VARCHAR)")} % 10000
         |      AS bk
         |  FROM documents),
         | o AS (SELECT doc_id, source, md5(text) AS dg FROM d
         |  WHERE bk < 9500),
         | n AS (SELECT doc_id, source,
         |    md5(CASE WHEN bk BETWEEN 4000 AND 4499 THEN text || 'v2'
         |      ELSE text END) AS dg
         |  FROM d WHERE bk >= 500),
         | j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |    coalesce(n.source, o.source) AS source,
         |    CASE WHEN o.dg IS NULL THEN 'added'
         |      WHEN n.dg IS NULL THEN 'removed'
         |      WHEN o.dg = n.dg THEN 'unchanged'
         |      ELSE 'changed' END AS status
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT source, status, count(*) AS n,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q101_gram_novelty" ->
      s"""$shinglesSql,
         | g AS (SELECT DISTINCT doc_id, ${H.format("s")} AS h FROM shr),
         | f AS (SELECT h, count(*) AS df FROM g GROUP BY h),
         | d AS (SELECT doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS n_common
         |  FROM g JOIN f USING (h) GROUP BY doc_id)
         |SELECT source, count(*) AS n_docs,
         |  round(CAST(sum(n_common) AS DOUBLE) /
         |    CAST(sum(n_grams) AS DOUBLE), 6) AS common_frac,
         |  CAST(sum(CASE WHEN 2 * n_common >= n_grams
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_templated
         |FROM d JOIN documents USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q102_label_drift" ->
      s"""WITH x AS (SELECT label, i AS dim,
         |    CAST(round(embedding[i] * 1e6, 0) AS BIGINT) AS mv
         |  FROM embeddings,
         |    unnest(generate_series(1, len(embedding))) s(i)),
         | ls AS (SELECT label, dim, sum(mv) AS sv FROM x GROUP BY 1, 2),
         | ln AS (SELECT label, count(*) AS n FROM embeddings
         |  GROUP BY 1),
         | gs AS (SELECT dim, sum(sv) AS gv FROM ls GROUP BY 1),
         | la AS (SELECT label, list(CAST(sv AS DOUBLE) ORDER BY dim)
         |    AS a FROM ls GROUP BY 1),
         | ga AS (SELECT list(CAST(gv AS DOUBLE) ORDER BY dim) AS g
         |  FROM gs)
         |SELECT label, n,
         |  round(list_dot_product(a, g) /
         |    (sqrt(list_dot_product(a, a)) *
         |     sqrt(list_dot_product(g, g))), 6) AS drift_cos
         |FROM la JOIN ln USING (label), ga
         |ORDER BY label""".stripMargin,
    "q103_snapshot_drift" ->
      s"""WITH d AS (SELECT source, n_chars,
         |    ${H.format("'snap' || CAST(doc_id AS VARCHAR)")} % 10000
         |      AS bk,
         |    least(CAST(floor(n_chars / 512.0) AS BIGINT), 63) AS bin
         |  FROM documents),
         | pb AS (SELECT source, bin,
         |    sum(CASE WHEN bk < 9500 THEN 1 ELSE 0 END) AS old_n,
         |    sum(CASE WHEN bk >= 500 THEN 1 ELSE 0 END) AS new_n
         |  FROM d GROUP BY 1, 2),
         | t AS (SELECT source, sum(old_n) AS n_old, sum(new_n) AS n_new
         |  FROM pb GROUP BY 1),
         | nm AS (SELECT pb.source, t.n_old, t.n_new,
         |    sum(abs(old_n * n_new - new_n * n_old)) AS num
         |  FROM pb JOIN t ON pb.source = t.source GROUP BY 1, 2, 3)
         |SELECT source, CAST(n_old AS BIGINT) AS n_old,
         |  CAST(n_new AS BIGINT) AS n_new,
         |  round(CAST(num AS DOUBLE) / 2.0 /
         |    CAST(n_old AS DOUBLE) / CAST(n_new AS DOUBLE), 6) AS tvd
         |FROM nm ORDER BY source""".stripMargin,
    "q104_bpe_fertility" -> {
      val pat = graft.functions.TextFunctions.bpePattern.replace("'", "''")
      s"""WITH c AS (SELECT lang, length(text) AS nc,
         |    CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS nb
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(nc) AS BIGINT) AS total_chars,
         |  CAST(sum(nb) AS BIGINT) AS total_bpe,
         |  round(CAST(sum(nc) AS DOUBLE) /
         |    CAST(greatest(sum(nb), 1) AS DOUBLE), 6) AS chars_per_token
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q105_event_funnel" ->
      s"""WITH v AS (SELECT user_id, min(ts) AS tv FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         | c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
         |  JOIN v ON e.user_id = v.user_id
         |  WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
         | p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
         |  JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1)
         |SELECT '1_any_event' AS stage,
         |  count(DISTINCT user_id) AS n_users FROM events
         |UNION ALL SELECT '2_view', count(*) FROM v
         |UNION ALL SELECT '3_click_after_view', count(*) FROM c
         |UNION ALL SELECT '4_purchase_after_click', count(*) FROM p
         |ORDER BY stage""".stripMargin,
    "q106_retention_cohorts" ->
      s"""WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cd
         |  FROM events GROUP BY 1),
         | j AS (SELECT e.user_id, f.cd,
         |    date_diff('day', f.cd, CAST(e.ts AS DATE)) AS k
         |  FROM events e JOIN f ON e.user_id = f.user_id)
         |SELECT cd AS cohort_day, count(DISTINCT user_id) AS n_users,
         |  count(DISTINCT CASE WHEN k = 1 THEN user_id END) AS d1,
         |  count(DISTINCT CASE WHEN k = 7 THEN user_id END) AS d7,
         |  count(DISTINCT CASE WHEN k = 14 THEN user_id END) AS d14
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q107_source_dup_matrix" ->
      s"""${shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2),
         | p AS (SELECT doc_a, doc_b FROM inter
         |   JOIN sz za ON doc_a = za.doc_id
         |   JOIN sz zb ON doc_b = zb.doc_id
         |   WHERE CAST(inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8),
         | e AS (SELECT doc_a AS a, doc_b AS b FROM p
         |   UNION SELECT doc_b, doc_a FROM p),
         | r AS (SELECT a AS node, a AS reach FROM e
         |   UNION
         |   SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         | cl AS (SELECT node AS doc_id, min(reach) AS cluster
         |   FROM r GROUP BY node),
         | cs AS (SELECT DISTINCT cluster, source
         |   FROM cl JOIN documents USING (doc_id))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS n_shared_clusters
         |FROM cs a JOIN cs b
         |  ON a.cluster = b.cluster AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q110_containment" ->
      s"""$shinglesSql,
         | g AS (SELECT DISTINCT doc_id, ${H.format("s")} AS h FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         | i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM g a JOIN g b ON a.h = b.h AND a.doc_id <> b.doc_id
         |   GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
         |  round(CAST(inter AS DOUBLE) / CAST(za.n AS DOUBLE), 6)
         |    AS containment
         |FROM i JOIN sz za ON doc_a = za.doc_id
         |WHERE CAST(inter AS DOUBLE) / CAST(za.n AS DOUBLE) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q111_chunk_stride" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | w AS (SELECT doc_id, t, unnest(generate_series(0,
         |     CAST(floor((len(t) - 1) / 24.0) AS INT))) AS ci
         |   FROM tk WHERE len(t) > 0),
         | c AS (SELECT doc_id, ci AS chunk_idx,
         |    array_to_string(list_slice(t, ci * 24 + 1, ci * 24 + 32),
         |      ' ') AS chunk
         |  FROM w)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(regexp_split_to_array(trim(chunk), '\\s+'))
         |    AS BIGINT) AS n_tokens,
         |  md5(chunk) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q115_integrity_audit" ->
      s"""SELECT 'discount_out_of_range' AS rule, count(*) AS n_violations
         |  FROM lineitem WHERE l_discount < 0 OR l_discount > 1
         |UNION ALL
         |SELECT 'nonpositive_quantity', count(*) FROM lineitem
         |  WHERE l_quantity <= 0
         |UNION ALL
         |SELECT 'orphan_lineitem_orderkey', count(*) FROM lineitem l
         |  WHERE NOT EXISTS (SELECT 1 FROM orders o
         |    WHERE o.o_orderkey = l.l_orderkey)
         |UNION ALL
         |SELECT 'orphan_order_custkey', count(*) FROM orders o
         |  WHERE NOT EXISTS (SELECT 1 FROM customer c
         |    WHERE c.c_custkey = o.o_custkey)
         |UNION ALL
         |SELECT 'ship_before_order', count(*) FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_shipdate < o.o_orderdate
         |ORDER BY rule""".stripMargin,
    "q116_column_profile" -> {
      def prof(c: String) =
        s"""SELECT '$c' AS col_name, count($c) AS non_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  round(min($c), 4) AS min_v, round(max($c), 4) AS max_v,
           |  round(avg($c), 4) AS mean_v FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(prof).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q117_knn_clusters" ->
      s"""WITH RECURSIVE v AS ($normVecSql),
         | s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |     round(list_dot_product(q.nv, c.nv), 6) AS cos_sim
         |   FROM v q JOIN v c ON q.vec_id <> c.vec_id),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s),
         | k AS (SELECT query_id, neighbor_id FROM rk WHERE rn <= 5),
         | m AS (SELECT a.query_id AS a, a.neighbor_id AS b FROM k a
         |   JOIN k b ON a.query_id = b.neighbor_id
         |     AND a.neighbor_id = b.query_id
         |   WHERE a.query_id < a.neighbor_id),
         | e AS (SELECT a, b FROM m UNION SELECT b, a FROM m),
         | rc AS (SELECT a AS node, a AS reach FROM e
         |   UNION
         |   SELECT rc.node, e.b FROM rc JOIN e ON rc.reach = e.a),
         | lab AS (SELECT node, min(reach) AS cluster FROM rc
         |   GROUP BY node)
         |SELECT v.vec_id,
         |  CAST(coalesce(lab.cluster, v.vec_id) AS BIGINT) AS cluster
         |FROM v LEFT JOIN lab ON v.vec_id = lab.node
         |ORDER BY v.vec_id""".stripMargin,
    "t21_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, count(*) AS exact_cnt FROM tok
         |GROUP BY 1 ORDER BY exact_cnt DESC, token LIMIT 20""".stripMargin,
    // IVF drift-monitor oracle (r13): centroids re-derived from the
    // BASE slice only (lloydCtes trains on whatever the `v` CTE holds —
    // here the 80% id-slice, matching buildIvfIndex(base); sample ≡
    // slice at ≤ 2048 vectors), then both slices argmax-assign against
    // c4 and aggregate — plain ANSI from there on.
    "q128_ivf_drift" ->
      s"""WITH ve AS MATERIALIZED ($normVecSql),
         | v AS MATERIALIZED (SELECT vec_id, nv FROM ve
         |  WHERE vec_id % 5 <> 0),
         |${lloydCtes(16, 4)},
         | basea AS (SELECT cell, cos FROM (
         |    SELECT c.cent_id AS cell,
         |      list_dot_product(v.nv, c.nv) AS cos,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |        AS rn
         |    FROM v, c4 c) WHERE rn = 1),
         | base AS (SELECT cell, count(*) AS base_n,
         |    round(avg(cos), 6) AS base_mean_cos,
         |    round(quantile_cont(cos, 0.10), 6) AS base_p10_cos
         |  FROM basea GROUP BY 1),
         | ba AS (SELECT cell, cos FROM (
         |    SELECT c.cent_id AS cell,
         |      list_dot_product(b.nv, c.nv) AS cos,
         |      row_number() OVER (PARTITION BY b.vec_id
         |        ORDER BY list_dot_product(b.nv, c.nv) DESC, c.cent_id)
         |        AS rn
         |    FROM (SELECT vec_id, nv FROM ve WHERE vec_id % 5 = 0) b,
         |      c4 c) WHERE rn = 1),
         | bp AS (SELECT cell, count(*) AS batch_n,
         |    round(avg(cos), 6) AS batch_mean_cos,
         |    round(quantile_cont(cos, 0.10), 6) AS batch_p10_cos
         |  FROM ba GROUP BY 1)
         |SELECT bp.cell, coalesce(base.base_n, 0) AS base_n,
         |  base.base_mean_cos IS NOT NULL AS has_baseline,
         |  base.base_mean_cos, base.base_p10_cos,
         |  bp.batch_n, bp.batch_mean_cos, bp.batch_p10_cos,
         |  round(base.base_mean_cos - bp.batch_mean_cos, 6) AS mean_drift,
         |  round(base.base_p10_cos - bp.batch_p10_cos, 6) AS p10_drift
         |FROM bp LEFT JOIN base USING (cell)
         |ORDER BY bp.cell""".stripMargin,
    // IVF+PQ error-drift oracle (r14): centroids AND codebooks re-derive
    // from the BASE slice (lloydCtes + pqCtes train on the `v` CTE);
    // every vector (both slices) then encodes against the frozen p4
    // codebooks with the same expanded ‖c‖²−2x·c argmin the engine's
    // PqEncode uses, and its PQ error is 1 − Σ_mi ⟨sv_mi, codeword_mi⟩
    // summed in ascending-mi order (list_aggregate over an ORDER BY mi
    // list — PqAdc's loop order); per-cell profiles + drift are plain
    // aggregation from there (quantile_cont ≡ percentile, t36-pinned)
    "q130_ivfpq_err_drift" -> {
      val dsub = 4
      val slice = (1 to dsub).map(j => s"ve.nv[g.mi * $dsub + $j]")
        .mkString("list_value(", ", ", ")")
      val cn2 = (1 to dsub).map(j => s"p.cv[$j] * p.cv[$j]")
        .mkString(" + ")
      val twoXC = (1 to dsub).map(j => s" - 2 * s.sv[$j] * p.cv[$j]")
        .mkString
      val sd = (1 to dsub).map(j => s"e.sv[$j] * p.cv[$j]")
        .mkString(" + ")
      s"""WITH ve AS MATERIALIZED ($normVecSql),
         | v AS MATERIALIZED (SELECT vec_id, nv FROM ve
         |  WHERE vec_id % 5 <> 0),
         |${lloydCtes(16, 4)},
         |${pqCtes(16, 16, dsub, 4)},
         | suball AS MATERIALIZED (SELECT ve.vec_id, g.mi, $slice AS sv
         |  FROM ve, (SELECT unnest(generate_series(0, 15)) AS mi) g),
         | encall AS (SELECT vec_id, mi, cent_id AS code, sv FROM (
         |    SELECT s.vec_id, s.mi, p.cent_id, s.sv,
         |      row_number() OVER (PARTITION BY s.vec_id, s.mi
         |        ORDER BY ($cn2)$twoXC ASC, p.cent_id) AS rn
         |    FROM suball s JOIN p4 p USING (mi)) WHERE rn = 1),
         | verr AS (SELECT vec_id,
         |    1 - list_aggregate(list(sd ORDER BY mi), 'sum') AS err
         |  FROM (SELECT e.vec_id, e.mi, $sd AS sd
         |    FROM encall e JOIN p4 p
         |      ON p.mi = e.mi AND p.cent_id = e.code)
         |  GROUP BY vec_id),
         | asg AS (SELECT vec_id, cell FROM (
         |    SELECT ve.vec_id, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY ve.vec_id
         |        ORDER BY list_dot_product(ve.nv, c.nv) DESC, c.cent_id)
         |        AS rn
         |    FROM ve, c4 c) WHERE rn = 1),
         | basep AS (SELECT a.cell, count(*) AS base_n,
         |    round(avg(x.err), 6) AS base_mean_err,
         |    round(quantile_cont(x.err, 0.90), 6) AS base_p90_err
         |  FROM asg a JOIN verr x USING (vec_id)
         |  WHERE a.vec_id % 5 <> 0 GROUP BY 1),
         | batchp AS (SELECT a.cell, count(*) AS batch_n,
         |    round(avg(x.err), 6) AS batch_mean_err,
         |    round(quantile_cont(x.err, 0.90), 6) AS batch_p90_err
         |  FROM asg a JOIN verr x USING (vec_id)
         |  WHERE a.vec_id % 5 = 0 GROUP BY 1)
         |SELECT bp.cell, coalesce(b.base_n, 0) AS base_n,
         |  b.base_mean_err IS NOT NULL AS has_baseline,
         |  b.base_mean_err, b.base_p90_err,
         |  bp.batch_n, bp.batch_mean_err, bp.batch_p90_err,
         |  round(bp.batch_mean_err - b.base_mean_err, 6)
         |    AS mean_err_drift,
         |  round(bp.batch_p90_err - b.base_p90_err, 6) AS p90_err_drift
         |FROM batchp bp LEFT JOIN basep b USING (cell)
         |ORDER BY bp.cell""".stripMargin
    },
    // SQ8 oracle (r14): training-free per-vector affine quantization —
    // codes = floor((x − min)·255/(max − min) + 0.5) exactly as the
    // engine's Sq8Encode spells it, the affine approximate score
    // vmin·Σq + Δ·(q·codes) term for term (list_dot_product and the
    // ordered list_aggregate sum are both left-to-right, matching
    // Sq8Dot and the query-side HOF fold), then the exact-cosine
    // rerank — the t10 double-WindowGroupLimit shape
    "q131_sq8_topk" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         | sq AS MATERIALIZED (SELECT vec_id,
         |    list_min(nv) AS vmin,
         |    (list_max(nv) - list_min(nv)) / 255.0 AS delta,
         |    CASE WHEN list_max(nv) > list_min(nv) THEN
         |      list_transform(nv, x -> CAST(floor(
         |        (x - list_min(nv)) * 255.0 /
         |        (list_max(nv) - list_min(nv)) + 0.5) AS DOUBLE))
         |    ELSE list_transform(nv, x -> 0.0) END AS codes
         |  FROM v),
         | q AS (SELECT vec_id AS query_id, nv AS qv,
         |    list_aggregate(nv, 'sum') AS qsum
         |  FROM v WHERE vec_id < 10),
         | approx AS (SELECT q.query_id, q.qv, s.vec_id AS neighbor_id,
         |    s.vmin * q.qsum + s.delta * list_dot_product(q.qv, s.codes)
         |      AS approx
         |  FROM sq s, q WHERE q.query_id <> s.vec_id),
         | cand AS (SELECT query_id, qv, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, neighbor_id) AS ar
         |  FROM approx),
         | rr AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_dot_product(c.qv, nb.nv), 6) AS cos_sim
         |  FROM cand c JOIN v nb ON nb.vec_id = c.neighbor_id
         |  WHERE c.ar <= 32),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM rr)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM rk WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,
    // SQ8 delete-serve oracle: the q131 replay over a code table that
    // simply never held the deleted ids (vec_id ≡ 3 mod 7) — the
    // tombstone-filtered load must be indistinguishable from that;
    // queries stay unfiltered (a deleted doc may still ask)
    "q132_sq8_delete_serve" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         | sq AS MATERIALIZED (SELECT vec_id,
         |    list_min(nv) AS vmin,
         |    (list_max(nv) - list_min(nv)) / 255.0 AS delta,
         |    CASE WHEN list_max(nv) > list_min(nv) THEN
         |      list_transform(nv, x -> CAST(floor(
         |        (x - list_min(nv)) * 255.0 /
         |        (list_max(nv) - list_min(nv)) + 0.5) AS DOUBLE))
         |    ELSE list_transform(nv, x -> 0.0) END AS codes
         |  FROM v WHERE vec_id % 7 <> 3),
         | q AS (SELECT vec_id AS query_id, nv AS qv,
         |    list_aggregate(nv, 'sum') AS qsum
         |  FROM v WHERE vec_id < 10),
         | approx AS (SELECT q.query_id, q.qv, s.vec_id AS neighbor_id,
         |    s.vmin * q.qsum + s.delta * list_dot_product(q.qv, s.codes)
         |      AS approx
         |  FROM sq s, q WHERE q.query_id <> s.vec_id),
         | cand AS (SELECT query_id, qv, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, neighbor_id) AS ar
         |  FROM approx),
         | rr AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_dot_product(c.qv, nb.nv), 6) AS cos_sim
         |  FROM cand c JOIN v nb ON nb.vec_id = c.neighbor_id
         |  WHERE c.ar <= 32),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM rr)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM rk WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,
    // IVF×SQ8 oracle: lloydCtes trains the coarse cells on the full
    // corpus; asg argmax-assigns every vector, qc keeps each query's
    // nProbe = 4 best cells (same (sim desc, cent_id) tie-break);
    // candidates are the cell equi-join; encode/approx/rerank replay
    // q131's SQ8 arithmetic term for term
    "q133_ivfsq8_topk" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         |${lloydCtes(16, 4)},
         | sq AS MATERIALIZED (SELECT vec_id,
         |    list_min(nv) AS vmin,
         |    (list_max(nv) - list_min(nv)) / 255.0 AS delta,
         |    CASE WHEN list_max(nv) > list_min(nv) THEN
         |      list_transform(nv, x -> CAST(floor(
         |        (x - list_min(nv)) * 255.0 /
         |        (list_max(nv) - list_min(nv)) + 0.5) AS DOUBLE))
         |    ELSE list_transform(nv, x -> 0.0) END AS codes
         |  FROM v),
         | asg AS (SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |        AS rn
         |    FROM v, c4 c) WHERE rn = 1),
         | qc AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT v.vec_id, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_dot_product(v.nv, c.nv) DESC, c.cent_id)
         |        AS rn
         |    FROM v, c4 c WHERE v.vec_id < 10) WHERE rn <= 4),
         | q AS (SELECT vec_id AS query_id, nv AS qv,
         |    list_aggregate(nv, 'sum') AS qsum
         |  FROM v WHERE vec_id < 10),
         | approx AS (SELECT qc.query_id, q.qv, a.vec_id AS neighbor_id,
         |    s.vmin * q.qsum + s.delta * list_dot_product(q.qv, s.codes)
         |      AS approx
         |  FROM qc JOIN asg a USING (cell)
         |  JOIN sq s ON s.vec_id = a.vec_id
         |  JOIN q ON q.query_id = qc.query_id
         |  WHERE qc.query_id <> a.vec_id),
         | cand AS (SELECT query_id, qv, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, neighbor_id) AS ar
         |  FROM approx),
         | rr AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_dot_product(c.qv, nb.nv), 6) AS cos_sim
         |  FROM cand c JOIN v nb ON nb.vec_id = c.neighbor_id
         |  WHERE c.ar <= 32),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM rr)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM rk WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,
    // near-dup forget oracle: forgetting scrubs identity, never
    // decisions — batch 2's admits must equal the never-forgotten
    // one-shot drop rule (q129's oracle) restricted to the upper half
    "q134_neardup_forget" ->
      s"""$shinglesSql,
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr
         |   WHERE doc_id % 2 = 0),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2),
         | neardrop AS (SELECT DISTINCT doc_b AS doc_id FROM inter
         |   JOIN sz za ON doc_a = za.doc_id
         |   JOIN sz zb ON doc_b = zb.doc_id
         |   WHERE CAST(inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8),
         | exactdrop AS (SELECT DISTINCT d.doc_id FROM documents d
         |   JOIN documents e ON md5(e.text) = md5(d.text)
         |     AND e.doc_id < d.doc_id AND e.doc_id % 2 = 0
         |   WHERE d.doc_id % 2 = 0),
         | cut AS (SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT) AS c
         |   FROM documents WHERE doc_id % 2 = 0)
         |SELECT doc_id
         |FROM documents
         |WHERE text IS NOT NULL AND doc_id % 2 = 0
         |  AND doc_id > (SELECT c FROM cut)
         |  AND doc_id NOT IN (SELECT doc_id FROM neardrop)
         |  AND doc_id NOT IN (SELECT doc_id FROM exactdrop)
         |ORDER BY doc_id""".stripMargin,
    // TTL-expiry oracle: the q131/q132 SQ8 replay over a code table
    // that only ever held the post-cutoff ingest batch (vec_id % 3 = 0
    // landed at 2000 µs; the 1000 µs save expired at cutoff 1500) —
    // the ingest-log-driven tombstones must make the serve
    // indistinguishable from that; queries stay unfiltered
    "q135_index_expire_serve" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         | sq AS MATERIALIZED (SELECT vec_id,
         |    list_min(nv) AS vmin,
         |    (list_max(nv) - list_min(nv)) / 255.0 AS delta,
         |    CASE WHEN list_max(nv) > list_min(nv) THEN
         |      list_transform(nv, x -> CAST(floor(
         |        (x - list_min(nv)) * 255.0 /
         |        (list_max(nv) - list_min(nv)) + 0.5) AS DOUBLE))
         |    ELSE list_transform(nv, x -> 0.0) END AS codes
         |  FROM v WHERE vec_id % 3 = 0),
         | q AS (SELECT vec_id AS query_id, nv AS qv,
         |    list_aggregate(nv, 'sum') AS qsum
         |  FROM v WHERE vec_id < 10),
         | approx AS (SELECT q.query_id, q.qv, s.vec_id AS neighbor_id,
         |    s.vmin * q.qsum + s.delta * list_dot_product(q.qv, s.codes)
         |      AS approx
         |  FROM sq s, q WHERE q.query_id <> s.vec_id),
         | cand AS (SELECT query_id, qv, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, neighbor_id) AS ar
         |  FROM approx),
         | rr AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_dot_product(c.qv, nb.nv), 6) AS cos_sim
         |  FROM cand c JOIN v nb ON nb.vec_id = c.neighbor_id
         |  WHERE c.ar <= 32),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS "rank" FROM rr)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", neighbor_id,
         |  cos_sim
         |FROM rk WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,
    // drop-reason audit oracle: every reason re-derived independently —
    // reps are per-(digest, batch) min-ids; exact reasons come from
    // digest joins within/across batches (restricted to reps for the
    // _store form, exactly the engine's batchSig side); near reasons
    // replay the FULL MinHash-LSH pipeline (the q24 banding replay:
    // permuted mins over hashed distinct shingles, 4×4 band keys,
    // banded candidates, exact-Jaccard verify — an all-pairs oracle
    // would assert pairs the banding legitimately misses), attributed
    // to the LARGER id and split by whether the partner sits in an
    // earlier batch (near_store) or the same one (near_batch);
    // reasons sort lexicographically both sides
    "q136_neardup_audit" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
         |   WHERE doc_id % 8 = 1),
         | docs2 AS (
         |   SELECT doc_id, text, 1 AS b FROM base
         |   UNION ALL SELECT doc_id + 1000000, text, 2 FROM base
         |   UNION ALL SELECT doc_id + 2000000, text, 2 FROM base
         |   UNION ALL SELECT doc_id + 3000000, text || ' zzyzx', 2
         |     FROM base
         |   UNION ALL SELECT doc_id + 4000000, text || ' zzyzx', 2
         |     FROM base),
         | tk AS (SELECT doc_id,
         |     regexp_split_to_array(trim(text), '\\s+') AS t
         |   FROM docs2 WHERE text IS NOT NULL),
         | shr AS (SELECT doc_id, unnest(list_transform(
         |   generate_series(1, greatest(len(t)-2, 0)),
         |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tk),
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | d AS (SELECT doc_id, md5(text) AS dg, b
         |   FROM docs2 WHERE text IS NOT NULL),
         | reps AS (SELECT dg, b, min(doc_id) AS rep FROM d
         |   GROUP BY dg, b),
         | isrep AS (SELECT d.doc_id, d.dg, d.b FROM d JOIN reps r
         |   ON d.dg = r.dg AND d.b = r.b AND d.doc_id = r.rep),
         | hh AS (SELECT DISTINCT doc_id,
         |     ${H.format("s")} % ${Dedup.P} AS h FROM shr),
         | sig AS (SELECT doc_id, $q136Sig FROM hh GROUP BY doc_id),
         | bnd AS ($q136Bands),
         | cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |   FROM bnd a JOIN bnd c ON a.band = c.band AND a.key = c.key
         |     AND a.doc_id < c.doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh bb ON a.s = bb.s AND a.doc_id < bb.doc_id
         |   GROUP BY 1, 2),
         | jac AS (SELECT i.doc_a, i.doc_b FROM inter i
         |   JOIN cand ON cand.doc_a = i.doc_a AND cand.doc_b = i.doc_b
         |   JOIN sz za ON i.doc_a = za.doc_id
         |   JOIN sz zb ON i.doc_b = zb.doc_id
         |   WHERE CAST(i.inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - i.inter AS DOUBLE) >= 0.8),
         | rs AS (
         |   SELECT d.doc_id, 'exact_batch' AS reason, r.rep AS partner
         |     FROM d JOIN reps r ON d.dg = r.dg AND d.b = r.b
         |     WHERE d.doc_id <> r.rep
         |   UNION ALL
         |   SELECT i.doc_id, 'exact_store',
         |       (SELECT min(e.doc_id) FROM d e
         |        WHERE e.dg = i.dg AND e.b < i.b)
         |     FROM isrep i WHERE EXISTS (SELECT 1 FROM d e
         |       WHERE e.dg = i.dg AND e.b < i.b)
         |   UNION ALL
         |   SELECT i.doc_id, 'near_store', min(e.doc_id)
         |     FROM isrep i JOIN jac p ON p.doc_b = i.doc_id
         |     JOIN d e ON e.doc_id = p.doc_a
         |     WHERE e.b < i.b GROUP BY i.doc_id
         |   UNION ALL
         |   SELECT i.doc_id, 'near_batch', min(r2.doc_id)
         |     FROM isrep i JOIN jac p ON p.doc_b = i.doc_id
         |     JOIN isrep r2 ON r2.doc_id = p.doc_a
         |     WHERE r2.b = i.b GROUP BY i.doc_id)
         |SELECT doc_id, reason, partner
         |FROM rs ORDER BY doc_id, reason""".stripMargin,
    // pinned-generation oracle: the pinned view replays q131 (the full
    // corpus the deploy-time index held), the current view replays
    // q132's shape (a code table that excludes the retired ids); the
    // shared SQ8 serve chain is emitted twice with a suffix
    "q137_pinned_generation_serve" ->
      s"""WITH v AS MATERIALIZED ($normVecSql),
         | q AS (SELECT vec_id AS query_id, nv AS qv,
         |    list_aggregate(nv, 'sum') AS qsum
         |  FROM v WHERE vec_id < 10),
         |${sq8ServeCtes("p", "")},
         |${sq8ServeCtes("c", "WHERE vec_id % 7 <> 3")}
         |SELECT 'pinned' AS view, query_id,
         |  CAST("rank" AS BIGINT) AS "rank", neighbor_id, cos_sim
         |FROM rkp WHERE "rank" <= 3
         |UNION ALL
         |SELECT 'current' AS view, query_id,
         |  CAST("rank" AS BIGINT) AS "rank", neighbor_id, cos_sim
         |FROM rkc WHERE "rank" <= 3
         |ORDER BY view, query_id, "rank"""".stripMargin,
    // media-sniff oracle: rebuild the fabricated payload as HEX
    // (magic ∥ hex(utf-8 text)) and replay the magic-byte CASE
    // dispatch clause for clause (including the clauses this fixture
    // never fires — parity is with the DISPATCH, not the fixture)
    "q138_media_sniff" ->
      s"""WITH k(i, kind, magic, mlen) AS (VALUES
         |    (0, 'jpeg', 'FFD8FF', 3),
         |    (1, 'png', '89504E47', 4),
         |    (2, 'gif', '474946383961', 6),
         |    (3, 'wav', '524946460000000057415645', 12),
         |    (4, 'pdf', '25504446', 4)),
         | m AS (SELECT d.doc_id, kc.kind AS claimed,
         |    ka.magic || upper(hex(encode(d.text))) AS ph,
         |    ka.mlen + octet_length(encode(d.text)) AS n_bytes
         |  FROM documents d
         |  JOIN k kc ON kc.i = d.doc_id % 5
         |  JOIN k ka ON ka.i = (CASE WHEN d.doc_id % 7 = 0
         |    THEN (d.doc_id + 1) % 5 ELSE d.doc_id % 5 END)),
         | s AS (SELECT doc_id, claimed, n_bytes,
         |    CASE WHEN substr(ph, 1, 6) = 'FFD8FF' THEN 'jpeg'
         |      WHEN substr(ph, 1, 8) = '89504E47' THEN 'png'
         |      WHEN substr(ph, 1, 8) = '47494638' THEN 'gif'
         |      WHEN substr(ph, 1, 8) = '52494646'
         |        AND substr(ph, 17, 8) = '57415645' THEN 'wav'
         |      WHEN substr(ph, 1, 8) = '52494646'
         |        AND substr(ph, 17, 8) = '57454250' THEN 'webp'
         |      WHEN substr(ph, 9, 8) = '66747970' THEN 'mp4'
         |      WHEN substr(ph, 1, 8) = '25504446' THEN 'pdf'
         |      WHEN substr(ph, 1, 4) = '424D' THEN 'bmp'
         |      WHEN substr(ph, 1, 4) = '1F8B' THEN 'gzip'
         |      WHEN substr(ph, 1, 8) = '28B52FFD' THEN 'zstd'
         |      ELSE 'unknown' END AS sniffed
         |  FROM m)
         |SELECT doc_id, claimed, sniffed,
         |  CAST(n_bytes AS BIGINT) AS n_bytes,
         |  claimed = sniffed AS format_ok
         |FROM s ORDER BY doc_id""".stripMargin,
    // media-header oracle: the fixture packs id-derived fields into
    // byte-true PNG/GIF/WAV headers and the operator parses them back,
    // so the expected values are pure id arithmetic — any endianness
    // or byte-offset slip in the parser breaks the hash
    "q139_media_header" ->
      s"""SELECT doc_id,
         |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
         |    WHEN 1 THEN 'gif' ELSE 'wav' END AS kind,
         |  CASE WHEN doc_id % 3 < 2
         |    THEN CAST(16 + doc_id % 1000 AS BIGINT) END AS width,
         |  CASE WHEN doc_id % 3 < 2
         |    THEN CAST(16 + (doc_id * 7) % 1000 AS BIGINT) END AS height,
         |  CASE WHEN doc_id % 3 = 2
         |    THEN CAST(8000 + (doc_id % 5) * 8000 AS BIGINT)
         |    END AS sample_rate,
         |  CASE WHEN doc_id % 3 = 2
         |    THEN CAST(1 + doc_id % 2 AS BIGINT) END AS channels
         |FROM documents ORDER BY doc_id""".stripMargin,
    // jpeg-dims oracle: the walk's expected output is pure id
    // arithmetic — non-JPEG (7|id) and truncated-before-SOF (5|id)
    // rows must be NULL, everything else the planted dimensions
    "q140_jpeg_dims" ->
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
         |    THEN CAST(16 + doc_id % 2000 AS BIGINT) END AS width,
         |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
         |    THEN CAST(16 + (doc_id * 3) % 2000 AS BIGINT)
         |    END AS height
         |FROM documents ORDER BY doc_id""".stripMargin,
    // mp4 box-walk oracle: pure id arithmetic — non-MP4 (7|id) and
    // truncated-moov (5|id) rows all-NULL, audio-only (9|id) rows
    // keep times but NULL dims; duration_ms is the integer division
    // the operator computes
    "q141_mp4_header" ->
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
         |    THEN 'isom' END AS major_brand,
         |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
         |    THEN CAST(600 + (doc_id % 9) * 400 AS BIGINT)
         |    END AS timescale,
         |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
         |    THEN CAST(10000 + (doc_id * 37) % 90000 AS BIGINT)
         |    END AS duration,
         |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
         |    THEN CAST((10000 + (doc_id * 37) % 90000) * 1000
         |      // (600 + (doc_id % 9) * 400) AS BIGINT)
         |    END AS duration_ms,
         |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
         |      AND doc_id % 9 <> 0
         |    THEN CAST(16 + doc_id % 1280 AS BIGINT) END AS width,
         |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
         |      AND doc_id % 9 <> 0
         |    THEN CAST(16 + (doc_id * 3) % 720 AS BIGINT) END AS height
         |FROM documents ORDER BY doc_id""".stripMargin,
    // near-dup ledger oracle: the ledger's two-batch admit decisions ≡
    // one-shot nearDupDrops on the union (spec-pinned parity under the
    // monotone-id contract), and one-shot's ANSI form is the q42
    // all-pairs exact-jaccard drop rule plus the exact-digest drop for
    // pairs the shingle stage can't see; survivors re-label by the cut
    "q129_neardup_ledger" ->
      s"""$shinglesSql,
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2),
         | neardrop AS (SELECT DISTINCT doc_b AS doc_id FROM inter
         |   JOIN sz za ON doc_a = za.doc_id
         |   JOIN sz zb ON doc_b = zb.doc_id
         |   WHERE CAST(inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8),
         | exactdrop AS (SELECT DISTINCT d.doc_id FROM documents d
         |   JOIN documents e ON md5(e.text) = md5(d.text)
         |     AND e.doc_id < d.doc_id),
         | cut AS (SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT) AS c
         |   FROM documents)
         |SELECT doc_id, CAST(CASE WHEN doc_id <= (SELECT c FROM cut)
         |    THEN 1 ELSE 2 END AS BIGINT) AS batch
         |FROM documents
         |WHERE text IS NOT NULL
         |  AND doc_id NOT IN (SELECT doc_id FROM neardrop)
         |  AND doc_id NOT IN (SELECT doc_id FROM exactdrop)
         |ORDER BY doc_id""".stripMargin,
    // streamed near-dup admit: decisions ≡ the q129 batch replay (the
    // epoch protocol re-emits sealed decisions; the entry itself
    // replays epoch 0 against the moved ledger, so a re-deciding
    // protocol would hash-mismatch)
    "q142_neardup_ledger_stream" ->
      s"""$shinglesSql,
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2),
         | neardrop AS (SELECT DISTINCT doc_b AS doc_id FROM inter
         |   JOIN sz za ON doc_a = za.doc_id
         |   JOIN sz zb ON doc_b = zb.doc_id
         |   WHERE CAST(inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8),
         | exactdrop AS (SELECT DISTINCT d.doc_id FROM documents d
         |   JOIN documents e ON md5(e.text) = md5(d.text)
         |     AND e.doc_id < d.doc_id),
         | cut AS (SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT) AS c
         |   FROM documents)
         |SELECT doc_id, CAST(CASE WHEN doc_id <= (SELECT c FROM cut)
         |    THEN 1 ELSE 2 END AS BIGINT) AS batch
         |FROM documents
         |WHERE text IS NOT NULL
         |  AND doc_id NOT IN (SELECT doc_id FROM neardrop)
         |  AND doc_id NOT IN (SELECT doc_id FROM exactdrop)
         |ORDER BY doc_id""".stripMargin,
    // streamed exact admit: under monotone ids the two-epoch admitted
    // set is the global min-id representative per content digest
    "q143_exact_ledger_stream" ->
      s"""WITH cut AS (SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT)
         |    AS c FROM documents),
         | f AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
         |   FROM documents WHERE text IS NOT NULL GROUP BY 1)
         |SELECT doc_id, CAST(CASE WHEN doc_id <= (SELECT c FROM cut)
         |    THEN 1 ELSE 2 END AS BIGINT) AS batch
         |FROM f ORDER BY doc_id""".stripMargin,
    // epoch lifecycle: three tercile epochs, retention sweeps epoch 0,
    // the read-back emits the survivors labeled — admit semantics are
    // min-id-per-digest, the retention cut is pure id arithmetic
    "q145_admit_epoch_lifecycle" ->
      s"""WITH m AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx
         |    FROM documents),
         | f AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
         |   FROM documents WHERE text IS NOT NULL GROUP BY 1)
         |SELECT doc_id,
         |  CAST(CASE WHEN doc_id <= 2 * (SELECT mx FROM m) // 3
         |    THEN 1 ELSE 2 END AS BIGINT) AS epoch
         |FROM f
         |WHERE doc_id > (SELECT mx FROM m) // 3
         |ORDER BY doc_id""".stripMargin,
    // ack-gated retention: with the consumer lagging at epoch 0, a
    // keepLast=1 sweep reclaims ONLY the acked epoch 0 (the watermark
    // protects the unread epoch 1); after the ack advances to 1 the
    // same sweep reclaims it — both stages are pure id arithmetic
    // over the min-id-per-digest admits
    "q146_ack_epoch_retention" ->
      s"""WITH m AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx
         |    FROM documents),
         | f AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
         |   FROM documents WHERE text IS NOT NULL GROUP BY 1),
         | lab AS (SELECT doc_id,
         |   CAST(CASE WHEN doc_id <= (SELECT mx FROM m) // 3 THEN 0
         |     WHEN doc_id <= 2 * (SELECT mx FROM m) // 3 THEN 1
         |     ELSE 2 END AS BIGINT) AS epoch FROM f)
         |SELECT 'lagging' AS stage, doc_id, epoch FROM lab
         |WHERE epoch >= 1
         |UNION ALL
         |SELECT 'acked' AS stage, doc_id, epoch FROM lab
         |WHERE epoch = 2
         |ORDER BY stage, doc_id""".stripMargin,
    // deep-moov walk: mode 'head' (default 64 KB bound) reads every
    // moov-at-end payload as NULL by contract BUT carries the
    // needed_bound diagnostic — the moov end offset, recomputable as
    // pure box-length arithmetic over the planted construction:
    // ftyp 20 + mdat (8 + 65536 + id%97) + moov (16 + mvhd + tkhd),
    // mvhd 108 (+12 for version 1: id%11=0), tkhd 92 (+12 for
    // version 1: id%4=0) = 65780 + id%97 + the version bumps; mode
    // 'full' (bound = payload) parses the same planted id arithmetic
    // as q141 with needed_bound NULL (nothing refused)
    "q147_mp4_deep_moov" ->
      s"""WITH modes(mode) AS (VALUES ('full'), ('head')),
         | b AS (SELECT m.mode, d.doc_id,
         |    (m.mode = 'full' AND d.doc_id % 7 <> 0) AS ok,
         |    (d.doc_id % 9 <> 0) AS vid
         |  FROM documents d CROSS JOIN modes m)
         |SELECT mode, doc_id,
         |  CASE WHEN ok THEN 'isom' END AS major_brand,
         |  CASE WHEN ok
         |    THEN CAST(600 + (doc_id % 9) * 400 AS BIGINT)
         |    END AS timescale,
         |  CASE WHEN ok
         |    THEN CAST(10000 + (doc_id * 37) % 90000 AS BIGINT)
         |    END AS duration,
         |  CASE WHEN ok
         |    THEN CAST((10000 + (doc_id * 37) % 90000) * 1000
         |      // (600 + (doc_id % 9) * 400) AS BIGINT)
         |    END AS duration_ms,
         |  CASE WHEN ok AND vid
         |    THEN CAST(16 + doc_id % 1280 AS BIGINT) END AS width,
         |  CASE WHEN ok AND vid
         |    THEN CAST(16 + (doc_id * 3) % 720 AS BIGINT) END AS height,
         |  CASE WHEN mode = 'head' AND doc_id % 7 <> 0
         |    THEN CAST(65780 + doc_id % 97
         |      + CASE WHEN doc_id % 11 = 0 THEN 12 ELSE 0 END
         |      + CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 0 END AS BIGINT)
         |    END AS needed_bound
         |FROM b ORDER BY mode, doc_id""".stripMargin,
    // streamed audit read-back: q136's rule replay with the batch
    // label derived from the id cut (epoch = batch - 1); partner is
    // the minimum matching doc per rule, and shadow partners (exact
    // dups of a rep) never move the min because the rep has the
    // smaller id and identical shingles
    "q148_neardup_audit_stream" ->
      s"""WITH cut AS (SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT)
         |    AS c FROM documents),
         | docs2 AS (SELECT doc_id, text,
         |   CASE WHEN doc_id <= (SELECT c FROM cut) THEN 1 ELSE 2 END
         |     AS b
         |   FROM documents),
         | tk AS (SELECT doc_id,
         |     regexp_split_to_array(trim(text), '\\s+') AS t
         |   FROM docs2 WHERE text IS NOT NULL),
         | shr AS (SELECT doc_id, unnest(list_transform(
         |   generate_series(1, greatest(len(t)-2, 0)),
         |   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM tk),
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | d AS (SELECT doc_id, md5(text) AS dg, b
         |   FROM docs2 WHERE text IS NOT NULL),
         | reps AS (SELECT dg, b, min(doc_id) AS rep FROM d
         |   GROUP BY dg, b),
         | isrep AS (SELECT d.doc_id, d.dg, d.b FROM d JOIN reps r
         |   ON d.dg = r.dg AND d.b = r.b AND d.doc_id = r.rep),
         | hh AS (SELECT DISTINCT doc_id,
         |     ${H.format("s")} % ${Dedup.P} AS h FROM shr),
         | sig AS (SELECT doc_id, $q136Sig FROM hh GROUP BY doc_id),
         | bnd AS ($q136Bands),
         | cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |   FROM bnd a JOIN bnd c ON a.band = c.band AND a.key = c.key
         |     AND a.doc_id < c.doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh bb ON a.s = bb.s AND a.doc_id < bb.doc_id
         |   GROUP BY 1, 2),
         | jac AS (SELECT i.doc_a, i.doc_b FROM inter i
         |   JOIN cand ON cand.doc_a = i.doc_a AND cand.doc_b = i.doc_b
         |   JOIN sz za ON i.doc_a = za.doc_id
         |   JOIN sz zb ON i.doc_b = zb.doc_id
         |   WHERE CAST(i.inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - i.inter AS DOUBLE) >= 0.8),
         | rs AS (
         |   SELECT d.doc_id, 'exact_batch' AS reason, r.rep AS partner,
         |       d.b
         |     FROM d JOIN reps r ON d.dg = r.dg AND d.b = r.b
         |     WHERE d.doc_id <> r.rep
         |   UNION ALL
         |   SELECT i.doc_id, 'exact_store',
         |       (SELECT min(e.doc_id) FROM d e
         |        WHERE e.dg = i.dg AND e.b < i.b), i.b
         |     FROM isrep i WHERE EXISTS (SELECT 1 FROM d e
         |       WHERE e.dg = i.dg AND e.b < i.b)
         |   UNION ALL
         |   SELECT i.doc_id, 'near_store', min(e.doc_id), i.b
         |     FROM isrep i JOIN jac p ON p.doc_b = i.doc_id
         |     JOIN d e ON e.doc_id = p.doc_a
         |     WHERE e.b < i.b GROUP BY i.doc_id, i.b
         |   UNION ALL
         |   SELECT i.doc_id, 'near_batch', min(r2.doc_id), i.b
         |     FROM isrep i JOIN jac p ON p.doc_b = i.doc_id
         |     JOIN isrep r2 ON r2.doc_id = p.doc_a
         |     WHERE r2.b = i.b GROUP BY i.doc_id, i.b)
         |SELECT doc_id, reason, partner,
         |  CAST(b - 1 AS BIGINT) AS epoch
         |FROM rs ORDER BY doc_id, reason""".stripMargin,
    // exact-ledger audit: in-batch drops name the min-id rep of their
    // digest within their epoch's batch; a rep whose digest an earlier
    // epoch admitted drops as exact_store with a NULL partner (the
    // digest store is id-free by design); epoch 1 is the planted
    // double re-ingest of every epoch-0 text under +1M/+2M ids
    "q150_exact_audit_stream" ->
      s"""WITH d0 AS (SELECT doc_id, md5(text) AS dg FROM documents
         |   WHERE text IS NOT NULL),
         | d AS (SELECT doc_id, dg, 1 AS b FROM d0
         |   UNION ALL SELECT doc_id + 1000000, dg, 2 FROM d0
         |   UNION ALL SELECT doc_id + 2000000, dg, 2 FROM d0),
         | reps AS (SELECT dg, b, min(doc_id) AS rep FROM d
         |   GROUP BY dg, b),
         | rs AS (
         |   SELECT d.doc_id, 'exact_batch' AS reason, r.rep AS partner,
         |       d.b
         |     FROM d JOIN reps r ON d.dg = r.dg AND d.b = r.b
         |     WHERE d.doc_id <> r.rep
         |   UNION ALL
         |   SELECT r.rep, 'exact_store', CAST(NULL AS BIGINT), r.b
         |     FROM reps r WHERE EXISTS (SELECT 1 FROM d e
         |       WHERE e.dg = r.dg AND e.b < r.b))
         |SELECT doc_id, reason, partner,
         |  CAST(b - 1 AS BIGINT) AS epoch
         |FROM rs ORDER BY doc_id, reason""".stripMargin,
    // consumer retirement: with the dead group stuck at 0 the
    // keepLast=1 sweep reclaims only epoch 0 (stage gated: 1 and 2
    // survive); after retiring it the gate recomputes over the
    // surviving group's watermark 1 and the same sweep reclaims
    // epoch 1 (stage retired: 2 alone) — pure id arithmetic over the
    // min-id-per-digest admits, q146's construction
    "q151_retire_consumer" ->
      s"""WITH m AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx
         |    FROM documents),
         | f AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
         |   FROM documents WHERE text IS NOT NULL GROUP BY 1),
         | lab AS (SELECT doc_id,
         |   CAST(CASE WHEN doc_id <= (SELECT mx FROM m) // 3 THEN 0
         |     WHEN doc_id <= 2 * (SELECT mx FROM m) // 3 THEN 1
         |     ELSE 2 END AS BIGINT) AS epoch FROM f)
         |SELECT 'gated' AS stage, doc_id, epoch FROM lab
         |WHERE epoch >= 1
         |UNION ALL
         |SELECT 'retired' AS stage, doc_id, epoch FROM lab
         |WHERE epoch = 2
         |ORDER BY stage, doc_id""".stripMargin,
    // compression census: codec by the planted branch, size by the
    // planted header arithmetic — gzip ISIZE = id*131 (truncated
    // members NULL), zstd FCS by flag (fcs0 only with single-segment;
    // fcs1 stores value−256; fcs3 NULL when the u64 exceeds Long)
    "q152_compression_census" ->
      s"""WITH b AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN 'raw'
         |         WHEN doc_id % 5 = 0 THEN 'gzip'
         |         ELSE 'zstd' END AS k
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN k = 'raw' THEN 'unknown' ELSE k END AS codec,
         |  CASE WHEN k = 'gzip' AND doc_id % 11 <> 0
         |         THEN CAST(doc_id * 131 AS BIGINT)
         |       WHEN k = 'zstd' THEN
         |         CASE doc_id % 4
         |           WHEN 0 THEN CASE WHEN doc_id % 3 = 0
         |             THEN CAST(doc_id % 256 AS BIGINT) END
         |           WHEN 1 THEN CAST((doc_id * 37) % 65536 + 256
         |             AS BIGINT)
         |           WHEN 2 THEN CAST(doc_id * 97 AS BIGINT)
         |           ELSE CASE WHEN doc_id % 9 <> 0
         |             THEN CAST((doc_id % 100000) * 4294967296
         |               + doc_id * 53 AS BIGINT) END
         |         END
         |  END AS uncompressed_size
         |FROM b ORDER BY doc_id""".stripMargin,
    // encoding census: every column recomputed from the planted
    // construction — family f (utf8/bom, utf16, utf32, nul page),
    // ascii prefix k, repeat m; first_invalid is the byte offset of
    // the planted breakage (bom + prefix widths), n_chars the planted
    // code-point count, n_nul the planted zero bytes (utf16 'a' units
    // carry one each, utf32 'a' units three, the BOMs two)
    "q153_encoding_census" ->
      s"""WITH b AS (SELECT doc_id,
         |    doc_id % 5 AS f, CAST(doc_id % 7 AS BIGINT) AS k,
         |    CAST(1 + doc_id % 3 AS BIGINT) AS m,
         |    doc_id % 9 AS c9, doc_id % 4 AS c4,
         |    doc_id % 2 = 0 AS le
         |  FROM documents)
         |SELECT doc_id,
         |  CASE
         |    WHEN f IN (0, 1) THEN
         |      CASE WHEN f = 1 THEN 'utf8_bom'
         |           WHEN c9 >= 4 THEN 'binary'
         |           WHEN c9 = 0 THEN 'ascii'
         |           ELSE 'utf8' END
         |    WHEN f = 2 THEN
         |      CASE WHEN le THEN 'utf16le' ELSE 'utf16be' END
         |    WHEN f = 3 THEN
         |      CASE WHEN le THEN 'utf32le' ELSE 'utf32be' END
         |    ELSE 'ascii' END AS encoding,
         |  CASE
         |    WHEN f IN (0, 1) THEN c9 < 4
         |    WHEN f = 2 THEN c4 <= 1
         |    WHEN f = 3 THEN c4 = 0
         |    ELSE TRUE END AS valid,
         |  CAST(CASE
         |    WHEN f IN (0, 1) AND c9 >= 4 THEN 3 * f + k
         |    WHEN f = 2 AND c4 >= 2 THEN 2 + 2 * k
         |    WHEN f = 3 AND c4 >= 1 THEN 4 + 4 * k
         |    END AS BIGINT) AS first_invalid,
         |  CAST(CASE
         |    WHEN f IN (0, 1) THEN
         |      CASE WHEN c9 = 0 THEN k WHEN c9 <= 3 THEN k + m END
         |    WHEN f = 2 THEN
         |      CASE WHEN c4 = 0 THEN k WHEN c4 = 1 THEN k + 1 END
         |    WHEN f = 3 THEN CASE WHEN c4 = 0 THEN k + 1 END
         |    ELSE k + m + 1 END AS BIGINT) AS n_chars,
         |  CAST(CASE
         |    WHEN f IN (0, 1) THEN 0
         |    WHEN f = 2 THEN k +
         |      CASE c4 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END
         |    WHEN f = 3 THEN 2 + 3 * k +
         |      CASE WHEN c4 IN (1, 2) THEN 3
         |           WHEN c4 = 0 THEN 2 ELSE 0 END
         |    ELSE m END AS BIGINT) AS n_nul
         |FROM b ORDER BY doc_id""".stripMargin,
    // url census: the canonical form rebuilt from the construction
    // arithmetic — lowercased scheme/host, userinfo dropped, default
    // port dropped ONLY when it matches the scheme (https:80 kept),
    // empty path -> '/', query params sorted with empties dropped,
    // fragment dropped; the two unparseable families read NULL with
    // parseable false
    "q154_url_census" ->
      s"""WITH b AS (SELECT doc_id,
         |    doc_id % 13 AS g, doc_id % 3 AS sc,
         |    (doc_id // 3) % 3 AS qs, doc_id % 4 AS pt,
         |    (doc_id // 4) % 4 AS nseg, doc_id % 5 = 0 AS tsl,
         |    doc_id % 20 AS hk, doc_id % 7 AS bv, doc_id % 5 AS mv
         |  FROM documents),
         | e AS (SELECT *,
         |    CASE WHEN sc = 1 THEN 'https' ELSE 'http' END AS sch,
         |    'www.site' || hk || '.example.com' AS hst,
         |    CASE WHEN pt = 2 THEN ':8080'
         |         WHEN pt = 0 AND sc = 1 THEN ':80'
         |         WHEN pt = 1 AND sc <> 1 THEN ':443'
         |         ELSE '' END AS prt,
         |    CASE WHEN nseg = 0 THEN '/'
         |         ELSE CASE nseg WHEN 1 THEN '/seg0'
         |              WHEN 2 THEN '/seg0/seg1'
         |              ELSE '/seg0/seg1/seg2' END ||
         |           CASE WHEN tsl THEN '/' ELSE '' END END AS pth,
         |    CASE qs WHEN 0 THEN ''
         |         WHEN 1 THEN '?a=1&b=' || bv
         |         ELSE '?a=1&a=3&m=' || mv || '&z=9' END AS qry
         |  FROM b)
         |SELECT doc_id,
         |  CASE WHEN g >= 2 THEN sch END AS scheme,
         |  CASE WHEN g >= 2 THEN hst END AS host,
         |  CAST(CASE WHEN g >= 2 THEN
         |    CASE pt WHEN 0 THEN 80 WHEN 1 THEN 443 WHEN 2 THEN 8080
         |    END END AS BIGINT) AS port,
         |  CASE WHEN g >= 2
         |    THEN sch || '://' || hst || prt || pth || qry
         |  END AS url_norm,
         |  CAST(CASE WHEN g = 0 THEN 1 WHEN g = 1 THEN 3
         |    ELSE nseg END AS BIGINT) AS path_depth,
         |  CAST(CASE WHEN g = 0 THEN 0 WHEN g = 1 THEN 1
         |    ELSE CASE qs WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 4 END
         |  END AS BIGINT) AS n_params,
         |  g >= 2 AS parseable
         |FROM e ORDER BY doc_id""".stripMargin,
    // warc walk: the record stream rebuilt arithmetically — per-id
    // record count (capped at 1 by the fam-3 desync), header fields
    // from the same construction, block offsets as strlen over the
    // SAME header text plus a window sum of prior records' totals
    // (header + declared length + the 4-byte trailer)
    "q155_warc_walk" ->
      s"""WITH series(r) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
         | b AS (SELECT d.doc_id, s.r,
         |    1 + d.doc_id % 3 AS nrec, d.doc_id % 13 AS fam,
         |    CASE s.r % 3 WHEN 0 THEN 'response'
         |      WHEN 1 THEN 'request' ELSE 'warcinfo' END AS typ,
         |    'http://s' || (d.doc_id % 10) || '.example.com/' || s.r
         |      AS uri,
         |    10 + (d.doc_id * 7 + s.r * 5) % 23 AS len
         |  FROM documents d, series s
         |  WHERE s.r < 1 + d.doc_id % 3),
         | keep AS (SELECT * FROM b WHERE NOT (fam = 3 AND r >= 1)),
         | h AS (SELECT *,
         |    strlen('WARC/1.0' || chr(13) || chr(10) ||
         |      'WARC-Type: ' || typ || chr(13) || chr(10) ||
         |      'WARC-Target-URI: ' || uri || chr(13) || chr(10) ||
         |      CASE WHEN fam = 2 THEN
         |        'WARC-Date: 2024-01-01T00:00:00Z' || chr(13) ||
         |        chr(10) || 'Content-Type: application/http' ||
         |        chr(13) || chr(10) ELSE '' END ||
         |      'Content-Length: ' || len || chr(13) || chr(10) ||
         |      chr(13) || chr(10)) AS hdr_len
         |  FROM keep),
         | o AS (SELECT *,
         |    COALESCE(SUM(hdr_len + len + 4) OVER (
         |      PARTITION BY doc_id ORDER BY r
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + hdr_len AS off
         |  FROM h)
         |SELECT doc_id, r AS rec, typ AS warc_type, uri AS target_uri,
         |  CASE WHEN fam = 2 THEN 'application/http' END
         |    AS content_type,
         |  CAST(len AS BIGINT) AS content_length,
         |  CAST(off AS BIGINT) AS block_offset,
         |  fam = 0 AND r = nrec - 1 AS block_truncated
         |FROM o ORDER BY doc_id, rec""".stripMargin,
    // script census: the planted multipliers ARE the counts; dominant
    // replays the same greatest + fixed-precedence tie-break chain
    "q156_script_census" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(doc_id % 7 AS BIGINT) AS latin,
         |    CAST((doc_id // 7) % 5 AS BIGINT) AS han,
         |    CAST((doc_id // 5) % 4 AS BIGINT) AS cyrillic,
         |    CAST((doc_id // 3) % 3 AS BIGINT) AS arabic,
         |    CAST(doc_id % 2 AS BIGINT) AS devanagari,
         |    CAST((doc_id // 2) % 3 AS BIGINT) AS kana,
         |    CAST((doc_id // 11) % 2 AS BIGINT) AS hangul,
         |    CAST(doc_id % 3 AS BIGINT) AS digit
         |  FROM documents),
         | g AS (SELECT *, greatest(latin, han, cyrillic, arabic,
         |    devanagari, kana, hangul) AS mx FROM b)
         |SELECT doc_id, latin, han, cyrillic, arabic, devanagari,
         |  kana, hangul, digit,
         |  latin + han + cyrillic + arabic + devanagari + kana +
         |    hangul + digit + 2 AS n_chars,
         |  CASE WHEN mx = 0 THEN NULL
         |       WHEN latin = mx THEN 'latin'
         |       WHEN han = mx THEN 'han'
         |       WHEN cyrillic = mx THEN 'cyrillic'
         |       WHEN arabic = mx THEN 'arabic'
         |       WHEN devanagari = mx THEN 'devanagari'
         |       WHEN kana = mx THEN 'kana'
         |       ELSE 'hangul' END AS dominant
         |FROM g ORDER BY doc_id""".stripMargin,
    // crawl ingest: the whole chain replayed as arithmetic — the
    // 97-bucket URI space plants the dup rate, first-per-bucket by
    // (doc_id, rec) is the dedup, c IN (0,1) is the encoding gate
    // (ascii text / utf8 é-runs pass; the binary byte and the VALID
    // utf16le block both gate out)
    "q157_crawl_ingest" ->
      s"""WITH series(r) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
         | recs AS (SELECT d.doc_id, s.r,
         |    (d.doc_id * 7 + s.r) % 97 AS k,
         |    (d.doc_id + s.r) % 4 AS c
         |  FROM documents d, series s
         |  WHERE s.r < 1 + d.doc_id % 3),
         | f AS (SELECT *, row_number() OVER (
         |    PARTITION BY k ORDER BY doc_id, r) AS rn FROM recs)
         |SELECT 'http://site' || k || '.example.com/p' AS url_norm,
         |  doc_id, r AS rec,
         |  CAST(CASE WHEN c = 0
         |    THEN strlen('doc ' || doc_id || ' rec ' || r)
         |    ELSE 1 + doc_id % 5 END AS BIGINT) AS n_chars
         |FROM f WHERE rn = 1 AND c IN (0, 1)
         |ORDER BY url_norm, doc_id""".stripMargin,
    // html extraction: title/text/link/tag-count rebuilt from the
    // planted page construction — 13 fixed tag tokens + 2 per title/
    // script/anchor, visible text with decoded entities and
    // single-space collapse
    "q158_html_extract" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(doc_id % 4 AS BIGINT) AS nl,
         |    doc_id % 9 = 0 AS notitle, doc_id % 5 = 0 AS scr,
         |    doc_id % 7 AS k
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN notitle THEN NULL
         |    ELSE 'Doc ' || doc_id END AS title,
         |  'Head' || doc_id || ' A & B <C> #' || k ||
         |    CASE nl WHEN 0 THEN '' WHEN 1 THEN ' go 0'
         |      WHEN 2 THEN ' go 0 go 1'
         |      ELSE ' go 0 go 1 go 2' END AS text,
         |  nl AS n_links,
         |  CAST(13 + CASE WHEN notitle THEN 0 ELSE 2 END +
         |    CASE WHEN scr THEN 2 ELSE 0 END + 2 * nl AS BIGINT)
         |    AS n_tags
         |FROM b ORDER BY doc_id""".stripMargin,
    // incremental crawl ledger: the chain replayed as arithmetic +
    // the ledger rule — min rid per URL bucket in batch 0; batch 1
    // admits only buckets batch 0 never admitted (cross-batch dedup)
    "q159_crawl_ledger_stream" ->
      s"""WITH series(r) AS (VALUES (CAST(0 AS BIGINT)), (1)),
         | m AS (SELECT CAST(max(doc_id) AS BIGINT) // 2 AS mid
         |   FROM documents),
         | recs AS (SELECT d.doc_id, s.r,
         |    d.doc_id * 4 + s.r AS rid,
         |    (d.doc_id * 13 + s.r * 7) % 4001 AS k,
         |    (d.doc_id + s.r) % 3 AS c,
         |    CASE WHEN d.doc_id <= (SELECT mid FROM m)
         |      THEN 0 ELSE 1 END AS b
         |  FROM documents d, series s
         |  WHERE s.r < 1 + d.doc_id % 2),
         | gated AS (SELECT * FROM recs WHERE c IN (0, 1)),
         | a0 AS (SELECT k, min(rid) AS rid FROM gated
         |   WHERE b = 0 GROUP BY k),
         | a1 AS (SELECT k, min(rid) AS rid FROM gated
         |   WHERE b = 1 AND k NOT IN (SELECT k FROM a0) GROUP BY k),
         | u AS (SELECT rid, k, CAST(0 AS BIGINT) AS epoch FROM a0
         |   UNION ALL
         |   SELECT rid, k, CAST(1 AS BIGINT) AS epoch FROM a1)
         |SELECT CAST(rid // 4 AS BIGINT) AS doc_id,
         |  CAST(rid % 4 AS BIGINT) AS rec,
         |  'http://site' || k || '.example.com/p' AS url_norm, epoch
         |FROM u ORDER BY doc_id, rec""".stripMargin,
    // robots rule census: the exploded rows rebuilt from host
    // arithmetic — rule indices shift with the presence-varying
    // wildcard rules, the empty Disallow and unknown directives
    // contribute nothing, sitemap rows carry the global sentinel ids
    "q160_robots_rules" ->
      s"""WITH hosts AS (SELECT DISTINCT CAST(doc_id % 20 AS BIGINT)
         |    AS h FROM documents),
         | base AS (
         |  SELECT h, 0 AS grp, '*' AS agents, 'disallow' AS directive,
         |    '/private' AS pattern, 0 AS rule FROM hosts
         |  UNION ALL SELECT h, 0, '*', 'allow', '/private/ok', 1
         |    FROM hosts
         |  UNION ALL SELECT h, 0, '*', 'disallow', '/tmp*', 2
         |    FROM hosts WHERE h % 2 = 0
         |  UNION ALL SELECT h, 0, '*', 'disallow', '/*.pdf$$',
         |    2 + CASE WHEN h % 2 = 0 THEN 1 ELSE 0 END
         |    FROM hosts WHERE h % 3 = 0
         |  UNION ALL SELECT h, 1, 'graftbot', 'disallow', '/', 0
         |    FROM hosts WHERE h % 5 = 0
         |  UNION ALL SELECT h, 1, 'graftbot', 'allow', '/pub', 1
         |    FROM hosts WHERE h % 5 = 0
         |  UNION ALL SELECT h, -1, '', 'sitemap',
         |    'https://h' || h || '.example.com/sitemap.xml', -1
         |    FROM hosts WHERE h % 4 = 0)
         |SELECT 'h' || h || '.example.com' AS host,
         |  CAST(grp AS BIGINT) AS grp, agents, directive, pattern,
         |  CAST(rule AS BIGINT) AS rule
         |FROM base ORDER BY host, grp, rule""".stripMargin,
    // robots verdict: RFC 9309 longest-match replayed as arithmetic —
    // the agent-specific full-block group governs every 5th host
    // (with the /pub carve-out), the wildcard and anchored rules
    // apply by host presence, host 20 has no robots (allowed)
    "q161_robots_verdict" ->
      s"""WITH p AS (SELECT doc_id,
         |    CAST(doc_id % 21 AS BIGINT) AS h, doc_id % 7 AS f
         |  FROM documents)
         |SELECT doc_id, 'h' || h || '.example.com' AS host,
         |  CASE f WHEN 0 THEN '/pub/x' || doc_id
         |       WHEN 1 THEN '/private/x'
         |       WHEN 2 THEN '/private/ok'
         |       WHEN 3 THEN '/tmp/a' || doc_id || '.html'
         |       WHEN 4 THEN '/files/d' || doc_id || '.pdf'
         |       WHEN 5 THEN '/private'
         |       ELSE '/privateer' END AS path,
         |  CASE WHEN h = 20 THEN TRUE
         |       WHEN f = 0 THEN TRUE
         |       WHEN f = 2 THEN h % 5 <> 0
         |       WHEN f = 3 THEN h % 5 <> 0 AND h % 2 <> 0
         |       WHEN f = 4 THEN h % 5 <> 0 AND h % 3 <> 0
         |       ELSE FALSE END AS allowed
         |FROM p ORDER BY doc_id""".stripMargin,
    // sitemap walk: url rows rebuilt from the urlset arithmetic
    // (entity-decoded locs, optional lastmod, non-numeric priority
    // NULL, the planted missing loc), sitemapindex children as kind
    // 'sitemap' for every 11th doc
    "q162_sitemap_walk" ->
      s"""WITH series(r) AS (VALUES (CAST(0 AS BIGINT)), (1), (2)),
         | urls AS (SELECT d.doc_id, s.r,
         |    d.doc_id % 13 = 4 AS noloc
         |  FROM documents d, series s
         |  WHERE d.doc_id % 11 <> 0 AND s.r < 1 + d.doc_id % 3),
         | u AS (SELECT doc_id, 'url' AS kind,
         |    CASE WHEN noloc AND r = 0 THEN NULL
         |      ELSE 'https://s' || (doc_id * 3 + r) % 50 ||
         |        '.example.com/p' || r || '?a=1&b=2' END AS loc,
         |    CASE WHEN r % 2 = 0 THEN '2024-01-1' || r END AS lastmod,
         |    CASE r % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
         |      ELSE 'monthly' END AS changefreq,
         |    CASE WHEN r = 2 THEN NULL
         |      ELSE CAST('0.' || (5 + r) AS DOUBLE) END AS priority
         |  FROM urls),
         | sm AS (SELECT d.doc_id, 'sitemap' AS kind,
         |    'https://h' || d.doc_id % 20 || '.example.com/sm' ||
         |      s.r || '.xml' AS loc,
         |    CASE WHEN s.r = 0 THEN '2024-02-01' END AS lastmod,
         |    CAST(NULL AS VARCHAR) AS changefreq,
         |    CAST(NULL AS DOUBLE) AS priority
         |  FROM documents d, series s
         |  WHERE d.doc_id % 11 = 0 AND s.r < 2)
         |SELECT * FROM u UNION ALL SELECT * FROM sm
         |ORDER BY doc_id, kind, loc""".stripMargin,
    // epoch-root health: the structural fields are fixed by the
    // entry's construction (3 epochs, one unsealed, ack at 0,
    // horizon 1); admitted_rows is data-dependent — the min-id digest
    // reps of the first two terciles
    "q149_stream_health" ->
      s"""WITH m AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx
         |    FROM documents),
         | f AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
         |   FROM documents WHERE text IS NOT NULL GROUP BY 1)
         |SELECT 'admit_epochs' AS store_kind,
         |  CAST(2 AS BIGINT) AS epochs_sealed,
         |  CAST(1 AS BIGINT) AS epochs_unsealed,
         |  CAST(0 AS BIGINT) AS epochs_audited,
         |  CAST(0 AS BIGINT) AS oldest_sealed,
         |  CAST(1 AS BIGINT) AS newest_sealed,
         |  CAST(0 AS BIGINT) AS consumed_watermark,
         |  CAST(1 AS BIGINT) AS consumer_lag,
         |  TRUE AS lag_exceeds_horizon,
         |  (SELECT count(*) FROM f
         |   WHERE doc_id <= 2 * (SELECT mx FROM m) // 3)
         |    AS admitted_rows""".stripMargin,
    "q119_interevent_gaps" ->
      s"""WITH g AS (SELECT event_type,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |      PARTITION BY user_id, event_type
         |      ORDER BY ts, event_id) AS gap_us
         |  FROM events)
         |SELECT event_type, count(*) AS n_gaps,
         |  round(quantile_cont(gap_us, 0.5), 4) AS med_gap_us,
         |  round(quantile_cont(gap_us, 0.9), 4) AS p90_gap_us
         |FROM g WHERE gap_us IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q120_source_terms" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS w
         |    FROM documents),
         | yiw AS (SELECT source, w, count(*) AS y FROM tok GROUP BY 1, 2),
         | yw AS (SELECT w, sum(y) AS y_all FROM yiw GROUP BY 1),
         | ni AS (SELECT source, sum(y) AS n_i FROM yiw GROUP BY 1),
         | na AS (SELECT sum(y_all) AS n_all FROM yw),
         | sc AS (SELECT yiw.source, yiw.w, yiw.y,
         |     1000.0 * yw.y_all / na.n_all AS aw,
         |     yw.y_all - yiw.y AS y_rest,
         |     na.n_all - ni.n_i AS n_rest, ni.n_i
         |   FROM yiw JOIN yw USING (w) JOIN ni USING (source), na
         |   WHERE yiw.y >= 5),
         | zz AS (SELECT source, w, y,
         |     round((ln((y + aw) / (n_i + 1000.0 - y - aw)) -
         |        ln((y_rest + aw) / (n_rest + 1000.0 - y_rest - aw))) /
         |       sqrt(1.0 / (y + aw) + 1.0 / (y_rest + aw)), 6) AS z
         |   FROM sc),
         | rk AS (SELECT source, w, y, z, row_number() OVER (
         |     PARTITION BY source ORDER BY z DESC, w) AS rk FROM zz)
         |SELECT source, CAST(rk AS BIGINT) AS rk, w AS term,
         |  CAST(y AS BIGINT) AS y, z
         |FROM rk WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    "q121_zipf_slope" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS w
         |    FROM documents),
         | yiw AS (SELECT source, w, count(*) AS y FROM tok GROUP BY 1, 2),
         | rk AS (SELECT source, w, y, row_number() OVER (
         |     PARTITION BY source ORDER BY y DESC, w) AS r FROM yiw),
         | xy AS (SELECT source,
         |     CAST(round(ln(r) * 1e6) AS BIGINT) AS x,
         |     CAST(round(ln(y) * 1e6) AS BIGINT) AS ly
         |   FROM rk WHERE y >= 2 AND r <= 1000),
         | ag AS (SELECT source, count(*) AS n_terms,
         |     sum(x) AS sx, sum(ly) AS sy, sum(x * ly) AS sxy,
         |     sum(x * x) AS sxx
         |   FROM xy GROUP BY 1)
         |SELECT source, n_terms,
         |  round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope
         |FROM ag WHERE n_terms >= 10 ORDER BY source""".stripMargin,
    "q125_rfm_segments" -> {
      def crossed(m: String, a: String) = (1 to 4).map(i =>
        s"(CASE WHEN $m > $a[$i] THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH per AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
         |     count(*) AS freq, round(sum(value), 2) AS monetary
         |   FROM events GROUP BY 1),
         | nw AS (SELECT max(epoch_us(ts)) AS now_us FROM events),
         | p2 AS (SELECT per.*, nw.now_us - per.last_us AS recency_us
         |   FROM per, nw),
         | cuts AS (SELECT
         |     quantile_cont(recency_us, [0.2, 0.4, 0.6, 0.8]) AS rc,
         |     quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
         |     quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc
         |   FROM p2),
         | sc AS (SELECT p2.monetary,
         |     CAST(5 - (${crossed("recency_us", "rc")}) AS BIGINT)
         |       AS r_score,
         |     CAST(1 + (${crossed("freq", "fc")}) AS BIGINT) AS f_score,
         |     CAST(1 + (${crossed("monetary", "mc")}) AS BIGINT)
         |       AS m_score
         |   FROM p2, cuts)
         |SELECT r_score, f_score, m_score, count(*) AS n_users,
         |  round(sum(monetary), 2) AS seg_value
         |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    },
    "q124_byte_entropy" ->
      s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
         |    FROM documents),
         | cnt AS (SELECT doc_id, c, count(*) AS cc FROM ch GROUP BY 1, 2),
         | e AS (SELECT doc_id, sum(cc) AS t, sum(cc * ln(cc)) AS sl
         |   FROM cnt GROUP BY 1)
         |SELECT e.doc_id,
         |  CAST(octet_length(CAST(d.text AS BLOB)) AS BIGINT) AS n_bytes,
         |  round(ln(e.t) - e.sl / e.t, 6) AS byte_entropy
         |FROM e JOIN documents d ON e.doc_id = d.doc_id
         |ORDER BY e.doc_id""".stripMargin,
    "q123_event_lift" ->
      s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         | nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
         | pt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
         | pr AS (SELECT a.event_type AS ta, b.event_type AS tb,
         |     count(*) AS n_ab
         |   FROM ut a JOIN ut b ON a.user_id = b.user_id
         |     AND a.event_type < b.event_type
         |   GROUP BY 1, 2)
         |SELECT pr.ta, pr.tb, pr.n_ab, pa.n AS n_a, pb.n AS n_b,
         |  round((CAST(pr.n_ab AS DOUBLE) * CAST(nu.n_users AS DOUBLE)) /
         |    (CAST(pa.n AS DOUBLE) * CAST(pb.n AS DOUBLE)), 6) AS lift
         |FROM pr JOIN pt pa ON pr.ta = pa.event_type
         |JOIN pt pb ON pr.tb = pb.event_type, nu
         |ORDER BY pr.ta, pr.tb""".stripMargin,
    "q122_length_gini" ->
      s"""WITH rk AS (SELECT source, n_chars, row_number() OVER (
         |     PARTITION BY source ORDER BY n_chars, doc_id) AS i
         |   FROM documents),
         | ag AS (SELECT source, count(*) AS n_docs,
         |     sum(n_chars) AS sx, sum(i * n_chars) AS sw
         |   FROM rk GROUP BY 1)
         |SELECT source, n_docs,
         |  round((2.0 * CAST(sw AS DOUBLE) -
         |     CAST(n_docs + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) /
         |    (CAST(n_docs AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
         |FROM ag ORDER BY source""".stripMargin,
    "t40_error_edges" ->
      s"""WITH s AS (SELECT * FROM ${fixP("raw_spans")}),
         | r AS (SELECT * FROM ${fixP("raw_refs")}),
         | tg AS (SELECT * FROM ${fixP("raw_tags")}),
         | p AS (SELECT * FROM ${fixP("raw_processes")}),
         | par AS (SELECT traceID, span_idx, refSpanID FROM (
         |     SELECT *, row_number() OVER (PARTITION BY traceID, span_idx
         |       ORDER BY ref_idx) AS rn
         |     FROM r WHERE refType = 'CHILD_OF') WHERE rn = 1),
         | es AS (SELECT DISTINCT traceID, span_idx FROM tg
         |   WHERE tag_key = 'error'),
         | sp2 AS (SELECT s.traceID, s.spanID,
         |     p.serviceName AS service,
         |     coalesce(par.refSpanID, '') AS parent,
         |     CASE WHEN es.span_idx IS NOT NULL THEN 1 ELSE 0 END AS err
         |   FROM s LEFT JOIN par USING (traceID, span_idx)
         |   LEFT JOIN p ON s.traceID = p.traceID
         |     AND s.processID = p.processID
         |   LEFT JOIN es ON s.traceID = es.traceID
         |     AND s.span_idx = es.span_idx),
         | pr AS (SELECT traceID AS tid, spanID AS pid,
         |     service AS parent_service, err AS p_err FROM sp2)
         |SELECT pr.parent_service, c.service AS child_service,
         |  count(*) AS n_calls,
         |  CAST(sum(c.err) AS BIGINT) AS n_child_err,
         |  CAST(sum(c.err * pr.p_err) AS BIGINT) AS n_both_err
         |FROM sp2 c JOIN pr ON c.traceID = pr.tid AND c.parent = pr.pid
         |WHERE c.parent <> ''
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t42_trace_parallelism" ->
      s"""WITH s AS (SELECT * FROM ${fixP("raw_spans")}),
         | root AS (SELECT traceID,
         |     coalesce(min(CASE WHEN n_refs = 0 THEN span_idx END),
         |              min(span_idx)) AS ri
         |   FROM s GROUP BY traceID),
         | r AS (SELECT root.traceID, s.duration AS root_dur
         |   FROM root JOIN s ON s.traceID = root.traceID
         |     AND s.span_idx = root.ri),
         | ss AS (SELECT traceID, sum(duration) AS span_us,
         |     count(*) AS n_spans
         |   FROM s GROUP BY 1)
         |SELECT r.traceID, CAST(ss.n_spans AS BIGINT) AS n_spans,
         |  r.root_dur AS duration_us,
         |  CAST(ss.span_us AS BIGINT) AS span_us,
         |  round(CAST(ss.span_us AS DOUBLE) / CAST(r.root_dur AS DOUBLE),
         |    6) AS parallelism
         |FROM r JOIN ss USING (traceID)
         |WHERE r.root_dur > 0
         |ORDER BY r.traceID""".stripMargin,
    "q127_conversion_time" ->
      s"""WITH v AS (SELECT user_id, min(ts) AS tv FROM events
         |   WHERE event_type = 'view' GROUP BY 1),
         | cv AS (SELECT e.user_id, v.tv, min(e.ts) AS tp
         |   FROM events e JOIN v USING (user_id)
         |   WHERE e.event_type = 'purchase' AND e.ts > v.tv
         |   GROUP BY 1, 2),
         | g AS (SELECT epoch_us(tp) - epoch_us(tv) AS conv_us FROM cv)
         |SELECT count(*) AS n_converters,
         |  round(quantile_cont(conv_us, 0.5), 4) AS med_conv_us,
         |  round(quantile_cont(conv_us, 0.9), 4) AS p90_conv_us
         |FROM g""".stripMargin,
    "t44_clock_skew" ->
      s"""WITH $svSpansSql,
         | pr AS (SELECT traceID AS tid, spanID AS pid, startTime AS ps,
         |     startTime + duration AS pe FROM sv),
         | j AS (SELECT sv.service,
         |     greatest(0, pr.ps - sv.startTime) AS early_us,
         |     greatest(0, sv.startTime + sv.duration - pr.pe) AS late_us
         |   FROM sv JOIN pr ON sv.traceID = pr.tid
         |     AND sv.parent = pr.pid
         |   WHERE sv.parent <> '')
         |SELECT service, count(*) AS n_children,
         |  CAST(sum(CASE WHEN early_us > 0 OR late_us > 0 THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_skewed,
         |  CAST(max(early_us) AS BIGINT) AS max_early_us,
         |  CAST(max(late_us) AS BIGINT) AS max_late_us
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q126_cohort_ltv" ->
      s"""WITH cohort AS (SELECT user_id, CAST(min(ts) AS DATE) AS cd
         |   FROM events GROUP BY 1),
         | sized AS (SELECT cd, count(*) AS n_users FROM cohort
         |   GROUP BY 1),
         | daily AS (SELECT c.cd,
         |     date_diff('day', c.cd, CAST(e.ts AS DATE)) AS k,
         |     round(sum(e.value), 2) AS day_value
         |   FROM events e JOIN cohort c USING (user_id) GROUP BY 1, 2),
         | cum AS (SELECT cd, k, sum(day_value) OVER (PARTITION BY cd
         |     ORDER BY k
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |     AS cum_value
         |   FROM daily)
         |SELECT cum.cd AS cohort_day, CAST(cum.k AS BIGINT) AS k,
         |  s.n_users, round(cum.cum_value, 2) AS cum_value,
         |  round(cum.cum_value / s.n_users, 6) AS ltv_per_user
         |FROM cum JOIN sized s USING (cd) ORDER BY 1, 2""".stripMargin,
    "t43_fanout_latency_corr" ->
      s"""WITH $svSpansSql,
         | kd AS (SELECT traceID AS tid, parent AS pid, count(*) AS nk
         |   FROM sv WHERE parent <> '' GROUP BY 1, 2),
         | xy AS (SELECT sv.service, coalesce(kd.nk, 0) AS x,
         |     sv.duration AS y
         |   FROM sv LEFT JOIN kd ON sv.traceID = kd.tid
         |     AND sv.spanID = kd.pid),
         | ag AS (SELECT service, count(*) AS n, sum(x) AS sx,
         |     sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
         |     sum(y * y) AS syy
         |   FROM xy GROUP BY 1),
         | v AS (SELECT *,
         |     CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         |     CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
         |       CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
         |   FROM ag)
         |SELECT service, n AS n_spans,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    sqrt(vx * vy), 6) AS fanout_latency_r
         |FROM v WHERE vx > 0 AND vy > 0 ORDER BY service""".stripMargin,
    "t41_span_fanout" ->
      s"""WITH $svSpansSql,
         | kd AS (SELECT traceID AS tid, parent AS pid,
         |     count(*) AS nk
         |   FROM sv WHERE parent <> '' GROUP BY 1, 2),
         | j AS (SELECT sv.service, sv.operationName,
         |     coalesce(kd.nk, 0) AS n_kids
         |   FROM sv LEFT JOIN kd ON sv.traceID = kd.tid
         |     AND sv.spanID = kd.pid)
         |SELECT service, operationName, count(*) AS n_spans,
         |  CAST(sum(n_kids) AS BIGINT) AS n_children,
         |  CAST(max(n_kids) AS BIGINT) AS max_fanout,
         |  round(CAST(sum(n_kids) AS DOUBLE) / count(*), 6) AS avg_fanout
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t39_span_concurrency" ->
      s"""WITH $svSpansSql,
         | ev AS (SELECT service, startTime AS ts, 1 AS d FROM sv
         |   UNION ALL
         |   SELECT service, startTime + duration AS ts, -1 AS d FROM sv),
         | c AS (SELECT service, sum(d) OVER (PARTITION BY service
         |     ORDER BY ts, d
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
         |   FROM ev)
         |SELECT service, CAST(max(conc) AS BIGINT) AS peak_concurrency,
         |  CAST(count(*) / 2 AS BIGINT) AS n_spans
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "t38_trace_depth" ->
      s"""WITH RECURSIVE
         | s AS (SELECT * FROM ${fixP("raw_spans")}),
         | r AS (SELECT * FROM ${fixP("raw_refs")}),
         | par AS (SELECT traceID, span_idx, refSpanID FROM (
         |     SELECT *, row_number() OVER (PARTITION BY traceID, span_idx
         |       ORDER BY ref_idx) AS rn
         |     FROM r WHERE refType = 'CHILD_OF') WHERE rn = 1),
         | sp AS (SELECT s.traceID, s.spanID,
         |     coalesce(par.refSpanID, '') AS parent
         |   FROM s LEFT JOIN par USING (traceID, span_idx)),
         | d AS (
         |   SELECT sp.traceID, sp.spanID, 1 AS depth
         |   FROM sp LEFT JOIN sp pp ON sp.traceID = pp.traceID
         |     AND sp.parent = pp.spanID
         |   WHERE pp.spanID IS NULL
         |   UNION ALL
         |   SELECT c.traceID, c.spanID, d.depth + 1
         |   FROM sp c JOIN d ON c.traceID = d.traceID
         |     AND c.parent = d.spanID)
         |SELECT traceID, CAST(max(depth) AS BIGINT) AS max_depth,
         |  CAST(count(*) AS BIGINT) AS n_spans
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q118_distinct_ngrams" ->
      s"""WITH tk AS (SELECT source, $toksSql AS t FROM documents),
         | u AS (SELECT source, count(*) AS n_uni,
         |     count(DISTINCT g) AS d_uni
         |   FROM (SELECT source, unnest(t) AS g FROM tk) GROUP BY source),
         | b AS (SELECT source, count(*) AS n_bi,
         |     count(DISTINCT g) AS d_bi
         |   FROM (SELECT source, unnest(list_transform(
         |       generate_series(1, greatest(len(t)-1, 0)),
         |       i -> t[i] || ' ' || t[i+1])) AS g FROM tk)
         |   GROUP BY source)
         |SELECT source, n_uni, d_uni, n_bi, d_bi,
         |  round(CAST(d_uni AS DOUBLE) / n_uni, 6) AS distinct1,
         |  round(CAST(d_bi AS DOUBLE) / n_bi, 6) AS distinct2
         |FROM u JOIN b USING (source) ORDER BY source""".stripMargin,
    "q114_media_dedup" ->
      s"""WITH f AS (SELECT doc_id, sha256(text) AS dg FROM documents),
         | k AS (SELECT dg, min(doc_id) AS keeper, count(*) AS n
         |  FROM f GROUP BY dg)
         |SELECT count(*) AS n_unique, CAST(sum(n) AS BIGINT) AS n_items,
         |  CAST(sum(n - 1) AS BIGINT) AS n_dropped,
         |  CAST(sum(keeper) AS BIGINT) AS keeper_id_sum
         |FROM k""".stripMargin,
    "q113_hashed_embedding" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tk
         |  FROM documents),
         | hx AS (SELECT doc_id, ${H.format("tk")} AS h FROM tok),
         | dm AS (SELECT doc_id, CAST(h % 64 AS INT) AS dim,
         |    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM hx),
         | vv AS (SELECT doc_id, dim, CAST(sum(sgn) AS DOUBLE) AS v
         |  FROM dm GROUP BY 1, 2),
         | nz AS (SELECT * FROM vv WHERE v <> 0),
         | tp AS (SELECT doc_id, dim AS top_dim, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY abs(v) DESC, dim) AS rn
         |  FROM nz)
         |SELECT nz.doc_id, count(*) AS nnz,
         |  round(sqrt(sum(v * v)), 6) AS norm,
         |  CAST(min(tp.top_dim) AS BIGINT) AS top_dim
         |FROM nz JOIN tp ON nz.doc_id = tp.doc_id AND tp.rn = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q112_attribution" ->
      s"""WITH t AS (SELECT user_id, event_type,
         |    last_value(CASE WHEN event_type <> 'purchase'
         |        THEN event_type END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS touch
         |  FROM events)
         |SELECT coalesce(touch, 'none') AS touch,
         |  count(*) AS n_purchases
         |FROM t WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q108_event_paths" ->
      s"""WITH t AS (SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events)
         |SELECT prev_type, event_type AS next_type, count(*) AS n
         |FROM t WHERE prev_type IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q109_rate_anomalies" ->
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS hour,
         |    count(*) AS n
         |  FROM events GROUP BY 1),
         | st AS (SELECT count(*) AS hh, sum(n) AS s1, sum(n * n) AS s2
         |  FROM h),
         | z AS (SELECT hour, n,
         |    CAST(s1 AS DOUBLE) / hh AS mean,
         |    sqrt(CAST(s2 AS DOUBLE) / hh -
         |      (CAST(s1 AS DOUBLE) / hh) * (CAST(s1 AS DOUBLE) / hh))
         |      AS sd
         |  FROM h, st)
         |SELECT hour, CAST(n AS BIGINT) AS n,
         |  round((CAST(n AS DOUBLE) - mean) / sd, 4) AS z
         |FROM z ORDER BY abs(round((CAST(n AS DOUBLE) - mean) / sd, 4))
         |  DESC, hour LIMIT 10""".stripMargin,
    "q90_tokenize_ids" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | tok AS (SELECT doc_id,
         |     unnest(generate_series(1, len(t))) AS pos,
         |     unnest(t) AS token
         |   FROM tk),
         | f AS (SELECT token, count(*) AS n FROM tok GROUP BY token
         |   ORDER BY n DESC, token LIMIT 512),
         | v AS (SELECT token, CAST(row_number() OVER (
         |     ORDER BY n DESC, token) AS BIGINT) AS token_id FROM f),
         | ids AS (SELECT doc_id, pos, coalesce(v.token_id, 0) AS tid
         |   FROM tok LEFT JOIN v USING (token) WHERE doc_id < 40)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unk,
         |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids
         |FROM ids GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // BPE-trainer oracle (graduated r11): all 30 merge rounds unrolled.
    // Each round re-derives the trainer exactly — adjacent-pair counts
    // over the word-frequency table's current symbolizations, argmax by
    // (count desc, pair lexicographic), then the greedy leftmost-first
    // merge as a `list_reduce` whose accumulator is the chr(31)-joined
    // symbol string (probed: fold semantics match Spark's `aggregate`
    // HOF term for term, including the aa-on-aaa overlap case and the
    // merged-symbol-equals-left guard). MATERIALIZED per round (t28
    // lesson); chr(31) cannot occur in corpus symbols.
    // GD quality-trainer oracle (graduated r12): 10 full-batch steps
    // unrolled over the z-scored sample≡corpus — see [[gdOracle]].
    "t53_quality_gd" -> gdOracle(10, 0.5),
    "t22_bpe_train" -> {
      val n = 30
      val us = "chr(31)"
      def parts(acc: String) = s"string_split($acc, $us)"
      val rounds = (1 to n).map { i =>
        val prev = s"bw${i - 1}"
        s""",
           | bp$i AS (SELECT syms[j] AS l, syms[j + 1] AS r,
           |    sum(freq) AS c
           |  FROM (SELECT freq, syms,
           |      unnest(generate_series(1, len(syms) - 1)) AS j
           |    FROM $prev)
           |  GROUP BY 1, 2),
           | bm$i AS MATERIALIZED (SELECT l, r, c FROM bp$i
           |  ORDER BY c DESC, l, r LIMIT 1),
           | bw$i AS MATERIALIZED (SELECT w.freq,
           |    CASE WHEN len(w.syms) <= 1 THEN w.syms
           |      ELSE string_split(list_reduce(w.syms, (acc, x) ->
           |        CASE WHEN ${parts("acc")}[len(${parts("acc")})] = m.l
           |            AND x = m.r
           |          THEN CASE WHEN len(${parts("acc")}) = 1
           |            THEN m.l || m.r
           |            ELSE array_to_string(list_slice(${parts("acc")},
           |                1, len(${parts("acc")}) - 1), $us) ||
           |              $us || m.l || m.r END
           |          ELSE acc || $us || x END), $us) END AS syms
           |  FROM $prev w, bm$i m)""".stripMargin
      }.mkString
      val sel = (1 to n).map(i =>
        s"""SELECT $i AS rank, l AS "left", r AS "right",
           |    l || r AS merged, c AS pair_freq FROM bm$i"""
          .stripMargin)
        .mkString("", "\n  UNION ALL ", "")
      s"""WITH bw0 AS MATERIALIZED (SELECT count(*) AS freq,
         |    list_append(regexp_split_to_array(w, ''), '</w>') AS syms
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  GROUP BY w)$rounds
         |SELECT CAST(rank AS BIGINT) AS rank, "left", "right", merged,
         |  CAST(pair_freq AS BIGINT) AS pair_freq FROM (
         |  $sel)
         |ORDER BY rank""".stripMargin
    },
    // Curation-DAG oracle (graduated r11): all six stages re-derived in
    // one SQL — q78's Gopher battery at minWords=20, exact keep-first on
    // md5(text), the q42 exact-Jaccard drop set restricted to the stage
    // survivors (banded-MinHash recall is 1 ON THIS CORPUS — verified,
    // the q42 contract; a regenerated corpus placing a J ~= 0.8 pair in
    // no shared band would surface here exactly as it would in q42),
    // q67's distinct-shared-4-gram decontamination at the >= 5 floor
    // against the raw %50 bench slice, q60's hash-bucket split, and
    // q61's doc_id-ordered token packing. Per-(stage, source) survivor
    // counts; a source with zero survivors at a stage is absent on both
    // sides.
    "t19_curation_dag" -> {
      val stopIn = graft.functions.TextFunctions.gopherStops
        .map(w => s"'$w'").mkString("(", ", ", ")")
      s"""$shinglesSql,
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | tkq AS (SELECT doc_id, source, text, $toksSql AS t
         |   FROM documents),
         | gm AS (SELECT doc_id, source, text, t,
         |   len(t) AS n_tokens,
         |   CASE WHEN len(t) > 0 THEN
         |     CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
         |       / len(t) ELSE 0.0 END AS mwl,
         |   CASE WHEN len(t) > 0 THEN
         |     CAST(length(text) - length(replace(text, '#', ''))
         |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |       / len(t) ELSE 0.0 END AS sym,
         |   CAST(len(list_filter(string_split(text, chr(10)),
         |       l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
         |     AS DOUBLE) / len(string_split(text, chr(10))) AS bullet,
         |   CAST(len(list_filter(string_split(text, chr(10)),
         |       l -> ends_with(rtrim(l), '...')
         |         OR ends_with(rtrim(l), '…')))
         |     AS DOUBLE) / len(string_split(text, chr(10))) AS ell,
         |   CASE WHEN len(t) > 0 THEN
         |     CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
         |       AS DOUBLE) / len(t) ELSE 0.0 END AS alpha,
         |   len(list_filter(t, x -> x IN $stopIn)) AS n_stop
         | FROM tkq),
         | gop AS (SELECT doc_id, source, text, t FROM gm
         |   WHERE n_tokens BETWEEN 20 AND 100000
         |     AND mwl BETWEEN 3 AND 10 AND sym <= 0.1 AND bullet <= 0.9
         |     AND ell <= 0.3 AND alpha >= 0.8 AND n_stop >= 2),
         | ex AS (SELECT doc_id, source, t FROM (
         |    SELECT g.doc_id, g.source, g.t, row_number() OVER (
         |      PARTITION BY md5(g.text) ORDER BY g.doc_id) AS rn
         |    FROM gop g) WHERE rn = 1),
         | shx AS (SELECT s.doc_id, s.s FROM sh s
         |   JOIN ex ON s.doc_id = ex.doc_id),
         | szx AS (SELECT doc_id, count(*) AS n_sh FROM shx GROUP BY 1),
         | ndrop AS (SELECT DISTINCT b.doc_id AS dropped FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      count(*) AS inter
         |    FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) i
         |  JOIN szx za ON i.doc_a = za.doc_id
         |  JOIN szx zb ON i.doc_b = zb.doc_id
         |  JOIN ex b ON i.doc_b = b.doc_id
         |  WHERE CAST(i.inter AS DOUBLE) /
         |    CAST(za.n_sh + zb.n_sh - i.inter AS DOUBLE) >= 0.8),
         | nd AS (SELECT * FROM ex
         |   WHERE doc_id NOT IN (SELECT dropped FROM ndrop)),
         | tr0 AS (SELECT * FROM nd WHERE doc_id % 50 <> 0),
         | g4 AS (SELECT DISTINCT doc_id, ${H.format("s4")} AS h FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, greatest(len(t)-3, 0)),
         |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3]))) AS s4
         |    FROM tkq)),
         | bench AS (SELECT DISTINCT h FROM g4 WHERE doc_id % 50 = 0),
         | hits AS (SELECT g4.doc_id FROM g4
         |   JOIN bench USING (h)
         |   JOIN tr0 ON g4.doc_id = tr0.doc_id
         |   GROUP BY g4.doc_id HAVING count(*) >= 5),
         | clean AS (SELECT * FROM tr0
         |   WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
         | tr AS (SELECT * FROM clean
         |   WHERE ${H.format("'split1' || CAST(doc_id AS VARCHAR)")}
         |     % 10000 < 8000),
         | pk AS (SELECT source, CAST(floor((sum(n) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)
         |    / 4096.0) AS BIGINT) AS bin
         |  FROM (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n
         |    FROM tr)),
         | bins AS (SELECT source, CAST(max(bin) + 1 AS BIGINT) AS n
         |  FROM pk GROUP BY 1)
         |SELECT stage, source, n FROM (
         |  SELECT '0_raw' AS stage, source, CAST(count(*) AS BIGINT) AS n
         |    FROM documents GROUP BY 2
         |  UNION ALL SELECT '1_quality', source, CAST(count(*) AS BIGINT)
         |    FROM gop GROUP BY 2
         |  UNION ALL SELECT '2_exact', source, CAST(count(*) AS BIGINT)
         |    FROM ex GROUP BY 2
         |  UNION ALL SELECT '3_neardup', source, CAST(count(*) AS BIGINT)
         |    FROM nd GROUP BY 2
         |  UNION ALL SELECT '4_decontam', source, CAST(count(*) AS BIGINT)
         |    FROM clean GROUP BY 2
         |  UNION ALL SELECT '5_train_bins', source, n FROM bins)
         |ORDER BY stage, source""".stripMargin
    },
    // Corpus-card oracle (graduated r11): the per-source daily report
    // re-derived end to end — q21's lexicon language CASE, q22's
    // surface ratios, q80's smoothed cross-entropy (per-doc values
    // rounded to 6 then summed as exact micro-unit longs — the q97
    // lesson, so the per-source means are order-independent), and
    // near-dup membership from q89's pair derivation (membership needs
    // no transitive closure — a doc is clustered iff it appears in any
    // >= 0.8 pair), joined on the #sources key.
    "t27_corpus_card" -> {
      val lex = TextFunctions.langLexicons.map { case (lang, ws) =>
        lang -> ws.map(w => s"'$w'").mkString("(", ", ", ")")
      }
      val stopIn = TextFunctions.langLexicons.flatMap(_._2)
        .map(w => s"'$w'").mkString("(", ", ", ")")
      s"""$shinglesSql,
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2),
         | p AS (SELECT doc_a, doc_b FROM inter
         |   JOIN sz za ON doc_a = za.doc_id
         |   JOIN sz zb ON doc_b = zb.doc_id
         |   WHERE CAST(inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8),
         | cl AS (SELECT DISTINCT doc_id FROM (
         |   SELECT doc_a AS doc_id FROM p
         |   UNION ALL SELECT doc_b FROM p)),
         | tkq AS (SELECT doc_id, source, text, $toksSql AS t
         |   FROM documents),
         | lid AS (SELECT doc_id, CASE
         |    WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
         |    WHEN s_es >= s_de AND s_es > 0 THEN 'es'
         |    WHEN s_de > 0 THEN 'de'
         |    ELSE 'und' END AS pred
         |  FROM (SELECT doc_id,
         |    ${lex.map { case (l, in) =>
        s"len(list_filter(t, x -> x IN $in)) AS s_$l" }.mkString(", ")}
         |  FROM tkq)),
         | qs AS (SELECT doc_id, source,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(t) AS BIGINT) AS n_tokens,
         |    round(CAST(length(text) -
         |        length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
         |      AS DOUBLE) / CAST(length(text) AS DOUBLE), 6)
         |      AS punct_ratio,
         |    round(CAST(len(list_filter(t, x -> x IN $stopIn)) AS DOUBLE)
         |      / CAST(CASE WHEN len(t) > 0 THEN len(t) ELSE 1 END
         |        AS DOUBLE), 6) AS stop_ratio
         |  FROM tkq),
         | surface AS (SELECT qs.source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |    CAST(sum(CASE WHEN lid.pred = 'en' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_en,
         |    CAST(sum(CAST(round(punct_ratio * 1e6, 0) AS BIGINT))
         |      AS BIGINT) AS punct_mu,
         |    CAST(sum(CAST(round(stop_ratio * 1e6, 0) AS BIGINT))
         |      AS BIGINT) AS stop_mu
         |  FROM qs JOIN lid USING (doc_id) GROUP BY 1),
         | tok AS (SELECT doc_id, lang = 'en' AS is_ref,
         |     unnest($toksSql) AS term FROM documents),
         | tf AS (SELECT doc_id, is_ref, term, count(*) AS tf
         |   FROM tok GROUP BY 1, 2, 3),
         | lm AS (SELECT term,
         |     sum(CASE WHEN is_ref THEN tf ELSE 0 END) AS ref_cnt
         |   FROM tf GROUP BY term),
         | tot AS (SELECT CAST(sum(ref_cnt) AS DOUBLE) AS ref_tot,
         |     CAST(count(*) AS DOUBLE) AS vocab FROM lm),
         | ced AS (SELECT doc_id, round(
         |     -sum(tf * ln((ref_cnt + 0.5) / (ref_tot + 0.5 * vocab)))
         |       / sum(tf), 6) AS ce
         |   FROM tf JOIN lm USING (term) CROSS JOIN tot
         |   GROUP BY doc_id),
         | ces AS (SELECT d.source,
         |    CAST(sum(CAST(round(ce * 1e6, 0) AS BIGINT)) AS BIGINT)
         |      AS ce_mu,
         |    CAST(count(*) AS BIGINT) AS ce_n
         |  FROM ced JOIN documents d USING (doc_id) GROUP BY 1),
         | dup AS (SELECT d.source,
         |    CAST(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_dup
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |  GROUP BY 1)
         |SELECT s.source, s.n_docs, s.total_tokens, s.total_chars,
         |  round(CAST(s.n_en AS DOUBLE) / s.n_docs, 6) AS en_frac,
         |  round(CAST(s.punct_mu AS DOUBLE) / s.n_docs / 1e6, 6)
         |    AS mean_punct_ratio,
         |  round(CAST(s.stop_mu AS DOUBLE) / s.n_docs / 1e6, 6)
         |    AS mean_stop_ratio,
         |  round(CAST(ces.ce_mu AS DOUBLE) / ces.ce_n / 1e6, 6)
         |    AS mean_ce,
         |  round(CAST(dup.n_dup AS DOUBLE) / s.n_docs, 6) AS dup_rate
         |FROM surface s JOIN ces USING (source) JOIN dup USING (source)
         |ORDER BY s.source""".stripMargin
    },
    "q89_source_dup_rates" ->
      s"""${shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2),
         | p AS (SELECT doc_a, doc_b FROM inter
         |   JOIN sz za ON doc_a = za.doc_id
         |   JOIN sz zb ON doc_b = zb.doc_id
         |   WHERE CAST(inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8),
         | e AS (SELECT doc_a AS a, doc_b AS b FROM p
         |   UNION SELECT doc_b, doc_a FROM p),
         | r AS (SELECT a AS node, a AS reach FROM e
         |   UNION
         |   SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         | cl AS (SELECT node AS doc_id FROM r GROUP BY node)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup,
         |  round(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1.0 ELSE 0.0
         |    END) / count(*), 6) AS dup_rate
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,
    "q88_rank_fusion" -> {
      val terms = bm25Query.map(t => s"'$t'").mkString("(", ", ", ")")
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term
         |     FROM documents),
         | len AS (SELECT doc_id, CAST(len($toksSql) AS DOUBLE) AS dl
         |   FROM documents),
         | tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |   FROM tok WHERE term IN $terms GROUP BY 1, 2),
         | dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
         |   FROM tf GROUP BY term),
         | st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
         |   FROM len),
         | bmall AS (SELECT doc_id, round(sum(
         |     ln((n - df + 0.5) / (df + 0.5) + 1) * tf * 2.2 /
         |     (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
         |   FROM tf JOIN dfq USING (term) JOIN len USING (doc_id)
         |     CROSS JOIN st GROUP BY doc_id),
         | bmtop AS (SELECT doc_id, row_number() OVER (
         |     ORDER BY bm25 DESC, doc_id) AS r_lex
         |   FROM (SELECT * FROM bmall ORDER BY bm25 DESC, doc_id
         |     LIMIT 50)),
         | v AS ($normVecSql),
         | sem AS (SELECT c.vec_id AS id,
         |     round(list_dot_product(q.nv, c.nv), 6) AS cs
         |   FROM v c, (SELECT nv FROM v WHERE vec_id = 0) q
         |   WHERE c.vec_id <> 0),
         | semtop AS (SELECT id, row_number() OVER (
         |     ORDER BY cs DESC, id) AS r_sem
         |   FROM (SELECT * FROM sem ORDER BY cs DESC, id LIMIT 50))
         |SELECT coalesce(b.doc_id, s.id) AS doc_id,
         |  CAST(coalesce(b.r_lex, -1) AS BIGINT) AS r_lex,
         |  CAST(coalesce(s.r_sem, -1) AS BIGINT) AS r_sem,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + b.r_lex), 0) +
         |    coalesce(CAST(1.0 AS DOUBLE) / (60 + s.r_sem), 0), 6) AS rrf
         |FROM bmtop b FULL OUTER JOIN semtop s ON b.doc_id = s.id
         |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin
    },
    "q87_split_leakage" ->
      s"""WITH sp AS (SELECT doc_id, text,
         |     CASE WHEN ${H.format("'split1' || CAST(doc_id AS VARCHAR)")}
         |         % 10000 < 8000 THEN 'train'
         |       WHEN ${H.format("'split1' || CAST(doc_id AS VARCHAR)")}
         |         % 10000 < 9000 THEN 'val' ELSE 'test' END AS split
         |   FROM documents),
         | tk AS (SELECT doc_id, split, $toksSql AS t FROM sp),
         | shr AS (SELECT doc_id, split, unnest(list_transform(
         |     generate_series(1, greatest(len(t) - 3, 0)),
         |     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3]))) AS s
         |   FROM tk),
         | sh AS (SELECT DISTINCT doc_id, split, ${H.format("s")} AS h
         |   FROM shr),
         | tg AS (SELECT DISTINCT h FROM sh WHERE split = 'train'),
         | hits AS (SELECT doc_id, split, count(*) AS n_shared
         |   FROM sh JOIN tg USING (h) WHERE split <> 'train'
         |   GROUP BY 1, 2),
         | ev AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs
         |   FROM sp WHERE split <> 'train' GROUP BY split),
         | ag AS (SELECT split,
         |     CAST(sum(CASE WHEN n_shared >= 5 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_leaky,
         |     CAST(max(n_shared) AS BIGINT) AS max_shared
         |   FROM hits GROUP BY split)
         |SELECT ev.split AS split, ev.n_docs,
         |  coalesce(ag.n_leaky, 0) AS n_leaky,
         |  coalesce(ag.max_shared, 0) AS max_shared
         |FROM ev LEFT JOIN ag ON ev.split = ag.split
         |ORDER BY ev.split""".stripMargin,
    "q86_stupid_backoff" ->
      s"""WITH tk AS (SELECT doc_id, lang = 'en' AS is_ref, $toksSql AS t
         |     FROM documents),
         | occ AS (SELECT doc_id, is_ref,
         |     unnest(list_transform(generate_series(1, len(t) - 1),
         |       i -> ${H.format("t[i]")})) AS ha,
         |     unnest(list_transform(generate_series(1, len(t) - 1),
         |       i -> ${H.format("t[i+1]")})) AS hb
         |   FROM tk WHERE len(t) >= 2),
         | bg AS (SELECT ha, hb, CAST(count(*) AS DOUBLE) AS n_ab
         |   FROM occ WHERE is_ref GROUP BY 1, 2),
         | uni AS (SELECT ${H.format("w")} AS hw,
         |     CAST(count(*) AS DOUBLE) AS n_w
         |   FROM (SELECT unnest(t) AS w FROM tk WHERE is_ref)
         |   GROUP BY 1),
         | tot AS (SELECT sum(n_w) AS n, CAST(count(*) AS DOUBLE) AS v
         |   FROM uni),
         | sc AS (SELECT occ.doc_id,
         |     CASE WHEN bg.n_ab IS NOT NULL THEN bg.n_ab / na.n_w
         |       ELSE 0.4 * (coalesce(nb.n_w, 0) + 0.5) / (n + 0.5 * v)
         |     END AS s
         |   FROM occ
         |   LEFT JOIN bg ON occ.ha = bg.ha AND occ.hb = bg.hb
         |   LEFT JOIN uni na ON occ.ha = na.hw
         |   LEFT JOIN uni nb ON occ.hb = nb.hw
         |   CROSS JOIN tot)
         |SELECT doc_id, round(avg(ln(s)), 6) AS avg_logp
         |FROM sc GROUP BY doc_id
         |ORDER BY avg_logp DESC, doc_id LIMIT 20""".stripMargin,
    "q84_cluster_reps" ->
      s"""${shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS s FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     count(*) AS inter
         |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2),
         | p AS (SELECT doc_a, doc_b FROM inter
         |   JOIN sz za ON doc_a = za.doc_id
         |   JOIN sz zb ON doc_b = zb.doc_id
         |   WHERE CAST(inter AS DOUBLE) /
         |     CAST(za.n_sh + zb.n_sh - inter AS DOUBLE) >= 0.8),
         | e AS (SELECT doc_a AS a, doc_b AS b FROM p
         |   UNION SELECT doc_b, doc_a FROM p),
         | r AS (SELECT a AS node, a AS reach FROM e
         |   UNION
         |   SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         | cl AS (SELECT node AS doc_id, CAST(min(reach) AS BIGINT)
         |     AS cluster FROM r GROUP BY node),
         | tok AS (SELECT doc_id, unnest($toksSql) AS tk FROM documents),
         | tc AS (SELECT doc_id, tk, count(*) AS n FROM tok GROUP BY 1, 2),
         | ent AS (SELECT doc_id,
         |     round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
         |   FROM tc GROUP BY doc_id),
         | j AS (SELECT cl.cluster, cl.doc_id, ent.entropy,
         |     count(*) OVER (PARTITION BY cl.cluster) AS nd,
         |     row_number() OVER (PARTITION BY cl.cluster
         |       ORDER BY ent.entropy DESC, cl.doc_id) AS rn
         |   FROM cl JOIN ent USING (doc_id))
         |SELECT cluster, CAST(nd AS BIGINT) AS n_docs,
         |  doc_id AS rep_doc, entropy AS rep_entropy
         |FROM j WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "q85_temperature_mix" ->
      s"""WITH per AS (SELECT source,
         |     CAST(sum(len($toksSql)) AS BIGINT) AS tokens
         |   FROM documents GROUP BY source),
         | z AS (SELECT sum(pow(CAST(tokens AS DOUBLE), 0.7)) AS z
         |   FROM per)
         |SELECT source, tokens,
         |  round(pow(CAST(tokens AS DOUBLE), 0.7) / z, 6) AS weight,
         |  CAST(round(1e9 * pow(CAST(tokens AS DOUBLE), 0.7) / z, 0)
         |    AS BIGINT) AS budget_tokens
         |FROM per CROSS JOIN z ORDER BY source""".stripMargin,
    "q83_source_overlap" ->
      s"""WITH sv AS (SELECT DISTINCT source, ${H.format("term")} AS h
         |     FROM (SELECT source, unnest($toksSql) AS term
         |       FROM documents)),
         | sz AS (SELECT source, CAST(count(*) AS DOUBLE) AS nv
         |   FROM sv GROUP BY source),
         | ov AS (SELECT a.source AS src_a, b.source AS src_b,
         |     CAST(count(*) AS DOUBLE) AS inter
         |   FROM sv a JOIN sv b ON a.h = b.h AND a.source < b.source
         |   GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(inter / (sa.nv + sb.nv - inter), 6) AS vocab_jaccard
         |FROM ov JOIN sz sa ON sa.source = ov.src_a
         |  JOIN sz sb ON sb.source = ov.src_b
         |ORDER BY vocab_jaccard DESC, src_a, src_b LIMIT 20""".stripMargin,
    "q73_vocab_build" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
         | f AS (SELECT token, count(*) AS n FROM tok GROUP BY token
         |   ORDER BY n DESC, token LIMIT 512)
         |SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token)
         |  AS BIGINT) AS token_id
         |FROM f ORDER BY token_id""".stripMargin,
    "q74_pii_redaction" ->
      """WITH b AS (SELECT c_custkey, concat_ws(' ', c_name,
        |    'user' || CAST(c_custkey AS VARCHAR) || '@mail.example.org',
        |    'https://ex.org/u/' || CAST(c_custkey AS VARCHAR),
        |    '10.' || CAST(c_nationkey AS VARCHAR) || '.0.' ||
        |      CAST(c_custkey % 250 AS VARCHAR)) AS blob
        |  FROM customer WHERE c_custkey < 200)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(blob,
        |    'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\d{6,}', '<NUM>', 'g') AS redacted,
        |  len(regexp_extract_all(blob, 'https?://\S+')) AS n_urls,
        |  len(regexp_extract_all(blob,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(blob,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(blob, '\d{6,}')) AS n_nums
        |FROM b ORDER BY c_custkey""".stripMargin,
    "q75_pmi_bigrams" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         | uni AS (SELECT unnest(t) AS w FROM tk),
         | un AS (SELECT w, count(*) AS n_w FROM uni GROUP BY w),
         | tt AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM uni),
         | bg AS (SELECT unnest(list_transform(
         |     generate_series(1, greatest(len(t)-1, 0)),
         |     i -> t[i] || ' ' || t[i+1])) AS bigram FROM tk),
         | bn AS (SELECT bigram, count(*) AS n_ab FROM bg GROUP BY bigram),
         | bt AS (SELECT CAST(count(*) AS DOUBLE) AS n_bg FROM bg)
         |SELECT bigram, n_ab,
         |  round(ln((n_ab / n_bg) /
         |    ((a.n_w / n_tok) * (b.n_w / n_tok))), 6) AS pmi
         |FROM bn
         |JOIN un a ON a.w = string_split(bigram, ' ')[1]
         |JOIN un b ON b.w = string_split(bigram, ' ')[2]
         |CROSS JOIN tt CROSS JOIN bt
         |WHERE n_ab >= 5
         |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin,
    "q68_stratified_k" ->
      s"""WITH r AS (SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ${H.format("'strat1' || CAST(doc_id AS VARCHAR)")}
         |      % 10000, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 5
         |ORDER BY source, doc_id""".stripMargin,
    "q69_length_ntile" ->
      """WITH b AS (SELECT n_chars,
        |    ntile(4) OVER (ORDER BY n_chars, doc_id) AS bucket
        |  FROM documents)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q70_quality_select" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tk FROM documents),
         | c AS (SELECT doc_id, tk, count(*) AS n FROM tok GROUP BY 1, 2),
         | e AS (SELECT doc_id,
         |     round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
         |   FROM c GROUP BY doc_id),
         | j AS (SELECT d.doc_id, d.source, e.entropy, percent_rank() OVER (
         |     PARTITION BY d.source ORDER BY e.entropy, d.doc_id) AS pr
         |   FROM documents d JOIN e ON d.doc_id = e.doc_id)
         |SELECT doc_id, source, entropy FROM j WHERE pr >= 0.75
         |ORDER BY doc_id""".stripMargin,
    "q71_incremental_ingest" ->
      s"""$shinglesSql,
         | sh AS (SELECT DISTINCT doc_id, ${H.format("s")} AS h FROM shr),
         | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         | inter AS (SELECT b.doc_id AS dn, a.doc_id AS dc, count(*) AS i
         |   FROM sh a JOIN sh b ON a.h = b.h
         |     AND a.doc_id < 400 AND b.doc_id >= 400
         |   GROUP BY 1, 2),
         | dup AS (SELECT DISTINCT dn FROM inter
         |   JOIN sz za ON dc = za.doc_id JOIN sz zb ON dn = zb.doc_id
         |   WHERE round(CAST(i AS DOUBLE) /
         |     CAST(za.n + zb.n - i AS DOUBLE), 6) >= 0.8)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT dn FROM dup)
         |ORDER BY doc_id""".stripMargin,
    "t01_trace_summary" -> t01Oracle,
    "t02_span_flatten" -> t02Oracle,
    "t29_span_selftime" -> t29Oracle,
    // the automaton graduations (r12): the full critical-path sweep as
    // a serialized-state list_reduce fold — see [[CritSql]]
    "t03_critical_path" -> CritSql.t03(svSpansSql),
    "t30_critpath_services" -> CritSql.t30(svSpansSql),
    "t34_trace_shape" -> t34Oracle,
    "t35_span_gaps" -> t35Oracle,
    "t36_op_anomalies" -> t36Oracle,
    "t33_service_latency" ->
      s"""WITH s AS (SELECT * FROM ${fixP("raw_spans")}),
         | tg AS (SELECT * FROM ${fixP("raw_tags")}),
         | p AS (SELECT * FROM ${fixP("raw_processes")}),
         | es AS (SELECT DISTINCT traceID, span_idx FROM tg
         |  WHERE tag_key = 'error'),
         | j AS (SELECT p.serviceName AS service, s.duration,
         |    CASE WHEN es.span_idx IS NOT NULL THEN 1 ELSE 0 END
         |      AS is_err
         |  FROM s JOIN p ON s.traceID = p.traceID
         |    AND s.processID = p.processID
         |  LEFT JOIN es ON s.traceID = es.traceID
         |    AND s.span_idx = es.span_idx)
         |SELECT service, count(*) AS n_spans,
         |  round(quantile_cont(duration, 0.5), 4) AS p50_us,
         |  round(quantile_cont(duration, 0.95), 4) AS p95_us,
         |  round(quantile_cont(duration, 0.99), 4) AS p99_us,
         |  CAST(sum(is_err) AS BIGINT) AS n_err_spans
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // PageRank oracle: the power iteration UNROLLED as 20 chained CTEs
    // (standard SQL forbids aggregates in a recursive member), each
    // computing the identical update expression in the identical
    // association order as ServiceGraph.pageRank —
    // (1−d)/n + d·(Σ rank·w/outw + dangling/n). Per-step sums are over
    // ≤#services addends, so engine FP-summation-order differences stay
    // ~1 ulp and the 6-decimal output rounding absorbs them. Every
    // level is AS MATERIALIZED: each r_i references r_{i-1} twice, so
    // DuckDB's default CTE inlining would expand the chain 2²⁰-fold
    // (observed as an fd-exhaustion "No files found" at depth ≥10).
    "t28_service_pagerank" -> {
      val iterCtes = (1 to 20).map { i =>
        s""",
           | r$i AS MATERIALIZED (SELECT n.service,
           |    (1 - 0.85) / cnt.nn + 0.85 * (coalesce(rv.s, 0.0) +
           |      dg.dang / cnt.nn) AS rank
           |  FROM nodes n CROSS JOIN cnt
           |  CROSS JOIN (SELECT coalesce(sum(p.rank), 0.0) AS dang
           |      FROM r${i - 1} p LEFT JOIN outw o ON p.service = o.src
           |      WHERE o.src IS NULL) dg
           |  LEFT JOIN (SELECT e.dst AS service,
           |      sum(p.rank * e.w / o.ow) AS s
           |    FROM e JOIN r${i - 1} p ON e.src = p.service
           |    JOIN outw o ON e.src = o.src GROUP BY 1) rv
           |    ON n.service = rv.service)""".stripMargin
      }.mkString
      s"""WITH $svSpansSql,
         | e AS MATERIALIZED (SELECT p.service AS src,
         |     c.service AS dst, CAST(count(*) AS DOUBLE) AS w
         |   FROM sv c JOIN sv p ON c.traceID = p.traceID
         |     AND c.parent = p.spanID
         |   WHERE c.parent <> '' GROUP BY 1, 2),
         | nodes AS MATERIALIZED (SELECT src AS service FROM e
         |   UNION SELECT dst FROM e),
         | outw AS MATERIALIZED (SELECT src, sum(w) AS ow
         |   FROM e GROUP BY 1),
         | cnt AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nn
         |   FROM nodes),
         | r0 AS MATERIALIZED (SELECT service, 1.0 / cnt.nn AS rank
         |   FROM nodes, cnt)$iterCtes
         |SELECT service, round(rank, 6) AS rank
         |FROM r20 ORDER BY service""".stripMargin
    },
    "t31_error_origin" ->
      s"""WITH s AS (SELECT * FROM ${fixP("raw_spans")}),
         | tg AS (SELECT * FROM ${fixP("raw_tags")}),
         | p AS (SELECT * FROM ${fixP("raw_processes")}),
         | es AS (SELECT DISTINCT traceID, span_idx FROM tg
         |  WHERE tag_key = 'error'),
         | fe AS (SELECT s.traceID, s.span_idx, s.processID,
         |    row_number() OVER (PARTITION BY s.traceID
         |      ORDER BY s.startTime, s.spanID) AS rn
         |  FROM s JOIN es ON s.traceID = es.traceID
         |    AND s.span_idx = es.span_idx)
         |SELECT p.serviceName AS service,
         |  count(*) AS n_traces_originated
         |FROM fe JOIN p ON fe.traceID = p.traceID
         |  AND fe.processID = p.processID
         |WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // the decode stub derives everything from a 60-bit md5 prefix of the
    // payload (TextFunctions.hash60's DuckDB-portable form), so the full
    // typed mapPartitions kernel is oracle-able end to end
    "t04_media_features" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id AS id, 'text' AS kind,
        |  CAST(64 + (h % 512) AS INTEGER) AS width,
        |  CAST(64 + ((h >> 16) % 512) AS INTEGER) AS height,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS "nBytes",
        |  '[' || CAST(h % 1000 AS VARCHAR) ||
        |  ',' || CAST((h >> 7) % 1000 AS VARCHAR) ||
        |  ',' || CAST((h >> 14) % 1000 AS VARCHAR) ||
        |  ',' || CAST((h >> 21) % 1000 AS VARCHAR) ||
        |  ',' || CAST((h >> 28) % 1000 AS VARCHAR) ||
        |  ',' || CAST((h >> 35) % 1000 AS VARCHAR) ||
        |  ',' || CAST((h >> 42) % 1000 AS VARCHAR) ||
        |  ',' || CAST((h >> 49) % 1000 AS VARCHAR) || ']' AS features
        |FROM d ORDER BY id""".stripMargin,
    // frame sampling is pure arithmetic over byte lengths (stride 64), so
    // the UDTF-ish one-row→many-frames explode shape is oracle-able too
    "t05_frame_sample" ->
      """WITH d AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n
        |    FROM documents),
        | e AS (SELECT doc_id, n,
        |   unnest(generate_series(1, CAST(ceil(n / 64.0) AS BIGINT))) AS i
        |   FROM d)
        |SELECT doc_id AS id, CAST(i - 1 AS INTEGER) AS frame_no,
        |  CAST(CASE WHEN i * 64 <= n THEN 64 ELSE n - (i-1)*64 END
        |    AS INTEGER) AS frame_bytes
        |FROM e ORDER BY id, frame_no""".stripMargin,
  ).map { case (k, v) => k -> v.replace('\n', ' ') } match {
    // t17 recomputes q64's table uncached — same result, same oracle.
    // The bounded-percentile twins (t46-t49) and the full-probe IVF
    // mutual-kNN path (t50) compute the SAME statistic as their exact
    // baselines through scale-safe operators, so each hashes against
    // its baseline's oracle — a different plan, the identical answer.
    case m => m +
      ("t17_cluster_build" -> m("q64_dedup_clusters")) +
      ("t46_service_latency_b" -> m("t33_service_latency")) +
      ("t47_interevent_gaps_b" -> m("q119_interevent_gaps")) +
      ("t48_op_anomalies_b" -> m("t36_op_anomalies")) +
      ("t49_conversion_time_b" -> m("q127_conversion_time")) +
      ("t50_knn_clusters_ivf" -> m("q117_knn_clusters")) +
      ("t51_rfm_segments_b" -> m("q125_rfm_segments")) +
      // t52 probes ALL cells of the built-then-appended index, so its
      // candidate set is exactly the brute-force top-k over the whole
      // corpus — same statistic, same oracle, through the persisted
      // build → append → load → serve lifecycle.
      ("t52_ivf_append_serve" -> m("q117_knn_clusters"))
  }
}
