package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Robots}
import graft.functions.TextFunctions

/** Physical-plan pins of the SparkEntry queries and the map-only censuses
  * on the sf0.01 testdata: filter pushdown, broadcast dimension
  * sides, top-k without a global sort, no cartesian product in the
  * banded, bucketed and equi-joined similarity paths, exchange counts,
  * partition-keyed windows, and shuffles that carry hashes or digests
  * instead of text. Each test's name is the property it pins; a refactor
  * that changes one of these plans fails here. The ANN pins live in
  * [[AnnPlanPinsSpec]], the dedup ledgers' store-probe pins in
  * [[LedgerPlanPinsSpec]]. */
class PlanPinsSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet(s"$testdata/documents.parquet")

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  // the span kernels are compiled expressions: no higher-order function
  // of the engine is left in the paper pass (t02's own `transform` over
  // `map_entries` renders the tag map for the oracle, and is the only one)
  test("t01/t02 plans hold no engine higher-order function") {
    val hof = "\\b(transform|filter|exists|aggregate)\\(".r
    assert(hof.findFirstIn(plan("t01_trace_summary")).isEmpty)
    val t02 = plan("t02_span_flatten")
    assert(hof.findAllMatchIn(t02).map(m => t02.substring(m.start))
      .forall(_.startsWith("transform(map_entries(")))
    assert(t02.contains("graft_last_win_map") &&
      t02.contains("graft_parent_span_id"))
  }

  test("q02 pushes filters to the parquet scan") {
    assert(plan("q02_filter_project").contains("PushedFilters: [Is"))
  }

  test("q04 broadcasts both dimension tables") {
    assert("BroadcastHashJoin".r.findAllIn(plan("q04_join_agg")).length == 2)
  }

  test("q03 top-k plans TakeOrderedAndProject (no global sort)") {
    assert(plan("q03_topk").contains("TakeOrderedAndProject"))
  }

  test("q48 banded simhash join has no cartesian product") {
    assert(!plan("q48_simhash_neardup").contains("CartesianProduct"))
  }

  test("t06 seeded-hyperplane LSH join has no cartesian product") {
    assert(!plan("t06_similarity_lsh").contains("CartesianProduct"))
  }

  test("q42 near-dup pipeline has no cartesian product") {
    assert(!plan("q42_neardup_pipeline", executed = true)
      .contains("CartesianProduct"))
  }

  // signature derivation from the per-doc array index must add NO
  // exchange: explode preserves the doc hash partitioning, so the plan
  // holds exactly 2 exchanges (shingle distinct + array aggregation)
  test("signature-from-array-index plans 2 exchanges: the " +
      "explode-derived aggregation reuses the doc partitioning") {
    val idx = Dedup.shingleIndex(docs, "doc_id", "text")
    val arrs = idx.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
    val sig = Dedup.minHashSignaturesFromIndex(
      arrs.select(col("doc"), explode(col("hs")).as("h")))
    val n = hashExchanges(executedPlan(sig))
    assert(n == 2, s"got $n")
  }

  // TPC-H-shaped plans pinned, not assumed: at these SF ratios the
  // dimension sides are under the broadcast threshold, so the planner
  // must choose BroadcastHashJoin — a silent fallback to sort-merge on a
  // dim join is a plan regression
  test("q30 broadcasts at least one dimension side (customer/orders)") {
    assert(plan("q30_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("q31 broadcasts supplier and nation") {
    assert("BroadcastHashJoin".r
      .findAllIn(plan("q31_local_supplier_volume")).length >= 2)
  }

  // Catalyst pushes the slice predicates BELOW the shared shingle-index
  // subtree (each side scans only its slice — better than reusing one
  // full-corpus exchange), and the benchmark gram set broadcasts
  test("q67 slices both scans on doc_id%50 and broadcasts bench grams") {
    val p = plan("q67_decontamination")
    assert("% 50\\) = 0\\)".r.findAllIn(p).length >= 2 &&
      p.contains("BroadcastHashJoin"))
  }

  // the bloom must gate the gram stream BEFORE the exact join (a
  // might_contain that lands after the join would be dead weight)
  test("q72 bloom-filters grams via scalar subquery before the join") {
    val p = plan("q72_bloom_decontaminate")
    assert(p.contains("might_contain") && p.contains("Subquery") &&
      p.contains("BroadcastHashJoin"))
  }

  test("q62 binned range join is a codegen'd broadcast HASH join " +
      "(no BroadcastNestedLoopJoin)") {
    val p = plan("q62_range_join")
    assert(p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q49 cube plans a single-scan Expand, not one scan per set") {
    assert(plan("q49_cube").contains("Expand"))
  }

  test("q53 multi count-distinct plans Expand (one pass)") {
    assert(plan("q53_multi_count_distinct").contains("Expand"))
  }

  // curation sampling is a pure filter: no exchange beyond the
  // deliberate ingest repartition + the aggregation's own shuffle
  // (the rangepartitioning exchange for the 20-row ORDER BY is excluded)
  test("q59 hash-sample adds no extra hash shuffles (ingest repartition " +
      "+ final agg only)") {
    val n = hashExchanges(plan("q59_hash_sample"))
    assert(n <= 2, s"got $n")
  }

  // BM25: the 3-row df table and the scalar stats row must both ride
  // broadcasts (df as a hash join, stats as a broadcast nested-loop on
  // a single row); the only corpus-wide shuffle is the doc-length join
  test("q81 broadcasts df and corpus stats, no cartesian product") {
    val p = plan("q81_bm25_topk")
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("q82 shared-shingle join is an equi-join, no cartesian product") {
    val p = plan("q82_dup_spans")
    assert((p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin")) && !p.contains("CartesianProduct"))
  }

  test("q83 vocab overlap equi-joins on the term hash and broadcasts " +
      "set sizes") {
    val p = plan("q83_source_overlap")
    assert(!p.contains("CartesianProduct") &&
      "BroadcastHashJoin".r.findAllIn(p).length >= 2)
  }

  // LM scoring: the occurrence stream must reach its LM tables through
  // hash equi-joins (never cartesian), and the totals row must ride a
  // broadcast (single-row nested-loop is the expected physical form)
  test("q86 LM joins are equi-joins with broadcast totals") {
    val p = plan("q86_stupid_backoff")
    assert(!p.contains("CartesianProduct") &&
      p.contains("BroadcastNestedLoopJoin"))
  }

  test("q87 split-leakage gram join is an equi-join, no cartesian") {
    assert(!plan("q87_split_leakage").contains("CartesianProduct"))
  }

  // rank fusion: both retriever sides must plan top-k
  // (TakeOrderedAndProject), never a corpus-wide global sort
  test("q88 rank-fusion sides plan TakeOrderedAndProject") {
    assert("TakeOrderedAndProject".r
      .findAllIn(plan("q88_rank_fusion")).length >= 2)
  }

  // vocab-apply: the doc_id<40 output bound must reach the tokenize
  // branch's parquet scan while the vocab branch keeps an unfiltered
  // full-corpus scan (a bound leaking into the vocab branch would
  // silently train the vocabulary on a slice)
  test("q90 bounds only the tokenize branch (filtered + full scans)") {
    val p = plan("q90_tokenize_ids")
    assert(p.contains("LessThan(doc_id,40)") &&
      "PushedFilters: \\[\\]".r.findAllIn(p).length >= 1)
  }

  // boilerplate strip: the df-count and drop-position subtrees must
  // never shuffle segment text — every pre-rebuild exchange carries
  // only (id, hash, pos)-shaped rows; no window over segment hashes
  // (a 10⁹-doc boilerplate segment would funnel into one task)
  test("q92 plans no window and no cartesian product") {
    val p = plan("q92_boilerplate_strip")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  // budget selection (production path): exactly two windows — the
  // bucket-mass cumulative (a #sources×#buckets table) and the exact
  // survivor cumsum (budget-bounded sliver) — and EVERY window spec
  // partitions by source; a global (empty-partition) window would
  // serialize the corpus through one task
  test("q93 plans two source-partitioned windows (bucket masses + " +
      "survivor cumsum)") {
    val p = plan("q93_budget_select")
    val windows = "Window \\[".r.findAllIn(p).length
    val specs = "windowspecdefinition\\(source".r.findAllIn(p).length
    assert(windows == 2 && specs >= 2 &&
      !"windowspecdefinition\\(\\)".r.findFirstIn(p).isDefined)
  }

  // char-repetition: gram strings must be hashed before the shuffle —
  // every exchange key set is (doc_id, h)-shaped, never the gram text
  test("q94 shuffles gram hashes, not gram strings") {
    val p = plan("q94_char_repetition")
    assert(!"Exchange hashpartitioning\\([^)]*\\bg#".r.findFirstIn(p)
      .isDefined && !p.contains("CartesianProduct"))
  }

  // weighted sample: a global top-k by sample key must plan
  // TakeOrderedAndProject (per-partition heaps), never a full sort
  test("q96 weighted sample plans TakeOrderedAndProject") {
    assert(plan("q96_weighted_sample").contains("TakeOrderedAndProject"))
  }

  // shard layout: every window spec partitions by shard — the "global
  // shuffle" is S independent per-shard sorts, never one global sort
  // over the corpus (the final 16-row orderBy is the only global sort)
  test("q99 shard positions run in shard-partitioned windows") {
    val p = plan("q99_shard_assign")
    assert("windowspecdefinition\\(shard".r.findAllIn(p).length >= 1 &&
      !"windowspecdefinition\\(\\)".r.findFirstIn(p).isDefined)
  }

  // snapshot diff: the full-outer id join must shuffle digests, never
  // document text — no exchange key/row set mentions the text column
  test("q100 snapshot diff shuffles digests, not text") {
    val p = plan("q100_snapshot_diff")
    assert(!"Exchange hashpartitioning\\([^)]*\\btext#".r.findFirstIn(p)
      .isDefined && p.contains("FullOuter"))
  }

  // gram novelty: built on the hash-only shingle index — no exchange
  // partitions on a gram STRING, and no cartesian product
  test("q101 gram novelty shuffles gram hashes, not strings") {
    val p = plan("q101_gram_novelty")
    assert(!"Exchange hashpartitioning\\([^)]*concat_ws".r.findFirstIn(p)
      .isDefined && !p.contains("CartesianProduct"))
  }

  // label drift: exactly ONE embeddings scan (the global centroid
  // derives from the k label sums, not a second corpus pass) and the
  // corpus-level join is a broadcast of the single global-vector row
  test("q102 label drift scans embeddings once (checkpointed label " +
      "sums), broadcasts the global centroid") {
    val p = plan("q102_label_drift")
    assert("Scan parquet".r.findAllIn(p).isEmpty &&
      p.contains("BroadcastNestedLoopJoin"))
  }

  // snapshot drift: text never shuffles (counts-only monitor)
  test("q103 snapshot drift never shuffles document text") {
    assert(!"Exchange hashpartitioning\\([^)]*\\btext#".r
      .findFirstIn(plan("q103_snapshot_drift")).isDefined)
  }

  // feature hashing: the embedding kernel is MAP-ONLY — the only
  // exchange in the whole plan is the presentation sort's range
  // partitioning, never a hash shuffle — and it is the native codegen
  // graft_hashed_embedding expression, not the O(tokens×d)
  // interpreted-HOF fold it replaced
  test("q113 hashed embedding is the native kernel, no hash shuffle") {
    val p = plan("q113_hashed_embedding")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty &&
      p.contains("graft_hashed_embedding"))
  }

  // source log-odds: per-source totals and the corpus total ride
  // BROADCASTS (scalar / #sources-bounded frames); the only hash
  // exchanges carry (source, term) counts — and no cartesian product
  test("q120 log-odds terms broadcast totals, no cartesian") {
    val p = plan("q120_source_terms")
    assert(p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  // zipf slope: document text never shuffles — exchanges carry the
  // (source, term) count frame and the integer micro-unit sums only
  test("q121 zipf slope never shuffles document text") {
    assert(!"Exchange hashpartitioning\\([^)]*\\btext#".r
      .findFirstIn(plan("q121_zipf_slope")).isDefined)
  }

  // event lift: type totals and the user count ride broadcasts; the
  // only cartesian-shaped node is the broadcast-scalar cross join
  test("q123 event lift broadcasts totals, no cartesian") {
    val p = plan("q123_event_lift")
    assert(p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  // byte entropy: map-only native kernel — no hash shuffle, and the
  // plan carries the graft_byte_entropy expression
  test("q124 byte entropy is the native kernel, map-only") {
    val p = plan("q124_byte_entropy")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty &&
      p.contains("graft_byte_entropy"))
  }

  // the censuses are pure per-row judgments and must plan map-only
  // over the real documents table — any exchange would mean payloads
  // entering a shuffle, the exact thing the census family exists to
  // avoid at 100 TB
  private def payloads =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))

  test("encodingCensus is map-only (zero exchanges)") {
    val enc = Multimodal.encodingCensus(payloads, "doc_id", "payload")
    assert("Exchange".r.findAllIn(executedPlan(enc)).isEmpty)
  }

  test("urlCensus is map-only (zero exchanges, no UDF)") {
    val urls = TextFunctions.urlCensus(
      docs.select(col("doc_id"),
        concat(lit("http://h"), col("doc_id") % 50,
          lit(".example.com/p?b=2&a=1")).as("url")),
      "doc_id", "url")
    val p = executedPlan(urls)
    assert("Exchange".r.findAllIn(p).isEmpty &&
      !p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("warcHeaders is map-only (zero exchanges)") {
    val warc = Multimodal.warcHeaders(payloads, "doc_id", "payload")
    assert("Exchange".r.findAllIn(executedPlan(warc)).isEmpty)
  }

  test("scriptCensus is map-only (zero exchanges, no UDF)") {
    val p = executedPlan(TextFunctions.scriptCensus(docs, "doc_id", "text"))
    assert("Exchange".r.findAllIn(p).isEmpty && !p.contains("ScalaUDF"))
  }

  test("htmlCensus is map-only (zero exchanges, no UDF)") {
    val p = executedPlan(TextFunctions.htmlCensus(docs, "doc_id", "text"))
    assert("Exchange".r.findAllIn(p).isEmpty && !p.contains("ScalaUDF"))
  }

  // robots verdict: the per-host rule sets broadcast; the page corpus
  // must NOT hash-shuffle for the join
  test("robotsAllowed broadcasts rules; paths never hash-shuffle") {
    val robots = docs.limit(50).select(
      concat(lit("h"), col("doc_id") % 20, lit(".example.com")).as("host"),
      lit("User-agent: *\nDisallow: /private\n").as("txt"))
    val verdicts = Robots.robotsAllowed(robots, "host", "txt",
      docs.select(col("doc_id"),
        concat(lit("h"), col("doc_id") % 20, lit(".example.com"))
          .as("host"), lit("/private/x").as("path")),
      "doc_id", "host", "path", "bot")
    val p = executedPlan(verdicts)
    assert(p.contains("BroadcastHashJoin") &&
      "Exchange hashpartitioning".r.findAllIn(p).isEmpty)
  }

  // column profiler: ONE lineitem scan for the whole column list (the
  // multi-countDistinct plans via a single scan + Expand), not one scan
  // per profiled column
  test("q116 column profiler reads lineitem exactly once") {
    assert("Scan parquet".r.findAllIn(plan("q116_column_profile")).size == 1)
  }

  // RFM: the per-user frame is checkpointed once for its two consumers
  // (cut-point agg + scoring join) — the final plan reads the
  // materialized frame, never rescanning events
  test("q125 reads the checkpointed per-user frame (no events rescan)") {
    assert("Scan parquet".r.findAllIn(plan("q125_rfm_segments")).isEmpty)
  }

  // cohort LTV: the cohort table is checkpointed; only the daily value
  // aggregation still reads events — exactly one parquet scan
  test("q126 scans events exactly once (cohort checkpointed)") {
    assert("Scan parquet".r.findAllIn(plan("q126_cohort_ltv")).size == 1)
  }

  // media dedup: digests computed map-side — one digest-keyed
  // aggregation exchange, media bytes never on the wire
  test("q114 media dedup shuffles digests only") {
    val p = plan("q114_media_dedup")
    assert(!"Exchange hashpartitioning\\([^)]*\\bbytes#".r.findFirstIn(p)
      .isDefined && !p.contains("CartesianProduct"))
  }

  // bounded-percentile twin: the spilling window pass must add NO
  // exchange beyond the two windows' own (per-user lag on
  // (user_id, event_type); rank/count on (event_type)) — the slot
  // aggregation reuses the rank window's partitioning, because a third
  // exchange would mean the bounded form pays an extra corpus shuffle
  // over the exact aggregate it replaces
  test("t47 bounded percentiles add no extra exchange (lag window + " +
      "rank window, agg reuses)") {
    val p = plan("t47_interevent_gaps_b")
    val n = hashExchanges(p)
    assert(n == 2 && p.contains("Window"), s"got $n")
  }

  // the t46 twin runs on the fixture spans: same property, service-
  // keyed — one hash exchange feeds both the window and the final agg
  test("t46 bounded percentiles reuse the service partitioning") {
    val p = plan("t46_service_latency_b")
    val n = hashExchanges(p)
    assert(n <= 2 && p.contains("Window"), s"got $n hash exchanges")
  }

  // rank <= k cuts must keep row_number() so InferWindowGroupLimit
  // prunes each group to k rows BEFORE the window sort — the prune is
  // both the top-k fast path AND the Int-rank overflow guard (Ranks
  // scaladoc); a running-count rank here would silently drop the
  // rewrite and buffer whole partitions
  test("q06 keep-first dedup plans a WindowGroupLimit prune") {
    assert(plan("q06_dedup_first").contains("WindowGroupLimit"))
  }

  test("q68 stratified take-k plans a WindowGroupLimit prune") {
    assert(plan("q68_stratified_k").contains("WindowGroupLimit"))
  }
}
