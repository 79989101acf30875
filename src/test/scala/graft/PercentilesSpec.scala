package graft

import org.apache.spark.sql.functions._
import graft.operators.Percentiles

/** Pins the bounded-memory percentile forms BIT-equal to Spark's exact
  * `percentile()` aggregate — the contract that lets the t46-t49 driver
  * entries hash against the same DuckDB oracles as their exact-aggregate
  * baselines (t33/q119/t36/q127). Fixtures force every arithmetic path:
  * integral positions, fractional interpolation, equal-endpoint
  * shortcuts (duplicate values), and a singleton group. */
class PercentilesSpec extends SparkTestBase {
  import SparkTestBase.session.implicits._

  // group sizes 5/4/7/1 with duplicates: (n-1)·p lands on integral and
  // fractional positions, and 'c' has equal boundary values so the
  // lo==hi value shortcut fires
  private lazy val grouped = Seq(
    ("a", 3L), ("a", 1L), ("a", 4L), ("a", 1L), ("a", 5L),
    ("b", 10L), ("b", 20L), ("b", 30L), ("b", 40L),
    ("c", 7L), ("c", 7L), ("c", 7L), ("c", 2L), ("c", 9L), ("c", 11L),
    ("c", 13L),
    ("d", 42L)).toDF("g", "v")

  // irrational-ish doubles: interpolation must reproduce the aggregate's
  // exact operand order, not just "close"
  private lazy val doubles = Seq.tabulate(37) { i =>
    (if (i % 3 == 0) "x" else "y", math.sin(i) * 1000.0 + i * 0.1)
  }.toDF("g", "v")

  private def bits(x: Double) = java.lang.Double.doubleToLongBits(x)

  private def compareGrouped(df: org.apache.spark.sql.DataFrame,
      ps: Seq[Double]): Unit = {
    val got = Percentiles.groupedExact(df, Seq("g"), "v",
      ps.zipWithIndex.map { case (p, i) => p -> s"p$i" }, roundTo = -1)
      .collect()
      .map(r => r.getString(r.fieldIndex("g")) ->
        ps.indices.map(i => r.getDouble(r.fieldIndex(s"p$i"))))
      .toMap
    val exp = df.groupBy("g")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet === exp.keySet)
    for (g <- got.keySet; i <- ps.indices)
      assert(bits(got(g)(i)) === bits(exp(g)(i)),
        s"group $g p=${ps(i)}: got ${got(g)(i)} want ${exp(g)(i)}")
  }

  test("groupedExact is bit-equal to percentile() on long groups " +
      "(integral + fractional positions, duplicate endpoints)") {
    compareGrouped(grouped, Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
  }

  test("groupedExact is bit-equal to percentile() on double values") {
    compareGrouped(doubles, Seq(0.1, 1.0 / 3.0, 0.5, 0.875, 1.0))
  }

  test("groupedExact extras ride the same aggregation (count matches)") {
    val out = Percentiles.groupedExact(grouped, Seq("g"), "v",
      Seq(0.5 -> "med"), extras = Seq(count(lit(1)).as("n")))
      .collect().map(r => r.getString(r.fieldIndex("g")) ->
        r.getLong(r.fieldIndex("n"))).toMap
    assert(out === Map("a" -> 5L, "b" -> 4L, "c" -> 7L, "d" -> 1L))
  }

  test("groupedExact roundTo matches round(percentile(), n)") {
    val got = Percentiles.groupedExact(doubles, Seq("g"), "v",
      Seq(0.9 -> "p90"), roundTo = 4)
      .collect().map(r => r.getString(r.fieldIndex("g")) ->
        r.getDouble(r.fieldIndex("p90"))).toMap
    val exp = doubles.groupBy("g")
      .agg(round(expr("percentile(v, 0.9)"), 4).as("p90"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === exp.keySet)
    got.keySet.foreach(g => assert(bits(got(g)) === bits(exp(g)), g))
  }

  test("globalExact is bit-equal to whole-frame percentile()") {
    val ps = Seq(0.0, 0.1, 0.5, 0.77, 1.0)
    val got = Percentiles.globalExact(grouped, "v", ps, nParts = 3)
    val exp = grouped
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("ps"))
      .head().getSeq[Double](0)
    ps.indices.foreach(i => assert(bits(got(i)) === bits(exp(i)),
      s"p=${ps(i)}: got ${got(i)} want ${exp(i)}"))
  }

  test("grouped and global forms agree on a single-group frame") {
    val one = grouped.filter(col("g") === "c")
    val ps = Seq(0.25, 0.5, 0.9)
    val g = Percentiles.groupedExact(one, Seq("g"), "v",
      ps.zipWithIndex.map { case (p, i) => p -> s"p$i" }, roundTo = -1)
      .head()
    val glob = Percentiles.globalExact(one, "v", ps)
    ps.indices.foreach(i =>
      assert(bits(g.getDouble(g.fieldIndex(s"p$i"))) === bits(glob(i))))
  }

  test("fractions outside [0, 1] are rejected up front") {
    intercept[IllegalArgumentException] {
      Percentiles.globalExact(grouped, "v", Seq(0.5, 1.5))
    }
    intercept[IllegalArgumentException] {
      Percentiles.groupedExact(grouped, Seq("g"), "v",
        Seq(-0.1 -> "bad"))
    }
  }

  test("globalExact on an empty frame yields NaN per fraction") {
    val got = Percentiles.globalExact(grouped.filter(lit(false)), "v",
      Seq(0.5, 0.9))
    assert(got.length === 2 && got.forall(_.isNaN))
  }

  private def compareRange(df: org.apache.spark.sql.DataFrame,
      ps: Seq[Double], nParts: Int): Unit = {
    val got = Percentiles.groupedRangeExact(df, Seq("g"), "v",
      ps.zipWithIndex.map { case (p, i) => p -> s"p$i" }, roundTo = -1,
      nParts = nParts)
      .collect()
      .map(r => r.getString(r.fieldIndex("g")) ->
        ps.indices.map(i => r.getDouble(r.fieldIndex(s"p$i"))))
      .toMap
    val exp = df.groupBy("g")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet === exp.keySet)
    for (g <- got.keySet; i <- ps.indices)
      assert(bits(got(g)(i)) === bits(exp(g)(i)),
        s"group $g p=${ps(i)}: got ${got(g)(i)} want ${exp(g)(i)}")
  }

  test("groupedRangeExact is bit-equal to percentile() on the shared " +
      "fixtures (integral/fractional positions, duplicates, singleton)") {
    compareRange(grouped, Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0),
      nParts = 5)
    compareRange(doubles, Seq(0.1, 1.0 / 3.0, 0.5, 0.875, 1.0),
      nParts = 4)
  }

  test("groupedRangeExact: a hot group SPANS range partitions and stays " +
      "bit-equal — the property groupedExact's one-task funnel lacks") {
    // 60k-row hot group + two slivers across 16 partitions: balanced
    // ranges put the hot group in ~14 partitions, so the census/offset
    // reconstruction is exercised for real, not degenerately
    val hot = SparkTestBase.session.range(60000)
      .select(lit("hot").as("g"),
        (pmod(col("id") * 2654435761L, lit(99991L))).cast("double")
          .as("v"))
    val df = hot.union(
      Seq(("s1", 5.0), ("s1", 1.0), ("s2", 8.0)).toDF("g", "v"))
    val recipe = df.repartitionByRange(16, col("g"), col("v"))
    val spread = recipe
      .filter(col("g") === "hot")
      .select(spark_partition_id()).distinct().count()
    assert(spread > 1L,
      s"hot group landed in one partition ($spread) — fixture too small")
    compareRange(df, Seq(0.0, 0.25, 0.5, 2.0 / 3.0, 0.999, 1.0),
      nParts = 16)
  }

  test("groupedRangeExact: multi-column group keys") {
    val df = Seq(
      ("a", 1, 3.0), ("a", 1, 1.0), ("a", 1, 4.5), ("a", 2, 9.0),
      ("b", 1, 2.0), ("b", 1, 2.0), ("b", 2, 7.0), ("b", 2, 5.0))
      .toDF("g1", "g2", "v")
    val got = Percentiles.groupedRangeExact(df, Seq("g1", "g2"), "v",
      Seq(0.5 -> "med"), roundTo = -1, nParts = 3)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        r.getDouble(r.fieldIndex("med"))).toMap
    val exp = df.groupBy("g1", "g2")
      .agg(expr("percentile(v, 0.5)").as("med"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === exp.keySet)
    got.keySet.foreach(k => assert(bits(got(k)) === bits(exp(k)), k))
  }

  test("groupedRangeExact: a NULL group key survives, matching " +
      "groupedExact and percentile()") {
    val df = Seq(("a", 1L), ("a", 3L), (null, 2L), (null, 8L),
      (null, 4L)).toDF("g", "v")
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => Option(r.getString(0)) ->
        r.getDouble(r.fieldIndex("med"))).toMap
    val ranged = toMap(Percentiles.groupedRangeExact(df, Seq("g"), "v",
      Seq(0.5 -> "med"), roundTo = -1, nParts = 3).collect())
    val exact = toMap(df.groupBy("g")
      .agg(expr("percentile(v, 0.5)").as("med")).collect())
    assert(ranged.keySet === Set(Some("a"), None))
    assert(ranged.keySet === exact.keySet)
    ranged.keySet.foreach(k =>
      assert(bits(ranged(k)) === bits(exact(k)), k))
  }

  test("groupedRangeExact: empty frame yields an empty result; empty " +
      "group keys are rejected") {
    val out = Percentiles.groupedRangeExact(
      grouped.filter(lit(false)), Seq("g"), "v", Seq(0.5 -> "med"))
    assert(out.columns.toSeq === Seq("g", "med") && out.count() === 0L)
    intercept[IllegalArgumentException] {
      Percentiles.groupedRangeExact(grouped, Seq.empty, "v",
        Seq(0.5 -> "med"))
    }
  }

  test("groupedExact stays bit-equal when the window buffer actually " +
      "SPILLS (the bounded-memory claim, exercised)") {
    val n = 20000
    val big = SparkTestBase.session.range(n).selectExpr(
      "CAST(id % 3 AS STRING) AS g",
      // hash-spread doubles: all-distinct, unsorted arrival
      "CAST(pmod(xxhash64(id), 99991) AS DOUBLE) / 7.0 AS v")
    val conf = spark.conf
    val before = conf.getOption("spark.sql.windowExec.buffer.spill.threshold")
    // assert the spill PATH actually ran, not just that the conf was
    // set — a Spark upgrade renaming the internal key would otherwise
    // silently turn this back into the in-memory test
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    try {
      // force UnsafeExternalSorter to spill every 128 rows — the exact
      // path a 100-TB hot group exercises, shrunk to test scale
      conf.set("spark.sql.windowExec.buffer.spill.threshold", "128")
      val ps = Seq(0.25, 0.5, 0.9, 0.99)
      val got = listening(listener) {
        Percentiles.groupedExact(big, Seq("g"), "v",
          ps.zipWithIndex.map { case (p, i) => p -> s"p$i" }, roundTo = -1)
          .collect().map(r => r.getString(r.fieldIndex("g")) ->
            ps.indices.map(i => r.getDouble(r.fieldIndex(s"p$i")))).toMap
      }
      assert(spilled.get() > 0L,
        "window pass did not spill — the forced-spill conf lost effect")
      val exp = big.groupBy("g")
        .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("q"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(got.keySet === exp.keySet)
      for (g <- got.keySet; i <- ps.indices)
        assert(bits(got(g)(i)) === bits(exp(g)(i)), s"g=$g p=${ps(i)}")
    } finally {
      before match {
        case Some(v) =>
          conf.set("spark.sql.windowExec.buffer.spill.threshold", v)
        case None =>
          conf.unset("spark.sql.windowExec.buffer.spill.threshold")
      }
    }
  }

  test("null contract: caller-filtered groupedExact equals percentile() " +
      "over the null-containing frame (percentile skips nulls)") {
    val withNulls = grouped.select(col("g"),
      when(col("v") % 2 === 0, col("v")).otherwise(lit(null)).as("v"))
    val got = Percentiles.groupedExact(
      withNulls.filter(col("v").isNotNull), Seq("g"), "v",
      Seq(0.5 -> "med"), roundTo = -1)
      .collect().map(r => r.getString(r.fieldIndex("g")) ->
        r.getDouble(r.fieldIndex("med"))).toMap
    val exp = withNulls.groupBy("g")
      .agg(expr("percentile(v, 0.5)").as("med"))
      .collect().filter(!_.isNullAt(1))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === exp.keySet) // all-null groups drop on both sides
    got.keySet.foreach(g => assert(bits(got(g)) === bits(exp(g)), g))
  }
}
