package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Percentiles

/** Scale-stress for the bounded-memory percentile family: generates a
  * skewed high-cardinality corpus distributively (no driver
  * materialization), runs [[Percentiles.groupedExact]] /
  * [[Percentiles.globalExact]], and cross-checks BIT-equality against
  * Spark's exact `percentile()` aggregate at a size where the
  * aggregate's value→count buffer is already hundreds of MB — the
  * regime the bounded forms exist for (the aggregate stops being
  * runnable at all well before the window/selection forms slow down).
  *
  * `sbt "runMain graft.tools.PercentileScaleSmoke [nRows]"` — default
  * 8M rows over 8 groups with a 50%-hot group and ~unique doubles (the
  * worst case for the aggregate's buffer: no value collapsing).
  */
object PercentileScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 8000000L
    val spark = graft.Bench.sessionBuilder("32").getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // group 0 takes half the corpus (hot group), 1..7 split the rest;
    // values are hash-derived doubles — effectively all-distinct, so the
    // exact aggregate's buffer is one entry PER ROW of its group
    val df = spark.range(n).select(
      when(pmod(col("id"), lit(2)) === 0, lit(0L))
        .otherwise(pmod(col("id"), lit(7)) + 1L).as("g"),
      (pmod(xxhash64(col("id")), lit(1000000007L)).cast("double") / 1e3)
        .as("v"))
      .localCheckpoint() // both sides read the SAME materialized rows
    val ps = Seq(0.5, 0.95, 0.99)

    val bounded = time(s"groupedExact over $n rows (hot group = n/2)") {
      Percentiles.groupedExact(df, Seq("g"), "v",
        ps.zipWithIndex.map { case (p, i) => p -> s"p$i" }, roundTo = -1)
        .collect().map(r => r.getLong(0) ->
          ps.indices.map(i => r.getDouble(r.fieldIndex(s"p$i")))).toMap
    }
    val exact = time("percentile() aggregate (unspillable buffer)") {
      df.groupBy("g")
        .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("q"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    }
    val grpOk = bounded.keySet == exact.keySet &&
      bounded.keySet.forall(g => ps.indices.forall(i =>
        java.lang.Double.doubleToLongBits(bounded(g)(i)) ==
          java.lang.Double.doubleToLongBits(exact(g)(i))))
    println(s"  grouped bit-equality: ${if (grpOk) "OK" else "MISMATCH"}")

    // the hot-group escape: same statistic, but the n/2-row group is
    // spread across range partitions instead of funneling one task
    val ranged = time("groupedRangeExact (hot group spans partitions)") {
      Percentiles.groupedRangeExact(df, Seq("g"), "v",
        ps.zipWithIndex.map { case (p, i) => p -> s"p$i" }, roundTo = -1)
        .collect().map(r => r.getLong(0) ->
          ps.indices.map(i => r.getDouble(r.fieldIndex(s"p$i")))).toMap
    }
    val rngOk = ranged.keySet == exact.keySet &&
      ranged.keySet.forall(g => ps.indices.forall(i =>
        java.lang.Double.doubleToLongBits(ranged(g)(i)) ==
          java.lang.Double.doubleToLongBits(exact(g)(i))))
    println(s"  ranged bit-equality: ${if (rngOk) "OK" else "MISMATCH"}")
    require(rngOk, "groupedRangeExact diverged from percentile()")

    val gBounded = time("globalExact (range-sort + census + pick)") {
      Percentiles.globalExact(df, "v", ps)
    }
    val gExact = time("whole-frame percentile()") {
      df.agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("q"))
        .head().getSeq[Double](0)
    }
    val globOk = ps.indices.forall(i =>
      java.lang.Double.doubleToLongBits(gBounded(i)) ==
        java.lang.Double.doubleToLongBits(gExact(i)))
    println(s"  global bit-equality: ${if (globOk) "OK" else "MISMATCH"}")
    require(grpOk && globOk, "bounded forms diverged from percentile()")
    println("percentile scale smoke PASSED")
    spark.stop()
  }
}
