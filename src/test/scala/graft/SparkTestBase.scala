package graft

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One shared local SparkSession for the whole test JVM (suites share it via
  * getOrCreate), built by [[Bench.sessionBuilder]] like every session of
  * the engine, so the suite runs under the config the benchmark
  * measures. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  def fixturePath: String =
    graft.sources.JaegerJsonSource.resourceToTempFile("/jaeger_fixture.json")

  /** The sf0.01 testdata the plan-pin specs plan against. */
  val testdata = "/root/testdata/sf0.01"

  /** Executed-plan string of SparkEntry query `q` on [[testdata]];
    * `executed` runs the query first, so the plan read is adaptive
    * execution's final one. */
  def plan(q: String, executed: Boolean = false): String = {
    val df = SparkEntry.queries(q)(spark, testdata)
    if (executed) df.count()
    df.queryExecution.executedPlan.toString
  }

  /** Distinct 16-word documents with ids `ids`, from a 65k-word
    * vocabulary: no two share a shingle, so every doc admits and every
    * ledger bucket fills. */
  def seededDocs(ids: Range): DataFrame = {
    import SparkTestBase.session.implicits._
    ids.map(i => (i.toLong, (0 until 16).map(j =>
      "w" + (scala.util.hashing.MurmurHash3.stringHash(s"$i:$j") & 0xffff))
      .mkString(" "))).toDF("doc_id", "text")
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def withJobCount[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val r = listening(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    })(body)
    (r, n.get)
  }

  /** The local file system every spec's stores live on. */
  lazy val fs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Every path under the local dir `dir`, files with their size: equal
    * before and after a call means it wrote and deleted nothing there. */
  def tree(dir: String): Set[String] = {
    import java.nio.file.{Files, Paths}
    val w = Files.walk(Paths.get(dir))
    try w.iterator.asScala.map(p =>
      s"$p ${if (Files.isDirectory(p)) "" else Files.size(p)}").toSet
    finally w.close()
  }

  /** Runs `body` with `tap` on the listener bus: drains the bus so no
    * earlier event reaches `tap`, adds it, runs `body`, drains again so
    * every event `body` caused has reached `tap`, and removes it. */
  def listening[T](tap: SparkListener)(body: => T): T =
    onBus(spark.sparkContext.addSparkListener(tap),
      spark.sparkContext.removeSparkListener(tap))(body)

  /** [[listening]] for a query-execution listener. */
  def listening[T](tap: QueryExecutionListener)(body: => T): T =
    onBus(spark.listenerManager.register(tap),
      spark.listenerManager.unregister(tap))(body)

  private def onBus[T](add: => Unit, remove: => Unit)(body: => T): T = {
    GraftSparkBridge.drainListenerBus(spark.sparkContext)
    add
    try {
      val r = body
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      r
    } finally remove
  }
}

object SparkTestBase {
  lazy val session: SparkSession = Bench.sessionBuilder("4").getOrCreate()
}
