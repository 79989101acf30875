package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The local filesystem with call counters, installed as `fs.file.impl`
  * in traced runs: opens, creates, lists, renames and deletes, summed
  * across every instance (driver and local-mode tasks share the JVM). */
class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.ops.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.ops.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.ops.incrementAndGet(); super.listStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.ops.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingLocalFs.ops.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingLocalFs {
  val ops = new AtomicLong
}

/** One timed call into the engine: `boundary` is the per-layer metric
  * prefix (`<module>.<function>`). Times are epoch ms / ns. */
final case class Call(boundary: String, op: Int, startMs: Long,
    wallNs: Long, fsOps: Long) {
  def endMs: Long = startMs + wallNs / 1000000L
}

final case class JobRec(id: Int, call: Int, desc: String, startMs: Long,
    var endMs: Long, stageIds: Seq[Int])

final case class StageRec(id: Int, name: String, var submitMs: Long,
    var endMs: Long, var tasks: Int, var cpuNs: Long, var shuffleBytes: Long)

/** Times every call into the engine; in traced mode it also records the
  * jobs, stages, task metrics, planning phases and filesystem calls each
  * call caused, keyed by a local property on the calling thread. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val CallKey = "perfbench.call"
  val calls = mutable.ArrayBuffer.empty[Call]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  /** (end ms, analysis + optimization + planning ms) per finished query */
  val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var traced = false
  private var op = -1

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val call = Option(e.properties).flatMap(p =>
        Option(p.getProperty(CallKey))).map(_.toInt).getOrElse(-1)
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, call, desc, e.time, e.time,
        e.stageInfos.map(_.stageId))
      e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId,
        StageRec(s.stageId, s.name, e.time, e.time, 0, 0L, 0L)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val s = e.stageInfo
        val r = stages.getOrElseUpdate(s.stageId,
          StageRec(s.stageId, s.name, 0L, 0L, 0, 0L, 0L))
        s.submissionTime.foreach(r.submitMs = _)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        stages.get(s.stageId).foreach { r =>
          s.submissionTime.foreach(r.submitMs = _)
          s.completionTime.foreach(r.endMs = _)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stages.get(e.stageId).foreach { r =>
        r.tasks += 1
        if (m != null) {
          r.cpuNs += m.executorCpuTime
          r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) jobListener.synchronized {
        plans += ((ph.values.map(_.endTimeMs).max,
          ph.values.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  /** Start recording per-layer detail; every later call is traced. */
  def startTracing(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    traced = true
  }

  def beginOp(index: Int): Unit = op = index

  /** Time `body`, a call into the engine's public functions. */
  def call[T](boundary: String)(body: => T): (T, Double) = {
    val idx = calls.size
    if (traced) sc.setLocalProperty(CallKey, idx.toString)
    val fs0 = CountingLocalFs.ops.get
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val ns = System.nanoTime() - t0
      calls += Call(boundary, op, startMs, ns, CountingLocalFs.ops.get - fs0)
      (out, ns / 1e9)
    } finally if (traced) sc.setLocalProperty(CallKey, null)
  }

  /** Deliver every queued listener event (untimed, between ops). */
  def drain(): Unit =
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)

  def forgetCalls(): Unit = calls.clear()
}

/** Per-layer figures for one call, derived from the recorded events. */
final case class Layer(wallMs: Double, jobs: Int, planMs: Double,
    driverMs: Double, execCpuMs: Double, shuffleWriteMb: Double,
    fsOps: Long)

object Layer {
  /** (name, unit), in the order of [[values]]. */
  val Measures: Seq[(String, String)] = Seq("wall_ms" -> "ms",
    "jobs" -> "count", "plan_ms" -> "ms", "driver_ms" -> "ms",
    "exec_cpu_ms" -> "ms", "shuffle_write_mb" -> "MiB", "fs_ops" -> "count")

  def values(l: Layer): Seq[Double] = Seq(l.wallMs, l.jobs.toDouble,
    l.planMs, l.driverMs, l.execCpuMs, l.shuffleWriteMb, l.fsOps.toDouble)

  /** Layer figures of every call in `p`, in call order. */
  def of(p: Probe): Seq[(Call, Layer, Seq[JobRec])] = {
    val jobsByCall = p.jobs.values.groupBy(_.call)
    p.calls.toSeq.zipWithIndex.map { case (c, idx) =>
      val js = jobsByCall.getOrElse(idx, Nil).toSeq.sortBy(_.id)
      val wallMs = c.wallNs / 1e6
      val startMs = c.startMs
      val endMs = startMs + math.ceil(wallMs).toLong
      // union of the call's job intervals, clipped to the call
      val iv = js.map(j => (math.max(j.startMs, startMs),
        math.min(math.max(j.endMs, j.startMs), endMs))).sortBy(_._1)
      var busy = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      busy += curE - curS
      val sts = js.flatMap(_.stageIds).distinct.flatMap(p.stages.get)
      val plan = p.plans.collect {
        case (end, ms) if end >= startMs && end <= endMs => ms
      }.sum
      (c, Layer(wallMs, js.size, plan.toDouble,
        math.max(0.0, wallMs - busy), sts.map(_.cpuNs).sum / 1e6,
        sts.map(_.shuffleBytes).sum / 1048576.0, c.fsOps), js)
    }
  }
}
