package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: what ran, when, under which parent span and for
  * which request. Times are System.nanoTime. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, req: String) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def apply[T](name: String, req: String = "")(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current.get()
    current.set(id)
    val t0 = System.nanoTime()
    try body
    finally {
      all.add(Span(id, name, t0, System.nanoTime(), parent, req))
      current.set(parent)
    }
  }

  def spans: Seq[Span] = all.asScala.toSeq

  def byName(name: String): Seq[Span] = spans.filter(_.name == name)

  def toJson: String = spans.sortBy(_.id).map { s =>
    Json.encode(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
      "parent" -> s.parent, "req" -> s.req))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark work attributed to the benchmark operation that submitted it.
  * The submitting thread tags its jobs with the local property
  * [[SparkWork.OpKey]]; jobs without a tag are booked to "". */
final case class OpWork(
    var jobs: Int = 0, var stages: Int = 0, var tasks: Int = 0,
    var taskMs: Double = 0, var schedWaitMs: Double = 0, var jobMs: Double = 0,
    var shuffleBytes: Long = 0, var spillBytes: Long = 0)

final class SparkWork extends SparkListener {
  private val byOp = mutable.Map[String, OpWork]()
  private val stageOp = mutable.Map[Int, String]()
  private val jobOp = mutable.Map[Int, (String, Long)]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageFirstLaunch = mutable.Map[Int, Long]()

  private def op(name: String): OpWork = byOp.getOrElseUpdate(name, OpWork())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkWork.OpKey))).getOrElse("")
    op(tag).jobs += 1
    jobOp(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageOp(_) = tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (tag, t0) => op(tag).jobMs += e.time - t0 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    op(stageOp.getOrElse(id, "")).stages += 1
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val id = e.stageId
    if (!stageFirstLaunch.contains(id)) {
      stageFirstLaunch(id) = e.taskInfo.launchTime
      stageSubmit.get(id).foreach { s =>
        op(stageOp.getOrElse(id, "")).schedWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = op(stageOp.getOrElse(e.stageId, ""))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.taskMs += m.executorRunTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  def snapshot(): Map[String, OpWork] = synchronized { byOp.view.mapValues(_.copy()).toMap }
}

object SparkWork {
  val OpKey = "perfbench.op"

  /** Run `body` with its Spark jobs booked to `op`. */
  def tagged[T](spark: SparkSession, op: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }
}

/** Catalyst phases and action count of every executed query. */
final class PlanWork extends QueryExecutionListener {
  private val actions = new AtomicLong(0)
  private val planNs = new AtomicLong(0)
  private val execNs = new AtomicLong(0)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    actions.incrementAndGet()
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    planNs.addAndGet(ms * 1000000L)
    execNs.addAndGet(durationNs)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  /** (actions, planning ms, action execution ms) */
  def snapshot(): (Long, Double, Double) = (actions.get(), planNs.get() / 1e6, execNs.get() / 1e6)
}

/** Process-level measurements read from outside the engine. */
object Probes {

  /** File-system work so far: operations counted by [[CountingFs]] (zero
    * unless the traced run installed it) and the bytes read and written
    * according to Hadoop's storage statistics, summed over every scheme. */
  def fsCounters(): Map[String, Long] = {
    val bytes = mutable.Map[String, Long]().withDefaultValue(0L)
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala.foreach { st =>
      st.getLongStatistics.asScala.foreach { l =>
        l.getName match {
          case "bytesRead" => bytes("bytes_read") += l.getValue
          case "bytesWritten" => bytes("bytes_written") += l.getValue
          case _ =>
        }
      }
    }
    Map("ops" -> CountingFs.ops.get, "bytes_read" -> bytes("bytes_read"),
      "bytes_written" -> bytes("bytes_written"))
  }

  def fsDelta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  /** Peak resident set size of this process in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.isFile) return Double.NaN
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes and regular files under `dir`, hidden marker files included. */
  def du(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val files = java.nio.file.Files.walk(root)
    try {
      val regular = files.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
      (regular.map(p => java.nio.file.Files.size(p)).sum, regular.size.toLong)
    } finally files.close()
  }

  /** A fixed single-threaded CPU loop in ms: its nominal cost is a machine
    * constant, so inflation identifies a window with stolen CPU. */
  def spinMs(): Double = {
    var x = 0x9e3779b97f4a7c15L; var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }
}
