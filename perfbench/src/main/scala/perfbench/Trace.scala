package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A benchmark span: the run, one tick or API op, or a set-up step. Its jobs
  * carry its id in the `perfbench.span` local property, which Spark copies
  * onto every job the span's thread submits, adaptive stages included.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startNs: Long, endNs: Long, wallStartMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Layer a Spark job is charged to. A job whose SQL plan scans the generated
  * transaction input is engine work (scan, aggregate, set operation and the
  * segment write that drives them); any other job goes to the source file
  * of the call site that submitted its query.
  */
object Layer {
  val Engine = "engine"
  val Store = "store"
  val Runner = "runner"
  val Other = "other"
  /** Classifies by the innermost engine or benchmark frame of a call site. */
  def ofCallSite(site: String): String =
    site.linesIterator.find(l => l.contains("graft.") || l.contains("perfbench.")) match {
      case Some(l) if l.contains("SegmentStore.scala")  => Store
      case Some(l) if l.contains("SegmentRunner.scala") => Runner
      case Some(l) if l.contains("SegmentEngine.scala") => Engine
      case _                                            => Other
    }
}

final case class JobRecord(jobId: Int, span: Int, startMs: Long, endMs: Long,
    layer: String, cpuNs: Long, shuffleWriteBytes: Long)

/** Spans recorded by the benchmark around its calls into the engine, plus a
  * `SparkListener` and a `QueryExecutionListener` that attach Spark jobs and
  * query-planning phases to them. Everything stays in memory until the run
  * ends. With tracing off, the recorder keeps only span wall times.
  */
final class Tracer(spark: SparkSession, inputPath: String, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  import Tracer._

  private val execs = new ConcurrentHashMap[Long, ExecInfo]()
  private val starts = new ConcurrentHashMap[Int, JobStart]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageAcc = new ConcurrentHashMap[Int, StageAcc]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRecord]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QeRecord]()

  private val listener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        execs.put(e.executionId, ExecInfo(e.details, e.physicalPlanDescription.contains(inputPath)))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(-1)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
        .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
      starts.put(e.jobId, JobStart(span, e.time, exec, site))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val acc = stageAcc.computeIfAbsent(e.stageId, _ => StageAcc())
      acc.synchronized {
        acc.cpuNs += m.executorCpuTime
        acc.shWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(starts.get(e.jobId)).foreach { s =>
      val info = s.exec.flatMap(id => Option(execs.get(id)))
      val layer =
        if (info.exists(_.readsInput)) Layer.Engine
        else Layer.ofCallSite(info.map(_.callSite).filter(_.nonEmpty).getOrElse(s.site))
      val mine = stageJob.asScala.collect { case (st, j) if j == e.jobId => st }
      val accs = mine.flatMap(st => Option(stageAcc.get(st)))
      jobs.add(JobRecord(e.jobId, s.span, s.startMs, e.time, layer,
        accs.map(_.cpuNs).sum, accs.map(_.shWrite).sum))
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      val scans = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(inputPath)) =>
          def metric(name: String) = s.metrics.get(name).map(_.value).getOrElse(0L)
          (metric("numOutputRows"), metric("filesSize"))
      }
      queries.add(QeRecord(start, planning, scans.map(_._1).sum, scans.map(_._2).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Stop attaching jobs (for the untraced comparison tick); spans remain. */
  def pause(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
  def resume(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Times `body` as a span of `kind`; its Spark jobs are tagged with it. */
  def span[A](kind: String, name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", id.toString)
    val wallStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, Option(prev).map(_.toInt).getOrElse(-1), kind, name, t0,
        System.nanoTime(), wallStart)
      spans += s
      (out, s)
    } finally sc.setLocalProperty("perfbench.span", prev)
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def jobsOf(s: Span): Seq[JobRecord] = jobs.asScala.filter(_.span == s.id).toSeq

  /** Planning milliseconds, and rows and file bytes scanned from the
    * transaction input, of the queries whose planning started inside the
    * span's wall-clock interval.
    */
  def queriesIn(s: Span): (Long, Long, Long) = {
    val from = s.wallStartMs
    val to = from + math.ceil((s.endNs - s.startNs) / 1e6).toLong
    val qs = queries.asScala.filter(q => q.startMs >= from && q.startMs <= to)
    (qs.map(_.planningMs).sum, qs.map(_.inputRows).sum, qs.map(_.inputBytes).sum)
  }
}

object Tracer {
  private final case class ExecInfo(callSite: String, readsInput: Boolean)
  private final case class JobStart(span: Int, startMs: Long, exec: Option[Long], site: String)
  private final case class StageAcc(var cpuNs: Long = 0, var shWrite: Long = 0)
  private final case class QeRecord(startMs: Long, planningMs: Long, inputRows: Long, inputBytes: Long)

  /** Length of the union of the jobs' intervals, in seconds. */
  def busySeconds(js: Seq[JobRecord]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    js.map(j => (j.startMs, j.endMs)).sorted.foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1e3
  }
}

/** Snapshot of a directory tree: relative path → (size, modification time). */
final case class FsSnapshot(files: Map[String, (Long, Long)]) {
  def bytes: Long = files.values.map(_._1).sum
  /** Files present here but absent, or different, in `before`. */
  def writtenSince(before: FsSnapshot): Seq[(String, Long)] =
    files.collect { case (p, v @ (size, _)) if !before.files.get(p).contains(v) => p -> size }.toSeq
}

object FsSnapshot {
  def walk(root: String): FsSnapshot = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) FsSnapshot(Map.empty)
    else {
      val s = java.nio.file.Files.walk(base)
      try FsSnapshot(s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { p =>
        base.relativize(p).toString ->
          (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }.toMap)
      finally s.close()
    }
  }
}
