package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/**
 * In-memory span tracer for the traced benchmark run.
 *
 * A span wraps one call into a layer's public function. Each span gets
 * its own Spark job group, so a SparkListener can attribute jobs, stages
 * and tasks to it; a QueryExecutionListener attributes planning time and
 * file-scan counts. Before a span closes the listener bus is drained, so
 * every event of its jobs has been counted.
 *
 * Per-span numbers are inclusive of child spans, except for `app` (the
 * RunAll residual), which counts only its own jobs and the time no
 * child span covers.
 */
final class Tracer(spark: SparkSession, runId: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val accs = mutable.ArrayBuffer.empty[Acc]
  private var stack = List.empty[Int]
  @volatile private var current = -1

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageMaxTaskMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var cachedBytes = 0L
  @volatile var cachedPeakBytes = 0L
  @volatile var planMs = 0L
  @volatile var tasks = 0L

  private def accOf(id: Int): Option[Acc] =
    if (id >= 0 && id < accs.length) Some(accs(id)) else None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val id = group.filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).toInt).getOrElse(current)
      e.stageIds.foreach(s => stageSpan.put(s, id))
      accOf(id).foreach(a => a.synchronized { a.jobs += 1 })
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (current >= 0) tasks += 1
      val info = e.taskInfo
      stageMaxTaskMs.merge(e.stageId, info.duration, (a, b) => math.max(a, b))
      accOf(stageSpan.getOrDefault(e.stageId, current)).foreach { a =>
        a.synchronized {
          a.tasks += 1
          a.intervals += ((info.launchTime, info.finishTime))
          val m = e.taskMetrics
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.diskBytesSpilled
          }
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (sub <- si.submissionTime; done <- si.completionTime if si.numTasks > 1 && done > sub) {
        val share = stageMaxTaskMs.getOrDefault(si.stageId, 0L).toDouble / (done - sub)
        accOf(stageSpan.getOrDefault(si.stageId, current)).foreach { a =>
          a.synchronized { a.maxTaskShare = math.max(a.maxTaskShare, share) }
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      // blocks of the untraced cold unit are not counted
      if (b.blockId.isRDD && (current >= 0 || blockBytes.containsKey(b.blockId.name))) synchronized {
        val before = Option(blockBytes.put(b.blockId.name, now)).map(_.longValue).getOrElse(0L)
        cachedBytes += now - before
        cachedPeakBytes = math.max(cachedPeakBytes, cachedBytes)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      if (current >= 0) planMs += ms
      val scans = PlanScans.count(qe)
      accOf(current).foreach(a => a.synchronized { a.planMs += ms; a.scans += scans })
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `f` inside a span named `name`; `stage` tags a RunAll
    * boundary with its StageResult name. */
  def span[A](name: String, stage: String = "")(f: => A): A = {
    PerfbenchBridge.drainListenerBus(sc)
    val id = spans.length
    spans += Span(id, name, stack.headOption.getOrElse(-1), System.currentTimeMillis(), stage)
    accs += new Acc
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    stack = id :: stack
    current = id
    sc.setJobGroup(GroupPrefix + id, name)
    try f
    finally {
      PerfbenchBridge.drainListenerBus(sc)
      spans(id).end = System.currentTimeMillis()
      stack = stack.tail
      current = stack.headOption.getOrElse(-1)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  def detach(): Unit = {
    PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def allSpans: Seq[Span] = spans.toSeq

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
  private def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))

  /** Per-span-name totals: span_s, task_cpu_s, idle_s, jobs, tasks,
    * shuffle_mb, spill_mb, max_task_share, plan_s, scans. */
  def layerTotals: Map[String, Map[String, Double]] = {
    val out = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    spans.foreach { s =>
      val self = s.name == "app"
      val ids = if (self) Seq(s.id) else subtree(s.id)
      val window = Seq((s.start, s.end))
      val kids = if (self) children(s.id).map(c => (c.start, c.end)) else Seq.empty
      val own = subtract(window, kids)
      val busy = ids.flatMap(i => accs(i).intervals)
      val spanMs = length(own)
      val idleMs = length(subtract(own, union(busy)))
      val a = ids.map(accs(_))
      val m = out.getOrElseUpdate(s.name, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      m("span_s") += spanMs / 1e3
      m("idle_s") += idleMs / 1e3
      m("task_cpu_s") += a.map(_.cpuNs).sum / 1e9
      m("jobs") += a.map(_.jobs).sum
      m("tasks") += a.map(_.tasks).sum
      m("shuffle_mb") += a.map(_.shuffleBytes).sum / 1048576.0
      m("spill_mb") += a.map(_.spillBytes).sum / 1048576.0
      m("plan_s") += a.map(_.planMs).sum / 1e3
      m("scans") += a.map(_.scans).sum
      m("max_task_share") = math.max(m("max_task_share"), (0.0 +: a.map(_.maxTaskShare)).max)
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  /** Share of the window [t0, t1] that no span below the root covers. */
  def uncoveredShare(rootId: Int): Double = {
    val r = spans(rootId)
    val covered = union(spans.filter(_.id != rootId).map(s => (s.start, s.end)).toSeq)
    val total = math.max(1L, r.end - r.start)
    length(subtract(Seq((r.start, r.end)), covered)).toDouble / total
  }

  def spansJson: String = spans.map { s =>
    s"""{"run_id":"${runId}","id":${s.id},"name":"${s.name}","stage":"${s.stage}",""" +
      s""""parent":${s.parent},"start_ms":${s.start},"end_ms":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  final case class Span(id: Int, name: String, parent: Int, start: Long, stage: String,
      var end: Long = -1L)

  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var maxTaskShare = 0.0
    var planMs = 0L
    var scans = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private[perfbench] def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private[perfbench] def subtract(xs: Seq[(Long, Long)], cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    union(cut).foldLeft(union(xs)) { (acc, c) =>
      acc.flatMap { case (a, b) =>
        Seq((a, math.min(b, c._1)), (math.max(a, c._2), b)).filter { case (x, y) => y > x }
      }
    }

  private[perfbench] def length(xs: Seq[(Long, Long)]): Long = xs.map { case (a, b) => b - a }.sum
}

/** File-scan nodes in a query's executed plan, through adaptive
  * stages and subqueries. */
object PlanScans extends AdaptiveSparkPlanHelper {
  def count(qe: QueryExecution): Int =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.size
}
