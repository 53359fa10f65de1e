package graft.tools

import graft.util.Caches
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One stage as the [[StageTally]] saw it: successful task attempts
  * only, so a retried or speculative attempt never double-counts its
  * bytes into a linearity gate. */
final case class StageStats(
    tasks: Long = 0L, shuffleWrite: Long = 0L, maxTaskWrite: Long = 0L,
    inputBytes: Long = 0L, runMs: Long = 0L, cpuNs: Long = 0L,
    wallMs: Long = 0L, name: String = "") {
  def merge(o: StageStats): StageStats = StageStats(
    tasks + o.tasks, shuffleWrite + o.shuffleWrite, math.max(maxTaskWrite, o.maxTaskWrite),
    inputBytes + o.inputBytes, runMs + o.runMs, cpuNs + o.cpuNs, wallMs + o.wallMs,
    if (o.name.nonEmpty) o.name else name)
}

/** The one stage listener of the tools: per stage, tasks, shuffle-write
  * bytes, max task write, input bytes, executor run and CPU time, and
  * the stage's wall time. [[snapshotAndReset]] drains the listener bus
  * first, so every event of the jobs that already returned is counted
  * and none spills into the next snapshot. */
final class StageTally private (sc: SparkContext) extends SparkListener with AutoCloseable {
  private val perStage = new java.util.concurrent.ConcurrentHashMap[Int, StageStats]()

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null && te.taskInfo != null && te.taskInfo.successful) {
      val w = m.shuffleWriteMetrics.bytesWritten
      perStage.merge(te.stageId, StageStats(1L, w, w, m.inputMetrics.bytesRead,
        m.executorRunTime, m.executorCpuTime), _ merge _)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    if (si.failureReason.isEmpty) {
      val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(0L)
      perStage.merge(si.stageId,
        StageStats(wallMs = wall, name = si.name.takeWhile(_ != '\n').take(60)), _ merge _)
    }
  }

  def snapshotAndReset(): Map[Int, StageStats] = {
    ListenerBusDrain(sc)
    // remove key by key, so an event merged meanwhile is never dropped
    perStage.keySet.asScala.toList.flatMap(k => Option(perStage.remove(k)).map(k -> _)).toMap
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object StageTally {
  def apply(spark: SparkSession): StageTally = {
    val t = new StageTally(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }
}

/** The scale-smoke check lines and gates, one formula each (per-smoke
  * copies drifted in round 9 and were folded back here). Prints
  * `<TAG>_SMOKE_CHECK ok|FAIL <msg>` through `out`; the relation gates
  * print one line per scale after the first, relating it to the first. */
class SmokeGates(tag: String, out: String => Unit = println(_)) {
  private var failed = false
  def passed: Boolean = !failed

  def check(cond: Boolean, msg: String): Unit = {
    out(s"${tag}_SMOKE_CHECK ${if (cond) "ok  " else "FAIL"} $msg")
    if (!cond) failed = true
  }

  private def relate[T](pts: Seq[(Int, T)])(gate: (Int, T, Int, T) => Unit): Unit =
    pts.tail.foreach { case (s, x) => gate(pts.head._1, pts.head._2, s, x) }

  def exactLinear(what: String, pts: Seq[(Int, Long)]): Unit =
    relate(pts) { (s1, x1, s, x) =>
      check(SmokeGates.linear(s1, x1, s, x), s"$what exactly linear at ${s}x ($x1->$x)")
    }

  def nearLinear(what: String, pts: Seq[(Int, Long)], tol: Double, slack: Long = 0L): Unit =
    relate(pts) { (s1, x1, s, x) =>
      check(SmokeGates.nearLinear(s1, x1, s, x, tol, slack),
        f"$what scale linearly +/-${tol * 100}%.0f%% at ${s}x ($x1->$x)")
    }

  def constant(what: String, pts: Seq[(Int, Long)]): Unit =
    relate(pts)((_, x1, s, x) => check(x == x1, s"$what constant at ${s}x ($x1->$x)"))

  def identical[T](what: String, pts: Seq[(Int, T)], show: T => String = (t: T) => t.toString): Unit =
    relate(pts)((_, x1, s, x) => check(x == x1, s"$what identical at ${s}x (${show(x)})"))

  /** Consecutive-pair shuffle-write linearity: bytes may grow at most
    * 1.5× of linear plus an 8 MiB fixed-overhead allowance (absorbs
    * one-time AQE broadcast→shuffled-join plan transitions). A pair
    * whose LARGER total is still under `exemptBytes` is exempt: at
    * that size growth is plan-transition territory, and a genuinely
    * quadratic stage still trips the gated larger pairs immediately. */
  def shuffleLinear(runs: Seq[(Int, Long)], exemptBytes: Long = 0L): Unit =
    runs.tail.zip(runs).foreach { case ((s, b), (ps, pb)) =>
      val ratio = s.toDouble / ps
      val bound = (pb * ratio * 1.5).toLong + (8L << 20)
      check(b <= bound || b <= exemptBytes,
        f"shuffle write ${ps}x->${s}x: ${b / 1048576.0}%.1f MiB <= " +
          f"linear bound ${bound / 1048576.0}%.1f MiB" +
          (if (exemptBytes > 0) " or small-total exemption" else "") +
          f" (grew ${b.toDouble / math.max(1, pb)}%.2fx for a $ratio%.2fx scale-up)")
    }

  /** Per-stage skew: no heavy stage (>4 MiB total write, ≥8 tasks)
    * may have one task carrying more than 8× the stage mean. */
  def skew(scale: Int, stages: Map[Int, StageStats]): Unit =
    stages.foreach { case (sid, st) =>
      val (n, total, mx) = (st.tasks, st.shuffleWrite, st.maxTaskWrite)
      if (total > (4L << 20) && n >= 8)
        check(mx <= 8 * (total / n),
          f"scale=$scale stage=$sid skew: max task ${mx / 1048576.0}%.1f MiB " +
            f"<= 8x mean ${(total / n) / 1048576.0}%.1f MiB over $n tasks")
    }
}

object SmokeGates {
  /** `x` at scale `s` is exactly linear in `x1` at `s1`, in the
    * cross-product form: exact for ANY scale list — an integer
    * multiplier (s/s1) floors on non-divisible lists like '2,3'. */
  def linear(s1: Int, x1: Long, s: Int, x: Long): Boolean = x * s1 == x1 * s

  def nearLinear(s1: Int, x1: Long, s: Int, x: Long, tol: Double, slack: Long = 0L): Boolean = {
    val want = x1 * (s.toDouble / s1)
    math.abs(x - want) <= want * tol + slack
  }
}

/** What the tally saw between a rung's clock start and its envelope. */
final case class Envelope(wallSec: Double, stages: Map[Int, StageStats]) {
  def writeBytes: Long = stages.values.map(_.shuffleWrite).sum
  def summary: String = f"wall=$wallSec%.1fs shuffle_write=${writeBytes / 1048576.0}%.1f MiB"
}

/** One scale of a ladder, inside that scale's `Caches.scoped` block.
  * Its clock starts, with an empty tally, when the rung is made. */
final class Rung private[tools] (val scale: Int, run: SmokeRun) {
  private var t0 = 0L
  restart()

  private def restart(): Unit = { exclude(); t0 = System.nanoTime() }

  /** Persists and counts one scaled input, then restarts the clock
    * with an empty tally: input preparation is never part of the gated
    * envelope. */
  def input(df: DataFrame): (DataFrame, Long) = {
    val p = Caches.persist(df.repartition(run.spark.sparkContext.defaultParallelism))
    val n = p.count()
    restart()
    (p, n)
  }

  /** The gated envelope: the stages and wall time since the clock
    * started. The tally restarts empty. */
  def envelope(): Envelope = {
    val wall = (System.nanoTime() - t0) / 1e9
    Envelope(wall, run.tally.snapshotAndReset())
  }

  /** Keeps the work since the last snapshot out of every envelope. */
  def exclude(): Unit = run.tally.snapshotAndReset(): Unit
}

/** One scale smoke — `runMain graft.tools.<Family>ScaleSmoke <sfDir>
  * [scales]` (scales default to `1,3,10`): the session, the stage
  * tally, the scale ladder and the check lines, ending in
  * `<TAG>_SMOKE_RESULT PASS|FAIL` (exit 1 on FAIL). */
final class SmokeRun(tag: String, args: Array[String]) extends SmokeGates(tag) {
  val sfDir: String = args.headOption.getOrElse("/root/testdata/sf0.1")
  val scales: Seq[Int] = args.lift(1).getOrElse("1,3,10").split(',').map(_.trim.toInt).toSeq
  val spark: SparkSession = graft.GraftSession.local(s"graft-${tag.toLowerCase}-scale-smoke")
  val tally: StageTally = StageTally(spark)

  /** Runs `step` once per scale, each in its own `Caches.scoped` block
    * (its intermediates release before the next scale), and prints the
    * `<label> scale=<c> <line>` row the step returns with its result. */
  def ladder[R](label: String = s"${tag}_SMOKE")(step: Rung => (R, String)): Seq[R] =
    scales.map { c => Caches.scoped {
      val (r, line) = step(new Rung(c, this))
      println(f"$label scale=$c%-3d $line")
      r
    } }

  /** `path`, emptied: a store the smoke writes from scratch at each scale. */
  def freshDir(path: String): String = {
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    path
  }

  def finish(): Unit = {
    println(s"${tag}_SMOKE_RESULT ${if (passed) "PASS" else "FAIL"}")
    spark.stop()
    if (!passed) sys.exit(1)
  }
}

object SmokeRun {
  /** `c` copies of `base`: copy 0 untouched, copy `k` = `copy(base, k)`. */
  def copies[T](base: Dataset[T], c: Int)(copy: (Dataset[T], Int) => Dataset[T]): Dataset[T] =
    (0 until c).map(k => if (k == 0) base else copy(base, k)).reduce(_ unionByName _)

  /** Copy `k` with each named id column shifted by k blocks. */
  def idOffsets(blocks: (String, Long)*)(df: DataFrame, k: Int): DataFrame =
    blocks.foldLeft(df) { case (d, (c, block)) => d.withColumn(c, col(c) + lit(k * block)) }
}
