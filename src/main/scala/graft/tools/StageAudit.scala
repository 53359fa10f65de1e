package graft.tools

import graft.SparkEntry
import graft.util.Caches
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Per-stage task-count/duration audit of one registered query —
  * `runMain graft.tools.StageAudit <query> [sfDir]`. Shows where the
  * wall-clock goes and whether a stage is running on 1 task (the
  * local-mode anti-scaling smell). */
object StageAudit {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-stage-audit")
    try Caches.scoped(SparkEntry.entry(spark).count()) catch { case _: Throwable => () }

    // appended from the listener-bus thread, cleared/read from main —
    // every access synchronizes on the buffer (the sleeps below only
    // bound event-delivery lag, they don't make the buffer safe)
    val stages = ArrayBuffer[(Int, String, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks,
            wall, si.taskMetrics.executorRunTime))
        }
      }
    })
    // run 1 cold (codegen+JIT), run 2 warm — report run 2's stages
    def timed(): Double = Caches.scoped {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"AUDIT cold ${timed()}%.2f s")
    Thread.sleep(500)
    stages.synchronized { stages.clear() }
    println(f"AUDIT total ${timed()}%.2f s")
    Thread.sleep(500)
    stages.synchronized { stages.sortBy(-_._4).take(25) }.foreach { case (id, n, tasks, wall, run) =>
      println(f"AUDIT stage=$id%-4d tasks=$tasks%-3d wall=${wall / 1000.0}%7.2fs cpu=${run / 1000.0}%7.2fs  $n")
    }
    spark.stop()
  }
}
