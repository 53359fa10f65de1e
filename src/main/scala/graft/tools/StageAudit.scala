package graft.tools

import graft.SparkEntry
import graft.util.Caches

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

    val tally = StageTally(spark)
    // run 1 cold (codegen+JIT), run 2 warm — report run 2's stages
    def timed(): Double = Caches.scoped {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"AUDIT cold ${timed()}%.2f s")
    tally.snapshotAndReset()
    println(f"AUDIT total ${timed()}%.2f s")
    tally.snapshotAndReset().toSeq.sortBy(-_._2.wallMs).take(25).foreach { case (id, st) =>
      println(f"AUDIT stage=$id%-4d tasks=${st.tasks}%-3d wall=${st.wallMs / 1000.0}%7.2fs " +
        f"run=${st.runMs / 1000.0}%7.2fs cpu=${st.cpuNs / 1e9}%7.2fs  ${st.name}")
    }
    spark.stop()
  }
}
