package graft.tools
import graft.SparkEntry
import graft.util.Caches
/** `runMain graft.tools.BenchOne <query> [sfDir] [runs]`: one warm-up
  * of the entry query, then `runs` timed counts of `query`, each
  * printed with its wall time and the JVM's CPU time (all threads)
  * over the run. */
object BenchOne {
  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-bench-one")
    try Caches.scoped(SparkEntry.entry(spark).count()) catch { case _: Throwable => () }
    for (i <- 1 to args.lift(2).map(_.toInt).getOrElse(2)) {
      val (dt, cpu) = Caches.scoped {
        val (t0, c0) = (System.nanoTime(), cpuSeconds())
        SparkEntry.queries(name)(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, cpuSeconds() - c0)
      }
      println(f"BENCHONE $name run$i $dt%.2f s cpu $cpu%.2f s")
    }
    spark.stop()
  }
}
