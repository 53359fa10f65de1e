package graft.tools
import graft.SparkEntry
import graft.util.Caches
/** `runMain graft.tools.BenchOne <query> [sfDir] [runs]`: one warm-up
  * of the entry query, then `runs` (default 8) timed counts of
  * `query`, each printed with its wall time and the JVM's CPU time
  * (all threads) over the run, then one `warm` line: the medians over
  * runs 4..N, once the JIT and the caches have settled (the last run
  * when there are fewer than 4). */
object BenchOne {
  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(8)
    require(n >= 1, s"runs must be >= 1, got $n")
    val spark = graft.GraftSession.local("graft-bench-one")
    try Caches.scoped(SparkEntry.entry(spark).count()) catch { case _: Throwable => () }
    val runs = for (i <- 1 to n) yield {
      val (dt, cpu) = Caches.scoped {
        val (t0, c0) = (System.nanoTime(), cpuSeconds())
        SparkEntry.queries(name)(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, cpuSeconds() - c0)
      }
      println(f"BENCHONE $name run$i $dt%.2f s cpu $cpu%.2f s")
      (dt, cpu)
    }
    val warm = if (runs.size > 3) runs.drop(3) else runs.takeRight(1)
    println(f"BENCHONE $name warm ${median(warm.map(_._1))}%.2f s cpu ${median(warm.map(_._2))}%.2f s")
    spark.stop()
  }
}
