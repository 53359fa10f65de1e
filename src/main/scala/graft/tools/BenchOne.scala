package graft.tools
import graft.SparkEntry
import graft.util.Caches
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-bench-one")
    try Caches.scoped(SparkEntry.entry(spark).count()) catch { case _: Throwable => () }
    for (i <- 1 to args.lift(2).map(_.toInt).getOrElse(2)) {
      val dt = Caches.scoped {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"BENCHONE $name run$i $dt%.2f s")
    }
    spark.stop()
  }
}
