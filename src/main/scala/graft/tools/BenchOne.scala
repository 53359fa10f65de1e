package graft.tools
import graft.SparkEntry
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-bench-one")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    spark.catalog.clearCache()
    for (i <- 1 to args.lift(2).map(_.toInt).getOrElse(2)) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      println(f"BENCHONE $name run$i ${(System.nanoTime()-t0)/1e9}%.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
