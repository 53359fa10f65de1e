package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `explain("formatted")` for registered queries to files —
  * `runMain graft.tools.PlanDump <outDir> <suffix> <query> [query...]`
  * writes `<outDir>/<query>_<suffix>.txt` for each name. The round's
  * optimization deliverable (plans/<round>/<q>_{before,after}.txt) is
  * produced with this so the before/after capture is one reproducible
  * command, not an ad-hoc REPL paste. Each query is collected first,
  * so the file holds AQE's final plan (isFinalPlan=true, query stages
  * and runtime rewrites included) followed by the initial plan — the
  * shape Exchange/join-strategy claims are judged against. A query
  * that materializes an intermediate (`Caches.cut`'s checkpoint, a
  * driver-side collect) runs that plan as its own execution, and its
  * own plan is then only the scan of the result; every such execution
  * the session reports while the query builds and runs is appended,
  * in order, under `== Execution <i>: <action> ==`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-plan-dump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val others = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          others.add((funcName, qe))
        override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.register(listener)
      val df = try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        df
      } finally spark.listenerManager.unregister(listener)
      // queryExecution.explainString is what df.explain prints
      val own = df.queryExecution.explainString(FormattedMode)
      val extra = others.toArray(Array.empty[(String, QueryExecution)]).toSeq
        .filterNot(_._2 eq df.queryExecution).zipWithIndex.map { case ((fn, qe), i) =>
          s"\n== Execution ${i + 1}: $fn ==\n" + qe.explainString(FormattedMode)
        }
      val txt = own + extra.mkString
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"PLANDUMP wrote $outDir/${name}_$suffix.txt (${txt.length} chars, " +
        s"${extra.size} other executions)")
    }
    spark.stop()
  }
}
