package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for registered queries to files —
  * `runMain graft.tools.PlanDump <outDir> <suffix> <query> [query...]`
  * writes `<outDir>/<query>_<suffix>.txt` for each name. The round's
  * optimization deliverable (plans/<round>/<q>_{before,after}.txt) is
  * produced with this so the before/after capture is one reproducible
  * command, not an ad-hoc REPL paste. Each query is collected first,
  * so the file holds AQE's final plan (isFinalPlan=true, query stages
  * and runtime rewrites included) followed by the initial plan — the
  * shape Exchange/join-strategy claims are judged against. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-plan-dump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      // queryExecution.explainString is what df.explain prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"PLANDUMP wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
