package graft.tools
import graft.SparkEntry
/** Single-query Verify: writes outDir/<name> parquet so
  * `tools/localverify.py <sf> <out> <name>` can compare one query
  * without the ~2 min full dump. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(2).getOrElse("/tmp/graft_verify")
    val spark = graft.GraftSession.local("graft-verify-one")
    SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$name")
    // drop operator-persisted intermediates (pbp parsed caches etc.) so
    // a VerifyOne run leaves zero lingering RDDs — same hygiene as the
    // per-query clearCache in Verify/Bench; asserted by CacheHygieneSpec
    spark.catalog.clearCache()
    // keep oracle_sql.json in sync so localverify sees new oracles
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"VERIFYONE wrote $outDir/$name")
    spark.stop()
  }
}
