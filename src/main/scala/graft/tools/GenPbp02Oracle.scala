package graft.tools
import graft.queries.QPbp
/** Regenerates resources/graft/pbp02_oracle.sql from the current
  * parser — run after INTENTIONAL parser-semantics changes. */
object GenPbp02Oracle {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("src/main/resources/graft/pbp02_oracle.sql")
    val spark = graft.GraftSession.local("gen-pbp02-oracle")
    val rows = QPbp.parseSummary(spark, dir).collect()
    val values = rows.map { r =>
      val et = r.getString(0).replace("'", "''")
      val bb = r.getString(1).replace("'", "''")
      s"('$et', '$bb', ${r.getLong(2)}, ${r.getLong(3)}, ${r.getLong(4)}, ${r.getLong(5)})"
    }.mkString(",\n  ")
    val sql =
      s"""-- PINNED parser-summary oracle (generated by graft.tools.GenPbp02Oracle
         |-- from the golden-tested parser at sf0.01; regenerate on INTENTIONAL
         |-- parser changes). Columns: event_type, bb_type, n, runs, outs, games.
         |SELECT event_type, bb_type,
         |  CAST(n AS BIGINT) AS n, CAST(runs AS BIGINT) AS runs,
         |  CAST(outs AS BIGINT) AS outs, CAST(games AS BIGINT) AS games
         |FROM (VALUES
         |  $values
         |) AS t(event_type, bb_type, n, runs, outs, games)
         |ORDER BY event_type, bb_type""".stripMargin
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sql.getBytes("UTF-8"))
    println(s"GEN wrote ${rows.length} rows to $out")
    spark.stop()
  }
}
