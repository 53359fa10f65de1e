package graft.tools
import graft.queries.QPbp
/** Regenerates resources/graft/pbp03_oracle.sql (the pinned X2
  * pitcher-queue + standardize_names summary) from the current
  * machines — run after INTENTIONAL semantics changes. */
object GenPbp03Oracle {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("src/main/resources/graft/pbp03_oracle.sql")
    val spark = graft.GraftSession.local("gen-pbp03-oracle")
    val rows = QPbp.pitcherStandardizeSummary(spark, dir).collect()
    val values = rows.map { r =>
      val pn = r.getString(0).replace("'", "''")
      s"('$pn', ${r.getLong(1)}, ${r.getLong(2)}, ${r.getLong(3)}, ${r.getLong(4)}, ${r.getLong(5)}, ${r.getLong(6)})"
    }.mkString(",\n  ")
    val sql =
      s"""-- PINNED pitcher-queue/standardize_names oracle (generated by
         |-- graft.tools.GenPbp03Oracle from the golden-tested machines at
         |-- sf0.01; regenerate on INTENTIONAL semantics changes). Columns:
         |-- pitcher_name, n, games, with_pid, batters_matched,
         |-- runners_matched, batter_names.
         |SELECT pitcher_name,
         |  CAST(n AS BIGINT) AS n, CAST(games AS BIGINT) AS games,
         |  CAST(with_pid AS BIGINT) AS with_pid,
         |  CAST(batters_matched AS BIGINT) AS batters_matched,
         |  CAST(runners_matched AS BIGINT) AS runners_matched,
         |  CAST(batter_names AS BIGINT) AS batter_names
         |FROM (VALUES
         |  $values
         |) AS t(pitcher_name, n, games, with_pid, batters_matched, runners_matched, batter_names)
         |ORDER BY pitcher_name""".stripMargin
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sql.getBytes("UTF-8"))
    println(s"GEN wrote ${rows.length} rows to $out")
    spark.stop()
  }
}
