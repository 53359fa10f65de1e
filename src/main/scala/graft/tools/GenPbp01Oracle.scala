package graft.tools
import graft.queries.QPbp
/** Regenerates resources/graft/pbp01_oracle.sql (the pinned parse →
  * woba/rea enrichment summary, micro-unit integers) from the current
  * chain — run after INTENTIONAL semantics changes. */
object GenPbp01Oracle {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("src/main/resources/graft/pbp01_oracle.sql")
    val spark = graft.GraftSession.local("gen-pbp01-oracle")
    val rows = QPbp.parseEnrichSummary(spark, dir).collect()
    val values = rows.map { r =>
      val et = r.getString(0).replace("'", "''")
      val bb = r.getString(1).replace("'", "''")
      s"('$et', '$bb', ${r.getLong(2)}, ${r.getLong(3)}, ${r.getLong(4)}, " +
        s"${r.getLong(5)}, ${r.getLong(6)}, ${r.getLong(7)}, ${r.getLong(8)})"
    }.mkString(",\n  ")
    val sql =
      s"""-- PINNED parse+enrichment oracle (generated by
         |-- graft.tools.GenPbp01Oracle from the golden-tested chain at
         |-- sf0.01; regenerate on INTENTIONAL semantics changes). Columns:
         |-- event_type, bb_type, outs_before, n, batters, runs,
         |-- woba_micro (sum of round(woba*1e6)), n_rea,
         |-- rea_micro (sum of round(rea*1e6) over non-null rea).
         |SELECT event_type, bb_type,
         |  CAST(outs_before AS BIGINT) AS outs_before,
         |  CAST(n AS BIGINT) AS n, CAST(batters AS BIGINT) AS batters,
         |  CAST(runs AS BIGINT) AS runs,
         |  CAST(woba_micro AS BIGINT) AS woba_micro,
         |  CAST(n_rea AS BIGINT) AS n_rea,
         |  CAST(rea_micro AS BIGINT) AS rea_micro
         |FROM (VALUES
         |  $values
         |) AS t(event_type, bb_type, outs_before, n, batters, runs, woba_micro, n_rea, rea_micro)
         |ORDER BY event_type, bb_type, outs_before""".stripMargin
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sql.getBytes("UTF-8"))
    println(s"GEN wrote ${rows.length} rows to $out")
    spark.stop()
  }
}
