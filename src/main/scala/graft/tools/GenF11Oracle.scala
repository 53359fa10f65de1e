package graft.tools
import graft.queries.QScalar
/** Regenerates resources/graft/f11_oracle.sql (the pinned fuzzy-scorer
  * summary over the deterministic name-pair corpus) — run after
  * INTENTIONAL scorer-semantics changes. Ground truth vs rapidfuzz
  * stays hand-executed in FuzzySpec. */
object GenF11Oracle {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("src/main/resources/graft/f11_oracle.sql")
    val spark = graft.GraftSession.local("gen-f11-oracle")
    val rows = QScalar.fuzzyScoreSummary(spark, dir).collect()
    val cols = Seq("kind", "n", "ts_sum", "ts_min", "ts_max", "pr_sum", "pr_min",
      "pr_max", "wr_sum", "wr_min", "wr_max", "n_ge70", "n_ge85", "n_ge90")
    val values = rows.map { r =>
      val kind = r.getString(0).replace("'", "''")
      (s"'$kind'" +: (1 until cols.length).map(i => r.getLong(i).toString)).mkString("(", ", ", ")")
    }.mkString(",\n  ")
    val castCols = cols.tail.map(c => s"CAST($c AS BIGINT) AS $c").mkString(",\n  ")
    val sql =
      s"""-- PINNED fuzzy-scorer oracle (generated by graft.tools.GenF11Oracle
         |-- from the FuzzySpec-pinned scorers at sf0.01; regenerate on
         |-- INTENTIONAL semantics changes). Columns: kind, n, then
         |-- centi-unit sum/min/max per scorer (token_sort, partial, wratio),
         |-- then wRatio gate counts at 70/85/90.
         |SELECT kind,
         |  $castCols
         |FROM (VALUES
         |  $values
         |) AS t(${cols.mkString(", ")})
         |ORDER BY kind""".stripMargin
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sql.getBytes("UTF-8"))
    println(s"GEN wrote ${rows.length} rows to $out")
    spark.stop()
  }
}
