package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — extra names restrict the dump
    // (builder-side iteration; the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // MANIFEST: one JSONL line per query AS IT COMPLETES (so a dump
    // killed mid-run is visibly partial), then a final MANIFEST.json
    // with totals. r11's official correctness artifact came back `{}`
    // with no engine-side trace; the manifest makes a partial or empty
    // dump impossible to mistake for a green one (localverify.py
    // refuses to pass unless the manifest is complete and all-ok).
    val manifest = new java.io.PrintWriter(
      new java.io.FileWriter(s"$outDir/MANIFEST.jsonl", /*append=*/false))
    val results = scala.collection.mutable.LinkedHashMap[String, (Boolean, Long)]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // coalesce(1) is HARNESS-ONLY (one parquet file per query for
      // the DuckDB compare) — never copy this into an operator; a
      // single-partition write serializes the whole result
      val entry = try graft.util.Caches.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // metadata-only count (parquet footer), no recompute
        val rows = spark.read.parquet(s"$outDir/$name").count()
        (true, rows)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        (false, -1L)
      }
      results(name) = entry
      // RDDs still persisted once the query's scope has closed: any
      // above 0 is an intermediate that outlives its query
      val held = spark.sparkContext.getPersistentRDDs.size
      manifest.println(
        s"""{"query":"$name","ok":${entry._1},"rows":${entry._2},"held":$held}""")
      manifest.flush()
    }
    manifest.close()
    val nOk = results.count(_._2._1)
    Files.writeString(Paths.get(s"$outDir/MANIFEST.json"),
      results.map { case (n, (ok, rows)) =>
        s""""$n":{"ok":$ok,"rows":$rows}""" }
        .mkString(s"""{"_total":${results.size},"_ok":$nOk,""", ",", "}"))
    System.err.println(s"[verify] manifest: ${results.size} queries, $nOk ok")
    // ALSO on stdout: the official correctness artifact came back {}
    // in r11 and r13 with no engine-side trace — if the driver's JSON
    // handling fails again, its captured stdout tail still carries the
    // totals, keeping an empty artifact attributable at a glance
    println(s"""VERIFY_MANIFEST {"_total":${results.size},"_ok":$nOk}""")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
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
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
