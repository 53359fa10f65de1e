package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.sources.Tables

/** Core-scaling evidence at a REAL data scale —
  * `runMain graft.tools.ScalingProbe [sfDir] [copies] [query...]`.
  *
  * The driver's own 8-vs-32-core pair runs at sf0.1, where every query
  * finishes in 0.1-10 s and is bounded by per-stage overhead and
  * single-row-group scans, so every ratio lands ≈1 and proves nothing
  * about the 100 TB claim (VERDICT r18 scaling block). This probe
  * materializes a `copies`× corpus (the scale smokes' disjoint copies:
  * [[LlmScaleSmoke.corpusCopy]] for documents, the
  * [[AnnScaleSmoke.signCopy]] sign isometry for embeddings, so no
  * vector sits at cosine 1 with its own copies) as MULTI-FILE parquet —
  * so scans split like real data — into a temp dir shaped like an sf dir
  * (other tables hard-linked, or copied across filesystems),
  * then times each registered query on it at the session's core count
  * (`SPARK_GRAFT_CPUS`, the Bench contract). Run it twice, at 32 and 8
  * cores, and the per-query ratio IS the core-scaling evidence at 10×
  * the bench volume.
  *
  * Two passes per query; pass 1 doubles as codegen/JIT warmup, pass 2
  * is the reported number (same shape as StageAudit). Prints one
  * SCALING line per query — grep-stable.
  */
object ScalingProbe {

  private val DefaultQueries = Seq(
    "llm01_corpus_pipeline", "llm02_corpus_multilang",
    "llm04_corpus_multilang_bloom", "t68_modified_kn5",
    "t39_dsir_resample", "t26_dedup_keep_longest",
    "t59_dedup_recall", "v03_embed_neardup_brute")

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val names = if (args.length > 2) args.drop(2).toSeq else DefaultQueries
    val spark = graft.GraftSession.local("graft-scaling-probe")
    val cpus = spark.sparkContext.defaultParallelism

    // deterministic staging dir per (sf, copies), rebuilt only when its
    // marker does not name the current source files' sizes and mtimes:
    // the 8- and 32-core invocations probe IDENTICAL bytes, and
    // regenerated testdata forces a rebuild
    val stage = s"/tmp/graft_scaling_${copies}x_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val marker = Paths.get(stage, "_READY")
    val stamp = new java.io.File(sfDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).map(f => s"${f.getName} ${f.length} ${f.lastModified}").mkString("\n")
    if (!Files.exists(marker) || Files.readString(marker) != stamp) {
      Files.createDirectories(Paths.get(stage))
      SmokeRun.copies(Tables.documents(spark, sfDir), copies)(LlmScaleSmoke.corpusCopy)
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$stage/documents.parquet")
      SmokeRun.copies(spark.read.parquet(s"$sfDir/embeddings.parquet"), copies)(
          AnnScaleSmoke.signCopy)
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$stage/embeddings.parquet")
      for (t <- Seq("customer", "events", "lineitem", "nation", "orders",
          "part", "region", "supplier")) {
        val (src, dst) = (Paths.get(sfDir, s"$t.parquet"), Paths.get(stage, s"$t.parquet"))
        Files.deleteIfExists(dst)
        try Files.createLink(dst, src)
        catch { case _: java.io.IOException => Files.copy(src, dst) }
      }
      Files.writeString(marker, stamp)
    }

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[scaling] $name: no such query, skipped")
        case Some(fn) =>
          val times = (1 to 2).map { _ => graft.util.Caches.scoped {
            val t0 = System.nanoTime()
            val ok = try { fn(spark, stage).count(); true } catch {
              case e: Throwable =>
                System.err.println(s"[scaling] $name failed: ${e.getMessage}"); false
            }
            if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          } }
          println(f"SCALING query=$name copies=$copies cpus=$cpus " +
            f"warm=${times(1)}%.2f cold=${times(0)}%.2f")
      }
    }
    spark.stop()
  }
}
