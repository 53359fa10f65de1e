package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Core-scaling evidence at a REAL data scale —
  * `runMain graft.tools.ScalingProbe [sfDir] [copies] [query...]`.
  *
  * The driver's own 8-vs-32-core pair runs at sf0.1, where every query
  * finishes in 0.1-10 s and is bounded by per-stage overhead and
  * single-row-group scans, so every ratio lands ≈1 and proves nothing
  * about the 100 TB claim (VERDICT r18 scaling block). This probe
  * materializes a `copies`× corpus (the [[LlmScaleSmoke.scaledCorpus]]
  * disjoint-copy construction for documents; id-offset copies for
  * embeddings) as MULTI-FILE parquet — so scans split like real data —
  * into a temp dir shaped like an sf dir (other tables hard-linked),
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

    // deterministic staging dir per (sf, copies): rebuilt only when
    // absent so the 8- and 32-core invocations probe IDENTICAL bytes
    val stage = s"/tmp/graft_scaling_${copies}x_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val marker = Paths.get(stage, "_READY")
    if (!Files.exists(marker)) {
      Files.createDirectories(Paths.get(stage))
      LlmScaleSmoke.scaledCorpus(Tables.documents(spark, sfDir), copies)
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$stage/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      (0 until copies).map { k =>
        if (k == 0) emb
        else emb.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$stage/embeddings.parquet")
      for (t <- Seq("customer", "events", "lineitem", "nation", "orders",
          "part", "region", "supplier")) {
        val dst = Paths.get(stage, s"$t.parquet")
        if (!Files.exists(dst))
          Files.createLink(dst, Paths.get(sfDir, s"$t.parquet"))
      }
      Files.writeString(marker, "ok")
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
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
    spark.stop()
  }
}
