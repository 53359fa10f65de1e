package graft.multimodal

import java.nio.file.Files

import graft.SparkTestSession
import graft.queries.QMedia
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted media-code index lifecycle ([[MediaIndex]], m16): gate
  * over the store ≡ the in-memory incremental operator,
  * snapshot-stable verdicts across upserts, day-2 idempotence,
  * compaction equivalence + grace-window cleanup. */
class MediaIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def codesOf(media: org.apache.spark.sql.Dataset[MediaRow]) =
    ImageHash.frameHashes(Multimodal.sampleFrames(media, everyN = 1))
      .select("media_id", "dhash")

  private lazy val hist = codesOf(QMedia.imageMedia(spark))
  private lazy val bA = codesOf(QMedia.imageIngestMedia(spark))
  private lazy val bB = codesOf(QMedia.imageIngestMediaB(spark))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] = {
    import spark.implicits._
    df.select("media_id").as[Long].collect().toSet
  }

  test("gate over the persisted index equals the in-memory incremental operator") {
    val path = Files.createTempDirectory("graft_mediaidx").toString
    MediaIndex.write(path, hist)
    val viaStore = ids(MediaIndex.gate(spark, path, bA, maxHamming = 3))
    val inMem = ids(ImageHash.incrementalNearDup(bA, hist, maxHamming = 3))
    assert(viaStore === inMem)
    // the m15 fixture structure: only the 12 novels survive
    assert(viaStore === (200L until 212L).toSet)
  }

  test("verdicts are snapshot-stable; day-2 copies of day-1 survivors are dropped") {
    val path = Files.createTempDirectory("graft_mediaidx_snap").toString
    MediaIndex.write(path, hist)
    val survA = MediaIndex.gate(spark, path, bA, maxHamming = 3)
    val before = ids(survA)
    MediaIndex.upsert(path, survA)
    spark.catalog.clearCache() // dropping catalog caches must not re-probe
    assert(ids(survA) === before,
      "a gate verdict must mean 'as of the call', even after the upsert")
    // day-2 idempotence: re-gating the SAME batch self-matches every
    // accepted code (Hamming 0) — nothing accepted twice
    val regate = MediaIndex.gate(spark, path, bA, maxHamming = 3)
    assert(ids(regate).intersect(before) === Set.empty[Long])
    // day-2 batch: perturbed copies of day-1 survivors drop, novels pass
    val survB = ids(MediaIndex.gate(spark, path, bB, maxHamming = 3))
    val inMemB = ids(ImageHash.incrementalNearDup(
      bB, hist.unionByName(bA.filter(col("media_id").isin(before.toSeq: _*))),
      maxHamming = 3))
    assert(survB === inMemB)
    assert(survB.forall(_ >= 400L),
      s"every day-2 copy of a day-1 survivor must drop, got $survB")
  }

  test("compact: one atomic publish, fewer files, identical gate results, grace window") {
    val path = Files.createTempDirectory("graft_mediaidx_cmp").toString
    MediaIndex.write(path, hist.filter(col("media_id") % 2 === 0))
    (0 until 4).foreach(r =>
      MediaIndex.upsert(path,
        hist.filter(col("media_id") % 2 === 1 && pmod(col("media_id"), lit(8)) === (r * 2 + 1))))
    val before = ids(MediaIndex.gate(spark, path, bA, maxHamming = 3))
    val report = MediaIndex.compact(spark, path)
    val after = ids(MediaIndex.gate(spark, path, bA, maxHamming = 3))
    assert(after === before, "compaction must not change gate semantics")
    assert(report.filesAfter < report.filesBefore, s"$report")
    // grace window: the previous snapshot survives one cycle, then the
    // next maintenance run reclaims it
    assert(new java.io.File(s"$path/bands/v1").exists())
    MediaIndex.compact(spark, path)
    assert(!new java.io.File(s"$path/bands/v1").exists())
  }

  test("foreachBatch ingestion: streamed gate+upsert equals sequential batch applies") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the daily-crawl cadence as a live feed over the PERSISTED store
    // (ImageHashSpec pins the caller-managed-history variant; this is
    // the store-backed one, incl. the cross-session-clone read path)
    val path = Files.createTempDirectory("graft_mediaidx_stream").toString
    MediaIndex.write(path, hist)
    val batches = Seq(
      bA.as[(Long, Long)].collect().sortBy(_._1),
      bB.as[(Long, Long)].collect().sortBy(_._1))
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, Long)]
    val query = input.toDF().toDF("media_id", "dhash").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val surv = MediaIndex.gate(spark, path, batch.toDF(), maxHamming = 3)
        MediaIndex.upsert(path, surv)
        accepted ++= surv.select("media_id").as[Long].collect()
        ()
      }
      .start()
    try {
      batches.foreach { b => input.addData(b.toSeq); query.processAllAvailable() }
    } finally query.stop()

    val seqPath = Files.createTempDirectory("graft_mediaidx_seq").toString
    MediaIndex.write(seqPath, hist)
    val expected = batches.flatMap { b =>
      val df = b.toSeq.toDF("media_id", "dhash")
      val surv = MediaIndex.gate(spark, seqPath, df, maxHamming = 3)
      MediaIndex.upsert(seqPath, surv)
      surv.select("media_id").as[Long].collect()
    }
    assert(accepted.toSet === expected.toSet)
    assert(accepted.size === expected.size, "no id accepted twice")
  }

  test("foreachBatch AUDIO ingestion: streamed two-stage gate+upsert equals sequential") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the m17 lifecycle as a live feed: sub-fingerprint rows stream in
    // per daily batch, each batch gated (run + BER stages) against the
    // persisted store and its survivors upserted
    val path = Files.createTempDirectory("graft_audioidx_stream").toString
    AudioHash.writeIndex(path,
      AudioHash.fingerprints(QMedia.wavHistMedia(spark)))
    val batches = Seq(
      AudioHash.fingerprints(QMedia.wavIngestMedia(spark))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)),
      AudioHash.fingerprints(QMedia.wavIngestMediaB(spark))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)))
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, Long, Long)]
    val query = input.toDF().toDF("media_id", "off", "ahash").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val surv = AudioHash.gate(spark, path, batch.toDF(), maxHamming = 3, minRun = 5)
        AudioHash.upsertIndex(path, surv)
        accepted ++= surv.select("media_id").distinct().as[Long].collect()
        ()
      }
      .start()
    try {
      batches.foreach { b => input.addData(b.toSeq); query.processAllAvailable() }
    } finally query.stop()

    val seqPath = Files.createTempDirectory("graft_audioidx_seq").toString
    AudioHash.writeIndex(seqPath,
      AudioHash.fingerprints(QMedia.wavHistMedia(spark)))
    val expected = batches.flatMap { b =>
      val df = b.toSeq.toDF("media_id", "off", "ahash")
      val surv = AudioHash.gate(spark, seqPath, df, maxHamming = 3, minRun = 5)
      AudioHash.upsertIndex(seqPath, surv)
      surv.select("media_id").distinct().as[Long].collect()
    }
    assert(accepted.toSet === expected.toSet)
    assert(accepted.size === expected.size, "no clip accepted twice")
    // the m17 ground truth: exactly the novels survive
    assert(accepted.toSet === ((200L until 206L) ++ (400L until 404L)).toSet)
  }

  test("pre-r15 store: gate→upsert lifecycle works on the legacy layout; compact migrates") {
    // simulate a store written BEFORE the bucketed-bkey layout: banded
    // codes without the bkey column, chunk-partitioned parquet, a
    // manifest carrying only {bands} (no buckets/chunk_bits keys)
    val path = Files.createTempDirectory("graft_mediaidx_legacy").toString
    MediaIndex.bandedOf(hist, MediaIndex.Wide).drop("bkey")
      .write.mode("overwrite").partitionBy("chunk").parquet(s"$path/bands/v1")
    graft.io.StoreManifest.commit(spark, path, Map("bands" -> 1))

    val survA = MediaIndex.gate(spark, path, bA, maxHamming = 3)
    assert(ids(survA) === (200L until 212L).toSet)
    MediaIndex.upsert(path, survA) // the r15 regression: threw on m("buckets")
    // day-2 against the legacy store: copies of day-1 survivors drop
    val survB = ids(MediaIndex.gate(spark, path, bB, maxHamming = 3))
    val inMemB = ids(ImageHash.incrementalNearDup(
      bB, hist.unionByName(bA.filter(col("media_id") >= 200)), maxHamming = 3))
    assert(survB === inMemB)
    assert(survB.forall(_ >= 400L))
    // compact migrates the legacy layout to the bucketed one without
    // changing verdicts, and the migrated store upserts bucketed
    MediaIndex.compact(spark, path)
    assert(graft.io.StoreManifest.current(spark, path).contains("buckets"))
    assert(ids(MediaIndex.gate(spark, path, bB, maxHamming = 3)) === survB)
  }

  test("a manifest-less path fails loudly") {
    val empty = Files.createTempDirectory("graft_mediaidx_none").toString
    val ex = intercept[IllegalStateException] {
      MediaIndex.gate(spark, empty, bA, maxHamming = 3)
    }
    assert(ex.getMessage.contains("no committed manifest"))
  }

  test("audio store_stride rides the manifest: upserts follow it, mismatches fail, compact keeps it") {
    import spark.implicits._
    val codes = AudioHash.fingerprints(QMedia.wavHistMedia(spark))
    // a DENSE store (stride 1): the manifest records it, and a later
    // upsert with no explicit stride must NOT thin to the r16 default
    // (that was the mixed-grid hole — sparse-appended clips would need
    // ~4x the overlap to be caught)
    val path = Files.createTempDirectory("graft_audioidx_stride").toString
    AudioHash.writeIndex(path, codes.filter(col("media_id") === 1L), storeStride = 1)
    assert(AudioHash.recordedStoreStride(spark, path) === Some(1))
    val day2 = codes.filter(col("media_id") === 2L)
    AudioHash.upsertIndex(path, day2)
    val (bands, _) = MediaIndex.bands(spark, path)
    val storedOffsets = bands.filter(col("media_id") === 2L && col("chunk") === 0)
      .select("off").as[Long].collect().toSet
    val denseOffsets = day2.select("off").as[Long].collect().toSet
    assert(storedOffsets === denseOffsets,
      "upsert must keep the store's own dense grid, not thin to the default")
    // an explicit stride asserting a DIFFERENT grid fails loudly
    val ex = intercept[IllegalArgumentException] {
      AudioHash.upsertIndex(path, day2, storeStride = Some(AudioHash.BlockSamples))
    }
    assert(ex.getMessage.contains("store_stride"))
    intercept[IllegalArgumentException] {
      AudioHash.gate(spark, path, day2, maxHamming = 3,
        expectStoreStride = Some(AudioHash.BlockSamples))
    }
    // compact carries the stride through (it is part of the store's
    // identity, like the banding)
    MediaIndex.compact(spark, path)
    assert(AudioHash.recordedStoreStride(spark, path) === Some(1))
  }
}
