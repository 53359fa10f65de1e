package graft.tools

import graft.multimodal.{MediaRow, Multimodal, Subtitles}
import graft.queries.QMedia
import graft.util.Caches
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Media-family scale smoke — `runMain graft.tools.MediaScaleSmoke
 * [sfDir] [scales]` (default scales `1,3,10`; the media fixtures are
 * built in, so `sfDir` is accepted only to share the other scale
 * smokes' command line): replicates the y4m / AIFF / SRT
 * fixture families into disjoint media_id spaces and asserts the
 * properties that make the multimodal path scale:
 *
 *  - decoded frame, audio-stat, and cue counts (and the audio
 *    sum_abs checksum) are EXACTLY c× copy 0 — per-row parsing can
 *    neither drop nor duplicate rows under replication;
 *  - the decode paths stay MAP-ONLY: total shuffle-write bytes per
 *    scale stay under a fixed tiny bound (the only shuffle is the
 *    count/sum aggregates' partial rows — payload bytes must never
 *    enter an exchange);
 *  - [[Multimodal.balanceByBytes]] splits a skewed payload table so
 *    no partition carries more than target + the largest single
 *    payload (the partitioner bounds per-task bytes, which is what
 *    keeps a 100 TB media scan's tasks uniform).
 */
object MediaScaleSmoke {

  /** Copy `k` of a media table: media ids offset by k·1000. */
  def mediaCopy(ds: Dataset[MediaRow], k: Int): Dataset[MediaRow] = {
    import ds.sparkSession.implicits._
    ds.map(m => m.copy(media_id = m.media_id + k * 1000L))
  }

  /** Copy `k` of a dHash code table: media ids offset by k·1000 and the
    * top 16 bits replaced by a 4×-repeated-nibble copy tag — distinct
    * tags differ in ≥ 4 bits, so at maxHamming=3 no code of one copy
    * can pair with a code of another. Copy 0 is tagged too (tag 0), so
    * the copies come from `imageTag(df, 0)`. */
  def imageTag(df: DataFrame, k: Int): DataFrame = df
    .withColumn("media_id", col("media_id") + k * 1000L)
    .withColumn("dhash", col("dhash").bitwiseAND(lit(0xffffffffffffL))
      .bitwiseOR(lit(k.toLong * 0x1111L << 48)))

  /** The same tag over the 24-bit audio sub-fingerprints, in bits
    * 24..39: outside the chunked region, so identical base codes still
    * COLLIDE as candidates, yet never pair across copies. */
  def audioTag(df: DataFrame, k: Int): DataFrame = df
    .withColumn("media_id", col("media_id") + k * 1000L)
    .withColumn("ahash", col("ahash").bitwiseOR(lit(k.toLong * 0x1111L << 24)))

  def main(args: Array[String]): Unit = {
    val run = new SmokeRun("MEDIA", args)
    import run.{check, scales, spark}
    import spark.implicits._
    import SmokeRun.copies

    def equiJoin(df: Dataset[_], what: String, c: Int): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      check(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"scale=$c $what")
    }

    final case class Run(scale: Int, frames: Long, audioRows: Long,
        audioSum: Long, cueRows: Long, writeBytes: Long)

    val runs = run.ladder() { rung =>
      val c = rung.scale
      val frames = Multimodal.sampleFrames(copies(QMedia.y4mMedia(spark), c)(mediaCopy), everyN = 1).count()
      val audio = Multimodal.pcmAudioStats(copies(QMedia.aiffMedia(spark), c)(mediaCopy))
        .agg(count(lit(1)).cast("long"), sum("sum_abs").cast("long")).first()
      val cues = Subtitles.cues(copies(QMedia.srtMedia(spark), c)(mediaCopy)).count()
      val bytes = rung.envelope().writeBytes
      (Run(c, frames, audio.getLong(0), audio.getLong(1), cues, bytes),
        f"frames=$frames audio=${audio.getLong(0)} " +
          f"audio_sum=${audio.getLong(1)} cues=$cues shuffle_write=${bytes / 1024.0}%.1f KiB")
    }

    val r1 = runs.head
    runs.tail.foreach { r =>
      def exact(f: Run => Long) = SmokeGates.linear(r1.scale, f(r1), r.scale, f(r))
      check(exact(_.frames) && exact(_.audioRows) && exact(_.audioSum) && exact(_.cueRows),
        s"scale=${r.scale} frame/audio/cue outputs EXACTLY linear " +
          s"(frames ${r1.frames}->${r.frames}, audio ${r1.audioRows}->${r.audioRows}, " +
          s"sum ${r1.audioSum}->${r.audioSum}, cues ${r1.cueRows}->${r.cueRows})")
    }
    runs.foreach { r =>
      // map-only decode: only aggregate partials may shuffle
      check(r.writeBytes <= (1L << 20),
        f"scale=${r.scale} decode paths map-only: shuffle write " +
          f"${r.writeBytes / 1024.0}%.1f KiB <= 1024 KiB")
    }

    // m11 cue↔frame alignment: the interval join MUST plan as an
    // equi-join on media_id with the time range as a residual filter
    // (a range-only join would be a per-media cross product — the
    // classic interval-join scale killer), and its output rows must
    // be EXACTLY linear under disjoint media_id replication.
    run.exactLinear("m11 aligned rows", scales.map { c =>
      val frames = Multimodal.sampleFrames(copies(QMedia.y4mMedia(spark), c)(mediaCopy), everyN = 1)
        .map(f => (f.media_id, f.frame_idx, f.frame_idx * 100L))
        .toDF("media_id", "frame_idx", "frame_ms")
      val cues = Subtitles.cues(copies(QMedia.alignSrtMedia(spark), c)(mediaCopy)).toDF()
        .select(col("media_id").as("c_media_id"), col("cue_idx"),
          col("start_ms"), col("end_ms"))
      val joined = frames.join(cues,
        col("media_id") === col("c_media_id") &&
          col("frame_ms") >= col("start_ms") && col("frame_ms") < col("end_ms"))
      equiJoin(joined, "m11 interval join plans as equi-join on media_id " +
        "(no cartesian / nested-loop)", c)
      (c, joined.count())
    })

    /** Pair counts over c tagged copies: the candidate join stays a
      * banded equi-join and no pair crosses copies. */
    def tagged(what: String, pairsOf: Int => DataFrame): Seq[(Int, Long)] = scales.map { c =>
      val pairs = pairsOf(c)
      equiJoin(pairs, s"$what pair join stays a banded equi-join", c)
      val cross = pairs
        .filter(floor(col("id_a") / 1000) =!= floor(col("id_b") / 1000)).count()
      check(cross == 0L, s"scale=$c $what cross-copy pairs exactly zero (got $cross)")
      (c, pairs.count())
    }

    // m12 perceptual near-dup: the REAL decoded dHash codes replicated
    // into the tagged copy spaces — pair count must be exactly linear,
    // cross-copy pairs exactly zero, and the candidate join must stay a
    // banded equi-join (no cartesian).
    Caches.scoped {
      val baseCodes = Caches.persist(imageTag(graft.multimodal.ImageHash.frameHashes(
          Multimodal.sampleFrames(QMedia.imageDupMedia(spark), everyN = 1))
        .select(col("media_id"), col("dhash")), 0))
      run.exactLinear("m12 pair count", tagged("m12", c =>
        graft.multimodal.ImageHash.nearDupPairs(copies(baseCodes, c)(imageTag),
          "media_id", "dhash", maxHamming = 3)))
    }

    // m14 audio near-dup: the same scheme over the 24-bit
    // sub-fingerprint codes ([[audioTag]]): (pair, delta) row counts
    // exactly linear, zero cross, banded equi-join.
    Caches.scoped {
      val audioBase = Caches.persist(graft.multimodal.AudioHash
        .fingerprints(QMedia.wavDupMedia(spark)).select("media_id", "off", "ahash"))
      run.exactLinear("m14 audio (pair, delta) count", tagged("m14 audio", c =>
        graft.multimodal.AudioHash.nearDupPairs(copies(audioBase, c)(audioTag),
          maxHamming = 3, minRun = 5)))
    }

    // m15 ingest gate: history AND batch replicated into the same
    // tagged copy spaces — per-copy gating replicates exactly
    // (survivors exactly linear) and a cross-copy history code can
    // never gate a batch row (tags ≥ 4 bits apart)
    def codes(media: Dataset[MediaRow]) = Caches.persist(imageTag(graft.multimodal.ImageHash
      .frameHashes(Multimodal.sampleFrames(media, everyN = 1)).select("media_id", "dhash"), 0))
    Caches.scoped {
      val (histBase, batchBase) = (codes(QMedia.imageMedia(spark)), codes(QMedia.imageIngestMedia(spark)))
      run.exactLinear("m15 ingest survivors", scales.map { c =>
        (c, graft.multimodal.ImageHash.incrementalNearDup(
          copies(batchBase, c)(imageTag), copies(histBase, c)(imageTag), maxHamming = 3).count())
      })
    }

    // m13 clip near-dup: per-frame codes of the y4m re-encode fixture in
    // the same tagged copy spaces — within a copy the tag XORs away
    // (frame Hamming identical to copy 0 → identical clip pairs), across
    // copies every frame pair is ≥ 4 bits apart → matched-fraction 0:
    // clip pairs exactly linear, zero cross-copy, banded equi-join.
    Caches.scoped {
      val clipBase = Caches.persist(imageTag(graft.multimodal.ImageHash.frameHashes(
          Multimodal.sampleFrames(QMedia.y4mDupMedia(spark), everyN = 1))
        .select("media_id", "frame_idx", "dhash"), 0))
      clipBase.count()
      run.exactLinear("m13 clip pair count", tagged("m13 clip", c =>
        graft.multimodal.ImageHash.clipNearDupPairs(copies(clipBase, c)(imageTag),
          maxHamming = 3, minFrac = 0.5)))
    }

    // m16 persisted media index: the STORE gate must equal the in-memory
    // m15 gate at every scale — write the tagged history once per scale,
    // probe with the tagged batch.
    Caches.scoped {
      val (histBase, batchBase) = (codes(QMedia.imageMedia(spark)), codes(QMedia.imageIngestMedia(spark)))
      scales.foreach { c =>
        val hist = copies(histBase, c)(imageTag)
        val batch = copies(batchBase, c)(imageTag)
        val inMem = graft.multimodal.ImageHash
          .incrementalNearDup(batch, hist, maxHamming = 3).count()
        val idxPath = run.freshDir(s"/tmp/graft_media_smoke_idx_$c")
        graft.multimodal.MediaIndex.write(idxPath, hist)
        val surv = graft.multimodal.MediaIndex.gate(spark, idxPath, batch, maxHamming = 3)
        val viaStore = surv.count()
        check(viaStore == inMem,
          s"scale=$c m16 persisted-index gate == in-memory ($viaStore vs $inMem)")
        // day-2 idempotence THROUGH a compaction: upsert the accepted
        // codes, compact (atomic re-publish), re-gate the same batch —
        // every accepted code now self-matches at Hamming 0, so nothing
        // is accepted twice, and compaction must not change verdicts
        graft.multimodal.MediaIndex.upsert(idxPath, surv)
        val report = graft.multimodal.MediaIndex.compact(spark, idxPath)
        val regate = graft.multimodal.MediaIndex
          .gate(spark, idxPath, batch, maxHamming = 3).count()
        check(regate == 0L,
          s"scale=$c m16 re-gate after upsert+compact accepts nothing (got $regate)")
        check(report.filesAfter <= report.filesBefore,
          s"scale=$c m16 compact shrinks files (${report.filesBefore}->${report.filesAfter})")
      }
    }

    // m17 audio sub-fingerprint store: the persisted RUN-CONSISTENT
    // gate under the same tagged replication — accepted clips are
    // exactly linear; after upserting the survivors, re-gating the SAME
    // batch accepts nothing (every accepted clip self-matches at delta 0
    // with a full-length run).
    Caches.scoped {
      def prints(media: Dataset[MediaRow]) = Caches.persist(graft.multimodal.AudioHash
        .fingerprints(media).select("media_id", "off", "ahash"))
      val (audioHist, audioBatch) = (prints(QMedia.wavHistMedia(spark)), prints(QMedia.wavIngestMedia(spark)))
      run.exactLinear("m17 audio-gate survivors", scales.map { c =>
        val p = run.freshDir(s"/tmp/graft_media_smoke_audioidx_$c")
        graft.multimodal.AudioHash.writeIndex(p, copies(audioHist, c)(audioTag))
        val surv = graft.multimodal.AudioHash.gate(
          spark, p, copies(audioBatch, c)(audioTag), maxHamming = 3, minRun = 5)
        val accepted = surv.select("media_id").distinct().count()
        graft.multimodal.AudioHash.upsertIndex(p, surv)
        // day-2 idempotence THROUGH a compaction (the m16 discipline):
        // the atomic re-publish must not change verdicts, and the
        // rewrite must undo the upsert's small files
        val report = graft.multimodal.MediaIndex.compact(spark, p)
        check(report.filesAfter < report.filesBefore,
          s"scale=$c m17 compact shrinks files (${report.filesBefore}->${report.filesAfter})")
        val regate = graft.multimodal.AudioHash.gate(
            spark, p, copies(audioBatch, c)(audioTag), maxHamming = 3, minRun = 5)
          .select("media_id").distinct().count()
        check(regate == 0L,
          s"scale=$c m17 re-gate after upsert+compact accepts nothing (got $regate)")
        (c, accepted)
      })
    }

    // byte-balanced partitioning: skewed payloads (64 KiB .. 512 KiB)
    val skewed = spark.range(64).select(
        col("id").as("media_id"),
        // payload k is (k % 8 + 1) * 64 KiB of 'x' bytes — heavy skew
        expr("repeat(CAST('x' AS BINARY), CAST((id % 8 + 1) * 65536 AS INT))").as("content"))
      .withColumn("content_size", length(col("content")).cast("long"))
    val target = 256L << 10
    val parts = Multimodal.balanceByBytes(skewed, target)
      .select("content_size")
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).sum))
      .collect().filter(_ > 0)
    val maxRow = (8L * 65536)
    check(parts.nonEmpty && parts.max <= target + maxRow,
      f"balanceByBytes: max partition ${parts.max / 1024.0}%.0f KiB <= " +
        f"target ${target / 1024.0}%.0f KiB + largest payload ${maxRow / 1024.0}%.0f KiB " +
        f"over ${parts.length} non-empty partitions")

    run.finish()
  }
}
