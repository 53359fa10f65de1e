package graft.tools

import graft.multimodal.{MediaRow, Multimodal, Subtitles}
import graft.queries.QMedia
import graft.util.Caches
import org.apache.spark.sql.Dataset
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

  def main(args: Array[String]): Unit = {
    val scales = args.lift(1).getOrElse("1,3,10").split(',').map(_.trim.toInt).toSeq
    val spark = graft.GraftSession.local("graft-media-scale-smoke")
    import spark.implicits._
    val tally = new LlmScaleSmoke.ShuffleTally
    spark.sparkContext.addSparkListener(tally)

    def scaled(ds: Dataset[MediaRow], c: Int): Dataset[MediaRow] =
      (0 until c).map { k =>
        if (k == 0) ds
        else ds.map(m => m.copy(media_id = m.media_id + k * 1000L))
      }.reduce(_.unionByName(_))

    var failed = false
    def check(cond: Boolean, msg: String): Unit = {
      println(s"MEDIA_SMOKE_CHECK ${if (cond) "ok  " else "FAIL"} $msg")
      if (!cond) failed = true
    }

    final case class Run(scale: Int, frames: Long, audioRows: Long,
        audioSum: Long, cueRows: Long, writeBytes: Long)

    val runs = scales.map { c =>
      tally.snapshotAndReset()
      val frames = Multimodal.sampleFrames(scaled(QMedia.y4mMedia(spark), c), everyN = 1).count()
      val audio = Multimodal.pcmAudioStats(scaled(QMedia.aiffMedia(spark), c))
        .agg(count(lit(1)).cast("long"), sum("sum_abs").cast("long")).first()
      val cues = Subtitles.cues(scaled(QMedia.srtMedia(spark), c)).count()
      Thread.sleep(1000) // listener-bus lag
      val bytes = tally.snapshotAndReset().values.map(_._2).sum
      println(f"MEDIA_SMOKE scale=$c%-3d frames=$frames audio=${audio.getLong(0)} " +
        f"audio_sum=${audio.getLong(1)} cues=$cues shuffle_write=${bytes / 1024.0}%.1f KiB")
      Run(c, frames, audio.getLong(0), audio.getLong(1), cues, bytes)
    }

    val r1 = runs.head
    runs.tail.foreach { r =>
      check(r.frames * r1.scale == r1.frames * r.scale &&
          r.audioRows * r1.scale == r1.audioRows * r.scale &&
          r.audioSum * r1.scale == r1.audioSum * r.scale &&
          r.cueRows * r1.scale == r1.cueRows * r.scale,
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
    val alignRuns = scales.map { c =>
      val frames = Multimodal.sampleFrames(scaled(QMedia.y4mMedia(spark), c), everyN = 1)
        .map(f => (f.media_id, f.frame_idx, f.frame_idx * 100L))
        .toDF("media_id", "frame_idx", "frame_ms")
      val cues = Subtitles.cues(scaled(QMedia.alignSrtMedia(spark), c)).toDF()
        .select(col("media_id").as("c_media_id"), col("cue_idx"),
          col("start_ms"), col("end_ms"))
      val joined = frames.join(cues,
        col("media_id") === col("c_media_id") &&
          col("frame_ms") >= col("start_ms") && col("frame_ms") < col("end_ms"))
      val plan = joined.queryExecution.executedPlan.toString
      check(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
        s"scale=$c m11 interval join plans as equi-join on media_id " +
          "(no cartesian / nested-loop)")
      (c, joined.count())
    }
    val a1 = alignRuns.head
    alignRuns.tail.foreach { case (c, rows) =>
      check(rows * a1._1 == a1._2 * c,
        s"scale=$c m11 aligned rows EXACTLY linear (${a1._2}->$rows)")
    }

    // m12 perceptual near-dup: the REAL decoded dHash codes replicated
    // into copy spaces whose top 16 bits carry a 4×-repeated-nibble
    // tag — distinct tags differ in ≥ 4 bits, so at maxHamming=3 a
    // cross-copy pair is IMPOSSIBLE by construction: pair count must
    // be exactly linear, cross-copy pairs exactly zero, and the
    // candidate join must stay a banded equi-join (no cartesian).
    Caches.scoped {
      val baseCodes = Caches.persist(graft.multimodal.ImageHash.frameHashes(
          Multimodal.sampleFrames(QMedia.imageDupMedia(spark), everyN = 1))
        .select(col("media_id"), col("dhash")))
      val m12Runs = scales.map { c =>
        val codes = (0 until c).map { k =>
          baseCodes.select(
            (col("media_id") + k * 1000L).as("media_id"),
            col("dhash").bitwiseAND(lit(0xffffffffffffL))
              .bitwiseOR(lit(k.toLong * 0x1111L << 48)).as("dhash"))
        }.reduce(_.unionByName(_))
        val pairs = graft.multimodal.ImageHash
          .nearDupPairs(codes, "media_id", "dhash", maxHamming = 3)
        val plan = pairs.queryExecution.executedPlan.toString
        check(!plan.contains("CartesianProduct") &&
            !plan.contains("BroadcastNestedLoopJoin"),
          s"scale=$c m12 pair join stays a banded equi-join")
        val cross = pairs
          .filter(floor(col("id_a") / 1000) =!= floor(col("id_b") / 1000)).count()
        check(cross == 0L, s"scale=$c m12 cross-copy pairs exactly zero (got $cross)")
        (c, pairs.count())
      }
      val p1 = m12Runs.head
      m12Runs.tail.foreach { case (c, rows) =>
        check(rows * p1._1 == p1._2 * c,
          s"scale=$c m12 pair count EXACTLY linear (${p1._2}->$rows)")
      }
    }

    // m14 audio near-dup: the same copy-tag scheme over the 24-bit
    // sub-fingerprint codes — tags ride bits 24..39 (outside the
    // chunked region, so identical base codes still COLLIDE as
    // candidates) with pairwise Hamming ≥ 4, making cross-copy
    // SEGMENT matches impossible at maxHamming=3: (pair, delta) row
    // counts exactly linear, zero cross, and the candidate join must
    // stay a banded equi-join.
    Caches.scoped {
      val audioBase = Caches.persist(graft.multimodal.AudioHash
        .fingerprints(QMedia.wavDupMedia(spark)))
      val m14Runs = scales.map { c =>
        val codes = (0 until c).map { k =>
          audioBase.select(
            (col("media_id") + k * 1000L).as("media_id"), col("off"),
            col("ahash").bitwiseOR(lit(k.toLong * 0x1111L << 24)).as("ahash"))
        }.reduce(_.unionByName(_))
        val pairs = graft.multimodal.AudioHash
          .nearDupPairs(codes, maxHamming = 3, minRun = 5)
        val plan = pairs.queryExecution.executedPlan.toString
        check(!plan.contains("CartesianProduct") &&
            !plan.contains("BroadcastNestedLoopJoin"),
          s"scale=$c m14 segment pair join stays a banded equi-join")
        val cross = pairs
          .filter(floor(col("id_a") / 1000) =!= floor(col("id_b") / 1000)).count()
        check(cross == 0L, s"scale=$c m14 cross-copy audio pairs exactly zero (got $cross)")
        (c, pairs.count())
      }
      val a14 = m14Runs.head
      m14Runs.tail.foreach { case (c, rows) =>
        check(rows * a14._1 == a14._2 * c,
          s"scale=$c m14 audio (pair, delta) count EXACTLY linear (${a14._2}->$rows)")
      }
    }

    // m15 ingest gate: history AND batch replicated into the same
    // tagged copy spaces — per-copy gating replicates exactly
    // (survivors exactly linear) and a cross-copy history code can
    // never gate a batch row (tags ≥ 4 bits apart)
    def tagged(df: org.apache.spark.sql.DataFrame, c: Int) =
      (0 until c).map { k =>
        df.select((col("media_id") + k * 1000L).as("media_id"),
          col("dhash").bitwiseAND(lit(0xffffffffffffL))
            .bitwiseOR(lit(k.toLong * 0x1111L << 48)).as("dhash"))
      }.reduce(_.unionByName(_))
    Caches.scoped {
      val histBase = Caches.persist(graft.multimodal.ImageHash.frameHashes(
          Multimodal.sampleFrames(QMedia.imageMedia(spark), everyN = 1))
        .select("media_id", "dhash"))
      val batchBase = Caches.persist(graft.multimodal.ImageHash.frameHashes(
          Multimodal.sampleFrames(QMedia.imageIngestMedia(spark), everyN = 1))
        .select("media_id", "dhash"))
      val m15Runs = scales.map { c =>
        val surv = graft.multimodal.ImageHash.incrementalNearDup(
          tagged(batchBase, c), tagged(histBase, c), maxHamming = 3)
        (c, surv.count())
      }
      val g15 = m15Runs.head
      m15Runs.tail.foreach { case (c, rows) =>
        check(rows * g15._1 == g15._2 * c,
          s"scale=$c m15 ingest survivors EXACTLY linear (${g15._2}->$rows)")
      }
    }

    // m13 clip near-dup (the r13 newcomer, gated r14): per-frame codes
    // of the y4m re-encode fixture in the same tagged copy spaces —
    // within a copy the tag XORs away (frame Hamming identical to copy
    // 0 → identical clip pairs), across copies every frame pair is ≥ 4
    // bits apart → matched-fraction 0: clip pairs exactly linear, zero
    // cross-copy, candidate generation stays a banded equi-join.
    Caches.scoped {
      val clipBase = Caches.persist(graft.multimodal.ImageHash.frameHashes(
          Multimodal.sampleFrames(QMedia.y4mDupMedia(spark), everyN = 1)))
      clipBase.count()
      val m13Runs = scales.map { c =>
        val codes = (0 until c).map { k =>
          clipBase.select((col("media_id") + k * 1000L).as("media_id"),
            col("frame_idx"),
            col("dhash").bitwiseAND(lit(0xffffffffffffL))
              .bitwiseOR(lit(k.toLong * 0x1111L << 48)).as("dhash"))
        }.reduce(_.unionByName(_))
        val pairs = graft.multimodal.ImageHash
          .clipNearDupPairs(codes, maxHamming = 3, minFrac = 0.5)
        val plan = pairs.queryExecution.executedPlan.toString
        check(!plan.contains("CartesianProduct") &&
            !plan.contains("BroadcastNestedLoopJoin"),
          s"scale=$c m13 clip pair join stays a banded equi-join")
        val cross = pairs
          .filter(floor(col("id_a") / 1000) =!= floor(col("id_b") / 1000)).count()
        check(cross == 0L, s"scale=$c m13 cross-copy clip pairs exactly zero (got $cross)")
        (c, pairs.count())
      }
      val g13 = m13Runs.head
      m13Runs.tail.foreach { case (c, rows) =>
        check(rows * g13._1 == g13._2 * c,
          s"scale=$c m13 clip pair count EXACTLY linear (${g13._2}->$rows)")
      }
    }

    // m16 persisted media index (the r14 newcomer): the STORE gate must
    // equal the in-memory m15 gate at every scale — write the tagged
    // history once per scale, probe with the tagged batch.
    Caches.scoped {
      val histBase16 = Caches.persist(graft.multimodal.ImageHash.frameHashes(
          Multimodal.sampleFrames(QMedia.imageMedia(spark), everyN = 1))
        .select("media_id", "dhash"))
      val batchBase16 = Caches.persist(graft.multimodal.ImageHash.frameHashes(
          Multimodal.sampleFrames(QMedia.imageIngestMedia(spark), everyN = 1))
        .select("media_id", "dhash"))
      scales.foreach { c =>
        val hist = tagged(histBase16, c)
        val batch = tagged(batchBase16, c)
        val inMem = graft.multimodal.ImageHash
          .incrementalNearDup(batch, hist, maxHamming = 3).count()
        val idxPath = s"/tmp/graft_media_smoke_idx_$c"
        org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(idxPath), true)
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
    // gate under the same tagged replication — tags ride bits 24..39
    // (candidates still collide, verification separates copies), so
    // accepted clips are exactly linear; after upserting the
    // survivors, re-gating the SAME batch accepts nothing (every
    // accepted clip self-matches at delta 0 with a full-length run).
    Caches.scoped {
      val audioHist17 = Caches.persist(graft.multimodal.AudioHash
        .fingerprints(QMedia.wavHistMedia(spark)))
      val audioBatch17 = Caches.persist(graft.multimodal.AudioHash
        .fingerprints(QMedia.wavIngestMedia(spark)))
      def taggedAudio(df: org.apache.spark.sql.DataFrame, c: Int) =
        (0 until c).map { k =>
          df.select((col("media_id") + k * 1000L).as("media_id"), col("off"),
            col("ahash").bitwiseOR(lit(k.toLong * 0x1111L << 24)).as("ahash"))
        }.reduce(_.unionByName(_))
      val m17Runs = scales.map { c =>
        val p = s"/tmp/graft_media_smoke_audioidx_$c"
        org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(p), true)
        graft.multimodal.AudioHash.writeIndex(p, taggedAudio(audioHist17, c))
        val surv = graft.multimodal.AudioHash.gate(
          spark, p, taggedAudio(audioBatch17, c), maxHamming = 3, minRun = 5)
        val accepted = surv.select("media_id").distinct().count()
        graft.multimodal.AudioHash.upsertIndex(p, surv)
        // day-2 idempotence THROUGH a compaction (the m16 discipline):
        // the atomic re-publish must not change verdicts, and the
        // rewrite must undo the upsert's small files
        val report = graft.multimodal.MediaIndex.compact(spark, p)
        check(report.filesAfter < report.filesBefore,
          s"scale=$c m17 compact shrinks files (${report.filesBefore}->${report.filesAfter})")
        val regate = graft.multimodal.AudioHash.gate(
            spark, p, taggedAudio(audioBatch17, c), maxHamming = 3, minRun = 5)
          .select("media_id").distinct().count()
        check(regate == 0L,
          s"scale=$c m17 re-gate after upsert+compact accepts nothing (got $regate)")
        (c, accepted)
      }
      val g17 = m17Runs.head
      m17Runs.tail.foreach { case (c, rows) =>
        check(rows * g17._1 == g17._2 * c,
          s"scale=$c m17 audio-gate survivors EXACTLY linear (${g17._2}->$rows)")
      }
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

    println(s"MEDIA_SMOKE_RESULT ${if (failed) "FAIL" else "PASS"}")
    spark.stop()
    if (failed) sys.exit(1)
  }
}
