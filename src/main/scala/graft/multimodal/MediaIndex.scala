package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{BucketedTables, StoreManifest}
import graft.operators.Banding

/**
 * Persisted perceptual-code ingest index — the MEDIA twin of
 * [[graft.operators.DedupIndex]] (which is itself the persisted form
 * of the text LSH gate): [[ImageHash.incrementalNearDup]]'s history
 * side is "an append-only dHash table"; this operator IS that table,
 * with the full write/gate/upsert/compact lifecycle instead of a
 * caller-managed frame. At 100 TB of pixels the index is GB-scale.
 *
 * BANDING IS PARAMETERIZED by [[graft.operators.Banding]] (chunk width × chunk
 * count): [[Wide]] = 4×16-bit for full 64-bit codes (dHash), and
 * narrower codes band at their own width — [[AudioHash]]'s 24-bit
 * sub-fingerprints use 4×6-bit. Banding a code NARROWER than the
 * configured width would leave constant-zero chunks whose band join
 * degenerates into a per-chunk cross product (the reason the wide
 * path must only ever see codes that use all 64 bits); matching the
 * width to the code keeps every chunk informative. The write-time
 * banding is recorded in the manifest, so gates/upserts can never
 * probe with a different chunking than the store was built with.
 *
 * Layout under `path` (published by the shared [[StoreManifest]]
 * pointer-commit log):
 *  - `bands/v<N>/` — (media_id, dhash, …passthrough…, chunk,
 *    chunk_val, bkey) written as a BUCKETED table hash-partitioned on
 *    `bkey` = chunk·2^chunkBits + chunk_val — the single fused probe
 *    key (pigeonhole: two codes within Hamming nChunks−1 agree
 *    exactly on ≥ 1 chunk, i.e. share a bkey). Bucketing BY THE PROBE
 *    KEY means a batch probe consumes the history scan with ZERO
 *    exchange (V1 bucketed joins co-locate only on the exact bucket
 *    column — the [[graft.operators.DedupIndex]] lesson), and only
 *    the batch side ever shuffles. Codes carry their own hash THROUGH
 *    the band join, so no size/verification table is needed (unlike
 *    the text twin) — verification is one inline `bit_count(xor)`.
 *    Extra columns of the written code frame (e.g. [[AudioHash]]'s
 *    window offset) pass through untouched for operators that layer
 *    their own verification on [[bands]].
 *
 * Determinism: [[gate]] and [[ImageHash.incrementalNearDup]] run one
 * probe ([[probeDrops]]), so [[gate]] over the persisted index is
 * row-identical to the in-memory operator against the same history
 * codes — spec-pinned, and the m16/m17 oracles replay the full
 * two-batch lifecycles in SQL.
 */
object MediaIndex {

  /** Full 64-bit codes (dHash): 4×16-bit chunks. */
  val Wide: Banding = Banding(16, 4)

  private[multimodal] def bandedOf(codes: DataFrame, b: Banding): DataFrame =
    b.banded(codes, "dhash")

  /** The ids of the `batch` codes (media_id, dhash) within `maxHamming`
    * of a code of the banded history `hist` (dhash, bkey, …): banded
    * batch ⋈ history on `bkey`, then the Hamming filter, then the
    * distinct drop ids — the one probe of [[gateDrops]] and
    * [[ImageHash.incrementalNearDup]]. */
  private[multimodal] def probeDrops(
      batch: DataFrame, hist: DataFrame, banding: Banding, maxHamming: Int): DataFrame =
    banding.probe(
        batch.select(col("media_id").as("bid"), col("dhash").as("__h_bid")), "__h_bid",
        hist.select(col("dhash").as("__h_hid"), col("bkey")), "__h_hid", maxHamming)
      .select(col("bid").as("media_id")).distinct()

  /** Materialize the index for an initial corpus of `(media_id,
    * dhash, …)` codes under `banding`. A re-write on an existing path
    * publishes a FRESH version (readers on the old snapshot are
    * undisturbed until the commit; superseded dirs reclaimed with the
    * grace window). */
  def write(
      path: String, codes: DataFrame,
      banding: Banding = Wide, buckets: Int = 8,
      extra: Map[String, Int] = Map.empty): Unit = {
    val spark = codes.sparkSession
    val v = graft.io.StoreKit.nextVersion(spark, path, "bands")
    BucketedTables.write(
      bandedOf(codes, banding), s"$path/bands/v$v", "bkey", "media_id", buckets)
    // `extra` lets a parameterizing operator record ITS write-time
    // configuration next to the banding (AudioHash's store_stride) so
    // later upserts/gates can never silently mix grids built with
    // different parameters; carried through compact like the banding
    StoreManifest.commit(spark, path, extra ++ Map(
      "bands" -> v, "chunk_bits" -> banding.chunkBits,
      "n_chunks" -> banding.nChunks, "buckets" -> buckets))
    graft.io.StoreKit.reclaim(spark, path, "bands", v)
  }

  /** Append an ACCEPTED batch's banded codes into the current
    * snapshot — bucketed appends are task-committed files, no manifest
    * commit needed (the [[graft.operators.AnnIndex.upsert]]
    * discipline). The batch is banded with the store's OWN write-time
    * banding. A pre-r15 store (manifest without `buckets`) keeps its
    * legacy chunk-partitioned layout — banding without the `bkey`
    * column, a plain parquet append — so the gate→upsert lifecycle
    * keeps working on existing indexes until a [[compact]] migrates
    * them to the bucketed layout. */
  def upsert(path: String, codes: DataFrame): Unit = {
    val spark = codes.sparkSession
    val m = StoreManifest.current(spark, path)
    val banding = bandingOf(m)
    m.get("buckets") match {
      case Some(b) => BucketedTables.append(
        bandedOf(codes, banding), s"$path/bands/v${m("bands")}",
        "bkey", "media_id", b)
      case None => // pre-r15 store: chunk-partitioned parquet, no bkey
        bandedOf(codes, banding).drop("bkey")
          .write.mode("append").partitionBy("chunk")
          .parquet(s"$path/bands/v${m("bands")}")
    }
  }

  private def bandingOf(m: Map[String, Int]): Banding =
    Banding(m.getOrElse("chunk_bits", 16), m.getOrElse("n_chunks", 4))

  /** The banded code table of the CURRENT snapshot plus its
    * write-time banding — the raw surface for operators that layer
    * their own verification over the band probe ([[AudioHash.gate]]'s
    * run-consistent matching). The scan is the bucketed table: a join
    * keyed on `bkey` alone consumes it with no exchange. */
  def bands(spark: SparkSession, path: String): (DataFrame, Banding) = {
    val m = StoreManifest.current(spark, path)
    val banding = bandingOf(m)
    val dir = s"$path/bands/v${m("bands")}"
    val df = m.get("buckets") match {
      case Some(b) => BucketedTables.read(spark, dir, "bkey", "media_id", b)
      case None => // pre-r15 store: chunk-partitioned parquet, no bkey column
        spark.read.parquet(dir)
          .withColumn("bkey", banding.bkey(col("chunk"), col("chunk_val")))
    }
    (df, banding)
  }

  /**
   * Gate a batch of `(media_id, dhash)` codes against the PERSISTED
   * history: returns the batch rows whose code is NOT within
   * `maxHamming` of any indexed code — row-identical to
   * [[ImageHash.incrementalNearDup]] with the full history code
   * table. The caller [[upsert]]s the survivors it accepts.
   * Within-batch duplicates are deliberately untouched
   * ([[ImageHash.nearDupPairs]]'s job, composed when wanted).
   */
  def gate(
      spark: SparkSession, path: String, batch: DataFrame,
      maxHamming: Int): DataFrame = {
    // verdicts are SNAPSHOT-STABLE (StoreKit.snapshotStableSurvivors)
    graft.io.StoreKit.snapshotStableSurvivors(
      batch, "media_id", gateDrops(spark, path, batch, maxHamming))
  }

  /** The drop-id frame of one [[gate]] call BEFORE the checkpoint —
    * split out so the plan audit can inspect the probe join's
    * physical plan (bucketed history scan, no exchange). */
  private[graft] def gateDrops(
      spark: SparkSession, path: String, batch: DataFrame,
      maxHamming: Int): DataFrame = {
    val (hist, banding) = bands(spark, path)
    probeDrops(batch, hist, banding, maxHamming)
  }

  /** One compaction summary from [[compact]]. */
  final case class CompactReport(filesBefore: Long, filesAfter: Long)

  /** Physical maintenance: rewrite the banded table compacted (a
    * thousand daily upserts otherwise leave a thousand small files per
    * bucket) into a fresh `v<N+1>` dir and publish it in ONE manifest
    * commit. The rewrite re-buckets, so a compacted table is back to
    * exactly `buckets` files. */
  def compact(spark: SparkSession, path: String): CompactReport = {
    import graft.io.StoreKit.{compactInput, parquetFileCount}
    val m = StoreManifest.current(spark, path)
    val v = m("bands")
    val before = parquetFileCount(spark, s"$path/bands/v$v")
    val banding = bandingOf(m)
    // plain-parquet rewrite input (see StoreKit.compactInput); a
    // pre-r15 dir has no bkey column — it gains one here (the
    // migration path)
    val raw = compactInput(spark, s"$path/bands/v$v")
    val cur =
      if (raw.columns.contains("bkey")) raw
      else raw.withColumn("bkey", banding.bkey(col("chunk"), col("chunk_val")))
    BucketedTables.write(
      cur, s"$path/bands/v${v + 1}", "bkey", "media_id", m.getOrElse("buckets", 8))
    // the full manifest carries through (any parameterizer's extra
    // keys, e.g. AudioHash's store_stride, survive compaction) with
    // only the version/layout keys rewritten
    StoreManifest.commit(spark, path, m ++ Map(
      "bands" -> (v + 1), "chunk_bits" -> banding.chunkBits,
      "n_chunks" -> banding.nChunks, "buckets" -> m.getOrElse("buckets", 8)))
    graft.io.StoreKit.reclaim(spark, path, "bands", v + 1)
    CompactReport(before, parquetFileCount(spark, s"$path/bands/v${v + 1}"))
  }
}
