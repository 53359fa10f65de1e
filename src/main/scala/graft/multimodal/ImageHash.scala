package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Banding

/**
 * Perceptual image fingerprinting — dHash (difference hash, public
 * technique: resample to a tiny luma grid, emit one bit per
 * horizontally-adjacent pixel comparison). The "dedup a 100 TB image
 * corpus" story: re-encodes, recompressions, and light retouches of
 * the same picture produce byte-distinct payloads but near-identical
 * dHash codes, so near-dup detection reduces to Hamming distance over
 * 64-bit integers — the one chunk banding ([[graft.operators.Banding]])
 * the text side runs for SimHash ([[graft.operators.Dedup.simhashNearDupPairs]]).
 *
 * Determinism: the resample is the house nearest-neighbor kernel
 * ([[Multimodal.resizeFrame]] — pure integer index arithmetic
 * `sy = y·h/H`, `sx = x·w/W`), and the comparison is an integer
 * `<` — no floats anywhere, so the code is bit-identical in any
 * engine (the m12 oracle replays it in SQL from the keystream
 * pixels through the real PNG round-trip).
 *
 * Scale shape: hashing is map-only inside the same `mapPartitions`
 * pass that decodes frames (a 64-bit code per frame leaves the
 * executor, never pixels); pairing is the banded equi-join below —
 * never all-pairs.
 */
object ImageHash {

  /** 64-bit dHash of one decoded frame: nearest-neighbor resample to
    * a 9×8 luma grid, bit (y·8+x) set iff grid(y,x) < grid(y,x+1). */
  def dHash64(f: DecodedFrame): Long = {
    val g = Multimodal.resizeFrame(f, 9, 8)
    var code = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if ((g.pixels(y * 9 + x) & 0xff) < (g.pixels(y * 9 + x + 1) & 0xff))
          code |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    code
  }

  /** Per-frame codes: `(media_id, frame_idx, dhash)` — the map-only
    * companion to [[Multimodal.sampleFrames]]; only 12 bytes per frame
    * survive past the decode task. */
  def frameHashes(frames: Dataset[DecodedFrame]): DataFrame = {
    import frames.sparkSession.implicits._
    frames.mapPartitions(_.map(f => (f.media_id, f.frame_idx, dHash64(f))))
      .toDF("media_id", "frame_idx", "dhash")
  }

  /**
   * Near-dup pairs with Hamming distance ≤ `maxHamming` over 64-bit
   * codes, banded ([[MediaIndex.Wide]]): the code splits into four
   * 16-bit chunks, and by pigeonhole two codes within Hamming 3 agree
   * exactly on at least one chunk — so the `bkey` equi-join finds
   * EVERY such pair (engine ≡ exhaustive, which is precisely what the
   * m12 oracle checks) while candidate generation never cross-joins.
   */
  def nearDupPairs(
      codes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame =
    MediaIndex.Wide.hammingPairs(codes, idCol, hashCol, maxHamming)
      .withColumn("hamming", col("hamming").cast("long"))

  /**
   * CLIP-level near-dup pairs over per-frame codes — the video form
   * of [[nearDupPairs]] (public keyframe-matching approach: two clips
   * are near-dups when most of one clip's frames have a perceptual
   * match in the other). Robust to re-encodes AND to dropped/extra
   * frames: the similarity is the better of the two directional
   * frame-containment fractions, so a copy missing its last frame
   * still scores 1.0 in the copy→original direction.
   *
   * Semantics (exactly what the m13 oracle replays): for each clip
   * pair, `matched_a` = #frames of `a` whose MINIMUM Hamming distance
   * to any frame of `b` is ≤ `maxHamming` (symmetrically
   * `matched_b`); `sim` = max(matched_a/n_a, matched_b/n_b), kept
   * when ≥ `minFrac`.
   *
   * Scale shape: candidate clip pairs are the clip pairs with at
   * least one frame pair within `maxHamming`, from the SAME banded
   * frame join as the image form (a pair without one has sim 0, below
   * any `minFrac`, so the banded engine equals the oracle's exhaustive
   * pairing), and the verification join touches only candidate pairs'
   * frames — clip-length-bounded, never a corpus cross join.
   */
  def clipNearDupPairs(
      codes: DataFrame, maxHamming: Int, minFrac: Double): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0, "minFrac must be in (0, 1]")
    val cand = MediaIndex.Wide.nearPairs(codes, "media_id", "dhash", maxHamming)
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    val fa = codes.select(col("media_id").as("id_a"),
      col("frame_idx").as("fa"), col("dhash").as("ha"))
    val fb = codes.select(col("media_id").as("id_b"),
      col("frame_idx").as("fb"), col("dhash").as("hb"))
    val cross = cand.join(fa, Seq("id_a")).join(fb, Seq("id_b"))
      .withColumn("ham", Banding.hamming(col("ha"), col("hb")))
    def matched(frameCol: String, out: String): DataFrame = cross
      .groupBy("id_a", "id_b", frameCol).agg(min(col("ham")).as("mh"))
      .groupBy("id_a", "id_b")
      .agg(sum(when(col("mh") <= maxHamming, 1L).otherwise(0L)).as(out))
    val counts = codes.groupBy(col("media_id")).agg(count(lit(1)).as("nf"))
    matched("fa", "matched_a")
      .join(matched("fb", "matched_b"), Seq("id_a", "id_b"))
      .join(counts.toDF("id_a", "n_a"), Seq("id_a"))
      .join(counts.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("sim", round(greatest(
        col("matched_a").cast("double") / col("n_a"),
        col("matched_b").cast("double") / col("n_b")), 6))
      .filter(col("sim") >= minFrac)
      .select("id_a", "id_b", "n_a", "n_b", "matched_a", "matched_b", "sim")
  }

  /**
   * Incremental image-ingest near-dup gate — the
   * [[graft.operators.Dedup.incrementalNearDupLsh]] analogue for
   * perceptual codes: keep the `batch` code rows (`media_id`,
   * `dhash`) whose code is NOT within `maxHamming` of ANY `history`
   * code. The daily-crawl shape: yesterday's corpus is an append-only
   * code table (8 bytes/image — at 100 TB of pixels the index is
   * GB-scale), today's batch probes it via the banded `bkey`
   * equi-join ([[MediaIndex.probeDrops]], the probe the persisted
   * [[MediaIndex.gate]] runs), and survivors' bands are appended for
   * tomorrow. Within-batch duplicates are deliberately untouched —
   * [[nearDupPairs]]'s job, composed when wanted.
   */
  def incrementalNearDup(
      batch: DataFrame, history: DataFrame, maxHamming: Int): DataFrame =
    batch.join(
      MediaIndex.probeDrops(batch, MediaIndex.bandedOf(history, MediaIndex.Wide),
        MediaIndex.Wide, maxHamming),
      Seq("media_id"), "left_anti")
}
