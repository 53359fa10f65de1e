package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Banding

/**
 * Audio fingerprinting for near-dup detection — the energy-difference
 * signature (the Haitsma–Kalker 2002 "audio fingerprint" SHAPE,
 * public method, reduced to pure integer arithmetic): window the PCM
 * stream into fixed sample blocks, take per-block energy Σ|s|, and
 * emit one bit per adjacent-block comparison (energy rising = 1).
 * The derivative-sign form is what makes it a PERCEPTUAL hash: a
 * re-encode, dither, or gain change moves every energy a little but
 * rarely flips which of two adjacent blocks is louder — byte-distinct
 * payloads, near-identical codes; the audio twin of
 * [[ImageHash.dHash64]].
 *
 * SUB-FINGERPRINTS (the part of Haitsma–Kalker that buys time-offset
 * robustness): one code per WINDOW POSITION over the whole clip at a
 * dense stride, not one code per clip. A copy shifted by ANY number
 * of samples s reproduces the original's window at position p
 * exactly at its own position p−s, so the two clips share a long run
 * of IDENTICAL codes at one consistent alignment delta.
 *
 * THE MATCH DECISION is two-stage, both keyed on that delta:
 *  1. run-consistency (candidate pruning): segment candidates from a
 *     banded equi-join, verified per segment (Hamming ≤ h), grouped
 *     by (pair, delta = offset_a − offset_b); a (pair, delta) is a
 *     candidate only when ≥ `minRun` segments match AT THE SAME
 *     DELTA. This bounds stage 2 to near-miss alignments — but it is
 *     NOT sufficient alone: stride-1 windows overlap 96%, so one
 *     chance 24-bit near-match smears across neighboring offsets of
 *     the SAME delta and can fake a run.
 *  2. bit-error-rate verification (the paper's actual decision):
 *     for each candidate delta, align the FULL overlap of the two
 *     window grids and require mean Hamming ≤ `maxAvgHam` bits per
 *     24-bit window (total_ham ≤ maxAvgHam·overlap, integer-exact).
 *     A true copy sits near BER 0 (re-encodes a few bits per
 *     window); a chance alignment sits at BER ≈ 0.5 — over ≥ minRun
 *     windows the two are separated by astronomical odds.
 *
 * Scale shape: fingerprinting is map-only inside the same
 * `mapPartitions` pass that parses the container (prefix-summed
 * energies — O(1) per window, O(n) per clip; 8 bytes per window
 * leave the executor, never samples). Dense stride-1 codes are ~4
 * longs per PCM sample: the right probe-side density, while a stored
 * history can keep every `stride` ≥ 1 it can afford (a sparse stored
 * grid still aligns against a dense probe grid at every shift).
 * Pairing is the banded equi-join below — never all-pairs.
 */
object AudioHash {

  val BlockSamples = 4
  val Bits = 24 // 25 blocks → 24 adjacent comparisons

  /** Default stop-code threshold for EXACT candidate generation: a
    * 24-bit code occurring more often than this in one corpus/batch is
    * near-certainly degenerate (silence, constant tone — one code per
    * window), and a full-code equi-join on it is quadratic in that
    * volume. 4096² bounds any one key's pair volume at ~16M rows. */
  val DefaultMaxCodeFreq = 4096

  /** Exact-mode gate batches above this many code rows fall back to
    * the banded bucketed probe: the exact probe relies on
    * BROADCASTING the batch against the history's chunk-0 slice (the
    * no-history-shuffle property), and a broadcast this large belongs
    * on the banded path — whose candidates are a SUPERSET of the
    * exact ones at the same maxHamming, so the fallback only ever
    * drops MORE, never lets a would-be-caught copy through. */
  val DefaultExactBroadcastMaxCodes = 1L << 21

  /** Rows of `codes` whose `codeCol` occurs ≤ `maxFreq` times. */
  private def dropStopCodes(
      codes: DataFrame, codeCol: String, maxFreq: Int): DataFrame = {
    require(maxFreq >= 1, "maxCodeFreq must be >= 1")
    val hot = codes.groupBy(col(codeCol))
      .agg(count(lit(1)).as("__f")).filter(col("__f") > maxFreq)
      .select(col(codeCol))
    // the hot list has ≤ |codes|/maxFreq rows by construction — always
    // broadcastable, and the hint keeps the anti-join from ever
    // shuffling the code frame (the history side's no-shuffle contract)
    codes.join(broadcast(hot), Seq(codeCol), "left_anti")
  }

  /** minimum sample count for one full window. */
  val MinSamples: Int = BlockSamples * (Bits + 1)

  /** 24-bit energy-difference code over samples [off, off+MinSamples). */
  def energyDiffCode(sample: Int => Int, nSamples: Int, off: Int = 0): Long = {
    require(nSamples >= off + MinSamples, s"need >= ${off + MinSamples} samples")
    val e = new Array[Long](Bits + 1)
    var b = 0
    while (b <= Bits) {
      var k = off + b * BlockSamples
      val end = k + BlockSamples
      var s = 0L
      while (k < end) { s += math.abs(sample(k).toLong); k += 1 }
      e(b) = s
      b += 1
    }
    var code = 0L
    var i = 0
    while (i < Bits) {
      if (e(i + 1) > e(i)) code |= 1L << i
      i += 1
    }
    code
  }

  /** All window codes of one clip at `stride` — prefix-summed |s| so
    * each window is O(Bits) regardless of overlap (an object-level
    * method so the mapPartitions closure below captures nothing but
    * the module reference). Equal to [[energyDiffCode]] at every
    * emitted offset; too-short clips emit nothing. */
  private[multimodal] def denseCodes(
      sample: Int => Int, n: Int, stride: Int): Iterator[(Int, Long)] = {
    if (n < MinSamples) return Iterator.empty
    val pre = new Array[Long](n + 1)
    var i = 0
    while (i < n) { pre(i + 1) = pre(i) + math.abs(sample(i).toLong); i += 1 }
    Iterator.range(0, n - MinSamples + 1, stride).map { off =>
      var code = 0L
      var prev = pre(off + BlockSamples) - pre(off)
      var b = 1
      while (b <= Bits) {
        val e = pre(off + (b + 1) * BlockSamples) - pre(off + b * BlockSamples)
        if (e > prev) code |= 1L << (b - 1)
        prev = e
        b += 1
      }
      (off, code)
    }
  }

  /** Per-clip sub-fingerprints `(media_id, off, ahash)` — one row per
    * window position over the WHOLE clip every `stride` samples — for
    * WAV/AIFF rows with enough samples; other formats and too-short
    * clips are skipped. Stride 1 (the default) catches a copy shifted
    * or head-trimmed by ANY sample count; a stored history may use a
    * coarser stride as long as one side of every match stays dense. */
  def fingerprints(media: Dataset[MediaRow], stride: Int = 1): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap {
        case m if m.format == "audio/wav" =>
          val w = VideoContainers.WavDemux.read(m.content)
          denseCodes(w.sample(_), w.nSamples, stride).map {
            case (off, c) => (m.media_id, off.toLong, c)
          }
        case m if m.format == "audio/aiff" =>
          val a = VideoContainers.AiffDemux.read(m.content)
          denseCodes(a.sample(_), a.nSamples, stride).map {
            case (off, c) => (m.media_id, off.toLong, c)
          }
        case _ => Iterator.empty
      }
    }.toDF("media_id", "off", "ahash")
  }

  /** The 4×6-bit banding of the 24-bit sub-fingerprint — pigeonhole:
    * two codes within Hamming 3 agree exactly on ≥ 1 chunk, so the
    * `bkey` equi-join proposes every qualifying segment pair. */
  private val Narrow = Banding(6, 4)

  /**
   * Near-dup pairs by the two-stage sub-fingerprint decision:
   * candidates → ≥ `minRun` matching positions at one delta (stage 1)
   * → full-overlap BER ≤ `maxAvgHam`/24 at that delta (stage 2).
   * Output: (id_a, id_b, delta = off_a − off_b, matched, overlap,
   * total_ham) — engine ≡ the m14 oracle's EXHAUSTIVE all-alignments
   * replay (pigeonhole recall per segment; the stage-2 predicate is
   * computed identically on both sides), while candidate generation
   * never cross-joins and BER evaluation touches only the few
   * candidate (pair, delta) alignments.
   *
   * TWO CANDIDATE MODES — the recall/scale dial:
   *  - banded (default): 4×6-bit `bkey` equi-join, per-segment Hamming
   *    ≤ `maxHamming`. Complete to Hamming 3 PER SEGMENT, but a 6-bit
   *    chunk collides for ~6% of random window pairs — at billions of
   *    windows the candidate volume is quadratic-ish. Right for
   *    corpus scales where the chunk join fits.
   *  - exact (`exactCandidates = true`): candidates are IDENTICAL
   *    24-bit codes — the actual Haitsma–Kalker search (exact
   *    sub-fingerprint lookup, then block/BER verify). A true copy at
   *    any shift shares a run of bit-identical windows, so ≥ minRun
   *    exact hits at one delta still recalls it; only heavily
   *    perturbed copies with no exact window anywhere can slip. The
   *    join keyspace is the full code — hot-key volume bounded by
   *    genuine repetition, the 100 TB path. `matched` then counts
   *    exact windows; stage 2 is unchanged.
   */
  def nearDupPairs(
      codes: DataFrame, maxHamming: Int,
      minRun: Int = 5, maxAvgHam: Int = 6,
      exactCandidates: Boolean = false,
      maxCodeFreq: Int = DefaultMaxCodeFreq): DataFrame = {
    Narrow.requireRecall(maxHamming)
    require(minRun >= 1, "minRun must be >= 1")
    val cand =
      if (exactCandidates) {
        // stop-code list (the Haitsma–Kalker low-energy guard): silent
        // or constant audio emits ONE code at every window — joined on
        // full-code equality that key is quadratic in the corpus's
        // silence, not bounded by genuine repetition. Codes above
        // `maxCodeFreq` occurrences are excluded from candidate
        // generation (one corpus-sized aggregate — the same size class
        // as the join input); legitimate copies still match on their
        // non-degenerate windows.
        val pruned = dropStopCodes(codes, "ahash", maxCodeFreq)
        val a = pruned.as("a")
        val b = pruned.as("b")
        a.join(b,
            col("a.ahash") === col("b.ahash") && col("a.media_id") < col("b.media_id"))
          .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
            col("a.off").as("off_a"), col("b.off").as("off_b"))
      } else
        Narrow.nearPairs(codes, "media_id", "ahash", maxHamming)
          .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
            col("a.off").as("off_a"), col("b.off").as("off_b"))
          .distinct() // ≤ 4 chunks can propose the same segment pair
    val grouped = cand
      .groupBy(col("id_a"), col("id_b"), (col("off_a") - col("off_b")).as("delta"))
      .agg(count(lit(1)).as("matched"))
      .filter(col("matched") >= minRun)
    berVerified(grouped, codes.select(col("media_id"), col("off"), col("ahash")),
      codes.select(col("media_id"), col("off"), col("ahash")), maxAvgHam)
  }

  /** Stage 2: align each candidate (id_a, id_b, delta) over the FULL
    * overlap of the two window grids and keep it only when total
    * Hamming ≤ `maxAvgHam` bits per window. Both code frames are
    * (media_id, off, ahash); the alignment join is an equi-join on
    * (id, off − delta) — candidate-bounded, never all-pairs. */
  private def berVerified(
      cand: DataFrame, codesA: DataFrame, codesB: DataFrame,
      maxAvgHam: Int): DataFrame =
    cand
      .join(codesA.select(col("media_id").as("id_a"), col("off").as("off_a"),
        col("ahash").as("__code_a")), Seq("id_a"))
      .withColumn("off_b", col("off_a") - col("delta"))
      .join(codesB.select(col("media_id").as("id_b"), col("off").as("off_b"),
        col("ahash").as("__code_b")), Seq("id_b", "off_b"))
      .groupBy("id_a", "id_b", "delta", "matched")
      .agg(count(lit(1)).as("overlap"),
        sum(Banding.hamming(col("__code_a"), col("__code_b")).cast("long"))
          .as("total_ham"))
      .filter(col("total_ham") <= lit(maxAvgHam) * col("overlap"))
      .select("id_a", "id_b", "delta", "matched", "overlap", "total_ham")

  /** Write/replace the PERSISTED audio sub-fingerprint index at
    * `path`: the [[MediaIndex]] store parameterized to the 24-bit
    * code's own 4×6-bit banding, with the window offset carried
    * through as a passthrough column (the gate's run-consistency
    * needs it).
    *
    * THE STORED GRID IS SPARSE BY DEFAULT: only offsets divisible by
    * `storeStride` (= [[BlockSamples]]) are kept — 1/4 the store with
    * FULL shift recall, because the PROBE stays dense: a copy shifted
    * by ANY s still aligns every stored window h_off with the probe's
    * window at h_off + s, so stage 1 counts ~overlap/stride matches
    * at one delta and stage 2's BER verifies over exactly the stored
    * positions (the measured store-size × recall economics of
    * PROFILE_AUDIO_r15.md). `storeStride = 1` restores the dense
    * store; [[gate]]'s `minRun` then counts stride-1 positions, so
    * thresholds tuned for one stride should be re-read for another. */
  def writeIndex(
      path: String, codes: DataFrame, buckets: Int = 8,
      storeStride: Int = BlockSamples): Unit =
    MediaIndex.write(path, thinned(codes, storeStride).select(
        col("media_id"), col("ahash").as("dhash"), col("off")),
      Narrow, buckets,
      // the stride is part of the store's IDENTITY (minRun counts
      // stored positions — a mixed-grid store would need ~stride× the
      // overlap for sparse-era clips and verdicts would silently skew),
      // so it rides the manifest like the banding and upserts must use
      // the SAME grid
      extra = Map("store_stride" -> storeStride))

  /** The stride the store at `path` was written with — None for
    * stores written before the stride was recorded in the manifest
    * (those were thinned with the era's default; pass it explicitly
    * to [[upsertIndex]] if it differed). */
  def recordedStoreStride(spark: SparkSession, path: String): Option[Int] =
    graft.io.StoreManifest.current(spark, path).get("store_stride")

  /** Append an ACCEPTED batch's sub-fingerprints into the index —
    * thinned to the SAME sparse stored grid as [[writeIndex]]: the
    * stride comes from the store's own manifest (recorded at write
    * time), so an upsert can never silently mix grids. Passing
    * `storeStride` explicitly asserts the expected value — it must
    * match the recorded one (required for pre-record stores, which
    * have nothing recorded; defaulted from [[BlockSamples]] otherwise,
    * the only default those stores were ever written with). */
  def upsertIndex(
      path: String, codes: DataFrame,
      storeStride: Option[Int] = None): Unit = {
    val recorded = recordedStoreStride(codes.sparkSession, path)
    for (s <- storeStride; r <- recorded) require(s == r,
      s"AudioHash.upsertIndex: store at $path was written with " +
        s"store_stride=$r but the caller expects $s — a mixed-grid store " +
        "skews minRun verdicts; re-write or compact at the new stride first")
    val stride = storeStride.orElse(recorded).getOrElse(BlockSamples)
    MediaIndex.upsert(path, thinned(codes, stride).select(
      col("media_id"), col("ahash").as("dhash"), col("off")))
  }

  private def thinned(codes: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, "storeStride must be >= 1")
    if (stride == 1) codes else codes.filter(col("off") % stride === 0)
  }

  /**
   * Gate a batch of sub-fingerprints `(media_id, off, ahash)` against
   * the PERSISTED index: returns the batch code rows whose clip does
   * NOT match any indexed clip — match = the same two-stage decision
   * as [[nearDupPairs]] (≥ `minRun` window positions within
   * `maxHamming` at one delta, then full-overlap BER ≤ `maxAvgHam`
   * bits/window at that delta) against the stored history. The
   * caller [[upsertIndex]]s the survivors it accepts.
   *
   * Steady-state shape: the history side is the bucketed band table
   * (hash-partitioned on `bkey` — the probe join consumes it with no
   * exchange), stage-1 candidates are band-bounded, and the stage-2
   * alignment join touches only candidate clips' code rows (keyed on
   * (hid, off) — the chunk-0 slice of the same store, one pushed
   * filter away). Verdicts are snapshot-stable (the
   * [[graft.operators.DedupIndex]] discipline): the drop-id set is
   * eagerly checkpointed so the frame keeps meaning "gated against
   * the store AS OF THIS CALL" even after the caller upserts.
   *
   * RECALL CONTRACT of the exact mode's stop-code prune
   * (`maxCodeFreq`): both join sides drop codes appearing in more
   * than `maxCodeFreq` windows of their OWN side — that bound is what
   * keeps any key's stage-1 pair volume ≤ maxCodeFreq² when either
   * side carries degenerate content (a silent clip is ONE code at
   * every window). The prune keys on FREQUENCY, not degeneracy, so it
   * is a deliberate recall tradeoff: a genuine copy whose only
   * matching windows ride codes that are legitimately popular on the
   * history side (one code present in > maxCodeFreq stored chunk-0
   * windows — a station ident, a shared intro bed) loses those
   * windows from BOTH sides and can fall under `minRun`. That copy
   * was already un-attributable by those windows alone (they match
   * hundreds of stored clips equally well); copies with ≥ minRun
   * aligned windows on sub-threshold codes are unaffected. Raise
   * `maxCodeFreq` (cost: quadratic in it, per hot key) or pre-strip
   * known shared beds upstream if that tail matters for a corpus.
   */
  def gate(
      spark: SparkSession, path: String, batch: DataFrame,
      maxHamming: Int, minRun: Int = 5, maxAvgHam: Int = 6,
      exactCandidates: Boolean = false,
      exactBroadcastMaxCodes: Long = DefaultExactBroadcastMaxCodes,
      maxCodeFreq: Int = DefaultMaxCodeFreq,
      expectStoreStride: Option[Int] = None): DataFrame = {
    // minRun counts STORED positions, so its meaning scales with the
    // store's write-time grid: a caller whose threshold was tuned for
    // one stride can assert it here and fail loudly on a store built
    // with another (the manifest records it as of r17)
    for (s <- expectStoreStride; r <- recordedStoreStride(spark, path))
      require(s == r,
        s"AudioHash.gate: store at $path has store_stride=$r but minRun " +
          s"was tuned for stride $s — re-read the threshold for this grid")
    // SIZE DISPATCH for the exact mode: the exact probe broadcasts the
    // batch (that is what keeps the history slice shuffle-free — the
    // plan audit pins it); a batch too big to broadcast must not
    // silently degrade to shuffling the history, so it takes the
    // banded bucketed probe instead (a candidate SUPERSET at the same
    // maxHamming — conservative: the fallback can only drop more).
    val useExact = exactCandidates && batch.count() <= exactBroadcastMaxCodes
    // verdicts are SNAPSHOT-STABLE (StoreKit.snapshotStableSurvivors)
    graft.io.StoreKit.snapshotStableSurvivors(batch, "media_id",
      gateDrops(spark, path, batch, maxHamming, minRun, maxAvgHam,
        useExact, maxCodeFreq))
  }

  /** The drop-id frame of one [[gate]] call BEFORE the checkpoint —
    * split out so the plan audit can inspect the probe join's
    * physical plan (bucketed history scan, no exchange below the
    * stage-1 join). With `exactCandidates` the probe is the
    * Haitsma–Kalker exact lookup instead: the (small) batch joins the
    * chunk-0 code slice on full-code equality — the batch side
    * broadcasts, so the history slice still never shuffles, and the
    * candidate keyspace is the full 24-bit code (the 100 TB mode; see
    * [[nearDupPairs]]). */
  private[graft] def gateDrops(
      spark: SparkSession, path: String, batch: DataFrame,
      maxHamming: Int, minRun: Int, maxAvgHam: Int,
      exactCandidates: Boolean = false,
      maxCodeFreq: Int = DefaultMaxCodeFreq): DataFrame = {
    Narrow.requireRecall(maxHamming)
    val (hist, banding) = MediaIndex.bands(spark, path)
    require(banding == Narrow,
      s"not an audio sub-fingerprint index (banding $banding)")
    val segs =
      if (exactCandidates)
        // the batch side is stop-code-pruned (a degenerate silent
        // batch clip emits ONE code at every window — its key's join
        // volume is freq × histFreq, not bounded by genuine
        // repetition; batch-side frequency is batch-proportional to
        // compute, and history-side silence only explodes against a
        // batch probing the same degenerate code, which the prune
        // removes) and EXPLICITLY broadcast: the broadcast is the
        // no-history-shuffle contract, enforced by the hint rather
        // than left to the size estimator (gate() dispatches
        // oversized batches to the banded path before this).
        // the HISTORY chunk-0 slice is stop-code-pruned TOO: batch-side
        // pruning alone caps batch-key frequency, but a single silent
        // batch clip sits far below maxCodeFreq (~75 windows of one
        // code) and would still equi-join against every silent stored
        // window — join volume unbounded in HISTORY-side frequency.
        // Pruning both sides (the nearDupPairs discipline) bounds any
        // key's pair volume at maxCodeFreq² regardless of which side
        // carries the silence; one hash aggregate over the slice.
        broadcast(dropStopCodes(
            batch.select(col("media_id").as("bid"), col("off").as("b_off"),
              col("ahash").as("__b_code")), "__b_code", maxCodeFreq))
          .join(dropStopCodes(
              hist.filter(col("chunk") === 0).select(
                col("media_id").as("hid"), col("off").as("h_off"),
                col("dhash").as("__h_code")), "__h_code", maxCodeFreq),
            col("__b_code") === col("__h_code"))
          .select("bid", "hid", "b_off", "h_off")
      else
        Narrow.probe(
            batch.select(col("media_id").as("bid"), col("ahash").as("__b_code"),
              col("off").as("b_off")), "__b_code",
            hist.select(col("media_id").as("hid"), col("dhash").as("__h_code"),
              col("off").as("h_off"), col("bkey")), "__h_code", maxHamming)
          .select("bid", "hid", "b_off", "h_off").distinct()
    val cand = segs
      .groupBy(col("bid").as("id_a"), col("hid").as("id_b"),
        (col("b_off") - col("h_off")).as("delta"))
      .agg(count(lit(1)).as("matched"))
      .filter(col("matched") >= minRun)
    // one row per stored code for the alignment join: the chunk-0
    // slice of the banded table (a pushed-down scan filter)
    val histCodes = hist.filter(col("chunk") === 0)
      .select(col("media_id"), col("off"), col("dhash").as("ahash"))
    berVerified(cand,
        batch.select(col("media_id"), col("off"), col("ahash")), histCodes, maxAvgHam)
      .select(col("id_a").as("media_id")).distinct()
  }
}
