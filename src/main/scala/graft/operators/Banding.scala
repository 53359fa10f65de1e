package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Pigeonhole chunk banding of packed Hamming codes — the one
 * candidate generator under every Hamming near-dup operator (SimHash,
 * image dHash, video frames, audio sub-fingerprints and the persisted
 * [[graft.multimodal.MediaIndex]]). A code splits into `nChunks`
 * chunks of `chunkBits` bits, lowest chunk first; two codes within
 * Hamming `nChunks − 1` of each other agree exactly on at least one
 * chunk, so an equi-join on the chunk finds EVERY such pair (engine ≡
 * exhaustive pairing) while never cross-joining.
 *
 * The join key is `bkey` = chunk·2^chunkBits + chunk_val: chunk
 * position and value fused into ONE column, which is exactly what a
 * bucketed history scan co-locates on (V1 bucketed joins co-locate
 * only when the join keys equal the bucket column — a second key, or
 * a residual equality Catalyst folds back into the keys, disables the
 * bucketed scan).
 */
final case class Banding(chunkBits: Int, nChunks: Int) {
  require(chunkBits >= 1 && nChunks >= 2 && chunkBits * nChunks <= 64,
    s"banding $chunkBits×$nChunks must fit a 64-bit code")
  def mask: Long = (1L << chunkBits) - 1
  def maxHammingRecall: Int = nChunks - 1

  /** The one recall guard: the banding proposes every pair only up to
    * Hamming [[maxHammingRecall]]. */
  private[graft] def requireRecall(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= maxHammingRecall,
      s"maxHamming $maxHamming outside [0, $maxHammingRecall]: $nChunks-band " +
        s"chunking guarantees recall only to Hamming $maxHammingRecall")

  /** The fused (chunk, chunk_val) join key. */
  private[graft] def bkey(chunk: Column, chunkVal: Column): Column =
    chunk * lit(1L << chunkBits) + chunkVal

  /** `codes` exploded to one row per chunk, with `chunk`, `chunk_val`
    * and `bkey` appended; every other column passes through. */
  private[graft] def banded(codes: DataFrame, codeCol: String): DataFrame =
    codes.select(col("*"),
      posexplode(array((0 until nChunks).map(i =>
        shiftright(col(codeCol), i * chunkBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk", "chunk_val")))
      .withColumn("bkey", bkey(col("chunk"), col("chunk_val")))

  /** Row pairs of one code frame (`a.idCol` < `b.idCol`) that share a
    * chunk and lie within `maxHamming`: the banded self-join on `bkey`.
    * Both sides' columns stay reachable as `a.*` / `b.*`; a pair that
    * shares several chunks appears once per shared chunk. */
  private[graft] def nearPairs(
      codes: DataFrame, idCol: String, codeCol: String, maxHamming: Int): DataFrame = {
    requireRecall(maxHamming)
    val b = banded(codes, codeCol)
    b.as("a").join(b.as("b"),
        col("a.bkey") === col("b.bkey") && col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(Banding.hamming(col(s"a.$codeCol"), col(s"b.$codeCol")) <= maxHamming)
  }

  /** Distinct `(id_a, id_b, hamming)` pairs of one code frame within
    * `maxHamming` (id_a < id_b); `hamming` is an int. */
  private[graft] def hammingPairs(
      codes: DataFrame, idCol: String, codeCol: String, maxHamming: Int): DataFrame =
    nearPairs(codes, idCol, codeCol, maxHamming)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col(s"a.$codeCol").as("code_a"), col(s"b.$codeCol").as("code_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        Banding.hamming(col("code_a"), col("code_b")).as("hamming"))

  /** Batch rows joined to the rows of an already [[banded]] history
    * (which must carry `bkey`) that share a chunk and lie within
    * `maxHamming`: banded batch ⋈ history on `bkey`, then the Hamming
    * filter. The two sides' column names must differ apart from
    * `bkey`. */
  private[graft] def probe(
      batch: DataFrame, codeCol: String, history: DataFrame, histCodeCol: String,
      maxHamming: Int): DataFrame = {
    requireRecall(maxHamming)
    banded(batch, codeCol).join(history, Seq("bkey"))
      .filter(Banding.hamming(col(codeCol), col(histCodeCol)) <= maxHamming)
  }
}

object Banding {
  /** Hamming distance of two packed codes: built-in `bit_count(xor)`,
    * codegen'd, no UDF. */
  private[graft] def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
