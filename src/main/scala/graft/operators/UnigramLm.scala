package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Unigram language-model tokenizer TRAINING (Kudo 2018, "Subword
 * Regularization" — the SentencePiece unigram algorithm, public
 * method) in the hard-EM (Viterbi) form: seed a piece inventory from
 * frequent substrings, then alternate (E) segmenting every word into
 * its minimum-cost piece sequence under the current piece scores and
 * (M) re-scoring pieces from their usage counts, pruning the
 * inventory to `vocabSize` between rounds. The second tokenizer
 * family next to BPE ([[BpeTrain]]): BPE grows a vocabulary bottom-up
 * by merges; unigram starts big and PRUNES — production stacks ship
 * both.
 *
 * Scale shape — like BPE, unigram training is WORD-frequency work:
 *  1. [[BpeTrain.wordFreq]] collapses the corpus once (the only
 *     corpus-sized shuffle); the word table is persisted ONCE and
 *     never rewritten — unlike BPE there is no evolving symbol table,
 *     so there is ZERO lineage growth across rounds.
 *  2. Seeding is one vocabulary-sized substring-count aggregation.
 *  3. Each EM round is ONE map-only Viterbi pass over the word table
 *     (piece scores ride a broadcast, the [[graft.functions.Bpe]]
 *     vocab pattern) plus ONE piece-count aggregation collected to
 *     the driver — bounded by `seedSize`, a documented driver
 *     literal (the centroid-table size class, never corpus data).
 *
 * Determinism contract (what the t63 oracle replays term-for-term):
 * piece scores are INTEGER micro-nats (round(−ln(c/T)·1e6)); the
 * Viterbi DP breaks cost ties toward the SMALLEST split point j (the
 * longest final piece), making the backpointer the plain minimum of
 * the achieving j's; pruning keeps every single-codepoint corpus
 * piece unconditionally with a count floor of 1 (full coverage — the
 * E-step can never strand a word) plus the top
 * `vocabSize − |singles|` multi-codepoint pieces by (count desc,
 * piece ascending codepoint order — Spark/DuckDB binary string
 * order, the [[BpeTrain.cpCompare]] discipline).
 */
object UnigramLm {

  /** Score for a character absent from the inventory (the `<unk>`
    * fallback at ENCODE time; training never hits it because every
    * corpus single-codepoint piece is kept). 25 nats ≈ −ln of a
    * 1.4e-11 probability — worse than any real piece chain. */
  val UnkScoreMicro: Long = 25000000L

  /** One trained piece: its M-step count (after the single-piece
    * coverage floor) and its micro-nat negative log-probability. */
  final case class Piece(piece: String, count: Long, scoreMicro: Long)

  /**
   * Train on `docs(textCol)` (pretokenization identical to
   * [[BpeTrain.wordFreq]]). Words longer than `maxWordLen` codepoints
   * are excluded from TRAINING (the SentencePiece max-piece-length
   * discipline bounds the DP; [[segmentWord]] itself handles any
   * length). Returns the final inventory sorted by piece codepoint
   * order.
   */
  def train(
      docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, seedSize: Int = 200, vocabSize: Int = 80,
      emIters: Int = 2, maxWordLen: Int = 16): Seq[Piece] = {
    require(maxPieceLen >= 2 && seedSize > 0 && vocabSize > 0 && emIters >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = graft.util.Caches.persist(BpeTrain.wordFreq(docs, textCol)
      .filter(length(col("word")) <= maxWordLen))

    // ---- seed: ONE substring-count aggregation (codepoint-safe:
    // substring()/char_length() index codepoints, not chars) ----
    val subCounts = wf.select(explode(flatten(
        expr(s"""transform(sequence(1, least(char_length(word), $maxPieceLen)),
                |  l -> transform(sequence(1, char_length(word) - l + 1),
                |    j -> substring(word, j, l)))""".stripMargin))).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .as[(String, Long)].collect()

    def cpLt(x: String, y: String): Boolean = BpeTrain.cpCompare(x, y) < 0
    val singles: Set[String] =
      subCounts.map(_._1).filter(p => p.codePointCount(0, p.length) == 1).toSet
    // top seedSize overall by (count desc, piece asc) ∪ all singles
    val seedSel: Map[String, Long] = {
      val top = subCounts
        .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else cpLt(a._1, b._1))
        .take(seedSize)
      val cnts = subCounts.toMap
      (top.map(_._1) ++ singles).distinct.map(p => p -> cnts(p)).toMap
    }

    def score(counts: Map[String, Long]): Map[String, Long] = {
      val t = counts.values.sum.toDouble
      counts.map { case (p, c) => p -> math.round(-math.log(c / t) * 1e6) }
    }

    var counts = seedSel
    var scores = score(counts)
    for (_ <- 1 to emIters) {
      val bc = spark.sparkContext.broadcast {
        val m = new java.util.HashMap[String, java.lang.Long](scores.size * 2)
        scores.foreach { case (p, s) => m.put(p, s) }
        m
      }
      // E: one map-only segmentation pass; M input: one piece-count
      // aggregation (vocabulary-sized, collected — bounded by seedSize)
      val used = wf.as[(String, Long)]
        .flatMap { case (w, f) =>
          segmentWord(w, bc.value, maxPieceLen).map(p => (p, f))
        }
        .groupBy(col("_1").as("piece")).agg(sum(col("_2")).as("cnt"))
        .as[(String, Long)].collect().toMap
      bc.destroy()
      // prune: singles always survive (count floored to 1); multis
      // ranked by (count desc, piece asc), top vocabSize − |singles|
      val keptSingles = singles.toSeq.map(p => p -> math.max(used.getOrElse(p, 0L), 1L))
      val keptMultis = used.toSeq
        .filter { case (p, _) => !singles.contains(p) }
        .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else cpLt(a._1, b._1))
        .take(math.max(0, vocabSize - singles.size))
      counts = (keptSingles ++ keptMultis).toMap
      scores = score(counts)
    }
    counts.toSeq
      .map { case (p, c) => Piece(p, c, scores(p)) }
      .sortWith((a, b) => cpLt(a.piece, b.piece))
  }

  /** Minimum-cost segmentation of one word under integer micro-nat
    * piece scores — ties prefer the smallest split point j. Unknown
    * single codepoints fall back to [[UnkScoreMicro]], so any input
    * segments. */
  def segmentWord(
      word: String, scores: java.util.HashMap[String, java.lang.Long],
      maxPieceLen: Int): Seq[String] = {
    if (word.isEmpty) return Nil
    // codepoint boundaries: bnd(i) = char offset of the i-th codepoint
    val bnd = {
      val b = new ArrayBuffer[Int](word.length + 1)
      var i = 0
      while (i < word.length) { b += i; i += Character.charCount(word.codePointAt(i)) }
      b += word.length
      b
    }
    val L = bnd.length - 1
    val cost = Array.fill(L + 1)(Long.MaxValue)
    val bp = new Array[Int](L + 1)
    cost(0) = 0L
    var k = 1
    while (k <= L) {
      var j = math.max(0, k - maxPieceLen)
      while (j < k) {
        if (cost(j) != Long.MaxValue) {
          val piece = word.substring(bnd(j), bnd(k))
          val s = scores.get(piece)
          val nll: Long =
            if (s != null) s.longValue
            else if (k - j == 1) UnkScoreMicro
            else -1L
          if (nll >= 0L) {
            val c = cost(j) + nll
            // strict <: the first (smallest) j among equal costs wins
            if (c < cost(k)) { cost(k) = c; bp(k) = j }
          }
        }
        j += 1
      }
      k += 1
    }
    val out = ArrayBuffer.empty[String]
    var p = L
    while (p > 0) { val j = bp(p); out += word.substring(bnd(j), bnd(p)); p = j }
    out.reverse.toSeq
  }
}
