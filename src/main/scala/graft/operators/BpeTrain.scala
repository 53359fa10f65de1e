package graft.operators

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.functions.BpeVocab
import graft.util.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed BPE merge-table TRAINING — the learning half of the
 * [[graft.functions.Bpe]] encoder (which consumes a fixed merges
 * table): learn the `numMerges` highest-frequency adjacent symbol
 * pairs from a corpus, classic greedy BPE (Sennrich et al. 2016,
 * "Neural Machine Translation of Rare Words with Subword Units").
 *
 * Scale shape — the key fact is that BPE training is WORD-frequency
 * work, not corpus work:
 *  1. [[wordFreq]] collapses the corpus to its distinct-word counts —
 *     ONE corpus-sized shuffle (hash agg with map-side combine).
 *     Everything after is bounded by |vocabulary| (a few million rows
 *     for a 100 TB web corpus), independent of corpus bytes.
 *  2. Each merge round is one vocabulary-sized pair-count aggregation
 *     (explode adjacent pairs × word freq, sum, argmax) plus a
 *     map-only leftmost-non-overlapping rewrite of the symbol arrays.
 *     The word table is persisted per round and the lineage cut, so
 *     round N does not recompute rounds 1..N-1.
 *
 * Determinism contract (what makes the oracle pinnable): the winning
 * pair maximizes frequency, ties broken by (left, right) ascending
 * CODEPOINT order — identical to Spark's UTF8String binary order, so
 * the distributed argmax `orderBy` and the driver comparator agree on
 * every plane (UTF-16 `String` natural order would diverge above the
 * BMP: U+E000..U+FFFF sort above supplementary codepoints there).
 * Training stops early when no pair reaches `minFreq`. Both trainers
 * implement exactly this rule — symbols start as CODEPOINTS on both
 * paths (driver [[charSymbols]]; distributed
 * [[graft.plans.CharNgramsExpr]] with n=1) — and the spec pins
 * driver ≡ distributed on a real corpus plus an astral-plane one.
 *
 * Reference context: the reference pipeline has no tokenizer — its
 * token budgeting is whitespace-based (processors/mlb/
 * batch_processor.py) — so this operator is part of the LLM
 * training-data surface, not a §2 port.
 */
object BpeTrain {

  /** Corpus → (word, freq): whitespace pretokenization identical to
    * [[BpeVocab.encode]] (`\s+`, empties dropped, case kept). The only
    * corpus-sized job in training. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Learned merge table as (rank, left, right, freq), rank 1-based in
    * learn order. Probes the vocabulary size: at or under
    * `maxDriverWords` distinct words the exact greedy loop runs
    * driver-side over the collected counts (the vocabulary IS small —
    * this is the common case and what single-node trainers do); above
    * it, the per-round aggregation loop stays distributed. Identical
    * output by construction (specced). */
  def trainMerges(
      docs: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L, maxDriverWords: Int = 2000000): Seq[(String, String, Long)] = {
    val wf = wordFreq(docs, textCol)
    val probe = wf.limit(maxDriverWords + 1).count()
    if (probe <= maxDriverWords) {
      import docs.sparkSession.implicits._
      trainFromCounts(wf.as[(String, Long)].collect().toSeq, numMerges, minFreq)
    } else trainMergesDistributed(wf, numMerges, minFreq)
  }

  /** Exact greedy BPE over collected word counts (driver-side path). */
  def trainFromCounts(
      counts: Seq[(String, Long)], numMerges: Int, minFreq: Long = 2L): Seq[(String, String, Long)] = {
    // words as mutable symbol sequences; start from codepoints
    val words: Array[(ArrayBuffer[String], Long)] =
      counts.map { case (w, f) => (charSymbols(w), f) }.toArray
    val merges = ArrayBuffer.empty[(String, String, Long)]
    var rounds = 0
    var stop = false
    while (rounds < numMerges && !stop) {
      val pc = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (toks, f) =>
        var i = 0
        while (i < toks.length - 1) {
          val k = (toks(i), toks(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (pc.isEmpty) stop = true
      else {
        val ((a, b), f) = pc.min(argmaxOrdering)
        if (f < minFreq) stop = true
        else {
          merges += ((a, b, f))
          var w = 0
          while (w < words.length) {
            words(w) = (applyMerge(words(w)._1, a, b), words(w)._2)
            w += 1
          }
          rounds += 1
        }
      }
    }
    merges.toSeq
  }

  /** Leftmost-non-overlapping replacement of adjacent (a, b) — the
    * same sweep [[BpeVocab.encodeWord]] applies at encode time. */
  private def applyMerge(toks: ArrayBuffer[String], a: String, b: String): ArrayBuffer[String] = {
    val out = new ArrayBuffer[String](toks.length)
    var j = 0
    while (j < toks.length) {
      if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
        out += a + b; j += 2
      } else { out += toks(j); j += 1 }
    }
    out
  }

  /** Codepoint-order string compare — equal to UTF-8 binary order,
    * i.e. exactly how Spark's `orderBy` compares UTF8Strings in the
    * distributed argmax. `String.compareTo` (UTF-16 code units) is NOT
    * this order above the BMP. */
  private[operators] def cpCompare(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** max freq, ties by (left, right) ascending codepoint order — the
    * shared argmax rule, expressed as a `min` ordering. */
  private val argmaxOrdering: Ordering[((String, String), Long)] =
    Ordering.fromLessThan { case (((a1, b1), f1), ((a2, b2), f2)) =>
      if (f1 != f2) f1 > f2
      else {
        val ca = cpCompare(a1, a2)
        if (ca != 0) ca < 0 else cpCompare(b1, b2) < 0
      }
    }

  private def charSymbols(word: String): ArrayBuffer[String] = {
    val buf = new ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      buf += word.substring(i, i + n)
      i += n
    }
    buf
  }

  /** Distributed trainer over a (word, freq) table: per round, ONE
    * vocabulary-sized pair-count aggregation + a 1-row argmax collect,
    * then a map-only columnar rewrite. The evolving symbol table is
    * persisted each round so cached data — and with it the per-round
    * cost — stays flat in the round count; the PREVIOUS round's cache
    * is freed only after the argmax job has materialized the current
    * one (one blocking job per round, not two: the rewrite is never
    * counted eagerly). */
  /** @param checkpointEvery every N rounds the symbol table's LINEAGE
    *   is truncated with [[graft.util.Caches.cut]] — without it each
    *   round wraps one more Project over the plan and Catalyst
    *   re-analyzes the whole O(rounds)-deep tree every round, an
    *   O(rounds²) driver cost that is invisible at 12 merges and
    *   fatal at a production 32k-merge vocabulary. One extra job per
    *   N rounds; output unaffected (specced). */
  def trainMergesDistributed(
      wordFreq: DataFrame, numMerges: Int, minFreq: Long = 2L,
      checkpointEvery: Int = 64): Seq[(String, String, Long)] = {
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val merges = ArrayBuffer.empty[(String, String, Long)]
    // codepoint symbols via the native n-gram walk (n=1 → one symbol
    // per CODEPOINT, surrogate pairs intact) — the same segmentation
    // charSymbols gives the driver path, so the two trainers agree
    // beyond the BMP (split(word, '') would shear surrogate pairs)
    var cur = Caches.persist(wordFreq.select(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.plans.CharNgramsExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("word")), 1))
        .as("toks"),
      col("freq")))
    var prev: DataFrame = null
    var rounds = 0
    var stop = false
    while (rounds < numMerges && !stop) {
      val top = cur
        .filter(size(col("toks")) > 1)
        .select(explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), (x, i) -> struct(x AS a, toks[i + 1] AS b))"))
          .as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("f"))
        .orderBy(col("f").desc, col("a"), col("b"))
        .limit(1).collect()
      // the argmax job above just materialized `cur`'s cache — the
      // previous round's cache is no longer an input to anything live
      if (prev != null) { Caches.release(prev); prev = null }
      if (top.isEmpty || top.head.getLong(2) < minFreq) stop = true
      else {
        val (a, b, f) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((a, b, f))
        // leftmost-non-overlapping rewrite as a fold: state = (acc,
        // skip) where skip marks "position consumed by the previous
        // merge". Words are short, so the per-step array append is
        // fine. Guarded by a cheap containment test: a word without
        // BOTH symbols cannot contain the adjacent pair, and the fold
        // is the identity on it — skipping the per-codepoint struct
        // fold (and its array reallocation) for the overwhelming
        // majority of the vocabulary each round (~3× on the rewrite
        // stages at sf0.1; the win grows with vocabulary size).
        val rewritten = cur.select(
          when(array_contains(col("toks"), a) && array_contains(col("toks"), b),
            expr(
              s"""aggregate(
                 |  sequence(1, size(toks)),
                 |  struct(CAST(array() AS ARRAY<STRING>) AS acc, false AS skip),
                 |  (st, i) -> CASE
                 |    WHEN st.skip THEN struct(st.acc AS acc, false AS skip)
                 |    WHEN i < size(toks) AND toks[i - 1] = ${sqlLit(a)} AND toks[i] = ${sqlLit(b)}
                 |      THEN struct(array_append(st.acc, ${sqlLit(a + b)}) AS acc, true AS skip)
                 |    ELSE struct(array_append(st.acc, toks[i - 1]) AS acc, false AS skip)
                 |  END,
                 |  st -> st.acc)""".stripMargin))
            .otherwise(col("toks")).as("toks"),
          col("freq"))
        prev = cur
        rounds += 1
        // checkpoint rounds trade one eager job for a flat plan; all
        // other rounds stay lazy (materialized by the next argmax)
        cur =
          if (rounds % checkpointEvery == 0) Caches.cut(rewritten)
          else Caches.persist(rewritten)
      }
    }
    merges.toSeq
  }

  /** Single-quoted Spark SQL string literal (merge symbols may contain
    * any character the corpus does — Spark treats backslash as an
    * escape inside single quotes, so it must be doubled too). */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Learned merges → the broadcastable encoder vocab. */
  def toVocab(merges: Seq[(String, String, Long)]): BpeVocab =
    BpeVocab(merges.map { case (a, b, _) => (a, b) })
}
