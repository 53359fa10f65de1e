package graft.operators

import graft.functions.TextFunctions
import graft.util.{Caches, Jobs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus n-gram language-model scoring — the CCNet-style perplexity
 * quality signal (Wenzek et al. 2020 §3.2, public method: documents
 * whose text is improbable under a language model are low-quality or
 * wrong-language). Every model trains on a corpus given as a frame
 * (the scored corpus itself, or a reference snapshot), so the whole
 * computation is engine-portable — no external model file.
 *
 * Scale shape, shared by every scorer: count tables are linear
 * hash-aggregate shuffles over the exploded gram stream; scoring joins
 * each document gram against them on its gram keys (vocabulary-bounded
 * build sides are NOT assumed broadcastable) and reduces per document.
 * The scorers share one tokenizer ([[tokenized]]), one gram explode
 * ([[grams]]) and one per-document reducer ([[perDocument]]): per-gram
 * −ln P is rounded to integer micro-nats BEFORE the per-doc sum, so
 * the total is exact long arithmetic, and the mean is rounded half-up
 * in exact integers — independent of float summation order,
 * partitioning, and engine. The three Kneser-Ney entry points share
 * one core ([[knCore]]).
 */
object TextModel {

  /** The one tokenizer: the canonical text's words as `__toks`,
    * beside the `keep` columns. */
  private def tokenized(df: DataFrame, keep: Seq[Column], text: String): DataFrame =
    df.select(keep :+
      TextFunctions.tokens(TextFunctions.canonicalText(col(text))).as("__toks"): _*)

  /** One row per n-gram OCCURRENCE of `__toks` (explode preserves
    * multiplicity — a repeated gram is evidence each time it
    * appears), beside the `keep` columns; n = 1 explodes the words. */
  private def grams(toks: DataFrame, keep: Seq[String], n: Int, as: String): DataFrame =
    toks.select(keep.map(col) :+ explode(
      if (n == 1) col("__toks") else TextFunctions.shinglesFromTokens(col("__toks"), n)
    ).as(as): _*)

  // gram-position helpers over space-joined n-grams
  private def prefix(g: Column, n: Int): Column = substring_index(g, " ", n)
  private def suffix(g: Column, n: Int): Column = substring_index(g, " ", -n)
  // words i..j (1-based) of an n-gram: suffix to drop the head, then
  // prefix to keep the span
  private def span(g: Column, i: Int, j: Int, n: Int): Column =
    prefix(suffix(g, n - i + 1), j - i + 1)

  /** The one per-document reducer: each gram's probability `p` becomes
    * −ln p in rounded integer micro-nats, and each `keys` group gets its
    * gram count `nName` and `avg_neg_logp`, the mean rounded half-up to
    * the micro-nat in exact integers, ((2·Σm + n) div 2n) / 10⁶. No
    * double is ever rounded at a tie, so the oracle's integer replay
    * agrees on every row. */
  private[operators] def perDocument(
      scored: DataFrame, keys: Seq[Column], nName: String, p: Column): DataFrame =
    scored.withColumn("__nlp_micro", round(-log(p) * 1e6).cast("long"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as(nName),
        (expr("(2 * sum(__nlp_micro) + count(1)) div (2 * count(1))") / 1e6)
          .as("avg_neg_logp"))

  /**
   * Per-document mean negative log-probability (natural log,
   * micro-nat precision) under the bigram model TRAINED ON THE CORPUS
   * ITSELF (self-perplexity: boilerplate and in-distribution text
   * score low, anomalous text scores high):
   *
   *   P(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k·V)
   *
   * with V = |unigram vocabulary| — [[bigramCrossPerplexity]] with the
   * corpus as its own reference (every bigram is in its own table, so
   * the cross form's unseen-gram fallback never fires). Documents with
   * fewer than 2 tokens have no bigrams and are absent from the output
   * (they carry no evidence either way — callers decide their fate).
   *
   * Returns (id, n_bigrams, avg_neg_logp) — `avg_neg_logp` rises with
   * how surprising the document is to the corpus; e^avg_neg_logp is
   * the conventional per-token perplexity.
   */
  def bigramSelfPerplexity(
      docs: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame =
    bigramCrossPerplexity(docs, textCol, docs, idCol, textCol, k)

  /**
   * CROSS-corpus perplexity — the actual CCNet/Wenzek et al. 2020
   * filter shape: train the smoothed bigram LM on a REFERENCE corpus
   * (the "good text" side, e.g. Wikipedia), score every target
   * document against it, keep the low-perplexity head. Bigrams and
   * unigrams unseen in training fall back to the pure-smoothing mass
   * ((0 + k) / (0 + k·V)) — the same add-k limit, never a null or a
   * division blowup.
   *
   * The LM side collapses to vocabulary-sized count tables joined on
   * the bigram/unigram keys (shuffle joins, not broadcast — a reference
   * LM over a web-scale corpus is itself large), and the 1-row
   * vocabulary size rides a broadcast crossJoin.
   */
  def bigramCrossPerplexity(
      reference: DataFrame, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame = {
    require(k > 0.0, "smoothing k must be positive")
    val refToks = tokenized(reference, Nil, refTextCol)
    val refBg = grams(refToks, Nil, 2, "bg").groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val refUni = grams(refToks, Nil, 1, "w1").groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val vocab = refUni.agg(count(lit(1)).cast("double").as("v"))

    val bigrams = grams(tokenized(docs, Seq(col(idCol).as("id")), textCol), Seq("id"), 2, "bg")
      .select(col("id"), col("bg"), prefix(col("bg"), 1).as("w1"))
    perDocument(
      bigrams
        .join(refBg, Seq("bg"), "left")
        .join(refUni, Seq("w1"), "left")
        .na.fill(0L, Seq("c_bg", "c_w1"))
        .crossJoin(broadcast(vocab)),
      Seq(col("id").as(idCol)), "n_bigrams",
      (col("c_bg") + k) / (col("c_w1") + lit(k) * col("v")))
  }

  /**
   * CROSS-corpus TRIGRAM perplexity with STUPID BACKOFF (Brants et
   * al. 2007 "Large Language Models in Machine Translation", public
   * method — the web-scale scoring scheme that replaces normalized
   * smoothing with a fixed backoff penalty, chosen there precisely
   * because it needs only raw count tables and no discount
   * renormalization pass, i.e. the MapReduce/Spark-friendly LM):
   *
   *   S(w3|w1 w2) = c(w1w2w3)/c(w1w2)                 if c(w1w2w3) > 0
   *               = α · c(w2w3)/c(w2)                 else if c(w2w3) > 0
   *               = α² · (c(w3)+k)/(N+k·V)            otherwise
   *
   * with the canonical α = 0.4 and an add-k unigram floor so OOV
   * words score finite (stupid backoff leaves OOV undefined; the
   * add-k floor is the same limit the bigram forms use). This is the
   * CCNet-grade upgrade over [[bigramCrossPerplexity]]: order-3
   * context with graceful degradation instead of collapsing every
   * unseen bigram straight to the smoothing mass.
   *
   * Scale shape: the reference LM is THREE count tables (trigram,
   * bigram, unigram — each one linear hash aggregate); scoring joins
   * each document trigram against the trigram table once, the bigram
   * table twice (context w1w2 and backoff w2w3), and the unigram
   * table twice (w2 and w3) — all shuffle equi-joins on the n-gram
   * key; N and V ride a 1-row broadcast crossJoin.
   *
   * Documents with fewer than 3 tokens have no trigrams and are
   * absent from the output, as in the bigram forms.
   */
  def trigramBackoffCrossPerplexity(
      reference: DataFrame, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.4, k: Double = 0.5): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(k > 0.0, "smoothing k must be positive")
    val refToks = tokenized(reference, Nil, refTextCol)
    val refTri = grams(refToks, Nil, 3, "tg").groupBy("tg").agg(count(lit(1)).as("c_tri"))
    val refBg = grams(refToks, Nil, 2, "bg").groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val refUni = grams(refToks, Nil, 1, "w").groupBy("w").agg(count(lit(1)).as("c_w"))
    val scal = refUni.agg(
      count(lit(1)).cast("double").as("v"),
      sum(col("c_w")).cast("double").as("n_tokens"))

    val tg = col("tg")
    val tris = grams(tokenized(docs, Seq(col(idCol).as("id")), textCol), Seq("id"), 3, "tg")
      .select(col("id"), tg, prefix(tg, 2).as("ctx12"), suffix(tg, 2).as("suf23"),
        span(tg, 2, 2, 3).as("w2"), suffix(tg, 1).as("w3"))
    val joined = tris
      .join(refTri, Seq("tg"), "left")
      .join(refBg.toDF("ctx12", "c_ctx"), Seq("ctx12"), "left")
      .join(refBg.toDF("suf23", "c_suf"), Seq("suf23"), "left")
      .join(refUni.toDF("w2", "c_w2"), Seq("w2"), "left")
      .join(refUni.toDF("w3", "c_w3"), Seq("w3"), "left")
      .na.fill(0L, Seq("c_tri", "c_ctx", "c_suf", "c_w2", "c_w3"))
      .crossJoin(broadcast(scal))
    // c(w1w2w3) > 0 ⟹ c(w1w2) > 0 and c(w2w3) > 0 ⟹ c(w2) > 0, so
    // neither in-tier division can hit zero
    perDocument(joined, Seq(col("id").as(idCol)), "n_trigrams",
      when(col("c_tri") > 0, col("c_tri") / col("c_ctx"))
        .when(col("c_suf") > 0, (lit(alpha) * col("c_suf")) / col("c_w2"))
        .otherwise((lit(alpha) * lit(alpha) * (col("c_w3") + k)) /
          (col("n_tokens") + lit(k) * col("v"))))
  }

  /**
   * CROSS-corpus 5-GRAM perplexity under INTERPOLATED KNESER-NEY
   * smoothing (Kneser & Ney 1995; the interpolated formulation of
   * Chen & Goodman 1999, public method — what the actual CCNet filter
   * runs, as a KenLM 5-gram) — the full-strength upgrade over
   * [[trigramBackoffCrossPerplexity]]'s stupid backoff:
   *
   *   P₅(w|ctx₄)  = (max(c(ctx₄w) − D, 0) + D·N₁₊(ctx₄•)·P₄) / c(ctx₄)
   *   Pₖ(w|ctxₖ₋₁)= (max(N₁₊(•ctxₖ₋₁w) − D, 0) + D·N₁₊ᵈ(ctxₖ₋₁)·Pₖ₋₁)
   *                   / N₁₊(•ctxₖ₋₁•)                      for k = 2..4
   *   P₁(w)       = (N₁₊(•w) + k) / (N₁₊(••) + k·V)
   *
   * with one fixed discount D, CONTINUATION counts at every order
   * below the top (N₁₊(•x) = distinct left-extensions of x — the KN
   * insight: "how many contexts does x complete", not "how often"),
   * N₁₊ᵈ(ctx) = distinct continuations of ctx among the counted
   * types, and an add-k floor on the continuation-unigram base so OOV
   * words score finite (the house discipline, same as the other LM
   * forms). An unseen context at any order carries no mass to
   * distribute — the tier is skipped entirely (its denominator is 0)
   * and scoring falls through to the next order, the standard backoff
   * for zero-count contexts. The top tier is also skipped when the
   * context exists but has NO counted continuation (a 4-gram seen
   * only at document ends): its λ would be 0 and a zero-probability
   * hole would open at c₅ = 0.
   *
   * Scale shape: see [[knCore]]; the t66 oracle replays every tier
   * term-for-term.
   *
   * Documents with fewer than 5 tokens have no 5-grams and are absent
   * from the output, as in the lower-order forms.
   */
  def knFivegramCrossPerplexity(
      reference: DataFrame, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, k: Double = 0.5): DataFrame =
    knCore(reference, None, refTextCol, docs, idCol, None, textCol,
      Some(discount), k)

  /**
   * The PER-LANGUAGE form of [[knFivegramCrossPerplexity]] — the CCNet
   * production shape (Wenzek et al. 2020 train ONE KenLM per language
   * and route documents by language ID before scoring): every
   * reference count table is keyed by `(lang, gram)` so ALL language
   * models train in ONE pass over the reference (no per-language
   * re-scan — at 100 langs a fan-out of per-language jobs would read
   * the reference 100 times), and each document's grams join the
   * tables of ITS OWN `docLangCol` value. Documents routed to a
   * language absent from the reference have no model to score against
   * and are absent from the output (as are <5-token documents, like
   * the single-model form). Returns (idCol, docLangCol, n_fivegrams,
   * avg_neg_logp).
   */
  def knFivegramCrossPerplexityByLang(
      reference: DataFrame, refLangCol: String, refTextCol: String,
      docs: DataFrame, idCol: String, docLangCol: String, textCol: String,
      discount: Double = 0.75, k: Double = 0.5): DataFrame =
    knCore(reference, Some(refLangCol), refTextCol,
      docs, idCol, Some(docLangCol), textCol, Some(discount), k)

  /**
   * MODIFIED Kneser-Ney 5-gram cross-perplexity (Chen & Goodman 1999
   * §3, the KenLM DEFAULT — what CCNet literally ships): the
   * [[knFivegramCrossPerplexity]] recursion with THREE count-dependent
   * discounts per order instead of one fixed value. Per order, the
   * discounts D1/D2/D3+ come closed-form from that order's
   * count-of-counts ([[mknDiscounts]] — estimated over raw 5-gram
   * counts at the top, continuation counts below), the discount
   * applied to a gram depends on its own count bucket, and the
   * interpolation weight is the bucket-weighted
   * (D1·N1(ctx•) + D2·N2(ctx•) + D3·N3+(ctx•)) / denom — so contexts
   * whose continuations are mostly singletons (hapax-heavy, poorly
   * estimated) hand MORE mass to the lower order, which is the entire
   * point of the modification.
   *
   * Count-of-counts are the ONLY driver-side values (sixteen longs —
   * a KB-scale synopsis in the house discipline); the discounts they
   * induce enter the plan as literals, exactly like the ANN
   * centroids. Everything else is [[knCore]]'s plan. The t68 oracle
   * recomputes the same discounts from the same integer counts with
   * the same arithmetic shape and replays every tier.
   */
  def modifiedKnFivegramCrossPerplexity(
      reference: DataFrame, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame =
    knCore(reference, None, refTextCol, docs, idCol, None, textCol, None, k)

  /** The Kneser-Ney scorer under all three entry points: one fixed
    * `discount` at every order, or, when it is None, modified KN's
    * per-order discount triples estimated from count-of-counts.
    * Single-model when the lang columns are None (count tables keyed
    * by gram alone, the 1-row scalars broadcast by crossJoin),
    * per-language otherwise (every key gains the lang column; the
    * per-language scalars ride a |langs|-row broadcast equi-join).
    *
    * The reference LM is ten count tables, every one a linear hash
    * aggregate: raw 5-gram counts `t5` and 4-gram context counts `c4`;
    * continuation counts `cont4`..`cont1` from DISTINCT n-gram types;
    * and one bucket table per context order holding N1/N2/N3+ of its
    * continuations' counts (N1₊ = their sum is plain KN's λ) and,
    * below the top, the denominator Σcont. Scoring joins each
    * document 5-gram against them by its nested gram keys — shuffle
    * equi-joins (web-scale LM tables are never assumed broadcastable);
    * the two scalars (distinct-bigram total, vocabulary) ride a
    * broadcast. */
  private def knCore(
      reference: DataFrame, refLangCol: Option[String], refTextCol: String,
      docs: DataFrame, idCol: String, docLangCol: Option[String], textCol: String,
      discount: Option[Double], k: Double): DataFrame = {
    discount.foreach(d => require(d > 0.0 && d < 1.0,
      s"discount must be in (0,1), got $d"))
    require(k > 0.0, "smoothing k must be positive")
    require(refLangCol.isDefined == docLangCol.isDefined,
      "lang routing needs a lang column on BOTH sides")
    val routed = refLangCol.isDefined
    // the extra grouping/join key when routing; empty when not
    val langKey: Seq[String] = if (routed) Seq("__lang") else Seq.empty
    def keyed(first: String): Seq[String] = first +: langKey
    def grp(df: DataFrame, cs: Column*) = df.groupBy(cs ++ langKey.map(col): _*)
    // the estimated path reads these tables in its count-of-counts
    // jobs and again when scoring
    def held(df: DataFrame): DataFrame =
      if (discount.isEmpty) Caches.persist(df) else df

    val refToks = tokenized(reference, refLangCol.map(col(_).as("__lang")).toSeq, refTextCol)
    def refGrams(n: Int): DataFrame = grams(refToks, langKey, n, "g")
    def types(n: Int): DataFrame = refGrams(n).select(keyed("g").map(col): _*).distinct()
    def cont(df: DataFrame, n: Int, key: String, name: String): DataFrame =
      grp(df, suffix(col("g"), n).as(key)).agg(count(lit(1)).as(name))

    // ---- the count tables -------------------------------------------
    val t5 = held(grp(refGrams(5), col("g")).agg(count(lit(1)).as("c5")))
    val c4 = grp(refGrams(4), col("g")).agg(count(lit(1)).as("c4"))
      .withColumnRenamed("g", "ctx4")
    // continuation counts: the 4-gram suffixes of distinct 5-gram
    // types, and so on down. (Deriving order 3 from the c4 count
    // table's keys was measured SLOWER on llm02 — that aggregation
    // subtree is not exchange-reused across its three consumers.)
    val cont4 = held(cont(t5, 4, "g4s", "cont4"))
    val cont3 = held(cont(types(4), 3, "g3s", "cont3"))
    val cont2 = held(cont(types(3), 2, "g2s", "cont2"))
    val t2types = types(2)
    val cont1 = cont(t2types, 1, "w5k", "cont1")
    def countIf(hit: Column): Column = sum(when(hit, 1L).otherwise(0L))
    // per context: N1/N2/N3+ of its continuations' counts and, below
    // the top (whose denominator is the raw c4), the denominator Σcnt
    def buckets(df: DataFrame, ctx: Column, cnt: String, tag: String,
        denom: Boolean): DataFrame = {
      val ns = Seq(countIf(col(cnt) === 1).as(s"n1$tag"),
        countIf(col(cnt) === 2).as(s"n2$tag"), countIf(col(cnt) >= 3).as(s"n3p$tag"))
      val aggs = if (denom) sum(col(cnt)).as(s"denom$tag") +: ns else ns
      grp(df, ctx).agg(aggs.head, aggs.tail: _*)
    }
    val top = buckets(t5, prefix(col("g"), 4).as("ctx4"), "c5", "t", denom = false)
    val mid4 = buckets(cont4, prefix(col("g4s"), 3).as("ctx3"), "cont4", "4", denom = true)
    val mid3 = buckets(cont3, prefix(col("g3s"), 2).as("ctx2"), "cont3", "3", denom = true)
    val mid2 = buckets(cont2, prefix(col("g2s"), 1).as("w4k"), "cont2", "2", denom = true)
    val scalars = {
      val denom1 = grp(t2types).agg(count(lit(1)).cast("double").as("denom1"))
      val v = grp(types(1)).agg(count(lit(1)).cast("double").as("v"))
      if (routed) denom1.join(v, langKey) else denom1.crossJoin(v)
    }

    // ---- per-order discount triples: top, 4, 3, 2 -------------------
    val Seq(discTop, disc4, disc3, disc2) = discount match {
      case Some(d) => Seq.fill(4)((d, d, d))
      case None =>
        def countOfCounts(df: DataFrame, cnt: String): (Double, Double, Double) = {
          val r = df.agg(countIf(col(cnt) === 1),
            countIf(col(cnt) === 2), countIf(col(cnt) === 3), countIf(col(cnt) === 4)).first()
          mknDiscounts(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
        // t5 first ON ITS OWN (its job fills the t5 cache that cont4's
        // scan reads), then the three lower orders OVERLAPPED (each is
        // its own persisted table with no shared uncached parent, so
        // no first-touch race)
        countOfCounts(t5, "c5") +: Jobs.inParallel(Seq(
          () => countOfCounts(cont4, "cont4"),
          () => countOfCounts(cont3, "cont3"),
          () => countOfCounts(cont2, "cont2")))
    }

    // ---- score the target documents ---------------------------------
    val toks = tokenized(docs,
      col(idCol).as("id") +: docLangCol.map(col(_).as("__lang")).toSeq, textCol)
    val g = col("g")
    val fivegrams = grams(toks, keyed("id"), 5, "g")
      .select((keyed("id").map(col) ++ Seq(g,
        prefix(g, 4).as("ctx4"),
        suffix(g, 4).as("g4s"),
        span(g, 2, 4, 5).as("ctx3"),
        suffix(g, 3).as("g3s"),
        span(g, 3, 4, 5).as("ctx2"),
        suffix(g, 2).as("g2s"),
        span(g, 4, 4, 5).as("w4k"),
        suffix(g, 1).as("w5k"))): _*)
    val joined0 = fivegrams
      .join(t5, keyed("g"), "left")
      .join(c4, keyed("ctx4"), "left")
      .join(top, keyed("ctx4"), "left")
      .join(cont4, keyed("g4s"), "left")
      .join(mid4, keyed("ctx3"), "left")
      .join(cont3, keyed("g3s"), "left")
      .join(mid3, keyed("ctx2"), "left")
      .join(cont2, keyed("g2s"), "left")
      .join(mid2, keyed("w4k"), "left")
      .join(cont1, keyed("w5k"), "left")
      .na.fill(0L, Seq("c5", "c4", "n1t", "n2t", "n3pt",
        "cont4", "denom4", "n14", "n24", "n3p4",
        "cont3", "denom3", "n13", "n23", "n3p3",
        "cont2", "denom2", "n12", "n22", "n3p2", "cont1"))
    val joined =
      if (routed) joined0.join(broadcast(scalars), langKey)
      else joined0.crossJoin(broadcast(scalars))

    // one tier: (max(cnt − D(cnt), 0) + mass·lower) / denom when the
    // context was seen with a counted continuation, else fall through.
    // Below the top, denom > 0 already implies N1₊ > 0; at the top a
    // context seen only at document ends has c4 > 0 but N1₊ = 0, and
    // would score a c5 = 0 gram exactly 0. The discount follows the
    // gram's count bucket and the mass is D1·N1 + D2·N2 + D3·N3+.
    // Equal discounts (plain KN) take D and D·N1₊ directly: the same
    // doubles at D = 0.75, but the bucketed form measured ~3.5% slower
    // on the corpus pipeline (plans/textmodel/corpus_ab_summary.txt).
    def tier(cnt: Column, tag: String, denom: Column,
        d: (Double, Double, Double), lower: Column): Column = {
      val (d1, d2, d3) = d
      val (n1, n2, n3) = (col(s"n1$tag"), col(s"n2$tag"), col(s"n3p$tag"))
      val n1p = n1 + n2 + n3
      val (dCnt, mass) =
        if (d1 == d2 && d2 == d3) (lit(d1), lit(d1) * n1p)
        else (when(cnt >= 3, d3).when(cnt === 2, d2).when(cnt === 1, d1).otherwise(0.0),
          lit(d1) * n1 + lit(d2) * n2 + lit(d3) * n3)
      when(denom > 0 && n1p > 0, (greatest(cnt - dCnt, lit(0.0)) + mass * lower) / denom)
        .otherwise(lower)
    }
    val p1 = (col("cont1") + k) / (col("denom1") + lit(k) * col("v"))
    val p2 = tier(col("cont2"), "2", col("denom2"), disc2, p1)
    val p3 = tier(col("cont3"), "3", col("denom3"), disc3, p2)
    val p4 = tier(col("cont4"), "4", col("denom4"), disc4, p3)
    val p5 = tier(col("c5"), "t", col("c4"), discTop, p4)

    val out = perDocument(joined,
      col("id").as(idCol) +: docLangCol.map(col("__lang").as(_)).toSeq, "n_fivegrams", p5)
    if (discount.isDefined) out
    else {
      // the doc-sized result materializes while the count tables are
      // still cached; they release now, not at the end of the query
      val scored = Caches.cut(out)
      Seq(t5, cont4, cont3, cont2).foreach(Caches.release)
      scored
    }
  }

  /**
   * CCNet PER-LANGUAGE bucketing — the full §4 composition of Wenzek
   * et al. 2020 (the t42→t66→t70 stack as ONE operator): character-
   * n-gram language ID routes each document (profiles trained on the
   * LABELED reference — [[LangId]]), an interpolated-KN 5-gram model
   * PER REFERENCE LANGUAGE scores it against its own language's model
   * (all models trained in one lang-keyed pass —
   * [[knFivegramCrossPerplexityByLang]]), and head/middle/tail
   * perplexity terciles are cut WITHIN each language (CCNet's buckets
   * are per-language by construction: a global cut would mislabel
   * every doc of a language whose model is generally more or less
   * surprised). Routing matters — against one mixed-language model a
   * document's tercile mostly reflects how much of the reference
   * happens to share its language; spec-pinned to differ from the
   * single-model baseline.
   *
   * Returns (idCol, pred_lang, avg_neg_logp, bucket); documents with
   * <langN canonical chars (no langid grams), <5 tokens (no 5-grams),
   * or routed to a language absent from the reference are absent —
   * callers decide their fate, as in t66/t70.
   *
   * SCALE NOTE (the t70 discipline): the exact per-language tercile
   * is a per-language single-partition window — fine while any one
   * language fits a partition (CCNet's own regime: per-language
   * shards); at 100 TB-of-one-language compute the two boundaries
   * with approx_percentile per language and label map-side.
   */
  def ccnetPerLanguageBuckets(
      reference: DataFrame, refLangCol: String, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, k: Double = 0.5,
      langN: Int = 3, langTopK: Int = 40): DataFrame = {
    val ppl = routedPerplexity(reference, refLangCol, refTextCol,
      docs, idCol, textCol, discount, k, langN, langTopK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pred_lang")).orderBy(col("avg_neg_logp"), col(idCol))
    ppl.withColumn("__b", ntile(3).over(w))
      .select(col(idCol), col("pred_lang"), col("avg_neg_logp"),
        when(col("__b") === 1, lit("head"))
          .when(col("__b") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /**
   * The 100 TB form of [[ccnetPerLanguageBuckets]] — BOUNDARY
   * bucketing instead of the exact per-language rank window (whose
   * single partition per language is fine in CCNet's per-language-
   * shard regime but not at 100 TB of ONE language): the two tercile
   * boundaries per language come from `approx_percentile` (one
   * aggregate pass, a 2-double-per-language synopsis) and the labels
   * are applied MAP-SIDE under a broadcast of the |langs|-row boundary
   * table — no window, no per-language partition, no sort.
   *
   * Semantics difference, by design: boundary labeling is VALUE-based
   * — every doc at one score lands in one bucket (ties never straddle
   * a boundary), and bucket sizes are approximate rather than exactly
   * n/3 (spec-pinned within the sketch's rank-error of the exact
   * tercile cut; at `accuracy` ≥ the per-language doc count the
   * boundaries are exact order statistics).
   */
  def ccnetPerLanguageBucketsApprox(
      reference: DataFrame, refLangCol: String, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, k: Double = 0.5,
      langN: Int = 3, langTopK: Int = 40,
      accuracy: Int = 10000): DataFrame = {
    val ppl = routedPerplexity(reference, refLangCol, refTextCol,
      docs, idCol, textCol, discount, k, langN, langTopK)
    val bounds = ppl.groupBy("pred_lang").agg(
      percentile_approx(col("avg_neg_logp"), lit(1.0 / 3), lit(accuracy)).as("__b1"),
      percentile_approx(col("avg_neg_logp"), lit(2.0 / 3), lit(accuracy)).as("__b2"))
    ppl.join(broadcast(bounds), Seq("pred_lang"))
      .select(col(idCol), col("pred_lang"), col("avg_neg_logp"),
        when(col("avg_neg_logp") <= col("__b1"), lit("head"))
          .when(col("avg_neg_logp") <= col("__b2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Shared front half of the CCNet bucketers: langid routing +
    * per-language KN scoring. */
  private def routedPerplexity(
      reference: DataFrame, refLangCol: String, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      discount: Double, k: Double, langN: Int, langTopK: Int): DataFrame = {
    val profiles = LangId.trainProfiles(
      reference, refLangCol, refTextCol, langN, langTopK)
    val routed = docs.withColumn("pred_lang",
      LangId.classifyColumn(col(textCol), profiles, langN, langTopK).getField("pred_lang"))
    knFivegramCrossPerplexityByLang(
      reference, refLangCol, refTextCol,
      routed, idCol, "pred_lang", textCol, discount, k)
  }

  /** The Chen & Goodman (1999) closed-form discount estimates from an
    * order's count-of-counts (n_i = number of types with count exactly
    * i): Y = n1/(n1+2n2); D1 = 1−2Y·n2/n1, D2 = 2−3Y·n3/n2,
    * D3+ = 3−4Y·n4/n3, clamped at 0. When any bucket is EMPTY (a
    * corpus too small for the estimator — KenLM hard-errors here) the
    * order falls back to the fixed 0.75 of
    * [[knFivegramCrossPerplexity]], which makes modified KN collapse
    * to plain interpolated KN exactly (spec-pinned). */
  private[operators] def mknDiscounts(
      n1: Long, n2: Long, n3: Long, n4: Long): (Double, Double, Double) =
    if (n1 > 0 && n2 > 0 && n3 > 0 && n4 > 0) {
      val y = n1.toDouble / (n1 + 2.0 * n2)
      (math.max(0.0, 1.0 - 2.0 * y * n2 / n1),
        math.max(0.0, 2.0 - 3.0 * y * n3 / n2),
        math.max(0.0, 3.0 - 4.0 * y * n4 / n3))
    } else (0.75, 0.75, 0.75)
}
