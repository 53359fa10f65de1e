package graft.operators

import graft.functions.TextFunctions
import graft.util.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Corpus n-gram language-model scoring — the CCNet-style perplexity
 * quality signal (Wenzek et al. 2020 §3.2, public method: documents
 * whose text is improbable under a language model are low-quality or
 * wrong-language). Here the model is a bigram LM with add-k smoothing
 * TRAINED ON THE CORPUS ITSELF (self-perplexity: boilerplate and
 * in-distribution text score low, anomalous text scores high), so the
 * whole computation is engine-portable — no external model file.
 *
 * Scale shape: bigram and unigram counts are two linear
 * hash-aggregate shuffles over the exploded token stream; scoring
 * joins each document's bigrams against the count tables keyed by the
 * bigram/unigram (linear, vocabulary-bounded build sides are NOT
 * assumed broadcastable) and reduces per document. Per-bigram log
 * probabilities are rounded to integer micro-nats BEFORE the per-doc
 * sum, so the total is exact long arithmetic — independent of float
 * summation order, partitioning, and engine.
 */
object TextModel {

  /**
   * Per-document mean negative log-probability (natural log,
   * micro-nat precision) under the corpus bigram model:
   *
   *   P(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k·V)
   *
   * with V = |unigram vocabulary|. Documents with fewer than 2 tokens
   * have no bigrams and are absent from the output (they carry no
   * evidence either way — callers decide their fate).
   *
   * Returns (id, n_bigrams, avg_neg_logp) — `avg_neg_logp` rises with
   * how surprising the document is to the corpus; e^avg_neg_logp is
   * the conventional per-token perplexity.
   */
  def bigramSelfPerplexity(
      docs: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame = {
    require(k > 0.0, "smoothing k must be positive")
    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(TextFunctions.canonicalText(col(textCol))).as("__toks"))
    // one row per bigram OCCURRENCE (explode preserves multiplicity —
    // a repeated bigram is evidence each time it appears)
    val bigrams = toks
      .select(col("id"), explode(TextFunctions.shinglesFromTokens(col("__toks"), 2)).as("bg"))
      .select(col("id"), col("bg"),
        substring_index(col("bg"), " ", 1).as("w1"))
    val bgCounts = bigrams.groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val uniCounts = toks
      .select(explode(col("__toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val vocab = uniCounts.agg(count(lit(1)).cast("double").as("v"))

    val scored = bigrams
      .join(bgCounts, Seq("bg"))
      .join(uniCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      // -ln P in integer micro-nats, rounded per bigram: the per-doc
      // sum below is then exact long arithmetic
      .withColumn("__nlp_micro",
        round(-log((col("c_bg") + k) / (col("c_w1") + lit(k) * col("v"))) * 1e6)
          .cast("long"))
    scored.groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round((sum(col("__nlp_micro")).cast("double") / count(lit(1))) / 1e6, 6)
          .as("avg_neg_logp"))
  }

  /**
   * CROSS-corpus perplexity — the actual CCNet/Wenzek et al. 2020
   * filter shape: train the smoothed bigram LM on a REFERENCE corpus
   * (the "good text" side, e.g. Wikipedia), score every target
   * document against it, keep the low-perplexity head. Bigrams and
   * unigrams unseen in training fall back to the pure-smoothing mass
   * ((0 + k) / (0 + k·V)) — the same add-k limit, never a null or a
   * division blowup.
   *
   * Same determinism and scale scheme as [[bigramSelfPerplexity]]:
   * per-bigram −ln P in rounded integer micro-nats so the per-doc sum
   * is exact Long arithmetic; the LM side collapses to
   * vocabulary-sized count tables joined on the bigram/unigram keys
   * (shuffle joins, not broadcast — a reference LM over a web-scale
   * corpus is itself large), and the 1-row vocabulary size rides a
   * broadcast crossJoin.
   */
  def bigramCrossPerplexity(
      reference: DataFrame, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame = {
    require(k > 0.0, "smoothing k must be positive")
    val refToks = reference.select(
      TextFunctions.tokens(TextFunctions.canonicalText(col(refTextCol))).as("__toks"))
    val refBg = refToks
      .select(explode(TextFunctions.shinglesFromTokens(col("__toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val refUni = refToks
      .select(explode(col("__toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val vocab = refUni.agg(count(lit(1)).cast("double").as("v"))

    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(TextFunctions.canonicalText(col(textCol))).as("__toks"))
    val bigrams = toks
      .select(col("id"), explode(TextFunctions.shinglesFromTokens(col("__toks"), 2)).as("bg"))
      .select(col("id"), col("bg"), substring_index(col("bg"), " ", 1).as("w1"))
    bigrams
      .join(refBg, Seq("bg"), "left")
      .join(refUni, Seq("w1"), "left")
      .na.fill(0L, Seq("c_bg", "c_w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__nlp_micro",
        round(-log((col("c_bg") + k) / (col("c_w1") + lit(k) * col("v"))) * 1e6)
          .cast("long"))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round((sum(col("__nlp_micro")).cast("double") / count(lit(1))) / 1e6, 6)
          .as("avg_neg_logp"))
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
   * key (an LM over a web-scale reference is itself large — never
   * assumed broadcastable); N and V ride a 1-row broadcast crossJoin.
   * Per-trigram −ln S is rounded to integer micro-nats BEFORE the
   * per-doc sum — exact Long arithmetic, engine-portable.
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
    val refToks = reference.select(
      TextFunctions.tokens(TextFunctions.canonicalText(col(refTextCol))).as("__toks"))
    val refTri = refToks
      .select(explode(TextFunctions.shinglesFromTokens(col("__toks"), 3)).as("tg"))
      .groupBy("tg").agg(count(lit(1)).as("c_tri"))
    val refBg = refToks
      .select(explode(TextFunctions.shinglesFromTokens(col("__toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val refUni = refToks
      .select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val scal = refUni.agg(
      count(lit(1)).cast("double").as("v"),
      sum(col("c_w")).cast("double").as("n_tokens"))

    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(TextFunctions.canonicalText(col(textCol))).as("__toks"))
    val tris = toks
      .select(col("id"), explode(TextFunctions.shinglesFromTokens(col("__toks"), 3)).as("tg"))
      .select(col("id"), col("tg"),
        substring_index(col("tg"), " ", 2).as("ctx12"),
        substring_index(col("tg"), " ", -2).as("suf23"),
        substring_index(substring_index(col("tg"), " ", -2), " ", 1).as("w2"),
        substring_index(col("tg"), " ", -1).as("w3"))
    tris
      .join(refTri, Seq("tg"), "left")
      .join(refBg.toDF("ctx12", "c_ctx"), Seq("ctx12"), "left")
      .join(refBg.toDF("suf23", "c_suf"), Seq("suf23"), "left")
      .join(refUni.toDF("w2", "c_w2"), Seq("w2"), "left")
      .join(refUni.toDF("w3", "c_w3"), Seq("w3"), "left")
      .na.fill(0L, Seq("c_tri", "c_ctx", "c_suf", "c_w2", "c_w3"))
      .crossJoin(broadcast(scal))
      // c(w1w2w3) > 0 ⟹ c(w1w2) > 0 and c(w2w3) > 0 ⟹ c(w2) > 0, so
      // neither in-tier division can hit zero
      .withColumn("__score",
        when(col("c_tri") > 0, col("c_tri") / col("c_ctx"))
          .when(col("c_suf") > 0, (lit(alpha) * col("c_suf")) / col("c_w2"))
          .otherwise((lit(alpha) * lit(alpha) * (col("c_w3") + k)) /
            (col("n_tokens") + lit(k) * col("v"))))
      .withColumn("__nlp_micro", round(-log(col("__score")) * 1e6).cast("long"))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_trigrams"),
        round((sum(col("__nlp_micro")).cast("double") / count(lit(1))) / 1e6, 6)
          .as("avg_neg_logp"))
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
   * Scale shape: the reference LM is NINE count tables — 5-gram and
   * 4-gram raw counts plus continuation/λ tables derived from DISTINCT
   * n-gram types at each order (every one a linear hash aggregate over
   * the exploded gram stream). Scoring joins each document 5-gram
   * against them by its nested gram keys — all shuffle equi-joins
   * (web-scale LM tables are never assumed broadcastable); the two
   * scalars (distinct-bigram total, vocabulary) ride a 1-row broadcast
   * crossJoin. Per-5-gram −ln P is rounded to integer micro-nats
   * BEFORE the per-doc sum — exact Long arithmetic, engine-portable;
   * the t66 oracle replays every tier term-for-term.
   *
   * Documents with fewer than 5 tokens have no 5-grams and are absent
   * from the output, as in the lower-order forms.
   */
  def knFivegramCrossPerplexity(
      reference: DataFrame, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, k: Double = 0.5): DataFrame =
    knCore(reference, None, refTextCol, docs, idCol, None, textCol,
      discount, k)

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
      docs, idCol, Some(docLangCol), textCol, discount, k)

  /** Shared interpolated-KN scorer: single-model when the lang
    * columns are None (count tables keyed by gram alone, the 1-row
    * scalars broadcast by crossJoin — byte-identical to the pre-r16
    * single-model plan), per-language otherwise (every key gains the
    * lang column; the per-language scalars ride a |langs|-row
    * broadcast equi-join). */
  private def knCore(
      reference: DataFrame, refLangCol: Option[String], refTextCol: String,
      docs: DataFrame, idCol: String, docLangCol: Option[String], textCol: String,
      discount: Double, k: Double): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    require(k > 0.0, "smoothing k must be positive")
    require(refLangCol.isDefined == docLangCol.isDefined,
      "lang routing needs a lang column on BOTH sides")
    import org.apache.spark.sql.Column
    val routed = refLangCol.isDefined
    // the extra grouping/join key when routing; empty when not
    val langKey: Seq[String] = if (routed) Seq("__lang") else Seq.empty
    def keyed(first: String): Seq[String] = first +: langKey
    def grp(df: DataFrame, cs: Column*): org.apache.spark.sql.RelationalGroupedDataset =
      df.groupBy(cs ++ langKey.map(col): _*)

    // ---- gram-position helpers over space-joined n-grams ----------
    def prefix(g: Column, n: Int): Column = substring_index(g, " ", n)
    def suffix(g: Column, n: Int): Column = substring_index(g, " ", -n)
    // words i..j (1-based) of an n-gram: suffix to drop the head, then
    // prefix to keep the span
    def span(g: Column, i: Int, j: Int, n: Int): Column =
      prefix(suffix(g, n - i + 1), j - i + 1)

    val refToks = reference.select(
      (refLangCol.map(c => Seq(col(c).as("__lang"))).getOrElse(Seq.empty) :+
        TextFunctions.tokens(TextFunctions.canonicalText(col(refTextCol))).as("__toks")): _*)
    def refGrams(n: Int): DataFrame = refToks
      .select((langKey.map(col) :+
        explode(TextFunctions.shinglesFromTokens(col("__toks"), n)).as("g")): _*)

    // ---- the nine reference tables --------------------------------
    // top order: raw counts
    val t5 = grp(refGrams(5), col("g")).agg(count(lit(1)).as("c5"))
    val c4 = grp(refGrams(4), col("g")).agg(count(lit(1)).as("c4"))
      .withColumnRenamed("g", "ctx4")
    // λ₅: distinct continuations of each 4-gram context (rows of t5
    // are distinct types, so count(*) per prefix IS the distinct count)
    val lam5 = grp(t5, prefix(col("g"), 4).as("ctx4"))
      .agg(count(lit(1)).as("lam5"))
    // order 4: continuation counts from distinct 5-gram types
    val cont4 = grp(t5, suffix(col("g"), 4).as("g4s"))
      .agg(count(lit(1)).as("cont4"))
    val mid4 = grp(t5, span(col("g"), 2, 4, 5).as("ctx3"))
      .agg(count(lit(1)).as("denom4"),
        countDistinct(suffix(col("g"), 1)).as("lam4"))
    // order 3: from distinct 4-gram types. (Deriving this from the c4
    // count table's keys was TRIED this round and measured SLOWER on
    // llm02 — the aggregation subtree is not exchange-reused across
    // its three consumers, so each paid the count-agg AND its own
    // re-aggregation shuffle where the direct distinct pays one.)
    val t4types = refGrams(4).select(keyed("g").map(col): _*).distinct()
    val cont3 = grp(t4types, suffix(col("g"), 3).as("g3s"))
      .agg(count(lit(1)).as("cont3"))
    val mid3 = grp(t4types, span(col("g"), 2, 3, 4).as("ctx2"))
      .agg(count(lit(1)).as("denom3"),
        countDistinct(suffix(col("g"), 1)).as("lam3"))
    // order 2: from distinct 3-gram types
    val t3types = refGrams(3).select(keyed("g").map(col): _*).distinct()
    val cont2 = grp(t3types, suffix(col("g"), 2).as("g2s"))
      .agg(count(lit(1)).as("cont2"))
    val mid2 = grp(t3types, span(col("g"), 2, 2, 3).as("w4k"))
      .agg(count(lit(1)).as("denom2"),
        countDistinct(suffix(col("g"), 1)).as("lam2"))
    // base: continuation unigrams from distinct bigram types
    val t2types = refGrams(2).select(keyed("g").map(col): _*).distinct()
    val cont1 = grp(t2types, suffix(col("g"), 1).as("w5k"))
      .agg(count(lit(1)).as("cont1"))
    val refWords = refToks.select((langKey.map(col) :+
      explode(col("__toks")).as("w")): _*)
    val scalars =
      if (routed)
        t2types.groupBy("__lang").agg(count(lit(1)).cast("double").as("denom1"))
          .join(refWords.groupBy("__lang")
            .agg(countDistinct(col("w")).cast("double").as("v")), Seq("__lang"))
      else
        t2types.agg(count(lit(1)).cast("double").as("denom1"))
          .crossJoin(refWords.agg(countDistinct(col("w")).cast("double").as("v")))

    // ---- score the target documents -------------------------------
    val toks = docs.select(
      (Seq(col(idCol).as("id")) ++
        docLangCol.map(c => Seq(col(c).as("__lang"))).getOrElse(Seq.empty) :+
        TextFunctions.tokens(TextFunctions.canonicalText(col(textCol))).as("__toks")): _*)
    val grams = toks
      .select((keyed("id").map(col) :+
        explode(TextFunctions.shinglesFromTokens(col("__toks"), 5)).as("g")): _*)
      .select((keyed("id").map(col) ++ Seq(col("g"),
        prefix(col("g"), 4).as("ctx4"),
        suffix(col("g"), 4).as("g4s"),
        span(col("g"), 2, 4, 5).as("ctx3"),
        suffix(col("g"), 3).as("g3s"),
        span(col("g"), 3, 4, 5).as("ctx2"),
        suffix(col("g"), 2).as("g2s"),
        span(col("g"), 4, 4, 5).as("w4k"),
        suffix(col("g"), 1).as("w5k"))): _*)

    val joined0 = grams
      .join(t5, keyed("g"), "left")
      .join(c4, keyed("ctx4"), "left")
      .join(lam5, keyed("ctx4"), "left")
      .join(cont4, keyed("g4s"), "left")
      .join(mid4, keyed("ctx3"), "left")
      .join(cont3, keyed("g3s"), "left")
      .join(mid3, keyed("ctx2"), "left")
      .join(cont2, keyed("g2s"), "left")
      .join(mid2, keyed("w4k"), "left")
      .join(cont1, keyed("w5k"), "left")
      .na.fill(0L, Seq("c5", "c4", "lam5", "cont4", "denom4", "lam4",
        "cont3", "denom3", "lam3", "cont2", "denom2", "lam2", "cont1"))
    val joined =
      if (routed) joined0.join(broadcast(scalars), Seq("__lang"))
      else joined0.crossJoin(broadcast(scalars))

    // one tier: (max(num − D, 0) + D·lam·lower) / denom when the
    // context was seen, else fall through — the SAME textual shape the
    // oracle uses, so double arithmetic associates identically
    val dL = lit(discount)
    def tier(num: Column, lam: Column, denom: Column, lower: Column): Column =
      when(denom > 0,
        (greatest(num - dL, lit(0.0)) + dL * lam * lower) / denom)
        .otherwise(lower)
    val p1 = (col("cont1") + k) / (col("denom1") + lit(k) * col("v"))
    val p2 = tier(col("cont2"), col("lam2"), col("denom2"), p1)
    val p3 = tier(col("cont3"), col("lam3"), col("denom3"), p2)
    val p4 = tier(col("cont4"), col("lam4"), col("denom4"), p3)
    // top tier also needs lam5 > 0 (context seen only at document
    // ends distributes no mass — a c5=0 gram would score exactly 0)
    val p5 = when(col("c4") > 0 && col("lam5") > 0,
      (greatest(col("c5") - dL, lit(0.0)) + dL * col("lam5") * p4) / col("c4"))
      .otherwise(p4)

    val scored = joined
      .withColumn("__nlp_micro", round(-log(p5) * 1e6).cast("long"))
    (if (routed)
        scored.groupBy(col("id").as(idCol), col("__lang").as(docLangCol.get))
      else scored.groupBy(col("id").as(idCol)))
      .agg(
        count(lit(1)).as("n_fivegrams"),
        round((sum(col("__nlp_micro")).cast("double") / count(lit(1))) / 1e6, 6)
          .as("avg_neg_logp"))
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
   * centroids. Everything else keeps the t66 shape: nine+ count
   * tables, all linear hash aggregates; scoring via shuffle
   * equi-joins on the nested gram keys; per-gram −ln P in integer
   * micro-nats. The t68 oracle recomputes the same discounts from the
   * same integer counts with the same arithmetic shape and replays
   * every tier.
   */
  def modifiedKnFivegramCrossPerplexity(
      reference: DataFrame, refTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame = {
    require(k > 0.0, "smoothing k must be positive")
    import org.apache.spark.sql.Column

    def prefix(g: Column, n: Int): Column = substring_index(g, " ", n)
    def suffix(g: Column, n: Int): Column = substring_index(g, " ", -n)
    def span(g: Column, i: Int, j: Int, n: Int): Column =
      prefix(suffix(g, n - i + 1), j - i + 1)

    val refToks = reference.select(
      TextFunctions.tokens(TextFunctions.canonicalText(col(refTextCol))).as("__toks"))
    def refGrams(n: Int): DataFrame = refToks
      .select(explode(TextFunctions.shinglesFromTokens(col("__toks"), n)).as("g"))

    // ---- numerator tables (t66 shapes) -----------------------------
    val t5 = Caches.persist(refGrams(5).groupBy("g").agg(count(lit(1)).as("c5")))
    val c4 = refGrams(4).groupBy("g").agg(count(lit(1)).as("c4"))
      .withColumnRenamed("g", "ctx4")
    val cont4 = Caches.persist(t5.groupBy(suffix(col("g"), 4).as("g4s"))
      .agg(count(lit(1)).as("cont4")))
    val t4types = refGrams(4).select(col("g")).distinct()
    val cont3 = Caches.persist(t4types.groupBy(suffix(col("g"), 3).as("g3s"))
      .agg(count(lit(1)).as("cont3")))
    val t3types = refGrams(3).select(col("g")).distinct()
    val cont2 = Caches.persist(t3types.groupBy(suffix(col("g"), 2).as("g2s"))
      .agg(count(lit(1)).as("cont2")))
    val t2types = refGrams(2).select(col("g")).distinct()
    val cont1 = t2types.groupBy(suffix(col("g"), 1).as("w5k"))
      .agg(count(lit(1)).as("cont1"))
    val scalars = t2types.agg(count(lit(1)).cast("double").as("denom1"))
      .crossJoin(refToks.select(explode(col("__toks")).as("w"))
        .agg(countDistinct(col("w")).cast("double").as("v")))

    // ---- per-order discounts from count-of-counts (driver scalars) -
    def countOfCounts(df: DataFrame, cnt: String): (Long, Long, Long, Long) = {
      val r = df.agg(
        sum(when(col(cnt) === 1, 1L).otherwise(0L)),
        sum(when(col(cnt) === 2, 1L).otherwise(0L)),
        sum(when(col(cnt) === 3, 1L).otherwise(0L)),
        sum(when(col(cnt) === 4, 1L).otherwise(0L))).first()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // t5 first ON ITS OWN (its job materializes the t5 cache that
    // cont4's scan reads), then the three independent lower-order
    // count-of-counts jobs OVERLAPPED (guide §2.6; cont4/cont3/cont2
    // are each their own persisted table with no shared uncached
    // parent, so no first-touch race) — 4 sequential driver-blocking
    // collects become 1 + one overlapped round
    val (d51, d52, d53) = (mknDiscounts _).tupled(countOfCounts(t5, "c5"))
    val lower = graft.util.Jobs.inParallel(Seq(
      () => countOfCounts(cont4, "cont4"),
      () => countOfCounts(cont3, "cont3"),
      () => countOfCounts(cont2, "cont2")))
    val (d41, d42, d43) = (mknDiscounts _).tupled(lower(0))
    val (d31, d32, d33) = (mknDiscounts _).tupled(lower(1))
    val (d21, d22, d23) = (mknDiscounts _).tupled(lower(2))

    // ---- per-context bucket tables (N1/N2/N3+ of the continuations) -
    def buckets(df: DataFrame, key: Column, cnt: String,
        ctxName: String, tag: String): DataFrame =
      df.groupBy(key.as(ctxName)).agg(
        sum(col(cnt)).as(s"denom$tag"),
        sum(when(col(cnt) === 1, 1L).otherwise(0L)).as(s"n1$tag"),
        sum(when(col(cnt) === 2, 1L).otherwise(0L)).as(s"n2$tag"),
        sum(when(col(cnt) >= 3, 1L).otherwise(0L)).as(s"n3p$tag"))
    // top order: the denominator is the RAW context count c4, so the
    // bucket table carries buckets only (joined alongside c4)
    val top = t5.groupBy(prefix(col("g"), 4).as("ctx4")).agg(
      sum(when(col("c5") === 1, 1L).otherwise(0L)).as("n1t"),
      sum(when(col("c5") === 2, 1L).otherwise(0L)).as("n2t"),
      sum(when(col("c5") >= 3, 1L).otherwise(0L)).as("n3pt"))
    val mid4 = buckets(cont4, prefix(col("g4s"), 3), "cont4", "ctx3", "4")
    val mid3 = buckets(cont3, prefix(col("g3s"), 2), "cont3", "ctx2", "3")
    val mid2 = buckets(cont2, prefix(col("g2s"), 1), "cont2", "w4k", "2")

    // ---- score the target documents --------------------------------
    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(TextFunctions.canonicalText(col(textCol))).as("__toks"))
    val grams = toks
      .select(col("id"), explode(TextFunctions.shinglesFromTokens(col("__toks"), 5)).as("g"))
      .select(col("id"), col("g"),
        prefix(col("g"), 4).as("ctx4"),
        suffix(col("g"), 4).as("g4s"),
        span(col("g"), 2, 4, 5).as("ctx3"),
        suffix(col("g"), 3).as("g3s"),
        span(col("g"), 3, 4, 5).as("ctx2"),
        suffix(col("g"), 2).as("g2s"),
        span(col("g"), 4, 4, 5).as("w4k"),
        suffix(col("g"), 1).as("w5k"))

    val joined = grams
      .join(t5, Seq("g"), "left")
      .join(c4, Seq("ctx4"), "left")
      .join(top, Seq("ctx4"), "left")
      .join(cont4, Seq("g4s"), "left")
      .join(mid4, Seq("ctx3"), "left")
      .join(cont3, Seq("g3s"), "left")
      .join(mid3, Seq("ctx2"), "left")
      .join(cont2, Seq("g2s"), "left")
      .join(mid2, Seq("w4k"), "left")
      .join(cont1, Seq("w5k"), "left")
      .na.fill(0L, Seq("c5", "c4", "n1t", "n2t", "n3pt",
        "cont4", "denom4", "n14", "n24", "n3p4",
        "cont3", "denom3", "n13", "n23", "n3p3",
        "cont2", "denom2", "n12", "n22", "n3p2", "cont1"))
      .crossJoin(broadcast(scalars))

    // D(cnt): the discount the gram's own count bucket earns; the SAME
    // textual shape the oracle uses
    def dOf(cnt: Column, d1: Double, d2: Double, d3: Double): Column =
      when(cnt >= 3, d3).when(cnt === 2, d2).when(cnt === 1, d1).otherwise(0.0)
    def tier(cnt: Column, n1c: Column, n2c: Column, n3pc: Column,
        denom: Column, d1: Double, d2: Double, d3: Double,
        lower: Column): Column =
      when(denom > 0,
        (greatest(cnt - dOf(cnt, d1, d2, d3), lit(0.0)) +
          (lit(d1) * n1c + lit(d2) * n2c + lit(d3) * n3pc) * lower) / denom)
        .otherwise(lower)
    val p1 = (col("cont1") + k) / (col("denom1") + lit(k) * col("v"))
    val p2 = tier(col("cont2"), col("n12"), col("n22"), col("n3p2"),
      col("denom2"), d21, d22, d23, p1)
    val p3 = tier(col("cont3"), col("n13"), col("n23"), col("n3p3"),
      col("denom3"), d31, d32, d33, p2)
    val p4 = tier(col("cont4"), col("n14"), col("n24"), col("n3p4"),
      col("denom4"), d41, d42, d43, p3)
    val p5 = when(col("c4") > 0 && (col("n1t") + col("n2t") + col("n3pt")) > 0,
      (greatest(col("c5") - dOf(col("c5"), d51, d52, d53), lit(0.0)) +
        (lit(d51) * col("n1t") + lit(d52) * col("n2t") + lit(d53) * col("n3pt")) * p4) /
        col("c4"))
      .otherwise(p4)

    val out = Caches.cut(joined
      .withColumn("__nlp_micro", round(-log(p5) * 1e6).cast("long"))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_fivegrams"),
        round((sum(col("__nlp_micro")).cast("double") / count(lit(1))) / 1e6, 6)
          .as("avg_neg_logp")))
    // the doc-sized result materialized while the count tables were
    // still cached; they release now, not at the end of the query
    Seq(t5, cont4, cont3, cont2).foreach(Caches.release)
    out
  }
}
