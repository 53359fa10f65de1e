package graft.operators

import graft.functions.{PortableHash, ScalarFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * DSIR-style data selection via importance resampling (Xie et al.
 * 2023, "Data Selection for Language Models via Importance
 * Resampling"): select raw documents whose hashed-bigram feature
 * distribution matches a TARGET domain, by importance weight
 * `log w(x) = Σ_features log(p_target(f) / p_raw(f))` with
 * Gumbel-top-k resampling (sampling without replacement ∝ w).
 *
 * Everything is integer micro-nats end to end (the t23 portability
 * idiom), and the Gumbel noise derives from the md5 keystream, so
 * the selection is deterministic and hash-exact against the oracle.
 *
 * Scale shape:
 *  - the two feature distributions are B-bucket count tables (B=256
 *    here; the paper uses 10k — still KB-sized). Each costs one
 *    explode + hash-aggregate pass; the resulting log-ratio table is
 *    embedded as a LITERAL array, so scoring is a map-only
 *    `aggregate` fold over each doc's own bigram buckets — no join,
 *    no shuffle on the corpus at any size;
 *  - the final top-k is `orderBy(...).limit(k)` → Spark plans
 *    `TakeOrderedAndProject`: per-partition bounded top-k + driver
 *    merge of k rows per partition, never a global sort.
 */
object Dsir {

  /** Hashed-bigram bucket ids for one document (array<int>-like
    * longs in [0, b)): whitespace tokens, adjacent pairs joined by a
    * single space, md5-32 bucket — one md5 per bigram. */
  def bigramBuckets(text: Column, b: Int): Column = {
    val toks = filter(split(trim(text), "\\s+"), t => length(t) > 0)
    val bigrams = transform(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))), // 0-/1-token docs → none
      (x, i) => concat(x, lit(" "), element_at(toks, i + 2)))
    transform(bigrams, g => pmod(ScalarFunctions.md5Bucket32(g), lit(b.toLong)))
  }

  /** Corpus bucket-count table, collected driver-side — B rows, an
    * O(1)-size dimension by construction (it is the model, same size
    * class as the IVF centroid tables). */
  def bucketCounts(docs: DataFrame, textCol: String, b: Int): Array[Long] = {
    val counts = docs
      .select(explode(bigramBuckets(col(textCol), b)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Array.tabulate(b)(i => counts.getOrElse(i.toLong, 0L))
  }

  /** Per-bucket importance log-ratio in integer micro-nats, add-one
    * smoothed: `round(1e6 · (ln p̂_t(b) − ln p̂_r(b)))` with
    * `p̂(b) = (c_b + 1) / (total + B)`. Driver-side Math.log is the
    * same function Spark's codegen `log` calls, so embedding these as
    * literals is exactly as portable as computing them per row. */
  def microLogRatios(target: Array[Long], raw: Array[Long]): Array[Long] = {
    require(target.length == raw.length, "bucket tables must align")
    val b = target.length
    val tt = target.sum.toDouble + b
    val tr = raw.sum.toDouble + b
    Array.tabulate(b) { i =>
      math.round((math.log((target(i) + 1.0) / tt) -
        math.log((raw(i) + 1.0) / tr)) * 1e6)
    }
  }

  /** (id, n_bigrams, logw_micro): map-only importance scoring — a
    * fold over the doc's own bigram buckets against the literal
    * ratio table. Empty/one-token docs score 0. */
  def importanceScores(
      raw: DataFrame, idCol: String, textCol: String,
      micro: Array[Long], b: Int): DataFrame = {
    val buckets = bigramBuckets(col(textCol), b)
    val ratios = typedlit(micro.toSeq)
    raw.select(
      col(idCol),
      size(buckets).cast("long").as("n_bigrams"),
      aggregate(buckets, lit(0L),
        (acc, bk) => acc + element_at(ratios, bk.cast("int") + 1))
        .as("logw_micro"))
  }

  /** Deterministic Gumbel noise in micro-nats from the md5 keystream:
    * `u = (md5_60("gum:" || id) + 1) / (2^60 + 2) ∈ (0,1)`,
    * `g = −ln(−ln u)`. */
  def gumbelMicro(id: Column): Column = {
    val u = (ScalarFunctions.md5Long(concat(lit("gum:"), id.cast("string"))) + 1L)
      .cast("double") / lit(1152921504606846978.0) // 2^60 + 2
    round(-log(-log(u)) * 1e6).cast("long")
  }

  /** Gumbel-top-k selection: keys are `logw_micro + gumbel_micro`
    * (equivalent to sampling k docs without replacement with
    * probability ∝ w — the Gumbel-max trick), ties broken by id.
    * `orderBy.limit` plans as TakeOrderedAndProject (bounded). */
  def resampleTopK(
      raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, b: Int, k: Int): DataFrame = {
    val micro = microLogRatios(
      bucketCounts(target, textCol, b), bucketCounts(raw, textCol, b))
    rankByKey(importanceScores(raw, idCol, textCol, micro, b), idCol, k)
  }

  /** [[resampleTopK]] for the common in-corpus case — the target is a
    * predicate over `raw` (a domain flag, a curated subset). Bigrams
    * hash ONCE: the bucketized corpus persists, BOTH distributions
    * come from a single combined aggregation (conditional sum), and
    * scoring folds over the persisted bucket arrays — one md5 pass
    * total instead of three. Persists an intermediate, which the
    * caller's [[graft.util.Caches.scoped]] block releases.
    */
  def resampleTopKWithin(
      raw: DataFrame, isTarget: Column,
      idCol: String, textCol: String, b: Int, k: Int): DataFrame = {
    val bucketed = graft.util.Caches.persist(raw.select(
        col(idCol), isTarget.as("__tgt"),
        bigramBuckets(col(textCol), b).as("__bks")))
    val counts = bucketed
      .select(col("__tgt"), explode(col("__bks")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val micro = microLogRatios(
      Array.tabulate(b)(i => counts.get(i.toLong).map(_._2).getOrElse(0L)),
      Array.tabulate(b)(i => counts.get(i.toLong).map(_._1).getOrElse(0L)))
    val ratios = typedlit(micro.toSeq)
    val scored = bucketed.select(
      col(idCol),
      size(col("__bks")).cast("long").as("n_bigrams"),
      aggregate(col("__bks"), lit(0L),
        (acc, bk) => acc + element_at(ratios, bk.cast("int") + 1))
        .as("logw_micro"))
    rankByKey(scored, idCol, k)
  }

  private def rankByKey(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored
      .withColumn("gumbel_micro", gumbelMicro(col(idCol)))
      .withColumn("key_micro", col("logw_micro") + col("gumbel_micro"))
      .orderBy(col("key_micro").desc, col(idCol))
      .limit(k)
}
