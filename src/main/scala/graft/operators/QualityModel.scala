package graft.operators

import graft.functions.{ScalarFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Trainable document-QUALITY CLASSIFIER — the fastText/DCLM-style
 * linear model over hashed bag-of-token features (public method:
 * Joulin et al. 2016 "Bag of Tricks for Efficient Text
 * Classification"; the quality-filter role: CCNet, DCLM's fastText
 * filter). A corpus pipeline trains it on cheap labels ("docs from
 * the curated source vs the crawl", "target language vs rest") and
 * scores the whole corpus map-only.
 *
 * EXACT-INTEGER training — the property that makes a learned model
 * hash-reproducible (and therefore DuckDB-oracle-checkable, the t23
 * micro-nat idiom taken one step further):
 *
 *  - features are INTEGER token counts in `B` md5 buckets plus a bias
 *    (count 1) — no tf normalization, no floats;
 *  - the activation is the HARD sigmoid σ̂(z) = clamp(½ + z/4, 0, 1),
 *    evaluated in micro-units with one exactly-rounded double
 *    division (`floor(m / 4.0)`) — no `exp`, whose last-ulp behavior
 *    differs across libms;
 *  - the gradient `g_j = Σ_i (p_i − y_i)·x_ij` is a LONG sum of
 *    products of micro-unit errors and integer counts — exact,
 *    summation-order-free, partition-layout-free;
 *  - the weight step `w_j ← w_j − ⌊g_j / lrDiv⌋` is one more
 *    exactly-rounded double division.
 *
 * Every quantity any engine computes is therefore bit-identical, so
 * "train 3 iterations, return the weight table" has a deterministic
 * answer the oracle replays CTE for CTE.
 *
 * Scale shape (the BpeTrain pattern): the per-doc feature table is
 * built once (one explode + hash aggregation, persisted); each
 * iteration is ONE aggregation whose state is bounded at `B + 1`
 * longs per task (map-side combine over the gradient buckets) plus a
 * `B + 1`-row collect; weights re-enter the next iteration as a
 * broadcast literal. T iterations = T bounded jobs; the corpus is
 * never sorted, never joined against itself, and at 100 TB the only
 * growing cost is the one feature-extraction pass.
 */
object QualityModel {

  /** Per-doc dense feature vector: `fs[j]` = tokens hashing to bucket
    * j (md5 % B) over canonical tokens, `fs[B]` = 1 (bias). One
    * explode + hash aggregation; (id, y, fs) with y ∈ {0, 1}. */
  def features(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val toks = df.select(
      col(idCol).as("id"), labelCol.cast("long").as("y"),
      TextFunctions.tokens(TextFunctions.canonicalText(col(textCol))).as("__t"))
    val sparse = toks
      .select(col("id"), col("y"), explode(col("__t")).as("tok"))
      .select(col("id"), col("y"),
        (ScalarFunctions.md5Long(col("tok")) % buckets).cast("int").as("j"))
      .groupBy("id", "y", "j").agg(count(lit(1)).as("c"))
      .groupBy("id", "y").agg(map_from_arrays(
        collect_list(col("j")), collect_list(col("c"))).as("__m"))
    // dense array (empty docs get all-zero counts), bias appended —
    // built from the ORIGINAL frame so token-less docs keep a row
    toks.select(col("id"), col("y")).join(sparse, Seq("id", "y"), "left")
      .select(col("id"), col("y"),
        concat(
          transform(sequence(lit(0), lit(buckets - 1)),
            j => coalesce(element_at(col("__m"), j), lit(0L))),
          array(lit(1L))).as("fs"))
  }

  /** Hard-sigmoid probability in micro-units from a micro-unit margin:
    * clamp(500000 + ⌊m/4.0⌋, 0, 1e6). */
  private def pMicro(m: Column): Column =
    greatest(lit(0L), least(lit(1000000L),
      lit(500000L) + floor(m.cast("double") / 4.0).cast("long")))

  /** Train `iters` full-batch iterations; returns the `B + 1` weights
    * in micro-units (last = bias). The step is the MEAN-gradient form
    * `w_j ← w_j − ⌊g_j / (n · lrDivPerDoc)⌋` (n = doc count), so the
    * effective learning rate is corpus-size independent — replicating
    * the corpus c× scales every gradient AND the divisor by exactly c
    * and the learned weights are bit-identical (the LlmScaleSmoke
    * gate; also the property that lets the same lrDivPerDoc work at
    * sf0.001 and 100 TB). */
  def trainLogistic(
      feats: DataFrame, buckets: Int, iters: Int,
      lrDivPerDoc: Double = 200.0): Array[Long] = {
    require(iters >= 0 && lrDivPerDoc > 0)
    val f = graft.util.Caches.persist(feats)
    val lrDiv = f.count().toDouble * lrDivPerDoc
    var w = Array.fill(buckets + 1)(0L)
    var t = 0
    while (t < iters) {
      val wLit = typedlit(w.toSeq)
      // margin in micro-units: Σ w_j·x_ij — exact long arithmetic
      val withErr = f.withColumn("__m",
          aggregate(zip_with(col("fs"), wLit, (x, wj) => x * wj),
            lit(0L), (acc, v) => acc + v))
        .withColumn("__e", pMicro(col("__m")) - col("y") * lit(1000000L))
      // gradient: one aggregation, state bounded at B+1 longs per task
      val g = withErr
        .select(posexplode(transform(col("fs"), x => x * col("__e"))))
        .groupBy("pos").agg(sum("col").as("g"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = w.zipWithIndex.map { case (wj, j) =>
        wj - math.floor(g.getOrElse(j, 0L).toDouble / lrDiv).toLong
      }
      t += 1
    }
    w
  }

  /** Map-only scoring: micro-unit margin of each doc under a trained
    * weight vector (broadcast literal — the model is KB-sized). */
  def score(feats: DataFrame, weights: Array[Long]): DataFrame = {
    val wLit = typedlit(weights.toSeq)
    feats.select(col("id"), col("y"),
      aggregate(zip_with(col("fs"), wLit, (x, wj) => x * wj),
        lit(0L), (acc, v) => acc + v).as("score_micro"))
  }
}
