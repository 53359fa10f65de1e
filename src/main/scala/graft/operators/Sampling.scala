package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling for training-data pipelines. Random samplers
 * (`df.sample`, `sampleBy`) are seed- and partitioning-dependent —
 * rerunning a 100 TB job must not produce a different training set, so
 * these operators order by a content hash instead: the "random" order
 * is a pure function of the data, reproducible across runs, engines
 * and cluster sizes.
 */
object Sampling {

  /** md5-of-id sort key: uniform, engine-portable (hex md5 compares
    * identically everywhere), and stable under repartitioning. */
  private def hashKey(idCol: Column): Column = md5(idCol.cast("string"))

  /**
   * Keep at most `k` rows per stratum, chosen by hash order of
   * `idCol` — i.e. a uniform-at-random-looking but fully deterministic
   * per-group downsample. One window sort-shuffle on the strata keys;
   * bounded output per group regardless of skew.
   */
  def deterministicPerStratum(
      df: DataFrame, strataCols: Seq[String], k: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(hashKey(col(idCol)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /**
   * Deterministic rate-based sample: keep a row iff the first 8 hex
   * digits of md5(id) fall under `rate` — the classic hash-mod gate.
   * No shuffle at all (pure filter, pushes into the scan stage), and
   * the SAME rows survive at any scale or partitioning.
   */
  def deterministicByRate(df: DataFrame, rate: Double, idCol: String): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val bucket = graft.functions.ScalarFunctions.md5Bucket32(col(idCol))
    df.filter(bucket < (rate * (1L << 32)).toLong)
  }

  /** Cumulative 32-bit thresholds for [[assignSplit]] — exposed so the
    * SQL oracle can inline the identical integer literals. */
  def splitThresholds(splits: Seq[(String, Double)]): Seq[(String, Long)] = {
    require(splits.nonEmpty, "at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    splits.inits.toSeq.reverse.tail // running prefixes, shortest first
      .zip(splits)
      .map { case (prefix, (name, _)) =>
        name -> (prefix.map(_._2).sum * (1L << 32)).toLong
      }
  }

  /**
   * Deterministic train/val/test assignment: the 32-bit md5 bucket of
   * the id lands in cumulative-fraction ranges. Pure projection —
   * no shuffle, no RNG — so the SAME document lands in the SAME split
   * on every run, cluster size, and engine (the property that keeps
   * eval sets leak-free across pipeline reruns).
   */
  def assignSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)]): DataFrame = {
    val thresholds = splitThresholds(splits)
    val bucket = graft.functions.ScalarFunctions.md5Bucket32(col(idCol))
    val assigned = thresholds.init.foldRight(lit(thresholds.last._1)) {
      case ((name, upper), rest) => when(bucket < upper, name).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /**
   * Leakage-FREE split assignment — [[assignSplit]] with the guarantee
   * [[crossSplitLeakage]] audits for: every member of a (near-)dup
   * cluster lands in the SAME split, because the md5 bucket is taken
   * over the cluster representative (the connected component's min id)
   * instead of the doc's own id. `pairs` is any dup-pair frame
   * (id_a, id_b) — the exact/MinHash/SimHash/embedding families all
   * produce one — so the same operator closes the eval-leak hole for
   * whichever duplicate notion the pipeline uses. A doc in no cluster
   * keys by its own id (≡ a singleton cluster), so with an empty pair
   * set this degenerates to [[assignSplit]] exactly.
   *
   * 100 TB shape: connected components run on the dup GRAPH only
   * (|pairs| rows, not the corpus); the resulting (id → component)
   * table covers only clustered docs — orders of magnitude smaller
   * than the corpus — and joins back on the id key; the split itself
   * stays a pure projection. Output adds `split_key` and `split`.
   */
  def assignSplitByCluster(
      df: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val comp = graft.operators.Dedup.connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("component"))
    val keyed = df
      .join(comp, col(idCol) === col("__cc_id"), "left")
      .withColumn("split_key", coalesce(col("component"), col(idCol).cast("long")))
      .drop("__cc_id", "component")
    assignSplit(keyed, "split_key", splits)
  }

  /**
   * Cross-split leakage audit — the eval-integrity check every
   * pipeline using [[assignSplit]] needs: duplicate content straddling
   * the train/test boundary silently inflates eval scores. Returns
   * one row per ordered split pair that shares at least one exact
   * content fingerprint: (split_a, split_b, n_pairs of leaking doc
   * pairs, n_docs distinct lower-id docs involved), where `split_a`
   * is the lower-id side. Empty result = leak-free splits.
   *
   * One shuffle on the 128-bit content fingerprint (the same key the
   * exact-dedup family uses — dup groups are small by construction,
   * so the self-join is skew-bounded); output is at most
   * |splits|·(|splits|−1) rows.
   */
  def crossSplitLeakage(
      df: DataFrame, idCol: String, textCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    val tagged = assignSplit(df, idCol, splits)
      .select(col(idCol).as("__id"), col("split"),
        md5(coalesce(col(textCol), lit(""))).as("__fp"))
    val a = tagged.toDF("id_a", "split_a", "__fp")
    val b = tagged.toDF("id_b", "split_b", "__fp")
    a.join(b, Seq("__fp"))
      .filter(col("id_a") < col("id_b") && col("split_a") =!= col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_a")).as("n_docs"))
  }

  /**
   * Budget-constrained corpus selection: keep the best-scoring rows,
   * in (`scoreCol` desc, `idCol` asc) order, while the running sum of
   * `tokCol` stays ≤ `budget` — "fill the training budget with the
   * highest-quality documents first".
   *
   * The naive form is a GLOBAL ordered cumulative sum — a
   * single-reducer sort that dies at 100 TB. This is the scale-correct
   * two-phase form, exactly equivalent:
   *
   *  1. aggregate token sums per DISTINCT SCORE (one hash shuffle on
   *     a bounded-cardinality key: `scoreCol` must be quantized — the
   *     engine's quality scores are rounded to ≤6 dp, so the bucket
   *     table is ≤ ~10⁶ rows however large the corpus);
   *  2. a prefix sum over that small bucket table (its single-
   *     partition window is bucket-sized, not corpus-sized) classifies
   *     every score as fully-kept, fully-dropped, or THE boundary;
   *  3. only rows AT the boundary score are ranked row-by-row (window
   *     partitioned by the one boundary score; cost = tie count at
   *     the cutoff, not corpus size).
   *
   * Everything else is a broadcast-joined filter. Deterministic for a
   * deterministic (score, id) order.
   *
   * NULL and NaN scores follow Spark's own ordered-window semantics:
   * NaN sorts first and NULL last in the DESC bucket order (same as
   * the naive `order by score desc` cumulative sum), and the
   * null-safe joins carry both buckets' rows through, so a corpus
   * with missing scores still matches the oracle form exactly.
   *
   * `maxBuckets` enforces the quantized-score precondition with a
   * limit-probe: a continuous score would make the bucket window
   * single-partition over an unbounded table — fail fast instead.
   */
  def selectToBudget(
      df: DataFrame, scoreCol: String, idCol: String, tokCol: String,
      budget: Long, maxBuckets: Int = 1 << 20): DataFrame = {
    // persisted: bucket-sized, but DERIVED from a full corpus
    // aggregation — the probe, the prefix-sum window, and both
    // downstream filters (fully-kept set, boundary row) consume it,
    // and uncached each would re-run the corpus scan.
    val buckets = graft.util.Caches.persist(df.groupBy(col(scoreCol).as("__score"))
      .agg(sum(col(tokCol).cast("long")).as("__btoks")))
    // the probe runs BEFORE the prefix-sum window is ever built — a
    // probe on the windowed plan would materialize the very
    // unbounded single partition it exists to prevent
    val probed = buckets.limit(maxBuckets + 1).count()
    require(probed <= maxBuckets,
      s"selectToBudget: score column '$scoreCol' has over $maxBuckets distinct " +
        "values — the bucket prefix-sum window would be an unbounded single " +
        "partition. Quantize the score first (e.g. round(score, 6)) or raise " +
        "maxBuckets deliberately.")
    // bucket-sized single-partition window (bounded by score
    // cardinality, NOT corpus size — the probe above just proved it)
    val wb = Window.orderBy(col("__score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val classified = buckets
      .withColumn("__cum_before", coalesce(sum(col("__btoks")).over(wb), lit(0L)))
    val fullKeep = classified.filter(col("__cum_before") + col("__btoks") <= budget)
      .select(col("__score"))
    val boundary = classified
      .filter(col("__cum_before") < budget &&
        col("__cum_before") + col("__btoks") > budget)
      .select(col("__score"), col("__cum_before"))
    // null-safe joins: NULL- and NaN-score buckets must route their
    // rows like any other bucket (=== would silently drop NULLs; the
    // naive ordered cumulative sum spends budget on them too)
    val kept = df.join(broadcast(fullKeep), col(scoreCol) <=> col("__score"), "left_semi")
    // only the boundary bucket's rows are ranked (ties at the cutoff)
    val wr = Window.partitionBy(col(scoreCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundaryKept = df
      .join(broadcast(boundary), col(scoreCol) <=> col("__score"))
      .withColumn("__cum",
        col("__cum_before") + sum(col(tokCol).cast("long")).over(wr))
      .filter(col("__cum") <= budget)
      .drop("__score", "__cum_before", "__cum")
    kept.unionByName(boundaryKept)
  }

  /**
   * Per-group budget-constrained selection — the token-budget form of
   * MIXTURE WEIGHTING ("30 B tokens of web, 5 B of code, 1 B of
   * wiki..."): within each group, keep the best-scoring rows in
   * (`scoreCol` desc, `idCol` asc) order while the group's running
   * token sum stays ≤ its budget. Groups absent from `budgets` are
   * dropped entirely (an absent source contributes nothing to the
   * mixture).
   *
   * Same two-phase shape as [[selectToBudget]], with every stage keyed
   * by (group, score): the bucket prefix-sum window partitions by
   * group (each partition is that group's bucket count, never its row
   * count), budgets ride a broadcast O(#groups) lookup, and only the
   * ≤1 boundary bucket PER GROUP gets per-row ranking. The
   * `maxBuckets` limit-probe bounds the total (group × quantized
   * score) table exactly as in the ungrouped form.
   */
  def selectToBudgetPerGroup(
      df: DataFrame, groupCol: String, scoreCol: String, idCol: String,
      tokCol: String, budgets: Map[String, Long],
      maxBuckets: Int = 1 << 20): DataFrame = {
    require(budgets.nonEmpty, "budgets must name at least one group")
    import df.sparkSession.implicits._
    val budgetDf = budgets.toSeq.sortBy(_._1).toDF("__grp", "__budget")
    perGroupCore(df, groupCol, scoreCol, idCol, tokCol, maxBuckets,
      classified => classified.join(broadcast(budgetDf), Seq("__grp")))
  }

  /**
   * UNIFORM per-group cap — every group gets the same budget, so no
   * group list is needed up front: the per-DOMAIN quota of web-corpus
   * curation (public CCNet / RefinedWeb / Dolma recipe: cap any one
   * host's contribution so megasites don't dominate the corpus; the
   * domain set is discovered from the data, millions strong — a
   * static budget map cannot name it). Identical two-phase bounded
   * machinery as [[selectToBudgetPerGroup]]; the budget rides as a
   * literal instead of a broadcast lookup.
   */
  def selectToBudgetPerGroupUniform(
      df: DataFrame, groupCol: String, scoreCol: String, idCol: String,
      tokCol: String, budgetPerGroup: Long,
      maxBuckets: Int = 1 << 20): DataFrame =
    perGroupCore(df, groupCol, scoreCol, idCol, tokCol, maxBuckets,
      classified => classified.withColumn("__budget", lit(budgetPerGroup)))

  private def perGroupCore(
      df: DataFrame, groupCol: String, scoreCol: String, idCol: String,
      tokCol: String, maxBuckets: Int,
      attachBudget: DataFrame => DataFrame): DataFrame = {
    // persisted for the probe + window + both downstream filters
    val buckets = graft.util.Caches.persist(
      df.groupBy(col(groupCol).as("__grp"), col(scoreCol).as("__score"))
        .agg(sum(col(tokCol).cast("long")).as("__btoks")))
    // probe BEFORE the per-group prefix-sum window exists — probing
    // the windowed plan would execute the unbounded partitions the
    // guard exists to prevent
    val probed = buckets.limit(maxBuckets + 1).count()
    require(probed <= maxBuckets,
      s"selectToBudgetPerGroup: over $maxBuckets distinct (group, score) " +
        "pairs — quantize the score first (e.g. round(score, 6)) or raise " +
        "maxBuckets deliberately.")
    val wb = Window.partitionBy(col("__grp")).orderBy(col("__score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val classified = attachBudget(buckets
      .withColumn("__cum_before", coalesce(sum(col("__btoks")).over(wb), lit(0L))))
    val fullKeep = classified
      .filter(col("__cum_before") + col("__btoks") <= col("__budget"))
      .select(col("__grp"), col("__score"))
    val boundary = classified
      .filter(col("__cum_before") < col("__budget") &&
        col("__cum_before") + col("__btoks") > col("__budget"))
      .select(col("__grp"), col("__score"), col("__cum_before"), col("__budget"))
    // null-safe joins as in selectToBudget: NULL/NaN scores (and a
    // NULL group value, if present in both df and budgets) route
    // their rows exactly like the naive per-group window form
    val kept = df.join(broadcast(fullKeep),
      col(groupCol) <=> col("__grp") && col(scoreCol) <=> col("__score"),
      "left_semi")
    val wr = Window.partitionBy(col(groupCol), col(scoreCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundaryKept = df.join(broadcast(boundary),
        col(groupCol) <=> col("__grp") && col(scoreCol) <=> col("__score"))
      .withColumn("__cum",
        col("__cum_before") + sum(col(tokCol).cast("long")).over(wr))
      .filter(col("__cum") <= col("__budget"))
      .drop("__grp", "__score", "__cum_before", "__budget", "__cum")
    kept.unionByName(boundaryKept)
  }
}
