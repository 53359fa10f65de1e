package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Global rank / percentile normalization of a score column — the
 * calibration step quality-filter pipelines need ("keep the top 30%
 * by quality" must mean the same thing on every corpus).
 *
 * The naive form (`rank() over (order by score)`) is a corpus-wide
 * single-reducer sort. This is the scale-correct two-phase form,
 * exactly equivalent for the tie-sharing rank definition:
 *
 *  1. row counts per DISTINCT score — one hash shuffle on a
 *     bounded-cardinality key (quantized scores, like the engine's
 *     rounded quality columns);
 *  2. a prefix sum over the small bucket table (single-partition
 *     window over buckets, not rows) yields, per score, the number of
 *     strictly-better rows and the inclusive cumulative count;
 *  3. a broadcast join attaches `rank` (1 + strictly-better count;
 *     ties share) and `cume_frac` (inclusive count / N, the DESC
 *     `cume_dist`) to every row. No corpus sort, no corpus window.
 *
 * NULL and NaN scores follow Spark's own window semantics exactly:
 * grouping collapses NULL into one bucket and normalizes NaN into
 * another, the DESC bucket ordering places NaN first and NULL last
 * (same as `rank() over (order by score desc)`), and the null-safe
 * join carries both buckets back onto their rows.
 *
 * The equivalence is scale-SAFE only for quantized scores: the bucket
 * table must fit a broadcast. `maxBuckets` enforces that precondition
 * with a limit-probe (the [[Dedup.connectedComponents]] pattern) —
 * a continuous score column fails fast with a clear message instead
 * of silently building an unbounded broadcast.
 */
object RankNormalize {

  def globalRank(
      df: DataFrame, scoreCol: String, maxBuckets: Int = 1 << 20): DataFrame = {
    // persisted: bucket-sized, derived from the full corpus scan; the
    // probe and the prefix sum both consume it.
    val buckets = graft.util.Caches.persist(df.groupBy(col(scoreCol).as("__score"))
      .agg(count(lit(1)).as("__n")))
    val probed = buckets.limit(maxBuckets + 1).count()
    require(probed <= maxBuckets,
      s"globalRank: score column '$scoreCol' has over $maxBuckets distinct " +
        "values — the bucket table would not fit a broadcast. Quantize the " +
        "score first (e.g. round(score, 6)) or raise maxBuckets deliberately.")
    val wBefore = Window.orderBy(col("__score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.orderBy(col("__score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = buckets
      .withColumn("__better", coalesce(sum(col("__n")).over(wBefore), lit(0L)))
      .withColumn("__cum", sum(col("__n")).over(wIncl))
    // total rows from the bucket table itself — no extra corpus pass
    val withTotal = ranked.crossJoin(
      broadcast(ranked.agg(sum(col("__n")).as("__total"))))
    val lookup = withTotal.select(
      col("__score"),
      (col("__better") + 1L).as("rank"),
      round(col("__cum").cast("double") / col("__total"), 6).as("cume_frac"))
    // null-safe: a NULL-score bucket must join back to its rows (===
    // would silently drop them; the naive window form ranks them)
    df.join(broadcast(lookup), col(scoreCol) <=> col("__score"))
      .drop("__score")
  }
}
