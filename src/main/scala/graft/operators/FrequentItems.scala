package graft.operators

import graft.functions.ScalarFunctions
import graft.plans.TopKAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Exact per-group heavy hitters with BOUNDED ranking state — the
 * corpus-stats companion to [[Sketches]]' distinct counts (most
 * frequent tokens per language, hottest urls per domain, ...).
 *
 * Two aggregations, no window: the histogram groupBy bounds the first
 * shuffle by |distinct (group, value)| with map-side combine, then
 * [[TopKAgg]] ranks it with ≤ k candidates of state per group per
 * task — where the textbook `row_number() OVER (PARTITION BY group
 * ORDER BY cnt DESC)` form shuffles the ENTIRE histogram onto one
 * reducer per group (a hot group's vocabulary serializes a
 * partition). The values behind the winning ids come back via one
 * join against the histogram in which the exploded top-k side is
 * k·|groups| rows — broadcast-sized at any corpus scale.
 *
 * Determinism: rank order is (count DESC, md5Long(value) ASC) — the
 * portable 60-bit hash breaks count ties engine-independently, so a
 * SQL oracle reproduces the exact ranking.
 */
object FrequentItems {

  /**
   * Top `k` most frequent `valueCol` per `groupCols` by exact count.
   * Returns (groupCols..., rank, valueCol, cnt), rank 1-based.
   */
  def topKFrequent(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val gcols = groupCols.map(col)
    // persisted: the ranking aggregate and the value join-back both
    // consume the histogram, and their column pruning differs (the
    // ranker drops valueCol), so without the cache Catalyst plans TWO
    // corpus scans — the cache makes the big side stream through
    // once.
    val hist = graft.util.Caches.persist(df
      .groupBy(gcols :+ col(valueCol): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__h", ScalarFunctions.md5Long(col(valueCol).cast("string"))))
    // TopKAgg orders (score DESC, id ASC); hashes are uniform in
    // [0, 2^60), so id = hash gives the portable ASC tie-break
    val topk = TopKAgg.topK(k)
    val winners = hist
      .groupBy(gcols: _*)
      .agg(topk(col("cnt").cast("double"), col("__h")).as("__top"))
      .select(gcols :+ posexplode(col("__top")).as(Seq("__pos", "__t")): _*)
      .select(gcols ++ Seq((col("__pos") + 1).cast("long").as("rank"),
        col("__t.id").as("__h")): _*)
    // winners (k·|groups| rows) is the broadcast build side; the
    // histogram — the 100 TB-derived side — streams through untouched
    hist.join(broadcast(winners), groupCols :+ "__h")
      .select(gcols ++ Seq(col("rank"), col(valueCol), col("cnt")): _*)
  }
}
