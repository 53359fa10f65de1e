package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Exact percentiles via the value HISTOGRAM — corpus statistics
 * without a corpus-wide sort. The corpus collapses to (value, count)
 * in one hash aggregation (map-side combine bounds the shuffle by the
 * number of DISTINCT values, not rows); the cumulative sum runs over
 * that histogram (a dimension-sized table — the single-partition
 * window is over |distinct values| rows, the t28/t29 bucket-table
 * idiom); each requested percentile then picks the SMALLEST value
 * whose cumulative count reaches `ceil(p·n)` — discrete-quantile
 * semantics (`quantile_disc`), exact at any corpus size.
 *
 * Guardrails (the selectToBudget contract, Sampling.scala):
 *  - the histogram is PERSISTED before fan-out — the probe, the
 *    prefix-sum window, the total, and the percentile join all
 *    consume it, and uncached each would re-run the corpus scan
 *    ([[graft.util.Caches.persist]], released with the query's scope);
 *  - a `maxBuckets` limit-probe runs BEFORE the window is built — a
 *    genuinely continuous column would make the prefix-sum window a
 *    single unbounded partition, so fail fast with a quantize-first
 *    message instead (or route to [[approxPercentilesBinned]]);
 *  - the rank threshold `ceil(p·n)` is evaluated in INTEGER
 *    arithmetic: each p is pinned to its shortest decimal rational
 *    num/den and the pick condition is `cum·den ≥ num·n` (for
 *    integer cum, `cum ≥ ceil(a/b)` ⟺ `cum·b ≥ a`) — bit-identical
 *    to a DECIMAL oracle for any (p, n), where a double `ceil(p*n)`
 *    could land one value high when p·n is an exact integer.
 *
 * The right tool for low-cardinality measures (lengths, counts,
 * scores quantized to fixed decimals — the corpus-stats columns a
 * data pipeline actually monitors). For genuinely continuous
 * high-cardinality columns, [[approxPercentilesBinned]] bounds the
 * state at B bins with a (hi−lo)/B value-error guarantee.
 */
object Quantiles {

  /** p as its shortest decimal rational (num, den): 0.9 → (9, 10),
    * 0.25 → (1, 4 → kept as 25/100; reduction unnecessary for the
    * integer compare). `BigDecimal.valueOf` goes through
    * `Double.toString`, i.e. the shortest decimal that round-trips —
    * the number the caller actually typed. */
  private[operators] def rational(p: Double): (Long, Long) = {
    val bd = java.math.BigDecimal.valueOf(p).stripTrailingZeros()
    val scale = math.max(bd.scale(), 0)
    val num = bd.movePointRight(scale).longValueExact()
    val den = java.math.BigDecimal.ONE.movePointRight(scale).longValueExact()
    (num, den)
  }

  private def checkPs(ps: Seq[Double]): Unit =
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"percentiles must be in (0, 1], got $ps")

  /** (p, value) for each requested percentile, ordered by p. */
  def exactPercentiles(
      df: DataFrame, valueCol: String, ps: Seq[Double],
      maxBuckets: Int = 1 << 20): DataFrame =
    pickFromValueHistogram(
      df.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c")),
      ps, maxBuckets, s"exactPercentiles('$valueCol')")

  /**
   * WEIGHTED discrete percentiles: the smallest value whose cumulative
   * WEIGHT reaches `ceil(p·W)` (W = total weight) — e.g. token-mass
   * quantiles of document length ("the median token lives in a doc of
   * ≥ X chars", the number that decides packing/chunking budgets,
   * which the unweighted doc-count median misstates whenever length
   * and count distributions diverge). Same bounded histogram shape:
   * one hash aggregation summing weights per distinct value, same
   * probe, same integer-rational threshold. Weights must be
   * non-negative integers (cast to long).
   */
  def exactPercentilesWeighted(
      df: DataFrame, valueCol: String, weightCol: String, ps: Seq[Double],
      maxBuckets: Int = 1 << 20): DataFrame =
    pickFromValueHistogram(
      df.groupBy(col(valueCol).as("v"))
        .agg(sum(col(weightCol).cast("long")).as("c")),
      ps, maxBuckets, s"exactPercentilesWeighted('$valueCol' by '$weightCol')")

  /** Shared exact pick over a (v, c) value histogram: persist, probe,
    * prefix-sum window (bounded by the probe), rational threshold. */
  private def pickFromValueHistogram(
      hist: DataFrame, ps: Seq[Double], maxBuckets: Int,
      what: String): DataFrame = {
    checkPs(ps)
    val spark = hist.sparkSession
    import spark.implicits._
    // persisted: bucket-sized but derived from a corpus-sized scan;
    // probe + window + total + join all branch from it
    val h = graft.util.Caches.persist(hist)
    // probe BEFORE the windowed plan exists (probing the window would
    // materialize the unbounded partition the guard exists to prevent)
    val probed = h.limit(maxBuckets + 1).count()
    require(probed <= maxBuckets,
      s"$what: over $maxBuckets distinct values — the histogram " +
        "prefix-sum window would be an unbounded single partition. " +
        "Quantize first (e.g. round(x, 6)), use approxPercentilesBinned, " +
        "or raise maxBuckets deliberately.")
    val cum = h.withColumn("cum", sum("c").over(Window.orderBy("v")))
    val n = h.agg(sum("c").as("n")) // 1-row total, broadcast below
    val psDf = ps.map { p => val (num, den) = rational(p); (p, num, den) }
      .toDF("p", "num", "den")
    psDf
      .crossJoin(broadcast(n))
      // cum ≥ ceil(num·n / den) ⟺ cum·den ≥ num·n — pure integers
      // (decimal(38,0) headroom: cum·den ≤ 1e15 rows × 1e17 den < 1e38)
      .join(broadcast(cum),
        col("cum").cast("decimal(38,0)") * col("den") >=
          col("num").cast("decimal(38,0)") * col("n"))
      .groupBy("p").agg(min("v").as("value"))
      .orderBy("p")
  }

  /** Per-group exact percentiles: (group, p, value). Same histogram
    * construction, cumulative + total in one window pass partitioned
    * by group; the tiny percentile list broadcasts against the
    * histogram (map-only ×|ps| expansion), and the final aggregation
    * shuffles |histogram|·|ps| rows at most — never the corpus. The
    * `maxBuckets` probe bounds the TOTAL (group × value) table, which
    * bounds every per-group window partition. */
  def exactPercentilesByGroup(
      df: DataFrame, groupCol: String, valueCol: String, ps: Seq[Double],
      maxBuckets: Int = 1 << 20): DataFrame = {
    checkPs(ps)
    val spark = df.sparkSession
    import spark.implicits._
    val h = graft.util.Caches.persist(df.groupBy(col(groupCol).as("g"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("c")))
    val probed = h.limit(maxBuckets + 1).count()
    require(probed <= maxBuckets,
      s"exactPercentilesByGroup: over $maxBuckets distinct (group, value) " +
        "pairs — quantize the value first (e.g. round(x, 6)), use " +
        "approxPercentilesBinned, or raise maxBuckets deliberately.")
    val cum = h
      .withColumn("cum", sum("c").over(Window.partitionBy("g").orderBy("v")))
      .withColumn("n", sum("c").over(Window.partitionBy("g")))
    val psDf = ps.map { p => val (num, den) = rational(p); (p, num, den) }
      .toDF("p", "num", "den")
    cum.crossJoin(broadcast(psDf))
      .filter(col("cum").cast("decimal(38,0)") * col("den") >=
        col("num").cast("decimal(38,0)") * col("n"))
      .groupBy("g", "p").agg(min("v").as("value"))
      .withColumnRenamed("g", groupCol)
      .orderBy(groupCol, "p")
  }

  /**
   * Approximate percentiles for CONTINUOUS columns — the bounded-state
   * path [[exactPercentiles]]' probe points at. Two corpus passes, no
   * sort, state bounded at `bins` regardless of value cardinality:
   *
   *  1. one aggregation for the value range (lo, hi);
   *  2. one hash aggregation onto the fixed-width bin grid
   *     `bin = min(B−1, ⌊(v−lo)·B/(hi−lo)⌋)`, keeping per-bin count
   *     and the bin's max OBSERVED value as its representative;
   *  3. the exact-percentile pick over the B-row histogram (same
   *     integer-rational threshold as [[exactPercentiles]]), returning
   *     the representative of the first bin whose cumulative count
   *     reaches ceil(p·n).
   *
   * Error bound (specced): the chosen bin is exactly the bin that
   * CONTAINS the true discrete p-quantile (cumulative counts over the
   * bin grid are the value-ordered cumulative counts), and the
   * representative is an observed value inside that bin, so
   * |approx − exact| ≤ (hi − lo) / bins — a deterministic guarantee,
   * not a probabilistic one. Every arithmetic step is
   * IEEE-754-reproducible (two double ops per row, no accumulation
   * order dependence), so the result is hash-exact replayable (the
   * a19/a20 oracle idiom).
   *
   * vs t-digest: a t-digest gives rank-relative error with ~KB state
   * but is merge-order-dependent (not hash-reproducible) and needs a
   * custom buffer; the fixed grid gives a value-space bound with
   * B-row state, composes with plain `groupBy`, and stays inside
   * whole-stage codegen. For the monitoring quantiles a pipeline
   * tracks (p50/p90/p99 of lengths, scores, latencies) the value
   * bound is the useful one.
   *
   * Output: (p, value, bin, bin_lo_rank) → kept minimal: (p, value).
   */
  def approxPercentilesBinned(
      df: DataFrame, valueCol: String, ps: Seq[Double],
      bins: Int = 1 << 12): DataFrame = {
    checkPs(ps)
    require(bins > 0, s"bins must be positive, got $bins")
    val v = col(valueCol).cast("double")
    val mm = df.agg(min(v).as("lo"), max(v).as("hi")) // 1 row
    // fixed-width grid: 2 double ops per row, map-only, codegen'd
    val binExpr = when(col("hi") === col("lo"), lit(0))
      .otherwise(least(lit(bins - 1),
        floor((v - col("lo")) * lit(bins.toDouble) / (col("hi") - col("lo")))
          .cast("int")))
    val h = df.crossJoin(broadcast(mm))
      .groupBy(binExpr.as("bin"))
      .agg(count(lit(1)).as("c"), max(v).as("rep"))
    percentilesFromHistogram(h, ps)
  }

  /**
   * Fixed-grid histogram SYNOPSIS — the mergeable/persistable form of
   * the binned path (the [[Sketches.mergeSketches]] idiom for
   * quantiles): the caller PINS the grid `[lo, hi)` so partial
   * histograms built independently (per day, per source, per
   * partition) share bin boundaries and merge exactly. Values outside
   * the pinned range clamp to the edge bins (their rank mass is
   * preserved; their value error is unbounded — pin a range that
   * covers the data, e.g. [0, maxLen) for lengths). Returns
   * (`parts`…, bin, c, rep): ≤ `bins` rows per part, persistable as
   * plain columns. One bounded-state hash aggregation — at 100 TB a
   * year of daily length-histograms is 365·B rows, and the merged
   * corpus quantiles never re-touch the corpus.
   */
  def binnedHistogram(
      df: DataFrame, valueCol: String, lo: Double, hi: Double, bins: Int,
      parts: Seq[String] = Nil): DataFrame = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(bins > 0, s"bins must be positive, got $bins")
    val v = col(valueCol).cast("double")
    val bin = least(lit(bins - 1), greatest(lit(0),
      floor((v - lit(lo)) * lit(bins.toDouble) / lit(hi - lo)).cast("int")))
    df.groupBy(parts.map(col) :+ bin.as("bin"): _*)
      .agg(count(lit(1)).as("c"), max(v).as("rep"))
  }

  /** Merge partial fixed-grid histograms (same pinned grid): counts
    * add, representatives max — both associative/commutative, so
    * merged-incrementally ≡ built-one-shot exactly (specced). */
  def mergeBinnedHistograms(parts: DataFrame): DataFrame =
    parts.groupBy("bin").agg(sum("c").as("c"), max("rep").as("rep"))

  /** The percentile pick over any (bin, c, rep) histogram — shared by
    * [[approxPercentilesBinned]] and the synopsis path: cumulative
    * counts over the B-row table, integer-rational threshold, first
    * qualifying bin's representative. B is bounded by construction on
    * both in-repo callers, but the method is public and the window is
    * single-partition, so the same limit-probe guards it. */
  def percentilesFromHistogram(
      hist: DataFrame, ps: Seq[Double], maxBuckets: Int = 1 << 20): DataFrame = {
    checkPs(ps)
    val spark = hist.sparkSession
    import spark.implicits._
    val h = graft.util.Caches.persist(hist)
    val probed = h.limit(maxBuckets + 1).count()
    require(probed <= maxBuckets,
      s"percentilesFromHistogram: over $maxBuckets histogram rows — the " +
        "prefix-sum window would be an unbounded single partition. Merge " +
        "or re-bin first, or raise maxBuckets deliberately.")
    val cum = h.withColumn("cum", sum("c").over(Window.orderBy("bin")))
    val n = h.agg(sum("c").as("n"))
    val psDf = ps.map { p => val (num, den) = rational(p); (p, num, den) }
      .toDF("p", "num", "den")
    psDf
      .crossJoin(broadcast(n))
      .join(broadcast(cum),
        col("cum").cast("decimal(38,0)") * col("den") >=
          col("num").cast("decimal(38,0)") * col("n"))
      // first qualifying bin: reps are monotone in bin index (each is
      // a value inside its bin's range), so min(rep) = first bin's rep
      .groupBy("p").agg(min("rep").as("value"))
      .orderBy("p")
  }

  /**
   * Grouped MEDIAN ABSOLUTE DEVIATION — the robust dispersion the
   * data-cleaning pass uses where stddev is blown up by the very
   * outliers it is meant to find (median of |x − median(x)| per
   * group; scale estimate ≈ 1.4826·MAD for a normal reference).
   * Nearest-rank medians (the [[exactPercentiles]] `quantile_disc`
   * semantics, `cum·2 ≥ n` in pure integers) keep every intermediate
   * an ACTUAL data value — with integer input everything stays a Long
   * end to end; no float enters at any step.
   *
   * Scale shape: two value-histogram passes (groupBy (g, v) hash
   * aggregate with map-side combine, prefix-sum window whose
   * partition is |distinct values within the group| — the Quantiles
   * histogram idiom, never row-count-sized) bridged by one broadcast
   * join of the (|groups|-sized) median table back onto the corpus.
   *
   * @param value integer-valued Long column; the caller owns scaling.
   */
  def groupedMad(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    def medOf(in: DataFrame, vCol: String, out: String): DataFrame = {
      val h = in.groupBy(col(groupCol), col(vCol).as("__v"))
        .agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(groupCol)
      h.withColumn("__cum", sum("__c").over(w.orderBy("__v")))
        .withColumn("__n", sum("__c").over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .groupBy(groupCol)
        .agg(min(when(col("__cum") * 2 >= col("__n"), col("__v"))).as(out),
          max(col("__n")).as("n"))
    }
    val med = medOf(df, valueCol, "median")
    val dev = df.join(broadcast(med.select(col(groupCol), col("median"))), Seq(groupCol))
      .select(col(groupCol), abs(col(valueCol) - col("median")).as("__d"))
    medOf(dev, "__d", "mad").withColumnRenamed("n", "__n2")
      .join(med, Seq(groupCol))
      .select(col(groupCol), col("n"), col("median"), col("mad"))
  }
}
