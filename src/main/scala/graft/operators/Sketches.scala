package graft.operators

import graft.functions.ScalarFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded ascending buffer of ≤ k distinct hash values. A Product so
  * the aggregation buffer rides Spark's product encoder (no kryo). */
final case class KMinBuf(hs: Array[Long])

/**
 * K-minimum-values (KMV) distinct-count sketch — bounded-state
 * cardinality estimation (public method: Bar-Yossef et al. 2002;
 * Beyer et al. SIGMOD 2007 "On synopses for distinct-value
 * estimation under multiset operations").
 *
 * Each map task keeps the k smallest DISTINCT hash values per group
 * (duplicates hash identically, so they insert once — multiplicity
 * never reaches the buffer). Partial aggregation bounds the exchange
 * at k longs per group per task regardless of row volume, which is
 * the whole point at 100 TB: a distinct-user count over a trillion
 * events shuffles kilobytes per group where `count(DISTINCT x)`
 * shuffles every distinct value. The merged buffer IS the sketch —
 * sorted, mergeable (union = re-insert), and persistable as a plain
 * `array<bigint>` column, so per-partition sketches can be stored and
 * unioned incrementally (the same history-index pattern the LSH
 * near-dup ingest uses).
 *
 * Determinism: the sketch is a pure function of the SET of hash
 * values — partitioning, input order, and duplication cannot change
 * it, so the estimate is hash-exact reproducible (DuckDB replicates
 * it with row_number over distinct hashes).
 *
 * Estimator: with U_(k) the k-th smallest of n distinct hashes drawn
 * uniformly from [0, 2^60) (the [[ScalarFunctions.md5Long]] space),
 * E[U_(k)/2^60] = k/(n+1), giving the standard unbiased-ish
 * n̂ = (k-1) · 2^60 / U_(k); when fewer than k distinct values exist
 * the sketch holds ALL of them and the count is exact. Relative
 * standard error ≈ 1/√(k−2).
 */
class KMinDistinctAgg(k: Int) extends Aggregator[Long, KMinBuf, Seq[Long]] {
  require(k > 0)

  override def zero: KMinBuf = KMinBuf(Array.empty)

  /** Insert one hash into a sorted distinct bounded buffer (O(log k)
    * search + O(k) copy; k small). */
  private def insert(b: KMinBuf, h: Long): KMinBuf = {
    val a = b.hs
    val n = a.length
    if (n == k && h >= a(n - 1)) return b
    val pos = {
      val i = java.util.Arrays.binarySearch(a, h)
      if (i >= 0) return b // already present — distinct semantics
      -(i + 1)
    }
    val m = math.min(n + 1, k)
    val out = new Array[Long](m)
    System.arraycopy(a, 0, out, 0, pos)
    out(pos) = h
    val tail = m - pos - 1
    if (tail > 0) System.arraycopy(a, pos, out, pos + 1, tail)
    KMinBuf(out)
  }

  override def reduce(b: KMinBuf, h: Long): KMinBuf = insert(b, h)

  override def merge(a: KMinBuf, b: KMinBuf): KMinBuf = {
    var acc = a
    var i = 0
    while (i < b.hs.length) { acc = insert(acc, b.hs(i)); i += 1 }
    acc
  }

  override def finish(b: KMinBuf): Seq[Long] = b.hs.toSeq

  override def bufferEncoder: Encoder[KMinBuf] = Encoders.product[KMinBuf]
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object Sketches {

  /** Size of the [[ScalarFunctions.md5Long]] hash space: 2^60 (15 hex
    * chars). Exactly representable as a double. */
  val HashSpace: Double = math.pow(2, 60)

  /** Column form: `kMinDistinct(32)(hashCol)` → ascending
    * `array<bigint>` of the ≤ 32 smallest distinct hash values. */
  def kMinDistinct(k: Int): Column => Column = {
    val fn = udaf(new KMinDistinctAgg(k), Encoders.scalaLong)
    h => fn(h)
  }

  /** The KMV estimate for a sketch column built with parameter `k`:
    * exact size when the buffer is under-full (all distinct values
    * are IN the sketch), (k−1)·2^60 / U_(k) otherwise. */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(round(
        lit((k - 1).toDouble * HashSpace) / element_at(sketch, k).cast("double"))
        .cast("long"))

  /**
   * Merge persisted sketch columns: rows of (groupCols, sketchCol:
   * array<bigint>) — e.g. one sketch per (key, day) partition stored
   * as parquet — re-aggregated to one sketch per `groupCols`. Union
   * of KMV sketches = k smallest of the combined hash sets, which is
   * exactly re-insertion, so merged-incrementally ≡ built-one-shot
   * bit for bit (the StreamingSpec foreachBatch gate). The explode is
   * bounded at k rows per input sketch — merging a year of daily
   * per-key sketches shuffles 365·k longs per key, independent of the
   * row volume that built them.
   */
  def mergeSketches(
      df: DataFrame, groupCols: Seq[String], sketchCol: String,
      k: Int): DataFrame = {
    val agg = kMinDistinct(k)
    df.select(groupCols.map(col) :+ explode(col(sketchCol)).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(agg(col("__h")).as(sketchCol))
  }

  /** Union of two sketch columns built with the same `k`: the k
    * smallest of the combined hash SETS — exactly re-insertion, so
    * union-of-sketches ≡ sketch-of-union (closed under multiset union,
    * Beyer et al. 2007 §4.1). Pure built-in array ops, codegen'd. */
  def sketchUnion(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** K∩: how many of the union sketch's hashes appear in BOTH input
    * sketches — the intersection-within-synopsis count the Jaccard and
    * intersection estimators are built on (Beyer et al. 2007 §5.2). */
  def sketchInterCount(union: Column, a: Column, b: Column): Column =
    size(array_intersect(array_intersect(union, a), b)).cast("long")

  /**
   * Pairwise set-overlap estimates between every pair of groups, at
   * sketch cost — the cross-corpus overlap / train∩eval contamination
   * matrix: ONE bounded-state pass builds a k-hash sketch per group,
   * then a broadcast self-join over the G sketches (G·k longs total —
   * KB-sized for any real group count) computes, per pair (g1 < g2):
   *
   *  - `est_a`, `est_b`   — each side's KMV distinct estimate;
   *  - `est_union`        — estimate from the UNION sketch (closed
   *                         form: union of sketches IS the union's
   *                         sketch, so the same estimator applies);
   *  - `n_inter`          — K∩, the union sketch's hashes present in
   *                         both sides (exact within the synopsis);
   *  - `est_inter`        — round(K∩/|L| · est_union): the Beyer et
   *                         al. unbiased intersection estimator;
   *  - `jaccard`          — K∩/|L|, the Jaccard estimate (±1/√k).
   *
   * Never touches the corpus after the one sketch pass — estimating
   * all-pairs overlap among 1000 sources over a trillion rows shuffles
   * G·k longs where an exact `INTERSECT` would shuffle the corpus
   * G²/2 times. When every sketch is under-full the estimates are
   * EXACT (the sketches hold the entire hash sets). Deterministic:
   * every value is a pure function of the per-group hash sets (the
   * a19 replay idiom — the oracle rebuilds it in SQL).
   */
  def kmvOverlapMatrix(
      df: DataFrame, groupCol: String, valueCol: String,
      k: Int, maxGroups: Int = 4096): DataFrame = {
    val agg = kMinDistinct(k)
    val sk = graft.util.Caches.persist(df.select(col(groupCol).as("g"),
        ScalarFunctions.md5Long(col(valueCol).cast("string")).as("__h"))
      .groupBy("g").agg(agg(col("__h")).as("s")))
    // limit-probe (the selectToBudget idiom): the pair join is G²/2 —
    // the right tool for corpora/sources/splits (tens to thousands),
    // catastrophically wrong for per-user groups at 100 TB. Fail fast
    // BEFORE the self-join plans; the probe also materializes the
    // sketch cache both join sides then reuse.
    val probed = sk.limit(maxGroups + 1).count()
    require(probed <= maxGroups,
      s"kmvOverlapMatrix: over $maxGroups groups in '$groupCol' — the " +
        "pairwise matrix is G²/2 rows. Pre-aggregate to coarser corpora " +
        "or raise maxGroups deliberately.")
    val a = sk.select(col("g").as("g1"), col("s").as("s1"))
    val b = sk.select(col("g").as("g2"), col("s").as("s2"))
    a.join(broadcast(b), col("g1") < col("g2"))
      .withColumn("u", sketchUnion(col("s1"), col("s2"), k))
      .withColumn("k_union", size(col("u")).cast("long"))
      .withColumn("n_inter", sketchInterCount(col("u"), col("s1"), col("s2")))
      .select(
        col("g1"), col("g2"),
        kmvEstimate(col("s1"), k).as("est_a"),
        kmvEstimate(col("s2"), k).as("est_b"),
        kmvEstimate(col("u"), k).as("est_union"),
        col("n_inter"),
        round(col("n_inter").cast("double") * kmvEstimate(col("u"), k) /
          col("k_union")).cast("long").as("est_inter"),
        round(col("n_inter").cast("double") / col("k_union"), 6).as("jaccard"))
      .orderBy("g1", "g2")
  }

  /**
   * Distinct-count estimate of `valueCol` per `groupCols` with one
   * bounded-state hash aggregation. Returns the group columns plus
   * `n_kept` (sketch fill) and `est_distinct`.
   */
  def kmvDistinct(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int): DataFrame = {
    val agg = kMinDistinct(k)
    df.select(groupCols.map(col) :+
        ScalarFunctions.md5Long(col(valueCol).cast("string")).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(agg(col("__h")).as("__ks"))
      .select(groupCols.map(col) ++ Seq(
        size(col("__ks")).cast("long").as("n_kept"),
        kmvEstimate(col("__ks"), k).as("est_distinct")): _*)
  }

  // ── Count-Min sketch ────────────────────────────────────────────
  // Approximate per-item FREQUENCIES in depth·width counters (public
  // method: Cormode & Muthukrishnan 2005 "An improved data stream
  // summary: the count-min sketch and its applications"). The member
  // the synopsis family was missing: KMV answers "how many DISTINCT",
  // TopKAgg heavy hitters answer "which items exactly", CMS answers
  // "about how often is ANY item" in O(d·w) state — mergeable by
  // counter addition, so per-partition / per-day partials compose
  // exactly (the mergeBinnedHistograms idiom for counts). Guarantees:
  // est ≥ true always (hash collisions only ADD); est ≤ true + εN
  // with ε = e/width under random hashing. Deterministic: counters
  // are pure functions of the value multiset via the portable 60-bit
  // md5 hash, so DuckDB replays every cell and estimate bit-exactly.

  /** Row-r CMS bucket of `c`: portable-hash of the salted value,
    * mod width. The salt string makes the d rows independent hashes
    * of the SAME value (the standard seeded-family construction). */
  private def cmsBucket(c: Column, r: Int, width: Int): Column =
    pmod(ScalarFunctions.md5Long(concat(lit(s"cms$r:"), c.cast("string"))),
      lit(width.toLong))

  private def cmsPairs(c: Column, depth: Int, width: Int): Column =
    explode(array((0 until depth).map(r =>
      struct(lit(r).as("r"), cmsBucket(c, r, width).as("b"))): _*))

  /**
   * Build the sketch: a DataFrame of `(r, b, c)` counter cells —
   * ≤ depth·width rows REGARDLESS of input size. One hash
   * aggregation whose exchange is bounded at depth·width cells per
   * task by partial aggregation (each input row increments exactly
   * `depth` cells). Rows with a NULL value are skipped (no item).
   */
  def cmsBuild(df: DataFrame, valueCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be positive")
    df.filter(col(valueCol).isNotNull)
      .select(cmsPairs(col(valueCol), depth, width).as("p"))
      .select(col("p.r").as("r"), col("p.b").as("b"))
      .groupBy("r", "b").agg(count(lit(1)).as("c"))
  }

  /** Merge partial sketches (same depth/width) by counter addition —
    * union of builds over disjoint slices ≡ one build over the
    * concatenation, EXACTLY (specced). The persist-and-merge synopsis
    * idiom: store each day's d·w cells, fold them at read time. */
  def cmsMerge(parts: DataFrame): DataFrame =
    parts.groupBy("r", "b").agg(sum("c").as("c"))

  /**
   * Point-query the sketch: for each distinct value of
   * `items(valueCol)`, `est_count` = min over the d counters it
   * hashes to (an absent cell counts 0). Like every CMS, an unseen
   * value estimates its collision mass — 0 only if one of its d
   * cells is empty, otherwise up to εN — the one-sided error the
   * est ≥ true guarantee trades for bounded state. The sketch side
   * is KB-sized by construction, so it BROADCASTS; the probe is a
   * map-side join at any item count.
   */
  def cmsEstimate(
      sketch: DataFrame, items: DataFrame, valueCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be positive")
    items.filter(col(valueCol).isNotNull)
      .select(col(valueCol), cmsPairs(col(valueCol), depth, width).as("p"))
      .select(col(valueCol), col("p.r").as("r"), col("p.b").as("b"))
      .join(broadcast(sketch), Seq("r", "b"), "left")
      .groupBy(valueCol)
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
  }
}
