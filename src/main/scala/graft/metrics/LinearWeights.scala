package graft.metrics

import graft.pbp.EventType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * A2/A3: linear weights (reference
 * `processors/get_linear_weights.py:12-151`): per mapped event class,
 * the mean RE24 delta; re-baselined against the out value; then
 * normalized to the wOBA scale from league OBP.
 *
 * The reference's per-row dict lookups become a broadcast join against
 * the unpivoted RE matrix; the class means are one hash aggregation.
 */
object LinearWeights {

  /** event_type → linear-weight class (get_linear_weights.py:17-41). */
  val eventClass: Map[String, String] = {
    val outs = Seq(EventType.GenericOut, EventType.Strikeout, EventType.CaughtStealing,
      EventType.Pickoff, EventType.FieldersChoice, EventType.StrikeoutPassedBall,
      EventType.StrikeoutWildPitch).map(_ -> "out")
    (outs ++ Seq(
      EventType.Walk -> "walk", EventType.IntentionalWalk -> "walk",
      EventType.HitByPitch -> "hit_by_pitch",
      EventType.Single -> "single", EventType.Double -> "double",
      EventType.Triple -> "triple", EventType.HomeRun -> "home_run")).toMap
  }

  private def classCol(eventType: Column): Column =
    eventClass.foldLeft(lit("other")) { case (acc, (et, cls)) =>
      when(eventType === et, cls).otherwise(acc)
    }

  /** RE24 per play: re(end) − re(start) + runs, with end-of-inning (or
    * 3rd out) zeroed (get_linear_weights.py:44-85). `erWide` is
    * [[ExpectedRuns.matrix]] output. */
  def re24(pbp: DataFrame, erWide: DataFrame): DataFrame = {
    val re = ExpectedRuns.unpivot(erWide)
    val reStart = re.select(col("bases").as("__bs"), col("outs").as("__os"), col("erv").as("re_start"))
    val reEnd = re.select(col("bases").as("__be"), col("outs").as("__oe"), col("erv").as("__re_end_raw"))

    pbp
      .withColumn("__outs_b", least(greatest(col("outs_before"), lit(0)), lit(2)))
      .withColumn("__outs_a", least(greatest(col("outs_after"), lit(0)), lit(2)))
      .join(broadcast(reStart),
        col("bases_before") === col("__bs") && col("__outs_b") === col("__os"), "left")
      .join(broadcast(reEnd),
        col("bases_after") === col("__be") && col("__outs_a") === col("__oe"), "left")
      .withColumn("re_start", coalesce(col("re_start"), lit(0.0)))
      .withColumn("re_end",
        when(col("inn_end_fl").cast("boolean"), 0.0)
          .otherwise(coalesce(col("__re_end_raw"), lit(0.0))))
      .withColumn("re24",
        col("re_end") - col("re_start") + coalesce(col("runs_on_play"), lit(0)))
      .drop("__bs", "__os", "__be", "__oe", "__re_end_raw", "__outs_b", "__outs_a")
  }

  /** Per-class mean RE24 minus the out baseline
    * (get_linear_weights.py:87-111). Output: (events, count,
    * linear_weights_above_average, linear_weights_above_outs),
    * 'other' dropped, sorted by weight descending. */
  def aboveAverage(pbp: DataFrame, erWide: DataFrame): DataFrame = {
    val classed = re24(pbp, erWide).withColumn("events", classCol(col("event_type")))
    // ~6 rows, but referenced TWICE (the output and the out-baseline
    // broadcast) — cache it or the whole re24 join+agg runs twice
    val perClass = graft.util.Caches.persist(classed.groupBy("events")
      .agg(count(lit(1)).as("count"),
        round(sum("re24") / count(lit(1)), 3).as("linear_weights_above_average"))
      .filter(col("events") =!= "other"))
    val outVal = perClass.filter(col("events") === "out")
      .select(col("linear_weights_above_average").as("__out_val"))
    perClass.crossJoin(broadcast(outVal))
      .withColumn("linear_weights_above_outs",
        col("linear_weights_above_average") - col("__out_val"))
      .drop("__out_val")
      .orderBy(col("linear_weights_above_average").desc)
  }

  /**
   * A3: normalize to the wOBA scale (get_linear_weights.py:114-151):
   * scale = league_OBP / (Σ w·n ÷ Σ n); appends the woba_scale row.
   * `batting` needs season sums columns (h, bb, hbp, ab, sf, sh).
   */
  def normalized(lw: DataFrame, batting: DataFrame): DataFrame = {
    val spark = lw.sparkSession
    import spark.implicits._

    val t = lw.agg(
      sum(col("linear_weights_above_outs") * col("count")).as("tv"),
      sum("count").as("tp")).first()
    val denominator = if (t.getLong(1) > 0) t.getDouble(0) / t.getLong(1) else Double.NaN

    val b = batting.agg(
      sum("h").as("h"), sum("bb").as("bb"), sum("hbp").as("hbp"),
      sum("ab").as("ab"), sum("sf").as("sf"), sum("sh").as("sh")).first()
    val leagueObp = (b.getLong(0) + b.getLong(1) + b.getLong(2)).toDouble /
      (b.getLong(3) + b.getLong(1) + b.getLong(2) + b.getLong(4) + b.getLong(5))

    val wobaScale = if (denominator != 0) leagueObp / denominator else Double.NaN

    val scaled = lw.withColumn("normalized_weight",
      round(col("linear_weights_above_outs") * lit(wobaScale), 3))
    val scaleRow = Seq(("woba_scale",
        Option.empty[Long], Option.empty[Double], Option.empty[Double],
        Option(BigDecimal(wobaScale).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      .toDF("events", "count", "linear_weights_above_average",
        "linear_weights_above_outs", "normalized_weight")
    scaled.unionByName(scaleRow)
  }
}
