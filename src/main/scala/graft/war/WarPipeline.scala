package graft.war

import graft.functions.ScalarFunctions.safeDiv
import graft.metrics.GutsConstants
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The composite WAR pipeline (reference
 * `processors/war_calculation/calculator.py:86-371`, `batting.py`,
 * `pitching.py`, `sos_utils.py`) — the reference's only stage with a
 * real data-dependency graph: batting WAR totals feed the pitching
 * 57/43 rescale; league/conference scalars feed per-row formulas.
 *
 * Spark shapes: conference aggregates are window `sum over (partition
 * by conference)` (A14 — no per-conference loop); league scalars are
 * driver `agg().first()`; park factors and SoS maps are broadcast
 * joins; the final rescales are one more window/broadcast pass.
 */
object WarPipeline {

  /** Positional adjustment run values (reference
    * `war_calculation/constants.py:1-20`). */
  val adjustments: Map[String, Double] = Map(
    "ss" -> 1.85, "c" -> 3.09, "2b" -> 0.62, "3b" -> 0.62, "ut" -> 0.62,
    "cf" -> 0.62, "inf" -> 0.62, "lf" -> -1.85, "rf" -> -1.85, "1b" -> -3.09,
    "dh" -> -3.09, "of" -> 0.25, "ph" -> -0.74, "pr" -> -0.74, "p" -> 0.62,
    "rp" -> 0.62, "sp" -> 0.62, "" -> 0.0)

  def gamesPerSeason(division: String): Int = if (division == "ncaa_3") 40 else 50

  /** Position → run-value as a column map (batting.py:150-152's
    * `.map(adjustments)`); unknown positions → 0. */
  def posAdjValue(pos: Column): Column =
    adjustments.foldLeft(lit(0.0)) { case (acc, (p, v)) =>
      when(pos === p, v).otherwise(acc)
    }

  private def adjMapCol: Column = posAdjValue(col("__pos_canon"))

  /** Per-player positional adjustment from lineup appearances
    * (batting.py:132-160): per (player, first-listed position),
    * distinct games weighted by the position run value. */
  def positionalAdjustments(lineups: DataFrame, division: String): DataFrame =
    lineups
      .filter(col("player_id").isNotNull && col("player_id") =!= "")
      .withColumn("__pos_canon",
        lower(coalesce(element_at(split(col("position"), "/"), 1), lit(""))))
      .groupBy("player_id", "__pos_canon")
      .agg(countDistinct("contest_id").as("games"))
      .withColumn("__adj", adjMapCol)
      .withColumn("weighted", col("__adj") * (col("games") / lit(gamesPerSeason(division).toDouble)))
      .groupBy("player_id")
      .agg(sum("weighted").as("positional_adjustment"))

  /** Single-position fallback (batting.py:163-168). */
  def fallbackAdjustment(pos: String, gp: Int, division: String): Double =
    adjustments.getOrElse(Option(pos).getOrElse("").toLowerCase, 0.0) *
      (gp.toDouble / gamesPerSeason(division))

  /** wGDP (batting.py:218-245): opportunity = runner on 1st, <2 outs;
    * event = "double play" in the description; league-rate scaled. */
  def wgdp(pbp: DataFrame, idCol: String = "batter_id"): DataFrame = {
    val opps = pbp.filter(
      col("r1_id").isNotNull && col("r1_id") =!= "" &&
        col("outs_before").cast("int") < 2 &&
        col(idCol).isNotNull && col(idCol) =!= "")
    val perId = opps.groupBy(idCol).agg(
      count(lit(1)).as("gdp_opps"),
      count(when(lower(col("play_description")).contains("double play"), 1)).as("gdp"))
    val lg = perId.agg(
      (sum("gdp").cast("double") / sum("gdp_opps")).as("__lg_rate"))
    perId.crossJoin(broadcast(lg))
      .withColumn("wgdp", (col("gdp_opps") * col("__lg_rate") - col("gdp")) * 0.5)
      .drop("__lg_rate")
  }

  /** Bunts-for-hits (batting.py:248-257): bunt batted balls that were
    * not sacrifices. */
  def bfh(pbp: DataFrame): DataFrame =
    pbp.filter(
        col("batter_id").isNotNull && col("batter_id") =!= "" &&
          col("batted_ball_type") === "BU" &&
          !lower(col("play_description")).contains("sacrifice"))
      .groupBy("batter_id").agg(count(lit(1)).as("bfh"))

  // -------------------------------------------------------------------------
  // SoS adjust + division normalization (sos_utils.py)
  // -------------------------------------------------------------------------

  /** Massey-style team-name normalizer (sos_utils.py:5-10 — note it is
    * WEAKER than ScalarFunctions.normName: only &→and, dot-strip,
    * double-space collapse). */
  def normTeam(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(lower(trim(c)), "&", "and"), "\\.", ""),
      "  ", " ")

  /**
   * SoS reward/punish (sos_utils.py:38-109): per (component, year,
   * division) z-score of SoS (clipped), WAR scaled by
   * 1 + alpha·z·sign(war), then rescaled so each component's total is
   * unchanged. Input needs (war, sos_val, year, division, component).
   */
  def sosRewardPunish(bp: DataFrame, alpha: Double = 0.2, clipSd: Double = 3.0,
      harderIfHigher: Boolean = true): DataFrame = {
    val sign = if (harderIfHigher) 1.0 else -1.0
    val grp = Window.partitionBy("year", "division")
    val comp = Window.partitionBy("component", "year", "division")

    val mu = avg("sos_val").over(grp)
    val sd = stddev_samp(col("sos_val")).over(grp)
    val z0 = lit(sign) * (col("sos_val") - mu) / when(sd =!= 0, sd)
    val z = least(greatest(z0, lit(-clipSd)), lit(clipSd))
    val warSign = when(col("war") === 0, 1.0).otherwise(signum(col("war")))

    val adj = bp
      .withColumn("__z", z)
      .withColumn("sos_adj_war", col("war") * (lit(1) + lit(alpha) * col("__z") * warSign))
    val rawSum = sum("war").over(comp)
    val adjSum = sum("sos_adj_war").over(comp)
    adj
      .withColumn("__s", when(abs(adjSum) < 1e-12, 1.0).otherwise(rawSum / adjSum))
      .withColumn("sos_adj_war", col("sos_adj_war") * col("__s"))
      .drop("__z", "__s")
  }

  /** Division normalization (sos_utils.py:112-138): rescale each
    * component's WAR total to the standings-implied target
    * (wins − 0.294·games), split 60/40 batting/pitching. */
  def normalizeDivisionWar(
      bat: DataFrame, pitch: DataFrame, standings: DataFrame,
      division: String, year: Int, pitcherShare: Double = 0.40): (DataFrame, DataFrame) = {
    val s = standings
      .filter(col("division") === division && col("year") === year)
      .agg(sum("wins").cast("double"), sum("games").cast("double")).first()
    val targetTotal = s.getDouble(0) - 0.294 * s.getDouble(1)

    def scale(df0: DataFrame, target: Double): DataFrame = {
      val df = graft.util.Caches.persist(df0) // scalar action + returned plan share one scan
      val totRow = df.agg(sum("war").cast("double")).first()
      val tot = if (totRow.isNullAt(0)) 0.0 else totRow.getDouble(0)
      val k = if (tot == 0) 1.0 else target / math.max(tot, 1e-12)
      df.withColumn("war", col("war") * k)
        .withColumn("sos_adj_war", col("sos_adj_war") * k)
    }
    (scale(bat, targetTotal * (1 - pitcherShare)), scale(pitch, targetTotal * pitcherShare))
  }

  // -------------------------------------------------------------------------
  // Batting / pitching WAR cores
  // -------------------------------------------------------------------------

  /**
   * Batting WAR core (calculator.py:124-224): wOBA → wRAA →
   * park/conference-adjusted batting runs → replacement runs → per-
   * conference league adjustment → WAR. Input: season batting stats
   * with (player_id, team_id, team_name, conference, pos, gp, ab, h,
   * 2b, 3b, hr, bb, ibb, hbp, k, sf, sh, sb, cs, r) plus a
   * `baserunning` column (wsb+wgdp+webt, joined by the caller), park
   * factors (team_id, pf).
   */
  def battingWarCore(
      batting: DataFrame, parkFactors: DataFrame, guts: GutsConstants,
      division: String, year: Int, totalGames: Double): DataFrame = {
    import BattingFormulas._

    val base = graft.util.Caches.persist(batting
      .filter(col("ab") > 0)
      .join(broadcast(parkFactors.select(col("team_id"), col("pf"))), Seq("team_id"), "left")
      .na.fill(Map("pf" -> 100.0))
      .withColumn("1b", singles(col("h"), col("2b"), col("3b"), col("hr")))
      .withColumn("pa", plateAppearances(col("ab"), col("bb"), col("ibb"), col("hbp"), col("sf")))
      .withColumn("woba", woba(col("bb"), col("hbp"), col("1b"), col("2b"), col("3b"),
        col("hr"), col("ab"), col("ibb"), col("sf"), guts))
      .withColumn("wraa", wraa(col("woba"), guts.woba, guts.wobaScale, col("pa"))))

    // ONE fused driver aggregate for all league scalars (round-2 ran
    // three separate actions over the uncached frame). countDistinct
    // skips nulls; a null team bucket must still count (the previous
    // distinct().count() — and pandas unique() — include it).
    val lg = base.agg(sum("r").cast("double"), sum("pa").cast("double"),
      countDistinct("team_name") +
        coalesce(max(when(col("team_name").isNull, 1L).otherwise(0L)), lit(0L))).first()
    val totalPa = if (lg.isNullAt(1)) 0.0 else lg.getDouble(1)
    val lgRpa = if (totalPa > 0) lg.getDouble(0) / totalPa else 0.0
    val teamCount = math.max(lg.getLong(2), 1L).toInt
    val wConf = Window.partitionBy("conference")
    val confRpa = coalesce(
      sum("r").over(wConf).cast("double") / sum("pa").over(wConf), lit(lgRpa))

    val withRuns = base
      .withColumn("batting", battingRuns(col("wraa"), col("pa"), col("pf"), lgRpa, confRpa))
      .withColumn("replacement_level_runs",
        replacementRuns(col("pa"), totalPa, teamCount, totalGames, guts.runsWin))

    // per-conference league adjustment (calculator.py:198-208) as one
    // window pass instead of the reference's Python loop
    val lgTotal = sum(col("batting") + col("wsb") + col("positional_adjustment")).over(wConf)
    val lgPa = sum("pa").over(wConf)
    withRuns
      .withColumn("league_adjustment",
        when(lgPa > 0, -lgTotal / lgPa).otherwise(0.0) * col("pa"))
      .withColumn("war",
        (col("batting") + col("replacement_level_runs") + col("baserunning") +
          col("positional_adjustment") + col("league_adjustment")) / guts.runsWin)
      .withColumn("war", coalesce(col("war"), lit(0.0)))
      .withColumn("year", lit(year))
      .withColumn("division", lit(division))
  }

  /**
   * Pitching WAR core (calculator.py:226-319): RA9 vs conference,
   * park-adjusted, dynamic RPW, starter/reliever replacement level,
   * GMLI leverage multiplier, then the 57/43 rescale against the
   * batting WAR total. Input needs (player_id, team_id, conference,
   * app, gs, ip_float, er, r, gmli nullable).
   */
  def pitchingWarCore(
      pitching: DataFrame, parkFactors: DataFrame,
      batWarTotal: Double, division: String, year: Int): DataFrame = {
    import PitchingFormulas._

    val base = pitching
      .filter(col("app") > 0)
      .join(broadcast(parkFactors.select(col("team_id"), col("pf"))), Seq("team_id"), "left")
      .na.fill(Map("pf" -> 100.0))
      .withColumn("ra9", ra9(col("r"), col("ip_float")))

    val valid = col("ip_float") > 0
    val wConf = Window.partitionBy("conference")
    val confRa9 = sum(when(valid, col("r"))).over(wConf) * 9 /
      sum(when(valid, col("ip_float"))).over(wConf)

    val scored = graft.util.Caches.persist(base
      .withColumn("conf_ra9", confRa9)
      .withColumn("park_adj_ra9", when(valid, col("ra9") / (col("pf") / 100)))
      .withColumn("raap9", when(valid, col("conf_ra9") - col("park_adj_ra9")).otherwise(0.0))
      .withColumn("ip_per_g", safeDiv(col("ip_float"), col("app")))
      .withColumn("drpw",
        when(valid, dynamicRpw(col("ip_per_g"), col("conf_ra9"), col("park_adj_ra9")))
          .otherwise(0.0))
      .withColumn("replacement_level", replacementLevel(col("gs"), col("app")))
      .withColumn("war",
        when(valid, pitchingWar(col("raap9"), col("drpw"), col("replacement_level"),
          col("ip_float"))).otherwise(0.0))
      .withColumn("war",
        when(valid, leverageAdjustment(col("war"), coalesce(col("gmli"), lit(0.0)),
          col("app"), col("gs"))).otherwise(col("war"))))

    // 57/43 split: rescale so pitching total hits batting_total·0.43/0.57
    // (one action over the cached frame; the returned plan reuses it)
    val t = scored.agg(sum("war").cast("double"),
      sum(when(valid, col("ip_float"))).cast("double")).first()
    val targetWar = batWarTotal * 0.43 / 0.57
    val ipSum = if (t.isNullAt(1)) 0.0 else t.getDouble(1)
    val warAdj = if (ipSum > 0) (targetWar - t.getDouble(0)) / ipSum else 0.0

    scored
      .withColumn("war",
        when(valid, col("war") + lit(warAdj) * col("ip_float")).otherwise(col("war")))
      .withColumn("year", lit(year))
      .withColumn("division", lit(division))
  }

  /** Team roll-up (common.py:39-48 / A13): sum the counting columns,
    * keep a deterministic representative for the rest. */
  def aggregateTeam(df: DataFrame, sumCols: Seq[String]): DataFrame = {
    val present = sumCols.filter(df.columns.contains)
    df.groupBy("team_id", "team_name")
      .agg(present.map(c => sum(c).as(c)).head, present.map(c => sum(c).as(c)).tail: _*)
  }
}
