package graft.war

import graft.functions.ScalarFunctions
import graft.metrics.GutsConstants
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The four finalized WAR tables (reference
  * `war_calculation/models.py:226-231` WarResults). */
final case class WarResults(
    batting: DataFrame, pitching: DataFrame,
    battingTeam: DataFrame, pitchingTeam: DataFrame)

/**
 * End-to-end WAR orchestration (reference `processors/get_war.py:29-188`
 * + `war_calculation/calculator.py:86-371`): composes the season-stat
 * scans with every pbp-derived input (wGDP, BFH, wEBT, clutch, GMLI,
 * batted balls), the lineup positional adjustments, the SoS
 * reward/punish, and the division normalization into the four WAR
 * tables — the composition round 2 left unwired.
 *
 * Spark shapes: every pbp-derived table is one hash aggregation joined
 * back by player key (broadcast-sized at roster scale, shuffle-join
 * safe beyond); league scalars (batting WAR total, total games, min
 * SoS) are 1-row driver aggregates; the SoS z-score runs as window
 * passes over the slim (key, war, sos_val) projection, not the wide
 * frames.
 */
object GetWar {

  /** Parse rankings' "W-L[-T]" record into wins/losses/ties/games
    * (get_war.py:81-93 load_rankings). */
  def parseRankings(rankings: DataFrame, division: String, year: Int): DataFrame = {
    val parts = split(col("record"), "-")
    rankings
      .withColumn("wins", element_at(parts, 1).cast("int"))
      .withColumn("losses", element_at(parts, 2).cast("int"))
      .withColumn("ties",
        coalesce(get(parts, lit(2)).cast("int"), lit(0)))
      .withColumn("games", col("wins") + col("losses") + col("ties"))
      .withColumn("year", lit(year))
      .withColumn("division", lit(division))
  }

  /** ncaa team → SoS dimension (sos_utils.py:13-35): normalize both
    * sides of the mapping, attach rankings' sos_val per massey name. */
  def teamToSos(rankings: DataFrame, mappings: DataFrame): DataFrame = {
    val rk = rankings
      .select(WarPipeline.normTeam(col("massey_team")).as("massey_team_name"),
        col("sos_val"))
      .filter(col("sos_val").isNotNull)
      .dropDuplicates("massey_team_name")
    mappings
      .select(WarPipeline.normTeam(col("ncaa_team_name")).as("ncaa_team_name"),
        WarPipeline.normTeam(col("massey_team_name")).as("massey_team_name"))
      .na.drop(Seq("ncaa_team_name", "massey_team_name"))
      .join(rk, Seq("massey_team_name"), "left")
      .select("ncaa_team_name", "sos_val")
  }

  private def joinFill0(df: DataFrame, dim: DataFrame, key: String,
      fillCols: Seq[String]): DataFrame =
    df.join(dim, Seq(key), "left").na.fill(0.0, fillCols).na.fill(0L, fillCols)

  /**
   * Batting WAR (calculator.py:124-226): season stats + wSB + wGDP +
   * BFH + wEBT + clutch + positional adjustments → battingWarCore.
   */
  def battingWar(
      batting: DataFrame, pbp: DataFrame, parkFactors: DataFrame,
      lineups: DataFrame, guts: GutsConstants, division: String, year: Int,
      totalGames: Double): DataFrame = {
    val b0 = batting
      .withColumn("pos",
        upper(coalesce(element_at(split(coalesce(col("pos"), lit("")), "/"), 1), lit(""))))
      .filter(col("ab") > 0)
      .withColumn("gp", coalesce(col("gp").cast("int"), lit(0)))
      .withColumn("1b", BattingFormulas.singles(col("h"), col("2b"), col("3b"), col("hr")))
    val b1 = Baserunning.addWsbFromBatting(b0, guts.runsOut)
      .drop("gdp") // replaced by the pbp-derived gdp (calculator.py:147-148)

    val wg = WarPipeline.wgdp(pbp).withColumnRenamed("batter_id", "player_id")
    val bfh = WarPipeline.bfh(pbp).withColumnRenamed("batter_id", "player_id")
    val webt = Baserunning.webtWar(pbp, guts.runsOut)
    val clutch = ClutchStats.clutch(pbp, "batter_id")
      .select(col("batter_id").as("player_id"), col("rea"), col("wpa"),
        col("wpa_li"), col("clutch"))

    val b2 = joinFill0(
      joinFill0(
        joinFill0(b1, wg, "player_id", Seq("wgdp", "gdp_opps", "gdp")),
        bfh, "player_id", Seq("bfh")),
      webt, "player_id", Seq("webt", "ebt_opps", "ebt"))
      .withColumn("baserunning", col("wsb") + col("wgdp") + col("webt"))
      .join(clutch, Seq("player_id"), "left")

    // positional adjustment: lineup-derived where present, single-pos
    // fallback otherwise (calculator.py:179-192)
    val fallback = WarPipeline.posAdjValue(lower(col("pos"))) *
      (col("gp") / lit(WarPipeline.gamesPerSeason(division).toDouble))
    val b3 = b2
      .join(WarPipeline.positionalAdjustments(lineups, division), Seq("player_id"), "left")
      .withColumn("positional_adjustment",
        coalesce(col("positional_adjustment"), fallback))

    WarPipeline.battingWarCore(b3, parkFactors, guts, division, year, totalGames)
  }

  /** Pitching WAR (calculator.py:228-319): season stats + batted balls
    * + GMLI → pitchingWarCore → clutch (sign-flipped). */
  def pitchingWar(
      pitching: DataFrame, pbp: DataFrame, parkFactors: DataFrame,
      batWarTotal: Double, division: String, year: Int): DataFrame = {
    val p0 = pitching
      .filter(col("app") > 0)
      .withColumn("ip_float", ScalarFunctions.ipToFloat(col("ip").cast("double")))
      .drop("fo", "go")
    val bb = ClutchStats.pitcherBattedBalls(pbp)
    val gm = ClutchStats.gmli(pbp)
      .withColumnRenamed("pitcher_id", "player_id")
    val p1 = joinFill0(p0, bb, "player_id", Seq("fo", "go", "fb", "hr_div_fb"))
      .join(gm, Seq("player_id"), "left")

    val pw = WarPipeline.pitchingWarCore(p1, parkFactors, batWarTotal, division, year)
    val clutch = ClutchStats.clutch(pbp, "pitcher_id", flipSign = true)
      .select(col("pitcher_id").as("player_id"), col("rea").as("prea"),
        col("wpa").as("pwpa"), col("wpa_li").as("pwpa_li"), col("clutch"))
    pw.join(clutch, Seq("player_id"), "left")
  }

  /** SoS reward/punish across BOTH components (sos_utils.py:38-109):
    * z-score over the slim union, rescale per component, join
    * `sos_adj_war` back onto the wide frames. */
  def applySos(
      bw: DataFrame, pw: DataFrame, rankings: DataFrame, mappings: DataFrame,
      division: String, year: Int, alpha: Double = 0.2,
      clipSd: Double = 3.0): (DataFrame, DataFrame) = {
    val t2s = teamToSos(rankings, mappings)
    val minSos = rankings.agg(min(col("sos_val").cast("double"))).first() match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getDouble(0)
    }

    def slim(df: DataFrame, component: String) = df
      .select(col("player_id"), col("team_name"), col("war"))
      .withColumn("__tn", WarPipeline.normTeam(col("team_name")))
      .join(broadcast(t2s), col("__tn") === col("ncaa_team_name"), "left")
      .withColumn("sos_val", coalesce(col("sos_val").cast("double"), lit(minSos)))
      .withColumn("year", lit(year))
      .withColumn("division", lit(division))
      .withColumn("component", lit(component))
      .select("player_id", "component", "war", "sos_val", "year", "division")

    val adj = WarPipeline.sosRewardPunish(
        slim(bw, "batting").unionByName(slim(pw, "pitching")),
        alpha = alpha, clipSd = clipSd, harderIfHigher = true)
      .select("player_id", "component", "sos_adj_war")

    def attach(df: DataFrame, component: String) =
      df.join(adj.filter(col("component") === component).drop("component"),
        Seq("player_id"), "left")
    (attach(bw, "batting"), attach(pw, "pitching"))
  }

  /** Batting team roll-up (calculator.py:322-348): sum the counting
    * columns, re-derive wOBA/wRAA/wSB at team level, join team clutch. */
  def battingTeam(bw: DataFrame, pbp: DataFrame, guts: GutsConstants,
      division: String, year: Int): DataFrame = {
    val sumCols = Seq("ab", "pa", "h", "1b", "2b", "3b", "hr", "r", "bb", "ibb",
      "hbp", "k", "sf", "sh", "sb", "cs", "wsb", "wgdp", "gdp", "gdp_opps",
      "webt", "ebt_opps", "ebt", "baserunning", "batting",
      "positional_adjustment", "war", "sos_adj_war", "bfh")
    val team = WarPipeline.aggregateTeam(bw, sumCols)
      .withColumn("woba", BattingFormulas.woba(col("bb"), col("hbp"), col("1b"),
        col("2b"), col("3b"), col("hr"), col("ab"), col("ibb"), col("sf"), guts))
      .withColumn("wraa", BattingFormulas.wraa(col("woba"), guts.woba,
        guts.wobaScale, col("pa")))
    val clutch = ClutchStats.clutch(pbp, "bat_team_id")
      .select(col("bat_team_id").as("team_id"), col("rea"), col("wpa"),
        col("wpa_li"), col("clutch"))
    team.join(clutch, Seq("team_id"), "left")
      .withColumn("year", lit(year))
      .withColumn("division", lit(division))
  }

  /** Pitching team roll-up (calculator.py:350-371). */
  def pitchingTeam(pw: DataFrame, pbp: DataFrame,
      division: String, year: Int): DataFrame = {
    val sumCols = Seq("app", "gs", "w", "l", "sv", "ip_float", "h", "r", "er",
      "bb", "ibb", "so", "hbp", "bf", "hr_a", "fo", "go", "fb", "war",
      "sos_adj_war")
    val team = WarPipeline.aggregateTeam(pw, sumCols)
      .withColumn("era",
        when(col("ip_float") > 0,
          PitchingFormulas.era(col("er"), col("ip_float"))))
      .withColumn("ra9",
        when(col("ip_float") > 0, PitchingFormulas.ra9(col("r"), col("ip_float"))))
    val clutch = ClutchStats.clutch(pbp, "pitch_team_id", flipSign = true)
      .select(col("pitch_team_id").as("team_id"), col("rea").as("prea"),
        col("wpa").as("pwpa"), col("wpa_li").as("pwpa_li"), col("clutch"))
    team.join(clutch, Seq("team_id"), "left")
      .withColumn("year", lit(year))
      .withColumn("division", lit(division))
  }

  /**
   * The full division-year pipeline (calculator.py:89-122 run()):
   * batting WAR → pitching WAR (needs the batting total) → SoS →
   * team tables → division normalization.
   *
   * `rankings` must carry (massey_team, sos_val, record) — use
   * [[parseRankings]] upstream; `mappings` carries
   * (ncaa_team_name, massey_team_name).
   */
  def run(
      batting: DataFrame, pitching: DataFrame, pbp: DataFrame,
      guts: GutsConstants, parkFactors: DataFrame, lineups: DataFrame,
      rankings: DataFrame, mappings: DataFrame,
      division: String, year: Int): WarResults = {

    val totalGamesRow = pitching.agg(sum("gs").cast("double")).first()
    val totalGames = (if (totalGamesRow.isNullAt(0)) 0.0 else totalGamesRow.getDouble(0)) / 2

    val bw = graft.util.Caches.persist(battingWar(batting, pbp, parkFactors, lineups, guts,
      division, year, totalGames))
    val batTotalRow = bw.agg(sum("war").cast("double")).first()
    val batWarTotal = if (batTotalRow.isNullAt(0)) 0.0 else batTotalRow.getDouble(0)

    val pw = pitchingWar(pitching, pbp, parkFactors, batWarTotal, division, year)

    val standings = parseRankings(rankings, division, year)
    val (bwS, pwS) = applySos(bw, pw, rankings, mappings, division, year)

    val batTeam = battingTeam(bwS, pbp, guts, division, year)
    val pitchTeam = pitchingTeam(pwS, pbp, division, year)

    val (bwN, pwN) = WarPipeline.normalizeDivisionWar(bwS, pwS, standings, division, year)
    WarResults(bwN, pwN, batTeam, pitchTeam)
  }
}
