package graft.war

import graft.pbp.EventType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The baserunning value family (reference
 * `processors/leaderboards/baserunning.py:1-602` and
 * `processors/war_calculation/batting.py:102-114,260-356`): steal
 * opportunities/rates, wSB, wGDP, wEBT (extra-bases-taken), and the
 * composite `baserunning = wsb + wgdp + webt` that `battingWarCore`
 * consumes.
 *
 * Spark shapes, chosen for 100 TB:
 *  - runner destinations are ONE `lead()` window pass per contest
 *    (the reference's groupby-shift), not a self-join;
 *  - steal stats are a 2-way union of conditional projections → one
 *    hash aggregation (the reference's pd.concat of masked frames);
 *  - wEBT's 12 masked scenario frames collapse to row-level flag
 *    columns on two projections (r1-keyed and r2-keyed) → one union →
 *    one hash aggregation;
 *  - league rates are 1-row aggregates broadcast back in
 *    (`crossJoin(broadcast(...))`) — never a window-over-().
 */
object Baserunning {

  /** Text cues (baserunning.py:8-13) — the score/out-at regex bank. */
  private val scoreRe =
    "(?i)(?:\\bscored\\b|\\bscores\\b|\\badvanced to home\\b|\\badvances to home\\b|\\bsteals home\\b|\\bstole home\\b)"
  private val doubleScoredRe = "(?i)scored,\\s*scored"
  private val outAtRe = "(?i)\\bout at\\b|\\bthrown out\\b"

  /** Count of scoring cues in a description (baserunning.py:47-50):
    * cue occurrences minus the "scored, scored" double-count, clipped
    * at zero. */
  def scoreCount(desc: Column): Column =
    greatest(
      regexp_count(coalesce(desc, lit("")), lit(scoreRe)) -
        regexp_count(coalesce(desc, lit("")), lit(doubleScoredRe)),
      lit(0))

  /** "out at" / "thrown out" flag (baserunning.py:53-54). */
  def outAtFlag(desc: Column): Column =
    coalesce(desc, lit("")).rlike(outAtRe)

  /**
   * Runner destinations (baserunning.py:20-44 / batting.py:260-288):
   * for each play, where runner N ended up — matched against the NEXT
   * play's base state in the same game. null runner → null dest;
   * found on a next base → 1/2/3; gone → 0 (scored or out).
   * One window sort-shuffle on (contest_id, play_id).
   */
  def addRunnerDests(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("contest_id").orderBy("play_id")
    val r1n = lead("r1_id", 1).over(w)
    val r2n = lead("r2_id", 1).over(w)
    val r3n = lead("r3_id", 1).over(w)
    def dest(r: Column) =
      when(r.isNull, lit(null).cast("int"))
        .when(r === r1n, 1).when(r === r2n, 2).when(r === r3n, 3)
        .otherwise(0)
    df.withColumn("r1_dest", dest(col("r1_id")))
      .withColumn("r2_dest", dest(col("r2_id")))
  }

  /** Steal-rate derivations (baserunning.py:179-192). */
  def addStealRates(df: DataFrame): DataFrame =
    df.withColumn("sb", col("sb_2b") + col("sb_3b"))
      .withColumn("cs", col("cs_2b") + col("cs_3b"))
      .withColumn("sb_att", col("att_2b") + col("att_3b"))
      .withColumn("sb_2b_pct",
        when(col("att_2b") > 0, col("sb_2b") / col("att_2b")).otherwise(0.0))
      .withColumn("sb_3b_pct",
        when(col("att_3b") > 0, col("sb_3b") / col("att_3b")).otherwise(0.0))
      .withColumn("sb_pct",
        when(col("sb_att") > 0, col("sb") / col("sb_att")).otherwise(0.0))
      .withColumn("att_2b_per_game",
        when(col("games") > 0, col("att_2b") / col("games")).otherwise(0.0))
      .withColumn("att_3b_per_game",
        when(col("games") > 0, col("att_3b") / col("games")).otherwise(0.0))
      .withColumn("sb_att_per_game",
        when(col("games") > 0, col("sb_att") / col("games")).otherwise(0.0))

  private def stealFlags(df: DataFrame): DataFrame = {
    val isSb = col("event_type") === EventType.StolenBase
    val isCs = col("event_type") === EventType.CaughtStealing
    df.withColumn("__is_sb", isSb.cast("long"))
      .withColumn("__is_cs", isCs.cast("long"))
      .withColumn("__is_att", (isSb || isCs).cast("long"))
  }

  /**
   * Per-runner steal opportunities (baserunning.py:57-134): every play
   * with a runner on 1st is a 2B opportunity for that runner (attempt
   * if the play is SB/CS), runner on 2nd likewise for 3B. A8's
   * explode-to-long: two conditional projections, one union, one agg.
   */
  def playerStealStats(df: DataFrame): DataFrame = {
    val f = stealFlags(df)
    val fromR1 = f.filter(col("r1_id").isNotNull).select(
      col("r1_id").as("player_id"), col("contest_id"),
      (lit(1L) - col("__is_att")).as("opp_2b"), col("__is_att").as("att_2b"),
      col("__is_sb").as("sb_2b"), col("__is_cs").as("cs_2b"),
      lit(0L).as("opp_3b"), lit(0L).as("att_3b"),
      lit(0L).as("sb_3b"), lit(0L).as("cs_3b"))
    val fromR2 = f.filter(col("r2_id").isNotNull).select(
      col("r2_id").as("player_id"), col("contest_id"),
      lit(0L).as("opp_2b"), lit(0L).as("att_2b"),
      lit(0L).as("sb_2b"), lit(0L).as("cs_2b"),
      (lit(1L) - col("__is_att")).as("opp_3b"), col("__is_att").as("att_3b"),
      col("__is_sb").as("sb_3b"), col("__is_cs").as("cs_3b"))
    addStealRates(
      fromR1.unionByName(fromR2)
        .groupBy("player_id")
        .agg(countDistinct("contest_id").as("games"),
          sum("opp_2b").as("opp_2b"), sum("opp_3b").as("opp_3b"),
          sum("att_2b").as("att_2b"), sum("att_3b").as("att_3b"),
          sum("sb_2b").as("sb_2b"), sum("sb_3b").as("sb_3b"),
          sum("cs_2b").as("cs_2b"), sum("cs_3b").as("cs_3b")))
  }

  /** Team steal stats (baserunning.py:137-176): same flags keyed by
    * the batting team — a single projection, no union needed. */
  def teamStealStats(df: DataFrame): DataFrame = {
    val f = stealFlags(df)
    val r1 = col("r1_id").isNotNull
    val r2 = col("r2_id").isNotNull
    addStealRates(
      f.groupBy(col("bat_team_id").as("team_id"))
        .agg(countDistinct("contest_id").as("games"),
          sum(when(r1, lit(1L) - col("__is_att")).otherwise(0L)).as("opp_2b"),
          sum(when(r2, lit(1L) - col("__is_att")).otherwise(0L)).as("opp_3b"),
          sum(when(r1, col("__is_att")).otherwise(0L)).as("att_2b"),
          sum(when(r2, col("__is_att")).otherwise(0L)).as("att_3b"),
          sum(when(r1, col("__is_sb")).otherwise(0L)).as("sb_2b"),
          sum(when(r2, col("__is_sb")).otherwise(0L)).as("sb_3b"),
          sum(when(r1, col("__is_cs")).otherwise(0L)).as("cs_2b"),
          sum(when(r2, col("__is_cs")).otherwise(0L)).as("cs_3b")))
  }

  /** wGDP keyed by an arbitrary id column with leaderboard output
    * names (baserunning.py:195-218). */
  def wgdp(df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    val opps = df.filter(
      col("r1_id").isNotNull && col("outs_before").cast("int") < 2 &&
        col(groupCol).isNotNull)
    val perId = opps.groupBy(col(groupCol).as(idCol)).agg(
      count(lit(1)).as("gdp_opps"),
      count(when(lower(coalesce(col("play_description"), lit("")))
        .contains("double play"), 1)).as("gdp"))
    val lg = perId.agg(
      when(sum("gdp_opps") > 0, sum("gdp").cast("double") / sum("gdp_opps"))
        .otherwise(0.0).as("__lg_rate"))
    perId.crossJoin(broadcast(lg))
      .withColumn("wgdp", (col("gdp_opps") * col("__lg_rate") - col("gdp")) * 0.5)
      .select(idCol, "gdp_opps", "gdp", "wgdp")
  }

  private val ebtScenarios = Seq("13", "2h", "1h")
  private val ebtKinds = Seq("opp", "taken", "out", "hold")
  val ebtCols: Seq[String] =
    for (t <- ebtScenarios; k <- ebtKinds) yield s"${k}_$t"

  /**
   * wEBT, leaderboard flavor (baserunning.py:221-352): three
   * extra-base-taking scenarios — runner on 1st + single (→3rd),
   * runner on 2nd + single (→home), runner on 1st + double (→home) —
   * each split into taken / thrown-out / held, valued against league
   * rates. The scenario masks become flag columns on an r1-keyed and
   * an r2-keyed projection; `runs_out` prices the outs.
   */
  def webt(df: DataFrame, runsOut: Double): DataFrame = {
    val d = addRunnerDests(df)
      .withColumn("__scored_n", scoreCount(col("play_description")))
      .withColumn("__out_at", outAtFlag(col("play_description")))
    val isSingle = col("event_type") === EventType.Single
    val isDouble = col("event_type") === EventType.Double
    val hasR1 = col("r1_id").isNotNull
    val hasR2 = col("r2_id").isNotNull

    // the description's "scored"/"out at" attributes to the LEAD
    // runner: r1 if present, else r2 (baserunning.py:237-244)
    val p2IsR1 = hasR1
    val p2IsR2 = !hasR1 && hasR2
    val r1Scored = p2IsR1 && col("__scored_n") > 0
    val r2Scored = p2IsR2 && col("__scored_n") > 0
    val r1Out = p2IsR1 && col("__out_at")
    val r2Out = p2IsR2 && col("__out_at")

    val c13 = hasR1 && isSingle
    val c2h = hasR2 && isSingle
    val c1h = hasR1 && isDouble
    val taken13 = c13 && col("r1_dest") === 3
    val out13 = c13 && r1Out
    val taken2h = c2h && r2Scored
    val out2h = c2h && r2Out
    val taken1h = c1h && r1Scored
    val out1h = c1h && r1Out

    def i(c: Column) = c.cast("long")
    val fromR1 = d.filter(c13 || c1h).select(
      col("r1_id").as("player_id"),
      i(c13).as("opp_13"), i(taken13).as("taken_13"), i(out13).as("out_13"),
      i(c13 && !taken13 && !out13).as("hold_13"),
      lit(0L).as("opp_2h"), lit(0L).as("taken_2h"), lit(0L).as("out_2h"),
      lit(0L).as("hold_2h"),
      i(c1h).as("opp_1h"), i(taken1h).as("taken_1h"), i(out1h).as("out_1h"),
      i(c1h && !taken1h && !out1h).as("hold_1h"))
    val fromR2 = d.filter(c2h).select(
      col("r2_id").as("player_id"),
      lit(0L).as("opp_13"), lit(0L).as("taken_13"), lit(0L).as("out_13"),
      lit(0L).as("hold_13"),
      i(c2h).as("opp_2h"), i(taken2h).as("taken_2h"), i(out2h).as("out_2h"),
      i(c2h && !taken2h && !out2h).as("hold_2h"),
      lit(0L).as("opp_1h"), lit(0L).as("taken_1h"), lit(0L).as("out_1h"),
      lit(0L).as("hold_1h"))

    val perRunner = fromR1.unionByName(fromR2)
      .groupBy("player_id")
      .agg(sum(ebtCols.head).as(ebtCols.head),
        ebtCols.tail.map(c => sum(c).as(c)): _*)

    val lg = perRunner.agg(
      sum(col(s"opp_${ebtScenarios.head}")).as(s"__lgopp_${ebtScenarios.head}"),
      ebtScenarios.tail.map(t => sum(col(s"opp_$t")).as(s"__lgopp_$t")) ++
        ebtScenarios.map(t => sum(col(s"taken_$t")).as(s"__lgtaken_$t")) ++
        ebtScenarios.map(t => sum(col(s"out_$t")).as(s"__lgout_$t")): _*)

    def rate(num: Column, den: Column) = when(den > 0, num / den).otherwise(0.0)
    val webtExpr = ebtScenarios.map { t =>
      val takenRate = rate(col(s"__lgtaken_$t").cast("double"), col(s"__lgopp_$t"))
      val outRate = rate(col(s"__lgout_$t").cast("double"), col(s"__lgopp_$t"))
      (col(s"taken_$t") - takenRate * col(s"opp_$t")) +
        (col(s"out_$t") - outRate * col(s"opp_$t")) * lit(-runsOut)
    }.reduce(_ + _)

    perRunner.crossJoin(broadcast(lg))
      .withColumn("webt", webtExpr)
      .withColumn("ebt_opps", col("opp_13") + col("opp_2h") + col("opp_1h"))
      .withColumn("ebt_taken", col("taken_13") + col("taken_2h") + col("taken_1h"))
      .withColumn("ebt_out", col("out_13") + col("out_2h") + col("out_1h"))
      .withColumn("ebt_hold", col("hold_13") + col("hold_2h") + col("hold_1h"))
      .select((Seq(col("player_id"), col("webt")) ++ ebtCols.map(col) ++
        Seq(col("ebt_opps"), col("ebt_taken"), col("ebt_out"), col("ebt_hold"))): _*)
  }

  /**
   * wEBT, WAR-calculation flavor (batting.py:291-356): success is
   * judged from runner destinations only (r1_dest==3 / r2_dest!=0 /
   * r1_dest!=0), outs from dest==0; returns the three-column summary
   * `battingWarCore`'s baserunning input uses.
   */
  def webtWar(df: DataFrame, runsOut: Double): DataFrame = {
    val d = addRunnerDests(df)
    val isSingle = col("event_type") === EventType.Single
    val isDouble = col("event_type") === EventType.Double
    val c13 = col("r1_id").isNotNull && isSingle
    val c2h = col("r2_id").isNotNull && isSingle
    val c1h = col("r1_id").isNotNull && isDouble

    def i(c: Column) = c.cast("long")
    val fromR1 = d.filter(c13 || c1h).select(
      col("r1_id").as("player_id"),
      i(c13).as("opp_13"), i(c13 && col("r1_dest") === 3).as("taken_13"),
      i(c13 && col("r1_dest") === 0).as("out_13"), lit(0L).as("hold_13"),
      lit(0L).as("opp_2h"), lit(0L).as("taken_2h"), lit(0L).as("out_2h"),
      lit(0L).as("hold_2h"),
      i(c1h).as("opp_1h"), i(c1h && col("r1_dest") =!= 0).as("taken_1h"),
      i(c1h && col("r1_dest") === 0).as("out_1h"), lit(0L).as("hold_1h"))
    val fromR2 = d.filter(c2h).select(
      col("r2_id").as("player_id"),
      lit(0L).as("opp_13"), lit(0L).as("taken_13"), lit(0L).as("out_13"),
      lit(0L).as("hold_13"),
      i(c2h).as("opp_2h"), i(c2h && col("r2_dest") =!= 0).as("taken_2h"),
      i(c2h && col("r2_dest") === 0).as("out_2h"), lit(0L).as("hold_2h"),
      lit(0L).as("opp_1h"), lit(0L).as("taken_1h"), lit(0L).as("out_1h"),
      lit(0L).as("hold_1h"))

    val perRunner = fromR1.unionByName(fromR2)
      .groupBy("player_id")
      .agg(sum(ebtCols.head).as(ebtCols.head),
        ebtCols.tail.map(c => sum(c).as(c)): _*)

    val lg = perRunner.agg(
      sum(col("opp_13")).as("__lgopp_13"),
      Seq(sum(col("opp_2h")).as("__lgopp_2h"), sum(col("opp_1h")).as("__lgopp_1h")) ++
        ebtScenarios.map(t => sum(col(s"taken_$t")).as(s"__lgtaken_$t")) ++
        ebtScenarios.map(t => sum(col(s"out_$t")).as(s"__lgout_$t")): _*)

    def rate(num: Column, den: Column) = when(den > 0, num / den).otherwise(0.0)
    val webtExpr = ebtScenarios.map { t =>
      val succRate = rate(col(s"__lgtaken_$t").cast("double"), col(s"__lgopp_$t"))
      val outRate = rate(col(s"__lgout_$t").cast("double"), col(s"__lgopp_$t"))
      (col(s"taken_$t") - succRate * col(s"opp_$t")) * 1.0 +
        (col(s"out_$t") - outRate * col(s"opp_$t")) * lit(-runsOut)
    }.reduce(_ + _)

    perRunner.crossJoin(broadcast(lg))
      .withColumn("webt", webtExpr)
      .withColumn("ebt_opps", col("opp_13") + col("opp_2h") + col("opp_1h"))
      .withColumn("ebt", col("taken_13") + col("taken_2h") + col("taken_1h"))
      .select("player_id", "webt", "ebt_opps", "ebt")
  }

  /** wSB over a steal-stats frame (baserunning.py:355-365): league
    * rate from the broadcast 1-row totals, opportunity = attempts. */
  def addWsb(stealStats: DataFrame, runsSb: Double, runsCs: Double): DataFrame = {
    val lg = stealStats.agg(
      sum("sb").cast("double").as("__lg_sb"),
      sum("cs").cast("double").as("__lg_cs"),
      sum("sb_att").cast("double").as("__lg_opps"))
    stealStats.crossJoin(broadcast(lg))
      .withColumn("__lg_wsb",
        when(col("__lg_opps") > 0,
          (col("__lg_sb") * runsSb + col("__lg_cs") * runsCs) / col("__lg_opps"))
          .otherwise(0.0))
      .withColumn("wsb",
        col("sb") * runsSb + col("cs") * runsCs -
          col("__lg_wsb") * greatest(col("sb_att"), lit(0L)))
      .drop("__lg_sb", "__lg_cs", "__lg_opps", "__lg_wsb")
  }

  /** wSB, WAR flavor (batting.py:102-114): opportunity = 1B+BB+HBP−IBB
    * from season batting stats; run_cs derived from runs_out. */
  def addWsbFromBatting(batting: DataFrame, runsOut: Double): DataFrame = {
    val runSb = 0.2
    val runCs = -(2 * runsOut + 0.075)
    val opps = greatest(col("1b") + col("bb") + col("hbp") - col("ibb"), lit(0))
    val lg = batting.agg(
      sum("sb").cast("double").as("__lg_sb"),
      sum("cs").cast("double").as("__lg_cs"),
      sum(col("1b") + col("bb") + col("hbp") - col("ibb")).cast("double").as("__lg_opps"))
    batting.crossJoin(broadcast(lg))
      .withColumn("__lg_wsb",
        when(col("__lg_opps") > 0,
          (col("__lg_sb") * runSb + col("__lg_cs") * runCs) / col("__lg_opps"))
          .otherwise(0.0))
      .withColumn("wsb",
        col("sb") * runSb + col("cs") * runCs - col("__lg_wsb") * opps)
      .drop("__lg_sb", "__lg_cs", "__lg_opps", "__lg_wsb")
  }

  /**
   * The full player baserunning leaderboard (baserunning.py:368-468):
   * steal stats ⋈ name map ⋈ wGDP ⋈ wEBT, then wSB and the composite.
   * `runsSb`/`runsCs`/`runsOut` come from the GUTS constants.
   */
  def playerBaserunning(
      df0: DataFrame, runsSb: Double, runsCs: Double, runsOut: Double): DataFrame = {
    // four consumers (steal, names, wGDP, wEBT) share one scan —
    // persist the projected input or the upstream pipeline runs 4×
    // (same pattern as the dedup operators' shingle persist)
    val df = graft.util.Caches.persist(df0)
    // materialize once, serially: the four consumers below are
    // INDEPENDENT stages, and on first touch the scheduler runs them
    // concurrently — each racing to compute the same uncached
    // partitions (duplicate full upstream runs, cf. the pbp01 fix)
    df.count()
    val steal = playerStealStats(df)
    val names = runnerNameMap(df)
    val wg = wgdp(df, "batter_id", "player_id")
    val wb = webt(df, runsOut)

    val joined = steal
      .join(names, Seq("player_id"), "left")
      .join(wg, Seq("player_id"), "left")
      .join(wb, Seq("player_id"), "left")
      .na.fill(0.0, Seq("wgdp", "webt"))
      .na.fill(0L, Seq("gdp_opps", "gdp") ++ ebtCols ++
        Seq("ebt_opps", "ebt_taken", "ebt_out", "ebt_hold"))
    addWsb(joined, runsSb, runsCs)
      .withColumn("baserunning", col("wsb") + col("wgdp") + col("webt"))
  }

  /** Runner→(name, team) dimension (baserunning.py:371-386): first
    * appearance by (contest, play, r1-before-r2) wins — the
    * reference's concat-order drop_duplicates, made order-stable. */
  def runnerNameMap(df: DataFrame): DataFrame = {
    val fromR1 = df.filter(col("r1_id").isNotNull).select(
      col("r1_id").as("player_id"), col("r1_name").as("player_name"),
      col("bat_team_id").as("team_id"), col("bat_team_name").as("team_name"),
      lit(0).as("__src"), col("contest_id"), col("play_id"))
    val fromR2 = df.filter(col("r2_id").isNotNull).select(
      col("r2_id").as("player_id"), col("r2_name").as("player_name"),
      col("bat_team_id").as("team_id"), col("bat_team_name").as("team_name"),
      lit(1).as("__src"), col("contest_id"), col("play_id"))
    val w = Window.partitionBy("player_id")
      .orderBy(col("contest_id"), col("play_id"), col("__src"))
    fromR1.unionByName(fromR2)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src", "contest_id", "play_id")
  }

  /**
   * Team baserunning roll-up (baserunning.py:471-602): team steal
   * stats ⋈ team wGDP ⋈ per-runner wEBT rolled up through the
   * runner→team first-appearance map, then team wSB + composite.
   */
  def teamBaserunning(
      df0: DataFrame, runsSb: Double, runsCs: Double, runsOut: Double): DataFrame = {
    val df = graft.util.Caches.persist(df0)
    df.count() // see playerBaserunning: defuse the concurrent-first-touch race
    val steal = teamStealStats(df)
    val names = df.groupBy(col("bat_team_id").as("team_id"))
      .agg(min("bat_team_name").as("team_name"))
    val wg = wgdp(df, "bat_team_id", "team_id")

    val runnerTeam = runnerNameMap(df).select("player_id", "team_id")
    val webtTeam = webt(df, runsOut)
      .join(runnerTeam, Seq("player_id"), "left")
      .groupBy("team_id")
      .agg(sum("webt").as("webt"),
        (ebtCols ++ Seq("ebt_opps", "ebt_taken", "ebt_out", "ebt_hold"))
          .map(c => sum(c).as(c)): _*)

    val joined = steal
      .join(names, Seq("team_id"), "left")
      .join(wg, Seq("team_id"), "left")
      .join(webtTeam, Seq("team_id"), "left")
      .na.fill(0.0, Seq("wgdp", "webt"))
      .na.fill(0L, Seq("gdp_opps", "gdp") ++ ebtCols ++
        Seq("ebt_opps", "ebt_taken", "ebt_out", "ebt_hold"))
    addWsb(joined, runsSb, runsCs)
      .withColumn("baserunning", col("wsb") + col("wgdp") + col("webt"))
  }
}
