package graft.pbp

import graft.SparkTestSession
import graft.app.RunAll
import graft.pbp.names.StandardizeNames
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CoGroupExec, InputAdapter, MapGroupsExec, MapPartitionsExec,
  SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end parser-stage test on a synthetic three-game fixture —
  * exercises metadata → flags → outs → runs (window forms of the
  * reference's O(n²) loops) → base state → classify through Spark. */
class PbpPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (contest_id, seq, inning, away_text, home_text)
  private val game1 = Seq(
    (1L, 1, 1, "Adams singled to left", null),
    (1L, 2, 1, "Brown walked", null),
    (1L, 3, 1, "Cole homered, 3 RBI; Adams scored; Brown scored", null),
    (1L, 4, 1, "Dunn struck out swinging", null),
    (1L, 5, 1, "", ""), // dropped by metadata
    (1L, 6, 1, null, "Evans grounded into double play"),
    (1L, 7, 2, "Foley flied out to cf", null))
  private val game2 = Seq(
    (2L, 1, 1, null, "Giles reached on an error by ss"),
    (2L, 2, 1, null, "Giles stole second"),
    (2L, 3, 1, null, "Hart singled, RBI; Giles scored"))
  private val game3 = Seq(
    (3L, 1, 1, "Ives grounded out to 2b", null),
    (3L, 2, 1, "Jett doubled to left", null))

  private val parsedColumns = Seq(
    "contest_id", "seq", "inning", "away_text", "home_text", "half",
    "play_description", "play_id", "new_inn_fl", "top_inning_fl", "new_game_fl",
    "game_end_fl", "inn_end_fl", "int_bb_fl", "sub_out", "p2_text", "sub_fl",
    "sub_pos", "p3_text", "sub_in", "p1_text", "p4_text", "sh_fl", "sf_fl",
    "pitcher_sub_fl", "outs_on_play", "outs_reason", "outs_before", "outs_after",
    "runs_on_play", "runs_this_inn", "runs_roi", "batter_name", "player_of_interest",
    "r1_name", "r2_name", "r3_name", "bases_before", "r1_after", "r2_after",
    "r3_after", "bases_after", "event_type", "batted_ball_type",
    "home_score_before", "away_score_before", "home_score_after",
    "away_score_after", "bat_order")

  private lazy val parsed = PbpPipeline.parse(
    (game1 ++ game2 ++ game3).toDF("contest_id", "seq", "inning", "away_text", "home_text"))
    .orderBy("contest_id", "play_id")

  private lazy val rows: Array[Row] = parsed.collect()
  private def g1 = rows.filter(_.getAs[Long]("contest_id") == 1L)
  private def g2 = rows.filter(_.getAs[Long]("contest_id") == 2L)

  test("metadata drops empty rows and assigns contiguous play_id per game") {
    assert(g1.map(_.getAs[Int]("play_id")).toSeq === (1 to 6))
    assert(g2.map(_.getAs[Int]("play_id")).toSeq === (1 to 3))
    assert(g1.map(_.getAs[String]("half")).toSeq ===
      Seq("Top", "Top", "Top", "Top", "Bottom", "Top"))
  }

  test("boundary flags") {
    assert(g1.head.getAs[Boolean]("new_game_fl"))
    assert(g1.last.getAs[Boolean]("game_end_fl"))
    assert(g1.count(_.getAs[Boolean]("new_inn_fl")) === 3) // 1-Top, 1-Bottom, 2-Top
  }

  test("outs: per-play and running exclusive cumsum per inning-half") {
    val outs = g1.map(r => (r.getAs[Int]("outs_on_play"), r.getAs[Int]("outs_before")))
    // plays: single, walk, HR, K, DP(own half), flyout(new inning)
    assert(outs === Array((0, 0), (0, 0), (0, 0), (1, 0), (2, 0), (1, 0)))
    assert(g1(3).getAs[Int]("outs_after") === 1)
  }

  test("runs_on_play: explicit scored counts and RBI fallback") {
    // HR line: homered + 2×scored = 3 explicit (RBI ignored since explicit>0)
    assert(g1(2).getAs[Int]("runs_on_play") === 3)
    // g2 single: "RBI" + "Giles scored" → explicit 1
    assert(g2(2).getAs[Int]("runs_on_play") === 1)
    assert(g1(0).getAs[Int]("runs_on_play") === 0)
  }

  test("runs_this_inn / runs_roi window forms match the reference's loop semantics") {
    // 1-Top inning: total 3 runs, all on play 3
    val top1 = g1.take(4)
    assert(top1.map(_.getAs[Int]("runs_this_inn")).toSeq === Seq(3, 3, 3, 3))
    assert(top1.map(_.getAs[Int]("runs_roi")).toSeq === Seq(3, 3, 3, 0))
  }

  test("base state: forces, HR clear, runner events") {
    assert(g1(0).getAs[String]("r1_after") === "Adams")
    assert(g1(1).getAs[String]("bases_after") === "YYN")
    assert(g1(2).getAs[String]("bases_before") === "YYN")
    assert(g1(2).getAs[String]("bases_after") === "NNN") // HR clears
    // game 2: error→1st, steal→2nd, single scores Giles
    assert(g2(0).getAs[String]("r1_after") === "Giles")
    assert(g2(1).getAs[String]("r2_after") === "Giles")
    assert(g2(1).getAs[String]("batter_name") === "")
    assert(g2(2).getAs[String]("bases_after") === "YNN") // Hart on 1st
  }

  test("withPitchers folds the queue machine per game against lineups") {
    // pitch team = the team NOT batting: Top → home pitches
    val withTeam = parsed.withColumn("pitch_team_id",
      when(col("half") === "Top", concat(lit("H"), col("contest_id")))
        .otherwise(concat(lit("A"), col("contest_id"))))
    val lineups = Seq(
      (1L, "H1", "Starter H1", "ph1", 0), (1L, "H1", "Reliever H1", "ph2", 1),
      (1L, "A1", "Starter A1", "pa1", 0),
      (2L, "A2", "Starter A2", "pa9", 0),
      (4L, "H4", "Starter H4", "ph4", 0)) // game 4: lineup only, no plays
      .toDF("contest_id", "team_id", "player_name", "player_id", "pitch_order")
    val result = PbpPipeline.withPitchers(withTeam, lineups)
    val out = result.orderBy("contest_id", "play_id").collect()
    val g1p = out.filter(_.getAs[Long]("contest_id") == 1L)
    // Top-half plays faced H1's starter; the Bottom-half play faced A1's
    assert(g1p(0).getAs[String]("pitcher_name") === "Starter H1")
    assert(g1p(0).getAs[String]("pitcher_id") === "ph1")
    assert(g1p(4).getAs[String]("pitcher_name") === "Starter A1")
    // game 2 uses its own queue
    val g2p = out.filter(_.getAs[Long]("contest_id") == 2L)
    assert(g2p.head.getAs[String]("pitcher_name") === "Starter A2") // game 2 is Bottom-half → away team pitches
    // game 3 has plays but no lineup rows: every play survives with the
    // empty-queue result ("" name, null id); the lineup-only game 4
    // emits nothing
    val g3p = out.filter(_.getAs[Long]("contest_id") == 3L)
    assert(g3p.length === game3.length)
    assert(g3p.forall(r => r.getAs[String]("pitcher_name") == "" &&
      r.getAs[String]("pitcher_id") == null))
    assert(!out.exists(_.getAs[Long]("contest_id") == 4L))
    assert(out.length === rows.length)
    // the layout a left USING join on (contest_id, play_id) gives
    assert(result.columns.toSeq === Seq("contest_id", "play_id") ++
      parsedColumns.filterNot(Set("contest_id", "play_id")) ++
      Seq("pitch_team_id", "pitcher_name", "pitcher_id"))
  }

  test("parse keeps its output column list and order") {
    assert(parsed.columns.toSeq === parsedColumns)
  }

  test("event classification end-to-end") {
    assert(g1.map(_.getAs[String]("event_type")).toSeq ===
      Seq("1B", "BB", "HR", "SO", "OUT", "OUT"))
    assert(g2.map(_.getAs[String]("event_type")).toSeq === Seq("E", "SB", "1B"))
    assert(g1(4).getAs[String]("batted_ball_type") === "GB") // grounded into DP
    assert(g1(5).getAs[String]("batted_ball_type") === "FB")
  }

  /** 24 games × 30 plays, scattered across partitions first. */
  private def manyGames: DataFrame = (1 to 24).flatMap { g =>
    (1 to 30).map { i =>
      val txt = (i % 5) match {
        case 0 => s"P$g A$i singled to left"
        case 1 => s"P$g B$i walked"
        case 2 => s"P$g C$i homered, 2 RBI; P$g B${i - 1} scored"
        case 3 => s"P$g D$i struck out swinging"
        case _ => s"P$g E$i flied out to cf"
      }
      (g.toLong, i, (i % 9) + 1, if (i % 2 == 0) txt else null,
        if (i % 2 == 1) txt else null)
    }
  }.toDF("contest_id", "seq", "inning", "away_text", "home_text")
    .repartition(7)

  test("parse's shuffle-skipping fold ≡ the explicit-repartition fold on many games") {
    // the parse chain's fold groups on the contest_id the metadata
    // window already hash-partitioned on, so the planner adds no
    // exchange for it; this must equal the fold over the same rows
    // scattered round-robin, where the fold shuffles by game itself
    val raw = manyGames
    val viaChain = PbpPipeline.parse(raw)
    val pre = PbpPipeline.runs(PbpPipeline.outs(PbpPipeline.flags(PbpPipeline.metadata(raw))))
    val viaScattered = PbpPipeline.batOrder(PbpPipeline.scores(PbpPipeline.classify(
      PbpPipeline.baseState(pre.repartition(7)))))

    val cols = Seq("contest_id", "play_id", "batter_name", "bases_before",
      "bases_after", "outs_before", "runs_on_play", "event_type", "bat_order")
    def run(df: DataFrame) =
      PlanShape.run(df.select(cols.head, cols.tail: _*).orderBy("contest_id", "play_id"))
    val (a, chainPlan) = run(viaChain)
    val (b, scatteredPlan) = run(viaScattered)
    assert(a.toSeq === b.toSeq)
    assert(a.length === 24 * 30)

    val chainFolds = PlanShape.folds(chainPlan)
    assert(chainFolds.length === 1, chainPlan.treeString)
    assert(PlanShape.exchangesOn(chainFolds.head, Set("contest_id")) === 1, chainPlan.treeString)
    val scatteredFolds = PlanShape.folds(scatteredPlan)
    assert(scatteredFolds.length === 1, scatteredPlan.treeString)
    assert(PlanShape.exchangesOn(scatteredFolds.head, Set("contest_id")) === 2,
      "the scattered input's fold must add its own exchange by game\n" + scatteredPlan.treeString)
  }

  test("parse → teams → pitchers → names runs the parse once, with no (contest_id, play_id) exchange") {
    val raw = manyGames
    val games = (1 to 24).map(_.toLong)
    val teams = games.map(g => (g, s"A$g", s"H$g", s"Away $g", s"Home $g"))
      .toDF("contest_id", "away_team_id", "home_team_id", "away_team_name", "home_team_name")
    val pitching = games.flatMap(g => Seq(
      (g, s"H$g", s"Starter H$g", s"ph$g", 0), (g, s"A$g", s"Starter A$g", s"pa$g", 0)))
      .toDF("contest_id", "team_id", "player_name", "player_id", "pitch_order")
    val batting = games.flatMap(g => Seq(
      (g, s"A$g", s"P$g C2", s"c$g"), (g, s"H$g", s"P$g A5", s"a$g")))
      .toDF("contest_id", "team_id", "player_name", "player_id")
    val named = StandardizeNames(spark,
      PbpPipeline.withPitchers(RunAll.addTeams(PbpPipeline.parse(raw), Some(teams)), pitching),
      batting)

    val (rows, plan) = PlanShape.run(named)
    assert(rows.length === 24 * 30)
    val folds = PlanShape.folds(plan)
    assert(folds.length === 1, plan.treeString)
    assert(PlanShape.exchangesOn(plan, Set("contest_id", "play_id")) === 0, plan.treeString)
    // the pitcher cogroup's play side sits on the parse's own game
    // partitioning (no exchange of its own); its lineup side shuffles
    val cogroups = PlanShape.cogroups(plan)
    assert(cogroups.length === 2, plan.treeString)
    val pitcher = cogroups.filter(c => PlanShape.cogroups(c.left).isEmpty)
    assert(pitcher.length === 1, plan.treeString)
    assert(!PlanShape.shuffledInput(pitcher.head.left), plan.treeString)
    assert(PlanShape.shuffledInput(pitcher.head.right), plan.treeString)
  }

  test("scraped-scores runs branch: year gate picks score deltas over text") {
    // text says 1 run (homer) + 0 runs; the scraped scores say the
    // second play actually plated TWO (text drift — main.py:57-71's
    // reason for the branch)
    val raw = Seq(
      (9L, 1, 1, "Ace homered", null, 1, 0),
      (9L, 2, 1, "Bell singled", null, 3, 0),
      (9L, 3, 1, null, "Cruz flied out", 3, 0))
      .toDF("contest_id", "seq", "inning", "away_text", "home_text",
        "away_score", "home_score")

    val scoreBranch = PbpPipeline.parse(raw, year = 2026, currentYear = 2026)
      .orderBy("play_id").collect()
    assert(scoreBranch.map(_.getAs[Int]("runs_on_play")).toSeq === Seq(1, 2, 0))
    assert(scoreBranch(1).getAs[Int]("away_score_before") === 1)
    assert(scoreBranch(1).getAs[Int]("away_score_after") === 3)
    assert(scoreBranch(2).getAs[Int]("home_score_after") === 0)
    // rest-of-inning window shared with the text branch
    assert(scoreBranch(0).getAs[Int]("runs_this_inn") === 3)
    assert(scoreBranch(1).getAs[Int]("runs_roi") === 2)

    // same rows, pre-current year → text branch ignores score columns
    val textBranch = PbpPipeline.parse(raw, year = 2024, currentYear = 2026)
      .orderBy("play_id").collect()
    assert(textBranch.map(_.getAs[Int]("runs_on_play")).toSeq === Seq(1, 0, 0))
  }
}

/** Shape queries over the final (adaptive) physical plan of a frame. */
private object PlanShape extends AdaptiveSparkPlanHelper {
  /** Collects `df` and returns its rows with its final executed plan. */
  def run(df: DataFrame): (Array[Row], SparkPlan) = {
    val rows = df.collect()
    (rows, df.queryExecution.executedPlan)
  }

  private def isFold(p: SparkPlan): Boolean = {
    val f = p match {
      case m: MapGroupsExec => Some(m.func)
      case m: MapPartitionsExec => Some(m.func)
      case _ => None
    }
    f.exists(_.getClass.getName.startsWith("graft.operators.StatefulFold"))
  }

  /** The StatefulFold nodes in `plan`. */
  def folds(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p if isFold(p) => p }

  /** Hash exchanges in `plan` whose key columns are exactly `keys`. */
  def exchangesOn(plan: SparkPlan, keys: Set[String]): Int = collect(plan) {
    case s: ShuffleExchangeExec => s.outputPartitioning
  }.count {
    case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet == keys
    case _ => false
  }

  def cogroups(plan: SparkPlan): Seq[CoGroupExec] = collect(plan) { case c: CoGroupExec => c }

  /** Whether `side` is fed straight by a shuffle (sorts aside). */
  def shuffledInput(side: SparkPlan): Boolean = side match {
    case w: WholeStageCodegenExec => shuffledInput(w.child)
    case i: InputAdapter => shuffledInput(i.child)
    case s: SortExec => shuffledInput(s.child)
    case r: AQEShuffleReadExec => shuffledInput(r.child)
    case _: ShuffleQueryStageExec | _: ShuffleExchangeExec => true
    case _ => false
  }
}
