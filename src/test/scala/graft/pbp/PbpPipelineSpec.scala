package graft.pbp

import graft.SparkTestSession
import graft.app.RunAll
import graft.pbp.names.StandardizeNames
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CoGroupExec, InputAdapter, MapGroupsExec, SortExec,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graft.PerKeyAppendExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end parser-stage test on a synthetic three-game fixture —
  * exercises metadata → flags → outs → runs (the per-game pass's forms
  * of the reference's O(n²) loops) → base state → classify through
  * Spark. */
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

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // clustered or scattered input, any shuffle width, AQE on or off
  test("parse is partition-invariant") {
    // every column of every play, in a fixed order
    def rowsOf(raw: DataFrame): (Seq[Row], SparkPlan) = {
      val (rows, plan) = PlanShape.run(PbpPipeline.parse(raw).orderBy("contest_id", "play_id"))
      (rows.toSeq, plan)
    }
    val (base, basePlan) = rowsOf(manyGames)
    assert(base.length === 24 * 30)
    // the scattered input shuffles by game exactly once, under the pass
    val passes = PlanShape.passes(basePlan)
    assert(passes.length === 1, basePlan.treeString)
    assert(PlanShape.shuffledInput(passes.head.children.head), basePlan.treeString)
    assert(PlanShape.exchangesOn(basePlan, Set("contest_id")) === 1, basePlan.treeString)

    // input already clustered by game: the pass adds no exchange
    val (clustered, clusteredPlan) = rowsOf(manyGames.repartition(5, col("contest_id")))
    assert(clustered === base)
    assert(!PlanShape.shuffledInput(PlanShape.passes(clusteredPlan).head.children.head),
      clusteredPlan.treeString)

    for (conf <- Seq(
        Seq("spark.sql.shuffle.partitions" -> "1"),
        Seq("spark.sql.shuffle.partitions" -> "8"),
        Seq("spark.sql.adaptive.enabled" -> "false"),
        Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "8"))) {
      withConf(conf: _*) {
        assert(rowsOf(manyGames)._1 === base, conf)
        assert(rowsOf(manyGames.repartition(3, col("contest_id")))._1 === base, conf)
      }
    }
  }

  test("pbp chain: three per-game passes; the plays shuffle once") {
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
    assert(PlanShape.windows(plan) === 0, plan.treeString)
    assert(PlanShape.typedGroupOps(plan) === 0, plan.treeString)
    // parse, pitchers, names: the later two sit on the parse's game
    // partitioning, and each of them shuffles only its lineup table
    val passes = PlanShape.passes(plan)
    assert(passes.length === 3, plan.treeString)
    val (withDim, parse) = passes.partition(_.children.length == 2)
    assert(parse.length === 1 && withDim.length === 2, plan.treeString)
    assert(PlanShape.shuffledInput(parse.head.children.head), plan.treeString)
    withDim.foreach { p =>
      assert(!PlanShape.shuffledInput(p.children.head), plan.treeString)
      assert(PlanShape.shuffledInput(p.children(1)), plan.treeString)
    }
    // one exchange over the play rows, one per lineup table
    assert(PlanShape.exchangesOn(plan, Set("contest_id")) === 3, plan.treeString)
    assert(PlanShape.exchangesOn(plan, Set("contest_id", "play_id")) === 0, plan.treeString)
  }

  test("pbp output schemas are pinned") {
    // name:type, with ! marking a non-nullable column
    def sig(df: DataFrame): Seq[String] = df.schema.fields.toSeq.map(f =>
      s"${f.name}:${f.dataType.simpleString}" + (if (f.nullable) "" else "!"))
    val raw = Seq(
      (1L, 1, 1, "Adams singled to left", null: String),
      (1L, 2, 1, "Brown walked", null))
      .toDF("contest_id", "seq", "inning", "away_text", "home_text")
    val p = PbpPipeline.parse(raw)
    val scored = Seq((9L, 1, 1, "Ace homered", null: String, 1, 0))
      .toDF("contest_id", "seq", "inning", "away_text", "home_text", "away_score", "home_score")
    val teamed = p.withColumn("pitch_team_id", lit("H1")).withColumn("bat_team_id", lit("A1"))
    val pitched = PbpPipeline.withPitchers(teamed,
      Seq((1L, "H1", "S", "p1", 0))
        .toDF("contest_id", "team_id", "player_name", "player_id", "pitch_order"))
    val named = StandardizeNames(spark, pitched,
      Seq((1L, "A1", "Adams", "a1")).toDF("contest_id", "team_id", "player_name", "player_id"))
    val got = Map(
      "parse" -> sig(p),
      "parseScores" -> sig(PbpPipeline.parse(scored, 2026, 2026)),
      "parseText" -> sig(PbpPipeline.parse(scored, 2024, 2026)),
      "withPitchers" -> sig(pitched),
      "names" -> sig(named))
    val expected = Map(
    "parse" -> Seq(
      "contest_id:bigint!", "seq:int!", "inning:int!", "away_text:string", "home_text:string",
      "half:string!", "play_description:string!", "play_id:int!", "new_inn_fl:boolean!",
      "top_inning_fl:int!", "new_game_fl:boolean!", "game_end_fl:boolean!",
      "inn_end_fl:boolean!", "int_bb_fl:int!", "sub_out:string", "p2_text:string", "sub_fl:int",
      "sub_pos:string", "p3_text:string", "sub_in:string", "p1_text:string", "p4_text:string",
      "sh_fl:int", "sf_fl:int", "pitcher_sub_fl:int", "outs_on_play:int", "outs_reason:string",
      "outs_before:int!", "outs_after:int", "runs_on_play:int", "runs_this_inn:int",
      "runs_roi:int", "batter_name:string", "player_of_interest:string", "r1_name:string",
      "r2_name:string", "r3_name:string", "bases_before:string", "r1_after:string",
      "r2_after:string", "r3_after:string", "bases_after:string", "event_type:string",
      "batted_ball_type:string", "home_score_before:int!", "away_score_before:int!",
      "home_score_after:int", "away_score_after:int", "bat_order:int"),
    "parseScores" -> Seq(
      "contest_id:bigint!", "seq:int!", "inning:int!", "away_text:string", "home_text:string",
      "away_score:int!", "home_score:int!", "half:string!", "play_description:string!",
      "play_id:int!", "new_inn_fl:boolean!", "top_inning_fl:int!", "new_game_fl:boolean!",
      "game_end_fl:boolean!", "inn_end_fl:boolean!", "int_bb_fl:int!", "sub_out:string",
      "p2_text:string", "sub_fl:int", "sub_pos:string", "p3_text:string", "sub_in:string",
      "p1_text:string", "p4_text:string", "sh_fl:int", "sf_fl:int", "pitcher_sub_fl:int",
      "outs_on_play:int", "outs_reason:string", "outs_before:int!", "outs_after:int",
      "away_score_after:int!", "home_score_after:int!", "away_score_before:int!",
      "home_score_before:int!", "runs_on_play:int!", "runs_this_inn:int", "runs_roi:int",
      "batter_name:string", "player_of_interest:string", "r1_name:string", "r2_name:string",
      "r3_name:string", "bases_before:string", "r1_after:string", "r2_after:string",
      "r3_after:string", "bases_after:string", "event_type:string", "batted_ball_type:string",
      "bat_order:int"),
    "parseText" -> Seq(
      "contest_id:bigint!", "seq:int!", "inning:int!", "away_text:string", "home_text:string",
      "away_score:int!", "home_score:int!", "half:string!", "play_description:string!",
      "play_id:int!", "new_inn_fl:boolean!", "top_inning_fl:int!", "new_game_fl:boolean!",
      "game_end_fl:boolean!", "inn_end_fl:boolean!", "int_bb_fl:int!", "sub_out:string",
      "p2_text:string", "sub_fl:int", "sub_pos:string", "p3_text:string", "sub_in:string",
      "p1_text:string", "p4_text:string", "sh_fl:int", "sf_fl:int", "pitcher_sub_fl:int",
      "outs_on_play:int", "outs_reason:string", "outs_before:int!", "outs_after:int",
      "runs_on_play:int", "runs_this_inn:int", "runs_roi:int", "home_score_before:int!",
      "away_score_before:int!", "home_score_after:int", "away_score_after:int",
      "batter_name:string", "player_of_interest:string", "r1_name:string", "r2_name:string",
      "r3_name:string", "bases_before:string", "r1_after:string", "r2_after:string",
      "r3_after:string", "bases_after:string", "event_type:string", "batted_ball_type:string",
      "bat_order:int"),
    "withPitchers" -> Seq(
      "contest_id:bigint!", "play_id:int!", "seq:int!", "inning:int!", "away_text:string",
      "home_text:string", "half:string!", "play_description:string!", "new_inn_fl:boolean!",
      "top_inning_fl:int!", "new_game_fl:boolean!", "game_end_fl:boolean!",
      "inn_end_fl:boolean!", "int_bb_fl:int!", "sub_out:string", "p2_text:string", "sub_fl:int",
      "sub_pos:string", "p3_text:string", "sub_in:string", "p1_text:string", "p4_text:string",
      "sh_fl:int", "sf_fl:int", "pitcher_sub_fl:int", "outs_on_play:int", "outs_reason:string",
      "outs_before:int!", "outs_after:int", "runs_on_play:int", "runs_this_inn:int",
      "runs_roi:int", "batter_name:string", "player_of_interest:string", "r1_name:string",
      "r2_name:string", "r3_name:string", "bases_before:string", "r1_after:string",
      "r2_after:string", "r3_after:string", "bases_after:string", "event_type:string",
      "batted_ball_type:string", "home_score_before:int!", "away_score_before:int!",
      "home_score_after:int", "away_score_after:int", "bat_order:int", "pitch_team_id:string!",
      "bat_team_id:string!", "pitcher_name:string", "pitcher_id:string"),
    "names" -> Seq(
      "contest_id:bigint!", "play_id:int!", "seq:int!", "inning:int!", "away_text:string",
      "home_text:string", "half:string!", "play_description:string!", "new_inn_fl:boolean!",
      "top_inning_fl:int!", "new_game_fl:boolean!", "game_end_fl:boolean!",
      "inn_end_fl:boolean!", "int_bb_fl:int!", "sub_out:string", "p2_text:string", "sub_fl:int",
      "sub_pos:string", "p3_text:string", "sub_in:string", "p1_text:string", "p4_text:string",
      "sh_fl:int", "sf_fl:int", "pitcher_sub_fl:int", "outs_on_play:int", "outs_reason:string",
      "outs_before:int!", "outs_after:int", "runs_on_play:int", "runs_this_inn:int",
      "runs_roi:int", "bases_before:string", "r1_after:string", "r2_after:string",
      "r3_after:string", "bases_after:string", "event_type:string", "batted_ball_type:string",
      "home_score_before:int!", "away_score_before:int!", "home_score_after:int",
      "away_score_after:int", "bat_order:int", "pitch_team_id:string!", "bat_team_id:string!",
      "pitcher_name:string", "pitcher_id:string", "batter_name:string", "batter_id:string",
      "r1_name:string", "r1_id:string", "r2_name:string", "r2_id:string", "r3_name:string",
      "r3_id:string", "player_name:string", "player_id:string"))
    expected.foreach { case (k, v) => assert(got(k) === v, k) }
    assert(named.collect().head.getAs[String]("batter_id") === "a1")
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

  /** The per-game operator nodes in `plan`. */
  def passes(plan: SparkPlan): Seq[PerKeyAppendExec] =
    collect(plan) { case p: PerKeyAppendExec => p }

  def windows(plan: SparkPlan): Int = collect(plan) { case w: WindowExec => w }.length

  /** Typed group operators: the Row-encoder folds and cogroups. */
  def typedGroupOps(plan: SparkPlan): Int = collect(plan) {
    case m: MapGroupsExec => m
    case c: CoGroupExec => c
  }.length

  /** Hash exchanges in `plan` whose key columns are exactly `keys`. */
  def exchangesOn(plan: SparkPlan, keys: Set[String]): Int = collect(plan) {
    case s: ShuffleExchangeExec => s.outputPartitioning
  }.count {
    case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet == keys
    case _ => false
  }

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
