package graft.pbp

import graft.operators.StatefulFold
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The play-by-play parser stage as one lazy DataFrame chain —
 * reference `processors/pbp_parser/main.py:33-54` intra-stage plan
 * (SURVEY §3.1): metadata → flags/sub-parse → outs (X3, W2) → runs
 * (W4/W5 windows replacing the O(n²) Python loops, columns.py:206-232)
 * → base state (X1 fold).
 *
 * Everything row-local is a column expression or a UDF over the pure
 * [[Parsing]] functions; the only non-codegen island is the X1 fold,
 * exactly as SURVEY §4 plans. Ordering key inside a game is
 * `play_id`; the state machine runs via [[StatefulFold.foldPartitions]]
 * (grouped on contest_id, which the window chain has already
 * partitioned on + streaming fold — no per-game materialization).
 *
 * Input schema: contest_id (long), inning (int), away_text, home_text
 * (strings, one null per row).
 */
object PbpPipeline {

  // one UDF per distinct input tuple, returning struct results: each
  // UDF invocation pays a UTF8String->String conversion per argument,
  // so functions reading the SAME text fuse into one call
  // (splitPlayersText + parseSubstitution both scan play_description;
  // classifyBattedBall consumes classifyEventType's output)
  private val splitSubUdf = udf((d: String) =>
    (Parsing.splitPlayersText(d), Parsing.parseSubstitution(d)))
  private val outsUdf = udf((a: String, b: String, c: String, d: String) =>
    Parsing.outsOnPlay(a, b, c, d))
  private val eventBbUdf = udf((t: String, p1: String, sub: Boolean) => {
    val et = Parsing.classifyEventType(t, p1, sub)
    (et, Parsing.classifyBattedBall(t, et))
  })

  /** metadata (reference columns.py:121-128): half from home_text,
    * description concat, empty rows dropped, play_id assigned in input
    * order per game. */
  def metadata(raw: DataFrame): DataFrame = {
    val w = Window.partitionBy("contest_id").orderBy("seq")
    // batched withColumns throughout the parse chain: each withColumn
    // call re-analyzes the whole (growing) plan, and at ~40 chained
    // calls the analysis overhead was ~2s per pbp01 run at sf0.1
    raw
      .withColumns(Map(
        "half" ->
          when(col("home_text").isNull || col("home_text") === "", "Top").otherwise("Bottom"),
        "play_description" ->
          trim(concat(coalesce(col("away_text"), lit("")), coalesce(col("home_text"), lit(""))))))
      .filter(col("play_description") =!= "")
      .withColumn("play_id", row_number().over(w))
  }

  /** flags (reference columns.py:235-329): sub-play split, boundary
    * flags, substitution parse, IBB/SH/SF flags. */
  def flags(df: DataFrame): DataFrame = {
    val wGame = Window.partitionBy("contest_id").orderBy("play_id")
    val wGameDesc = Window.partitionBy("contest_id").orderBy(col("play_id").desc)
    val wInn = Window.partitionBy("contest_id", "inning", "half").orderBy("play_id")
    val wInnDesc = Window.partitionBy("contest_id", "inning", "half").orderBy(col("play_id").desc)

    val p1 = col("p1_text")
    df
      .withColumns(Map(
        "__ps" -> splitSubUdf(col("play_description")),
        "new_game_fl" -> (row_number().over(wGame) === 1),
        "game_end_fl" -> (row_number().over(wGameDesc) === 1),
        "new_inn_fl" -> (row_number().over(wInn) === 1),
        "inn_end_fl" -> (row_number().over(wInnDesc) === 1),
        "int_bb_fl" -> col("play_description").contains("intentionally ").cast("int"),
        "top_inning_fl" -> (col("half") === "Top").cast("int")))
      .withColumns(Map(
        "p1_text" -> col("__ps._1._1"),
        "p2_text" -> col("__ps._1._2"),
        "p3_text" -> col("__ps._1._3"),
        "p4_text" -> col("__ps._1._4"),
        "sub_fl" -> col("__ps._2._1").cast("int"),
        "sub_in" -> col("__ps._2._2"),
        "sub_out" -> col("__ps._2._3"),
        "sub_pos" -> col("__ps._2._4")))
      .drop("__ps")
      .withColumns(Map(
        "sh_fl" ->
          (p1.contains("SAC") && !p1.rlike("(?:flied|popped)")).cast("int"),
        "sf_fl" ->
          ((p1.contains("SAC") && p1.rlike("(?:flied|popped)")) ||
            (!p1.contains("SAC") && p1.rlike("(?:flied|popped)") && p1.contains("RBI"))).cast("int"),
        "pitcher_sub_fl" -> (col("sub_pos") === "p").cast("int")))
  }

  /** outs (X3 + W2): per-play outs then running outs_before per
    * inning-half (exclusive cumsum — reference columns.py:131-141). */
  def outs(df: DataFrame): DataFrame = {
    val wInn = Window.partitionBy("contest_id", "inning", "half").orderBy("play_id")
    df
      .withColumn("__o", outsUdf(col("p1_text"), col("p2_text"), col("p3_text"), col("p4_text")))
      .withColumns(Map(
        "outs_on_play" -> col("__o._1"),
        "outs_reason" -> col("__o._2"),
        "outs_before" ->
          coalesce(sum(col("__o._1")).over(wInn.rowsBetween(Window.unboundedPreceding, -1)), lit(0))
            .cast("int")))
      .drop("__o")
      .withColumn("outs_after", (col("outs_before") + col("outs_on_play")).cast("int"))
  }

  /** The W4 segment total + W5 remaining-sum shared by both runs
    * branches (reference main.py:87-88). */
  private def innRunWindows(df: DataFrame): DataFrame = {
    val wInn = Window.partitionBy("contest_id", "inning", "half").orderBy("play_id")
    df.withColumns(Map(
      "runs_this_inn" ->
        sum("runs_on_play").over(
          wInn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).cast("int"),
      "runs_roi" ->
        sum("runs_on_play").over(
          wInn.rowsBetween(Window.currentRow, Window.unboundedFollowing)).cast("int")))
  }

  /** runs (reference columns.py:179-232): text-derived runs_on_play,
    * then the W4 segment total and the W5 remaining-sum replacing the
    * reference's O(n²) loop — numerically identical, O(n). */
  def runs(df: DataFrame): DataFrame = {
    val d = col("play_description")
    def cnt(p: String) = regexp_count(d, lit(p))
    val explicitRuns =
      cnt("(?i)homered") + cnt("(?i)homers") + cnt("(?i)scored") + cnt("(?i)scores") +
        cnt("(?i)advanced to home") + cnt("(?i)advances to home") +
        cnt("(?i)steals home") + cnt("(?i)stole home") - cnt("(?i)scored, scored")
    val rbiCountFilled = when(regexp_extract(d, "(?i)(\\d+)\\s*RBI", 1) === "", 1.0)
      .otherwise(regexp_extract(d, "(?i)(\\d+)\\s*RBI", 1).cast("double"))
    val hasRbi = d.rlike("(?i)\\bRBI\\b")

    innRunWindows(df
      .withColumn("runs_on_play",
        (when(explicitRuns > 0, explicitRuns).otherwise(0) +
          when((explicitRuns === 0) && hasRbi, rbiCountFilled).otherwise(0.0)).cast("int")))
  }

  /**
   * The scraped-scores runs branch (reference
   * `pbp_parser/main.py:57-71`, used when `year >= CURRENT_YEAR`):
   * raw `away_score`/`home_score` columns carry the authoritative
   * cumulative score AFTER each play; before-scores are the per-game
   * lag and runs_on_play the batting side's clipped delta — the
   * text-derived regex path is bypassed entirely, which is what makes
   * current-season feeds immune to description drift.
   *
   * Produces the same columns as [[runs]] + [[scores]], so callers
   * pick exactly one branch.
   */
  def runsFromScores(df: DataFrame): DataFrame = {
    val wGame = Window.partitionBy("contest_id").orderBy("play_id")
    val withScores = df
      .withColumns(Map(
        "away_score_after" -> coalesce(col("away_score").cast("int"), lit(0)),
        "home_score_after" -> coalesce(col("home_score").cast("int"), lit(0))))
      .withColumns(Map(
        "away_score_before" -> coalesce(lag("away_score_after", 1).over(wGame), lit(0)),
        "home_score_before" -> coalesce(lag("home_score_after", 1).over(wGame), lit(0))))
      .withColumn("runs_on_play",
        greatest(
          when(col("half") === "Top",
            col("away_score_after") - col("away_score_before"))
            .otherwise(col("home_score_after") - col("home_score_before")),
          lit(0)).cast("int"))
    innRunWindows(withScores)
  }

  /** scores (reference columns.py:144-170): cumulative per-game
    * scores split by half, exclusive of the current play. */
  def scores(df: DataFrame): DataFrame = {
    val wGame = Window.partitionBy("contest_id").orderBy("play_id")
    val prevFrame = wGame.rowsBetween(Window.unboundedPreceding, -1)
    val homeRuns = when(col("half") === "Bottom", col("runs_on_play")).otherwise(0)
    val awayRuns = when(col("half") === "Top", col("runs_on_play")).otherwise(0)
    df
      .withColumns(Map(
        "home_score_before" -> coalesce(sum(homeRuns).over(prevFrame), lit(0)).cast("int"),
        "away_score_before" -> coalesce(sum(awayRuns).over(prevFrame), lit(0)).cast("int")))
      .withColumns(Map(
        "home_score_after" -> (col("home_score_before") + homeRuns).cast("int"),
        "away_score_after" -> (col("away_score_before") + awayRuns).cast("int")))
  }

  /** bat order (reference helpers.py:119-139): PA index per
    * (game, side) → ((pa-1) % 9) + 1 on batter rows, then ffill+bfill
    * over non-PA rows (W7+W8 shapes). */
  def batOrder(df: DataFrame): DataFrame = {
    val side = when(col("half") === "Top", "A").otherwise("H")
    val w = Window.partitionBy(col("contest_id"), side).orderBy("play_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val isBat = col("batter_name").isNotNull && trim(col("batter_name")) =!= ""
    df
      .withColumn("__bo", when(isBat, (sum(isBat.cast("int")).over(cum) - 1) % 9 + 1))
      .withColumn("bat_order",
        coalesce(
          last(col("__bo"), ignoreNulls = true).over(fwd),
          first(col("__bo"), ignoreNulls = true).over(bwd)).cast("int"))
      .drop("__bo")
  }

  private val stateOutFields = Seq(
    "batter_name", "player_of_interest",
    "r1_name", "r2_name", "r3_name", "bases_before",
    "r1_after", "r2_after", "r3_after", "bases_after")

  /** base state (X1): the fold over plays per game, via the streaming
    * group fold. In the [[parse]] chain the metadata window has already
    * hash-partitioned rows by contest_id (and later windows key on
    * supersets, which reuse that exchange), so the planner adds no
    * exchange below the fold; any other input is shuffled by game. */
  def baseState(df: DataFrame): DataFrame = {
    val outSchema = StructType(df.schema.fields ++
      stateOutFields.map(f => StructField(f, StringType, nullable = true)))
    val idx = Map(
      "new_game_fl" -> df.schema.fieldIndex("new_game_fl"),
      "new_inn_fl" -> df.schema.fieldIndex("new_inn_fl"),
      "sub_fl" -> df.schema.fieldIndex("sub_fl"),
      "sub_in" -> df.schema.fieldIndex("sub_in"),
      "sub_out" -> df.schema.fieldIndex("sub_out"),
      "p1_text" -> df.schema.fieldIndex("p1_text"),
      "p2_text" -> df.schema.fieldIndex("p2_text"),
      "p3_text" -> df.schema.fieldIndex("p3_text"),
      "p4_text" -> df.schema.fieldIndex("p4_text"))

    val inWidth = df.schema.length
    StatefulFold.foldPartitions[BaseState.State](
      df, Seq("contest_id"), Seq(col("play_id")), outSchema)(
      init = _ => BaseState.emptyState,
      step = { (st, row) =>
        def s(f: String) = Option(row.getString(idx(f))).getOrElse("")
        val play = BaseState.Play(
          newGame = row.getBoolean(idx("new_game_fl")),
          newInn = row.getBoolean(idx("new_inn_fl")),
          subFl = row.getInt(idx("sub_fl")) == 1,
          subIn = s("sub_in"), subOut = s("sub_out"),
          p1 = s("p1_text"), p2 = s("p2_text"), p3 = s("p3_text"), p4 = s("p4_text"))
        val (st2, o) = BaseState.step(st, play)
        // single pre-sized array copy, no Seq concat per row
        val arr = new Array[Any](inWidth + 10)
        var i = 0
        while (i < inWidth) { arr(i) = row.get(i); i += 1 }
        arr(inWidth) = o.batterName; arr(inWidth + 1) = o.playerOfInterest
        arr(inWidth + 2) = o.r1Before; arr(inWidth + 3) = o.r2Before
        arr(inWidth + 4) = o.r3Before; arr(inWidth + 5) = o.basesBefore
        arr(inWidth + 6) = o.r1After; arr(inWidth + 7) = o.r2After
        arr(inWidth + 8) = o.r3After; arr(inWidth + 9) = o.basesAfter
        (st2, Iterator(Row.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))))
      })
  }

  /** classify (X4): event type + batted-ball type columns. */
  def classify(df: DataFrame): DataFrame =
    df
      .withColumn("__ebb",
        eventBbUdf(col("play_description"), col("p1_text"), col("sub_fl") === 1))
      .withColumns(Map(
        "event_type" -> col("__ebb._1"),
        "batted_ball_type" -> col("__ebb._2")))
      .drop("__ebb")

  /**
   * Per-game enrichment of full play rows against a game-keyed
   * dimension: ONE cogroup, both sides grouped on their `contest_id`
   * column (the dimension's cast to the plays' key type so both sides
   * hash alike). Grouping on the existing attribute lets the planner
   * reuse whatever game partitioning the play side already has (the
   * parse chain's window exchange), so only the dimension shuffles.
   *
   * `enrich` sees one game's plays and all of its dimension rows and
   * returns each play with the values of `added` (string columns).
   * Plays of a game without dimension rows still reach `enrich`;
   * dimension-only games emit nothing. Output layout is the one a
   * left USING join on (contest_id, play_id) gives: contest_id,
   * play_id, the other input columns minus `drop` in input order, then
   * `added`.
   */
  private[pbp] def enrichByGame(
      plays: DataFrame, dim: DataFrame, drop: Seq[String], added: Seq[String])(
      enrich: (Iterator[Row], Seq[Row]) => Iterator[(Row, Array[Any])]): DataFrame = {
    val key = plays.schema("contest_id")
    val keyEnc = Encoders.row(StructType(Seq(key)))
    val front = Seq("contest_id", "play_id")
    val kept = plays.schema.fields.filterNot(f => front.contains(f.name) || drop.contains(f.name))
    val outSchema = StructType(front.map(plays.schema(_)) ++ kept ++
      added.map(StructField(_, StringType, nullable = true)))
    val srcIdx = (front ++ kept.map(_.name)).map(plays.schema.fieldIndex).toArray
    val dimByGame = dim.withColumn("contest_id", col("contest_id").cast(key.dataType))
    plays.groupBy(col("contest_id")).as(keyEnc, Encoders.row(plays.schema))
      .cogroup(dimByGame.groupBy(col("contest_id")).as(keyEnc, Encoders.row(dimByGame.schema))) {
        (_: Row, ps: Iterator[Row], ds: Iterator[Row]) =>
          enrich(ps, ds.toSeq).map { case (row, vals) =>
            val arr = new Array[Any](srcIdx.length + vals.length)
            var i = 0
            while (i < srcIdx.length) { arr(i) = row.get(srcIdx(i)); i += 1 }
            System.arraycopy(vals, 0, arr, srcIdx.length, vals.length)
            Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
          }
      }(Encoders.row(outSchema))
  }

  /**
   * X2 integration — the standardize_names stage's pitcher assignment
   * (reference `names/names.py:40-97,210-293`): per game, fold plays
   * in play_id order through the pitcher-queue machine against the
   * ordered pitching lineups, inside one [[enrichByGame]] cogroup on
   * contest_id. The full parsed rows go through the cogroup and come
   * out with `pitcher_name`, `pitcher_id` appended; on the parse chain
   * the play side is not re-shuffled, only the lineups are. Queue state
   * never leaves one game.
   *
   * @param parsed   parse() output with a `pitch_team_id` column
   *                 (away/home team by half — derive upstream)
   * @param pitchingLineups (contest_id, team_id, player_name,
   *                 player_id, pitch_order)
   */
  def withPitchers(parsed: DataFrame, pitchingLineups: DataFrame): DataFrame = {
    val lineups = pitchingLineups
      .select(col("contest_id"), col("team_id").cast("string"),
        col("player_name").cast("string"), col("player_id").cast("string"),
        col("pitch_order").cast("int"))
    val Seq(playIdx, teamIdx, subFlIdx, subInIdx) =
      Seq("play_id", "pitch_team_id", "pitcher_sub_fl", "sub_in").map(parsed.schema.fieldIndex)

    enrichByGame(parsed, lineups, Nil, Seq("pitcher_name", "pitcher_id")) { (ps, ls) =>
      val queues = ls.groupBy(_.getString(1)).map { case (team, rows) =>
        team -> rows.sortBy(_.getInt(4)).map(r => (r.getString(2), r.getString(3)))
      }
      val ordered = ps.toVector.sortBy(_.getInt(playIdx))
      val out = PitcherQueue.runGame(
        ordered.map(p => PitcherQueue.PlayRow(Option(p.getString(teamIdx)),
          p.getInt(subFlIdx) == 1, Option(p.getString(subInIdx)).getOrElse(""))),
        queues)
      ordered.iterator.zip(out).map { case (p, a) =>
        (p, Array[Any](a.pitcherName, a.pitcherId.orNull))
      }
    }
  }

  /** The season from which raw feeds carry scraped `away_score`/
    * `home_score` columns (reference `scrapers/constants.py:1`). */
  val CurrentYear = 2026

  /** Full parser stage over raw (contest_id, seq, away_text,
    * home_text, inning) rows — text-derived runs branch. */
  def parse(raw: DataFrame): DataFrame =
    batOrder(scores(classify(baseState(runs(outs(flags(metadata(raw))))))))

  /**
   * Year-gated parse (reference `pbp_parser/main.py:41-89`
   * parse_pbp): seasons ≥ `currentYear` whose raw rows carry scraped
   * scores take the [[runsFromScores]] branch (authoritative
   * cumulative scores); older seasons derive runs from play text.
   */
  def parse(raw: DataFrame, year: Int, currentYear: Int): DataFrame = {
    val pre = outs(flags(metadata(raw)))
    val hasScores = Seq("away_score", "home_score").forall(raw.columns.contains)
    val withRuns =
      if (year >= currentYear && hasScores) runsFromScores(pre)
      else scores(runs(pre))
    batOrder(classify(baseState(withRuns)))
  }
}
