package graft.pbp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PerKeyAppend
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * The play-by-play parser stage as one lazy DataFrame chain —
 * reference `processors/pbp_parser/main.py:33-54` intra-stage plan
 * (SURVEY §3.1): metadata → flags/sub-parse → outs (X3) → runs → base
 * state (X1) → scores → bat order.
 *
 * Everything row-local is a column expression or a UDF over the pure
 * [[Parsing]] functions: half, description and the empty-row filter,
 * the sub-play split, the IBB/SH/SF/pitcher-sub flags, outs and runs on
 * the play, and the event classification. Everything that depends on
 * the plays before or after (play numbering, boundary flags, running
 * outs and runs, the base-runner machine, scores, bat order) runs in
 * ONE [[PerKeyAppend]] pass per game in `seq` order, so the play rows
 * shuffle once, by game, and pass through as bytes.
 *
 * Input schema: contest_id (long), seq (int), inning (int), away_text,
 * home_text (strings, one null per row).
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

  /** Text-derived runs on the play (reference columns.py:179-203):
    * explicit scored/homered counts, else the RBI count. */
  private def textRunsOnPlay: Column = {
    val d = col("play_description")
    def cnt(p: String) = regexp_count(d, lit(p))
    val explicitRuns =
      cnt("(?i)homered") + cnt("(?i)homers") + cnt("(?i)scored") + cnt("(?i)scores") +
        cnt("(?i)advanced to home") + cnt("(?i)advances to home") +
        cnt("(?i)steals home") + cnt("(?i)stole home") - cnt("(?i)scored, scored")
    val rbiCountFilled = when(regexp_extract(d, "(?i)(\\d+)\\s*RBI", 1) === "", 1.0)
      .otherwise(regexp_extract(d, "(?i)(\\d+)\\s*RBI", 1).cast("double"))
    val hasRbi = d.rlike("(?i)\\bRBI\\b")
    (when(explicitRuns > 0, explicitRuns).otherwise(0) +
      when((explicitRuns === 0) && hasRbi, rbiCountFilled).otherwise(0.0)).cast("int")
  }

  /**
   * The row-local columns (reference columns.py:121-128, 235-329,
   * 131-141, 179-203): half from home_text, description concat, empty
   * rows dropped, sub-play split and substitution parse, IBB/SH/SF
   * flags, outs on the play, event classification. With `scraped`, the
   * raw `away_score`/`home_score` become the after-play scores
   * (reference `pbp_parser/main.py:57-71`); otherwise runs on the play
   * come from the text.
   */
  private def rowLocal(raw: DataFrame, scraped: Boolean): DataFrame = {
    // batched withColumns throughout: each withColumn call re-analyzes
    // the whole (growing) plan
    val p1 = col("p1_text")
    val base = raw
      .withColumns(Map(
        "half" ->
          when(col("home_text").isNull || col("home_text") === "", "Top").otherwise("Bottom"),
        "play_description" ->
          trim(concat(coalesce(col("away_text"), lit("")), coalesce(col("home_text"), lit(""))))))
      .filter(col("play_description") =!= "")
      .withColumns(Map(
        "__ps" -> splitSubUdf(col("play_description")),
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
        "pitcher_sub_fl" -> (col("sub_pos") === "p").cast("int"),
        "__o" -> outsUdf(col("p1_text"), col("p2_text"), col("p3_text"), col("p4_text")),
        "__ebb" -> eventBbUdf(col("play_description"), p1, col("sub_fl") === 1)))
      .withColumns(Map(
        "outs_on_play" -> col("__o._1"),
        "outs_reason" -> col("__o._2"),
        "event_type" -> col("__ebb._1"),
        "batted_ball_type" -> col("__ebb._2")))
      .drop("__o", "__ebb")
    if (scraped) base.withColumns(Map(
      "away_score_after" -> coalesce(col("away_score").cast("int"), lit(0)),
      "home_score_after" -> coalesce(col("home_score").cast("int"), lit(0))))
    else base.withColumn("runs_on_play", textRunsOnPlay)
  }

  private val stateCols = Seq(
    "batter_name", "player_of_interest",
    "r1_name", "r2_name", "r3_name", "bases_before",
    "r1_after", "r2_after", "r3_after", "bases_after")

  // The parser's output layout after the raw columns, per branch; the
  // order is pinned by PbpPipelineSpec
  private val leadCols = Seq("half", "play_description", "play_id", "new_inn_fl",
    "top_inning_fl", "new_game_fl", "game_end_fl", "inn_end_fl", "int_bb_fl", "sub_out",
    "p2_text", "sub_fl", "sub_pos", "p3_text", "sub_in", "p1_text", "p4_text", "sh_fl",
    "sf_fl", "pitcher_sub_fl", "outs_on_play", "outs_reason", "outs_before", "outs_after")
  private val textRunCols = Seq("runs_on_play", "runs_this_inn", "runs_roi")
  private val textScoreCols =
    Seq("home_score_before", "away_score_before", "home_score_after", "away_score_after")
  private val classCols = Seq("event_type", "batted_ball_type")
  private val scrapedRunCols = Seq("away_score_after", "home_score_after",
    "away_score_before", "home_score_before", "runs_on_play", "runs_this_inn", "runs_roi")

  // the per-game pass: what it reads, and what it appends (with the
  // nullability the columns have always had)
  private val neededCols = Seq("inning", "half", "outs_on_play", "sub_fl", "sub_in", "sub_out",
    "p1_text", "p2_text", "p3_text", "p4_text")
  private def ints(nullable: Boolean, names: String*) =
    names.map(StructField(_, IntegerType, nullable))
  private val leadAppended =
    ints(nullable = false, "play_id") ++
      Seq("new_game_fl", "game_end_fl", "new_inn_fl", "inn_end_fl")
        .map(StructField(_, BooleanType, nullable = false)) ++
      ints(nullable = false, "outs_before") ++ ints(nullable = true, "outs_after")
  private val stateAppended = stateCols.map(StructField(_, StringType, nullable = true))
  private val textAppended = StructType(leadAppended ++
    ints(nullable = true, "runs_this_inn", "runs_roi") ++ stateAppended ++
    ints(nullable = false, "home_score_before", "away_score_before") ++
    ints(nullable = true, "home_score_after", "away_score_after", "bat_order"))
  private val scrapedAppended = StructType(leadAppended ++
    ints(nullable = false, "away_score_before", "home_score_before", "runs_on_play") ++
    ints(nullable = true, "runs_this_inn", "runs_roi") ++ stateAppended ++
    ints(nullable = true, "bat_order"))

  /**
   * One game's plays in `seq` order → the appended columns, following
   * the reference's per-game loops:
   *  - play_id and the game/inning boundary flags (columns.py:121-128,
   *    235-260); an inning-half is every play of one (inning, half)
   *    pair, as the reference groups them;
   *  - outs before/after, an exclusive running sum per inning-half
   *    (columns.py:131-141);
   *  - runs_this_inn and runs_roi, the inning-half total and the
   *    remaining sum (columns.py:206-232); on the scraped branch,
   *    runs_on_play first, the batting side's clipped score delta;
   *  - the X1 base-runner machine, [[BaseState.step]];
   *  - on the text branch, cumulative scores by half, exclusive of the
   *    play (columns.py:144-170);
   *  - bat order (helpers.py:119-139): the PA index per (game, side),
   *    ((pa-1) % 9) + 1 on batter rows, forward- then back-filled.
   * Sums skip nulls and are null when every term is, as SQL sums are.
   */
  private def parseGame(scraped: Boolean)(plays: Iterator[Row]): Iterator[Row] = {
    val ps = plays.toArray
    val n = ps.length
    def int(r: Row, i: Int): java.lang.Integer = r.get(i).asInstanceOf[java.lang.Integer]
    val top = ps.map(_.getString(1) == "Top")

    val segIds = mutable.HashMap.empty[(Any, String), Int]
    val seg = ps.map(r => segIds.getOrElseUpdate((r.get(0), r.getString(1)), segIds.size))
    val segFirst = Array.fill(segIds.size)(-1)
    val segLast = new Array[Int](segIds.size)
    for (i <- 0 until n) {
      if (segFirst(seg(i)) < 0) segFirst(seg(i)) = i
      segLast(seg(i)) = i
    }

    // runs on the play, and on the scraped branch the before-scores
    val scoreBefore = Array.ofDim[Int](2, n) // (away, home)
    val runs: Array[java.lang.Integer] =
      if (!scraped) ps.map(int(_, 10))
      else Array.tabulate(n) { i =>
        val after = (ps(i).getInt(10), ps(i).getInt(11))
        if (i > 0) {
          scoreBefore(0)(i) = ps(i - 1).getInt(10)
          scoreBefore(1)(i) = ps(i - 1).getInt(11)
        }
        val delta =
          if (top(i)) after._1 - scoreBefore(0)(i) else after._2 - scoreBefore(1)(i)
        Integer.valueOf(math.max(delta, 0))
      }

    // per inning-half: running outs, run totals and remaining sums
    val outsBefore = new Array[Int](n)
    val segOuts = new Array[Long](segIds.size)
    val segRuns = new Array[Long](segIds.size)
    val segHasRuns = new Array[Boolean](segIds.size)
    for (i <- 0 until n) {
      outsBefore(i) = segOuts(seg(i)).toInt
      val o = int(ps(i), 2)
      if (o != null) segOuts(seg(i)) += o.intValue
      if (runs(i) != null) { segRuns(seg(i)) += runs(i).intValue; segHasRuns(seg(i)) = true }
    }
    val runsRoi = new Array[java.lang.Integer](n)
    val roiAcc = new Array[Long](segIds.size)
    val roiAny = new Array[Boolean](segIds.size)
    for (i <- n - 1 to 0 by -1) {
      if (runs(i) != null) { roiAcc(seg(i)) += runs(i).intValue; roiAny(seg(i)) = true }
      if (roiAny(seg(i))) runsRoi(i) = roiAcc(seg(i)).toInt
    }

    // the X1 fold, in play order
    var st = BaseState.emptyState
    val state = ps.indices.map { i =>
      val r = ps(i)
      def s(j: Int) = Option(r.getString(j)).getOrElse("")
      val (st2, o) = BaseState.step(st, BaseState.Play(
        newGame = i == 0, newInn = segFirst(seg(i)) == i,
        subFl = r.getInt(3) == 1, subIn = s(4), subOut = s(5),
        p1 = s(6), p2 = s(7), p3 = s(8), p4 = s(9)))
      st = st2
      o
    }

    // bat order per side (Top bats away): PA index on batter rows, then
    // forward-fill, then back-fill
    val batIdx = new Array[java.lang.Integer](n)
    val pa = new Array[Long](2)
    for (i <- 0 until n) {
      val b = state(i).batterName
      if (b != null && b.exists(_ != ' ')) { // SQL trim strips spaces only
        val side = if (top(i)) 0 else 1
        pa(side) += 1
        batIdx(i) = ((pa(side) - 1) % 9 + 1).toInt
      }
    }
    val batOrder = new Array[java.lang.Integer](n)
    val seen = new Array[java.lang.Integer](2)
    for (i <- 0 until n) {
      val side = if (top(i)) 0 else 1
      if (batIdx(i) != null) seen(side) = batIdx(i)
      batOrder(i) = seen(side)
    }
    seen(0) = null; seen(1) = null
    for (i <- n - 1 to 0 by -1) {
      val side = if (top(i)) 0 else 1
      if (batIdx(i) != null) seen(side) = batIdx(i)
      if (batOrder(i) == null) batOrder(i) = seen(side)
    }

    // text-branch scores: runs by half, exclusive running sums
    var homeAcc, awayAcc = 0L
    Iterator.tabulate(n) { i =>
      val o = state(i)
      val outs = int(ps(i), 2)
      val lead = Seq[Any](i + 1, i == 0, i == n - 1,
        segFirst(seg(i)) == i, segLast(seg(i)) == i, outsBefore(i),
        if (outs == null) null else outsBefore(i) + outs.intValue)
      val segRunsOut: Any = if (segHasRuns(seg(i))) segRuns(seg(i)).toInt else null
      val stateOut = Seq[Any](o.batterName, o.playerOfInterest, o.r1Before, o.r2Before,
        o.r3Before, o.basesBefore, o.r1After, o.r2After, o.r3After, o.basesAfter)
      val rest =
        if (scraped)
          Seq[Any](scoreBefore(0)(i), scoreBefore(1)(i), runs(i), segRunsOut, runsRoi(i)) ++
            stateOut :+ batOrder(i)
        else {
          val homeRuns: java.lang.Integer = if (top(i)) 0 else runs(i)
          val awayRuns: java.lang.Integer = if (top(i)) runs(i) else 0
          val (homeBefore, awayBefore) = (homeAcc.toInt, awayAcc.toInt)
          if (homeRuns != null) homeAcc += homeRuns.intValue
          if (awayRuns != null) awayAcc += awayRuns.intValue
          Seq[Any](segRunsOut, runsRoi(i)) ++ stateOut ++ Seq[Any](homeBefore, awayBefore,
            if (homeRuns == null) null else homeBefore + homeRuns.intValue,
            if (awayRuns == null) null else awayBefore + awayRuns.intValue,
            batOrder(i))
        }
      Row.fromSeq(lead ++ rest)
    }
  }

  /** The row-local columns, then the per-game pass, then the output
    * layout: the raw columns in input order (replaced in place where
    * the parser recomputes one), followed by `layout`. */
  private def parseWith(raw: DataFrame, scraped: Boolean, layout: Seq[String]): DataFrame = {
    val appended = if (scraped) scrapedAppended else textAppended
    val needed = neededCols ++
      (if (scraped) Seq("away_score_after", "home_score_after") else Seq("runs_on_play"))
    val games = PerKeyAppend(rowLocal(raw, scraped).drop(appended.fieldNames: _*),
      "contest_id", Seq("seq"), needed, appended)((ps, _) => parseGame(scraped)(ps))
    games.select((raw.columns ++ layout.filterNot(raw.columns.contains)).map(col): _*)
  }

  /**
   * Per-game enrichment of full play rows against a game-keyed
   * dimension: ONE [[PerKeyAppend]] pass keyed on `contest_id` (the
   * dimension's cast to the plays' key type), so input already
   * partitioned by game is not shuffled again and only the dimension
   * is.
   *
   * `enrich` sees one game's `needed` columns in `order` and all of its
   * dimension rows, and returns one Row of `added` (string) values per
   * play. Plays of a game without dimension rows still reach `enrich`;
   * dimension-only games emit nothing. Output layout is the one a left
   * USING join on (contest_id, play_id) gives: contest_id, play_id, the
   * other input columns minus `drop` in input order, then `added`.
   */
  private[pbp] def enrichByGame(
      plays: DataFrame, dim: DataFrame, order: Seq[String], needed: Seq[String],
      drop: Seq[String], added: Seq[String])(
      enrich: (Iterator[Row], Seq[Row]) => Iterator[Row]): DataFrame = {
    // appended under working names: `added` may replace input columns
    val working = added.map("__added_" + _)
    val out = PerKeyAppend(plays, "contest_id", order, needed,
      StructType(working.map(StructField(_, StringType, nullable = true))),
      Some((dim, "contest_id")))(enrich)
    val front = Seq("contest_id", "play_id")
    val kept = plays.columns.filterNot(c => front.contains(c) || drop.contains(c))
    out.select((front ++ kept).map(col) ++
      working.zip(added).map { case (w, a) => col(w).as(a) }: _*)
  }

  /**
   * X2 integration — the standardize_names stage's pitcher assignment
   * (reference `names/names.py:40-97,210-293`): per game, plays in
   * play_id order run through the pitcher-queue machine against the
   * ordered pitching lineups, in one [[enrichByGame]] pass that appends
   * `pitcher_name`, `pitcher_id`. On the parse chain the plays are
   * already partitioned by game, so only the lineups shuffle. Queue
   * state never leaves one game.
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
    enrichByGame(parsed, lineups, Seq("play_id"), Seq("pitch_team_id", "pitcher_sub_fl", "sub_in"),
      Nil, Seq("pitcher_name", "pitcher_id")) { (ps, ls) =>
      val queues = ls.groupBy(_.getString(1)).map { case (team, rows) =>
        team -> rows.sortBy(_.getInt(4)).map(r => (r.getString(2), r.getString(3)))
      }
      val plays = ps.map(p => PitcherQueue.PlayRow(Option(p.getString(0)),
        p.getInt(1) == 1, Option(p.getString(2)).getOrElse(""))).toVector
      PitcherQueue.runGame(plays, queues).iterator.map(a => Row(a.pitcherName, a.pitcherId.orNull))
    }
  }

  /** The season from which raw feeds carry scraped `away_score`/
    * `home_score` columns (reference `scrapers/constants.py:1`). */
  val CurrentYear = 2026

  /** Full parser stage over raw (contest_id, seq, away_text,
    * home_text, inning) rows — text-derived runs branch. */
  def parse(raw: DataFrame): DataFrame =
    parseWith(raw, scraped = false,
      leadCols ++ textRunCols ++ stateCols ++ classCols ++ textScoreCols :+ "bat_order")

  /**
   * Year-gated parse (reference `pbp_parser/main.py:41-89`
   * parse_pbp): seasons ≥ `currentYear` whose raw rows carry scraped
   * `away_score`/`home_score` take runs from the authoritative
   * cumulative scores (before-scores are the previous play's, runs on
   * the play the batting side's clipped delta), which makes
   * current-season feeds immune to description drift; older seasons
   * derive runs from play text.
   */
  def parse(raw: DataFrame, year: Int, currentYear: Int): DataFrame = {
    val hasScores = Seq("away_score", "home_score").forall(raw.columns.contains)
    if (year >= currentYear && hasScores)
      parseWith(raw, scraped = true,
        leadCols ++ scrapedRunCols ++ stateCols ++ classCols :+ "bat_order")
    else
      parseWith(raw, scraped = false,
        leadCols ++ textRunCols ++ textScoreCols ++ stateCols ++ classCols :+ "bat_order")
  }
}
