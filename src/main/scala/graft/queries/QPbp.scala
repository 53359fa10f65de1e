package graft.queries

import graft.metrics.{ExpectedRuns, LinearWeights, PbpMetrics}
import graft.pbp.PbpPipeline
import graft.pbp.names.StandardizeNames
import graft.sources.Tables
import graft.util.Caches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The pbp domain path as a benchable query (VERDICT r2 #9): synthetic
 * raw play text derived deterministically from `events`, pushed
 * through the FULL parser chain — regex classification, outs/runs
 * windows, the X1 base-state fold (the engine's one non-codegen
 * island) — then the expected-runs matrix and metric enrichment.
 * No SQL oracle can express the fold, so every query here is gated by
 * a PINNED VALUES oracle (generated once from the golden-tested
 * machines, frozen as a resource): pbp01 pins the enriched
 * woba/rea output in integer micro-units, pbp02 the parser summary,
 * pbp03 the pitcher-queue + standardize_names chain.
 */
object QPbp {

  /** events → raw pbp rows (contest_id, seq, inning, away_text,
    * home_text): ~1 game per user, play text keyed by event_type. */
  def rawPbpFromEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val batter = concat(lit("P"), (col("user_id") % 50).cast("string"),
      lit(" Smith"), (col("user_id") % 20).cast("string"))
    val runner = concat(lit("P"), ((col("user_id") + 7) % 50).cast("string"),
      lit(" Smith"), ((col("user_id") + 7) % 20).cast("string"))
    val text =
      when(col("event_type") === "click", concat(batter, lit(" singled to left")))
        .when(col("event_type") === "purchase",
          concat(batter, lit(" doubled to right, RBI; "), runner, lit(" scored")))
        .when(col("event_type") === "signup", concat(batter, lit(" walked")))
        .when(col("event_type") === "error", concat(batter, lit(" struck out swinging")))
        .otherwise(concat(batter, lit(" flied out to cf")))
    ev.select(
      col("user_id").as("contest_id"),
      col("event_id").as("seq"),
      ((col("event_id") % 9) + 1).cast("int").as("inning"),
      when(col("event_id") % 2 === 0, text).as("away_text"),
      when(col("event_id") % 2 =!= 0, text).as("home_text"))
  }

  /** The parse summary pbp02 pins: full parser chain → per-(event,
    * batted-ball) counts/runs/outs/games. Integer-only output, so the
    * pinned oracle is hash-exact. */
  def parseSummary(s: SparkSession, dir: String): DataFrame =
    PbpPipeline.parse(rawPbpFromEvents(s, dir))
      .groupBy(col("event_type"),
        coalesce(col("batted_ball_type"), lit("none")).as("bb_type"))
      .agg(count(lit(1)).as("n"),
        sum("runs_on_play").cast("long").as("runs"),
        sum("outs_on_play").cast("long").as("outs"),
        countDistinct("contest_id").as("games"))
      .orderBy("event_type", "bb_type")

  /** Raw pbp where every 13th event becomes a pitcher-substitution
    * line ("X to p for Y", reference columns.py:259-270) so the X2
    * queue machine initializes, advances, and exhausts mid-game. The
    * incoming-reliever namespace overlaps the lineup queues' so
    * sub-in fallback names collide with queue entries the way real
    * feeds do. */
  def rawPbpWithSubs(s: SparkSession, dir: String): DataFrame = {
    val base = rawPbpFromEvents(s, dir)
    val relief = concat(lit("Rel"), (col("seq") % 4).cast("string"),
      lit(" Jones"), (col("seq") % 6).cast("string"))
    val subText = concat(relief, lit(" to p for Ace"),
      (col("contest_id") % 7).cast("string"), lit(" Starter"))
    base.withColumns(Map(
      "away_text" -> when(col("seq") % 13 === 0 && col("away_text").isNotNull, subText)
        .otherwise(col("away_text")),
      "home_text" -> when(col("seq") % 13 === 0 && col("home_text").isNotNull, subText)
        .otherwise(col("home_text"))))
  }

  /** Ordered pitching lineups, 3 deep per (game, team): index 0
    * init, per-sub advance, and >3 subs exhaust the queue → sub-in
    * fallback (names.py:84-89). Dimension-sized: 2 teams × 3 rows per
    * game. */
  def pitchingLineups(s: SparkSession, dir: String): DataFrame = {
    val games = Tables.events(s, dir).select(col("user_id").as("contest_id")).distinct()
    val teams = games.crossJoin(
      s.createDataFrame(Seq(Tuple1("H"), Tuple1("A"))).toDF("side"))
    val slots = s.createDataFrame(Seq((0, "Ace", " Starter"), (1, "Mid", " Reliever"),
      (2, "Low", " Closer"))).toDF("pitch_order", "prefix", "suffix")
    teams.crossJoin(slots).select(
      col("contest_id"),
      concat(col("side"), col("contest_id")).as("team_id"),
      concat(col("prefix"),
        (col("contest_id") % when(col("pitch_order") === 0, 7)
          .when(col("pitch_order") === 1, 5).otherwise(3)).cast("string"),
        col("suffix")).as("player_name"),
      concat(lit("pid-"), col("side"), col("contest_id"), lit("-"),
        col("pitch_order")).as("player_id"),
      col("pitch_order"))
  }

  /** Batting lineups carrying the games' batter/runner names in three
    * deliberately-noisy canonical forms — exact, "Last, First", and
    * UPPERCASE — so the standardize cascade's lowercase, normalize,
    * and variation tiers all fire (names.py:100-179). */
  def battingLineups(s: SparkSession, dir: String): DataFrame = {
    val games = Tables.events(s, dir).select(col("user_id").as("contest_id")).distinct()
    val teams = games.crossJoin(
      s.createDataFrame(Seq(Tuple1("H"), Tuple1("A"))).toDF("side"))
    val bFirst = concat(lit("P"), (col("contest_id") % 50).cast("string"))
    val bLast = concat(lit("Smith"), (col("contest_id") % 20).cast("string"))
    val rFirst = concat(lit("P"), ((col("contest_id") + 7) % 50).cast("string"))
    val rLast = concat(lit("Smith"), ((col("contest_id") + 7) % 20).cast("string"))
    val batter = when(col("contest_id") % 3 === 0, concat(bLast, lit(", "), bFirst))
      .when(col("contest_id") % 3 === 1, upper(concat(bFirst, lit(" "), bLast)))
      .otherwise(concat(bFirst, lit(" "), bLast))
    val runner = when(col("contest_id") % 2 === 0, concat(rLast, lit(", "), rFirst))
      .otherwise(concat(rFirst, lit(" "), rLast))
    teams.select(col("contest_id"), concat(col("side"), col("contest_id")).as("team_id"),
        batter.as("player_name"),
        concat(lit("bat-"), col("contest_id")).as("player_id"))
      .union(teams.select(col("contest_id"),
        concat(col("side"), col("contest_id")).as("team_id"),
        runner.as("player_name"),
        concat(lit("run-"), col("contest_id")).as("player_id")))
  }

  /** The X2 + standardize_names chain the pbp03 oracle pins: parse →
    * per-half pitch/bat team ids → pitcher-queue fold against ordered
    * lineups → five-column name standardization → integer-only
    * per-pitcher summary. Deterministic end-to-end, so the pinned
    * VALUES oracle is hash-exact; a regression anywhere in
    * PitcherQueue / StandardizeNames / the sub-line regex bank breaks
    * it. */
  def pitcherStandardizeSummary(s: SparkSession, dir: String): DataFrame = {
    // pruned to the 11 columns the two per-game passes and the summary read
    val parsed = PbpPipeline.parse(rawPbpWithSubs(s, dir))
      .withColumns(Map(
        // pitch team = the side NOT batting: Top half → home pitches
        "pitch_team_id" -> when(col("half") === "Top",
          concat(lit("H"), col("contest_id"))).otherwise(concat(lit("A"), col("contest_id"))),
        "bat_team_id" -> when(col("half") === "Top",
          concat(lit("A"), col("contest_id"))).otherwise(concat(lit("H"), col("contest_id")))))
      .select("contest_id", "play_id", "pitch_team_id", "bat_team_id",
        "pitcher_sub_fl", "sub_in", "batter_name", "r1_name", "r2_name",
        "r3_name", "player_of_interest")
    val std = StandardizeNames(s, PbpPipeline.withPitchers(parsed, pitchingLineups(s, dir)),
      battingLineups(s, dir))
    std.groupBy(col("pitcher_name"))
      .agg(count(lit(1)).as("n"),
        countDistinct("contest_id").as("games"),
        sum(when(col("pitcher_id").isNotNull, 1L).otherwise(0L)).as("with_pid"),
        sum(when(col("batter_id").isNotNull, 1L).otherwise(0L)).as("batters_matched"),
        sum(when(col("r1_id").isNotNull, 1L).otherwise(0L)).as("runners_matched"),
        countDistinct("batter_name").as("batter_names"))
      .orderBy("pitcher_name")
  }

  val defs: Seq[QueryDef] = Seq(
    // The X1-X6 parser chain behind a PINNED oracle (j07 pattern):
    // the summary was generated once from the golden-tested parser at
    // sf0.01 and frozen as a VALUES literal — every future change to
    // the regex bank / state machines / window forms must reproduce it
    // bit-for-bit. Regenerate resources/graft/pbp02_oracle.sql when
    // the parser semantics INTENTIONALLY change.
    QueryDef.of("pbp02_parse_summary",
      QueryDef.resourceSql("/graft/pbp02_oracle.sql"))(parseSummary),

    // X2 (pitcher queue) + the standardize_names cascade behind a
    // PINNED oracle (same pattern as pbp02): the per-pitcher summary
    // was generated once from the golden-tested machines at sf0.01
    // and frozen as a VALUES literal. Regenerate
    // resources/graft/pbp03_oracle.sql (tools/GenPbp03Oracle) on
    // INTENTIONAL semantics changes.
    QueryDef.of("pbp03_pitcher_standardize",
      QueryDef.resourceSql("/graft/pbp03_oracle.sql"))(pitcherStandardizeSummary),

    // The FULL enrichment chain (parse → ER matrix → linear weights →
    // woba/rea literal-map enrichment) behind a PINNED oracle — the
    // pbp02/pbp03 pattern applied to the *enriched* output, closing
    // the last rows-only gap. Per-(event, bb, outs) summary with
    // woba/rea in integer micro-units (the v05/t20 trick: round each
    // ROW to a long before the sum so the aggregate is addition-
    // order-free and hash-exact). Regenerate
    // resources/graft/pbp01_oracle.sql (tools/GenPbp01Oracle) on
    // INTENTIONAL semantics changes.
    QueryDef.of("pbp01_parse_enrich",
      QueryDef.resourceSql("/graft/pbp01_oracle.sql"))(parseEnrichSummary))

  /** The woba/rea enrichment chain pbp01 pins. The parse chain feeds
    * three consumers (ER matrix, linear weights, the enrichment) —
    * cache it or the whole UDF+window+fold chain runs once per
    * consumer; cache only the columns those consumers read (the full
    * parse row carries ~35 text columns and triples the
    * materialization cost). er/lw are O(1)-row dimension outputs (24
    * cells / 5 weight rows at ANY data scale): collect them once, in
    * dependency order, and enrich through literal maps — left as lazy
    * DF joins, the final action's concurrent broadcast-exchange
    * threads raced to compute the uncached `parsed` (duplicate full
    * parse runs) and the plan carried 3 extra exchanges. */
  def parseEnrichSummary(s: SparkSession, dir: String): DataFrame = {
    val parsed = Caches.persist(PbpPipeline.parse(rawPbpFromEvents(s, dir))
      .select("contest_id", "play_id", "event_type", "batted_ball_type",
        "batter_name", "bases_before", "bases_after", "outs_before",
        "outs_after", "inn_end_fl", "runs_on_play", "runs_roi"))
    val er = Caches.persist(ExpectedRuns.matrix(parsed))
    val erMap = PbpMetrics.erMatrixToMap(er)
    val lwMap = LinearWeights.aboveAverage(parsed, er)
      .select(col("events"), col("linear_weights_above_outs"))
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    PbpMetrics.addRunExpectancyLit(PbpMetrics.addWobaLit(parsed, lwMap), erMap)
      .groupBy(
        col("event_type"),
        coalesce(col("batted_ball_type"), lit("none")).as("bb_type"),
        coalesce(col("outs_before"), lit(-1)).cast("long").as("outs_before"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct("batter_name").as("batters"),
        sum("runs_on_play").cast("long").as("runs"),
        // rea is null for unknown base/out states (reference pd.NA
        // left-join semantics) — count the nulls separately so the
        // micro-unit sum stays null-free and exact
        sum(round(col("woba") * 1e6).cast("long")).as("woba_micro"),
        sum(when(col("rea").isNotNull, 1L).otherwise(0L)).as("n_rea"),
        sum(when(col("rea").isNotNull, round(col("rea") * 1e6).cast("long"))
          .otherwise(0L)).as("rea_micro"))
      .orderBy("event_type", "bb_type", "outs_before")
  }
}
