package graft.app

import graft.GraftSession
import graft.io.Sinks
import graft.leaderboards.{Kernel, Leaderboards}
import graft.metrics.{ExpectedRuns, Guts, GutsConstants, LinearWeights, PbpMetrics}
import graft.war.{GetWar, SchemaFinalize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The analytics DAG driver (reference `processors/run_all.py:52-154`,
 * SURVEY §3.1): raw pbp → parsed → pitcher assignment → expected runs
 * → linear weights → pbp_with_metrics → guts → WAR ×4 → leaderboards
 * ×~20, with PARQUET stage boundaries (the reference's CSV-file
 * dataflow edges, kept for restartability) and upsert-by-(year,
 * division) on every leaderboard (reference
 * `leaderboards/main.py:165-214` collapsed to dynamic partition
 * overwrite).
 *
 * Inputs beyond the raw pbp are optional, mirroring the reference's
 * per-stage skip-on-missing tolerance (`leaderboards/main.py:224-227`):
 * WE/LI tables gate the WPA/value stages, team + lineup dims gate real
 * pitcher assignment, season stats + rankings gate guts and WAR.
 */
object RunAll {

  final case class StageResult(name: String, path: String, rows: Long)

  /** Optional dimension inputs (reference get_war.py:104-121
    * DivisionData + pbp_parser team/lineup args). */
  final case class Inputs(
      weTable: Option[DataFrame] = None,
      liTable: Option[DataFrame] = None,
      teams: Option[DataFrame] = None,
      pitchingLineups: Option[DataFrame] = None,
      battingLineups: Option[DataFrame] = None,
      playerInfo: Option[DataFrame] = None,
      battingStats: Option[DataFrame] = None,
      pitchingStats: Option[DataFrame] = None,
      parkFactors: Option[DataFrame] = None,
      rankings: Option[DataFrame] = None,
      mappings: Option[DataFrame] = None,
      teamHistory: Option[DataFrame] = None,
      division: String = "ncaa_1",
      year: Int = 2024)

  /** League-constant fallback when season stats are absent (the
    * reference hard-fails; the engine degrades to published NCAA-ish
    * run values so the pbp-only path still produces leaderboards). */
  def defaultGuts(year: Int, division: String): GutsConstants = GutsConstants(
    year, division,
    wbb = 0.7, whbp = 0.73, w1b = 0.9, w2b = 1.25, w3b = 1.6, whr = 2.0,
    wobaScale = 1.2, woba = 0.35,
    runsSb = 0.2, runsCs = -0.475, csRate = 0.3,
    runsPa = 0.12, runsOut = 0.2, runsWin = 13.0, cfip = 3.1)

  /** Team enrichment (reference pbp_parser/main.py:110-140
    * add_team_names): batting side = away on Top, home on Bottom; the
    * pitching side is the mirror. Without a teams dim the ids fall
    * back to synthetic per-(game, side) keys so downstream group-bys
    * stay total. */
  def addTeams(parsed: DataFrame, teams: Option[DataFrame]): DataFrame = teams match {
    case Some(t) =>
      val dim = t.select(col("contest_id"),
        col("away_team_id").cast("string").as("__away_id"),
        col("home_team_id").cast("string").as("__home_id"),
        col("away_team_name").as("__away_nm"), col("home_team_name").as("__home_nm"))
      parsed.join(broadcast(dim), Seq("contest_id"), "left")
        .withColumn("bat_team_id",
          when(col("half") === "Top", col("__away_id")).otherwise(col("__home_id")))
        .withColumn("bat_team_name",
          when(col("half") === "Top", col("__away_nm")).otherwise(col("__home_nm")))
        .withColumn("pitch_team_id",
          when(col("half") === "Top", col("__home_id")).otherwise(col("__away_id")))
        .withColumn("pitch_team_name",
          when(col("half") === "Top", col("__home_nm")).otherwise(col("__away_nm")))
        .drop("__away_id", "__home_id", "__away_nm", "__home_nm")
    case None =>
      val side = when(col("half") === "Top", "away").otherwise("home")
      val other = when(col("half") === "Top", "home").otherwise("away")
      parsed
        .withColumn("bat_team_id", concat(col("contest_id").cast("string"), lit("_"), side))
        .withColumn("bat_team_name", col("bat_team_id"))
        .withColumn("pitch_team_id", concat(col("contest_id").cast("string"), lit("_"), other))
        .withColumn("pitch_team_name", col("pitch_team_id"))
  }

  private def emptyLineups(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("player_id", StringType),
        StructField("position", StringType),
        StructField("contest_id", LongType))))
  }

  def run(
      spark: SparkSession,
      rawPbp: DataFrame,
      outDir: String,
      inputs: Inputs = Inputs()): Seq[StageResult] = graft.util.Caches.scoped {
    // every frame the stages below persist (WAR cores, linear weights,
    // baserunning composites, forBoards) is tracked and released when
    // this run returns — caller-owned caches stay untouched (ADVICE r3)

    val results = scala.collection.mutable.ArrayBuffer.empty[StageResult]
    def write(df: DataFrame, name: String): DataFrame = {
      val path = s"$outDir/$name"
      df.write.mode("overwrite").parquet(path)
      val back = spark.read.parquet(path)
      results += StageResult(name, path, back.count())
      back
    }
    def upsert(df: DataFrame, name: String): Unit = {
      val path = s"$outDir/$name"
      val stamped = df
        .withColumn("year", lit(inputs.year))
        .withColumn("division", lit(inputs.division))
      Sinks.upsertByPartition(stamped, path, Seq("year", "division"))
      // report THIS batch's rows (partition-pruned read), consistent
      // with write()'s semantics — not the whole history
      results += StageResult(name, path,
        spark.read.parquet(path)
          .filter(col("year") === inputs.year && col("division") === inputs.division)
          .count())
    }

    // 1. parse (pbp_parser stage) + team enrichment
    val parsed0 = addTeams(graft.pbp.PbpPipeline.parse(rawPbp), inputs.teams)

    // 1b. pitcher assignment (standardize_names X2 stage) when pitching
    // lineups exist: one per-game pass over the full parsed rows
    // appends the pitcher columns, reusing the parse's game
    // partitioning (only the lineups shuffle).
    // Otherwise empty pitcher columns (round-2 stub, now only on the
    // degraded path)
    val parsed1 = inputs.pitchingLineups match {
      case Some(lineups) =>
        graft.pbp.PbpPipeline.withPitchers(parsed0, lineups)
          .withColumn("pitcher_id", coalesce(col("pitcher_id"), col("pitcher_name")))
      case None =>
        parsed0.withColumn("pitcher_name", lit(""))
          .withColumn("pitcher_id", lit(null).cast("string"))
    }
    // 1c. batter/runner standardization (standardize_names stage):
    // with game-keyed batting lineups, the full cascade resolves every
    // name column to canonical lineup names + real player ids in a
    // second per-game pass over the full rows, so steps 1-1c shuffle
    // the plays once; otherwise the parser's names ARE the keys (reference
    // pre-cube-mapping behavior)
    val lineupCols = Seq("contest_id", "team_id", "player_name", "player_id")
    val parsed2 = inputs.battingLineups match {
      case Some(bl) if lineupCols.forall(bl.columns.contains) =>
        graft.pbp.names.StandardizeNames(spark, parsed1, bl)
      case _ =>
        parsed1
          .withColumn("batter_id", col("batter_name"))
          .withColumn("r1_id", when(col("r1_name") =!= "", col("r1_name")))
          .withColumn("r2_id", when(col("r2_name") =!= "", col("r2_name")))
          .withColumn("r3_id", when(col("r3_name") =!= "", col("r3_name")))
    }
    val parsed = write(parsed2, "parsed_pbp")

    // 2. expected runs (get_er_matrix stage)
    val er = write(ExpectedRuns.matrix(parsed), "expected_runs")

    // 3. linear weights (get_linear_weights stage). With season batting
    // stats the weights normalize to the true wOBA scale (league OBP /
    // run-value denominator, reference get_linear_weights.py:114-151)
    // and carry the woba_scale row guts reads; without them the
    // above-outs weights stand in (scale 1), as documented.
    val lw0 = LinearWeights.aboveAverage(parsed, er)
    val lwNormalized = inputs.battingStats match {
      case Some(bat) =>
        write(LinearWeights.normalized(lw0, bat), "linear_weights")
          .select("events", "normalized_weight")
      case None =>
        write(lw0, "linear_weights")
          .select(col("events"),
            col("linear_weights_above_outs").as("normalized_weight"))
    }

    // 4. metric enrichment (add_pbp_metrics stage)
    val withBase = PbpMetrics.addRunExpectancy(
      PbpMetrics.addWoba(parsed, lwNormalized), er)
    val haveWpa = inputs.weTable.isDefined && inputs.liTable.isDefined
    val enriched0 = (inputs.weTable, inputs.liTable) match {
      case (Some(we), Some(li)) =>
        PbpMetrics.addFlags(PbpMetrics.addWinExpectancy(withBase, we, li))
      case _ =>
        withBase
          .withColumn("li", lit(null).cast("double"))
          .withColumn("high_leverage_fl", lit(false))
          .withColumn("low_leverage_fl", lit(false))
    }
    val enriched1 = inputs.playerInfo match {
      case Some(info) => Kernel.addHandedness(enriched0, info)
      case None => enriched0
        .withColumn("batter_hand", lit(null).cast("string"))
        .withColumn("pitcher_hand", lit(null).cast("string"))
    }
    val metrics = write(enriched1, "pbp_with_metrics")

    // 5. guts (get_guts stage) — needs season stats for wOBA/FIP
    val guts = (inputs.battingStats, inputs.pitchingStats) match {
      case (Some(bat), Some(pit)) =>
        val g = Guts.compute(metrics, lwNormalized, bat, pit, inputs.year, inputs.division)
        import spark.implicits._
        write(Seq(g).toDF(), "guts_constants")
        g
      case _ => defaultGuts(inputs.year, inputs.division)
    }

    // 6. WAR stage (get_war) — all four tables, schema-finalized.
    // Requires the WPA/LI enrichment (clutch and GMLI are WAR inputs,
    // get_war.py reads pbp_with_metrics): without WE/LI tables the
    // stage skips, like every other missing-input stage here.
    val warInputs = for {
      bat <- inputs.battingStats; pit <- inputs.pitchingStats
      pf <- inputs.parkFactors; rk <- inputs.rankings; mp <- inputs.mappings
      if haveWpa
    } yield (bat, pit, pf, rk, mp)
    warInputs.foreach { case (bat, pit, pf, rk, mp) =>
      // positional adjustments need lineup positions; a lineups input
      // without them (the standardize-names shape) falls back to the
      // per-player single-position fallback path
      val lineups = inputs.battingLineups
        .filter(bl => Seq("player_id", "position", "contest_id")
          .forall(bl.columns.contains))
        .getOrElse(emptyLineups(spark))
      val war = GetWar.run(bat, pit, metrics, guts, pf, lineups,
        rk, mp, inputs.division, inputs.year)
      // per-(year, division) partitions, like the reference's
      // war/{prefix}_*_{year}.csv file-per-slice layout — repeated
      // division-year runs accumulate instead of clobbering
      upsert(SchemaFinalize.finalizeSchema(war.batting, SchemaFinalize.battingWar),
        "batting_war")
      upsert(SchemaFinalize.finalizeSchema(war.pitching, SchemaFinalize.pitchingWar),
        "pitching_war")
      upsert(war.battingTeam, "batting_team_war")
      upsert(war.pitchingTeam, "pitching_team_war")
    }

    // 7. leaderboards (leaderboards stage): the ~20-table fan-out off
    // ONE cached scan, upserted by (year, division)
    val weights = lwNormalized.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
    val forBoards = graft.util.Caches.track(metrics.cache())
    val boards = Leaderboards.runAnalysis(forBoards, weights, guts)
    val wpaGated = Set("value_batter", "value_batting_team", "value_pitcher",
      "value_pitching_team")
    boards.toSeq.sortBy(_._1).foreach { case (name, df0) =>
      // gate FIRST: the publish pass runs eager probe jobs, and a
      // WPA-gated table must cost zero work when the enrichment is off
      if (!wpaGated.contains(name) || haveWpa) {
        // publish hygiene in the reference's order (main.py:160-212):
        // team-history filter → floors → key dedup → name enrichment,
        // per batch — equivalent to the reference's combined-frame
        // pass under the (year, division) upsert
        val df = Leaderboards.publish(name, df0, inputs.teamHistory,
          inputs.division, inputs.year)
        // empty tables are skipped, as the reference does (main.py:159)
        if (!df.isEmpty) upsert(df, s"leaderboards/$name")
      }
    }
    results.toSeq
  }

  /** Back-compat entry (round-2 call shape). */
  def run(
      spark: SparkSession, rawPbp: DataFrame, outDir: String,
      weTable: Option[DataFrame], liTable: Option[DataFrame]): Seq[StageResult] =
    run(spark, rawPbp, outDir, Inputs(weTable = weTable, liTable = liTable))

  /** The reference's outer loop (`run_all.py:61-154`, years ×
    * divisions): each slice runs the full DAG into the SAME output
    * root; leaderboards and WAR tables accumulate by their
    * (year, division) partitions, parse/metrics stage files reflect
    * the latest slice (the reference's per-division-year CSVs). */
  def runMany(
      spark: SparkSession,
      slices: Seq[(DataFrame, Inputs)],
      outDir: String): Seq[StageResult] =
    slices.flatMap { case (raw, inputs) =>
      // each run() releases its own tracked caches on return (scoped),
      // so the years × divisions loop never accumulates pinned storage
      // and caller-owned input caches survive across slices
      run(spark, raw, outDir, inputs)
    }

  /** CLI: runAll <rawPbpParquet> <outDir> — raw schema
    * (contest_id, seq, inning, away_text, home_text). */
  def main(args: Array[String]): Unit = {
    val Array(rawPath, outDir) = args.take(2)
    val spark = GraftSession.get("graft-run-all")
    val raw = spark.read.parquet(rawPath)
    val results = run(spark, raw, outDir)
    results.foreach(r => println(s"STAGE ${r.name}: ${r.rows} rows -> ${r.path}"))
    spark.stop()
  }
}
