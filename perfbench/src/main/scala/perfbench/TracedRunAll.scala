package perfbench

import graft.app.RunAll
import graft.app.RunAll.{Inputs, StageResult}
import graft.io.Sinks
import graft.leaderboards.{Kernel, Leaderboards}
import graft.metrics.{ExpectedRuns, Guts, LinearWeights, PbpMetrics}
import graft.war.{GetWar, SchemaFinalize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * `RunAll.run` with spans: the same public calls, in the same order,
 * at the same parquet boundaries, so its tables equal the untraced
 * run's. Spans: `app` (the whole call; reported as the time no child
 * covers), `pbp`, `metrics`, `war`, `leaderboards`, and inside them
 * `io.upsert` (each `Sinks.upsertByPartition`) and `io.readback` (each
 * read-back count, tagged with its StageResult name).
 *
 * Spark is lazy: a stage's plan executes at its parquet write, so the
 * work of a leaderboard or WAR table lands in its `io.upsert` child.
 * The layer spans are inclusive of their children.
 */
object TracedRunAll {

  private def emptyLineups(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("player_id", StringType),
        StructField("position", StringType),
        StructField("contest_id", LongType))))
  }

  def run(t: Tracer, spark: SparkSession, rawPbp: DataFrame, outDir: String,
      inputs: Inputs): Seq[StageResult] = t.span("app") {
    graft.util.Caches.scoped {
      val results = scala.collection.mutable.ArrayBuffer.empty[StageResult]
      def write(df: DataFrame, name: String): DataFrame = {
        val path = s"$outDir/$name"
        df.write.mode("overwrite").parquet(path)
        t.span("io.readback", name) {
          val back = spark.read.parquet(path)
          results += StageResult(name, path, back.count())
          back
        }
      }
      def upsert(df: DataFrame, name: String): Unit = {
        val path = s"$outDir/$name"
        val stamped = df
          .withColumn("year", lit(inputs.year))
          .withColumn("division", lit(inputs.division))
        t.span("io.upsert", name)(Sinks.upsertByPartition(stamped, path, Seq("year", "division")))
        t.span("io.readback", name) {
          results += StageResult(name, path,
            spark.read.parquet(path)
              .filter(col("year") === inputs.year && col("division") === inputs.division)
              .count())
        }
      }

      val parsed = t.span("pbp") {
        val parsed0 = RunAll.addTeams(graft.pbp.PbpPipeline.parse(rawPbp), inputs.teams)
        val parsed1 = inputs.pitchingLineups match {
          case Some(lineups) =>
            graft.pbp.PbpPipeline.withPitchers(parsed0, lineups)
              .withColumn("pitcher_id", coalesce(col("pitcher_id"), col("pitcher_name")))
          case None =>
            parsed0.withColumn("pitcher_name", lit(""))
              .withColumn("pitcher_id", lit(null).cast("string"))
        }
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
        write(parsed2, "parsed_pbp")
      }

      val (metrics, lwNormalized, guts, haveWpa) = t.span("metrics") {
        val er = write(ExpectedRuns.matrix(parsed), "expected_runs")
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
        val guts = (inputs.battingStats, inputs.pitchingStats) match {
          case (Some(bat), Some(pit)) =>
            val g = Guts.compute(metrics, lwNormalized, bat, pit, inputs.year, inputs.division)
            import spark.implicits._
            write(Seq(g).toDF(), "guts_constants")
            g
          case _ => RunAll.defaultGuts(inputs.year, inputs.division)
        }
        (metrics, lwNormalized, guts, haveWpa)
      }

      val warInputs = for {
        bat <- inputs.battingStats; pit <- inputs.pitchingStats
        pf <- inputs.parkFactors; rk <- inputs.rankings; mp <- inputs.mappings
        if haveWpa
      } yield (bat, pit, pf, rk, mp)
      warInputs.foreach { case (bat, pit, pf, rk, mp) =>
        t.span("war") {
          val lineups = inputs.battingLineups
            .filter(bl => Seq("player_id", "position", "contest_id")
              .forall(bl.columns.contains))
            .getOrElse(emptyLineups(spark))
          val war = GetWar.run(bat, pit, metrics, guts, pf, lineups,
            rk, mp, inputs.division, inputs.year)
          upsert(SchemaFinalize.finalizeSchema(war.batting, SchemaFinalize.battingWar),
            "batting_war")
          upsert(SchemaFinalize.finalizeSchema(war.pitching, SchemaFinalize.pitchingWar),
            "pitching_war")
          upsert(war.battingTeam, "batting_team_war")
          upsert(war.pitchingTeam, "pitching_team_war")
        }
      }

      t.span("leaderboards") {
        val weights = lwNormalized.collect()
          .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
        val forBoards = graft.util.Caches.track(metrics.cache())
        val boards = Leaderboards.runAnalysis(forBoards, weights, guts)
        val wpaGated = Set("value_batter", "value_batting_team", "value_pitcher",
          "value_pitching_team")
        boards.toSeq.sortBy(_._1).foreach { case (name, df0) =>
          if (!wpaGated.contains(name) || haveWpa) {
            val df = Leaderboards.publish(name, df0, inputs.teamHistory,
              inputs.division, inputs.year)
            if (!df.isEmpty) upsert(df, s"leaderboards/$name")
          }
        }
      }
      results.toSeq
    }
  }
}
