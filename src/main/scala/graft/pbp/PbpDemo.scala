package graft.pbp

import graft.GraftSession
import graft.leaderboards.Kernel
import graft.metrics.{ExpectedRuns, LinearWeights}
import org.apache.spark.sql.functions._

/** CLI drive of the full analytics DAG on an inline game — the
  * runnable surface for the X-family + metrics + leaderboard stages
  * (reference `processors/run_all.py` §3.1 order: parse → expected
  * runs → linear weights → kernel). No pbp table exists in the
  * harness testdata; real input would be `spark.read.csv` with the
  * same columns. */
object PbpDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("graft-pbp-demo")
    import spark.implicits._
    val raw = Seq(
      (1L, 1, 1, "Adams singled to left", null),
      (1L, 2, 1, "Brown walked", null),
      (1L, 3, 1, "Cole homered, 3 RBI; Adams scored; Brown scored", null),
      (1L, 4, 1, "Dunn struck out swinging", null),
      (1L, 5, 1, null, "Evans grounded into double play"),
      (1L, 6, 1, null, "Pinch pinch hit for Evans"),
      (1L, 7, 2, "Foley flied out to cf", null),
      (2L, 1, 1, "Giles reached on an error by ss", null),
      (2L, 2, 1, "Giles stole second", null),
      (2L, 3, 1, "Hart singled, RBI; Giles scored", null),
      (2L, 4, 1, "Irwin flied out to rf", null))
      .toDF("contest_id", "seq", "inning", "away_text", "home_text")

    // stage 1: parse (X1-X6 + windows)
    val parsed = graft.util.Caches.persist(PbpPipeline.parse(raw))
    parsed.select("contest_id", "play_id", "half", "play_description", "event_type",
        "batted_ball_type", "outs_on_play", "outs_before", "runs_on_play", "runs_roi",
        "bases_before", "bases_after", "batter_name", "bat_order",
        "home_score_before", "away_score_after", "sub_fl", "sub_in", "sub_pos")
      .orderBy("contest_id", "play_id")
      .show(20, truncate = false)

    // stage 2: expected-runs matrix (A1)
    val er = ExpectedRuns.matrix(parsed)
    er.show(8, truncate = false)

    // stage 3: linear weights above average/outs (A2)
    val lw = LinearWeights.aboveAverage(parsed, er)
    lw.show(10, truncate = false)

    // stage 4: leaderboard kernel (A5) over the parsed events
    val weights = Map("walk" -> 0.7, "single" -> 0.9, "home_run" -> 2.0)
    Kernel.battingMetrics(
        parsed.withColumnRenamed("batter_name", "batter_id"), Seq("batter_id"), weights)
      .orderBy("batter_id").show(20, truncate = false)

    println(s"PBP_ROWS=${parsed.count()} ER_ROWS=${er.count()} LW_ROWS=${lw.count()}")
    spark.stop()
  }
}
