package graft.pbp.names

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The game-blocked name standardization cascade (reference
  * `names/names.py:100-293`). */
class StandardizeNamesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val lineups = Seq(
    (1L, "T1", "John Smith", "id_js"),
    (1L, "T1", "Robert Jones", "id_rj"),
    (2L, "T1", "Carl Fisher", "id_cf"), // T1 roster, DIFFERENT game
    (2L, "T2", "John Smith", "id_other"))
    .toDF("contest_id", "team_id", "player_name", "player_id")

  private def standardize(plays: org.apache.spark.sql.DataFrame) =
    StandardizeNames(spark, plays, lineups)
      .collect().map(r => r.getAs[Int]("play_id") ->
        (r.getAs[String]("batter_name"), r.getAs[String]("batter_id"))).toMap

  test("cascade tiers: exact, variation, fuzzy-in-game, team fallback, unmatched") {
    val plays = Seq(
      (1L, 1, "T1", "john smith", null, null, null, null), // exact lowercase
      (1L, 2, "T1", "J. Smith", null, null, null, null), // generated variation
      (1L, 3, "T1", "Jones, Robert", null, null, null, null), // comma variation
      (1L, 4, "T1", "Jhon Smtih", null, null, null, null), // fuzzy ≥ 70 in-game
      (1L, 5, "T1", "Carl Fisher", null, null, null, null), // team-wide fallback (game 2 roster)
      (1L, 6, "T1", "Zz Unknown Qq", null, null, null, null), // no match → original, null id
      (1L, 7, "T2", "John Smith", null, null, null, null)) // T2 has no game-1 lineup → full T2 lookup
      .toDF("contest_id", "play_id", "bat_team_id", "batter_name",
        "r1_name", "r2_name", "r3_name", "player_of_interest")
    val m = standardize(plays)
    assert(m(1) === (("John Smith", "id_js")))
    assert(m(2) === (("John Smith", "id_js")))
    assert(m(3) === (("Robert Jones", "id_rj")))
    assert(m(4) === (("John Smith", "id_js")))
    assert(m(5) === (("Carl Fisher", "id_cf")))
    assert(m(6) === (("Zz Unknown Qq", null)))
    assert(m(7) === (("John Smith", "id_other"))) // team blocking: T2's John
  }

  test("runner and player_of_interest columns standardize too") {
    val plays = Seq(
      (1L, 1, "T1", "John Smith", "J. Smith", "Robert Jones", null, "Jones, Robert"))
      .toDF("contest_id", "play_id", "bat_team_id", "batter_name",
        "r1_name", "r2_name", "r3_name", "player_of_interest")
    val out = StandardizeNames(spark, plays, lineups).collect().head
    assert(out.getAs[String]("r1_id") === "id_js")
    assert(out.getAs[String]("r2_id") === "id_rj")
    assert(out.getAs[String]("r3_name") === "")
    assert(out.getAs[String]("player_id") === "id_rj")
  }

  test("games without lineup rows keep every play; lineup-only games emit nothing; layout") {
    // game 3 has no lineup rows: its plays fall through to the
    // team-wide tier (T1) or stay unmatched (T9); game 2 has lineup
    // rows but no plays. Extra and stale id columns pin the layout.
    val plays = Seq(
      (7, 3L, "T1", 1, "John Smith", "x", "stale", "Carl Fisher", null, null, null),
      (7, 3L, "T9", 2, "Zz Unknown Qq", "y", "stale", null, null, null, "J. Smith"),
      (8, 1L, "T1", 1, "J. Smith", "z", "stale", null, null, null, null))
      .toDF("inning", "contest_id", "bat_team_id", "play_id", "batter_name", "note",
        "batter_id", "r1_name", "r2_name", "r3_name", "player_of_interest")
    val out = StandardizeNames(spark, plays, lineups)
    assert(out.columns.toSeq === Seq("contest_id", "play_id", "inning", "bat_team_id",
      "note", "batter_name", "batter_id", "r1_name", "r1_id", "r2_name", "r2_id",
      "r3_name", "r3_id", "player_name", "player_id"))
    val rows = out.collect()
    assert(rows.length === 3)
    assert(!rows.exists(_.getAs[Long]("contest_id") == 2L))
    val g3 = rows.filter(_.getAs[Long]("contest_id") == 3L)
      .map(r => r.getAs[Int]("play_id") -> r).toMap
    assert(g3(1).getAs[String]("batter_id") === "id_js")
    assert(g3(1).getAs[String]("r1_id") === "id_cf")
    assert(g3(1).getAs[Int]("inning") === 7)
    assert(g3(1).getAs[String]("note") === "x")
    assert(g3(2).getAs[String]("batter_name") === "Zz Unknown Qq")
    assert(g3(2).getAs[String]("batter_id") === null)
    assert(g3(2).getAs[String]("player_name") === "J. Smith")
    assert(g3(2).getAs[String]("player_id") === null)
    assert(g3(2).getAs[String]("r1_name") === "")
  }
}
