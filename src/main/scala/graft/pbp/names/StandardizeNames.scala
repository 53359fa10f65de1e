package graft.pbp.names

import graft.functions.Fuzzy
import graft.pbp.PbpPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The standardize_names stage for batter/runner identities (reference
 * `processors/pbp_parser/names/names.py:100-293`): every parsed name
 * column (batter, r1–r3, player_of_interest) is resolved against the
 * game's own batting lineup first — exact lowercase, normalized,
 * generated variations, then fuzzy `token_sort_ratio ≥ 70` over the
 * game lookup's variation keys — falling back to the TEAM-wide
 * [[NameVariants.matchName]] cascade, else the original name with a
 * null id.
 *
 * Spark shape: lineups are game-keyed dims, so per-game matching runs
 * in ONE per-game pass over the full play rows (the
 * [[graft.pbp.PbpPipeline.withPitchers]] pattern,
 * `PbpPipeline.enrichByGame`) — lookups never leave their task and
 * each play row comes out once with its matched columns. The
 * team-wide fallback lookup is roster-scale and BROADCAST. The lineups
 * always shuffle by game; the plays shuffle only when their input is
 * not already partitioned on contest_id.
 */
object StandardizeNames {

  /** Per-game variation lookup (names.py:100-128): key → (canonical
    * lineup name, player id); first writer wins, insertion-ordered
    * (the fuzzy tier's candidate order). */
  def buildGameLookup(rows: Seq[(String, String)])
      : scala.collection.mutable.LinkedHashMap[String, (String, String)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    rows.foreach { case (name, pid) =>
      if (name != null && name.trim.nonEmpty) {
        val key = name.trim.toLowerCase
        if (!m.contains(key)) m += key -> ((name, pid))
        val (first, last, num) = NameVariants.parseNameParts(name)
        NameVariants.generateNameVariations(first, last, num).foreach { v =>
          val vk = v.trim.toLowerCase
          if (vk.nonEmpty && !m.contains(vk)) m += vk -> ((name, pid))
        }
      }
    }
    m
  }

  /** The in-game cascade (names.py:131-179). Returns
    * (standardized name, matched id or null). */
  def matchPlayerInGame(
      name: String, team: String,
      gameLookup: scala.collection.mutable.LinkedHashMap[String, (String, String)],
      fullLookup: Map[String, Map[String, (String, String)]],
      fullOrdered: Map[String, Vector[String]],
      threshold: Double = 70.0): (String, String) = {
    if (name == null || name.trim.isEmpty) return ("", null)
    val original = name.trim
    if (team == null || team.isEmpty) return (original, null)

    val nameLower = original.toLowerCase
    gameLookup.get(nameLower).foreach(r => return r)
    gameLookup.get(NameVariants.normalizeName(name)).foreach(r => return r)

    val (first, last, number) = NameVariants.parseNameParts(name)
    NameVariants.generateNameVariations(first, last, number).foreach { v =>
      gameLookup.get(v.trim.toLowerCase).foreach(r => return r)
    }

    if (gameLookup.nonEmpty) {
      var best = -1.0
      var bestKey: String = null
      gameLookup.keysIterator.foreach { k =>
        val s = Fuzzy.tokenSortRatio(nameLower, k)
        if (s > best) { best = s; bestKey = k }
      }
      if (best >= threshold) return gameLookup(bestKey)
    }

    NameVariants.matchName(name, team, fullLookup, fullOrdered, threshold) match {
      case Some((canonical, pid)) => (canonical, pid)
      case None => (original, null)
    }
  }

  private val nameCols = Seq(
    ("batter_name", "batter_name", "batter_id"),
    ("r1_name", "r1_name", "r1_id"),
    ("r2_name", "r2_name", "r2_id"),
    ("r3_name", "r3_name", "r3_id"),
    ("player_of_interest", "player_name", "player_id"))

  /**
   * Standardize the five name columns of a parsed pbp frame against
   * batting lineups. `parsed` needs (contest_id, play_id,
   * bat_team_id, batter_name, r1_name, r2_name, r3_name,
   * player_of_interest); `battingLineups` (contest_id, team_id,
   * player_name, player_id).
   */
  def apply(spark: SparkSession, parsed: DataFrame, battingLineups: DataFrame,
      threshold: Double = 70.0, maxBroadcastRows: Long = 2000000L): DataFrame = {
    // team-wide fallback lookup: roster-scale dim, broadcast — but
    // NEVER an unconditional collect of an input table: probe with
    // limit(max+1) first, and beyond the threshold degrade to
    // game-lookup-only matching (the cross-game fallback tier is an
    // enrichment, not a correctness requirement) instead of OOMing
    // the driver.
    val rosterDim = battingLineups
      .select(col("team_id").cast("string"), col("player_name").cast("string"),
        col("player_id").cast("string"))
      .distinct()
    val probe = rosterDim.limit(math.min(maxBroadcastRows + 1, Int.MaxValue.toLong).toInt).collect()
    val fits = probe.length <= maxBroadcastRows
    if (!fits) System.err.println(
      s"[graft-metric] standardize_names_fallback_disabled roster > $maxBroadcastRows rows; " +
        "cross-game fallback tier skipped (game-lookup matching only)")
    val rosterRows =
      if (!fits) Seq.empty
      else probe
        .map(r => (r.getString(0), r.getString(1), r.getString(2), Option.empty[String]))
        .sortBy(r => (r._1, r._3, r._2)) // deterministic insertion order
        .toSeq
    val fullLookup = NameVariants.buildNameLookup(rosterRows)
    val fullOrdered = NameVariants.orderedKeys(rosterRows)
    val bcLookup = spark.sparkContext.broadcast((fullLookup, fullOrdered))

    val lineups = battingLineups.select(
      col("contest_id"), col("team_id").cast("string"),
      col("player_name").cast("string"), col("player_id").cast("string"))
    val dropped = nameCols.flatMap { case (in, name, id) => Seq(in, name, id) }.distinct
    val added = nameCols.flatMap { case (_, name, id) => Seq(name, id) }

    PbpPipeline.enrichByGame(parsed, lineups, Nil, "bat_team_id" +: nameCols.map(_._1),
      dropped, added) { (ps, ls) =>
      val (full, ordered) = bcLookup.value
      // per-team game lookup, lineup rows in deterministic order
      val byTeam = ls.sortBy(r => (r.getString(1), r.getString(3), r.getString(2)))
        .groupBy(_.getString(1))
        .map { case (team, rows) =>
          team -> buildGameLookup(rows.map(r => (r.getString(2), r.getString(3))))
        }
      val emptyLookup = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, String)]
      ps.map { p =>
        val team = p.getString(0)
        val gl = byTeam.getOrElse(team, emptyLookup)
        val vals = new Array[Any](2 * nameCols.length)
        var i = 0
        while (i < nameCols.length) {
          val (n, id) = matchPlayerInGame(p.getString(i + 1), team, gl, full, ordered, threshold)
          vals(2 * i) = n; vals(2 * i + 1) = id
          i += 1
        }
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    }
  }
}
