package graft.pbp

/**
 * X1: the base-runner state machine (reference
 * `processors/pbp_parser/columns.py:332-529`,
 * `determine_batter_and_runners`) as a pure fold
 * `(State, Play) => (State, Out)` — deterministic, unit-testable
 * without Spark, and executed per game inside the parser's one
 * per-game pass ([[PbpPipeline.parse]], each game's plays folded in
 * play order).
 *
 * Semantics preserved exactly, including the reference's quirks:
 *  - runner state resets on new game OR new inning;
 *  - a substitution swaps the runner identity BEFORE the
 *    before-snapshot is taken (columns.py:399-411);
 *  - p1 runner-events move/remove the p1 runner first;
 *  - p2–p4 moves apply in two passes: all OUT/H removals, then all
 *    2/3 placements (columns.py:470-480);
 *  - batter destination applies last, with the forced-advance cascade
 *    on a single when first is occupied (columns.py:494-509) — note
 *    the reference does NOT advance anyone when the bases are loaded;
 *  - sub/meta rows keep the state unchanged (columns.py:429-433).
 */
object BaseState {

  /** One play's inputs (all strings pre-trimmed or trimmed here). */
  final case class Play(
      newGame: Boolean, newInn: Boolean,
      subFl: Boolean, subIn: String, subOut: String,
      p1: String, p2: String, p3: String, p4: String)

  /** Runner names on 1st/2nd/3rd; "" = empty base. */
  final case class State(r1: String, r2: String, r3: String)
  val emptyState: State = State("", "", "")

  final case class Out(
      batterName: String, playerOfInterest: String,
      r1Before: String, r2Before: String, r3Before: String, basesBefore: String,
      r1After: String, r2After: String, r3After: String, basesAfter: String)

  @inline private def n(x: String): String = if (x == null) "" else x.trim

  private def basesStr(a: String, b: String, c: String): String =
    (if (n(a).nonEmpty) "Y" else "N") + (if (n(b).nonEmpty) "Y" else "N") +
      (if (n(c).nonEmpty) "Y" else "N")

  def step(state: State, play: Play): (State, Out) = {
    var r1 = state.r1; var r2 = state.r2; var r3 = state.r3

    if (play.newGame || play.newInn) { r1 = ""; r2 = ""; r3 = "" }

    if (play.subFl) {
      val si = n(play.subIn); val so = n(play.subOut)
      if (si.nonEmpty && so.nonEmpty) {
        if (n(r1) == so) r1 = si
        if (n(r2) == so) r2 = si
        if (n(r3) == so) r3 = si
      }
    }

    val (r1b, r2b, r3b) = (r1, r2, r3)
    val basesBefore = basesStr(r1, r2, r3)

    val p1i = n(play.p1)
    // evaluate each regex gate ONCE per row: extractBatterName would
    // re-run both blankIfSubOrMeta and isRunnerOnlyEvent internally,
    // and the early-return below needs blankIfSubOrMeta again — the
    // per-row regex count is the fold's constant factor
    val isRunnerEvent = Parsing.isRunnerOnlyEvent(p1i)
    val blankMeta = Parsing.blankIfSubOrMeta(p1i, play.subFl)

    val (batterName, poi) =
      if (isRunnerEvent) ("", Parsing.extractRunnerNameFromP1(p1i))
      else if (blankMeta) ("", "")
      else { val b = Parsing.batterNameUnchecked(p1i); (b, b) }

    if (blankMeta && !isRunnerEvent) {
      val out = Out(batterName, poi, r1b, r2b, r3b, basesBefore,
        r1, r2, r3, basesStr(r1, r2, r3))
      return (State(r1, r2, r3), out)
    }

    var r1a = r1; var r2a = r2; var r3a = r3
    def removeRunner(name: String): Unit = {
      if (n(r1a) == name) r1a = ""
      if (n(r2a) == name) r2a = ""
      if (n(r3a) == name) r3a = ""
    }

    if (isRunnerEvent && poi.nonEmpty) {
      Parsing.runnerDest(p1i) match {
        case "OUT" | "H" => removeRunner(poi)
        case "2" => removeRunner(poi); r2a = poi
        case "3" => removeRunner(poi); r3a = poi
        case _ => ()
      }
    }

    // p2–p4 moves: collect (name, dest) then apply OUT/H first, 2/3 second
    val moves = Seq(play.p2, play.p3, play.p4).flatMap { px =>
      val t = n(px)
      if (t.isEmpty) None
      else {
        val nm = Parsing.extractRunnerName(t)
        if (nm.isEmpty) None
        else {
          val dst = Parsing.runnerDest(t)
          if (dst.nonEmpty) Some((nm, dst)) else None
        }
      }
    }
    moves.foreach { case (nm, dst) => if (dst == "OUT" || dst == "H") removeRunner(nm) }
    moves.foreach {
      case (nm, "2") => removeRunner(nm); r2a = nm
      case (nm, "3") => removeRunner(nm); r3a = nm
      case _ => ()
    }

    if (!isRunnerEvent) {
      Parsing.batterDest(p1i) match {
        case "H" => r1a = ""; r2a = ""; r3a = ""
        case "2" => if (n(r2a).isEmpty) r2a = batterName
        case "3" => if (n(r3a).isEmpty) r3a = batterName
        case "1" =>
          if (n(r1a).isEmpty) r1a = batterName
          else if (n(r2a).isEmpty) { // forced advance 1→2 (3rd may or may not be held)
            r2a = r1a; r1a = batterName
          } else if (n(r3a).isEmpty) { // 1st+2nd occupied → double force
            r3a = r2a; r2a = r1a; r1a = batterName
          } // bases loaded: reference applies no advance
        case _ => ()
      }
    }

    val out = Out(batterName, poi, r1b, r2b, r3b, basesBefore,
      r1a, r2a, r3a, basesStr(r1a, r2a, r3a))
    (State(r1a, r2a, r3a), out)
  }

  /** Fold a full game's plays in order. */
  def runGame(plays: Seq[Play]): Seq[Out] = {
    var st = emptyState
    plays.map { p => val (s2, o) = step(st, p); st = s2; o }
  }
}
