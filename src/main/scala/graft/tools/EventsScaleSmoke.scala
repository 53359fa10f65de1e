package graft.tools

import graft.operators.{AsOfJoin, Sessionize}
import graft.sources.Tables
import graft.util.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Events-family scale smoke — `runMain graft.tools.EventsScaleSmoke
 * [sfDir] [scales]` (default `1,3,10`): runs the sequential/relational
 * event operators — gap sessionization, session stats, the as-of
 * backward join (purchase attribution), the watermark-form tumbling
 * window aggregate, and the stateful per-user balance fold — over the
 * events table replicated `scale`× into DISJOINT user-id spaces
 * (copy `k` offsets `user_id` and `event_id`; timestamps untouched).
 *
 * Every one of these operators partitions by `user_id` (the window,
 * the as-of union, the fold) or by `(window, event_type)` (the
 * tumbling agg), so user-disjoint copies make the invariants EXACT —
 * no tolerance bands:
 *  - sessions, session-stat rows, as-of matches, and fold-balance
 *    checksums are exactly `c`× copy 0 (any deviation means state or
 *    window frames leaked across partition boundaries);
 *  - the tumbling aggregate's ROW COUNT is constant (same windows ×
 *    types) while its total `n` is exactly linear — growth in rows
 *    would mean copies shifted event time;
 *  - shuffle-write bytes between the two largest scales grow within
 *    1.5× of linear, and no heavy stage has a task >8× the stage
 *    mean (sessionize/fold are the natural skew suspects: one hot
 *    user must not serialize a partition);
 *  - the KMV distinct-user estimate stays within the sketch's 3σ
 *    relative-error bound (3/√(k−2), k=128) of the EXACT per-scale
 *    truth, and the full KMV sketch over the `value` column — whose
 *    distinct set the disjoint-copy construction does NOT grow — is
 *    IDENTICAL at every scale (the bounded-state aggregate must be a
 *    pure function of the value set: 10× the rows, same synopsis).
 */
object EventsScaleSmoke {

  /** Copy `k`: user and event ids offset into a disjoint block. */
  val userBlocks: (DataFrame, Int) => DataFrame =
    SmokeRun.idOffsets("user_id" -> 10000000L, "event_id" -> 1000000000L)

  def main(args: Array[String]): Unit = {
    val run = new SmokeRun("EVT", args)
    import run.{check, exactLinear, spark}

    val base = Tables.events(spark, run.sfDir)
      .select("event_id", "user_id", "ts", "ts_ns", "event_type", "value")

    final case class Run(scale: Int, n: Long, sessions: Long, statRows: Long,
        asofMatches: Long, ivMatches: Long, winRows: Long, winN: Long, foldSum: Long,
        usersTrue: Long, usersEst: Long, valSketch: Seq[Long],
        overlap: Seq[(String, String, Long, Long)],
        exactOverlap: Map[(String, String), (Long, Long)],
        cmsCells: Long, cmsMergedEqual: Boolean,
        cmsEst: Map[Long, Long], cmsTrue: Map[Long, Long],
        funnelSteps: Seq[(Int, Long)], cohort: Map[(Long, Long), Long],
        dqReport: Map[String, (Long, Long)], dqSig: Map[String, Long],
        gsCells: Map[(String, String, Long), Long],
        upAgg: Map[String, (Long, Long)],
        ewmaMicroSum: Long, dq3: Seq[(Long, Long, Long, Long)],
        asofFwd: Long, asofNear: Long, topkRows: Long,
        madMap: Map[String, (Long, Long)], modeMap: Map[String, Long],
        scdRows: Long, scdOpen: Long, scdAsOfMid: Long, scdAsOfEnd: Long,
        env: Envelope)

    val runs = run.ladder() { rung =>
      val c = rung.scale
      val (evts, n) = rung.input(SmokeRun.copies(base, c)(userBlocks))

      val sess = Sessionize.byGap(evts, col("user_id"), col("ts"), 1800,
        tieBreak = Seq(col("event_id")))
      val sessions = sess.select("user_id", "session_id").distinct().count()
      val statRows = sess.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events")).count()

      val purch = evts.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"),
          (round(col("value") * 100)).cast("long").as("purchase_cents"))
      val asofMatches = AsOfJoin.backward(
          evts.select("event_id", "user_id", "ts"), purch,
          key = "user_id", leftTs = "ts", rightTs = "pts",
          payload = Seq("purchase_cents"), toleranceSeconds = Some(3600))
        .filter(col("purchase_cents").isNotNull).count()

      // stream-stream interval join, batch form: user-disjoint copies
      // replicate copy-0's intra-user match structure exactly
      val ivMatches = graft.streaming.StreamOps.intervalJoinStreams(
          evts.filter(col("event_type") === "purchase"),
          evts.filter(col("event_type") === "click"),
          toleranceSec = 300).count()

      val win = graft.streaming.StreamOps.windowedTypeCounts(evts, "1 hour")
        .agg(count(lit(1)).cast("long"), sum("n").cast("long")).first()
      val (winRows, winN) = (win.getLong(0), win.getLong(1))

      // per-user balance fold (the x01 machine); checksum = Σ|balance|
      val foldSum = graft.queries.QJoin.signupBalance(evts)
        .agg(sum(abs(col("balance_cents"))).cast("long")).first().getLong(0)

      // KMV sketches: distinct users (grows exactly c×, estimate must
      // track it) and distinct `value`s (copies replicate the value
      // set verbatim — the sketch must be bit-identical at any scale)
      val usersTrue = evts.select("user_id").distinct().count()
      val usersEst = graft.operators.Sketches
        .kmvDistinct(evts, Seq.empty, "user_id", k = 128)
        .select("est_distinct").first().getLong(0)
      val kmv = graft.operators.Sketches.kMinDistinct(128)
      val valSketch = evts
        .select(graft.functions.ScalarFunctions.md5Long(col("value").cast("string")).as("h"))
        .agg(kmv(col("h"))).first().getSeq[Long](0).toSeq

      // KMV set operations (a21): pairwise distinct-user overlap
      // between event types from the sketches, gated against the
      // EXACT pairwise union/intersection (self-join of the distinct
      // (type, user) table — cheap at smoke scale, the thing the
      // sketch replaces at 100 TB)
      val overlap = graft.operators.Sketches
        .kmvOverlapMatrix(evts, "event_type", "user_id", k = 128)
        .select("g1", "g2", "est_union", "est_inter")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSeq
      val tu = Caches.persist(
        evts.select(col("event_type").as("t"), col("user_id").as("u")).distinct())
      val exactInter = tu.as("a").join(tu.as("b"),
          col("a.u") === col("b.u") && col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("g1"), col("b.t").as("g2"))
        .agg(count(lit(1)).as("inter"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val perType = tu.groupBy("t").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactOverlap = overlap.map { case (g1, g2, _, _) =>
        val i = exactInter.getOrElse((g1, g2), 0L)
        (g1, g2) -> (perType(g1) + perType(g2) - i, i)
      }.toMap

      // Count-Min sketch (a24): the one-shot sketch over the scaled
      // corpus vs per-copy partials merged by counter addition — the
      // daily-ingest layout — must agree CELL-FOR-CELL; per-user
      // estimates must dominate the exact counts (the CMS one-sided
      // guarantee) at every scale
      val sk = graft.operators.Sketches
      val (cd, cw) = (4, 1024)
      val oneShotDf = Caches.persist(sk.cmsBuild(evts, "user_id", cd, cw))
      val oneShot = oneShotDf
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val cmsCells = oneShot.size.toLong
      val merged = sk.cmsMerge(
          (0 until c).map(k => sk.cmsBuild(
            evts.filter(col("user_id") >= k * 10000000L &&
              col("user_id") < (k + 1) * 10000000L), "user_id", cd, cw))
            .reduce(_ unionByName _))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val cmsMergedEqual = merged == oneShot
      val probeUsers = evts.filter(col("user_id") < 10)
      val cmsEst = sk.cmsEstimate(
          oneShotDf, probeUsers.select("user_id").distinct(), "user_id", cd, cw)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cmsTrue = probeUsers.groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // funnel (ses07) + cohort retention (ses08): both partition by
      // user, so user-disjoint copies replicate step completions and
      // cohort cells exactly
      val funnelSteps = graft.operators.Funnel.stepCounts(
          evts, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), withinSec = Some(7200L))
        .collect().map(r => (r.getInt(0), r.getLong(2))).sortBy(_._1).toSeq
      val cohort = graft.operators.Funnel.cohortRetention(evts, "user_id", "ts")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

      // dq01/dq02 (Expectations): the report's violation counts and
      // the enforce routing histogram — copies offset event_id, so
      // the dup structure (and every row-wise defect) replicates
      val dqRules = Seq[graft.operators.Expectations.Rule](
        graft.operators.Expectations.NotNull("user_id"),
        graft.operators.Expectations.InRange("value", 0.0, 100.0),
        graft.operators.Expectations.Matches("event_type", "^[a-z]+$"),
        graft.operators.Expectations.Unique(Seq("event_id")))
      val dqReport = graft.operators.Expectations.report(evts, dqRules)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val (dqClean, dqQuar) = graft.operators.Expectations.enforce(evts, dqRules)
      val dqSig = dqClean.select(lit("").as("sig"))
        .unionByName(dqQuar.select(array_join(col("failed_rules"), "|").as("sig")))
        .groupBy("sig").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      // a26/a27/e05 Expand machinery over the scaled frame: the level
      // grid (event_type × user_id%10 — offsets are multiples of 10,
      // so buckets are copy-invariant) must keep a CONSTANT cell set
      // with exactly-linear per-cell counts; same for the unpivot
      val gsCells = evts.withColumn("b", pmod(col("user_id"), lit(10)))
        .groupingSets(
          Seq(Seq(col("event_type"), col("b")),
            Seq(col("event_type")), Seq(col("b"))),
          col("event_type"), col("b"))
        .agg(grouping_id().cast("long").as("lvl"), count(lit(1)).as("cnt"))
        .collect().map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)),
          r.getLong(2)) -> r.getLong(3)).toMap
      val upAgg = evts.select(col("event_id"),
          round(col("value") * 100).cast("long").as("value_cents"),
          hour(col("ts")).cast("long").as("hr"))
        .unpivot(Array(col("event_id")),
          Array(col("value_cents"), col("hr")), "measure", "v")
        .groupBy("measure").agg(count(lit(1)).as("cnt"), sum("v").as("tot"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

      // w14 EWMA (Rolling.ewma) partitions by user: disjoint copies
      // replicate each user's trailing history exactly, so the
      // micro-unit checksum is EXACTLY linear
      val ewmaMicroSum = graft.operators.Rolling.ewma(
          evts.select(col("event_id"), col("user_id"), col("ts_ns"),
            round(col("value") * 100).cast("long").as("cents")),
          col("user_id"), Seq(col("ts_ns"), col("event_id")), col("cents"), half = 12)
        .agg(sum(round(col("ewma") * 1e6)).cast("long")).first().getLong(0)

      // dq03 PSI (Drift.psiBins): copies replicate the value stream
      // verbatim, so per-bin counts are EXACTLY c×; the micro terms
      // move only by the Laplace pseudo-count's shrinking share
      // (±0.5 against c× totals) — bounded to single-digit micros
      val dq3cut = 1705363200000000000L
      val evC = evts.select(col("ts_ns"),
        round(col("value") * 100).cast("long").as("cents"))
      val dq3 = graft.operators.Drift.psiBins(
          evC.filter(col("ts_ns") < dq3cut), evC.filter(col("ts_ns") >= dq3cut),
          col("cents"), bins = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)

      // asof02/asof03 (forward / nearest): same per-user partitioning
      // as the backward join — user-disjoint copies replicate matches
      val asofFwd = AsOfJoin.forward(
          evts.select("event_id", "user_id", "ts"), purch,
          key = "user_id", leftTs = "ts", rightTs = "pts",
          payload = Seq("purchase_cents"), toleranceSeconds = Some(3600))
        .filter(col("purchase_cents").isNotNull).count()
      val asofNear = AsOfJoin.nearest(
          evts.select("event_id", "user_id", "ts"), purch,
          key = "user_id", leftTs = "ts", rightTs = "pts",
          payload = Seq("purchase_cents"), toleranceSeconds = Some(7200))
        .filter(col("purchase_cents").isNotNull).count()

      // o05: per-user top-3 by (cents, event_id) through the BOUNDED
      // TopKAgg aggregate — groups replicate, so rows are exactly c×
      val topkAgg = graft.plans.TopKAgg.topK(3)
      val topkRows = evts
        .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"),
          col("event_id"))
        .groupBy("user_id")
        .agg(topkAgg(col("cents").cast("double"), col("event_id")).as("tops"))
        .select(posexplode(col("tops")))
        .count()

      // a28/a29: per-type MAD and mode over cents — copies replicate
      // each type's VALUE DISTRIBUTION verbatim, so both robust
      // statistics must be IDENTICAL at every scale (mode's count is
      // exactly linear)
      val centsByType = evts.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      // output columns: (group, n, median, mad) — the DISTRIBUTION
      // facts (median, mad) are replication-invariant; n is linear
      val madMap = graft.operators.Quantiles
        .groupedMad(centsByType, "event_type", "cents")
        .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
      val modeMap = centsByType.groupBy("event_type", "cents")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")
            .orderBy(col("cnt").desc, col("cents"))))
        .filter(col("rn") === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      // s19 SCD2: a user-keyed dimension with a copy-invariant segment
      // attribute (mod 10 — copy offsets are multiples of 10), one
      // snapshot update changing 3 of 10 segments: history rows, open
      // rows, and both as-of reads must be exactly linear
      val dimUsers = evts.select("user_id").distinct()
      val h0 = dimUsers
        .withColumn("seg", pmod(col("user_id"), lit(10)))
        .withColumn("valid_from", lit(100L))
        .withColumn("valid_to", lit(null).cast("long"))
      val snap2 = dimUsers
        .withColumn("seg", pmod(col("user_id"), lit(10)) +
          when(pmod(col("user_id"), lit(10)) < 3, 100).otherwise(0))
      val h1 = Caches.persist(
        graft.io.Scd.scd2Apply(h0, snap2, "user_id", Seq("seg"), asOf = 200L))
      val scdRows = h1.count()
      val scdOpen = h1.filter(col("valid_to").isNull).count()
      val scdAsOfMid = graft.io.Scd.scd2AsOf(h1, 150L)
        .agg(sum("seg")).first().getLong(0)
      val scdAsOfEnd = graft.io.Scd.scd2AsOf(h1, 250L)
        .agg(sum("seg")).first().getLong(0)

      val env = rung.envelope()
      (Run(c, n, sessions, statRows, asofMatches, ivMatches, winRows, winN, foldSum,
        usersTrue, usersEst, valSketch, overlap, exactOverlap,
        cmsCells, cmsMergedEqual, cmsEst, cmsTrue,
        funnelSteps, cohort, dqReport, dqSig, gsCells, upAgg,
        ewmaMicroSum, dq3,
        asofFwd, asofNear, topkRows, madMap, modeMap,
        scdRows, scdOpen, scdAsOfMid, scdAsOfEnd, env),
        s"n=$n sessions=$sessions stats=$statRows " +
          s"asof=$asofMatches iv=$ivMatches win_rows=$winRows win_n=$winN fold_sum=$foldSum " +
          s"users_true=$usersTrue users_est=$usersEst " +
          s"funnel=${funnelSteps.map(_._2).mkString("/")} cohort_cells=${cohort.size} " +
          env.summary)
    }

    def series[T](f: Run => T) = runs.map(r => r.scale -> f(r))
    exactLinear("event volume", series(_.n))
    exactLinear("sessions", series(_.sessions))
    exactLinear("session-stat rows", series(_.statRows))
    exactLinear("as-of matches", series(_.asofMatches))
    exactLinear("interval-join matches", series(_.ivMatches))
    run.constant("window rows", series(_.winRows))
    exactLinear("window total n", series(_.winN))
    exactLinear("fold balance checksum", series(_.foldSum))
    exactLinear("true distinct users", series(_.usersTrue))
    run.identical("KMV value-sketch", series(_.valSketch),
      (v: Seq[Long]) => s"duplication invariance, ${v.length} mins")
    // w14: per-user trailing EWMA replicates per copy
    exactLinear("w14 EWMA micro checksum", series(_.ewmaMicroSum))
    // asof02/asof03 newcomers: exactly linear like the backward form
    exactLinear("as-of FORWARD matches", series(_.asofFwd))
    exactLinear("as-of NEAREST matches", series(_.asofNear))
    exactLinear("o05 grouped top-k rows", series(_.topkRows))
    // a28/a29: per-type robust statistics are DISTRIBUTION facts —
    // identical under replication
    run.identical("a28 per-type median/MAD", series(_.madMap),
      (m: Map[String, (Long, Long)]) => s"${m.size} types")
    run.identical("a29 per-type mode", series(_.modeMap))
    val r1 = runs.head
    runs.tail.foreach { r =>
      def exact(x1: Long, x: Long) = SmokeGates.linear(r1.scale, x1, r.scale, x)
      // ses07/ses08: per-step completions and per-cohort-cell users
      // replicate exactly (user-partitioned folds)
      check(r.funnelSteps.map(_._1) == r1.funnelSteps.map(_._1) &&
          r.funnelSteps.zip(r1.funnelSteps).forall { case ((_, x), (_, x1)) => exact(x1, x) },
        s"funnel step completions exactly linear at ${r.scale}x " +
          s"(${r1.funnelSteps.map(_._2).mkString("/")}->" +
          s"${r.funnelSteps.map(_._2).mkString("/")})")
      check(r.cohort.keySet == r1.cohort.keySet &&
          r.cohort.forall { case (k, v) => exact(r1.cohort(k), v) },
        s"cohort retention cells constant, per-cell users exactly linear at ${r.scale}x " +
          s"(${r1.cohort.size} cells)")
      // dq01/dq02: violation counts and routing histogram linear
      check(r.dqReport.keySet == r1.dqReport.keySet &&
          r.dqReport.forall { case (k, (v, t)) =>
            exact(r1.dqReport(k)._1, v) && exact(r1.dqReport(k)._2, t) },
        s"dq report violations/totals exactly linear at ${r.scale}x")
      check(r.dqSig.keySet == r1.dqSig.keySet &&
          r.dqSig.forall { case (k, v) => exact(r1.dqSig(k), v) },
        s"dq enforce routing histogram exactly linear at ${r.scale}x " +
          s"(${r1.dqSig.size} signatures)")
      // a26/a27/e05 Expand shapes: constant cell grid, linear counts
      check(r.gsCells.keySet == r1.gsCells.keySet &&
          r.gsCells.forall { case (k, v) => exact(r1.gsCells(k), v) },
        s"grouping-sets cell grid constant (${r1.gsCells.size} cells), " +
          s"per-cell counts exactly linear at ${r.scale}x")
      check(r.upAgg.keySet == r1.upAgg.keySet &&
          r.upAgg.forall { case (k, (n2, tot)) =>
            exact(r1.upAgg(k)._1, n2) && exact(r1.upAgg(k)._2, tot) },
        s"unpivot measure aggregates exactly linear at ${r.scale}x")
      // dq03: bin counts exactly linear; PSI terms move only by the
      // Laplace pseudo-count's shrinking share — single-digit micros
      check(r.dq3.map(b => (b._1, b._2 * r1.scale, b._3 * r1.scale)) ==
          r1.dq3.map(b => (b._1, b._2 * r.scale, b._3 * r.scale)),
        s"dq03 PSI bin counts exactly linear at ${r.scale}x")
      // term drift bound: the pseudo-count's share of a SPARSE bin's
      // probability shrinks ~(1 − 1/c)·0.5/n as totals grow c×, so
      // tail bins legitimately move up to ~15% of their own size
      // (measured +9%/+13% at 10x) — dense bins stay within ±5 micro
      check(r.dq3.zip(r1.dq3).forall { case ((_, _, _, t), (_, _, _, t1)) =>
          math.abs(t - t1) <= math.max(5L, math.round(0.15 * math.abs(t1))) },
        s"dq03 PSI micro terms stable within max(5, 15%) at ${r.scale}x " +
          s"(${r1.dq3.map(_._4).mkString(",")} -> ${r.dq3.map(_._4).mkString(",")})")
      // s19 SCD2: history rows, open rows, and both as-of segment sums
      // exactly linear (the update pattern is copy-invariant mod 10)
      check(exact(r1.scdRows, r.scdRows) && exact(r1.scdOpen, r.scdOpen),
        s"s19 SCD2 history/open rows exactly linear at ${r.scale}x " +
          s"(${r1.scdRows}/${r1.scdOpen}->${r.scdRows}/${r.scdOpen})")
      check(exact(r1.scdAsOfMid, r.scdAsOfMid) && exact(r1.scdAsOfEnd, r.scdAsOfEnd),
        s"s19 SCD2 as-of segment sums exactly linear at ${r.scale}x " +
          s"(${r1.scdAsOfMid}/${r1.scdAsOfEnd}->${r.scdAsOfMid}/${r.scdAsOfEnd})")
    }
    runs.foreach { r =>
      val relErr = math.abs(r.usersEst.toDouble - r.usersTrue) / r.usersTrue
      check(relErr <= 3.0 / math.sqrt(126.0),
        f"KMV user estimate within 3-sigma at ${r.scale}x " +
          f"(est=${r.usersEst} true=${r.usersTrue} relErr=$relErr%.3f)")
      // a21 overlap estimates vs exact truth: union within ~3-sigma of
      // the k=128 KMV bound; intersection compounds the Jaccard and
      // union estimators, so its gate is wider but still tight enough
      // to catch a broken estimator (which is off by x2+ or sign)
      r.overlap.foreach { case (g1, g2, estU, estI) =>
        val (exU, exI) = r.exactOverlap((g1, g2))
        val uErr = math.abs(estU.toDouble - exU) / exU
        check(uErr <= 3.0 / math.sqrt(126.0),
          f"a21 union estimate within 3-sigma at ${r.scale}x $g1~$g2 " +
            f"(est=$estU true=$exU relErr=$uErr%.3f)")
        val iErr = math.abs(estI.toDouble - exI) / math.max(exI, 1L)
        check(iErr <= 0.35,
          f"a21 intersection estimate within 35%% at ${r.scale}x $g1~$g2 " +
            f"(est=$estI true=$exI relErr=$iErr%.3f)")
      }
      // a24 CMS gates: bounded cells, merged partials ≡ one-shot,
      // est ≥ true per probed user, and within the e/w additive band
      check(r.cmsCells <= 4L * 1024,
        s"a24 CMS cells bounded at ${r.scale}x (${r.cmsCells} <= 4096)")
      check(r.cmsMergedEqual,
        s"a24 CMS per-copy partials merge to the one-shot sketch at ${r.scale}x")
      val band = math.ceil(math.E / 1024 * r.n).toLong
      r.cmsTrue.foreach { case (u, t) =>
        val e = r.cmsEst(u)
        check(e >= t && e <= t + band,
          s"a24 CMS estimate for user $u in [true, true+eN] at ${r.scale}x " +
            s"(est=$e true=$t band=$band)")
      }
    }
    // every consecutive pair gated; the 16 MiB small-total exemption
    // covers the broadcast→shuffled plan transition at the smallest pair
    run.shuffleLinear(runs.map(r => (r.scale, r.env.writeBytes)), exemptBytes = 16L << 20)
    runs.foreach(r => run.skew(r.scale, r.env.stages))
    run.finish()
  }
}
