package graft.queries

import graft.functions.ScalarFunctions
import graft.operators.{AsOfJoin, FuzzyJoin, Sessionize}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PerKeyAppend
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Join family J1–J8 (SURVEY §2.3) plus the sequential operators that
 * ride the same shuffle shapes: as-of join, gap sessionization, and a
 * per-key state machine with a relational oracle (x01).
 *
 * Scale notes: every dimension join is explicitly `broadcast()` (the
 * dims are KB-to-MB at any scale factor; at 100 TB the fact side
 * streams through map-side hash joins with zero shuffle). The fuzzy
 * join is group-blocked (roster-sized candidate sets), never a
 * cartesian product.
 */
object QJoin {

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /**
   * The x01 machine: per `user_id` in `(ts_ns, event_id)` order, a
   * running balance of `value` in cents that resets to 0 at every
   * signup event. Returns `(event_id, user_id, ts_ns, event_type, c,
   * balance_cents)`, `c` being the event's own cents. One pass of
   * `org.apache.spark.sql.graft.PerKeyAppend` that reads only
   * `event_type` and `c`.
   */
  def signupBalance(events: DataFrame): DataFrame = {
    val in = events.select(col("event_id"), col("user_id"), col("ts_ns"), col("event_type"),
      cents(col("value")).as("c"))
    PerKeyAppend(in, "user_id", Seq("ts_ns", "event_id"), Seq("event_type", "c"),
        StructType(Seq(StructField("balance_cents", LongType, nullable = false)))) { (rows, _) =>
      var bal = 0L
      rows.map { row =>
        bal = if (row.getString(0) == "signup") 0L else bal + row.getLong(1)
        Row(bal)
      }
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // J1: fact × dim broadcast join with coalesce fallback (reference
    // pbp_parser/main.py:110-164, team-name enrichment).
    QueryDef.of("j01_broadcast_enrich",
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(s_name, 'UNKNOWN') AS supp_name,
        |  coalesce(n_name, 'NA') AS nation_name
        |FROM lineitem
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |LEFT JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"), "left")
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(col("s_name"), lit("UNKNOWN")).as("supp_name"),
          coalesce(col("n_name"), lit("NA")).as("nation_name"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // J2: dict-map "join" — a literal map applied as a column, the
    // Spark form of pandas Series.map(dict) (reference
    // calculator.py:82, park factors by id).
    QueryDef.of("j02_dict_map",
      """SELECT CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
        |  WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 END AS prio_rank,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY prio_rank""".stripMargin) { (s, dir) =>
      val m = typedlit(Map(
        "1-URGENT" -> 1, "2-HIGH" -> 2, "3-MEDIUM" -> 3,
        "4-NOT SPECIFIED" -> 4, "5-LOW" -> 5))
      Tables.orders(s, dir)
        .withColumn("prio_rank", element_at(m, col("o_orderpriority")))
        .groupBy("prio_rank").agg(count(lit(1)).as("n"))
        .orderBy("prio_rank")
    },

    // J3: fact left-joined to pre-aggregated facts + na.fill defaults
    // (reference calculator.py:145-168, per-player aggregates into
    // season stats).
    QueryDef.of("j03_join_aggregates",
      """SELECT o_orderkey, coalesce(total_qty, 0) AS total_qty, coalesce(n_lines, 0) AS n_lines
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |         count(*) AS n_lines
        |  FROM lineitem GROUP BY l_orderkey) ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val ag = Tables.lineitem(s, dir).groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"),
          count(lit(1)).as("n_lines"))
      Tables.orders(s, dir)
        .join(ag, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("total_qty"), lit(0L)).as("total_qty"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"))
        .orderBy("o_orderkey")
    },

    // J4: semi-filter on valid entities then enrich (reference
    // leaderboards/main.py:196-212 + common.py:184-203).
    QueryDef.of("j04_semi_enrich",
      """SELECT c_mktsegment, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE EXISTS (SELECT 1 FROM customer v
        |              WHERE v.c_custkey = o_custkey AND v.c_acctbal > 0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val valid = cust.filter(col("c_acctbal") > 0).select("c_custkey")
      Tables.orders(s, dir)
        .join(broadcast(valid), col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(cust.select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    },

    // J5: id-mapping broadcast join (reference get_war.py:41-50,
    // cube_player_id → player_id per year).
    QueryDef.of("j05_id_mapping",
      """SELECT dst_id, count(*) AS n_orders, count(DISTINCT o_custkey) AS n_custs
        |FROM orders LEFT JOIN (
        |  SELECT c_custkey AS src_id, c_nationkey AS dst_id FROM customer)
        |ON o_custkey = src_id
        |GROUP BY dst_id ORDER BY dst_id""".stripMargin) { (s, dir) =>
      val mapping = Tables.customer(s, dir)
        .select(col("c_custkey").as("src_id"), col("c_nationkey").as("dst_id"))
      Tables.orders(s, dir)
        .join(broadcast(mapping), col("o_custkey") === col("src_id"), "left")
        .groupBy("dst_id")
        .agg(count(lit(1)).as("n_orders"), countDistinct("o_custkey").as("n_custs"))
        .orderBy("dst_id")
    },

    // J6: normalized-key join — both sides keyed on normName
    // (reference sos_utils.py:5-35, lower/strip/&→and team matching).
    QueryDef.of("j06_normalized_key_join",
      """WITH l AS (SELECT c_custkey AS l_id,
        |    upper(regexp_replace(c_name, '#', '  ', 'g')) || '!!!' AS messy_name FROM customer),
        |r AS (SELECT c_custkey AS r_id,
        |    lower(regexp_replace(c_name, '#', ' ', 'g')) AS clean_name FROM customer),
        |norm_l AS (SELECT l_id, trim(regexp_replace(regexp_replace(regexp_replace(
        |    lower(messy_name), '&', ' and ', 'g'), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS k FROM l),
        |norm_r AS (SELECT r_id, trim(regexp_replace(regexp_replace(regexp_replace(
        |    lower(clean_name), '&', ' and ', 'g'), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS k FROM r)
        |SELECT l_id, r_id FROM norm_l JOIN norm_r USING (k)
        |ORDER BY l_id, r_id""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val l = cust.select(col("c_custkey").as("l_id"),
        concat(upper(regexp_replace(col("c_name"), "#", "  ")), lit("!!!")).as("messy_name"))
      val r = cust.select(col("c_custkey").as("r_id"),
        lower(regexp_replace(col("c_name"), "#", " ")).as("clean_name"))
      l.join(r, ScalarFunctions.normName(col("messy_name")) ===
          ScalarFunctions.normName(col("clean_name")))
        .select("l_id", "r_id")
        .orderBy("l_id", "r_id")
    },

    // J7: group-blocked fuzzy similarity join (reference
    // names/helpers.py:157-202 cascade). The indel-distance cascade is
    // not SQL-expressible, so the oracle is a pinned expected-output
    // fixture (resources/graft/j07_oracle.sql, VALUES literal generated
    // once from the ScalaTest-verified cascade) — it hash-gates every
    // future change to the fuzzy kernels against the frozen semantics.
    QueryDef.of("j07_fuzzy_resolve", QueryDef.resourceSql("/graft/j07_oracle.sql")) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val left = cust.select(
        col("c_nationkey").cast("string").as("group"),
        // mangled probe: '#'→' ', one character deleted at a
        // key-dependent position (a distinct realistic typo per row);
        // every 8th row left intact so the exact tier fires too
        expr("""CASE WHEN c_custkey % 8 = 0 THEN replace(c_name, '#', ' ')
          ELSE concat(
            substring(replace(c_name, '#', ' '), 1, CAST(c_custkey % 8 AS INT) + 1),
            substring(replace(c_name, '#', ' '), CAST(c_custkey % 8 AS INT) + 3))
          END""").as("name"))
      val right = cust.select(
        col("c_nationkey").cast("string").as("group"),
        regexp_replace(col("c_name"), "#", " ").as("cand_name"),
        col("c_custkey").cast("string").as("cand_id"))
      FuzzyJoin.resolve(s, left, right)
        .withColumn("score", round(col("score"), 4))
        .orderBy("group", "name")
    },

    // J8: lead as the declarative form of the next-row self-join
    // (reference batting.py:260-288, runner destinations).
    QueryDef.of("j08_lead_selfjoin",
      """SELECT event_id,
        |  CAST(round(next_value*100) AS BIGINT) AS next_cents,
        |  CAST(next_value > value AS INTEGER) AS advanced
        |FROM (SELECT *, lead(value) OVER (
        |        PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS next_value
        |      FROM events)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .withColumn("next_value", lead("value", 1).over(w))
        .select(col("event_id"),
          cents(col("next_value")).as("next_cents"),
          (col("next_value") > col("value")).cast("int").as("advanced"))
        .orderBy("event_id")
    },

    // As-of backward join with tolerance — one sort-shuffle, checked
    // against DuckDB's native ASOF JOIN.
    QueryDef.of("asof01_backward_tolerance",
      """WITH p AS (
        |  SELECT user_id, ts AS pts, event_id AS pe, CAST(round(value*100) AS BIGINT) AS pc
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1)
        |SELECT e.event_id,
        |  CASE WHEN p.pts IS NOT NULL AND epoch_us(e.ts) - epoch_us(p.pts) <= 3600000000
        |       THEN p.pe END AS purchase_event_id,
        |  CASE WHEN p.pts IS NOT NULL AND epoch_us(e.ts) - epoch_us(p.pts) <= 3600000000
        |       THEN p.pc END AS purchase_cents,
        |  CASE WHEN p.pts IS NOT NULL AND epoch_us(e.ts) - epoch_us(p.pts) <= 3600000000
        |       THEN epoch_us(p.pts) END AS matched_us
        |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.pts
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val evts = Tables.events(s, dir)
      val purch = evts.filter(col("event_type") === "purchase")
        .withColumn("rn",
          row_number().over(Window.partitionBy("user_id", "ts_ns").orderBy("event_id")))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("pts"),
          col("event_id").as("purchase_event_id"),
          cents(col("value")).as("purchase_cents"))
      AsOfJoin.backward(
          evts.select("event_id", "user_id", "ts"), purch,
          key = "user_id", leftTs = "ts", rightTs = "pts",
          payload = Seq("purchase_event_id", "purchase_cents"),
          toleranceSeconds = Some(3600))
        .select(col("event_id"), col("purchase_event_id"), col("purchase_cents"),
          unix_micros(col("matched_ts")).as("matched_us"))
        .orderBy("event_id")
    },

    // As-of FORWARD join with tolerance — the mirror direction (next
    // purchase within the hour AFTER each event), checked against
    // DuckDB's native forward ASOF (`e.ts <= p.pts`).
    QueryDef.of("asof02_forward_tolerance",
      """WITH p AS (
        |  SELECT user_id, ts AS pts, event_id AS pe, CAST(round(value*100) AS BIGINT) AS pc
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1)
        |SELECT e.event_id,
        |  CASE WHEN p.pts IS NOT NULL AND epoch_us(p.pts) - epoch_us(e.ts) <= 3600000000
        |       THEN p.pe END AS purchase_event_id,
        |  CASE WHEN p.pts IS NOT NULL AND epoch_us(p.pts) - epoch_us(e.ts) <= 3600000000
        |       THEN p.pc END AS purchase_cents,
        |  CASE WHEN p.pts IS NOT NULL AND epoch_us(p.pts) - epoch_us(e.ts) <= 3600000000
        |       THEN epoch_us(p.pts) END AS matched_us
        |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.pts
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val evts = Tables.events(s, dir)
      val purch = evts.filter(col("event_type") === "purchase")
        .withColumn("rn",
          row_number().over(Window.partitionBy("user_id", "ts_ns").orderBy("event_id")))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("pts"),
          col("event_id").as("purchase_event_id"),
          cents(col("value")).as("purchase_cents"))
      AsOfJoin.forward(
          evts.select("event_id", "user_id", "ts"), purch,
          key = "user_id", leftTs = "ts", rightTs = "pts",
          payload = Seq("purchase_event_id", "purchase_cents"),
          toleranceSeconds = Some(3600))
        .select(col("event_id"), col("purchase_event_id"), col("purchase_cents"),
          unix_micros(col("matched_ts")).as("matched_us"))
        .orderBy("event_id")
    },

    // As-of NEAREST join — closer of the two directions within a
    // symmetric 2 h tolerance, exact ties to the backward row (the
    // pandas merge_asof nearest semantic). Engine: both directions as
    // two frames of ONE window sort; oracle: both native ASOF
    // directions re-joined on the (unique) probe id with the same
    // strict-< forward preference.
    QueryDef.of("asof03_nearest",
      """WITH p AS (
        |  SELECT user_id, ts AS pts, event_id AS pe, CAST(round(value*100) AS BIGINT) AS pc
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1),
        |b AS (SELECT e.event_id, p.pe AS bpe, p.pc AS bpc, epoch_us(p.pts) AS bus,
        |    epoch_us(e.ts) - epoch_us(p.pts) AS bd
        |  FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.pts),
        |f AS (SELECT e.event_id, p.pe AS fpe, p.pc AS fpc, epoch_us(p.pts) AS fus,
        |    epoch_us(p.pts) - epoch_us(e.ts) AS fd
        |  FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.pts),
        |m AS (SELECT b.event_id,
        |    bd IS NOT NULL AND bd <= 7200000000 AS bok,
        |    fd IS NOT NULL AND fd <= 7200000000 AS fok,
        |    bpe, bpc, bus, bd, fpe, fpc, fus, fd
        |  FROM b JOIN f USING (event_id))
        |SELECT event_id,
        |  CASE WHEN fok AND (NOT bok OR fd < bd) THEN fpe
        |       WHEN bok THEN bpe END AS purchase_event_id,
        |  CASE WHEN fok AND (NOT bok OR fd < bd) THEN fpc
        |       WHEN bok THEN bpc END AS purchase_cents,
        |  CASE WHEN fok AND (NOT bok OR fd < bd) THEN fus
        |       WHEN bok THEN bus END AS matched_us
        |FROM m ORDER BY event_id""".stripMargin) { (s, dir) =>
      val evts = Tables.events(s, dir)
      val purch = evts.filter(col("event_type") === "purchase")
        .withColumn("rn",
          row_number().over(Window.partitionBy("user_id", "ts_ns").orderBy("event_id")))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("pts"),
          col("event_id").as("purchase_event_id"),
          cents(col("value")).as("purchase_cents"))
      AsOfJoin.nearest(
          evts.select("event_id", "user_id", "ts"), purch,
          key = "user_id", leftTs = "ts", rightTs = "pts",
          payload = Seq("purchase_event_id", "purchase_cents"),
          toleranceSeconds = Some(7200))
        .select(col("event_id"), col("purchase_event_id"), col("purchase_cents"),
          unix_micros(col("matched_ts")).as("matched_us"))
        .orderBy("event_id")
    },

    // Gap sessionization, declarative form (SURVEY W3 generalized;
    // the stateful twin is equivalence-tested in ScalaTest).
    // The NATIVE session-window operator (session_window + groupBy —
    // Spark's UpdatingSessions physical path, a genuinely different
    // operator from the lag/cumsum form ses01 uses and from the
    // mapGroupsWithState fold): sessions merge while the gap to the
    // previous event stays under 30 min and close at last_ts + gap,
    // so an event exactly AT the boundary starts a new session — the
    // oracle's >= on the gap encodes that half-open semantic.
    QueryDef.of("ses05_native_session_window",
      """WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(round(value*100) AS BIGINT) AS c,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_us
        |  FROM events),
        |sid AS (SELECT user_id, us, c,
        |    SUM(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM l)
        |SELECT user_id, MIN(us) AS session_start_us, count(*) AS n,
        |  CAST(SUM(c) AS BIGINT) AS cents
        |FROM sid GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          col("n"), col("cents"))
        .orderBy("user_id", "session_start_us")
    },

    // Stream-stream interval join in its BATCH form (the same
    // StreamOps.intervalJoinStreams code path — isStreaming dispatch):
    // each purchase attributed to the same user's clicks in the
    // preceding 300 s. Equi join on user_id with the time range as a
    // residual; the streaming twin (watermarked both sides, bounded
    // state) is equivalence-tested in StreamingSpec.
    QueryDef.of("ses06_interval_join",
      """SELECT l.event_id, r.event_id AS r_event_id, l.user_id,
        |  epoch_us(l.ts) AS ts_us, epoch_us(r.ts) AS r_ts_us,
        |  CAST(round(l.value * 100) AS BIGINT) AS l_cents,
        |  CAST(round(r.value * 100) AS BIGINT) AS r_cents
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        |  AND l.event_type = 'purchase' AND r.event_type = 'click'
        |  AND r.ts >= l.ts - INTERVAL 300 SECOND AND r.ts <= l.ts
        |ORDER BY l.event_id, r_event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.streaming.StreamOps.intervalJoinStreams(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          toleranceSec = 300)
        .select(col("event_id"), col("r_event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("r_ts")).as("r_ts_us"),
          round(col("value") * 100).cast("long").as("l_cents"),
          round(col("r_value") * 100).cast("long").as("r_cents"))
        .orderBy("event_id", "r_event_id")
    },

    // SES07: ordered funnel with a conversion window (Funnel
    // .stepCounts) — view → click → purchase, every later step
    // strictly after the previous and within 2h of the user's FIRST
    // view. Each step is one conditional min-ts aggregation joined on
    // the user key; funnels narrow monotonically so later joins
    // shrink. The oracle replays the join chain step for step.
    QueryDef.of("ses07_funnel",
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t1
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, s1.t1, min(e.ts) AS tp
        |  FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND epoch_us(e.ts) // 1000000 - epoch_us(s1.t1) // 1000000 <= 7200
        |  GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id AS u, s2.t1, min(e.ts) AS tp
        |  FROM events e JOIN s2 ON e.user_id = s2.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.tp
        |    AND epoch_us(e.ts) // 1000000 - epoch_us(s2.t1) // 1000000 <= 7200
        |  GROUP BY 1, 2)
        |SELECT CAST(1 AS INT) AS step_idx, 'view' AS step,
        |  (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT CAST(2 AS INT), 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT CAST(3 AS INT), 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step_idx""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.stepCounts(
          Tables.events(s, dir), "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), withinSec = Some(7200L))
        .orderBy("step_idx")
    },

    // SES08: weekly cohort retention (Funnel.cohortRetention) — users
    // bucketed by the ISO week of their first event, counted in every
    // later active week. Two bounded aggregations + one user-keyed
    // join; activity is distinct per (user, week) so no
    // count-distinct rewrite appears in the plan.
    QueryDef.of("ses08_cohort_retention",
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
        |SELECT epoch_us(f.cw) AS cohort_week_us,
        |  (epoch_us(a.w) - epoch_us(f.cw)) // 604800000000 AS week_offset,
        |  count(*) AS n_users
        |FROM f JOIN a USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.cohortRetention(Tables.events(s, dir), "user_id", "ts")
    },

    // SES09: the STREAMING cohort machine's bounded dispatch
    // (StreamOps.cohortRetentionStream) driver-gated against ses08's
    // oracle: per-user fold → one CohortHit per (user, activity week)
    // → the same (cohort, offset) cells. Pins the per-user week
    // arithmetic (Monday-aligned epoch micros ≡ date_trunc('week')
    // under UTC) that the live stream shares with the backfill;
    // StreamingSpec separately pins stream ≡ this dispatch across
    // shuffled micro-batches with watermark-sealed anchors.
    QueryDef.of("ses09_cohort_stream",
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
        |SELECT epoch_us(f.cw) AS cohort_week_us,
        |  (epoch_us(a.w) - epoch_us(f.cw)) // 604800000000 AS week_offset,
        |  count(*) AS n_users
        |FROM f JOIN a USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      graft.streaming.StreamOps.cohortRetentionStream(
          Tables.events(s, dir)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .as[graft.streaming.StreamEvent])
        .groupBy("cohort_week_us", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week_us", "week_offset")
    },

    // Streaming PSI drift monitor, batch-mode oracle: the SAME
    // StreamOps.psiDriftStream code that attaches to a readStream
    // source, fed the dq03 reference histogram (first half of January,
    // n_ref collected once — a 10-long driver literal) and 1-day
    // epoch-aligned tumbling windows. The oracle rebuilds the
    // reference histogram AND every window's smoothed-PSI sum in SQL.
    QueryDef.of("ses10_drift_window",
      """WITH b AS (SELECT CAST(round(value*100) AS BIGINT) AS c,
        |    epoch_ns(ts) AS tn, epoch_us(ts) AS tu FROM events),
        |mm AS (SELECT min(c) AS mn, max(c) AS mx FROM b
        |  WHERE tn < 1705363200000000000),
        |g AS (SELECT unnest(range(0, 10)) AS bin),
        |rb AS (SELECT least(9, greatest(0,
        |    CAST(floor(((c - mn) * 10) / CAST(mx - mn + 1 AS DOUBLE)) AS BIGINT))) AS bin
        |  FROM b CROSS JOIN mm WHERE tn < 1705363200000000000),
        |rc AS (SELECT g.bin, coalesce(x.n, 0) AS n_ref FROM g
        |  LEFT JOIN (SELECT bin, count(*) AS n FROM rb GROUP BY bin) x USING (bin)),
        |rt AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS t FROM rc),
        |w AS (SELECT (tu // 86400000000) * 86400000000 AS ws,
        |    least(9, greatest(0,
        |      CAST(floor(((c - mn) * 10) / CAST(mx - mn + 1 AS DOUBLE)) AS BIGINT))) AS bin
        |  FROM b CROSS JOIN mm),
        |wc AS (SELECT ws, bin, count(*) AS n FROM w GROUP BY 1, 2),
        |wg AS (SELECT d.ws, g.bin, coalesce(wc.n, 0) AS n
        |  FROM (SELECT DISTINCT ws FROM w) d CROSS JOIN g
        |  LEFT JOIN wc ON wc.ws = d.ws AND wc.bin = g.bin),
        |wt AS (SELECT ws, CAST(sum(n) AS DOUBLE) AS nt FROM wg GROUP BY ws)
        |SELECT wg.ws AS window_start_us, CAST(wt.nt AS BIGINT) AS n_events,
        |  CAST(round(sum(((wg.n + 0.5)/(wt.nt + 5.0) - (rc.n_ref + 0.5)/(rt.t + 5.0))
        |    * ln(((wg.n + 0.5)/(wt.nt + 5.0)) / ((rc.n_ref + 0.5)/(rt.t + 5.0))))
        |    * 1000000) AS BIGINT) AS psi_micro
        |FROM wg JOIN wt USING (ws) JOIN rc USING (bin) CROSS JOIN rt
        |GROUP BY wg.ws, wt.nt ORDER BY window_start_us""".stripMargin) { (s, dir) =>
      val cut = 1705363200000000000L // 2024-01-16T00:00Z in epoch nanos
      val ev = Tables.events(s, dir).withColumn("cents", cents(col("value")))
      val refC = ev.filter(col("ts_ns") < cut).select("cents")
      val mm = refC.agg(min("cents"), max("cents")).first()
      val refCounts = graft.operators.Drift
        .psiBins(refC, refC, col("cents"), bins = 10)
        .orderBy("bin").collect().map(_.getLong(1)).toSeq
      graft.streaming.StreamOps.psiDriftStream(ev, "cents",
          refCounts, mm.getLong(0), mm.getLong(1), "1 day")
        .orderBy("window_start_us")
    },

    QueryDef.of("ses01_gap_session",
      """SELECT event_id, CAST(session_id AS BIGINT) AS session_id
        |FROM (SELECT event_id,
        |        SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |                 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM (SELECT *, lag(epoch_us(ts)) OVER (
        |              PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_us
        |            FROM events))
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Sessionize.byGap(Tables.events(s, dir), col("user_id"), col("ts"), 1800)
        .select("event_id", "session_id").orderBy("event_id")
    },

    // Session-level aggregates off the session ids (the classic
    // sessionize → stats pipeline).
    QueryDef.of("ses02_session_stats",
      """WITH sid AS (
        |  SELECT user_id, event_id, CAST(round(value*100) AS BIGINT) AS c, epoch_ns(ts) AS tn,
        |    SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM (SELECT *, lag(epoch_us(ts)) OVER (
        |          PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_us
        |        FROM events))
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  (max(tn) - min(tn)) // 1000000000 AS duration_s,
        |  CAST(SUM(c) AS BIGINT) AS sum_cents
        |FROM sid GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      Sessionize.byGap(Tables.events(s, dir), col("user_id"), col("ts"), 1800)
        .withColumn("c", cents(col("value")))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          expr("(max(ts_ns) - min(ts_ns)) DIV 1000000000").as("duration_s"),
          sum("c").as("sum_cents"))
        .orderBy("user_id", "session_id")
    },

    // Streaming windowed aggregate, batch-mode oracle: the SAME
    // StreamOps.windowedTypeCounts code that attaches to a readStream
    // source (watermark is a no-op on batch) — 1-hour tumbling windows
    // align to epoch 0, so the oracle is integer floor-division on
    // epoch micros. Driver-visible evidence for §2.10 beyond the
    // ScalaTest MemoryStream equivalences.
    QueryDef.of("ses03_windowed_type_counts",
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin) { (s, dir) =>
      graft.streaming.StreamOps.windowedTypeCounts(Tables.events(s, dir), "1 hour")
        .orderBy("window_start_us", "event_type")
    },

    // Streaming content-fingerprint dedup, batch-mode oracle: the
    // SAME StreamOps.dedupStream (dropDuplicatesWithinWatermark)
    // projected to its key — batch keep-`first` is partition-order
    // dependent, but the KEPT KEY SET is deterministic and equals
    // DISTINCT fingerprints (keep-first itself is pinned in
    // StreamingSpec on an ordered MemoryStream).
    QueryDef.of("ses04_stream_dedup_keys",
      """SELECT DISTINCT md5(event_type || '|' || coalesce(props, '')) AS fp
        |FROM events ORDER BY fp""".stripMargin) { (s, dir) =>
      val evts = Tables.events(s, dir).withColumn("fp",
        md5(concat(col("event_type"), lit("|"), coalesce(col("props"), lit("")))))
      graft.streaming.StreamOps.dedupStream(evts, Seq("fp"))
        .select("fp").orderBy("fp")
    },

    // X-family per-key machinery with a relational oracle: a running
    // balance that RESETS on signup events, computed by the per-key
    // pass ([[signupBalance]] — the same operator as the base-runner
    // machine X1) and checked against a segmented window-sum in SQL.
    QueryDef.of("x01_stateful_fold_balance",
      """WITH b AS (SELECT event_id, user_id, event_type,
        |    CAST(round(value*100) AS BIGINT) AS c, epoch_ns(ts) AS tn FROM events),
        |s AS (SELECT *, CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY tn, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg FROM b)
        |SELECT event_id,
        |  CASE WHEN event_type='signup' THEN 0
        |       ELSE CAST(SUM(CASE WHEN event_type<>'signup' THEN c ELSE 0 END)
        |         OVER (PARTITION BY user_id, seg ORDER BY tn, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  END AS balance_cents
        |FROM s ORDER BY event_id""".stripMargin) { (s, dir) =>
      signupBalance(Tables.events(s, dir))
        .select("event_id", "balance_cents")
        .orderBy("event_id")
    })
}
