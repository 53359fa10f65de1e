package graft.streaming

import graft.SparkTestSession
import graft.operators.Sessionize
import graft.sources.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming operators driven through MemoryStream micro-batches,
  * checked against their batch twins on the harness events table. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def toEvents(n: Int): Seq[StreamEvent] =
    Tables.events(spark, SparkTestSession.sfDir)
      .orderBy("ts_ns", "event_id").limit(n)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent].collect().toSeq

  test("streaming sessionizeByGap equals batch byGap session aggregates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val events = toEvents(400)

    val query = StreamOps.sessionizeByGap(input.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches + a final far-future event per user to push
      // the watermark past every gap so all sessions close
      val (b1, b2) = events.splitAt(200)
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      val maxTs = events.map(_.ts.getTime).max
      val flush = events.map(_.user_id).distinct.zipWithIndex.map { case (u, i) =>
        StreamEvent(1000000L + i, new java.sql.Timestamp(maxTs + 86400L * 1000), u, "flush", 0.0)
      }
      input.addData(flush); query.processAllAvailable()
      input.addData(flush.map(e => e.copy(event_id = e.event_id + 1000,
        ts = new java.sql.Timestamp(maxTs + 2 * 86400L * 1000))))
      query.processAllAvailable()

      val got = spark.table("sessions_out")
        .select("user_id", "session_start_us", "n_events", "value_cents")
        .as[(Long, Long, Long, Long)].collect().toSet

      // batch oracle over the same 400 events
      val batch = Sessionize.byGap(
          events.toDF(), col("user_id"), col("ts"), 1800, tieBreak = Seq(col("event_id")))
        .groupBy("user_id", "session_id")
        .agg(min(unix_micros(col("ts"))).as("start_us"),
          count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .select("user_id", "start_us", "n", "cents")
        .as[(Long, Long, Long, Long)].collect().toSet

      assert(batch.subsetOf(got))
      // the only extras allowed are the flush markers themselves
      assert((got -- batch).forall(_._3 === 1))
    } finally query.stop()
  }

  test("dedupStream keeps first arrival per fingerprint with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val base = new java.sql.Timestamp(1700000000L * 1000)
    def ev(id: Long, offsetSec: Long, content: String) =
      StreamEvent(id, new java.sql.Timestamp(base.getTime + offsetSec * 1000), 1L, content, 0.0)

    val query = StreamOps.dedupStream(
        input.toDS().toDF(), Seq("event_type"), watermarkDelay = "60 seconds")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two distinct docs + one duplicate of the first
      input.addData(Seq(ev(1, 0, "docA"), ev(2, 5, "docB"), ev(3, 10, "docA")))
      query.processAllAvailable()
      // batch 2: late duplicate of docB inside the watermark -> dropped
      input.addData(Seq(ev(4, 20, "docB")))
      query.processAllAvailable()
      // advance event time far past the watermark, then re-send docA:
      // its state was evicted, so it is treated as new (bounded state)
      input.addData(Seq(ev(5, 10000, "flush")))
      query.processAllAvailable()
      input.addData(Seq(ev(6, 10010, "docA")))
      query.processAllAvailable()

      val got = spark.table("dedup_out").select("event_id")
        .as[Long].collect().toSet
      assert(Set(1L, 2L).subsetOf(got))
      assert(!got.contains(3L) && !got.contains(4L)) // in-watermark dups dropped
      assert(got.contains(6L)) // re-admitted after state eviction
    } finally query.stop()
  }

  test("windowedTypeCounts matches a batch tumbling-window aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val events = toEvents(300)

    val query = StreamOps.windowedTypeCounts(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(events)
      query.processAllAvailable()
      val got = spark.table("win_out")
        .as[(Long, String, Long, Long)].collect().toSet
      val want = events.toDF()
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("c"))
        .select(unix_micros(col("window.start")), col("event_type"), col("n"), col("c"))
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got === want)
    } finally query.stop()
  }

  test("psiDriftStream equals the batch form and the Drift arithmetic per window") {
    implicit val sqlCtx = spark.sqlContext
    val events = toEvents(600)
    // reference histogram: first 300 events' cents via the batch
    // operator (n_ref column) + the same [mn, mx] range
    val refDf = events.take(300).toDF()
      .select(round(col("value") * 100).cast("long").as("cents"))
    val mm = refDf.agg(min("cents"), max("cents")).first()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val refCounts = graft.operators.Drift
      .psiBins(refDf, refDf, col("cents"), bins = 10)
      .orderBy("bin").select("n_ref").as[Long].collect().toSeq

    def withCents(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("cents", round(col("value") * 100).cast("long"))

    val batch = StreamOps.psiDriftStream(
        withCents(events.toDF()), "cents", refCounts, mn, mx, "6 hours")
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    // self-comparison sanity: a window binned against its own
    // histogram would be ~0; against the reference it is finite
    assert(batch.forall(_._3 >= 0L))

    val input = MemoryStream[StreamEvent]
    val query = StreamOps.psiDriftStream(
        withCents(input.toDF()), "cents", refCounts, mn, mx, "6 hours",
        watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("psi_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = events.splitAt(300)
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      // far-future flush seals every real window; its own window stays
      // open and is never emitted
      val maxTs = events.map(_.ts.getTime).max
      input.addData(Seq(StreamEvent(9999999L,
        new java.sql.Timestamp(maxTs + 86400L * 1000), 1L, "flush", 0.0)))
      query.processAllAvailable()
      query.processAllAvailable()
      val got = spark.table("psi_out")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === batch)
    } finally query.stop()
  }

  test("scrubStream on a MemoryStream equals the batch projection row for row") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog run a lot today"),
      (2L, "reach me at a@b.io or 10.0.0.1 ssn 123-45-6789"),
      (3L, "le chat et le chien et les oiseaux des bois"),
      (4L, "!!! ??? ..."),
      (5L, ""))
    val cols = Seq("doc_id", "quality", "n_tokens", "lang_guess",
      "n_email", "n_ipv4", "n_ssn", "has_pii", "redacted")

    val input = MemoryStream[(Long, String)]
    val query = StreamOps.scrubStream(input.toDF().toDF("doc_id", "text"), "text")
      .select(cols.map(col): _*)
      .writeStream.format("memory").queryName("scrub_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs.take(3)); query.processAllAvailable()
      input.addData(docs.drop(3)); query.processAllAvailable()
      val got = spark.table("scrub_out").orderBy("doc_id").collect().toSeq
      val want = StreamOps.scrubStream(docs.toDF("doc_id", "text"), "text")
        .select(cols.map(col): _*).orderBy("doc_id").collect().toSeq
      assert(got === want)
      assert(got.size === 5) // map-only: every row passes through exactly once
    } finally query.stop()
  }

  test("Trigger.AvailableNow file stream (the daily-pull cadence) equals the batch aggregate") {
    // SURVEY §2.10: the reference's daily cron pull maps to a
    // file-source stream with AvailableNow — process everything
    // present, then stop on its own. Same windowedTypeCounts code as
    // ses03; the batch run on the same files is the oracle.
    val dir = java.nio.file.Files.createTempDirectory("graft_an_").toString
    try {
      val events = Tables.events(spark, SparkTestSession.sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      events.limit(600).write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema).parquet(dir)
      val query = StreamOps.windowedTypeCounts(stream, "1 hour")
        .writeStream.format("memory").queryName("an_out")
        .outputMode(OutputMode.Complete())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(query.awaitTermination(120000), "AvailableNow must self-terminate")
      finally query.stop()
      val got = spark.table("an_out")
        .orderBy("window_start_us", "event_type").collect().toSeq
      val want = StreamOps.windowedTypeCounts(spark.read.parquet(dir), "1 hour")
        .orderBy("window_start_us", "event_type").collect().toSeq
      assert(got === want)
      assert(got.nonEmpty)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("stream-stream interval join equals the batch join, incl. boundary semantics") {
    implicit val sqlCtx = spark.sqlContext
    def mk(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "sec", "user_id", "value")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    // purchases: user 1 at t=1000 and t=2000; user 2 at t=1500
    val purchases = Seq(
      (101L, 1000L, 1L, 9.99), (102L, 2000L, 1L, 5.0), (103L, 1500L, 2L, 7.5))
    // clicks: in-window (750, 1900, 2000=boundary incl., 1000=equal),
    // out-of-window (400 too early, 2100 after, 699 just outside),
    // wrong user (1450 user 3)
    val clicks = Seq(
      (201L, 750L, 1L, 0.0), (202L, 400L, 1L, 0.0), (203L, 1900L, 1L, 0.0),
      (204L, 2000L, 1L, 0.0), (205L, 2100L, 1L, 0.0), (206L, 699L, 1L, 0.0),
      (207L, 1450L, 3L, 0.0), (208L, 1210L, 2L, 0.0))
    val li = MemoryStream[(Long, Long, Long, Double)]
    val ri = MemoryStream[(Long, Long, Long, Double)]
    // watermark delay covers the fixture's event-time spread, so rows
    // arriving out of event-time order across micro-batches are not
    // (correctly!) evicted as late — the late-drop case is asserted
    // separately below
    val joined = StreamOps.intervalJoinStreams(
        mk(li.toDF()), mk(ri.toDF()), toleranceSec = 300,
        watermarkDelay = "2 hours")
      .select("event_id", "r_event_id")
    val query = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // feed in two chunks so matches span micro-batches
      li.addData(purchases.take(2)); ri.addData(clicks.take(4))
      query.processAllAvailable()
      li.addData(purchases.drop(2)); ri.addData(clicks.drop(4))
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.table("ssj_out").as[(Long, Long)].collect().toSet
    val want = StreamOps.intervalJoinStreams(
        mk(purchases.toDF()), mk(clicks.toDF()), 300)
      .select("event_id", "r_event_id").as[(Long, Long)].collect().toSet
    assert(got === want)
    // pinned boundaries: 101 matches 750 (1000−300=700 ≤ 750) but not
    // 699; 102 matches 1900 and the r_ts = l_ts boundary at 2000, not
    // 2100; user-2 1210 ∈ (1200, 1500]; user-3 click never matches
    assert(want === Set((101L, 201L), (102L, 203L), (102L, 204L), (103L, 208L)))

    // and the state bound is REAL: with a 1-minute watermark, a click
    // arriving a micro-batch after event-time has moved past it is
    // evicted as late — its match must NOT appear
    val li2 = MemoryStream[(Long, Long, Long, Double)]
    val ri2 = MemoryStream[(Long, Long, Long, Double)]
    val q2 = StreamOps.intervalJoinStreams(
        mk(li2.toDF()), mk(ri2.toDF()), toleranceSec = 300,
        watermarkDelay = "1 minute")
      .select("event_id", "r_event_id")
      .writeStream.format("memory").queryName("ssj_late")
      .outputMode(OutputMode.Append()).start()
    try {
      li2.addData(Seq((102L, 2000L, 1L, 5.0))); ri2.addData(Seq((204L, 2000L, 1L, 0.0)))
      q2.processAllAvailable() // watermark → 2000 − 60 = 1940
      li2.addData(Seq((103L, 1500L, 2L, 7.5))); ri2.addData(Seq((208L, 1210L, 2L, 0.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val late = spark.table("ssj_late").as[(Long, Long)].collect().toSet
    assert(late.contains((102L, 204L)))
    assert(!late.contains((103L, 208L)),
      "a row behind the watermark must be evicted, not buffered forever")
  }

  test("streaming baseStateStream equals the batch X1 fold on the pbp fixture") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pbp.PbpPipeline
    // the REAL parse chain: its fold inputs and its X1 state columns
    val parsed = PbpPipeline.parse(
      graft.queries.QPbp.rawPbpFromEvents(spark, SparkTestSession.sfDir))
    val stateCols = Seq("batter_name", "player_of_interest",
      "r1_name", "r2_name", "r3_name", "bases_before",
      "r1_after", "r2_after", "r3_after", "bases_after")
    def keyOf(r: org.apache.spark.sql.Row): (Long, Long, Seq[String]) =
      (r.getLong(0), r.getLong(1), (2 until r.length).map(i =>
        Option(r.getString(i)).getOrElse("")))
    val batch = parsed
      .select((Seq("contest_id", "play_id").map(c => col(c).cast("long")) ++
        stateCols.map(col)): _*)
      .collect().map(keyOf).toSet

    // stream input: event time monotone in play_id (1 s per play), so
    // the watermark seals plays in exactly the batch fold's order
    val base = 1700000000000L
    val plays = parsed.select(col("contest_id").cast("long"), col("play_id").cast("long"),
        col("new_game_fl"), col("new_inn_fl"), col("sub_fl").cast("int"),
        col("sub_in"), col("sub_out"),
        col("p1_text"), col("p2_text"), col("p3_text"), col("p4_text"))
      .collect().map { r =>
        PlayEvent(r.getLong(0), r.getLong(1),
          new java.sql.Timestamp(base + r.getLong(1) * 1000L),
          r.getBoolean(2), r.getBoolean(3), r.getInt(4),
          r.getString(5), r.getString(6),
          r.getString(7), r.getString(8), r.getString(9), r.getString(10))
      }.sortBy(_.ts.getTime)

    val input = MemoryStream[PlayEvent]
    val query = StreamOps.baseStateStream(input.toDS(), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("basestate_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // three time-contiguous micro-batches, each internally SHUFFLED
      // (seeded) — the watermark only moves between batches, so the
      // in-batch disorder exercises the buffer-and-seal path
      val rnd = new scala.util.Random(42)
      val chunks = plays.grouped(math.max(1, plays.length / 3 + 1)).toSeq
      chunks.foreach { c => input.addData(rnd.shuffle(c.toSeq)); query.processAllAvailable() }
      // one far-future play pushes the global watermark past every
      // real play; the event-time timeouts then flush all machines
      val far = PlayEvent(-999L, -1L,
        new java.sql.Timestamp(base + plays.length * 1000L + 86400L * 1000L),
        true, true, 0, null, null, "Zz Flush walked", null, null, null)
      input.addData(Seq(far)); query.processAllAvailable()
      input.addData(Seq(far.copy(play_id = -2L,
        ts = new java.sql.Timestamp(far.ts.getTime + 86400L * 1000L))))
      query.processAllAvailable()

      val got = spark.table("basestate_out")
        .filter(col("contest_id") >= 0)
        .select((Seq("contest_id", "play_id").map(col) ++ stateCols.map(col)): _*)
        .collect().map(keyOf).toSet
      assert(got.size === batch.size,
        s"stream emitted ${got.size} rows vs batch ${batch.size}")
      assert(got === batch,
        "streamed X1 fold must equal the batch fold row for row")
    } finally query.stop()

    // backfill dispatch: the SAME entry point on a bounded Dataset
    // folds without the watermark machinery and matches the batch
    // pipeline fold too
    val dispatched = StreamOps.baseStateStream(plays.toSeq.toDS())
      .toDF()
      .select((Seq("contest_id", "play_id").map(col) ++ stateCols.map(col)): _*)
      .collect().map(keyOf).toSet
    assert(dispatched === batch,
      "batch dispatch of baseStateStream must equal the pipeline fold")
  }

  test("foreachBatch SCD2 dimension maintenance equals sequential batch applies") {
    implicit val sqlCtx = spark.sqlContext
    // three dimension snapshots arriving as micro-batches: key 1
    // changes twice, key 2 is deleted then re-added, key 3 appears late
    val snaps = Seq(
      (100L, Seq(1L -> "A", 2L -> "B")),
      (200L, Seq(1L -> "A2")), // 2 deleted
      (300L, Seq(1L -> "A2", 2L -> "B9", 3L -> "C")))
    var streamed = Seq.empty[(Long, String, Long, Option[Long])]
      .toDF("k", "seg", "valid_from", "valid_to")
    val input = MemoryStream[(Long, Long, String)] // (asOf, k, seg)
    val query = input.toDF().toDF("asOf", "k", "seg").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the production recipe: each micro-batch IS one snapshot;
        // apply it onto the accumulated history at its asOf time
        val rows = batch.select("asOf", "k", "seg")
          .as[(Long, Long, String)].collect()
        if (rows.nonEmpty) {
          val asOf = rows.head._1
          streamed = graft.io.Scd.scd2Apply(
              streamed, rows.map(r => (r._2, r._3)).toSeq.toDF("k", "seg"),
              "k", Seq("seg"), asOf)
            .localCheckpoint(true)
        }
        ()
      }
      .start()
    try {
      snaps.foreach { case (asOf, rows) =>
        input.addData(rows.map { case (k, s) => (asOf, k, s) })
        query.processAllAvailable()
      }
    } finally query.stop()
    var batchHist = Seq.empty[(Long, String, Long, Option[Long])]
      .toDF("k", "seg", "valid_from", "valid_to")
    snaps.foreach { case (asOf, rows) =>
      batchHist = graft.io.Scd.scd2Apply(
        batchHist, rows.toDF("k", "seg"), "k", Seq("seg"), asOf)
    }
    def set(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Option[Long])].collect().toSet
    assert(set(streamed) === set(batchHist))
    // spot-check the history actually tracked the churn
    assert(set(streamed) === Set(
      (1L, "A", 100L, Some(200L)), (1L, "A2", 200L, None),
      (2L, "B", 100L, Some(200L)), (2L, "B9", 300L, None),
      (3L, "C", 300L, None)))
  }

  test("foreachBatch ingestion gate: Bloom dedup + in-batch keep-first equals global keep-first") {
    implicit val sqlCtx = spark.sqlContext
    // duplicate texts spread both WITHIN batches and ACROSS them; ids
    // increase with arrival order so 'global keep-first' = min id per
    // fingerprint over the whole stream
    val batches = Seq(
      Seq(1L -> "aa bb cc", 2L -> "dd ee ff", 3L -> "aa bb cc"),
      Seq(4L -> "dd ee ff", 5L -> "gg hh ii"),
      Seq(6L -> "aa bb cc", 7L -> "jj kk ll", 8L -> "gg hh ii"))
    val input = MemoryStream[(Long, String)]
    // the production recipe: per micro-batch, gate against accumulated
    // history with the Bloom-prefiltered anti-join, keep-first within
    // the batch, append survivors to history
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val query = input.toDF().toDF("id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val hist = accepted.toSeq.toDF("id", "text")
          .select(md5(col("text")).as("fp"))
        val gated = graft.operators.Dedup.incrementalDedupBloom(
          batch.withColumn("fp", md5(col("text"))), hist, Seq("fp"),
          expectedItems = 1000)
        val kept = graft.operators.Dedup.exactKeepFirst(gated, Seq("fp"), "id")
          .select("id", "text").as[(Long, String)].collect()
        accepted ++= kept.sortBy(_._1)
        ()
      }
      .start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
    } finally query.stop()
    val globalKeepFirst = graft.operators.Dedup.exactKeepFirst(
        batches.flatten.toDF("id", "text"), Seq("text"), "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(accepted.map(_._1).sorted.toSeq === globalKeepFirst)
    assert(accepted.map(_._1).sorted.toSeq === Seq(1L, 2L, 5L, 7L))
  }

  test("foreachBatch NEAR-dup ingestion gate (LSH) equals the sequential batch fold") {
    implicit val sqlCtx = spark.sqlContext
    // the t32 operator lifted to the daily-pull cadence: per
    // micro-batch, drop rows that are near-dups (word-bigram Jaccard
    // ≥ 0.5, candidates from LSH banding) of the ACCEPTED history,
    // append survivors. Batches have no within-batch near-dups — that
    // is minhashLshPairs/connectedComponents' job (composed upstream),
    // so the gate's semantics stay single-purpose.
    val a  = "alpha beta gamma delta epsilon zeta theta"
    val a2 = "alpha beta gamma delta epsilon zeta iota" // J = 5/7 vs a
    val b  = "one two three four five six"
    val batches = Seq(
      Seq(1L -> a, 2L -> b),
      Seq(3L -> a2, 4L -> "seven eight nine ten eleven twelve"),
      Seq(5L -> b, 6L -> "red green blue yellow purple orange"))
    def gate(batch: org.apache.spark.sql.DataFrame,
             history: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.incrementalNearDupLsh(
        batch, history, "id", "text",
        shingleN = 2, numHashes = 12, bands = 6, threshold = 0.5)

    val accepted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val hist = accepted.toSeq.toDF("id", "text")
        val kept = gate(batch, hist).select("id", "text")
          .as[(Long, String)].collect()
        accepted ++= kept.sortBy(_._1)
        ()
      }
      .start()
    try {
      batches.foreach { bt => input.addData(bt); query.processAllAvailable() }
    } finally query.stop()

    // oracle 1: the identical fold in plain batch code
    val batchFold = batches.foldLeft(Seq.empty[(Long, String)]) { (hist, bt) =>
      hist ++ gate(bt.toDF("id", "text"), hist.toDF("id", "text"))
        .select("id", "text").as[(Long, String)].collect().sortBy(_._1)
    }
    assert(accepted.toSeq === batchFold)
    // oracle 2: pinned — 3 is a near-dup of 1, 5 an exact dup of 2
    assert(accepted.map(_._1).toSeq === Seq(1L, 2L, 4L, 6L))
  }

  test("foreachBatch incremental KMV sketch equals the one-shot sketch over the full stream") {
    implicit val sqlCtx = spark.sqlContext
    // distinct-count accounting at the daily-pull cadence: per
    // micro-batch, sketch the new arrivals and MERGE into the
    // persisted per-group synopsis (array<bigint> — here a driver map,
    // in production a parquet table like the t32 history index). The
    // sketch is a pure function of the value SET, so the incremental
    // merge must equal the one-shot sketch bit-for-bit — duplicates
    // across batches and merge order cannot move it.
    val k = 8
    val kmv = graft.operators.Sketches.kMinDistinct(k)
    def sketchOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("g"), graft.functions.ScalarFunctions.md5Long(col("v")).as("h"))
      .groupBy("g").agg(kmv(col("h")).as("ks"))
      .as[(String, Seq[Long])].collect().toMap
    // 30 distinct per group (> k, so merging truncates), overlaps across batches
    val batches = Seq(
      (1 to 15).flatMap(i => Seq(("x", s"x$i"), ("y", s"y$i"))),
      (10 to 25).flatMap(i => Seq(("x", s"x$i"), ("y", s"y$i"))),
      (20 to 30).flatMap(i => Seq(("x", s"x$i"), ("y", s"y$i"))))
    var hist = Map.empty[String, Seq[Long]]
    val input = MemoryStream[(String, String)]
    val query = input.toDF().toDF("g", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val bs = sketchOf(batch.toDF())
        hist = (hist.keySet ++ bs.keySet).map { g =>
          val merged = ((hist.getOrElse(g, Nil) ++ bs.getOrElse(g, Nil)).distinct.sorted).take(k)
          g -> merged
        }.toMap
        ()
      }
      .start()
    try {
      batches.foreach { bt => input.addData(bt); query.processAllAvailable() }
    } finally query.stop()
    val oneShot = sketchOf(batches.flatten.toDF("g", "v"))
    assert(hist === oneShot, "incrementally merged synopsis must equal the one-shot sketch")
    assert(hist("x").length === k && hist("y").length === k)
  }

  test("foreachBatch incremental binned histogram equals the one-shot synopsis and quantiles") {
    implicit val sqlCtx = spark.sqlContext
    // corpus-stats accounting at the daily-pull cadence: per
    // micro-batch, build the fixed-grid partial histogram of the new
    // arrivals and APPEND it to the persisted synopsis table (here a
    // driver buffer; in production a parquet table of (bin, c, rep)
    // rows per day). mergeBinnedHistograms over the accumulated
    // partials must equal the one-shot histogram exactly — counts
    // add, reps max, both associative — and so must the quantiles
    // picked from it.
    val q = graft.operators.Quantiles
    val rnd = new scala.util.Random(11)
    val batches = Seq.fill(3)(Seq.fill(400)(rnd.nextDouble() * 800.0 + 100.0))
    val partials = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val input = MemoryStream[Double]
    val query = input.toDF().toDF("x").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        partials ++= q.binnedHistogram(batch.toDF(), "x", 0.0, 1024.0, 64)
          .as[(Int, Long, Double)].collect()
        ()
      }
      .start()
    try {
      batches.foreach { bt => input.addData(bt); query.processAllAvailable() }
    } finally query.stop()
    val merged = q.mergeBinnedHistograms(partials.toSeq.toDF("bin", "c", "rep"))
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    val oneShot = q.binnedHistogram(batches.flatten.toDF("x"), "x", 0.0, 1024.0, 64)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(merged === oneShot,
      "incrementally accumulated partials must merge to the one-shot histogram")
    val ps = Seq(0.5, 0.9)
    val qa = q.percentilesFromHistogram(
      q.mergeBinnedHistograms(partials.toSeq.toDF("bin", "c", "rep")), ps)
      .as[(Double, Double)].collect().toMap
    val qb = q.percentilesFromHistogram(
      q.binnedHistogram(batches.flatten.toDF("x"), "x", 0.0, 1024.0, 64), ps)
      .as[(Double, Double)].collect().toMap
    assert(qa === qb, "quantiles off the merged synopsis must equal the one-shot picks")
  }

  test("streaming funnelStream equals the batch join-chain counts on real events") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val within = Some(7200L)
    val ev = graft.sources.Tables.events(spark, SparkTestSession.sfDir)
      .filter(col("user_id") < 60)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val batchCounts = graft.operators.Funnel.stepCounts(
        ev, "user_id", "ts", "event_type", steps, within)
      .as[(Int, String, Long)].collect().toSeq

    val rows = ev.as[StreamEvent].collect().sortBy(_.ts.getTime)
    // bounded-input dispatch ≡ the join-chain counts
    val dispatched = StreamOps.funnelStream(rows.toSeq.toDS(), steps, within)
    val dispatchedCounts = dispatched.groupBy("step_idx", "step")
      .agg(count(lit(1)).as("n_users"))
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    // a step no user reaches is absent from the fold's aggregation
    // but present (n_users = 0) in the batch join chain — pad it
    val padded = steps.zipWithIndex.map { case (st, i) =>
      dispatchedCounts.find(_._1 == i + 1).getOrElse((i + 1, st, 0L)) }
    assert(padded === batchCounts,
      "bounded-input funnel fold must equal the batch join chain")

    val input = MemoryStream[StreamEvent]
    val query = StreamOps.funnelStream(input.toDS(), steps, within,
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val rnd = new scala.util.Random(7)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      chunks.foreach { c => input.addData(rnd.shuffle(c.toSeq)); query.processAllAvailable() }
      // far-future flush events (absent user) push the watermark past
      // every real event so timeouts drain all machines
      val far = StreamEvent(-1L,
        new java.sql.Timestamp(rows.last.ts.getTime + 86400L * 1000L),
        -999L, "view", 0.0)
      input.addData(Seq(far)); query.processAllAvailable()
      input.addData(Seq(far.copy(event_id = -2L,
        ts = new java.sql.Timestamp(far.ts.getTime + 86400L * 1000L))))
      query.processAllAvailable()

      val streamed = spark.table("funnel_out").filter(col("user_id") >= 0)
        .as[FunnelOut].collect().map(o => (o.user_id, o.step_idx, o.step, o.ts_us)).toSet
      val want = dispatched
        .collect().map(o => (o.user_id, o.step_idx, o.step, o.ts_us)).toSet
      assert(streamed === want,
        "stream must emit exactly the batch fold's step completions")
      // STATE GATE (VERDICT r11): under the batch-anchored contract a
      // started funnel must leave a tombstone (full eviction would
      // re-emit step 1 on a later view — spurious vs batch), but
      // step-0 state is always evicted: the store tracks users who
      // STARTED, never users merely seen. Flush users (-999) send
      // "view" so the bound is started-users + the trailing flusher.
      val started = want.map(_._1)
      val stateRows = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= started.size + 1,
        s"state must be bounded by started users (state rows = $stateRows, " +
          s"started = ${started.size})")
    } finally query.stop()
  }

  test("streaming cohortRetentionStream equals the batch cohort cells on real events") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.events(spark, SparkTestSession.sfDir)
      .filter(col("user_id") < 60)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val batchCells = graft.operators.Funnel.cohortRetention(ev, "user_id", "ts")
      .as[(Long, Long, Long)].collect().toSet

    val rows = ev.as[StreamEvent].collect().sortBy(_.ts.getTime)
    // bounded dispatch: per-user fold aggregated ≡ the batch join form
    val dispatched = StreamOps.cohortRetentionStream(rows.toSeq.toDS())
      .groupBy("cohort_week_us", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .as[(Long, Long, Long)].collect().toSet
    assert(dispatched === batchCells,
      "bounded cohort dispatch must equal the batch join form")

    val input = MemoryStream[StreamEvent]
    val query = StreamOps.cohortRetentionStream(input.toDS(),
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("cohort_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val rnd = new scala.util.Random(13)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      chunks.foreach { c => input.addData(rnd.shuffle(c.toSeq)); query.processAllAvailable() }
      // far-future flushes: watermark passes every real anchor, quiet
      // users' timeouts seal + flush
      val far = StreamEvent(-1L,
        new java.sql.Timestamp(rows.last.ts.getTime + 86400L * 1000L),
        -999L, "view", 0.0)
      input.addData(Seq(far)); query.processAllAvailable()
      input.addData(Seq(far.copy(event_id = -2L,
        ts = new java.sql.Timestamp(far.ts.getTime + 86400L * 1000L))))
      query.processAllAvailable()

      val streamedCells = spark.table("cohort_out").filter(col("user_id") >= 0)
        .groupBy("cohort_week_us", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamedCells === batchCells,
        "streamed cohort hits must aggregate to the batch cells")
      // exactly-once per (user, week): no pair may emit twice
      val dup = spark.table("cohort_out")
        .groupBy("user_id", "cohort_week_us", "week_offset").count()
        .filter(col("count") > 1).count()
      assert(dup === 0L, "a (user, activity week) pair must emit exactly once")
    } finally query.stop()
  }

  test("cohortRetentionStream horizon: cells truncated at the horizon, state evicts to zero") {
    implicit val sqlCtx = spark.sqlContext
    val h = 2L
    val ev = graft.sources.Tables.events(spark, SparkTestSession.sfDir)
      .filter(col("user_id") < 60)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // batch truth truncated to offsets <= h
    val batchCells = graft.operators.Funnel.cohortRetention(ev, "user_id", "ts")
      .filter(col("week_offset") <= h)
      .as[(Long, Long, Long)].collect().toSet
    val rows = ev.as[StreamEvent].collect().sortBy(_.ts.getTime)
    // bounded dispatch applies the same truncation
    val dispatched = StreamOps
      .cohortRetentionStream(rows.toSeq.toDS(), horizonWeeks = Some(h))
      .groupBy("cohort_week_us", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .as[(Long, Long, Long)].collect().toSet
    assert(dispatched === batchCells, "horizon dispatch must equal truncated batch")

    val input = MemoryStream[StreamEvent]
    val query = StreamOps.cohortRetentionStream(input.toDS(),
        watermarkDelay = "10 minutes", horizonWeeks = Some(h))
      .writeStream.format("memory").queryName("cohort_h_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val rnd = new scala.util.Random(17)
      val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
      chunks.foreach { c => input.addData(rnd.shuffle(c.toSeq)); query.processAllAvailable() }
      // flushes a month past the data: every real user's horizon
      // (anchor + 3 weeks) is long gone
      val far = StreamEvent(-1L,
        new java.sql.Timestamp(rows.last.ts.getTime + 30L * 86400L * 1000L),
        -999L, "view", 0.0)
      input.addData(Seq(far)); query.processAllAvailable()
      input.addData(Seq(far.copy(event_id = -2L,
        ts = new java.sql.Timestamp(far.ts.getTime + 30L * 86400L * 1000L))))
      query.processAllAvailable()

      val streamedCells = spark.table("cohort_h_out").filter(col("user_id") >= 0)
        .groupBy("cohort_week_us", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamedCells === batchCells,
        "streamed horizon cells must equal the truncated batch cells")
      // FULL eviction: every real user's horizon passed — at most the
      // trailing flush user may hold state
      val stateRows = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 1,
        s"past-horizon cohort state must evict (state rows = $stateRows)")
    } finally query.stop()
  }

  test("funnelStream allowReentry: window re-entry semantics, state evicted to zero") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click")
    val within = Some(100L)
    def ev(id: Long, user: Long, sec: Long, typ: String) =
      StreamEvent(id, new java.sql.Timestamp(sec * 1000L), user, typ, 0.0)
    val t0 = 1700000000L
    val rows = Seq(
      // u1: completes in-window, then re-enters on a later view
      ev(1, 1, t0, "view"), ev(2, 1, t0 + 50, "click"), ev(3, 1, t0 + 500, "view"),
      // u2: window expires before the click (no step 2), later view re-enters
      ev(4, 2, t0, "view"), ev(5, 2, t0 + 200, "click"), ev(6, 2, t0 + 300, "view"),
      // u3: starts and goes quiet — state must still evict at window end
      ev(7, 3, t0, "view"))
    val expect = Set(
      (1L, 1, "view", t0 * 1000000L), (1L, 2, "click", (t0 + 50) * 1000000L),
      (1L, 1, "view", (t0 + 500) * 1000000L),
      (2L, 1, "view", t0 * 1000000L), (2L, 1, "view", (t0 + 300) * 1000000L),
      (3L, 1, "view", t0 * 1000000L))

    // bounded-input dispatch carries the same re-entry fold
    val batchOut = graft.streaming.StreamOps
      .funnelStream(rows.toDS(), steps, within, allowReentry = true)
      .collect().map(o => (o.user_id, o.step_idx, o.step, o.ts_us)).toSet
    assert(batchOut === expect, "backfill must replay re-entry semantics")

    val input = MemoryStream[StreamEvent]
    val query = StreamOps.funnelStream(input.toDS(), steps, within,
        watermarkDelay = "10 seconds", allowReentry = true)
      .writeStream.format("memory").queryName("funnel_reentry_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows); query.processAllAvailable()
      // flush users push the watermark a day, then two days, out —
      // "click" never matches step 0, so each flusher's own state
      // dies by step-0 eviction once its buffer drains
      input.addData(Seq(ev(-1, -999, t0 + 86400, "click")))
      query.processAllAvailable()
      input.addData(Seq(ev(-2, -998, t0 + 2 * 86400, "click")))
      query.processAllAvailable()

      val streamed = spark.table("funnel_reentry_out").filter(col("user_id") >= 0)
        .as[FunnelOut].collect().map(o => (o.user_id, o.step_idx, o.step, o.ts_us)).toSet
      assert(streamed === expect, "stream must equal the re-entry fold")
      // FULL EVICTION GATE: every real user's window is a day past —
      // with re-entry their state is gone; only the trailing
      // flusher's unsealed buffer may remain
      val stateRows = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 1,
        s"expired funnel state must evict to zero under re-entry (rows = $stateRows)")
    } finally query.stop()
  }

  test("foreachBatch incremental Count-Min sketch equals the one-shot sketch and estimates") {
    implicit val sqlCtx = spark.sqlContext
    // frequency accounting at the daily-pull cadence: per micro-batch,
    // build the CMS cells of the new arrivals and APPEND to the
    // persisted synopsis (here a driver buffer; in production a
    // parquet table of (r, b, c) rows per day). cmsMerge over the
    // accumulated partials must equal the one-shot sketch exactly —
    // counters add, associative — and so must every point estimate.
    val sk = graft.operators.Sketches
    val (d, w) = (4, 32)
    val batches = Seq(
      (1 to 40).map(i => s"item${i % 10}"),
      (1 to 60).map(i => s"item${i % 15}"),
      (1 to 30).map(i => s"item${i % 5}"))
    val partials = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val input = MemoryStream[String]
    val query = input.toDF().toDF("v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        partials ++= sk.cmsBuild(batch.toDF(), "v", d, w)
          .as[(Int, Long, Long)].collect()
        ()
      }
      .start()
    try {
      batches.foreach { bt => input.addData(bt); query.processAllAvailable() }
    } finally query.stop()
    val merged = sk.cmsMerge(partials.toSeq.toDF("r", "b", "c"))
      .as[(Int, Long, Long)].collect().toSet
    val oneShot = sk.cmsBuild(batches.flatten.toDF("v"), "v", d, w)
      .as[(Int, Long, Long)].collect().toSet
    assert(merged === oneShot,
      "incrementally accumulated cells must merge to the one-shot sketch")
    val items = (0 until 15).map(i => s"item$i").toDF("v")
    val ea = sk.cmsEstimate(sk.cmsMerge(partials.toSeq.toDF("r", "b", "c")),
      items, "v", d, w).as[(String, Long)].collect().toMap
    val eb = sk.cmsEstimate(sk.cmsBuild(batches.flatten.toDF("v"), "v", d, w),
      items, "v", d, w).as[(String, Long)].collect().toMap
    assert(ea === eb, "estimates off the merged synopsis must equal the one-shot's")
  }
}
