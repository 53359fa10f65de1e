package graft.tools

import graft.functions.TextFunctions
import graft.operators.{Dedup, RankNormalize, Sampling}
import graft.sources.Tables
import graft.util.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Ingestion/calibration-family scale smoke — `runMain
 * graft.tools.IngestScaleSmoke [sfDir] [scales]` (default `1,3,10`):
 * runs the ingestion/calibration operators — Bloom-prefiltered
 * incremental dedup ([[Dedup.incrementalDedupBloom]]), incremental
 * NEAR-dup via LSH bands ([[Dedup.incrementalNearDupLsh]] — kept
 * rows asserted EXACTLY linear, since disjoint copies replicate the
 * near-dup structure), budget-constrained selection
 * ([[Sampling.selectToBudget]]) and global rank/percentile
 * calibration ([[RankNormalize.globalRank]]) — over the documents
 * corpus replicated `scale`× into DISJOINT copies (ids offset; texts
 * copy-prefixed so fingerprints are disjoint; quality scores computed
 * ONCE on copy 0 and replicated, so the score DISTRIBUTION is
 * identical per copy and the distinct-score set is scale-invariant).
 *
 * Asserts, per scale:
 *  - t27: the Bloom-prefiltered result EQUALS the plain anti-join
 *    (both directions of exceptAll empty — Bloom fpp must not leak
 *    into the result), new-row count is EXACTLY c× copy 0, and the
 *    prefilter routes ≥90% of the definitely-new rows around the
 *    anti-join (misses ⊆ new is also asserted: a miss that is NOT
 *    new would be a Bloom false negative, which cannot exist);
 *  - t28: the two-phase selection EQUALS the naive global ordered
 *    cumulative sum (both directions empty), AT MOST ONE score
 *    bucket straddles the budget (only that bucket's rows are
 *    window-ranked — the fraction is printed), and the selected
 *    token sum lands in (budget − maxTok, budget];
 *  - t29: rank and cume_frac EQUAL the naive corpus-wide
 *    rank()/cume_dist() windows (rank exact, cume within 1e-6), and
 *    the bucket-table row count equals the DISTINCT-score count of
 *    copy 0 at every scale — constant while corpus rows grow c× —
 *    proving the shuffle key is score cardinality, not corpus size;
 *  - t33: the cross-split leakage audit over a planted re-crawl is
 *    EXACT under replication — copies share the id set (split
 *    structure fixed) with copy-disjoint texts, so n_pairs per
 *    split pair is exactly c× copy 0 and n_docs constant;
 *  - shuffle-write bytes grow within 1.5× of linear between
 *    consecutive scales, and no heavy stage has a task >8× the
 *    stage mean (the shared [[SmokeGates]]).
 */
object IngestScaleSmoke {

  def main(args: Array[String]): Unit = {
    val run = new SmokeRun("INGEST", args)
    import run.{check, spark}
    import SmokeRun.copies

    val base = Tables.documents(spark, run.sfDir).select("doc_id", "text", "n_chars")
    // score ONCE on the base text, then replicate the scored rows —
    // copies share the exact score multiset, so distinct-score counts
    // and the selection cutoff are scale-invariant by construction
    val scoredBase = Caches.persist(base.select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(TextFunctions.qualityScore(col("text")), 6).as("quality")))
    val row0 = scoredBase.agg(sum("n_tokens").cast("long"), count(lit(1))).first()
    val (tokSum0, nDocs0) = (row0.getLong(0), row0.getLong(1))
    val budget0 = (tokSum0 * 2) / 5 // 40% of copy-0 tokens: a boundary exists
    val distinct0 = scoredBase.select("quality").distinct().count()

    final case class Run(scale: Int, newRows: Long, nearKept: Long,
        leak: Map[(String, String), (Long, Long)], env: Envelope,
        ssKept: Long, gateBytes: Long)

    val runs = run.ladder() { rung =>
      val c = rung.scale
      val (docs, _) = rung.input(copies(base, c)(LlmScaleSmoke.corpusCopy))
      val (scored, _) = rung.input(copies(scoredBase, c)(LlmScaleSmoke.idBlock))

      // ---- t27: Bloom-prefiltered incremental dedup -----------------
      val history = docs.filter(col("doc_id") % 10 < 6)
        .select(md5(coalesce(col("text"), lit(""))).as("fp"))
      val batch = docs.filter(col("doc_id") % 10 >= 4)
        .withColumn("fp", md5(coalesce(col("text"), lit(""))))
      val expected = math.max(1L, nDocs0 * 6L / 10L) * c
      val bloomRes = Caches.persist(Dedup.incrementalDedupBloom(
          batch, history, Seq("fp"), expectedItems = expected, fpp = 0.01))
      val newRows = bloomRes.count()
      val antiRes = Caches.persist(batch.join(history.distinct(), Seq("fp"), "left_anti"))
      val antiRows = antiRes.count()
      check(newRows == antiRows &&
          bloomRes.select("doc_id").exceptAll(antiRes.select("doc_id")).count() == 0 &&
          antiRes.select("doc_id").exceptAll(bloomRes.select("doc_id")).count() == 0,
        s"scale=$c t27 Bloom path == plain anti-join ($newRows rows both ways)")
      // routed-around fraction: rebuild the operator's filter (same
      // params) and probe the batch — misses bypass the anti-join
      val bf = history.distinct().select(xxhash64(col("fp")).as("__fp"))
        .stat.bloomFilter("__fp", expected, 0.01)
      val bcast = spark.sparkContext.broadcast(bf)
      val misses = batch.filter(
        !graft.plans.BloomMightContainExpr.mightContain(
          xxhash64(col("fp")), bcast)).count()
      check(misses <= antiRows && misses >= (antiRows * 9) / 10,
        s"scale=$c t27 prefilter routes $misses of $antiRows definitely-new " +
          "rows around the anti-join (subset of new; >=90%)")

      // ---- t32: incremental NEAR-dup (LSH bands vs history) ---------
      val nearBatch = docs.filter(col("doc_id") % 10 >= 4)
      val nearHist = docs.filter(col("doc_id") % 10 < 6)
      val nearKept = Dedup.incrementalNearDupLsh(nearBatch, nearHist,
        "doc_id", "text", shingleN = 3, numHashes = 12, bands = 4,
        threshold = 0.5).count()

      // ---- t28: budget-constrained selection ------------------------
      val budget = budget0 * c
      val sel = Caches.persist(Sampling.selectToBudget(scored, "quality", "doc_id", "n_tokens",
          budget = budget))
      val selRows = sel.count()
      val wNaive = Window.orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = scored
        .withColumn("__cum", sum("n_tokens").over(wNaive))
        .filter(col("__cum") <= budget).drop("__cum")
      check(sel.select("doc_id").exceptAll(naive.select("doc_id")).count() == 0 &&
          naive.select("doc_id").exceptAll(sel.select("doc_id")).count() == 0,
        s"scale=$c t28 two-phase selection == naive ordered cumulative sum ($selRows rows)")
      val wb = Window.orderBy(col("__score").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cls = scored.groupBy(col("quality").as("__score"))
        .agg(sum(col("n_tokens")).as("__btoks"))
        .withColumn("__cb", coalesce(sum("__btoks").over(wb), lit(0L)))
      val boundary = Caches.persist(cls
        .filter(col("__cb") < budget && col("__cb") + col("__btoks") > budget))
      val nBoundary = boundary.count()
      // O(1)-row collect (nBoundary ≤ 1 is itself asserted below) —
      // a join back onto `scored` would be a self-join on shared
      // lineage and trips ambiguous-attribute resolution
      val bScores = boundary.select(col("__score")).collect().map(_.getDouble(0))
      val boundaryRows =
        if (bScores.isEmpty) 0L
        else bScores.map(s => scored.filter(col("quality") <=> lit(s)).count()).sum
      check(nBoundary <= 1,
        s"scale=$c t28 at most one bucket straddles the budget ($nBoundary); " +
          f"only its $boundaryRows rows (${100.0 * boundaryRows / (nDocs0 * c)}%.1f%% " +
          "of corpus) are window-ranked")
      val selRow = sel.agg(sum("n_tokens").cast("long"), max("n_tokens").cast("long")).first()
      val (selToks, maxTok) = (selRow.getLong(0), selRow.getLong(1))
      check(selToks <= budget && (nBoundary == 0 || selToks > budget - maxTok),
        s"scale=$c t28 selected tokens $selToks in (budget-maxTok, budget] " +
          s"(budget $budget, maxTok $maxTok)")

      // ---- t29: global rank/percentile calibration ------------------
      val ranked = Caches.persist(RankNormalize.globalRank(scored, "quality"))
      val rankRows = ranked.count()
      val wr = Window.orderBy(col("quality").desc)
      val naiveRank = scored
        .withColumn("rank_o", rank().over(wr).cast("long"))
        .withColumn("cume_o", round(cume_dist().over(wr), 6))
        .select("doc_id", "rank_o", "cume_o")
      val mismatches = ranked.select(col("doc_id"), col("rank"), col("cume_frac"))
        .join(naiveRank, "doc_id")
        .filter(col("rank") =!= col("rank_o") ||
          abs(col("cume_frac") - col("cume_o")) > 1e-6)
        .count()
      check(rankRows == nDocs0 * c && mismatches == 0,
        s"scale=$c t29 rank/cume_frac == naive corpus-wide windows " +
          s"($rankRows rows, $mismatches mismatches)")
      val distinctC = scored.select("quality").distinct().count()
      check(distinctC == distinct0,
        s"scale=$c t29 bucket table stays $distinct0 rows (distinct scores) " +
          s"while the corpus grows to ${nDocs0 * c} rows")

      // ---- t33: cross-split leakage audit ---------------------------
      // Copies carry copy-DISJOINT texts (the corpus-copy word
      // prefix) but the SAME id set — split assignment is a pure
      // function of the id, so the split structure is held FIXED
      // while content volume grows c×. Every copy then replicates
      // copy 0's exact planted-pair structure (pairs only form
      // within a copy: fingerprints are copy-disjoint), making the
      // audit's output EXACT under replication: n_pairs per split
      // pair is c× copy 0 and n_docs (distinct lower-side ids, the
      // same id set in every copy) is CONSTANT. The one fingerprint
      // shuffle scales with rows; output stays split-pair-bounded.
      val leakBase = copies(base, c)(LlmScaleSmoke.prefixTokens)
      val planted = leakBase.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(5000000L))
      val leak = Sampling.crossSplitLeakage(
          leakBase.unionByName(planted), "doc_id", "text",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      check(leak.values.map(_._1).sum > 0,
        s"scale=$c t33 planted re-crawl produces cross-split leak pairs " +
          s"(${leak.values.map(_._1).sum})")

      // ---- s18: z-ordered layout under scale ------------------------
      // write the scaled corpus z-ordered on (doc_id, n_chars) and
      // assert the file-skipping contract holds at every scale: content
      // survives exactly, and the mean NORMALIZED per-file doc_id span
      // stays tight (round-robin layout would sit near 1.0 — every
      // file spanning the full id range — so 0.5 is a real bound)
      val zTmp = java.nio.file.Files.createTempDirectory(s"graft_ingest_z$c")
      val zDir = zTmp.toString + "/out"
      val zin = docs.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      graft.io.Sinks.writeZOrdered(zin, zDir, Seq("doc_id", "n_chars"),
        numFiles = 16, bits = 10)
      val zFiles = new java.io.File(zDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      val zCount = spark.read.parquet(zDir).count()
      // file count is ≤ requested, not ==: repartitionByRange samples
      // the z-value range and may produce fewer partitions when the
      // sampled range collapses at small scales — the layout contract
      // is content-completeness + the span metric below, not an exact
      // file count
      check(zCount == zin.count() &&
          zFiles.length >= 1 && zFiles.length <= 16,
        s"scale=$c s18 z-ordered rewrite is content-complete across " +
          s"${zFiles.length} files ($zCount rows)")
      val zSpans = zFiles.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min("doc_id"), max("doc_id")).first()
        (r.getLong(0), r.getLong(1))
      }
      val (gMin, gMax) = (zSpans.map(_._1).min, zSpans.map(_._2).max)
      val meanSpan = zSpans.map(t => (t._2 - t._1).toDouble).sum /
        zSpans.length / math.max(1L, gMax - gMin)
      check(meanSpan <= 0.5,
        f"scale=$c s18 mean normalized per-file doc_id span $meanSpan%.3f <= 0.5 " +
          "(file skipping holds under scale)")
      def delTree(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(delTree)); f.delete(): Unit
      }
      delTree(zTmp.toFile)

      val env = rung.envelope()

      // ---- t65: the PERSISTED dedup index must equal the in-memory
      // gate at every scale. OUTSIDE the linear-band tally: the store
      // write re-shingles history to parquet and the probe re-reads
      // it — a deliberate one-time materialization cost (the whole
      // point is that STEADY-STATE ingestion then never re-shingles),
      // not part of the per-batch shuffle envelope.
      val idxPath = run.freshDir(s"/tmp/graft_ingest_smoke_dedupidx_$c")
      graft.operators.DedupIndex.write(idxPath, nearHist, "doc_id", "text", 3, 12, 4)
      val storeKept = graft.operators.DedupIndex
        .gate(spark, idxPath, nearBatch, "doc_id", "text", 3, 12, 4, 0.5).count()
      check(storeKept == nearKept,
        s"scale=$c t65 persisted-index gate == in-memory ($storeKept vs $nearKept)")
      rung.exclude() // keep the index I/O out of the envelope

      // ---- t65 STEADY-STATE: a FIXED batch (copy 0) probes the
      // c×-grown index. The r13 finding was a per-batch full-history
      // re-aggregation; the r14 contract is that the gate's scanned
      // bytes are bounded by the batch's candidate neighborhoods —
      // copies are text-disjoint, so the fixed batch's candidates (and
      // its verdicts) are IDENTICAL at every history scale, and only
      // the bands-probe rows (4/doc, the size class an LSH index keeps
      // resident) still grow with history.
      val fixedBatch = base.filter(col("doc_id") % 10 >= 4)
      val ssKept = graft.operators.DedupIndex
        .gate(spark, idxPath, fixedBatch, "doc_id", "text", 3, 12, 4, 0.5).count()
      val gateBytes = run.tally.snapshotAndReset().values.map(_.inputBytes).sum

      // ---- t77: the CHAR-SHINGLED store lifecycle (write → gate →
      // upsert → compact → re-gate) at every scale — the CJK ingest
      // path the word unit is structurally blind to. c text-disjoint
      // copies (copy-distinct CJK prefix chars); per copy the batch
      // carries one exact dup (drops), one +1-char near-dup (drops at
      // 0.9) and one unrelated doc (kept) → gate verdicts EXACTLY
      // linear; after upserting survivors and compacting, the manifest
      // must still say char_shingles=1 (the unit rides compaction) and
      // a re-gate of the same batch drops the survivor via its
      // self-match. Outside the shuffle envelope like the t65 store.
      locally {
        import spark.implicits._
        val cjk = "深度学习模型在大规模语料库上训练需要高质量的数据清洗流程"
        val other = "完全不同的另一段中文文本内容在这里继续出现"
        def pre(k: Int) = ("" + (0x4e00 + k).toChar) * 10
        val cHist = (0 until c).map(k => (k * 100L + 1, pre(k) + cjk))
          .toDF("doc_id", "text")
        val cBatch = (0 until c).flatMap { k =>
          Seq((k * 100L + 2, pre(k) + cjk), (k * 100L + 3, pre(k) + cjk + "了"),
            (k * 100L + 4, pre(k) + other))
        }.toDF("doc_id", "text")
        val cp = run.freshDir(s"/tmp/graft_ingest_smoke_chardedupidx_$c")
        graft.operators.DedupIndex.write(cp, cHist, "doc_id", "text", 3, 12, 4,
          charShingles = true)
        val surv = graft.operators.DedupIndex
          .gate(spark, cp, cBatch, "doc_id", "text", 3, 12, 4, 0.9)
        val survIds = surv.select("doc_id").as[Long].collect().toSet
        check(survIds.size == c && survIds.forall(_ % 100 == 4),
          s"scale=$c t77 char-store gate verdicts EXACTLY linear: the dup and " +
            s"near-dup drop, the unrelated doc survives, per copy ($survIds)")
        graft.operators.DedupIndex.upsert(cp, surv, "doc_id", "text", 3, 12, 4)
        graft.operators.DedupIndex.compact(spark, cp)
        check(graft.io.StoreManifest.current(spark, cp)
            .get("char_shingles").contains(1),
          s"scale=$c t77 char unit survives compaction in the manifest")
        val regate = graft.operators.DedupIndex
          .gate(spark, cp, cBatch, "doc_id", "text", 3, 12, 4, 0.9).count()
        check(regate == 0L,
          s"scale=$c t77 re-gate after upsert+compact drops every batch row " +
            s"(survivors self-match; got $regate)")
      }
      rung.exclude() // keep the char-store I/O out of the envelope

      // ---- t79: the PERSISTED per-suite synopsis store lifecycle
      // (addSuite × c → re-add → compact → attribute) PLUS the
      // STREAMED arrival path. Eval suites accumulate over months, so
      // the production shape is suites landing one micro-batch at a
      // time with one addSuite per arrival — the EdgeStore streamed
      // discipline on the decontamination store. Gates: attribution
      // over the grown pool maps each planted doc to EXACTLY its own
      // suite at every scale (a Bloom false positive or an index→name
      // misalignment would surface as a cross-suite row), the
      // compacted synopsis table is ONE file carrying exactly c live
      // rows, per-suite synopsis bytes are scale-invariant, and the
      // streamed store attributes row-identically to the batch-built
      // one. Outside the shuffle envelope like the other stores.
      locally {
        import spark.implicits._
        def suiteText(k: Int) = s"alpha$k beta$k gamma$k delta$k epsilon$k"
        val sDocs = (0 until c).flatMap { k =>
          Seq((k * 10L + 1, s"alpha$k beta$k gamma$k with extra trailing words"),
            (k * 10L + 2, s"clean$k totally unrelated words right here now"))
        }.toDF("doc_id", "text")
        val sp = run.freshDir(s"/tmp/graft_ingest_smoke_suitestore_$c")
        def add(path: String, k: Int, df: DataFrame): Unit =
          graft.operators.SuiteSynopsisStore.addSuite(path, f"s$k%03d",
            df, "text", n = 3, estimatedGrams = 1L << 10, numBits = 1L << 17)
        (0 until c).foreach(k => add(sp, k, Seq(suiteText(k)).toDF("text")))
        add(sp, 0, Seq(suiteText(0)).toDF("text")) // re-add: superseded row
        val rep = graft.operators.SuiteSynopsisStore.compact(spark, sp)
        check(rep.filesAfter == 1L && rep.rows == c.toLong,
          s"scale=$c t79 compact lands ONE synopsis file with exactly c live " +
            s"rows (files ${rep.filesBefore}->${rep.filesAfter}, rows ${rep.rows})")
        val blooms = graft.operators.SuiteSynopsisStore.blooms(spark, sp)
        check(blooms.size == c && blooms.forall(_._2.length == blooms.head._2.length),
          s"scale=$c t79 one live synopsis per suite, per-suite bytes " +
            s"scale-invariant (${blooms.headOption.map(_._2.length)})")
        val att = graft.operators.SuiteSynopsisStore.attribution(
            spark, sp, sDocs, "doc_id", "text")
          .select("doc_id", "suite").as[(Long, String)].collect().sorted.toSeq
        check(att.length == c && att.forall { case (d, s) =>
            d % 10 == 1 && s == f"s${d / 10}%03d" },
          s"scale=$c t79 attribution maps each planted doc to EXACTLY its own " +
            s"suite, never a cross-suite row (${att.take(3)}...)")
        val kept = graft.operators.SuiteSynopsisStore.removeContaminated(
            spark, sp, sDocs, "doc_id", "text")
          .select("doc_id").as[Long].collect()
        check(kept.length == c && kept.forall(_ % 10 == 2),
          s"scale=$c t79 gate keeps exactly the clean doc per suite")
        locally {
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          implicit val sqlCtx = spark.sqlContext
          val sp2 = run.freshDir(s"/tmp/graft_ingest_smoke_suitestore_stream_$c")
          val input = MemoryStream[(Int, String)]
          val q = input.toDF().toDF("k", "text").writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
                b.select("k").distinct().collect().map(_.getInt(0)).sorted.foreach {
                  k => add(sp2, k, b.filter(col("k") === k).select("text"))
                }
                ()
            }
            .start()
          try {
            val (h1, h2) = (0 until c).map(k => (k, suiteText(k))).splitAt(c / 2)
            input.addData(h1); q.processAllAvailable()
            input.addData(h2); q.processAllAvailable()
          } finally q.stop()
          val att2 = graft.operators.SuiteSynopsisStore.attribution(
              spark, sp2, sDocs, "doc_id", "text")
            .select("doc_id", "suite").as[(Long, String)].collect().sorted.toSeq
          check(att2 == att,
            s"scale=$c t79 streamed suite arrivals attribute row-identically " +
              s"to the batch-built store (${att2.length} rows)")
        }
      }
      rung.exclude() // keep the suite-store I/O out of the envelope

      // ---- g01/EdgeStore lifecycle (r16): write + daily upsert +
      // compact at every scale over c DISJOINT graph copies. Gates:
      // the compacted store lands at exactly 2×buckets files no
      // matter how many upserts preceded it (the PROFILE_COMPACT_r16
      // defect would fail this), ranks are identical across the
      // compaction, total rank mass stays 1, and per-copy mass is
      // exactly 1/c (disjoint copies cannot leak rank). Outside the
      // shuffle envelope like the t65 store I/O.
      locally {
        val gN = 3000L
        val copyNodes = spark.range(gN).select(col("id"))
        val copyEdges = Seq((7L, 1L), (3L, 2L), (11L, 5L)).map { case (m, b) =>
          spark.range(gN).select(col("id").as("src"), pmod(col("id") * m + b, lit(gN)).as("dst"))
        }.reduce(_.unionByName(_)).filter(col("src") =!= col("dst"))
        val gNodes = copies(copyNodes, c)(SmokeRun.idOffsets("id" -> 10000000L))
        val gEdges = copies(copyEdges, c)(
          SmokeRun.idOffsets("src" -> 10000000L, "dst" -> 10000000L))
        val day1 = gEdges.filter(pmod(col("src") + col("dst"), lit(2)) === 0)
        val day2 = gEdges.filter(pmod(col("src") + col("dst"), lit(2)) === 1)
        val gp = run.freshDir(s"/tmp/graft_ingest_smoke_edges_$c")
        graft.io.EdgeStore.write(gp, gNodes, "id", day1, "src", "dst")
        graft.io.EdgeStore.upsert(gp, gNodes, "id", day2, "src", "dst")
        val pre = graft.operators.PageRank
          .runIndexed(gNodes, "id", gp, iterations = 3)
          .select(col("id"), col("pr")).orderBy("id").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val rep = graft.io.EdgeStore.compact(spark, gp)
        check(rep.filesAfter == 16L,
          s"scale=$c edge-store compact lands at exactly 2x8 bucket files " +
            s"(${rep.filesBefore}->${rep.filesAfter})")
        val post = graft.operators.PageRank
          .runIndexed(gNodes, "id", gp, iterations = 3)
          .select(col("id"), col("pr")).orderBy("id").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        check(pre.length == c * gN &&
            pre.zip(post).forall { case ((i1, p1), (i2, p2)) =>
              i1 == i2 && math.abs(p1 - p2) < 1e-12 },
          s"scale=$c ranks identical across the compaction (${pre.length} rows)")
        val perCopy = pre.groupBy(_._1 / 10000000L).view.mapValues(_.map(_._2).sum)
        check(math.abs(pre.map(_._2).sum - 1.0) < 1e-9 &&
            perCopy.values.forall(s => math.abs(s - 1.0 / c) < 1e-9),
          s"scale=$c rank mass 1 total, exactly 1/c per disjoint copy")
        // streamed daily ingest ≡ fresh batch build AT SCALE (the
        // EdgeStoreSpec foreachBatch case promoted to the smoke):
        // day-2 edges arrive as two streaming micro-batches whose
        // upserts run through foreachBatch's CLONED session — the
        // cloned-session relation-cache hazard (a reader serving a
        // stale file listing after another session's append) must not
        // surface at any scale. The streamed store's ranks must equal
        // the batch-built store's exactly.
        locally {
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          import spark.implicits._
          implicit val sqlCtx = spark.sqlContext
          val sp = run.freshDir(s"/tmp/graft_ingest_smoke_edges_stream_$c")
          graft.io.EdgeStore.write(sp, gNodes, "id", day1, "src", "dst")
          val input = MemoryStream[(Long, Long)]
          val q = input.toDF().toDF("src", "dst").writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
                graft.io.EdgeStore.upsert(sp, gNodes, "id", b.toDF(), "src", "dst")
                ()
            }
            .start()
          val d2 = day2.as[(Long, Long)].collect()
          try {
            val (h1, h2) = d2.splitAt(d2.length / 2)
            input.addData(h1.toSeq); q.processAllAvailable()
            input.addData(h2.toSeq); q.processAllAvailable()
          } finally q.stop()
          val streamed = graft.operators.PageRank
            .runIndexed(gNodes, "id", sp, iterations = 3)
            .select(col("id"), col("pr")).orderBy("id").collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
          check(streamed.length == pre.length &&
              streamed.zip(pre).forall { case ((i1, p1), (i2, p2)) =>
                i1 == i2 && math.abs(p1 - p2) < 1e-12 },
            s"scale=$c streamed daily upserts rank identically to the " +
              s"batch-built store (${streamed.length} rows)")
        }
      }
      rung.exclude() // keep the graph-store I/O out of the envelope
      (Run(c, newRows, nearKept, leak, env, ssKept, gateBytes),
        s"new=$newRows near_kept=$nearKept " +
          s"sel=$selRows ranked=$rankRows leak_pairs=${leak.values.map(_._1).sum} " +
          f"${env.summary} ss_gate_read=${gateBytes / 1048576.0}%.1f MiB")
    }

    val r1 = runs.head
    run.exactLinear("t27 new rows", runs.map(r => r.scale -> r.newRows))
    run.constant("t65 steady-state verdicts", runs.map(r => r.scale -> r.ssKept))
    runs.tail.foreach { r =>
      // disjoint copies replicate copy 0's JACCARD structure exactly,
      // but LSH candidacy for BORDERLINE pairs (0.5 ≤ j < 1) depends
      // on the hash draw, which the copy prefix re-rolls per copy —
      // only the jaccard-1.0 self-matches (identical signatures, the
      // bulk of the drops) are deterministically replicated. Gate is
      // therefore linear within a ±1%-of-batch tolerance, not exact.
      val expected = r1.nearKept * r.scale / r1.scale
      val tol = math.max(1L, nDocs0 * 6L / 10L * r.scale / 100L)
      check(math.abs(r.nearKept - expected) <= tol,
        s"t32 near-dup kept rows linear +/-1% at ${r.scale}x " +
          s"(${r1.nearKept}->${r.nearKept}, expected ~$expected +/-$tol)")
      // the bytes bound: history grew scale/1×, but the gate's reads
      // must stay candidate-bounded — only the 4-rows/doc band probe
      // may grow, so total stays well under history growth (3.5× is a
      // loose roof for a 10× history; an unpruned gate sits at ~10×)
      check(r.gateBytes <= (r1.gateBytes * 7) / 2,
        f"t65 steady-state gate bytes bounded by candidates at ${r.scale}x " +
          f"(${r1.gateBytes / 1048576.0}%.1f -> ${r.gateBytes / 1048576.0}%.1f MiB, " +
          f"roof 3.5x while history is ${r.scale}x)")
      check(r.leak.keySet == r1.leak.keySet &&
          r.leak.forall { case (k, (pairs, docs)) =>
            SmokeGates.linear(r1.scale, r1.leak(k)._1, r.scale, pairs) && docs == r1.leak(k)._2 },
        s"t33 leak audit EXACT at ${r.scale}x: n_pairs ${r.scale}/${r1.scale}x " +
          s"copy 0 per split pair, n_docs constant (${r1.leak} -> ${r.leak})")
    }
    // shared shuffle/skew gates ([[SmokeGates]]). The 32 MiB
    // small-total exemption covers this smoke's 1x→3x step, where AQE
    // flips broadcast joins to shuffled ones as inputs outgrow the
    // threshold (measured: 2.4 → 25.7 MiB while 3x→10x is 1.10× of
    // linear).
    run.shuffleLinear(runs.map(r => (r.scale, r.env.writeBytes)), exemptBytes = 32L << 20)
    runs.foreach(r => run.skew(r.scale, r.env.stages))
    run.finish()
  }
}
