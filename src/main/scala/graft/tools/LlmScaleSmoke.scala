package graft.tools

import graft.operators.{BpeTrain, Decontaminate, Dedup, Packing, PageRank, SubstringDedup, TextSearch, Winnowing}
import graft.sources.Tables
import graft.util.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * LLM-pipeline scale smoke — `runMain graft.tools.LlmScaleSmoke
 * [sfDir] [scales]` (default scales `1,3,10`): runs the heaviest
 * text-pipeline DAGs — minhash-LSH pairs → connected components →
 * argmax keep-rule, BM25 top-k, substring-span dedup, and the
 * greedy packing fold — over the documents corpus
 * replicated `scale`× (each copy's tokens carry a copy prefix, so
 * copies occupy DISJOINT shingle spaces: the dup structure and the
 * per-bucket sizes stay constant while volume grows, which is exactly
 * the regime where a scale-correct plan must shuffle linearly).
 *
 * Asserts, from task-level metrics:
 *  - shuffle-write bytes between EVERY consecutive scale pair grow
 *    within 1.5× of linear plus an 8 MiB fixed-overhead allowance —
 *    a quadratic stage (all-pairs join, unbucketed skew) blows
 *    through this immediately. The allowance absorbs the one-time
 *    AQE broadcast→shuffled-join plan transitions that inflate the
 *    smallest pair as inputs outgrow the broadcast threshold — a
 *    plan transition, not a scaling defect;
 *  - no heavy stage (>4 MiB write, ≥8 tasks) has one task carrying
 *    >8× the stage mean — the skew bound;
 *  - dedup outputs scale linearly within 2% (each disjoint copy has
 *    identical pair STRUCTURE but different shingle hashes, so
 *    banding recall varies by a pair or two per copy), and BM25
 *    output stays CONSTANT (top-k per fixed query set — a corpus-
 *    dependent result count would mean query terms leak across
 *    copies);
 *  - substring-span rows scale linearly (disjoint copies replicate
 *    copy 0's duplicated-gram structure exactly);
 *  - the packing fold's doc and token SUMS are EXACTLY linear (a
 *    fold that drops or double-emits a row under repartitioning
 *    breaks the exact sum), and pack count is linear within the
 *    per-shard boundary slack (each of the 64 shards may leave one
 *    partial pack open).
 */
object LlmScaleSmoke {

  /** Copy `k`'s text: every token prefixed by the copy tag, so copies
    * occupy DISJOINT shingle spaces with the same per-copy shingle and
    * posting structure. */
  def prefixTokens(docs: DataFrame, k: Int): DataFrame =
    docs.withColumn("text",
      array_join(transform(split(col("text"), " "), t => concat(lit(s"c$k"), t)), " "))

  /** Ids offset into block `k` (the verbatim-replication copy). */
  val idBlock: (DataFrame, Int) => DataFrame = SmokeRun.idOffsets("doc_id" -> 10000000L)

  /** The disjoint corpus copy: ids offset and tokens prefixed. */
  def corpusCopy(docs: DataFrame, k: Int): DataFrame = prefixTokens(idBlock(docs, k), k)

  def main(args: Array[String]): Unit = {
    val run = new SmokeRun("LLM", args)
    import run.{check, spark}
    import SmokeRun.copies
    def verbatim(df: DataFrame, c: Int) = copies(df, c)((d, _) => d)

    val base = Tables.documents(spark, run.sfDir).select("doc_id", "text", "n_chars")
    val queries = base.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))

    final case class Run(scale: Int, pairs: Long, comps: Long, kept: Long,
        bm25: Long, spans: Long, cutRows: Long, cutToks: Long, contPairs: Long,
        dedup2Bytes: Long, packs: Long, packDocs: Long, packTokens: Long,
        bpeMerges: Seq[(String, String, Long)], dsirCounts: Array[Long],
        pctl: Seq[(Double, Long)], apctl: Seq[(Double, Double)],
        topTok: Seq[(Long, String, Long)], qcWeights: Seq[Long],
        roundtripBad: Long, hostsDistinct: Long, rdomainsDistinct: Long,
        t54Counts: Map[String, Long],
        winDocs: Long, winFps: Long, novDocs: Long, novNovel: Long,
        prCopy0: Seq[(Long, Double)], prSum: Double,
        dedupRecallMicro: Long, dedupPrecMicro: Long, env: Envelope)

    val runs = run.ladder() { rung =>
      val c = rung.scale
      val (docs, _) = rung.input(copies(base, c)(corpusCopy))
      val pairs = Caches.persist(Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4, threshold = 0.5))
      val nPairs = pairs.count()
      val comps = Dedup.connectedComponents(pairs.select("id_a", "id_b")).count()
      val kept = Dedup.keepBestPerCluster(docs.select("doc_id", "n_chars"),
        "doc_id", "n_chars", pairs).count()
      val bm25 = TextSearch.bm25TopK(docs, "doc_id", "text", queries, k = 10).count()
      val spans = SubstringDedup.duplicatedSpans(docs, "doc_id", "text", n = 5).count()
      // pack on the table's n_chars column (identical across copies —
      // the copy prefix changes tokens, not the precomputed count)
      val packRow = Packing.packStats(
          Packing.greedyPack(docs.select("doc_id", "n_chars"), "doc_id", "n_chars",
            budget = 4096, numShards = 64), budget = 4096)
        .agg(count(lit(1)).cast("long"), sum("n_docs").cast("long"),
          sum("pack_tokens").cast("long")).first()
      val (nPacks, packDocs, packTokens) =
        (packRow.getLong(0), packRow.getLong(1), packRow.getLong(2))
      // BPE training gate on VERBATIM c× replication (ids are
      // irrelevant to the trainer): word freqs scale exactly c×, so
      // the learned merge SEQUENCE must be identical with every pair
      // frequency exactly c× — any drift means corpus layout leaked
      // into the argmax. Runs the DISTRIBUTED trainer (vocab-sized
      // rounds; corpus size only enters through wordFreq).
      val bpeCorpus = verbatim(base.select(col("text")), c)
      val bpeMerges = BpeTrain.trainMergesDistributed(
        BpeTrain.wordFreq(bpeCorpus, "text"), numMerges = 8)
      // DSIR distribution layer on the same verbatim replication: the
      // hashed-bigram bucket counts must be EXACTLY c× the base's
      // (scoring on top is map-only — plan-audited in PlanAuditSpec)
      val dsirCounts = graft.operators.Dsir.bucketCounts(bpeCorpus, "text", 64)
      // corpus-stats gates (a17/a20): replication leaves the n_chars
      // DISTRIBUTION invariant, so exact histogram percentiles AND the
      // 256-bin approx picks must be IDENTICAL at every scale — any
      // drift means row volume leaked into the rank arithmetic
      val pctl = graft.operators.Quantiles
        .exactPercentiles(docs, "n_chars", Seq(0.5, 0.9, 0.99))
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
      val apctl = graft.operators.Quantiles
        .approxPercentilesBinned(docs, "n_chars", Seq(0.5, 0.9, 0.99), bins = 256)
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
      // heavy hitters (t44) on the VERBATIM replication: the top-10
      // token ranking must be identical with every count exactly c×
      val topTok = graft.operators.FrequentItems.topKFrequent(
          bpeCorpus.select(explode(split(trim(col("text")), "\\s+")).as("tok"))
            .filter(length(col("tok")) > 0),
          Seq.empty, "tok", k = 10)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        .sortBy(_._1)
      // quality-classifier training (t45) on verbatim replication with
      // doc_id AND lang carried: the mean-gradient step divides by the
      // doc count, so gradients (c×) and divisor (c×) cancel and the
      // learned weights must be BIT-IDENTICAL at every scale — any
      // drift means corpus volume leaked into the trainer
      val qcCorpus = copies(Tables.documents(spark, run.sfDir)
        .select("doc_id", "text", "lang"), c)(idBlock)
      val qcWeights = graft.operators.QualityModel.trainLogistic(
        graft.operators.QualityModel.features(
          qcCorpus, "doc_id", "text", col("lang") === "en", buckets = 16),
        buckets = 16, iters = 3).toSeq

      // t53 roundtrip at scale: decode∘encode must equal the
      // whitespace-normalized text for EVERY doc — an absolute
      // invariant (zero mismatches), not just a linear count
      val bpeB = spark.sparkContext.broadcast(graft.functions.Bpe.defaultVocab)
      val roundtripBad = docs.filter(
        graft.functions.Bpe.bpeDecode(
          graft.functions.Bpe.bpeTokensPerWord(col("text"), bpeB)) =!=
          regexp_replace(trim(col("text")), "\\s+", " ")).count()

      // t52 at scale: synthetic per-doc subdomains of one megasite —
      // distinct HOSTS grow c× while distinct REGISTRABLE domains
      // stay CONSTANT (the quota key collapses the evasion surface)
      val hostDf = docs.select(
        concat(lit("u"), col("doc_id"), lit(".megasite.com")).as("host"))
      val hostsDistinct = hostDf.distinct().count()
      val rdomainsDistinct = hostDf.select(
          graft.functions.UrlFunctions.registrableDomain(
            col("host"), Seq("com", "org")).as("rd"))
        .distinct().count()

      // t55 winnowing on the verbatim replication (qcCorpus): the
      // selection is per-document, so every copy reproduces the base
      // fingerprints exactly — summary rows and fingerprint totals
      // EXACTLY c×
      val winRow = Winnowing.summary(qcCorpus, "doc_id", "text", k = 5, w = 4)
        .agg(count(lit(1)).cast("long"), sum("n_fps").cast("long")).first()
      val (winDocs, winFps) = (winRow.getLong(0), winRow.getLong(1))

      // t56 novelty on the same replication: copies add DUPLICATE
      // grams, never new ones, so the reference hash set is constant
      // (the 1e7 id offsets are multiples of 10 — the %10 snapshot
      // split is copy-invariant) and per-doc novelty is identical —
      // rows and novel-gram totals EXACTLY c×
      val novRow = Decontaminate.novelty(
          qcCorpus.filter(col("doc_id") % 10 =!= 0),
          qcCorpus.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 8)
        .agg(count(lit(1)).cast("long"), sum("n_novel").cast("long")).first()
      val (novDocs, novNovel) = (novRow.getLong(0), novRow.getLong(1))

      // g01 pagerank on c disjoint copies of the SAME synthesized
      // graph: per-copy dynamics are the base's scaled by 1/c, so the
      // mean-1-scaled ranks of copy-0 nodes must be IDENTICAL at 6 dp
      // and total mass must stay 1 — a rank that drifts with corpus
      // size means copies leaked into each other's link structure
      val nBase = base.count()
      val prIds = qcCorpus.select(col("doc_id"))
      val prOff = col("doc_id") - pmod(col("doc_id"), lit(10000000L))
      val prI = pmod(col("doc_id"), lit(10000000L))
      val prEdges = prIds.select(col("doc_id").as("src"),
          explode(array(
            (prI * 17 + 3) % nBase + prOff,
            (prI * 31 + 7) % nBase + prOff,
            (prI * 13 + 11) % nBase + prOff)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val prAll = Caches.persist(
        PageRank.run(prIds, "doc_id", prEdges, "src", "dst", iterations = 5))
      val prSum = prAll.agg(sum("pr")).first().getDouble(0)
      val prCopy0 = prAll.filter(col("doc_id") < nBase)
        .select(col("doc_id"), round(col("pr") * (c * nBase), 6).as("prs"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)

      // t54 at scale: temperature mixture on the qc corpus's lang
      // column (verbatim replication, disjoint ids) — per-lang
      // survivor counts must track c× within a 5% band (fresh ids
      // redraw the md5 gate at the SAME rates; rates are
      // scale-invariant because sqrt(c·n) scaling cancels)
      val t54Counts = graft.operators.Mixture.temperatureMix(
          qcCorpus, "lang", "doc_id", alpha = 0.5)
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      // pairs stays cached through the dedup2 block below (the t59
      // eval joins against it)
      val env = rung.envelope()
      // t49 cut + t51 containment, measured OUTSIDE the linear-band
      // tally: their logical exchange (corpus tokens by id; df-capped
      // candidate pairs by shingle) replicates EXACTLY c×, but the
      // measured bytes cross two regimes the 1.5×-of-linear band
      // cannot span — the span side's broadcast→shuffle-join
      // transition (the corpus token payload crosses the wire once
      // the span lists stop broadcasting) and the pair join's
      // map-side reduction decaying toward its Σdf² asymptote. The
      // gate below asserts the PER-COPY cost stays bounded (a true
      // quadratic op would scale it ~c×) and the outputs replicate
      // exactly like every other family.
      val cutRow = SubstringDedup.cutDuplicatedSpans(docs, "doc_id", "text", n = 5)
        .agg(count(lit(1)).cast("long"), sum("n_cut").cast("long")).first()
      val (cutRows, cutToks) = (cutRow.getLong(0), cutRow.getLong(1))
      val contPairs = Dedup.ngramContainmentPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.8).count()
      // t59 dedup-quality metrics: recall/precision of the banded LSH
      // pairs against the exact df-capped Jaccard pairs. Banding is
      // hash-dependent and copy-k's prefixed shingles hash differently
      // from copy 0's, so the corpus metric is the per-copy AVERAGE —
      // gated below as stable within a tight band, not bit-identical.
      // Rides this separately-tallied bucket: the exact chain's df
      // semi-join crosses its broadcast threshold between scales (the
      // same legitimate plan transition as the span side above).
      val evalRow = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.5, maxShingleDf = Some(1000))
        .select("id_a", "id_b").withColumn("e", lit(1))
        .join(pairs.select("id_a", "id_b").withColumn("l", lit(1)),
          Seq("id_a", "id_b"), "full_outer")
        .agg(count(col("e")).as("ne"), count(col("l")).as("nl"),
          count(when(col("e") === 1 && col("l") === 1, 1)).as("nh"))
        .first()
      val (dedupRecallMicro, dedupPrecMicro) = (
        math.round(evalRow.getLong(2).toDouble / evalRow.getLong(0) * 1e6),
        math.round(evalRow.getLong(2).toDouble / evalRow.getLong(1) * 1e6))
      val dedup2Bytes = rung.envelope().writeBytes
      (Run(c, nPairs, comps, kept, bm25, spans, cutRows, cutToks, contPairs,
        dedup2Bytes, nPacks, packDocs, packTokens,
        bpeMerges, dsirCounts, pctl, apctl, topTok, qcWeights,
        roundtripBad, hostsDistinct, rdomainsDistinct, t54Counts,
        winDocs, winFps, novDocs, novNovel, prCopy0, prSum,
        dedupRecallMicro, dedupPrecMicro, env),
        s"pairs=$nPairs comps=$comps kept=$kept " +
          s"bm25=$bm25 spans=$spans packs=$nPacks pack_docs=$packDocs " +
          s"pack_tokens=$packTokens bpe_merges=${bpeMerges.length} ${env.summary}")
    }

    val r1 = runs.head
    def series[T](f: Run => T) = runs.map(r => r.scale -> f(r))
    // absolute invariants hold at the BASE scale too
    check(r1.roundtripBad == 0L,
      s"t53 roundtrip holds at base scale (${r1.roundtripBad} mismatches)")
    check(r1.rdomainsDistinct == 1L,
      s"t52 megasite collapses to one registrable domain at base scale")
    runs.foreach { r =>
      check(math.abs(r.prSum - 1.0) < 1e-9,
        f"g01 pagerank mass conserved at ${r.scale}x (sum=${r.prSum}%.12f)")
    }
    run.constant("bm25 top-k output", series(_.bm25))
    run.nearLinear("substring-span rows", series(_.spans), tol = 0.02)
    run.exactLinear("span-cut rows (every doc kept once)", series(_.cutRows))
    run.nearLinear("cut tokens", series(_.cutToks), tol = 0.02)
    run.nearLinear("containment pairs", series(_.contPairs), tol = 0.02)
    run.identical("exact percentiles", series(_.pctl))
    run.identical("binned approx percentiles", series(_.apctl))
    run.identical("quality-classifier weights (bit for bit)", series(_.qcWeights),
      (w: Seq[Long]) => s"${w.take(4)}...")
    // g01: disjoint-copy ranks IDENTICAL at 6 dp
    run.identical("g01 copy-0 scaled pageranks", series(_.prCopy0),
      (p: Seq[(Long, Double)]) => s"${p.take(2)} ...")
    runs.tail.foreach { r =>
      def near(f: Run => Long) = SmokeGates.nearLinear(r1.scale, f(r1), r.scale, f(r), 0.02)
      def exact(f: Run => Long) = SmokeGates.linear(r1.scale, f(r1), r.scale, f(r))
      def exactly(x1: Long, x: Long) = SmokeGates.linear(r1.scale, x1, r.scale, x)
      check(near(_.pairs) && near(_.comps) && near(_.kept),
        s"dedup outputs scale linearly +/-2% at ${r.scale}x " +
          s"(pairs ${r1.pairs}->${r.pairs}, comps ${r1.comps}->${r.comps}, " +
          s"kept ${r1.kept}->${r.kept})")
      // t59 dedup-quality metrics: the corpus value is the per-copy
      // average (banding hashes differ per prefixed copy), so the
      // gate is a tight stability band — a broken banding or
      // verification would move recall by whole percents, not
      // fractions of one
      check(math.abs(r.dedupRecallMicro - r1.dedupRecallMicro) <= 5000 &&
          math.abs(r.dedupPrecMicro - r1.dedupPrecMicro) <= 5000 &&
          r.dedupPrecMicro >= 990000,
        s"t59 dedup recall/precision stable within 0.5% at ${r.scale}x " +
          s"(recall ${r1.dedupRecallMicro}->${r.dedupRecallMicro} micro, " +
          s"prec ${r1.dedupPrecMicro}->${r.dedupPrecMicro} micro)")
      val perCopy = r.dedup2Bytes.toDouble / r.scale
      val perCopy1 = r1.dedup2Bytes.toDouble / r1.scale
      check(perCopy <= perCopy1 * 6.0,
        f"cut+containment per-copy shuffle bounded at ${r.scale}x " +
          f"(${perCopy / 1048576.0}%.1f MiB/copy vs ${perCopy1 / 1048576.0}%.1f at 1x; " +
          "reduction decay allowed, quadratic growth is not)")
      check(exact(_.packDocs) && exact(_.packTokens),
        s"packing fold sums EXACTLY linear at ${r.scale}x " +
          s"(docs ${r1.packDocs}->${r.packDocs}, tokens ${r1.packTokens}->${r.packTokens})")
      check(r.bpeMerges.map(m => (m._1, m._2)) == r1.bpeMerges.map(m => (m._1, m._2)) &&
          r.bpeMerges.map(_._3).zip(r1.bpeMerges.map(_._3)).forall { case (x, x1) => exactly(x1, x) },
        s"bpe merges IDENTICAL with freqs EXACTLY ${r.scale}x at ${r.scale}x " +
          s"(${r1.bpeMerges.take(3)} -> ${r.bpeMerges.take(3)} ...)")
      check(r.dsirCounts.length == r1.dsirCounts.length &&
          r.dsirCounts.zip(r1.dsirCounts).forall { case (x, x1) => exactly(x1, x) },
        s"dsir bucket counts EXACTLY ${r.scale}x at ${r.scale}x " +
          s"(sum ${r1.dsirCounts.sum} -> ${r.dsirCounts.sum})")
      check(r.topTok.map(t => (t._1, t._2)) == r1.topTok.map(t => (t._1, t._2)) &&
          r.topTok.map(_._3).zip(r1.topTok.map(_._3)).forall { case (x, x1) => exactly(x1, x) },
        s"top-10 tokens IDENTICAL with counts EXACTLY ${r.scale}x at ${r.scale}x " +
          s"(${r1.topTok.take(3)} -> ${r.topTok.take(3)} ...)")
      // t53: roundtrip is an ABSOLUTE invariant at every scale
      check(r.roundtripBad == 0L,
        s"t53 BPE decode(encode(text)) == normalized text for every doc at ${r.scale}x " +
          s"(${r.roundtripBad} mismatches)")
      // t52: hosts grow c× while the registrable-domain key collapses
      // the megasite to ONE group at any scale
      check(exact(_.hostsDistinct) && r.rdomainsDistinct == 1L,
        s"t52 distinct hosts exactly linear (${r1.hostsDistinct}->${r.hostsDistinct}) " +
          s"while registrable domains stay 1 (${r.rdomainsDistinct}) at ${r.scale}x")
      // t55/t56: verbatim-replication totals are EXACTLY linear
      check(exact(_.winDocs) && exact(_.winFps),
        s"t55 winnowing docs/fingerprints EXACTLY ${r.scale}x at ${r.scale}x " +
          s"(docs ${r1.winDocs}->${r.winDocs}, fps ${r1.winFps}->${r.winFps})")
      check(exact(_.novDocs) && exact(_.novNovel),
        s"t56 novelty docs/novel-grams EXACTLY ${r.scale}x at ${r.scale}x " +
          s"(docs ${r1.novDocs}->${r.novDocs}, novel ${r1.novNovel}->${r.novNovel})")
      // t54: per-lang survivors track c× within 5% (rates are
      // scale-invariant; fresh ids redraw the md5 gate at those rates)
      check(r.t54Counts.keySet == r1.t54Counts.keySet &&
          r.t54Counts.forall { case (l, v) =>
            val want = r1.t54Counts(l).toDouble * r.scale / r1.scale
            math.abs(v - want) <= math.max(5.0, 0.05 * want)
          },
        s"t54 per-lang survivors within 5% of linear at ${r.scale}x " +
          s"(${r1.t54Counts} -> ${r.t54Counts})")
    }
    // Pack count is deliberately NOT asserted linear: each of the 64
    // shards leaves one partial last pack open, a CONSTANT overhead
    // that shrinks relatively as volume grows (fill fraction measured
    // 0.89 at 1x -> 0.95 at 10x — improving with scale is the correct
    // behavior). The scale-stable invariant is fill efficiency: packs
    // can never beat the token-budget lower bound, and waste must stay
    // within a bounded factor of it at EVERY scale.
    runs.foreach { r =>
      val ideal = (r.packTokens + 4095) / 4096
      check(r.packs >= ideal && r.packs <= (ideal * 1.25).toLong + 64,
        s"scale=${r.scale} pack fill efficiency: ${r.packs} packs within " +
          s"[$ideal, ${(ideal * 1.25).toLong + 64}] of the budget lower bound")
    }
    // every consecutive pair is GATED. Measured r8: 4.17× bytes for
    // the 3× scale-up — within the bound once the fixed-overhead
    // allowance is counted.
    run.shuffleLinear(runs.map(r => (r.scale, r.env.writeBytes)))
    runs.foreach(r => run.skew(r.scale, r.env.stages))

    // ---- r13/r14 newcomers: LM scoring (t60/t66), tokenizer encodes
    // (t61/t64), unigram-LM training (t63), composed cleaning (llm01
    // family via CleanCorpus). t62's planted-span eval is a synthetic
    // fixture query (its corpus IS the plant), already covered at
    // scale by the t59 recall gate above — logged, not re-gated.
    println("LLM_SMOKE note: t62 eval not separately scaled (synthetic plant; t59 gate covers the dedup-quality surface)")
    val bpeVocab = spark.sparkContext.broadcast(graft.functions.Bpe.defaultVocab)
    val wpVocab = spark.sparkContext.broadcast(graft.functions.WordPiece.defaultVocab)
    final case class LmRun(scale: Int, t60: (Long, Long), t66: (Long, Long),
        t68: (Long, Long), bpeToks: Long, wpToks: Long, uni: Seq[graft.operators.UnigramLm.Piece],
        survivors: Long, gopherPass: Long, linePass: Long, t70counts: Seq[Long],
        t71: Map[String, Map[String, Long]], t71approx: Map[String, Map[String, Long]],
        gblPass: Map[String, Long], bloomBytes: Long,
        t74: Map[String, (Long, Long)], suiteBloomBytes: Long)
    val lmRuns = run.ladder("LLM_SMOKE_LM") { rung =>
      val c = rung.scale
      val (docs, _) = rung.input(copies(base, c)(corpusCopy))
      // t60/t66: copy offsets are multiples of 10, so the %10 ref
      // split replicates per copy; token COUNTS are copy-invariant
      // (the prefix rides inside each token), so output rows and gram
      // totals are EXACTLY linear
      val ref = docs.filter(col("doc_id") % 10 === 0)
      val tgt = docs.filter(col("doc_id") % 10 =!= 0)
      val t60r = graft.operators.TextModel
        .trigramBackoffCrossPerplexity(ref, "text", tgt, "doc_id", "text")
        .agg(count(lit(1)).cast("long"), sum("n_trigrams").cast("long")).first()
      val t66r = graft.operators.TextModel
        .knFivegramCrossPerplexity(ref, "text", tgt, "doc_id", "text")
        .agg(count(lit(1)).cast("long"), sum("n_fivegrams").cast("long")).first()
      // t68: same replication argument — modified-KN discounts are
      // count-of-count-driven (c× counts shift the buckets but rows
      // and gram totals stay exactly linear)
      val t68r = graft.operators.TextModel
        .modifiedKnFivegramCrossPerplexity(ref, "text", tgt, "doc_id", "text")
        .agg(count(lit(1)).cast("long"), sum("n_fivegrams").cast("long")).first()
      // t71 (r16): per-language CCNet routing under VERBATIM id-offset
      // replication — langid profiles train on c× counts (same ranks,
      // ties by gram unchanged), so every copy routes like copy 0 and
      // per-language scored ROWS are exactly linear; the lang-keyed
      // one-pass KN must not leak grams across languages (a cross-lang
      // join key would show up as nonlinear per-language rows), and
      // terciles stay ntile-balanced within ±1 of n/3 per language
      val langDocs = graft.sources.Tables.documents(spark, run.sfDir)
        .select("doc_id", "text", "lang")
      def verbatim71(df: DataFrame) = copies(df, c)(idBlock)
      val t71m = graft.operators.TextModel.ccnetPerLanguageBuckets(
          verbatim71(langDocs.filter(col("doc_id") % 10 === 0)), "lang", "text",
          verbatim71(langDocs.filter(col("doc_id") % 10 =!= 0)), "doc_id", "text")
        .groupBy("pred_lang", "bucket").count()
        .collect()
        .groupBy(_.getString(0)).view.mapValues(rows =>
          rows.map(r => r.getString(1) -> r.getLong(2)).toMap).toMap
      // the approx-boundary (no-window) form must agree with the exact
      // cut per (lang, bucket) within the value-labeling tie allowance
      // at EVERY scale — sketch rank error growing with corpus size
      // would show up here (accuracy stays fixed while n grows 10×)
      val t71a = graft.operators.TextModel.ccnetPerLanguageBucketsApprox(
          verbatim71(langDocs.filter(col("doc_id") % 10 === 0)), "lang", "text",
          verbatim71(langDocs.filter(col("doc_id") % 10 =!= 0)), "doc_id", "text")
        .groupBy("pred_lang", "bucket").count()
        .collect()
        .groupBy(_.getString(0)).view.mapValues(rows =>
          rows.map(r => r.getString(1) -> r.getLong(2)).toMap).toMap
      println("LLM_SMOKE note: llm02 not separately scaled (its stages are the " +
        "t48/t52 quota, t71 routing+KN, the per-language rule gate below, " +
        "CleanCorpus and t65-family gates above)")
      // llm02's post-routing per-language Gopher stage in isolation
      // (QualityRules.gopherByLang with the query's own shared
      // tables): ONE map-only CASE dispatch keyed on the language
      // column — per-language pass counts must be EXACTLY linear on
      // verbatim copies, and the language set stable
      val gblPass = graft.operators.QualityRules.gopherByLang(
          verbatim71(langDocs), "doc_id", "text", "lang",
          graft.queries.QText.Llm02LangRules,
          graft.queries.QText.Llm02DefaultRules)
        .filter(col("pass")).groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // t70: tercile bucket COUNTS are exactly n·c/3-partitioned by
      // ntile regardless of where tied scores land across copies
      val t70ppl = graft.operators.TextModel
        .knFivegramCrossPerplexity(ref, "text", tgt, "doc_id", "text")
      val t70w = org.apache.spark.sql.expressions.Window
        .orderBy(col("avg_neg_logp"), col("doc_id"))
      val t70counts = t70ppl.withColumn("b", ntile(3).over(t70w))
        .groupBy("b").count().orderBy("b")
        .collect().map(r => r.getLong(1)).toSeq
      // t61/t64: map-only encodes over VERBATIM c× replication —
      // token totals exactly c× the base's
      val verbatimText = verbatim(base.select(col("text")), c)
      val bpeToks = verbatimText
        .select(size(graft.functions.Bpe.bpeTokens(col("text"), bpeVocab)).cast("long").as("n"))
        .agg(sum("n").cast("long")).first().getLong(0)
      val wpToks = verbatimText
        .select(size(graft.functions.WordPiece.wordPieceTokens(col("text"), wpVocab))
          .cast("long").as("n"))
        .agg(sum("n").cast("long")).first().getLong(0)
      // t63: unigram-LM training is count-ratio-driven — verbatim c×
      // replication scales every seed count by c, probabilities
      // normalize it away, so the learned table must be IDENTICAL
      val uni = graft.operators.UnigramLm.train(verbatimText.toDF("text"), "text",
        maxPieceLen = 4, seedSize = 120, vocabSize = 60, emIters = 2, maxWordLen = 8)
      // llm01 family: the composed cleaner over copy-local inputs
      // (bench replicated with the same copy prefixes, so
      // decontamination is copy-local too)
      val bench = copies(base.filter(col("doc_id") % 97 === 3), c)(corpusCopy)
      val survivors = graft.operators.CleanCorpus.clean(
        docs, "doc_id", "text", bench, "text", minQuality = 0.3).count()
      // llm03 (fixed-broadcast Bloom decontamination): the synopsis
      // must stay numBits/8 bytes as the accumulated benchmark grows
      // c× (the fixed size IS the point — gated across scales below),
      // and the Bloom pipeline's survivor count must equal the exact
      // path's at every scale (one-sided error unobservable at the
      // default ~8 bits/gram sizing; a trip here means a real FP)
      val bloomBytes = graft.operators.Decontaminate
        .benchGramsBloom(bench, "text", 3).length
      val bloomSurvivors = graft.operators.CleanCorpus.clean(
        docs, "doc_id", "text", bench, "text", minQuality = 0.3,
        decontam = graft.operators.CleanCorpus.Bloom()).count()
      check(bloomSurvivors == survivors,
        s"scale=$c llm03 Bloom-decontam survivors equal the exact path's " +
          s"($survivors vs $bloomSurvivors)")
      // t74 (per-suite attribution): suite = doc_id % 4 survives the
      // copy offset (10^7 ≡ 0 mod 4) and grams are copy-local (texts
      // copy-prefixed), so per-suite attribution rows and hit totals
      // are EXACTLY linear — a cross-copy gram leak or a suite-label
      // shuffle would break it
      val suiteBench = bench.withColumn("suite",
        concat(lit("s"), pmod(col("doc_id"), lit(4)).cast("string")))
      def suiteAgg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("suite").agg(count(lit(1)).as("rows"), sum("n_hit").as("hits"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val t74agg = suiteAgg(graft.operators.Decontaminate.ngramOverlapBySuite(
        docs, "doc_id", "text", suiteBench, "suite", "text", n = 3))
      // t76: the same attribution through the per-suite Bloom
      // synopses must be ROW-IDENTICAL to the exact form at every
      // scale (each suite's gram volume grows c× while the synopsis
      // stays numBits/8 bytes; a real false positive would surface
      // here as an extra row or inflated hit total)
      val t76agg = suiteAgg(graft.operators.Decontaminate.ngramOverlapBySuiteBloom(
        docs, "doc_id", "text", suiteBench, "suite", "text", n = 3))
      check(t76agg == t74agg,
        s"scale=$c t76 per-suite Bloom attribution equals the exact form " +
          s"($t74agg vs $t76agg)")
      // llm04 (per-suite card on the multilingual flagship): the
      // TOTAL per-suite synopsis footprint — |suites| × numBits/8 —
      // must stay FIXED as each suite's accumulated gram volume grows
      // c× (the fixed-footprint contract the pipeline's data card
      // rides on; gated across scales below like the llm03 synopsis)
      val suiteBloomBytes = graft.operators.Decontaminate
        .benchSuiteBlooms(suiteBench, "suite", "text", n = 3)
        .map(_._2.length.toLong).sum
      // t75 (char-gram CJK dedup): three docs per copy (two identical
      // + one one-char-appended) behind a copy-distinct 10-char
      // prefix — within-copy jaccards are 1.0 and 36/37 ≈ 0.973,
      // cross-copy at most ~0.57, so the 0.95 floor must yield
      // EXACTLY 3 pairs per copy and never a cross-copy pair
      locally {
        import spark.implicits._
        val cjk = "深度学习模型在大规模语料库上训练需要高质量的数据清洗流程"
        val t75docs = (0 until c).flatMap { k =>
          val pre = ("" + (0x4e00 + k).toChar) * 10
          Seq((k * 100L + 1, pre + cjk), (k * 100L + 2, pre + cjk),
            (k * 100L + 3, pre + cjk + "了"))
        }.toDF("doc_id", "text")
        val t75pairs = graft.operators.Dedup.charNgramJaccardPairs(
            t75docs, "doc_id", "text", n = 3, threshold = 0.95,
            maxShingleDf = None)
          .collect()
        check(t75pairs.length == 3 * c &&
            t75pairs.forall(r => r.getLong(0) / 100 == r.getLong(1) / 100),
          s"scale=$c t75 char-gram pairs exactly 3 per copy, none " +
            s"cross-copy (${t75pairs.length})")
        // t78: the banded char-LSH pair GENERATOR (the form that runs
        // at 100 TB, where the quadratic-within-bucket exact join
        // can't) must verify to the SAME pair set as the exact form at
        // every scale. Copies are prefix-disjoint, so each copy's
        // signatures are scale-invariant and banding is deterministic
        // (fixed md5-derived seeds); a cross-copy bucket collision is
        // killed by the exact verification, so any drift here is a
        // recall loss or a band-grid bug, not noise.
        val t78pairs = graft.operators.Dedup.charMinhashLshPairs(
            t75docs, "doc_id", "text", shingleN = 3, numHashes = 12,
            bands = 4, threshold = 0.95, maxShingleDf = None)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val t75sorted = t75pairs
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        check(t78pairs == t75sorted,
          s"scale=$c t78 banded char-LSH verified pairs equal the exact " +
            s"char-pair set (${t78pairs.length} vs ${t75sorted.length})")
      }
      // t67: map-only rule gate on the verbatim side. The synthetic
      // corpus has no English stopwords (pass_stopwords is vacuously
      // false corpus-wide — the t67 oracle injects them), so the
      // linear gate counts the docs passing the four CONTENT rules
      val gopherPass = graft.operators.QualityRules
        .gopher(verbatimText.withColumn("doc_id", lit(0L)), "doc_id", "text")
        .filter(col("pass_words") && col("pass_mean_len") &&
          col("pass_symbols") && col("pass_alpha")).count()
      // t69: line rules are map-only too — derive newline structure
      // per row (split at the corpus word 'value'), count full passes
      val lined = verbatimText.withColumn("doc_id", lit(0L))
        .withColumn("t0", regexp_replace(col("text"), " value ", "\n"))
      val linePass = graft.operators.QualityRules
        .lineRules(lined, "doc_id", "t0", minTerminalFrac = 0.0)
        .filter(col("pass")).count()
      (LmRun(c, (t60r.getLong(0), t60r.getLong(1)), (t66r.getLong(0), t66r.getLong(1)),
        (t68r.getLong(0), t68r.getLong(1)), bpeToks, wpToks, uni, survivors, gopherPass,
        linePass, t70counts, t71m, t71a, gblPass, bloomBytes, t74agg, suiteBloomBytes),
        s"t60=(${t60r.getLong(0)},${t60r.getLong(1)}) " +
          s"t66=(${t66r.getLong(0)},${t66r.getLong(1)}) " +
          s"t68=(${t68r.getLong(0)},${t68r.getLong(1)}) bpe_toks=$bpeToks wp_toks=$wpToks " +
          s"uni_vocab=${uni.size} clean_survivors=$survivors gopher_pass=$gopherPass " +
          s"line_pass=$linePass")
    }
    def lm[T](f: LmRun => T) = lmRuns.map(r => r.scale -> f(r))
    run.exactLinear("t67 gopher 4-rule pass count on verbatim copies", lm(_.gopherPass))
    run.exactLinear("t69 line-rule pass count on verbatim copies", lm(_.linePass))
    run.exactLinear("t61 byte-BPE token total", lm(_.bpeToks))
    run.exactLinear("t64 WordPiece token total", lm(_.wpToks))
    // the synopses stay numBits/8 bytes while the benchmark's gram
    // volume grows with the scale
    run.constant("llm03 Bloom synopsis bytes", lm(_.bloomBytes))
    run.constant("llm04 TOTAL per-suite synopsis bytes", lm(_.suiteBloomBytes))
    val l1 = lmRuns.head
    lmRuns.tail.foreach { r =>
      val c = r.scale
      def exact(x1: Long, x: Long) = SmokeGates.linear(l1.scale, x1, c, x)
      // t71: same language set at every scale; per-language scored
      // rows exactly linear; tercile split ntile-balanced (±1 of n/3)
      check(r.t71.keySet == l1.t71.keySet,
        s"scale=$c t71 routed language set stable (${l1.t71.keySet}->${r.t71.keySet})")
      r.t71.foreach { case (lang, buckets) =>
        val rows = buckets.values.sum
        val baseRows = l1.t71.get(lang).map(_.values.sum).getOrElse(0L)
        check(exact(baseRows, rows),
          s"scale=$c t71 lang=$lang scored rows EXACTLY linear ($baseRows->$rows)")
        check(buckets.values.forall(b => math.abs(b - rows / 3.0) <= 1.0),
          s"scale=$c t71 lang=$lang terciles within +/-1 of n/3 ($buckets)")
        // approx boundaries: same rows per language; per-bucket counts
        // within the tie allowance of the exact cut (every base doc
        // has c verbatim-copy ties — value labeling keeps a tied run
        // in ONE bucket, ntile splits it, so each of the two
        // boundaries may move up to c docs)
        val ab = r.t71approx.getOrElse(lang, Map.empty[String, Long])
        check(ab.values.sum == rows &&
            Seq("head", "middle", "tail").forall(bk =>
              math.abs(ab.getOrElse(bk, 0L) - buckets.getOrElse(bk, 0L)) <= 2L * c),
          s"scale=$c t71 lang=$lang approx-boundary buckets within the tie " +
            s"allowance of exact (exact=$buckets approx=$ab)")
      }
      // scored-row total must be exactly linear; the per-bucket split
      // is ntile's ±1 balance around n/3 (exact c× bucket counts only
      // hold when the doc count divides by 3 — a fixture-size change
      // must not fail this gate)
      val t70tot = r.t70counts.sum
      check(t70tot == l1.t70counts.sum * c &&
          r.t70counts.forall(b => math.abs(b - t70tot / 3.0) <= 1.0),
        s"scale=$c t70 scored total EXACTLY linear, buckets within +/-1 of n/3 " +
          s"(${l1.t70counts}->${r.t70counts})")
      check(r.gblPass.keySet == l1.gblPass.keySet &&
          r.gblPass.forall { case (lang, n) => exact(l1.gblPass(lang), n) },
        s"scale=$c llm02 per-language rule gate pass counts EXACTLY linear " +
          s"per language on verbatim copies (${l1.gblPass}->${r.gblPass})")
      check(r.t74.keySet == l1.t74.keySet &&
          r.t74.forall { case (suite, (rows, hits)) =>
            exact(l1.t74(suite)._1, rows) && exact(l1.t74(suite)._2, hits) },
        s"scale=$c t74 per-suite attribution rows and hit totals EXACTLY " +
          s"linear per suite (${l1.t74}->${r.t74})")
      Seq(("t60", l1.t60, r.t60), ("t66", l1.t66, r.t66), ("t68", l1.t68, r.t68)).foreach {
        case (q, (rows1, grams1), (rows, grams)) =>
          check(exact(rows1, rows) && exact(grams1, grams),
            s"scale=$c $q scored rows/grams EXACTLY linear (($rows1,$grams1)->($rows,$grams))")
      }
      // the learned INVENTORY is exactly replication-invariant (every
      // EM ratio and pruning rank is count-ratio-driven); counts are
      // raw corpus counts (×c) EXCEPT unused singles, which the
      // trainer floors to 1 unscaled — that floor also shifts the
      // normalization total by O(#singles/N), so scores carry a
      // principled micro-nat wobble (measured 3–4 micro at 3×/10×;
      // gated at ≤20)
      val base8 = l1.uni.map(p => p.piece -> p).toMap
      check(r.uni.map(_.piece) == l1.uni.map(_.piece) &&
          r.uni.forall { p =>
            val b = base8(p.piece)
            val floored = b.count == 1L && p.count == 1L
            // a floored single's OWN score legitimately shifts by
            // ~ln c (its count is pinned while the total grows)
            floored ||
              (p.count == b.count * c &&
                math.abs(p.scoreMicro - b.scoreMicro) <= 20L)
          },
        s"scale=$c t63 unigram-LM inventory IDENTICAL, counts ${c}x and scores " +
          s"within 20 micro-nats (floored singles exempt; ${l1.uni.size} pieces)")
    }
    // llm01 survivors are AFFINE in the copy count (copy 0 keeps the
    // base's quality/stopword profile; prefixed copies share a second
    // profile), so three scales pin the exact line: s(c) = s1 + (c−1)·m
    if (lmRuns.length >= 3) {
      val s = lmRuns.map(r => (r.scale, r.survivors))
      val m2 = (s(1)._2 - s(0)._2) / (s(1)._1 - s(0)._1)
      val predicted = s(0)._2 + (s(2)._1 - s(0)._1) * m2
      check(s(2)._2 == predicted,
        s"llm01-family survivors EXACTLY affine in copies " +
          s"(${s.map(_._2).mkString(",")}; predicted ${predicted} at ${s(2)._1}x)")
    }
    run.finish()
  }
}
