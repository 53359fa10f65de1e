package graft.operators

import graft.functions.{PortableHash, ScalarFunctions, TextFunctions}
import graft.util.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication suite for training-data pipelines: exact,
 * n-gram Jaccard, MinHash+LSH, SimHash, embedding cosine. The
 * reference's own dedup is only exact-key (`drop_duplicates` after
 * upsert, reference `processors/leaderboards/main.py:182-189`); the
 * near-dup family is the standard public construction (Broder 1997
 * MinHash, Charikar 2002 SimHash) built Spark-first:
 *
 *  - shingling/hashing are codegen'd column expressions
 *    ([[TextFunctions.shingles]], [[TextFunctions.minhashSignature]]);
 *  - candidate generation is an equi-join on a bucket key (band hash /
 *    LSH bucket / shared shingle), never an all-pairs product, so the
 *    shuffle stays proportional to data size at 100 TB;
 *  - hot buckets (stop-shingles) are droppable via `maxShingleDf`, the
 *    standard skew guard.
 */
object Dedup {

  /** Exact dedup: keep the lowest `idCol` row per identical content.
    * Partition by the content itself, not a hash of it — no collision
    * risk, same single shuffle. */
  def exactKeepFirst(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(contentCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Canonical-near-exact groups: groups documents whose CANONICAL
    * text (lowercased, punctuation stripped — [[TextFunctions
    * .canonicalText]]) is identical, keyed by its full 128-bit md5.
    * Deliberately weaker than byte-exact [[exactKeepFirst]] (that is
    * what makes it a useful near-dup tier); the full-width digest
    * keeps birthday collisions negligible at billions of documents
    * (p ≈ n²/2¹²⁹), unlike a 64-bit truncation. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(TextFunctions.canonicalText(col(textCol))).as("fingerprint"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_dups"))

  /**
   * Incremental ingestion dedup with a Bloom prefilter — the 100 TB
   * form of the S6 checkpoint anti-join: keep the `batch` rows whose
   * key is NOT present in `history`. Result is EXACTLY the plain
   * anti-join (Bloom filters have no false negatives, so a Bloom miss
   * is definitely new and skips the join; hits — true dups plus the
   * `fpp` false positives — are verified by an exact anti-join whose
   * left side is now only the hit fraction, instead of the whole
   * incoming batch shuffling against the whole corpus).
   *
   * The filter is built executor-side (`stat.bloomFilter` is a
   * treeAggregate) over `xxhash64(keys)` and broadcast once. A 64-bit
   * hash collision cannot break exactness: a miss still proves the
   * row's hash (hence its key) is absent, and every hit is re-checked
   * on the REAL key columns.
   *
   * Regime guard: bloom bits grow with history cardinality (~1.2 GB
   * per 10⁹ keys at 1% fpp), so when the configured filter would
   * exceed `maxBloomBytes` the operator falls back to the plain
   * anti-join — at that size the broadcast, not the shuffle, is the
   * bottleneck. Beyond-reference: the reference's done-set checkpoint
   * (the scrapers' done-file pattern) is driver-memory bound.
   */
  def incrementalDedupBloom(
      batch: DataFrame, history: DataFrame, keyCols: Seq[String],
      expectedItems: Long, fpp: Double = 0.01,
      maxBloomBytes: Long = 256L << 20): DataFrame = {
    val histKeys = history.select(keyCols.map(col): _*).distinct()
    val numBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)
    if (numBits / 8 > maxBloomBytes)
      batch.join(histKeys, keyCols, "left_anti")
    else if (history.isEmpty)
      // cold start (first-ever batch): everything is new, and Spark's
      // stat.bloomFilter returns a null buffer on zero rows (NPE).
      // Probe the RAW history (limit-1 scan, early-out at the first
      // row) — probing histKeys would run the distinct's map stage
      // over the whole history on every steady-state call
      batch
    else {
      val fp = xxhash64(keyCols.map(col): _*)
      val bf = history.select(fp.as("__fp")).stat
        .bloomFilter("__fp", expectedItems, fpp)
      val bcast = batch.sparkSession.sparkContext.broadcast(bf)
      // native codegen probe (no UDF): the prefilter stays a single
      // WholeStageCodegen map stage over the batch scan
      val tagged = batch.withColumn("__bloom_hit",
        graft.plans.BloomMightContainExpr.mightContain(fp, bcast))
      tagged.filter(!col("__bloom_hit")).drop("__bloom_hit")
        .unionByName(
          tagged.filter(col("__bloom_hit")).drop("__bloom_hit")
            .join(histKeys, keyCols, "left_anti"))
    }
  }

  /** (id, shingle) pairs, distinct, with optional document-frequency
    * cap dropping shingles that appear in more than `maxShingleDf`
    * docs (stop-shingles are pure noise for similarity and are the
    * skew bomb in the self-join). */
  def shingled(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // two selects on purpose: the token array must be an ATTRIBUTE
    // when captured by the shingle lambda, or the tokenizer re-runs
    // per array element (see TextFunctions.shinglesFromTokens).
    // CollapseProject keeps the boundary because __toks is non-cheap
    // and referenced more than once.
    // array_distinct BEFORE the explode: (id, sh) duplicates can only
    // come from repeats inside one document's shingle array, so the
    // per-row dedup is equivalent to a global distinct() — minus the
    // full (id, sh) exchange distinct() would cost.
    val base = df
      .select(col(idCol).as("id"),
        TextFunctions.tokens(TextFunctions.canonicalText(col(textCol))).as("__toks"))
      .select(col("id"),
        explode(array_distinct(TextFunctions.shinglesFromTokens(col("__toks"), n))).as("sh"))
    dfCapped(base, maxShingleDf)
  }

  /** (id, shingle) pairs over CHARACTER n-grams of the canonical text
    * (lowercase, whitespace collapsed — [[LangId.canonical]], the
    * native O(len) [[graft.plans.CharNgramsExpr]] walk): the shingle
    * unit for UNSEGMENTED scripts. A CJK document is ONE whitespace
    * token, so the word-shingle form sees no shingles at all and
    * every word-level dedup operator is structurally blind to it;
    * char n-grams are what production CJK dedup shingles on. Same
    * distinct-per-doc and DF-cap semantics as [[shingled]]. */
  def charShingled(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      maxShingleDf: Option[Int] = None): DataFrame =
    dfCapped(
      df.select(col(idCol).as("id"),
        explode(array_distinct(LangId.charNgrams(col(textCol), n))).as("sh")),
      maxShingleDf)

  /** The document-frequency skew cap shared by the shingle sources:
    * drops shingles appearing in more than `maxShingleDf` docs
    * (stop-shingles are pure noise for similarity and the skew bomb
    * in the self-join), with the drops OBSERVED (no-silent-caps):
    * stop_shingles_dropped / doc_shingle_rows_dropped ride the count
    * aggregate and print via util.Metrics.enableLogging. */
  private def dfCapped(base: DataFrame, maxShingleDf: Option[Int]): DataFrame =
    maxShingleDf match {
      case None => base
      case Some(cap) =>
        val dfCounts = base.groupBy("sh").agg(count(lit(1)).as("__df"))
          .observe(graft.util.Metrics.observationName("shingle_df_cap"),
            sum(when(col("__df") > cap, 1L).otherwise(0L)).as("stop_shingles_dropped"),
            sum(when(col("__df") > cap, col("__df")).otherwise(0L)).as("doc_shingle_rows_dropped"))
          .filter(col("__df") <= cap)
        base.join(dfCounts.select("sh"), Seq("sh"), "left_semi")
    }

  /**
   * Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥
   * threshold). One equi-join on shared shingles + two broadcast-able
   * size joins; cost is Σ df(shingle)², which `maxShingleDf` bounds
   * (defaulted — pass None only on corpora known to lack hot
   * shingles; an uncapped hot shingle is a quadratic skew bomb).
   */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double,
      maxShingleDf: Option[Int] = Some(1000)): DataFrame =
    jaccardPairsFromShingles(shingled(df, idCol, textCol, n, maxShingleDf), threshold)

  /** CHARACTER-n-gram Jaccard near-dup pairs — [[ngramJaccardPairs]]
    * over [[charShingled]]: the CJK/unsegmented-script dedup form (an
    * unsegmented document is ONE whitespace token, so the word form
    * has no shingles for it and misses even byte-identical copies
    * short of exact-hash dedup; char n-grams restore the near-dup
    * signal). Same DF skew cap, same denominator semantics. */
  def charNgramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double,
      maxShingleDf: Option[Int] = Some(1000)): DataFrame =
    jaccardPairsFromShingles(charShingled(df, idCol, textCol, n, maxShingleDf), threshold)

  /** The shared exact-Jaccard pair machinery over one (id, sh) frame. */
  private def jaccardPairsFromShingles(
      sh0: DataFrame, threshold: Double): DataFrame = {
    val (inter, sizes) = selfIntersections(sh0)
    jaccardVerified(inter, sizes, sizes, threshold).select("id_a", "id_b", "jaccard")
  }

  /** The all-pairs shingle machinery of [[jaccardPairsFromShingles]]
    * and [[ngramContainmentPairs]] over one (id, sh) frame: its
    * per-doc sizes (id, n_sh) and the shared-shingle counts
    * (id_a, id_b, n_inter) of every pair with id_a < id_b that shares
    * a shingle. */
  private def selfIntersections(sh0: DataFrame): (DataFrame, DataFrame) = {
    // persisted: referenced by the size aggregate AND both sides of
    // the pair join — without it the tokenize+explode+distinct
    // pipeline re-runs up to 3× (exchange reuse is not guaranteed
    // under AQE). ~16 bytes/shingle; spills to disk if large.
    val sh = Caches.persist(sh0)
    // materialize once before fan-out: the consumers are independent
    // stages the scheduler runs concurrently, and on first touch each
    // would race to compute the same uncached partitions (duplicate
    // tokenize+explode+distinct runs)
    sh.count()
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    (inter, shingleSetSizes(sh))
  }

  /** Per-doc shingle-set sizes (id, n_sh) of an (id, sh) frame. */
  private[operators] def shingleSetSizes(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(count(lit(1)).as("n_sh"))

  /** Candidate pairs' shared-shingle counts (id_a, id_b, n_inter) with
    * both sides' set sizes attached as n_a and n_b (size frames are
    * (id, n_sh)). */
  private def withSizes(inter: DataFrame, sizesA: DataFrame, sizesB: DataFrame): DataFrame =
    inter.join(sizesA.toDF("id_a", "n_a"), "id_a").join(sizesB.toDF("id_b", "n_b"), "id_b")

  /** The one exact-Jaccard verdict: the pairs of `inter` (id_a, id_b,
    * n_inter) whose `jaccard` = round(n_inter / (n_a + n_b − n_inter),
    * 6) reaches `threshold`, sizes looked up in `sizesA`/`sizesB`
    * (id, n_sh). */
  private[operators] def jaccardVerified(
      inter: DataFrame, sizesA: DataFrame, sizesB: DataFrame, threshold: Double): DataFrame =
    withSizes(inter, sizesA, sizesB)
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)

  /** Shared-shingle counts (id_a, id_b, n_inter) of the candidate
    * pairs `cand` (id_a, id_b), id_a's shingles from `shA` and id_b's
    * from `shB` (both (id, sh)). The second join keys on (id_b, sh):
    * per candidate pair this streams the intersection instead of
    * materializing the n_a × n_b product. */
  private def candidateIntersections(
      cand: DataFrame, shA: DataFrame, shB: DataFrame): DataFrame =
    cand
      .join(shA.toDF("id_a", "sh"), "id_a")
      .join(shB.toDF("id_b", "sh"), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))

  /**
   * Asymmetric n-gram CONTAINMENT pairs: `n_inter / min(|A|, |B|)` —
   * the excerpt/quote detector Jaccard structurally misses (a 25-token
   * excerpt inside a 500-token article has Jaccard ≈ 0.05 but
   * containment 1.0; Broder 1997 distinguishes "resemblance" from
   * "containment" for exactly this). Same bounded shingle-join
   * machinery as [[ngramJaccardPairs]] — the df cap is the skew
   * guard — with the min-size denominator.
   */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double,
      maxShingleDf: Option[Int] = Some(1000)): DataFrame = {
    val (inter, sizes) = selfIntersections(shingled(df, idCol, textCol, n, maxShingleDf))
    withSizes(inter, sizes, sizes)
      .withColumn("containment",
        round(col("n_inter").cast("double") / least(col("n_a"), col("n_b")), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /**
   * MinHash signatures: (id, array<long> of `numHashes` minima).
   *
   * Computed ROW-wise — explode (id, shingle) × seed, hash, then
   * `groupBy(id, seed).min` — not as one wide array expression. The
   * array form duplicates the whole shingle subtree numHashes×bands
   * times inside a single projection, which blows up codegen (1 MiB
   * task binaries, 100× slowdown observed at 500 docs); the row form
   * keeps every expression small and turns the cost into a shuffle
   * that scales linearly with corpus size. Docs with no shingles are
   * naturally absent (matching the previous empty-signature filter).
   */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int): DataFrame =
    minhashSignaturesFromShingles(shingled(df, idCol, textCol, shingleN), numHashes)

  /** Signature computation from an existing (id, sh) frame — lets
    * callers share one shingle scan across stages.
    *
    * The `numHashes` minima are separate aggregate columns of ONE
    * `groupBy(id)` — each row computes its hashes in place and the
    * map-side partial aggregation reduces them before the shuffle, so
    * the exchange carries |docs| rows of numHashes longs. (The
    * explode-by-seed formulation shuffles |shingles|×numHashes rows —
    * a 20M-row exchange at 5k docs.)
    *
    * Each row md5-hashes its shingle ONCE; the per-seed values are the
    * universal family (aᵢ·h+bᵢ) mod 2³¹−1 over that base hash
    * ([[PortableHash.minhashParams]]) — numHashes multiply-adds
    * instead of numHashes md5 calls, ~10× less CPU in the signature
    * stage and the same bit-for-bit reproducibility in the SQL
    * oracle. */
  def minhashSignaturesFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    import graft.functions.PortableHash.{MinhashP, minhashParams}
    val params = minhashParams(numHashes)
    val withBase = sh.withColumn("__h31",
      ScalarFunctions.md5Long(col("sh")).bitwiseAND(lit(MinhashP)))
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      min((col("__h31") * a + b) % MinhashP).as(s"__h$i")
    }
    withBase.groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /**
   * MinHash+LSH candidate pairs: signatures split into `bands` bands
   * of `numHashes/bands` rows; docs colliding in ANY band are
   * candidates (id_a < id_b, distinct). Collision probability is the
   * classic S-curve 1-(1-s^r)^b. Only candidates ever meet in a join.
   */
  def minhashLshCandidates(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, bands: Int): DataFrame =
    minhashLshCandidatesFromShingles(shingled(df, idCol, textCol, shingleN), numHashes, bands)

  /** Candidate generation from an existing (id, sh) frame. */
  def minhashLshCandidatesFromShingles(
      sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val banded = minhashBands(sh, numHashes, bands)
    banded.as("x")
      .join(banded.as("y"), col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** The one MinHash band key: (id, band, bucket) per signature band,
    * `bucket` = md5 of the band index and the band's `numHashes/bands`
    * minima. The band index is part of the hash, so two docs share a
    * bucket string iff they agree on one whole band (up to md5
    * collision) and a candidate join keys on `bucket` alone — the one
    * key a bucketed band table ([[DedupIndex]]) co-locates on. */
  private[operators] def minhashBands(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    minhashSignaturesFromShingles(sh, numHashes).select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws(",", b, slice(col("sig"), b * r + 1, lit(r)))))))
      .toDF("id", "band", "bucket")
  }

  /** Full MinHash-LSH dedup: LSH candidates verified with exact n-gram
    * Jaccard ≥ threshold. */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    lshPairsFromShingles(shingled(df, idCol, textCol, shingleN),
      numHashes, bands, threshold)

  /** CHARACTER-n-gram MinHash-LSH near-dup pairs — [[minhashLshPairs]]
    * over [[charShingled]]: the banded pair GENERATOR for
    * CJK/unsegmented corpora (t75's exact char-Jaccard form is
    * quadratic within a shared shingle; at 100 TB the LSH banding is
    * what proposes pairs). Signatures, sizes and the verification
    * intersection all run over the SAME df-capped char-gram frame
    * (char trigrams of natural text are far hotter than word
    * shingles — an uncapped corpus-wide gram is the usual skew bomb,
    * and a stop-gram adds no similarity signal), so the exact-Jaccard
    * verdict uses t75's capped-denominator semantics. */
  def charMinhashLshPairs(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, bands: Int, threshold: Double,
      maxShingleDf: Option[Int] = Some(1000)): DataFrame =
    lshPairsFromShingles(charShingled(df, idCol, textCol, shingleN, maxShingleDf),
      numHashes, bands, threshold)

  /** The shared LSH-candidates + exact-verification machinery over one
    * (id, sh) frame. */
  private def lshPairsFromShingles(
      sh0: DataFrame, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    // one shingle scan feeds signatures, sizes and the intersection
    // join — persist it (see selfIntersections). Column order
    // is normalized first: the DF-cap's semi-join puts the key column
    // first, and the intersection join renames POSITIONALLY.
    val sh = Caches.persist(sh0.select("id", "sh"))
    sh.count() // see selfIntersections: defuse the concurrent-first-touch race
    val sizes = shingleSetSizes(sh)
    jaccardVerified(
        candidateIntersections(minhashLshCandidatesFromShingles(sh, numHashes, bands), sh, sh),
        sizes, sizes, threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Incremental NEAR-dup ingestion filter — the MinHash-LSH analogue
   * of [[incrementalDedupBloom]]: keep the `batch` rows that are not
   * near-duplicates (exact n-gram Jaccard ≥ `threshold`, candidates
   * from LSH banding) of ANY `history` row. A batch row whose text
   * also appears in history drops via its self-match (jaccard 1.0).
   * Within-batch duplicates are deliberately NOT touched — that is
   * [[minhashLshPairs]]/[[connectedComponents]]'s job; composing the
   * two keeps each operator's semantics single-purpose.
   *
   * 100 TB shape: candidates come from an equi-join of the two sides'
   * band buckets, never a cross join — and the history side's banded
   * table is exactly the LSH INDEX a production pipeline precomputes
   * once and stores (append new batches' bands to it as they pass the
   * gate), so steady-state cost is bands×|batch| probe rows against a
   * bucket-keyed table plus exact verification confined to candidate
   * pairs. Verification streams the shingle intersection per candidate
   * (the [[minhashLshPairs]] join shape) instead of materializing
   * signature arrays against every candidate.
   */
  def incrementalNearDupLsh(
      batch: DataFrame, history: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val shB = Caches.persist(shingled(batch, idCol, textCol, shingleN))
    val shH = Caches.persist(shingled(history, idCol, textCol, shingleN))
    def bucketsOf(sh: DataFrame, id: String): DataFrame =
      minhashBands(sh, numHashes, bands).select(col("id").as(id), col("bucket"))
    val cand = bucketsOf(shB, "id_a").join(bucketsOf(shH, "id_b"), Seq("bucket"))
      .select("id_a", "id_b").distinct()
    shB.count(); shH.count() // defuse the concurrent-first-touch race
    val drops = Caches.persist(
      jaccardVerified(candidateIntersections(cand, shB, shH),
          shingleSetSizes(shB), shingleSetSizes(shH), threshold)
        .select(col("id_a").as(idCol)).distinct())
    // materialize the (small: drop-ids only) verdict; it and the two
    // shingle caches live until the caller's scope ends, so a
    // foreachBatch ingestion loop opens one scope per batch
    drops.count()
    batch.join(drops, Seq(idCol), "left_anti")
  }

  /** 60-bit SimHash signature per document over canonical tokens —
    * a native codegen'd expression ([[graft.plans.SimHash60Expr]]),
    * not a UDF: the projection stays inside WholeStageCodegen with no
    * Row→Seq conversion per document. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      graft.plans.SimHash60Expr.simhash60(
        TextFunctions.tokens(TextFunctions.canonicalText(col(textCol))))
        .as("simhash"))

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxHamming: the
   * 60-bit signature bands into four 15-bit chunks ([[Banding]]), so
   * by pigeonhole the chunk join finds every pair within Hamming 3.
   */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame =
    SimhashBanding.hammingPairs(
      simhashSignatures(df, idCol, textCol), "id", "simhash", maxHamming)

  /** 4×15-bit chunks: the whole 60-bit SimHash. */
  private val SimhashBanding = Banding(15, 4)

  /**
   * Embedding near-dup pairs, brute force: all pairs with cosine ≥
   * threshold. Quadratic — correct baseline and the verification
   * oracle for [[embeddingNearDupLsh]]; use the LSH form at scale.
   */
  def embeddingNearDupBrute(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    // norms precomputed ROW-wise, not per pair: the O(n²) join should
    // pay one fused dot per pair, not three (the oracle's n-CTE does
    // exactly this, so cosines stay bit-identical)
    val n = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      graft.functions.VectorFunctions.l2Norm(col(vecCol)).as("nrm"))
    val a = n.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = n.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(
        when(col("n_a") * col("n_b") === 0, 0.0)
          .otherwise(graft.functions.VectorFunctions.dot(col("v_a"), col("v_b")) /
            (col("n_a") * col("n_b"))), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /**
   * Connected components over near-dup pairs — the cluster-formation
   * step every dedup pipeline ends with (pick one canonical doc per
   * component). Alternating LARGE-STAR / SMALL-STAR rounds (Kiveris
   * et al., "Connected Components in MapReduce and Beyond", SoCC'14):
   * each round is two relational passes (per-node min + re-point), no
   * neighbor-list materialization anywhere, so a hot node with 10⁸
   * dup edges never assembles its adjacency in one task — the
   * algorithm's whole point at 100 TB. Converges in O(log²) rounds;
   * every round cuts its (shrinking) edge set, truncating lineage,
   * and releases the round before it.
   *
   * Input: undirected edges (`id_a`, `id_b`). Output: (`id`,
   * `component`) for every node that appears in an edge, where
   * `component` is the smallest id in the node's component.
   */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30,
      maxDriverEdges: Long = 500000L): DataFrame = {
    val spark = edges.sparkSession
    // persist the raw projection FIRST: `edges` may be an expensive
    // plan (t09's pair join), and both the node set and the edge set
    // derive from it — without this the upstream pipeline re-runs
    // once per union branch when the output is finally consumed
    val raw = Caches.persist(edges
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b")))
    val rawCount = raw.count()
    val nodes = raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id")))
      .distinct()

    var e = Caches.persist(raw
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct())

    // limit-probed hybrid (the PlayerMap broadcast/cogroup pattern):
    // a dup-pair graph is usually FAR smaller than the corpus — when
    // it fits comfortably on the driver, a union-find is exact and
    // avoids ~4 jobs per star round; the distributed rounds below are
    // the path for graphs that don't fit.
    // `e` is a filtered+deduped subset of `raw`, so the already-paid
    // materialization count answers the common small case; the limit
    // probe only runs when raw alone can't prove smallness
    val small = rawCount <= maxDriverEdges ||
      e.limit(math.min(maxDriverEdges + 1, Int.MaxValue.toLong).toInt).count() <= maxDriverEdges
    if (small) {
      import spark.implicits._
      val es = e.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map[Long, Long]()
      // ITERATIVE find with path compression: union-by-min builds
      // chains on adversarial edge orders, and a path-shaped 500k-edge
      // component would blow the stack with a recursive find
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical = min id per root group (find() roots are already
      // minima because unions always point larger roots at smaller)
      val comp = parent.keys.map(x => x -> find(x)).toMap
      val compDf = comp.toSeq.toDF("id", "component")
      val out = nodes.join(broadcast(compDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      return out
    }

    def signature(df: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and overflow-free under ANSI mode
      val r = df.select(xxhash64(col("a"), col("b")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: every strictly-larger neighbor re-points to the
      // node's minimum (of itself and all neighbors)
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a")
        .agg(min(col("b")).as("__mn"))
        .select(col("a").as("__u"), least(col("a"), col("__mn")).as("__m"))
      val ls = sym.join(mins, sym("a") === col("__u"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("__m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // SMALL-STAR: smaller-or-equal neighbors (and the node) re-point
      // to the minimum of the smaller neighborhood
      val dir = ls.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      val mins2 = dir.groupBy("u").agg(min(col("v")).as("m"))
      val prev = e
      val prevSig = sig
      // one cut per round truncates the per-round lineage; the round
      // before it releases once the new signature is read
      e = Caches.cut(dir.join(mins2, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins2.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct())
      sig = signature(e)
      Caches.release(prev)
      converged = sig == prevSig
      iter += 1
    }

    // a silent wrong answer is worse than failing: the paper bounds
    // convergence at O(log^2 n) rounds, so 30 covers any real graph
    require(converged, s"connectedComponents did not converge in $maxIter rounds")

    // the converged edge set is a star forest: every edge (root=a, v=b)
    // with a = component min. Roots map to themselves; nodes whose
    // component collapsed keep their star edge.
    val comp = e.select(col("b").as("id"), col("a").as("component"))
      .union(e.select(col("a").as("id"), col("a").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
    val out = nodes.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    out
  }

  /**
   * Semantic corpus dedup (the SemDeDup keep-rule, Abbas et al. 2023,
   * public method): rows whose embeddings are near-duplicates keep
   * ONE representative — the minimum id of each near-dup cluster —
   * and every other cluster member is dropped; rows with no near-dup
   * pass through untouched. Clusters come from connected components
   * over the [[embeddingNearDupLsh]] pair graph, so transitive chains
   * (a≈b≈c with cos(a,c) below threshold) still collapse to one
   * representative.
   *
   * Scale shape: the pair graph is bucket-local ([[embeddingNearDupLsh]]),
   * the component labeling is dup-graph-sized (driver union-find or
   * star rounds — [[connectedComponents]]), and the corpus is touched
   * by ONE anti-join against the (small) drop-list.
   */
  def dropEmbeddingNearDups(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      numPlanes: Int, threshold: Double): DataFrame = {
    // fail fast on non-integral ids: connectedComponents labels ride
    // as longs, and a string id would either throw mid-job under ANSI
    // or (ANSI off) cast to null and silently dedup NOTHING
    val idType = emb.schema(idCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(idType.typeName),
      s"dropEmbeddingNearDups needs an integral id column, got $idCol: ${idType.typeName}")
    val pairs = embeddingNearDupLsh(emb, idCol, vecCol, dim, numPlanes, threshold)
    val comp = connectedComponents(pairs.select("id_a", "id_b"))
    val dropIds = comp.filter(col("id") =!= col("component"))
      .select(col("id").cast("long").as(idCol))
    emb.join(dropIds, Seq(idCol), "left_anti")
  }

  /**
   * Generic cluster keep-rule: given ANY near-dup pair graph over
   * `docs` (n-gram Jaccard, MinHash, SimHash, embedding — every pair
   * generator in this file emits the (id_a, id_b) shape), keep the
   * member with the HIGHEST `scoreCol` of each connected component
   * (ties → lowest id) and every unpaired document. With a length
   * score this is RefinedWeb's keep-longest policy; with a quality
   * score, keep-best. [[dropEmbeddingNearDups]] is the min-id special
   * case for embeddings.
   *
   * The ranking window runs over CLUSTER MEMBERS ONLY (dup-graph
   * sized); the corpus is touched by one score-attach join and one
   * anti-join against the loser ids — no corpus-wide sort-shuffle.
   */
  def keepBestPerCluster(
      docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(idType.typeName),
      s"keepBestPerCluster needs an integral id column, got $idCol: ${idType.typeName}")
    // everything below the corpus anti-join is DUP-GRAPH-SIZED: the
    // ranking window runs over cluster members only (an unpaired doc
    // never enters it), so the corpus is touched exactly twice — the
    // inner join attaching scores to members, and the final anti-join
    // removing the losers. Internal columns are uniquely prefixed so
    // caller columns (including a 'component' from a prior labeling)
    // can never collide.
    val comp = connectedComponents(pairs.select("id_a", "id_b"))
      .select(col("id").as("__kbc_id"), col("component").as("__kbc_comp"))
    val members = docs
      .select(col(idCol).cast("long").as("__kbc_id"), col(scoreCol).as("__kbc_score"))
      .join(comp, Seq("__kbc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__kbc_comp").orderBy(col("__kbc_score").desc, col("__kbc_id"))
    val losers = members
      .withColumn("__kbc_rn", row_number().over(w))
      .filter(col("__kbc_rn") > 1)
      // cast back so the anti-join key keeps the caller's id type
      .select(col("__kbc_id").cast(idType).as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding near-dup via sign-LSH bucketing: only vectors sharing a
    * bucket are compared. Linear shuffle, bucket-local quadratic. */
  def embeddingNearDupLsh(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      numPlanes: Int, threshold: Double): DataFrame = {
    val bucketed = emb.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      graft.functions.VectorFunctions.l2Norm(col(vecCol)).as("nrm"),
      graft.functions.VectorFunctions.signLshBucket(col(vecCol), dim, numPlanes).as("bucket"))
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", round(
        when(col("a.nrm") * col("b.nrm") === 0, 0.0)
          .otherwise(graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm"))), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }
}
