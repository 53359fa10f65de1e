package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.StoreManifest
import graft.util.Caches

/**
 * Persisted MinHash-LSH ingest index — the TEXT twin of [[AnnIndex]]:
 * [[Dedup.incrementalNearDupLsh]] documents that "the history side's
 * banded table is exactly the LSH index a production pipeline
 * precomputes once and stores"; this operator IS that store. A
 * corpus's band buckets (candidate generation), its shingle table
 * (exact-Jaccard verification) and its per-doc shingle COUNTS persist
 * as parquet; each ingest batch probes them with candidate-bounded
 * joins, and ACCEPTED batches append — steady-state cost never
 * re-shingles OR re-aggregates history.
 *
 * Layout under `path` (versions published by the shared
 * [[graft.io.StoreManifest]] pointer-commit log, so [[compact]] can
 * rewrite all tables and publish them atomically):
 *  - `bands/v<N>/` — (id, band, bucket) written as a BUCKETED table
 *    hash-partitioned on `bucket`, where the bucket string is
 *    `md5(band, slice…)` ([[Dedup.minhashBands]], the one MinHash
 *    band key) — the band INDEX is part of the hash (manifest
 *    `band_enc=2`), so the batch probe is a SINGLE-KEY join
 *    on `bucket` and the history band scan is consumed with ZERO
 *    exchange (V1 bucketed joins co-locate only on the exact bucket
 *    column; a band-equality residual does not survive Catalyst — it
 *    folds back into the join keys and disables the bucketed scan).
 *    Same bucket string ⟺ same band and same slice content (up to
 *    md5 collision);
 *  - `shingles/v<N>/` — (id, sh): the verification side, written as a
 *    BUCKETED table (hash-bucketed by `sh`, sorted by `id` inside each
 *    bucket file; bucket count in the manifest, catalog entry
 *    re-registered on demand). Bucketing by `sh` means the
 *    intersection join consumes the history side with NO exchange —
 *    the scan's HashPartitioning(sh) satisfies the join's (hid, sh)
 *    clustering — and the per-file `id` sort gives tight row-group
 *    stats, so [[gate]]'s candidate-id pushdown prunes history bytes
 *    that hold no candidate (steady-state: scanned bytes are bounded
 *    by the batch's candidate neighborhoods, not by history size);
 *  - `sizes/v<N>/` — (id, n_sh): per-doc shingle-set sizes,
 *    precomputed at write/upsert so the gate's Jaccard denominator is
 *    a candidate-bounded lookup, NEVER a re-aggregation of the full
 *    history shingle table (the r13 scale finding).
 *
 * Every store is in this one layout: [[write]] records the table
 * versions, `buckets`/`band_buckets`, `band_enc=2`, the shingle unit
 * and the grid, and an operation on a store whose manifest lacks one
 * of those keys fails at once, naming it.
 *
 * Determinism: banding and verification are [[Dedup]]'s own kernels
 * ([[Dedup.shingled]], the one MinHash band key, the one exact-Jaccard
 * verifier), so [[gate]] over the persisted index is row-identical to
 * [[Dedup.incrementalNearDupLsh]] against the same history corpus —
 * spec-pinned, and the t65 oracle replays the full two-batch
 * lifecycle in SQL.
 */
object DedupIndex {

  /** Above this many DISTINCT candidate history ids the gate switches
    * from the collected-id pushdown (row-group pruning in the shingle
    * scan) to a distributed semi-join prune — the limit-probed hybrid
    * idiom of [[Dedup.connectedComponents]]. */
  private val MaxDriverHids = 50000

  /** The manifest keys of the one store layout, all written by [[write]]
    * and carried by [[compact]]. */
  private val LayoutKeys = Seq("bands", "shingles", "sizes", "buckets", "band_buckets",
    "band_enc", "char_shingles", "shingle_n", "num_hashes", "bands_n")

  /** The current snapshot of the store at `path`, checked to be in the
    * layout [[write]] produces. */
  private def manifest(spark: SparkSession, path: String): Map[String, Int] = {
    val m = StoreManifest.current(spark, path)
    for (k <- LayoutKeys) require(m.contains(k),
      s"DedupIndex store at $path has no `$k` in its manifest: not a store in the " +
        "layout DedupIndex.write produces; re-write it")
    require(m("band_enc") == 2,
      s"DedupIndex store at $path has band_enc=${m("band_enc")}, not 2; re-write it")
    m
  }

  /** Write one shingle-table version BUCKETED by `sh` — the steady-
    * state join key — sorted by `id` within each bucket file (tight
    * row-group stats for the candidate-id pushdown). Catalog/DDL
    * mechanics live in [[graft.io.BucketedTables]]. */
  private def writeShingles(
      sh: DataFrame, path: String, v: Int, buckets: Int): Unit =
    graft.io.BucketedTables.write(sh, s"$path/shingles/v$v", "sh", "id", buckets)

  /** The bucketed shingle table of one committed snapshot. */
  private def shinglesTable(
      spark: SparkSession, path: String, v: Int, buckets: Int): DataFrame =
    graft.io.BucketedTables.read(spark, s"$path/shingles/v$v", "sh", "id", buckets)

  /** The store's shingle unit, chosen at [[write]] time and recorded
    * in the manifest (`char_shingles`) so upserts and gates can never
    * probe a store with the OTHER unit's shingles (the AudioHash
    * store_stride discipline): word n-grams for segmented text,
    * character n-grams ([[Dedup.charShingled]]) for CJK/unsegmented
    * corpora — a CJK document is ONE whitespace token, so a
    * word-shingled index is structurally blind to its near-dups. */
  private def shinglesOf(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      char: Boolean): DataFrame =
    if (char) Dedup.charShingled(df, idCol, textCol, n)
    else Dedup.shingled(df, idCol, textCol, n)

  /** Grid-parameter guard: the manifest records the shingle UNIT so a
    * store can't silently mix word- and char-gram grids;
    * `shingle_n`/`num_hashes`/`bands` are the same hazard class (a
    * differing upsert-time gram size appends shingles on an
    * incompatible grid, a differing band count derives signatures that
    * never collide with the stored buckets — nothing fails loudly, the
    * gate just stops catching duplicates). Recorded at [[write]],
    * REQUIRED to match on every [[upsert]]/[[gate]]/[[ingest]].
    * (`bands_n`: the `bands` manifest key already names the banded
    * TABLE's version — table-version keys are positional in the
    * StoreKit layout.) */
  private def gridManifest(
      spark: SparkSession, path: String,
      shingleN: Int, numHashes: Int, bands: Int): Map[String, Int] = {
    val m = manifest(spark, path)
    Seq("shingle_n" -> shingleN, "num_hashes" -> numHashes, "bands_n" -> bands)
      .foreach { case (k, v) => require(m(k) == v,
        s"DedupIndex grid mismatch: store was written with $k=${m(k)}, caller passed $v") }
    m
  }

  /** Materialize the index for an initial corpus. A re-write on an
    * existing path publishes FRESH versions (readers on the old
    * snapshot are undisturbed until the commit; superseded dirs are
    * dropped post-commit with the grace window). */
  def write(
      path: String, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int, buckets: Int = 8,
      charShingles: Boolean = false): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    def next(k: String) = graft.io.StoreKit.nextVersion(spark, path, k)
    val (bv, sv, zv) = (next("bands"), next("shingles"), next("sizes"))
    val sh = Caches.persist(shinglesOf(docs, idCol, textCol, shingleN, charShingles))
    // the shingle write materializes the sh cache; the sizes and bands
    // writes both derive from the NOW-CACHED sh and target different
    // directories — independent jobs, overlapped (guide §2.6) instead
    // of three sequential write latencies per store build
    writeShingles(sh, path, sv, buckets)
    graft.util.Jobs.inParallel(Seq(
      () => Dedup.shingleSetSizes(sh).coalesce(1).write.mode("overwrite")
        .parquet(s"$path/sizes/v$zv"),
      () => graft.io.BucketedTables.write(Dedup.minhashBands(sh, numHashes, bands),
        s"$path/bands/v$bv", "bucket", "id", buckets)))
    StoreManifest.commit(spark, path,
      Map("bands" -> bv, "shingles" -> sv, "sizes" -> zv,
        "buckets" -> buckets, "band_buckets" -> buckets, "band_enc" -> 2,
        "char_shingles" -> (if (charShingles) 1 else 0),
        // the full shingle/banding grid is part of the store's
        // identity: upserts/gates with a different gram size or band
        // count would silently write/probe an incompatible grid
        "shingle_n" -> shingleN, "num_hashes" -> numHashes, "bands_n" -> bands))
    Seq("bands" -> bv, "shingles" -> sv, "sizes" -> zv)
      .foreach { case (t, v) => graft.io.StoreKit.reclaim(spark, path, t, v) }
  }

  /** Append an ACCEPTED batch's bands + shingles + sizes into the
    * current snapshot — parquet/bucketed appends are task-committed
    * files, no manifest commit needed (the [[AnnIndex.upsert]]
    * discipline). */
  def upsert(
      path: String, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): Unit = {
    val m = gridManifest(docs.sparkSession, path, shingleN, numHashes, bands)
    // the shingle UNIT comes from the store's own manifest — an
    // upsert can never silently mix word- and char-shingled grids
    append(path, m,
      Caches.persist(shinglesOf(docs, idCol, textCol, shingleN, m("char_shingles") == 1)))
  }

  /** Append one persisted (id, sh) frame's shingles, sizes and bands to
    * the snapshot `m` — the one append of [[upsert]] and [[ingest]].
    * The first append materializes the `sh` cache; the sizes and bands
    * appends then overlap (different directories — [[write]]'s note). */
  private def append(path: String, m: Map[String, Int], sh: DataFrame): Unit = {
    graft.io.BucketedTables.append(
      sh, s"$path/shingles/v${m("shingles")}", "sh", "id", m("buckets"))
    graft.util.Jobs.inParallel(Seq(
      () => Dedup.shingleSetSizes(sh).coalesce(1).write.mode("append")
        .parquet(s"$path/sizes/v${m("sizes")}"),
      () => graft.io.BucketedTables.append(
        Dedup.minhashBands(sh, m("num_hashes"), m("bands_n")),
        s"$path/bands/v${m("bands")}", "bucket", "id", m("band_buckets"))))
  }

  /**
   * Gate a batch against the PERSISTED history: returns the batch
   * rows that are not near-duplicates (exact n-gram Jaccard ≥
   * `threshold`, candidates from the band-bucket equi-join) of any
   * indexed row — row-identical to [[Dedup.incrementalNearDupLsh]]
   * with the full history corpus. The caller [[upsert]]s the
   * survivors it accepts.
   *
   * STEADY-STATE COST CONTRACT: everything history-sized is pruned to
   * the batch's candidate neighborhoods BEFORE it shuffles. The
   * Jaccard denominators come from the persisted `sizes` table (a
   * candidate-bounded lookup, never a re-aggregation of history
   * shingles), and the history shingle scan carries the candidate-id
   * predicate (collected-id pushdown under [[MaxDriverHids]]
   * candidates → row-group pruning against the per-file id sort; a
   * distributed semi-join prune above it). The only per-batch
   * history-proportional work left is the band-bucket probe — rows =
   * `bands` per history doc, the size class an LSH index is DESIGNED
   * to keep resident — and even that scan is consumed with ZERO
   * exchange: the band table is bucketed by the probe key, so the
   * probe join co-locates on the files as written.
   */
  def gate(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val dropsF = gateParts(
      spark, path, batch, idCol, textCol, shingleN, numHashes, bands, threshold)
    // verdicts are SNAPSHOT-STABLE (StoreKit.snapshotStableSurvivors)
    graft.io.StoreKit.snapshotStableSurvivors(batch, idCol, dropsF)
  }

  /**
   * [[gate]] + [[upsert]]-of-the-survivors as ONE lifecycle step — the
   * steady-state ingest (t65's gateA→upsert pair). Row-identical to
   * calling the two separately: shingles and bands are PER-DOC pure
   * functions of the batch rows, so the appended survivor shingles are
   * exactly the gate's already-persisted shingle frame filtered to the
   * surviving ids (guide §5 caching with provable reuse — the upsert
   * no longer re-tokenizes and re-minhashes rows the gate just
   * processed), and sizes/bands derive from that filtered frame the
   * same way upsert derives them from a fresh shingling.
   */
  def ingest(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val m = gridManifest(spark, path, shingleN, numHashes, bands)
    val (dropsF, shB) = gatePartsWithShingles(
      spark, path, m, batch, idCol, textCol, shingleN, threshold)
    val surv = graft.io.StoreKit.snapshotStableSurvivors(batch, idCol, dropsF)
    // survivor shingles = the gate's cached frame, id-filtered (the
    // checkpoint above froze the survivor set, so the semi-join is
    // snapshot-stable too)
    append(path, m, Caches.persist(shB.join(
      surv.select(col(idCol).as("id")), Seq("id"), "left_semi")))
    surv
  }

  /** The candidate probe join of one gate: the band index is INSIDE
    * the bucket md5 ([[Dedup.minhashBands]]), so the probe is a
    * single-key join on `bucket` — exactly the bucket column, which is
    * what lets the bucketed history scan co-locate with ZERO exchange.
    * Split out pre-persist so the plan audit inspects the REAL probe
    * plan. */
  private[graft] def candProbe(histBands: DataFrame, batchBands: DataFrame): DataFrame =
    batchBands.toDF("bid", "band", "bucket").join(histBands, Seq("bucket"))
      .select("bid", "hid").distinct()

  /** The bucketed band table of one committed snapshot `m`, as
    * (hid, bucket) for [[candProbe]]. */
  private[graft] def histBandsFrame(
      spark: SparkSession, path: String, m: Map[String, Int]): DataFrame =
    graft.io.BucketedTables.read(
        spark, s"$path/bands/v${m("bands")}", "bucket", "id", m("band_buckets"))
      .select(col("id").as("hid"), col("bucket"))

  /** The batch's banded buckets, shaped for [[candProbe]]. */
  private[graft] def batchBandsFrame(
      batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame =
    Dedup.minhashBands(Dedup.shingled(batch, idCol, textCol, shingleN), numHashes, bands)

  /** The drop-id frame of one [[gate]] call BEFORE the checkpoint —
    * split out so the plan audit can inspect the physical plan of the
    * verification join (bucketed history scan, no exchange) without
    * re-implementing the gate. */
  private[graft] def gateParts(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    // ONE snapshot per gate
    val m = gridManifest(spark, path, shingleN, numHashes, bands)
    gatePartsWithShingles(spark, path, m, batch, idCol, textCol, shingleN, threshold)._1
  }

  /** [[gateParts]] against an already-resolved manifest snapshot,
    * additionally exposing the batch's persisted shingle frame so
    * [[ingest]] can append the survivors' shingles without
    * re-shingling. */
  private def gatePartsWithShingles(
      spark: SparkSession, path: String, m: Map[String, Int], batch: DataFrame,
      idCol: String, textCol: String, shingleN: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    // batch shingles take the STORE's recorded unit (word vs char)
    val shB = Caches.persist(
      shinglesOf(batch, idCol, textCol, shingleN, m("char_shingles") == 1))
    shB.count()
    val cand = Caches.persist(candProbe(histBandsFrame(spark, path, m),
      Dedup.minhashBands(shB, m("num_hashes"), m("bands_n"))))
    // limit-probed hybrid: candidate id sets are batch-neighborhood-
    // sized in steady state — collect them and let the parquet reader
    // prune history row groups; fall back to a distributed semi-join
    // for adversarially broad batches (AQE broadcasts when it fits)
    val candHids = cand.select(col("hid")).distinct()
    val probed = candHids.limit(MaxDriverHids + 1).collect().map(_.get(0))
    def pruneToCandidates(history: DataFrame): DataFrame =
      if (probed.length <= MaxDriverHids)
        history.filter(col("hid").isin(probed.toIndexedSeq: _*))
      else history.join(candHids, Seq("hid"), "left_semi")
    val histSh = pruneToCandidates(
      shinglesTable(spark, path, m("shingles"), m("buckets")).toDF("hid", "sh"))
    val szH = pruneToCandidates(
      spark.read.parquet(s"$path/sizes/v${m("sizes")}").toDF("hid", "n_sh"))
    // intersection counts via a join on `sh` ALONE — the bucket key —
    // so the bucketed history scan is consumed with NO exchange (V1
    // bucketed joins co-locate only when the join keys equal the
    // bucket keys exactly; a (hid, sh) join would re-shuffle the
    // history side, plan-audited). BOTH inputs are candidate-bounded
    // first: the history side by pruneToCandidates above, the batch
    // side by a semi-join to the bids the LSH probe actually proposed
    // — otherwise a hot shingle shared by B batch docs and C candidate
    // history docs materializes B×C rows before the pair semi-join (a
    // skew blowup on stop-shingle-heavy corpora). The co-shingle pairs
    // are then semi-filtered to candidate PAIRS before the count;
    // restricting to candidates commutes with counting shared
    // shingles, and any pair the LSH probe never proposed can't reach
    // the threshold filter anyway — row-identical to the
    // (hid, sh)-keyed form.
    val inter = shB.toDF("bid", "sh")
      .join(cand.select("bid").distinct(), Seq("bid"), "left_semi")
      .join(histSh, Seq("sh"))
      .join(cand, Seq("bid", "hid"), "left_semi")
      .groupBy(col("bid").as("id_a"), col("hid").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val drops = Dedup.jaccardVerified(inter, Dedup.shingleSetSizes(shB), szH, threshold)
      .select(col("id_a").as(idCol)).distinct()
    (drops, shB)
  }

  /** One compaction summary from [[compact]]. */
  final case class CompactReport(
      bandFilesBefore: Long, bandFilesAfter: Long,
      shingleFilesBefore: Long, shingleFilesAfter: Long)

  /** Physical maintenance: rewrite all three tables compacted (a
    * thousand daily upserts otherwise leave a thousand small files per
    * band directory / bucket) into fresh `v<N+1>` dirs and publish
    * them in ONE manifest commit — concurrent gates resolve either the
    * old or the new snapshot, never a mix. */
  def compact(spark: SparkSession, path: String): CompactReport = {
    import graft.io.StoreKit.{compactInput, parquetFileCount}
    def files(dir: String): Long = parquetFileCount(spark, dir)
    val cur = manifest(spark, path)
    val (bv, sv, zv) = (cur("bands"), cur("shingles"), cur("sizes"))
    val bBefore = files(s"$path/bands/v$bv")
    val sBefore = files(s"$path/shingles/v$sv")
    // plain-parquet rewrite inputs (see StoreKit.compactInput)
    graft.io.BucketedTables.write(compactInput(spark, s"$path/bands/v$bv"),
      s"$path/bands/v${bv + 1}", "bucket", "id", cur("band_buckets"))
    val shCur = compactInput(spark, s"$path/shingles/v$sv")
    writeShingles(shCur, path, sv + 1, cur("buckets"))
    // sizes: recounted from the compacted shingles (appends collapse
    // to one file)
    Dedup.shingleSetSizes(shCur.toDF("id", "sh")).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/sizes/v${zv + 1}")
    // the shingle unit and grid parameters are part of the store's
    // identity: every key but the table versions carries through
    StoreManifest.commit(spark, path,
      cur ++ Map("bands" -> (bv + 1), "shingles" -> (sv + 1), "sizes" -> (zv + 1)))
    Seq("bands" -> (bv + 1), "shingles" -> (sv + 1), "sizes" -> (zv + 1))
      .foreach { case (t, v) => graft.io.StoreKit.reclaim(spark, path, t, v) }
    CompactReport(bBefore, files(s"$path/bands/v${bv + 1}"),
      sBefore, files(s"$path/shingles/v${sv + 1}"))
  }
}
