package graft.tools

import graft.operators.{Dedup, SimilaritySearch}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * ANN / embedding-family scale smoke — `runMain graft.tools
 * .AnnScaleSmoke [sfDir] [scales]` (default `1,3,10`): runs the
 * vector pipelines — brute-force cosine top-k (the linear-in-corpus
 * exact baseline: fixed query set × corpus scan), sign-LSH top-k,
 * IVF top-k (train + assign + probe), LSH near-dup pairs, and the
 * SemDeDup keep-rule — over the embeddings corpus replicated
 * `scale`×.
 *
 * Copy construction: copy `k` applies a deterministic per-dimension
 * SIGN PATTERN to every vector (`s_i ∈ {±1}` from Murmur3
 * `hash(k, i)`). A shared sign pattern is an isometry of the dot product
 * (`Σ s_i² x_i y_i = Σ x_i y_i`, exact even in float), so every
 * copy's INTRA-copy geometry — cosines, norms, near-dup structure —
 * is bit-identical to copy 0, while cross-copy cosines are sign-
 * scrambled and essentially never reach a near-dup threshold. Volume
 * grows c×; similarity structure per copy is constant: exactly the
 * regime where a scale-correct plan must shuffle linearly.
 *
 * Asserts, from task-level metrics and output shapes:
 *  - brute / LSH / IVF top-k row counts are CONSTANT across scales
 *    (k per query for a fixed query set — growth would mean the
 *    query side leaked into the corpus side);
 *  - near-dup pairs stay WITHIN copies (cross-copy pairs ≤ 4): the
 *    corpus's own max cosine is ~0.60 and sign-scrambled cross-copy
 *    cosines measure ≤ ~0.67, so at threshold 0.9 the ONLY true
 *    pairs are the PLANTED twins (each copy carries one near-twin —
 *    one dimension scaled 1.2, cos ≈ 0.999 — per low-id vector);
 *  - the copy-0 pair count is EXACTLY reproduced at every scale
 *    (copy 0 is byte-identical across runs, so any drift means
 *    corpus volume leaked into copy-0's buckets or determinism
 *    broke);
 *  - total pairs and the SemDeDup drop count scale linearly within
 *    ±5%: every copy plants the same twin structure, but each copy
 *    sees a DIFFERENT effective hash family (fixed hyperplanes × the
 *    copy's sign pattern), so per-copy banding recall of the ~0.999
 *    twins varies by a few pairs;
 *  - shuffle-write bytes between the two LARGEST scales grow within
 *    1.5× of linear (catches an all-pairs or re-broadcast-the-corpus
 *    mistake immediately; smallest scale reported, not asserted,
 *    since AQE legitimately re-plans small inputs);
 *  - no heavy stage (>4 MiB write, ≥8 tasks) has one task carrying
 *    >8× the stage mean — the skew bound (fixed 16-bucket LSH is
 *    the natural skew suspect here).
 */
object AnnScaleSmoke {

  /** Copy `k` of the corpus: ids offset, every vector multiplied by
    * the copy's ±1 sign pattern. Signs come from
    * Murmur3 `hash(k, dim)` — a linear-congruential mix is NOT enough
    * here: two copies whose patterns differ by a small shift agree on
    * ~95% of dimensions, which maps the SAME base vector in two
    * copies to cos ≈ 1 and floods the near-dup join with cross-copy
    * pairs. Murmur-mixed patterns agree on ~50% of dimensions, so
    * cross-copy cosines of identical base vectors concentrate near 0. */
  def signCopy(emb: DataFrame, k: Int): DataFrame =
    emb
      .withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(pmod(hash(lit(k), i), lit(2)) === 0, x).otherwise(-x)))

  def main(args: Array[String]): Unit = {
    val run = new SmokeRun("ANN", args)
    import run.{check, spark}

    val raw = Tables.embeddings(spark, run.sfDir).select("vec_id", "embedding")
    // Plant one near-twin per low-id vector BEFORE copying: dimension
    // (vec_id mod 64) scaled by 1.2 → cos(v, twin) ≈ 0.999, far above
    // every natural pair (corpus max ≈ 0.60). Twin ids sit at +5e6,
    // inside the copy's 1e7 id block. Sign patterns are isometries, so
    // every copy inherits exactly these twin pairs.
    val twinIds = 200L
    val twins = raw.filter(col("vec_id") < twinIds)
      .select((col("vec_id") + 5000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i.cast("long") === pmod(col("vec_id"), lit(64L)), x * 1.2f)
            .otherwise(x)).as("embedding"))
    val base = raw.unionByName(twins)
    // Query set fixed at copy-0 ORIGINAL vectors — NEVER scaled.
    val queries = raw.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

    final case class Run(scale: Int, n: Long, brute: Long, lsh: Long, ivf: Long,
        pq: Long, ivfpq: Long,
        pairs: Long, crossPairs: Long, copy0Pairs: Long, kept: Long,
        recallMicro: Long, env: Envelope)

    val runs = run.ladder() { rung =>
      val (emb, n) = rung.input(SmokeRun.copies(base, rung.scale)(signCopy))
      val cands = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val brute = SimilaritySearch.bruteForceTopK(queries, cands, k = 5).count()
      val lsh = SimilaritySearch.lshTopK(queries, cands,
        dim = 64, numPlanes = 4, k = 5, probes = 3).count()
      val ivf = SimilaritySearch.ivfTopK(queries, cands,
        numClusters = 8, iters = 2, k = 5, nprobe = 3).count()
      // PQ paths: trainers run over the FULL scaled corpus (codebooks
      // legitimately drift with scale — Lloyd means average every
      // copy), but the output stays k rows per fixed query
      val pq = SimilaritySearch.pqAdcTopK(queries, cands,
        dim = 64, m = 4, ksub = 8, iters = 2, k = 5).count()
      val ivfpq = SimilaritySearch.ivfPqTopK(queries, cands,
        numClusters = 8, coarseIters = 2, dim = 64, m = 4, ksub = 8,
        pqIters = 2, k = 5, nprobe = 3).count()
      // one copy-tagged aggregate over the pairs DF: total / cross-copy /
      // copy-0 counts in a single pass
      val pairRow = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding",
          dim = 64, numPlanes = 4, threshold = 0.9)
        .agg(count(lit(1)).cast("long"),
          sum(when(floor(col("id_a") / 10000000L) =!= floor(col("id_b") / 10000000L), 1L)
            .otherwise(0L)).cast("long"),
          sum(when(col("id_a") < 10000000L && col("id_b") < 10000000L, 1L)
            .otherwise(0L)).cast("long"))
        .first()
      val (pairs, crossPairs, copy0Pairs) =
        (pairRow.getLong(0), pairRow.getLong(1), pairRow.getLong(2))
      val kept = Dedup.dropEmbeddingNearDups(emb, "vec_id", "embedding",
        dim = 64, numPlanes = 4, threshold = 0.9).count()
      // v19: mean recall@5 of the IVF path vs brute — the coarse
      // quantizer legitimately drifts as Lloyd means average every
      // copy, so recall is gated on a FLOOR and a stability band, not
      // exact constancy
      val recallMicro = math.round(SimilaritySearch.recallAtK(
          SimilaritySearch.bruteForceTopK(queries, cands, k = 5),
          SimilaritySearch.ivfTopK(queries, cands,
            numClusters = 8, iters = 2, k = 5, nprobe = 3),
          k = 5)
        .agg(avg("recall")).first().getDouble(0) * 1e6)
      val env = rung.envelope()
      (Run(rung.scale, n, brute, lsh, ivf, pq, ivfpq, pairs, crossPairs, copy0Pairs, kept,
        recallMicro, env),
        s"n=$n brute=$brute lsh=$lsh ivf=$ivf pq=$pq ivfpq=$ivfpq " +
          s"pairs=$pairs cross=$crossPairs copy0=$copy0Pairs kept=$kept ${env.summary}")
    }

    val r1 = runs.head
    def series[T](f: Run => T) = runs.map(r => r.scale -> f(r))
    check(r1.recallMicro >= 400000L,
      f"v19 mean IVF recall@5 ${r1.recallMicro / 1e6}%.3f at base scale (floor 0.4)")
    run.constant("brute top-k", series(_.brute))
    run.constant("lsh top-k", series(_.lsh))
    run.constant("ivf top-k", series(_.ivf))
    run.constant("pq adc top-k", series(_.pq))
    run.constant("ivfpq top-k", series(_.ivfpq))
    // ±5% of linear, + absolute slack
    run.nearLinear("total pairs", series(_.pairs), tol = 0.05, slack = 8)
    run.nearLinear("semdedup drop count", series(r => r.n - r.kept), tol = 0.05, slack = 8)
    runs.tail.foreach { r =>
      check(r.crossPairs <= 4,
        s"cross-copy near-dup pairs <= 4 at ${r.scale}x (got ${r.crossPairs})")
      // v19: quality floor + stability band (quantizer drift allowed)
      check(r.recallMicro >= 400000L &&
          math.abs(r.recallMicro - r1.recallMicro) <= 200000L,
        f"v19 mean IVF recall@5 ${r.recallMicro / 1e6}%.3f at ${r.scale}x " +
          f"(base ${r1.recallMicro / 1e6}%.3f; floor 0.4, band 0.2)")
      check(r.copy0Pairs == r1.pairs,
        s"copy-0 pair count exactly reproduced at ${r.scale}x " +
          s"(${r1.pairs} vs ${r.copy0Pairs})")
    }
    // only the two LARGEST scales are gated: AQE legitimately re-plans
    // the smallest inputs
    run.shuffleLinear(runs.takeRight(2).map(r => (r.scale, r.env.writeBytes)))
    runs.foreach(r => run.skew(r.scale, r.env.stages))
    // ---- t80 semantic decontamination at scale (planted one-hot
    // fixture per scale, suite FIXED like the query set): suite = 4
    // axis vectors; per copy one doc ON a suite axis (cos exactly 1.0
    // → a hit, attributed to exactly that suite id) and one doc on a
    // far axis (cos exactly 0.0 → clean). Gates: hits exactly linear
    // in c, never a cross-suite attribution, the strict gate keeps
    // exactly the clean doc per copy — a broadcast-side mixup, an
    // arg-max tie bug, or a lost partial-aggregate would break one.
    run.scales.foreach { c =>
      import spark.implicits._
      def oneHot(j: Int, v: Float) =
        Array.tabulate(64)(i => if (i == j) v else 0.0f)
      val suite = (0 until 4).map(j => (j.toLong, oneHot(j, 1.0f)))
        .toDF("sid", "emb")
      val t80docs = (0 until c).flatMap { k =>
        Seq((k * 10L + 1, oneHot(k % 4, 2.0f)),
          (k * 10L + 2, oneHot(30 + (k % 20), 1.5f)))
      }.toDF("doc_id", "emb")
      val hits = graft.operators.Decontaminate.semanticOverlap(
          t80docs, "doc_id", "emb", suite, "sid", "emb", threshold = 0.5)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      check(hits.length == c && hits.forall { case (d, s, cos) =>
          d % 10 == 1 && s == (d / 10) % 4 && cos == 1.0 },
        s"scale=$c t80 semantic hits exactly linear, each attributed to its " +
          s"own suite at cos 1.0 (${hits.length} hits)")
      val kept = graft.operators.Decontaminate.removeSemanticContaminated(
          t80docs, "doc_id", "emb", suite, "sid", "emb", threshold = 0.5)
        .select("doc_id").as[Long].collect()
      check(kept.length == c && kept.forall(_ % 10 == 2),
        s"scale=$c t80 semantic gate keeps exactly the clean doc per copy")
    }

    // ---- v18 maintenance gate (one-off lifecycle, not per-scale):
    // skewed upserts fragment hot cells into many small files; after
    // delete + rebalance the physically-compacted search must equal
    // the tombstone-masked search, every cell must compact to ONE
    // file, and exactly the tombstoned rows must be gone — the
    // file-count-skew failure mode a production vector store hits
    // after weeks of incremental ingest.
    locally {
      import graft.operators.AnnIndex
      val mPath = java.nio.file.Files
        .createTempDirectory("graft_ann_smoke_maint").toString
      val cands0 = raw.select(col("vec_id").as("id"), col("embedding").as("vec"))
      AnnIndex.write(mPath, cands0.filter(col("id") % 2 === 0),
        numClusters = 8, iters = 2)
      // 8 skewed upsert slices over the odd ids
      (0 until 8).foreach(rr => AnnIndex.upsert(mPath,
        cands0.filter(pmod(col("id"), lit(16)) === 2 * rr + 1)))
      val expectTotal = cands0.count()
      val expectRemoved = cands0.filter(col("id") % 7 === 0).count()
      AnnIndex.delete(mPath, cands0.filter(col("id") % 7 === 0).select("id"))
      val viaT = AnnIndex.topK(spark, mPath, queries, k = 5, nprobe = 3)
        .collect().toSet
      val rep = AnnIndex.rebalance(spark, mPath)
      val viaP = AnnIndex.topK(spark, mPath, queries, k = 5, nprobe = 3)
        .collect().toSet
      println(s"ANN_SMOKE maint rebalance: $rep")
      check(viaT == viaP,
        s"v18 maintenance: tombstone-masked search == physically-rebalanced search " +
          s"(${viaT.size} rows)")
      check(viaT.nonEmpty && viaT.forall(_.getAs[Long]("id") % 7 != 0),
        "v18 maintenance: no deleted id surfaces in search results")
      check(rep.maxCellFilesBefore > 1,
        s"v18 maintenance precondition: skewed upserts fragmented a cell ($rep)")
      check(rep.maxCellFilesAfter == 1,
        s"v18 maintenance: every cell compacted to one file ($rep)")
      check(rep.removed == expectRemoved && rep.rows == expectTotal - expectRemoved,
        s"v18 maintenance: removed/kept accounting exact ($rep, " +
          s"expected removed=$expectRemoved of $expectTotal)")
    }
    run.finish()
  }
}
