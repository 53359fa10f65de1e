package graft.operators

import java.nio.file.Files

import graft.SparkTestSession
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted dedup-index lifecycle ([[DedupIndex]], t65): gate over
  * the store ≡ the in-memory incremental operator, snapshot-stable
  * verdicts across upserts, compaction equivalence + pointer-commit. */
class DedupIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val docs = Tables.documents(spark, SparkTestSession.sfDir)
    .repartition(spark.sparkContext.defaultParallelism)
  private lazy val hist = docs.filter(col("doc_id") % 10 < 6)
  private lazy val bA = docs.filter(col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7)
  private lazy val bB = docs.filter(col("doc_id") % 10 >= 8)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] = {
    import spark.implicits._
    df.select("doc_id").as[Long].collect().toSet
  }

  test("gate over the persisted index equals the in-memory incremental operator") {
    val path = Files.createTempDirectory("graft_dedupidx").toString
    DedupIndex.write(path, hist, "doc_id", "text", 3, 12, 4)
    val viaStore = ids(DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5))
    val inMem = ids(Dedup.incrementalNearDupLsh(bA, hist, "doc_id", "text", 3, 12, 4, 0.5))
    assert(viaStore === inMem)
    assert(viaStore.nonEmpty && viaStore.size < bA.count())
    // the manifest records the FULL shingle/banding grid, and a
    // gate/upsert on a different grid fails LOUDLY instead of silently
    // probing incompatible signatures (the char_shingles/store_stride
    // mixed-grid discipline extended to shingle_n/num_hashes/bands)
    for ((sn, nh, b) <- Seq((4, 12, 4), (3, 24, 4), (3, 12, 6))) {
      val eGate = intercept[IllegalArgumentException](
        DedupIndex.gate(spark, path, bA, "doc_id", "text", sn, nh, b, 0.5))
      assert(eGate.getMessage.contains("grid mismatch"), eGate.getMessage)
      val eUp = intercept[IllegalArgumentException](
        DedupIndex.upsert(path, bA, "doc_id", "text", sn, nh, b))
      assert(eUp.getMessage.contains("grid mismatch"), eUp.getMessage)
    }
    // ...and the grid survives compaction (part of the store identity)
    DedupIndex.compact(spark, path)
    intercept[IllegalArgumentException](
      DedupIndex.gate(spark, path, bA, "doc_id", "text", 4, 12, 4, 0.5))
    assert(ids(DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5))
      === viaStore)
  }

  test("ingest (fused gate+upsert) equals gate-then-upsert: survivors, store tables, next gate") {
    import graft.io.StoreManifest
    val pathSeq = Files.createTempDirectory("graft_dedupidx_seq").toString
    val pathFus = Files.createTempDirectory("graft_dedupidx_fus").toString
    for (p <- Seq(pathSeq, pathFus))
      DedupIndex.write(p, hist, "doc_id", "text", 3, 12, 4)
    val survSeq = DedupIndex.gate(spark, pathSeq, bA, "doc_id", "text", 3, 12, 4, 0.5)
    DedupIndex.upsert(pathSeq, survSeq, "doc_id", "text", 3, 12, 4)
    val survFus = DedupIndex.ingest(spark, pathFus, bA, "doc_id", "text", 3, 12, 4, 0.5)
    assert(ids(survFus) === ids(survSeq))
    // the grown stores are table-identical (the fused path appends the
    // gate's id-filtered shingle frame — a pure per-doc function, so
    // every row must match the re-shingled sequential path)
    // compared as multisets (row -> count): a duplicated row must fail
    def rows(p: String, table: String): Map[String, Int] = {
      val m = StoreManifest.current(spark, p)
      spark.read.parquet(s"$p/$table/v${m(table)}")
        .collect().map(_.mkString("|")).groupMapReduce(identity)(_ => 1)(_ + _)
    }
    for (t <- Seq("shingles", "sizes", "bands"))
      assert(rows(pathFus, t) === rows(pathSeq, t), s"table $t diverged")
    // and a day-2 gate over either store returns the same verdicts
    val gBSeq = ids(DedupIndex.gate(spark, pathSeq, bB, "doc_id", "text", 3, 12, 4, 0.5))
    val gBFus = ids(DedupIndex.gate(spark, pathFus, bB, "doc_id", "text", 3, 12, 4, 0.5))
    assert(gBFus === gBSeq)
  }

  test("verdicts are snapshot-stable: upserting survivors does not mutate the gate result") {
    val path = Files.createTempDirectory("graft_dedupidx_snap").toString
    DedupIndex.write(path, hist, "doc_id", "text", 3, 12, 4)
    val survA = DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5)
    val before = ids(survA)
    DedupIndex.upsert(path, survA, "doc_id", "text", 3, 12, 4)
    spark.catalog.clearCache() // dropping catalog caches must not re-probe
    assert(ids(survA) === before,
      "a gate verdict must mean 'as of the call', even after the upsert")
    // the grown index now self-matches the accepted docs: re-gating
    // the SAME batch drops everything that was accepted
    val regate = DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5)
    assert(ids(regate).intersect(before) === Set.empty[Long])
    // and stage B against the grown store equals in-memory history ∪ survivors
    val viaStore = ids(DedupIndex.gate(spark, path, bB, "doc_id", "text", 3, 12, 4, 0.5))
    val inMem = ids(Dedup.incrementalNearDupLsh(
      bB, hist.unionByName(docs.filter(col("doc_id").isin(before.toSeq: _*))),
      "doc_id", "text", 3, 12, 4, 0.5))
    assert(viaStore === inMem)
  }

  test("compact: one atomic publish, fewer files, identical gate results") {
    val path = Files.createTempDirectory("graft_dedupidx_cmp").toString
    // fragmented store: initial write + five small upserts
    DedupIndex.write(path, hist.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3, 12, 4)
    (0 until 5).foreach { r =>
      DedupIndex.upsert(path,
        hist.filter(col("doc_id") % 2 === 1 && pmod(col("doc_id"), lit(10)) === (r * 2 + 1)),
        "doc_id", "text", 3, 12, 4)
    }
    val before = ids(DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5))
    val report = DedupIndex.compact(spark, path)
    val after = ids(DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5))
    assert(after === before, "compaction must not change gate semantics")
    assert(report.bandFilesAfter < report.bandFilesBefore, s"bands: $report")
    assert(report.shingleFilesAfter < report.shingleFilesBefore, s"shingles: $report")
    // GRACE WINDOW: the immediately-previous snapshot survives one
    // maintenance cycle (a reader that resolved it just before the
    // commit finishes its scan), then the NEXT cycle reclaims it
    assert(new java.io.File(s"$path/bands/v1").exists(),
      "previous snapshot must survive one cycle for in-flight readers")
    DedupIndex.compact(spark, path)
    assert(!new java.io.File(s"$path/bands/v1").exists())
    assert(!new java.io.File(s"$path/shingles/v1").exists())
  }

  test("persisted sizes table equals a recount of the shingle table at every lifecycle step") {
    // the r13 scale fix: the gate's Jaccard denominators come from the
    // precomputed sizes/v<N> table, never a per-batch re-aggregation
    // of the full history shingle table — so the table must stay
    // EXACTLY the (id → shingle-count) of the live shingle table
    // through write, upsert and compact
    import graft.io.StoreManifest
    val path = Files.createTempDirectory("graft_dedupidx_sz").toString
    def sizesMatchRecount(): Unit = {
      val m = StoreManifest.current(spark, path)
      val sizes = spark.read.parquet(s"$path/sizes/v${m("sizes")}")
        .toDF("id", "n_sh")
      val recount = spark.read.parquet(s"$path/shingles/v${m("shingles")}")
        .groupBy("id").count().toDF("id", "n_sh")
      assert(sizes.exceptAll(recount).count() === 0)
      assert(recount.exceptAll(sizes).count() === 0)
    }
    DedupIndex.write(path, hist, "doc_id", "text", 3, 12, 4)
    sizesMatchRecount()
    val survA = DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5)
    DedupIndex.upsert(path, survA, "doc_id", "text", 3, 12, 4)
    sizesMatchRecount()
    DedupIndex.compact(spark, path)
    sizesMatchRecount()
  }

  test("foreachBatch ingestion: streamed gate+upsert equals sequential batch applies") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the daily-pull cadence as a live feed: each micro-batch is gated
    // against the store AS OF ITS ARRIVAL and its survivors appended —
    // the t65 lifecycle driven by Structured Streaming
    val path = Files.createTempDirectory("graft_dedupidx_stream").toString
    DedupIndex.write(path, hist, "doc_id", "text", 3, 12, 4)
    val batches = Seq(
      bA.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1),
      bB.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1))
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val surv = DedupIndex.gate(spark, path, batch.toDF(),
          "doc_id", "text", 3, 12, 4, 0.5)
        DedupIndex.upsert(path, surv, "doc_id", "text", 3, 12, 4)
        accepted ++= surv.select("doc_id").as[Long].collect()
        ()
      }
      .start()
    try {
      batches.foreach { b => input.addData(b.toSeq); query.processAllAvailable() }
    } finally query.stop()

    // sequential twin on a fresh store: same batches, same order
    val seqPath = Files.createTempDirectory("graft_dedupidx_seq").toString
    DedupIndex.write(seqPath, hist, "doc_id", "text", 3, 12, 4)
    val expected = batches.flatMap { b =>
      val df = b.toSeq.toDF("doc_id", "text")
      val surv = DedupIndex.gate(spark, seqPath, df, "doc_id", "text", 3, 12, 4, 0.5)
      DedupIndex.upsert(seqPath, surv, "doc_id", "text", 3, 12, 4)
      surv.select("doc_id").as[Long].collect()
    }
    assert(accepted.toSet === expected.toSet)
    assert(accepted.size === expected.size, "no id accepted twice")
  }

  test("char-shingled store: CJK lifecycle the word unit is blind to; unit rides the manifest") {
    import spark.implicits._
    val s1 = "深度学习模型在大规模语料库上训练需要高质量的数据清洗流程"
    val s2 = "分布式查询引擎的物理计划优化依赖统计信息和代价模型支持"
    val cjkHist = Seq((1L, s1), (2L, s2)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s1),        // byte-identical copy of a stored doc
      (11L, s1 + "了"), // one-char-appended near-dup (char-jaccard ~0.963)
      (12L, "完全不同的另一段较长中文文本内容与前面毫无相似之处可言"))
      .toDF("doc_id", "text")
    // a WORD-shingled store is structurally blind: every CJK doc is
    // one token → no shingles → no candidates → everything "survives"
    val wordPath = Files.createTempDirectory("graft_dedupidx_word_cjk").toString
    DedupIndex.write(wordPath, cjkHist, "doc_id", "text", 3, 12, 4)
    assert(ids(DedupIndex.gate(spark, wordPath, batch, "doc_id", "text", 3, 12, 4, 0.9))
      === Set(10L, 11L, 12L))
    // the CHAR-shingled store catches both the copy and the near-dup
    val charPath = Files.createTempDirectory("graft_dedupidx_char_cjk").toString
    DedupIndex.write(charPath, cjkHist, "doc_id", "text", 3, 12, 4,
      charShingles = true)
    val surv = DedupIndex.gate(spark, charPath, batch, "doc_id", "text", 3, 12, 4, 0.9)
    assert(ids(surv) === Set(12L))
    // upsert takes the unit from the MANIFEST (no parameter to get
    // wrong): a day-2 copy of the accepted novel doc drops
    DedupIndex.upsert(charPath, surv, "doc_id", "text", 3, 12, 4)
    val day2 = Seq((20L, "完全不同的另一段较长中文文本内容与前面毫无相似之处可言"),
      (21L, s2)).toDF("doc_id", "text")
    assert(ids(DedupIndex.gate(spark, charPath, day2, "doc_id", "text", 3, 12, 4, 0.9))
      === Set.empty[Long])
    // compaction carries the unit through; the grown store (doc 12
    // was accepted and upserted above) still self-matches the whole
    // original batch and keeps catching through the rewrite
    DedupIndex.compact(spark, charPath)
    assert(graft.io.StoreManifest.current(spark, charPath)("char_shingles") === 1)
    assert(ids(DedupIndex.gate(spark, charPath, batch, "doc_id", "text", 3, 12, 4, 0.9))
      === Set.empty[Long])
    val day3 = Seq((30L, "这是一段此前从未出现过的全新中文语料内容样本")).toDF("doc_id", "text")
    assert(ids(DedupIndex.gate(spark, charPath, day3, "doc_id", "text", 3, 12, 4, 0.9))
      === Set(30L))
  }

  test("a manifest-less path fails loudly") {
    val empty = Files.createTempDirectory("graft_dedupidx_none").toString
    val ex = intercept[IllegalStateException] {
      DedupIndex.gate(spark, empty, bA, "doc_id", "text", 3, 12, 4, 0.5)
    }
    assert(ex.getMessage.contains("no committed manifest"))
  }

  test("a store not in the current layout fails at once, naming the missing manifest key") {
    import graft.io.StoreManifest
    val path = Files.createTempDirectory("graft_dedupidx_layout").toString
    DedupIndex.write(path, hist, "doc_id", "text", 3, 12, 4)
    val current = StoreManifest.current(spark, path)
    val ops: Seq[(String, () => Any)] = Seq(
      "gate" -> (() => DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5)),
      "upsert" -> (() => DedupIndex.upsert(path, bA, "doc_id", "text", 3, 12, 4)),
      "ingest" -> (() => DedupIndex.ingest(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5)),
      "compact" -> (() => DedupIndex.compact(spark, path)))
    for (key <- Seq("band_enc", "buckets", "sizes")) {
      StoreManifest.commit(spark, path, current - key)
      for ((op, run) <- ops) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(s"`$key`"), s"$op without $key: ${e.getMessage}")
      }
    }
    // nothing was written: the current layout reads as before
    StoreManifest.commit(spark, path, current)
    assert(ids(DedupIndex.gate(spark, path, bA, "doc_id", "text", 3, 12, 4, 0.5)) ===
      ids(Dedup.incrementalNearDupLsh(bA, hist, "doc_id", "text", 3, 12, 4, 0.5)))
  }
}
