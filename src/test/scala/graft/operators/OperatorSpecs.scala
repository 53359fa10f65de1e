package graft.operators

import graft.SparkTestSession
import graft.sources.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator self-oracles the code promises (VERDICT r1 items 2/5):
  * stateful twins vs declarative forms, LSH vs brute, as-of vs a
  * naive per-key loop. Runs on the sf0.001 harness tables. */
class OperatorSpecs extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val events = Tables.events(spark, SparkTestSession.sfDir)
  private lazy val embeddings = Tables.embeddings(spark, SparkTestSession.sfDir)
  import spark.implicits._

  test("Sessionize.byGapStateful equals byGap row for row") {
    val declarative = Sessionize.byGap(events, col("user_id"), col("ts"), 1800)
      .select("event_id", "session_id")
    val stateful = Sessionize.byGapStateful(events, "user_id", "ts", 1800)
      .select("event_id", "session_id")
    assert(declarative.count() === events.count())
    assert(declarative.exceptAll(stateful).count() === 0)
    assert(stateful.exceptAll(declarative).count() === 0)
  }

  test("per-key state machines run as one PerKeyAppend pass; output schemas are pinned") {
    // name:type, with ! marking a non-nullable column
    def sig(df: org.apache.spark.sql.DataFrame): Seq[String] = df.schema.fields.toSeq.map(f =>
      s"${f.name}:${f.dataType.simpleString}" + (if (f.nullable) "" else "!"))
    val docs = (1L to 200L).map(i => (i, (i % 120) + 1)).toDF("doc_id", "ntok")
    val packed = Packing.greedyPack(docs, "doc_id", "ntok", budget = 256L, numShards = 4)
    val x01 = graft.SparkEntry.queries("x01_stateful_fold_balance")(spark, SparkTestSession.sfDir)
    Seq("greedyPack" -> packed, "x01" -> x01).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val nodes = PlanNodes.all(plan).map(_.getClass.getSimpleName)
      assert(nodes.count(_ == "PerKeyAppendExec") === 1, s"$name\n${plan.treeString}")
      Seq("MapGroupsExec", "DeserializeToObjectExec", "SerializeFromObjectExec").foreach { n =>
        assert(!nodes.contains(n), s"$name has $n\n${plan.treeString}")
      }
    }
    val got = Map(
      "byGapStateful" -> sig(Sessionize.byGapStateful(events, "user_id", "ts", 1800)),
      "greedyPack" -> sig(packed),
      "x01" -> sig(x01))
    val expected = Map(
      "byGapStateful" -> Seq("event_id:bigint", "ts:timestamp", "user_id:bigint",
        "event_type:string", "value:double", "props:string", "ts_ns:bigint",
        "session_id:bigint!"),
      "greedyPack" -> Seq("doc_id:bigint!", "n_tokens:bigint!", "shard:bigint",
        "pack_seq:bigint!"),
      "x01" -> Seq("event_id:bigint", "balance_cents:bigint!"))
    assert(got === expected)
  }

  test("AsOfJoin.backward equals a naive per-key loop, including tolerance") {
    val left = Seq(
      ("a", 10L, 1), ("a", 20L, 2), ("a", 30L, 3), ("b", 5L, 4), ("c", 9L, 5))
      .toDF("k", "t", "lid")
      .withColumn("lts", timestamp_seconds(col("t"))).drop("t")
    val right = Seq(
      ("a", 10L, 100), ("a", 25L, 200), ("b", 1L, 300), ("d", 1L, 400))
      .toDF("k", "t", "pay")
      .withColumn("rts", timestamp_seconds(col("t"))).drop("t")

    val got = AsOfJoin.backward(left, right, "k", "lts", "rts", Seq("pay"),
        toleranceSeconds = Some(8))
      .select("lid", "pay").as[(Int, Option[Int])].collect().toMap

    // naive: latest rts <= lts within 8s
    val r = Map("a" -> Seq((10L, 100), (25L, 200)), "b" -> Seq((1L, 300)))
    val naive = Seq(("a", 10L, 1), ("a", 20L, 2), ("a", 30L, 3), ("b", 5L, 4), ("c", 9L, 5))
      .map { case (k, t, lid) =>
        lid -> r.getOrElse(k, Seq.empty)
          .filter { case (rt, _) => rt <= t && t - rt <= 8 }
          .sortBy(_._1).lastOption.map(_._2)
      }.toMap
    assert(got === naive)
  }

  test("AsOfJoin attaches the matched right row ATOMICALLY (null payload stays null)") {
    // ADVICE r1: a NULL in the matched row's payload must NOT be
    // backfilled from an older right row.
    val left = Seq(("a", 100L, 1)).toDF("k", "t", "lid")
      .withColumn("lts", timestamp_seconds(col("t"))).drop("t")
    val right = Seq(
      ("a", 10L, Some(7), Some("old")), ("a", 50L, None, Some("new")))
      .toDF("k", "t", "x", "y")
      .withColumn("rts", timestamp_seconds(col("t"))).drop("t")
    val out = AsOfJoin.backward(left, right, "k", "lts", "rts", Seq("x", "y")).collect().head
    assert(out.getAs[Any]("x") === null) // matched row's null, not 7
    assert(out.getAs[String]("y") === "new")
  }

  test("dedup recall structure: identical docs are always caught by banding") {
    // identical texts → identical signatures → same band buckets, so
    // the exact-dup pair MUST appear on both sides of the t59 metric
    val docs = (Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")) ++
      (3L to 20L).map(i => (i, (0 until 12).map(j => s"u${i}w$j").mkString(" "))))
      .toDF("doc_id", "text")
    val ep = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleDf = Some(1000))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lp = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ep.contains((1L, 2L)) && lp.contains((1L, 2L)))
    // the metric's invariant: hits can never exceed either side
    val hits = ep intersect lp
    assert(hits.size <= ep.size && hits.size <= lp.size)
  }

  test("groupedMad: hand-computed nearest-rank medians, robust to the outlier") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 4L), ("a", 100L),
        ("b", 5L), ("b", 7L), ("b", 9L))
      .toDF("g", "v")
    val r = Quantiles.groupedMad(df, "g", "v")
      .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq
    // a: n=4, median = 2nd smallest = 2; deviations {1,0,2,98} → MAD 1
    // b: n=3, median = 7; deviations {2,0,2} → MAD 2
    assert(r === Seq(("a", 4L, 2L, 1L), ("b", 3L, 7L, 2L)))
    // the 100 outlier has NOT inflated a's dispersion (stddev would be ~48)
  }

  test("AsOfJoin.forward mirrors backward incl. equal-ts inclusivity and tolerance") {
    val left = Seq(("a", 10L, 1), ("a", 20L, 2), ("a", 26L, 3), ("b", 5L, 4))
      .toDF("k", "t", "lid")
      .withColumn("lts", timestamp_seconds(col("t"))).drop("t")
    val right = Seq(("a", 10L, 100), ("a", 25L, 200), ("b", 50L, 300))
      .toDF("k", "t", "pay")
      .withColumn("rts", timestamp_seconds(col("t"))).drop("t")
    val got = AsOfJoin.forward(left, right, "k", "lts", "rts", Seq("pay"),
        toleranceSeconds = Some(8))
      .select("lid", "pay").as[(Int, Option[Int])].collect().toMap
    // lid 1: equal-ts right (10) matches at distance 0 — inclusive;
    // lid 2: next is 25, within 8s; lid 3: nothing ahead within reach
    // for 26→25? forward only: 25 < 26, so no match ahead except none;
    // lid 4: 50 − 5 = 45 > 8 → out of tolerance
    assert(got === Map(1 -> Some(100), 2 -> Some(200), 3 -> None, 4 -> None))
  }

  test("AsOfJoin.nearest picks the strictly closer side; exact ties go backward") {
    val left = Seq(("a", 20L, 1), ("a", 21L, 2), ("a", 19L, 3), ("b", 10L, 4))
      .toDF("k", "t", "lid")
      .withColumn("lts", timestamp_seconds(col("t"))).drop("t")
    val right = Seq(("a", 10L, 100), ("a", 30L, 200), ("b", 100L, 300))
      .toDF("k", "t", "pay")
      .withColumn("rts", timestamp_seconds(col("t"))).drop("t")
    val got = AsOfJoin.nearest(left, right, "k", "lts", "rts", Seq("pay"),
        toleranceSeconds = Some(60))
      .select("lid", "pay").as[(Int, Option[Int])].collect().toMap
    // lid 1: 20 is equidistant (10 back, 10 fwd) → backward 100
    // lid 2: 21 is closer to 30 (9 < 11) → forward 200
    // lid 3: 19 is closer to 10 (9 < 11) → backward 100
    // lid 4: only 100 ahead, 90s away > 60s tolerance → null
    assert(got === Map(1 -> Some(100), 2 -> Some(200), 3 -> Some(100), 4 -> None))
  }

  test("embedding LSH near-dup pairs are a subset of brute pairs at the same threshold") {
    val brute = Dedup.embeddingNearDupBrute(embeddings, "vec_id", "embedding", 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupLsh(embeddings, "vec_id", "embedding", 64, 4, 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.nonEmpty)
  }

  test("lshTopK results are a subset of the brute top-cos ordering and well-formed") {
    val queries = embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cands = embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val brute = SimilaritySearch.bruteForceTopK(queries, cands, k = 500)
      .select("query_id", "id", "cos").as[(Long, Long, Double)].collect()
      .map { case (q, id, cos) => (q, id) -> cos }.toMap
    val lsh = SimilaritySearch.lshTopK(queries, cands, dim = 64, numPlanes = 4, k = 10, probes = 3)
      .select("query_id", "rank", "id", "cos").as[(Long, Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    // ranks are 1..n contiguous per query and cos values match the exact
    // scoring for the same (query, candidate) pair
    lsh.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (1L to rows.length).toSeq)
    }
    lsh.foreach { case (q, _, id, cos) =>
      assert(math.abs(brute((q, id)) - cos) < 1e-9)
    }
  }

  test("recallAtK: hand-built rankings score exact fractions, truncated at k") {
    val exact = Seq(
      (1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L), (1L, 4L, 99L),
      (2L, 1L, 20L), (2L, 2L, 21L), (2L, 3L, 22L)).toDF("query_id", "rank", "id")
    val approx = Seq(
      (1L, 1L, 10L), (1L, 2L, 12L), (1L, 3L, 77L), (1L, 4L, 11L), // 11 beyond k
      (2L, 1L, 30L), (2L, 2L, 31L), (2L, 3L, 32L)).toDF("query_id", "rank", "id")
    val r = SimilaritySearch.recallAtK(exact, approx, k = 3)
      .orderBy("query_id").as[(Long, Long, Double)].collect().toSeq
    // q1: exact {10,11,12} ∩ approx {10,12,77} = {10,12}; rank-4 rows ignored
    // q2: disjoint sets → 0
    assert(r === Seq((1L, 2L, 0.666667), (2L, 0L, 0.0)))
  }

  test("recallAtK: a corpus smaller than k denominates by the exact side") {
    // only 2 exact rows exist for q1 — a perfect approximation must
    // score 1.0, not 2/3 (the fixed-k denominator would understate)
    val exact = Seq((1L, 1L, 10L), (1L, 2L, 11L)).toDF("query_id", "rank", "id")
    val approx = Seq((1L, 1L, 11L), (1L, 2L, 10L)).toDF("query_id", "rank", "id")
    val r = SimilaritySearch.recallAtK(exact, approx, k = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(r === Seq((1L, 2L, 1.0)))
  }

  test("binaryHammingTopK: exact rerank scores, useful recall, layout determinism") {
    val queries = embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cands = embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val bruteAll = SimilaritySearch.bruteForceTopK(queries, cands, k = 500)
      .select("query_id", "id", "cos").as[(Long, Long, Double)].collect()
      .map { case (q, id, cos) => (q, id) -> cos }.toMap
    val bruteTop = SimilaritySearch.bruteForceTopK(queries, cands, k = 5)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bin = SimilaritySearch.binaryHammingTopK(queries, cands,
      dim = 64, bits = 60, shortlist = 50, k = 5)
      .select("query_id", "rank", "id", "cos").as[(Long, Long, Long, Double)].collect()
    // rerank scores are EXACT cosines; self never returned; ranks contiguous
    bin.foreach { case (q, _, id, cos) =>
      assert(id !== q)
      assert(math.abs(bruteAll((q, id)) - cos) < 1e-9)
    }
    bin.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (1L to rows.length).toSeq)
    }
    // 60 sign bits over 64 dims with a 50-wide shortlist: substantial recall
    val recalls = bin.groupBy(_._1).map { case (q, rows) =>
      rows.map(_._3).toSet.intersect(bruteTop(q)).size.toDouble / bruteTop(q).size
    }
    assert(recalls.sum / recalls.size >= 0.5, s"mean recall ${recalls.sum / recalls.size}")
    // partition-layout determinism
    val again = SimilaritySearch.binaryHammingTopK(queries, cands.repartition(7),
      dim = 64, bits = 60, shortlist = 50, k = 5)
      .select("query_id", "rank", "id", "cos").as[(Long, Long, Long, Double)].collect()
    assert(bin.sortBy(r => (r._1, r._2)).toSeq === again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("ivfTopK: deterministic training, exact scores, useful recall vs brute") {
    val queries = embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cands = embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))

    val bruteTop = SimilaritySearch.bruteForceTopK(queries, cands, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bruteAll = SimilaritySearch.bruteForceTopK(queries, cands, k = 500)
      .select("query_id", "id", "cos").as[(Long, Long, Double)].collect()
      .map { case (q, id, cos) => (q, id) -> cos }.toMap

    val ivf = SimilaritySearch.ivfTopK(queries, cands,
      numClusters = 8, iters = 2, k = 10, nprobe = 3)
      .select("query_id", "rank", "id", "cos").as[(Long, Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    // scores are EXACT cosines (IVF only restricts the candidate set)
    ivf.foreach { case (q, _, id, cos) =>
      assert(math.abs(bruteAll((q, id)) - cos) < 1e-9)
    }
    // contiguous ranks per query
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (1L to rows.length).toSeq)
    }
    // recall@10 with 3/8 cells probed should be substantial
    val recalls = ivf.groupBy(_._1).map { case (q, rows) =>
      val got = rows.map(_._3).toSet
      got.intersect(bruteTop(q)).size.toDouble / bruteTop(q).size
    }
    assert(recalls.sum / recalls.size >= 0.5, s"mean recall ${recalls.sum / recalls.size}")

    // deterministic: same seed data → identical output across runs
    val again = SimilaritySearch.ivfTopK(queries, cands,
      numClusters = 8, iters = 2, k = 10, nprobe = 3)
      .select("query_id", "rank", "id", "cos").as[(Long, Long, Long, Double)].collect()
    assert(ivf.sortBy(r => (r._1, r._2)).toSeq === again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("ngramJaccardPairs equals a hand-computed toy corpus") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "a completely different sentence here now"),
      (4L, "the cat sat on the mat")) // exact dup of 1
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.3)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => ((a, b), j) }.toMap
    // doc1 vs doc4: identical 5 bigrams → jaccard 1.0
    // doc1 vs doc2: bigrams {the cat, cat sat, sat on, on the, the mat/rug}
    //   intersection 4, union 6 → 0.666667
    assert(pairs((1L, 4L)) === 1.0)
    assert(pairs((1L, 2L)) === 0.666667)
    assert(pairs((2L, 4L)) === 0.666667)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("shingle DF cap OBSERVES its drops (no-silent-caps)") {
    // bigram "x x" appears in 3 docs (> cap 2) and must be dropped —
    // and counted; "a b"/"b c" (df 1) and "p q" (df 2) survive
    val docs = Seq(
      (1L, "x x a b c"),
      (2L, "x x p q"),
      (3L, "x x p q"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingled(docs, "doc_id", "text", n = 2, maxShingleDf = Some(2))
    val kept = sh.collect().map(_.getAs[String]("sh"))
    assert(!kept.contains("x x"))
    val metric = sh.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith("graft_shingle_df_cap") => row
    }.getOrElse(fail("no shingle_df_cap observation on the capped plan"))
    assert(metric.getAs[Long]("stop_shingles_dropped") === 1L)
    assert(metric.getAs[Long]("doc_shingle_rows_dropped") === 3L)
  }

  test("minhashLshPairs finds exact dups and high-jaccard pairs on the toy corpus") {
    val docs = Seq(
      (1L, "the cat sat on the mat today and yesterday it sat again"),
      (2L, "the cat sat on the mat today and yesterday it sat again"),
      (3L, "a completely different sentence with other words entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, numHashes = 12, bands = 4, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("ngramOverlap profiles benchmark contamination; removeContaminated drops hits") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares benchmark trigrams
      (2L, "completely unrelated training sentence here today"),
      (3L, "hi")) // < 3 tokens: no trigrams at all
      .toDF("doc_id", "text")
    val prof = Decontaminate.ngramOverlap(train, "doc_id", "text", bench, "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // doc1: 7 trigrams, 3 shared ("the quick brown","quick brown fox","brown fox jumps")
    assert(prof(1L) === ((1L, 7L, 3L, 0.428571)))
    assert(prof(2L)._3 === 0L)
    assert(!prof.contains(3L)) // shingle-free docs are absent (cannot be contaminated)
    val kept = Decontaminate.removeContaminated(train, "doc_id", "text", bench, "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L)) // doc3 survives the anti-join despite having no grams
  }

  test("charNgramJaccardPairs catches CJK near-dups the word form is blind to") {
    val s = "深度学习模型需要高质量数据"
    val docs = Seq(
      (1L, s), (2L, s),          // byte-identical CJK docs
      (3L, s + "了"),            // one-char-appended near-dup
      (4L, "完全不同的另一段中文文本内容")) // unrelated CJK
      .toDF("doc_id", "text")
    // the word form: each doc is ONE token → zero word trigrams →
    // zero pairs (the structural blindness the char form fixes)
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1).count() === 0L)
    val pairs = Dedup.charNgramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) === 1.0)
    // s has 11 distinct trigrams, s+'了' those plus one → 11/12
    assert(pairs((1L, 3L)) === 0.916667 && pairs((2L, 3L)) === 0.916667)
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("charMinhashLshPairs: the banded char-unit path recovers the planted " +
      "CJK near-dups the word LSH is blind to") {
    val s = "深度学习模型需要高质量数据"
    val docs = Seq(
      (1L, s), (2L, s),          // byte-identical CJK docs
      (3L, s + "了"),            // one-char-appended near-dup (11/12)
      (4L, "完全不同的另一段中文文本内容")) // unrelated CJK
      .toDF("doc_id", "text")
    // word-unit LSH: one whitespace token per doc → zero shingles →
    // zero candidates, even for byte-identical copies
    assert(Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 12, 4, 0.1)
      .count() === 0L)
    // band recall on the planted near-dups: identical docs have
    // identical signatures (every band collides — recall 1 by
    // construction); the +1-char pair must ALSO surface, i.e. at
    // least one of its 4 bands collides at jaccard 11/12 (the
    // S-curve leaves ~1.3e-4 miss probability per such pair, and the
    // fixture is deterministic — this pins the arithmetic, not luck)
    val lsh = Dedup.charMinhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4, threshold = 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(lsh((1L, 2L)) === 1.0)
    assert(lsh((1L, 3L)) === 0.916667 && lsh((2L, 3L)) === 0.916667)
    assert(!lsh.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // and the banded path's verified pairs equal the exact char-pair
    // operator's on this fixture (full band recall)
    val exact = Dedup.charNgramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(lsh === exact)
  }

  test("ngramOverlapBySuite attributes hits to the right eval suite") {
    val bench = Seq(
      ("suiteA", "the quick brown fox jumps"),
      ("suiteA", "a different line entirely here"),
      ("suiteB", "the quick brown fox jumps"), // shares A's grams
      ("suiteB", "lazy dog sleeps all day"))
      .toDF("suite", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over things"), // hits A and B
      (2L, "lazy dog sleeps all day long"),          // hits B only
      (3L, "completely unrelated training sentence today"))
      .toDF("doc_id", "text")
    val r = Decontaminate.ngramOverlapBySuite(
        train, "doc_id", "text", bench, "suite", "text", n = 3)
      .as[(Long, String, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    // doc1: 5 trigrams, 3 shared with BOTH suites (the fox sentence
    // lives in each) — one attribution row per suite, same counts
    assert(r((1L, "suiteA")) === ((1L, "suiteA", 5L, 3L, 0.6)))
    assert(r((1L, "suiteB")) === ((1L, "suiteB", 5L, 3L, 0.6)))
    // doc2 hits only suiteB's dog sentence: 4 trigrams, 3 shared
    assert(r((2L, "suiteB")) === ((2L, "suiteB", 4L, 3L, 0.75)))
    assert(!r.contains((2L, "suiteA")))
    // unhit docs are absent entirely (the ngramOverlap contract)
    assert(!r.keys.exists(_._1 == 3L))
    // the per-suite Bloom form: identical at generous bits; under a
    // starved filter each suite's one-sided error may only ADD rows
    // and INFLATE n_hit, never lose a contaminated pair
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Long, Double)].collect()
        .map(x => (x._1, x._2) -> x).toMap
    val bloom = asMap(Decontaminate.ngramOverlapBySuiteBloom(
      train, "doc_id", "text", bench, "suite", "text", n = 3))
    assert(bloom === r)
    val starved = asMap(Decontaminate.ngramOverlapBySuiteBloom(
      train, "doc_id", "text", bench, "suite", "text", n = 3,
      estimatedGrams = 4L, numBits = 64L))
    r.foreach { case (key, exact) =>
      assert(starved.contains(key) && starved(key)._3 === exact._3 &&
        starved(key)._4 >= exact._4,
        s"$key: starved bloom must keep the row with n_hit >= exact")
    }
  }

  test("semanticOverlap attributes docs to the nearest eval vector; the " +
      "gate drops exactly the hits") {
    val suite = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f))) // s1's direction again — tie fodder
      .toDF("sid", "emb")
    val docs = Seq(
      (10L, Array(2.0f, 0.0f)),  // cos 1.0 with s1 AND s3 → tie → s1
      (11L, Array(1.0f, 1.0f)),  // cos .707107 with all three → s1
      (12L, Array(-1.0f, 0.5f)), // max cos .447214 (s2) → below floor
      (13L, Array(0.0f, 0.0f)))  // zero norm → cos 0.0 → below floor
      .toDF("doc_id", "emb")
    val r = Decontaminate.semanticOverlap(
        docs, "doc_id", "emb", suite, "sid", "emb", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r === Map(10L -> ((1L, 1.0)), 11L -> ((1L, 0.707107))))
    // below the floor the doc is attributed to s2 at the rounded cosine
    val low = Decontaminate.semanticOverlap(
        docs, "doc_id", "emb", suite, "sid", "emb", threshold = 0.4)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(low(12L) === ((2L, 0.447214)) && !low.contains(13L))
    // the strict gate keeps exactly the non-hits, all columns intact
    val kept = Decontaminate.removeSemanticContaminated(
        docs, "doc_id", "emb", suite, "sid", "emb", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(12L, 13L))
  }

  test("Bloom probes ride broadcasts: plan carries ZERO synopsis bytes " +
      "at any suite count") {
    // the r17 hazard: embedding each suite's synopsis as a plan
    // Literal(BinaryType) grows the serialized task binary by
    // numBits/8 PER SUITE (hundreds of MB at the operator's design
    // target). The fix broadcasts the deserialized filters and probes
    // via BloomsHitIndicesExpr / BloomMightContainExpr — so the probe
    // plan must contain NO BinaryType literal at all, no matter how
    // many suites accumulate (the suite names themselves are a
    // bytes-sized string-array literal).
    def binaryLiteralBytes(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case org.apache.spark.sql.catalyst.expressions.Literal(
              v: Array[Byte], org.apache.spark.sql.types.BinaryType) => v.length.toLong
        }.sum).sum
      }.sum
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "unrelated words entirely here now")).toDF("doc_id", "text")
    def run(nSuites: Int) = {
      val bench = (0 until nSuites)
        .map(i => (f"s$i%03d", s"alpha beta gamma tok$i suf$i tail$i"))
        .toDF("suite", "text")
      Decontaminate.ngramOverlapBySuiteBloom(
        train, "doc_id", "text", bench, "suite", "text", n = 3,
        estimatedGrams = 1L << 10, numBits = 1L << 20) // 128 KiB/suite
    }
    val at4 = run(4)
    val at64 = run(64)
    assert(binaryLiteralBytes(at4) === 0L,
      "per-suite probe must not embed synopsis bytes in the plan")
    assert(binaryLiteralBytes(at64) === 0L,
      "synopsis bytes in the plan grow linearly in suite count — must be broadcast")
    // and the probe actually works at both counts: every suite shares
    // the 'alpha beta gamma' trigram with doc 1, so doc 1 carries one
    // row per suite and doc 2 none
    assert(at4.count() === 4L && at64.count() === 64L)
    assert(at64.select("doc_id").distinct().as[Long].collect().toSeq === Seq(1L))
    // the single-synopsis forms ride the same broadcast pattern
    val one = Decontaminate.ngramOverlapBloom(
      train, "doc_id", "text",
      Seq((0L, "alpha beta gamma")).toDF("id", "text"), "text", n = 3)
    assert(binaryLiteralBytes(one) === 0L)
  }

  test("SuiteSynopsisStore lifecycle: incremental adds, supersede-by-seq, " +
      "compact — attribution equals the one-shot exact form") {
    val path = java.nio.file.Files.createTempDirectory("graft_suitestore").toString
    val benchA = Seq("the quick brown fox jumps").toDF("text")
    val benchB = Seq("lazy dog sleeps all day").toDF("text")
    val benchB2 = Seq("entirely new suite content line").toDF("text")
    val train = Seq(
      (1L, "the quick brown fox jumps over things"),
      (2L, "lazy dog sleeps all day long"),
      (3L, "entirely new suite content line here"),
      (4L, "nothing shared with any suite at all"))
      .toDF("doc_id", "text")
    def exact(suites: Seq[(String, org.apache.spark.sql.DataFrame)]) =
      Decontaminate.ngramOverlapBySuite(train, "doc_id", "text",
          suites.map { case (n2, df) => df.withColumn("suite", lit(n2)) }
            .reduce(_.unionByName(_)),
          "suite", "text", n = 3)
        .as[(Long, String, Long, Long, Double)].collect().sorted.toSeq
    def stored() = SuiteSynopsisStore.attribution(spark, path, train, "doc_id", "text")
      .as[(Long, String, Long, Long, Double)].collect().sorted.toSeq
    SuiteSynopsisStore.addSuite(path, "sA", benchA, "text", n = 3)
    assert(stored() === exact(Seq("sA" -> benchA)))
    // a new suite's arrival: ONE new filter, existing rows untouched
    SuiteSynopsisStore.addSuite(path, "sB", benchB, "text", n = 3)
    assert(stored() === exact(Seq("sA" -> benchA, "sB" -> benchB)))
    // RE-ADD sB with different content: the latest seq supersedes —
    // doc 2 (old sB) must lose its row, doc 3 (new sB) must gain one
    SuiteSynopsisStore.addSuite(path, "sB", benchB2, "text", n = 3)
    assert(stored() === exact(Seq("sA" -> benchA, "sB" -> benchB2)))
    // compact: superseded row + small files collapse; rows = |suites|;
    // attribution identical through the pointer swap
    val rep = SuiteSynopsisStore.compact(spark, path)
    assert(rep.rows === 2L && rep.filesAfter <= rep.filesBefore)
    assert(stored() === exact(Seq("sA" -> benchA, "sB" -> benchB2)))
    // the strict gate equals the exact union anti-join
    val kept = SuiteSynopsisStore.removeContaminated(spark, path, train, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L)) // doc2's suite was replaced; doc4 never hit
    // grid guard: a different gram size or a non-power-of-two sizing
    // fails LOUDLY (the DedupIndex mixed-grid discipline)
    val e = intercept[IllegalArgumentException](
      SuiteSynopsisStore.addSuite(path, "sC", benchA, "text", n = 4))
    assert(e.getMessage.contains("grid mismatch"), e.getMessage)
    intercept[IllegalArgumentException](
      SuiteSynopsisStore.addSuite(path, "sC", benchA, "text", n = 3, numBits = 3000))
  }

  test("ngramOverlapBloom: no false negatives; equals exact at generous bits; " +
      "conservative under a tiny filter") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated training sentence here today"),
      (3L, "hi"))
      .toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val exact = asMap(Decontaminate.ngramOverlap(
      train, "doc_id", "text", bench, "text", n = 3))
    // generous bits (10/gram on a 3-gram benchmark): FP ~ 0 on this
    // fixture, so the profile is IDENTICAL to the exact join's
    val bloom = asMap(Decontaminate.ngramOverlapBloom(
      train, "doc_id", "text", bench, "text", n = 3))
    assert(bloom === exact)
    // a deliberately starved filter (64 bits for 3 grams) may false-
    // positive but can NEVER miss a real hit — per-doc n_hit ≥ exact,
    // n_grams identical (the conservative one-sided error)
    val tiny = asMap(Decontaminate.ngramOverlapBloom(
      train, "doc_id", "text", bench, "text", n = 3,
      estimatedGrams = 4L, numBits = 64L))
    exact.foreach { case (id, (_, nGrams, nHit, _)) =>
      assert(tiny(id)._2 === nGrams)
      assert(tiny(id)._3 >= nHit,
        s"doc $id: bloom n_hit ${tiny(id)._3} must be >= exact $nHit")
    }
    // the STRICT removal form (llm03's pipeline stage): identical to
    // the exact anti-join at generous bits; under the starved filter
    // the one-sided error may only drop MORE, never resurrect a
    // contaminated doc
    def keptOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val exactKept = keptOf(Decontaminate.removeContaminated(
      train, "doc_id", "text", bench, "text", n = 3))
    val bloomKept = keptOf(Decontaminate.removeContaminatedBloomAgainst(
      train, "doc_id", "text",
      Decontaminate.benchGramsBloom(bench, "text", n = 3), n = 3))
    assert(bloomKept === exactKept)
    val starvedKept = keptOf(Decontaminate.removeContaminatedBloomAgainst(
      train, "doc_id", "text",
      Decontaminate.benchGramsBloom(bench, "text", n = 3,
        estimatedGrams = 4L, numBits = 64L), n = 3))
    assert(starvedKept.subsetOf(exactKept),
      s"starved bloom must only drop MORE: $starvedKept vs $exactKept")
  }

  test("Pii.detect counts and redacts emails, IPs, phones, SSNs") {
    val docs = Seq(
      (1L, "mail bob.smith+x@sub.example.co.uk and carol@d.org now"),
      (2L, "server 10.0.3.44 and 192.168.1.1 up"),
      (3L, "ssn 123-45-6789 phone 555-867-5309 alt 555.867.5309"),
      (4L, "nothing sensitive here"),
      (5L, "write a@123-45-6789.io or x@10.0.0.1.net today"),
      (6L, "mixed separators 555-867.5309 are not a phone")).toDF("doc_id", "text")
    val r = graft.functions.Pii.detect(docs, "text")
      .select("doc_id", "n_email", "n_ipv4", "n_phone", "n_ssn", "has_pii", "redacted")
      .as[(Long, Int, Int, Int, Int, Boolean, String)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 === 2 && r(1L)._7 === "mail [EMAIL] and [EMAIL] now")
    assert(r(2L)._3 === 2 && r(2L)._7 === "server [IP] and [IP] up")
    assert(r(3L)._4 === 2 && r(3L)._5 === 1 &&
      r(3L)._7 === "ssn [SSN] phone [PHONE] alt [PHONE]")
    assert(r(4L)._6 === false && r(4L)._7 === "nothing sensitive here")
    // overlapping matches: the dotted-numeric domains are consumed as
    // emails, so the SSN/IP families see nothing — counts and redacted
    // text agree (counts partition the text in redact precedence)
    assert(r(5L)._2 === 2 && r(5L)._3 === 0 && r(5L)._5 === 0 &&
      r(5L)._7 === "write [EMAIL] or [EMAIL] today")
    assert(r(6L)._4 === 0 && r(6L)._6 === false)
    // the single-pass flag (one rlike on the family alternation) must
    // agree with detect's progressive-counts flag everywhere — pinned
    // on the adversarial overlap shapes above (dotted-numeric email
    // domains, mixed separators, multi-family docs)
    val fast = docs.select(col("doc_id"),
        graft.functions.Pii.hasPii(col("text")).as("f"))
      .as[(Long, Boolean)].collect().toMap
    r.foreach { case (id, row) => assert(fast(id) === row._6,
      s"doc $id: hasPii ${fast(id)} != detect.has_pii ${row._6}") }
  }

  test("repetition signals: maxMultiplicity / maxRunCharCoverage / typeTokenRatio") {
    import graft.functions.TextFunctions._
    val df = Seq(
      (1L, "spam spam spam ham"),           // top token 'spam' ×3
      (2L, "all words here are distinct"),
      (3L, "")).toDF("id", "text")
      .select(col("id"), tokens(canonicalText(col("text"))).as("toks"))
    val got = df.select(col("id"),
        maxMultiplicity(col("toks")).as("m"),
        maxRunCharCoverage(shinglesFromTokens(col("toks"), 2)).as("cc"),
        round(typeTokenRatio(col("toks")), 6).as("ttr"))
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3, 18, 0.5)))  // "spam spam" ×2 · 9 chars = 18
    assert(got(2L) === ((2L, 1, 12, 1.0)))  // all bigrams unique; longest is "are distinct" (12 chars)
    assert(got(3L) === ((3L, 0, 0, 0.0)))
  }

  test("greedyPack respects the budget, isolates oversize docs, survives repartitioning") {
    val docs = (1L to 200L).map(i => (i, if (i % 37 == 0) 900L else (i % 120) + 1))
      .toDF("doc_id", "ntok")
    val packed = Packing.greedyPack(docs, "doc_id", "ntok", budget = 256L, numShards = 4)
    val stats = Packing.packStats(packed, budget = 256L)
      .as[(Long, Long, Long, Long, Double)].collect()
    stats.foreach { case (_, _, nDocs, packTokens, _) =>
      // a pack over budget can only be a single oversize document
      assert(packTokens <= 256L || nDocs === 1L)
    }
    // oversize docs (900 tokens) are always alone in their pack
    val oversizePacks = packed.filter(col("n_tokens") === 900L)
      .select("shard", "pack_seq").as[(Long, Long)].collect().toSet
    stats.filter(s => oversizePacks.contains((s._1, s._2))).foreach(s => assert(s._3 === 1L))
    // same assignment regardless of input partitioning
    val repacked = Packing.greedyPack(docs.repartition(13), "doc_id", "ntok",
      budget = 256L, numShards = 4)
    assert(packed.orderBy("doc_id").collect().toSeq ===
      repacked.orderBy("doc_id").collect().toSeq)
    // every doc of every shard is assigned, pack seqs are contiguous from 1
    val perShard = packed.groupBy("shard").agg(
        countDistinct("pack_seq").as("np"), max("pack_seq").as("mx"))
      .as[(Long, Long, Long)].collect()
    perShard.foreach { case (_, np, mx) => assert(np === mx) }
  }

  test("assignSplit is exhaustive, deterministic, and roughly proportional") {
    val ids = (1L to 2000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val counts = Sampling.assignSplit(ids, "id", splits)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 2000L)
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > 1500L && counts("train") < 1700L)
    // same assignment under a different partitioning
    val again = Sampling.assignSplit(ids.repartition(7), "id", splits)
      .orderBy("id").select("split").as[String].collect()
    val first = Sampling.assignSplit(ids, "id", splits)
      .orderBy("id").select("split").as[String].collect()
    assert(again.toSeq === first.toSeq)
    assertThrows[IllegalArgumentException] {
      Sampling.splitThresholds(Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("CleanCorpus.clean composes dedup, quality, decontamination, and redaction") {
    val good = "the cat is on the mat and the dog is in the house for a nap today it is good"
    val bench = Seq((0L, "shared benchmark trigram here exactly")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, good + " write to me@x.org"),
      (2L, good + " write to me@x.org"),          // exact dup of 1 → dropped
      (3L, "x@!! ##"),                            // low quality → dropped
      (4L, good + " shared benchmark trigram here exactly")) // contaminated → dropped
      .toDF("doc_id", "text")
    val out = CleanCorpus.clean(docs, "doc_id", "text", bench, "text",
        minQuality = 0.5, shingleN = 3)
      .as[(Long, Double, String)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L)._3.endsWith("write to [EMAIL]"))
  }

  test("chunkTokens covers every token with the expected overlap") {
    import graft.functions.TextFunctions.chunkTokens
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks, chunk 4 stride 3
      (2L, "a b"),                                    // shorter than one chunk
      (3L, "")).toDF("id", "text")
      .select(col("id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val got = df.select(col("id"), chunkTokens(col("toks"), 4, 3).as("c"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(got(2L) === Seq("a b"))
    assert(got(3L) === Seq())
  }

  test("array-form minhashSignature equals the row-form aggregate signatures") {
    val docs = Seq(
      (1L, "the cat sat on the mat today and yesterday it sat again"),
      (2L, "a completely different sentence with other words entirely"),
      (3L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val viaArray = docs.select(col("doc_id"),
        graft.functions.TextFunctions.minhashSignature(
          graft.functions.TextFunctions.shingles(col("text"), 2), 12).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaRows = Dedup.minhashSignatures(docs, "doc_id", "text", shingleN = 2, numHashes = 12)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaArray === viaRows)
    // every signature value is inside the family's modulus
    viaRows.values.flatten.foreach(v => assert(v >= 0L && v < 2147483647L))
  }

  test("SimHash60Expr (codegen) equals the pure-Scala simhash60") {
    val docs = Seq((1L, "the quick brown fox"), (2L, ""), (3L, "a b c d e f"))
      .toDF("doc_id", "text")
    val viaExpr = Dedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    docs.collect().foreach { r =>
      val toks = graft.functions.TextFunctions
      // recompute through the pure function on the same canonical tokens
      val canonical = r.getString(1).toLowerCase.replaceAll("[^\\p{L}\\p{N}\\s]", " ")
        .replaceAll("\\s+", " ").trim
      val tokens = if (canonical.isEmpty) Seq.empty[String] else canonical.split(" ").toSeq
      assert(viaExpr(r.getLong(0)) === graft.functions.PortableHash.simhash60(tokens))
    }
  }

  test("simhash chunk-join equals brute-force Hamming pairs (pigeonhole)") {
    val docs = Tables.documents(spark, SparkTestSession.sfDir).limit(120)
    val viaChunks = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(viaChunks === brute)
  }

  test("exactGroups groups canonical-equal docs under full md5") {
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO  world."), (4L, "different"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
      .as[(String, Long, Long)].collect()
    val byKeep = groups.map(g => g._2 -> g._3).toMap
    assert(byKeep(1L) === 3L) // docs 1,2,3 canonicalize identically
    assert(byKeep(4L) === 1L)
    assert(groups.forall(_._1.length === 32)) // full 128-bit hex
  }

  test("connectedComponents ≡ brute union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      // sparse random graph: isolated pairs, chains, a dense clique
      val edges = (1 to 70).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        (50 until 55).flatMap(i => (i + 1 until 55).map(j => (i.toLong, j.toLong))) ++
        Seq((100L, 101L)) // far-off pair
      val noSelf = edges.filter { case (a, b) => a != b }

      // brute union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      noSelf.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = noSelf.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = min id per root group
      val expected = nodes.groupBy(find).flatMap { case (_, members) =>
        val m = members.min; members.map(_ -> m)
      }

      // BOTH paths must agree with brute force: the driver union-find
      // (default threshold) and the distributed star rounds (forced
      // via maxDriverEdges = 0)
      val inDf = noSelf.toDF("id_a", "id_b").repartition(5)
      val viaDriver = Dedup.connectedComponents(inDf)
        .as[(Long, Long)].collect().toMap
      val viaStars = Dedup.connectedComponents(inDf, maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(viaDriver === expected, s"trial $trial driver")
      assert(viaStars === expected, s"trial $trial distributed")
    }
  }

  test("deterministic sampling: stable across repartitioning, bounded per stratum") {
    val docs = (1L to 200L).map(i => (i, s"l${i % 3}", s"s${i % 2}")).toDF("doc_id", "lang", "source")
    val s1 = graft.operators.Sampling.deterministicPerStratum(docs, Seq("lang", "source"), 4, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val s2 = graft.operators.Sampling.deterministicPerStratum(
        docs.repartition(13), Seq("lang", "source"), 4, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 === s2) // partitioning-independent
    assert(s1.length === 6 * 4) // 3 langs × 2 sources × k
    val r1 = graft.operators.Sampling.deterministicByRate(docs, 0.3, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val r2 = graft.operators.Sampling.deterministicByRate(docs.repartition(7), 0.3, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(r1 === r2)
    assert(r1.nonEmpty && r1.length < 200) // gate actually selects a strict subset
    // rate 1.0 keeps everything, rate 0.0 nothing
    assert(graft.operators.Sampling.deterministicByRate(docs, 1.0, "doc_id").count() === 200)
    assert(graft.operators.Sampling.deterministicByRate(docs, 0.0, "doc_id").count() === 0)
  }

  test("dropEmbeddingNearDups keeps one representative per cluster, transitively") {
    // three exact-duplicate groups plus orthogonal singletons: every
    // group collapses to its min id regardless of partitioning
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(j => if (j == seed % 64) 1.0f else 0.0f)
    val rows = Seq(
      (1L, vec(0)), (5L, vec(0)), (9L, vec(0)), // cluster -> keep 1
      (2L, vec(1)), (7L, vec(1)), // cluster -> keep 2
      (3L, vec(2)), (4L, vec(3)), (8L, vec(4))) // singletons
    val df = rows.toDF("vec_id", "embedding").repartition(5)
    val kept = Dedup.dropEmbeddingNearDups(df, "vec_id", "embedding",
        dim = 64, numPlanes = 4, threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 2L, 3L, 4L, 8L))
  }

  test("LineDedup.dropCommonLines drops corpus-frequent lines, keeps order, never loses docs") {
    val docs = Seq(
      (1L, "unique opening one\ncopyright acme corp\nreal content a"),
      (2L, "real content b\ncopyright acme corp\nunique closing two"),
      (3L, "copyright acme corp\nreal content c"),
      (4L, "copyright acme corp"), // only boilerplate: survives with empty text
      (5L, "spaced variant\n  copyright acme corp  \nmore content")) // trims before hashing
      .toDF("doc_id", "text")
    val r = LineDedup.dropCommonLines(docs, "doc_id", "text", maxLineDf = 2)
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) === ((1L, "unique opening one\nreal content a", 3L, 2L)))
    assert(r(2L) === ((2L, "real content b\nunique closing two", 3L, 2L)))
    assert(r(3L) === ((3L, "real content c", 2L, 1L)))
    assert(r(4L) === ((4L, "", 1L, 0L))) // doc survives total boilerplate
    assert(r(5L) === ((5L, "spaced variant\nmore content", 3L, 2L)))
    // a line repeated WITHIN one doc counts once toward df, and both
    // copies share the verdict
    val rep = Seq((1L, "dup line\ndup line\nown"), (2L, "other")).toDF("doc_id", "text")
    val kept = LineDedup.dropCommonLines(rep, "doc_id", "text", maxLineDf = 1)
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x._2).toMap
    assert(kept(1L) === "dup line\ndup line\nown")
  }

  test("TextSearch.bm25TopK ranks term-matched docs, bounded at k, deterministic ties") {
    val docs = Seq(
      (1L, "spark shuffle join join join"), // tf(join)=3
      (2L, "spark join once here"),
      (3L, "nothing relevant at all"),
      (4L, "join appears here and join again"), // tf(join)=2
      (5L, "spark spark spark only")).toDF("doc_id", "text")
    val queries = Seq((10L, "join"), (20L, "spark nothing")).toDF("query_id", "qtext")
    val r = TextSearch.bm25TopK(docs, "doc_id", "text", queries, k = 2)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(x => (x._3, x._4)).toSeq).toMap
    // query 'join': doc1 (tf 3, len 5) beats doc4 (tf 2, len 6); doc2 out at k=2
    assert(r(10L).map(_._1) === Seq(1L, 4L))
    assert(r(10L).forall(_._2 > 0.0))
    // query 'spark nothing': the rare term 'nothing' (df 1) carries
    // the highest idf, so its sole doc outranks the spark-heavy doc5
    assert(r(20L).map(_._1) === Seq(3L, 5L))
    // deterministic under repartitioning (integer micro-unit sums)
    val r2 = TextSearch.bm25TopK(docs.repartition(7), "doc_id", "text", queries, k = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(r2 === r.toSeq.flatMap { case (q, xs) =>
      xs.zipWithIndex.map { case ((id, s), i) => (q, (i + 1).toLong, id, s) } }.toSet)
  }

  test("keepBestPerCluster keeps the argmax-score member, singletons untouched") {
    val docs = Seq(
      (1L, 10.0), (2L, 30.0), (3L, 30.0), // cluster {1,2,3}: 2 wins (score tie w/ 3, lower id)
      (4L, 5.0), (5L, 99.0), // cluster {4,5}: 5 wins
      (6L, 1.0)) // unpaired: survives
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(docs, "doc_id", "score", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 5L, 6L))
  }

  test("topKFrequent equals the window row_number form, incl. hash tie-breaks") {
    // heavy skew in one group, exact count ties in the other — the
    // bounded TopKAgg path must reproduce the window form exactly
    val rows = Seq.fill(30)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(20)(("a", "z")) ++ Seq(("a", "w")) ++ (1 to 9).map(i => ("b", s"t$i"))
    val df = rows.toDF("g", "v").repartition(7)
    val got = FrequentItems.topKFrequent(df, Seq("g"), "v", k = 3)
      .orderBy("g", "rank").as[(String, Long, String, Long)].collect().toSeq
    val win = {
      import org.apache.spark.sql.expressions.Window
      val hist = df.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
        .withColumn("__h",
          graft.functions.ScalarFunctions.md5Long(col("v")))
      hist.withColumn("rank", row_number().over(
          Window.partitionBy("g").orderBy(col("cnt").desc, col("__h").asc)).cast("long"))
        .filter(col("rank") <= 3).select("g", "rank", "v", "cnt")
        .orderBy("g", "rank").as[(String, Long, String, Long)].collect().toSeq
    }
    assert(got === win)
    assert(got.filter(_._1 == "a").map(t => (t._3, t._4)).take(3)
      .map(_._2) === Seq(30L, 20L, 20L))
    // ties (y/z both 20) resolved by the portable hash, deterministically
    assert(got === FrequentItems.topKFrequent(df.repartition(3), Seq("g"), "v", k = 3)
      .orderBy("g", "rank").as[(String, Long, String, Long)].collect().toSeq)
  }

  test("packBoundaries: offsets are exact prefix sums and agree with greedyPack") {
    val docs = ((1L to 40L).map(i => (i, (i % 7) + 1)) :+ (41L, 300L))
      .toDF("doc_id", "ntok")
    val bounds = Packing.packBoundaries(docs, "doc_id", "ntok", budget = 10L, numShards = 3)
      .as[(Long, Long, Long, Long, Seq[Long], Seq[Long])].collect()
    // every doc appears exactly once, packs agree with greedyPack
    val assigned = Packing.greedyPack(docs, "doc_id", "ntok", budget = 10L, numShards = 3)
      .select("shard", "pack_seq", "doc_id").as[(Long, Long, Long)].collect()
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(bounds.flatMap(_._5).sorted.toSeq === (1L to 41L))
    bounds.foreach { case (shard, packSeq, nDocs, packTokens, ids, starts) =>
      assert(ids.toSeq === assigned((shard, packSeq)), s"pack ($shard,$packSeq) membership")
      assert(ids.length.toLong === nDocs && starts.length.toLong === nDocs)
      assert(starts.head === 0L, "first doc starts at offset 0")
      // starts are the prefix sums of the member token counts, and the
      // final offset plus the last doc's tokens equals the pack total
      val ntOf = ((1L to 40L).map(i => i -> ((i % 7) + 1)) :+ (41L -> 300L)).toMap
      val expected = ids.scanLeft(0L)((acc, id) => acc + ntOf(id)).init
      assert(starts.toSeq === expected, s"pack ($shard,$packSeq) offsets")
      assert(starts.last + ntOf(ids.last) === packTokens)
    }
    // the oversize doc (300 > 10) is alone with a singleton boundary list
    val over = bounds.filter(_._5.contains(41L))
    assert(over.length === 1 && over.head._5 === Seq(41L) && over.head._6 === Seq(0L))
  }

  test("packedText concatenates pack members in id order with the separator") {
    // doc 41 is OVERSIZE (12 tokens > budget 8): it must land alone in
    // its own pack with its full text intact, never split or dropped
    val docs = ((1L to 40L).map(i => (i, (s"doc$i " * ((i % 5).toInt + 1)).trim)) :+
      (41L, ("doc41 " * 12).trim))
      .toDF("doc_id", "text")
    val packs = Packing.packedText(docs, "doc_id", "text", budget = 8L, numShards = 2, sep = "|")
      .as[(Long, Long, Long, Long, String)].collect()
    // every document appears exactly once across all packs
    val members = packs.flatMap(_._5.split('|').toSeq.map(_.split(" ").head))
    assert(members.length === 41 && members.distinct.length === 41)
    val oversize = packs.filter(_._5.contains("doc41"))
    assert(oversize.length === 1 && oversize.head._3 === 1L) // alone in its pack
    assert(oversize.head._5 === ("doc41 " * 12).trim) // text intact through the fold
    packs.foreach { case (_, _, nDocs, _, text) =>
      val parts = text.split('|')
      assert(parts.length.toLong === nDocs)
      // id order within the pack (ids recoverable from the body)
      val ids = parts.map(_.split(" ").head.stripPrefix("doc").toLong).toSeq
      assert(ids === ids.sorted)
    }
  }

  test("duplicatedSpans finds cross-doc repeats, merges overlaps, honors exclusive end") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"unique opening words here $shared trailing bit"),
      (2L, s"$shared totally different ending content"),
      (3L, "no duplicated content lives in this one at all"),
      (4L, s"self repeat $shared middle filler words $shared done"))
      .toDF("doc_id", "text")
    val r = SubstringDedup.duplicatedSpans(docs, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sorted.toSeq).toMap
    // doc1: shared starts at token 4, 6 tokens -> 2 five-gram hits,
    // merged span [4, 10)
    assert(r(1L) === Seq((4L, 10L)))
    assert(r(2L) === Seq((0L, 6L)))
    assert(!r.contains(3L))
    // doc4 repeats the shared run twice; spans are separated by the
    // filler gap, so two distinct islands survive
    assert(r(4L).size === 2)
    // determinism under repartitioning
    val r2 = SubstringDedup.duplicatedSpans(docs.repartition(5), "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(r2 === SubstringDedup.duplicatedSpans(docs, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Long)].collect().toSet)
  }

  test("duplicatedSpans approximation bound: sub-n spans invisible, >= n token-exact") {
    // the t62 fixture in miniature: unique filler around planted
    // phrases of 3 (< n), 5 (= n), and 9 (> n) tokens
    def doc(id: Long, phrase: String) =
      (id, s"u${id}x0 u${id}x1 u${id}x2 u${id}x3 $phrase u${id}y0 u${id}y1 u${id}y2 u${id}y3")
    val p3 = "p3a p3b p3c"; val p5 = "p5a p5b p5c p5d p5e"
    val p9 = "p9a p9b p9c p9d p9e p9f p9g p9h p9i"
    val docs = Seq(doc(1, p3), doc(2, p3), doc(3, p5), doc(4, p5),
      doc(5, p9), doc(6, p9)).toDF("doc_id", "text")
    val r = SubstringDedup.duplicatedSpans(docs, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
    // 3-token plant: every covering 5-gram straddles unique filler →
    // invisible (the documented sub-threshold blindness)
    assert(!r.contains(1L) && !r.contains(2L))
    // 5- and 9-token plants: recovered TOKEN-EXACTLY, never a token
    // of the unique filler context
    assert(r(3L) === Seq((4L, 9L)) && r(4L) === Seq((4L, 9L)))
    assert(r(5L) === Seq((4L, 13L)) && r(6L) === Seq((4L, 13L)))
  }

  test("cutDuplicatedSpans removes exactly the flagged regions; clean docs pass; full dup empties") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"unique opening words here $shared trailing bit"),
      (2L, s"$shared totally different ending content"),
      (3L, "no duplicated content lives in this one at all"),
      (4L, shared)) // exactly the shared run — fully duplicated
      .toDF("doc_id", "text")
    val r = SubstringDedup.cutDuplicatedSpans(docs, "doc_id", "text", n = 5)
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x).toMap
    // doc1: span [4,10) cut -> the 4 openers + the 2 trailers survive
    assert(r(1L)._2 === "unique opening words here trailing bit")
    assert(r(1L)._3 === 12L && r(1L)._4 === 6L)
    // doc2: span [0,6) cut
    assert(r(2L)._2 === "totally different ending content")
    // doc3 untouched, zero cut
    assert(r(3L)._2 === "no duplicated content lives in this one at all")
    assert(r(3L)._4 === 0L)
    // doc4 is one maximal duplicated region -> empty survivor
    assert(r(4L)._2 === "" && r(4L)._4 === r(4L)._3)
    assert(r.size === 4, "every input doc must appear in the output")
  }

  test("Expectations.report: exact violation counts on planted defects; clean rules pass") {
    import Expectations._
    val df = Seq(
      (Some(1L), Some(5.0), Some("ok"), 1L),
      (None, Some(50.0), Some("ok"), 2L),          // null key
      (Some(3L), Some(-1.0), Some("BAD9"), 3L),    // range + regex
      (Some(4L), Some(101.0), None, 3L),           // range + dup id
      (Some(5L), None, Some("fine"), 4L))          // null value: no range violation
      .toDF("k", "v", "s", "id")
    val got = report(df, Seq(
        NotNull("k"), InRange("v", 0.0, 100.0), Matches("s", "^[a-z]+$"),
        Unique(Seq("id"))))
      .as[(String, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got("not_null(k)") === (("not_null(k)", 1L, 5L, false)))
    assert(got("in_range(v,0.0,100.0)") === (("in_range(v,0.0,100.0)", 2L, 5L, false)))
    assert(got("matches(s)") === (("matches(s)", 1L, 5L, false)))
    assert(got("unique(id)") === (("unique(id)", 1L, 5L, false)))
    // a clean frame passes everything
    val clean = report(df.filter(col("k").isNotNull && col("id") =!= 3L),
        Seq(NotNull("k"), Unique(Seq("id"))))
      .as[(String, Long, Long, Boolean)].collect()
    assert(clean.forall(_._4), s"clean rules must pass: ${clean.toSeq}")
  }

  test("Expectations.enforce: clean/quarantine partition the input with exact reason sets") {
    import Expectations._
    val df = Seq(
      (Some(1L), Some(5.0), Some("ok"), 1L),
      (None, Some(50.0), Some("ok"), 2L),          // null key
      (Some(3L), Some(-1.0), Some("BAD9"), 3L),    // range + regex + dup id
      (Some(4L), Some(101.0), None, 3L),           // range + dup id
      (Some(5L), None, Some("fine"), 4L))          // null value: clean
      .toDF("k", "v", "s", "id")
    val rules = Seq(
      NotNull("k"), InRange("v", 0.0, 100.0), Matches("s", "^[a-z]+$"),
      Unique(Seq("id")))
    val (cleanDf, quarDf) = enforce(df, rules)
    // clean keeps the ORIGINAL schema; the frames partition the input
    assert(cleanDf.columns.toSeq === df.columns.toSeq)
    assert(cleanDf.count() + quarDf.count() === df.count())
    val cleanIds = cleanDf.select("id", "k").as[(Long, Option[Long])].collect().toSet
    assert(cleanIds === Set((1L, Some(1L)), (4L, Some(5L))))
    // quarantine reasons: exact per-row sets; BOTH members of the
    // duplicated id=3 group are quarantined (whole-group routing)
    val reasons = quarDf
      .select(col("k"), array_join(col("failed_rules"), "|").as("r"))
      .as[(Option[Long], String)].collect().toMap
    assert(reasons(None) === "not_null(k)")
    assert(reasons(Some(3L)) ===
      "in_range(v,0.0,100.0)|matches(s)|unique(id)")
    assert(reasons(Some(4L)) === "in_range(v,0.0,100.0)|unique(id)")
    // try_cast path: a non-numeric STRING value routes to quarantine
    // instead of throwing under ANSI mode
    val (c2, q2) = enforce(
      Seq(("1.5", 1L), ("oops", 2L), ("200", 3L)).toDF("v", "id"),
      Seq(InRange("v", 0.0, 100.0)))
    assert(c2.select("id").as[Long].collect().toSet === Set(1L))
    assert(q2.select("id").as[Long].collect().toSet === Set(2L, 3L))
  }

  test("Mixture.temperatureMix: alpha=1 no-op, alpha=0.5 flattens, tail keeps all") {
    // skewed corpus: 400 'head' docs vs 64 'tail'
    val docs = ((1L to 400L).map(i => (i, "head")) ++ (401L to 464L).map(i => (i, "tail")))
      .toDF("doc_id", "src")
    // alpha = 1: natural mix — every row kept
    assert(Mixture.temperatureMix(docs, "src", "doc_id", alpha = 1.0).count() === 464L)
    val out = Mixture.temperatureMix(docs, "src", "doc_id", alpha = 0.5)
    val counts = out.groupBy("src").count()
      .as[(String, Long)].collect().toMap
    // binding tail source keeps everything (no upsampling)
    assert(counts("tail") === 64L)
    // head downsamples toward rate sqrt(64)/sqrt(400) = 0.4 — realized
    // in expectation via the md5 gate, so allow the hash-gate spread
    val expectedHead = 400.0 * math.sqrt(64.0) / math.sqrt(400.0)
    assert(math.abs(counts("head") - expectedHead) <= 30.0,
      s"head count ${counts("head")} should sit near $expectedHead")
    // flattening: tail's relative share strictly rises vs natural
    val tailShare = counts("tail").toDouble / (counts("head") + counts("tail"))
    assert(tailShare > 64.0 / 464.0, f"tail share $tailShare%.3f must exceed natural")
    // deterministic: same survivors on a re-run
    val again = Mixture.temperatureMix(docs, "src", "doc_id", alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(again === out.select("doc_id").as[Long].collect().toSet)
  }

  test("Funnel.stepCounts: strict ordering, conversion window, no step skipping") {
    val rows = Seq(
      // u1 completes the whole funnel
      (1L, 0L, "view"), (1L, 10L, "click"), (1L, 20L, "purchase"),
      // u2: click BEFORE the first view must not count; the later one does
      (2L, 3L, "click"), (2L, 5L, "view"), (2L, 100L, "click"),
      // u3: click lands outside the 7200 s window
      (3L, 0L, "view"), (3L, 8000L, "click"),
      // u4: purchase without an intervening click — steps cannot skip
      (4L, 0L, "view"), (4L, 5L, "purchase"),
      // u5 never views
      (5L, 0L, "click"), (5L, 1L, "purchase"))
      .toDF("user_id", "t", "event_type")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
    val got = Funnel.stepCounts(rows, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinSec = Some(7200L))
      .as[(Int, String, Long)].collect().toSeq
    assert(got === Seq((1, "view", 4L), (2, "click", 2L), (3, "purchase", 1L)))
    // unbounded window admits u3's late click
    val open = Funnel.stepCounts(rows, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinSec = None)
      .as[(Int, String, Long)].collect().toSeq
    assert(open === Seq((1, "view", 4L), (2, "click", 3L), (3, "purchase", 1L)))
  }

  test("Funnel.cohortRetention: offsets from first-event week, distinct users per cell") {
    // 2021-01-04 is a Monday (ISO week start)
    def ts(day: Int, h: Int = 0) = s"2021-01-${"%02d".format(day)} 0$h:00:00"
    val rows = Seq(
      (1L, ts(4)), (1L, ts(5)), (1L, ts(12)),  // wk0 twice (one cell), wk1
      (2L, ts(10)), (2L, ts(18)),              // sunday wk0, next-week activity
      (3L, ts(11)))                            // starts in week 1, no return
      .toDF("user_id", "s").withColumn("ts", to_timestamp(col("s"))).drop("s")
    val got = Funnel.cohortRetention(rows, "user_id", "ts")
      .as[(Long, Long, Long)].collect().toSeq
    val wk0 = java.time.LocalDateTime.of(2021, 1, 4, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val wk1 = wk0 + 604800000000L
    // u1,u2 cohort wk0 (both active wk0; u1 again wk1, u2 wk2);
    // u3 cohort wk1, active only wk1
    assert(got === Seq(
      (wk0, 0L, 2L), (wk0, 1L, 1L), (wk0, 2L, 1L), (wk1, 0L, 1L)))
  }

  test("ngramContainmentPairs finds an excerpt Jaccard misses; unrelated docs absent") {
    val long = (1 to 200).map(i => s"w$i").mkString(" ") // 200 unique tokens
    val excerpt = (1 to 25).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, long), (2L, excerpt),
      (3L, (500 to 600).map(i => s"x$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8, maxShingleDf = None)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont === Seq((1L, 2L, 1.0)), s"excerpt must be fully contained: $cont")
    // the same pair under Jaccard sits at 23/198 — far below any
    // dedup threshold: the asymmetry is the whole point
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.0, maxShingleDf = None)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(jac.getOrElse((1L, 2L), 0.0) < 0.2)
  }

  test("rrfFuse: hand-computed fusion, absent-side zero, ties by id, k cut") {
    // list A: 10 > 20 > 30 ; list B: 20 > 40
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L)).toDF("query_id", "id", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 40L, 2L)).toDF("query_id", "id", "rank")
    val got = TextSearch.rrfFuse(a, b, k = 3, kRrf = 60)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2).toSeq
    // 20 is in both lists: 1/62 + 1/61 beats any single-list score
    val s20 = 1.0 / 62 + 1.0 / 61
    val s10 = 1.0 / 61
    val s40 = 1.0 / 62
    assert(got.map(t => (t._3, t._2)) === Seq((20L, 1L), (10L, 2L), (40L, 3L)))
    assert(got.map(_._4) === Seq(s20, s10, s40).map(x => math.round(x * 1e6) / 1e6))
    // tie: two ids only in A at the same rank is impossible, but two
    // ids with EQUAL fused score (same rank, different lists) break
    // by lower id
    val a2 = Seq((7L, 5L, 1L)).toDF("query_id", "id", "rank")
    val b2 = Seq((7L, 3L, 1L)).toDF("query_id", "id", "rank")
    val tie = TextSearch.rrfFuse(a2, b2, k = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2).toSeq
    assert(tie.map(_._3) === Seq(3L, 5L), "equal scores must rank lower id first")
  }

  test("bigramSelfPerplexity: anomalous text scores higher; short docs absent") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat"),
      (4L, "zx qv wp zx lm qr"), // tokens/bigrams seen nowhere else
      (5L, "one")) // single token: no bigram evidence
      .toDF("doc_id", "text")
    val r = TextModel.bigramSelfPerplexity(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(!r.contains(5L))
    assert(r(1L)._2 === 5L) // 6 tokens -> 5 bigram occurrences
    assert(r(1L)._3 === r(2L)._3) // identical docs score identically
    assert(r(4L)._3 > r(1L)._3) // out-of-distribution text is more surprising
    // determinism across partitionings (micro-nat integer sums)
    val r2 = TextModel.bigramSelfPerplexity(docs.repartition(7), "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r2 === r)
  }

  test("bigramCrossPerplexity: hand-computed smoothing fallback; in-domain scores lower") {
    val ref = Seq((100L, "a b")).toDF("doc_id", "text") // V = 2, one bigram
    val targets = Seq(
      (1L, "a b"), // the trained bigram: -ln(1.5 / (1 + 1))
      (2L, "x y z")) // fully unseen: each bigram -ln(0.5 / (0.5·2)) = ln 2
      .toDF("doc_id", "text")
    val r = TextModel.bigramCrossPerplexity(ref, "text", targets, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) === ((1L, 1L, 0.287682))) // -ln(0.75) in micro-nats
    assert(r(2L) === ((2L, 2L, 0.693147))) // ln 2
    assert(r(1L)._3 < r(2L)._3) // in-domain text is less surprising
  }

  test("trigramBackoffCrossPerplexity: every tier hand-computed; order matters") {
    // ref corpus "a b c" + "a b d": trigrams {abc:1, abd:1}, bigrams
    // {ab:2, bc:1, bd:1}, unigrams {a:2, b:2, c:1, d:1}; V=4, N=6
    val ref = Seq((100L, "a b c"), (101L, "a b d")).toDF("doc_id", "text")
    val targets = Seq(
      (1L, "a b c"), // tier 1: c(abc)/c(ab) = 1/2 → ln 2
      (2L, "x b c"), // tier 2: unseen trigram, seen suffix bc → 0.4·(1/2) → -ln 0.2
      (3L, "x y z")) // tier 3: all unseen → 0.16·(0+0.5)/(6+0.5·4) = 0.01 → -ln 0.01
      .toDF("doc_id", "text")
    val r = TextModel.trigramBackoffCrossPerplexity(ref, "text",
        targets, "doc_id", "text", alpha = 0.4, k = 0.5)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) === ((1L, 1L, 0.693147))) // ln 2
    assert(r(2L) === ((2L, 1L, 1.609438))) // -ln(0.4·0.5) = ln 5
    assert(r(3L) === ((3L, 1L, 4.60517))) // -ln(0.01)
    // tiers strictly order: full context < backoff < floor
    assert(r(1L)._3 < r(2L)._3 && r(2L)._3 < r(3L)._3)
  }

  test("trigramBackoffCrossPerplexity: in-domain text scores below shuffled gibberish") {
    val ref = Seq.tabulate(30)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog every single day"))
      .toDF("doc_id", "text")
    val targets = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the"))
      .toDF("doc_id", "text")
    val r = TextModel.trigramBackoffCrossPerplexity(ref, "text",
        targets, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x._3).toMap
    assert(r(1L) < r(2L),
      s"in-domain ${r(1L)} must beat reversed-order gibberish ${r(2L)}")
  }

  /** id -> the Boolean in column 1 of a (doc_id, verdict) frame */
  private def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
    df.collect().map(x => x.getLong(0) -> x.getBoolean(1)).toMap

  test("QualityRules.gopher: every rule hand-verified at its boundary") {
    val good = "the data of the run and that have with home" // 10 words, mean 3.4
    val docs = Seq(
      (1L, (good + " ") * 6),                          // 60 words, all rules pass
      (2L, good),                                      // 10 words: fails word floor only
      (3L, (good + " ") * 6 + "###### ... ... ..."),   // symbol soup: fails symbols
      (4L, ("123 456 789 " * 20).trim),                // digits: fails alpha + stopwords
      (5L, "the with " + ("abcdefghijklmnop " * 58).trim)) // mean 15.6: fails mean len
      .toDF("doc_id", "text")
    val r = QualityRules.gopher(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    def flags(id: Long) = (r(id).getAs[Boolean]("pass_words"),
      r(id).getAs[Boolean]("pass_mean_len"), r(id).getAs[Boolean]("pass_symbols"),
      r(id).getAs[Boolean]("pass_alpha"), r(id).getAs[Boolean]("pass_stopwords"),
      r(id).getAs[Boolean]("pass"))
    assert(r(1L).getAs[Long]("n_words") === 60L)
    assert(r(1L).getAs[Double]("mean_word_len") === 3.4)
    assert(flags(1L) === ((true, true, true, true, true, true)))
    assert(flags(2L) === ((false, true, true, true, true, false)))
    assert(flags(3L) === ((true, true, false, true, true, false)))
    // boundary: "123" mean length exactly 3.0 passes the mean rule
    assert(r(4L).getAs[Double]("mean_word_len") === 3.0)
    assert(flags(4L) === ((true, true, true, false, false, false)))
    assert(flags(5L) === ((true, false, true, true, true, false)))
    // symbol accounting on doc 3: 6 hashes + 3 ellipses over 64 words
    assert(r(3L).getAs[Double]("symbol_ratio") ===
      math.round(9.0 / 64 * 1e6) / 1e6)
    // the column form is the frame form's `pass`, row for row
    assert(verdicts(docs.select(col("doc_id"), QualityRules.gopherPass(col("text"),
        QualityRules.LangRules(QualityRules.GopherStopwords, minStopwords = 2)))) ===
      r.map { case (id, x) => id -> x.getAs[Boolean]("pass") })
  }

  test("QualityRules.gopherByLang: each doc judged by ITS language's table") {
    import graft.operators.QualityRules.LangRules
    val en = ("the data of the run and that have with home " * 6).trim // passes en
    val deKeep = ("der die und das ist mit von der die und das ist " * 2).trim // 24 words, mean 3.0
    val deDrop = ("the data table rows only here for this corpus now " * 3).trim // 'the' but no de word
    val zhShort = ("ab cd " * 15).trim // mean 2.0: fails default mean-len, zh opens it
    // curated fr/es (the llm02 production tables): real function-word
    // sentences that pass their OWN table but carry zero Gopher-8
    // words — the direction the English floor is blind to
    val frKeep = ("le vent dans la plaine et la mer des iles est une chose " * 2).trim
    val esKeep = ("los datos que hay en la tabla son un valor es por filas " * 2).trim
    val rules = Map(
      "en" -> LangRules(QualityRules.GopherStopwords, minStopwords = 1, minWords = 20),
      "de" -> LangRules(Seq("der", "die", "und", "das", "ist", "mit", "von"),
        minStopwords = 1, minWords = 20),
      "fr" -> LangRules(
        Seq("le", "la", "les", "de", "et", "des", "un", "une", "est", "dans"),
        minStopwords = 1, minWords = 20),
      "es" -> LangRules(
        Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "es"),
        minStopwords = 1, minWords = 20),
      "zh" -> LangRules(Seq.empty, minStopwords = 0, minWords = 20,
        minMeanLen = 0.0, maxMeanLen = 1e18, minAlphaFrac = 0.0))
    val default = LangRules(Seq.empty, minStopwords = 0, minWords = 20)
    val docs = Seq(
      (1L, "en", en),      // English doc under the English table: pass
      (2L, "de", deKeep),  // de table KEEPS it; en table would drop (0 Gopher-8 words)
      (3L, "de", deDrop),  // de table DROPS it; en table would keep ('the')
      (4L, "en", deKeep),  // the same text routed en: dropped (the differential)
      (5L, "fr", deDrop),  // curated fr table: 'the' but no fr word → drop
      (6L, "zh", zhShort), // zh opens word-shape bounds → pass
      (7L, "fr", zhShort), // fr keeps the mean-len rule (and the floor) → fail
      (8L, "fr", frKeep),  // fr table KEEPS it; en table would drop (no Gopher-8)
      (9L, "en", frKeep),  // the same text routed en: dropped (the differential)
      (10L, "es", esKeep), // es table KEEPS it; en table would drop
      (11L, "en", esKeep), // the same text routed en: dropped
      (12L, "es", deDrop)) // es table DROPS it; en table would keep ('the')
      .toDF("doc_id", "lang", "text")
    val r = QualityRules.gopherByLang(docs, "doc_id", "text", "lang", rules, default)
      .collect().map(x => x.getLong(0) -> x.getAs[Boolean]("pass")).toMap
    assert(r === Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> false, 6L -> true, 7L -> false, 8L -> true, 9L -> false,
      10L -> true, 11L -> false, 12L -> false))
    assert(verdicts(docs.select(col("doc_id"),
      QualityRules.gopherPass(col("text"), col("lang"), rules, default))) === r)
    // the per-language frame must agree with single-language gopher
    // run separately per language (the parameterization is pure CASE
    // dispatch, no semantic drift)
    val enOnly = QualityRules.gopher(docs.filter(col("lang") === "en"),
        "doc_id", "text", minWords = 20, minStopwords = 1)
      .collect().map(x => x.getLong(0) -> x.getAs[Boolean]("pass")).toMap
    assert(enOnly === Map(1L -> true, 4L -> false, 9L -> false, 11L -> false))
    assert(verdicts(docs.filter(col("lang") === "en").select(col("doc_id"),
      QualityRules.gopherPass(col("text"), rules("en")))) === enOnly)
  }

  test("QualityRules.lineRulesByLang: terminal set and thresholds keyed on the language") {
    import graft.operators.QualityRules.LineLangRules
    val zhText = "第一行的结尾。\n第二行的结尾！\n第三行的结尾？"
    val enText = "first line ends.\nsecond line ends!\nthird line ends?"
    val docs = Seq(
      (1L, "zh", zhText),  // CJK terminals: pass under zh set
      (2L, "en", zhText),  // same text judged by the Latin set: fail
      (3L, "en", enText),  // Latin terminals under the Latin set: pass
      (4L, "zh", enText))  // Latin terminals under the zh set: fail
      .toDF("doc_id", "lang", "text")
    val rules = Map("zh" -> LineLangRules(terminalChars = Seq("。", "！", "？")))
    val frame = QualityRules.lineRulesByLang(docs, "doc_id", "text", "lang",
        rules, LineLangRules())
    val r = frame
      .collect().map(x => x.getLong(0) ->
        (x.getAs[Double]("terminal_frac"), x.getAs[Boolean]("pass_terminal"))).toMap
    assert(verdicts(docs.select(col("doc_id"), QualityRules.lineRulesPass(
        col("text"), col("lang"), rules, LineLangRules()))) ===
      verdicts(frame.select("doc_id", "pass")))
    assert(r(1L) === ((1.0, true)) && r(2L) === ((0.0, false)))
    assert(r(3L) === ((1.0, true)) && r(4L) === ((0.0, false)))
    // per-language threshold override: opening zh's floor flips doc 4
    val open = QualityRules.lineRulesByLang(docs, "doc_id", "text", "lang",
        Map("zh" -> LineLangRules(terminalChars = Seq("。", "！", "？"),
          minTerminalFrac = 0.0)), LineLangRules())
      .collect().map(x => x.getLong(0) -> x.getAs[Boolean]("pass_terminal")).toMap
    assert(open(4L) === true && open(2L) === false)
  }

  test("QualityRules.lineRules: every line rule hand-verified at its boundary") {
    val nine = (1 to 9).map(i => s"- item $i.").mkString("\n")
    val docs = Seq(
      (1L, "alpha beta.\n\n  \ngamma delta!\nepsilon zeta?"), // empties dropped
      (2L, nine + "\nplain line."), // 9/10 bulleted = 0.9 → boundary pass
      (3L, nine + "\n- item 10."), // 10/10 bulleted → fail
      (4L, (1 to 7).map(i => s"line $i.").mkString("\n") +
        "\nend one ...\nend two ...\nend three …"), // ellipsis 3/10 = 0.3 boundary
      (5L, (1 to 6).map(i => s"line $i.").mkString("\n") +
        "\nend a ...\nend b ...\nend c ...\nend d ..."), // 4/10 = 0.4 → fail
      (6L, "dup line.\ndup line.\nother line."), // dup 1/3 → fail
      (7L, "dup line.\ndup line.\nother one.\nother two."), // dup 1/4 = 0.25 pass
      (8L, "with period.\nwith quote”\nno end one\nno end two")) // terminal 2/4 = 0.5 boundary
      .toDF("doc_id", "text")
    val r = QualityRules.lineRules(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    def flags(id: Long) = (r(id).getAs[Boolean]("pass_bullets"),
      r(id).getAs[Boolean]("pass_ellipsis"), r(id).getAs[Boolean]("pass_terminal"),
      r(id).getAs[Boolean]("pass_dup_lines"), r(id).getAs[Boolean]("pass"))
    assert(r(1L).getAs[Long]("n_lines") === 3L, "blank lines must be dropped")
    assert(flags(1L) === ((true, true, true, true, true)))
    assert(r(2L).getAs[Double]("bullet_frac") === 0.9) // ≤ 0.9 passes
    assert(flags(2L) === ((true, true, true, true, true)))
    assert(r(3L).getAs[Double]("bullet_frac") === 1.0)
    assert(flags(3L) === ((false, true, true, true, false)))
    assert(r(4L).getAs[Double]("ellipsis_frac") === 0.3) // ≤ 0.3 passes
    // the unicode ellipsis line does NOT count as terminal: 9/10
    assert(r(4L).getAs[Double]("terminal_frac") === 0.9)
    assert(flags(4L) === ((true, true, true, true, true)))
    assert(r(5L).getAs[Double]("ellipsis_frac") === 0.4)
    assert(flags(5L) === ((true, false, true, true, false)))
    assert(r(6L).getAs[Double]("dup_line_frac") === 0.333333)
    assert(flags(6L) === ((true, true, true, false, false)))
    assert(r(7L).getAs[Double]("dup_line_frac") === 0.25)
    assert(flags(7L) === ((true, true, true, true, true)))
    assert(r(8L).getAs[Double]("terminal_frac") === 0.5) // ≥ 0.5 passes
    assert(flags(8L) === ((true, true, true, true, true)))
    assert(verdicts(docs.select(col("doc_id"),
        QualityRules.lineRulesPass(col("text"), QualityRules.LineLangRules()))) ===
      r.map { case (id, x) => id -> x.getAs[Boolean]("pass") })
  }

  test("knFivegramCrossPerplexity: every tier hand-computed through the interpolation") {
    // ref "a b c d e" + "a b c d f": c5{abcde:1,abcdf:1}, c4(abcd)=2,
    // λ5(abcd)=2; continuation tables from distinct types —
    // cont4(bcde)=1, denom4(bcd)=2, λ4=2; cont3(cde)=1, denom3(cd)=2,
    // λ3=2; cont2(de)=1, denom2(d)=2, λ2=2; cont1(e)=1, denom1=5
    // bigram types, V=6. Interpolating with D=0.75, k=0.5:
    // P1=1.5/8=0.1875, each tier (0.25+1.5·P)/2 → P5=0.401123046875.
    val ref = Seq((100L, "a b c d e"), (101L, "a b c d f")).toDF("doc_id", "text")
    val targets = Seq(
      (1L, "a b c d e"), // all five tiers live
      (2L, "x b c d e"), // unseen ctx4 → falls through to P4
      (3L, "x y z w q")) // everything unseen → continuation-unigram floor
      .toDF("doc_id", "text")
    val r = TextModel.knFivegramCrossPerplexity(ref, "text",
        targets, "doc_id", "text", discount = 0.75, k = 0.5)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) === ((1L, 1L, 0.913487))) // -ln 0.401123046875
    assert(r(2L) === ((2L, 1L, 0.999227))) // -ln P4 = -ln 0.3681640625
    assert(r(3L) === ((3L, 1L, 2.772589))) // -ln((0+0.5)/(5+3)) = ln 16
    // deeper context is strictly less surprising
    assert(r(1L)._3 < r(2L)._3 && r(2L)._3 < r(3L)._3)
  }

  test("modifiedKnFivegramCrossPerplexity: live discounts hand-computed; " +
      "empty-bucket orders fall back to plain KN") {
    // count-of-counts corpus: sentence frequencies 4/3/2/1 over
    // disjoint vocabularies put exactly one 5-gram type in each count
    // bucket → order-5 discounts are LIVE: Y=1/3, D1=1/3, D2=1,
    // D3+=5/3. Every lower order's continuation counts are all 1
    // (n2=0) → those orders fall back to the fixed 0.75.
    val ref = (Seq.fill(4)("p q r s t") ++ Seq.fill(3)("u v w x y") ++
      Seq.fill(2)("f g h i j") ++ Seq("k l m n o"))
      .zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
    assert(TextModel.mknDiscounts(1, 1, 1, 1) ===
      ((1.0 - 2.0 * (1.0 / 3.0), 1.0, 3.0 - 4.0 * (1.0 / 3.0))))
    assert(TextModel.mknDiscounts(4, 0, 0, 0) === ((0.75, 0.75, 0.75)))
    val targets = Seq(
      (1L, "p q r s t"), // c5=4 → D3+ bucket at the top tier
      (2L, "z z z z z")) // all unseen → continuation-unigram floor
      .toDF("doc_id", "text")
    val r = TextModel.modifiedKnFivegramCrossPerplexity(ref, "text",
        targets, "doc_id", "text", k = 0.5)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    // P1=1.5/26; three 0.75-fallback tiers (0.25+0.75·P);
    // top: ((4−5/3)+（5/3)·P4)/4 = 0.83436 → −ln = 0.181090
    assert(r(1L) === ((1L, 1L, 0.18109)))
    assert(r(2L) === ((2L, 1L, 3.951244))) // −ln(0.5/26) = ln 52
  }

  test("modifiedKnFivegramCrossPerplexity equals plain interpolated KN when every " +
      "count-of-count bucket is empty") {
    // the tiny t66 fixture has no count-2/3/4 types at ANY order, so
    // every order falls back to the fixed 0.75 — modified KN must
    // collapse to knFivegramCrossPerplexity EXACTLY (same doubles)
    val ref = Seq((100L, "a b c d e"), (101L, "a b c d f")).toDF("doc_id", "text")
    val targets = Seq((1L, "a b c d e"), (2L, "x b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    val plain = TextModel.knFivegramCrossPerplexity(ref, "text",
        targets, "doc_id", "text", discount = 0.75, k = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val modified = TextModel.modifiedKnFivegramCrossPerplexity(ref, "text",
        targets, "doc_id", "text", k = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(modified === plain)
  }

  test("perDocument: the mean micro-nat rounds half-up in exact integers") {
    // 24,517,023 micro-nats over 6 grams is 4.0861705 exactly, a tie at
    // the sixth decimal whose nearest double lies just below it
    def mean(ms: Seq[Long]): (Long, Double) = {
      val r = TextModel.perDocument(ms.map(m => (1L, m)).toDF("id", "m"),
          Seq(col("id")), "n", exp(-col("m") / 1e6))
        .as[(Long, Long, Double)].head()
      (r._2, r._3)
    }
    assert(mean(Seq.fill(3)(4086170L) ++ Seq.fill(3)(4086171L)) === ((6L, 4.086171)))
    assert(mean(Seq.fill(4)(4086170L) ++ Seq.fill(2)(4086171L)) === ((6L, 4.08617)))
  }

  test("knFivegramCrossPerplexity: in-domain text scores below shuffled gibberish") {
    val ref = Seq.tabulate(30)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog every single day"))
      .toDF("doc_id", "text")
    val targets = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the"))
      .toDF("doc_id", "text")
    val r = TextModel.knFivegramCrossPerplexity(ref, "text",
        targets, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x._3).toMap
    assert(r(1L) < r(2L),
      s"in-domain ${r(1L)} must beat reversed-order gibberish ${r(2L)}")
    // the in-domain side should be confident in absolute terms too:
    // every 5-gram is a seen type, so mean -ln P stays well under the
    // gibberish side's backoff-dominated score
    assert(r(1L) < 1.0 && r(2L) > 2.0,
      s"expected confident in-domain (<1 nat) vs backoff-heavy gibberish (>2 nats), got $r")
  }

  // shared bilingual fixture for the CCNet routing specs: six
  // in-domain reference docs per language, scored docs where the en
  // side stays in-domain (one novel tail word) and the de side is
  // mostly novel — so en anp < de anp uniformly, which makes the
  // global-vs-per-language tercile divergence deterministic
  private lazy val ccnetRef = (
    Seq.tabulate(6)(i => (100L + i, "en",
      "the cat sat on the mat and the dog ran fast today")) ++
    Seq.tabulate(6)(i => (200L + i, "de",
      "der hund und die katze mit dem ball im garten heute")))
    .toDF("doc_id", "lang", "text")
  private lazy val ccnetDocs = (
    Seq.tabulate(6)(i => (1L + i,
      s"the cat sat on the mat and the dog ran w$i")) ++
    Seq.tabulate(6)(i => (11L + i,
      s"der hund und die katze q$i z$i j$i k$i x$i")))
    .toDF("doc_id", "text")

  test("knFivegramCrossPerplexityByLang equals the per-language single-model fan-out") {
    // the ONE lang-keyed pass must be row-identical to training each
    // language's model separately and unioning the scored halves
    val docsL = ccnetDocs.withColumn("plang",
      when(col("doc_id") <= 6L, lit("en")).otherwise(lit("de")))
    val onePass = TextModel.knFivegramCrossPerplexityByLang(
        ccnetRef, "lang", "text", docsL, "doc_id", "plang", "text")
      .as[(Long, String, Long, Double)].collect().sortBy(_._1).toSeq
    val fanOut = Seq("en", "de").map { l =>
      TextModel.knFivegramCrossPerplexity(
          ccnetRef.filter(col("lang") === l), "text",
          docsL.filter(col("plang") === l), "doc_id", "text")
        .select(col("doc_id"), lit(l).as("plang"),
          col("n_fivegrams"), col("avg_neg_logp"))
    }.reduce(_.unionByName(_))
      .as[(Long, String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(onePass === fanOut)
  }

  test("ccnetPerLanguageBuckets: langid routes correctly and per-language terciles " +
      "differ from the single-model baseline") {
    val routed = TextModel.ccnetPerLanguageBuckets(
        ccnetRef, "lang", "text", ccnetDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(3)))).toMap
    assert(routed.size === 12)
    assert((1L to 6L).forall(routed(_)._1 == "en"), s"en routing wrong: $routed")
    assert((11L to 16L).forall(routed(_)._1 == "de"), s"de routing wrong: $routed")
    // within each language the 6 docs cut 2/2/2
    Seq(1L to 6L, 11L to 16L).foreach { idsOfLang =>
      val counts = idsOfLang.map(routed(_)._2)
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(counts === Map("head" -> 2, "middle" -> 2, "tail" -> 2),
        s"per-language terciles must be 2/2/2, got $counts")
    }
    // the single-model baseline (t70's shape: one mixed-language model,
    // GLOBAL terciles): all six in-domain en docs rank below the six
    // novel-heavy de docs, so the global 4/4/4 cut disagrees with the
    // per-language 2/2/2 cut — routing must change at least one bucket
    val single = TextModel.knFivegramCrossPerplexity(
      ccnetRef, "text", ccnetDocs, "doc_id", "text")
    val w = Window.orderBy(col("avg_neg_logp"), col("doc_id"))
    val singleB = single.withColumn("b", ntile(3).over(w))
      .select(col("doc_id"),
        when(col("b") === 1, lit("head")).when(col("b") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .as[(Long, String)].collect().toMap
    val changed = routed.count { case (id, (_, b)) => singleB(id) != b }
    assert(changed >= 1,
      s"per-language routing must change at least one doc's bucket " +
        s"(routed=$routed, single=$singleB)")
  }

  test("ccnetPerLanguageBucketsApprox: boundary labels track the exact terciles map-side") {
    // the 100 TB form: approx_percentile boundaries + broadcast
    // map-side labeling — same routing and scores as the exact cut;
    // at accuracy >= per-language doc count the boundaries are exact
    // order statistics, so bucket counts sit within ±1 of the exact
    // tercile's (value-based labeling may move one boundary doc).
    // Scores must be DISTINCT per language for the comparison — doc i
    // carries i+1 novel tail tokens, so its unseen-gram fraction (and
    // anp) strictly increases (ccnetDocs' one-novel-token docs all TIE,
    // and tied docs land in one bucket under value labeling by design)
    val docsVaried = (
      Seq.tabulate(6)(i => (1L + i,
        "the cat sat on the mat and the dog ran " +
          (0 to i).map(j => s"n$j").mkString(" "))) ++
      Seq.tabulate(6)(i => (11L + i,
        "der hund und die katze mit dem ball " +
          (0 to i).map(j => s"q$j").mkString(" "))))
      .toDF("doc_id", "text")
    val exact = TextModel.ccnetPerLanguageBuckets(
        ccnetRef, "lang", "text", docsVaried, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(3)))).toMap
    val approx = TextModel.ccnetPerLanguageBucketsApprox(
        ccnetRef, "lang", "text", docsVaried, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(3)))).toMap
    assert(approx.keySet === exact.keySet)
    assert(approx.forall { case (id, (l, _)) => exact(id)._1 == l },
      "routing must be identical — only the bucket cut differs")
    Seq("en", "de").foreach { l =>
      Seq("head", "middle", "tail").foreach { b =>
        val e = exact.count { case (_, (l2, b2)) => l2 == l && b2 == b }
        val a = approx.count { case (_, (l2, b2)) => l2 == l && b2 == b }
        assert(math.abs(a - e) <= 1, s"lang=$l bucket=$b: approx $a vs exact $e")
      }
    }
    // buckets respect the score order: no head doc scores above any
    // tail doc of the same language
    val scores = TextModel.knFivegramCrossPerplexity(
        ccnetRef.filter(col("lang") === "en"), "text",
        docsVaried.filter(col("doc_id") <= 6), "doc_id", "text")
      .select("doc_id", "avg_neg_logp")
      .as[(Long, Double)].collect().toMap
    val enHeadMax = approx.collect {
      case (id, ("en", "head")) => scores(id) }.maxOption
    val enTailMin = approx.collect {
      case (id, ("en", "tail")) => scores(id) }.minOption
    for (h <- enHeadMax; t <- enTailMin) assert(h <= t)
  }

  test("tfidfKeywords surfaces distinctive terms over ubiquitous ones") {
    val docs = Seq(
      (1L, "alpha alpha alpha shared shared"),
      (2L, "beta beta shared shared shared"),
      (3L, "gamma shared")).toDF("doc_id", "text")
    val r = TextSearch.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .as[(Long, Long, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // 'shared' has df=3 (idf floor), each doc's unique term ranks first
    assert(r(1L) === Seq("alpha", "shared"))
    assert(r(2L) === Seq("beta", "shared"))
    assert(r(3L) === Seq("gamma", "shared"))
    // idf sanity: rare term in doc3 (tf 1) still outranks shared (tf 1)
    val scores = TextSearch.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .filter(col("id") === 3L).as[(Long, Long, String, Double)].collect()
      .map(x => x._3 -> x._4).toMap
    assert(scores("gamma") > scores("shared"))
  }

  test("Mixture.sampleToMix realizes target proportions; binding source keeps everything") {
    val docs = (1L to 4000L).map(i => (i, s"src${(i % 4).toInt}")).toDF("doc_id", "source")
    val weights = Seq(("src0", 4.0), ("src1", 2.0), ("src2", 1.0), ("src3", 1.0))
      .toDF("stratum", "weight")
    val rates = Mixture.mixRates(docs, "source", weights)
      .as[(String, Double, Double, Double, Long)].collect().map(r => r._1 -> r).toMap
    // 1000 docs each; cmin = min(1000/4, 1000/2, 1000/1) = 250
    assert(rates("src0")._4 === 1.0) // binding source: rate exactly 1
    assert(rates("src1")._4 === 0.5)
    assert(rates("src2")._4 === 0.25)
    val kept = Mixture.sampleToMix(docs, "source", "doc_id", weights)
    val bySrc = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("src0") === 1000L) // rate-1.0 source is untouched
    // hash gate: expected 500/250/250 with O(√n) deviation
    assert(math.abs(bySrc("src1") - 500L) < 80)
    assert(math.abs(bySrc("src2") - 250L) < 60)
    assert(math.abs(bySrc("src3") - 250L) < 60)
    // deterministic across partitionings
    val k1 = kept.select("doc_id").as[Long].collect().sorted.toSeq
    val k2 = Mixture.sampleToMix(docs.repartition(11), "source", "doc_id", weights)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(k1 === k2)
    // a stratum absent from the weights is dropped entirely
    val w2 = Seq(("src0", 1.0)).toDF("stratum", "weight")
    assert(Mixture.sampleToMix(docs, "source", "doc_id", w2)
      .select("source").distinct().as[String].collect().toSeq === Seq("src0"))
  }

  test("globalRank equals the naive rank()/cume_dist() windows, ties included") {
    import spark.implicits._
    val docs = (0 until 400).map(i => (i.toLong, (i % 11).toDouble / 10.0))
      .toDF("id", "score").repartition(5)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score").desc)
    val naive = docs
      .withColumn("rank", rank().over(w))
      .withColumn("cume_frac", round(cume_dist().over(w), 6))
      .select("id", "rank", "cume_frac")
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val got = RankNormalize.globalRank(docs, "score")
      .select(col("id"), col("rank").cast("int"), col("cume_frac"))
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(got === naive)
  }

  test("globalRank/selectToBudget rank NULL and NaN scores like the naive windows") {
    import spark.implicits._
    // every 13th score NULL, every 17th NaN — both must survive and
    // land exactly where order by score desc puts them (NaN first,
    // NULL last), not be silently dropped by the bucket join
    val docs = (0 until 300).map { i =>
      val s: java.lang.Double =
        if (i % 13 == 0) null
        else if (i % 17 == 0) Double.NaN
        else (i % 9).toDouble / 10.0
      (i.toLong, s, 10L + i % 5)
    }.toDF("id", "score", "toks").repartition(5)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score").desc)
    val naiveRank = docs
      .withColumn("rank", rank().over(w))
      .withColumn("cume_frac", round(cume_dist().over(w), 6))
      .select("id", "rank", "cume_frac")
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val gotRank = RankNormalize.globalRank(docs, "score")
      .select(col("id"), col("rank").cast("int"), col("cume_frac"))
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(gotRank === naiveRank)
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    for (budget <- Seq(700L, 2000L, 3400L)) {
      val naive = docs.withColumn("cum", sum("toks").over(wc))
        .filter(col("cum") <= budget)
        .select("id").as[Long].collect().sorted.toSeq
      val got = Sampling.selectToBudget(docs, "score", "id", "toks", budget)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got === naive, s"budget=$budget")
    }
  }

  test("globalRank/selectToBudget fail fast on a continuous (unquantized) score") {
    import spark.implicits._
    // 400 distinct raw scores against a 100-bucket cap: the probe must
    // throw a clear error instead of building an unbounded broadcast /
    // single-partition bucket window
    val docs = (0 until 400).map(i => (i.toLong, i * 0.001 + 1e-7, 10L))
      .toDF("id", "score", "toks")
    val e1 = intercept[IllegalArgumentException](
      RankNormalize.globalRank(docs, "score", maxBuckets = 100).count())
    assert(e1.getMessage.contains("Quantize"))
    val e2 = intercept[IllegalArgumentException](
      Sampling.selectToBudget(docs, "score", "id", "toks", 1000L, maxBuckets = 100).count())
    assert(e2.getMessage.contains("Quantize"))
    // quantizing the same column passes the probe
    assert(RankNormalize.globalRank(
      docs.withColumn("score", round(col("score"), 1)), "score", maxBuckets = 100)
      .count() === 400)
  }

  test("selectToBudget equals the naive global cumulative sum, ties and edges included") {
    import spark.implicits._
    // scores collide on purpose (i % 7): boundary buckets carry ties
    val docs = (0 until 500).map { i =>
      (i.toLong, (i % 7).toDouble / 10.0, 10L + i % 23)
    }.toDF("id", "score", "toks").repartition(7)
    def naive(budget: Long): Seq[Long] = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      docs.withColumn("cum", sum("toks").over(w)).filter(col("cum") <= budget)
        .select("id").as[Long].collect().sorted.toSeq
    }
    for (budget <- Seq(0L, 5L, 1000L, 3127L, 100000L)) {
      val got = Sampling.selectToBudget(docs, "score", "id", "toks", budget)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got === naive(budget), s"budget=$budget")
    }
    // budget past the total keeps everything
    assert(Sampling.selectToBudget(docs, "score", "id", "toks", Long.MaxValue / 2)
      .count() === 500)
  }

  test("incrementalDedupBloom equals the plain anti-join; the prefilter genuinely prunes") {
    import spark.implicits._
    // history: keys 0..599; batch: keys 400..999 (200 dups, 400 new)
    val history = (0 until 600).map(i => s"key$i").toDF("k")
    val batch = (400 until 1000).map(i => (i.toLong, s"key$i")).toDF("id", "k")
    val expected = batch.join(history, Seq("k"), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq

    val viaBloom = Dedup.incrementalDedupBloom(batch, history, Seq("k"),
        expectedItems = 1000, fpp = 0.01)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaBloom === expected)
    assert(viaBloom.length === 400)

    // the prefilter must route most new rows AROUND the join: at 1%
    // fpp, ≥ 300 of the 400 new keys miss the bloom (overwhelming
    // margin — expected FPs ≈ 4)
    val bf = history.select(xxhash64(col("k")).as("__fp")).stat
      .bloomFilter("__fp", 1000, 0.01)
    val misses = batch.join(history, Seq("k"), "left_anti")
      .select(xxhash64(col("k")).as("h")).as[Long].collect()
      .count(h => !bf.mightContainLong(h))
    assert(misses >= 300, s"bloom pruned only $misses of 400 new keys")

    // oversized-filter fallback still returns the exact result
    val viaFallback = Dedup.incrementalDedupBloom(batch, history, Seq("k"),
        expectedItems = 1000L << 32, fpp = 0.01, maxBloomBytes = 1L << 20)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaFallback === expected)
  }

  test("crossSplitLeakage: empty on unique content, exact pair counts on planted leaks") {
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val unique = (0L until 200L).map(i => (i, s"unique text number $i"))
      .toDF("doc_id", "text")
    assert(Sampling.crossSplitLeakage(unique, "doc_id", "text", splits).count() === 0)
    // plant duplicates under new ids, then recompute the expectation
    // from the operator's own split assignment
    val planted = unique.unionByName(
      unique.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
    val assignment = Sampling.assignSplit(planted, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val expected = (0L until 200L by 4).flatMap { i =>
      val (a, b) = (assignment(i), assignment(i + 10000L))
      if (a != b) Some((a, b)) else None // split_a is the LOWER id's split
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Sampling.crossSplitLeakage(planted, "doc_id", "text", splits)
      .select("split_a", "split_b", "n_pairs").as[(String, String, Long)]
      .collect().map { case (a, b, n) => (a, b) -> n }.toMap
    assert(got === expected)
    assert(got.values.sum > 0, "fixture must actually plant cross-split leaks")
  }

  test("assignSplitByCluster: cluster members co-split; empty pairs degenerate to assignSplit") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val docs = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // dup graph: chains {i, i+1000, i+2000} for i % 10 == 0, linked
    // transitively (i—i+1000, i+1000—i+2000) so co-splitting requires
    // real component closure, not just direct-pair agreement
    val extra = docs.filter(col("doc_id") % 10 === 0)
    val all = docs
      .unionByName(extra.select((col("doc_id") + 1000L).as("doc_id"), col("text")))
      .unionByName(extra.select((col("doc_id") + 2000L).as("doc_id"), col("text")))
    val pairs = (0L until 300L by 10).flatMap(i =>
      Seq((i, i + 1000L), (i + 1000L, i + 2000L))).toDF("id_a", "id_b")

    val assigned = Sampling.assignSplitByCluster(all, "doc_id", pairs, splits)
      .select("doc_id", "split_key", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // 1. every chain shares one split AND keys by the component min id
    (0L until 300L by 10).foreach { i =>
      val members = Seq(i, i + 1000L, i + 2000L).map(assigned)
      assert(members.distinct.size === 1, s"chain of $i must co-split")
      assert(members.head._1 === i, s"chain of $i must key by min id")
    }
    // 2. un-clustered docs match plain assignSplit exactly
    val plain = Sampling.assignSplit(all, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assigned.filter { case (id, _) => id % 10 != 0 }.foreach { case (id, (key, split)) =>
      assert(key === id)
      assert(split === plain(id), s"singleton $id must match assignSplit")
    }
    // 3. empty pair set degenerates to assignSplit for ALL docs
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val degen = Sampling.assignSplitByCluster(all, "doc_id", emptyPairs, splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(degen === plain)
  }

  test("int8 inner-product top-k: high recall vs float inner-product ranking") {
    import org.apache.spark.sql.expressions.Window
    val k = 5
    // float IP top-k (the exact ranking the quantized scan approximates)
    val vecs = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val fq = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wF = Window.partitionBy("query_id").orderBy(col("ip").desc, col("id"))
    val floatTop = vecs.select(col("vec_id").as("id"), col("v"))
      .crossJoin(broadcast(fq)).filter(col("id") =!= col("query_id"))
      .withColumn("ip", expr(
        "aggregate(zip_with(qv, v, (a, b) -> a * b), 0D, (a, b) -> a + b)"))
      .withColumn("rank", row_number().over(wF)).filter(col("rank") <= k)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // int8 IP top-k (the v08 path)
    val qz = Quantize.int8Symmetric(embeddings, "vec_id", "embedding")
      .select(col("vec_id"), round(col("scale") * 1e3).cast("long").as("s_milli"), col("q"))
    val qq = qz.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("s_milli").as("qs"), col("q").as("qv"))
    val wQ = Window.partitionBy("query_id").orderBy(col("ips").desc, col("id"))
    val intTop = qz.select(col("vec_id").as("id"), col("s_milli"), col("q"))
      .crossJoin(broadcast(qq)).filter(col("id") =!= col("query_id"))
      .withColumn("ips", expr(
        "aggregate(zip_with(qv, q, (a, b) -> a * b), CAST(0 AS BIGINT), (a, b) -> a + b)") *
        col("qs") * col("s_milli"))
      .withColumn("rank", row_number().over(wQ)).filter(col("rank") <= k)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // NOTE keys.toSeq BEFORE map: mapping a Set would collapse
    // duplicate per-query recall values and corrupt the mean
    val recalls = floatTop.keys.toSeq.map { q =>
      intTop(q).intersect(floatTop(q)).size.toDouble / floatTop(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean int8 recall@$k $mean vs float IP ranking")
  }

  test("PQ codes are in range, deterministic, and ADC recall beats chance by a wide margin") {
    val e = embeddings
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cands = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val books = SimilaritySearch.trainPqCodebooks(cands, dim = 64, m = 4, ksub = 8, iters = 2)
    assert(books.length === 4)
    assert(books.forall(b => b.length === 8 && b.forall(_.length === 16)))
    val codes = SimilaritySearch.pqEncode(cands, books, dim = 64)
    val rng = codes.select(
      least((0 until 4).map(s => min(col(s"code$s"))): _*),
      greatest((0 until 4).map(s => max(col(s"code$s"))): _*))
      .as[(Int, Int)].head()
    assert(rng._1 >= 0 && rng._2 < 8, s"codes out of [0,8): $rng")
    def run() = SimilaritySearch.pqAdcTopK(queries, cands,
        dim = 64, m = 4, ksub = 8, iters = 2, k = 5)
      .select("query_id", "rank", "id", "cos").as[(Long, Int, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val a = run()
    assert(a === run(), "PQ ADC ranking must be run-to-run deterministic")
    // recall@5 vs the exact cosine ranking: 4×8 PQ is coarse (it is
    // the shortlist stage — production re-ranks survivors exactly),
    // but must clearly beat the 5/|candidates| chance floor
    val exact = SimilaritySearch.bruteForceTopK(queries, cands, k = 5)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val adc = a.map(r => (r._1, r._3)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map(q => adc(q).intersect(exact(q)).size / 5.0)
    val mean = recalls.sum / recalls.size
    val chance = 5.0 / (cands.count() - 1)
    assert(mean >= math.max(2 * chance, 0.15),
      s"mean PQ ADC recall@5 $mean vs exact cosine (chance floor $chance)")
  }

  test("residual IVFPQ: reconstruction strictly beats non-residual at the same code budget; deterministic") {
    import graft.functions.VectorFunctions
    val e = embeddings
    val cands = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val (nc, dim, m, ksub, sub) = (8, 64, 4, 8, 16)

    // rebuild both quantizer stacks exactly as the operators do
    val cents = SimilaritySearch.trainIvfCentroids(cands, nc, 2)
    val centsD = cents.map(_.map(_.toDouble).toSeq).toSeq
    val assigned = cands
      .withColumn("__vn", VectorFunctions.l2Norm(col("vec")))
      .withColumn("cluster", SimilaritySearch.assignExpr(cents, col("vec"), col("__vn")))
    val resid = assigned.select(col("id"), col("cluster"),
      zip_with(col("vec"), element_at(typedlit(centsD), col("cluster") + 1),
        (a, b) => (a.cast("double") - b).cast("float")).as("vec"))
    val cbR = SimilaritySearch.trainPqCodebooksEuclid(resid.select("id", "vec"), dim, m, ksub, 2)
    val cbN = SimilaritySearch.trainPqCodebooks(cands, dim, m, ksub, 2)
    val codesR = SimilaritySearch.pqEncodeEuclid(resid, cbR, dim, keep = Seq("cluster"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), (2 until 2 + m).map(r.getInt))).toMap
    val codesN = SimilaritySearch.pqEncode(cands, cbN, dim)
      .collect().map(r => r.getLong(0) -> (1 until 1 + m).map(r.getInt)).toMap
    val vecs = cands.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

    def err2(v: Seq[Float], xhat: Array[Double]): Double =
      v.zip(xhat).map { case (a, b) => val d = a - b; d * d }.sum
    val (sumR, sumN) = vecs.keys.foldLeft((0.0, 0.0)) { case ((ar, an), id) =>
      val v = vecs(id)
      val (c, rcodes) = codesR(id)
      val xR = Array.tabulate(dim) { i =>
        cents(c)(i).toDouble + cbR(i / sub)(rcodes(i / sub))(i % sub) }
      val xN = Array.tabulate(dim) { i =>
        cbN(i / sub)(codesN(id)(i / sub))(i % sub).toDouble }
      (ar + err2(v, xR), an + err2(v, xN))
    }
    assert(sumR < sumN,
      s"residual recon error $sumR must beat non-residual $sumN at identical storage")

    // end-to-end search: deterministic under layout; k rows per query
    def run(c: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.ivfPqResidualTopK(queries, c,
          numClusters = nc, coarseIters = 2, dim = dim, m = m, ksub = ksub,
          pqIters = 2, k = 5, nprobe = 3)
        .select("query_id", "rank", "id", "cos")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val a = run(cands)
    assert(a === run(cands.repartition(11)))
    assert(a.groupBy(_._1).forall(_._2.length == 5))

    // recall@5 vs exact cosine must decisively beat chance
    val exact = SimilaritySearch.bruteForceTopK(queries, cands, k = 5)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mine = a.map(t => (t._1, t._3)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map(q => mine(q).intersect(exact(q)).size / 5.0).sum / exact.size
    val chance = 5.0 / (cands.count() - 1)
    assert(recall >= math.max(2 * chance, 0.15), s"residual IVFPQ recall@5 $recall")
  }

  test("mmrRerank: diversity beats redundancy, first pick is argmax rel, deterministic") {
    // three near-identical high-rel vectors + two distinct lower-rel
    // ones: pure relevance keeps the redundant trio 1-2-3; MMR must
    // pull the distinct vectors forward after the first pick
    def v(parts: Double*): Seq[Double] = parts
    val vecs = Seq(
      (10L, v(1.0, 0.01, 0.0)), (11L, v(1.0, 0.0, 0.01)), (12L, v(0.99, 0.01, 0.01)),
      (20L, v(0.0, 1.0, 0.0)), (30L, v(0.0, 0.0, 1.0)))
      .toDF("id", "vec")
    val ranked = Seq(
      (1L, 10L, 0.98), (1L, 11L, 0.97), (1L, 12L, 0.96),
      (1L, 20L, 0.80), (1L, 30L, 0.78))
      .toDF("query_id", "id", "rel")
    val got = SimilaritySearch.mmrRerank(ranked, vecs, k = 5, lambdaNum = 7, lambdaDen = 10)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2).toSeq
    assert(got.head._3 === 10L, "first pick must be the relevance argmax")
    val order = got.map(_._3)
    // the two distinct vectors must both rank ABOVE the two redundant
    // near-copies of the first pick
    assert(order.indexOf(20L) < order.indexOf(11L) && order.indexOf(30L) < order.indexOf(11L),
      s"diversity must beat redundancy: $order")
    assert(order.indexOf(20L) < order.indexOf(12L) && order.indexOf(30L) < order.indexOf(12L))
    // deterministic under layout
    val again = SimilaritySearch.mmrRerank(
        ranked.repartition(7), vecs.repartition(5), k = 5, lambdaNum = 7, lambdaDen = 10)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2).toSeq
    assert(again === got)
  }

  test("Quantiles.exactPercentiles equals the naive sorted-pick on seeded data incl. duplicates") {
    val rnd = new scala.util.Random(99)
    val vals = Seq.fill(500)(rnd.nextInt(20).toDouble) ++ Seq(0.0, 19.0) // force dup ends
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "x")
    val ps = Seq(0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val got = Quantiles.exactPercentiles(df.repartition(7), "x", ps)
      .as[(Double, Double)].collect().toMap
    val sorted = vals.sorted
    val naive = ps.map(p =>
      p -> sorted(math.ceil(p * sorted.length).toInt - 1)).toMap
    assert(got === naive)
    // p = 1.0 is the max; monotone in p
    assert(got(1.0) === sorted.last)
    assert(ps.map(got).sliding(2).forall(w => w.head <= w.last))
    // single-value corpus: every percentile is that value
    val one = Quantiles.exactPercentiles(
      Seq.fill(40)(7.5).zipWithIndex.map(_.swap).toDF("i", "x"), "x", Seq(0.5, 1.0))
      .as[(Double, Double)].collect().toMap
    assert(one === Map(0.5 -> 7.5, 1.0 -> 7.5))
  }

  test("Quantiles: integer-rational threshold is exact where a double ceil could slip") {
    // rational() pins the typed decimal, not the binary expansion
    assert(Quantiles.rational(0.9) === (9L, 10L))
    assert(Quantiles.rational(0.25) === (25L, 100L))
    assert(Quantiles.rational(1.0) === (1L, 1L))
    assert(Quantiles.rational(0.125) === (125L, 1000L))
    // p·n exactly integral: p=0.9, n=10 → threshold rank is EXACTLY 9
    // (ceil(9.0) = 9, not 10) — the case double noise could misrank
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("i", "x")
    val got = Quantiles.exactPercentiles(df, "x", Seq(0.1, 0.9, 1.0))
      .as[(Double, Double)].collect().toMap
    assert(got === Map(0.1 -> 1.0, 0.9 -> 9.0, 1.0 -> 10.0))
  }

  test("Quantiles: maxBuckets limit-probe fails fast on continuous columns") {
    val cont = (1 to 200).map(i => (i.toLong, i * 1.0000001)).toDF("i", "x")
    val e = intercept[IllegalArgumentException] {
      Quantiles.exactPercentiles(cont, "x", Seq(0.5), maxBuckets = 100)
    }
    assert(e.getMessage.contains("distinct"))
    val eg = intercept[IllegalArgumentException] {
      Quantiles.exactPercentilesByGroup(
        cont.withColumn("g", lit("a")), "g", "x", Seq(0.5), maxBuckets = 100)
    }
    assert(eg.getMessage.contains("quantize"))
  }

  test("Quantiles.approxPercentilesBinned: within (hi-lo)/bins of exact, exact when bins dominate") {
    val rnd = new scala.util.Random(1234)
    // continuous values — the column exactPercentiles would reject
    val vals = Seq.fill(2000)(rnd.nextDouble() * 100.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "x")
      .repartition(7)
    val ps = Seq(0.25, 0.5, 0.9, 0.99, 1.0)
    val sorted = vals.sorted
    // rank via the SAME decimal rational the operator pins (double
    // ceil(0.9*2000) lands on 1801 — the exact bug the operator avoids)
    def rank(p: Double, n: Int): Int = {
      val (nu, de) = Quantiles.rational(p)
      ((nu * n + de - 1) / de).toInt
    }
    val exact = ps.map(p => p -> sorted(rank(p, sorted.length) - 1)).toMap
    val bins = 256
    val bound = (sorted.last - sorted.head) / bins
    val got = Quantiles.approxPercentilesBinned(df, "x", ps, bins)
      .as[(Double, Double)].collect().toMap
    ps.foreach { p =>
      assert(math.abs(got(p) - exact(p)) <= bound,
        s"p=$p approx=${got(p)} exact=${exact(p)} bound=$bound")
    }
    // p=1.0 is the global max exactly (last bin's rep IS the max)
    assert(got(1.0) === sorted.last)
    // degenerate corpus: single value → every percentile exact
    val one = Quantiles.approxPercentilesBinned(
      Seq.fill(10)(3.25).zipWithIndex.map(_.swap).toDF("i", "x"), "x", Seq(0.5), 64)
      .as[(Double, Double)].collect().toMap
    assert(one === Map(0.5 -> 3.25))
    // with one bin per distinct value class the approx path IS exact
    val small = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("i", "x")
    val fine = Quantiles.approxPercentilesBinned(small, "x", ps, bins = 4096)
      .as[(Double, Double)].collect().toMap
    val smallSorted = (1 to 50).map(_.toDouble)
    ps.foreach { p =>
      assert(fine(p) === smallSorted(rank(p, 50) - 1))
    }
  }

  test("exactPercentilesWeighted: equals naive weighted cumsum; unit weights = unweighted") {
    val rnd = new scala.util.Random(21)
    val rows = (0 until 400).map(i => (i.toLong, rnd.nextInt(30).toDouble, rnd.nextInt(9) + 1L))
    val df = rows.toDF("i", "x", "w").repartition(5)
    val ps = Seq(0.25, 0.5, 0.9, 1.0)
    val got = Quantiles.exactPercentilesWeighted(df, "x", "w", ps)
      .as[(Double, Double)].collect().toMap
    // naive: expand each row w times, discrete quantile of the multiset
    val expanded = rows.flatMap { case (_, x, w) => Seq.fill(w.toInt)(x) }.sorted
    def rk(p: Double, n: Int): Int = {
      val (nu, de) = Quantiles.rational(p)
      ((nu * n + de - 1) / de).toInt
    }
    val naive = ps.map(p => p -> expanded(rk(p, expanded.length) - 1)).toMap
    assert(got === naive)
    // weight = 1 everywhere reduces to the unweighted operator
    val unw = Quantiles.exactPercentiles(df, "x", ps)
      .as[(Double, Double)].collect().toMap
    val w1 = Quantiles.exactPercentilesWeighted(
        df.withColumn("one", lit(1L)), "x", "one", ps)
      .as[(Double, Double)].collect().toMap
    assert(w1 === unw)
  }

  test("binnedHistogram synopsis: merged partials equal the one-shot histogram and its quantiles") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3000).map(i =>
      (s"src${i % 5}", rnd.nextDouble() * 900.0 + 10.0))
    val df = rows.toDF("source", "x").repartition(9)
    val q = Quantiles
    // one-shot on the pinned grid vs per-source partials merged
    val oneShot = q.binnedHistogram(df, "x", 0.0, 1024.0, 128)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    val merged = q.mergeBinnedHistograms(
        q.binnedHistogram(df, "x", 0.0, 1024.0, 128, parts = Seq("source")))
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(merged === oneShot, "merge must be exact (counts add, reps max)")
    // quantiles off the merged synopsis ≡ quantiles off the one-shot,
    // and within the grid bound of the exact order statistics
    val ps = Seq(0.25, 0.5, 0.99)
    val a = q.percentilesFromHistogram(
      q.mergeBinnedHistograms(
        q.binnedHistogram(df, "x", 0.0, 1024.0, 128, parts = Seq("source"))),
      ps).as[(Double, Double)].collect().toMap
    val sorted = rows.map(_._2).sorted
    def rk(p: Double): Int = {
      val (nu, de) = Quantiles.rational(p)
      ((nu * rows.length + de - 1) / de).toInt
    }
    ps.foreach { p =>
      assert(math.abs(a(p) - sorted(rk(p) - 1)) <= 1024.0 / 128,
        s"p=$p synopsis=${a(p)} exact=${sorted(rk(p) - 1)}")
    }
    // out-of-range values clamp to edge bins, preserving rank mass
    val clamped = q.binnedHistogram(
        Seq(("a", -50.0), ("a", 5000.0), ("a", 512.0)).toDF("source", "x"),
        "x", 0.0, 1024.0, 128)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(clamped.map(_._1) === Seq(0, 64, 127))
    assert(clamped.map(_._2).sum === 3L)
  }

  test("ivfPqTopK: probing all cells equals flat PQ ADC; pruned probe is an exact-subset") {
    val e = embeddings
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cands = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "id", "cos").as[(Long, Int, Long, Double)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    // nprobe = numClusters scans every cell → identical to the flat scan
    val allCells = key(SimilaritySearch.ivfPqTopK(queries, cands,
      numClusters = 8, coarseIters = 2, dim = 64, m = 4, ksub = 8,
      pqIters = 2, k = 5, nprobe = 8))
    val flat = key(SimilaritySearch.pqAdcTopK(queries, cands,
      dim = 64, m = 4, ksub = 8, iters = 2, k = 5))
    assert(allCells === flat,
      "IVFPQ probing all cells must equal the flat PQ ADC ranking")
    // pruned probe: every returned pair carries the SAME ADC score the
    // flat scan assigns it (cell pruning restricts candidates, never
    // changes a survivor's score), and the ranking is deterministic
    val adcAll = SimilaritySearch.pqAdcTopK(queries, cands,
        dim = 64, m = 4, ksub = 8, iters = 2, k = 500)
      .select("query_id", "id", "cos").as[(Long, Long, Double)].collect()
      .map { case (q, id, cos) => (q, id) -> cos }.toMap
    val pruned = key(SimilaritySearch.ivfPqTopK(queries, cands,
      numClusters = 8, coarseIters = 2, dim = 64, m = 4, ksub = 8,
      pqIters = 2, k = 5, nprobe = 3))
    assert(pruned.nonEmpty)
    pruned.foreach { case (q, _, id, cos) =>
      assert(math.abs(adcAll((q, id)) - cos) < 1e-12, s"ADC score drift for ($q,$id)")
    }
    assert(pruned === key(SimilaritySearch.ivfPqTopK(queries, cands,
      numClusters = 8, coarseIters = 2, dim = 64, m = 4, ksub = 8,
      pqIters = 2, k = 5, nprobe = 3)), "IVFPQ must be run-to-run deterministic")
  }

  test("ivfPqRerankTopK: exact scores on survivors, recall at least the ADC top-k's") {
    val queries = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cands = embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exactAll = SimilaritySearch.bruteForceTopK(queries, cands, k = 500)
      .select("query_id", "id", "cos").as[(Long, Long, Double)].collect()
      .map { case (q, id, cos) => (q, id) -> cos }.toMap
    val exactTop = SimilaritySearch.bruteForceTopK(queries, cands, k = 5)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rr = SimilaritySearch.ivfPqRerankTopK(queries, cands,
      numClusters = 8, coarseIters = 2, dim = 64, m = 4, ksub = 8,
      pqIters = 2, shortlist = 25, k = 5, nprobe = 3)
      .select("query_id", "rank", "id", "cos").as[(Long, Int, Long, Double)].collect()
    assert(rr.nonEmpty)
    // re-ranked scores are EXACT cosines (the ADC approximation is gone)
    rr.foreach { case (q, _, id, cos) =>
      assert(math.abs(exactAll((q, id)) - cos) < 1e-9, s"($q,$id) not exact")
    }
    def recall(sel: Map[Long, Set[Long]]) =
      exactTop.keys.toSeq.map(q => sel.getOrElse(q, Set.empty[Long])
        .intersect(exactTop(q)).size / 5.0).sum / exactTop.size
    val rrRecall = recall(rr.map(r => (r._1, r._3))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    val adcRecall = recall(SimilaritySearch.ivfPqTopK(queries, cands,
      numClusters = 8, coarseIters = 2, dim = 64, m = 4, ksub = 8,
      pqIters = 2, k = 5, nprobe = 3)
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    assert(rrRecall >= adcRecall,
      s"re-rank recall $rrRecall must be >= plain ADC recall $adcRecall")
  }

  test("Quantize.int8Symmetric properties: range, zero vector, error bound, scale (seeded random)") {
    val rnd = new scala.util.Random(4242)
    val vecs = (0L until 40L).map { i =>
      val dim = 1 + rnd.nextInt(16)
      val v = Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat * (if (i % 7 == 0) 1e-4f else 10f))
      (i, if (i % 11 == 0) Array.fill(dim)(0f) else v) // planted zero vectors
    }
    val df = vecs.toDF("vec_id", "embedding")
    val rows = Quantize.int8Symmetric(df, "vec_id", "embedding")
      .select("vec_id", "v", "scale", "q").collect()
    assert(rows.length === 40)
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val scale = r.getDouble(2)
      val q = r.getSeq[Long](3)
      assert(scale === v.map(math.abs).max)
      assert(q.forall(x => x >= -127 && x <= 127), s"q out of int8 range: $q")
      if (scale == 0.0) assert(q.forall(_ == 0L))
      else {
        // worst case is half a quantization step
        val bound = scale / 254.0 + 1e-12
        v.zip(q).foreach { case (x, qi) =>
          assert(math.abs(x - qi * scale / 127.0) <= bound,
            s"err ${math.abs(x - qi * scale / 127.0)} > $bound (x=$x q=$qi scale=$scale)")
        }
      }
    }
  }

  test("Chunking properties: full coverage and chunk count (seeded random)") {
    val rnd = new scala.util.Random(1337)
    val cases = (1 to 25).map { i =>
      val n = rnd.nextInt(50) // 0..49 tokens
      val chunk = 1 + rnd.nextInt(10)
      val stride = 1 + rnd.nextInt(chunk)
      (i.toLong, n, chunk, stride)
    }
    cases.foreach { case (id, n, chunk, stride) =>
      val text = (0 until n).map(j => s"t$j").mkString(" ")
      val rows = Chunking.slidingTokenChunks(
          Seq((id, text)).toDF("doc_id", "text"), "doc_id", "text", chunk, stride)
        .orderBy("chunk_idx").collect()
      val expectChunks = if (n == 0) 0 else (n - 1) / stride + 1
      assert(rows.length === expectChunks, s"n=$n chunk=$chunk stride=$stride")
      // stride ≤ chunkTokens ⇒ the union of [start, start+len) tiles [0, n)
      val covered = rows.flatMap { r =>
        val start = r.getInt(2); val len = r.getInt(3)
        assert(len === math.min(chunk, n - start))
        start until (start + len)
      }.toSet
      assert(covered === (0 until n).toSet, s"n=$n chunk=$chunk stride=$stride")
    }
  }

  test("incrementalNearDupLsh: exact copy and near-copy drop, unique and in-batch dups kept") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val history = Seq((100L, base), (101L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, base),                                  // exact copy of 100 → drop
      (2L, base.replace("kappa", "KAPPAX")),       // near-copy (1 token) → drop
      (3L, "totally different content with no overlap at all whatsoever"),
      (4L, "totally different content with no overlap at all whatsoever") // in-batch dup of 3 → BOTH kept
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalNearDupLsh(batch, history, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(3L, 4L))
  }

  test("selectToBudgetPerGroup equals naive per-group windows; absent group dropped") {
    // 3 groups, quantized scores with cross-group collisions, ties at
    // boundaries; group "c" is absent from the budget map
    val rows = (0 until 300).map { i =>
      val grp = Seq("a", "b", "c")(i % 3)
      (i.toLong, grp, math.round((i % 7) / 10.0 * 1e6) / 1e6, 10L + i % 5)
    }
    val df = rows.toDF("id", "grp", "score", "toks")
    val budgets = Map("a" -> 300L, "b" -> 150L)
    val got = Sampling.selectToBudgetPerGroup(df, "grp", "score", "id", "toks", budgets)
      .select("id").as[Long].collect().sorted.toSeq
    val wNaive = Window.partitionBy(col("grp"))
      .orderBy(col("score").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df
      .withColumn("__cum", sum("toks").over(wNaive))
      .withColumn("__budget",
        when(col("grp") === "a", 300L).when(col("grp") === "b", 150L))
      .filter(col("__cum") <= col("__budget")) // NULL budget (grp c) drops
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === naive)
    assert(got.nonEmpty)
    val gotGroups = df.filter(col("id").isin(got: _*))
      .select("grp").distinct().as[String].collect().toSet
    assert(!gotGroups.contains("c"), "group without a budget must be dropped")
  }

  test("selectToBudgetPerGroupUniform equals the map form with every group at the same cap") {
    val rows = (0 until 300).map { i =>
      val grp = Seq("a", "b", "c")(i % 3)
      (i.toLong, grp, math.round((i % 7) / 10.0 * 1e6) / 1e6, 10L + i % 5)
    }
    val df = rows.toDF("id", "grp", "score", "toks")
    val uniform = Sampling.selectToBudgetPerGroupUniform(
        df, "grp", "score", "id", "toks", budgetPerGroup = 200L)
      .select("id").as[Long].collect().sorted.toSeq
    val viaMap = Sampling.selectToBudgetPerGroup(
        df, "grp", "score", "id", "toks",
        budgets = Map("a" -> 200L, "b" -> 200L, "c" -> 200L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(uniform === viaMap)
    assert(uniform.nonEmpty)
    // and the uniform form keeps DISCOVERED groups (no map to name them)
    val groups = df.filter(col("id").isin(uniform: _*))
      .select("grp").distinct().as[String].collect().toSet
    assert(groups === Set("a", "b", "c"))
  }

  test("Chunking.slidingTokenChunks: coverage, overlap, tail, empty doc") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 3 chunks at (4,2)
      (2L, "a b"),                                    // one short chunk
      (3L, ""),                                       // no chunks
      (4L, "  x  ")                                   // whitespace-trimmed
    ).toDF("doc_id", "text")
    val chunks = Chunking.slidingTokenChunks(docs, "doc_id", "text",
        chunkTokens = 4, stride = 2)
      .orderBy("doc_id", "chunk_idx")
      .collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    // doc 1: starts 0,2,4,6,8 — full chunks then a clamped tail
    val d1 = byDoc(1L).map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(d1.toSeq === Seq(
      (0, 0, 4, "w1 w2 w3 w4"), (1, 2, 4, "w3 w4 w5 w6"),
      (2, 4, 4, "w5 w6 w7 w8"), (3, 6, 4, "w7 w8 w9 w10"),
      (4, 8, 2, "w9 w10")))
    // every token of doc 1 appears in ceil(chunk/stride)=2 chunks except
    // the edges; total emitted tokens = sum of n_chunk_tokens
    assert(d1.map(_._3).sum === 18)
    assert(byDoc(2L).map(r => (r.getInt(2), r.getString(4))).toSeq === Seq((0, "a b")))
    assert(!byDoc.contains(3L), "empty doc must produce zero chunks")
    assert(byDoc(4L).map(_.getString(4)).toSeq === Seq("x"))
  }
}

/** Every node of an executed plan, AQE query stages included. */
private object PlanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def all(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = collect(plan) { case p => p }
}
