package graft.operators

import graft.SparkTestSession
import graft.sources.Tables
import graft.tools.{AnnScaleSmoke, EventsScaleSmoke, LlmScaleSmoke, SmokeRun}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale smokes' copy constructions carry the proof burden for
  * their exact invariants — pin the load-bearing properties:
  * sign-pattern copies are EXACT dot-product isometries (so intra-copy
  * geometry replicates bit-for-bit), events copies occupy disjoint id
  * blocks (so per-user operators can never mix copies), and corpus
  * copies occupy disjoint id blocks and token spaces (so no shingle of
  * one copy can match another's). */
class ScaleSmokeCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sfDir

  test("signCopy: per-copy sign patterns are exact dot-product isometries") {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .filter(col("vec_id") < 20)
    val scaled = SmokeRun.copies(base, 3)(AnnScaleSmoke.signCopy)
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    val ids = (0L until 20L).toSeq
    for (k <- 1 to 2; i <- ids; j <- ids if i < j) {
      val off = k * 10000000L
      // ±1 scaling is exact in IEEE float, so equality is BITWISE
      assert(dot(scaled(i + off), scaled(j + off)) === dot(scaled(i), scaled(j)),
        s"copy $k broke the isometry for pair ($i,$j)")
    }
    // and the patterns genuinely differ between copies: the same base
    // vector must NOT be near-parallel across copies (the AnnScaleSmoke
    // cross-copy invariant depends on this decorrelation)
    for (i <- ids) {
      val a = scaled(i); val b = scaled(i + 10000000L)
      val cos = dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
      assert(math.abs(cos) < 0.9, s"vec $i cross-copy cos=$cos — patterns too correlated")
    }
  }

  test("userBlocks: copies occupy disjoint user and event id blocks") {
    val base = Tables.events(spark, dir).select("event_id", "user_id", "ts", "ts_ns",
      "event_type", "value")
    val n = base.count()
    val scaled = SmokeRun.copies(base, 3)(EventsScaleSmoke.userBlocks)
    assert(scaled.count() === n * 3)
    assert(scaled.select("event_id").distinct().count() === n * 3)
    // user blocks must not overlap: per-copy user sets are the base
    // set shifted by exactly k*1e7
    val perBlock = scaled
      .groupBy((col("user_id") / 10000000L).cast("long").as("block"))
      .agg(countDistinct("user_id").as("users"), count(lit(1)).as("n"))
      .orderBy("block").collect()
    assert(perBlock.length === 3, perBlock.mkString(","))
    val users0 = perBlock.head.getLong(1)
    perBlock.foreach { r =>
      assert(r.getLong(1) === users0 && r.getLong(2) === n, r.toString)
    }
  }

  test("corpusCopy: disjoint ids, no token shared with copy 0, n_chars unchanged") {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select("doc_id", "text", "n_chars")
      .filter(col("doc_id") < 50)
    val rows = SmokeRun.copies(base, 3)(LlmScaleSmoke.corpusCopy)
      .as[(Long, String, Long)].collect()
    assert(rows.length === 150)
    assert(rows.map(_._1).distinct.length === 150)
    val byCopy = rows.groupBy(_._1 / 10000000L)
    assert(byCopy.keySet === Set(0L, 1L, 2L))
    def tokens(k: Long) = byCopy(k).flatMap(_._2.split(" ")).filter(_.nonEmpty).toSet
    val copy0 = byCopy(0L).map(r => r._1 -> r).toMap
    assert(tokens(0L).nonEmpty)
    for (k <- Seq(1L, 2L)) {
      assert((tokens(k) intersect tokens(0L)).isEmpty, s"copy $k shares a token with copy 0")
      byCopy(k).foreach { case (id, _, nChars) =>
        assert(nChars === copy0(id - k * 10000000L)._3, s"copy $k changed n_chars of $id")
      }
    }
  }
}
