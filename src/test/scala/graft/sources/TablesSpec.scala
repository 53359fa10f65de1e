package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** Schema-reconciling reads: the harness has regenerated testdata with
  * drifted physical types twice (events.ts TIMESTAMP(NANOS) → micros),
  * so every table reader must present the DECLARED logical schema over
  * whatever encoding is on disk. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = SparkTestSession.sfDir

  test("rebalanced accepts its scan-rooted call sites and fails loudly on an exchanged frame") {
    // the four call sites build their frames through the guard: the
    // real probe frames, not reconstructions
    Seq("v03_embed_neardup_brute", "t68_modified_kn5", "t24_dup_spans", "t39_dsir_resample")
      .foreach(q => graft.SparkEntry.queries(q)(spark, sfDir))
    val docs = Tables.documents(spark, sfDir)
    assert(Tables.rebalanced(docs.filter(col("doc_id") > 3).select("doc_id")).rdd
      .getNumPartitions === spark.sparkContext.defaultParallelism)
    // built per setting: a frame plans once, under the conf of its first use
    def misuse = Seq(
      docs.groupBy("lang").count(),
      docs.repartition(3, col("doc_id")),
      docs.join(docs.select("doc_id"), "doc_id"))
    for (aqe <- Seq("true", "false"); df <- misuse) {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val e = intercept[IllegalArgumentException](Tables.rebalanced(df))
        assert(e.getMessage.contains("needs a scan-rooted frame"), e.getMessage)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("canonical testdata loads with exactly the declared logical types") {
    for ((df, declared) <- Seq(
        Tables.lineitem(spark, sfDir) -> Tables.lineitemSchema,
        Tables.embeddings(spark, sfDir) -> Tables.embeddingsSchema)) {
      assert(df.schema.fields.map(f => f.name -> f.dataType.sql).toSeq ===
        declared.fields.map(f => f.name -> f.dataType.sql).toSeq)
    }
  }

  test("drifted lineitem encoding (int32 keys, float price, nanos-long shipdate) reconciles to declared") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-drift-li").toString
    // 2021-07-01T00:00:00.123456Z as epoch NANOS — what a TIMESTAMP(NANOS)
    // column looks like once `nanosAsLong` strips the logical type.
    val ns = 1625097600123456000L
    val drifted = Seq((1, 2, 3, 4, 5.0f, 6.5f, 0.1f, 0.02f, "N", "O", ns))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    drifted.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val got = Tables.lineitem(spark, dir)
    assert(got.schema.fields.map(f => f.name -> f.dataType.sql).toSeq ===
      Tables.lineitemSchema.fields.map(f => f.name -> f.dataType.sql).toSeq)
    val row = got.collect().head
    assert(row.getLong(0) === 1L)
    assert(row.getDouble(4) === 5.0)
    // nanos DIV 1000 → exact micros
    assert(row.getAs[Timestamp]("l_shipdate") === Timestamp.from(
      java.time.Instant.ofEpochSecond(1625097600L, 123456000L)))
  }

  test("drifted embeddings encoding (int vec_id, double[] embedding, long label) reconciles to declared") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-drift-emb").toString
    Seq((7, Array(0.5d, -1.25d), 3L))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val got = Tables.embeddings(spark, dir)
    assert(got.schema.fields.map(f => f.name -> f.dataType.sql).toSeq ===
      Tables.embeddingsSchema.fields.map(f => f.name -> f.dataType.sql).toSeq)
    val row = got.collect().head
    assert(row.getLong(0) === 7L)
    assert(row.getSeq[Float](1) === Seq(0.5f, -1.25f))
    assert(row.getInt(2) === 3)
  }

  test("missing declared column fails loudly at plan time") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-drift-miss").toString
    Seq((1L, "x")).toDF("r_regionkey", "wrong_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalArgumentException](Tables.region(spark, dir))
    assert(e.getMessage.contains("r_name"))
  }

  test("identity path keeps pushdown: filter on untouched column reaches the scan") {
    val plan = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") === 1L).select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]"), plan)
  }
}
