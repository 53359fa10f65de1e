package graft.operators

import graft.SparkTestSession
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two explicit shuffle-shaping techniques for 100 TB joins:
  * salting for skewed keys and bucketing for co-located joins. */
class ScaleTechniquesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("saltedJoin equals the plain join and spreads the hot key over salts") {
    val li = Tables.lineitem(spark, SparkTestSession.sfDir)
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
    val supp = Tables.supplier(spark, SparkTestSession.sfDir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))

    val plain = li.join(supp, "l_suppkey")
      .select("l_orderkey", "l_linenumber", "s_name")
      .as[(Long, Int, String)].collect().toSet
    val salted = SkewJoin.saltedJoin(li, supp, "l_suppkey",
        saltFactor = 8, saltCols = Seq("l_orderkey", "l_linenumber"))
      .select("l_orderkey", "l_linenumber", "s_name")
      .as[(Long, Int, String)].collect().toSet
    assert(salted === plain)

    // the salt really spreads one key's rows across partitions
    val spread = li.filter(col("l_suppkey") === 1)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(8)))
      .select("salt").distinct().count()
    assert(spread >= 6) // ~all 8 salts hit for a hot key
  }

  test("bucketed tables co-locate the join: no exchange on the join keys") {
    // (warehouse dir is a static conf — tables land in the default
    // ./spark-warehouse and are dropped below)
    val orders = Tables.orders(spark, SparkTestSession.sfDir)
    val cust = Tables.customer(spark, SparkTestSession.sfDir)

    orders.write.mode("overwrite").bucketBy(8, "o_custkey")
      .sortBy("o_custkey").saveAsTable("orders_b")
    cust.select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      .write.mode("overwrite").bucketBy(8, "o_custkey")
      .sortBy("o_custkey").saveAsTable("cust_b")

    // disable auto-broadcast so the join would OTHERWISE be a
    // shuffle-requiring sort-merge join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(spark.table("cust_b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan) // co-located: no shuffle
      assert(joined.count() === orders.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS cust_b")
    }
  }

  test("pagerank: iterations shuffle the rank frame, never the edge table") {
    // edge-heavy graph (≈200 edges per node): if each round re-shuffled
    // the edges, the per-round shuffle increment would be edge-sized;
    // with the cached pre-partitioning it must stay a small fraction
    // of one edge exchange
    val n = 400L
    val nodes = spark.range(n).toDF("id")
    val edges = spark.range(n * 200)
      .select((col("id") % n).as("src"), ((col("id") * 7919 + 13) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    val tally = graft.tools.StageTally(spark)
    try {
      def run(iters: Int): Long = {
        tally.snapshotAndReset()
        PageRank.run(nodes, "id", edges, "src", "dst", iterations = iters).count()
        tally.snapshotAndReset().values.map(_.shuffleWrite).sum
      }
      val w2 = run(2)
      val w6 = run(6)
      val perRound = (w6 - w2) / 4.0
      // one full edge exchange, measured directly
      tally.snapshotAndReset()
      edges.repartition(col("src")).agg(count(lit(1))).first()
      val edgeShuffle = tally.snapshotAndReset().values.map(_.shuffleWrite).sum
      assert(edgeShuffle > 0, "edge-shuffle measurement must see the exchange")
      assert(perRound < edgeShuffle / 2.0,
        f"per-round shuffle $perRound%.0f B should be well under one edge " +
          f"exchange ($edgeShuffle B) — iterations must not re-shuffle edges")
    } finally tally.close()
  }
}
