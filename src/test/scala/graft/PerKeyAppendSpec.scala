package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{PerKeyAppend, PerKeyAppendExec}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The per-key append operator's contract: what it keeps of its child,
  * what its function sees, and the session it needs. */
class PerKeyAppendSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (k, seq, v): key 1 has three rows, key 2 two, key 3 one
  private def plays: DataFrame =
    Seq((1L, 3, "c"), (2L, 1, "d"), (1L, 1, "a"), (3L, 1, "f"), (2L, 2, "e"), (1L, 2, "b"))
      .toDF("k", "seq", "v")

  private val runningOut = StructType(Seq(StructField("pos", IntegerType, nullable = false),
    StructField("so_far", StringType, nullable = true)))

  /** Appends each row's position in its key and the values so far. */
  private def running(df: DataFrame): DataFrame =
    PerKeyAppend(df, "k", Seq("seq"), Seq("v"), runningOut) { (ps, _) =>
      var acc = ""
      ps.zipWithIndex.map { case (r, i) => acc += r.getString(0); Row(i + 1, acc) }
    }

  private def shuffles(plan: SparkPlan): Int =
    collect(plan) { case s: ShuffleExchangeExec => s }.length

  test("keeps the child's attributes and partitioning; shuffles only an unclustered child") {
    val clustered = plays.repartition(3, col("k"))
    val out = running(clustered)
    assert(out.columns.toSeq === Seq("k", "seq", "v", "pos", "so_far"))
    val node = out.queryExecution.analyzed.collectFirst { case p: PerKeyAppend => p }.get
    assert(node.output.take(3) === clustered.queryExecution.analyzed.output)
    assert(out.orderBy("k", "seq").collect().map(r => (r.getLong(0), r.getInt(3), r.getString(4)))
      .toSeq === Seq((1L, 1, "a"), (1L, 2, "ab"), (1L, 3, "abc"), (2L, 1, "d"), (2L, 2, "de"),
        (3L, 1, "f")))
    val plan = out.queryExecution.executedPlan
    assert(shuffles(plan) === 1, plan.treeString) // the repartition's own
    val exec = collect(plan) { case p: PerKeyAppendExec => p }.head
    assert(exec.outputPartitioning === exec.children.head.outputPartitioning)

    val scattered = running(plays.repartition(7))
    scattered.collect()
    val scatteredPlan = scattered.queryExecution.executedPlan
    assert(shuffles(scatteredPlan) === 2, scatteredPlan.treeString) // round-robin + one by key
  }

  private val dimOut = StructType(Seq(StructField("dims", StringType, nullable = true)))

  /** Appends the key's dimension rows, all columns, sorted. */
  private def withDim(df: DataFrame, dim: DataFrame): DataFrame =
    PerKeyAppend(df, "k", Nil, Nil, dimOut, Some((dim, "dk"))) { (ps, ds) =>
      val seen = ds.map(_.toSeq.mkString("/")).sorted.mkString(",")
      ps.map(_ => Row(seen))
    }

  test("plays without dimension rows see an empty dimension; dimension-only keys emit nothing") {
    val dim = Seq((1, "x", "p"), (1, "y", "q"), (4, "z", "r")).toDF("dk", "a", "b")
    val out = withDim(plays, dim).select("k", "dims").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(out.length === 6)
    assert(out.filter(_._1 == 1L).map(_._2).toSet === Set("1/x/p,1/y/q"))
    assert(out.filter(_._1 != 1L).forall(_._2 == ""))
    assert(!out.exists(_._1 == 4L))
  }

  test("selecting only the appended columns still hands the function every dimension column") {
    val dim = Seq((1L, "x", "p"), (2L, "y", "q")).toDF("dk", "a", "b")
    val got = withDim(plays, dim).select("dims").collect().map(_.getString(0)).toSet
    assert(got === Set("1/x/p", "2/y/q", ""))
  }

  test("null keys form one group that meets the dimension's null-key rows") {
    val ps = Seq((Some(1L), 1, "a"), (None, 1, "b"), (None, 2, "c")).toDF("k", "seq", "v")
    val dim = Seq((None: Option[Long], "n"), (Some(1L), "one")).toDF("dk", "a")
    val rows = withDim(ps, dim).collect().map(r => (Option(r.get(0)), r.getString(3))).toSet
    assert(rows === Set((Some(1L), "1/one"), (None, "null/n")))
    val pos = running(ps).collect().map(r => (Option(r.get(0)), r.getInt(1), r.getInt(3))).toSet
    assert(pos === Set((Some(1L), 1, 1), (None, 1, 1), (None, 2, 2)))
  }

  test("the output joins with itself and with aggregates of itself") {
    val out = running(plays)
    val last = out.groupBy("k").agg(max("pos").as("n"))
    val joined = out.join(last, "k").filter(col("pos") === col("n"))
      .select("k", "so_far").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(joined === Map(1L -> "abc", 2L -> "de", 3L -> "f"))
    assert(out.as("a").join(out.as("b"), col("a.so_far") === col("b.so_far")).count() === 6)
  }

  test("a function that drops rows fails loudly") {
    val bad = PerKeyAppend(plays, "k", Seq("seq"), Seq("v"), runningOut) { (ps, _) =>
      ps.take(1).map(_ => Row(1, "x"))
    }
    val e = intercept[SparkException](bad.collect())
    assert(e.getMessage.contains("fewer rows"), e.getMessage)
  }

  test("a session without GraftExtensions fails where the node is built, naming it") {
    val bare = SparkSession.builder().create()
    try {
      val df = bare.range(3).withColumn("k", col("id") % 2)
      val e = intercept[IllegalArgumentException](
        PerKeyAppend(df, "k", Nil, Nil, dimOut)((ps, _) => ps.map(_ => Row("x"))))
      assert(e.getMessage.contains("GraftExtensions"), e.getMessage)
    } finally SparkSession.setActiveSession(spark)
  }
}
