package graft.operators

import graft.util.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Fixed-iteration HITS (Kleinberg 1999, public method) — hubs and
 * authorities over a directed link graph: an authority is pointed at
 * by good hubs, a hub points at good authorities. The crawl-pipeline
 * reading: authorities are the canonical sources worth over-sampling,
 * hubs the link farms/directories worth down-weighting — the
 * complementary signal to [[PageRank]]'s single score.
 *
 *   a'(v) = Σ_{(u,v)∈E} h(u)        h'(v) = Σ_{(v,u)∈E} a'(u)
 *
 * each re-normalized to Σ = 1 (L1 — avoids the classic L2 form's
 * norm-of-squares overflow concerns and keeps every operation a plain
 * sum/divide). A FIXED iteration count keeps the operator
 * deterministic and exactly replayable by an unrolled SQL oracle;
 * vertices with no in-edges (resp. out-edges) hold authority (resp.
 * hub) score 0 from iteration 1 on, exactly as the theory says.
 *
 * Scale shape per half-iteration: one equi-join of the edge list to
 * the opposite score on its key, one groupBy aggregate with map-side
 * combine, and a 1-row normalization sum attached via
 * crossJoin(broadcast(...)) — the [[PageRank]] loop shape; bucketing
 * the edge table by src (and a dst-keyed copy) pins both shuffles
 * across all iterations. Nothing node-count-sized reaches the driver.
 */
object Hits {

  /** @return (idCol, authority, hub), both columns summing to 1.
    *
    * The `(edges, srcCol, dstCol)` overload repartitions two in-memory
    * copies; [[runIndexed]] takes a persisted [[graft.io.EdgeStore]]'s
    * two bucketed copies and skips both one-time exchanges. */
  def run(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    // TWO cached copies of the edge list, each hash-partitioned on
    // its half-step's join key: the authority step joins on src, the
    // hub step on dst, and with the partitioning pinned at
    // materialization neither half-step ever re-shuffles edges — only
    // the node-sized score frame moves per round (PROFILE_GRAPH_r12's
    // 100 TB knob; runIndexed's bucketed copies save even the two
    // one-time exchanges)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    runOn(nodes, idCol,
      e0.repartition(col("src")), e0.repartition(col("dst")), iterations)
  }

  /** HITS over a persisted [[graft.io.EdgeStore]]: both copies load
    * already bucketed on their half-step's join key — from a cold
    * start, no stage of the whole run shuffles the edge table
    * (plan-audited). Verifies the caller's vertex count against the
    * count the store recorded (the [[PageRank.runIndexed]] guard — a
    * filtered/foreign `nodes` frame would silently skew scores via
    * out-of-universe edges). */
  def runIndexed(
      nodes: DataFrame, idCol: String, path: String,
      iterations: Int): DataFrame = {
    val spark = nodes.sparkSession
    // count AND set-checksum guard (see EdgeStore.requireSameUniverse)
    graft.io.EdgeStore.requireSameUniverse(
      spark, path, nodes, idCol, "Hits.runIndexed")
    runOn(nodes, idCol,
      graft.io.EdgeStore.bySrc(spark, path),
      graft.io.EdgeStore.byDst(spark, path), iterations)
  }

  private def runOn(
      nodes: DataFrame, idCol: String,
      edgesBySrc: DataFrame, edgesByDst: DataFrame,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val ids = nodes.select(col(idCol).as("id"))
    val n = ids.count()
    val eSrc = Caches.persist(edgesBySrc)
    val eDst = Caches.persist(edgesByDst)

    // zero-sum guard: on an edgeless graph (or once all mass lands on
    // vertices the next half-step cannot reach) the total is 0 — the
    // all-zero vector is the honest fixed point, not NaN/Infinity
    // (mirrors PageRank's dangling-mass coalesce).
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val tot = scores.agg(sum(col(c)).as("__tot"))
      scores.crossJoin(broadcast(tot))
        .select(col("id"),
          when(col("__tot") === 0.0, lit(0.0))
            .otherwise(col(c) / col("__tot")).as(c))
    }
    /** one propagation half-step: out(to) = Σ in(from) over edges —
      * `e` is the copy pre-partitioned on `from`. */
    def push(in: DataFrame, e: DataFrame, from: String, to: String, c: String): DataFrame =
      normalized(
        ids.join(
          e.join(in.withColumnRenamed("id", from), from)
            .groupBy(col(to).as("id"))
            .agg(sum(col(c)).as(c)),
          Seq("id"), "left")
          .select(col("id"), coalesce(col(c), lit(0.0)).as(c)),
        c)

    // each half-step references its input score TWICE (the aggregate
    // and the normalization sum), so a lazy chain DOUBLES the logical
    // plan per half-step — 2^(2·iterations) analysis blowup. The
    // cut flattens every iteration to an RDD scan (the BpeTrain
    // lineage discipline); each round releases the one before it.
    var hubs = Caches.cut(ids.withColumn("hub", lit(1.0 / n)))
    var auths: DataFrame = null
    for (_ <- 1 to iterations) {
      val a = Caches.cut(push(hubs.select(col("id"), col("hub")), eSrc, "src", "dst", "hub")
        .withColumnRenamed("hub", "authority"))
      Caches.release(hubs)
      if (auths != null) Caches.release(auths)
      auths = a
      hubs = Caches.cut(push(auths.select(col("id"), col("authority")), eDst, "dst", "src",
        "authority").withColumnRenamed("authority", "hub"))
    }
    auths.join(hubs, Seq("id"))
      .select(col("id").as(idCol), col("authority"), col("hub"))
  }
}
