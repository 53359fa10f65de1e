package graft.operators

import graft.util.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Fixed-iteration PageRank (Brin & Page 1998, public method) — the
 * link-graph quality prior a crawl-scale training-data pipeline uses
 * to weight domains/documents before sampling (the "quality
 * classifier from link structure" signal).
 *
 * Semantics: the power-iteration form with damping `d`, uniform
 * teleport, and dangling mass redistributed uniformly:
 *
 *   pr'(v) = (1−d)/N + d·( Σ_{(u,v)∈E} pr(u)/outdeg(u) + D/N )
 *
 * where D = Σ pr(u) over dangling u (no out-edges). Σ pr stays 1 every
 * iteration. A FIXED iteration count (not convergence-test) keeps the
 * operator deterministic and exactly replayable by an unrolled SQL
 * oracle.
 *
 * Scale shape per iteration: one equi-join of edges to ranks on the
 * source id (both sides hash-partitioned on the same key — bucketing
 * the edge table by src pins that side's shuffle across ALL
 * iterations), one groupBy(dst) contribution aggregate with map-side
 * combine, and a 1-row dangling-mass aggregate attached via
 * crossJoin(broadcast(...)) — the house scalar-attach shape, so the
 * loop stays fully lazy-free of driver round-trips except the eager
 * per-iteration materialization that bounds lineage. Nothing
 * node-count-sized ever reaches the driver.
 */
object PageRank {

  /**
   * @param nodes one row per vertex (duplicates are the caller's bug);
   *              isolated and dangling vertices still receive rank.
   * @param edges directed (src, dst) pairs. Multi-edges count multiple
   *              times — pass a distinct frame for simple-graph
   *              semantics. Edges whose endpoint is absent from
   *              `nodes` are DROPPED up front (semi-join against the
   *              vertex set) — otherwise a contribution to an unknown
   *              dst would be computed (the src's outdegree counts the
   *              edge) but silently lost at the join-back, breaking
   *              the Σ pr = 1 invariant with no error.
   * @param preIndexed edges come from a persisted
   *              [[graft.io.EdgeStore]] src-bucketed copy: already
   *              vertex-closed at write time and scanned with
   *              `HashPartitioning(src)`, so the closure semi-joins
   *              AND the one-time repartition are both skipped — from
   *              a cold start, no stage of the whole run shuffles the
   *              edge table (plan-audited). CONTRACT: `nodes` must be
   *              the store's write-time vertex set — a filtered or
   *              foreign frame re-opens exactly the hole the closure
   *              exists to plug (out-of-set edges inflate outdegrees
   *              and Σ pr = 1 breaks silently). There is no runtime
   *              check on this raw-DataFrame path; prefer
   *              [[runIndexed]], which verifies the caller's vertex
   *              count against the count the manifest recorded.
   * @return (idCol, pr) with Σ pr = 1.
   */
  def run(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      preIndexed: Boolean = false): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")

    val ids = nodes.select(col(idCol).as("id"))
    // one driver scalar: the vertex count (a Long, not data)
    val n = ids.count()
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // restrict edges to the vertex set BEFORE degrees: an edge to an
    // unknown dst must not inflate its src's outdegree (its rank mass
    // would vanish at the join-back and Σ pr = 1 would silently break)
    val e = Caches.persist(if (preIndexed) e0
      else e0
        .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
        // pin the edge shuffle ONCE: the cached frame materializes
        // hash-partitioned on the per-iteration join key, so every
        // round's join re-uses that partitioning and only the (node-
        // sized) rank frame moves — iterations never re-shuffle the
        // edge table (the 100 TB knob from PROFILE_GRAPH_r12; the
        // preIndexed EdgeStore path drops even this one-time exchange)
        .repartition(col("src"))) // reused every iteration
    val deg = Caches.persist(e.groupBy("src").agg(count(lit(1)).cast("double").as("deg")))

    // ranks are referenced TWICE per iteration (contributions and the
    // dangling-mass aggregate), so a lazy chain doubles the logical
    // plan per iteration; cut flattens each round to an RDD scan (the
    // BpeTrain lineage discipline) and releases the round before it
    var ranks = Caches.cut(ids.withColumn("pr", lit(1.0 / n)))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks, e("src") === ranks("id"))
        .join(deg, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") / col("deg")).as("contrib"))
      // dangling mass: rank held by vertices with no out-edge — a
      // 1-row aggregate broadcast onto every vertex (zero when the
      // graph has no danglers, as the synthesized test graph hasn't)
      val dangling = ranks.join(deg, ranks("id") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
      val next = Caches.cut(ids
        .join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) + col("dm") / n)).as("pr")))
      Caches.release(ranks)
      ranks = next
    }
    ranks.select(col("id").as(idCol), col("pr"))
  }

  /** PageRank over a persisted [[graft.io.EdgeStore]] — the guarded
    * form of `run(preIndexed = true)`: loads the src-bucketed copy
    * itself and VERIFIES the caller's vertex count against the count
    * the store recorded at write/upsert time, so a filtered or foreign
    * `nodes` frame (whose out-of-set edges would silently break
    * Σ pr = 1) fails loudly instead. */
  def runIndexed(
      nodes: DataFrame, idCol: String, path: String,
      iterations: Int, damping: Double = 0.85): DataFrame = {
    val spark = nodes.sparkSession
    // count AND set-checksum guard: a same-count different-node set
    // must fail too (its out-of-set edges would break Σ pr = 1)
    graft.io.EdgeStore.requireSameUniverse(
      spark, path, nodes, idCol, "PageRank.runIndexed")
    run(nodes, idCol, graft.io.EdgeStore.bySrc(spark, path), "src", "dst",
      iterations, damping, preIndexed = true)
  }
}
