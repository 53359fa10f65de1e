package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pbp queries cache a pruned projection of the parse chain (it
  * feeds 2-4 consumers; uncached it re-runs per consumer). The harness
  * contract is that `spark.catalog.clearCache()` after the action
  * drops every such intermediate — Verify, Bench and BenchOne clear
  * per query. This pins that contract: a query that
  * switched to `SparkContext`-level persistence (RDD.persist bypasses
  * the catalog cache manager) would linger past clearCache and fail
  * here. */
class CacheHygieneSpec extends AnyFunSuite {

  private def lingeringAfter(run: => Unit): Int = {
    val sc = SparkTestSession.spark.sparkContext
    // DELTA measurement: suites sharing this session may have live
    // localCheckpoint blocks awaiting the context cleaner (PageRank /
    // Hits / SCD2 tests) — those are theirs, not this query's. The
    // contract under test is that the QUERY adds nothing clearCache
    // can't drop.
    val before = sc.getPersistentRDDs.keySet
    run
    SparkTestSession.spark.catalog.clearCache()
    // cached Datasets register InMemoryRelation RDDs here until freed
    (sc.getPersistentRDDs.keySet -- before).size
  }

  test("no lingering RDDs after pbp03 + clearCache (the VerifyOne flow)") {
    val s = SparkTestSession.spark
    assert(lingeringAfter {
      SparkEntry.queries("pbp03_pitcher_standardize")(s, SparkTestSession.sfDir).count()
    } === 0)
  }

  test("no lingering RDDs after pbp01 + clearCache") {
    val s = SparkTestSession.spark
    assert(lingeringAfter {
      SparkEntry.queries("pbp01_parse_enrich")(s, SparkTestSession.sfDir).count()
    } === 0)
  }

  test("no lingering RDDs after t28 + clearCache (scored projection + bucket table)") {
    val s = SparkTestSession.spark
    assert(lingeringAfter {
      SparkEntry.queries("t28_budget_select")(s, SparkTestSession.sfDir).count()
    } === 0)
  }
}
