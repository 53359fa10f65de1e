package graft

import graft.util.Caches
import org.scalatest.funsuite.AnyFunSuite

/** Every intermediate a query materializes belongs to the query's
  * scope. Run inside `Caches.scoped`, as Verify, Bench and the tools
  * run each query, a query leaves no persistent RDD behind once the
  * scope closes: neither a catalog persist nor the blocks behind a cut.
  * A site that bypassed `Caches` (a raw persist, a raw localCheckpoint,
  * RDD-level persistence) would linger past the scope and fail here.
  * Nothing in the measurement calls `clearCache()`. */
class CacheHygieneSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  /** Persistent RDDs a query adds that are still held after its scope.
    * A DELTA: suites sharing this session may hold RDDs of their own. */
  private def queryLingers(name: String): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Caches.scoped(SparkEntry.queries(name)(spark, SparkTestSession.sfDir).count())
    (sc.getPersistentRDDs.keySet -- before).size
  }

  test("no lingering RDDs after pbp03's scope") {
    assert(queryLingers("pbp03_pitcher_standardize") === 0)
  }

  test("no lingering RDDs after pbp01's scope") {
    assert(queryLingers("pbp01_parse_enrich") === 0)
  }

  test("no lingering RDDs after t28's scope (scored projection + bucket table)") {
    assert(queryLingers("t28_budget_select") === 0)
  }

  // each of these cuts (eager local checkpoints) as well as persists;
  // before the scope released cuts, llm01's `flags` checkpoint lingered
  for (name <- Seq("llm01_corpus_pipeline", "llm02_corpus_multilang",
      "llm04_corpus_multilang_bloom", "g01_pagerank", "g02_hits",
      "t09_dup_clusters", "t38_bpe_train", "t65_dedup_index", "t68_modified_kn5"))
    test(s"no lingering RDDs after $name's scope") {
      assert(queryLingers(name) === 0)
    }

  test("connectedComponents' star rounds hold one cut at a time and release it with the scope") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // chains and random edges: several star rounds before convergence
    val edges = ((1 to 80).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
        (200L until 240L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var heldInside = -1
    Caches.scoped {
      graft.operators.Dedup.connectedComponents(edges, maxDriverEdges = 0L).count()
      // the raw projection plus the final round's cut: each earlier
      // round's edge set was released once the next round was read
      heldInside = (sc.getPersistentRDDs.keySet -- before).size
    }
    assert(heldInside === 2)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
