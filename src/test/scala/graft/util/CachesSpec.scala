package graft.util

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class CachesSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val sc = spark.sparkContext

  // plans of their own (odd multipliers), so no other suite's cache
  // of the same plan can stand in for the ones made here
  private def frame(k: Int): DataFrame =
    spark.range(1000).selectExpr(s"id * ${1000003 + 2 * k} + 17 AS v")

  /** Persistent RDDs added since `before`. */
  private def held(before: Set[Int]): Set[Int] =
    sc.getPersistentRDDs.keySet.toSet -- before

  test("nested scopes each release only their own frames and cuts") {
    val before = sc.getPersistentRDDs.keySet.toSet
    Caches.scoped {
      val outerP = Caches.persist(frame(1))
      outerP.count()
      val outerC = Caches.cut(frame(2))
      val outer = held(before)
      assert(outer.size === 2)
      Caches.scoped {
        Caches.persist(frame(3)).count()
        Caches.cut(frame(4))
        assert(held(before).size === 4)
      }
      assert(held(before) === outer)
      assert(outerP.count() === 1000L && outerC.count() === 1000L)
    }
    assert(held(before).isEmpty)
  }

  test("a persist or cut made inside a Jobs.inParallel thunk lands in the caller's scope") {
    val before = sc.getPersistentRDDs.keySet.toSet
    Caches.scoped {
      Jobs.inParallel(Seq(
        () => Caches.persist(frame(5)).count(),
        () => Caches.cut(frame(6)).count()))
      assert(held(before).size === 2)
    }
    assert(held(before).isEmpty)
  }

  test("a cut stays readable until its scope ends, then its blocks are dropped") {
    val before = sc.getPersistentRDDs.keySet.toSet
    Caches.scoped {
      val c = Caches.cut(frame(7))
      val sum0 = c.agg(org.apache.spark.sql.functions.sum("v")).first().getLong(0)
      // later work in the same scope, an inner scope closing included
      Caches.scoped(Caches.cut(frame(8)).count())
      spark.range(10).count()
      assert(c.agg(org.apache.spark.sql.functions.sum("v")).first().getLong(0) === sum0)
      assert(held(before).size === 1)
    }
    assert(held(before).isEmpty)
  }

  test("outside any scope nothing is released; release drops either kind") {
    val before = sc.getPersistentRDDs.keySet.toSet
    val p = Caches.persist(frame(9))
    p.count()
    val c = Caches.cut(frame(10))
    Caches.scoped(spark.range(10).count())
    assert(held(before).size === 2)
    assert(p.count() === 1000L && c.count() === 1000L)
    Caches.release(p)
    Caches.release(c)
    assert(held(before).isEmpty)
  }

  test("only graft/util/Caches.scala persists, caches, checkpoints or clears the cache") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val owner = root.resolve("graft/util/Caches.scala")
    // `Caches.persist(` is the verb itself, not a bypass
    val forbidden =
      """\.localCheckpoint\(|\.checkpoint\(|(?<!Caches)\.persist\(|\.cache\(\)|clearCache\(\)""".r
    def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
    // the pattern must see the calls the owner makes, or it proves nothing
    assert(lines(owner).exists(l => forbidden.findFirstIn(l).isDefined))
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toSeq
    assert(sources.size > 100)
    val hits = for {
      p <- sources
      (l, i) <- lines(p).zipWithIndex
      if forbidden.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("materialize through graft.util.Caches:\n", "\n", ""))
  }
}
