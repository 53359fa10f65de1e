package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

class StageTallySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("snapshotAndReset counts every task of a finished job, with no sleep") {
    // a slow listener ahead of the tally in the same bus queue: the
    // tally sees each task end only after it, so a snapshot that does
    // not drain the bus misses the job that just returned
    val slow = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(slow)
    val tally = StageTally(spark)
    try {
      tally.snapshotAndReset()
      (1 to 5).foreach { round =>
        // one 7-task map stage, one 3-task result stage
        spark.sparkContext.parallelize(1 to 1000, 7)
          .map(i => (i % 5, i)).reduceByKey(_ + _, 3).collect()
        val stages = tally.snapshotAndReset().values.toSeq
        assert(stages.map(_.tasks).sorted === Seq(3L, 7L), s"round $round: $stages")
        val map = stages.find(_.tasks == 7L).get
        assert(map.shuffleWrite > 0L && map.maxTaskWrite > 0L, map)
        assert(tally.snapshotAndReset().isEmpty)
      }
    } finally {
      tally.close()
      spark.sparkContext.removeSparkListener(slow)
    }
  }

  test("only the tally's module adds a listener or sleeps in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val owner = root.resolve("graft/tools/SmokeGates.scala")
    val forbidden = """addSparkListener\(|Thread\.sleep\(""".r
    def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
    // the pattern must see the call the owner makes, or it proves nothing
    assert(lines(owner).exists(l => forbidden.findFirstIn(l).isDefined))
    val hits = for {
      p <- Files.walk(root).iterator.asScala.toSeq
      if p.toString.endsWith(".scala") && p != owner
      (l, i) <- lines(p).zipWithIndex
      if forbidden.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("listen through graft.tools.StageTally:\n", "\n", ""))
  }
}
