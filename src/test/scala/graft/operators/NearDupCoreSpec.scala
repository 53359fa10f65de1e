package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.multimodal.{AudioHash, ImageHash, MediaIndex}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The near-dup core: one Hamming chunk banding ([[Banding]]), one
  * MinHash band key and one exact-Jaccard verifier under every
  * near-dup operator. */
class NearDupCoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("every Hamming entry point rejects maxHamming outside [0, recall] with one message") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown dog"))
      .toDF("doc_id", "text")
    val frames = Seq((1L, 0, 0x0123456789abcdefL), (2L, 0, 0x0123456789abcdeeL))
      .toDF("media_id", "frame_idx", "dhash")
    val codes = frames.select("media_id", "dhash")
    val audio = Seq((1L, 0L, 0x123456L), (2L, 0L, 0x123457L)).toDF("media_id", "off", "ahash")
    val mPath = Files.createTempDirectory("graft_neardup_midx").toString
    MediaIndex.write(mPath, codes)
    val aPath = Files.createTempDirectory("graft_neardup_aidx").toString
    AudioHash.writeIndex(aPath, audio)
    val entryPoints: Seq[(String, Int => DataFrame)] = Seq(
      "Dedup.simhashNearDupPairs" -> (h => Dedup.simhashNearDupPairs(docs, "doc_id", "text", h)),
      "ImageHash.nearDupPairs" -> (h => ImageHash.nearDupPairs(codes, "media_id", "dhash", h)),
      "ImageHash.clipNearDupPairs" -> (h => ImageHash.clipNearDupPairs(frames, h, 0.5)),
      "ImageHash.incrementalNearDup" -> (h => ImageHash.incrementalNearDup(codes, codes, h)),
      "AudioHash.nearDupPairs" -> (h => AudioHash.nearDupPairs(audio, h)),
      "AudioHash.gate" -> (h => AudioHash.gate(spark, aPath, audio, h)),
      "MediaIndex.gate" -> (h => MediaIndex.gate(spark, mPath, codes, h)))
    // all seven band four chunks, so recall holds to Hamming 3
    for ((name, run) <- entryPoints; h <- Seq(-1, 4)) {
      val e = intercept[IllegalArgumentException](run(h))
      assert(e.getMessage === s"requirement failed: maxHamming $h outside [0, 3]: " +
        "4-band chunking guarantees recall only to Hamming 3", s"$name($h)")
    }
    for ((name, run) <- entryPoints; h <- Seq(0, 3)) run(h).count()
  }

  test("each near-dup mechanism is written once in src/main/scala, in its owner") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 100)
    def lines(p: Path): IndexedSeq[String] = Files.readAllLines(p).asScala.toIndexedSeq
    // (what, owner, whether line i of a file starts one)
    val mechanisms: Seq[(String, String, (IndexedSeq[String], Int) => Boolean)] = Seq(
      ("the chunk banding: posexplode(array( over shiftright( chunks",
        "graft/operators/Banding.scala",
        (ls, i) => ls(i).contains("posexplode(array(") &&
          ls.slice(i, i + 3).exists(_.contains("shiftright("))),
      ("the Hamming recall guard: a bound on maxHamming",
        "graft/operators/Banding.scala",
        (ls, i) => """maxHamming\s*(<=|>=|<|>)""".r.findFirstIn(ls(i)).isDefined),
      ("the MinHash band key: md5(concat_ws(",
        "graft/operators/Dedup.scala",
        (ls, i) => ls(i).contains("md5(concat_ws(")),
      ("the Jaccard ratio: the n_a + n_b - n_inter denominator",
        "graft/operators/Dedup.scala",
        (ls, i) => """col\("n_a"\)\s*\+\s*col\("n_b"\)\s*-\s*col\("n_inter"\)""".r
          .findFirstIn(ls(i)).isDefined))
    for ((what, owner, starts) <- mechanisms) {
      val hits = for {
        p <- sources
        ls = lines(p)
        i <- ls.indices
        if starts(ls, i)
      } yield (root.relativize(p).toString, s"$p:${i + 1}: ${ls(i).trim}")
      assert(hits.map(_._1) === Seq(owner),
        hits.map(_._2).mkString(s"$what belongs once in $owner; found:\n", "\n", ""))
    }
  }
}
