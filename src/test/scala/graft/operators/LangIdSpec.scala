package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Char-trigram language ID on a REAL multilingual fixture (the
  * synthetic corpus shares one vocabulary across its lang labels, so
  * the t42 oracle only pins the machinery — accuracy lives here). */
class LangIdSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // common-word training samples, public phrasebook material
  private val train = Seq(
    ("en", "the quick brown fox jumps over the lazy dog and the cat sleeps " +
      "this is the house that jack built with wood and stone"),
    ("de", "der schnelle braune fuchs springt über den faulen hund und die " +
      "katze schläft das ist das haus das jakob aus holz und stein gebaut hat"),
    ("fr", "le rapide renard brun saute par dessus le chien paresseux et le " +
      "chat dort voici la maison que jacques a construite en bois et en pierre"),
    ("es", "el rápido zorro marrón salta sobre el perro perezoso y el gato " +
      "duerme esta es la casa que santiago construyó con madera y piedra"))
    .toDF("lang", "text")

  private val held = Seq(
    (1L, "en", "the dog and the fox are in the house"),
    (2L, "de", "der hund und der fuchs sind in dem haus"),
    (3L, "fr", "le chien et le renard sont dans la maison"),
    (4L, "es", "el perro y el zorro están en la casa"),
    (5L, "en", "jack built this with stone"),
    (6L, "de", "die katze schläft über dem holz"),
    (7L, "fr", "le chat dort par dessus la pierre"),
    (8L, "es", "el gato duerme sobre la madera"))
    .toDF("doc_id", "lang", "text")

  test("profiles classify held-out real-language sentences correctly") {
    val profiles = LangId.trainProfiles(train, "lang", "text", n = 3, topK = 40)
    assert(profiles.keySet === Set("en", "de", "fr", "es"))
    assert(profiles.values.forall(p => p.nonEmpty && p.size <= 40))
    assert(profiles.values.forall(_.values.forall(r => r >= 1 && r <= 40)))
    val got = LangId.classify(held, "doc_id", "text", profiles, n = 3, topK = 40)
      .join(held.select("doc_id", "lang"), "doc_id")
      .select("doc_id", "pred_lang", "lang")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val wrong = got.filter { case (_, pred, truth) => pred != truth }
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString(", ")}")
    assert(viaColumn(held, profiles) === framed(held, profiles))
  }

  /** (id, pred_lang, dist) rows of the column form and of the frame form */
  private def viaColumn(docs: org.apache.spark.sql.DataFrame,
      profiles: Map[String, Map[String, Int]]): Seq[(Long, String, Long)] =
    docs.select(col("doc_id"), LangId.classifyColumn(col("text"), profiles).as("lid"))
      .select("doc_id", "lid.pred_lang", "lid.dist")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
  private def framed(docs: org.apache.spark.sql.DataFrame,
      profiles: Map[String, Map[String, Int]]): Seq[(Long, String, Long)] =
    LangId.classify(docs, "doc_id", "text", profiles)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq

  test("edge cases: gramless docs predict empty; classification is layout-stable") {
    val profiles = LangId.trainProfiles(train, "lang", "text")
    val edge = Seq((1L, ""), (2L, "ab"), (3L, "   "), (4L, "the fox")).toDF("doc_id", "text")
    val got = LangId.classify(edge, "doc_id", "text", profiles)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) === ("", 0L) && got(2L) === ("", 0L) && got(3L) === ("", 0L))
    assert(got(4L)._1 === "en")
    assert(viaColumn(edge, profiles) === framed(edge, profiles))
    val a = LangId.trainAndClassify(held, "doc_id", "lang", "text")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val b = LangId.trainAndClassify(held.repartition(5), "doc_id", "lang", "text")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(a === b, "training + classification must not depend on layout")
  }
}
