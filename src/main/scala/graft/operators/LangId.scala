package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Character-n-gram language identification, Cavnar & Trenkle 1994
 * ("N-Gram-Based Text Categorization") profile style — the REAL
 * upgrade over the marker-word heuristic ([[graft.functions
 * .TextFunctions.langId]]): per-language profiles are the top-K char
 * n-grams by frequency, and a document scores against each profile
 * by summed gram ranks (absent gram → K+1 penalty); lowest total
 * wins. The simplified "every occurrence scores" variant keeps the
 * whole classifier integer-exact (oracle-replayable) and the scoring
 * MAP-ONLY.
 *
 * Scale shape: training is one explode + hash aggregation over the
 * labeled corpus, cut to |langs|·K rows by a per-language window on
 * the (lang, gram) count table (language-count-sized, not
 * corpus-sized); the profiles then ship as LITERAL maps, so
 * classification is a per-row fold with no join and no shuffle at
 * any corpus size. Classification has a COLUMN form,
 * [[classifyColumn]] (a (pred_lang, dist) struct), and a FRAME form,
 * [[classify]] (id, pred_lang, dist), which is one `select` over it.
 */
object LangId {

  /** Canonical text for gram extraction: lowercase, whitespace
    * collapsed to single spaces, trimmed. */
  def canonical(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** All char n-gram OCCURRENCES of the canonical text, in order;
    * texts shorter than n yield none. Native O(len) codepoint walk
    * ([[graft.plans.CharNgramsExpr]]) — the `transform(sequence(...),
    * i -> substr(s, i, n))` column form is O(len²) because each
    * substr relocates codepoint i from the string start. */
  def charNgrams(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.CharNgramsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(canonical(c)), n))

  /** Per-language rank profiles: top-`topK` grams by count (ties by
    * gram ascending), rank 1-based. Collected driver-side —
    * |langs|·topK rows, an O(1) model like the IVF centroid tables. */
  def trainProfiles(
      docs: DataFrame, langCol: String, textCol: String,
      n: Int = 3, topK: Int = 40): Map[String, Map[String, Int]] = {
    val w = Window.partitionBy("lang").orderBy(col("c").desc, col("gr"))
    docs
      .select(col(langCol).as("lang"), explode(charNgrams(col(textCol), n)).as("gr"))
      .groupBy("lang", "gr").agg(count(lit(1)).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("lang", "gr", "rank").collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> rows.map(r => r.getString(1) -> r.getInt(2)).toMap
      }
  }

  /** (pred_lang, dist) struct column: argmin of summed profile ranks
    * over the text's gram occurrences (absent → topK+1), ties by
    * language ascending; gramless texts predict "" with dist 0.
    * Map-only via a NATIVE expression: the |langs| profiles collapse
    * into one broadcast gram → rank-vector model
    * ([[graft.plans.LangIdModel]]) and [[graft.plans.LangIdDistsExpr]]
    * walks each row's codepoint n-grams once with O(1) hash lookups
    * inside WholeStageCodegen — the interpreted nested-HOF fold this
    * replaces cost ~10 ms/row. Only the |langs|-sized argmin stays in
    * column algebra. A pipeline routing on the prediction adds this
    * column to its own projection instead of joining [[classify]]'s
    * frame back on its id.
    *
    * A gramless text scores 0 against every language, so naming every
    * language "" for it makes the argmin itself ("", 0): the scoring
    * sits under no conditional, where subexpression elimination can
    * share it between the two fields. */
  def classifyColumn(
      text: Column, profiles: Map[String, Map[String, Int]],
      n: Int = 3, topK: Int = 40): Column = {
    require(profiles.nonEmpty, "no language profiles")
    val langs = profiles.keys.toSeq.sorted
    val pen = (topK + 1).toLong
    val combined: Map[String, Seq[Long]] =
      langs.flatMap(l => profiles(l).keys).distinct.map { g =>
        g -> langs.map(l => profiles(l).get(g).map(_.toLong).getOrElse(pen))
      }.toMap
    val bc = SparkSession.active.sparkContext.broadcast(
      graft.plans.LangIdModel(langs, n, pen, combined))
    val s = canonical(text)
    val names = when(length(s) < n, typedlit(langs.map(_ => "")))
      .otherwise(typedlit(langs))
    val best = array_min(zip_with(
      org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.LangIdDistsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(s), bc)),
      names, (d, l) => struct(d.as("dist"), l.as("lang"))))
    struct(best.getField("lang").as("pred_lang"), best.getField("dist").as("dist"))
  }

  /** (id, pred_lang, dist): [[classifyColumn]] as a frame. */
  def classify(
      docs: DataFrame, idCol: String, textCol: String,
      profiles: Map[String, Map[String, Int]],
      n: Int = 3, topK: Int = 40): DataFrame = {
    val lid = classifyColumn(col(textCol), profiles, n, topK)
    docs.select(col(idCol), lid.getField("pred_lang").as("pred_lang"),
      lid.getField("dist").as("dist"))
  }

  /** Train on the labeled corpus, classify every row. */
  def trainAndClassify(
      docs: DataFrame, idCol: String, langCol: String, textCol: String,
      n: Int = 3, topK: Int = 40): DataFrame =
    classify(docs, idCol, textCol, trainProfiles(docs, langCol, textCol, n, topK), n, topK)
}
