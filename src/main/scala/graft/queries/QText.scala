package graft.queries

import graft.functions.TextFunctions
import graft.operators.{Dedup, LangId, QualityRules}
import graft.sources.Tables
import graft.util.Caches
import org.apache.spark.sql.functions._

/**
 * Text-analysis and document-dedup queries over `documents` — the
 * LLM-training-data operator set (quality scoring, language ID, token
 * counting, fingerprinting, exact/n-gram/MinHash-LSH/SimHash dedup).
 *
 * Every dedup oracle REPLICATES the full algorithm in DuckDB SQL
 * (including the md5-based portable hashes), so the hash-compare
 * checks the algorithm, not just plumbing. SimHash's banded
 * chunk-join is oracle-checked against the brute-force all-pairs SQL:
 * by the pigeonhole argument they must agree exactly for Hamming ≤ 3.
 *
 * Scale notes: candidate generation is always a bucketed equi-join
 * (shared shingle with a DF cap / LSH band bucket / 15-bit SimHash
 * chunk) — never an all-pairs product.
 */
object QText {

  /** DuckDB mirror of [[TextFunctions.canonicalText]] over any column
    * (parameterized at the source, not string-replaced after the
    * fact, so an edit to the expression can never silently detach the
    * derived forms). */
  private def canonOf(colName: String): String =
    s"""trim(regexp_replace(regexp_replace(lower($colName), '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g'))"""

  private val CANON = canonOf("text")

  /** DuckDB mirror of [[TextFunctions.tokens]] over canonical text. */
  private def ctoksOf(colName: String): String =
    s"regexp_extract_all(${canonOf(colName)}, '\\S+')"

  private val CTOKS = ctoksOf("text")

  /** DuckDB mirror of [[graft.operators.TextModel]]'s per-document
    * reducer over the integer micro-nat column `m`: the mean rounded
    * half-up to the micro-nat in exact integers, (2·Σm + n) // 2n.
    * No double is rounded at a tie (a double-path round(x, 6) and
    * Spark's half-up can disagree there by 1e-6). */
  private val AVG_NEG_LOGP =
    "CAST((2 * CAST(SUM(m) AS BIGINT) + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000.0"

  /** Recursive-CTE replica of the t09 dup graph (word-trigram Jaccard
    * ≥ 0.5, shingle df ≤ 1000) plus connected components with min-id
    * representatives (`comp(id, component)`) — shared by t09 and the
    * cluster-aware leak-free split t37. */
  private lazy val DupComponentsCte: String =
    s"""WITH RECURSIVE toks AS (SELECT doc_id, $CTOKS AS t FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id AS id,
       |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |  FROM toks),
       |filt AS (SELECT id, sh FROM sh0
       |  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
       |sz AS (SELECT id, count(*) AS n_sh FROM filt GROUP BY id),
       |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
       |  FROM filt a JOIN filt b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
       |pairs AS (SELECT id_a, id_b FROM inter
       |  JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
       |  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |cc AS (
       |  SELECT a AS id, a AS comp FROM edges
       |  UNION
       |  SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON e.a = cc.id
       |),
       |comp AS (SELECT id, min(comp) AS component FROM cc GROUP BY id)""".stripMargin

  // the Pii patterns verbatim — Java ∩ RE2, safe inside a DuckDB
  // single-quoted literal (no quotes, no dollar signs)
  private val PiiEmail = graft.functions.Pii.EmailRe
  private val PiiIp = graft.functions.Pii.Ipv4Re
  private val PiiPhone = graft.functions.Pii.PhoneRe
  private val PiiSsn = graft.functions.Pii.SsnRe
  private val PiiAny = graft.functions.Pii.AnyRe

  /** llm02's post-routing per-language Gopher tables (shared with
    * LlmScaleSmoke's linearity gate so the two can never drift):
    * EVERY routed language now carries a curated entry — the
    * production CCNet/Dolma discipline, where no routed language runs
    * without its own stopword list. en keeps the Gopher 8; de/fr/es
    * have curated function-word lists (each with the floor ON); zh
    * opens the word-shape bounds and runs floor-off (stopword lists
    * are a segmented-script tool — zh quality gating is the
    * per-language LINE rules' job, t73). minWords 20 is llm01's
    * corpus calibration. The oracle SQL replays the same tables as a
    * CASE chain over the routed language. Unlisted languages would
    * fall to [[Llm02DefaultRules]]; on this corpus the router's
    * candidate set is exactly these five. */
  val Llm02LangRules: Map[String, graft.operators.QualityRules.LangRules] = {
    import graft.operators.QualityRules.LangRules
    Map(
      "en" -> LangRules(graft.operators.QualityRules.GopherStopwords,
        minStopwords = 1, minWords = 20),
      "de" -> LangRules(Seq("der", "die", "und", "das", "ist", "mit", "von"),
        minStopwords = 1, minWords = 20),
      "fr" -> LangRules(
        Seq("le", "la", "les", "de", "et", "des", "un", "une", "est", "dans"),
        minStopwords = 1, minWords = 20),
      "es" -> LangRules(
        Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "es"),
        minStopwords = 1, minWords = 20),
      "zh" -> LangRules(Seq.empty, minStopwords = 0, minWords = 20,
        minMeanLen = 0.0, maxMeanLen = 1e18, minAlphaFrac = 0.0))
  }

  val Llm02DefaultRules: graft.operators.QualityRules.LangRules =
    graft.operators.QualityRules.LangRules(Seq.empty, minStopwords = 0, minWords = 20)

  private def llm02Family(qname: String, suiteCard: Boolean): QueryDef = {
    // llm04's additions over llm02, oracle side: the per-suite
    // attribution card — t74's exact labeled-gram join (suites carve
    // the reference tenth by (doc_id%80)//20 — four REAL suites on the
    // %20==0 slice (a plain doc_id%4 is constant 0 there), the t74/t76
    // fixture), scoped to
    // the docs that reach the decontamination stage (`ded`). The drop
    // rule itself stays the SAME pooled-overlap CTE (`ov`): llm04's
    // pooled Bloom and per-suite Blooms have one-sided error that is
    // unobservable at the chosen sizing, so the exact chain is the
    // oracle verbatim (the llm03 discipline). Margins are carried
    // because interpolation happens BEFORE the outer stripMargin.
    val suiteCtes = if (!suiteCard) "" else """,
         |sgr AS MATERIALIZED (SELECT DISTINCT 'suite' || CAST((doc_id % 80) // 20 AS VARCHAR) AS suite,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM btoks),
         |shits AS MATERIALIZED (SELECT s.id AS doc_id,
         |    array_to_string(list_sort(list(DISTINCT g.suite)), ',') AS hit_suites
         |  FROM sh0 s JOIN sgr g USING (sh) GROUP BY s.id),
         |dedids AS MATERIALIZED (SELECT doc_id FROM ded)"""
    val suiteSelectCol = if (!suiteCard) "" else """
         |  CASE WHEN base.doc_id IN (SELECT doc_id FROM dedids)
         |       THEN coalesce(shits.hit_suites, '') END AS hit_suites,"""
    val suiteJoin = if (!suiteCard) "" else """
         |LEFT JOIN shits USING (doc_id)"""
    QueryDef.of(qname,
      s"""WITH base AS (SELECT doc_id, CASE WHEN doc_id % 50 = 27
         |    THEN 'the data of the run is a good run for the train set and the rest of the same corpus again and the data of the run is a good run for the train set again'
         |    ELSE text END AS text
         |  FROM documents WHERE doc_id % 20 <> 0),
         |uraw AS (SELECT doc_id, n_chars, CASE CAST(doc_id % 4 AS INT)
         |    WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/p/' ||
         |      CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
         |    WHEN 1 THEN 'https://Node-' || source || '.ORG:8443/a/b?z=9&y=8'
         |    WHEN 2 THEN 'https://' || source || '.net:443'
         |    ELSE 'ftp://Files.' || source || '.io/data#sec' END AS url
         |  FROM documents WHERE doc_id % 20 <> 0),
         |uh AS (SELECT doc_id, n_chars,
         |    lower(regexp_replace(regexp_extract(
         |      regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |      '^([^/?#]*)', 1), ':[0-9]+$$', '')) AS host
         |  FROM uraw),
         |usp AS (SELECT doc_id, n_chars, host,
         |    string_split(host, '.') AS parts, len(string_split(host, '.')) AS n
         |  FROM uh),
         |ukb AS (SELECT *, coalesce(list_max(list_transform(range(1, n), k -> CASE
         |      WHEN list_contains(['com','org','net','io','co.uk'],
         |        array_to_string(list_slice(parts, -CAST(k AS INT), -1), '.'))
         |      THEN k ELSE 0 END)), 0) AS kbest
         |  FROM usp),
         |urd AS (SELECT doc_id, n_chars,
         |    CASE WHEN kbest > 0 THEN
         |      array_to_string(list_slice(parts, -CAST(kbest + 1 AS INT), -1), '.')
         |    ELSE host END AS rdomain
         |  FROM ukb),
         |uq AS MATERIALIZED (SELECT doc_id FROM (SELECT doc_id,
         |    SUM(n_chars) OVER (PARTITION BY rdomain
         |      ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM urd) WHERE cum <= 25000),
         |cref AS (SELECT doc_id, lang,
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
         |  FROM documents WHERE doc_id % 20 = 0),
         |gref AS (SELECT lang, unnest(CASE WHEN len(s) >= 3
         |    THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
         |    ELSE [] END) AS gr
         |  FROM cref),
         |pf AS (SELECT lang, gr, count(*) AS cnt FROM gref GROUP BY 1, 2),
         |pr AS MATERIALIZED (SELECT lang, gr,
         |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gr) AS rank
         |  FROM pf
         |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gr) <= 40),
         |rlangs AS (SELECT DISTINCT lang AS cand FROM documents WHERE doc_id % 20 = 0),
         |cdoc AS (SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
         |  FROM base),
         |gdoc AS (SELECT doc_id, unnest(CASE WHEN len(s) >= 3
         |    THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
         |    ELSE [] END) AS gr
         |  FROM cdoc),
         |dist AS (SELECT dg.doc_id, l.cand,
         |    CAST(SUM(coalesce(pr.rank, 41)) AS BIGINT) AS dist
         |  FROM gdoc dg CROSS JOIN rlangs l
         |  LEFT JOIN pr ON pr.lang = l.cand AND pr.gr = dg.gr
         |  GROUP BY 1, 2),
         |best AS MATERIALIZED (SELECT doc_id, cand AS lang FROM dist
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, cand) = 1),
         |gm AS (SELECT b.doc_id, best.lang AS rl, trim(b.text) AS gt,
         |    regexp_extract_all(trim(b.text), '\\S+') AS gw
         |  FROM base b JOIN best USING (doc_id)),
         |gok AS MATERIALIZED (SELECT doc_id,
         |    len(gw) >= 20 AND len(gw) <= 100000
         |    AND round(CASE WHEN len(gw) > 0
         |      THEN CAST(length(regexp_replace(gt, '\\s+', '', 'g')) AS DOUBLE) / len(gw)
         |      ELSE 0.0 END, 6)
         |      BETWEEN (CASE WHEN rl = 'zh' THEN 0.0 ELSE 3.0 END)
         |          AND (CASE WHEN rl = 'zh' THEN 1e18 ELSE 10.0 END)
         |    AND round(CASE WHEN len(gw) > 0
         |      THEN ((length(gt) - length(replace(gt, '#', ''))) / 1
         |            + (length(gt) - length(replace(gt, '...', ''))) / 3) / len(gw)
         |      ELSE 0.0 END, 6) <= 0.1
         |    AND round(CASE WHEN len(gw) > 0
         |      THEN CAST(len(list_filter(gw, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(gw)
         |      ELSE 0.0 END, 6) >= (CASE WHEN rl = 'zh' THEN 0.0 ELSE 0.8 END)
         |    AND len(list_intersect(list_distinct(list_transform(gw, x -> lower(x))),
         |      CASE WHEN rl = 'en' THEN ['the','be','to','of','and','that','have','with']
         |           WHEN rl = 'de' THEN ['der','die','und','das','ist','mit','von']
         |           WHEN rl = 'fr' THEN ['le','la','les','de','et','des','un','une','est','dans']
         |           WHEN rl = 'es' THEN ['el','la','los','las','de','que','y','en','un','es']
         |           ELSE []::VARCHAR[] END)) >=
         |      (CASE WHEN rl IN ('en','de','fr','es') THEN 1 ELSE 0 END) AS g_ok
         |  FROM gm),
         |surv1 AS (SELECT b.doc_id, b.text FROM base b JOIN best USING (doc_id)
         |  JOIN gok USING (doc_id)
         |  WHERE b.doc_id IN (SELECT doc_id FROM uq) AND gok.g_ok),
         |fp AS (SELECT doc_id, md5($CANON) AS fp FROM surv1),
         |kp AS (SELECT fp, min(doc_id) AS keep_id FROM fp GROUP BY fp),
         |dups AS (SELECT f.doc_id FROM fp f JOIN kp USING (fp) WHERE f.doc_id <> kp.keep_id),
         |ded AS (SELECT doc_id, text FROM surv1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
         |dtoks AS (SELECT doc_id, $CTOKS AS t FROM ded),
         |sh0 AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM dtoks),
         |btoks AS (SELECT doc_id, $CTOKS AS t FROM documents WHERE doc_id % 20 = 0),
         |bench AS (SELECT DISTINCT
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM btoks),
         |ov AS MATERIALIZED (SELECT s.id AS doc_id,
         |    round(count(b.sh) / CAST(count(*) AS DOUBLE), 6) AS overlap_frac
         |  FROM sh0 s LEFT JOIN bench b ON s.sh = b.sh GROUP BY s.id),
         |dec AS MATERIALIZED (SELECT d2.doc_id, d2.text FROM ded d2
         |  LEFT JOIN ov ON d2.doc_id = ov.doc_id
         |  WHERE coalesce(ov.overlap_frac, 0) < 0.5),
         |tr AS (SELECT lang, $CTOKS AS t FROM documents WHERE doc_id % 20 = 0),
         |g5r AS (SELECT lang, unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM tr),
         |t5 AS MATERIALIZED (SELECT lang, g, count(*) AS c5 FROM g5r GROUP BY 1, 2),
         |g4r AS (SELECT lang, unnest(list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' '))) AS g FROM tr),
         |c4t AS MATERIALIZED (SELECT lang, g AS ctx4, count(*) AS c4 FROM g4r GROUP BY 1, 2),
         |lam5 AS (SELECT lang, array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4, count(*) AS lam5 FROM t5 GROUP BY 1, 2),
         |cont4 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s, count(*) AS cont4 FROM t5 GROUP BY 1, 2),
         |mid4 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3, count(*) AS denom4,
         |    count(DISTINCT string_split(g, ' ')[5]) AS lam4 FROM t5 GROUP BY 1, 2),
         |t4y AS MATERIALIZED (SELECT DISTINCT lang, g FROM g4r),
         |cont3 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:4], ' ') AS g3s, count(*) AS cont3 FROM t4y GROUP BY 1, 2),
         |mid3 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:3], ' ') AS ctx2, count(*) AS denom3,
         |    count(DISTINCT string_split(g, ' ')[4]) AS lam3 FROM t4y GROUP BY 1, 2),
         |g3r AS (SELECT lang, unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS g FROM tr),
         |t3y AS MATERIALIZED (SELECT DISTINCT lang, g FROM g3r),
         |cont2 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:3], ' ') AS g2s, count(*) AS cont2 FROM t3y GROUP BY 1, 2),
         |mid2 AS (SELECT lang, string_split(g, ' ')[2] AS w4k, count(*) AS denom2,
         |    count(DISTINCT string_split(g, ' ')[3]) AS lam2 FROM t3y GROUP BY 1, 2),
         |g2r AS (SELECT lang, unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g FROM tr),
         |t2y AS MATERIALIZED (SELECT DISTINCT lang, g FROM g2r),
         |cont1 AS (SELECT lang, string_split(g, ' ')[2] AS w5k, count(*) AS cont1 FROM t2y GROUP BY 1, 2),
         |sc0 AS (SELECT lang, CAST(count(*) AS DOUBLE) AS denom1 FROM t2y GROUP BY 1),
         |vv AS (SELECT lang, CAST(count(DISTINCT w) AS DOUBLE) AS v
         |  FROM (SELECT lang, unnest(t) AS w FROM tr) GROUP BY 1),
         |d AS (SELECT dd.doc_id, b.lang, $CTOKS AS t
         |  FROM dec dd JOIN best b USING (doc_id)),
         |f AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM d),
         |keys AS (SELECT doc_id, lang, g,
         |    array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4,
         |    array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s,
         |    array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3,
         |    array_to_string(string_split(g, ' ')[3:5], ' ') AS g3s,
         |    array_to_string(string_split(g, ' ')[3:4], ' ') AS ctx2,
         |    array_to_string(string_split(g, ' ')[4:5], ' ') AS g2s,
         |    string_split(g, ' ')[4] AS w4k, string_split(g, ' ')[5] AS w5k
         |  FROM f),
         |j AS MATERIALIZED (SELECT doc_id, lang, keys.g,
         |    coalesce(t5.c5, 0) AS c5, coalesce(c4t.c4, 0) AS c4, coalesce(lam5.lam5, 0) AS lam5,
         |    coalesce(cont4.cont4, 0) AS cont4, coalesce(mid4.denom4, 0) AS denom4, coalesce(mid4.lam4, 0) AS lam4,
         |    coalesce(cont3.cont3, 0) AS cont3, coalesce(mid3.denom3, 0) AS denom3, coalesce(mid3.lam3, 0) AS lam3,
         |    coalesce(cont2.cont2, 0) AS cont2, coalesce(mid2.denom2, 0) AS denom2, coalesce(mid2.lam2, 0) AS lam2,
         |    coalesce(cont1.cont1, 0) AS cont1, denom1, v
         |  FROM keys LEFT JOIN t5 USING (lang, g)
         |  LEFT JOIN c4t USING (lang, ctx4) LEFT JOIN lam5 USING (lang, ctx4)
         |  LEFT JOIN cont4 USING (lang, g4s) LEFT JOIN mid4 USING (lang, ctx3)
         |  LEFT JOIN cont3 USING (lang, g3s) LEFT JOIN mid3 USING (lang, ctx2)
         |  LEFT JOIN cont2 USING (lang, g2s) LEFT JOIN mid2 USING (lang, w4k)
         |  LEFT JOIN cont1 USING (lang, w5k)
         |  JOIN sc0 USING (lang) JOIN vv USING (lang)),
         |p1c AS (SELECT *, (cont1 + 0.5) / (denom1 + 0.5 * v) AS p1 FROM j),
         |p2c AS (SELECT *, CASE WHEN denom2 > 0
         |    THEN (GREATEST(cont2 - 0.75, 0) + 0.75 * lam2 * p1) / denom2 ELSE p1 END AS p2 FROM p1c),
         |p3c AS (SELECT *, CASE WHEN denom3 > 0
         |    THEN (GREATEST(cont3 - 0.75, 0) + 0.75 * lam3 * p2) / denom3 ELSE p2 END AS p3 FROM p2c),
         |p4c AS (SELECT *, CASE WHEN denom4 > 0
         |    THEN (GREATEST(cont4 - 0.75, 0) + 0.75 * lam4 * p3) / denom4 ELSE p3 END AS p4 FROM p3c),
         |p5c AS (SELECT doc_id, lang, CASE WHEN c4 > 0 AND lam5 > 0
         |    THEN (GREATEST(c5 - 0.75, 0) + 0.75 * lam5 * p4) / c4 ELSE p4 END AS p5 FROM p4c),
         |scs AS (SELECT doc_id, lang, CAST(round(-ln(p5) * 1000000.0) AS BIGINT) AS m FROM p5c),
         |ppl AS (SELECT doc_id, lang,
         |    $AVG_NEG_LOGP AS avg_neg_logp
         |  FROM scs GROUP BY 1, 2),
         |nt AS MATERIALIZED (SELECT doc_id, lang,
         |    ntile(3) OVER (PARTITION BY lang ORDER BY avg_neg_logp, doc_id) AS b
         |  FROM ppl)$suiteCtes
         |SELECT base.doc_id,
         |  coalesce(best.lang, '') AS pred_lang,
         |  CASE WHEN nt.b = 1 THEN 'head' WHEN nt.b = 2 THEN 'middle'
         |       WHEN nt.b = 3 THEN 'tail' END AS bucket,$suiteSelectCol
         |  CASE WHEN base.doc_id NOT IN (SELECT doc_id FROM uq) THEN 'drop_domain_quota'
         |       WHEN best.doc_id IS NULL THEN 'drop_lang'
         |       WHEN NOT gok.g_ok THEN 'drop_gopher'
         |       WHEN base.doc_id IN (SELECT doc_id FROM dups) THEN 'drop_duplicate'
         |       WHEN coalesce(ov.overlap_frac, 0) >= 0.5 THEN 'drop_contaminated'
         |       WHEN nt.b IS NULL THEN 'drop_short'
         |       WHEN nt.b = 3 THEN 'drop_perplexity_tail'
         |       ELSE 'kept' END AS disposition
         |FROM base LEFT JOIN best USING (doc_id) LEFT JOIN gok USING (doc_id)
         |LEFT JOIN ov USING (doc_id)
         |LEFT JOIN nt USING (doc_id)$suiteJoin
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val ref = docs.filter(col("doc_id") % 20 === 0)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          when(col("doc_id") % 50 === 27,
            lit("the data of the run is a good run for the train set " +
              "and the rest of the same corpus again and the data of " +
              "the run is a good run for the train set again"))
            .otherwise(col("text")).as("text"))
      val url = (when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("HTTP://WWW."), col("source"), lit(".Example.COM:80/p/"),
            col("doc_id").cast("string"), lit("?utm_source=x&b=2&a=1#frag")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("https://Node-"), col("source"), lit(".ORG:8443/a/b?z=9&y=8")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("https://"), col("source"), lit(".net:443")))
        .otherwise(
          concat(lit("ftp://Files."), col("source"), lit(".io/data#sec"))))
      val quotaKept = graft.operators.Sampling.selectToBudgetPerGroupUniform(
          corpus.select(col("doc_id"),
            graft.functions.UrlFunctions.registrableDomain(
              graft.functions.UrlFunctions.urlHost(url),
              Seq("com", "org", "net", "io", "co.uk")).as("rdomain"),
            col("n_chars"), col("n_chars").cast("double").as("score")),
          "rdomain", "score", "doc_id", "n_chars", budgetPerGroup = 25000L)
        .select(col("doc_id")).withColumn("__q_in", lit(1))
      // the driver-blocking model builds — the langid profiles and
      // (llm04 only) the pooled + per-suite decontamination synopses —
      // are independent aggregates over the reference slice; their
      // jobs OVERLAP (guide §2.6, util.Jobs) instead of serializing
      // three collect latencies at pipeline-construction time. The
      // probes then ride the precomputed bytes via the *Against forms.
      val suites4 = ref.select(
        concat(lit("suite"),
          (pmod(col("doc_id"), lit(80)) / 20).cast("int").cast("string")).as("suite"),
        col("text"))
      val built = graft.util.Jobs.inParallel[Any](
        Seq(() => graft.operators.LangId.trainProfiles(ref, "lang", "text")) ++
          (if (suiteCard) Seq[() => Any](
            () => graft.operators.Decontaminate.benchGramsBloom(
              ref, "text", n = 3, estimatedGrams = 1L << 16, numBits = 1L << 20),
            () => graft.operators.Decontaminate.benchSuiteBlooms(
              suites4, "suite", "text", n = 3,
              estimatedGrams = 1L << 16, numBits = 1L << 20))
          else Nil))
      val profiles = built(0).asInstanceOf[Map[String, Map[String, Int]]]
      // routing and the per-language Gopher tables, applied
      // POST-ROUTING (the production multilingual discipline — see
      // [[Llm02LangRules]]), are columns of one projection;
      // checkpointed: both consumers would re-run routing + Gopher (llm02 sf0.1: 5.6 -> 7.9 s)
      val flags = Caches.cut(corpus.select(col("doc_id"), col("text"),
          LangId.classifyColumn(col("text"), profiles).getField("pred_lang").as("pred_lang"))
        .withColumn("g_ok", QualityRules.gopherPass(
          col("text"), col("pred_lang"), Llm02LangRules, Llm02DefaultRules))
        .join(quotaKept, Seq("doc_id"), "left")
        .withColumn("l_ok", col("pred_lang") =!= ""))
      val surv1 = flags.filter(col("__q_in") === 1 && col("l_ok") && col("g_ok"))
        .select("doc_id", "text", "pred_lang")
      val keyed = surv1.select(col("doc_id"),
        md5(TextFunctions.canonicalText(col("text"))).as("__fp"))
      // checkpointed for ded + disposition: llm02 5.6 -> 6.1 s, +2.0 s CPU without it
      val dups = Caches.cut(keyed
        .withColumn("__keep", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__fp")))
        .filter(col("doc_id") =!= col("__keep"))
        .select(col("doc_id")).withColumn("__dup", lit(1)))
      val ded = surv1.join(dups, Seq("doc_id"), "left_anti")
      // llm04 (suiteCard): the 100 TB decontamination profile — the
      // pooled drop rule probes ONE fixed-size Bloom synopsis instead
      // of the broadcast gram-row join, so the stage's footprint is
      // numBits/8 bytes no matter how many eval sets accumulate
      // (CleanCorpus.Bloom's argument, here on the multilingual
      // flagship). llm02 keeps the exact join: at this scale it IS
      // the oracle, and the pair pins the Bloom path row-identical.
      // checkpointed for dec + disposition: llm02 +2.2 s CPU per run without it
      val ov = Caches.cut((if (suiteCard)
          graft.operators.Decontaminate.ngramOverlapBloomAgainst(
            ded, "doc_id", "text", built(1).asInstanceOf[Array[Byte]], n = 3)
        else graft.operators.Decontaminate
          .ngramOverlap(ded, "doc_id", "text", ref, "text", n = 3))
        .select(col("doc_id"), col("overlap_frac")))
      val dec = ded.join(ov, Seq("doc_id"), "left")
        .filter(coalesce(col("overlap_frac"), lit(0.0)) < 0.5)
        .select("doc_id", "text", "pred_lang")
      // per-language KN scoring + CCNet terciles WITHIN language: the
      // tail tercile drops, head/middle keep with their bucket
      val ppl = graft.operators.TextModel.knFivegramCrossPerplexityByLang(
        ref, "lang", "text", dec, "doc_id", "pred_lang", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pred_lang")).orderBy(col("avg_neg_logp"), col("doc_id"))
      val buck = ppl.withColumn("__b", ntile(3).over(w))
        .select(col("doc_id"), col("__b"))
      val joined0 = flags
        .join(dups, Seq("doc_id"), "left")
        .join(ov, Seq("doc_id"), "left")
        .join(buck, Seq("doc_id"), "left")
      // llm04's per-suite attribution CARD: WHICH suite(s) share ≥1
      // gram with each doc that reached the decontamination stage —
      // the data-card column that lets a suite be re-run cleanly
      // after the fact (t74's rationale). One Bloom synopsis per
      // suite probed through ONE broadcast array (fixed task-binary
      // footprint); docs dropped before the stage carry NULL, docs
      // probed but hitting nothing carry ''.
      val joined = if (!suiteCard) joined0 else {
        val hs = graft.operators.Decontaminate.ngramOverlapBySuiteBloomAgainst(
            ded, "doc_id", "text",
            built(2).asInstanceOf[Seq[(String, Array[Byte])]], n = 3)
          .groupBy("doc_id")
          .agg(array_join(array_sort(collect_set(col("suite"))), ",").as("__hs"))
        joined0.join(hs, Seq("doc_id"), "left")
      }
      val baseCols = Seq(col("doc_id"), col("pred_lang"),
        when(col("__b") === 1, lit("head")).when(col("__b") === 2, lit("middle"))
          .when(col("__b") === 3, lit("tail")).as("bucket"),
        when(col("__q_in").isNull, lit("drop_domain_quota"))
          .when(!col("l_ok"), lit("drop_lang"))
          .when(!col("g_ok"), lit("drop_gopher"))
          .when(col("__dup") === 1, lit("drop_duplicate"))
          .when(coalesce(col("overlap_frac"), lit(0.0)) >= 0.5,
            lit("drop_contaminated"))
          .when(col("__b").isNull, lit("drop_short"))
          .when(col("__b") === 3, lit("drop_perplexity_tail"))
          .otherwise(lit("kept")).as("disposition"))
      val cols = if (!suiteCard) baseCols else baseCols :+
        when(col("__q_in") === 1 && col("l_ok") && col("g_ok")
            && col("__dup").isNull,
          coalesce(col("__hs"), lit(""))).as("hit_suites")
      joined.select(cols: _*).orderBy("doc_id")
    }
  }


  /** t17's oracle chain (dedup -> quality -> strict trigram
    * decontamination -> PII redaction), shared VERBATIM with llm03:
    * the Bloom path's one-sided error is unobservable at the default
    * sizing (~1e-13 extra-drop probability per corpus), so the exact
    * chain IS its oracle -- row-identical output is the assertion. */
  private lazy val CleanCorpusOracleSql: String =
    s"""WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
         |keep AS (SELECT doc_id, text FROM raw
         |  QUALIFY row_number() OVER (PARTITION BY md5($CANON) ORDER BY doc_id) = 1),
         |m AS (SELECT doc_id, text,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS ntok,
         |    CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\\S+'),
         |      x -> list_contains(['the','a','an','of','to','in','and','is','on','for'], x))) AS DOUBLE) AS nstop,
         |    CAST(len(regexp_extract_all(lower(trim(text)), '\\S+')) AS DOUBLE) AS ntok_lc,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM keep),
         |q AS (SELECT doc_id, text,
         |    round(0.4 * least(ntok / 50.0, 1.0)
         |      + 0.3 * (1.0 - CASE WHEN nchar <> 0 THEN npunct / nchar ELSE 0.0 END)
         |      + 0.3 * least(CASE WHEN ntok_lc <> 0 THEN nstop / ntok_lc ELSE 0.0 END * 4.0, 1.0), 6)
         |      AS quality
         |  FROM m),
         |qf AS (SELECT * FROM q WHERE quality >= 0.7),
         |toksq AS (SELECT doc_id, $CTOKS AS tk FROM qf),
         |shq AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS sh
         |  FROM toksq),
         |btoks AS (SELECT doc_id, $CTOKS AS tk FROM documents WHERE doc_id % 20 = 0),
         |bsh AS (SELECT DISTINCT
         |    unnest(list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' '))) AS sh
         |  FROM btoks),
         |bad AS (SELECT DISTINCT id FROM shq JOIN bsh USING (sh))
         |SELECT doc_id, quality,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$PiiEmail', '[EMAIL]', 'g'), '$PiiSsn', '[SSN]', 'g'),
         |    '$PiiPhone', '[PHONE]', 'g'), '$PiiIp', '[IP]', 'g') AS clean_text
         |FROM qf WHERE doc_id NOT IN (SELECT id FROM bad)
         |ORDER BY doc_id""".stripMargin

  /** t74's oracle (per-suite contamination attribution over the four
    * synthetic (doc_id%80)//20 suites — doc_id%4 is constant 0 on the
    * %20==0 bench slice, so the quotient digit is what actually
    * yields four suites), shared VERBATIM with t76: the
    * per-suite Bloom form's one-sided error is unobservable at the
    * chosen sizing, so the exact attribution IS its oracle —
    * row-identical output is the assertion (the llm03 discipline). */
  private lazy val DecontamBySuiteOracleSql: String =
    s"""WITH btoks AS (SELECT 'suite' || CAST((doc_id % 80) // 20 AS VARCHAR) AS suite,
       |    $CTOKS AS t FROM documents WHERE doc_id % 20 = 0),
       |bsh AS (SELECT DISTINCT suite,
       |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |  FROM btoks),
       |dtoks AS (SELECT doc_id, $CTOKS AS t FROM documents WHERE doc_id % 20 <> 0),
       |dsh AS (SELECT DISTINCT doc_id AS id,
       |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
       |  FROM dtoks),
       |tot AS (SELECT id, count(*) AS n_grams FROM dsh GROUP BY 1),
       |hit AS (SELECT id, suite, count(*) AS n_hit
       |  FROM dsh JOIN bsh USING (sh) GROUP BY 1, 2)
       |SELECT h.id AS doc_id, suite, n_grams, n_hit,
       |  round(n_hit / CAST(n_grams AS DOUBLE), 6) AS overlap_frac
       |FROM hit h JOIN tot USING (id)
       |ORDER BY doc_id, suite""".stripMargin

  /** The shared CTE chain of t71/t72 (routing + per-language KN →
    * `ppl(doc_id, lang, avg_neg_logp)`): char-3-gram rank-profile
    * routing trained on the labeled reference tenth, then the t66 KN
    * recursion with `lang` on every count table and join key. t71
    * finishes it with the exact ntile tercile, t72 with the
    * approx-boundary labeling — sharing the prefix keeps the two
    * oracles provably scoring identically. */
  private lazy val CcnetPerLangPpl: String =
    s"""WITH cref AS (SELECT doc_id, lang,
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
       |  FROM documents WHERE doc_id % 10 = 0),
       |gref AS (SELECT lang, unnest(CASE WHEN len(s) >= 3
       |    THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
       |    ELSE [] END) AS gr
       |  FROM cref),
       |pf AS (SELECT lang, gr, count(*) AS cnt FROM gref GROUP BY 1, 2),
       |pr AS MATERIALIZED (SELECT lang, gr,
       |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gr) AS rank
       |  FROM pf
       |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gr) <= 40),
       |rlangs AS (SELECT DISTINCT lang AS cand FROM documents WHERE doc_id % 10 = 0),
       |cdoc AS (SELECT doc_id,
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
       |  FROM documents WHERE doc_id % 10 <> 0),
       |gdoc AS (SELECT doc_id, unnest(CASE WHEN len(s) >= 3
       |    THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
       |    ELSE [] END) AS gr
       |  FROM cdoc),
       |dist AS (SELECT dg.doc_id, l.cand,
       |    CAST(SUM(coalesce(pr.rank, 41)) AS BIGINT) AS dist
       |  FROM gdoc dg CROSS JOIN rlangs l
       |  LEFT JOIN pr ON pr.lang = l.cand AND pr.gr = dg.gr
       |  GROUP BY 1, 2),
       |best AS MATERIALIZED (SELECT doc_id, cand AS lang FROM dist
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, cand) = 1),
       |tr AS (SELECT lang, $CTOKS AS t FROM documents WHERE doc_id % 10 = 0),
       |g5r AS (SELECT lang, unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM tr),
       |t5 AS MATERIALIZED (SELECT lang, g, count(*) AS c5 FROM g5r GROUP BY 1, 2),
       |g4r AS (SELECT lang, unnest(list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' '))) AS g FROM tr),
       |c4t AS MATERIALIZED (SELECT lang, g AS ctx4, count(*) AS c4 FROM g4r GROUP BY 1, 2),
       |lam5 AS (SELECT lang, array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4, count(*) AS lam5 FROM t5 GROUP BY 1, 2),
       |cont4 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s, count(*) AS cont4 FROM t5 GROUP BY 1, 2),
       |mid4 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3, count(*) AS denom4,
       |    count(DISTINCT string_split(g, ' ')[5]) AS lam4 FROM t5 GROUP BY 1, 2),
       |t4y AS MATERIALIZED (SELECT DISTINCT lang, g FROM g4r),
       |cont3 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:4], ' ') AS g3s, count(*) AS cont3 FROM t4y GROUP BY 1, 2),
       |mid3 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:3], ' ') AS ctx2, count(*) AS denom3,
       |    count(DISTINCT string_split(g, ' ')[4]) AS lam3 FROM t4y GROUP BY 1, 2),
       |g3r AS (SELECT lang, unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS g FROM tr),
       |t3y AS MATERIALIZED (SELECT DISTINCT lang, g FROM g3r),
       |cont2 AS (SELECT lang, array_to_string(string_split(g, ' ')[2:3], ' ') AS g2s, count(*) AS cont2 FROM t3y GROUP BY 1, 2),
       |mid2 AS (SELECT lang, string_split(g, ' ')[2] AS w4k, count(*) AS denom2,
       |    count(DISTINCT string_split(g, ' ')[3]) AS lam2 FROM t3y GROUP BY 1, 2),
       |g2r AS (SELECT lang, unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g FROM tr),
       |t2y AS MATERIALIZED (SELECT DISTINCT lang, g FROM g2r),
       |cont1 AS (SELECT lang, string_split(g, ' ')[2] AS w5k, count(*) AS cont1 FROM t2y GROUP BY 1, 2),
       |sc0 AS (SELECT lang, CAST(count(*) AS DOUBLE) AS denom1 FROM t2y GROUP BY 1),
       |vv AS (SELECT lang, CAST(count(DISTINCT w) AS DOUBLE) AS v
       |  FROM (SELECT lang, unnest(t) AS w FROM tr) GROUP BY 1),
       |d AS (SELECT dd.doc_id, b.lang, $CTOKS AS t
       |  FROM documents dd JOIN best b USING (doc_id) WHERE dd.doc_id % 10 <> 0),
       |f AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM d),
       |keys AS (SELECT doc_id, lang, g,
       |    array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4,
       |    array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s,
       |    array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3,
       |    array_to_string(string_split(g, ' ')[3:5], ' ') AS g3s,
       |    array_to_string(string_split(g, ' ')[3:4], ' ') AS ctx2,
       |    array_to_string(string_split(g, ' ')[4:5], ' ') AS g2s,
       |    string_split(g, ' ')[4] AS w4k, string_split(g, ' ')[5] AS w5k
       |  FROM f),
       |j AS MATERIALIZED (SELECT doc_id, lang, keys.g,
       |    coalesce(t5.c5, 0) AS c5, coalesce(c4t.c4, 0) AS c4, coalesce(lam5.lam5, 0) AS lam5,
       |    coalesce(cont4.cont4, 0) AS cont4, coalesce(mid4.denom4, 0) AS denom4, coalesce(mid4.lam4, 0) AS lam4,
       |    coalesce(cont3.cont3, 0) AS cont3, coalesce(mid3.denom3, 0) AS denom3, coalesce(mid3.lam3, 0) AS lam3,
       |    coalesce(cont2.cont2, 0) AS cont2, coalesce(mid2.denom2, 0) AS denom2, coalesce(mid2.lam2, 0) AS lam2,
       |    coalesce(cont1.cont1, 0) AS cont1, denom1, v
       |  FROM keys LEFT JOIN t5 USING (lang, g)
       |  LEFT JOIN c4t USING (lang, ctx4) LEFT JOIN lam5 USING (lang, ctx4)
       |  LEFT JOIN cont4 USING (lang, g4s) LEFT JOIN mid4 USING (lang, ctx3)
       |  LEFT JOIN cont3 USING (lang, g3s) LEFT JOIN mid3 USING (lang, ctx2)
       |  LEFT JOIN cont2 USING (lang, g2s) LEFT JOIN mid2 USING (lang, w4k)
       |  LEFT JOIN cont1 USING (lang, w5k)
       |  JOIN sc0 USING (lang) JOIN vv USING (lang)),
       |p1c AS (SELECT *, (cont1 + 0.5) / (denom1 + 0.5 * v) AS p1 FROM j),
       |p2c AS (SELECT *, CASE WHEN denom2 > 0
       |    THEN (GREATEST(cont2 - 0.75, 0) + 0.75 * lam2 * p1) / denom2 ELSE p1 END AS p2 FROM p1c),
       |p3c AS (SELECT *, CASE WHEN denom3 > 0
       |    THEN (GREATEST(cont3 - 0.75, 0) + 0.75 * lam3 * p2) / denom3 ELSE p2 END AS p3 FROM p2c),
       |p4c AS (SELECT *, CASE WHEN denom4 > 0
       |    THEN (GREATEST(cont4 - 0.75, 0) + 0.75 * lam4 * p3) / denom4 ELSE p3 END AS p4 FROM p3c),
       |p5c AS (SELECT doc_id, lang, CASE WHEN c4 > 0 AND lam5 > 0
       |    THEN (GREATEST(c5 - 0.75, 0) + 0.75 * lam5 * p4) / c4 ELSE p4 END AS p5 FROM p4c),
       |sc AS (SELECT doc_id, lang, CAST(round(-ln(p5) * 1000000.0) AS BIGINT) AS m FROM p5c),
       |ppl AS MATERIALIZED (SELECT doc_id, lang,
       |    $AVG_NEG_LOGP AS avg_neg_logp
       |  FROM sc GROUP BY 1, 2)""".stripMargin

  /** DuckDB replay of [[graft.functions.Bpe]]'s priority merge walk,
    * generated FROM the Scala merges table so the two vocabs can never
    * drift. A recursive CTE carries each DISTINCT word's token state
    * as a chr(31)-wrapped string (token t ⇒ US+t+US, concatenated):
    * the wrapped form makes "adjacent tokens a,b" a plain substring
    * test and `replace()` exactly the leftmost-non-overlapping
    * merge-all, with no false matches across token boundaries. Each
    * iteration applies the single min-rank applicable pair (arg_min
    * over the merge join) — precisely the priority-BPE step, so the
    * lower-rank-pair-created-late case resolves identically to the
    * Scala loop. Word states that admit no merge drop out of the
    * recursion; `max_by(s, iter)` recovers each word's final state,
    * and `doctok` re-expands words to per-document token streams. */
  private val BPE_DOCTOK_CTE: String = {
    val mergeValues = graft.functions.Bpe.defaultMerges.zipWithIndex
      .map { case ((a, b), r) => s"('$a','$b',$r)" }.mkString(",")
    s"""merges(a, b, r) AS (SELECT * FROM (VALUES $mergeValues) t(a, b, r)),
       |dw(word) AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents WHERE trim(text) <> ''),
       |st AS (
       |  SELECT word, 0 AS iter,
       |    chr(31) || array_to_string(string_split_regex(word, ''), chr(31)||chr(31)) || chr(31) AS s
       |  FROM dw
       |  UNION ALL
       |  SELECT word, iter + 1,
       |    replace(s, chr(31)||ma||chr(31)||chr(31)||mb||chr(31), chr(31)||ma||mb||chr(31))
       |  FROM (
       |    SELECT st.word, st.iter, st.s, arg_min(m.a, m.r) AS ma, arg_min(m.b, m.r) AS mb
       |    FROM st JOIN merges m
       |      ON contains(st.s, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31))
       |    GROUP BY st.word, st.iter, st.s)),
       |enc AS (SELECT word, trim(max_by(s, iter), chr(31)) AS fs FROM st GROUP BY word),
       |encw AS (SELECT word, replace(fs, chr(31)||chr(31), ' ') AS toked,
       |    CAST(len(string_split(fs, chr(31)||chr(31))) AS BIGINT) AS ntok FROM enc),
       |inst AS (SELECT doc_id, i AS word_id, l[i] AS word
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |        FROM documents WHERE trim(text) <> ''),
       |    unnest(range(1, len(l) + 1)) AS t(i)),
       |doctok AS (SELECT i.doc_id,
       |    CAST(sum(e.ntok) AS BIGINT) AS n_bpe_tokens,
       |    string_agg(e.toked, ' ' ORDER BY i.word_id) AS bpe_text
       |  FROM inst i JOIN encw e USING (word) GROUP BY i.doc_id)""".stripMargin
  }

  /** The byte-level twin of [[BPE_DOCTOK_CTE]] for t61: the same
    * recursive min-rank merge walk, but segments come from the
    * LOSSLESS `\s*\S+|\s+` pretokenizer and the initial symbols are
    * the GPT-2 byte remap — space→Ġ plus literal symbol expansions
    * for the injected multi-byte chars (generated from the SAME
    * [[graft.functions.ByteBpe]] table the engine broadcasts). */
  private val BYTE_BPE_CTE: String = {
    import graft.functions.ByteBpe
    val mergeValues = ByteBpe.defaultMerges.zipWithIndex
      .map { case ((a, b), r) => s"('$a','$b',$r)" }.mkString(",")
    val symE = ByteBpe.sym("é")
    val symU = ByteBpe.sym("ü")
    val symEu = ByteBpe.sym("€")
    val toSym = (c: String) =>
      s"replace(replace(replace(replace($c, 'é', '$symE'), 'ü', '$symU'), " +
        s"'€', '$symEu'), ' ', 'Ġ')"
    s"""bmerges(a, b, r) AS (SELECT * FROM (VALUES $mergeValues) t(a, b, r)),
       |braw AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |    THEN text || ' café über 100€' ELSE text END AS text FROM documents),
       |bseg AS (SELECT doc_id, i AS seg_id, l[i] AS seg
       |  FROM (SELECT doc_id, regexp_extract_all(text, '\\s*\\S+|\\s+') AS l FROM braw),
       |    unnest(range(1, len(l) + 1)) AS t(i)),
       |bsym AS (SELECT DISTINCT ${toSym("seg")} AS word FROM bseg),
       |bst AS (
       |  SELECT word, 0 AS iter,
       |    chr(31) || array_to_string(string_split_regex(word, ''), chr(31)||chr(31)) || chr(31) AS s
       |  FROM bsym
       |  UNION ALL
       |  SELECT word, iter + 1,
       |    replace(s, chr(31)||ma||chr(31)||chr(31)||mb||chr(31), chr(31)||ma||mb||chr(31))
       |  FROM (
       |    SELECT bst.word, bst.iter, bst.s, arg_min(m.a, m.r) AS ma, arg_min(m.b, m.r) AS mb
       |    FROM bst JOIN bmerges m
       |      ON contains(bst.s, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31))
       |    GROUP BY bst.word, bst.iter, bst.s)),
       |benc AS (SELECT word, trim(max_by(s, iter), chr(31)) AS fs FROM bst GROUP BY word),
       |bencw AS (SELECT word, replace(fs, chr(31)||chr(31), ' ') AS toked,
       |    CAST(len(string_split(fs, chr(31)||chr(31))) AS BIGINT) AS ntok FROM benc),
       |bdoctok AS (SELECT g.doc_id,
       |    CAST(sum(e.ntok) AS BIGINT) AS n_tokens,
       |    string_agg(e.toked, ' ' ORDER BY g.seg_id) AS bpe_text
       |  FROM (SELECT doc_id, seg_id, ${toSym("seg")} AS word FROM bseg) g
       |  JOIN bencw e USING (word) GROUP BY g.doc_id)""".stripMargin
  }

  /** The t63 oracle: unigram-LM (SentencePiece hard-EM) training
    * replayed in SQL — seed substring counts, then per EM round the
    * integer-cost Viterbi DP unrolled position-by-position
    * (Bellman-style: one CTE per split point, backpointers = MIN j
    * among cost-achievers, path walk unrolled, counts, prune,
    * re-score). All costs are integer micro-nats, so every DP
    * comparison is exact on both engines. Parameters pinned to the
    * t63 query: maxWordLen 8, maxPieceLen 4, seed 200, vocab 80,
    * 2 EM rounds. */
  private val UNIGRAM_CTE: String = {
    val maxW = 8; val maxP = 4; val seedSize = 200; val vocab = 80
    def round(r: Int): String = {
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      parts += s"""ued$r AS MATERIALIZED (SELECT c.word, c.j, c.k, s.nll
                  |  FROM ucand c JOIN usc$r s USING (piece))""".stripMargin
      parts += s"udp${r}_0 AS (SELECT word, CAST(0 AS BIGINT) AS cost FROM uw)"
      for (k <- 1 to maxW) {
        val prevUnion = (math.max(0, k - maxP) until k)
          .map(j => s"SELECT word, CAST($j AS BIGINT) AS j, cost FROM udp${r}_$j")
          .mkString(" UNION ALL ")
        parts += s"""udp${r}_$k AS MATERIALIZED (SELECT e.word, MIN(p.cost + e.nll) AS cost
                    |  FROM ued$r e JOIN ($prevUnion) p ON p.word = e.word AND p.j = e.j
                    |  WHERE e.k = $k GROUP BY e.word)""".stripMargin
        parts += s"""ubp${r}_$k AS MATERIALIZED (SELECT e.word, CAST($k AS BIGINT) AS k, MIN(e.j) AS j
                    |  FROM ued$r e JOIN ($prevUnion) p ON p.word = e.word AND p.j = e.j
                    |  JOIN udp${r}_$k d ON d.word = e.word AND p.cost + e.nll = d.cost
                    |  WHERE e.k = $k GROUP BY e.word)""".stripMargin
      }
      parts += s"""ubpa$r AS MATERIALIZED (${(1 to maxW)
        .map(k => s"SELECT word, k, j FROM ubp${r}_$k").mkString(" UNION ALL ")})"""
      parts += s"upt${r}_0 AS (SELECT word, CAST(length(word) AS BIGINT) AS pos FROM uw)"
      for (st <- 1 to maxW)
        parts += s"""upt${r}_$st AS MATERIALIZED (SELECT t.word, b.j AS pos
                    |  FROM upt${r}_${st - 1} t JOIN ubpa$r b ON b.word = t.word AND b.k = t.pos)""".stripMargin
      parts += s"""uused$r AS (${(1 to maxW).map(st =>
        s"SELECT t.word, b.j, t.pos AS k FROM upt${r}_${st - 1} t " +
          s"JOIN ubpa$r b ON b.word = t.word AND b.k = t.pos").mkString(" UNION ALL ")})"""
      parts += s"""ucnt$r AS MATERIALIZED (SELECT
                  |    substr(u.word, CAST(u.j + 1 AS INT), CAST(u.k - u.j AS INT)) AS piece,
                  |    CAST(SUM(w.freq) AS BIGINT) AS cnt
                  |  FROM uused$r u JOIN uw w ON w.word = u.word GROUP BY 1)""".stripMargin
      parts += s"""ukeep$r AS MATERIALIZED (
                  |  SELECT s.piece, greatest(coalesce(c.cnt, 0), 1) AS cnt
                  |  FROM usng s LEFT JOIN ucnt$r c USING (piece)
                  |  UNION ALL
                  |  SELECT piece, cnt FROM (SELECT piece, cnt,
                  |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
                  |    FROM ucnt$r WHERE length(piece) > 1)
                  |  WHERE rk <= $vocab - (SELECT count(*) FROM usng))""".stripMargin
      parts += s"""usc${r + 1} AS MATERIALIZED (SELECT piece, cnt,
                  |    CAST(round(-ln(cnt / t.tot) * 1000000.0) AS BIGINT) AS nll
                  |  FROM ukeep$r CROSS JOIN (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot
                  |    FROM ukeep$r) t)""".stripMargin
      parts.mkString(",\n")
    }
    s"""uw AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |        FROM documents WHERE trim(text) <> '')
       |  WHERE word <> '' AND length(word) <= $maxW GROUP BY word),
       |ucand AS MATERIALIZED (SELECT w.word, jj.j, kk.k,
       |    substr(w.word, CAST(jj.j + 1 AS INT), CAST(kk.k - jj.j AS INT)) AS piece
       |  FROM (SELECT word, length(word) AS wl FROM uw) w
       |  CROSS JOIN range(0, $maxW) jj(j) CROSS JOIN range(1, ${maxW + 1}) kk(k)
       |  WHERE jj.j < kk.k AND kk.k <= w.wl AND kk.k - jj.j <= $maxP),
       |usub AS MATERIALIZED (SELECT c.piece, CAST(SUM(w.freq) AS BIGINT) AS cnt
       |  FROM ucand c JOIN uw w USING (word) GROUP BY c.piece),
       |usng AS MATERIALIZED (SELECT piece FROM usub WHERE length(piece) = 1),
       |useed AS MATERIALIZED (
       |  SELECT piece, cnt FROM (SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk FROM usub)
       |  WHERE rk <= $seedSize
       |  UNION
       |  SELECT s.piece, u.cnt FROM usng s JOIN usub u USING (piece)),
       |usc1 AS MATERIALIZED (SELECT piece, cnt,
       |    CAST(round(-ln(cnt / t.tot) * 1000000.0) AS BIGINT) AS nll
       |  FROM useed CROSS JOIN (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM useed) t),
       |${round(1)},
       |${round(2)}""".stripMargin
  }

  /** The t64 oracle: WordPiece greedy longest-match-first encoding
    * replayed as a 12-step unrolled position walk — each step takes
    * the MAX-length vocab piece matching at the cursor (`##`-form at
    * non-initial positions), a miss collapses the whole word to
    * `[UNK]` (the BERT all-or-nothing rule). VALUES generated from
    * the SAME Scala inventory the engine broadcasts. */
  private val WORDPIECE_CTE: String = {
    val vocabValues = graft.functions.WordPiece.defaultPieces.map { p =>
      val cont = if (p.startsWith("##")) 1 else 0
      val body = if (cont == 1) p.substring(2) else p
      s"('$p',$cont,'$body',${body.length})"
    }.mkString(",")
    val steps = (1 to 12).map { s =>
      s"""wst$s AS MATERIALIZED (
         |  SELECT s.word, s.len,
         |    CASE WHEN s.pos >= s.len THEN s.pos
         |         WHEN m.blen IS NULL THEN s.len
         |         ELSE s.pos + m.blen END AS pos,
         |    CASE WHEN s.pos >= s.len THEN s.toks
         |         WHEN m.blen IS NULL THEN '[UNK]'
         |         ELSE CASE WHEN s.toks = '' THEN m.tok
         |              ELSE s.toks || ' ' || m.tok END END AS toks
         |  FROM wst${s - 1} s LEFT JOIN (
         |    SELECT s2.word, s2.pos, arg_max(w.tok, w.blen) AS tok, MAX(w.blen) AS blen
         |    FROM wst${s - 1} s2 JOIN wp w
         |      ON w.cont = CASE WHEN s2.pos > 0 THEN 1 ELSE 0 END
         |      AND substr(s2.word, CAST(s2.pos + 1 AS INT), CAST(w.blen AS INT)) = w.body
         |    WHERE s2.pos < s2.len
         |    GROUP BY s2.word, s2.pos) m
         |  ON m.word = s.word AND m.pos = s.pos)""".stripMargin
    }.mkString(",\n")
    s"""wp(tok, cont, body, blen) AS (SELECT * FROM (VALUES $vocabValues) t(tok, cont, body, blen)),
       |wraw AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
       |    THEN text || ' zebra buzz' ELSE text END AS text FROM documents),
       |wdw AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM wraw WHERE trim(text) <> ''),
       |wst0 AS (SELECT word, CAST(length(word) AS BIGINT) AS len,
       |    CAST(0 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS toks
       |  FROM wdw WHERE word <> ''),
       |$steps,
       |wenc AS (SELECT word, toks,
       |    CAST(len(string_split(toks, ' ')) AS BIGINT) AS ntok FROM wst12),
       |winst AS (SELECT doc_id, i AS word_id, l[i] AS word
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |        FROM wraw WHERE trim(text) <> ''),
       |    unnest(range(1, len(l) + 1)) AS t(i)),
       |wdoctok AS (SELECT i.doc_id, CAST(SUM(e.ntok) AS BIGINT) AS n_tokens,
       |    string_agg(e.toks, ' ' ORDER BY i.word_id) AS wp_text
       |  FROM winst i JOIN wenc e USING (word) GROUP BY i.doc_id)""".stripMargin
  }

  private val QcBuckets = 16
  private val QcIters = 3
  private val QcLrPerDoc = 200.0

  /** DuckDB replay of the exact-integer logistic training: the sparse
    * (doc, bucket, count) features + bias rows, then per iteration
    * margin → hard-sigmoid error → gradient → weight step, unrolled
    * as chained CTEs (the pqSubCtes generation idiom). */
  private lazy val QcOracle: String = {
    val B = QcBuckets
    val head =
      s"""WITH toks AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    unnest($CTOKS) AS tok FROM documents),
         |sp AS (SELECT doc_id, y,
         |    CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % $B AS INT) AS j,
         |    count(*) AS c
         |  FROM toks GROUP BY 1, 2, 3),
         |feats AS (SELECT * FROM sp UNION ALL
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    $B AS j, 1 AS c FROM documents),
         |docs AS (SELECT DISTINCT doc_id, y FROM feats),
         |w0 AS (SELECT CAST(j AS INT) AS j, CAST(0 AS BIGINT) AS w
         |  FROM range(0, ${B + 1}) t(j))""".stripMargin
    val iters = (1 to QcIters).map { t =>
      s""",
         |m$t AS (SELECT f.doc_id, SUM(f.c * w.w) AS m
         |  FROM feats f JOIN w${t - 1} w ON w.j = f.j GROUP BY 1),
         |e$t AS (SELECT d.doc_id,
         |    GREATEST(0, LEAST(1000000,
         |      500000 + CAST(floor(m.m / 4.0) AS BIGINT))) - d.y * 1000000 AS err
         |  FROM docs d JOIN m$t m USING (doc_id)),
         |g$t AS (SELECT f.j, SUM(e.err * f.c) AS g
         |  FROM feats f JOIN e$t e USING (doc_id) GROUP BY 1),
         |w$t AS (SELECT w.j,
         |    w.w - CAST(floor(COALESCE(g.g, 0)
         |      / ((SELECT count(*) FROM documents) * $QcLrPerDoc)) AS BIGINT) AS w
         |  FROM w${t - 1} w LEFT JOIN g$t g USING (j))""".stripMargin
    }.mkString
    head + iters +
      s"""
         |SELECT CAST(j AS BIGINT) AS j, w AS w_micro FROM w$QcIters ORDER BY j""".stripMargin
  }

  /** t46: the same trained weights applied as a corpus filter —
    * QcOracle's CTE chain plus one scoring aggregation and the top-20
    * pick. */
  private lazy val QcScoreOracle: String = {
    val base = QcOracle
    val cut = base.lastIndexOf("\nSELECT CAST(j AS BIGINT)")
    base.substring(0, cut) +
      s""",
         |qsc AS (SELECT f.doc_id, CAST(SUM(f.c * w.w) AS BIGINT) AS score_micro
         |  FROM feats f JOIN w$QcIters w ON w.j = f.j GROUP BY 1)
         |SELECT doc_id, score_micro FROM qsc
         |QUALIFY row_number() OVER (ORDER BY score_micro DESC, doc_id) <= 20
         |ORDER BY score_micro DESC, doc_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Text quality metrics — token count, punctuation/stopword
    // ratios, mean token length, composite score.
    QueryDef.of("t01_text_quality",
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS ntok,
        |    CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |      x -> list_contains(['the','a','an','of','to','in','and','is','on','for'], x))) AS DOUBLE) AS nstop,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS DOUBLE) AS ntok_lc,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS npunct,
        |    CAST(length(text) AS DOUBLE) AS nchar,
        |    CAST(coalesce(list_sum(list_transform(regexp_extract_all(lower(trim(text)), '\S+'),
        |      x -> length(x))), 0) AS DOUBLE) AS toklen
        |  FROM documents),
        |r AS (SELECT doc_id, ntok, nstop, ntok_lc, toklen, nchar,
        |    CASE WHEN nchar <> 0 THEN npunct / nchar ELSE 0.0 END AS punct_raw,
        |    CASE WHEN ntok_lc <> 0 THEN nstop / ntok_lc ELSE 0.0 END AS stop_raw,
        |    CASE WHEN ntok_lc <> 0 THEN toklen / ntok_lc ELSE 0.0 END AS mlen_raw
        |  FROM m)
        |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  round(punct_raw, 6) AS punct_ratio,
        |  round(stop_raw, 6) AS stopword_ratio,
        |  round(mlen_raw, 6) AS mean_token_len,
        |  round(0.4 * least(ntok / 50.0, 1.0) + 0.3 * (1.0 - punct_raw)
        |        + 0.3 * least(stop_raw * 4.0, 1.0), 6) AS quality
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = col("text")
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextFunctions.tokenCount(t).cast("long").as("n_tokens"),
          round(TextFunctions.punctRatio(t), 6).as("punct_ratio"),
          round(TextFunctions.stopwordRatio(t), 6).as("stopword_ratio"),
          round(TextFunctions.meanTokenLen(t), 6).as("mean_token_len"),
          round(TextFunctions.qualityScore(t), 6).as("quality"))
        .orderBy("doc_id")
    },

    // LLM01: the COMPOSED corpus pipeline — the LLM-family analogue of
    // the pbp full-DAG queries, the FULL production stack front to
    // back: registrable-domain QUOTA on the canonicalized URL host
    // (t47/t52 — the cheapest signal a crawl carries, so it runs
    // before any content rule; the shared example.com hot domain is
    // the one the 25k-char budget cuts) → Gopher rule gate (map-only)
    // → line rules (bullet/ellipsis/duplicate-line structure; the C4
    // terminal floor is disabled for this mostly-single-line corpus —
    // t69 owns its full exercise) → quality gate → language gate
    // → exact dedup keep-first among survivors → benchmark
    // decontamination → reference-LM perplexity gate (the CCNet
    // discipline: an interpolated KN 5-gram trained on the held-out
    // reference set scores each survivor; high-perplexity outliers
    // drop), emitting one auditable DISPOSITION row per document plus
    // a map-only PII flag (t13; %50==19 docs carry injected PII so the
    // flag has live positives — production redacts rather than drops)
    // — the routing table a production curation run ships to its data
    // card. Stage order is part of the contract: a document reports
    // its FIRST failing gate, and every join-bearing stage sees only
    // the docs that passed the cheaper gates — the cost discipline a
    // 100 TB run needs (per-row filters prune before any shuffle; the
    // dedup hash-agg, the gram join, and the LM scoring join see only
    // quota-passing survivors). Gopher thresholds are corpus-
    // calibrated (the synthetic vocabulary carries 'the' but no other
    // Gopher stopword, and half the docs sit under 50 words: minWords
    // 20, minStopwords 1 — both rules cut in BOTH directions). Oracle:
    // the t52/t67/t69/t01/t02/t04/t13/t12/t66 CTE chains recomposed.
    QueryDef.of("llm01_corpus_pipeline",
      s"""WITH base AS (SELECT doc_id, CASE WHEN doc_id % 50 = 27
         |    THEN 'the data of the run is a good run for the train set and the rest of the same corpus again and the data of the run is a good run for the train set again'
         |    WHEN doc_id % 50 = 13
         |    THEN 'run, scan, batch, merge, sort, hash, table, value, group, query, window, stream, filter, column, vector, part, line, data, key, fast, slow, big, small, with'
         |    WHEN doc_id % 50 = 41
         |    THEN 'run scan batch merge sort hash table value group query window stream filter column vector part line data key fast slow big small batch with'
         |    WHEN doc_id % 50 = 7
         |    THEN array_to_string(['the quick data run goes on.', 'the quick data run goes on.',
         |      'the quick data run goes on.', 'the quick data run goes on.',
         |      'the quick data run goes on.', 'the quick data run goes on.'], chr(10))
         |    WHEN doc_id % 50 = 19
         |    THEN text || ' contact user19@mail.example.com call 555-867-5309'
         |    ELSE text END AS text
         |  FROM documents WHERE doc_id % 20 <> 0),
         |uraw AS (SELECT doc_id, n_chars, CASE CAST(doc_id % 4 AS INT)
         |    WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/p/' ||
         |      CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
         |    WHEN 1 THEN 'https://Node-' || source || '.ORG:8443/a/b?z=9&y=8'
         |    WHEN 2 THEN 'https://' || source || '.net:443'
         |    ELSE 'ftp://Files.' || source || '.io/data#sec' END AS url
         |  FROM documents WHERE doc_id % 20 <> 0),
         |uh AS (SELECT doc_id, n_chars,
         |    lower(regexp_replace(regexp_extract(
         |      regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |      '^([^/?#]*)', 1), ':[0-9]+$$', '')) AS host
         |  FROM uraw),
         |usp AS (SELECT doc_id, n_chars, host,
         |    string_split(host, '.') AS parts, len(string_split(host, '.')) AS n
         |  FROM uh),
         |ukb AS (SELECT *, coalesce(list_max(list_transform(range(1, n), k -> CASE
         |      WHEN list_contains(['com','org','net','io','co.uk'],
         |        array_to_string(list_slice(parts, -CAST(k AS INT), -1), '.'))
         |      THEN k ELSE 0 END)), 0) AS kbest
         |  FROM usp),
         |urd AS (SELECT doc_id, n_chars,
         |    CASE WHEN kbest > 0 THEN
         |      array_to_string(list_slice(parts, -CAST(kbest + 1 AS INT), -1), '.')
         |    ELSE host END AS rdomain
         |  FROM ukb),
         |uq AS MATERIALIZED (SELECT doc_id FROM (SELECT doc_id,
         |    SUM(n_chars) OVER (PARTITION BY rdomain
         |      ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM urd) WHERE cum <= 25000),
         |pii AS (SELECT doc_id, regexp_matches(text, '$PiiAny') AS has_pii FROM base),
         |gm AS (SELECT doc_id, trim(text) AS gt,
         |    regexp_extract_all(trim(text), '\\S+') AS gw FROM base),
         |gok AS (SELECT doc_id,
         |    len(gw) >= 20 AND len(gw) <= 100000
         |    AND round(CASE WHEN len(gw) > 0
         |      THEN CAST(length(regexp_replace(gt, '\\s+', '', 'g')) AS DOUBLE) / len(gw)
         |      ELSE 0.0 END, 6) BETWEEN 3.0 AND 10.0
         |    AND round(CASE WHEN len(gw) > 0
         |      THEN ((length(gt) - length(replace(gt, '#', ''))) / 1
         |            + (length(gt) - length(replace(gt, '...', ''))) / 3) / len(gw)
         |      ELSE 0.0 END, 6) <= 0.1
         |    AND round(CASE WHEN len(gw) > 0
         |      THEN CAST(len(list_filter(gw, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(gw)
         |      ELSE 0.0 END, 6) >= 0.8
         |    AND len(list_intersect(list_distinct(list_transform(gw, x -> lower(x))),
         |      ['the','be','to','of','and','that','have','with'])) >= 1 AS g_ok
         |  FROM gm),
         |lw AS (SELECT doc_id,
         |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
         |      x -> length(x) > 0) AS ls
         |  FROM base),
         |lns AS (SELECT doc_id,
         |    round(CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls,
         |      x -> left(x, 2) IN ('- ', '* ', '• '))) AS DOUBLE) / len(ls)
         |      ELSE 0.0 END, 6) <= 0.9
         |    AND round(CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls,
         |      x -> right(x, 3) = '...' OR right(x, 1) = '…')) AS DOUBLE) / len(ls)
         |      ELSE 0.0 END, 6) <= 0.3
         |    AND round(CASE WHEN len(ls) > 0
         |      THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
         |      ELSE 0.0 END, 6) <= 0.3 AS ln_ok
         |  FROM lw),
         |qm AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS ntok,
         |    CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\\S+'),
         |      x -> list_contains(['the','a','an','of','to','in','and','is','on','for'], x))) AS DOUBLE) AS nstop,
         |    CAST(len(regexp_extract_all(lower(trim(text)), '\\S+')) AS DOUBLE) AS ntok_lc,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM base),
         |q AS (SELECT doc_id,
         |    round(0.4 * least(ntok / 50.0, 1.0)
         |      + 0.3 * (1.0 - CASE WHEN nchar <> 0 THEN npunct / nchar ELSE 0.0 END)
         |      + 0.3 * least(CASE WHEN ntok_lc <> 0 THEN nstop / ntok_lc ELSE 0.0 END * 4.0, 1.0),
         |      6) AS quality
         |  FROM qm),
         |lt AS (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS toks FROM base),
         |lc AS (SELECT doc_id,
         |    len(list_filter(toks, x -> list_contains(['the','a','and','of','is'], x))) AS c_en,
         |    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS c_fr,
         |    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS c_de,
         |    len(list_filter(toks, x -> list_contains(['el','la','los','que','de'], x))) AS c_es
         |  FROM lt),
         |lg AS (SELECT doc_id, CASE
         |    WHEN c_en = greatest(c_en, c_fr, c_de, c_es) AND c_en > 0 THEN 'en'
         |    WHEN c_fr = greatest(c_en, c_fr, c_de, c_es) AND c_fr > 0 THEN 'fr'
         |    WHEN c_de = greatest(c_en, c_fr, c_de, c_es) AND c_de > 0 THEN 'de'
         |    WHEN c_es = greatest(c_en, c_fr, c_de, c_es) AND c_es > 0 THEN 'es'
         |    ELSE 'und' END AS lang
         |  FROM lc),
         |flags AS (SELECT b.doc_id, q.quality, lg.lang, gok.g_ok, lns.ln_ok,
         |    q.quality >= 0.5 AS q_ok, lg.lang = 'en' AS l_ok
         |  FROM base b JOIN q USING (doc_id) JOIN lg USING (doc_id)
         |  JOIN gok USING (doc_id) JOIN lns USING (doc_id)),
         |surv AS (SELECT f.doc_id, b.text FROM flags f JOIN base b USING (doc_id)
         |  WHERE f.doc_id IN (SELECT doc_id FROM uq)
         |    AND f.g_ok AND f.ln_ok AND f.q_ok AND f.l_ok),
         |fp AS (SELECT doc_id, md5($CANON) AS fp FROM surv),
         |kp AS (SELECT fp, min(doc_id) AS keep_id FROM fp GROUP BY fp),
         |dups AS (SELECT f.doc_id FROM fp f JOIN kp USING (fp) WHERE f.doc_id <> kp.keep_id),
         |ded AS (SELECT doc_id, text FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
         |dtoks AS (SELECT doc_id, $CTOKS AS t FROM ded),
         |sh0 AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM dtoks),
         |btoks AS (SELECT doc_id, $CTOKS AS t FROM documents WHERE doc_id % 20 = 0),
         |bench AS (SELECT DISTINCT
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM btoks),
         |ov AS MATERIALIZED (SELECT s.id AS doc_id,
         |    round(count(b.sh) / CAST(count(*) AS DOUBLE), 6) AS overlap_frac
         |  FROM sh0 s LEFT JOIN bench b ON s.sh = b.sh GROUP BY s.id),
         |dec AS MATERIALIZED (SELECT d2.doc_id, d2.text FROM ded d2
         |  LEFT JOIN ov ON d2.doc_id = ov.doc_id
         |  WHERE coalesce(ov.overlap_frac, 0) < 0.5),
         |tr AS (SELECT $CTOKS AS t FROM documents WHERE doc_id % 20 = 0),
         |g5r AS (SELECT unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM tr),
         |t5 AS MATERIALIZED (SELECT g, count(*) AS c5 FROM g5r GROUP BY g),
         |g4r AS (SELECT unnest(list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' '))) AS g FROM tr),
         |c4t AS MATERIALIZED (SELECT g AS ctx4, count(*) AS c4 FROM g4r GROUP BY g),
         |lam5 AS (SELECT array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4, count(*) AS lam5 FROM t5 GROUP BY 1),
         |cont4 AS (SELECT array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s, count(*) AS cont4 FROM t5 GROUP BY 1),
         |mid4 AS (SELECT array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3, count(*) AS denom4,
         |    count(DISTINCT string_split(g, ' ')[5]) AS lam4 FROM t5 GROUP BY 1),
         |t4y AS MATERIALIZED (SELECT DISTINCT g FROM g4r),
         |cont3 AS (SELECT array_to_string(string_split(g, ' ')[2:4], ' ') AS g3s, count(*) AS cont3 FROM t4y GROUP BY 1),
         |mid3 AS (SELECT array_to_string(string_split(g, ' ')[2:3], ' ') AS ctx2, count(*) AS denom3,
         |    count(DISTINCT string_split(g, ' ')[4]) AS lam3 FROM t4y GROUP BY 1),
         |g3r AS (SELECT unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS g FROM tr),
         |t3y AS MATERIALIZED (SELECT DISTINCT g FROM g3r),
         |cont2 AS (SELECT array_to_string(string_split(g, ' ')[2:3], ' ') AS g2s, count(*) AS cont2 FROM t3y GROUP BY 1),
         |mid2 AS (SELECT string_split(g, ' ')[2] AS w4k, count(*) AS denom2,
         |    count(DISTINCT string_split(g, ' ')[3]) AS lam2 FROM t3y GROUP BY 1),
         |g2r AS (SELECT unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g FROM tr),
         |t2y AS MATERIALIZED (SELECT DISTINCT g FROM g2r),
         |cont1 AS (SELECT string_split(g, ' ')[2] AS w5k, count(*) AS cont1 FROM t2y GROUP BY 1),
         |sc0 AS (SELECT CAST(count(*) AS DOUBLE) AS denom1 FROM t2y),
         |vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (SELECT unnest(t) AS w FROM tr)),
         |dtk AS (SELECT doc_id, $CTOKS AS t FROM dec),
         |f5 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM dtk),
         |keys AS (SELECT doc_id, g,
         |    array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4,
         |    array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s,
         |    array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3,
         |    array_to_string(string_split(g, ' ')[3:5], ' ') AS g3s,
         |    array_to_string(string_split(g, ' ')[3:4], ' ') AS ctx2,
         |    array_to_string(string_split(g, ' ')[4:5], ' ') AS g2s,
         |    string_split(g, ' ')[4] AS w4k, string_split(g, ' ')[5] AS w5k
         |  FROM f5),
         |j AS MATERIALIZED (SELECT doc_id, keys.g,
         |    coalesce(t5.c5, 0) AS c5, coalesce(c4t.c4, 0) AS c4, coalesce(lam5.lam5, 0) AS lam5,
         |    coalesce(cont4.cont4, 0) AS cont4, coalesce(mid4.denom4, 0) AS denom4, coalesce(mid4.lam4, 0) AS lam4,
         |    coalesce(cont3.cont3, 0) AS cont3, coalesce(mid3.denom3, 0) AS denom3, coalesce(mid3.lam3, 0) AS lam3,
         |    coalesce(cont2.cont2, 0) AS cont2, coalesce(mid2.denom2, 0) AS denom2, coalesce(mid2.lam2, 0) AS lam2,
         |    coalesce(cont1.cont1, 0) AS cont1, denom1, v
         |  FROM keys LEFT JOIN t5 ON keys.g = t5.g
         |  LEFT JOIN c4t USING (ctx4) LEFT JOIN lam5 USING (ctx4)
         |  LEFT JOIN cont4 USING (g4s) LEFT JOIN mid4 USING (ctx3)
         |  LEFT JOIN cont3 USING (g3s) LEFT JOIN mid3 USING (ctx2)
         |  LEFT JOIN cont2 USING (g2s) LEFT JOIN mid2 USING (w4k)
         |  LEFT JOIN cont1 USING (w5k)
         |  CROSS JOIN sc0 CROSS JOIN vv),
         |p1c AS (SELECT *, (cont1 + 0.5) / (denom1 + 0.5 * v) AS p1 FROM j),
         |p2c AS (SELECT *, CASE WHEN denom2 > 0
         |    THEN (GREATEST(cont2 - 0.75, 0) + 0.75 * lam2 * p1) / denom2 ELSE p1 END AS p2 FROM p1c),
         |p3c AS (SELECT *, CASE WHEN denom3 > 0
         |    THEN (GREATEST(cont3 - 0.75, 0) + 0.75 * lam3 * p2) / denom3 ELSE p2 END AS p3 FROM p2c),
         |p4c AS (SELECT *, CASE WHEN denom4 > 0
         |    THEN (GREATEST(cont4 - 0.75, 0) + 0.75 * lam4 * p3) / denom4 ELSE p3 END AS p4 FROM p3c),
         |p5c AS (SELECT doc_id, CASE WHEN c4 > 0 AND lam5 > 0
         |    THEN (GREATEST(c5 - 0.75, 0) + 0.75 * lam5 * p4) / c4 ELSE p4 END AS p5 FROM p4c),
         |sc AS (SELECT doc_id, CAST(round(-ln(p5) * 1000000.0) AS BIGINT) AS m FROM p5c),
         |ppl AS MATERIALIZED (SELECT doc_id, $AVG_NEG_LOGP AS anp
         |  FROM sc GROUP BY doc_id)
         |SELECT f.doc_id, f.quality, f.lang, pii.has_pii,
         |  CASE WHEN f.doc_id NOT IN (SELECT doc_id FROM uq) THEN 'drop_domain_quota'
         |       WHEN NOT f.g_ok THEN 'drop_gopher'
         |       WHEN NOT f.ln_ok THEN 'drop_lines'
         |       WHEN NOT f.q_ok THEN 'drop_quality'
         |       WHEN NOT f.l_ok THEN 'drop_lang'
         |       WHEN f.doc_id IN (SELECT doc_id FROM dups) THEN 'drop_duplicate'
         |       WHEN coalesce(ov.overlap_frac, 0) >= 0.5 THEN 'drop_contaminated'
         |       WHEN coalesce(p.anp, 0) > 3.9 THEN 'drop_perplexity'
         |       ELSE 'kept' END AS disposition
         |FROM flags f JOIN pii USING (doc_id)
         |LEFT JOIN ov USING (doc_id) LEFT JOIN ppl p USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // sentinel classes, each decoupling one gate so every stage has
      // real work: %50==27 — byte-identical duplicates that PASS the
      // row-local gates (36 words, mean length 3.2, carries 'the') →
      // the dedup stage; %50==13 — comma-riddled text whose only
      // Gopher stopword is 'with' (∉ the quality stop list), passing
      // the rules but failing the punctuation-weighted quality score;
      // %50==41 — the same trick without punctuation at 25 words:
      // quality lands exactly on 0.5 (pass) while language-ID sees no
      // marker word at all → 'und'.
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          when(col("doc_id") % 50 === 27,
            lit("the data of the run is a good run for the train set " +
              "and the rest of the same corpus again and the data of " +
              "the run is a good run for the train set again"))
          .when(col("doc_id") % 50 === 13,
            lit("run, scan, batch, merge, sort, hash, table, value, " +
              "group, query, window, stream, filter, column, vector, " +
              "part, line, data, key, fast, slow, big, small, with"))
          .when(col("doc_id") % 50 === 41,
            lit("run scan batch merge sort hash table value group " +
              "query window stream filter column vector part line " +
              "data key fast slow big small batch with"))
          .when(col("doc_id") % 50 === 7,
            lit(Seq.fill(6)("the quick data run goes on.").mkString("\n")))
          // %50==19 carries injected PII (the t13 shapes) so the data
          // card's has_pii column has live positives
          .when(col("doc_id") % 50 === 19,
            concat(col("text"),
              lit(" contact user19@mail.example.com call 555-867-5309")))
            .otherwise(col("text")).as("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      // FRONT GATE (runs before any content rule — the RefinedWeb/
      // CCNet discipline: the URL is the cheapest signal a crawl
      // carries): canonicalize each doc's URL host (case-fold, strip
      // port — the t47 host rules), cut it to its registrable domain
      // (t52), and cap every domain at a per-domain char budget so no
      // hot domain floods the corpus. The synthetic URLs reuse the
      // t52 construction: all %4==0 docs share example.com — the one
      // hot domain the 25k budget actually cuts.
      val url = (when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("HTTP://WWW."), col("source"), lit(".Example.COM:80/p/"),
            col("doc_id").cast("string"), lit("?utm_source=x&b=2&a=1#frag")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("https://Node-"), col("source"), lit(".ORG:8443/a/b?z=9&y=8")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("https://"), col("source"), lit(".net:443")))
        .otherwise(
          concat(lit("ftp://Files."), col("source"), lit(".io/data#sec"))))
      val quotaKept = graft.operators.Sampling.selectToBudgetPerGroupUniform(
          corpus.select(col("doc_id"),
            graft.functions.UrlFunctions.registrableDomain(
              graft.functions.UrlFunctions.urlHost(url),
              Seq("com", "org", "net", "io", "co.uk")).as("rdomain"),
            col("n_chars"), col("n_chars").cast("double").as("score")),
          "rdomain", "score", "doc_id", "n_chars", budgetPerGroup = 25000L)
        .select(col("doc_id")).withColumn("__q_in", lit(1))
      // the row-local gates are columns of ONE projection: Gopher, the
      // line rules (the corpus is mostly single-line, so only the
      // structure rules can cut here; the C4 terminal floor is
      // disabled for this corpus — t69 owns its full exercise), the
      // quality score, language ID and the PII disposition column
      // (t13: the data card records it; production redacts rather
      // than drops)
      // checkpointed: without it the corpus workload took 42.8 s, 134 s CPU (vs 26.6, 79)
      val flags = Caches.cut(corpus.select(col("doc_id"), col("text"),
          round(TextFunctions.qualityScore(col("text")), 6).as("quality"),
          TextFunctions.langId(col("text")).as("lang"),
          graft.functions.Pii.hasPii(col("text")).as("has_pii"),
          QualityRules.gopherPass(col("text"), QualityRules.LangRules(
            QualityRules.GopherStopwords, minStopwords = 1, minWords = 20)).as("g_ok"),
          QualityRules.lineRulesPass(col("text"),
            QualityRules.LineLangRules(minTerminalFrac = 0.0)).as("ln_ok"))
        .join(quotaKept, Seq("doc_id"), "left")
        .withColumn("q_ok", col("quality") >= 0.5)
        .withColumn("l_ok", col("lang") === "en"))
      val surv = flags.filter(col("__q_in") === 1 &&
          col("g_ok") && col("ln_ok") && col("q_ok") && col("l_ok"))
        .select("doc_id", "text")
      // exact dedup keep-first among survivors (the t04 canonical md5)
      val keyed = surv.select(col("doc_id"),
        md5(TextFunctions.canonicalText(col("text"))).as("__fp"))
      val dups = keyed
        .withColumn("__keep", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__fp")))
        .filter(col("doc_id") =!= col("__keep"))
        .select(col("doc_id")).withColumn("__dup", lit(1))
      val ded = surv.join(dups, Seq("doc_id"), "left_anti")
      val ov = graft.operators.Decontaminate
        .ngramOverlap(ded, "doc_id", "text", bench, "text", n = 3)
        .select(col("doc_id"), col("overlap_frac"))
      // reference-LM perplexity gate over the decontaminated
      // survivors only (the most expensive stage sees the fewest docs)
      val dec = ded.join(ov, Seq("doc_id"), "left")
        .filter(coalesce(col("overlap_frac"), lit(0.0)) < 0.5)
        .select("doc_id", "text")
      val ppl = graft.operators.TextModel
        .knFivegramCrossPerplexity(bench, "text", dec, "doc_id", "text")
        .select(col("doc_id"), col("avg_neg_logp"))
      flags
        .join(dups, Seq("doc_id"), "left")
        .join(ov, Seq("doc_id"), "left")
        .join(ppl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"), col("lang"), col("has_pii"),
          when(col("__q_in").isNull, lit("drop_domain_quota"))
            .when(!col("g_ok"), lit("drop_gopher"))
            .when(!col("ln_ok"), lit("drop_lines"))
            .when(!col("q_ok"), lit("drop_quality"))
            .when(!col("l_ok"), lit("drop_lang"))
            .when(col("__dup") === 1, lit("drop_duplicate"))
            .when(coalesce(col("overlap_frac"), lit(0.0)) >= 0.5,
              lit("drop_contaminated"))
            .when(coalesce(col("avg_neg_logp"), lit(0.0)) > 3.9,
              lit("drop_perplexity"))
            .otherwise(lit("kept")).as("disposition"))
        .orderBy("doc_id")
    },

    // LLM02: llm01's MULTILINGUAL option — the same disposition-table
    // pipeline with CCNet per-language routing (t71) in place of the
    // drop-non-en gate: registrable-domain quota → char-3-gram langid
    // routing (profiles trained on the labeled reference tenth;
    // gramless docs drop) → PER-LANGUAGE Gopher rules (the
    // post-routing half of a production multilingual run —
    // QualityRules.gopherByLang: each doc is judged by ITS routed
    // language's configured stopword list and thresholds; EVERY
    // routed language carries a curated entry as of r18 — en the
    // Gopher 8, de/fr/es their own function-word lists with the
    // floor ON, zh floor-off with the word-shape bounds opened, the
    // CJK discipline) → exact dedup keep-first → benchmark
    // decontamination → PER-LANGUAGE interpolated-KN perplexity with
    // CCNet terciles cut within language — the tail tercile drops
    // (the CCNet sampling discipline), head/middle keep with their
    // bucket on the card. The differentials are LIVE on the real
    // corpus at sf0.01 (measured r18): 111 routed-fr/es docs (56 fr,
    // 55 es) are structurally sound and carry an English Gopher-8
    // word — the English table would KEEP every one — but no word of
    // their own curated list → drop_gopher (the corpus's 'fr'/'es'
    // docs draw from a shared English-ish vocabulary, so the curated
    // floor correctly recognizes them as not-French/not-Spanish),
    // while 17 kept zh-routed docs carry NO Gopher-8 stopword at all
    // — the English floor would have dropped each. The keep-under-
    // own-table direction for fr/es (real French/Spanish function-
    // word sentences that the English table drops) is pinned in
    // QualityRulesSpec's gopherByLang cases — no genuinely French
    // text exists in this corpus to measure it live (routing on the
    // near-identical synthetic profiles is noise-driven, so the query
    // relies on measured corpus-level differentials, not a routed
    // sentinel). %50==27 docs carry llm01's injected duplicate so the
    // dedup stage has live work. First-failing-gate dispositions,
    // join-bearing stages see only earlier-gate survivors.
    llm02Family("llm02_corpus_multilang", suiteCard = false),

    // LLM04: llm02's pipeline under the 100 TB decontamination
    // profile — the drop rule probes ONE fixed-size pooled Bloom
    // synopsis (CleanCorpus.Bloom's argument on the multilingual
    // flagship: the stage's broadcast stays numBits/8 bytes as eval
    // sets accumulate) and the data card gains per-suite attribution
    // (`hit_suites`: WHICH of the four (doc_id%80)//20 suites share
    // ≥1 gram with each doc that reached the stage — t74's rationale,
    // through the single broadcast filter array). Oracle = llm02's
    // exact chain + the exact labeled-gram attribution, verbatim (the
    // llm03 discipline: one-sided error unobservable at the sizing);
    // LlmScaleSmoke pins the TOTAL synopsis footprint fixed at
    // 1x/3x/10x corpus growth.
    llm02Family("llm04_corpus_multilang_bloom", suiteCard = true),

    // Heuristic language ID — marker-word argmax, declaration-order
    // ties, 'und' when nothing matches.
    QueryDef.of("t02_lang_id",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |    len(list_filter(toks, x -> list_contains(['the','a','and','of','is'], x))) AS c_en,
        |    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS c_fr,
        |    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS c_de,
        |    len(list_filter(toks, x -> list_contains(['el','la','los','que','de'], x))) AS c_es
        |  FROM t)
        |SELECT doc_id, CASE
        |    WHEN c_en = greatest(c_en, c_fr, c_de, c_es) AND c_en > 0 THEN 'en'
        |    WHEN c_fr = greatest(c_en, c_fr, c_de, c_es) AND c_fr > 0 THEN 'fr'
        |    WHEN c_de = greatest(c_en, c_fr, c_de, c_es) AND c_de > 0 THEN 'de'
        |    WHEN c_es = greatest(c_en, c_fr, c_de, c_es) AND c_es > 0 THEN 'es'
        |    ELSE 'und' END AS lang_pred
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace + BPE-ish subword counts.
    QueryDef.of("t03_token_counts",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = col("text")
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextFunctions.tokenCount(t).cast("long").as("n_ws"),
          TextFunctions.bpeishTokenCount(t).cast("long").as("n_bpeish"))
        .orderBy("doc_id")
    },

    // Canonical fingerprint groups (Dedup.exactGroups — full 128-bit
    // md5 of canonical text).
    QueryDef.of("t04_fingerprint_groups",
      s"""SELECT md5($CANON) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("fingerprint")
    },

    // Byte-exact dedup keep-first (Dedup.exactKeepFirst).
    QueryDef.of("t05_exact_keepfirst",
      """SELECT doc_id, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.exactKeepFirst(Tables.documents(s, dir), Seq("text"), "doc_id")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },

    // Exact trigram-Jaccard near-dup pairs with the DF skew cap
    // (trigrams: the tiny synthetic vocabulary makes bigram DFs huge —
    // Σdf² join cost 26× higher; Dedup.ngramJaccardPairs finds the
    // same 25 planted pairs at sf0.01 either way).
    QueryDef.of("t06_ngram_jaccard_pairs",
      s"""WITH toks AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM toks),
         |filt AS (SELECT id, sh FROM sh0
         |  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
         |sz AS (SELECT id, count(*) AS n_sh FROM filt GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
         |  FROM filt a JOIN filt b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
         |FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
         |WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      // repartition the scan before shingling: tokenization+explode is
      // CPU-bound and inflates rows ~10x, so spreading the (few-file)
      // scan across cores BEFORE the heavy projection is the same
      // pre-explode repartition a 100 TB corpus needs to bound task
      // memory — and locally it stops the whole tokenize stage running
      // as a single task on a single-file table
      Dedup.ngramJaccardPairs(
          Tables.documents(s, dir).repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", n = 3, threshold = 0.5, maxShingleDf = Some(1000))
        .orderBy("id_a", "id_b")
    },

    // T51: asymmetric n-gram CONTAINMENT pairs
    // (Dedup.ngramContainmentPairs) — the excerpt/quote detector:
    // n_inter / min(|A|,|B|) finds a planted 25-token excerpt inside
    // its source doc at containment ~1.0 where Jaccard sits near
    // |excerpt|/|doc| and never crosses a dedup threshold (Broder
    // 1997's resemblance-vs-containment distinction). Excerpt docs
    // (id + 10000) are derived from every doc_id % 11 == 0 document's
    // first 25 canonical tokens on BOTH sides.
    QueryDef.of("t51_containment_pairs",
      s"""WITH exc AS (SELECT doc_id + 10000 AS doc_id,
         |    array_to_string(($CTOKS)[1:25], ' ') AS text
         |  FROM documents WHERE doc_id % 11 = 0),
         |raw AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM exc),
         |toks AS (SELECT doc_id, ${ctoksOf("text")} AS t FROM raw),
         |sh0 AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM toks),
         |filt AS (SELECT id, sh FROM sh0
         |  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
         |sz AS (SELECT id, count(*) AS n_sh FROM filt GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
         |  FROM filt a JOIN filt b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(n_inter / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6) AS containment
         |FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
         |WHERE round(n_inter / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val excerpts = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          array_join(slice(TextFunctions.tokens(
            TextFunctions.canonicalText(col("text"))), 1, 25), " ").as("text"))
      val corpus = docs.select("doc_id", "text").unionByName(excerpts)
      graft.operators.Dedup.ngramContainmentPairs(
          corpus.repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", n = 3, threshold = 0.8, maxShingleDf = Some(1000))
        .orderBy("id_a", "id_b")
    },

    // MinHash+LSH candidates verified by exact Jaccard
    // (Dedup.minhashLshPairs) — the oracle replicates signatures,
    // banding, bucket join AND verification in SQL.
    QueryDef.of("t07_minhash_lsh_pairs",
      s"""WITH toks AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM toks),
         |seeds AS (SELECT seed,
         |    ('0x' || substr(md5('a:' || seed), 1, 15))::BIGINT % 2147483646 + 1 AS a,
         |    ('0x' || substr(md5('b:' || seed), 1, 15))::BIGINT % 2147483647 AS b
         |  FROM (SELECT unnest(range(0, 12)) AS seed)),
         |mh AS (SELECT id, s.seed,
         |    min((s.a * (('0x' || substr(md5(sh0.sh), 1, 15))::BIGINT & 2147483647) + s.b)
         |        % 2147483647) AS mh
         |  FROM sh0, seeds s GROUP BY id, s.seed),
         |sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
         |band AS (SELECT id, b.b,
         |    md5(array_to_string(sig[b.b*3+1 : b.b*3+3], ',')) AS bucket
         |  FROM sig, (SELECT unnest(range(0, 4)) AS b) b),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |  FROM band x JOIN band y ON x.b = y.b AND x.bucket = y.bucket AND x.id < y.id),
         |sz AS (SELECT id, count(*) AS n_sh FROM sh0 GROUP BY id),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
         |  FROM cand c JOIN sh0 a ON a.id = c.id_a
         |  JOIN sh0 b2 ON b2.id = c.id_b AND b2.sh = a.sh
         |  GROUP BY c.id_a, c.id_b)
         |SELECT id_a, id_b,
         |  round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
         |FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
         |WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      // pre-shingle repartition: same rationale as t06
      Dedup.minhashLshPairs(
          Tables.documents(s, dir).repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", shingleN = 3, numHashes = 12, bands = 4, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // T59: dedup RECALL evaluation — the v19 analogue for the dedup
    // family: the banded MinHash candidate path (t07's exact config)
    // measured against the exact df-capped Jaccard pairs (t06's). The
    // two sides legitimately differ in BOTH directions (banding misses
    // pairs; the df cap removes shingles from the exact side only), so
    // the summary reports recall AND precision. One full-outer join of
    // the two bounded pair sets → a single row; at 100 TB this is the
    // dedup-quality dashboard number computed from two already-run
    // passes.
    QueryDef.of("t59_dedup_recall",
      s"""WITH toks AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM toks),
         |filt AS (SELECT id, sh FROM sh0
         |  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
         |szf AS (SELECT id, count(*) AS n FROM filt GROUP BY id),
         |ei AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n
         |  FROM filt a JOIN filt b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
         |ep AS MATERIALIZED (SELECT id_a, id_b FROM ei
         |  JOIN szf sa ON sa.id = id_a JOIN szf sb ON sb.id = id_b
         |  WHERE round(ei.n / CAST(sa.n + sb.n - ei.n AS DOUBLE), 6) >= 0.5),
         |seeds AS (SELECT seed,
         |    ('0x' || substr(md5('a:' || seed), 1, 15))::BIGINT % 2147483646 + 1 AS a,
         |    ('0x' || substr(md5('b:' || seed), 1, 15))::BIGINT % 2147483647 AS b
         |  FROM (SELECT unnest(range(0, 12)) AS seed)),
         |mh AS (SELECT id, s.seed,
         |    min((s.a * (('0x' || substr(md5(sh0.sh), 1, 15))::BIGINT & 2147483647) + s.b)
         |        % 2147483647) AS mh
         |  FROM sh0, seeds s GROUP BY id, s.seed),
         |sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
         |band AS (SELECT id, b.b,
         |    md5(array_to_string(sig[b.b*3+1 : b.b*3+3], ',')) AS bucket
         |  FROM sig, (SELECT unnest(range(0, 4)) AS b) b),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |  FROM band x JOIN band y ON x.b = y.b AND x.bucket = y.bucket AND x.id < y.id),
         |szl AS (SELECT id, count(*) AS n FROM sh0 GROUP BY id),
         |li AS (SELECT c.id_a, c.id_b, count(*) AS n
         |  FROM cand c JOIN sh0 a ON a.id = c.id_a
         |  JOIN sh0 b2 ON b2.id = c.id_b AND b2.sh = a.sh
         |  GROUP BY c.id_a, c.id_b),
         |lp AS MATERIALIZED (SELECT id_a, id_b FROM li
         |  JOIN szl sa ON sa.id = id_a JOIN szl sb ON sb.id = id_b
         |  WHERE round(li.n / CAST(sa.n + sb.n - li.n AS DOUBLE), 6) >= 0.5),
         |hit AS (SELECT id_a FROM ep JOIN lp USING (id_a, id_b))
         |SELECT CAST((SELECT count(*) FROM ep) AS BIGINT) AS n_exact,
         |  CAST((SELECT count(*) FROM lp) AS BIGINT) AS n_lsh,
         |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |  round((SELECT count(*) FROM hit) /
         |    CAST((SELECT count(*) FROM ep) AS DOUBLE), 6) AS recall,
         |  round((SELECT count(*) FROM hit) /
         |    CAST((SELECT count(*) FROM lp) AS DOUBLE), 6) AS prec""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val ep = Dedup.ngramJaccardPairs(d, "doc_id", "text",
          n = 3, threshold = 0.5, maxShingleDf = Some(1000))
        .select("id_a", "id_b").withColumn("e", lit(1))
      val lp = Dedup.minhashLshPairs(d, "doc_id", "text",
          shingleN = 3, numHashes = 12, bands = 4, threshold = 0.5)
        .select("id_a", "id_b").withColumn("l", lit(1))
      ep.join(lp, Seq("id_a", "id_b"), "full_outer")
        .agg(count(col("e")).as("n_exact"), count(col("l")).as("n_lsh"),
          count(when(col("e") === 1 && col("l") === 1, 1)).as("n_hit"))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"),
          round(col("n_hit").cast("double") / col("n_lsh"), 6).as("prec"))
    },

    // T62: substring-dedup recall/precision evaluation — the t59
    // idiom for SubstringDedup: a synthetic corpus with globally
    // UNIQUE filler tokens (so no accidental duplication exists) and
    // planted phrases of 3, 5, and 9 tokens around the gram size
    // n=5. Quantifies the documented approximation bound: spans
    // SHORTER than n are invisible (tok3 coverage 0), spans ≥ n are
    // recovered token-exactly (the run-of-grams equivalence), and
    // nothing outside a planted region is ever flagged (precision 1).
    // The oracle replays the corpus arithmetic, the positional 5-gram
    // span algorithm, and the metric joins.
    QueryDef.of("t62_substring_dedup_eval",
      """WITH pl0 AS (SELECT i AS doc_id, CAST(i % 4 AS INT) AS cls,
        |    CASE i % 4 WHEN 1 THEN 3 WHEN 2 THEN 5 WHEN 3 THEN 9 ELSE 0 END AS plen
        |  FROM range(60) t(i)),
        |d AS (SELECT doc_id, cls, plen,
        |    list_concat(list_concat(
        |      list_transform(range(0, 4), j -> 'u' || doc_id || 'x' || j),
        |      CASE cls WHEN 1 THEN ['p3a','p3b','p3c']
        |               WHEN 2 THEN ['p5a','p5b','p5c','p5d','p5e']
        |               WHEN 3 THEN ['p9a','p9b','p9c','p9d','p9e','p9f','p9g','p9h','p9i']
        |               ELSE [] END),
        |      list_transform(range(0, 4), j -> 'u' || doc_id || 'y' || j)) AS t
        |  FROM pl0),
        |g AS (SELECT doc_id,
        |    unnest(range(0, greatest(len(t) - 4, 0))) AS pos,
        |    unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
        |      i -> md5(array_to_string(t[i:i+4], ' ')))) AS h
        |  FROM d),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
        |         THEN 0 ELSE 1 END AS nw
        |  FROM hits),
        |grp AS (SELECT doc_id, pos,
        |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM isl),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e FROM grp GROUP BY doc_id, grp),
        |flag AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM sp),
        |plant AS (SELECT doc_id, cls, unnest(range(4, 4 + plen)) AS pos
        |  FROM pl0 WHERE plen > 0),
        |cov AS (SELECT
        |    CAST(SUM(CASE WHEN p.cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tok3_tot,
        |    CAST(SUM(CASE WHEN p.cls = 1 AND f.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tok3_cov,
        |    CAST(SUM(CASE WHEN p.cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS tok5_tot,
        |    CAST(SUM(CASE WHEN p.cls = 2 AND f.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tok5_cov,
        |    CAST(SUM(CASE WHEN p.cls = 3 THEN 1 ELSE 0 END) AS BIGINT) AS tok9_tot,
        |    CAST(SUM(CASE WHEN p.cls = 3 AND f.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tok9_cov
        |  FROM plant p LEFT JOIN flag f ON f.doc_id = p.doc_id AND f.pos = p.pos),
        |fl AS (SELECT CAST(count(*) AS BIGINT) AS n_flagged,
        |    CAST(count(p.pos) AS BIGINT) AS n_flagged_planted
        |  FROM flag f LEFT JOIN plant p ON p.doc_id = f.doc_id AND p.pos = f.pos)
        |SELECT tok3_cov, tok3_tot, tok5_cov, tok5_tot, tok9_cov, tok9_tot,
        |  n_flagged, n_flagged_planted,
        |  round((tok5_cov + tok9_cov) / CAST(tok5_tot + tok9_tot AS DOUBLE), 6) AS recall_at_n,
        |  round((tok3_cov + tok5_cov + tok9_cov)
        |    / CAST(tok3_tot + tok5_tot + tok9_tot AS DOUBLE), 6) AS recall_incl_short,
        |  round(n_flagged_planted / CAST(n_flagged AS DOUBLE), 6) AS prec
        |FROM cov CROSS JOIN fl""".stripMargin) { (s, dir) =>
      val cls = (col("doc_id") % 4).cast("int")
      val fill = (tag: String) => transform(sequence(lit(0), lit(3)),
        j => concat(lit("u"), col("doc_id").cast("string"), lit(tag), j.cast("string")))
      val corpus = s.range(60).select(col("id").as("doc_id"))
        .select(col("doc_id"), cls.as("cls"),
          when(cls === 1, lit(3)).when(cls === 2, lit(5))
            .when(cls === 3, lit(9)).otherwise(lit(0)).as("plen"))
        .withColumn("text", array_join(concat(
          fill("x"),
          when(cls === 1, array(Seq("p3a", "p3b", "p3c").map(lit): _*))
            .when(cls === 2, array(Seq("p5a", "p5b", "p5c", "p5d", "p5e").map(lit): _*))
            .when(cls === 3, array(Seq("p9a", "p9b", "p9c", "p9d", "p9e",
              "p9f", "p9g", "p9h", "p9i").map(lit): _*))
            .otherwise(array().cast("array<string>")),
          fill("y")), " "))
      val flagged = graft.operators.SubstringDedup
        .duplicatedSpans(corpus, "doc_id", "text", n = 5)
        .select(col("doc_id"),
          explode(sequence(col("span_start"), col("span_end") - 1)).as("pos"))
        .withColumn("f", lit(1))
      val planted = corpus.filter(col("plen") > 0)
        .select(col("doc_id"), col("cls"),
          explode(sequence(lit(4L), lit(3L) + col("plen"))).as("pos"))
      val cov = planted.join(flagged, Seq("doc_id", "pos"), "left")
        .agg(
          sum(when(col("cls") === 1, 1).otherwise(0)).as("tok3_tot"),
          sum(when(col("cls") === 1 && col("f").isNotNull, 1).otherwise(0)).as("tok3_cov"),
          sum(when(col("cls") === 2, 1).otherwise(0)).as("tok5_tot"),
          sum(when(col("cls") === 2 && col("f").isNotNull, 1).otherwise(0)).as("tok5_cov"),
          sum(when(col("cls") === 3, 1).otherwise(0)).as("tok9_tot"),
          sum(when(col("cls") === 3 && col("f").isNotNull, 1).otherwise(0)).as("tok9_cov"))
      val fl = flagged.join(planted.withColumn("p", lit(1)),
          Seq("doc_id", "pos"), "left")
        .agg(count(lit(1)).as("n_flagged"), count(col("p")).as("n_flagged_planted"))
      cov.crossJoin(fl).select(
        col("tok3_cov"), col("tok3_tot"), col("tok5_cov"), col("tok5_tot"),
        col("tok9_cov"), col("tok9_tot"), col("n_flagged"), col("n_flagged_planted"),
        round((col("tok5_cov") + col("tok9_cov")).cast("double")
          / (col("tok5_tot") + col("tok9_tot")), 6).as("recall_at_n"),
        round((col("tok3_cov") + col("tok5_cov") + col("tok9_cov")).cast("double")
          / (col("tok3_tot") + col("tok5_tot") + col("tok9_tot")), 6).as("recall_incl_short"),
        round(col("n_flagged_planted").cast("double") / col("n_flagged"), 6).as("prec"))
    },

    // SimHash near-dup pairs, Hamming ≤ 3 via 4-band chunk join
    // (Dedup.simhashNearDupPairs); oracle = brute-force all-pairs SQL,
    // exactly equal by pigeonhole.
    QueryDef.of("t08_simhash_pairs",
      s"""WITH tok AS (SELECT doc_id, unnest($CTOKS) AS tok FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
         |bits AS (SELECT doc_id, j.j,
         |    SUM(CASE WHEN ((h >> j.j) & 1) = 1 THEN 1 ELSE -1 END) AS net
         |  FROM h, (SELECT unnest(range(0, 60)) AS j) j GROUP BY doc_id, j.j),
         |sig0 AS (SELECT doc_id AS id,
         |    CAST(SUM(CASE WHEN net > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sim
         |  FROM bits GROUP BY doc_id),
         |sig AS (SELECT d.doc_id AS id, coalesce(s.sim, 0) AS sim
         |  FROM documents d LEFT JOIN sig0 s ON s.id = d.doc_id)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.id < b.id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    },

    // Near-dup CLUSTER formation: connected components over the t06
    // pair graph (large-star/small-star in Spark; the oracle walks the
    // same graph with a recursive CTE and takes the min reachable id).
    QueryDef.of("t09_dup_clusters",
      DupComponentsCte + "\nSELECT id, component FROM comp ORDER BY id") { (s, dir) =>
      val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", n = 3, threshold = 0.5, maxShingleDf = Some(1000))
      Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        .orderBy("id")
    },

    // Budget-constrained selection (Sampling.selectToBudget): fill a
    // 20k-token budget with the highest-quality docs first. The oracle
    // is the naive global ordered cumulative sum; the engine runs the
    // exactly-equivalent two-phase form (score-bucket prefix sums +
    // boundary-bucket-only ranking) that scales past a single reducer.
    QueryDef.of("t28_budget_select",
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS ntok,
        |    CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |      x -> list_contains(['the','a','an','of','to','in','and','is','on','for'], x))) AS DOUBLE) AS nstop,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS DOUBLE) AS ntok_lc,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS npunct,
        |    CAST(length(text) AS DOUBLE) AS nchar
        |  FROM documents),
        |q AS (SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |    round(0.4 * least(ntok / 50.0, 1.0)
        |      + 0.3 * (1.0 - CASE WHEN nchar <> 0 THEN npunct / nchar ELSE 0.0 END)
        |      + 0.3 * least(CASE WHEN ntok_lc <> 0 THEN nstop / ntok_lc ELSE 0.0 END * 4.0, 1.0),
        |      6) AS quality
        |  FROM m),
        |s AS (SELECT doc_id, n_tokens, quality,
        |    SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM q)
        |SELECT doc_id, n_tokens, quality FROM s WHERE cum <= 20000
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = col("text")
      // cached: 3 narrow columns, but each pass over it re-runs the
      // regex-heavy scoring — the operator consumes it three times
      // (bucket agg + kept scan + boundary scan).
      val scored = Caches.persist(Tables.documents(s, dir).select(
          col("doc_id"),
          TextFunctions.tokenCount(t).cast("long").as("n_tokens"),
          round(TextFunctions.qualityScore(t), 6).as("quality")))
      graft.operators.Sampling.selectToBudget(
          scored, "quality", "doc_id", "n_tokens", budget = 20000L)
        .select("doc_id", "n_tokens", "quality")
        .orderBy("doc_id")
    },

    // Global rank/percentile calibration (RankNormalize.globalRank):
    // tie-sharing rank and DESC cume_dist of the quality score,
    // computed by score-bucket prefix sums + a broadcast join — the
    // oracle is the naive corpus-wide rank()/cume_dist() windows.
    QueryDef.of("t29_rank_normalize",
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS ntok,
        |    CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |      x -> list_contains(['the','a','an','of','to','in','and','is','on','for'], x))) AS DOUBLE) AS nstop,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS DOUBLE) AS ntok_lc,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS npunct,
        |    CAST(length(text) AS DOUBLE) AS nchar
        |  FROM documents),
        |q AS (SELECT doc_id,
        |    round(0.4 * least(ntok / 50.0, 1.0)
        |      + 0.3 * (1.0 - CASE WHEN nchar <> 0 THEN npunct / nchar ELSE 0.0 END)
        |      + 0.3 * least(CASE WHEN ntok_lc <> 0 THEN nstop / ntok_lc ELSE 0.0 END * 4.0, 1.0),
        |      6) AS quality
        |  FROM m)
        |SELECT doc_id, quality,
        |  CAST(rank() OVER (ORDER BY quality DESC) AS BIGINT) AS rank,
        |  round(cume_dist() OVER (ORDER BY quality DESC), 6) AS cume_frac
        |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = col("text")
      val scored = Tables.documents(s, dir).select(
        col("doc_id"),
        round(TextFunctions.qualityScore(t), 6).as("quality"))
      graft.operators.RankNormalize.globalRank(scored, "quality")
        .select("doc_id", "quality", "rank", "cume_frac")
        .orderBy("doc_id")
    },

    // Per-group budget mixture (Sampling.selectToBudgetPerGroup):
    // token-budget mixture weighting over lang — en gets 3000 tokens,
    // de/es 800, zh 500, fr is ABSENT from the budget map and so
    // contributes nothing. Oracle: the naive per-group ordered
    // cumulative sum; the engine runs the grouped two-phase form
    // (bucket prefix sums partitioned by group + ≤1 ranked boundary
    // bucket per group).
    QueryDef.of("t31_budget_mixture",
      """WITH m AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS ntok,
        |    CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |      x -> list_contains(['the','a','an','of','to','in','and','is','on','for'], x))) AS DOUBLE) AS nstop,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS DOUBLE) AS ntok_lc,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS npunct,
        |    CAST(length(text) AS DOUBLE) AS nchar
        |  FROM documents),
        |q AS (SELECT doc_id, lang, CAST(ntok AS BIGINT) AS n_tokens,
        |    round(0.4 * least(ntok / 50.0, 1.0)
        |      + 0.3 * (1.0 - CASE WHEN nchar <> 0 THEN npunct / nchar ELSE 0.0 END)
        |      + 0.3 * least(CASE WHEN ntok_lc <> 0 THEN nstop / ntok_lc ELSE 0.0 END * 4.0, 1.0),
        |      6) AS quality
        |  FROM m),
        |b AS (SELECT *, CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 800
        |      WHEN 'es' THEN 800 WHEN 'zh' THEN 500 END AS budget
        |  FROM q WHERE lang IN ('en','de','es','zh')),
        |s AS (SELECT doc_id, lang, n_tokens, quality, budget,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b)
        |SELECT doc_id, lang, n_tokens, quality FROM s WHERE cum <= budget
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = col("text")
      // cached as in t28: three narrow columns consumed by three
      // passes of the grouped operator
      val scored = Caches.persist(Tables.documents(s, dir).select(
          col("doc_id"), col("lang"),
          TextFunctions.tokenCount(t).cast("long").as("n_tokens"),
          round(TextFunctions.qualityScore(t), 6).as("quality")))
      graft.operators.Sampling.selectToBudgetPerGroup(
          scored, "lang", "quality", "doc_id", "n_tokens",
          budgets = Map("en" -> 3000L, "de" -> 800L, "es" -> 800L, "zh" -> 500L))
        .select("doc_id", "lang", "n_tokens", "quality")
        .orderBy("doc_id")
    },

    // Sliding-window token chunking (Chunking.slidingTokenChunks):
    // 32-token chunks every 16 tokens — the long-doc → overlapping
    // context-window step. Map-only narrow plan (no shuffle at any
    // scale); the oracle replicates tokenization, stride starts, and
    // clamped slicing in DuckDB list functions.
    QueryDef.of("t30_sliding_chunks",
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(u.s // 16 AS INT) AS chunk_idx,
        |    CAST(u.s AS INT) AS token_start,
        |    list_slice(t, u.s + 1, u.s + 32) AS ch
        |  FROM toks, unnest(generate_series(0, len(t) - 1, 16)) AS u(s)
        |  WHERE u.s < len(t))
        |SELECT doc_id, chunk_idx, token_start,
        |  CAST(len(ch) AS INT) AS n_chunk_tokens,
        |  array_to_string(ch, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      graft.operators.Chunking.slidingTokenChunks(
          Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 32, stride = 16)
        .orderBy("doc_id", "chunk_idx")
    },

    // Deterministic per-stratum downsample: ≤ 3 docs per
    // (lang, source), chosen by md5-of-id order — reproducible across
    // runs, engines and cluster sizes (no RNG, no seed).
    QueryDef.of("t10_stratified_sample",
      """SELECT doc_id, lang, source, n_chars FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY lang, source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 3
        |ORDER BY lang, source, doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.deterministicPerStratum(
          Tables.documents(s, dir), Seq("lang", "source"), k = 3, idCol = "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("lang", "source", "doc_id")
    },

    // Deterministic hash-gate sample at rate 0.25: a pure filter (no
    // shuffle; survives any repartitioning) keeping rows whose first
    // 8 md5 hex digits fall under rate·2³².
    QueryDef.of("t11_hash_rate_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 1073741824
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.deterministicByRate(
          Tables.documents(s, dir), rate = 0.25, idCol = "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Benchmark decontamination (Decontaminate.ngramOverlap): every
    // 20th document plays the eval set; the rest are training docs
    // profiled for distinct-trigram overlap against it. The oracle
    // replicates shingling, the benchmark gram set, and the
    // hit/total/fraction aggregate.
    QueryDef.of("t12_decontaminate",
      s"""WITH toks AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM toks),
         |bench AS (SELECT DISTINCT sh FROM sh0 WHERE id % 20 = 0)
         |SELECT s.id AS doc_id, count(*) AS n_grams, count(b.sh) AS n_hit,
         |  round(count(b.sh) / CAST(count(*) AS DOUBLE), 6) AS overlap_frac
         |FROM sh0 s LEFT JOIN bench b ON s.sh = b.sh
         |WHERE s.id % 20 <> 0
         |GROUP BY s.id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.operators.Decontaminate.ngramOverlap(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text", n = 3)
        .orderBy("doc_id")
    },

    // PII detection + redaction (functions/Pii): counts and redacted
    // text per family. The synthetic corpus has no organic PII, so the
    // query derives a deterministic PII-bearing column from doc_id
    // (identically in both engines) — the patterns get real matches
    // and the oracle checks the full count+redact pipeline. Counts
    // follow redact()'s precedence (each family counted on the text
    // with the higher-precedence families already consumed), so counts
    // and redacted output always agree on overlapping matches.
    QueryDef.of("t13_pii_redact",
      s"""WITH d AS (SELECT doc_id, CASE
         |    WHEN doc_id % 5 = 0 THEN text || ' a@b.io c@d.org 192.168.1.1'
         |    WHEN doc_id % 3 = 0 THEN text
         |    ELSE text || ' reach user' || doc_id || '@mail.example.com from 10.0.'
         |      || (doc_id % 256) || '.' || (doc_id % 100)
         |      || ' ssn 123-45-6789 call 555-867-5309' END AS t
         |  FROM documents),
         |r AS (SELECT doc_id, t,
         |    regexp_replace(t, '$PiiEmail', '[EMAIL]', 'g') AS t_e FROM d),
         |r2 AS (SELECT *, regexp_replace(t_e, '$PiiSsn', '[SSN]', 'g') AS t_s FROM r),
         |r3 AS (SELECT *, regexp_replace(t_s, '$PiiPhone', '[PHONE]', 'g') AS t_p FROM r2)
         |SELECT doc_id,
         |  len(string_split_regex(t, '$PiiEmail')) - 1 AS n_email,
         |  len(string_split_regex(t_p, '$PiiIp')) - 1 AS n_ipv4,
         |  len(string_split_regex(t_s, '$PiiPhone')) - 1 AS n_phone,
         |  len(string_split_regex(t_e, '$PiiSsn')) - 1 AS n_ssn,
         |  (len(string_split_regex(t, '$PiiEmail')) + len(string_split_regex(t_p, '$PiiIp'))
         |   + len(string_split_regex(t_s, '$PiiPhone')) + len(string_split_regex(t_e, '$PiiSsn'))
         |   - 4) > 0 AS has_pii,
         |  regexp_replace(t_p, '$PiiIp', '[IP]', 'g') AS redacted
         |FROM r3 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val injected = Tables.documents(s, dir).withColumn("__t",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" a@b.io c@d.org 192.168.1.1")))
          .when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"),
            lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example.com from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string"),
            lit(" ssn 123-45-6789 call 555-867-5309"))))
      graft.functions.Pii.detect(injected, "__t")
        .select(col("doc_id"),
          col("n_email").cast("long").as("n_email"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_phone").cast("long").as("n_phone"),
          col("n_ssn").cast("long").as("n_ssn"),
          col("has_pii"), col("redacted"))
        .orderBy("doc_id")
    },

    // Gopher-style repetition/quality signals (Rae et al. 2021 §A1.1,
    // public), token-level: type-token ratio, most-frequent-token
    // fraction, top-bigram character coverage, and the composite
    // `repetitive` gate. Spark computes them as ONE map-only
    // projection (sorted-run folds — no explode, no shuffle); the
    // oracle replicates via unnest + group-by, which must agree.
    QueryDef.of("t14_repetition_signals",
      s"""WITH d AS (SELECT doc_id, $CTOKS AS t, length($CANON) AS nc FROM documents),
         |tok AS (SELECT doc_id, unnest(t) AS x FROM d),
         |tc AS (SELECT doc_id, x, count(*) AS c FROM tok GROUP BY doc_id, x),
         |ts AS (SELECT doc_id, max(c) AS topc, count(*) AS nd FROM tc GROUP BY doc_id),
         |big AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g
         |  FROM d),
         |bc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY doc_id, g),
         |bs AS (SELECT doc_id, max(c * length(g)) AS topbc FROM bc GROUP BY doc_id)
         |SELECT *, (top_token_frac > 0.2 OR top_bigram_char_frac > 0.2) AS repetitive
         |FROM (SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |  round(CASE WHEN len(t) = 0 THEN 0.0
         |    ELSE coalesce(ts.nd, 0) / CAST(len(t) AS DOUBLE) END, 6) AS ttr,
         |  round(CASE WHEN len(t) = 0 THEN 0.0
         |    ELSE coalesce(ts.topc, 0) / CAST(len(t) AS DOUBLE) END, 6) AS top_token_frac,
         |  round(CASE WHEN nc = 0 THEN 0.0
         |    ELSE coalesce(bs.topbc, 0) / CAST(nc AS DOUBLE) END, 6) AS top_bigram_char_frac
         |FROM d LEFT JOIN ts ON d.doc_id = ts.doc_id LEFT JOIN bs ON d.doc_id = bs.doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val canon = TextFunctions.canonicalText(col("text"))
      val base = Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.tokens(canon).as("__toks"),
        length(canon).as("__nc"))
      val t = col("__toks")
      base.select(
          col("doc_id"),
          size(t).cast("long").as("n_tokens"),
          round(TextFunctions.typeTokenRatio(t), 6).as("ttr"),
          round(when(size(t) === 0, 0.0).otherwise(
            TextFunctions.maxMultiplicity(t).cast("double") / size(t)), 6)
            .as("top_token_frac"),
          round(when(col("__nc") === 0, 0.0).otherwise(
            TextFunctions.maxRunCharCoverage(TextFunctions.shinglesFromTokens(t, 2))
              .cast("double") / col("__nc")), 6)
            .as("top_bigram_char_frac"))
        .withColumn("repetitive",
          col("top_token_frac") > 0.2 || col("top_bigram_char_frac") > 0.2)
        .orderBy("doc_id")
    },

    // Greedy sequence packing (Packing.greedyPack): md5-sharded,
    // budget-200 first-fit in id order. The oracle replicates the
    // sequential fold with a recursive CTE walking each shard in
    // row-number order — assignment-exact, not just count-checked.
    QueryDef.of("t15_sequence_packing",
      s"""WITH RECURSIVE base AS (SELECT doc_id,
         |    CAST(len($CTOKS) AS BIGINT) AS n_tokens,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
         |  FROM documents),
         |d AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM base),
         |walk AS (
         |  SELECT shard, rn, doc_id, n_tokens, n_tokens AS acc,
         |    CAST(1 AS BIGINT) AS pack_seq
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         |    CASE WHEN w.acc + d.n_tokens > 200 THEN d.n_tokens
         |         ELSE w.acc + d.n_tokens END,
         |    CASE WHEN w.acc + d.n_tokens > 200 THEN w.pack_seq + 1
         |         ELSE w.pack_seq END
         |  FROM d JOIN walk w ON d.shard = w.shard AND d.rn = w.rn + 1)
         |SELECT doc_id, n_tokens, shard, pack_seq FROM walk
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val canon = TextFunctions.canonicalText(col("text"))
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), size(TextFunctions.tokens(canon)).as("__ntok"))
      graft.operators.Packing.greedyPack(docs, "doc_id", "__ntok",
          budget = 200L, numShards = 8)
        .orderBy("doc_id")
    },

    // t15's greedy packing in BPE mode: the pack budget measures REAL
    // tokenizer tokens (Bpe.bpeTokenCount), completing the tokenizer
    // switch across the budget family (chunking t36, selection t35,
    // packing here). Same md5-sharded first-fit fold; only the
    // measurement changes. The oracle composes the BPE doctok CTE
    // with the t15 recursive shard walk (budget 400 — subword streams
    // run longer than whitespace ones).
    QueryDef.of("t41_packing_bpe",
      s"""WITH RECURSIVE $BPE_DOCTOK_CTE,
         |base AS (SELECT d.doc_id,
         |    CAST(coalesce(t.n_bpe_tokens, 0) AS BIGINT) AS n_tokens,
         |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
         |  FROM documents d LEFT JOIN doctok t USING (doc_id)),
         |pd AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM base),
         |walk AS (
         |  SELECT shard, rn, doc_id, n_tokens, n_tokens AS acc,
         |    CAST(1 AS BIGINT) AS pack_seq
         |  FROM pd WHERE rn = 1
         |  UNION ALL
         |  SELECT pd.shard, pd.rn, pd.doc_id, pd.n_tokens,
         |    CASE WHEN w.acc + pd.n_tokens > 400 THEN pd.n_tokens
         |         ELSE w.acc + pd.n_tokens END,
         |    CASE WHEN w.acc + pd.n_tokens > 400 THEN w.pack_seq + 1
         |         ELSE w.pack_seq END
         |  FROM pd JOIN walk w ON pd.shard = w.shard AND pd.rn = w.rn + 1)
         |SELECT doc_id, n_tokens, shard, pack_seq FROM walk
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val vocab = s.sparkContext.broadcast(graft.functions.Bpe.defaultVocab)
      val docs = Tables.documents(s, dir).select(
        col("doc_id"),
        graft.functions.Bpe.bpeTokenCount(col("text"), vocab)
          .cast("long").as("__ntok"))
      graft.operators.Packing.greedyPack(docs, "doc_id", "__ntok",
          budget = 400L, numShards = 8)
        .orderBy("doc_id")
    },

    // Pack boundary metadata (Packing.packBoundaries): per pack, the
    // document ids in sequence order and each document's token OFFSET
    // inside the concatenated sequence — what a data loader needs for
    // cross-document attention masks without re-tokenizing. The
    // offsets are prefix sums computed INSIDE the row (aggregate over
    // the sorted struct array — no window, no extra shuffle); the
    // oracle extends the t15 recursive shard walk with a per-pack
    // 1-PRECEDING running sum. Arrays serialize to CSV on both sides.
    QueryDef.of("t43_pack_boundaries",
      s"""WITH RECURSIVE base AS (SELECT doc_id,
         |    CAST(len($CTOKS) AS BIGINT) AS n_tokens,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
         |  FROM documents),
         |d AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM base),
         |walk AS (
         |  SELECT shard, rn, doc_id, n_tokens, n_tokens AS acc,
         |    CAST(1 AS BIGINT) AS pack_seq
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         |    CASE WHEN w.acc + d.n_tokens > 200 THEN d.n_tokens
         |         ELSE w.acc + d.n_tokens END,
         |    CASE WHEN w.acc + d.n_tokens > 200 THEN w.pack_seq + 1
         |         ELSE w.pack_seq END
         |  FROM d JOIN walk w ON d.shard = w.shard AND d.rn = w.rn + 1),
         |off AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard, pack_seq ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
         |  FROM walk)
         |SELECT shard, pack_seq, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
         |  string_agg(CAST(start AS VARCHAR), ',' ORDER BY doc_id) AS doc_starts
         |FROM off GROUP BY shard, pack_seq
         |ORDER BY shard, pack_seq""".stripMargin) { (s, dir) =>
      val canon = TextFunctions.canonicalText(col("text"))
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), size(TextFunctions.tokens(canon)).as("__ntok"))
      graft.operators.Packing.packBoundaries(docs, "doc_id", "__ntok",
          budget = 200L, numShards = 8)
        .select(col("shard"), col("pack_seq"), col("n_docs"), col("pack_tokens"),
          expr("concat_ws(',', transform(doc_ids, x -> cast(x as string)))").as("doc_ids"),
          expr("concat_ws(',', transform(doc_starts, x -> cast(x as string)))").as("doc_starts"))
        .orderBy("shard", "pack_seq")
    },

    // Per-group heavy hitters (FrequentItems.topKFrequent): the top-5
    // most frequent tokens per language by EXACT count — two bounded
    // aggregations (histogram + TopKAgg) instead of a window over the
    // full per-group vocabulary. Ties rank by the portable 60-bit
    // md5 hash, so the oracle reproduces the exact order with a
    // row_number over (cnt DESC, hash ASC).
    QueryDef.of("t44_topk_tokens",
      s"""WITH tok AS (SELECT lang, unnest($CTOKS) AS token FROM documents),
         |hist AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1, 2),
         |r AS (SELECT lang, token, cnt, row_number() OVER (PARTITION BY lang
         |    ORDER BY cnt DESC, ('0x' || substr(md5(token), 1, 15))::BIGINT ASC) AS rank
         |  FROM hist)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, token, cnt
         |FROM r WHERE rank <= 5
         |ORDER BY lang, rank""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir).select(col("lang"),
        explode(TextFunctions.tokens(TextFunctions.canonicalText(col("text"))))
          .as("token"))
      graft.operators.FrequentItems.topKFrequent(toks, Seq("lang"), "token", k = 5)
        .orderBy("lang", "rank")
    },

    // Cluster keep-rule (Dedup.keepBestPerCluster): over the t09
    // near-dup components, keep the LONGEST member (n_chars, ties ->
    // min id) plus every unpaired doc — RefinedWeb's keep-longest
    // policy. Oracle = the t09 graph walk + a QUALIFY argmax.
    QueryDef.of("t26_dedup_keep_longest",
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM toks),
         |filt AS (SELECT id, sh FROM sh0
         |  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000)),
         |sz AS (SELECT id, count(*) AS n_sh FROM filt GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
         |  FROM filt a JOIN filt b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM inter
         |  JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
         |  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |cc AS (
         |  SELECT a AS id, a AS comp FROM edges
         |  UNION
         |  SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON e.a = cc.id
         |),
         |lab AS (SELECT id, min(comp) AS component FROM cc GROUP BY id)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN lab ON d.doc_id = lab.id
         |QUALIFY row_number() OVER (
         |  PARTITION BY coalesce(lab.component, d.doc_id)
         |  ORDER BY d.n_chars DESC, d.doc_id) = 1
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(
        docs.repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", n = 3, threshold = 0.5, maxShingleDf = Some(1000))
      Dedup.keepBestPerCluster(docs.select("doc_id", "n_chars"), "doc_id", "n_chars", pairs)
        .orderBy("doc_id")
    },

    // Materialized packed training sequences (Packing.packedText):
    // greedyPack assignment over raw-text token counts, then each
    // pack's texts concatenated in doc-id order with the EOS
    // separator. The oracle replays the pack walk recursively and
    // string_aggs with the identical separator.
    QueryDef.of("t25_packed_text",
      s"""WITH RECURSIVE base AS (SELECT doc_id, text,
         |    CAST(len(regexp_extract_all(text, '${"\\S+"}')) AS BIGINT) AS n_tokens,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
         |  FROM documents),
         |d AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM base),
         |walk AS (
         |  SELECT shard, rn, doc_id, text, n_tokens, n_tokens AS acc,
         |    CAST(1 AS BIGINT) AS pack_seq
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.rn, d.doc_id, d.text, d.n_tokens,
         |    CASE WHEN w.acc + d.n_tokens > 300 THEN d.n_tokens
         |         ELSE w.acc + d.n_tokens END,
         |    CASE WHEN w.acc + d.n_tokens > 300 THEN w.pack_seq + 1
         |         ELSE w.pack_seq END
         |  FROM d JOIN walk w ON d.shard = w.shard AND d.rn = w.rn + 1)
         |SELECT shard, pack_seq, count(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
         |  string_agg(text, chr(10) || '<|endofdoc|>' || chr(10) ORDER BY doc_id) AS packed_text
         |FROM walk GROUP BY shard, pack_seq
         |ORDER BY shard, pack_seq""".stripMargin) { (s, dir) =>
      graft.operators.Packing.packedText(
          Tables.documents(s, dir), "doc_id", "text",
          budget = 300L, numShards = 8)
        .orderBy("shard", "pack_seq")
    },

    // Cross-split leakage audit (Sampling.crossSplitLeakage): exact
    // content fingerprints straddling the t16 train/val/test split —
    // the eval-integrity check that catches duplicate documents
    // inflating eval scores. The oracle replays the md5-bucket split,
    // the fingerprint self-join, and the per-pair aggregation.
    // The corpus has no cross-id exact duplicates, so the audit runs
    // on documents plus a planted re-crawl (every 10th doc re-ingested
    // under a new id — the realistic leak source): the split hashes
    // the IDs independently, so ~18.5% of planted pairs straddle a
    // boundary and the audit must report them, split-pair by
    // split-pair.
    QueryDef.of("t33_split_leakage", {
      val th = graft.operators.Sampling.splitThresholds(
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         |s AS (SELECT doc_id, md5(coalesce(text, '')) AS fp,
         |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < ${th(0)._2} THEN 'train'
         |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < ${th(1)._2} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM d)
         |SELECT a.split AS split_a, b.split AS split_b,
         |  count(*) AS n_pairs, count(DISTINCT a.doc_id) AS n_docs
         |FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  AND a.split <> b.split
         |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin }) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val recrawl = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      graft.operators.Sampling.crossSplitLeakage(
          docs.unionByName(recrawl), "doc_id", "text",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .orderBy("split_a", "split_b")
    },

    // Deterministic train/val/test split (Sampling.assignSplit):
    // 90/5/5 by the 32-bit md5 bucket of doc_id — shuffle-free, and
    // the oracle inlines the SAME integer thresholds the operator
    // computes (Sampling.splitThresholds), so boundary docs are
    // hash-checked too.
    QueryDef.of("t16_hash_split", {
      val th = graft.operators.Sampling.splitThresholds(
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      s"""SELECT doc_id, CASE WHEN u < ${th(0)._2} THEN 'train'
         |  WHEN u < ${th(1)._2} THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin }) { (s, dir) =>
      graft.operators.Sampling.assignSplit(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "split")
        .orderBy("doc_id")
    },

    // The composed cleaning pipeline (CleanCorpus.clean): exact-dedup
    // keep-first → quality ≥ 0.7 → strict trigram decontamination
    // against the doc_id%20 eval slice → PII redaction. The oracle
    // chains the PROVEN per-stage SQL replicas (t04/t05 fingerprint
    // dedup, t01 quality, t12 gram overlap, t13 redaction) in the
    // same order.
    QueryDef.of("t17_clean_corpus",
      CleanCorpusOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.operators.CleanCorpus.clean(
          docs.filter(col("doc_id") % 20 =!= 0).select("doc_id", "text"), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text",
          minQuality = 0.7, shingleN = 3)
        .orderBy("doc_id")
    },

    // LLM03: t17's composed cleaner with the FIXED-BROADCAST Bloom
    // decontamination option (CleanCorpus.Bloom → Decontaminate
    // .removeContaminatedBloomAgainst) — the 100 TB form of stage 3:
    // hundreds of accumulated eval sets fold into ONE numBits/8-byte
    // synopsis instead of an ever-growing row broadcast, the corpus
    // side stays one map-only codegen'd might_contain probe, and the
    // one-sided error can only drop MORE (no false negatives). The
    // oracle is t17's exact chain VERBATIM: at the default ~8
    // bits/gram sizing the extra-drop probability is ~1e-13 per
    // corpus, so row-identical output against the exact oracle IS the
    // assertion (the conservative law itself is spec-pinned on a
    // deliberately starved 64-bit filter in OperatorSpecs).
    // LlmScaleSmoke pins the synopsis size FIXED at 1x/3x/10x.
    QueryDef.of("llm03_clean_bloom",
      CleanCorpusOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // (corpus-side rebalance tried r19: 2.93 → 2.85 s, noise-flat —
      // the 1.0 s single-task stage splits but the exchange gives the
      // saving back at this SF; left alone)
      graft.operators.CleanCorpus.clean(
          docs.filter(col("doc_id") % 20 =!= 0).select("doc_id", "text"), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text",
          minQuality = 0.7, shingleN = 3,
          decontam = graft.operators.CleanCorpus.Bloom())
        .orderBy("doc_id")
    },

    // T75: CHARACTER-n-gram Jaccard near-dup pairs
    // (Dedup.charNgramJaccardPairs) — the UNSEGMENTED-SCRIPT dedup
    // form: a CJK document is ONE whitespace token, so the word-
    // shingle t06 form has no shingles for it at all (short of an
    // exact hash, word-level dedup is structurally blind to CJK
    // near-dups); char trigrams restore the signal. Injected
    // sentinels make it live: %20==3 docs (odd slice) become one
    // fixed 28-char Chinese sentence (pairs at jaccard 1.0), %20==13
    // the same sentence plus one trailing char (26/27 = 0.962963
    // against the copies). The natural corpus shares one small Latin
    // vocabulary, so its char-gram profiles cap out under the DF=50
    // skew guard (an all-docs gram is a quadratic join bomb — same
    // capped-denominator semantics as t06, drops observed) and no
    // natural pair reaches the 0.9 floor (measured max 0.44).
    QueryDef.of("t75_char_jaccard_pairs",
      """WITH raw AS (SELECT doc_id, CASE
        |    WHEN doc_id % 20 = 3 THEN '深度学习模型在大规模语料库上训练需要高质量的数据清洗流程'
        |    WHEN doc_id % 20 = 13 THEN '深度学习模型在大规模语料库上训练需要高质量的数据清洗流程了'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 2 = 1),
        |c AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s FROM raw),
        |g0 AS (SELECT DISTINCT doc_id AS id,
        |    unnest(CASE WHEN len(s) >= 3
        |      THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
        |      ELSE [] END) AS sh
        |  FROM c),
        |dfc AS (SELECT sh FROM (SELECT sh, count(*) AS d FROM g0 GROUP BY 1) WHERE d <= 50),
        |g AS (SELECT g0.id, g0.sh FROM g0 JOIN dfc USING (sh)),
        |sizes AS (SELECT id, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS ni
        |  FROM g a JOIN g b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b, round(ni / CAST(sa.n + sb.n - ni AS DOUBLE), 6) AS jaccard
        |  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.9
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val sent = "深度学习模型在大规模语料库上训练需要高质量的数据清洗流程"
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          when(col("doc_id") % 20 === 3, lit(sent))
            .when(col("doc_id") % 20 === 13, lit(sent + "了"))
            .otherwise(col("text")).as("text"))
      graft.operators.Dedup.charNgramJaccardPairs(corpus, "doc_id", "text",
          n = 3, threshold = 0.9, maxShingleDf = Some(50))
        .orderBy("id_a", "id_b")
    },

    // T78: the CHAR-unit MinHash-LSH path end-to-end
    // (Dedup.charMinhashLshPairs = charShingled → minhash signatures →
    // banded candidates → exact-Jaccard verification) — t75 pins the
    // exact char-pair form (quadratic within a shared gram) and t77
    // the persisted index; THIS is the pair GENERATOR a 100 TB CJK
    // corpus actually runs, and nothing pinned the char grams feeding
    // the banding arithmetic until now. Same t75 fixture (sentinel
    // CJK copies on the odd slice where the word unit sees zero
    // shingles), same DF=50 cap and capped-denominator semantics; the
    // oracle is the t07 minhash/banding replay VERBATIM with the gram
    // CTE swapped to t75's char trigrams — one moving part per
    // oracle. Identical copies collide in every band (signature
    // equality); the +1-char sentinel rides the 1-(1-s^r)^b S-curve,
    // replayed exactly.
    QueryDef.of("t78_char_minhash_lsh_pairs",
      """WITH raw AS (SELECT doc_id, CASE
        |    WHEN doc_id % 20 = 3 THEN '深度学习模型在大规模语料库上训练需要高质量的数据清洗流程'
        |    WHEN doc_id % 20 = 13 THEN '深度学习模型在大规模语料库上训练需要高质量的数据清洗流程了'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 2 = 1),
        |c AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s FROM raw),
        |g0 AS MATERIALIZED (SELECT DISTINCT doc_id AS id,
        |    unnest(CASE WHEN len(s) >= 3
        |      THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
        |      ELSE [] END) AS sh
        |  FROM c),
        |dfc AS (SELECT sh FROM (SELECT sh, count(*) AS d FROM g0 GROUP BY 1) WHERE d <= 50),
        |g AS MATERIALIZED (SELECT g0.id, g0.sh FROM g0 JOIN dfc USING (sh)),
        |seeds AS (SELECT seed,
        |    ('0x' || substr(md5('a:' || seed), 1, 15))::BIGINT % 2147483646 + 1 AS a,
        |    ('0x' || substr(md5('b:' || seed), 1, 15))::BIGINT % 2147483647 AS b
        |  FROM (SELECT unnest(range(0, 12)) AS seed)),
        |mh AS (SELECT id, s.seed,
        |    min((s.a * (('0x' || substr(md5(g.sh), 1, 15))::BIGINT & 2147483647) + s.b)
        |        % 2147483647) AS mh
        |  FROM g, seeds s GROUP BY id, s.seed),
        |sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
        |band AS (SELECT id, b.b,
        |    md5(array_to_string(sig[b.b*3+1 : b.b*3+3], ',')) AS bucket
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b) b),
        |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
        |  FROM band x JOIN band y ON x.b = y.b AND x.bucket = y.bucket AND x.id < y.id),
        |sz AS (SELECT id, count(*) AS n_sh FROM g GROUP BY id),
        |inter AS (SELECT c2.id_a, c2.id_b, count(*) AS n_inter
        |  FROM cand c2 JOIN g a ON a.id = c2.id_a
        |  JOIN g b2 ON b2.id = c2.id_b AND b2.sh = a.sh
        |  GROUP BY c2.id_a, c2.id_b)
        |SELECT id_a, id_b,
        |  round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
        |FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
        |WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val sent = "深度学习模型在大规模语料库上训练需要高质量的数据清洗流程"
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          when(col("doc_id") % 20 === 3, lit(sent))
            .when(col("doc_id") % 20 === 13, lit(sent + "了"))
            .otherwise(col("text")).as("text"))
      graft.operators.Dedup.charMinhashLshPairs(corpus, "doc_id", "text",
          shingleN = 3, numHashes = 12, bands = 4, threshold = 0.9,
          maxShingleDf = Some(50))
        .orderBy("id_a", "id_b")
    },

    // T74: per-eval-suite contamination ATTRIBUTION
    // (Decontaminate.ngramOverlapBySuite — the data-card form of t12
    // once many eval suites accumulate): which suite(s) hit each
    // training doc, with per-suite hit counts and fractions, one row
    // per contaminated (doc, suite) pair. Four synthetic suites carve
    // the benchmark tenth by (doc_id%80)//20 (doc_id%4 is constant 0
    // on the %20==0 slice; the corpus source column is
    // constant on that slice), so suites share vocabulary but differ
    // in gram sets — a doc typically matches several suites with
    // different n_hit, which is exactly the attribution the yes/no
    // t12 form cannot give. The (suite, gram) set is broadcast; the
    // corpus side is two map-only shingle passes + a hits-only
    // groupBy(id, suite).
    QueryDef.of("t74_decontam_by_suite",
      DecontamBySuiteOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(concat(lit("suite"),
            (pmod(col("doc_id"), lit(80)) / 20).cast("int").cast("string")).as("suite"),
          col("text"))
      graft.operators.Decontaminate.ngramOverlapBySuite(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          bench, "suite", "text", n = 3)
        .orderBy("doc_id", "suite")
    },

    // T76: t74's attribution in the FIXED-BROADCAST form
    // (Decontaminate.ngramOverlapBySuiteBloom) — one Bloom synopsis
    // PER SUITE, so the attribution footprint is |suites|·numBits/8
    // bytes no matter how many grams each suite accumulates; the
    // corpus probes all suites in ONE map-only pass (an array of
    // codegen'd might_contain structs, exploded to hit rows) and only
    // hit rows reach the groupBy. Per suite the error is one-sided
    // (n_hit ≥ exact, rows only ever added — spec-pinned conservative
    // on a starved filter), and at 2^20 bits per ~2k-gram suite the
    // extra-hit probability is ~1e-13 per corpus: the exact t74
    // oracle IS the assertion, row-identical (the llm03 discipline).
    QueryDef.of("t76_decontam_by_suite_bloom",
      DecontamBySuiteOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(concat(lit("suite"),
            (pmod(col("doc_id"), lit(80)) / 20).cast("int").cast("string")).as("suite"),
          col("text"))
      graft.operators.Decontaminate.ngramOverlapBySuiteBloom(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          bench, "suite", "text", n = 3,
          estimatedGrams = 1L << 16, numBits = 1L << 20)
        .orderBy("doc_id", "suite")
    },

    // T79: t76's per-suite attribution from a PERSISTED, INCREMENTALLY
    // GROWN synopsis store (SuiteSynopsisStore) — the production shape
    // where eval suites arrive over months and a new suite's arrival
    // builds ONE filter instead of rebuilding the pool. The lifecycle
    // is exercised mid-query: suites 0-1 added, suite1 RE-ADDED (the
    // superseding row, identical slice so the replay stays exact),
    // a compact (rewrites to latest-per-suite, fresh version, one
    // pointer commit), then suites 2-3 — and the attribution over the
    // grown pool must be row-identical to the one-shot exact t74
    // oracle (each filter's one-sided error unobservable at 2^20
    // bits, the llm03/t76 discipline).
    QueryDef.of("t79_decontam_suite_store",
      DecontamBySuiteOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_suitestore").toString
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select((pmod(col("doc_id"), lit(80)) / 20).cast("int").as("sidx"),
          col("text"))
      def add(k: Int): Unit = graft.operators.SuiteSynopsisStore.addSuite(
        path, s"suite$k", bench.filter(col("sidx") === k), "text",
        n = 3, estimatedGrams = 1L << 16, numBits = 1L << 20)
      add(0); add(1)
      add(1) // re-add: the latest seq supersedes
      graft.operators.SuiteSynopsisStore.compact(s, path)
      add(2); add(3)
      graft.operators.SuiteSynopsisStore.attribution(s, path,
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text")
        .orderBy("doc_id", "suite")
    },

    // Context-window chunking (TextFunctions.chunkTokens): 64-token
    // chunks at stride 48 (16-token overlap), exploded with index —
    // map-only (one projection + posexplode, no shuffle). The oracle
    // zips DuckDB's parallel unnests for the same (idx, text) pairs.
    QueryDef.of("t18_token_chunks",
      s"""WITH d AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |c AS (SELECT doc_id, len(t) AS n, CASE WHEN len(t) = 0 THEN []
         |    ELSE list_transform(
         |      range(0, 1 + CAST(ceil(greatest(len(t) - 64, 0) / CAST(48 AS DOUBLE)) AS BIGINT)),
         |      i -> array_to_string(t[i*48+1 : i*48+64], ' ')) END AS chunks
         |  FROM d)
         |SELECT doc_id,
         |  CAST(unnest(range(0, len(chunks))) AS BIGINT) AS chunk_idx,
         |  unnest(chunks) AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.tokens(TextFunctions.canonicalText(col("text"))).as("__toks"))
      base.select(col("doc_id"),
          posexplode(TextFunctions.chunkTokens(col("__toks"), chunkSize = 64, stride = 48)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Incremental ingestion dedup (Dedup.incrementalDedupBloom): the
    // batch (doc_id%10 >= 4) against the historical corpus
    // (doc_id%10 < 6) on a content fingerprint. The Bloom prefilter
    // routes definitely-new rows around the anti-join; hits are
    // verified exactly, so the result equals a plain anti-join — the
    // oracle — regardless of fpp.
    QueryDef.of("t27_incremental_dedup",
      """WITH hist AS (SELECT DISTINCT md5(coalesce(text, '')) AS fp
        |  FROM documents WHERE doc_id % 10 < 6),
        |b AS (SELECT doc_id, lang, n_chars, md5(coalesce(text, '')) AS fp
        |  FROM documents WHERE doc_id % 10 >= 4)
        |SELECT doc_id, lang, n_chars FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.fp = b.fp)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val history = docs.filter(col("doc_id") % 10 < 6)
        .select(md5(coalesce(col("text"), lit(""))).as("fp"))
      val batch = docs.filter(col("doc_id") % 10 >= 4)
        .withColumn("fp", md5(coalesce(col("text"), lit(""))))
      Dedup.incrementalDedupBloom(batch, history, Seq("fp"),
          expectedItems = 10000, fpp = 0.01)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // Incremental NEAR-dup ingestion (Dedup.incrementalNearDupLsh):
    // the t27 batch/history split, but near-duplicates — keep batch
    // rows with no history row at n-gram Jaccard ≥ 0.5, candidates
    // from a batch-bands × history-bands equi-join (the history
    // banded table is the precomputable LSH index at scale). The
    // oracle replicates both sides' minhash/banding and the exact
    // Jaccard verification; overlap docs (in both splits) drop via
    // their jaccard-1.0 self-match.
    QueryDef.of("t32_incremental_neardup",
      s"""WITH toks AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM toks),
         |seeds AS (SELECT seed,
         |    ('0x' || substr(md5('a:' || seed), 1, 15))::BIGINT % 2147483646 + 1 AS a,
         |    ('0x' || substr(md5('b:' || seed), 1, 15))::BIGINT % 2147483647 AS b
         |  FROM (SELECT unnest(range(0, 12)) AS seed)),
         |mh AS (SELECT id, s.seed,
         |    min((s.a * (('0x' || substr(md5(sh.sh), 1, 15))::BIGINT & 2147483647) + s.b)
         |        % 2147483647) AS mh
         |  FROM sh, seeds s GROUP BY id, s.seed),
         |sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
         |band AS (SELECT id, b.b,
         |    md5(array_to_string(sig[b.b*3+1 : b.b*3+3], ',')) AS bucket
         |  FROM sig, (SELECT unnest(range(0, 4)) AS b) b),
         |cand AS (SELECT DISTINCT x.id AS bid, y.id AS hid
         |  FROM band x JOIN band y ON x.b = y.b AND x.bucket = y.bucket
         |  WHERE x.id % 10 >= 4 AND y.id % 10 < 6),
         |sz AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         |inter AS (SELECT c.bid, c.hid, count(*) AS n_inter
         |  FROM cand c JOIN sh a ON a.id = c.bid
         |  JOIN sh b2 ON b2.id = c.hid AND b2.sh = a.sh
         |  GROUP BY c.bid, c.hid),
         |drops AS (SELECT DISTINCT bid FROM inter
         |  JOIN sz sa ON sa.id = bid JOIN sz sb ON sb.id = hid
         |  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id % 10 >= 4 AND doc_id NOT IN (SELECT bid FROM drops)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.incrementalNearDupLsh(
          docs.filter(col("doc_id") % 10 >= 4),
          docs.filter(col("doc_id") % 10 < 6),
          "doc_id", "text", shingleN = 3, numHashes = 12, bands = 4,
          threshold = 0.5)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // T65: the PERSISTED dedup-index lifecycle (DedupIndex — the text
    // twin of v09's AnnIndex story): write the history corpus's band
    // buckets + shingle table once, then gate batch A against the
    // store, UPSERT its survivors, and gate batch B against the GROWN
    // index — steady-state ingestion never re-shingles history. The
    // oracle replays both stages in SQL: stage B's history is the
    // base corpus PLUS stage A's survivors, so a wrong upsert (or a
    // stale manifest read) shifts B's drop set and breaks the hash.
    QueryDef.of("t65_dedup_index",
      s"""WITH toks AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS sh
         |  FROM toks),
         |seeds AS (SELECT seed,
         |    ('0x' || substr(md5('a:' || seed), 1, 15))::BIGINT % 2147483646 + 1 AS a,
         |    ('0x' || substr(md5('b:' || seed), 1, 15))::BIGINT % 2147483647 AS b
         |  FROM (SELECT unnest(range(0, 12)) AS seed)),
         |mh AS (SELECT id, s.seed,
         |    min((s.a * (('0x' || substr(md5(sh.sh), 1, 15))::BIGINT & 2147483647) + s.b)
         |        % 2147483647) AS mh
         |  FROM sh, seeds s GROUP BY id, s.seed),
         |sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
         |band AS MATERIALIZED (SELECT id, b.b,
         |    md5(array_to_string(sig[b.b*3+1 : b.b*3+3], ',')) AS bucket
         |  FROM sig, (SELECT unnest(range(0, 4)) AS b) b),
         |sz AS MATERIALIZED (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         |candA AS (SELECT DISTINCT x.id AS bid, y.id AS hid
         |  FROM band x JOIN band y ON x.b = y.b AND x.bucket = y.bucket
         |  WHERE x.id % 10 IN (6, 7) AND y.id % 10 < 6),
         |interA AS (SELECT c.bid, c.hid, count(*) AS n_inter
         |  FROM candA c JOIN sh a ON a.id = c.bid
         |  JOIN sh b2 ON b2.id = c.hid AND b2.sh = a.sh
         |  GROUP BY c.bid, c.hid),
         |dropsA AS (SELECT DISTINCT bid FROM interA
         |  JOIN sz sa ON sa.id = bid JOIN sz sb ON sb.id = hid
         |  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5),
         |survA AS MATERIALIZED (SELECT doc_id FROM documents
         |  WHERE doc_id % 10 IN (6, 7) AND doc_id NOT IN (SELECT bid FROM dropsA)),
         |histB AS (SELECT doc_id AS id FROM documents WHERE doc_id % 10 < 6
         |  UNION ALL SELECT doc_id FROM survA),
         |candB AS (SELECT DISTINCT x.id AS bid, y.id AS hid
         |  FROM band x JOIN band y ON x.b = y.b AND x.bucket = y.bucket
         |  WHERE x.id % 10 >= 8 AND y.id IN (SELECT id FROM histB)),
         |interB AS (SELECT c.bid, c.hid, count(*) AS n_inter
         |  FROM candB c JOIN sh a ON a.id = c.bid
         |  JOIN sh b2 ON b2.id = c.hid AND b2.sh = a.sh
         |  GROUP BY c.bid, c.hid),
         |dropsB AS (SELECT DISTINCT bid FROM interB
         |  JOIN sz sa ON sa.id = bid JOIN sz sb ON sb.id = hid
         |  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5)
         |SELECT doc_id, 'a' AS batch FROM survA
         |UNION ALL
         |SELECT doc_id, 'b' FROM documents
         |WHERE doc_id % 10 >= 8 AND doc_id NOT IN (SELECT bid FROM dropsB)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // (an eager localCheckpoint of the repartitioned corpus was
      // tried here for the eight-action lifecycle and measured SLOWER,
      // 7.4 → 8.3 s audit: the checkpoint blocks carry every column,
      // so each action loses the parquet column pruning its own scan
      // had — the llm02 plan-truncation trade only pays on NARROW
      // multi-consumer frames)
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val hist = docs.filter(col("doc_id") % 10 < 6)
      val bA = docs.filter(col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7)
      val bB = docs.filter(col("doc_id") % 10 >= 8)
      val path = "/tmp/graft_dedup_index_t65_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.operators.DedupIndex.write(path, hist, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4)
      // gateA + upsert fused (DedupIndex.ingest): the survivor appends
      // reuse the gate's persisted shingle frame id-filtered instead
      // of re-tokenizing + re-minhashing batch A — row-identical, the
      // oracle's two-stage replay is unchanged (t77 keeps the separate
      // gate→upsert calls, so both API paths stay exercised)
      val survA = graft.operators.DedupIndex.ingest(s, path, bA, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4, threshold = 0.5)
      val survB = graft.operators.DedupIndex.gate(s, path, bB, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4, threshold = 0.5)
      survA.select(col("doc_id"), lit("a").as("batch"))
        .unionByName(survB.select(col("doc_id"), lit("b").as("batch")))
        .orderBy("doc_id")
    },

    // T77: the PERSISTED dedup gate with CHAR shingles
    // (DedupIndex.write(charShingles = true) — the CJK form of t65;
    // the shingle unit is recorded in the store manifest, so the
    // day-2 upsert and both gates derive it with no parameter to get
    // wrong). Sentinels make the lifecycle live: %20==3 docs store
    // one fixed Chinese sentence; batch A carries byte-identical
    // copies (%20==6, drop at jaccard 1.0) and one-char-appended
    // near-dups (%20==7, drop at 26/27 ≈ 0.963 ≥ the 0.9 floor) that
    // a WORD-shingled store is structurally blind to (one token → no
    // shingles — DedupIndexSpec pins that contrast); batch B repeats
    // the near-dup class (%20==9, drops against the stored history)
    // and adds a novel Chinese doc (%20==8, survives). The oracle
    // replays the full two-batch lifecycle — char-trigram shingles,
    // the md5-based minhash bands, candidate join, exact-jaccard
    // verification — in SQL (the t65 idiom with the gram CTE swapped).
    QueryDef.of("t77_char_dedup_index",
      s"""WITH base AS (SELECT doc_id, CASE
         |    WHEN doc_id % 20 = 3 THEN '深度学习模型在大规模语料库上训练需要高质量的数据清洗流程'
         |    WHEN doc_id % 20 = 6 THEN '深度学习模型在大规模语料库上训练需要高质量的数据清洗流程'
         |    WHEN doc_id % 20 = 7 THEN '深度学习模型在大规模语料库上训练需要高质量的数据清洗流程了'
         |    WHEN doc_id % 20 = 9 THEN '深度学习模型在大规模语料库上训练需要高质量的数据清洗流程了'
         |    WHEN doc_id % 20 = 8 THEN '这是完全新的另一主题中文语料在次日批次首次出现的样本'
         |    ELSE text END AS text
         |  FROM documents),
         |cdoc AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
         |  FROM base),
         |sh AS (SELECT DISTINCT doc_id AS id,
         |    unnest(CASE WHEN len(s) >= 3
         |      THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
         |      ELSE [] END) AS sh
         |  FROM cdoc),
         |seeds AS (SELECT seed,
         |    ('0x' || substr(md5('a:' || seed), 1, 15))::BIGINT % 2147483646 + 1 AS a,
         |    ('0x' || substr(md5('b:' || seed), 1, 15))::BIGINT % 2147483647 AS b
         |  FROM (SELECT unnest(range(0, 12)) AS seed)),
         |mh AS (SELECT id, s.seed,
         |    min((s.a * (('0x' || substr(md5(sh.sh), 1, 15))::BIGINT & 2147483647) + s.b)
         |        % 2147483647) AS mh
         |  FROM sh, seeds s GROUP BY id, s.seed),
         |sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
         |band AS MATERIALIZED (SELECT id, b.b,
         |    md5(array_to_string(sig[b.b*3+1 : b.b*3+3], ',')) AS bucket
         |  FROM sig, (SELECT unnest(range(0, 4)) AS b) b),
         |sz AS MATERIALIZED (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
         |candA AS (SELECT DISTINCT x.id AS bid, y.id AS hid
         |  FROM band x JOIN band y ON x.b = y.b AND x.bucket = y.bucket
         |  WHERE x.id % 10 IN (6, 7) AND y.id % 10 < 6),
         |interA AS (SELECT c.bid, c.hid, count(*) AS n_inter
         |  FROM candA c JOIN sh a ON a.id = c.bid
         |  JOIN sh b2 ON b2.id = c.hid AND b2.sh = a.sh
         |  GROUP BY c.bid, c.hid),
         |dropsA AS (SELECT DISTINCT bid FROM interA
         |  JOIN sz sa ON sa.id = bid JOIN sz sb ON sb.id = hid
         |  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.9),
         |survA AS MATERIALIZED (SELECT doc_id FROM base
         |  WHERE doc_id % 10 IN (6, 7) AND doc_id NOT IN (SELECT bid FROM dropsA)),
         |histB AS (SELECT doc_id AS id FROM base WHERE doc_id % 10 < 6
         |  UNION ALL SELECT doc_id FROM survA),
         |candB AS (SELECT DISTINCT x.id AS bid, y.id AS hid
         |  FROM band x JOIN band y ON x.b = y.b AND x.bucket = y.bucket
         |  WHERE x.id % 10 >= 8 AND y.id IN (SELECT id FROM histB)),
         |interB AS (SELECT c.bid, c.hid, count(*) AS n_inter
         |  FROM candB c JOIN sh a ON a.id = c.bid
         |  JOIN sh b2 ON b2.id = c.hid AND b2.sh = a.sh
         |  GROUP BY c.bid, c.hid),
         |dropsB AS (SELECT DISTINCT bid FROM interB
         |  JOIN sz sa ON sa.id = bid JOIN sz sb ON sb.id = hid
         |  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.9)
         |SELECT doc_id, 'a' AS batch FROM survA
         |UNION ALL
         |SELECT doc_id, 'b' FROM base
         |WHERE doc_id % 10 >= 8 AND doc_id NOT IN (SELECT bid FROM dropsB)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sent = "深度学习模型在大规模语料库上训练需要高质量的数据清洗流程"
      val sent2 = "这是完全新的另一主题中文语料在次日批次首次出现的样本"
      val base = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          when(col("doc_id") % 20 === 3, lit(sent))
            .when(col("doc_id") % 20 === 6, lit(sent))
            .when(col("doc_id") % 20 === 7, lit(sent + "了"))
            .when(col("doc_id") % 20 === 9, lit(sent + "了"))
            .when(col("doc_id") % 20 === 8, lit(sent2))
            .otherwise(col("text")).as("text"))
      val hist = base.filter(col("doc_id") % 10 < 6)
      val bA = base.filter(col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7)
      val bB = base.filter(col("doc_id") % 10 >= 8)
      val path = "/tmp/graft_char_dedup_index_t77_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.operators.DedupIndex.write(path, hist, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4, charShingles = true)
      val survA = graft.operators.DedupIndex.gate(s, path, bA, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4, threshold = 0.9)
      graft.operators.DedupIndex.upsert(path, survA, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4)
      val survB = graft.operators.DedupIndex.gate(s, path, bB, "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 4, threshold = 0.9)
      survA.select(col("doc_id"), lit("a").as("batch"))
        .unionByName(survB.select(col("doc_id"), lit("b").as("batch")))
        .orderBy("doc_id")
    },

    // Line-level exact dedup (LineDedup.dropCommonLines, CCNet-style
    // boilerplate scrub). The corpus has no newlines, so the query
    // derives a multi-line text identically in both engines: content
    // split on ' table ', two boilerplate lines appended to EVERY doc
    // (df = corpus size → dropped at cap 3), and a unique promo line
    // on even ids (df = 1 → kept). The oracle replicates the line
    // split, per-line document frequency, cap, and ordered reassembly.
    QueryDef.of("t19_line_dedup",
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(text, ' table ', chr(10), 'g')
        |      || chr(10) || 'subscribe to our newsletter' || chr(10) || 'all rights reserved'
        |      || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'promo code ' || doc_id ELSE '' END AS t
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM d),
        |lines AS (SELECT doc_id, unnest(range(1, len(l)+1)) AS pos, unnest(l) AS line FROM ls),
        |dfreq AS (SELECT md5(trim(line)) AS k, count(DISTINCT doc_id) AS c
        |  FROM lines GROUP BY 1),
        |keep AS (SELECT doc_id, pos, line FROM lines
        |  WHERE md5(trim(line)) IN (SELECT k FROM dfreq WHERE c <= 3)),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |    count(*) AS n_kept FROM keep GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(len(string_split(d.t, chr(10))) AS BIGINT) AS n_lines,
        |  coalesce(a.n_kept, 0) AS n_kept
        |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val injected = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          regexp_replace(col("text"), " table ", "\n"),
          lit("\nsubscribe to our newsletter\nall rights reserved"),
          when(col("doc_id") % 2 === 0,
            concat(lit("\npromo code "), col("doc_id").cast("string")))
            .otherwise(lit(""))).as("t"))
      graft.operators.LineDedup.dropCommonLines(injected, "doc_id", "t", maxLineDf = 3)
        .orderBy("doc_id")
    },

    // BM25 top-k retrieval (TextSearch.bm25TopK). Scores are summed
    // in integer micro-units so the total is order-independent; the
    // oracle replicates tokenization, tf/df, the exact BM25
    // arithmetic (same literals, same association), and the
    // (score DESC, id ASC) ranking.
    QueryDef.of("t20_bm25_topk",
      s"""WITH q(query_id, qtext) AS (VALUES
         |    (1, 'table join group'), (2, 'vector stream batch window'), (3, 'customer fast')),
         |qt AS (SELECT DISTINCT query_id, unnest(${ctoksOf("qtext")}) AS term FROM q),
         |terms AS (SELECT DISTINCT term FROM qt),
         |d AS (SELECT doc_id AS id, $CTOKS AS t FROM documents),
         |dt AS (SELECT id, len(t) AS dl, unnest(t) AS term FROM d),
         |ft AS (SELECT id, dl, dt.term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM dt JOIN terms USING (term) GROUP BY 1, 2, 3),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(len(t)) AS DOUBLE) / count(*) AS avgdl FROM d),
         |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM ft GROUP BY term),
         |contrib AS (SELECT qt.query_id, ft.id,
         |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |      * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         |      * 1000000.0) AS BIGINT) AS c_micro
         |  FROM ft JOIN dfr USING (term) CROSS JOIN st JOIN qt USING (term)),
         |scored AS (SELECT query_id, id, CAST(SUM(c_micro) AS DOUBLE) / 1000000.0 AS score
         |  FROM contrib GROUP BY query_id, id),
         |ranked AS (SELECT query_id, id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rank
         |  FROM scored)
         |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
         |  id, round(score, 6) AS score
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val queries = Seq(
        (1L, "table join group"),
        (2L, "vector stream batch window"),
        (3L, "customer fast")).toDF("query_id", "qtext")
      graft.operators.TextSearch.bm25TopK(
          Tables.documents(s, dir), "doc_id", "text", queries, k = 10)
        .orderBy("query_id", "rank")
    },

    // Top-k tf-idf keywords per document (TextSearch.tfidfKeywords,
    // sklearn smooth idf). Single-product micro-unit scores — no
    // summation, so the oracle replicates the arithmetic exactly.
    QueryDef.of("t22_tfidf_keywords",
      s"""WITH d AS (SELECT doc_id AS id, $CTOKS AS t FROM documents),
         |terms AS (SELECT id, unnest(t) AS term FROM d),
         |tf AS (SELECT id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |sc AS (SELECT id, tf.term,
         |    CAST(round((ln((1.0 + n_docs) / (1.0 + df)) + 1.0) * tf * 1000000.0) AS BIGINT) AS m
         |  FROM tf JOIN dft USING (term) CROSS JOIN n),
         |r AS (SELECT id, term, m,
         |    row_number() OVER (PARTITION BY id ORDER BY m DESC, term) AS rank FROM sc)
         |SELECT id, CAST(rank AS BIGINT) AS rank, term,
         |  CAST(m AS DOUBLE) / 1000000.0 AS tfidf
         |FROM r WHERE rank <= 5
         |ORDER BY id, rank""".stripMargin) { (s, dir) =>
      graft.operators.TextSearch.tfidfKeywords(
          Tables.documents(s, dir), "doc_id", "text", k = 5)
        .orderBy("id", "rank")
    },

    // Corpus bigram-LM self-perplexity (TextModel.bigramSelfPerplexity,
    // CCNet-style quality signal). Per-bigram -ln P rounded to integer
    // micro-nats before the per-doc sum -> exact long arithmetic; the
    // oracle replicates counts, smoothing, and association order.
    QueryDef.of("t23_lm_perplexity",
      s"""WITH d AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |bgr AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS bg
         |  FROM d),
         |bgc AS (SELECT bg, count(*) AS c_bg FROM bgr GROUP BY bg),
         |unic AS (SELECT w1, count(*) AS c_w1
         |  FROM (SELECT unnest(t) AS w1 FROM d) GROUP BY w1),
         |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM unic),
         |sc AS (SELECT doc_id,
         |    CAST(round(-ln((c_bg + 0.5) / (c_w1 + 0.5 * v)) * 1000000.0) AS BIGINT) AS m
         |  FROM bgr JOIN bgc USING (bg)
         |  JOIN unic ON split_part(bgr.bg, ' ', 1) = unic.w1
         |  CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  $AVG_NEG_LOGP AS avg_neg_logp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextModel.bigramSelfPerplexity(
          Tables.documents(s, dir), "doc_id", "text", k = 0.5)
        .orderBy("doc_id")
    },

    // T57: CROSS-corpus perplexity (TextModel.bigramCrossPerplexity) —
    // the actual CCNet/Wenzek 2020 filter shape: the bigram LM trains
    // on the reference snapshot (every tenth doc) and SCORES the rest;
    // unseen bigrams/unigrams fall to the pure add-k smoothing mass
    // ((0+k)/(0+k·V)) via left joins. Same micro-nat integer scheme as
    // t23; the oracle rebuilds the reference LM and the scoring joins.
    QueryDef.of("t57_cross_perplexity",
      s"""WITH tr AS (SELECT $CTOKS AS t FROM documents WHERE doc_id % 10 = 0),
         |trb AS (SELECT bg, count(*) AS c_bg FROM (SELECT
         |    unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS bg
         |  FROM tr) GROUP BY bg),
         |tru AS (SELECT w1, count(*) AS c_w1
         |  FROM (SELECT unnest(t) AS w1 FROM tr) GROUP BY w1),
         |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM tru),
         |d AS (SELECT doc_id, $CTOKS AS t FROM documents WHERE doc_id % 10 <> 0),
         |bgr AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS bg
         |  FROM d),
         |sc AS (SELECT doc_id,
         |    CAST(round(-ln((coalesce(c_bg, 0) + 0.5) /
         |      (coalesce(c_w1, 0) + 0.5 * v)) * 1000000.0) AS BIGINT) AS m
         |  FROM bgr LEFT JOIN trb USING (bg)
         |  LEFT JOIN tru ON split_part(bgr.bg, ' ', 1) = tru.w1
         |  CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  $AVG_NEG_LOGP AS avg_neg_logp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.operators.TextModel.bigramCrossPerplexity(
          docs.filter(col("doc_id") % 10 === 0), "text",
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", k = 0.5)
        .orderBy("doc_id")
    },

    // T60: trigram STUPID-BACKOFF cross-perplexity (TextModel
    // .trigramBackoffCrossPerplexity, Brants 2007) — the CCNet-grade
    // upgrade of t57: order-3 context, α=0.4 backoff through the w2w3
    // bigram, add-k unigram floor for OOV. The oracle replays the
    // three count tables and the tier CASE term-for-term (the same
    // micro-nat integer scheme; α spelled CAST(0.4 AS DOUBLE) so both
    // engines multiply identical IEEE doubles).
    // T67: the GOPHER rule-based quality gate (QualityRules.gopher —
    // Rae et al. 2021's MassiveWeb document rules; the map-only
    // heuristic bundle a pipeline runs FIRST). The corpus is clean
    // synthetic text, so four failure modes are INJECTED by doc_id
    // class: symbol soup (%7=0), truncation below the word floor
    // (%7=1), alphabetic characters digit-replaced (%7=2 — kills
    // alpha-fraction AND stopwords), tripled words (%7=3 — blows the
    // mean-length ceiling) — and one PASSING mode: the synthetic corpus
    // carries no English stopwords, so %7=4 docs get the Gopher stop
    // list prepended and pass every rule (the gate is non-vacuous in
    // both directions). The oracle replays the derived text, every
    // metric, and every rounded rule boundary.
    QueryDef.of("t67_gopher_rules",
      """WITH d AS (SELECT doc_id, CASE
        |    WHEN doc_id % 7 = 0 THEN text || repeat(' #', 40) || repeat(' ...', 20)
        |    WHEN doc_id % 7 = 1 THEN array_to_string((regexp_extract_all(trim(text), '\S+'))[1:5], ' ')
        |    WHEN doc_id % 7 = 2 THEN regexp_replace(text, '[A-Za-z]', '9', 'g')
        |    WHEN doc_id % 7 = 3 THEN array_to_string(list_transform(regexp_extract_all(trim(text), '\S+'), w -> w || w || w), ' ')
        |    WHEN doc_id % 7 = 4 THEN 'the rows be to of and that have with it ' || text
        |    ELSE text END AS t0
        |  FROM documents),
        |w AS (SELECT doc_id, trim(t0) AS t, regexp_extract_all(trim(t0), '\S+') AS words FROM d),
        |m AS (SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    round(CASE WHEN len(words) > 0
        |      THEN CAST(length(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE) / len(words)
        |      ELSE 0.0 END, 6) AS mean_word_len,
        |    round(CASE WHEN len(words) > 0
        |      THEN ((length(t) - length(replace(t, '#', ''))) / 1
        |            + (length(t) - length(replace(t, '...', ''))) / 3) / len(words)
        |      ELSE 0.0 END, 6) AS symbol_ratio,
        |    round(CASE WHEN len(words) > 0
        |      THEN CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(words)
        |      ELSE 0.0 END, 6) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stopwords
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stopwords,
        |  n_words >= 50 AND n_words <= 100000 AS pass_words,
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS pass_mean_len,
        |  symbol_ratio <= 0.1 AS pass_symbols,
        |  alpha_frac >= 0.8 AS pass_alpha,
        |  n_stopwords >= 2 AS pass_stopwords,
        |  n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
        |    AND n_stopwords >= 2 AS pass
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val words0 = filter(split(trim(col("text")), "\\s+"), w => length(w) > 0)
      val derived = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" #" * 40), lit(" ..." * 20)))
          .when(col("doc_id") % 7 === 1,
            array_join(slice(words0, 1, 5), " "))
          .when(col("doc_id") % 7 === 2,
            regexp_replace(col("text"), "[A-Za-z]", "9"))
          .when(col("doc_id") % 7 === 3,
            array_join(transform(words0, w => concat(w, w, w)), " "))
          .when(col("doc_id") % 7 === 4,
            concat(lit("the rows be to of and that have with it "), col("text")))
          .otherwise(col("text")).as("t0"))
      graft.operators.QualityRules.gopher(derived, "doc_id", "t0")
        .orderBy("doc_id")
    },

    // T69: the LINE-level MassiveWeb/C4 rules (QualityRules.lineRules
    // — the deferred half of t67): bullet-start fraction, ellipsis-end
    // fraction, terminal-punctuation fraction, duplicate-line
    // fraction. The corpus has no newline structure, so the fixture
    // derives one (the t67 idiom): every doc becomes 8-word lines,
    // then per doc_id class — all lines bulleted (%6=0, fails the 0.9
    // ceiling), every other line ellipsis-ended (%6=1, ~½ > 0.3),
    // every line a copy of line 1 (%6=2, dup fraction (n−1)/n), every
    // line '.'-terminated (%6=3 — the PASSING class), and plain
    // unterminated lines (else — fails the C4 terminal floor). The
    // oracle replays the line derivation, every fraction, and every
    // rounded rule boundary.
    QueryDef.of("t69_line_rules",
      """WITH w0 AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS ws FROM documents),
        |base AS (SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
        |      i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS bl
        |  FROM w0),
        |d AS (SELECT doc_id, array_to_string(CASE
        |    WHEN doc_id % 6 = 0 THEN list_transform(bl, l -> '- ' || l)
        |    WHEN doc_id % 6 = 1 THEN list_transform(range(0, len(bl)), i ->
        |      CASE WHEN i % 2 = 0 THEN bl[i+1] || ' ...' ELSE bl[i+1] END)
        |    WHEN doc_id % 6 = 2 THEN list_transform(bl, l -> bl[1])
        |    WHEN doc_id % 6 = 3 THEN list_transform(bl, l -> l || '.')
        |    ELSE bl END, chr(10)) AS t0
        |  FROM base),
        |l AS (SELECT doc_id,
        |    list_filter(list_transform(string_split(t0, chr(10)), x -> trim(x)),
        |      x -> length(x) > 0) AS ls
        |  FROM d),
        |m AS (SELECT doc_id,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    round(CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls,
        |      x -> left(x, 2) IN ('- ', '* ', '• '))) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END, 6) AS bullet_frac,
        |    round(CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls,
        |      x -> right(x, 3) = '...' OR right(x, 1) = '…')) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END, 6) AS ellipsis_frac,
        |    round(CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls,
        |      x -> right(x, 1) IN ('.', '!', '?', '"', '”'))) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END, 6) AS terminal_frac,
        |    round(CASE WHEN len(ls) > 0
        |      THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END, 6) AS dup_line_frac
        |  FROM l)
        |SELECT doc_id, n_lines, bullet_frac, ellipsis_frac, terminal_frac, dup_line_frac,
        |  bullet_frac <= 0.9 AS pass_bullets,
        |  ellipsis_frac <= 0.3 AS pass_ellipsis,
        |  terminal_frac >= 0.5 AS pass_terminal,
        |  dup_line_frac <= 0.3 AS pass_dup_lines,
        |  bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND terminal_frac >= 0.5
        |    AND dup_line_frac <= 0.3 AS pass
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val words = filter(split(trim(col("text")), "\\s+"), w => length(w) > 0)
      val nl = ceil(size(words).cast("double") / 8).cast("int")
      val baseLines = transform(sequence(lit(0), nl - 1),
        i => array_join(slice(words, i * 8 + 1, lit(8)), " "))
      val derived = Tables.documents(s, dir).select(col("doc_id"),
        array_join(
          when(col("doc_id") % 6 === 0,
            transform(baseLines, l => concat(lit("- "), l)))
          .when(col("doc_id") % 6 === 1,
            transform(baseLines, (l, i) =>
              when(i % 2 === 0, concat(l, lit(" ..."))).otherwise(l)))
          .when(col("doc_id") % 6 === 2,
            transform(baseLines, _ => element_at(baseLines, 1)))
          .when(col("doc_id") % 6 === 3,
            transform(baseLines, l => concat(l, lit("."))))
          .otherwise(baseLines), "\n").as("t0"))
      graft.operators.QualityRules.lineRules(derived, "doc_id", "t0")
        .orderBy("doc_id")
    },

    // T73: PER-LANGUAGE line rules (QualityRules.lineRulesByLang —
    // the line-level half of the r17 per-language parameterization):
    // the TERMINAL-PUNCTUATION set is script-specific, so a zh
    // document whose lines end in the full-width 。 must pass its own
    // language's C4 terminal floor while the Latin set would score it
    // as unterminated boilerplate (and vice versa for '.'-terminated
    // Latin docs under the CJK set) — the same literal-CASE map-only
    // dispatch as gopherByLang, no join, no shuffle. The corpus
    // derives t69's 8-word lines; %2==0 docs get their language's
    // terminal mark appended to every line (zh → 。, others → .), so
    // the floor has live passes AND failures per language and the
    // zh/Latin set difference decides real dispositions.
    QueryDef.of("t73_line_rules_perlang",
      """WITH w0 AS (SELECT doc_id, lang, regexp_extract_all(trim(text), '\S+') AS ws FROM documents),
        |base AS (SELECT doc_id, lang,
        |    list_transform(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
        |      i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS bl
        |  FROM w0),
        |d AS (SELECT doc_id, lang, array_to_string(CASE
        |    WHEN doc_id % 2 = 0 THEN list_transform(bl, l -> l ||
        |      CASE WHEN lang = 'zh' THEN '。' ELSE '.' END)
        |    ELSE bl END, chr(10)) AS t0
        |  FROM base),
        |l AS (SELECT doc_id, lang,
        |    list_filter(list_transform(string_split(t0, chr(10)), x -> trim(x)),
        |      x -> length(x) > 0) AS ls
        |  FROM d),
        |m AS (SELECT doc_id, lang,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    round(CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls,
        |      x -> left(x, 2) IN ('- ', '* ', '• '))) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END, 6) AS bullet_frac,
        |    round(CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls,
        |      x -> right(x, 3) = '...' OR right(x, 1) = '…')) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END, 6) AS ellipsis_frac,
        |    round(CASE WHEN len(ls) > 0 THEN CAST(len(list_filter(ls,
        |      x -> list_contains(CASE WHEN lang = 'zh' THEN ['。','！','？']
        |        ELSE ['.','!','?','"','”'] END, right(x, 1)))) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END, 6) AS terminal_frac,
        |    round(CASE WHEN len(ls) > 0
        |      THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END, 6) AS dup_line_frac
        |  FROM l)
        |SELECT doc_id, lang, n_lines, bullet_frac, ellipsis_frac, terminal_frac, dup_line_frac,
        |  bullet_frac <= 0.9 AS pass_bullets,
        |  ellipsis_frac <= 0.3 AS pass_ellipsis,
        |  terminal_frac >= 0.5 AS pass_terminal,
        |  dup_line_frac <= 0.3 AS pass_dup_lines,
        |  bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND terminal_frac >= 0.5
        |    AND dup_line_frac <= 0.3 AS pass
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.QualityRules.LineLangRules
      val words = filter(split(trim(col("text")), "\\s+"), w => length(w) > 0)
      val nl = ceil(size(words).cast("double") / 8).cast("int")
      val baseLines = transform(sequence(lit(0), nl - 1),
        i => array_join(slice(words, i * 8 + 1, lit(8)), " "))
      val mark = when(col("lang") === "zh", lit("。")).otherwise(lit("."))
      val derived = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        array_join(
          when(col("doc_id") % 2 === 0, transform(baseLines, l => concat(l, mark)))
            .otherwise(baseLines), "\n").as("t0"))
      graft.operators.QualityRules.lineRulesByLang(derived, "doc_id", "t0", "lang",
          Map("zh" -> LineLangRules(terminalChars = Seq("。", "！", "？"))),
          LineLangRules())
        .orderBy("doc_id")
    },

    QueryDef.of("t60_trigram_backoff_perplexity",
      s"""WITH tr AS (SELECT $CTOKS AS t FROM documents WHERE doc_id % 10 = 0),
         |trt AS (SELECT tg, count(*) AS c_tri FROM (SELECT
         |    unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS tg
         |  FROM tr) GROUP BY tg),
         |trb AS (SELECT bg, count(*) AS c_bg FROM (SELECT
         |    unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS bg
         |  FROM tr) GROUP BY bg),
         |tru AS (SELECT w, count(*) AS c_w
         |  FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
         |sv AS (SELECT CAST(count(*) AS DOUBLE) AS v,
         |    CAST(SUM(c_w) AS DOUBLE) AS n_tokens FROM tru),
         |d AS (SELECT doc_id, $CTOKS AS t FROM documents WHERE doc_id % 10 <> 0),
         |tgr AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS tg
         |  FROM d),
         |keys AS (SELECT doc_id, tg,
         |    split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS ctx12,
         |    split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS suf23,
         |    split_part(tg, ' ', 2) AS w2, split_part(tg, ' ', 3) AS w3
         |  FROM tgr),
         |sc AS (SELECT doc_id,
         |    CAST(round(-ln(
         |      CASE WHEN coalesce(c_tri, 0) > 0
         |             THEN coalesce(c_tri, 0) / CAST(cb1.c_bg AS DOUBLE)
         |           WHEN coalesce(cb2.c_bg, 0) > 0
         |             THEN (CAST(0.4 AS DOUBLE) * cb2.c_bg) / CAST(u2.c_w AS DOUBLE)
         |           ELSE (CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
         |             * (coalesce(u3.c_w, 0) + 0.5)) / (n_tokens + 0.5 * v)
         |      END) * 1000000.0) AS BIGINT) AS m
         |  FROM keys LEFT JOIN trt USING (tg)
         |  LEFT JOIN trb cb1 ON keys.ctx12 = cb1.bg
         |  LEFT JOIN trb cb2 ON keys.suf23 = cb2.bg
         |  LEFT JOIN tru u2 ON keys.w2 = u2.w
         |  LEFT JOIN tru u3 ON keys.w3 = u3.w
         |  CROSS JOIN sv)
         |SELECT doc_id, count(*) AS n_trigrams,
         |  $AVG_NEG_LOGP AS avg_neg_logp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // at sf0.001 one doc's mean micro-nat count lands EXACTLY on a
      // .5 boundary: both sides round it in exact integers
      // (AVG_NEG_LOGP and TextModel's reducer), never as a double
      val docs = Tables.documents(s, dir)
      graft.operators.TextModel.trigramBackoffCrossPerplexity(
          docs.filter(col("doc_id") % 10 === 0), "text",
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          alpha = 0.4, k = 0.5)
        .orderBy("doc_id")
    },

    // T66: interpolated Kneser-Ney 5-GRAM cross-perplexity
    // (TextModel.knFivegramCrossPerplexity) — the actual CCNet filter
    // grade (a KenLM 5-gram), upgrading t60's stupid backoff with
    // continuation counts and discount interpolation. The oracle
    // replays every tier term-for-term: the nine count tables (raw
    // 5/4-gram counts; continuation/λ tables from DISTINCT types at
    // each order), then the staged P₁→P₅ interpolation with the exact
    // same arithmetic shape, rounded to integer micro-nats per gram.
    QueryDef.of("t66_kn5_perplexity",
      s"""WITH tr AS (SELECT $CTOKS AS t FROM documents WHERE doc_id % 10 = 0),
         |g5r AS (SELECT unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM tr),
         |t5 AS MATERIALIZED (SELECT g, count(*) AS c5 FROM g5r GROUP BY g),
         |g4r AS (SELECT unnest(list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' '))) AS g FROM tr),
         |c4t AS MATERIALIZED (SELECT g AS ctx4, count(*) AS c4 FROM g4r GROUP BY g),
         |lam5 AS (SELECT array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4, count(*) AS lam5 FROM t5 GROUP BY 1),
         |cont4 AS (SELECT array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s, count(*) AS cont4 FROM t5 GROUP BY 1),
         |mid4 AS (SELECT array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3, count(*) AS denom4,
         |    count(DISTINCT string_split(g, ' ')[5]) AS lam4 FROM t5 GROUP BY 1),
         |t4y AS MATERIALIZED (SELECT DISTINCT g FROM g4r),
         |cont3 AS (SELECT array_to_string(string_split(g, ' ')[2:4], ' ') AS g3s, count(*) AS cont3 FROM t4y GROUP BY 1),
         |mid3 AS (SELECT array_to_string(string_split(g, ' ')[2:3], ' ') AS ctx2, count(*) AS denom3,
         |    count(DISTINCT string_split(g, ' ')[4]) AS lam3 FROM t4y GROUP BY 1),
         |g3r AS (SELECT unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS g FROM tr),
         |t3y AS MATERIALIZED (SELECT DISTINCT g FROM g3r),
         |cont2 AS (SELECT array_to_string(string_split(g, ' ')[2:3], ' ') AS g2s, count(*) AS cont2 FROM t3y GROUP BY 1),
         |mid2 AS (SELECT string_split(g, ' ')[2] AS w4k, count(*) AS denom2,
         |    count(DISTINCT string_split(g, ' ')[3]) AS lam2 FROM t3y GROUP BY 1),
         |g2r AS (SELECT unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g FROM tr),
         |t2y AS MATERIALIZED (SELECT DISTINCT g FROM g2r),
         |cont1 AS (SELECT string_split(g, ' ')[2] AS w5k, count(*) AS cont1 FROM t2y GROUP BY 1),
         |sc0 AS (SELECT CAST(count(*) AS DOUBLE) AS denom1 FROM t2y),
         |vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (SELECT unnest(t) AS w FROM tr)),
         |d AS (SELECT doc_id, $CTOKS AS t FROM documents WHERE doc_id % 10 <> 0),
         |f AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM d),
         |keys AS (SELECT doc_id, g,
         |    array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4,
         |    array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s,
         |    array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3,
         |    array_to_string(string_split(g, ' ')[3:5], ' ') AS g3s,
         |    array_to_string(string_split(g, ' ')[3:4], ' ') AS ctx2,
         |    array_to_string(string_split(g, ' ')[4:5], ' ') AS g2s,
         |    string_split(g, ' ')[4] AS w4k, string_split(g, ' ')[5] AS w5k
         |  FROM f),
         |j AS MATERIALIZED (SELECT doc_id, keys.g,
         |    coalesce(t5.c5, 0) AS c5, coalesce(c4t.c4, 0) AS c4, coalesce(lam5.lam5, 0) AS lam5,
         |    coalesce(cont4.cont4, 0) AS cont4, coalesce(mid4.denom4, 0) AS denom4, coalesce(mid4.lam4, 0) AS lam4,
         |    coalesce(cont3.cont3, 0) AS cont3, coalesce(mid3.denom3, 0) AS denom3, coalesce(mid3.lam3, 0) AS lam3,
         |    coalesce(cont2.cont2, 0) AS cont2, coalesce(mid2.denom2, 0) AS denom2, coalesce(mid2.lam2, 0) AS lam2,
         |    coalesce(cont1.cont1, 0) AS cont1, denom1, v
         |  FROM keys LEFT JOIN t5 ON keys.g = t5.g
         |  LEFT JOIN c4t USING (ctx4) LEFT JOIN lam5 USING (ctx4)
         |  LEFT JOIN cont4 USING (g4s) LEFT JOIN mid4 USING (ctx3)
         |  LEFT JOIN cont3 USING (g3s) LEFT JOIN mid3 USING (ctx2)
         |  LEFT JOIN cont2 USING (g2s) LEFT JOIN mid2 USING (w4k)
         |  LEFT JOIN cont1 USING (w5k)
         |  CROSS JOIN sc0 CROSS JOIN vv),
         |p1c AS (SELECT *, (cont1 + 0.5) / (denom1 + 0.5 * v) AS p1 FROM j),
         |p2c AS (SELECT *, CASE WHEN denom2 > 0
         |    THEN (GREATEST(cont2 - 0.75, 0) + 0.75 * lam2 * p1) / denom2 ELSE p1 END AS p2 FROM p1c),
         |p3c AS (SELECT *, CASE WHEN denom3 > 0
         |    THEN (GREATEST(cont3 - 0.75, 0) + 0.75 * lam3 * p2) / denom3 ELSE p2 END AS p3 FROM p2c),
         |p4c AS (SELECT *, CASE WHEN denom4 > 0
         |    THEN (GREATEST(cont4 - 0.75, 0) + 0.75 * lam4 * p3) / denom4 ELSE p3 END AS p4 FROM p3c),
         |p5c AS (SELECT doc_id, CASE WHEN c4 > 0 AND lam5 > 0
         |    THEN (GREATEST(c5 - 0.75, 0) + 0.75 * lam5 * p4) / c4 ELSE p4 END AS p5 FROM p4c),
         |sc AS (SELECT doc_id, CAST(round(-ln(p5) * 1000000.0) AS BIGINT) AS m FROM p5c)
         |SELECT doc_id, count(*) AS n_fivegrams,
         |  $AVG_NEG_LOGP AS avg_neg_logp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.operators.TextModel.knFivegramCrossPerplexity(
          docs.filter(col("doc_id") % 10 === 0), "text",
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          discount = 0.75, k = 0.5)
        .orderBy("doc_id")
    },

    // T68: MODIFIED Kneser-Ney 5-gram cross-perplexity — the KenLM
    // default (Chen & Goodman 1999 §3): three count-dependent
    // discounts per order, closed-form from that order's
    // count-of-counts, bucket-weighted interpolation. The oracle
    // recomputes the discounts from the same integer counts with the
    // same arithmetic shape, incl. the empty-bucket fallback to the
    // fixed 0.75. Honesty note: at sf0.01 the 50-doc reference has
    // every 5-gram count at 1, so THIS oracle exercises the fallback
    // arithmetic end-to-end; the LIVE estimator path (D1=1/3, D2=1,
    // D3+=5/3 from a 4/3/2/1 frequency corpus) is pinned by the
    // hand-computed unit spec.
    QueryDef.of("t68_modified_kn5",
      s"""WITH tr AS (SELECT $CTOKS AS t FROM documents WHERE doc_id % 10 = 0),
         |g5r AS (SELECT unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM tr),
         |t5 AS MATERIALIZED (SELECT g, count(*) AS c5 FROM g5r GROUP BY g),
         |g4r AS (SELECT unnest(list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' '))) AS g FROM tr),
         |c4t AS MATERIALIZED (SELECT g AS ctx4, count(*) AS c4 FROM g4r GROUP BY g),
         |cont4 AS MATERIALIZED (SELECT array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s, count(*) AS cont4 FROM t5 GROUP BY 1),
         |t4y AS MATERIALIZED (SELECT DISTINCT g FROM g4r),
         |cont3 AS MATERIALIZED (SELECT array_to_string(string_split(g, ' ')[2:4], ' ') AS g3s, count(*) AS cont3 FROM t4y GROUP BY 1),
         |g3r AS (SELECT unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS g FROM tr),
         |t3y AS MATERIALIZED (SELECT DISTINCT g FROM g3r),
         |cont2 AS MATERIALIZED (SELECT array_to_string(string_split(g, ' ')[2:3], ' ') AS g2s, count(*) AS cont2 FROM t3y GROUP BY 1),
         |g2r AS (SELECT unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g FROM tr),
         |t2y AS MATERIALIZED (SELECT DISTINCT g FROM g2r),
         |cont1 AS (SELECT string_split(g, ' ')[2] AS w5k, count(*) AS cont1 FROM t2y GROUP BY 1),
         |sc0 AS (SELECT CAST(count(*) AS DOUBLE) AS denom1 FROM t2y),
         |vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (SELECT unnest(t) AS w FROM tr)),
         |cc5 AS (SELECT count(*) FILTER (c5 = 1) AS n1, count(*) FILTER (c5 = 2) AS n2,
         |    count(*) FILTER (c5 = 3) AS n3, count(*) FILTER (c5 = 4) AS n4 FROM t5),
         |cc4 AS (SELECT count(*) FILTER (cont4 = 1) AS n1, count(*) FILTER (cont4 = 2) AS n2,
         |    count(*) FILTER (cont4 = 3) AS n3, count(*) FILTER (cont4 = 4) AS n4 FROM cont4),
         |cc3 AS (SELECT count(*) FILTER (cont3 = 1) AS n1, count(*) FILTER (cont3 = 2) AS n2,
         |    count(*) FILTER (cont3 = 3) AS n3, count(*) FILTER (cont3 = 4) AS n4 FROM cont3),
         |cc2 AS (SELECT count(*) FILTER (cont2 = 1) AS n1, count(*) FILTER (cont2 = 2) AS n2,
         |    count(*) FILTER (cont2 = 3) AS n3, count(*) FILTER (cont2 = 4) AS n4 FROM cont2),
         |d5 AS (SELECT CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 1 - 2*(n1/(n1+2*n2))*n2/n1) ELSE 0.75 END AS d51,
         |    CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 2 - 3*(n1/(n1+2*n2))*n3/n2) ELSE 0.75 END AS d52,
         |    CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 3 - 4*(n1/(n1+2*n2))*n4/n3) ELSE 0.75 END AS d53 FROM cc5),
         |d4 AS (SELECT CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 1 - 2*(n1/(n1+2*n2))*n2/n1) ELSE 0.75 END AS d41,
         |    CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 2 - 3*(n1/(n1+2*n2))*n3/n2) ELSE 0.75 END AS d42,
         |    CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 3 - 4*(n1/(n1+2*n2))*n4/n3) ELSE 0.75 END AS d43 FROM cc4),
         |d3 AS (SELECT CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 1 - 2*(n1/(n1+2*n2))*n2/n1) ELSE 0.75 END AS d31,
         |    CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 2 - 3*(n1/(n1+2*n2))*n3/n2) ELSE 0.75 END AS d32,
         |    CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 3 - 4*(n1/(n1+2*n2))*n4/n3) ELSE 0.75 END AS d33 FROM cc3),
         |d2 AS (SELECT CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 1 - 2*(n1/(n1+2*n2))*n2/n1) ELSE 0.75 END AS d21,
         |    CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 2 - 3*(n1/(n1+2*n2))*n3/n2) ELSE 0.75 END AS d22,
         |    CASE WHEN n1>0 AND n2>0 AND n3>0 AND n4>0 THEN GREATEST(0, 3 - 4*(n1/(n1+2*n2))*n4/n3) ELSE 0.75 END AS d23 FROM cc2),
         |topb AS (SELECT array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4,
         |    count(*) FILTER (c5 = 1) AS n1t, count(*) FILTER (c5 = 2) AS n2t,
         |    count(*) FILTER (c5 >= 3) AS n3pt FROM t5 GROUP BY 1),
         |mid4 AS (SELECT array_to_string(string_split(g4s, ' ')[1:3], ' ') AS ctx3,
         |    CAST(SUM(cont4) AS BIGINT) AS denom4, count(*) FILTER (cont4 = 1) AS n14,
         |    count(*) FILTER (cont4 = 2) AS n24, count(*) FILTER (cont4 >= 3) AS n3p4
         |  FROM cont4 GROUP BY 1),
         |mid3 AS (SELECT array_to_string(string_split(g3s, ' ')[1:2], ' ') AS ctx2,
         |    CAST(SUM(cont3) AS BIGINT) AS denom3, count(*) FILTER (cont3 = 1) AS n13,
         |    count(*) FILTER (cont3 = 2) AS n23, count(*) FILTER (cont3 >= 3) AS n3p3
         |  FROM cont3 GROUP BY 1),
         |mid2 AS (SELECT string_split(g2s, ' ')[1] AS w4k,
         |    CAST(SUM(cont2) AS BIGINT) AS denom2, count(*) FILTER (cont2 = 1) AS n12,
         |    count(*) FILTER (cont2 = 2) AS n22, count(*) FILTER (cont2 >= 3) AS n3p2
         |  FROM cont2 GROUP BY 1),
         |d AS (SELECT doc_id, $CTOKS AS t FROM documents WHERE doc_id % 10 <> 0),
         |f AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM d),
         |keys AS (SELECT doc_id, g,
         |    array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4,
         |    array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s,
         |    array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3,
         |    array_to_string(string_split(g, ' ')[3:5], ' ') AS g3s,
         |    array_to_string(string_split(g, ' ')[3:4], ' ') AS ctx2,
         |    array_to_string(string_split(g, ' ')[4:5], ' ') AS g2s,
         |    string_split(g, ' ')[4] AS w4k, string_split(g, ' ')[5] AS w5k
         |  FROM f),
         |j AS MATERIALIZED (SELECT doc_id, keys.g,
         |    coalesce(t5.c5, 0) AS c5, coalesce(c4t.c4, 0) AS c4,
         |    coalesce(topb.n1t, 0) AS n1t, coalesce(topb.n2t, 0) AS n2t, coalesce(topb.n3pt, 0) AS n3pt,
         |    coalesce(cont4.cont4, 0) AS cont4, coalesce(mid4.denom4, 0) AS denom4,
         |    coalesce(mid4.n14, 0) AS n14, coalesce(mid4.n24, 0) AS n24, coalesce(mid4.n3p4, 0) AS n3p4,
         |    coalesce(cont3.cont3, 0) AS cont3, coalesce(mid3.denom3, 0) AS denom3,
         |    coalesce(mid3.n13, 0) AS n13, coalesce(mid3.n23, 0) AS n23, coalesce(mid3.n3p3, 0) AS n3p3,
         |    coalesce(cont2.cont2, 0) AS cont2, coalesce(mid2.denom2, 0) AS denom2,
         |    coalesce(mid2.n12, 0) AS n12, coalesce(mid2.n22, 0) AS n22, coalesce(mid2.n3p2, 0) AS n3p2,
         |    coalesce(cont1.cont1, 0) AS cont1, denom1, v,
         |    d51, d52, d53, d41, d42, d43, d31, d32, d33, d21, d22, d23
         |  FROM keys LEFT JOIN t5 ON keys.g = t5.g
         |  LEFT JOIN c4t USING (ctx4) LEFT JOIN topb USING (ctx4)
         |  LEFT JOIN cont4 USING (g4s) LEFT JOIN mid4 USING (ctx3)
         |  LEFT JOIN cont3 USING (g3s) LEFT JOIN mid3 USING (ctx2)
         |  LEFT JOIN cont2 USING (g2s) LEFT JOIN mid2 USING (w4k)
         |  LEFT JOIN cont1 USING (w5k)
         |  CROSS JOIN sc0 CROSS JOIN vv
         |  CROSS JOIN d5 CROSS JOIN d4 CROSS JOIN d3 CROSS JOIN d2),
         |p1c AS (SELECT *, (cont1 + 0.5) / (denom1 + 0.5 * v) AS p1 FROM j),
         |p2c AS (SELECT *, CASE WHEN denom2 > 0
         |    THEN (GREATEST(cont2 - (CASE WHEN cont2 >= 3 THEN d23 WHEN cont2 = 2 THEN d22 WHEN cont2 = 1 THEN d21 ELSE 0.0 END), 0)
         |      + (d21 * n12 + d22 * n22 + d23 * n3p2) * p1) / denom2 ELSE p1 END AS p2 FROM p1c),
         |p3c AS (SELECT *, CASE WHEN denom3 > 0
         |    THEN (GREATEST(cont3 - (CASE WHEN cont3 >= 3 THEN d33 WHEN cont3 = 2 THEN d32 WHEN cont3 = 1 THEN d31 ELSE 0.0 END), 0)
         |      + (d31 * n13 + d32 * n23 + d33 * n3p3) * p2) / denom3 ELSE p2 END AS p3 FROM p2c),
         |p4c AS (SELECT *, CASE WHEN denom4 > 0
         |    THEN (GREATEST(cont4 - (CASE WHEN cont4 >= 3 THEN d43 WHEN cont4 = 2 THEN d42 WHEN cont4 = 1 THEN d41 ELSE 0.0 END), 0)
         |      + (d41 * n14 + d42 * n24 + d43 * n3p4) * p3) / denom4 ELSE p3 END AS p4 FROM p3c),
         |p5c AS (SELECT doc_id, CASE WHEN c4 > 0 AND (n1t + n2t + n3pt) > 0
         |    THEN (GREATEST(c5 - (CASE WHEN c5 >= 3 THEN d53 WHEN c5 = 2 THEN d52 WHEN c5 = 1 THEN d51 ELSE 0.0 END), 0)
         |      + (d51 * n1t + d52 * n2t + d53 * n3pt) * p4) / c4 ELSE p4 END AS p5 FROM p4c),
         |sc AS (SELECT doc_id, CAST(round(-ln(p5) * 1000000.0) AS BIGINT) AS m FROM p5c)
         |SELECT doc_id, count(*) AS n_fivegrams,
         |  $AVG_NEG_LOGP AS avg_neg_logp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // post-scan rebalance of the SCORING side only (the t32/t65
      // idiom): at bench SFs the table is ONE parquet row group, so
      // the scan cannot split and the 5-gram explode + 8-key
      // projection feeding the ten scoring joins ran on ONE task
      // (StageAudit r18: 1.9 s wall / 1.9 s cpu single-task stage).
      // The reference side is left alone: modifiedKn's count-of-counts
      // collects are separate jobs, and a rebalance there re-runs its
      // exchange once per job for sub-second explode passes.
      val docs = Tables.documents(s, dir)
      graft.operators.TextModel.modifiedKnFivegramCrossPerplexity(
          docs.filter(col("doc_id") % 10 === 0), "text",
          Tables.rebalanced(docs.filter(col("doc_id") % 10 =!= 0)),
          "doc_id", "text", k = 0.5)
        .orderBy("doc_id")
    },

    // T70: CCNet perplexity BUCKETING (Wenzek et al. 2020 §4.3 — the
    // step after the KN LM: split the corpus into head/middle/tail
    // TERCILES of reference-LM perplexity, so downstream sampling can
    // privilege reference-like text). Terciles here are the exact
    // rank-based ntile(3) over (score, doc_id) — integer-deterministic
    // in both engines, no float boundary to disagree on. SCALE NOTE:
    // the exact global ntile is a single-partition window; at 100 TB
    // production computes the two tercile BOUNDARIES with
    // approx_percentile (the a20 synopsis pattern — a 2-double
    // driver-side synopsis) and labels map-side; the fixture pins the
    // exact tercile semantics those boundaries approximate.
    QueryDef.of("t70_ccnet_buckets",
      s"""WITH tr AS (SELECT $CTOKS AS t FROM documents WHERE doc_id % 10 = 0),
         |g5r AS (SELECT unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM tr),
         |t5 AS MATERIALIZED (SELECT g, count(*) AS c5 FROM g5r GROUP BY g),
         |g4r AS (SELECT unnest(list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' '))) AS g FROM tr),
         |c4t AS MATERIALIZED (SELECT g AS ctx4, count(*) AS c4 FROM g4r GROUP BY g),
         |lam5 AS (SELECT array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4, count(*) AS lam5 FROM t5 GROUP BY 1),
         |cont4 AS (SELECT array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s, count(*) AS cont4 FROM t5 GROUP BY 1),
         |mid4 AS (SELECT array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3, count(*) AS denom4,
         |    count(DISTINCT string_split(g, ' ')[5]) AS lam4 FROM t5 GROUP BY 1),
         |t4y AS MATERIALIZED (SELECT DISTINCT g FROM g4r),
         |cont3 AS (SELECT array_to_string(string_split(g, ' ')[2:4], ' ') AS g3s, count(*) AS cont3 FROM t4y GROUP BY 1),
         |mid3 AS (SELECT array_to_string(string_split(g, ' ')[2:3], ' ') AS ctx2, count(*) AS denom3,
         |    count(DISTINCT string_split(g, ' ')[4]) AS lam3 FROM t4y GROUP BY 1),
         |g3r AS (SELECT unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS g FROM tr),
         |t3y AS MATERIALIZED (SELECT DISTINCT g FROM g3r),
         |cont2 AS (SELECT array_to_string(string_split(g, ' ')[2:3], ' ') AS g2s, count(*) AS cont2 FROM t3y GROUP BY 1),
         |mid2 AS (SELECT string_split(g, ' ')[2] AS w4k, count(*) AS denom2,
         |    count(DISTINCT string_split(g, ' ')[3]) AS lam2 FROM t3y GROUP BY 1),
         |g2r AS (SELECT unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g FROM tr),
         |t2y AS MATERIALIZED (SELECT DISTINCT g FROM g2r),
         |cont1 AS (SELECT string_split(g, ' ')[2] AS w5k, count(*) AS cont1 FROM t2y GROUP BY 1),
         |sc0 AS (SELECT CAST(count(*) AS DOUBLE) AS denom1 FROM t2y),
         |vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (SELECT unnest(t) AS w FROM tr)),
         |d AS (SELECT doc_id, $CTOKS AS t FROM documents WHERE doc_id % 10 <> 0),
         |f AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS g FROM d),
         |keys AS (SELECT doc_id, g,
         |    array_to_string(string_split(g, ' ')[1:4], ' ') AS ctx4,
         |    array_to_string(string_split(g, ' ')[2:5], ' ') AS g4s,
         |    array_to_string(string_split(g, ' ')[2:4], ' ') AS ctx3,
         |    array_to_string(string_split(g, ' ')[3:5], ' ') AS g3s,
         |    array_to_string(string_split(g, ' ')[3:4], ' ') AS ctx2,
         |    array_to_string(string_split(g, ' ')[4:5], ' ') AS g2s,
         |    string_split(g, ' ')[4] AS w4k, string_split(g, ' ')[5] AS w5k
         |  FROM f),
         |j AS MATERIALIZED (SELECT doc_id, keys.g,
         |    coalesce(t5.c5, 0) AS c5, coalesce(c4t.c4, 0) AS c4, coalesce(lam5.lam5, 0) AS lam5,
         |    coalesce(cont4.cont4, 0) AS cont4, coalesce(mid4.denom4, 0) AS denom4, coalesce(mid4.lam4, 0) AS lam4,
         |    coalesce(cont3.cont3, 0) AS cont3, coalesce(mid3.denom3, 0) AS denom3, coalesce(mid3.lam3, 0) AS lam3,
         |    coalesce(cont2.cont2, 0) AS cont2, coalesce(mid2.denom2, 0) AS denom2, coalesce(mid2.lam2, 0) AS lam2,
         |    coalesce(cont1.cont1, 0) AS cont1, denom1, v
         |  FROM keys LEFT JOIN t5 ON keys.g = t5.g
         |  LEFT JOIN c4t USING (ctx4) LEFT JOIN lam5 USING (ctx4)
         |  LEFT JOIN cont4 USING (g4s) LEFT JOIN mid4 USING (ctx3)
         |  LEFT JOIN cont3 USING (g3s) LEFT JOIN mid3 USING (ctx2)
         |  LEFT JOIN cont2 USING (g2s) LEFT JOIN mid2 USING (w4k)
         |  LEFT JOIN cont1 USING (w5k)
         |  CROSS JOIN sc0 CROSS JOIN vv),
         |p1c AS (SELECT *, (cont1 + 0.5) / (denom1 + 0.5 * v) AS p1 FROM j),
         |p2c AS (SELECT *, CASE WHEN denom2 > 0
         |    THEN (GREATEST(cont2 - 0.75, 0) + 0.75 * lam2 * p1) / denom2 ELSE p1 END AS p2 FROM p1c),
         |p3c AS (SELECT *, CASE WHEN denom3 > 0
         |    THEN (GREATEST(cont3 - 0.75, 0) + 0.75 * lam3 * p2) / denom3 ELSE p2 END AS p3 FROM p2c),
         |p4c AS (SELECT *, CASE WHEN denom4 > 0
         |    THEN (GREATEST(cont4 - 0.75, 0) + 0.75 * lam4 * p3) / denom4 ELSE p3 END AS p4 FROM p3c),
         |p5c AS (SELECT doc_id, CASE WHEN c4 > 0 AND lam5 > 0
         |    THEN (GREATEST(c5 - 0.75, 0) + 0.75 * lam5 * p4) / c4 ELSE p4 END AS p5 FROM p4c),
         |sc AS (SELECT doc_id, CAST(round(-ln(p5) * 1000000.0) AS BIGINT) AS m FROM p5c),
         |ppl AS (SELECT doc_id,
         |    $AVG_NEG_LOGP AS avg_neg_logp
         |  FROM sc GROUP BY doc_id),
         |nt AS (SELECT doc_id, avg_neg_logp,
         |    ntile(3) OVER (ORDER BY avg_neg_logp, doc_id) AS b
         |  FROM ppl)
         |SELECT doc_id, avg_neg_logp,
         |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM nt ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val ppl = graft.operators.TextModel.knFivegramCrossPerplexity(
        docs.filter(col("doc_id") % 10 === 0), "text",
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("avg_neg_logp"), col("doc_id"))
      ppl.withColumn("b", ntile(3).over(w))
        .select(col("doc_id"), col("avg_neg_logp"),
          when(col("b") === 1, lit("head"))
            .when(col("b") === 2, lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy("doc_id")
    },

    // T71: CCNet PER-LANGUAGE routing (Wenzek et al. 2020 §4 composed
    // end-to-end — the t42→t66→t70 stack as ONE operator): char-3-gram
    // langid profiles train on the LABELED reference tenth, route
    // every scored doc map-only; ONE lang-keyed pass trains an
    // interpolated-KN 5-gram per reference language (count tables
    // keyed (lang, gram) — no per-language re-scan); each doc scores
    // against ITS OWN language's model and head/middle/tail terciles
    // cut WITHIN language. The oracle replays the whole stack: the
    // t42 rank-profile classifier (trained on the tenth), the t66 KN
    // chain with `lang` added to every count table and join key, and
    // the t70 ntile partitioned by routed language. Docs with no
    // langid grams or <5 tokens are absent (t66/t70 contract).
    QueryDef.of("t71_ccnet_perlang",
      CcnetPerLangPpl + s""",
         |nt AS (SELECT doc_id, lang, avg_neg_logp,
         |    ntile(3) OVER (PARTITION BY lang ORDER BY avg_neg_logp, doc_id) AS b
         |  FROM ppl)
         |SELECT doc_id, lang AS pred_lang, avg_neg_logp,
         |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM nt ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.operators.TextModel.ccnetPerLanguageBuckets(
          docs.filter(col("doc_id") % 10 === 0), "lang", "text",
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // T72: the APPROX-BOUNDARY CCNet cut (ccnetPerLanguageBucketsApprox
    // — the actual 100 TB path: no per-language rank window, the two
    // tercile boundaries come from ONE approx_percentile pass and the
    // labels are applied map-side under a |langs|-row broadcast). At
    // `accuracy` ≥ the per-language doc count (10000 vs ≤450 here) the
    // sketch keeps every sample with unit weight and zero delta, so
    // percentile_approx(q) returns EXACTLY the element at 1-based rank
    // ceil(q·n) of the ascending values — deterministic order
    // statistics the oracle recomputes with a row_number window
    // (integer rank forms (n+2)//3 and (2n+2)//3 equal ceil(q·n) for
    // q = 1.0/3, 2.0/3 at any n below ~5e16 because the IEEE literals
    // sit strictly below the rationals). Labeling is VALUE-based
    // (ties never straddle a boundary), unlike t71's ntile — the two
    // queries share every scoring CTE, so any mismatch isolates to
    // the cut itself. LlmScaleSmoke keeps the exact-vs-approx
    // agreement gate at 1x/3x/10x on top of this oracle.
    QueryDef.of("t72_ccnet_approx_cut",
      CcnetPerLangPpl + s""",
         |n3 AS (SELECT lang, count(*) AS n FROM ppl GROUP BY 1),
         |rk AS (SELECT lang, avg_neg_logp,
         |    row_number() OVER (PARTITION BY lang ORDER BY avg_neg_logp) AS rn
         |  FROM ppl),
         |bnd AS MATERIALIZED (SELECT rk.lang,
         |    max(CASE WHEN rn <= (n + 2) // 3 THEN avg_neg_logp END) AS b1,
         |    max(CASE WHEN rn <= (2 * n + 2) // 3 THEN avg_neg_logp END) AS b2
         |  FROM rk JOIN n3 USING (lang) GROUP BY 1)
         |SELECT doc_id, lang AS pred_lang, avg_neg_logp,
         |  CASE WHEN avg_neg_logp <= b1 THEN 'head'
         |       WHEN avg_neg_logp <= b2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM ppl JOIN bnd USING (lang)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.operators.TextModel.ccnetPerLanguageBucketsApprox(
          docs.filter(col("doc_id") % 10 === 0), "lang", "text",
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // T61: byte-level BPE encode (ByteBpe, GPT-2 bytes_to_unicode) —
    // every 5th doc gets a multilingual suffix whose é/ü/€ codepoint
    // BPE could only treat as opaque unbounded-alphabet symbols; here
    // they split into UTF-8 bytes (remapped printable), and the demo
    // merges fuse them back byte-by-byte into single tokens. The
    // oracle replays the lossless \\s*\\S+|\\s+ segmenter, the byte
    // remap (literal expansions generated from the SAME Scala table),
    // and the identical recursive min-rank merge walk. Losslessness
    // (decode == original, whitespace included) is spec-pinned.
    QueryDef.of("t61_byte_bpe_encode",
      s"""WITH RECURSIVE $BYTE_BPE_CTE
         |SELECT d.doc_id, CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  coalesce(t.bpe_text, '') AS bpe_text
         |FROM documents d LEFT JOIN bdoctok t USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val vocab = s.sparkContext.broadcast(graft.functions.ByteBpe.defaultVocab)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" café über 100€")))
            .otherwise(col("text")).as("__text"))
        .select(col("doc_id"),
          graft.functions.Bpe.bpeTokens(col("__text"), vocab).as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("long").as("n_tokens"),
          array_join(col("__t"), " ").as("bpe_text"))
        .orderBy("doc_id")
    },

    // T64: WordPiece encoding (WordPiece/WordPieceEncodeExpr, the
    // BERT tokenizer — greedy longest-match-first with ## continuation
    // pieces and the all-or-nothing [UNK] rule; the THIRD tokenizer
    // family next to BPE and unigram-LM, scoreless by design). Every
    // 9th doc gets ' zebra buzz': 'zebra' hits a whole-word piece,
    // 'buzz' dies on the missing ##z continuation and must collapse
    // to ONE [UNK] (partial b+##u discarded). Map-only codegen
    // expression; the oracle unrolls the 12-step greedy walk.
    QueryDef.of("t64_wordpiece_encode",
      s"""WITH $WORDPIECE_CTE
         |SELECT d.doc_id, CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  coalesce(t.wp_text, '') AS wp_text
         |FROM documents d LEFT JOIN wdoctok t USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val vocab = s.sparkContext.broadcast(graft.functions.WordPiece.defaultVocab)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 9 === 0, concat(col("text"), lit(" zebra buzz")))
            .otherwise(col("text")).as("__text"))
        .select(col("doc_id"),
          graft.functions.WordPiece.wordPieceTokens(col("__text"), vocab).as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("long").as("n_tokens"),
          array_join(col("__t"), " ").as("wp_text"))
        .orderBy("doc_id")
    },

    // T63: unigram-LM (SentencePiece) tokenizer training (UnigramLm,
    // Kudo 2018 hard-EM): seed substring inventory → 2 EM rounds of
    // integer-micro-nat Viterbi segmentation + count/prune/re-score.
    // The oracle unrolls the whole thing — the DP position-by-position
    // with MIN-j backpointers, the path walk, the coverage-floored
    // prune — in generated CTEs (the t38/t45 idiom). Output: the
    // final piece inventory with counts and scores.
    QueryDef.of("t63_unigram_train",
      s"""WITH $UNIGRAM_CTE
         |SELECT piece, cnt, nll AS score_micro FROM usc3
         |ORDER BY piece""".stripMargin) { (s, dir) =>
      import s.implicits._
      graft.operators.UnigramLm.train(Tables.documents(s, dir), "text",
          maxPieceLen = 4, seedSize = 200, vocabSize = 80,
          emIters = 2, maxWordLen = 8)
        .toDF()
        .select(col("piece"), col("count").as("cnt"),
          col("scoreMicro").as("score_micro"))
        .orderBy("piece")
    },

    // Exact duplicated-substring spans (SubstringDedup.duplicatedSpans,
    // Lee et al. 2021 token-level analogue). Every 7th doc gets the
    // same appended sentence so cross-document duplicated regions are
    // guaranteed; natural tiny-vocab collisions surface too. The
    // oracle replicates positional 5-gram hashing, the global count
    // filter, and the overlap-merge gaps-and-islands pass.
    QueryDef.of("t24_dup_spans",
      s"""WITH raw AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |    THEN text || ' the quick brown fox jumps over the lazy dog again'
         |    ELSE text END AS text FROM documents),
         |d AS (SELECT doc_id, $CTOKS AS t FROM raw),
         |g AS (SELECT doc_id,
         |    unnest(range(0, greatest(len(t) - 4, 0))) AS pos,
         |    unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
         |      i -> md5(array_to_string(t[i:i+4], ' ')))) AS h
         |  FROM d),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
         |         THEN 0 ELSE 1 END AS nw
         |  FROM hits),
         |grp AS (SELECT doc_id, pos,
         |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM isl)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 5 AS BIGINT) AS span_end, count(*) AS n_positions
         |FROM grp GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      val injected = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" the quick brown fox jumps over the lazy dog again")))
          .otherwise(col("text")).as("text"))
      graft.operators.SubstringDedup.duplicatedSpans(
          Tables.rebalanced(injected), "doc_id", "text", n = 5)
        .orderBy("doc_id", "span_start")
    },

    // T49: duplicated-span CUTTING (SubstringDedup.cutDuplicatedSpans)
    // — the removal step of Lee et al. 2021's substring dedup: t24
    // finds maximal duplicated regions, this cuts them and reassembles
    // the survivors over the same canonical token stream (same
    // injected cross-doc duplicate as t24 so every doc_id % 7 == 0 doc
    // loses the planted sentence). The oracle rebuilds the spans with
    // t24's CTE chain, then keeps exactly the uncovered positions via
    // a correlated NOT EXISTS and reassembles with an ordered
    // string_agg.
    QueryDef.of("t49_cut_dup_spans",
      s"""WITH raw AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |    THEN text || ' the quick brown fox jumps over the lazy dog again'
         |    ELSE text END AS text FROM documents),
         |d AS (SELECT doc_id, ${ctoksOf("text")} AS t FROM raw),
         |g AS (SELECT doc_id,
         |    unnest(range(0, greatest(len(t) - 4, 0))) AS pos,
         |    unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
         |      i -> md5(array_to_string(t[i:i+4], ' ')))) AS h
         |  FROM d),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
         |         THEN 0 ELSE 1 END AS nw
         |  FROM hits),
         |grp AS (SELECT doc_id, pos,
         |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM isl),
         |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 5 AS span_end
         |  FROM grp GROUP BY doc_id, grp),
         |p AS (SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS tk FROM d),
         |kept AS (SELECT doc_id, pos, tk FROM p
         |  WHERE NOT EXISTS (SELECT 1 FROM sp
         |    WHERE sp.doc_id = p.doc_id AND p.pos >= sp.span_start
         |      AND p.pos < sp.span_end))
         |SELECT d.doc_id,
         |  coalesce((SELECT string_agg(k.tk, ' ' ORDER BY k.pos) FROM kept k
         |            WHERE k.doc_id = d.doc_id), '') AS clean_text,
         |  CAST(len(d.t) AS BIGINT) AS n_tokens,
         |  CAST(len(d.t) - (SELECT count(*) FROM kept k WHERE k.doc_id = d.doc_id)
         |    AS BIGINT) AS n_cut
         |FROM d ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val injected = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" the quick brown fox jumps over the lazy dog again")))
          .otherwise(col("text")).as("text"))
      graft.operators.SubstringDedup.cutDuplicatedSpans(injected, "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },

    // T50: HYBRID sparse+dense retrieval via reciprocal-rank fusion
    // (TextSearch.rrfFuse, Cormack et al. 2009) — "more like this"
    // with each query doc contributing its TEXT to a BM25 top-20 and
    // its EMBEDDING to an exact-cosine top-20, fused rank-wise
    // (1/(60+rank), absent list → 0). Self-matches leave the sparse
    // list before fusion (the dense ranker already excludes self).
    // The oracle replays both rankers (t20's BM25 chain, v01's cosine
    // chain) and the fusion arithmetic term-for-term.
    QueryDef.of("t50_hybrid_rrf",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |dq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 3),
         |dsc AS (SELECT dq.query_id, c.vec_id AS id,
         |    round(CASE WHEN dq.qn * c.nrm <> 0
         |          THEN list_dot_product(dq.qv, c.v) / (dq.qn * c.nrm) ELSE 0.0 END, 6) AS cos
         |  FROM dq JOIN n c ON c.vec_id <> dq.query_id),
         |dr AS (SELECT query_id, id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank
         |  FROM dsc
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) <= 20),
         |qdoc AS (SELECT doc_id AS query_id, text AS qtext FROM documents WHERE doc_id < 3),
         |qt AS (SELECT DISTINCT query_id, unnest(${ctoksOf("qtext")}) AS term FROM qdoc),
         |terms AS (SELECT DISTINCT term FROM qt),
         |d AS (SELECT doc_id AS id, $CTOKS AS t FROM documents),
         |dt AS (SELECT id, len(t) AS dl, unnest(t) AS term FROM d),
         |ft AS (SELECT id, dl, dt.term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM dt JOIN terms USING (term) GROUP BY 1, 2, 3),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(len(t)) AS DOUBLE) / count(*) AS avgdl FROM d),
         |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM ft GROUP BY term),
         |contrib AS (SELECT qt.query_id, ft.id,
         |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |      * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         |      * 1000000.0) AS BIGINT) AS c_micro
         |  FROM ft JOIN dfr USING (term) CROSS JOIN st JOIN qt USING (term)),
         |scored AS (SELECT query_id, id, CAST(SUM(c_micro) AS DOUBLE) / 1000000.0 AS score
         |  FROM contrib GROUP BY query_id, id),
         |sr AS (SELECT query_id, id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rank
         |  FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) <= 20),
         |srx AS (SELECT * FROM sr WHERE id <> query_id),
         |f AS (SELECT coalesce(s.query_id, r.query_id) AS query_id,
         |    coalesce(s.id, r.id) AS id,
         |    coalesce(1.0 / (60.0 + s.rank), 0.0)
         |      + coalesce(1.0 / (60.0 + r.rank), 0.0) AS s
         |  FROM srx s FULL OUTER JOIN dr r
         |    ON s.query_id = r.query_id AND s.id = r.id)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id) AS BIGINT) AS rank,
         |  id, round(s, 6) AS rrf_score
         |FROM f
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id) <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      // (post-scan rebalance of the two retrieval corpora was tried
      // here — r19 audits: wholesale repartition 3.6 → 4.6 s (it sat
      // below the doc_id/vec_id < 3 query-side filters and discarded
      // their parquet pushdown), corpus-side-only 3.6 → 3.8-4.4 s
      // (the ~1.2 s single-task stages DID split 32-way, but the two
      // extra exchanges cost more than the parallelism returns at
      // this SF). Left alone: overhead-bound, not compute-bound.)
      val docs = Tables.documents(s, dir)
      val qd = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val sparse = graft.operators.TextSearch
        .bm25TopK(docs, "doc_id", "text", qd, k = 20)
        .filter(col("id") =!= col("query_id"))
      val e = Tables.embeddings(s, dir)
      val dense = graft.operators.SimilaritySearch.bruteForceTopK(
        e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
        e.select(col("vec_id").as("id"), col("embedding").as("vec")), k = 20)
      graft.operators.TextSearch.rrfFuse(
          sparse.select("query_id", "id", "rank"),
          dense.select("query_id", "id", "rank"), k = 10)
        .orderBy("query_id", "rank")
    },

    // Source-mixture sampling (Mixture.sampleToMix): target weights
    // derived from the source index (w = idx % 4 + 1), scaled so the
    // binding source keeps everything; acceptance is the portable
    // 32-bit md5 gate. The oracle inlines the identical rate and
    // threshold arithmetic.
    QueryDef.of("t21_mixture_sample",
      """WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n,
        |    CAST((CAST(substr(source, 4, 10) AS INT) % 4) + 1 AS DOUBLE) AS w
        |  FROM documents GROUP BY source),
        |m AS (SELECT min(n / w) AS cmin FROM c),
        |r AS (SELECT source, CAST(floor(cmin * w / n * 4294967296) AS BIGINT) AS thr
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < r.thr
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val weights = docs.select(col("source").as("stratum")).distinct()
        .withColumn("weight",
          ((substring(col("stratum"), 4, 10).cast("int") % 4) + 1).cast("double"))
      graft.operators.Mixture.sampleToMix(docs, "source", "doc_id", weights)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Deterministic greedy BPE encoding (Bpe / BpeEncodeExpr): every
    // document's full subword token stream plus its REAL token count,
    // under the broadcast 61-merge demo vocab. Map-only native
    // expression on the Spark side; the oracle replays the identical
    // priority merge walk per distinct word in a recursive CTE (the
    // merges VALUES are generated from the same Scala table). The
    // hash compare covers the tricky orderings: (k,ey) only becomes
    // applicable after the later-ranked (e,y) fires, and "fast" needs
    // (s,t) before (f,a)+(fa,st).
    QueryDef.of("t34_bpe_encode",
      s"""WITH RECURSIVE $BPE_DOCTOK_CTE
         |SELECT d.doc_id,
         |  CAST(coalesce(t.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
         |  coalesce(t.bpe_text, '') AS bpe_text
         |FROM documents d LEFT JOIN doctok t USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val vocab = s.sparkContext.broadcast(graft.functions.Bpe.defaultVocab)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Bpe.bpeTokens(col("text"), vocab).as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("long").as("n_bpe_tokens"),
          array_join(col("__t"), " ").as("bpe_text"))
        .orderBy("doc_id")
    },

    // t28's budget selection re-run in BPE mode — the token budget
    // measures REAL tokenizer tokens (Bpe.bpeTokenCount as the tokCol)
    // instead of whitespace words, which is what an LLM data pipeline
    // actually budgets against. Same score-bucket prefix-sum operator,
    // same quality score; only the measurement changes.
    QueryDef.of("t35_budget_select_bpe",
      s"""WITH RECURSIVE $BPE_DOCTOK_CTE,
         |m AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS ntok,
         |    CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\\S+'),
         |      x -> list_contains(['the','a','an','of','to','in','and','is','on','for'], x))) AS DOUBLE) AS nstop,
         |    CAST(len(regexp_extract_all(lower(trim(text)), '\\S+')) AS DOUBLE) AS ntok_lc,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct,
         |    CAST(length(text) AS DOUBLE) AS nchar
         |  FROM documents),
         |q AS (SELECT m.doc_id,
         |    CAST(coalesce(t.n_bpe_tokens, 0) AS BIGINT) AS n_tokens,
         |    round(0.4 * least(ntok / 50.0, 1.0)
         |      + 0.3 * (1.0 - CASE WHEN nchar <> 0 THEN npunct / nchar ELSE 0.0 END)
         |      + 0.3 * least(CASE WHEN ntok_lc <> 0 THEN nstop / ntok_lc ELSE 0.0 END * 4.0, 1.0),
         |      6) AS quality
         |  FROM m LEFT JOIN doctok t ON m.doc_id = t.doc_id),
         |sl AS (SELECT doc_id, n_tokens, quality,
         |    SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM q)
         |SELECT doc_id, n_tokens, quality FROM sl WHERE cum <= 25000
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val vocab = s.sparkContext.broadcast(graft.functions.Bpe.defaultVocab)
      val t = col("text")
      // cached as in t28: three narrow columns consumed by three
      // passes of the operator
      val scored = Caches.persist(Tables.documents(s, dir).select(
          col("doc_id"),
          graft.functions.Bpe.bpeTokenCount(t, vocab).cast("long").as("n_tokens"),
          round(TextFunctions.qualityScore(t), 6).as("quality")))
      graft.operators.Sampling.selectToBudget(
          scored, "quality", "doc_id", "n_tokens", budget = 25000L)
        .select("doc_id", "n_tokens", "quality")
        .orderBy("doc_id")
    },

    // t30's sliding-window chunking in BPE mode (the `tokenizer`
    // switch on Chunking.slidingTokenChunks): the 32/16 chunk grid is
    // laid over the REAL subword stream, so chunk boundaries land
    // where a training run's would. Still a map-only narrow plan —
    // the tokenizer swap changes the expression, not the shape.
    QueryDef.of("t36_bpe_chunks",
      s"""WITH RECURSIVE $BPE_DOCTOK_CTE,
         |toks AS (SELECT doc_id, string_split(bpe_text, ' ') AS t FROM doctok),
         |c AS (SELECT doc_id, CAST(u.s // 16 AS INT) AS chunk_idx,
         |    CAST(u.s AS INT) AS token_start,
         |    list_slice(t, u.s + 1, u.s + 32) AS ch
         |  FROM toks, unnest(generate_series(0, len(t) - 1, 16)) AS u(s)
         |  WHERE u.s < len(t))
         |SELECT doc_id, chunk_idx, token_start,
         |  CAST(len(ch) AS INT) AS n_chunk_tokens,
         |  array_to_string(ch, ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      val vocab = s.sparkContext.broadcast(graft.functions.Bpe.defaultVocab)
      graft.operators.Chunking.slidingTokenChunks(
          Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 32, stride = 16,
          tokenizer = c => graft.functions.Bpe.bpeTokens(c, vocab))
        .orderBy("doc_id", "chunk_idx")
    },

    // Leakage-FREE split assignment (Sampling.assignSplitByCluster):
    // the t16 hash split, but every member of a t09 near-dup cluster
    // keys its md5 bucket by the cluster representative (component min
    // id), so no near-dup pair can straddle train/test — the hole the
    // t33 audit exists to catch, closed at assignment time. The oracle
    // reuses t09's component CTE and t16's integer thresholds.
    QueryDef.of("t37_leakfree_split", {
      val th = graft.operators.Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      DupComponentsCte +
        s""",
           |keys AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS split_key
           |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
           |SELECT doc_id, split_key,
           |  CASE WHEN u < ${th(0)._2} THEN 'train'
           |       WHEN u < ${th(1)._2} THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id, split_key,
           |  ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8))::BIGINT AS u
           |  FROM keys)
           |ORDER BY doc_id""".stripMargin }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val dupPairs = Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.5,
          maxShingleDf = Some(1000))
        .select("id_a", "id_b")
      graft.operators.Sampling.assignSplitByCluster(
          docs, "doc_id", dupPairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split_key", "split")
        .orderBy("doc_id")
    },

    // BPE merge-table TRAINING (BpeTrain.trainMergesDistributed) on
    // the classic Sennrich et al. 2016 corpus (low×3, lower×2,
    // newest×4, widest×2) — a frozen literal fixture (j07-style), so
    // the oracle survives testdata regeneration AND is hand-derivable:
    // the 12 pinned rows below were computed by hand from the greedy
    // max-frequency / lexicographic-tie-break rule, not by running the
    // engine (training stops at 12 when every word is a single token).
    // The DISTRIBUTED trainer runs here; the spec pins driver ≡
    // distributed on the real documents corpus.
    QueryDef.of("t38_bpe_train",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'e', 's', CAST(6 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'es', 't', CAST(6 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'l', 'o', CAST(5 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'lo', 'w', CAST(5 AS BIGINT)),
        |  (CAST(5 AS BIGINT), 'e', 'w', CAST(4 AS BIGINT)),
        |  (CAST(6 AS BIGINT), 'ew', 'est', CAST(4 AS BIGINT)),
        |  (CAST(7 AS BIGINT), 'n', 'ewest', CAST(4 AS BIGINT)),
        |  (CAST(8 AS BIGINT), 'd', 'est', CAST(2 AS BIGINT)),
        |  (CAST(9 AS BIGINT), 'e', 'r', CAST(2 AS BIGINT)),
        |  (CAST(10 AS BIGINT), 'i', 'dest', CAST(2 AS BIGINT)),
        |  (CAST(11 AS BIGINT), 'low', 'er', CAST(2 AS BIGINT)),
        |  (CAST(12 AS BIGINT), 'w', 'idest', CAST(2 AS BIGINT))
        |) AS t(merge_rank, lhs, rhs, freq)
        |ORDER BY merge_rank""".stripMargin) { (s, _) =>
      import s.implicits._
      val corpus = Seq(
        "low low low", "lower lower",
        "newest newest newest newest", "widest widest").toDF("text")
      val merges = graft.operators.BpeTrain.trainMergesDistributed(
        graft.operators.BpeTrain.wordFreq(corpus, "text"), numMerges = 20)
      merges.zipWithIndex
        .map { case ((a, b, f), i) => (i + 1L, a, b, f) }
        .toDF("merge_rank", "lhs", "rhs", "freq")
        .orderBy("merge_rank")
    },

    // DSIR-style importance resampling (Dsir.resampleTopK): select the
    // 100 raw docs whose hashed-bigram distribution best matches the
    // lang='en' target domain, Gumbel-top-k without replacement. All
    // arithmetic is integer micro-nats on the md5 keystream, so the
    // oracle replays feature hashing, add-one smoothed log-ratios,
    // per-doc fold, Gumbel noise, and the k-boundary EXACTLY.
    QueryDef.of("t39_dsir_resample",
      """WITH toks AS (SELECT doc_id, lang,
        |    list_filter(regexp_extract_all(trim(text), '\S+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bk AS (SELECT doc_id, lang,
        |    list_transform(
        |      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]),
        |      g -> ('0x' || substr(md5(g), 1, 8))::BIGINT % 256) AS bs
        |  FROM toks),
        |ex AS (SELECT doc_id, lang, unnest(bs) AS b FROM bk),
        |rawc AS (SELECT b, count(*) AS c FROM ex GROUP BY b),
        |tgtc AS (SELECT b, count(*) AS c FROM ex WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT (SELECT count(*) FROM ex) AS tr,
        |               (SELECT count(*) FROM ex WHERE lang = 'en') AS tt),
        |spine AS (SELECT unnest(range(256)) AS b),
        |mr AS (SELECT s.b,
        |    CAST(round((ln((coalesce(t.c, 0) + 1.0) / (tot.tt + 256.0))
        |              - ln((coalesce(r.c, 0) + 1.0) / (tot.tr + 256.0))) * 1000000.0) AS BIGINT) AS m
        |  FROM spine s CROSS JOIN tot
        |  LEFT JOIN tgtc t ON t.b = s.b LEFT JOIN rawc r ON r.b = s.b),
        |lw0 AS (SELECT e.doc_id, CAST(SUM(mr.m) AS BIGINT) AS s
        |  FROM ex e JOIN mr ON mr.b = e.b GROUP BY e.doc_id),
        |lw AS (SELECT k.doc_id, CAST(len(k.bs) AS BIGINT) AS n_bigrams,
        |    coalesce(l.s, 0) AS logw_micro
        |  FROM bk k LEFT JOIN lw0 l USING (doc_id)),
        |g AS (SELECT doc_id, n_bigrams, logw_micro,
        |    CAST(round(-ln(-ln(
        |      (('0x' || substr(md5('gum:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
        |        / 1152921504606846978.0)) * 1000000.0) AS BIGINT) AS gumbel_micro
        |  FROM lw)
        |SELECT doc_id, n_bigrams, logw_micro, gumbel_micro,
        |  logw_micro + gumbel_micro AS key_micro
        |FROM g
        |ORDER BY key_micro DESC, doc_id
        |LIMIT 100""".stripMargin) { (s, dir) =>
      // post-scan rebalance (the t68 idiom): the persisted bucketize
      // projection (one md5 per bigram) otherwise materializes inside
      // the unsplittable one-row-group scan — StageAudit r19 measured
      // a 3.2 s single-task stage carrying 84% of the query
      graft.operators.Dsir.resampleTopKWithin(
        Tables.rebalanced(Tables.documents(s, dir)),
        col("lang") === "en",
        "doc_id", "text", b = 256, k = 100)
    },

    // Char-trigram language-ID (LangId, Cavnar-Trenkle profile
    // style): per-lang top-40 gram rank profiles trained on the
    // labeled corpus (one explode+agg, |langs|·40-row model), then
    // MAP-ONLY classification — summed ranks with absent→41 penalty,
    // argmin with lang tie-break. All integer, replayed exactly. (The
    // synthetic corpus shares one vocabulary across lang labels, so
    // accuracy is meaningless HERE — the real-language fixture in
    // LangIdSpec carries that burden; this oracle pins the machinery.)
    QueryDef.of("t42_langid_ngram",
      """WITH c AS (SELECT doc_id, lang,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
        |  FROM documents),
        |g AS (SELECT doc_id, lang, unnest(
        |    CASE WHEN len(s) >= 3
        |         THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
        |         ELSE [] END) AS gr
        |  FROM c),
        |pf AS (SELECT lang, gr, count(*) AS cnt FROM g GROUP BY 1, 2),
        |pr AS (SELECT lang, gr,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gr) AS rank
        |  FROM pf
        |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gr) <= 40),
        |langs AS (SELECT DISTINCT lang AS cand FROM documents),
        |dist AS (SELECT dg.doc_id, l.cand,
        |    CAST(SUM(coalesce(pr.rank, 41)) AS BIGINT) AS dist
        |  FROM g dg CROSS JOIN langs l
        |  LEFT JOIN pr ON pr.lang = l.cand AND pr.gr = dg.gr
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, cand, dist FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, cand) = 1)
        |SELECT d.doc_id, coalesce(b.cand, '') AS pred_lang,
        |  coalesce(b.dist, 0) AS dist
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.LangId.trainAndClassify(
          Tables.documents(s, dir), "doc_id", "lang", "text", n = 3, topK = 40)
        .orderBy("doc_id")
    },

    // HTML → text extraction (TextFunctions.htmlToText) — the web-
    // crawl front door. The corpus carries no HTML, so both sides
    // derive the same synthetic page from `text` (the t13 derived-
    // column pattern): title/style/comment/script blocks, a body
    // whose ' the ' occurrences become the &amp; entity, a script
    // embedding the text's own prefix. The extractor must drop every
    // block, strip tags, decode entities (&amp; LAST), and collapse
    // whitespace — all RE2-safe regex, replayed verbatim in DuckDB.
    QueryDef.of("t40_html_extract",
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style type="text/css">p{color:red}</style></head><body><!-- crawl ' ||
        |    CAST(doc_id AS VARCHAR) || ' --><p>' ||
        |    regexp_replace(text, ' the ', ' &amp; ', 'g') ||
        |    '</p><script>var s=''' || substr(text, 1, 20) ||
        |    ''';</script><br/></body></html>' AS html
        |  FROM documents),
        |x AS (SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(html,
        |      '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |      '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?s)<[^>]+>', ' ', 'g'),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |  FROM h)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_clean_chars
        |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style type=\"text/css\">p{color:red}</style></head><body><!-- crawl "),
        id, lit(" --><p>"),
        regexp_replace(col("text"), " the ", " &amp; "),
        lit("</p><script>var s='"), substring(col("text"), 1, 20),
        lit("';</script><br/></body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.htmlToText(html).as("clean_text"))
        .withColumn("n_clean_chars", length(col("clean_text")).cast("long"))
        .orderBy("doc_id")
    },

    // T45 (beyond-reference LLM curation): TRAINED quality classifier
    // (operators/QualityModel — fastText/DCLM-style logistic model on
    // hashed token counts, Joulin et al. 2016) with EXACT-INTEGER
    // training: hard-sigmoid micro-units, long gradients, exactly-
    // rounded divisions — so the LEARNED WEIGHTS are a deterministic
    // pure function of the corpus and the oracle replays all three
    // full-batch iterations CTE for CTE. Label: lang='en' (the
    // target-language filter). Output = the weight table itself.
    QueryDef.of("t45_quality_classifier", QcOracle) { (s, dir) =>
      import s.implicits._
      val feats = graft.operators.QualityModel.features(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", buckets = QcBuckets)
      val w = graft.operators.QualityModel.trainLogistic(
        feats, QcBuckets, iters = QcIters, lrDivPerDoc = QcLrPerDoc)
      w.zipWithIndex.map { case (wv, j) => (j.toLong, wv) }
        .toSeq.toDF("j", "w_micro").orderBy("j")
    },

    // T46: the classifier APPLIED — train on the cheap label, score
    // the whole corpus map-only under the broadcast weights, keep the
    // top 20 by (score, id). The end-to-end quality-filter pass a
    // curation pipeline runs (train → score → select); at 100 TB the
    // scoring is one narrow codegen projection and the selection a
    // TakeOrderedAndProject — the corpus is never sorted.
    QueryDef.of("t46_quality_filter", QcScoreOracle) { (s, dir) =>
      val feats = graft.operators.QualityModel.features(
        Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", buckets = QcBuckets)
      val w = graft.operators.QualityModel.trainLogistic(
        feats, QcBuckets, iters = QcIters, lrDivPerDoc = QcLrPerDoc)
      graft.operators.QualityModel.score(feats, w)
        .select(col("id").as("doc_id"), col("score_micro"))
        .orderBy(col("score_micro").desc, col("doc_id"))
        .limit(20)
    },

    // T47: URL canonicalization (UrlFunctions.normalizeUrl) — the
    // CCNet/RefinedWeb normalization that URL-keyed dedup and
    // per-domain quotas depend on. Synthetic URLs built from the
    // documents table cover every rule branch: case-folding of
    // scheme/host, default-port drop vs non-default keep, fragment
    // drop, tracking-param removal, byte-wise query sort, empty-path
    // '/', and RFC 3986 percent normalization (%70→p unreserved
    // decode, %2f→%2F reserved uppercase, %zz invalid pass-through).
    // Map-only over Spark built-ins (regex + higher-order array ops,
    // no UDF); the oracle replays each rule verbatim in DuckDB,
    // including the %-piece state machine (pn CTE).
    QueryDef.of("t47_url_normalize",
      """WITH raw AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/p/' ||
        |      CAST(doc_id AS VARCHAR) || '?utm_source=x&b=%32&a=1#frag'
        |    WHEN 1 THEN 'https://Node-' || source || '.ORG:8443/a%2fb%70?z=9&y=%4a'
        |    WHEN 2 THEN 'https://' || source || '.net:443'
        |    ELSE 'ftp://Files.' || source || '.io/da%zzta%7e#sec' END AS url
        |  FROM documents),
        |t AS (SELECT doc_id, trim(url) AS u FROM raw),
        |p1 AS (SELECT doc_id, u,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest0
        |  FROM t),
        |p2 AS (SELECT *, regexp_extract(rest0, '^([^/?#]*)', 1) AS hp FROM p1),
        |p3 AS (SELECT *,
        |    lower(regexp_replace(hp, ':[0-9]+$', '')) AS host,
        |    regexp_extract(hp, ':([0-9]+)$', 1) AS port,
        |    string_split(substr(rest0, length(hp) + 1), '%') AS rps
        |  FROM p2),
        |pn AS (SELECT *, rps[1] || coalesce(array_to_string(
        |    list_transform(rps[2:], q -> CASE
        |      WHEN NOT regexp_matches(q, '^[0-9A-Fa-f]{2}') THEN '%' || q
        |      WHEN regexp_matches(chr(CAST(
        |          (strpos('0123456789ABCDEF', substr(upper(q),1,1))-1)*16
        |          + strpos('0123456789ABCDEF', substr(upper(q),2,1))-1 AS INT)),
        |          '^[A-Za-z0-9._~-]$')
        |        THEN chr(CAST(
        |          (strpos('0123456789ABCDEF', substr(upper(q),1,1))-1)*16
        |          + strpos('0123456789ABCDEF', substr(upper(q),2,1))-1 AS INT))
        |          || substr(q, 3)
        |      ELSE '%' || upper(substr(q,1,2)) || substr(q,3) END), ''), '')
        |    AS rest
        |  FROM p3),
        |p4 AS (SELECT *,
        |    regexp_extract(rest, '^([^?#]*)', 1) AS path,
        |    regexp_extract(rest, '\?([^#]*)', 1) AS query FROM pn),
        |p5 AS (SELECT *,
        |    coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[^=]*|fbclid|gclid)(=.*)?$'))), '&'), '') AS q
        |  FROM p4)
        |SELECT doc_id,
        |  CASE WHEN scheme = '' THEN u ELSE scheme || '://' || host ||
        |    CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
        |           OR (scheme = 'https' AND port = '443'))
        |         THEN ':' || port ELSE '' END ||
        |    CASE WHEN path = '' THEN '/' ELSE path END ||
        |    CASE WHEN q = '' THEN '' ELSE '?' || q END END AS url_norm,
        |  host
        |FROM p5 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val url = (when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("HTTP://WWW."), col("source"), lit(".Example.COM:80/p/"),
            col("doc_id").cast("string"), lit("?utm_source=x&b=%32&a=1#frag")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("https://Node-"), col("source"), lit(".ORG:8443/a%2fb%70?z=9&y=%4a")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("https://"), col("source"), lit(".net:443")))
        .otherwise(
          concat(lit("ftp://Files."), col("source"), lit(".io/da%zzta%7e#sec"))))
      Tables.documents(s, dir)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          graft.functions.UrlFunctions.normalizeUrl(col("url")).as("url_norm"),
          graft.functions.UrlFunctions.urlHost(col("url")).as("host"))
        .orderBy("doc_id")
    },

    // T48: per-DOMAIN quota (Sampling.selectToBudgetPerGroupUniform
    // over UrlFunctions.urlHost) — cap any one host's contribution at
    // 3000 chars, preferring longer docs, ties by doc_id. The CCNet/
    // RefinedWeb "don't let megasites dominate" pass: the domain set
    // is DISCOVERED from the data (t47's synthetic URLs → ~80 hosts
    // at sf0.01), so the uniform-cap form is the only one that
    // scales — a static budget map cannot name a million hosts.
    // Oracle: naive per-host ordered cumulative sum; the engine runs
    // the grouped two-phase bounded form (bucket prefix sums + ≤1
    // ranked boundary bucket per host).
    QueryDef.of("t48_domain_quota",
      """WITH raw AS (SELECT doc_id, n_chars, CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/p/' ||
        |      CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
        |    WHEN 1 THEN 'https://Node-' || source || '.ORG:8443/a/b?z=9&y=8'
        |    WHEN 2 THEN 'https://' || source || '.net:443'
        |    ELSE 'ftp://Files.' || source || '.io/data#sec' END AS url
        |  FROM documents),
        |h AS (SELECT doc_id, n_chars,
        |    lower(regexp_replace(regexp_extract(
        |      regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |      '^([^/?#]*)', 1), ':[0-9]+$', '')) AS host
        |  FROM raw),
        |s AS (SELECT doc_id, host, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY host
        |      ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h)
        |SELECT doc_id, host, CAST(n_chars AS BIGINT) AS n_chars
        |FROM s WHERE cum <= 3000 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val url = (when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("HTTP://WWW."), col("source"), lit(".Example.COM:80/p/"),
            col("doc_id").cast("string"), lit("?utm_source=x&b=2&a=1#frag")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("https://Node-"), col("source"), lit(".ORG:8443/a/b?z=9&y=8")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("https://"), col("source"), lit(".net:443")))
        .otherwise(
          concat(lit("ftp://Files."), col("source"), lit(".io/data#sec"))))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), url.as("url"), col("n_chars"))
        .select(col("doc_id"),
          graft.functions.UrlFunctions.urlHost(col("url")).as("host"),
          col("n_chars"), col("n_chars").cast("double").as("score"))
      graft.operators.Sampling.selectToBudgetPerGroupUniform(
          scored, "host", "score", "doc_id", "n_chars", budgetPerGroup = 3000L)
        .select("doc_id", "host", "n_chars")
        .orderBy("doc_id")
    },

    // T52: per-REGISTRABLE-DOMAIN quota — t48's cap re-keyed through
    // UrlFunctions.registrableDomain under a caller-supplied suffix
    // snapshot, closing the quota-evasion hole the host key leaves
    // open: every `www.<source>.example.com` subdomain (25% of the
    // corpus, one per source otherwise) collapses into the single
    // eTLD+1 group `example.com`, which then gets ONE 3000-char
    // budget instead of one per subdomain. The suffix match is a
    // map-only longest-suffix scan over a literal array (a real PSL
    // snapshot is ~10k entries, still literal-sized); the oracle
    // replays the match in DuckDB with the same list machinery, then
    // the naive per-domain ordered cumulative sum.
    QueryDef.of("t52_registrable_domain_quota",
      """WITH raw AS (SELECT doc_id, n_chars, CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/p/' ||
        |      CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
        |    WHEN 1 THEN 'https://Node-' || source || '.ORG:8443/a/b?z=9&y=8'
        |    WHEN 2 THEN 'https://' || source || '.net:443'
        |    ELSE 'ftp://Files.' || source || '.io/data#sec' END AS url
        |  FROM documents),
        |h AS (SELECT doc_id, n_chars,
        |    lower(regexp_replace(regexp_extract(
        |      regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |      '^([^/?#]*)', 1), ':[0-9]+$', '')) AS host
        |  FROM raw),
        |sp AS (SELECT doc_id, n_chars, host,
        |    string_split(host, '.') AS parts, len(string_split(host, '.')) AS n
        |  FROM h),
        |kb AS (SELECT *, coalesce(list_max(list_transform(range(1, n), k -> CASE
        |      WHEN list_contains(['com','org','net','io','co.uk'],
        |        array_to_string(list_slice(parts, -CAST(k AS INT), -1), '.'))
        |      THEN k ELSE 0 END)), 0) AS kbest
        |  FROM sp),
        |rd AS (SELECT doc_id, n_chars,
        |    CASE WHEN kbest > 0 THEN
        |      array_to_string(list_slice(parts, -CAST(kbest + 1 AS INT), -1), '.')
        |    ELSE host END AS rdomain
        |  FROM kb),
        |s AS (SELECT doc_id, rdomain, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY rdomain
        |      ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rd)
        |SELECT doc_id, rdomain, CAST(n_chars AS BIGINT) AS n_chars
        |FROM s WHERE cum <= 3000 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val url = (when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("HTTP://WWW."), col("source"), lit(".Example.COM:80/p/"),
            col("doc_id").cast("string"), lit("?utm_source=x&b=2&a=1#frag")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("https://Node-"), col("source"), lit(".ORG:8443/a/b?z=9&y=8")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("https://"), col("source"), lit(".net:443")))
        .otherwise(
          concat(lit("ftp://Files."), col("source"), lit(".io/data#sec"))))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), url.as("url"), col("n_chars"))
        .select(col("doc_id"),
          graft.functions.UrlFunctions.registrableDomain(
            graft.functions.UrlFunctions.urlHost(col("url")),
            Seq("com", "org", "net", "io", "co.uk")).as("rdomain"),
          col("n_chars"), col("n_chars").cast("double").as("score"))
      graft.operators.Sampling.selectToBudgetPerGroupUniform(
          scored, "rdomain", "score", "doc_id", "n_chars", budgetPerGroup = 3000L)
        .select("doc_id", "rdomain", "n_chars")
        .orderBy("doc_id")
    },

    // T53: tokenizer ROUNDTRIP — decode(encode-per-word(text)) must
    // equal the whitespace-normalized source for EVERY document: the
    // losslessness property an LLM pipeline needs before it budgets,
    // chunks, or packs by token counts (a tokenizer that drops or
    // reorders content corrupts silently downstream). The oracle
    // never runs BPE: it IS the normalized source text, so any
    // encode/decode defect — a lost piece, a misordered merge, a
    // boundary glitch — breaks the hash equality corpus-wide. Decode
    // is pure built-ins over the nested per-word encoding (merges
    // only concatenate within a word; whitespace runs are the
    // pretokenizer's only designed loss).
    QueryDef.of("t53_bpe_roundtrip",
      """SELECT doc_id,
        |  regexp_replace(trim(text), '\s+', ' ', 'g') AS decoded,
        |  CAST(length(regexp_replace(trim(text), '\s+', ' ', 'g')) AS BIGINT)
        |    AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val vocab = s.sparkContext.broadcast(graft.functions.Bpe.defaultVocab)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Bpe.bpeDecode(
            graft.functions.Bpe.bpeTokensPerWord(col("text"), vocab)).as("decoded"))
        .withColumn("n_chars_norm", length(col("decoded")).cast("long"))
        .orderBy("doc_id")
    },

    // T54: TEMPERATURE-scaled mixture (Mixture.temperatureMix, the
    // mBERT/XLM-R α-smoothing / GPT-3 mixture-table recipe): resample
    // the corpus BY LANGUAGE toward q_s ∝ p_s^0.5 — the canonical
    // multilingual use: the en head (218 docs at sf0.01) downsamples
    // to rate 8/√218 ≈ 0.54 while the binding fr tail keeps
    // everything; no upsampling. (The synthetic `source` column is
    // deliberately uniform — keying on it would make the smoothing a
    // vacuous no-op.) α = 0.5 rides on `sqrt`, which IEEE requires to be
    // correctly rounded, so the DOUBLE rate pipeline (counts → sqrt
    // weights → global min scale → per-source thresholds) is
    // bit-identical in DuckDB and the md5-gated survivor set is
    // hash-exact. One |sources|-row aggregate + broadcast join +
    // map-only gate over the corpus — the t21 scale shape.
    QueryDef.of("t54_temperature_mix",
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |cw AS (SELECT lang, n, sqrt(n) AS w FROM c),
        |m AS (SELECT min(n / w) AS cmin FROM cw),
        |r AS (SELECT lang, CAST(floor(cmin * w / n * 4294967296) AS BIGINT) AS thr
        |  FROM cw CROSS JOIN m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < r.thr
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Mixture.temperatureMix(
          Tables.documents(s, dir), "lang", "doc_id", alpha = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // T55: winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    // MOSS scheme) — per-document summary of the rightmost-min window
    // selection over 5-gram md5 hashes with window w = 4. The oracle
    // replays the ENTIRE algorithm: positional 5-gram hashing (t24's g
    // CTE), the packed rightmost-min key (h ‖ zeropad(10^9 − pos) so a
    // plain window min() does the tie-break), the valid-start filter
    // with the short-document degenerate window, the distinct
    // selection, and the position-ordered digest — so the hash-compare
    // checks the selection semantics themselves, not just row counts.
    QueryDef.of("t55_winnowing",
      s"""WITH d AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |g AS (SELECT doc_id,
         |    unnest(range(0, greatest(len(t) - 4, 0))) AS pos,
         |    unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
         |      i -> md5(array_to_string(t[i:i+4], ' ')))) AS h
         |  FROM d),
         |ky AS (SELECT doc_id, pos,
         |    h || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0') AS key
         |  FROM g),
         |wm AS (SELECT doc_id, pos,
         |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
         |    count(*) OVER (PARTITION BY doc_id) AS m
         |  FROM ky),
         |sel AS (SELECT DISTINCT doc_id,
         |    1000000000 - CAST(substr(wkey, 33, 10) AS BIGINT) AS fpos,
         |    substr(wkey, 1, 32) AS fh
         |  FROM wm WHERE pos <= greatest(m - 4, 0)),
         |gs AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id)
         |SELECT s.doc_id, gs.n_grams, count(*) AS n_fps,
         |  round(CAST(count(*) AS DOUBLE) / gs.n_grams, 6) AS density,
         |  md5(string_agg(s.fh, ' ' ORDER BY s.fpos)) AS digest
         |FROM sel s JOIN gs USING (doc_id)
         |GROUP BY s.doc_id, gs.n_grams
         |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Winnowing.summary(
          Tables.documents(s, dir), "doc_id", "text", k = 5, w = 4)
        .orderBy("doc_id")
    },

    // T56: n-gram novelty scoring — the scoring half of decontamination
    // (t12 filters; this MEASURES). Reference snapshot = every tenth
    // document; each remaining document scores the fraction of its
    // DISTINCT 8-gram hashes absent from the snapshot. One distinct
    // per-doc shingle set, one hash-bucketed left join against the
    // (distinct) reference hash set — never an all-pairs product; at
    // 100 TB both sides shuffle once on the 16-byte hash and AQE
    // handles the hot-hash skew.
    QueryDef.of("t56_ngram_novelty",
      s"""WITH d AS (SELECT doc_id, $CTOKS AS t FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(t) - 6, 1)),
         |      i -> md5(array_to_string(t[i:i+7], ' ')))) AS h
         |  FROM d WHERE len(t) >= 8),
         |ref AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 = 0),
         |sc AS (SELECT g.doc_id, count(*) AS n_ngrams,
         |    CAST(sum(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM g LEFT JOIN ref ON g.h = ref.h
         |  WHERE g.doc_id % 10 <> 0
         |  GROUP BY g.doc_id)
         |SELECT doc_id, n_ngrams, n_novel,
         |  round(CAST(n_novel AS DOUBLE) / n_ngrams, 6) AS novelty
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.operators.Decontaminate.novelty(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 8)
        .orderBy("doc_id")
    })
}
