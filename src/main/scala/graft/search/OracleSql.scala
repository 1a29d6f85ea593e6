package graft.search

import graft.analysis.Analyzer

/** DuckDB-SQL mirrors of the engine's oracle-checkable stages, built from
  * the same pinned configuration (stop list, BM25 params) so the driver's
  * DuckDB compare gates real semantics, not copies of constants.
  *
  * The SQL tokenizer `regexp_split_to_array(text, '[^a-zA-Z0-9]+')` +
  * `length(tok) > 2` + `lower` is property-tested equivalent to the
  * engine's scanner (AnalyzerSpec); Porter stemming is NOT SQL-expressible,
  * so the stemmed chain is gated via [[bm25TopKFromTfParquet]] over
  * MATERIALIZED JVM-stemmed tf rows, leaving only the stemmer itself to the
  * in-repo ScalaTest oracle (golden vectors, SURVEY.md §5).
  */
object OracleSql {

  private def q(w: String) = "'" + w.replace("'", "''") + "'"

  lazy val stopList: String =
    Analyzer.defaultStopWords.toSeq.sorted.map(q).mkString(", ")

  /** tokenize + stop-filter (no stem) over the `documents` table. */
  lazy val tokCte: String =
    s"""tok AS (
  SELECT doc_id, lower(tok) AS term
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^a-zA-Z0-9]+')) AS tok
        FROM documents)
  WHERE length(tok) > 2 AND lower(tok) NOT IN ($stopList))"""

  /** bare tokenizer, no stop filter (F1 alone). */
  lazy val tokBareCte: String =
    """tokb AS (
  SELECT doc_id, lower(tok) AS term
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^a-zA-Z0-9]+')) AS tok
        FROM documents)
  WHERE length(tok) > 2)"""

  lazy val tfCte: String =
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)"

  lazy val dfCte: String =
    "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)"

  lazy val dlCte: String =
    "dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id)"

  lazy val statsCte: String =
    """stats AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         CAST((SELECT coalesce(sum(tf), 0) FROM tf) AS DOUBLE)
           / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl)"""

  /** BM25 top-k for one query — mirrors [[RelationalBM25.topK]] including
    * literal construction order ((k1 + 1.0), (1.0 - b)) so double math
    * agrees, and the 4-decimal rounding + (score desc, doc_id asc) total
    * order. Delegates to the shared [[bm25Core]] (one copy of the weight
    * expression across all five BM25 twins — the oracle math cannot drift
    * between variants).
    */
  def bm25TopK(query: String, k: Int, p: BM25Params = BM25.default): String =
    bm25Core(query, k, "documents", "", conjunctive = false, p)

  /** Pagination twin ([[graft.index.PostingIndex.searchAfterRounded]]):
    * page (offset/k)+1 of the same rounded total order — OFFSET is exact
    * in SQL at oracle scale; the engine side uses the cursor form
    * precisely because OFFSET does not scale.
    */
  def bm25TopKPage(query: String, k: Int, offset: Int,
                   p: BM25Params = BM25.default): String =
    bm25Core(query, k, "documents", "", conjunctive = false, p) +
      s" OFFSET $offset"

  /** Source-diversified twin ([[RelationalBM25.topKDiverse]]): the same
    * scored relation, row_number window per `source` capped at
    * `perSource`, then the global rounded (score desc, doc_id asc) k-cut.
    */
  def bm25TopKDiverse(query: String, k: Int, perSource: Int,
                      p: BM25Params = BM25.default): String = {
    val terms = RelationalBM25.queryTerms(query, stem = false)
    require(terms.nonEmpty, s"query '$query' has no surviving terms")
    val values = terms.map { case (t, qtf) => s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    s"""WITH $tokCte, $tfCte, $dfCte, $dlCte, $statsCte,
qt AS (SELECT * FROM (VALUES $values) AS v(term, qtf)),
w AS (
  SELECT tf.doc_id,
         ${weightSql(p)} AS w
  FROM tf JOIN df USING (term) JOIN qt USING (term)
       JOIN dl USING (doc_id) CROSS JOIN stats),
sc AS (SELECT doc_id, round(sum(w), 4) AS score FROM w GROUP BY doc_id),
ds AS (
  SELECT sc.doc_id, sc.score, d.source,
         row_number() OVER (PARTITION BY d.source
           ORDER BY sc.score DESC, sc.doc_id ASC) AS rn
  FROM sc JOIN documents d USING (doc_id))
SELECT doc_id, score, source FROM ds
WHERE rn <= $perSource
ORDER BY score DESC, doc_id ASC
LIMIT $k"""
  }

  /** Page-diversified twin ([[graft.index.PostingIndex.searchDiverseRounded]]):
    * the rounded top-`candidates` page as a CTE (the [[bm25TopK]]
    * contract), source hydration, the per-source row_number cap, then the
    * global k-cut — field-collapse-on-the-page semantics, distinct from
    * [[bm25TopKDiverse]]'s global form.
    */
  def bm25TopKDiversePage(query: String, k: Int, perSource: Int,
                          candidates: Int,
                          p: BM25Params = BM25.default): String =
    s"""WITH page AS (
${bm25TopK(query, candidates, p)}
),
dsp AS (
  SELECT page.doc_id, page.score, d.source,
         row_number() OVER (PARTITION BY d.source
           ORDER BY page.score DESC, page.doc_id ASC) AS rn
  FROM page JOIN documents d USING (doc_id))
SELECT doc_id, score, source FROM dsp
WHERE rn <= $perSource
ORDER BY score DESC, doc_id ASC
LIMIT $k"""

  /** Conjunctive (AND) variant: only docs matching EVERY distinct query
    * term score — `HAVING count(*) = |terms|` over the per-(doc, term)
    * weight rows.
    */
  def bm25TopKConjunctive(query: String, k: Int, p: BM25Params = BM25.default): String =
    bm25Core(query, k, "documents", "", conjunctive = true, p)

  /** Shared core of ALL BM25 twins: top-k where the statistics corpus
    * (`docsFrom`, a FROM-able expression), the candidate restriction
    * (`candWhere`, a WHERE clause over `tf.doc_id` inside the weight CTE,
    * or empty) and conjunctive matching vary independently. One copy of
    * the weight expression — literal construction order ((k1 + 1.0),
    * (1.0 - b)), 4-dp rounding, (score desc, doc_id asc) total order.
    */
  private def bm25Core(query: String, k: Int, docsFrom: String,
                       candWhere: String, conjunctive: Boolean,
                       p: BM25Params): String = {
    val terms = RelationalBM25.queryTerms(query, stem = false)
    require(terms.nonEmpty, s"query '$query' has no surviving terms")
    val values = terms.map { case (t, qtf) => s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    val having = if (conjunctive) s"\nHAVING count(*) = ${terms.size}" else ""
    bm25CoreQt(s"qt AS (SELECT * FROM (VALUES $values) AS v(term, qtf))",
      k, docsFrom, candWhere, having, "", p)
  }

  /** The one copy of the BM25 weight SQL, with the query-term CTE (`qt`,
    * exposing columns (term, qtf)), the HAVING clause, and any extra CTEs
    * (placed after `stats`, before `qt`) injectable — the VALUES-anchored
    * twins, the prefix-expansion twin, and the phrase twin all share it.
    */
  private def bm25CoreQt(qtCte: String, k: Int, docsFrom: String,
                         candWhere: String, having: String,
                         extraCtes: String, p: BM25Params): String = {
    val extra = if (extraCtes.isEmpty) "" else s"\n$extraCtes,"
    s"""WITH docs AS (SELECT * FROM $docsFrom),
tok AS (
  SELECT doc_id, lower(tok) AS term
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^a-zA-Z0-9]+')) AS tok
        FROM docs)
  WHERE length(tok) > 2 AND lower(tok) NOT IN ($stopList)),
$tfCte, $dfCte, $dlCte,
stats AS (
  SELECT CAST((SELECT count(*) FROM docs) AS DOUBLE) AS n,
         CAST((SELECT coalesce(sum(tf), 0) FROM tf) AS DOUBLE)
           / CAST((SELECT count(*) FROM docs) AS DOUBLE) AS avgdl),$extra
$qtCte,
w AS (
  SELECT tf.doc_id,
         ${weightSql(p)} AS w
  FROM tf JOIN df USING (term) JOIN qt USING (term)
       JOIN dl USING (doc_id) CROSS JOIN stats
  $candWhere)
SELECT doc_id, round(sum(w), 4) AS score
FROM w GROUP BY doc_id$having
ORDER BY round(sum(w), 4) DESC, doc_id ASC
LIMIT $k"""
  }

  /** The single copy of the BM25 weight expression — shared by the
    * single-query core ([[bm25CoreQt]]) and the batch twin
    * ([[bm25TopKMany]]) so the oracle math cannot drift between the
    * per-query and batch surfaces. Mirrors [[RelationalBM25.topK]]
    * literal construction order ((k1 + 1.0), (1.0 - b)).
    */
  private def weightSql(p: BM25Params): String =
    s"""ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * (${p.k1} + 1.0))
           / (tf.tf + ${p.k1} * ((1.0 - ${p.b}) + ${p.b} * dl.dl / stats.avgdl))
           * qt.qtf"""

  /** Batch-search twin ([[graft.index.PostingIndex.searchManyRounded]] /
    * [[graft.index.PostingIndex.searchManyTable]]): per-query BM25 top-k
    * over an explicit (query_id, query) set in one statement — the qt
    * relation carries query_id, the weight rows group by (query_id,
    * doc_id), and the k-cut is a per-query row_number over the same
    * rounded (score desc, doc_id asc) total order as [[bm25TopK]].
    * Queries whose terms all analyze away contribute no rows (the engine
    * drops them identically).
    */
  def bm25TopKMany(queries: Seq[(Long, String)], k: Int,
                   p: BM25Params = BM25.default): String = {
    val values = queries.flatMap { case (qid, query) =>
      RelationalBM25.queryTerms(query, stem = false).map { case (t, qtf) =>
        s"($qid, ${q(t)}, CAST($qtf AS DOUBLE))" }
    }.mkString(", ")
    // every query analyzed away: mirror the ENGINE's empty-result contract
    // (searchManyRounded/searchManyTable return an empty frame) instead of
    // throwing — a degenerate WHERE FALSE statement with the batch schema
    if (values.isEmpty)
      return """SELECT CAST(NULL AS BIGINT) AS query_id,
  CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score
WHERE FALSE"""
    s"""WITH $tokCte, $tfCte, $dfCte, $dlCte, $statsCte,
qt AS (SELECT * FROM (VALUES $values) AS v(query_id, term, qtf)),
w AS (
  SELECT qt.query_id, tf.doc_id,
         ${weightSql(p)} AS w
  FROM tf JOIN df USING (term) JOIN qt USING (term)
       JOIN dl USING (doc_id) CROSS JOIN stats),
s AS (SELECT query_id, doc_id, round(sum(w), 4) AS score
      FROM w GROUP BY query_id, doc_id),
r AS (SELECT s.*, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk FROM s)
SELECT query_id, doc_id, score FROM r WHERE rk <= $k
ORDER BY query_id ASC, score DESC, doc_id ASC"""
  }

  /** Synonym-expansion twin
    * ([[graft.index.PostingIndex.searchSynonymsRounded]]): the expanded
    * query-term relation is computed IN SQL from the same (term, syn)
    * VALUES — base terms keep their qtf, each term's synonyms (distinct,
    * (syn asc) row_number cap) inherit it, and weights SUM per expanded
    * term (the engine's additive merge contract). A synonym outside the
    * corpus vocabulary joins no tf rows and contributes nothing — in both
    * engines.
    */
  def bm25TopKSynonyms(query: String, synonyms: Seq[(String, String)],
                       k: Int, maxExpansionsPerTerm: Int = 8,
                       p: BM25Params = BM25.default): String = {
    val base = RelationalBM25.queryTerms(query, stem = false)
    require(base.nonEmpty, s"query '$query' has no surviving terms")
    val baseValues = base.map { case (t, qtf) =>
      s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    val synValues = synonyms.map { case (t, s) => s"(${q(t)}, ${q(s)})" }
      .mkString(", ")
    bm25CoreQt(
      s"""qt AS (
  SELECT term, CAST(sum(qtf) AS DOUBLE) AS qtf FROM (
    SELECT term, qtf FROM qbase
    UNION ALL
    SELECT s.syn AS term, qbase.qtf
    FROM (SELECT term, syn, row_number() OVER (
            PARTITION BY term ORDER BY syn ASC) AS rn
          FROM (SELECT DISTINCT * FROM (VALUES $synValues) AS v(term, syn))) s
    JOIN qbase USING (term)
    WHERE s.rn <= $maxExpansionsPerTerm)
  GROUP BY term)""",
      k, "documents", "", "",
      s"qbase AS (SELECT * FROM (VALUES $baseValues) AS b(term, qtf))", p)
  }

  /** Percolator twin ([[graft.ops.Percolate.percolate]]): conjunctive
    * standing-query containment recomputed from the corpus — distinct
    * per-document terms joined to the analyzed query-term VALUES, match
    * counts compared to each query's distinct-term count. Queries whose
    * terms all analyze away contribute no VALUES rows and match nothing
    * (the engine's contract).
    */
  def percolate(queries: Seq[(Long, String)]): String = {
    val rows = queries.flatMap { case (qid, query) =>
      RelationalBM25.queryTerms(query, stem = false).map(_._1).distinct
        .map(t => s"($qid, ${q(t)})")
    }
    // all standing queries analyzed away: the engine matches nothing, so
    // the twin emits the empty result with the same schema, not an error
    if (rows.isEmpty)
      return """SELECT CAST(NULL AS BIGINT) AS doc_id,
  CAST(NULL AS BIGINT) AS query_id WHERE FALSE"""
    s"""WITH $tokCte,
qt AS (SELECT * FROM (VALUES ${rows.mkString(", ")}) AS v(query_id, term)),
qn AS (SELECT query_id, count(*) AS n FROM qt GROUP BY query_id),
dt AS (SELECT DISTINCT doc_id, term FROM tok),
m AS (SELECT dt.doc_id, qt.query_id, count(*) AS c
      FROM dt JOIN qt USING (term) GROUP BY 1, 2)
SELECT m.doc_id, m.query_id FROM m JOIN qn USING (query_id)
WHERE m.c = qn.n ORDER BY doc_id, query_id"""
  }

  /** Exact cosine top-k twin (the `ann_brute_cosine` form, parameterized):
    * the query vector is embeddings row `qVecId`; 6-dp rounding,
    * (cos desc, vec_id asc) total order.
    */
  def cosineTopK(qVecId: Long, k: Int): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $qVecId),
qx AS (SELECT generate_subscripts(qv, 1) AS i, CAST(unnest(qv) AS DOUBLE) AS x FROM q),
ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
d AS (SELECT e.vec_id, sum(e.x * q.x) AS dot, sum(e.x * e.x) AS na
      FROM ex e JOIN qx q USING (i) GROUP BY 1),
qn AS (SELECT sum(x*x) AS nb FROM qx)
SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
FROM d, qn ORDER BY cos DESC, vec_id LIMIT $k"""

  /** Hybrid-retrieval twin ([[graft.search.Hybrid.rrfSearch]]):
    * reciprocal-rank fusion of the BM25 top-`candidates` (the shared
    * [[bm25TopK]] core) and the cosine top-`candidates`
    * ([[cosineTopK]]) — ranks assigned over each list's public rounded
    * total order, absent-from-a-list coalesced to rank 0 (contributes
    * nothing, and hashes identically across engines where NULL might
    * not), 1/(rrfK + rank) contributions summed lex-first in both
    * engines, 6-dp rounded, (rrf desc, doc_id asc) total order.
    */
  def hybridRrf(query: String, qVecId: Long, k: Int, candidates: Int,
                rrfK: Int = 60): String = {
    val one = "CAST(1.0 AS DOUBLE)"
    val zero = "CAST(0.0 AS DOUBLE)"
    s"""WITH lex AS (SELECT doc_id, row_number() OVER (
    ORDER BY score DESC, doc_id ASC) AS lex_rank
  FROM (${bm25TopK(query, candidates)})),
vec AS (SELECT vec_id AS doc_id, row_number() OVER (
    ORDER BY cos DESC, vec_id ASC) AS vec_rank
  FROM (${cosineTopK(qVecId, candidates)})),
f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             coalesce(l.lex_rank, 0) AS lex_rank,
             coalesce(v.vec_rank, 0) AS vec_rank
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
SELECT doc_id, lex_rank, vec_rank,
       round((CASE WHEN lex_rank > 0 THEN $one / ($rrfK + lex_rank) ELSE $zero END)
           + (CASE WHEN vec_rank > 0 THEN $one / ($rrfK + vec_rank) ELSE $zero END), 6) AS rrf
FROM f ORDER BY rrf DESC, doc_id ASC LIMIT $k"""
  }

  /** Suggestion twin ([[graft.index.PostingIndex.suggest]]): the
    * did-you-mean dictionary probe — the `maxSuggestions` highest-df
    * corpus terms within Levenshtein distance `maxEdits` of `term`, ties
    * term-ascending, df exposed (index df == corpus df by the S8 gate;
    * both sides count live + tombstoned postings until a compact).
    */
  def suggestTerms(term: String, maxEdits: Int, maxSuggestions: Int): String = {
    require(term.nonEmpty && term.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
      s"suggest term must be non-empty [a-z0-9]+, got '$term'")
    s"""WITH $tokCte, $tfCte, $dfCte
SELECT term, df FROM df
WHERE abs(length(term) - ${term.length}) <= $maxEdits
  AND levenshtein(term, ${q(term)}) <= $maxEdits
ORDER BY df DESC, term ASC
LIMIT $maxSuggestions"""
  }

  /** Attribute-filtered twin ([[graft.index.PostingIndex.searchFiltered]]):
    * statistics stay corpus-GLOBAL (Lucene filter-query semantics); only
    * documents satisfying `attrPred` (a predicate over `documents` columns,
    * e.g. `lang = 'en'`) may occupy a top-k slot.
    */
  def bm25TopKFiltered(query: String, k: Int, attrPred: String,
                       p: BM25Params = BM25.default): String =
    bm25Core(query, k, "documents",
      s"WHERE tf.doc_id IN (SELECT doc_id FROM docs WHERE $attrPred)",
      conjunctive = false, p)

  /** Prefix-expansion twin ([[graft.index.PostingIndex.searchPrefixRounded]]):
    * the expansion set — the `maxExpansions` highest-df index terms starting
    * with `prefix`, ties term-ascending — is computed IN SQL from the same
    * corpus (index df == corpus df by the S8 gate), each expanded term
    * scoring with weight 1.
    */
  def bm25TopKPrefix(prefix: String, k: Int, maxExpansions: Int,
                     p: BM25Params = BM25.default): String = {
    require(prefix.nonEmpty && prefix.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
      s"prefix must be non-empty [a-z0-9]+, got '$prefix'")
    bm25CoreQt(
      s"""qt AS (SELECT term, CAST(1.0 AS DOUBLE) AS qtf FROM df
  WHERE term LIKE ${q(prefix + "%")}
  ORDER BY df DESC, term ASC LIMIT $maxExpansions)""",
      k, "documents", "", "", "", p)
  }

  /** Wildcard-expansion twin
    * ([[graft.index.PostingIndex.searchWildcardRounded]]): the expansion
    * set — the `maxExpansions` highest-df index terms matching the
    * `*`/`?` pattern (SQL LIKE both engines), ties term-ascending — each
    * scoring with weight 1.
    */
  def bm25TopKWildcard(pattern: String, k: Int, maxExpansions: Int,
                       p: BM25Params = BM25.default): String = {
    val pl = pattern.toLowerCase(java.util.Locale.ROOT)
    require(pl.nonEmpty && pl.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '*' || c == '?'),
      s"wildcard pattern must be [a-z0-9*?]+, got '$pattern'")
    val like = pl.replace("*", "%").replace("?", "_")
    bm25CoreQt(
      s"""qt AS (SELECT term, CAST(1.0 AS DOUBLE) AS qtf FROM df
  WHERE term LIKE ${q(like)}
  ORDER BY df DESC, term ASC LIMIT $maxExpansions)""",
      k, "documents", "", "", "", p)
  }

  /** Fuzzy-expansion twin ([[graft.index.PostingIndex.searchFuzzyRounded]]):
    * the expansion set — the `maxExpansions` highest-df index terms within
    * Levenshtein distance `maxEdits` of `term`, ties term-ascending — is
    * computed IN SQL from the same corpus (DuckDB `levenshtein` and Spark's
    * built-in are both the classic insert/delete/substitute distance), each
    * expanded term scoring with weight 1.
    */
  def bm25TopKFuzzy(term: String, k: Int, maxEdits: Int, maxExpansions: Int,
                    p: BM25Params = BM25.default): String = {
    require(term.nonEmpty && term.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
      s"fuzzy term must be non-empty [a-z0-9]+, got '$term'")
    bm25CoreQt(
      s"""qt AS (SELECT term, CAST(1.0 AS DOUBLE) AS qtf FROM df
  WHERE abs(length(term) - ${term.length}) <= $maxEdits
    AND levenshtein(term, ${q(term)}) <= $maxEdits
  ORDER BY df DESC, term ASC LIMIT $maxExpansions)""",
      k, "documents", "", "", "", p)
  }

  /** Boolean-query twin ([[graft.index.PostingIndex.searchBooleanRounded]]):
    * candidates contain every distinct `must` term and no `mustNot` term
    * (must empty: ≥ 1 `should` term via the qt inner join); the score sums
    * the shared BM25 weight expression over the merged positive (must ∪
    * should) qtf relation — identical to the engine's merged posQtf, so a
    * term in both clauses carries the summed weight in BOTH engines.
    */
  def bm25TopKBoolean(must: String, should: String, mustNot: String, k: Int,
                      p: BM25Params = BM25.default): String = {
    val mustT = RelationalBM25.queryTerms(must, stem = false)
    val shouldT = RelationalBM25.queryTerms(should, stem = false)
    val notT = RelationalBM25.queryTerms(mustNot, stem = false).map(_._1)
    require(mustT.nonEmpty || shouldT.nonEmpty,
      "boolean query needs >= 1 surviving must or should term")
    val pos = (mustT ++ shouldT).groupBy(_._1).toSeq
      .map { case (t, xs) => (t, xs.map(_._2).sum) }.sortBy(_._1)
    val values = pos.map { case (t, qtf) =>
      s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    val conds = scala.collection.mutable.ArrayBuffer.empty[String]
    if (mustT.nonEmpty) {
      val list = mustT.map(x => q(x._1)).mkString(", ")
      conds += s"""tf.doc_id IN (SELECT doc_id FROM tf
    WHERE term IN ($list) GROUP BY doc_id
    HAVING count(DISTINCT term) = ${mustT.size})"""
    }
    if (notT.nonEmpty) {
      val list = notT.map(q).mkString(", ")
      conds += s"tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ($list))"
    }
    val candWhere =
      if (conds.isEmpty) "" else "WHERE " + conds.mkString("\n    AND ")
    bm25CoreQt(s"qt AS (SELECT * FROM (VALUES $values) AS v(term, qtf))",
      k, "documents", candWhere, "", "", p)
  }

  /** More-like-this twin
    * ([[graft.index.PostingIndex.searchMoreLikeThisRounded]]): the source
    * document's term profile — its `maxTerms` analyzed terms ranked
    * (tf desc, df asc, term asc), an integer-only, exactly-reproducible
    * ordering — scores as a disjunctive query with qtf = the source tf;
    * the source document itself is excluded from the candidates.
    */
  def bm25TopKMoreLikeThis(docId: Long, k: Int, maxTerms: Int,
                           p: BM25Params = BM25.default): String =
    bm25CoreQt(
      s"""qt AS (SELECT term, CAST(tf AS DOUBLE) AS qtf FROM (
  SELECT tf.term, tf.tf, df.df FROM tf JOIN df USING (term)
  WHERE tf.doc_id = $docId
  ORDER BY tf.tf DESC, df.df ASC, tf.term ASC LIMIT $maxTerms) AS mlt)""",
      k, "documents", s"WHERE tf.doc_id <> $docId", "", "", p)

  /** Explain twin ([[graft.index.PostingIndex.explainScore]]): the
    * per-term breakdown for one (query, document) pair recomputed from the
    * corpus — same weight expression as [[bm25CoreQt]], emitted per term
    * instead of summed, idf and contrib rounded at 4 dp. The engine side
    * reads tf and the baked weight out of the document's POSTING ENTRIES,
    * so this gate pins per-(term, doc) index bytes.
    */
  def explainScore(query: String, docId: Long,
                   p: BM25Params = BM25.default): String = {
    val terms = RelationalBM25.queryTerms(query, stem = false)
    require(terms.nonEmpty, s"query '$query' has no surviving terms")
    val values = terms.map { case (t, qtf) =>
      s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    val idfSql = "ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)"
    s"""WITH $tokCte,
$tfCte, $dfCte, $dlCte,
$statsCte,
qt AS (SELECT * FROM (VALUES $values) AS v(term, qtf))
SELECT tf.term AS term, qt.qtf AS qtf, CAST(tf.tf AS BIGINT) AS tf,
  CAST(df.df AS BIGINT) AS df,
  round($idfSql, 4) AS idf,
  round($idfSql
    * (tf.tf * (${p.k1} + 1.0))
    / (tf.tf + ${p.k1} * ((1.0 - ${p.b}) + ${p.b} * dl.dl / stats.avgdl))
    * qt.qtf, 4) AS contrib
FROM tf JOIN df USING (term) JOIN qt USING (term)
     JOIN dl USING (doc_id) CROSS JOIN stats
WHERE tf.doc_id = $docId
ORDER BY term ASC"""
  }

  /** Facet-count twin ([[graft.index.PostingIndex.facetCounts]]): per
    * `facetCol` value, the count of documents containing >= 1 analyzed
    * query term (the disjunctive match set; counts, not scores, so no BM25
    * CTEs). `facetCol` must be a `documents` column; counts cast to BIGINT
    * to match Spark's `count(...)`.
    */
  def facetCounts(query: String, facetCol: String): String = {
    val terms = RelationalBM25.queryTerms(query, stem = false).map(_._1)
    require(terms.nonEmpty, s"query '$query' has no surviving terms")
    require(facetCol.matches("[a-zA-Z_][a-zA-Z0-9_]*"), s"bad facet column '$facetCol'")
    val termList = terms.map(q).mkString(", ")
    s"""WITH $tokCte,
matched AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ($termList))
SELECT CAST(d.$facetCol AS VARCHAR) AS facet, CAST(count(*) AS BIGINT) AS n_docs
FROM matched m JOIN documents d USING (doc_id)
GROUP BY 1
ORDER BY n_docs DESC, facet ASC"""
  }

  /** Significant-terms twin
    * ([[graft.index.PostingIndex.significantTerms]]): the match set and
    * BOTH document-frequency sides recomputed from the corpus — fg over
    * the matched docs, bg over everything (index stats == corpus df by
    * the a1/a5 gates) — with the identical two-division lift expression
    * and 6-dp rounding, ordered (lift desc, term asc).
    */
  def significantTerms(query: String, maxTerms: Int): String = {
    val terms = RelationalBM25.queryTerms(query, stem = false).map(_._1)
    require(terms.nonEmpty, s"query '$query' has no surviving terms")
    val termList = terms.map(q).mkString(", ")
    s"""WITH $tokCte,
$tfCte, $dfCte,
matched AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ($termList)),
mn AS (SELECT CAST((SELECT count(*) FROM matched) AS DOUBLE) AS m,
              CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n),
fg AS (SELECT term, count(*) AS fg_df
       FROM tf JOIN matched USING (doc_id) GROUP BY term)
SELECT fg.term AS term, CAST(fg.fg_df AS BIGINT) AS fg_df,
  CAST(df.df AS BIGINT) AS bg_df,
  round((CAST(fg.fg_df AS DOUBLE) / mn.m) / (CAST(df.df AS DOUBLE) / mn.n), 6)
    AS lift
FROM fg JOIN df USING (term) CROSS JOIN mn
ORDER BY lift DESC, term ASC
LIMIT $maxTerms"""
  }

  /** Phrase twin ([[graft.index.PostingIndex.searchPhraseRounded]]): docs
    * whose ANALYZED token stream contains the phrase's analyzed tokens
    * consecutively, scored by BM25 over the phrase terms (conjunctive
    * HAVING — adjacency implies all terms present, so the HAVING only
    * guards the w-CTE join shape). The haystack check mirrors the engine
    * exactly: analyzed tokens are [a-z0-9]+, so space-joined containment
    * of ` t1 t2 ` IS adjacency.
    */
  def bm25TopKPhrase(phrase: String, k: Int,
                     p: BM25Params = BM25.default): String = {
    val seq = graft.analysis.Analyzer.of(stem = false).analyze(phrase)
    require(seq.nonEmpty, s"phrase '$phrase' has no surviving terms")
    val needle = " " + seq.mkString(" ") + " "
    val terms = seq.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.size.toDouble) }.sortBy(_._1)
    val values = terms.map { case (t, qtf) => s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    val phraseCte =
      s"""phrasedocs AS (
  SELECT doc_id FROM docs
  WHERE contains(' ' || array_to_string(list_filter(
          list_transform(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), t -> lower(t)),
          t -> length(t) > 2 AND t NOT IN ($stopList)), ' ') || ' ', ${q(needle)}))"""
    bm25CoreQt(s"qt AS (SELECT * FROM (VALUES $values) AS v(term, qtf))",
      k, "documents",
      "WHERE tf.doc_id IN (SELECT doc_id FROM phrasedocs)",
      s"\nHAVING count(*) = ${terms.size}", phraseCte, p)
  }

  /** Proximity twin ([[graft.index.PostingIndex.searchProximityRounded]]):
    * the ordered-window contract recomputed from the corpus — analyzed
    * 0-based positions via a per-doc row_number over the tokenizer
    * ordinals (identical to the positional sidecar's analyzed-stream
    * indices), then an m-way increasing-chain join with span bound
    * (m-1) + slop. Existence of ANY in-bound increasing chain is
    * equivalent to the engine's per-start greedy minimum (greedy
    * minimizes the end position step by step). Scores: conjunctive BM25
    * of the phrase terms — the [[bm25TopKPhrase]] scoring contract.
    */
  def bm25TopKProximity(phrase: String, slop: Int, k: Int,
                        p: BM25Params = BM25.default): String = {
    val seq = graft.analysis.Analyzer.of(stem = false).analyze(phrase)
    require(seq.length >= 2,
      s"proximity needs >= 2 surviving terms, got '${seq.mkString(" ")}'")
    val terms = seq.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.size.toDouble) }.sortBy(_._1)
    val values = terms.map { case (t, qtf) => s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    val bound = seq.length - 1 + slop
    val joins = (1 until seq.length).map { j =>
      s"""  JOIN ap a$j ON a$j.doc_id = a0.doc_id AND a$j.term = ${q(seq(j))}
       AND a$j.pos > a${j - 1}.pos"""
    }.mkString("\n")
    val proxCte =
      s"""toksq AS (
  SELECT doc_id, generate_subscripts(a, 1) AS ord, unnest(a) AS tok
  FROM (SELECT doc_id, regexp_split_to_array(text, '[^a-zA-Z0-9]+') AS a
        FROM docs)),
ap AS (
  SELECT doc_id, lower(tok) AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM toksq
  WHERE length(tok) > 2 AND lower(tok) NOT IN ($stopList)),
proxdocs AS (
  SELECT DISTINCT a0.doc_id FROM ap a0
$joins
  WHERE a0.term = ${q(seq(0))}
    AND a${seq.length - 1}.pos - a0.pos <= $bound)"""
    bm25CoreQt(s"qt AS (SELECT * FROM (VALUES $values) AS v(term, qtf))",
      k, "documents",
      "WHERE tf.doc_id IN (SELECT doc_id FROM proxdocs)",
      s"\nHAVING count(*) = ${terms.size}", proxCte, p)
  }

  /** KWIC-snippet twin ([[graft.search.Snippets.kwic]]): the top-k from
    * the shared BM25 core, each row joined to its document and to the
    * first (pos asc, term asc) substring occurrence of any analyzed
    * query term in the lowercased text; snippet = the +-window substring
    * around it, both engines clipping at the text ends identically.
    * No-match rows carry ('', 0, '') rather than dropping.
    */
  def kwicTopK(query: String, k: Int, window: Int = 30,
               p: BM25Params = BM25.default): String = {
    val terms = RelationalBM25.queryTerms(query, stem = false)
      .map(_._1).distinct.sorted
    val termValues = terms.map(t => s"(${q(t)})").mkString(", ")
    s"""WITH topk AS (
${bm25TopK(query, k, p)}
),
h AS (SELECT topk.doc_id, t.term, strpos(lower(d.text), t.term) AS pos
      FROM topk JOIN documents d ON d.doc_id = topk.doc_id
      CROSS JOIN (SELECT * FROM (VALUES $termValues) AS v(term)) t),
b AS (SELECT doc_id, term, pos,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY pos ASC, term ASC) AS rk
      FROM h WHERE pos > 0)
SELECT topk.doc_id, topk.score,
       coalesce(b.term, '') AS term,
       coalesce(b.pos, 0) AS pos,
       CASE WHEN b.pos > 0 THEN substring(lower(d2.text),
              greatest(b.pos - $window, 1), ${2 * window} + length(b.term))
            ELSE '' END AS kwic
FROM topk
JOIN documents d2 ON d2.doc_id = topk.doc_id
LEFT JOIN b ON b.doc_id = topk.doc_id AND b.rk = 1
ORDER BY topk.score DESC, topk.doc_id ASC"""
  }

  /** Positional-KWIC twin ([[graft.index.PostingIndex
    * .kwicPositionalRounded]]): the first match is the minimal
    * (pos, term) over ANALYZED 0-based stream positions (the proximity
    * twin's `ap` contract — identical to the positional sidecar's
    * indices), recomputed from the top-k docs' text; the snippet is the
    * +-`window` ANALYZED-token slice around it, space-joined. Exact
    * analyzed-term matching: a query term inside a longer token does not
    * count (unlike [[kwicTopK]]'s substring contract).
    */
  def kwicPositionalTopK(query: String, k: Int, window: Int = 4,
                         p: BM25Params = BM25.default): String = {
    val terms = RelationalBM25.queryTerms(query, stem = false)
      .map(_._1).distinct.sorted
    require(terms.nonEmpty, s"query '$query' has no surviving terms")
    val termValues = terms.map(t => s"(${q(t)})").mkString(", ")
    s"""WITH topk AS (
${bm25TopK(query, k, p)}
),
toksq AS (SELECT doc_id, generate_subscripts(a, 1) AS ord, unnest(a) AS tok
  FROM (SELECT d.doc_id, regexp_split_to_array(d.text, '[^a-zA-Z0-9]+') AS a
        FROM documents d JOIN topk ON topk.doc_id = d.doc_id)),
ap AS (SELECT doc_id, lower(tok) AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
       FROM toksq
       WHERE length(tok) > 2 AND lower(tok) NOT IN ($stopList)),
hit AS (SELECT doc_id, term, pos, row_number() OVER (PARTITION BY doc_id
          ORDER BY pos ASC, term ASC) AS rk
        FROM ap WHERE term IN (SELECT term FROM (VALUES $termValues) AS v(term))),
f AS (SELECT doc_id, term, pos FROM hit WHERE rk = 1),
kw AS (SELECT f.doc_id, string_agg(ap.term, ' ' ORDER BY ap.pos) AS kwic
       FROM f JOIN ap ON ap.doc_id = f.doc_id
         AND ap.pos BETWEEN f.pos - $window AND f.pos + $window
       GROUP BY f.doc_id)
SELECT topk.doc_id, topk.score, f.term, f.pos, kw.kwic
FROM topk JOIN f USING (doc_id) JOIN kw USING (doc_id)
ORDER BY topk.score DESC, topk.doc_id ASC"""
  }

  /** `deletedPred` contract for the lifecycle twins: a predicate over the
    * BARE column `doc_id` (no table qualification — the tombstoned twin
    * re-anchors it onto the weight CTE's `tf.doc_id` at a word boundary).
    */
  private def checkDeletedPred(pred: String): Unit =
    require(!pred.contains(".") && pred.matches(".*\\bdoc_id\\b.*"),
      s"deletedPred must reference the bare column doc_id, got '$pred'")

  /** Tombstone-serving twin ([[graft.index.IndexBuilder.delete]] without
    * compaction): every weight still bakes the FULL pre-delete statistics
    * (df, dl, N, avgdl over the whole corpus — a tombstone write touches no
    * posting), but candidates matching `deletedPred` (a predicate over the
    * bare `doc_id`) are excluded before they can claim a top-k slot.
    * Exactly the engine's overlay semantics.
    */
  def bm25TopKTombstoned(query: String, k: Int, deletedPred: String,
                         p: BM25Params = BM25.default): String = {
    checkDeletedPred(deletedPred)
    bm25Core(query, k, "documents",
      s"WHERE NOT (${deletedPred.replaceAll("\\bdoc_id\\b", "tf.doc_id")})",
      conjunctive = false, p)
  }

  /** Post-compaction twin ([[graft.index.IndexBuilder.compact]]): the
    * corpus itself shrinks, so N/avgdl/df and every weight are those of a
    * fresh build over the surviving documents — the plain BM25 twin over
    * the filtered corpus.
    */
  def bm25TopKCompacted(query: String, k: Int, deletedPred: String,
                        p: BM25Params = BM25.default): String = {
    checkDeletedPred(deletedPred)
    bm25Core(query, k, s"documents WHERE NOT ($deletedPred)", "",
      conjunctive = false, p)
  }

  /** DuckDB twin of [[graft.index.IndexFormat.docShard]] (64-bit
    * golden-ratio multiply mix, xor of halves, signed-int32 floorMod) as a
    * CTE pair over the distinct `tf` doc ids — HUGEINT modular arithmetic,
    * exact vs the JVM (any divergence fails the s8 hash gate on every
    * corpus: each doc's slice lands in a different shard). Lets the index
    * completeness gate compare the manifest's per-partition term counters
    * against corpus-derived distinct (term, shard) slices without any
    * postings scan.
    */
  def docShardCtes(shards: Int): String =
    s"""shardh AS (
  SELECT doc_id,
    -- normalize to [0, 2^64): the JVM wraps docId*G two's-complement to an
    -- unsigned bit pattern, but DuckDB's % on a negative HUGEINT product
    -- returns a negative remainder (doc ids may be hashed -> negative)
    CAST((((CAST(doc_id AS HUGEINT) * 11400714819323198485)
            % 18446744073709551616) + 18446744073709551616)
          % 18446744073709551616 AS HUGEINT) AS h64
  FROM (SELECT DISTINCT doc_id FROM tf)),
shard AS (
  SELECT doc_id,
    ((CAST(CASE WHEN x32 >= 2147483648 THEN x32 - 4294967296 ELSE x32 END
           AS BIGINT) % $shards) + $shards) % $shards AS shard
  FROM (SELECT doc_id,
          xor(CAST(h64 // 4294967296 AS BIGINT),
              CAST(h64 % 4294967296 AS BIGINT)) AS x32
        FROM shardh))"""

  /** BM25 top-k over a MATERIALIZED (doc_id, term, tf) parquet instead of
    * the SQL-tokenized `tok`/`tf` CTEs — the stemmed-chain gate: Spark
    * writes the JVM-stemmed tf rows to `tfParquet`, both engines compute
    * top-k from those same rows (identical math/rounding/order to
    * [[bm25TopK]]), and the untested surface shrinks to the stemmer alone.
    * Query terms are stemmed JVM-side and embedded as literals — the same
    * list both engines score.
    */
  def bm25TopKFromTfParquet(query: String, k: Int, tfParquet: String,
                            p: BM25Params = BM25.default): String = {
    val terms = RelationalBM25.queryTerms(query, stem = true)
    require(terms.nonEmpty, s"query '$query' has no surviving terms")
    val values = terms.map { case (t, qtf) => s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    s"""WITH tf AS (SELECT doc_id, term, tf
  FROM read_parquet('$tfParquet/*.parquet')),
$dfCte, $dlCte, $statsCte,
qt AS (SELECT * FROM (VALUES $values) AS v(term, qtf)),
w AS (
  SELECT tf.doc_id,
         ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * (${p.k1} + 1.0))
           / (tf.tf + ${p.k1} * ((1.0 - ${p.b}) + ${p.b} * dl.dl / stats.avgdl))
           * qt.qtf AS w
  FROM tf JOIN df USING (term) JOIN qt USING (term)
       JOIN dl USING (doc_id) CROSS JOIN stats)
SELECT doc_id, round(sum(w), 4) AS score
FROM w GROUP BY doc_id
ORDER BY round(sum(w), 4) DESC, doc_id ASC
LIMIT $k"""
  }

  def hydrateTopK(query: String, k: Int): String = {
    val inner = bm25TopK(query, k)
    s"""WITH topk AS ($inner)
SELECT t.doc_id, t.score, d.lang, d.source
FROM topk t JOIN documents d ON t.doc_id = d.doc_id
ORDER BY t.score DESC, t.doc_id ASC"""
  }

  /** Twin of [[RelationalBM25.topKFielded]] (BM25F, weighted-field tf +
    * weighted dl through the same BM25 weight formula). The ordered
    * filtered token array is built with list lambdas so positions index
    * the SURVIVING stream exactly as the engine's posexplode does
    * (1-based here, 0-based there — both compare against titleLen
    * consistently). Weight/length arithmetic mirrors the engine tree
    * literal-for-literal; weights are integer-valued so every pre-weight
    * quantity is exact.
    */
  def bm25FieldedSql(query: String, k: Int, titleLen: Int = 8,
                     wTitle: Double = 2.0, wBody: Double = 1.0,
                     p: BM25Params = BM25.default): String = {
    val terms = RelationalBM25.queryTerms(query, stem = false)
    require(terms.nonEmpty, s"query '$query' has no surviving terms")
    val values = terms.map { case (t, qtf) =>
      s"(${q(t)}, CAST($qtf AS DOUBLE))" }.mkString(", ")
    s"""WITH farr AS (SELECT doc_id,
  list_filter(list_transform(list_filter(
      regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> length(x) > 2),
    x -> lower(x)), x -> NOT list_contains([$stopList], x)) AS arr
  FROM documents),
fw AS (SELECT doc_id,
  $wTitle * least(len(arr), $titleLen)
    + $wBody * greatest(len(arr) - $titleLen, 0) AS wdl
  FROM farr),
ftok AS (SELECT doc_id, arr[i] AS term, i
  FROM (SELECT doc_id, arr, generate_subscripts(arr, 1) AS i FROM farr)),
ftf AS (SELECT doc_id, term,
  $wTitle * sum(CASE WHEN i <= $titleLen THEN 1 ELSE 0 END)
    + $wBody * sum(CASE WHEN i > $titleLen THEN 1 ELSE 0 END) AS wtf
  FROM ftok GROUP BY doc_id, term),
fdf AS (SELECT term, count(*) AS df FROM ftf GROUP BY term),
stats AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         CAST((SELECT coalesce(sum(wdl), 0) FROM fw) AS DOUBLE)
           / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
qt AS (SELECT * FROM (VALUES $values) AS v(term, qtf)),
w AS (
  SELECT ftf.doc_id,
         ln((stats.n - fdf.df + 0.5) / (fdf.df + 0.5) + 1.0)
           * (ftf.wtf * (${p.k1} + 1.0))
           / (ftf.wtf + ${p.k1} * ((1.0 - ${p.b}) + ${p.b} * fw.wdl / stats.avgdl))
           * qt.qtf AS w
  FROM ftf JOIN fdf USING (term) JOIN qt USING (term)
       JOIN fw USING (doc_id) CROSS JOIN stats)
SELECT doc_id, round(sum(w), 4) AS score
FROM w GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT $k"""
  }
}
