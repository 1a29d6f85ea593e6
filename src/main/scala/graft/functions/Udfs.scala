package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.analysis.Analyzer

/** The engine's scalar-function surface (SURVEY.md §2.2 F1/F3/F4, §2.8):
  * the full analysis chain as a single deterministic Scala UDF — one UDF
  * call per row, `explode` after, so the (unavoidable) serialization
  * boundary is crossed once per document, not once per token.
  *
  * Deterministic (default), so Catalyst may collapse/push surrounding
  * operators freely. A codegen'd Catalyst `Expression` is the documented
  * v2 escape hatch (SURVEY.md §7.3) — profiling at sf0.1 shows the chain
  * is ~15% of build time, dominated by the groupBy shuffles, so the UDF
  * stays.
  */
object Udfs {

  /** Full reference chain: tokenize -> stop-filter -> Porter stem. */
  val analyze: UserDefinedFunction =
    udf((s: String) => Analyzer.default.analyze(s))

  /** tokenize -> stop-filter, no stemming — the DuckDB-oracle-checkable
    * variant (SQL cannot express the reference's Porter variant).
    */
  private val analyzeNoStem: UserDefinedFunction = {
    val a = Analyzer.of(stem = false)
    udf((s: String) => a.analyze(s))
  }

  /** The [[Analyzer.of]] chain for `stem`, as a UDF. */
  def analyzeOf(stem: Boolean): UserDefinedFunction = if (stem) analyze else analyzeNoStem

  /** Bare tokenizer (F1 alone, no stop filter, no stem). */
  val tokenize: UserDefinedFunction =
    udf((s: String) => Analyzer.tokenize(s))

  /** One-pass per-document term statistics: (term, tf, dl) structs — the
    * per-(doc,term) counts AND the doc length computed row-locally inside
    * the scan, so the index build needs NO shuffle to obtain tf/dl (the
    * naive `groupBy(doc_id, term)` form shuffles every token occurrence —
    * at 10^12 docs that's the dominant cost, and it is pure waste because
    * the aggregation key is confined to the row).
    */
  private def termCountsFor(analyzer: Analyzer): UserDefinedFunction =
    udf((s: String) => {
      val toks = analyzer.analyze(s)
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      toks.foreach(t => m.update(t, m.getOrElse(t, 0) + 1))
      val dl = toks.length
      m.iterator.map { case (t, c) => (t, c.toLong, dl.toLong) }.toArray
    })

  private val termCounts = termCountsFor(Analyzer.of(stem = true))
  private val termCountsNoStem = termCountsFor(Analyzer.of(stem = false))

  /** [[termCountsFor]] the [[Analyzer.of]] chain for `stem`. */
  def termCountsOf(stem: Boolean): UserDefinedFunction =
    if (stem) termCounts else termCountsNoStem

  /** Fielded (BM25F) per-document term counts: analyze ONCE, the first
    * `titleLen` surviving tokens are the title field; emit per-term
    * (term, tf_title, tf_body, n_title, n_body) rows — all row-local,
    * same rationale as [[termCounts]] (the aggregation key is confined
    * to the row; shuffling raw token occurrences is pure waste, and the
    * first cut of the fielded chain measured 5× slower doing exactly
    * that through posexplode + groupBy).
    */
  def fieldedTermCounts(titleLen: Int): UserDefinedFunction = {
    val analyzer = Analyzer.of(stem = false)
    udf((s: String) => {
      val toks = analyzer.analyze(s)
      val nT = math.min(toks.length, titleLen).toLong
      val nB = toks.length - nT
      val m = scala.collection.mutable
        .LinkedHashMap.empty[String, (Long, Long)]
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        val (a, b) = m.getOrElse(t, (0L, 0L))
        if (i < titleLen) m.update(t, (a + 1L, b))
        else m.update(t, (a, b + 1L))
        i += 1
      }
      m.iterator.map { case (t, (a, b)) => (t, a, b, nT, nB) }.toArray
    })
  }
}
