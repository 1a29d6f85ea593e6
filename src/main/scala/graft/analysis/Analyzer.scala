package graft.analysis

import scala.collection.mutable.ArrayBuffer

/** The document/query analysis chain, reproducing the reference's semantics:
  *
  *  1. tokenize: split on runs of non-`[a-zA-Z0-9]`, keep tokens whose length
  *     (measured on the raw token, *before* lowercasing) is > 2, lowercase
  *     survivors (reference: backend/src/util/tokenizer.rs:79-85);
  *  2. stop-word filter on the lowercased token, applied *before* stemming
  *     (tokenizer.rs:21-25, 50-55 — order matters);
  *  3. Porter stem ([[PorterStemmer]], steming.rs:200-217).
  *
  * Unlike the reference, the same chain is applied to queries and documents
  * (the reference omits stop-filter + stem on queries — search.rs:34-40 — a
  * recorded bug we fix; SURVEY.md §7.4).
  *
  * The tokenizer is a hand-rolled ASCII scanner equivalent to the reference's
  * regex `[^a-zA-Z0-9]+` split (property-tested against the regex in
  * AnalyzerSpec): at 100 TB scale the per-row regex engine cost is the
  * dominant useful work, so the scanner matters.
  */
final case class Analyzer(stopWords: Set[String], stem: Boolean) extends Serializable {

  def tokenize(text: String): Array[String] = Analyzer.tokenize(text)

  /** Full chain: tokenize → stop-filter → (stem). */
  def analyze(text: String): Array[String] = {
    val toks = Analyzer.tokenize(text)
    val out = new ArrayBuffer[String](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!stopWords.contains(t)) out += (if (stem) PorterStemmer.stem(t) else t)
      i += 1
    }
    out.toArray
  }
}

object Analyzer {

  @inline private def isTokenChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Reference tokenizer (tokenizer.rs:79-85): ASCII-alnum runs of length > 2,
    * lowercased. Length is checked pre-lowercase; for ASCII runs the length is
    * identical pre/post so the distinction is moot here, but pinned by tests.
    */
  def tokenize(text: String): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    val out = new ArrayBuffer[String]
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && !isTokenChar(text.charAt(i))) i += 1
      val start = i
      while (i < n && isTokenChar(text.charAt(i))) i += 1
      if (i - start > 2) {
        val a = new Array[Char](i - start)
        var j = start
        while (j < i) {
          val c = text.charAt(j)
          a(j - start) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
          j += 1
        }
        out += new String(a)
      }
    }
    out.toArray
  }

  /** Pinned English stop-word list (FIXTURES.md §3): the reference loads
    * `stop_words/english.txt` which is gitignored and absent
    * (tokenizer.rs:9-12 degrades to an empty set); we pin a classic list as
    * engine configuration, shipped as a classpath resource.
    */
  lazy val defaultStopWords: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/stop_words_english.txt")
    require(in != null, "missing resource /graft/stop_words_english.txt")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** Document/index analyzer: full reference chain. */
  lazy val default: Analyzer = Analyzer(defaultStopWords, stem = true)

  /** Stop-filter only, no stemming — used by the DuckDB-checkable query
    * surface (SQL cannot reproduce the reference's Porter variant); the
    * stemmed chain is gated by the in-repo ScalaTest oracle instead.
    */
  def noStem(stopWords: Set[String]): Analyzer = Analyzer(stopWords, stem = false)

  private lazy val defaultNoStem: Analyzer = noStem(defaultStopWords)

  /** The default chain with or without stemming: the one mapping of an
    * index's or a query surface's `stem` flag to its analyzer.
    */
  def of(stem: Boolean): Analyzer = if (stem) default else defaultNoStem
}
