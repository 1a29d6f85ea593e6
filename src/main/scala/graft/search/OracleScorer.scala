package graft.search

import graft.analysis.Analyzer

/** The in-repo single-node BM25 oracle (SURVEY.md §5 item 2): ~100 lines of
  * plain Scala sharing the exact analysis chain and scoring functions
  * ([[BM25.idf]]/[[BM25.weight]]) with the distributed engine. The engine's
  * top-k must match this rank-identically with exact double score equality
  * (north rule); tie order (score desc, docId asc).
  */
object OracleScorer {

  final case class Index(
      n: Long,
      avgdl: Double,
      df: Map[String, Long],
      tfs: Map[Long, Map[String, Long]], // docId -> term -> tf
      dl: Map[Long, Long])

  def buildIndex(docs: Seq[(Long, String)], analyzer: Analyzer): Index = {
    val tfs = docs.map { case (id, content) =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      analyzer.analyze(content).foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1L)
      id -> counts.toMap
    }.toMap
    val df = scala.collection.mutable.HashMap.empty[String, Long]
    tfs.valuesIterator.foreach(_.keysIterator.foreach(t => df(t) = df.getOrElse(t, 0L) + 1L))
    val dl = tfs.map { case (id, m) => id -> m.valuesIterator.sum }
    val n = docs.size.toLong
    val avgdl = dl.valuesIterator.sum.toDouble / n
    Index(n, avgdl, df.toMap, tfs, dl)
  }

  /** score(q,d) = sum over query terms in LEXICOGRAPHIC order of
    * qtf * w(t,d) — the pinned summation order (SURVEY.md §7.6.1).
    */
  def topK(idx: Index, query: String, k: Int, analyzer: Analyzer,
           params: BM25Params = BM25.default): Seq[(Long, Double)] = {
    val q = analyzer.analyze(query).toSeq.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.size.toDouble) }.sortBy(_._1)
    if (q.isEmpty) return Seq.empty
    val scored = idx.tfs.iterator.flatMap { case (docId, tfm) =>
      var score = 0.0
      var any = false
      q.foreach { case (t, qtf) =>
        tfm.get(t).foreach { tf =>
          any = true
          val w = BM25.weight(tf.toDouble, idx.dl(docId).toDouble, idx.avgdl,
            BM25.idf(idx.n.toDouble, idx.df(t).toDouble), params)
          score += qtf * w
        }
      }
      if (any) Some((docId, score)) else None
    }.toSeq
    scored.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  def topK(docs: Seq[(Long, String)], query: String, k: Int, stem: Boolean): Seq[(Long, Double)] = {
    val analyzer = Analyzer.of(stem)
    topK(buildIndex(docs, analyzer), query, k, analyzer)
  }
}
