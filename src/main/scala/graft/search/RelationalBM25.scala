package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.functions.Udfs

/** The fully-declarative (Catalyst-planned) form of the engine: scan ->
  * analyze -> term frequencies -> corpus stats -> BM25 -> top-k, expressed
  * as DataFrame ops only, so predicate pushdown / column pruning / partial
  * aggregation / AQE all apply (SURVEY.md §4). This is the build-and-verify
  * surface; the latency-optimized path over the prebuilt compressed index
  * lives in [[graft.index]] / [[QueryEngine]].
  *
  * Semantically this *is* the reference's pipeline (EP1 steps 3-5 + EP2) —
  * tokenizer.rs:8-74, idf.rs:3-50, search.rs:30-78 — with BM25 in place of
  * TF-IDF-cosine (north rule) and one corpus pass instead of two.
  *
  * Every public stage keeps snake_case output columns so the DuckDB oracle
  * (driver correctness gate) can mirror it column-for-column.
  */
object RelationalBM25 {

  /** (doc_id, term): one row per surviving token occurrence. Narrow (no
    * shuffle); the UDF runs once per document.
    */
  def tokens(docs: DataFrame, stem: Boolean): DataFrame =
    docs.select(
      col("docId").as("doc_id"),
      explode(Udfs.analyzeOf(stem)(col("content"))).as("term"))

  /** A2 + A8 fused, one pass, NO shuffle: per-(doc,term) counts and doc
    * length computed row-locally (tokenizer.rs:44-66 distributed; the
    * aggregation key never leaves the row, so a groupBy would only shuffle
    * token occurrences to rediscover row locality).
    */
  def termFreqsWithDl(docs: DataFrame, stem: Boolean): DataFrame = {
    docs.select(col("docId").as("doc_id"),
        explode(Udfs.termCountsOf(stem)(col("content"))).as("c"))
      .select(col("doc_id"), col("c._1").as("term"), col("c._2").as("tf"),
        col("c._3").as("dl"))
  }

  /** A2: per-(doc,term) counts (shuffle-free, see [[termFreqsWithDl]]). */
  def termFreqs(docs: DataFrame, stem: Boolean): DataFrame =
    termFreqsWithDl(docs, stem).drop("dl")

  /** A3: document frequency per term (idf.rs:10-17). */
  def docFreqs(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))

  /** A1: deterministic vocabulary ids by sorted term (SURVEY.md §7.4 —
    * Variant B's sort over Variant A's nondeterministic first-seen order).
    *
    * Ids are identical to `row_number() OVER (ORDER BY term)` but assigned
    * in two stages so no single task ever sorts the whole vocabulary:
    * range-partition by term (parallel sort), count per partition (tiny
    * collect), then rank within each partition plus the broadcast running
    * offset. The localCheckpoint pins the range partitioning so the offsets
    * and the ranked rows see the same partition boundaries.
    */
  def vocabulary(tf: DataFrame): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val ranged = docFreqs(tf)
      .repartitionByRange(col("term"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val counts = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, cnt) =>
      val o = acc; acc += cnt; (pid, o)
    }
    ranged.join(broadcast(offsets.toSeq.toDF("pid", "offset")), "pid")
      .withColumn("term_id",
        row_number().over(Window.partitionBy("pid").orderBy("term"))
          .cast("long") + col("offset"))
      .select("term", "term_id", "df")
  }

  /** A8 (BM25 form): per-document token count (length norm statistic). */
  def docLens(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id").agg(sum("tf").as("dl"))

  /** Single-row (n, avgdl): total docs (token-less docs count toward both N
    * and the avgdl denominator) — fully lazy, no driver round-trip.
    */
  def corpusStats(docs: DataFrame, tf: DataFrame): DataFrame =
    docs.agg(count(lit(1)).cast("double").as("n"))
      .crossJoin(tf.agg(coalesce(sum("tf"), lit(0L)).cast("double").as("tot")))
      .select(col("n"), (col("tot") / col("n")).as("avgdl"))

  /** The BM25 idf expression — must mirror [[BM25.idf]] and the oracle SQL. */
  def idfCol(n: Column, df: Column): Column =
    log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))

  def weightCol(tf: Column, dl: Column, n: Column, avgdl: Column, df: Column, p: BM25Params): Column =
    idfCol(n, df) * (tf * lit(p.k1 + 1.0)) /
      (tf + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * dl / avgdl))

  /** Analyze a query string into (term, qtf) with multiplicity. */
  def queryTerms(query: String, stem: Boolean): Seq[(String, Double)] =
    Analyzer.of(stem).analyze(query).toSeq.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.size.toDouble) }.sortBy(_._1)

  /** EP2 distributed: top-k BM25 for one query -> (doc_id, score), score
    * rounded to 4 decimals (cross-engine float tolerance), total order
    * (score desc, doc_id asc). Catalyst plans the final step as
    * TakeOrderedAndProject (per-partition heap + driver merge), never a full
    * sort (vs the reference's full O(N log N) sort, search.rs:76).
    */
  def topK(docs: DataFrame, query: String, k: Int, stem: Boolean,
           params: BM25Params = BM25.default): DataFrame = {
    val spark = docs.sparkSession
    val q = queryTerms(query, stem)
    if (q.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)
    }
    topKFromTf(termFreqs(docs, stem), docs, q, k, params)
  }

  /** [[topK]] from a precomputed (doc_id, term, tf) relation and
    * already-analyzed query terms. This is the surface that lets the DuckDB
    * gate cover the STEMMED chain's BM25 math: the caller materializes the
    * JVM-stemmed tf rows to parquet, both engines compute top-k from those
    * same rows, and only the stemmer itself (golden-vector spec'd) stays
    * outside the oracle.
    */
  def topKFromTf(tf: DataFrame, docs: DataFrame, q: Seq[(String, Double)],
                 k: Int, params: BM25Params = BM25.default): DataFrame =
    scoredRounded(tf, docs, q, params)
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)

  /** The shared scored relation (doc_id, score rounded at 4 dp) every
    * relational top-k variant cuts from — one copy of the candidate filter
    * + weight join tree so the math cannot drift between [[topK]],
    * [[topKFromTf]] and [[topKDiverse]].
    */
  private def scoredRounded(tf: DataFrame, docs: DataFrame,
                            q: Seq[(String, Double)],
                            params: BM25Params): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val stats = corpusStats(docs, tf)
    // Catalyst pushes the term filter below the (doc_id, term) aggregation.
    tf.filter(col("term").isin(q.map(_._1): _*))
      .join(docFreqs(tf), "term")
      .join(docLens(tf), "doc_id")
      .crossJoin(stats) // single row -> broadcast nested loop
      .join(broadcast(q.toDF("term", "qtf")), "term")
      .select(col("doc_id"),
        (weightCol(col("tf"), col("dl"), col("n"), col("avgdl"), col("df"), params)
          * col("qtf")).as("w"))
      .groupBy("doc_id")
      .agg(round(sum(col("w")), 4).as("score"))
  }

  /** Source-DIVERSIFIED top-k: the exact BM25 total order with at most
    * `perSource` results from any one `source` value (host / domain /
    * shard-of-origin) — the classic SERP host-collapse. Plan shape: the
    * shared scored relation, one broadcast-joinable (doc_id -> source)
    * projection, a row_number window PARTITIONED BY source (shuffle keyed
    * on source — bounded by the per-source result cap downstream, and
    * skew-safe because the window only ranks rows that actually scored,
    * i.e. candidate postings for the query's terms, not the corpus), then
    * the same TakeOrderedAndProject global cut as [[topK]].
    *
    * Exactness: the cap is applied to the FULL scored relation before the
    * k-cut, so the result is the true diversified top-k, not a re-filter
    * of an undiversified candidate page (which can under-fill k whenever
    * one source dominates the head). The index-backed serving path can
    * approximate this by over-fetching candidates; this relational form is
    * the exact offline/oracle-gated contract.
    */
  def topKDiverse(docs: DataFrame, query: String, k: Int, perSource: Int,
                  stem: Boolean, sourceCol: String = "source",
                  params: BM25Params = BM25.default): DataFrame = {
    require(perSource >= 1, s"perSource must be >= 1, got $perSource")
    val spark = docs.sparkSession
    val q = queryTerms(query, stem)
    if (q.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("score"),
          lit("").as(sourceCol)).limit(0)
    }
    val scored = scoredRounded(termFreqs(docs, stem), docs, q, params)
    val bySource = Window.partitionBy(sourceCol)
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .join(docs.select(col("docId").as("doc_id"), col(sourceCol)), "doc_id")
      .withColumn("rn", row_number().over(bySource))
      .filter(col("rn") <= perSource)
      .select(col("doc_id"), col("score"), col(sourceCol))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** BM25F fielded top-k — Robertson & Zaragoza's weighted-field form
    * with shared k1/b: per-field term frequencies are combined into one
    * weighted tf (wtf = wTitle·tf_title + wBody·tf_body) and the length
    * norm runs over the equally weighted document length, so the score
    * IS plain BM25 applied to (wtf, wdl). Fields are derived
    * deterministically from the analyzed token stream: the first
    * `titleLen` surviving tokens are the "title" (the headline-vs-body
    * split every fielded index makes; the synthetic corpus has no
    * separate title column, and a position-sliced field keeps both
    * engines byte-agreed without a second tokenizer).
    *
    * Exactness: weights are integer-valued doubles (2.0/1.0 defaults),
    * so wtf and wdl are exact integers in double — no float drift
    * anywhere before the shared [[weightCol]] expression, which is
    * mirrored literal-for-literal by the oracle's fielded SQL.
    *
    * Plan family: identical to [[topK]] (partial+final aggregates,
    * broadcast query side, TakeOrderedAndProject); the fielded
    * term-count UDF keeps the field split ROW-LOCAL — one analyze per
    * document and no token-occurrence shuffle (the posexplode+groupBy
    * first cut measured 5× slower), and the per-row wdl removes the
    * doc-length join entirely.
    */
  def topKFielded(docs: DataFrame, query: String, k: Int,
                  titleLen: Int = 8, wTitle: Double = 2.0,
                  wBody: Double = 1.0,
                  params: BM25Params = BM25.default): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queryTerms(query, stem = false)
    if (q.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)
    }
    // Row-local fielded term counts (one analyze per doc, no token
    // shuffle); wdl rides each row, and Σ_terms wtf == wdl per doc, so
    // avg weighted dl = sum(wtf)/n — the same identity plain BM25 uses
    // with Σtf == dl (corpusStats) — with no separate doc-length pass.
    val f = Udfs.fieldedTermCounts(titleLen)
    val ftf = docs
      .select(col("docId").as("doc_id"), explode(f(col("content"))).as("c"))
      .select(col("doc_id"), col("c._1").as("term"),
        (lit(wTitle) * col("c._2") + lit(wBody) * col("c._3")).as("wtf"),
        (lit(wTitle) * col("c._4").cast("double") +
          lit(wBody) * col("c._5").cast("double")).as("wdl"))
    val fdf = ftf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n"))
      .crossJoin(ftf.agg(coalesce(sum("wtf"), lit(0.0)).cast("double")
        .as("tot")))
      .select(col("n"), (col("tot") / col("n")).as("avgdl"))
    ftf.filter(col("term").isin(q.map(_._1): _*))
      .join(fdf, "term")
      .crossJoin(stats)
      .join(broadcast(q.toDF("term", "qtf")), "term")
      .select(col("doc_id"),
        (weightCol(col("wtf"), col("wdl"), col("n"), col("avgdl"),
          col("df"), params) * col("qtf")).as("w"))
      .groupBy("doc_id")
      .agg(round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** J2: hydrate top-k doc ids back to document attributes (search.rs:22-24
    * done as a broadcast join of the <=k-row side).
    */
  def hydrate(topk: DataFrame, docs: DataFrame): DataFrame =
    broadcast(topk)
      .join(docs.withColumnRenamed("docId", "doc_id"), "doc_id")
      .drop("content")
}
