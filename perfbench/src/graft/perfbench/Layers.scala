package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.corpus.Corpus
import graft.functions.Udfs
import graft.index._
import graft.search.{RelationalBM25, Wand}

/** The benchmark's calls into each layer, each wrapped in a span, plus the
  * traced-only probes (WAND kernel timing, block counts, analyzer cost)
  * and the output checks.
  */
final class Layers(run: Run) {
  import run.{spark, tracer}

  val cfg: IndexConfig = IndexConfig(shards = 8, termBuckets = 4)

  /** corpus: generate `n` docs into `sfDir/documents.parquet`; returns the
    * seconds taken and records the corpus digest.
    */
  def corpus(sfDir: String, n: Long, seed: Long, vocabSpread: Int): Double = {
    val (digest, s) = run.timed(tracer.span("corpus.generate")(run.group("corpus")(
      Inputs.writeCorpus(spark, sfDir, n, seed, vocabSpread))))
    digests += digest
    s
  }

  val digests = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Records the seed and the digests of the generated inputs. */
  def inputs(qs: Seq[Query]): Unit =
    run.out += "inputs" -> Map("seed" -> run.seed, "corpus_digest" -> digests.toSeq,
      "query_digest" -> Inputs.digest(qs), "queries" -> qs.length)

  def documents(sfDir: String): DataFrame = Corpus.documents(spark, sfDir)

  /** Untimed generate-and-build of a tiny corpus, so the timed set-up does
    * not also measure the cold JVM compiling the build path (the part of a
    * run that varied most between runs on a shared host).
    */
  def warmUp(): Unit = tracer.span("warmup")(run.group("warmup") {
    val sf = run.path("warmup-sf")
    Inputs.writeCorpus(spark, sf, 200, run.seed, 0)
    IndexBuilder.build(spark, documents(sf), run.path("warmup-idx"), cfg)
  })

  /** index: fresh build (buildStats then buildPostings); records the
    * stage times, the build window and the manifest totals.
    */
  def build(sfDir: String, idxDir: String): Map[String, Any] = {
    val start = Clock.ms()
    val (counts, statsS) = run.timed(tracer.span("index.buildStats")(run.group("build")(
      IndexBuilder.buildStats(spark, documents(sfDir), idxDir, cfg))))
    val g = PostingIndex.readGlobals(spark, idxDir)
    val (_, postingsS) = run.timed(tracer.span("index.buildPostings")(run.group("build")(
      IndexBuilder.buildPostings(spark, idxDir, cfg, g, Some(counts)))))
    val (terms, postings, bytes) = Manifest.totals(idxDir)
    Map("docs" -> g.nDocs, "stats_s" -> statsS, "postings_s" -> postingsS,
      "start" -> start, "end" -> Clock.ms(), "terms" -> terms,
      "postings" -> postings, "bytes" -> bytes, "vocab" -> g.vocabularySize)
  }

  /** index: open a handle and pin its postings in executor memory. */
  def preload(idxDir: String): (PostingIndex, Double) =
    run.timed(tracer.span("index.preload")(run.group("preload")(
      new PostingIndex(spark, idxDir).preload())))

  /** MB of Spark storage (cached postings and docs) currently held. */
  def cacheMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  // ---------------------------------------------------------------- server

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val mapper = new ObjectMapper()

  /** server: POST /search; returns the (id, score) rows of a well-formed
    * 200 response, None for any other status or a malformed body.
    */
  def httpSearch(port: Int, q: Query): Option[Seq[(Long, Double)]] = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/search"))
      .timeout(Duration.ofSeconds(30))
      .POST(HttpRequest.BodyPublishers.ofString(q.body)).build()
    val resp = tracer.span("server.request", req = s"q${q.id}")(
      http.send(req, HttpResponse.BodyHandlers.ofString()))
    if (resp.statusCode != 200) None
    else {
      val arr = mapper.readTree(resp.body)
      if (!arr.isArray || arr.size > q.limit) None
      else {
        val rows = arr.elements.asScala.map(o => (o.get("id"), o.get("score"))).toSeq
        if (rows.exists { case (i, s) => i == null || !i.isIntegralNumber || s == null || !s.isNumber }) None
        else Some(rows.map { case (i, s) => (i.asLong, s.asDouble) })
      }
    }
  }

  // ---------------------------------------------------------------- search

  def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().toSeq.map((r: Row) => (r.getLong(0), r.getDouble(1)))

  /** search: the in-process result the server should have returned. */
  def inProcess(idx: PostingIndex, q: Query): Seq[(Long, Double)] = q.mode match {
    case "and" => rows(idx.searchConjunctive(q.text, q.limit))
    case "bool" => rows(idx.searchBooleanRounded(q.must, q.text, q.mustNot, q.limit))
    case _ => rows(idx.search(q.text, q.limit))
  }

  /** Exhaustive relational BM25 over `docs` (the oracle), from a tf relation
    * computed once per corpus.
    */
  final class Oracle(docs: DataFrame) {
    private val tf = RelationalBM25.termFreqs(docs, stem = true).cache()
    def topK(q: String, k: Int): Seq[(Long, Double)] =
      rows(RelationalBM25.topKFromTf(tf, docs, RelationalBM25.queryTerms(q, stem = true), k))
    def close(): Unit = tf.unpersist()
  }

  /** Checks `searchRounded` against the exhaustive oracle for `qs`. */
  def checkOracle(idx: PostingIndex, docs: DataFrame, qs: Seq[Query], what: String): Unit =
    tracer.span("check.oracle")(run.group("check") {
      val oracle = new Oracle(docs)
      qs.foreach { q =>
        run.check(s"$what: searchRounded == RelationalBM25.topK for '${q.text}'")(
          rows(idx.searchRounded(q.text, q.limit)) == oracle.topK(q.text, q.limit))
      }
      oracle.close()
    })

  // ------------------------------------------------------ traced-only probes

  /** search + wand: per-query probe on an OR query. Times analysis, the
    * query's Spark execution (its jobs carry the job group `probe-<id>`),
    * the Catalyst phases of its QueryExecution, the exact block and
    * posting counts the query scans, and `Wand.topK` run in this thread on
    * the query's blocks.
    */
  def probe(idx: PostingIndex, idxDir: String, q: Query): Map[String, Any] = {
    import spark.implicits._
    val reps = 20
    val (_, anS) = run.timed(tracer.span("search.analyze")((1 to reps).foreach(_ => idx.queryTerms(q.text))))
    val grp = s"probe-${q.id}"
    // Catalyst phases timed by forcing QueryExecution's lazy plans in order
    // (its tracker keeps whole milliseconds, which read the same every run);
    // building the DataFrame resolves the relation and runs eager analysis
    val (df, analysisS) = run.timed(idx.search(q.text, q.limit))
    val (_, optS) = run.timed(df.queryExecution.optimizedPlan)
    val (_, planS) = run.timed(df.queryExecution.executedPlan)
    val (_, execS) = run.timed(tracer.span("search.collect", req = grp)(run.group(grp)(df.collect())))
    val phases = Map("analysis" -> analysisS * 1e3, "optimization" -> optS * 1e3,
      "planning" -> planS * 1e3)
    val qt = idx.queryTerms(q.text)
    val terms = qt.map(_._1)
    val tbs = terms.map(IndexFormat.termBucket(_, cfg.termBuckets)).distinct
    val blocks = run.group("probe-blocks")(spark.read.parquet(s"$idxDir/postings")
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .select("tb", "shard", "term", "block_id", "n", "max_doc", "max_w",
        "docs_bin", "wts_bin", "tfs_bin")
      .as[BlockRow].collect())
    val byShard = blocks.groupBy(_.shard).values.toSeq
    val qtf = qt.toMap
    def wandOnce(): Double = run.timed(byShard.foreach(bs => Wand.topK(bs.iterator, qtf, q.limit).size))._2
    (1 to 3).foreach(_ => wandOnce()) // JIT warm-up of the kernel
    val wandS = tracer.span("wand.topK", req = grp)(median((1 to 7).map(_ => wandOnce())))
    Map("id" -> q.id, "group" -> grp, "analyze_us" -> anS / reps * 1e6,
      "exec_ms" -> execS * 1e3, "phases" -> phases, "blocks" -> blocks.length,
      "postings" -> blocks.map(_.n.toLong).sum, "wand_us" -> wandS * 1e6)
  }

  def probes(idx: PostingIndex, idxDir: String, qs: Seq[Query]): Unit =
    if (run.traced) run.out += "probes" -> qs.map(probe(idx, idxDir, _))

  /** analysis: single-thread analyzer cost per raw token on a fixed sample
    * of the corpus (full chain vs the chain without stemming), and the
    * corpus' raw token count.
    */
  def analysisProbe(sfDir: String): Unit = if (run.traced) tracer.span("analysis.probe") {
    val docs = documents(sfDir)
    val sample = run.group("analysis")(docs.orderBy("docId").limit(300)
      .select("content").collect().map(_.getString(0)))
    val tokens = sample.map(Analyzer.tokenize(_).length.toLong).sum
    val full = Analyzer.default
    val noStem = Analyzer.noStem(Analyzer.defaultStopWords)
    def pass(a: Analyzer): Double = run.timed(sample.foreach(a.analyze))._2
    (1 to 5).foreach { _ => pass(full); pass(noStem) }
    val fullS = median((1 to 9).map(_ => pass(full)))
    val noStemS = median((1 to 9).map(_ => pass(noStem)))
    val corpusTokens = run.group("analysis")(
      docs.agg(sum(size(Udfs.tokenize(col("content"))))).head().getLong(0))
    run.out += "analysis" -> Map("ns_per_token" -> fullS * 1e9 / tokens,
      "stem_ns_per_token" -> (fullS - noStemS) * 1e9 / tokens, "tokens" -> corpusTokens)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
