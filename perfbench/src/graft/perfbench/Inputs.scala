package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.corpus.{Corpus, SyntheticCorpus}

/** One generated query. `mode` is "or", "and" (conjunctive) or "bool"
  * (`must` + `text` as should + `mustNot`).
  */
final case class Query(id: Long, text: String, mode: String, limit: Int,
                       must: String = "", mustNot: String = "") {
  def body: String = mode match {
    case "and" => s"""{"query":"$text","limit":$limit,"conjunctive":true}"""
    case "bool" => s"""{"query":"$text","limit":$limit,"must":"$must","must_not":"$mustNot"}"""
    case _ => s"""{"query":"$text","limit":$limit}"""
  }
}

/** Seeded inputs. The engine only ever sees the generated corpus parquet and
  * the query strings; the seed never reaches it.
  */
object Inputs {

  /** The corpus generator's word pool, minus words the analyzer drops
    * entirely (stop words, tokens of <= 2 chars), so every generated query
    * has at least one live term and no query is analysis-empty.
    */
  val terms: Array[String] =
    (Array("return") ++ SyntheticCorpus.queryVocab ++ SyntheticCorpus.stemmables ++
      SyntheticCorpus.stopish ++ SyntheticCorpus.codeish)
      .filter(t => Analyzer.default.analyze(t).nonEmpty).distinct

  /** Writes `documents.parquet` (doc_id, text, lang, source, n_chars) under
    * `sfDir` — the table shape `SearchServer` and `Corpus.documents` read —
    * and returns an order-independent digest of it (sum of per-row xxhash64
    * and the row count, observed on the write job itself).
    */
  def writeCorpus(spark: SparkSession, sfDir: String, n: Long, seed: Long,
                  vocabSpread: Int): String = {
    val obs = new Observation(s"corpus-digest-$seed-$n")
    Corpus.fromCodeDocs(SyntheticCorpus.generate(spark, n, seed,
        vocabSpread = vocabSpread))
      .select(col("docId").as("doc_id"), col("content").as("text"), col("lang"),
        format_string("src%d", pmod(col("docId"), lit(7L))).as("source"),
        length(col("content")).as("n_chars"))
      .observe(obs, sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    val r = obs.get
    s"${r("h")}/${r("n")}"
  }

  def digest(qs: Seq[Query]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    qs.foreach(q => md.update((q.body + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Zipf(1.0) over a seed-shuffled rank order of the pool terms; 1-4 terms;
    * modes ~75 % or / 15 % and / 10 % bool (when `orOnly` is false);
    * limit 10, or 50 for ~10 % of queries.
    */
  def queries(seed: Long, n: Int, orOnly: Boolean): IndexedSeq[Query] = {
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    val ranked = rnd.shuffle(terms.toSeq).toArray
    val cdf = ranked.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    def term(): String = {
      val u = rnd.nextDouble() * total
      val i = cdf.indexWhere(_ >= u)
      ranked(if (i < 0) ranked.length - 1 else i)
    }
    def phrase(k: Int) = Seq.fill(k)(term()).mkString(" ")
    (0 until n).map { i =>
      val limit = if (rnd.nextInt(10) == 0) 50 else 10
      val u = if (orOnly) 0 else rnd.nextInt(100)
      if (u < 75) Query(i, phrase(1 + rnd.nextInt(4)), "or", limit)
      else if (u < 90) Query(i, phrase(2 + rnd.nextInt(2)), "and", limit)
      else {
        val must = term()
        val not = Iterator.continually(term()).find(_ != must).get
        Query(i, phrase(1 + rnd.nextInt(2)), "bool", limit, must, not)
      }
    }
  }
}
