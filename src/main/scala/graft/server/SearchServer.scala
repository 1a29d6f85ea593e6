package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{IndexCache, Manifest, PostingIndex}

/** The reference's HTTP surface (SURVEY.md §2.1 S7/S8/S9 — main.rs:306-311,
  * 399-484, 546-555) over the Spark engine, dependency-free via the JDK
  * http server:
  *
  *   POST /search    {"query": "...", "limit": 10, "conjunctive": false}
  *                   -> [{"id":..,"score":..,"lang":"..","source":"..","snippet":".."}]
  *                   extended modes (beyond the reference contract):
  *                   "must"/"must_not" clause strings -> boolean search
  *                   with `query` as the should clause;
  *                   "after_score"+"after_doc" -> search_after pagination
  *   GET  /stats     -> {"document_count":..,"vocabulary_size":..,
  *                       "postings":..,"posting_bytes":..}
  *   GET  /document/{id} -> full document row or 404
  *
  * Deltas from the reference recorded: the corpus has no stored title/url,
  * so results carry a derived `title` (leading text) and a stable
  * `url` ("graft://{source}/{id}") to keep the reference UI contract's
  * field shape (App.tsx:6-11). Request fields beyond
  * {query, limit, conjunctive} are IGNORED (not 400) — matching the
  * reference, which deserializes unknown JSON fields permissively; its
  * `method` selector (1/2 = TF-IDF idf variants, 3/4 = SVD) has no analog
  * here (BM25 replaces both per the north rule), so `method` in a request
  * is ignored rather than rejected.
  *
  * Serving path: a preloaded index (segments pinned in executor memory,
  * partitioned by doc shard), so a search is one narrow
  * scan-filter-WAND job with no shuffle. The hits hydrate on the driver
  * from a [[DisplayTable]] that one Spark job builds at construction:
  * each doc's pre-rendered result fields, found by binary search. A
  * request is one Spark job; `/document/{id}` is one uncached parquet
  * point lookup.
  *
  * Dispatch is concurrent: handlers run on a fixed pool of
  * `defaultParallelism` threads, so requests overlap their Catalyst
  * planning, job scheduling and cache scans instead of queueing behind
  * one another. [[stop]] releases the pool and the postings cache.
  */
final class SearchServer(spark: SparkSession, sfDir: String, port: Int) {
  import SearchServer.jstr

  private val idxDir = IndexCache.dirFor(spark, sfDir, stem = true)
  private val idx = new PostingIndex(spark, idxDir).preload()
  private val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private val display = DisplayTable.load(spark, sfDir, docs)

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  // threads do not inherit the creator's Spark local properties: a job
  // group set around construction must not tag (or cancel) request jobs
  private val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism,
    (r: Runnable) => {
      val t = new Thread(null, r, "search-server", 0, false)
      t.setDaemon(true)
      t
    })

  private def respond(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, body.getBytes(StandardCharsets.UTF_8))

  private def respond(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Full JSON string unescape (the whole escape set incl. \uXXXX): a
    * legitimately-encoded query containing \n/\t/\u-escapes must reach the
    * analyzer as the characters it encodes, not literal backslash runs.
    */
  private def unescapeJson(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case '/' => sb += '/'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 'b' => sb += '\b'; i += 2
          case 'f' => sb += '\f'; i += 2
          case 'u' if i + 5 < s.length =>
            val hex = s.substring(i + 2, i + 6)
            try { sb += Integer.parseInt(hex, 16).toChar; i += 6 }
            catch { case _: NumberFormatException => sb += 'u'; i += 2 }
          case other => sb += other; i += 2 // lenient: unknown escape kept
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Minimal JSON field extraction for the tiny request shape (a full
    * parser is not warranted for three fields of known types).
    */
  private def jsonField(body: String, name: String): Option[String] = {
    val m = ("\"" + java.util.regex.Pattern.quote(name) +
      "\"\\s*:\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|[^,}\\s]+)").r
    m.findFirstMatchIn(body).map { mm =>
      Option(mm.group(2)).map(unescapeJson).getOrElse(mm.group(1))
    }
  }

  def start(): Unit = {
    server.createContext("/search", (ex: HttpExchange) => {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val query = jsonField(body, "query").getOrElse("")
        val limit = jsonField(body, "limit").flatMap(_.toIntOption).getOrElse(10)
        if (limit < 0) respond(ex, 400, s"""{"error":"limit must be >= 0, got $limit"}""")
        else {
          val conj = jsonField(body, "conjunctive").contains("true")
          // extended modes beyond the reference contract (absent fields =
          // the reference behavior): must/must_not clauses -> boolean
          // search with `query` as the should clause; after_score+after_doc
          // -> search_after deep pagination
          val must = jsonField(body, "must").getOrElse("")
          val mustNot = jsonField(body, "must_not").getOrElse("")
          val afterScore = jsonField(body, "after_score").flatMap(_.toDoubleOption)
          val top =
            if (must.nonEmpty || mustNot.nonEmpty)
              idx.searchBooleanRounded(must, query, mustNot, limit)
            else if (afterScore.isDefined)
              idx.searchAfterRounded(query, limit, afterScore.get,
                jsonField(body, "after_doc").flatMap(_.toLongOption)
                  .getOrElse(Long.MinValue))
            else if (conj) idx.searchConjunctive(query, limit)
            else idx.search(query, limit)
          respond(ex, 200, hydrate(top))
        }
      } catch {
        case e: Throwable => respond(ex, 500, s"""{"error":${jstr(e.toString)}}""")
      }
    })
    server.createContext("/stats", (ex: HttpExchange) => {
      val g = idx.globals
      val (_, postings, bytes) = Manifest.totals(idxDir)
      respond(ex, 200,
        s"""{"document_count":${g.nDocs},"vocabulary_size":${g.vocabularySize},""" +
          s""""postings":$postings,"posting_bytes":$bytes}""")
    })
    server.createContext("/document/", (ex: HttpExchange) => {
      val idStr = ex.getRequestURI.getPath.stripPrefix("/document/")
      idStr.toLongOption match {
        case None => respond(ex, 400, """{"error":"bad id"}""")
        case Some(id) =>
          val row = docs.filter(col("doc_id") === id).collect()
          if (row.isEmpty) respond(ex, 404, """{"error":"not found"}""")
          else {
            val r = row(0)
            respond(ex, 200,
              s"""{"id":${r.getAs[Long]("doc_id")},"lang":${jstr(r.getAs[String]("lang"))},""" +
                s""""source":${jstr(r.getAs[String]("source"))},"text":${jstr(r.getAs[String]("text"))}}""")
          }
      }
    })
    server.setExecutor(pool)
    server.start()
  }

  /** The JSON array of `top`'s hits: one `collect`, then each hit's
    * pre-rendered fields from the display table.
    */
  private def hydrate(top: org.apache.spark.sql.DataFrame): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    out.write('[')
    for ((r, i) <- top.collect().zipWithIndex) {
      val id = r.getLong(0)
      if (i > 0) out.write(',')
      out.writeBytes(s"""{"id":$id,"score":${r.getDouble(1)}""".getBytes(StandardCharsets.UTF_8))
      out.writeBytes(display(id))
    }
    out.write(']')
    out.toByteArray
  }

  /** Stops listening, lets in-flight handlers finish, then unpins the
    * preloaded postings.
    */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
    idx.close()
  }

  def boundPort: Int = server.getAddress.getPort
}

object SearchServer {

  /** `s` as a JSON string literal; null as `null`. */
  private[server] def jstr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = new SearchServer(spark, sfDir, port)
    s.start()
    println(s"SearchServer listening on :$port (corpus $sfDir)")
    Thread.currentThread().join()
  }
}
