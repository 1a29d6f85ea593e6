package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, Executors, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.Json.mapper
import graft.index.{IndexCache, Manifest, PostingIndex}
import graft.index.PostingIndex.Spec

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
  *                   of OR results (400 with `conjunctive` or must/must_not)
  *   GET  /stats     -> {"document_count":..,"vocabulary_size":..,
  *                       "postings":..,"posting_bytes":..}
  *   GET  /document/{id} -> full document row or 404
  *
  * Deltas from the reference recorded: the corpus has no stored title/url,
  * so results carry a derived `title` (leading text) and a stable
  * `url` ("graft://{source}/{id}") to keep the reference UI contract's
  * field shape (App.tsx:6-11). Unknown request fields are IGNORED (not
  * 400) — matching the reference, which deserializes unknown JSON fields
  * permissively; its `method` selector (1/2 = TF-IDF idf variants, 3/4 =
  * SVD) has no analog here (BM25 replaces both per the north rule), so
  * `method` in a request is ignored rather than rejected. Absent known
  * fields take their defaults (`query` "", `limit` 10). Like the
  * reference's typed request struct, the server answers 400
  * `{"error":..}` when the body is not a JSON object, when a known field
  * is present with another type (strings for query/must/must_not, a JSON
  * integer in Int range for limit, a boolean for conjunctive, a number
  * for after_score, an integer for after_doc; `null` is no type), and
  * for a negative limit.
  *
  * Serving path: a preloaded index — a resident RDD holding one
  * per-partition index of whole doc shards (shard s in partition s % P,
  * P = min(shards, defaultParallelism)). Every mode (OR, AND, boolean,
  * cursor) builds its `Spec`; the batcher answers it through
  * [[PostingIndex.hits]]: one `runJob` of P tasks, each returning its
  * shards' WAND top-ks, then the k-cut driver-side. No DataFrame is
  * built, so no Catalyst phase and no SQL execution runs for a search,
  * and the job's function is a named class, so Spark cleans no closure
  * before it: a batch costs the job floor plus its kernels.
  * The hits hydrate driver-side from a [[DisplayTable]] that one Spark
  * job builds at construction: each doc's pre-rendered result fields,
  * found by binary search. `/document/{id}` reads its row on the
  * driver ([[Documents]]): parquet-hadoop's reader skips the row groups
  * whose doc_id statistics rule the id out, and no Spark job runs.
  *
  * Page 1 of an OR search ranks by the exact score, and so do its
  * `after_score` pages: the cursor is the exact score of the last hit
  * the client saw, compared exactly, so paging sees each match once.
  *
  * Dispatch: handlers run on a fixed pool of `defaultParallelism`
  * threads. A `/search` handler parses its request, hands the `Spec` to
  * one batcher thread and returns. Whenever the batcher is free it takes
  * every spec queued so far and answers them all with one Spark job
  * (each request's rows are those of its spec sent alone); the pool then
  * hydrates and sends each answer. So concurrent searches share job
  * scheduling instead of paying one job each, and a lone search is one
  * job as before. There is no linger: a batch is whatever queued while
  * the previous one ran. Responses go out with
  * TCP_NODELAY (`sun.net.httpserver.nodelay`, unless set explicitly):
  * with Nagle on, the JDK server's separate header and body writes wait
  * for the client's delayed ACK, about 40 ms per kept-alive request.
  * [[stop]] answers the requests in flight, then releases the pool, the
  * batcher and the resident index.
  */
final class SearchServer(spark: SparkSession, sfDir: String, port: Int) {
  private val idxDir = IndexCache.dirFor(spark, sfDir, stem = true)
  private val idx = new PostingIndex(spark, idxDir).preload()
  private val display =
    DisplayTable.load(spark, sfDir, spark.read.parquet(s"$sfDir/documents.parquet"))
  private val documents = new Documents(s"$sfDir/documents.parquet")

  private val server = {
    SearchServer.noDelayByDefault()
    HttpServer.create(new InetSocketAddress(port), 0)
  }

  // threads do not inherit the creator's Spark local properties: a job
  // group set around construction must not tag (or cancel) request jobs
  private def daemon(name: String, r: Runnable): Thread = {
    val t = new Thread(null, r, name, 0, false)
    t.setDaemon(true)
    t
  }
  private val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism,
    (r: Runnable) => daemon("search-server", r))

  /** A search waiting for the batcher: its spec and its answer. */
  private final class Pending(val spec: Spec) extends CompletableFuture[Array[(Long, Double)]]

  private val queue = new LinkedBlockingQueue[Pending]()
  private val batcher = daemon("search-batcher", () => batches())

  /** The batcher's loop: takes everything queued, answers it with one
    * [[PostingIndex.hits]] call, repeats. A failed batch fails each of
    * its requests (a 500 each); the loop goes on. Ends when [[stop]]
    * interrupts it.
    */
  private def batches(): Unit = {
    val batch = new java.util.ArrayList[Pending]()
    try while (true) {
      batch.add(queue.take())
      queue.drainTo(batch)
      val ps = batch.asScala.toSeq
      batch.clear()
      try idx.hits(ps.map(_.spec)).lazyZip(ps).foreach((hs, p) => p.complete(hs))
      catch {
        case e: Throwable =>
          ps.foreach(_.completeExceptionally(e))
          if (e.isInstanceOf[InterruptedException]) throw e
      }
    } catch { case _: InterruptedException => }
  }

  private def error(msg: String): JsonNode = mapper.createObjectNode().put("error", msg)

  private def respond(ex: HttpExchange, code: Int, body: JsonNode): Unit =
    respond(ex, code, mapper.writeValueAsString(body).getBytes(StandardCharsets.UTF_8))

  private def respond(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit =
    try {
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    } finally ex.close()

  /** Answers a search the batcher has answered: its hits, or a 500. */
  private def answer(ex: HttpExchange, top: Array[(Long, Double)], failure: Throwable): Unit =
    if (failure != null) respond(ex, 500, error(failure.toString))
    else try respond(ex, 200, hydrate(top)) catch {
      case e: Throwable => respond(ex, 500, error(e.toString))
    }

  def start(): Unit = {
    // the handler returns once the spec is queued: a handler thread never
    // waits for a batch, so a batch can hold more searches than the pool
    // has threads
    server.createContext("/search", (ex: HttpExchange) => {
      try {
        val pending = new Pending(spec(ex.getRequestBody))
        pending.whenCompleteAsync((top: Array[(Long, Double)], failure: Throwable) =>
          answer(ex, top, failure), pool)
        queue.put(pending)
      } catch {
        case BadRequest(msg) => respond(ex, 400, error(msg))
        case e: JsonProcessingException =>
          respond(ex, 400, error(s"body is not JSON: ${e.getOriginalMessage}"))
        case e: Throwable => respond(ex, 500, error(e.toString))
      }
    })
    server.createContext("/stats", (ex: HttpExchange) => {
      val g = idx.globals
      val (_, postings, bytes) = Manifest.totals(idxDir)
      respond(ex, 200, mapper.createObjectNode().put("document_count", g.nDocs)
        .put("vocabulary_size", g.vocabularySize).put("postings", postings)
        .put("posting_bytes", bytes))
    })
    server.createContext("/document/", (ex: HttpExchange) => {
      val idStr = ex.getRequestURI.getPath.stripPrefix("/document/")
      idStr.toLongOption match {
        case None => respond(ex, 400, error("bad id"))
        case Some(id) => documents(id) match {
          case None => respond(ex, 404, error("not found"))
          case Some(d) =>
            respond(ex, 200, mapper.createObjectNode().put("id", d.id).put("lang", d.lang)
              .put("source", d.source).put("text", d.text))
        }
      }
    })
    server.setExecutor(pool)
    batcher.start()
    server.start()
  }

  /** The `Spec` of the request in `body`. Throws [[BadRequest]] for a
    * request the scaladoc above does not allow, and for an `after_score`
    * cursor beside `conjunctive` or must/must_not: it pages OR results
    * only, so those modes would come back as OR hits or as page 1 again.
    */
  private def spec(body: java.io.InputStream): Spec = {
    val req = mapper.readTree(body)
    if (!req.isObject) throw BadRequest("body must be a JSON object")
    def field[T](name: String, what: String, default: T)(read: PartialFunction[JsonNode, T]): T =
      Option(req.get(name)).fold(default)(v =>
        read.applyOrElse(v, (_: JsonNode) => throw BadRequest(s"field $name must be $what, got $v")))
    def text(name: String): String = field(name, "a string", "") { case v if v.isTextual => v.textValue }
    val query = text("query")
    val limit = field("limit", "an integer in Int range", 10) { case v if v.isInt => v.intValue }
    val conj = field("conjunctive", "a boolean", false) { case v if v.isBoolean => v.booleanValue }
    // extended modes beyond the reference contract (absent fields = the
    // reference behavior): must/must_not clauses -> boolean search with
    // `query` as the should clause; after_score+after_doc -> search_after
    // deep pagination
    val (must, mustNot) = (text("must"), text("must_not"))
    val afterScore = field("after_score", "a number", Option.empty[Double]) {
      case v if v.isNumber => Some(v.doubleValue) }
    val afterDoc = field("after_doc", "a 64-bit integer", Long.MinValue) {
      case v if v.isInt || v.isLong => v.longValue }
    val boolean = must.nonEmpty || mustNot.nonEmpty
    if (limit < 0) throw BadRequest(s"limit must be >= 0, got $limit")
    if (afterScore.isDefined && (conj || boolean))
      throw BadRequest("after_score pages OR results only: drop conjunctive, must and must_not")
    if (boolean) idx.booleanSpec(must, query, mustNot, limit)
    else if (conj) idx.andSpec(query, limit)
    else afterScore match {
      case Some(score) => idx.orSpec(query, limit, afterScore = score, afterDoc = afterDoc)
      case None => idx.orSpec(query, limit)
    }
  }

  /** The JSON array of `top`'s hits, each with its pre-rendered fields
    * from the display table.
    */
  private def hydrate(top: Array[(Long, Double)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    out.write('[')
    for (((id, score), i) <- top.zipWithIndex) {
      if (i > 0) out.write(',')
      out.writeBytes(s"""{"id":$id,"score":$score""".getBytes(StandardCharsets.UTF_8))
      out.writeBytes(display(id))
    }
    out.write(']')
    out.toByteArray
  }

  /** Stops listening, answers the requests in flight (waiting up to 30 s
    * for them), ends the pool and the batcher, then unpins the resident
    * index.
    */
  def stop(): Unit = {
    server.stop(30)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
    batcher.interrupt()
    batcher.join(30000)
    idx.close()
  }

  def boundPort: Int = server.getAddress.getPort

  /** Searches queued for the batcher's next batch. */
  private[server] def queued: Int = queue.size
}

/** A request the documented shape does not allow: answered 400. */
private final case class BadRequest(msg: String) extends Exception(msg)

object SearchServer {

  private val NoDelay = "sun.net.httpserver.nodelay"

  /** Turns on TCP_NODELAY for the JDK http server unless the property is
    * set already. The JDK reads it once, when the JVM's first server is
    * created.
    */
  private[server] def noDelayByDefault(): Unit = synchronized {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")}]")
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
