package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexCache, IndexConfig, PostingIndex}
import graft.server.SearchServer

/** The workloads. Sizes are fixed here; only the seed varies the
  * inputs. See perfbench/README.md for why each workload exists.
  */
object Workloads {

  /** serve-http corpus size, and the fixed open-loop rate: about a third of
    * the req/s 4 closed-loop clients reach on the commit the benchmark was
    * defined at, so requests rarely queue.
    */
  val ServeDocs = 3000L
  val OpenLoopRate = 1.2
  val Clients = 4

  /** ingest-mutate base corpus, identifier vocabulary, append batch. */
  val IngestDocs = 3000L
  val IngestSpread = 20000
  val AppendDocs = 300L

  /** Nominal length of one mutation cycle: `--seconds` buys a fixed number
    * of cycles, not as many as fit, because a second cycle on a fast host
    * (warmer, with a different read mix) made the metrics bimodal.
    */
  val CycleSeconds = 15.0

  private def op(phase: String, q: Query, due: Double, submit: Double,
                 send: Double, end: Double, ok: Boolean): Map[String, Any] =
    Map("phase" -> phase, "id" -> q.id, "due" -> due, "submit" -> submit,
      "send" -> send, "end" -> end, "ok" -> ok)

  // ------------------------------------------------------------ serve-http

  /** SearchServer derives its index dir from `sfDir` under /tmp and builds
    * there on a miss. Seeding IndexCache's in-process memo with the index
    * this run already built keeps the server on that index, inside the run
    * directory. Returns a check that no other index was built.
    */
  private def seedIndexCache(sfDir: String, idxDir: String, cfg: IndexConfig): () => Unit = {
    val obj = IndexCache
    def field(name: String): AnyRef = {
      val f = obj.getClass.getDeclaredFields.find(_.getName.endsWith(name))
        .getOrElse(sys.error(s"IndexCache.$name not found: cannot pin the server's index"))
      f.setAccessible(true)
      f.get(obj)
    }
    val version = field("layoutVersion").asInstanceOf[Integer]
    val memo = field("cache").asInstanceOf[TrieMap[(String, Boolean), String]]
    val safe = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    val key = (s"/tmp/graft_idx_v${version}_${safe}_s${cfg.shards}_tb${cfg.termBuckets}" +
      s"_bs${cfg.blockSize}_stemtrue", true)
    memo.put(key, idxDir)
    () => {
      val strays = memo.keys.filter(_ != key).map(_._1).toSeq
      strays.foreach(d => if (Files.exists(Paths.get(d))) deleteTree(Paths.get(d)))
      require(strays.isEmpty, s"SearchServer built its own index at $strays")
    }
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  def serveHttp(run: Run): Unit = {
    val L = new Layers(run)
    val sf = run.path("sf")
    val idxDir = run.path("idx")
    val qs = Inputs.queries(run.seed, 4000, orOnly = false)

    L.warmUp()
    val t0 = System.nanoTime()
    val genS = L.corpus(sf, run.docs(ServeDocs), run.seed, vocabSpread = 0)
    val built = L.build(sf, idxDir)
    val noStrays = seedIndexCache(sf, idxDir, L.cfg)
    val (server, preloadS) = run.timed(run.tracer.span("server.start")(run.group("preload") {
      val s = new SearchServer(run.spark, sf, 0); s.start(); s
    }))
    val setupS = (System.nanoTime() - t0) / 1e9
    run.out ++= Seq("setup_s" -> setupS, "corpus_gen_s" -> genS, "build" -> built,
      "preload_s" -> preloadS, "cache_mb" -> L.cacheMb())
    val pool = Executors.newFixedThreadPool(Clients)
    try {
      noStrays()
      serveLoad(run, L, server.boundPort, qs, pool, idxDir, sf)
    } finally {
      pool.shutdownNow()
      server.stop()
    }
    if (run.traced) L.probes(new PostingIndex(run.spark, idxDir).preload(), idxDir,
      qs.filter(_.mode == "or").slice(2, 5))
    L.analysisProbe(sf)
    L.inputs(qs)
  }

  /** serve-http after set-up: warm-up, the two load phases, output checks. */
  private def serveLoad(run: Run, L: Layers, port: Int, qs: IndexedSeq[Query],
                        pool: ExecutorService, idxDir: String, sf: String): Unit = {

    val next = new AtomicInteger(0)
    def nextQuery(): Query = qs(next.getAndIncrement() % qs.length)
    def send(q: Query): Boolean =
      run.check(s"HTTP /search '${q.body}' returns 200 with a well-formed body")(
        L.httpSearch(port, q).isDefined)

    (1 to 4).foreach(_ => send(nextQuery())) // warm-up, not timed
    val ops = ArrayBuffer.empty[Map[String, Any]]

    // phase 1: open loop at a fixed rate, timed from each request's due time
    val p1 = run.seconds * 0.6 * 1e3
    val start = Clock.ms() + 20
    var due = start
    val pending = ArrayBuffer.empty[java.util.concurrent.Future[Map[String, Any]]]
    var more = true
    while (more) {
      due += 1e3 / OpenLoopRate
      if (due > start + p1) more = false
      else {
        val wait = due - Clock.ms()
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        val submit = Clock.ms()
        val q = nextQuery()
        val d = due
        pending += pool.submit(new Callable[Map[String, Any]] {
          def call(): Map[String, Any] = {
            val s = Clock.ms()
            val ok = send(q)
            op("open", q, d, submit, s, Clock.ms(), ok)
          }
        })
      }
    }
    ops ++= pending.map(_.get())

    // phase 2: closed loop, `Clients` clients back to back
    val p2End = Clock.ms() + run.seconds * 0.4 * 1e3
    val closed = (1 to Clients).map { _ =>
      pool.submit(new Callable[Seq[Map[String, Any]]] {
        def call(): Seq[Map[String, Any]] = {
          val mine = ArrayBuffer.empty[Map[String, Any]]
          while (Clock.ms() < p2End) {
            val q = nextQuery()
            val s = Clock.ms()
            val ok = send(q)
            mine += op("closed", q, s, s, s, Clock.ms(), ok)
          }
          mine.toSeq
        }
      })
    }
    ops ++= closed.flatMap(_.get())
    run.out += "ops" -> ops.toSeq
    run.out += "clients" -> Clients

    // output checks: HTTP == in-process per mode; searchRounded == oracle
    val local = new PostingIndex(run.spark, idxDir)
    val sample = Seq("or", "and", "bool").map(m => qs.find(_.mode == m).get)
    run.tracer.span("check.http")(run.group("check")(sample.foreach { q =>
      run.check(s"HTTP result == in-process PostingIndex result for '${q.body}'")(
        L.httpSearch(port, q).contains(L.inProcess(local, q)))
    }))
    L.checkOracle(local, L.documents(sf), qs.filter(_.mode == "or").slice(1, 2), "serve-http")
  }

  // --------------------------------------------------------- ingest-mutate

  def ingestMutate(run: Run): Unit = {
    val L = new Layers(run)
    val sfA = run.path("sfA")
    val sfB = run.path("sfB")
    val live = run.path("live")
    val qs = Inputs.queries(run.seed, 2000, orOnly = true)

    L.warmUp()
    val t0 = System.nanoTime()
    val nA = run.docs(IngestDocs)
    val nB = nA * AppendDocs / IngestDocs
    val genS = L.corpus(sfA, nA, run.seed, IngestSpread) +
      L.corpus(sfB, nB, run.seed + 1000003L, IngestSpread)
    val built = L.build(sfA, live)
    val (liveIdx, preloadS) = L.preload(live)
    val setupS = (System.nanoTime() - t0) / 1e9
    run.out ++= Seq("setup_s" -> setupS, "corpus_gen_s" -> genS, "build" -> built,
      "preload_s" -> preloadS, "cache_mb" -> L.cacheMb())

    // one closed-loop reader on the live index beside the writer
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = ArrayBuffer.empty[Map[String, Any]]
    val reader = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        val q = qs(i % qs.length)
        val g = s"read-$i"
        val s = Clock.ms()
        val ok = run.check(s"live read '${q.text}'")(run.tracer.span("index.read", req = g)(
          run.group(g)(L.rows(liveIdx.search(q.text, q.limit)).length <= q.limit)))
        reads += Map("phase" -> "read", "id" -> i, "group" -> g, "due" -> s, "submit" -> s,
          "send" -> s, "end" -> Clock.ms(), "ok" -> ok)
        i += 1
      }
    })
    reader.start()

    val docsA = L.documents(sfA)
    val cycles = ArrayBuffer.empty[Map[String, Any]]
    var deleted = 0L
    var clone = ""
    val nCycles = math.max(1, math.round(run.seconds / CycleSeconds).toInt)
    var c = 0
    try while (c < nCycles) {
      clone = run.path(s"clone-$c")
      def step[A](name: String)(f: => A): (A, Map[String, Any]) = {
        val s = Clock.ms()
        val a = run.tracer.span(s"index.$name", req = s"cycle-$c")(run.group(s"mutate-$name")(f))
        (a, Map("start" -> s, "end" -> Clock.ms()))
      }
      val (_, cl) = step("cloneIndex")(IndexBuilder.cloneIndex(live, clone))
      val (_, ap) = step("append")(IndexBuilder.append(run.spark, L.documents(sfB), clone, L.cfg, s"b$c"))
      val (n, de) = step("delete") {
        val ids = docsA.filter(pmod(col("docId"), lit(7L)) === lit(run.seed % 7)).select("docId")
        IndexBuilder.delete(run.spark, ids, clone, s"d$c")
        ids.count()
      }
      val (_, co) = step("compact")(IndexBuilder.compact(run.spark, clone, L.cfg))
      deleted = n
      cycles += Map("clone" -> cl, "append" -> ap, "delete" -> de, "compact" -> co,
        "appended" -> nB, "deleted" -> n)
      c += 1
    } finally {
      stop.set(true)
      reader.join()
    }
    run.out ++= Seq("cycles" -> cycles.toSeq, "ops" -> reads.toSeq)

    // output checks: document count and sampled results over the survivors
    val g = PostingIndex.readGlobals(run.spark, clone)
    run.check(s"compacted nDocs ${g.nDocs} == built + appended - deleted")(
      g.nDocs == nA + nB - deleted)
    val survivors = docsA.filter(pmod(col("docId"), lit(7L)) =!= lit(run.seed % 7))
      .unionByName(L.documents(sfB))
    val compacted = new PostingIndex(run.spark, clone)
    L.checkOracle(compacted, survivors, qs.slice(100, 101), "ingest-mutate")
    L.probes(liveIdx, live, qs.slice(200, 203))
    L.analysisProbe(sfA)
    L.inputs(qs)
  }
}
