package graft.server

import java.net.{HttpURLConnection, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Drives the HTTP surface end-to-end against the sf0.001 corpus: /search
  * agrees with the engine, /stats reports the build counters, /document
  * round-trips and 404s; concurrent requests answer exactly as they do
  * alone, and stop() releases every cache the server pinned. A search is
  * one Spark job of min(shards, cores) tasks and starts no SQL
  * execution, whatever its limit; `after_score` pages see each match
  * once; and its hits show the fields Spark's `substring` cuts.
  * Kept-alive requests wait for no delayed ACK; a failed batch answers
  * each of its requests 500 and the server goes on; stop() answers the
  * requests in flight and ends the batcher. `/document` starts no Spark
  * job.
  */
class SearchServerSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def http(method: String, url: String, body: Option[String] = None): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    (code, out)
  }

  private val sf = "/root/testdata/sf0.001"

  /** Runs `f` against a fresh server's base URL, then stops the server and
    * checks that stop() unpinned every cache the server added.
    */
  private def withServer(f: String => Unit): Unit = withServerOn(sf)(f)

  private def withServerOn(sfDir: String)(f: String => Unit): Unit = {
    graft.index.IndexCache.dirFor(spark, sfDir, stem = true) // a build here is not the server's
    val sc = spark.sparkContext
    def cached = sc.getRDDStorageInfo.map(_.id).toSet
    val before = cached
    val srv = new SearchServer(spark, sfDir, 0)
    srv.start()
    val pinned = cached -- before
    try f(s"http://localhost:${srv.boundPort}") finally srv.stop()
    assert(pinned.nonEmpty, "the server pins its postings")
    assert(cached == before, "stop() must unpin the preloaded postings")
  }

  /** Runs `f` while every task slot of the local context runs a task of
    * a job that waits for `f` to return: a job started inside `f` cannot
    * run a task until then.
    */
  private def withSlotsHeld[T](f: => T): T = {
    val sc = spark.sparkContext
    val slots = sc.defaultParallelism
    val started = new CountDownLatch(slots)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        started.countDown()
    }
    SearchServerSpec.gate = new CountDownLatch(1)
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val holder = new Thread(() => {
      sc.setJobGroup("slots-held", "holds every task slot")
      sc.parallelize(0 until slots, slots).foreach(_ => SearchServerSpec.gate.await())
    })
    holder.start()
    try {
      assert(started.await(60, TimeUnit.SECONDS), "the holding job's tasks started")
      f
    } finally {
      sc.removeSparkListener(listener)
      SearchServerSpec.gate.countDown()
      holder.join(60000)
    }
  }

  /** Whether a thread named `name` is alive in this JVM. */
  private def alive(name: String): Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(t => t.getName == name && t.isAlive)

  private def hitIds(body: String): Seq[Long] =
    """"id":(-?\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq

  test("HTTP surface: /search, /stats, /document") {
    withServer { base =>
      val (c1, hits) = http("POST", s"$base/search",
        Some("""{"query": "table scan merge", "limit": 5}"""))
      assert(c1 == 200)
      val ids = """"id":(\d+)""".r.findAllMatchIn(hits).map(_.group(1).toLong).toSeq
      assert(ids.size == 5)
      // must agree with the engine directly
      val direct = new graft.index.PostingIndex(spark,
        graft.index.IndexCache.dirFor(spark, sf, stem = true))
        .search("table scan merge", 5).collect().map(_.getLong(0)).toSeq
      assert(ids == direct)

      val (c2, stats) = http("GET", s"$base/stats")
      assert(c2 == 200 && stats.contains("\"document_count\":500"))

      val (c3, doc) = http("GET", s"$base/document/42")
      assert(c3 == 200 && doc.contains("\"id\":42"))
      val (c4, _) = http("GET", s"$base/document/999999")
      assert(c4 == 404)
      val (c5, _) = http("GET", s"$base/document/notanid")
      assert(c5 == 400)

      // result rows carry the reference UI contract fields (App.tsx:6-11)
      assert(hits.contains("\"title\":") && hits.contains("\"url\":\"graft://"))

      // JSON escapes in the query string must decode before analysis:
      // "table scan\tmerge" == "table scan\tmerge" -> same results
      val (cEsc, escHits) = http("POST", s"$base/search",
        Some("{\"query\": \"table\\u0020scan\\tmerge\", \"limit\": 5}"))
      assert(cEsc == 200)
      val escIds = """"id":(\d+)""".r.findAllMatchIn(escHits).map(_.group(1).toLong).toSeq
      assert(escIds == direct)

      // degenerate query: all stop words -> empty array, not an error
      val (c6, empty) = http("POST", s"$base/search", Some("""{"query": "the a of"}"""))
      assert(c6 == 200 && empty == "[]")

      // conjunctive mode
      val (c7, _) = http("POST", s"$base/search",
        Some("""{"query": "table scan", "conjunctive": true, "limit": 3}"""))
      assert(c7 == 200)

      // boolean mode: must/must_not clauses with `query` as should —
      // must agree with the engine's boolean search directly
      val idxH = graft.index.PostingIndex.forDir(spark,
        graft.index.IndexCache.dirFor(spark, sf, stem = true))
      val (c8, boolHits) = http("POST", s"$base/search",
        Some("""{"query": "merge scan", "must": "table", "must_not": "stream", "limit": 5}"""))
      assert(c8 == 200)
      val boolIds = """"id":(\d+)""".r.findAllMatchIn(boolHits).map(_.group(1).toLong).toSeq
      val boolDirect = idxH.searchBooleanRounded("table", "merge scan", "stream", 5)
        .collect().map(_.getLong(0)).toSeq
      assert(boolIds == boolDirect)

      // search_after pagination: page 2 via the last hit of the server's
      // page 1 as cursor; both pages rank by the exact score they show
      val last = graft.Json.mapper.readTree(hits).get(4)
      val (lastScore, lastDoc) = (last.get("score").doubleValue, last.get("id").longValue)
      val (c9, p2Hits) = http("POST", s"$base/search",
        Some(s"""{"query": "table scan merge", "limit": 5, """ +
          s""""after_score": $lastScore, "after_doc": $lastDoc}"""))
      assert(c9 == 200)
      val p2Ids = """"id":(\d+)""".r.findAllMatchIn(p2Hits).map(_.group(1).toLong).toSeq
      val p2Direct = idxH.hits(idxH.orSpec("table scan merge", 5,
        afterScore = lastScore, afterDoc = lastDoc)).map(_._1).toSeq
      assert(p2Ids == p2Direct && p2Ids.nonEmpty)
      assert(p2Ids.toSet.intersect(ids.toSet).isEmpty)
    }
  }

  test("concurrent requests answer as when sent alone; stop() releases the caches") {
    withServer { base =>
      val searches = Seq(
        """{"query": "table scan merge", "limit": 5}""",
        """{"query": "stream join", "limit": 10}""",
        """{"query": "table scan", "conjunctive": true, "limit": 3}""",
        """{"query": "merge sort", "conjunctive": true, "limit": 5}""",
        """{"query": "merge scan", "must": "table", "must_not": "stream", "limit": 5}""",
        """{"query": "join", "must": "hash", "limit": 5}""",
        """{"query": "window vector dup", "limit": 8}""",
        """{"query": "the a of"}""")
      val requests: Seq[() => (Int, String)] =
        searches.map(b => () => http("POST", s"$base/search", Some(b))) ++
          Seq(() => http("GET", s"$base/stats"),
            () => http("GET", s"$base/document/42"),
            () => http("GET", s"$base/document/7"))
      val pool = Executors.newFixedThreadPool(6)
      try {
        val alone = requests.map(_())
        assert(alone.forall(_._1 == 200), alone.map(_._1))
        assert(alone.take(7).forall(_._2.startsWith("[{")), "every search but the stop-word one hits")
        // 33 requests from 6 threads, each request three times, interleaved
        val burst = Seq.fill(3)(requests.indices).flatten
        val together = pool.invokeAll(burst.map(i =>
          new Callable[(Int, (Int, String))] { def call() = (i, requests(i)()) }).asJava)
          .asScala.map(_.get(120, TimeUnit.SECONDS))
        together.foreach { case (i, got) =>
          assert(got == alone(i), s"request $i under concurrency")
        }
      } finally pool.shutdownNow()
    }
  }

  test("one Spark job per /search; limit 0 is empty, negative is 400, Int.MaxValue is safe") {
    withServer { base =>
      val sc = spark.sparkContext
      @volatile var jobs = 0
      @volatile var tasks = 0
      @volatile var sqls = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
        override def onTaskStart(ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
          tasks += 1
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => sqls += 1
          case _ =>
        }
      }
      def search(body: String): (Int, String, Int) = {
        org.apache.spark.ListenerBusDrain(sc)
        jobs = 0; tasks = 0; sqls = 0
        val (code, out) = http("POST", s"$base/search", Some(body))
        org.apache.spark.ListenerBusDrain(sc)
        (code, out, jobs)
      }
      // the resident index: min(shards, defaultParallelism) partitions
      val shards = graft.index.PostingIndex.readGlobals(spark,
        graft.index.IndexCache.dirFor(spark, sf, stem = true)).shards
      val parts = math.min(shards, sc.defaultParallelism)
      sc.addSparkListener(listener)
      try {
        Seq("""{"query": "table scan merge", "limit": 5}""",
          """{"query": "table scan", "conjunctive": true, "limit": 3}""",
          """{"query": "merge scan", "must": "table", "must_not": "stream", "limit": 5}""",
          """{"query": "table scan merge", "limit": 5, "after_score": 3.5, "after_doc": 7}"""
        ).foreach { body =>
          val (code, out, n) = search(body)
          assert(code == 200 && out.startsWith("[{"), s"$body -> $code $out")
          assert(n == 1, s"$body ran $n Spark jobs")
          assert(tasks == parts, s"$body ran $tasks tasks, want $parts")
          assert(sqls == 0, s"$body started $sqls SQL executions")
        }
        val (c0, empty, _) = search("""{"query": "table scan merge", "limit": 0}""")
        assert(c0 == 200 && empty == "[]")
        val (cNeg, neg, _) = search("""{"query": "table scan merge", "limit": -3}""")
        assert(cNeg == 400 && neg.startsWith("{\"error\":"), neg)
        val (cMax, all, _) = search("""{"query": "table scan merge", "limit": 2147483647}""")
        assert(cMax == 200)
        val ids = hitIds(all)
        assert(ids.nonEmpty && ids.size <= 500 && ids.distinct == ids)
        // the server survived it
        val (cAfter, after, _) = search("""{"query": "table scan merge", "limit": 5}""")
        assert(cAfter == 200 && hitIds(after) == ids.take(5))
      } finally sc.removeSparkListener(listener)
    }
  }

  test("a body that is not a JSON object, a mistyped field or an unpageable cursor is 400") {
    withServer { base =>
      def search(body: String) = http("POST", s"$base/search", Some(body))
      Seq(
        "query=table", "", "\"table scan\"", """["table"]""",
        """{"query": "table scan""", """{"query": "table"} {"query": "scan"}""",
        """{"query": null}""", """{"query": 7}""", """{"query": ["table"]}""",
        """{"query": "table", "must": 1}""", """{"query": "table", "must_not": null}""",
        """{"query": "table", "limit": "5"}""", """{"query": "table", "limit": 5.5}""",
        """{"query": "table", "limit": 2147483648}""", """{"query": "table", "limit": null}""",
        """{"query": "table", "conjunctive": "true"}""", """{"query": "table", "conjunctive": 1}""",
        """{"query": "table", "after_score": "3.5"}""",
        """{"query": "table", "after_score": 3.5, "after_doc": 7.5}""",
        """{"query": "table", "after_score": 3.5, "after_doc": "7"}""",
        // a cursor pages OR results: AND would come back as OR hits, and
        // boolean mode would ignore it and repeat page 1
        """{"query": "table scan", "conjunctive": true, "after_score": 3.5, "after_doc": 7}""",
        """{"query": "merge scan", "must": "table", "after_score": 3.5}""",
        """{"query": "merge scan", "must_not": "stream", "after_score": 3.5, "after_doc": 7}"""
      ).foreach { body =>
        val (code, out) = search(body)
        assert(code == 400, s"$body -> $code $out")
        assert(graft.Json.mapper.readTree(out).get("error").isTextual, out)
      }
      // absent fields keep their defaults; unknown ones are ignored
      val idxH = graft.index.PostingIndex.forDir(spark,
        graft.index.IndexCache.dirFor(spark, sf, stem = true))
      val (c1, dflt) = search("""{"query": "table scan merge", "method": 3, "x": {"y": [null]}}""")
      assert(c1 == 200 && hitIds(dflt) == idxH.search("table scan merge", 10).collect().map(_.getLong(0)).toSeq)
      assert(search("{}") == ((200, "[]")))
      val (c2, page2) = search("""{"query": "table scan merge", "limit": 5, "conjunctive": false, """ +
        """"must": "", "after_score": 3.5, "after_doc": 7}""")
      assert(c2 == 200 && hitIds(page2) ==
        idxH.hits(idxH.orSpec("table scan merge", 5, afterScore = 3.5, afterDoc = 7)).map(_._1).toSeq)
    }
  }

  test("after_score pages see every match once where scores straddle a 4-dp boundary") {
    // (tf, filler) of 40 docs matching "alpha": their exact scores put
    // adjacent docs on both sides of a 4-dp rounding boundary (a cursor
    // compared rounded skips the lower doc), round down (a rounded
    // cursor repeats the doc it names), and tie exactly (doc_id decides)
    val shape = Seq((3, 40), (2, 33), (1, 21), (3, 6), (2, 27), (2, 18), (2, 2), (1, 3),
      (3, 28), (2, 39), (1, 9), (1, 2), (2, 21), (2, 20), (3, 4), (3, 6), (2, 20), (3, 23),
      (2, 20), (1, 3), (1, 7), (2, 34), (2, 0), (3, 7), (1, 22), (2, 26), (1, 2), (1, 28),
      (2, 39), (3, 40), (2, 10), (2, 7), (2, 24), (2, 1), (1, 14), (3, 34), (1, 18), (1, 32),
      (3, 40), (2, 33))
    val rows = shape.zipWithIndex.map { case ((tf, pad), i) =>
      (i.toLong * 13 - 200, (Seq.fill(tf)("alpha") ++ Seq.fill(pad)("omega")).mkString(" "))
    } ++ (0 until 20).map(i => (1000L + i, Seq.fill(30)("omega").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-server-paging")
    val sfDir = dir.toString
    import spark.implicits._
    rows.map { case (id, text) => (id, text, "en", "s") }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$sfDir/documents.parquet")
    val idxDir = graft.index.IndexCache.dirFor(spark, sfDir, stem = true)
    val pre = new graft.index.PostingIndex(spark, idxDir).preload()
    try {
      val all = pre.hits(pre.orSpec("alpha", 1000))
      assert(all.length == shape.size)
      val scores = all.map(_._2)
      val r4 = graft.search.Wand.round4 _
      assert(scores.zip(scores.tail).exists { case (a, b) => a > b && r4(b) > a },
        "two adjacent scores straddle a rounding boundary")
      assert(scores.exists(s => r4(s) < s), "a score rounds down")
      assert(scores.zip(scores.tail).exists { case (a, b) => a == b }, "two scores tie")

      /** The ids `page(size, cursor)` returns, paging from page 1 until a
        * short page; each page's last (doc, score) is the next cursor.
        */
      def pageThrough(size: Int)(page: Option[(Double, Long)] => Seq[(Long, Double)]): Seq[Long] = {
        val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
        var cursor = Option.empty[(Double, Long)]
        var more = true
        while (more) {
          val hs = page(cursor)
          seen ++= hs.map(_._1)
          assert(seen.size <= shape.size, s"page size $size: paging does not end")
          if (hs.size < size) more = false else cursor = Some((hs.last._2, hs.last._1))
        }
        seen.toSeq
      }
      val want = all.map(_._1).toSeq
      val plain = new graft.index.PostingIndex(spark, idxDir)
      val wantRounded = plain.searchRounded("alpha", 1000).collect().map(_.getLong(0)).toSeq
      (1 to shape.size).foreach { n =>
        // in-process, exact: the server's spec, resident and DataFrame path
        Seq(pre, plain).filter(_ == pre || n % 8 == 1).foreach { idx =>
          assert(pageThrough(n) { c =>
            val (s, d) = c.getOrElse((Double.PositiveInfinity, Long.MinValue))
            idx.hits(idx.orSpec("alpha", n, afterScore = s, afterDoc = d)).toSeq
          } == want, s"exact pages of $n")
        }
        // in-process, rounded: searchAfterRounded pages searchRounded
        assert(pageThrough(n) { c =>
          val df = c.fold(pre.searchRounded("alpha", n))(c => pre.searchAfterRounded("alpha", n, c._1, c._2))
          df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        } == wantRounded, s"rounded pages of $n")
      }
      withServerOn(sfDir) { base =>
        (1 to shape.size).foreach { n =>
          assert(pageThrough(n) { c =>
            val after = c.fold("")(c => s""", "after_score": ${c._1}, "after_doc": ${c._2}""")
            val (code, body) = http("POST", s"$base/search", Some(s"""{"query": "alpha", "limit": $n$after}"""))
            assert(code == 200, body)
            graft.Json.mapper.readTree(body).elements.asScala
              .map(h => (h.get("id").longValue, h.get("score").doubleValue)).toSeq
          } == want, s"HTTP pages of $n")
        }
      }
    } finally {
      pre.close()
      Seq(dir, java.nio.file.Paths.get(idxDir)).foreach { p =>
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
  }

  test("hit fields byte-equal Spark's substring across multi-byte and surrogate-pair cuts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-server-display")
    val sfDir = dir.toString
    // each doc puts a run of one awkward character across code point 60
    // (the title cut) and code point 150 (the snippet cut), at shifting
    // offsets; surrogate pairs count as ONE position in Spark's substring
    val awkward = Seq("\u00e9", "\u4e2d", "\ud83d\ude00", "\"", "\\", "\n", "\u0001",
      "\ud834\udd1e\u00e9")
    def text(i: Int): String = {
      val sb = new java.lang.StringBuilder("alpha ")
      def padTo(cp: Int): Unit = while (sb.codePointCount(0, sb.length) < cp) sb.append('y')
      val a = awkward(i % awkward.size)
      padTo(57 + i % 5); (1 to 3).foreach(_ => sb.append(a))
      padTo(147 + i / awkward.size % 5); (1 to 3).foreach(_ => sb.append(a))
      sb.append(" omega").toString
    }
    val rows = (0 until 40).map(i => (i.toLong * 7 - 100, text(i), s"l\u00e4ng$i", s"src/\ud83d\ude00$i")) ++
      Seq((9999L, "alpha short \ud83d\ude00", "en", "s"), (10000L, "alpha " + "z" * 54, "en", "s"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(3)
      .write.parquet(s"$sfDir/documents.parquet")
    val idxDir = graft.index.IndexCache.dirFor(spark, sfDir, stem = true)
    try {
      val want = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"),
          substring(col("text"), 1, 60), substring(col("text"), 1, 150))
        .collect().map(r => r.getLong(0) -> r).toMap
      withServerOn(sfDir) { base =>
        val (code, body) = http("POST", s"$base/search", Some("""{"query": "alpha", "limit": 100}"""))
        assert(code == 200)
        val hits = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        assert(hits.size == rows.size)
        hits.elements.asScala.foreach { h =>
          val id = h.get("id").asLong
          val r = want(id)
          def same(field: String, expected: String): Unit =
            assert(h.get(field).asText.getBytes(StandardCharsets.UTF_8)
              .sameElements(expected.getBytes(StandardCharsets.UTF_8)), s"doc $id $field")
          same("title", r.getString(3))
          same("snippet", r.getString(4))
          same("lang", r.getString(1))
          same("source", r.getString(2))
          same("url", s"graft://${r.getString(2)}/$id")
        }
        // the cuts really split the awkward runs somewhere
        assert(want.values.exists(r => r.getString(3).endsWith("\ud83d\ude00")))
      }
      // the size guard fails loudly and names the corpus and the bytes
      val e = intercept[IllegalStateException](DisplayTable.load(spark, sfDir,
        spark.read.parquet(s"$sfDir/documents.parquet"), budget = 1000))
      assert(e.getMessage.contains(sfDir) && e.getMessage.contains("heap"), e.getMessage)
    } finally {
      Seq(dir, java.nio.file.Paths.get(idxDir)).foreach { p =>
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
  }

  test("/document reads its row without a Spark job: bodies as the DataFrame lookup's") {
    val dir = java.nio.file.Files.createTempDirectory("graft-server-document")
    val sfDir = dir.toString
    // three files of several row groups each; null lang and source
    // fields; multi-byte, escaped and surrogate-pair text
    val rows = (0 until 600).map { i =>
      (i.toLong * 7919 % 600 * 3 - 900, "alpha \u00e9\"\\\n\ud83d\ude00 " + "w" * (i % 50) + s" $i omega",
        if (i % 11 == 0) null else s"l\u00e4ng${i % 7}", if (i % 13 == 0) null else s"src/${i % 5}")
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(3)
      .write.option("parquet.block.size", 8192).parquet(s"$sfDir/documents.parquet")
    val idxDir = graft.index.IndexCache.dirFor(spark, sfDir, stem = true)
    try {
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(sfDir, "documents.parquet"))
        .iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      val rowGroups = files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          new org.apache.parquet.io.LocalInputFile(f))
        try r.getFooter.getBlocks.size finally r.close()
      }
      assert(files.size == 3 && rowGroups.forall(_ > 1), rowGroups)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      /** The body and status of the DataFrame lookup `/document` once ran. */
      def want(idStr: String): (Int, String) = idStr.toLongOption match {
        case None => (400, """{"error":"bad id"}""")
        case Some(id) => docs.filter(col("doc_id") === id).collect().headOption match {
          case None => (404, """{"error":"not found"}""")
          case Some(r) => (200, graft.Json.mapper.writeValueAsString(graft.Json.mapper
            .createObjectNode().put("id", r.getAs[Long]("doc_id"))
            .put("lang", r.getAs[String]("lang")).put("source", r.getAs[String]("source"))
            .put("text", r.getAs[String]("text"))))
        }
      }
      val ids = (rows.map(_._1.toString).sorted.grouped(15).map(_.head) ++
        Seq("-900", "897", "-899", "898", "999999", "-1", "9223372036854775807", "notanid", "",
          "1.5")).toSeq
      val expected = ids.map(want)
      assert(expected.count(_._1 == 200) >= 40 && expected.count(_._1 == 200) < ids.size)
      withServerOn(sfDir) { base =>
        val sc = spark.sparkContext
        @volatile var jobs = 0
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs += 1
        }
        org.apache.spark.ListenerBusDrain(sc)
        sc.addSparkListener(listener)
        try {
          val got = ids.map(id => http("GET", s"$base/document/$id"))
          org.apache.spark.ListenerBusDrain(sc)
          ids.indices.foreach(i => assert(got(i) == expected(i), s"/document/${ids(i)}"))
          assert(jobs == 0, "Spark jobs started by /document requests")
        } finally sc.removeSparkListener(listener)
      }
    } finally {
      Seq(dir, java.nio.file.Paths.get(idxDir)).foreach { p =>
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
  }

  test("kept-alive requests wait for no delayed ACK: TCP_NODELAY unless set explicitly") {
    withServer { base =>
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      def ms(req: HttpRequest): Double = {
        val t0 = System.nanoTime()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode == 200, resp.body)
        (System.nanoTime() - t0) / 1e6
      }
      val stats = HttpRequest.newBuilder(URI.create(s"$base/stats")).GET().build()
      val search = HttpRequest.newBuilder(URI.create(s"$base/search"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"query": "table scan merge", "limit": 5}""")).build()
      (1 to 3).foreach { _ => ms(stats); ms(search) } // opens the connection, warms the path
      val statsMs = Seq.fill(30)(ms(stats)).sorted
      val searchMs = Seq.fill(30)(ms(search)).sorted
      // with Nagle on, each answer's body waits ~40 ms for the client's
      // delayed ACK of its headers
      assert(statsMs(15) < 20, s"/stats median ${statsMs(15)} ms (/search median ${searchMs(15)} ms)")
    }
    // an explicit setting wins
    val key = "sun.net.httpserver.nodelay"
    val before = System.getProperty(key)
    System.setProperty(key, "false")
    try {
      SearchServer.noDelayByDefault()
      assert(System.getProperty(key) == "false")
    } finally {
      if (before == null) System.clearProperty(key) else System.setProperty(key, before)
    }
  }

  test("a failed batch answers each of its requests 500; the next request is answered") {
    withServer { base =>
      val sc = spark.sparkContext
      val body = """{"query": "table scan merge", "limit": 5}"""
      val (okCode, want) = http("POST", s"$base/search", Some(body))
      assert(okCode == 200 && want.startsWith("[{"))
      // every search job fails: cancelled as it starts, before a task runs
      val cancel = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (js.properties == null || js.properties.getProperty("spark.jobGroup.id") != "slots-held")
            sc.cancelJob(js.jobId)
      }
      val clients = Executors.newFixedThreadPool(6)
      try {
        val failed = withSlotsHeld {
          sc.addSparkListener(cancel)
          try clients.invokeAll((1 to 6).map(_ =>
            new Callable[(Int, String)] { def call() = http("POST", s"$base/search", Some(body)) }).asJava)
            .asScala.map(_.get(120, TimeUnit.SECONDS))
          finally sc.removeSparkListener(cancel)
        }
        failed.foreach { case (code, out) =>
          assert(code == 500, out)
          assert(graft.Json.mapper.readTree(out).get("error").textValue.contains("cancelled"), out)
        }
      } finally clients.shutdownNow()
      assert(http("POST", s"$base/search", Some(body)) == ((200, want)))
    }
  }

  test("stop() answers the requests in flight, then ends the batcher") {
    graft.index.IndexCache.dirFor(spark, sf, stem = true)
    val sc = spark.sparkContext
    val srv = new SearchServer(spark, sf, 0)
    srv.start()
    val port = srv.boundPort
    val base = s"http://localhost:$port"
    assert(alive("search-batcher"))
    val bodies = (0 until 6).map(i => s"""{"query": "table scan merge join", "limit": ${i + 3}}""")
    val alone = bodies.map(b => http("POST", s"$base/search", Some(b)))
    assert(alone.forall(_._1 == 200))
    val batchStarted = new CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties == null || js.properties.getProperty("spark.jobGroup.id") != "slots-held")
          batchStarted.countDown()
    }
    val clients = Executors.newFixedThreadPool(bodies.size)
    val stopping = new Thread(() => srv.stop())
    try {
      val sent = withSlotsHeld {
        def send(b: String) = clients.submit(new Callable[(Int, String)] {
          def call() = http("POST", s"$base/search", Some(b))
        })
        // the first search's batch job waits for a slot; the rest queue
        // behind it
        sc.addSparkListener(listener)
        val first = try {
          val f = send(bodies.head)
          assert(batchStarted.await(60, TimeUnit.SECONDS), "the first batch started")
          f
        } finally sc.removeSparkListener(listener)
        val rest = bodies.tail.map(send)
        val until = System.nanoTime() + 60e9.toLong
        while (srv.queued < rest.size && System.nanoTime() < until) Thread.sleep(10)
        assert(srv.queued == rest.size, "every other search waits for the next batch")
        stopping.start()
        // stop() has begun once the server refuses new connections
        def refused = try { new java.net.Socket("localhost", port).close(); false }
          catch { case _: java.net.SocketException => true }
        while (!refused && System.nanoTime() < until) Thread.sleep(10)
        assert(refused && stopping.isAlive, "stop() waits for the requests in flight")
        first +: rest
      }
      stopping.join(60000)
      assert(!stopping.isAlive, "stop() returned")
      assert(sent.map(_.get(60, TimeUnit.SECONDS)) == alone)
    } finally {
      clients.shutdownNow()
      if (stopping.getState == Thread.State.NEW) srv.stop()
    }
    assert(!alive("search-batcher"), "stop() ended the batcher")
  }
}

object SearchServerSpec {
  /** Opened to let a slot-holding job's tasks finish. */
  @volatile var gate = new CountDownLatch(0)
}
