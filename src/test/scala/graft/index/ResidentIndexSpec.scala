package graft.index

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.{Corpus, SyntheticCorpus}
import graft.search.OracleScorer

/** The resident index a preloaded handle serves from answers exactly like
  * the shard indexes a handle that is not preloaded builds per batch from
  * the parquet postings: over one index, preloaded and not, every
  * single-query entry point, `hits` for the server's four modes,
  * `searchMany` and the phrase/proximity candidates return the same
  * rows, with scores equal bit for bit — across k in {0, 1, 10, 50,
  * Int.MaxValue}, under a tombstone overlay, with a broadcast allow-list,
  * and after `close()`. Both handles run the same ranked path, so the OR
  * orders are also checked against an independent reference, the
  * single-node [[graft.search.OracleScorer]]. A batch of specs answers
  * each as it is answered alone, in one job per allow-list, and Spark
  * cleans no closure for it.
  */
class ResidentIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // 6 shards over 4 partitions: partitions 0 and 1 hold two shards each
  private val cfg = IndexConfig(shards = 6, termBuckets = 4, blockSize = 16)

  private lazy val docs =
    Corpus.fromCodeDocs(SyntheticCorpus.generate(spark, 400, seed = 7L)).cache()

  private val ks = Seq(0, 1, 10, 50, Int.MaxValue)

  /** Seeded random queries over the corpus' raw words, 1-4 words each,
    * with an occasional stop word or a word no document holds.
    */
  private lazy val queries: IndexedSeq[String] = {
    val words = docs.select("content").collect().flatMap(r =>
      graft.analysis.Analyzer.tokenize(r.getString(0))).distinct.sorted
    val rnd = new scala.util.Random(83)
    (0 until 200).map { _ =>
      val ws = Seq.fill(1 + rnd.nextInt(4))(words(rnd.nextInt(words.length)))
      val extra = rnd.nextInt(10) match {
        case 0 => Seq("the")
        case 1 => Seq("zzqxv")
        case _ => Nil
      }
      rnd.shuffle(ws ++ extra).mkString(" ")
    }
  }

  private def tmpDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-resident-$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** Rows with every double as its raw bits: equality is bit-exact. */
  private def bits(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  private def hitBits(hs: Array[(Long, Double)]): Seq[(Long, Long)] =
    hs.toSeq.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }

  /** Asserts that `f` gives the same rows on both handles. */
  private def same(plain: PostingIndex, pre: PostingIndex, what: String)(
      f: PostingIndex => DataFrame): Unit = {
    val want = bits(f(plain).collect())
    assert(bits(f(pre).collect()) == want, what)
  }

  /** Asserts that `hits` for the Spec `spec` builds is the same on both
    * handles (the plain one collects its DataFrame path), and equals the
    * rows of the preloaded handle's DataFrame entry point `df`, if any.
    */
  private def sameHits(plain: PostingIndex, pre: PostingIndex, what: String)(
      spec: PostingIndex => PostingIndex.Spec,
      df: Option[PostingIndex => DataFrame] = None): Unit = {
    val want = hitBits(plain.hits(spec(plain)))
    assert(hitBits(pre.hits(spec(pre))) == want, what)
    df.foreach(f => assert(bits(f(pre).collect()) == want.map { case (d, s) => Seq(d, s) },
      s"$what (DataFrame)"))
  }

  /** A cursor from the (doc, score) rows of a first page: none, or a
    * random row of it.
    */
  private def cursor(page: Array[Row], rnd: scala.util.Random): (Double, Long) =
    if (page.isEmpty || rnd.nextInt(4) == 0) (Double.PositiveInfinity, Long.MinValue)
    else { val r = page(rnd.nextInt(page.length)); (r.getDouble(1), r.getLong(0)) }

  /** The four server modes and the ranked single-query entry points: the
    * query at position i runs mode i % 7 at k = ks(i % 5), so every
    * (mode, k) pair is covered.
    */
  private def compareModes(plain: PostingIndex, pre: PostingIndex, qs: Seq[String],
                           seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    qs.zipWithIndex.foreach { case (q, i) =>
      val k = ks(i % ks.size)
      val w = q.split(' ')
      val tag = s"'$q' k=$k"
      i % 7 match {
        case 0 => sameHits(plain, pre, s"OR $tag")(_.orSpec(q, k), Some(_.search(q, k)))
        case 1 => sameHits(plain, pre, s"AND $tag")(_.andSpec(q, k), Some(_.searchConjunctive(q, k)))
        case 2 => same(plain, pre, s"searchRounded $tag")(_.searchRounded(q, k))
        case 3 => same(plain, pre, s"searchConjunctiveRounded $tag")(_.searchConjunctiveRounded(q, k))
        case 4 =>
          val (must, should) = (w.head, w.tail.mkString(" "))
          val not = if (rnd.nextBoolean()) w(rnd.nextInt(w.length)) + " zzqxv" else ""
          if (pre.queryTerms(must).nonEmpty || pre.queryTerms(should).nonEmpty)
            sameHits(plain, pre, s"boolean $tag")(_.booleanSpec(must, should, not, k),
              Some(_.searchBooleanRounded(must, should, not, k)))
        case 5 => // the server's cursor: exact, from an exact first page
          val (s, d) = cursor(pre.search(q, 50).collect(), rnd)
          sameHits(plain, pre, s"exact cursor ($s, $d) $tag")(
            _.orSpec(q, k, afterScore = s, afterDoc = d))
        case _ =>
          val (s, d) = cursor(pre.searchRounded(q, 50).collect(), rnd)
          same(plain, pre, s"searchAfterRounded ($s, $d) $tag")(_.searchAfterRounded(q, k, s, d))
      }
    }
  }

  /** Every query at every k in the OR orders, against the oracle's
    * ranking of the whole corpus without the `deleted` docs (whose
    * statistics still count, as under a tombstone overlay): the exact
    * order as the oracle ranks it, and the 4-dp order of the oracle's
    * scores rounded HALF_UP through `BigDecimal`, as Spark's `round` does.
    */
  private def compareAllOr(pre: PostingIndex, qs: Seq[String],
                           deleted: Set[Long] = Set.empty): Unit = {
    val analyzer = graft.analysis.Analyzer.of(pre.globals.stem)
    val oracle = OracleScorer.buildIndex(
      docs.select("docId", "content").collect().map(r => (r.getLong(0), r.getString(1))).toSeq,
      analyzer)
    qs.foreach { q =>
      val exact = OracleScorer.topK(oracle, q, Int.MaxValue, analyzer).filterNot(h => deleted(h._1))
      val rounded = exact.map { case (d, sc) =>
        (d, BigDecimal(sc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (d, sc) => (-sc, d) }
      for (k <- ks) {
        assert(bits(pre.search(q, k).collect()) == hitBits(exact.take(k).toArray)
          .map { case (d, sc) => Seq(d, sc) }, s"'$q' k=$k")
        assert(bits(pre.searchRounded(q, k).collect()) == hitBits(rounded.take(k).toArray)
          .map { case (d, sc) => Seq(d, sc) }, s"'$q' k=$k rounded")
      }
    }
  }

  test("resident == DataFrame path: every entry point, 200 queries, k in {0, 1, 10, 50, MaxValue}") {
    val dir = tmpDir("idx")
    IndexBuilder.build(spark, docs, dir, cfg)
    IndexBuilder.buildPositions(spark, docs, dir)
    val plain = new PostingIndex(spark, dir)
    val pre = new PostingIndex(spark, dir).preload()
    try {
      compareModes(plain, pre, queries, 89)
      compareAllOr(pre, queries)
      // the dictionary-expanded, synonym, more-like-this, diversified and
      // filtered entry points on a sample
      import spark.implicits._
      val syns = Seq(("table", "row"), ("merge", "join"), ("scan", "read"), ("data", "file"))
        .toDF("term", "syn")
      val ids = docs.select("docId").as[Long].collect().sorted
      val attrs = docs.withColumnRenamed("docId", "doc_id")
      val allowed = docs.filter(pmod(col("docId"), lit(3L)) =!= 0).select("docId")
      queries.indices.filter(_ % 20 == 0).foreach { i =>
        val q = queries(i)
        val k = ks(i / 20 % ks.size)
        val w = q.split(' ').head.toLowerCase.filter(c => c.isLetterOrDigit && c < 128)
        if (w.nonEmpty) {
          same(plain, pre, s"prefix '$w' k=$k")(_.searchPrefixRounded(w.take(2), k, maxExpansions = 4))
          same(plain, pre, s"wildcard '$w' k=$k")(_.searchWildcardRounded(w.take(1) + "*", k))
          same(plain, pre, s"fuzzy '$w' k=$k")(_.searchFuzzyRounded(w, k))
        }
        same(plain, pre, s"synonyms '$q' k=$k")(_.searchSynonymsRounded(q, syns, k))
        same(plain, pre, s"MLT ${ids(i)} k=$k")(_.searchMoreLikeThisRounded(ids(i), k, docs))
        if (i % 40 == 0) same(plain, pre, s"filtered '$q' k=$k")(_.searchFiltered(q, k, allowed))
        else same(plain, pre, s"filteredRounded '$q' k=$k")(_.searchFilteredRounded(q, k, allowed))
        same(plain, pre, s"diverse '$q' k=$k")(
          _.searchDiverseRounded(q, math.min(k, 1000), attrs, 2, 1000, "lang"))
      }
      // the batch form, each k over every query at once
      ks.foreach { k =>
        same(plain, pre, s"searchMany k=$k")(_.searchMany(queries, k))
        same(plain, pre, s"searchManyRounded k=$k")(_.searchManyRounded(queries, k))
      }
      // phrase and proximity candidates, verified by positions: runs of
      // 2-3 consecutive words of a document (so most match), and the
      // same words in another order under a slop
      val rnd = new scala.util.Random(103)
      val texts = docs.select("content").collect().map(_.getString(0))
      val phrases = Iterator.continually {
        val ws = graft.analysis.Analyzer.tokenize(texts(rnd.nextInt(texts.length)))
        val n = 2 + rnd.nextInt(2)
        val at = rnd.nextInt(math.max(1, ws.length - n))
        ws.slice(at, at + n).mkString(" ")
      }.filter(p => pre.queryTerms(p).map(_._2).sum >= 2).take(20).toSeq
      val matched = phrases.count(p => !pre.searchPhrasePositionalRounded(p, 1).isEmpty)
      assert(matched >= 10, s"only $matched of 20 phrases match")
      phrases.zipWithIndex.foreach { case (p, i) =>
        val k = ks(i % ks.size)
        val reversed = p.split(' ').reverse.mkString(" ")
        i % 3 match {
          case 0 => same(plain, pre, s"phrase '$p' k=$k")(_.searchPhrasePositionalRounded(p, k))
          case 1 => same(plain, pre, s"proximity '$p' k=$k")(_.searchProximityRounded(p, 2, k))
          case _ => same(plain, pre, s"proximity '$reversed' k=$k")(_.searchProximityRounded(reversed, 3, k))
        }
      }
      // the re-analysis phrase path (no sidecar in use)
      val noPos = tmpDir("nopos")
      IndexBuilder.build(spark, docs, noPos, cfg)
      val plainNp = new PostingIndex(spark, noPos)
      val preNp = new PostingIndex(spark, noPos).preload()
      try phrases.take(5).zipWithIndex.foreach { case (p, i) =>
        same(plainNp, preNp, s"phrase (re-analysis) '$p'")(_.searchPhraseRounded(p, ks(i % ks.size), docs))
      } finally preNp.close()

      // after close() the handle builds its shard indexes per batch again
      pre.close()
      compareModes(plain, pre, queries.take(14), 97)
    } finally pre.close()
  }

  test("a preloaded handle's DataFrame result: fixed non-nullable (doc_id, score) schema, the hits' rows") {
    val dir = tmpDir("local")
    IndexBuilder.build(spark, docs, dir, cfg)
    val pre = new PostingIndex(spark, dir).preload()
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      queries.take(20).zipWithIndex.foreach { case (q, i) =>
        val k = ks(i % ks.size)
        val df = pre.search(q, k)
        assert(df.schema == schema, s"'$q' k=$k")
        assert(bits(df.collect()) == hitBits(pre.hits(pre.orSpec(q, k))).map {
          case (d, s) => Seq(d, s) }, s"'$q' k=$k")
      }
      assert(pre.search("zzqxv", 10).schema == schema)
      // a rounded entry point's early return (an analysis-empty phrase)
      // has the schema of its non-empty results: `score` nullable
      val rounded = pre.searchRounded(queries.head, 10).schema
      assert(rounded == PostingIndex.resultSchema(rounded = true))
      assert(pre.searchPhraseRounded("the", 10, docs).schema == rounded)
    } finally pre.close()
  }

  test("resident == DataFrame path under a tombstone overlay and a broadcast allow-list") {
    val dir = tmpDir("tomb")
    IndexBuilder.build(spark, docs, dir, cfg)
    IndexBuilder.delete(spark, docs.filter(pmod(col("docId"), lit(4L)) === 1).select("docId"),
      dir, "d1")
    val plain = new PostingIndex(spark, dir)
    val pre = new PostingIndex(spark, dir).preload()
    try {
      val qs = queries.take(70)
      val deleted = docs.filter(pmod(col("docId"), lit(4L)) === 1).select("docId")
        .collect().map(_.getLong(0)).toSet
      compareModes(plain, pre, qs, 101)
      compareAllOr(pre, qs, deleted)
      same(plain, pre, "searchMany k=10")(_.searchMany(qs, 10))
      val allowed = docs.filter(pmod(col("docId"), lit(3L)) =!= 2).select("docId")
      qs.take(20).zipWithIndex.foreach { case (q, i) =>
        val k = ks(i % ks.size)
        if (i % 2 == 0) same(plain, pre, s"filtered '$q' k=$k")(_.searchFiltered(q, k, allowed))
        else same(plain, pre, s"filteredRounded '$q' k=$k")(_.searchFilteredRounded(q, k, allowed))
      }
      // the overlay is live: no deleted doc in a full ranking
      assert(deleted.nonEmpty)
      qs.take(10).foreach { q =>
        assert(pre.hits(pre.orSpec(q, Int.MaxValue)).forall(h => !deleted(h._1)), q)
      }
    } finally pre.close()
  }

  /** One index without and one with a tombstone overlay, for the batch
    * tests.
    */
  private lazy val (plainDir, tombDir) = {
    val plainDir = tmpDir("batch")
    IndexBuilder.build(spark, docs, plainDir, cfg)
    val tombDir = tmpDir("batch-tomb")
    IndexBuilder.build(spark, docs, tombDir, cfg)
    IndexBuilder.delete(spark, docs.filter(pmod(col("docId"), lit(5L)) === 2).select("docId"),
      tombDir, "d1")
    (plainDir, tombDir)
  }

  /** `f`'s value and what Spark's `ClosureCleaner` logged on this thread
    * while `f` ran, captured at DEBUG.
    */
  private def closureCleanerLog[T](f: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.util.ClosureCleaner"
    val thread = Thread.currentThread.getName
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("closure-cleaner-log", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getThreadName == thread) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = new LoggerConfig(name, Level.DEBUG, false)
    logger.addAppender(appender, Level.DEBUG, null)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    try {
      val out = f
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("a resident batch cleans no closure: one job of P tasks, bit-equal answers") {
    val sc = spark.sparkContext
    val parts = math.min(cfg.shards, sc.defaultParallelism)
    // the capture sees the cleaning of a job whose function is a lambda
    val (_, control) = closureCleanerLog(sc.parallelize(1 to 4, 2).map(_ + 1).count())
    assert(control.exists(_.contains("indylambda closure")), control)
    @volatile var jobs = 0
    @volatile var tasks = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
      override def onTaskStart(ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = tasks += 1
    }
    val qs = queries.filter(_.split(' ').length >= 2).take(4)
    Seq(plainDir -> "no overlay", tombDir -> "tombstone overlay").foreach { case (dir, what) =>
      val plain = new PostingIndex(spark, dir)
      val pre = new PostingIndex(spark, dir).preload()
      try {
        val (w0, w1) = (qs(2).split(' ').head, qs(2).split(' ').tail.mkString(" "))
        val specs = Seq(pre.orSpec(qs(0), 10), pre.andSpec(qs(1), 10),
          pre.booleanSpec(w0, w1, qs(3).split(' ').head, 10), pre.orSpec(qs(3), 10, rounded = true))
        val want = specs.map(s => hitBits(plain.hits(s)))
        assert(want.count(_.nonEmpty) >= 3, s"$what: most specs hit")
        org.apache.spark.ListenerBusDrain(sc)
        jobs = 0; tasks = 0
        sc.addSparkListener(listener)
        try {
          val (out, log) = closureCleanerLog(pre.hits(specs))
          org.apache.spark.ListenerBusDrain(sc)
          assert(out.map(hitBits) == want, what)
          assert((jobs, tasks) == ((1, parts)), s"$what: (jobs, tasks)")
          assert(!log.exists(_.contains("indylambda closure")), s"$what: $log")
        } finally sc.removeSparkListener(listener)
      } finally pre.close()
    }
  }

  test("a batch of specs answers as each spec alone: one job of P tasks per allow-list, no SQL") {
    val sc = spark.sparkContext
    val parts = math.min(cfg.shards, sc.defaultParallelism)
    @volatile var jobs = 0
    @volatile var tasks = 0
    @volatile var sqls = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
      override def onTaskStart(ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = tasks += 1
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => sqls += 1
        case _ =>
      }
    }
    /** `pre.hits(specs)` and the (jobs, tasks, SQL executions) it started. */
    def batch(pre: PostingIndex, specs: Seq[PostingIndex.Spec]) = {
      org.apache.spark.ListenerBusDrain(sc)
      jobs = 0; tasks = 0; sqls = 0
      val out = pre.hits(specs)
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs, tasks, sqls)
    }
    val ids = docs.select("docId").collect().map(_.getLong(0)).sorted
    val qs = queries.filter(_.split(' ').length >= 2).take(6)
    Seq(plainDir -> "no overlay", tombDir -> "tombstone overlay").foreach { case (dir, what) =>
      val pre = new PostingIndex(spark, dir).preload()
      try {
        val first = pre.search(qs(3), 50).collect()
        assert(first.length >= 5, qs(3))
        val (w0, w1) = (qs(2).split(' ').head, qs(2).split(' ').tail.mkString(" "))
        val specs = Seq(
          pre.orSpec(qs(0), 10), pre.andSpec(qs(1), 10),
          pre.booleanSpec(w0, w1, qs(4).split(' ').head, 10),
          pre.orSpec(qs(3), 10, afterScore = first(4).getDouble(1), afterDoc = first(4).getLong(0)),
          pre.orSpec(qs(4), 10, rounded = true), pre.andSpec(qs(5), 10, rounded = true),
          pre.orSpec("the of a", 10), pre.orSpec("zzqxv", 10),
          pre.orSpec(qs(0), 0), pre.andSpec(qs(1), 0),
          pre.orSpec(qs(5), Int.MaxValue), pre.booleanSpec(w0, w1, "", Int.MaxValue))
        assert(specs(6).qtf.isEmpty && specs.forall(_.allowBc == null))
        val alone = specs.map(s => hitBits(pre.hits(s)))
        assert(alone.count(_.nonEmpty) >= 7, s"$what: most specs hit")
        sc.addSparkListener(listener)
        try {
          val (out, nJobs, nTasks, nSqls) = batch(pre, specs)
          assert(out.map(hitBits) == alone, what)
          assert((nJobs, nTasks, nSqls) == ((1, parts, 0)), s"$what: (jobs, tasks, SQL executions)")
          // two allow-lists beside none: a job each, every answer as alone
          val allowA = sc.broadcast(ids.filter(_ % 3 != 0))
          val allowB = sc.broadcast(ids.filter(d => Math.floorMod(d, 2L) == 0))
          val mixed = specs.zipWithIndex.map { case (s, i) =>
            i % 3 match {
              case 0 => s
              case 1 => s.copy(allowBc = allowA)
              case _ => s.copy(allowBc = allowB)
            }
          }
          val mixedAlone = mixed.map(s => hitBits(pre.hits(s)))
          assert(mixedAlone != alone, s"$what: the allow-lists change answers")
          val (mOut, mJobs, mTasks, mSqls) = batch(pre, mixed)
          assert(mOut.map(hitBits) == mixedAlone, s"$what, allow-lists")
          assert((mJobs, mTasks, mSqls) == ((3, 3 * parts, 0)),
            s"$what, allow-lists: (jobs, tasks, SQL executions)")
          // a batch of analysis-empty specs runs no job
          assert(batch(pre, Seq(specs(6), specs(6)))._2 == 0)
        } finally sc.removeSparkListener(listener)
      } finally pre.close()
    }
  }

  test("preload on a resident handle is a no-op: close() releases the one copy") {
    val dir = tmpDir("twice")
    IndexBuilder.build(spark, docs, dir, cfg)
    val q = queries.head
    val plain = new PostingIndex(spark, dir)
    val want = hitBits(plain.hits(plain.orSpec(q, 10)))
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val baseline = persisted
    val h = new PostingIndex(spark, dir)
    // two racing first calls, then a third on the resident handle
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(Seq(Future(h.preload()), Future(h.preload()))), Duration.Inf)
    h.preload()
    assert((persisted -- baseline).size == 1)
    assert(hitBits(h.hits(h.orSpec(q, 10))) == want)
    h.close()
    assert(persisted == baseline)
  }
}
