package graft.index

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.{Corpus, SyntheticCorpus}

/** The index's own parquet tables and the Spark jobs a rebuild starts:
  * every table is read by its declared schema (equal to what Spark infers
  * from the files the verbs write), a table that does not match it fails
  * loudly before anything is written, no verb runs a schema-inference job,
  * table sizes come from parquet footers without a `count` job,
  * overlapped jobs keep the caller's job group, and a resume recomputes
  * the partition doc counts it commits.
  */
class IndexTablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import IndexTablesSpec.Job

  private lazy val spark = SparkTestSession.spark

  private val cfg = IndexConfig(shards = 4, termBuckets = 2, blockSize = 16)

  private lazy val docs =
    Corpus.fromCodeDocs(SyntheticCorpus.generate(spark, 300, seed = 11L)).cache()
  private def half(i: Int) = docs.filter(pmod(col("docId"), lit(2L)) === i)
  private def quarter(i: Int) = docs.filter(pmod(col("docId"), lit(4L)) === i)

  private def tmpDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-tables-$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  /** Every file under `dir` with its size and modification time. */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally s.close()
  }

  // --- job log -------------------------------------------------------------

  private val log = new ConcurrentLinkedQueue[Job]()
  // SQL execution id -> its description (the action's call site); a job
  // that adaptive execution submits from a pool thread names no action
  private val actions = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => actions.put(x.executionId.toString, x.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      log.add(Job(e.jobId, props.map(_.getProperty("spark.jobGroup.id")).orNull,
        e.stageInfos.map(s => s.name + "\n" + s.details),
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(actions.get(id))).orNull))
    }
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  private val jobProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Runs a one-task job in a fresh group and waits until the listener has
    * seen it; the bus delivers in order, so every job started before it
    * has been logged too. Returns the marker's group.
    */
  private def marker(): String = {
    val sc = spark.sparkContext
    val tag = s"marker-${java.util.UUID.randomUUID()}"
    val saved = jobProps.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(tag, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!log.asScala.exists(_.group == tag)) {
      assert(System.nanoTime() < deadline, "the listener never saw the marker job")
      Thread.sleep(10)
    }
    tag
  }

  /** `f`'s result and the jobs started while it ran. */
  private def jobsOf[A](f: => A): (A, Seq[Job]) = {
    val from = marker()
    val a = f
    val to = marker()
    val all = log.asScala.toSeq
    (a, all.slice(all.indexWhere(_.group == from) + 1, all.indexWhere(_.group == to)))
  }

  // --- tests ---------------------------------------------------------------

  test("declared schemas equal the inferred schemas of every table the verbs write") {
    val a = tmpDir("schema-a")
    val b = tmpDir("schema-b")
    val m = tmpDir("schema-m")
    IndexBuilder.build(spark, half(0), a, cfg)
    IndexBuilder.build(spark, quarter(3), b, cfg)
    IndexBuilder.append(spark, quarter(1), a, cfg, "b1")
    IndexBuilder.buildPositions(spark, docs, a)
    def same(dir: String, t: IndexTable): Unit = {
      val inferred = spark.read.parquet(Paths.get(dir, t.path).toString).schema
      assert(inferred == t.schema, s"${t.path} of $dir")
    }
    // after build + append: every table, the appended batch included
    Seq(IndexFormat.tf, IndexFormat.tfAppends, IndexFormat.stats, IndexFormat.doclist,
      IndexFormat.postings, IndexFormat.positions).foreach(same(a, _))
    IndexBuilder.delete(spark, half(0).select("docId").limit(5), a, "d1")
    same(a, IndexFormat.tombstones)
    IndexBuilder.compact(spark, a, cfg)
    Seq(IndexFormat.tf, IndexFormat.stats, IndexFormat.doclist, IndexFormat.postings)
      .foreach(same(a, _))
    IndexBuilder.merge(spark, a, b, m)
    Seq(IndexFormat.tf, IndexFormat.stats, IndexFormat.doclist, IndexFormat.postings)
      .foreach(same(m, _))
  }

  test("a table that does not match its declared schema fails loudly, before any write") {
    def fails(table: String, column: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(s"index table $table/") &&
        e.getMessage.contains(s"column $column"), e.getMessage)
    }
    // tf/ without dl: append resolves tf before it writes the batch
    val noDl = tmpDir("nodl")
    IndexBuilder.build(spark, half(0), noDl, cfg)
    val tf = Paths.get(noDl, "tf")
    val stripped = Paths.get(noDl + "-tf")
    spark.read.parquet(tf.toString).drop("dl").write.mode(SaveMode.Overwrite)
      .parquet(stripped.toString)
    rmTree(tf)
    Files.move(stripped, tf)
    val before = listing(noDl)
    val (_, jobs) = jobsOf(fails("tf", "dl")(
      IndexBuilder.append(spark, half(1).limit(10), noDl, cfg, "b1")))
    assert(jobs.isEmpty, s"the check started jobs: $jobs")
    assert(listing(noDl) == before, "a failed append wrote into the index")

    // tombstones/ whose id column is an int: compact and a handle both refuse it
    val intIds = tmpDir("intids")
    IndexBuilder.build(spark, half(0), intIds, cfg)
    spark.range(3).select(col("id").cast("int").as("doc_id")).write
      .parquet(Paths.get(intIds, "tombstones", "del=bad").toString)
    // a crashed batch write's file under a hidden `_temporary/` is not read
    val crashed = Paths.get(intIds, "tf_appends", "batch=crashed", "_temporary", "0")
    Files.createDirectories(crashed)
    Files.write(crashed.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(IndexBuilder.readTf(spark, intIds).count() ==
      IndexFormat.read(spark, intIds, IndexFormat.tf).count())
    val before2 = listing(intIds)
    fails("tombstones", "doc_id")(IndexBuilder.compact(spark, intIds, cfg))
    fails("tombstones", "doc_id")(new PostingIndex(spark, intIds))
    assert(listing(intIds) == before2, "a failed compact wrote into the index")
  }

  test("append, compact and a second significantTerms start no schema-inference job") {
    // positive control: the detector sees the job an inferred read starts
    val probe = tmpDir("probe")
    spark.range(5).write.mode(SaveMode.Overwrite).parquet(probe)
    val (_, inferred) = jobsOf(spark.read.parquet(probe))
    assert(inferred.count(_.infersSchema) == 1, inferred)

    val dir = tmpDir("jobs")
    IndexBuilder.build(spark, half(0), dir, cfg)
    val (_, append) = jobsOf(IndexBuilder.append(spark, half(1), dir, cfg, "b1"))
    IndexBuilder.delete(spark, half(0).select("docId").limit(7), dir, "d1")
    val (_, compact) = jobsOf(IndexBuilder.compact(spark, dir, cfg))
    val idx = new PostingIndex(spark, dir)
    idx.significantTerms("return value", 5).collect()
    val (_, sig) = jobsOf(idx.significantTerms("return value", 5).collect())
    Seq("append" -> append, "compact" -> compact, "significantTerms" -> sig).foreach {
      case (verb, jobs) => assert(!jobs.exists(_.infersSchema), s"$verb: $jobs")
    }
    // the verbs' whole job budget: 21, 29 and 10 when every read of an
    // index table inferred its schema (8, 10 and 2 of those jobs); compact
    // took 19 while it counted the new ledger with a Spark `count` (two
    // jobs under adaptive execution)
    assert((append.size, compact.size, sig.size) == ((13, 17, 8)),
      (append ++ compact ++ sig).map(_.stages.headOption.map(_.linesIterator.next())))
  }

  test("overlapped build and append jobs carry the caller's job group") {
    val sc = spark.sparkContext
    def under[A](group: String)(f: => A): Seq[Job] = {
      sc.setJobGroup(group, group)
      try jobsOf(f)._2 finally sc.clearJobGroup()
    }
    val first = under("graft-first")(IndexBuilder.build(spark, half(0), tmpDir("g1"), cfg))
    assert(first.nonEmpty && first.forall(_.group == "graft-first"), first)
    val dir = tmpDir("g2")
    val second = under("graft-second") {
      IndexBuilder.build(spark, half(0), dir, cfg)
      IndexBuilder.append(spark, half(1), dir, cfg, "b1")
    }
    assert(second.nonEmpty)
    assert(second.forall(_.group == "graft-second"),
      second.filter(_.group != "graft-second").map(j => (j.id, j.group)))
  }

  test("a resume ignores a partition_docs.json written for other globals") {
    val dir = tmpDir("pd")
    IndexBuilder.build(spark, half(0), dir, cfg)
    IndexBuilder.append(spark, half(1), dir, cfg, "b1")
    assert(!Files.exists(Paths.get(dir, "partition_docs.json")))
    // a leftover per-partition counts file with wrong counts, as an older
    // build could leave beside globals.json: nothing reads it
    Files.writeString(Paths.get(dir, "partition_docs.json"),
      (for (t <- 0 until cfg.termBuckets; s <- 0 until cfg.shards)
        yield s"""{"tb":$t,"shard":$s,"docs":1,"tokens":1}""").mkString("", "\n", "\n"))
    rmTree(Paths.get(dir, "postings"))
    rmTree(Paths.get(dir, "manifest"))
    IndexBuilder.buildPostings(spark, dir, cfg, PostingIndex.readGlobals(spark, dir))
    val clean = tmpDir("pd-clean")
    IndexBuilder.build(spark, docs, clean, cfg)
    assert(Manifest.totals4(dir) == Manifest.totals4(clean))
    // a resume of a few partitions counts exactly those, in both waves
    val lost = Seq((0, 1), (1, 0), (1, 3))
    lost.foreach { case (t, s) =>
      Files.delete(Paths.get(dir, "manifest", s"tb-$t-shard-$s.json"))
    }
    IndexBuilder.buildPostings(spark, dir, cfg, PostingIndex.readGlobals(spark, dir))
    assert(Manifest.totals4(dir) == Manifest.totals4(clean))
  }

  test("footer row counts equal the read counts of doclist/ and tombstones/; compact starts no count job") {
    // positive control: the detector sees the job a DataFrame count starts
    val probe = tmpDir("count-probe")
    spark.range(5).select(col("id").as("doc_id")).write.mode(SaveMode.Overwrite).parquet(probe)
    val (_, counted) = jobsOf(spark.read.parquet(probe).count())
    assert(counted.exists(_.counts), counted)

    val dir = tmpDir("rows")
    /** A crashed write's valid part file under a hidden `_temporary/`. */
    def plant(tableDir: String): Unit = {
      val to = Paths.get(dir, tableDir, "_temporary", "0")
      Files.createDirectories(to)
      val part = Files.list(Paths.get(probe)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, to.resolve("part-00000.parquet"))
    }
    def rows(t: IndexTable): Long = {
      val n = IndexFormat.rowCount(dir, t)
      assert(n == (if (Files.exists(Paths.get(dir, t.path)))
        IndexFormat.read(spark, dir, t).count() else 0L), s"${t.path} of $dir")
      n
    }
    IndexBuilder.build(spark, half(0), dir, cfg)
    assert(rows(IndexFormat.doclist) == half(0).count())
    assert(rows(IndexFormat.tombstones) == 0L)
    IndexBuilder.append(spark, quarter(1), dir, cfg, "b1")
    assert(rows(IndexFormat.doclist) == half(0).count() + quarter(1).count())
    val gone = half(0).select("docId").orderBy("docId").limit(9)
    IndexBuilder.delete(spark, gone, dir, "d1")
    IndexBuilder.delete(spark, gone.limit(4), dir, "d2")
    plant("doclist/batch=b1")
    plant("tombstones/del=d1")
    assert(rows(IndexFormat.tombstones) == 13L, "duplicates across deletes count")
    val (_, jobs) = jobsOf(IndexBuilder.compact(spark, dir, cfg))
    assert(!jobs.exists(_.counts), jobs.filter(_.counts))
    plant("doclist/batch=base")
    assert(rows(IndexFormat.doclist) == half(0).count() + quarter(1).count() - 9)
    assert(rows(IndexFormat.doclist) == PostingIndex.readGlobals(spark, dir).nDocs)
    assert(rows(IndexFormat.tombstones) == 0L)
  }
}

object IndexTablesSpec {
  /** A started job: its id, job group, its stages' names and call sites,
    * and the description of the SQL execution it belongs to, if any.
    */
  private final case class Job(id: Int, group: String, stages: Seq[String], action: String) {
    /** Parquet schema inference: a job started inside `spark.read.parquet`
      * itself (its call site's first frame), not by a later action.
      */
    def infersSchema: Boolean =
      stages.exists(_.linesIterator.drop(1).take(1).exists(_.contains("DataFrameReader.parquet(")))

    /** A job of a `count()` action: its SQL execution is named for it. */
    def counts: Boolean = action != null && action.startsWith("count at ")
  }
}
