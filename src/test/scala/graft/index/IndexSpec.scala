package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.{Corpus, SyntheticCorpus}
import graft.search.OracleScorer

/** The north-rule gates (SURVEY.md §5 items 2, 4, 5, 6): rank-identity with
  * exact score equality vs the single-node oracle on the reference query
  * set, partition/salt invariance, resume-from-checkpoint equivalence, and
  * skew handling — all over the deterministic synthetic CodeDoc corpus.
  */
class IndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Reference query set (BASELINE.md) + skew + stemming probes. */
  private val referenceQueries = Seq(
    "longest river", "best complexity", "world war one", "May",
    "what are common synonyms for the word search", "April",
    "science", "technology", "health", "artificial intelligence",
    "climate change",
    "return", // hot term, df ~ N (skew fixture)
    "running caresses ponies relational") // stemming-heavy

  private lazy val codeDocs = SyntheticCorpus.generate(spark, 300, seed = 42L)
  private lazy val docs = Corpus.fromCodeDocs(codeDocs).cache()
  private lazy val docsLocal: Seq[(Long, String)] =
    docs.select("docId", "content").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def tmpDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-index-$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def resultSeq(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("synthetic corpus is deterministic across partitionings") {
    val a = SyntheticCorpus.generate(spark, 50, 42L).collect().map(_.toSeq).toSet
    val b = SyntheticCorpus.generate(spark, 50, 42L).repartition(7)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("docShard DuckDB-twin arithmetic == JVM docShard incl. negative ids") {
    // BigInt mirror of OracleSql.docShardCtes with DuckDB's semantics:
    // % truncates toward zero (sign of dividend) exactly like BigInt's %,
    // and the twin's // and halving % only touch the already-normalized
    // nonnegative h64. Corpus.fromCodeDocs emits xxhash64 ids that are
    // negative half the time — the twin must wrap them to [0, 2^64) the
    // way the JVM's two's-complement multiply does.
    val M = BigInt(1) << 64
    val G = BigInt("11400714819323198485") // 0x9E3779B97F4A7C15 unsigned
    val H = BigInt(4294967296L)
    def twin(docId: Long, shards: Int): Int = {
      val h64 = (((BigInt(docId) * G) % M) + M) % M
      val x32 = (h64 / H) ^ (h64 % H)
      val signed = if (x32 >= BigInt(2147483648L)) x32 - H else x32
      (((signed % shards) + shards) % shards).toInt
    }
    val ids = Seq(0L, 1L, -1L, 42L, -42L, Long.MaxValue, Long.MinValue,
      -987654321012345L) ++ (1 to 64).map(i => i * -7919L) ++
      docsLocal.map(_._1) // real corpus ids (xxhash64-valued)
    for (id <- ids; sh <- Seq(4, 8, 32))
      assert(twin(id, sh) == IndexFormat.docShard(id, sh),
        s"id=$id shards=$sh")
  }

  test("WAND top-10 is rank-identical with exact scores vs the oracle") {
    val dir = tmpDir("main")
    IndexBuilder.build(spark, docs, dir,
      IndexConfig(shards = 4, termBuckets = 4, blockSize = 16))
    val idx = new PostingIndex(spark, dir)
    referenceQueries.foreach { q =>
      val got = resultSeq(idx.search(q, 10))
      val want = OracleScorer.topK(docsLocal, q, 10, stem = true)
      assert(got == want, s"query '$q': got=$got want=$want")
    }
    // degenerate: all-stopword query
    assert(resultSeq(idx.search("the and of", 10)).isEmpty)
    // counters present for every partition
    assert(Manifest.committed(dir).size == 16)
    val (terms, postings, bytes) = Manifest.totals(dir)
    assert(terms > 0 && postings > 0 && bytes > 0)
    // accumulator-derived manifest counters == ground truth recomputed from
    // the committed segments (the build no longer re-reads the index; this
    // pins the two paths equal)
    import org.apache.spark.sql.functions._
    val truth = spark.read.parquet(s"$dir/postings")
      .agg(
        count(lit(1)).as("blocks"), // not in manifest; sanity only
        sum(when(col("block_id") === 0, 1L).otherwise(0L)).as("terms"),
        sum("n").as("postings"),
        sum(length(col("docs_bin")) + length(col("wts_bin")) +
          length(col("tfs_bin"))).as("bytes"))
      .head()
    assert(truth.getLong(1) == terms && truth.getLong(2) == postings &&
      truth.getLong(3) == bytes)
  }

  test("index content is invariant to shard/bucket/block configuration") {
    val dirA = tmpDir("cfgA")
    val dirB = tmpDir("cfgB")
    IndexBuilder.build(spark, docs, dirA,
      IndexConfig(shards = 1, termBuckets = 1, blockSize = 1024))
    IndexBuilder.build(spark, docs.repartition(13), dirB,
      IndexConfig(shards = 8, termBuckets = 2, blockSize = 4))
    val a = new PostingIndex(spark, dirA)
    val b = new PostingIndex(spark, dirB)
    referenceQueries.take(6).foreach { q =>
      assert(resultSeq(a.search(q, 10)) == resultSeq(b.search(q, 10)), s"query '$q'")
    }
    // content-level invariance (FIXTURES.md §8): decoded posting lists are
    // identical term-for-term regardless of shard/bucket/block layout
    assert(decoded(dirA) == decoded(dirB))
  }

  /** Decoded posting lists keyed by term, docId-sorted — the layout-free
    * content identity of an index dir.
    */
  private def decoded(dir: String): Map[String, Seq[(Long, Double, Long)]] = {
    spark.read.parquet(s"$dir/postings").collect().toSeq
      .map { r =>
        val term = r.getAs[String]("term")
        val n = r.getAs[Int]("n")
        val docs = Codec.decodeDocIds(r.getAs[Array[Byte]]("docs_bin"), n)
        val wts = Codec.decodeDoubles(r.getAs[Array[Byte]]("wts_bin"))
        val tfs = Codec.decodeVarLongs(r.getAs[Array[Byte]]("tfs_bin"), n)
        term -> (0 until n).map(i => (docs(i), wts(i), tfs(i)))
      }
      .groupBy(_._1)
      .view.mapValues(_.flatMap(_._2).sortBy(_._1)).toMap
  }

  test("large-vocab fallback (stats-join path) builds identical index content") {
    val dirDict = tmpDir("dictpath")
    val dirJoin = tmpDir("joinpath")
    val cfg = IndexConfig(shards = 4, termBuckets = 2, blockSize = 16)
    IndexBuilder.build(spark, docs, dirDict, cfg)
    assert(IndexBuilder.lastWaveUsedDict, "default config must take the dict path")
    // maxDictTerms = 1 forces every wave onto the stats-join fallback
    IndexBuilder.build(spark, docs, dirJoin, cfg.copy(maxDictTerms = 1L))
    assert(!IndexBuilder.lastWaveUsedDict, "capped config must take the fallback")
    // identical content, counters, and search results — the knob is pure
    // execution strategy
    assert(decoded(dirDict) == decoded(dirJoin))
    assert(Manifest.totals(dirDict) == Manifest.totals(dirJoin))
    val a = new PostingIndex(spark, dirDict)
    val b = new PostingIndex(spark, dirJoin)
    referenceQueries.foreach { q =>
      assert(resultSeq(a.search(q, 10)) == resultSeq(b.search(q, 10)), s"query '$q'")
    }
  }

  test("append(batch) == full rebuild over the union corpus; idempotent") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val cfg = IndexConfig(shards = 4, termBuckets = 2, blockSize = 16)
    // pmod: docIds are hash-valued, and Java's % maps negative-odd to -1
    val half1 = docs.filter(pmod(col("docId"), lit(2L)) === 0)
    val half2 = docs.filter(pmod(col("docId"), lit(2L)) === 1)
    val full = tmpDir("apFull")
    val inc = tmpDir("apInc")
    IndexBuilder.build(spark, docs, full, cfg)
    IndexBuilder.build(spark, half1, inc, cfg)
    IndexBuilder.append(spark, half2, inc, cfg, "b1")
    // bit-identical content, counters, and global statistics (N/avgdl/df
    // all refreshed — a delta-segment design would differ here)
    assert(decoded(inc) == decoded(full))
    assert(Manifest.totals(inc) == Manifest.totals(full))
    val gF = PostingIndex.readGlobals(spark, full)
    val gI = PostingIndex.readGlobals(spark, inc)
    assert((gI.nDocs, gI.totalTokens, gI.avgdl, gI.vocabularySize) ==
      (gF.nDocs, gF.totalTokens, gF.avgdl, gF.vocabularySize))
    val a = new PostingIndex(spark, full)
    val b = new PostingIndex(spark, inc)
    referenceQueries.take(6).foreach { q =>
      assert(resultSeq(a.search(q, 10)) == resultSeq(b.search(q, 10)), s"query '$q'")
    }
    // re-running the same batch (crash recovery) converges, not duplicates
    IndexBuilder.append(spark, half2, inc, cfg, "b1")
    assert(decoded(inc) == decoded(full))
    assert(IndexBuilder.readBatches(inc).keySet == Set("base", "b1"))
    assert(IndexBuilder.readBatches(inc).values.sum == gF.nDocs)
  }

  test("a >1M-term wave auto-falls-back and still searches exactly") {
    // identifier-heavy synthetic corpus: ~1.17M identifier draws from a 20M
    // space => ~1.13M distinct terms in the single wave (termBuckets = 1),
    // exceeding the 1M default broadcast-dict cap — the silent-driver-OOM
    // scenario of a real code corpus, at unit-test scale
    val big = Corpus.fromCodeDocs(SyntheticCorpus.generate(
      spark, 2800, seed = 7L, minWords = 1100, maxWords = 1400,
      vocabSpread = 20000000, parts = 8))
    val dir = tmpDir("bigvocab")
    IndexBuilder.build(spark, big, dir,
      IndexConfig(shards = 4, termBuckets = 1, blockSize = 64))
    assert(!IndexBuilder.lastWaveUsedDict,
      "a >1M-term wave must auto-select the stats-join fallback")
    val g = PostingIndex.readGlobals(spark, dir)
    assert(g.vocabularySize > 1000000L,
      s"fixture must exceed the dict cap, got ${g.vocabularySize}")
    // exactness through the fallback: hot skew term vs the local oracle
    val bigLocal = big.select("docId", "content").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = resultSeq(new PostingIndex(spark, dir).search("return", 10))
    assert(got == OracleScorer.topK(bigLocal, "return", 10, stem = true))
  }

  test("resume after partial build reproduces the uninterrupted index") {
    val full = tmpDir("full")
    val part = tmpDir("part")
    val cfg = IndexConfig(shards = 4, termBuckets = 2, blockSize = 16)
    IndexBuilder.build(spark, docs, full, cfg)

    // simulate a kill: stats committed, then only a subset of postings
    IndexBuilder.buildStats(spark, docs, part, cfg)
    val g = PostingIndex.readGlobals(spark, part)
    IndexBuilder.buildPostings(spark, part, cfg, g)
    // wipe 3 of 8 partitions (dirs + manifest records) = the "interrupted" state
    val victims = Seq((0, 1), (1, 2), (1, 3))
    victims.foreach { case (t, s) =>
      val d = Paths.get(part, "postings", s"tb=$t", s"shard=$s")
      if (Files.exists(d)) {
        Files.walk(d).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.delete(f))
      }
      Files.deleteIfExists(Paths.get(part, "manifest", s"tb-$t-shard-$s.json"))
    }
    assert(Manifest.committed(part).size == 5)
    // resume: must fill exactly the missing partitions
    IndexBuilder.buildPostings(spark, part, cfg, g)
    assert(Manifest.committed(part).size == 8)

    val a = new PostingIndex(spark, full)
    val b = new PostingIndex(spark, part)
    referenceQueries.foreach { q =>
      assert(resultSeq(a.search(q, 10)) == resultSeq(b.search(q, 10)), s"query '$q'")
    }
    assert(Manifest.totals(full) == Manifest.totals(part))
  }

  test("searchMany == per-query search, one job") {
    val dir = tmpDir("many")
    IndexBuilder.build(spark, docs, dir,
      IndexConfig(shards = 4, termBuckets = 4, blockSize = 16))
    val idx = new PostingIndex(spark, dir)
    val qs = referenceQueries.take(6) :+ "the and of" // incl. degenerate
    val got = idx.searchMany(qs, 10).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = resultSeq(idx.search(q, 10))
      assert(got.getOrElse(i.toLong, Seq.empty) == single, s"query '$q'")
    }
  }

  test("k = Int.MaxValue through a preloaded index returns exactly the brute-force match set") {
    val dir = tmpDir("bigk")
    IndexBuilder.build(spark, docs, dir,
      IndexConfig(shards = 4, termBuckets = 4, blockSize = 16))
    val idx = new PostingIndex(spark, dir).preload()
    try {
      Seq("return", "world war one", "science").foreach { q =>
        val want = OracleScorer.topK(docsLocal, q, Int.MaxValue, stem = true)
        assert(want.nonEmpty)
        assert(resultSeq(idx.search(q, Int.MaxValue)) == want, s"query '$q'")
        assert(resultSeq(idx.searchRounded(q, Int.MaxValue)).map(_._1).toSet ==
          want.map(_._1).toSet, s"rounded '$q'")
        assert(resultSeq(idx.search(q, 0)).isEmpty)
      }
    } finally idx.close()
  }

  test("postingsShape routes every (tb, shard) group to its own partition") {
    // Pins the contract the 1:1 routing relies on: HashPartitioning =
    // pmod(Murmur3Hash(seed 42), parts) over the probe column. If a Spark
    // upgrade changed the seed or hash, groups would still be COMPLETE
    // (same pk -> same partition) but collisions would silently return —
    // this spec turns that into a failure instead of a scaling regression.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val tbs = 0 until 4
    val shards = 16
    val rows = for (t <- tbs; s <- 0 until shards; r <- 0 until 3)
      yield (t, s, s"t$r", (r * 100 + s).toLong, 1.0, 1L)
    val df = rows.toDF("tb", "shard", "term", "doc_id", "w", "tf")
    val placed = IndexBuilder.postingsShape(df, tbs, shards, "term")
      .select(spark_partition_id().as("pid"), col("tb"), col("shard"))
      .distinct().collect()
    val byPid = placed.groupBy(_.getInt(0))
    assert(byPid.size == tbs.size * shards, "one non-empty partition per key")
    assert(byPid.values.forall(_.length == 1), "exactly one (tb, shard) per partition")
  }

  test("degenerate corpora: empty and token-less builds do not corrupt state") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("docId", "content")
    val d1 = tmpDir("empty")
    IndexBuilder.build(spark, empty, d1, IndexConfig(shards = 2, termBuckets = 2))
    assert(new PostingIndex(spark, d1).search("anything", 5).collect().isEmpty)
    val tokenless = Seq((1L, "a b c"), (2L, "!!")).toDF("docId", "content")
    val d2 = tmpDir("tokenless")
    IndexBuilder.build(spark, tokenless, d2, IndexConfig(shards = 2, termBuckets = 2))
    assert(new PostingIndex(spark, d2).search("abc", 5).collect().isEmpty)
  }

  test("hot term (df ~ N) splits across shards; results still exact") {
    val dir = tmpDir("skew")
    IndexBuilder.build(spark, docs, dir,
      IndexConfig(shards = 8, termBuckets = 2, blockSize = 16))
    import org.apache.spark.sql.functions._
    val blocks = spark.read.parquet(s"$dir/postings").filter(col("term") === "return")
    val perShard = blocks.groupBy("shard").agg(sum("n").as("n")).collect()
      .map(r => r.getLong(1))
    assert(perShard.length == 8, "hot term must appear in every shard")
    val total = perShard.sum
    // no shard holds more than ~3x its fair share (hash balance)
    assert(perShard.max <= (total / 8) * 3)
    val got = resultSeq(new PostingIndex(spark, dir).search("return", 10))
    val want = OracleScorer.topK(docsLocal, "return", 10, stem = true)
    assert(got == want)
  }
}
