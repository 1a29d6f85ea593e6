package graft.index

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.{Corpus, SyntheticCorpus}

/** Delete-lifecycle gates (SURVEY.md §2 S4 extended): tombstone-overlay
  * serving semantics, compact == from-scratch rebuild over the survivors
  * (bit-identical postings), idempotency, token-less-doc exactness via the
  * doclist ledger, and mid-swap crash adoption.
  */
class LifecycleSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val cfg = IndexConfig(shards = 4, termBuckets = 2, blockSize = 16)

  private lazy val docs =
    Corpus.fromCodeDocs(SyntheticCorpus.generate(spark, 300, seed = 42L)).cache()

  // docIds are hash-valued (negative half the time) -> pmod, not %
  private def deletedPred = pmod(col("docId"), lit(3L)) === 1
  private lazy val deletedIds: Set[Long] =
    docs.filter(deletedPred).select("docId").collect().map(_.getLong(0)).toSet
  private lazy val survivors = docs.filter(!deletedPred)

  private val queries = Seq(
    "longest river", "best complexity", "world war one",
    "return", "science technology")

  private def tmpDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-lc-$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def resultSeq(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def rmTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  private def decoded(dir: String): Map[String, Seq[(Long, Double, Long)]] =
    spark.read.parquet(s"$dir/postings").collect().toSeq
      .map { r =>
        val term = r.getAs[String]("term")
        val n = r.getAs[Int]("n")
        val ds = Codec.decodeDocIds(r.getAs[Array[Byte]]("docs_bin"), n)
        val ws = Codec.decodeDoubles(r.getAs[Array[Byte]]("wts_bin"))
        val ts = Codec.decodeVarLongs(r.getAs[Array[Byte]]("tfs_bin"), n)
        term -> (0 until n).map(i => (ds(i), ws(i), ts(i)))
      }
      .groupBy(_._1)
      .view.mapValues(_.flatMap(_._2).sortBy(_._1)).toMap

  /** A fully-built index over the full corpus with the fixture tombstones
    * applied (fresh dir per test — mutations must not leak between tests).
    */
  private def tombstonedIndex(tag: String): String = {
    val dir = tmpDir(tag)
    IndexBuilder.build(spark, docs, dir, cfg)
    IndexBuilder.delete(spark, docs.filter(deletedPred).select("docId"),
      dir, "lc1")
    dir
  }

  test("tombstone overlay: deleted docs vanish, surviving scores unchanged") {
    val base = tmpDir("base")
    IndexBuilder.build(spark, docs, base, cfg)
    val dir = tombstonedIndex("overlay")
    val full = new PostingIndex(spark, base)
    val over = new PostingIndex(spark, dir)
    val n = docs.count().toInt
    queries.foreach { q =>
      // expected = exhaustive ranking over the PRE-DELETE index with the
      // deleted candidates dropped — scores must be bit-identical because a
      // tombstone write touches no posting weight
      val expected = resultSeq(full.search(q, n))
        .filterNot { case (d, _) => deletedIds(d) }.take(10)
      assert(resultSeq(over.search(q, 10)) == expected, s"query '$q'")
      val hits = resultSeq(over.search(q, 10)).map(_._1)
      assert(hits.forall(!deletedIds(_)), s"query '$q' served a deleted doc")
    }
    // conjunctive DAAT takes the same overlay
    val expectedAnd = resultSeq(full.searchConjunctive("world war one", n))
      .filterNot { case (d, _) => deletedIds(d) }.take(10)
    assert(resultSeq(over.searchConjunctive("world war one", 10)) == expectedAnd)
    // the preloaded (resident) handle answers exactly like one that builds
    // its shard indexes per batch while the overlay is active: every
    // block of a shard must share a cache partition
    val pre = new PostingIndex(spark, dir).preload()
    try {
      queries.foreach { q =>
        assert(resultSeq(pre.search(q, 10)) == resultSeq(over.search(q, 10)), s"'$q'")
        assert(resultSeq(pre.searchConjunctive(q, 10)) ==
          resultSeq(over.searchConjunctive(q, 10)), s"AND '$q'")
      }
      val bool = resultSeq(over.searchBooleanRounded("world", "war one", "science", 10))
      assert(bool.nonEmpty)
      assert(resultSeq(pre.searchBooleanRounded("world", "war one", "science", 10)) == bool)
      assert(pre.searchMany(queries, 10).collect().toSeq ==
        over.searchMany(queries, 10).collect().toSeq)
    } finally pre.close()
  }

  test("delete is idempotent per deleteId and unions across delete batches") {
    val dir = tombstonedIndex("iddel")
    val ids = docs.filter(deletedPred).select("docId")
    IndexBuilder.delete(spark, ids, dir, "lc1") // re-run: overwrite, not dup
    val extra = docs.filter(pmod(col("docId"), lit(7L)) === 2)
      .select("docId").limit(5)
    IndexBuilder.delete(spark, extra, dir, "lc2")
    val extraIds = extra.collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$dir/tombstones").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == deletedIds ++ extraIds)
  }

  test("compact == from-scratch build over the survivors (bit-identical)") {
    val dir = tombstonedIndex("compact")
    val fresh = tmpDir("fresh")
    IndexBuilder.build(spark, survivors, fresh, cfg)
    IndexBuilder.compact(spark, dir, cfg)
    assert(decoded(dir) == decoded(fresh))
    assert(Manifest.totals(dir) == Manifest.totals(fresh))
    val gC = PostingIndex.readGlobals(spark, dir)
    val gF = PostingIndex.readGlobals(spark, fresh)
    assert((gC.nDocs, gC.totalTokens, gC.avgdl, gC.vocabularySize) ==
      (gF.nDocs, gF.totalTokens, gF.avgdl, gF.vocabularySize))
    assert(!Files.exists(Paths.get(dir, "tombstones")), "tombstones must clear")
    // second compact: nothing to fold or drop -> no-op
    val before = decoded(dir)
    IndexBuilder.compact(spark, dir, cfg)
    assert(decoded(dir) == before)
    val a = new PostingIndex(spark, dir)
    val b = new PostingIndex(spark, fresh)
    queries.foreach { q =>
      assert(resultSeq(a.search(q, 10)) == resultSeq(b.search(q, 10)), s"'$q'")
    }
  }

  test("merge == from-scratch build over the union corpus (bit-identical); idempotent") {
    val half = pmod(col("docId"), lit(2L)) === 0
    val a = tmpDir("mergeA")
    IndexBuilder.build(spark, docs.filter(half), a, cfg)
    val b = tmpDir("mergeB")
    IndexBuilder.build(spark, docs.filter(!half), b, cfg)
    val m = tmpDir("merged")
    IndexBuilder.merge(spark, a, b, m)
    val fresh = tmpDir("mergeFresh")
    IndexBuilder.build(spark, docs, fresh, cfg)
    assert(decoded(m) == decoded(fresh))
    assert(Manifest.totals(m) == Manifest.totals(fresh))
    val gM = PostingIndex.readGlobals(spark, m)
    val gF = PostingIndex.readGlobals(spark, fresh)
    assert((gM.nDocs, gM.totalTokens, gM.avgdl, gM.vocabularySize) ==
      (gF.nDocs, gF.totalTokens, gF.avgdl, gF.vocabularySize))
    val im = new PostingIndex(spark, m)
    val ifr = new PostingIndex(spark, fresh)
    queries.foreach { q =>
      assert(resultSeq(im.search(q, 10)) == resultSeq(ifr.search(q, 10)), s"'$q'")
    }
    // re-merge into the finished dst: globals commit + manifest make it a
    // no-op (the build()-style resume contract)
    val before = decoded(m)
    IndexBuilder.merge(spark, a, b, m)
    assert(decoded(m) == before)
  }

  test("merge folds a source's pending appends; bad inputs fail fast") {
    val third0 = pmod(col("docId"), lit(3L)) === 0
    val third1 = pmod(col("docId"), lit(3L)) === 1
    val third2 = pmod(col("docId"), lit(3L)) === 2
    val a = tmpDir("mergeApA")
    IndexBuilder.build(spark, docs.filter(third0), a, cfg)
    IndexBuilder.append(spark, docs.filter(third1), a, cfg, "m1")
    val b = tmpDir("mergeApB")
    IndexBuilder.build(spark, docs.filter(third2), b, cfg)
    val m = tmpDir("mergedAp")
    IndexBuilder.merge(spark, a, b, m)
    val fresh = tmpDir("mergeApFresh")
    IndexBuilder.build(spark, docs, fresh, cfg)
    assert(decoded(m) == decoded(fresh))

    // overlapping doc ids: a shared id would silently merge two documents
    intercept[IllegalArgumentException](
      IndexBuilder.merge(spark, a, a, tmpDir("mergeDup")))
    // pending tombstones: deleted docs' tf rows would leak into the merge
    val t = tmpDir("mergeTomb")
    IndexBuilder.build(spark, docs.filter(third2), t, cfg)
    IndexBuilder.delete(spark,
      docs.filter(third2).limit(3).select("docId"), t, "mt1")
    intercept[IllegalArgumentException](
      IndexBuilder.merge(spark, a, t, tmpDir("mergeTombDst")))
    // layout/analyzer config mismatch: tf routing columns would disagree
    val c = tmpDir("mergeCfg")
    IndexBuilder.build(spark, docs.filter(third2), c,
      cfg.copy(termBuckets = cfg.termBuckets * 2))
    intercept[IllegalArgumentException](
      IndexBuilder.merge(spark, a, c, tmpDir("mergeCfgDst")))
  }

  test("config identity: every field is enforced by build-resume, append, compact and merge") {
    val partA = docs.filter(pmod(col("docId"), lit(10L)) === 0)
    val partB = docs.filter(pmod(col("docId"), lit(10L)) === 1)
    val partC = docs.filter(pmod(col("docId"), lit(10L)) === 2)
    val a = tmpDir("idA")
    IndexBuilder.build(spark, partA, a, cfg)
    val built = decoded(a)
    val mismatches = Seq(
      "shards" -> cfg.copy(shards = cfg.shards + 1),
      "termBuckets" -> cfg.copy(termBuckets = cfg.termBuckets + 1),
      "blockSize" -> cfg.copy(blockSize = cfg.blockSize * 2),
      "stem" -> cfg.copy(stem = !cfg.stem),
      "k1" -> cfg.copy(params = cfg.params.copy(k1 = cfg.params.k1 + 0.1)),
      "b" -> cfg.copy(params = cfg.params.copy(b = cfg.params.b / 2)))
    mismatches.foreach { case (field, bad) =>
      def rejects(verb: String)(f: => Any): Unit = {
        val e = intercept[IllegalArgumentException](f)
        assert(e.getMessage.contains("config mismatch") && e.getMessage.contains(a),
          s"$field on $verb: ${e.getMessage}")
      }
      rejects("build-resume")(IndexBuilder.build(spark, partA, a, bad))
      rejects("append")(IndexBuilder.append(spark, partB, a, bad, "x"))
      rejects("compact")(IndexBuilder.compact(spark, a, bad))
      val b = tmpDir(s"idB-$field")
      IndexBuilder.build(spark, partB, b, bad)
      val dst = tmpDir(s"idM-$field")
      rejects("merge")(IndexBuilder.merge(spark, a, b, dst))
      assert(!Files.exists(Paths.get(dst, "globals.json")), s"$field: merge wrote $dst")
    }
    assert(decoded(a) == built, "a rejected call must leave the index as it was")
    assert(!Files.exists(Paths.get(a, "tf_appends")))

    // commitWaves and maxDictTerms choose how an index is built, not what
    // it holds: every verb accepts them (maxDictTerms = 1 also forces the
    // stats-join encode path)
    import spark.implicits._
    val gone = partB.select("docId").as[Long].collect().take(2).toSeq
    val knobs = cfg.copy(commitWaves = cfg.commitWaves + 3, maxDictTerms = 1L)
    IndexBuilder.build(spark, partA, a, knobs)
    IndexBuilder.append(spark, partB, a, knobs, "k")
    IndexBuilder.delete(spark, gone.toDF("docId"), a, "kd")
    IndexBuilder.compact(spark, a, knobs)
    val c = tmpDir("idC")
    IndexBuilder.build(spark, partC, c, knobs)
    val m = tmpDir("idMerged")
    IndexBuilder.merge(spark, a, c, m)
    val union = partA.unionByName(partB).unionByName(partC)
      .filter(!col("docId").isin(gone: _*))
    val fresh = tmpDir("idFresh")
    IndexBuilder.build(spark, union, fresh, cfg)
    assert(decoded(m) == decoded(fresh))
  }

  test("cloneIndex rejects a destination that is, contains or lies inside the source") {
    val outer = tmpDir("cloneOuter")
    val src = Paths.get(outer, "idx").toString
    IndexBuilder.build(spark, docs.filter(pmod(col("docId"), lit(10L)) === 0), src, cfg)
    val before = decoded(src)
    val buildId = PostingIndex.readGlobals(spark, src).buildId
    Seq(src, s"$outer/./idx/", outer, s"$src/clone", s"$src/sub/../clone",
        s"$outer/other/../idx").foreach { dst =>
      val e = intercept[IllegalArgumentException](IndexBuilder.cloneIndex(src, dst))
      val names = Seq(src, dst).map(Paths.get(_).toAbsolutePath.normalize.toString)
      assert(names.forall(e.getMessage.contains), s"$dst: ${e.getMessage}")
      assert(PostingIndex.isComplete(spark, src), s"$dst: source no longer complete")
      assert(PostingIndex.readGlobals(spark, src).buildId == buildId)
      assert(decoded(src) == before, s"$dst: source postings changed")
      assert(!Files.exists(Paths.get(src, "clone")), s"$dst: clone created inside the source")
    }
    // a sibling whose name extends the source's is neither
    IndexBuilder.cloneIndex(src, src + "2")
    assert(decoded(src + "2") == before)
  }

  test("compact folds appended batches and tombstones together") {
    val dir = tmpDir("mix")
    val half1 = docs.filter(pmod(col("docId"), lit(2L)) === 0)
    val half2 = docs.filter(pmod(col("docId"), lit(2L)) === 1)
    IndexBuilder.build(spark, half1, dir, cfg)
    IndexBuilder.append(spark, half2, dir, cfg, "b1")
    IndexBuilder.delete(spark, docs.filter(deletedPred).select("docId"),
      dir, "lc1")
    IndexBuilder.compact(spark, dir, cfg)
    val fresh = tmpDir("mixFresh")
    IndexBuilder.build(spark, survivors, fresh, cfg)
    assert(decoded(dir) == decoded(fresh))
    assert(!Files.exists(Paths.get(dir, "tf_appends")), "appends must fold")
    val gC = PostingIndex.readGlobals(spark, dir)
    val gF = PostingIndex.readGlobals(spark, fresh)
    assert((gC.nDocs, gC.avgdl) == (gF.nDocs, gF.avgdl))
  }

  test("ledger keeps token-less docs exact through delete+compact") {
    import spark.implicits._
    // two docs that tokenize to nothing (stop-words / short tokens only):
    // invisible to tf, but they count toward N and the avgdl denominator
    val tokenless = Seq(
      (900001L, "a of the", "en"), (900002L, "-- == !!", "en"))
      .toDF("docId", "content", "lang")
    val corpus = docs.select("docId", "content", "lang").unionByName(tokenless)
    val dir = tmpDir("ledger")
    val g0 = IndexBuilder.build(spark, corpus, dir, cfg)
    assert(g0.nDocs == docs.count() + 2)
    // delete one token-less doc + the fixture set; compact must land on the
    // EXACT survivor count (tf alone could never see 900001)
    IndexBuilder.delete(spark,
      corpus.filter(deletedPred || col("docId") === 900001L).select("docId"),
      dir, "lc1")
    val g1 = IndexBuilder.compact(spark, dir, cfg)
    val expectedN = corpus.filter(!(deletedPred || col("docId") === 900001L)).count()
    assert(g1.nDocs == expectedN, s"got ${g1.nDocs}, want $expectedN")
    val gBack = PostingIndex.readGlobals(spark, dir)
    assert(gBack.nDocs == expectedN)
  }

  test("pre-ledger index + append + compact converges via the union fallback") {
    // an index built BEFORE the doclist ledger existed, then appended to by
    // current code: only the appended batch is ledgered. A compact that
    // trusted the partial ledger would collapse N to the appended batch;
    // readDocIds must demand batch=base and otherwise union tf ids with the
    // ledgered batches.
    val dir = tmpDir("preledger")
    val half1 = docs.filter(pmod(col("docId"), lit(2L)) === 0)
    val half2 = docs.filter(pmod(col("docId"), lit(2L)) === 1)
    IndexBuilder.build(spark, half1, dir, cfg)
    rmTree(s"$dir/doclist") // simulate the pre-ledger base build
    IndexBuilder.append(spark, half2, dir, cfg, "b1") // ledgers ONLY b1
    IndexBuilder.delete(spark, docs.filter(deletedPred).select("docId"),
      dir, "lc1")
    IndexBuilder.compact(spark, dir, cfg)
    val fresh = tmpDir("preledgerFresh")
    IndexBuilder.build(spark, survivors, fresh, cfg)
    assert(decoded(dir) == decoded(fresh))
    val gC = PostingIndex.readGlobals(spark, dir)
    val gF = PostingIndex.readGlobals(spark, fresh)
    // every doc in this corpus tokenizes, so the fallback is exact here
    assert((gC.nDocs, gC.totalTokens, gC.avgdl) ==
      (gF.nDocs, gF.totalTokens, gF.avgdl))
  }

  private def copyTree(src: String, dst: String): Unit =
    Files.walk(Paths.get(src)).forEach { p =>
      val t = Paths.get(dst).resolve(Paths.get(src).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  test("compact adopts a finished staging after a mid-swap crash") {
    val done = tombstonedIndex("adoptRef")
    val crashed = tombstonedIndex("adoptCrash")
    IndexBuilder.compact(spark, done, cfg)
    // simulate a predecessor that died after the commit marker, between the
    // tf wipe and the moves: staged results committed (_SUCCESS), marker
    // present, live tf gone, doclist gone
    copyTree(s"$done/tf", s"$crashed/.compact_tf")
    copyTree(s"$done/doclist/batch=base", s"$crashed/.compact_doclist")
    Files.writeString(Paths.get(crashed, ".compact_swap"), "crashed")
    rmTree(s"$crashed/tf")
    rmTree(s"$crashed/doclist")
    // resume: must skip phase A, finish the swap, and converge
    IndexBuilder.compact(spark, crashed, cfg)
    assert(decoded(crashed) == decoded(done))
    assert(!Files.exists(Paths.get(crashed, ".compact_swap")))
    val gA = PostingIndex.readGlobals(spark, crashed)
    val gB = PostingIndex.readGlobals(spark, done)
    assert((gA.nDocs, gA.totalTokens, gA.avgdl, gA.vocabularySize) ==
      (gB.nDocs, gB.totalTokens, gB.avgdl, gB.vocabularySize))
  }

  test("compact resume with marker and live tf_appends does not double-count") {
    // the crash window right AFTER the commit marker: stagings finished,
    // tf_appends not yet deleted, live tf/doclist untouched — a resume
    // that re-filtered live state here would union the appended rows twice
    val half1 = docs.filter(pmod(col("docId"), lit(2L)) === 0)
    val half2 = docs.filter(pmod(col("docId"), lit(2L)) === 1)
    def mk(tag: String): String = {
      val d = tmpDir(tag)
      IndexBuilder.build(spark, half1, d, cfg)
      IndexBuilder.append(spark, half2, d, cfg, "b1")
      IndexBuilder.delete(spark, docs.filter(deletedPred).select("docId"),
        d, "lc1")
      d
    }
    val twin = mk("dcTwin")
    IndexBuilder.compact(spark, twin, cfg) // the uninterrupted reference
    val crashed = mk("dcCrash")
    copyTree(s"$twin/tf", s"$crashed/.compact_tf") // == phase A's staging
    copyTree(s"$twin/doclist/batch=base", s"$crashed/.compact_doclist")
    Files.writeString(Paths.get(crashed, ".compact_swap"), "crashed")
    // live tf still = half1 only; tf_appends/batch=b1 still present
    assert(Files.exists(Paths.get(crashed, "tf_appends")))
    IndexBuilder.compact(spark, crashed, cfg)
    assert(decoded(crashed) == decoded(twin))
    assert(!Files.exists(Paths.get(crashed, "tf_appends")))
    val gA = PostingIndex.readGlobals(spark, crashed)
    val gB = PostingIndex.readGlobals(spark, twin)
    assert((gA.nDocs, gA.totalTokens, gA.avgdl, gA.vocabularySize) ==
      (gB.nDocs, gB.totalTokens, gB.avgdl, gB.vocabularySize))
  }

  test("forDir: context-scoped memoization; invalidate forces a rebuild") {
    val dir = tombstonedIndex("handles")
    val h1 = PostingIndex.forDir(spark, dir)
    assert(PostingIndex.forDir(spark, dir) eq h1, "same session must memoize")
    // a sibling session shares the SparkContext — broadcasts are
    // context-scoped, so the handle must be SHARED, not thrashed
    val sibling = spark.newSession()
    assert(PostingIndex.forDir(sibling, dir) eq h1,
      "newSession() sibling must reuse the context-scoped handle")
    // the handle must keep serving after a close() (unpersist, not destroy)
    val before = h1.search("return", 5).collect().map(_.toSeq).toSeq
    h1.close()
    assert(h1.search("return", 5).collect().map(_.toSeq).toSeq == before)
    PostingIndex.invalidate(dir)
    val h2 = PostingIndex.forDir(spark, dir)
    assert(!(h2 eq h1), "invalidate must drop the memoized handle")
    assert(h2.search("return", 5).collect().map(_.toSeq).toSeq == before)
  }

  test("cloneIndex isolates mutations from the source (hardlink semantics)") {
    val src = tmpDir("cloneSrc")
    IndexBuilder.build(spark, docs, src, cfg)
    val before = decoded(src)
    val gBefore = PostingIndex.readGlobals(spark, src)
    val dst = src + "_clone"
    IndexBuilder.cloneIndex(src, dst)
    IndexBuilder.delete(spark, docs.filter(deletedPred).select("docId"),
      dst, "lc1")
    IndexBuilder.compact(spark, dst, cfg)
    // the clone compacted; the source must be byte-for-byte untouched
    assert(decoded(src) == before)
    val gAfter = PostingIndex.readGlobals(spark, src)
    assert(gAfter.nDocs == gBefore.nDocs && gAfter.buildId == gBefore.buildId)
    assert(!Files.exists(Paths.get(src, "tombstones")))
    val n = docs.count().toInt
    val full = new PostingIndex(spark, src)
    val expected = resultSeq(full.search("return", n))
      .filterNot { case (d, _) => deletedIds(d) }.take(10)
    // and the compacted clone serves survivor-only results (fresh stats, so
    // compare membership through the fresh-build identity test above; here
    // just assert no deleted doc is served from the clone)
    val got = resultSeq(new PostingIndex(spark, dst).search("return", 10))
    assert(got.map(_._1).forall(!deletedIds(_)))
    assert(expected.map(_._1).forall(!deletedIds(_)))
  }
}
