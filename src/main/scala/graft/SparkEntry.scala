package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.functions.Udfs
import graft.search.{BM25, OracleSql, RelationalBM25}

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Query keys are SURVEY.md §2 operator ids; every entry with an
  * [[oracleSql]] twin is gated row/schema/hash-identical against DuckDB on
  * the same parquet tables. Operators whose semantics SQL cannot express
  * (Porter stemming, compressed posting blocks, WAND) are gated by the
  * in-repo ScalaTest oracle instead and appear here as rows-only checks.
  */
object SparkEntry {

  /** The reference-query-set analog over the synthetic `documents` corpus
    * (its vocabulary is data-engineering words; `dup` is the rare
    * discriminative term, `the`/`a` exercise the stop/length filters).
    */
  val benchQueries: Seq[(String, String)] = Seq(
    "tsm" -> "table scan merge",
    "wsb" -> "window stream batch",
    "hjf" -> "hash join filter",
    "dup" -> "the dup vector",
    "sqg" -> "slow query group")

  private def rawDocs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Fixed materialization point of the JVM-stemmed (doc_id, term, tf)
    * rows: overwritten by each stemmed-chain query, read back by its DuckDB
    * twin via read_parquet (same host, the driver's gate protocol). This
    * turns the stemmed BM25 math into a hard gate; only the stemmer itself
    * (golden-vector + rank-identity spec'd) stays outside the oracle.
    */
  def stemmedTfPathFor(dir: String): String =
    s"/tmp/graft_stemmed_tf_${dir.replaceAll("[^a-zA-Z0-9.]", "_")}.parquet"

  /** The path the STATIC oracle SQL reads: the driver's gate protocol runs
    * Verify at sf0.01, so the twin is pinned to that dir's materialization.
    * PER-DIR paths matter: the bench runs the same queries at sf0.1 and a
    * single shared path would be overwritten between the driver's Verify
    * and its DuckDB compare if the bench runs in between — the gate would
    * then diff two different corpora. (Gating a non-sf0.01 dir locally:
    * point the twin at `stemmedTfPathFor(<dir>)`.)
    */
  val stemmedTfGatePath: String = stemmedTfPathFor("/root/testdata/sf0.01")

  // one materialization per corpus dir per JVM: both stemmed queries use
  // the same rows, and re-tokenizing+rewriting 300k docs per query doubled
  // the bench cost of the second one (a fresh JVM re-materializes once —
  // each query stays self-contained across processes)
  private val stemmedTfDone =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Same pattern for the sign-LSH hyperplanes: materialized per dir so the
    * `ann_lsh` DuckDB twin recomputes the identical buckets, candidate set
    * and 6-dp rescoring (sequential index-order dot folds on both engines
    * make the `> 0` sign decisions bit-identical — see
    * [[ops.Similarity.lshPlanesDf]]).
    */
  def lshPlanesPathFor(dir: String): String =
    s"/tmp/graft_lsh_planes_${dir.replaceAll("[^a-zA-Z0-9.]", "_")}.parquet"

  val lshPlanesGatePath: String = lshPlanesPathFor("/root/testdata/sf0.01")

  private val lshPlanesDone =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def materializeLshPlanes(s: SparkSession, dir: String, dim: Int): Unit =
    lshPlanesDone.getOrElseUpdate(dir, {
      ops.Similarity.lshPlanesDf(s, nPlanes = 4, tables = 16, dim = dim)
        .coalesce(1).write.mode("overwrite").parquet(lshPlanesPathFor(dir))
      true
    })

  /** Pre-materializes everything the gated queries otherwise build on FIRST
    * USE — the two cached compressed indexes (stemmed + unstemmed), the
    * stemmed-tf parquet, and the two delete-lifecycle variant indexes — so
    * a timed pass over [[queries]] measures query plans, not one-off index
    * builds (r3: the first breadth query absorbed a 6.4 s sf0.1 index build
    * and per-query times were incomparable round-over-round whenever tier
    * order shifted). The bench reports the cost as its own `prewarm_sec`
    * line item.
    */
  def prewarm(s: SparkSession, dir: String): Unit = {
    index.IndexCache.dirFor(s, dir, stem = false)
    index.IndexCache.dirFor(s, dir, stem = true)
    stemmedTf(s, dir)
    lifecycleDir(s, dir, compacted = false)
    lifecycleDir(s, dir, compacted = true)
    withPositions(s, dir) // positional sidecar (ep2_wand_phrase_pos)
    ()
  }

  /** The delete-lifecycle fixture: a deterministic 1/7 of the corpus is
    * deleted (`doc_id % 7 == 3`; testdata ids are nonnegative, so Spark
    * `pmod` and DuckDB `%` agree). One predicate string, interpolated into
    * both the Spark delete set and the DuckDB twins.
    */
  val lifecycleDeleteSql: String = "doc_id % 7 = 3"

  private val lifecycleDone =
    scala.collection.concurrent.TrieMap.empty[(String, Boolean), String]

  /** Variant indexes exercising [[index.IndexBuilder.delete]] /
    * [[index.IndexBuilder.compact]] end-to-end on the gated surface: a
    * hardlink [[index.IndexBuilder.cloneIndex]] of the cached unstemmed
    * index (the serving deployment's clone-mutate-swap shape) with the
    * fixture tombstones applied — one left as a tombstone-serving overlay,
    * one compacted (stats + weights refreshed over the survivors). Built
    * once per (corpus dir, variant) per JVM; a fresh JVM re-derives both
    * deterministically (cloneIndex wipes the target first).
    */
  private def lifecycleDir(s: SparkSession, dir: String, compacted: Boolean): String =
    lifecycleDone.getOrElseUpdate((dir, compacted), {
      val src = index.IndexCache.dirFor(s, dir, stem = false)
      val dst = src + (if (compacted) "_lc_compacted" else "_lc_tombstoned")
      // cross-process reuse marker (the IndexCache pattern): a finished
      // variant derived from THIS source build is served as-is — without it
      // every fresh JVM would re-clone and re-compact during prewarm. The
      // marker is written last, so a crash mid-mutation rebuilds.
      val srcGlobals = index.PostingIndex.readGlobals(s, src)
      val srcBuild = srcGlobals.buildId
      val marker = java.nio.file.Paths.get(dst, "lc_source.txt")
      val reusable = java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker).trim == srcBuild &&
        index.PostingIndex.isComplete(s, dst)
      if (!reusable) {
        index.IndexBuilder.cloneIndex(src, dst)
        index.IndexBuilder.delete(s,
          rawDocs(s, dir).select("doc_id")
            .filter(pmod(col("doc_id"), lit(7L)) === 3), dst, "lc1")
        if (compacted)
          index.IndexBuilder.compact(s, dst, index.IndexConfig.of(srcGlobals))
        java.nio.file.Files.writeString(marker, srcBuild)
        index.PostingIndex.invalidate(dst) // drop any handle onto old content
      }
      dst
    })

  private val mergedDone = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Variant index exercising [[index.IndexBuilder.merge]] end-to-end on
    * the gated surface: the corpus split into halves by pmod(docId, 2),
    * each half built as its OWN index, then merged — the merged index must
    * answer the standard WAND query exactly like the whole-corpus oracle
    * (merge == union rebuild is additionally bit-identity-spec'd in
    * LifecycleSpec). Cross-process reuse via the lc_source marker pattern.
    */
  private def mergedDir(s: SparkSession, dir: String): String =
    mergedDone.getOrElseUpdate(dir, {
      val src = index.IndexCache.dirFor(s, dir, stem = false)
      val dst = src + "_lc_merged"
      val srcBuild = index.PostingIndex.readGlobals(s, src).buildId
      val marker = java.nio.file.Paths.get(dst, "lc_source.txt")
      val reusable = java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker).trim == srcBuild &&
        index.PostingIndex.isComplete(s, dst)
      if (!reusable) {
        rmTreeLocal(dst)
        val cfg = index.IndexConfig(shards = 8, termBuckets = 4, stem = false)
        val corpus = Corpus.documents(s, dir)
        val halfA = java.nio.file.Files
          .createTempDirectory("graft-merge-halfA").toString
        val halfB = java.nio.file.Files
          .createTempDirectory("graft-merge-halfB").toString
        index.IndexBuilder.build(s, corpus.filter(pmod(col("docId"), lit(2L)) === 0), halfA, cfg)
        index.IndexBuilder.build(s, corpus.filter(pmod(col("docId"), lit(2L)) === 1), halfB, cfg)
        index.IndexBuilder.merge(s, halfA, halfB, dst)
        rmTreeLocal(halfA); rmTreeLocal(halfB)
        java.nio.file.Files.writeString(marker, srcBuild)
        index.PostingIndex.invalidate(dst)
      }
      dst
    })

  private def rmTreeLocal(p: String): Unit = {
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path))
      java.nio.file.Files.walk(path)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  private def stemmedTf(s: SparkSession, dir: String): DataFrame = {
    val path = stemmedTfPathFor(dir)
    stemmedTfDone.getOrElseUpdate(dir, {
      RelationalBM25.termFreqs(Corpus.documents(s, dir), stem = true)
        .write.mode("overwrite").parquet(path)
      true
    })
    s.read.parquet(path)
  }

  /** Positional-sidecar builder for the cached gate index, memoized per
    * process AND structurally idempotent across processes: hasFreshPositions
    * checks the sidecar's buildId binding, so a sidecar left by another
    * process (or invalidated by an append/compact) is detected correctly.
    */
  private val positionsDone = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private def withPositions(s: SparkSession, dir: String): index.PostingIndex = {
    val idxDir = index.IndexCache.dirFor(s, dir, stem = false)
    val h = index.PostingIndex.forDir(s, idxDir)
    positionsDone.getOrElseUpdate(idxDir, {
      if (!h.hasFreshPositions)
        index.IndexBuilder.buildPositions(s, Corpus.documents(s, dir), idxDir)
      true
    })
    h
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Corpus.documents(spark, "/root/testdata/sf0.001")
    RelationalBM25.hydrate(
      RelationalBM25.topK(docs, "table scan merge", 10, stem = false), docs)
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val base: Map[String, (SparkSession, String) => DataFrame] = Map(
      // S1: pruned scan + projection + pushed filter
      "s1_scan_docs" -> ((s, dir) =>
        rawDocs(s, dir).select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id").limit(20)),
      // S2 ingest invariant: per-row content sha256 (input_hint gate)
      "s2_ingest_sha" -> ((s, dir) =>
        rawDocs(s, dir).select(col("doc_id"), sha2(col("text"), 256).as("sha"))
          .orderBy("doc_id")),
      // S9: doc-id point lookup (predicate pushdown to parquet)
      "s9_doc_lookup" -> ((s, dir) =>
        rawDocs(s, dir).filter(col("doc_id") === 42)
          .select("doc_id", "lang", "source", "n_chars", "text")),
      // F7: snippet truncation (App.tsx:290 made server-side)
      "f7_snippet" -> ((s, dir) =>
        rawDocs(s, dir)
          .select(col("doc_id"), substring(col("text"), 1, 150).as("snippet"))
          .orderBy("doc_id").limit(50)),
      // F1: bare tokenizer on one document
      "f1_tokenize" -> ((s, dir) =>
        rawDocs(s, dir).filter(col("doc_id") === 1)
          .select(explode(Udfs.tokenize(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("cnt")).orderBy("term")),
      // A2: per-(doc,term) frequencies, analysis chain (no stem)
      "a2_term_freqs" -> ((s, dir) =>
        RelationalBM25.termFreqs(Corpus.documents(s, dir), stem = false)
          .filter(col("doc_id") < 25).orderBy("doc_id", "term")),
      // A1: deterministic vocabulary (term, term_id, df)
      "a1_vocab" -> ((s, dir) =>
        RelationalBM25.vocabulary(
          RelationalBM25.termFreqs(Corpus.documents(s, dir), stem = false))
          .orderBy("term")),
      // A5: BM25 idf per term
      "a5_idf" -> ((s, dir) => {
        val docs = Corpus.documents(s, dir)
        val tf = RelationalBM25.termFreqs(docs, stem = false)
        RelationalBM25.docFreqs(tf)
          .crossJoin(docs.agg(count(lit(1)).cast("double").as("n")))
          .select(col("term"), col("df"),
            round(RelationalBM25.idfCol(col("n"), col("df")), 6).as("idf"))
          .orderBy("term")
      }),
      // A8 (BM25 form): per-doc length statistic
      "a8_doclen" -> ((s, dir) =>
        RelationalBM25.docLens(
          RelationalBM25.termFreqs(Corpus.documents(s, dir), stem = false))
          .orderBy("doc_id")),
      // corpus length distribution (quality-threshold selection surface):
      // exact percentiles per language — Spark `percentile` and DuckDB
      // `quantile_cont` share the linear-interpolation definition, so the
      // gate is value-exact at 6 dp
      "a9_length_dist" -> ((s, dir) =>
        rawDocs(s, dir).groupBy("lang").agg(
          count(lit(1)).as("docs"),
          round(expr("percentile(n_chars, 0.5D)"), 6).as("p50"),
          round(expr("percentile(n_chars, 0.9D)"), 6).as("p90"),
          round(expr("percentile(n_chars, 0.99D)"), 6).as("p99"),
          round(avg(col("n_chars")), 6).as("mean"),
          max(col("n_chars")).as("mx"))
          .orderBy("lang")),
      // A9: corpus stats (document_count, vocabulary_size) — the /stats sink
      "a9_stats" -> ((s, dir) => {
        val docs = Corpus.documents(s, dir)
        val tf = RelationalBM25.termFreqs(docs, stem = false)
        docs.agg(count(lit(1)).as("document_count"))
          .crossJoin(RelationalBM25.docFreqs(tf)
            .agg(count(lit(1)).as("vocabulary_size")))
      }),
      // J2: top-k hydration join
      "j2_hydrate" -> ((s, dir) => {
        val docs = Corpus.documents(s, dir)
        RelationalBM25.hydrate(
          RelationalBM25.topK(docs, "table scan merge", 10, stem = false), docs)
          .select("doc_id", "score", "lang", "source")
          .orderBy(col("score").desc, col("doc_id").asc)
      }),
      // stemmed full chain, HARD-gated: the JVM-stemmed tf is materialized
      // to parquet and both engines compute top-k from those same rows
      "bm25_stemmed_tsm" -> ((s, dir) =>
        RelationalBM25.topKFromTf(stemmedTf(s, dir), Corpus.documents(s, dir),
          RelationalBM25.queryTerms("table scan merge", stem = true), 10)))

    // T1/A10/EP2: BM25 top-10 per bench query (exact relational form)
    val bm25 = benchQueries.map { case (key, text) =>
      s"t1_bm25_$key" -> ((s: SparkSession, dir: String) =>
        RelationalBM25.topK(Corpus.documents(s, dir), text, 10, stem = false))
    }.toMap ++ Map[String, (SparkSession, String) => DataFrame](
      // source-diversified top-k (SERP host collapse, <=2 per source)
      "t1_bm25_diverse" -> ((s: SparkSession, dir: String) =>
        RelationalBM25.topKDiverse(Corpus.documents(s, dir),
          "table scan merge", 10, perSource = 1, stem = false)))
    // EP2 over the REAL index: compressed posting blocks + per-shard WAND.
    // Same DuckDB oracle as t1_* — gates the whole build+query path.
    val wand = benchQueries.map { case (key, text) =>
      s"ep2_wand_$key" -> ((s: SparkSession, dir: String) =>
        new index.PostingIndex(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchRounded(text, 10))
    }.toMap
    // the reference UI's k options (5/10/25/50 — Frotend/src/App.tsx:232)
    // as gated variants over the compressed index; k=10 is the default
    // covered by ep2_wand_*
    val wandK: Map[String, (SparkSession, String) => DataFrame] =
      Seq(5, 25, 50).map { k =>
        s"ep2_wand_tsm_k$k" -> ((s: SparkSession, dir: String) =>
          new index.PostingIndex(s, index.IndexCache.dirFor(s, dir, stem = false))
            .searchRounded("table scan merge", k))
      }.toMap
    val wandStemmed: Map[String, (SparkSession, String) => DataFrame] = Map(
      // J3 conjunctive: posting-list intersection (leapfrog DAAT); rounded
      // BEFORE the k-cut so boundary ties break like the oracle's
      "j3_wand_and_tsm" -> ((s, dir) =>
        new index.PostingIndex(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchConjunctiveRounded("table scan merge", 10)),
      // stemmed WAND over the compressed index, gated against the SAME
      // materialized-stemmed-tf twin (WAND == exhaustive BM25; the
      // materialize makes each gated query self-contained)
      "ep2_wand_stemmed_tsm" -> ((s, dir) => {
        stemmedTf(s, dir)
        new index.PostingIndex(s, index.IndexCache.dirFor(s, dir, stem = true))
          .searchRounded("table scan merge", 10)
      }),
      // S8: build counters surface (docs/terms/postings per north rule).
      // indexed_term_slices is the MANIFEST's summed per-(tb, shard) term
      // counters (accumulated inside the encode tasks) = distinct
      // (term, shard) pairs committed; the oracle recomputes it from the
      // raw corpus via the DuckDB docShard hash twin, gating completeness
      // at SLICE granularity with zero query-time postings scan (round 2's
      // distinct-over-postings form cost 13.6 s of the bench breadth box
      // and gated only the global-distinct projection of the same fact;
      // the segment-level recount lives in IndexSpec's counter-truth test).
      "s8_index_stats" -> ((s, dir) => {
        val idxDir = index.IndexCache.dirFor(s, dir, stem = false)
        val g = index.PostingIndex.readGlobals(s, idxDir)
        val (termSlices, postings, _) = index.Manifest.totals(idxDir)
        import s.implicits._
        Seq((g.nDocs, g.vocabularySize, g.totalTokens, termSlices, postings))
          .toDF("document_count", "vocabulary_size", "total_tokens",
            "indexed_term_slices", "postings")
      }),
      // S4 lifecycle, tombstone overlay: deleted docs never reach the
      // top-k while surviving scores keep the pre-delete statistics.
      // forDir: the overlay collect+broadcast happens once per JVM, not
      // per query invocation
      "ep2_wand_tsm_deleted" -> ((s, dir) =>
        index.PostingIndex.forDir(s, lifecycleDir(s, dir, compacted = false))
          .searchRounded("table scan merge", 10)),
      // S4 lifecycle, post-compaction: the index equals a fresh build over
      // the survivors, so stats and every weight are refreshed
      "ep2_wand_tsm_compacted" -> ((s, dir) =>
        index.PostingIndex.forDir(s, lifecycleDir(s, dir, compacted = true))
          .searchRounded("table scan merge", 10)))
    // query-surface extensions beyond the reference: attribute-filtered,
    // prefix (dictionary-expansion), and phrase search over the same index
    val wandExtra: Map[String, (SparkSession, String) => DataFrame] = Map(
      // attribute filter, selective -> broadcast-overlay path (the lang
      // predicate pushes to the corpus scan; ids broadcast sorted)
      "ep2_wand_tsm_lang_en" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchFilteredRounded("table scan merge", 10,
            Corpus.documents(s, dir).filter(col("lang") === "en").select("docId"))),
      // same operator FORCED down the sharded cogroup path (broadcastCap=0)
      // with a non-selective filter — gates the 100-TB strategy end-to-end
      "ep2_wand_tsm_filter_sharded" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchFilteredRounded("table scan merge", 10,
            Corpus.documents(s, dir)
              .filter(col("lang").isin("en", "fr", "de")).select("docId"),
            broadcastCap = 0)),
      // prefix search: 's' expands to 6 vocabulary terms, capped to the 4
      // highest-df (ties term-asc) — the cap ordering is part of the gate
      "ep2_wand_prefix_s" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchPrefixRounded("s", 10, maxExpansions = 4)),
      // phrase search, verification path FORCED (no docs fallback needed —
      // this exercises the candidate re-analysis form even when a sidecar
      // exists, via the private candidates + explicit docs join)
      "ep2_wand_phrase_ts" -> ((s, dir) => {
        val h = index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
        // auto-selecting entry point; on a sidecar-less index this IS the
        // verification path (the sidecar is only built by _pos below, but
        // run order is alphabetical-ish and not guaranteed — so this gate
        // holds for whichever path is active, both being exact)
        h.searchPhraseRounded("table scan", 10, Corpus.documents(s, dir))
      }),
      // phrase search over the POSITIONAL sidecar (index-native path,
      // sidecar built once per gate index and bound to its buildId)
      "ep2_wand_phrase_pos" -> ((s, dir) =>
        withPositions(s, dir).searchPhrasePositionalRounded("table scan", 10)),
      // proximity (sloppy ordered phrase): 'table merge' within a window
      // of <= 1+2 analyzed positions — strictly between the adjacent
      // phrase (slop 0) and the conjunctive AND (slop infinity)
      "ep2_wand_prox_tm" -> ((s, dir) =>
        withPositions(s, dir).searchProximityRounded("table merge", 2, 10)),
      // KWIC highlighting: top-10 hydrated with the context window around
      // the first query-term occurrence (term, pos, snippet all gated)
      "f7_kwic_tsm" -> ((s, dir) => {
        val idx = index.PostingIndex.forDir(s,
          index.IndexCache.dirFor(s, dir, stem = false))
        search.Snippets.kwic(idx.searchRounded("table scan merge", 10),
          rawDocs(s, dir), idx.queryTerms("table scan merge").map(_._1))
      }),
      // positional KWIC: the first match position comes from the
      // positional SIDECAR (analyzed-term-exact — no substring scan of
      // hydrated text), snippet = the analyzed-token window around it
      "f7_kwic_pos" -> ((s, dir) =>
        withPositions(s, dir).kwicPositionalRounded("table scan merge", 10,
          Corpus.documents(s, dir))),
      // wildcard query: 's*a*' expands to the 3 highest-df matching
      // vocabulary terms (scan/spark/small/stream compete on df — the cap
      // ordering is part of the gate), LIKE probe in both engines
      "ep2_wand_wild_sa" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchWildcardRounded("s*a*", 10, maxExpansions = 3)),
      // fuzzy search: 'dat' at maxEdits=2 reaches 4 vocabulary terms
      // (data/dup/fast/part at sf0.01); maxExpansions=3 cuts the lowest-df
      // one — the df-desc cap ordering is part of the gate
      "ep2_wand_fuzzy_dat" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchFuzzyRounded("dat", 10, maxEdits = 2, maxExpansions = 3)),
      // facet counts over the disjunctive match set (counts per lang of
      // live docs containing >=1 query term; 'dup' is the rare term so the
      // match set is not the whole corpus)
      "ep2_wand_facet_lang" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .facetCounts("dup stream", Corpus.documents(s, dir), "lang")),
      // more-like-this: doc 42's top-8 (tf desc, df asc, term asc) profile
      // terms as a weighted disjunctive query, source doc excluded
      "ep2_wand_mlt_42" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchMoreLikeThisRounded(42L, 10, Corpus.documents(s, dir), maxTerms = 8)),
      // per-(term, doc) score explanation read from the INDEX BYTES (tf +
      // baked weight decoded from doc 7's posting entries) vs the
      // corpus-derived twin — pins index content finer than any top-k
      "ep2_explain_tsm" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .explainScore("table scan merge", 7L)),
      // boolean query (must AND / should OR-score / mustNot exclusion):
      // docs containing 'table' but not 'stream', scored over
      // table+merge+scan — all three clause kinds load-bearing
      "ep2_wand_bool_tms" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchBooleanRounded("table", "merge scan", "stream", 10)),
      // pure should + mustNot (no must clause): the WAND-driven branch of
      // the boolean evaluator with the forward not-cursor exclusion
      "ep2_wand_bool_nomust" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchBooleanRounded("", "merge scan", "table", 10)),
      // S4 lifecycle, index MERGE: two half-corpus indexes merged without
      // re-tokenization must answer exactly like the whole-corpus oracle
      "ep2_wand_tsm_merged" -> ((s, dir) =>
        index.PostingIndex.forDir(s, mergedDir(s, dir))
          .searchRounded("table scan merge", 10)),
      // significant terms: the most distinctive terms of the 'dup stream'
      // match set vs the whole corpus (fg/bg df-ratio lift) — pins the
      // match-set decode AND the materialized tf relation end-to-end
      "ep2_sigterms_dup" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .significantTerms("dup stream", 8)),
      // deep pagination: page 2 via the search_after cursor (page 1's
      // last row) must equal the oracle's OFFSET page of the same order
      "ep2_wand_tsm_page2" -> ((s, dir) => {
        val idx = index.PostingIndex.forDir(s,
          index.IndexCache.dirFor(s, dir, stem = false))
        val last = idx.searchRounded("table scan merge", 10).collect().last
        idx.searchAfterRounded("table scan merge", 10,
          last.getDouble(1), last.getLong(0))
      }),
      // source-diversified serving search: field-collapse over the
      // retrieved top-candidates page (broadcast page ⋈ pruned attr scan,
      // one <=candidates-row window), then the k re-cut
      "ep2_wand_diverse_tsm" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchDiverseRounded("table scan merge", 10, rawDocs(s, dir),
            perSource = 1, candidates = 50)),
      // batch search (broadcast-qtf form): the whole reference query set
      // answered in ONE job — per-query rows must equal searchRounded's
      "ep2_wand_many" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchManyRounded(benchQueries.map(_._2), 10)),
      // batch search (table-valued form): the query set as a RELATION —
      // the 10^6-query offline-eval plan (analyzed distributedly, blocks
      // replicated per query-batch, shard x batch cogroup); non-contiguous
      // ids exercise the pmod batching, the all-stopword query the drop
      // contract
      "ep2_wand_many_tbl" -> ((s, dir) => {
        import s.implicits._
        val qs = Seq((3L, "table scan merge"), (7L, "dup stream"),
          (12L, "slow group query"), (15L, "the and of"))
          .toDF("query_id", "query")
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchManyTable(qs, 10, queryBatches = 3)
      }),
      // did-you-mean suggestions: the fuzzy dictionary probe as its own
      // surface — (term, df) within edit distance 2 of 'dat', df desc
      "ep2_suggest_dat" -> ((s, dir) =>
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .suggest("dat", maxEdits = 2, maxSuggestions = 5)),
      // query-time synonym expansion: 'table' also matches row/column,
      // 'merge' also matches join, expanded terms inherit the source qtf
      // and weights sum — the whole expansion computed by BOTH engines
      "ep2_wand_syn_tm" -> ((s, dir) => {
        import s.implicits._
        val syns = Seq(("table", "row"), ("table", "column"),
          ("merge", "join")).toDF("term", "syn")
        index.PostingIndex.forDir(s, index.IndexCache.dirFor(s, dir, stem = false))
          .searchSynonymsRounded("table merge", syns, 10)
      }),
      // hybrid lexical+vector retrieval: BM25 WAND top-50 fused with the
      // exact cosine top-50 (query vector = embeddings row 0) by
      // reciprocal-rank fusion — both candidate lists, the rank
      // assignment, the absent-rank-0 coalescing, and the fused order
      // are value-gated
      "ep2_hybrid_rrf" -> ((s, dir) => {
        val idx = index.PostingIndex.forDir(s,
          index.IndexCache.dirFor(s, dir, stem = false))
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.filter(col("vec_id") === 0).head()
          .getSeq[Float](1).map(_.toDouble).toArray
        search.Hybrid.rrfSearch(idx, emb, "table scan merge", q, 10,
          candidates = 50)
      }))
    base ++ bm25 ++ wand ++ wandK ++ wandStemmed ++ wandExtra ++ opsQueries ++ tpchQueries
  }

  /** Training-data pipeline operators (dedup / similarity / text analysis /
    * multimodal plumbing) as first-class query surface.
    */
  private def opsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      ops.Dedup.exact(rawDocs(s, dir)).orderBy("doc_id")),
    // percolator: which registered standing queries does each document
    // match (conjunctive containment) — incl. a degenerate all-stopword
    // query that must match nothing
    "percolate_std" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "table scan"), (2L, "dup stream"),
        (3L, "slow query group"), (4L, "the and of"))
        .toDF("query_id", "query")
      // gate-side ordering: the operator itself is unordered (a global
      // sort per streaming micro-batch is the caller's choice, not the
      // operator's)
      ops.Percolate.percolate(rawDocs(s, dir), qs).orderBy("doc_id", "query_id")
    }),
    // Lee-et-al-style duplicated-span (w-token window) profile
    "dedup_spans" -> ((s, dir) =>
      ops.Spans.dupSpanStats(rawDocs(s, dir), w = 6).orderBy("doc_id")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      ops.Dedup.ngramJaccard(rawDocs(s, dir), n = 3, minJaccard = 0.5)
        .orderBy("id_a", "id_b")),
    // containment near-dup: the snippet-inside-aggregator mode symmetric
    // Jaccard misses (C = common / min set size)
    "dedup_containment" -> ((s, dir) =>
      ops.Dedup.containmentPairs(rawDocs(s, dir), n = 3, minContainment = 0.8)
        .orderBy("id_a", "id_b")),
    "dedup_minhash_lsh" -> ((s, dir) =>
      ops.Dedup.minhashLsh(rawDocs(s, dir), verifyMinJaccard = Some(0.5))
        .orderBy("id_a", "id_b")),
    "dedup_simhash" -> ((s, dir) =>
      ops.Dedup.simhashPairs(rawDocs(s, dir), maxHamming = 3)
        .orderBy("id_a", "id_b")),
    "dedup_embed_cosine" -> ((s, dir) =>
      ops.Similarity.cosinePairs(
        s.read.parquet(s"$dir/embeddings.parquet"), 0.45)
        .orderBy("id_a", "id_b")),
    "ann_brute_cosine" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).head()
        .getSeq[Float](1).map(_.toDouble).toArray
      ops.Similarity.bruteForceTopK(emb, q, 10)
    }),
    "ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).head()
        .getSeq[Float](1).map(_.toDouble).toArray
      materializeLshPlanes(s, dir, q.length)
      ops.Similarity.annTopK(emb, q, 10)
    }),
    // IVF-flat ANN: deterministic sampled centroids -> argmax-cosine
    // inverted lists -> nprobe-list probe; every step SQL-expressible, so
    // unlike sign-LSH this ANN path is hard-gated end to end
    "ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).head()
        .getSeq[Float](1).map(_.toDouble).toArray
      ops.Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 4)
    }),
    // IVF-SQ8-lite: quantized candidate generation (tinyint codes through
    // the assignment shuffle) + exact float rescore on the candidates —
    // the 100-TB embedding-shuffle upgrade path, hard-gated like ann_ivf
    "ann_ivf_q" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).head()
        .getSeq[Float](1).map(_.toDouble).toArray
      ops.Similarity.ivfTopKQuantized(emb, q, 10, nlist = 16, nprobe = 4,
        candidates = 40)
    }),
    "token_counts" -> ((s, dir) =>
      ops.TextStats.tokenCounts(rawDocs(s, dir)).orderBy("doc_id")),
    "text_quality" -> ((s, dir) =>
      ops.TextStats.qualityScore(rawDocs(s, dir)).orderBy("doc_id")),
    "lang_id" -> ((s, dir) =>
      ops.TextStats.langId(rawDocs(s, dir)).orderBy("doc_id")),
    // C4/Gopher composite quality gate: first-failing-rule drop reasons,
    // one narrow codegen'd pass
    "filter_pipeline" -> ((s, dir) =>
      ops.TextStats.filterPipeline(rawDocs(s, dir)).orderBy("doc_id")),
    // Gopher-style intra-doc repetition quality signals
    "text_repetition" -> ((s, dir) =>
      ops.TextStats.repetitionStats(rawDocs(s, dir)).orderBy("doc_id")),
    // PII redaction (typed placeholders + audit counts)
    "pii_scrub" -> ((s, dir) =>
      ops.TextStats.scrubPii(rawDocs(s, dir)).orderBy("doc_id")),
    // CCNet-style LM-quality proxy: mean unigram log10-prob under the
    // corpus's own unigram distribution (integer micro-unit contributions
    // so the per-doc sum is order-free — see the operator scaladoc)
    "text_unigram_lp" -> ((s, dir) =>
      ops.TextStats.unigramLogProb(rawDocs(s, dir)).orderBy("doc_id")),
    // web-pipeline stage one: URL canonicalization + dedup by canonical
    // URL (deterministic messy-URL synthesis exercises every rule)
    "url_dedup" -> ((s, dir) =>
      ops.Urls.dedupByUrl(rawDocs(s, dir).select(col("doc_id"),
        ops.Urls.syntheticUrl(col("doc_id")).as("url"))).orderBy("doc_id")),
    // GPT-style sequence packing (per-shard contiguous chunking)
    "pack_sequences" -> ((s, dir) =>
      ops.Packing.packSequences(rawDocs(s, dir), budget = 512, shards = 8)
        .orderBy("doc_id")),
    // CCNet-style boilerplate line removal (no-false-positive gate on this
    // corpus; planted-boilerplate behavior spec'd in OpsSpec)
    "line_boilerplate" -> ((s, dir) =>
      ops.Dedup.dropBoilerplateLines(rawDocs(s, dir)).orderBy("doc_id")),
    "doc_fingerprint" -> ((s, dir) =>
      ops.TextStats.fingerprints(rawDocs(s, dir)).orderBy("doc_id", "fp")),
    "multimodal_sha" -> ((s, dir) =>
      ops.Multimodal.extractFeatures(
        ops.Multimodal.mediaFromDocs(rawDocs(s, dir)))
        .select("media_id", "n_bytes", "sha").orderBy("media_id")),
    // full feature surface in oracle-comparable scalar shape: the 8-dim
    // feature vector as f1..f8 columns (exact thousandths; rounding the
    // float->double cast at 6 recovers the oracle's double exactly)
    "multimodal_features" -> ((s, dir) => {
      val feats = ops.Multimodal.extractFeatures(
        ops.Multimodal.mediaFromDocs(rawDocs(s, dir)))
      val cols =
        Seq("media_id", "kind", "n_bytes", "sha", "width", "height").map(col) ++
          (1 to 8).map(j =>
            round(element_at(col("feature"), j).cast("double"), 6).as(s"f$j"))
      feats.select(cols: _*).orderBy("media_id")
    }),
    // W1/W2: event-time windowed analytics (beyond the reference; the
    // streaming twin of w1 is gated batch==stream in StreamingSpec)
    "w1_event_tumbling" -> ((s, dir) =>
      ops.Events.tumblingCounts(ops.Events.load(s, dir))),
    "w2_event_sessions" -> ((s, dir) =>
      ops.Events.sessions(ops.Events.load(s, dir))),
    // semi-structured: JSON-path extraction + rollup over the props column
    "w3_event_props" -> ((s, dir) =>
      ops.Events.propsRollup(ops.Events.load(s, dir))),
    // W4: as-of join (no native Spark operator; union-marker window form)
    "w4_event_asof" -> ((s, dir) =>
      ops.Events.asOfAttribution(ops.Events.load(s, dir))),
    // W5: day-granularity retention cohort triangle
    "w5_retention" -> ((s, dir) =>
      ops.Events.retentionCohorts(ops.Events.load(s, dir))),
    // W6: ordered funnel conversion (chained min-CASE windows, one
    // exchange shared by all three steps)
    "w6_funnel" -> ((s, dir) =>
      ops.Events.funnel(ops.Events.load(s, dir))),
    // transitive dedup clustering: large-star/small-star connected
    // components over the Jaccard pair graph
    "dedup_components" -> ((s, dir) =>
      ops.Components.dedupComponents(rawDocs(s, dir), n = 3, minJaccard = 0.5)),
    // LSH clustering without pair materialization (star edges per bucket)
    "dedup_minhash_clusters" -> ((s, dir) =>
      ops.Components.minhashClusters(rawDocs(s, dir))),
    // canonical-doc selection over the clusters: keep the longest member
    // (the curation stage after clustering — one window shuffle)
    "dedup_canonical" -> ((s, dir) =>
      ops.Components.canonicalDocs(rawDocs(s, dir))),
    // SemDeDup: cluster-then-within-cluster cosine pruning (the published
    // embedding-dedup scale shape; same sampled-centroid assignment as
    // ann_ivf, so the whole path is hard-gated)
    "dedup_semantic" -> ((s, dir) =>
      ops.Similarity.semDedup(
        s.read.parquet(s"$dir/embeddings.parquet"), tau = 0.45, nlist = 16)
        .orderBy("vec_id")),
    // host-graph PageRank quality prior (integer nano-rank power method;
    // deterministic synthetic host graph — see Graphs.hostEdges)
    "host_pagerank" -> ((s, dir) =>
      ops.Graphs.hostPageRank(rawDocs(s, dir)).orderBy("host")),
    // incremental recrawl-vs-index dedup: bloom prefilter + exact verify
    // (every third batch doc is an unchanged recrawl => duplicate)
    "dedup_incremental" -> ((s, dir) => {
      val docs = rawDocs(s, dir)
      val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" [recrawl v2]"))).as("text"))
      ops.Dedup.incrementalDedup(docs, batch)
        .select("doc_id", "sha", "is_dup").orderBy("doc_id")
    }),
    // dataset-diff analytics: Monroe log-odds z of source 'src0' vs rest
    "corpus_drift" -> ((s, dir) =>
      ops.Drift.logOddsDrift(rawDocs(s, dir), col("source") === "src0")),
    // HTML-to-text extraction (deterministic messy-HTML synthesis wraps
    // each doc; scripts/styles vanish, entities decode exactly once)
    "html_normalize" -> ((s, dir) => {
      val docs = rawDocs(s, dir)
      ops.Html.normalize(docs.select(col("doc_id"),
        ops.Html.syntheticHtml(col("doc_id"), col("text")).as("html")))
        .orderBy("doc_id")
    }),
    // crawl-snapshot diff: four-way added/removed/changed/unchanged verdict
    // from one full-outer join over map-side (id, sha256) reductions
    "crawl_diff" -> ((s, dir) => {
      val docs = rawDocs(s, dir)
      ops.Snapshots.crawlDiff(docs, ops.Snapshots.syntheticNext(docs))
        .orderBy("doc_id")
    }),
    // incoming-anchor-term profile per target host (skew-safe: map-side
    // combined counts, window over the aggregated (host, term) table)
    "anchor_text" -> ((s, dir) =>
      ops.Anchors.anchorProfile(
        ops.Anchors.syntheticLinks(rawDocs(s, dir))).orderBy("host", "rnk")),
    // per-document top-k TF-IDF keywords (integer micro-unit scores; the
    // per-doc twin of the corpus-level significant-terms gate)
    "doc_keywords" -> ((s, dir) =>
      ops.Keywords.docKeywords(rawDocs(s, dir)).orderBy("doc_id", "rnk")),
    // redirect-chain resolution: pointer doubling (log L self-joins, not L),
    // loop classification after the fixed round budget
    "redirect_resolve" -> ((s, dir) =>
      ops.Redirects.resolve(
        ops.Redirects.syntheticRedirects(rawDocs(s, dir))).orderBy("src")),
    // RAG sliding-window chunking: stride grid + slice, one narrow
    // zero-shuffle codegen pass
    "doc_chunks" -> ((s, dir) =>
      ops.Chunks.chunk(rawDocs(s, dir)).orderBy("doc_id", "chunk_id")),
    // Mikolov-style phrase mining: adjacent-bigram PMI in integer micro
    // units, one tokenize pass for both gram tables
    "colloc_pmi" -> ((s, dir) =>
      ops.Collocations.pmiBigrams(rawDocs(s, dir))),
    // per-source crawl report: ONE partial+final agg pass, all metrics
    // algebraic (exact sha distinct for the dup fraction)
    "crawl_report" -> ((s, dir) =>
      ops.Reports.crawlReport(rawDocs(s, dir)).orderBy("source")),
    // bigram-interpolated LM quality score: the word-ORDER signal the
    // unigram gate cannot see, same micro-unit order-free sums
    "text_bigram_lp" -> ((s, dir) =>
      ops.Lm.bigramLogProb(rawDocs(s, dir)).orderBy("doc_id")),
    // CCNet head/middle/tail terciles of the LM score via the
    // bounded-cardinality histogram CDF — no global sort, no ntile
    "quality_buckets" -> ((s, dir) =>
      ops.Lm.qualityBuckets(rawDocs(s, dir)).orderBy("doc_id")),
    // deterministic, repartition-invariant train/val/test split (no rand())
    "sample_split" -> ((s, dir) =>
      ops.Sampling.hashSplit(rawDocs(s, dir), sampleSplits)
        .select("doc_id", "split").orderBy("doc_id")),
    // per-language hash sampling with per-stratum fractions
    "sample_stratified" -> ((s, dir) =>
      ops.Sampling.sampleByHash(rawDocs(s, dir), "lang", sampleFractions,
        seed = 7L)
        .select("doc_id", "lang").orderBy("doc_id")),
    // GPT-3-style benchmark decontamination audit: eval set = every 10th
    // doc, train = the rest; a train doc is contaminated iff it shares a
    // word 4-gram with any eval doc
    "decontam_audit" -> ((s, dir) => {
      val docs = rawDocs(s, dir)
      ops.Decontaminate.auditContamination(
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10L)) === 0), n = 4)
        .orderBy("doc_id")
    }),
    // DoReMi-style target-mixture downsampling by language (budget 400
    // of 500 docs: the 'de' domain exceeds its own size and exercises the
    // min(1, .) keep cap)
    "sample_domain_mix" -> ((s, dir) =>
      ops.Sampling.targetMixSample(rawDocs(s, dir), "lang", domainTargets,
        budget = 400, seed = 11L)
        .select(col("doc_id"), col("lang"), round(col("keep_frac"), 9).as("keep_frac"))
        .orderBy("doc_id")),
    // DSIR importance log-ratios toward the src0 target domain (hashed
    // unigram+bigram buckets, broadcast λ table, micro-int per-doc sums)
    "dsir_weights" -> ((s, dir) =>
      ops.Dsir.importanceWeights(rawDocs(s, dir), targetSource = "src0")
        .orderBy("doc_id")),
    // per-doc corpus-unique-shingle fraction (memorization-risk /
    // contribution profile; hash-keyed df, linear, no self-join)
    "ngram_novelty" -> ((s, dir) =>
      ops.Dedup.ngramNovelty(rawDocs(s, dir)).orderBy("doc_id")),
    // exact fixed-n per-stratum sample (hash-ranked top-12 per source)
    "sample_fixed_n" -> ((s, dir) =>
      ops.Sampling.fixedNPerStratum(rawDocs(s, dir), "source", n = 12,
        seed = 13L).orderBy("source", "rk")),
    // per-source exact interpolated length quantiles (one grouped pass)
    "source_quantiles" -> ((s, dir) =>
      ops.Reports.sourceQuantiles(rawDocs(s, dir)).orderBy("source")),
    // dedup threshold tuning curve: ONE capped pair pass, per-threshold
    // pair/doc counts aggregated against a broadcast threshold list
    "dedup_sweep" -> ((s, dir) =>
      ops.Dedup.thresholdSweep(rawDocs(s, dir))),
    // per-source top-k stop-filtered terms (datasheet profile; map-side
    // k-cut via WindowGroupLimit)
    "source_top_terms" -> ((s, dir) =>
      ops.Reports.sourceTopTerms(rawDocs(s, dir)).orderBy("source", "rk")),
    // W7: DAU/WAU rolling active users + stickiness (distinct (user,day)
    // once, explode-to-window-end distinct — no per-day re-scan)
    "w7_active_users" -> ((s, dir) =>
      ops.Events.activeUsers(ops.Events.load(s, dir))),
    // robots-style crawl-compliance filter: broadcast rules table,
    // row-local prefix match, longest-prefix/Allow-on-tie verdict
    "url_robots_filter" -> ((s, dir) =>
      ops.Urls.robotsFilter(rawDocs(s, dir),
        ops.Urls.syntheticRobotsRules(s)).orderBy("doc_id")),
    // per-doc character entropy (gibberish/degenerate-text signal; one
    // narrow JVM-loop pass, micro-int order-free terms)
    "text_char_entropy" -> ((s, dir) =>
      ops.TextStats.charEntropy(rawDocs(s, dir)).orderBy("doc_id")),
    // exact top-k terms via per-partition Misra-Gries candidates +
    // broadcast exact rescore (no vocabulary-scale shuffle; certificate
    // checked at runtime)
    "heavy_hitters" -> ((s, dir) =>
      ops.Vocab.heavyHitters(rawDocs(s, dir))),
    // first BPE merge iteration: char-pair stats off the weighted
    // vocabulary, not the corpus (Sennrich et al. dictionary trick)
    "bpe_pairs" -> ((s, dir) => ops.Vocab.bpePairs(rawDocs(s, dir))),
    // pairwise source shingle overlap via ONE bit_or aggregation (no
    // shingle self-join): exact Jaccard + both containments per pair
    "source_overlap" -> ((s, dir) =>
      ops.Overlap.sourceOverlap(rawDocs(s, dir))
        .orderBy("source_a", "source_b")),
    // postings-skew diagnostics: top-k df terms + share/cumulative share
    "index_skew" -> ((s, dir) =>
      ops.Reports.indexSkew(rawDocs(s, dir)).orderBy("rk")),
    // BM25F fielded ranking: position-sliced title/body fields, weighted
    // tf + weighted dl through the shared BM25 weight expression
    "bm25f_tsm" -> ((s, dir) =>
      search.RelationalBM25.topKFielded(
        corpus.Corpus.documents(s, dir), "table scan merge", 10)),
    // per-label embedding cohesion: micro-int centroid sums broadcast
    // back for an ordered-fold cosine, micro-mean per label
    "embed_label_cohesion" -> ((s, dir) =>
      ops.Similarity.labelCohesion(
        s.read.parquet(s"$dir/embeddings.parquet")).orderBy("label")),
    // interval/range-containment join in the slab-partitioned layout (no
    // nested-loop range explosion); windows synthesized deterministically
    // from the event span with gaps + overlaps
    "w8_interval_join" -> ((s, dir) => {
      val ev = ops.Events.load(s, dir)
      ops.Events.intervalJoin(ev, ops.Events.syntheticWindows(ev))
        .orderBy("event_id")
    }),
    // content-level snapshot churn: distinct-shingle novelty/retention
    // between crawls (8-byte hashed keys, one max-flag shuffle)
    "snapshot_novelty" -> ((s, dir) => {
      val prev = rawDocs(s, dir)
      ops.Snapshots.contentNovelty(prev, ops.Snapshots.syntheticNext(prev))
    }),
    // event-type Markov transition matrix: per-user lead pairs, global
    // rollup, row-normalized probabilities
    "w9_transitions" -> ((s, dir) =>
      ops.Events.eventTransitions(ops.Events.load(s, dir))
        .orderBy("from_type", "to_type")),
    // per-host language-mix entropy (MT-farm/spam signal; micro-int
    // entropy device at host scope)
    "host_lang_entropy" -> ((s, dir) =>
      ops.Reports.hostLangEntropy(rawDocs(s, dir)).orderBy("host")),
    // TPC-H Q4-style EXISTS: orders with any line shipped >90 days after
    // the order date — the left-semi join family member
    "h4_late_orders" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      o.join(l,
          o("o_orderkey") === l("l_orderkey") &&
            unix_timestamp(l("l_shipdate").cast("timestamp")) >
              unix_timestamp(o("o_orderdate").cast("timestamp")) +
                lit(90L * 86400L),
          "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_late"))
        .orderBy("o_orderpriority")
    }),
    // EXACT Jaccard pairs via PPJoin prefix filtering — no hot-shingle
    // cap approximation; rare-first prefixes generate the candidates
    "dedup_ppjoin" -> ((s, dir) =>
      ops.Dedup.ppjoinJaccard(rawDocs(s, dir), n = 3, minJaccard = 0.5)
        .orderBy("id_a", "id_b")),
    // per-event-type daily volume z-scores from exact integer moments
    "w10_anomaly" -> ((s, dir) =>
      ops.Events.dailyAnomalies(ops.Events.load(s, dir))
        .orderBy("event_type", "day_s")),
    // lexical-diversity quality signal: TTR / hapax ratio / Guiraud R,
    // fully row-local
    "text_ttr" -> ((s, dir) =>
      ops.TextStats.lexicalDiversity(rawDocs(s, dir)).orderBy("doc_id")),
    // Flesch / FK readability: row-local regex counters, closed form
    "text_readability" -> ((s, dir) =>
      ops.TextStats.readability(rawDocs(s, dir)).orderBy("doc_id")),
    // Heaps'-law vocabulary growth: first-occurrence device converts the
    // running-distinct into bucket counts; window over ≤32 rows
    "vocab_growth" -> ((s, dir) =>
      ops.Vocab.vocabGrowth(rawDocs(s, dir)).orderBy("bucket")),
    // embedding-side threshold sweep: one blocked-exact pair pass at the
    // loosest tau, one aggregate per threshold after
    "embed_sweep" -> ((s, dir) =>
      ops.Similarity.cosineSweep(
        s.read.parquet(s"$dir/embeddings.parquet")).orderBy("tau")),
    // politeness-wave frontier schedule: two bounded windows
    "crawl_frontier" -> ((s, dir) =>
      ops.Urls.crawlFrontier(rawDocs(s, dir)).orderBy("wave", "slot")),
    // sliding (hopping) 1h/15m windows: 4-row map-side Expand, one shuffle
    "w11_sliding" -> ((s, dir) =>
      ops.Events.slidingCounts(ops.Events.load(s, dir))
        .orderBy("ws", "event_type")),
    // duplicate-cluster-size histogram over the MinHash components
    "dedup_cluster_hist" -> ((s, dir) =>
      ops.Components.clusterSizeHistogram(rawDocs(s, dir))
        .orderBy("comp_size")),
    // per-language tokenizer fertility (chars/token, tokens/word)
    "tok_fertility" -> ((s, dir) =>
      ops.TextStats.tokenizerFertility(rawDocs(s, dir)).orderBy("lang")),
    // code-corpus governance suite (the north rule's source-code payload):
    // per-file quality metrics + Codex-style keep verdict — row-local
    "code_metrics" -> ((s, dir) =>
      ops.Code.codeMetrics(rawDocs(s, dir)).orderBy("doc_id")),
    // credential detectors (AWS key ids / PEM blocks / api_key literals)
    "code_secret_scan" -> ((s, dir) =>
      ops.Code.secretScan(rawDocs(s, dir)).orderBy("doc_id")),
    // header-based license classification -> corpus license mix
    "code_license" -> ((s, dir) => ops.Code.licenseDetect(rawDocs(s, dir))),
    // vendored / generated-file exclusion by path convention + head marker
    "code_vendored" -> ((s, dir) =>
      ops.Code.vendoredFilter(rawDocs(s, dir)).orderBy("doc_id")),
    // cross-repo blob containment (fork detection): sha-keyed inverted-
    // index pair join, hot-blob anti-join guard
    "repo_overlap" -> ((s, dir) => ops.Code.repoOverlap(rawDocs(s, dir))),
    // KMV bottom-k distinct sketch beside the exact count (hash-derived
    // randomness -> bit-identical sketches in both engines)
    "sketch_kmv_distinct" -> ((s, dir) =>
      ops.Sketches.kmvDistinct(rawDocs(s, dir))),
    // priority sampling (Duffield-Lund-Thorup): weight-aware fixed-k
    // sample with unbiased subset-sum estimates
    "sketch_priority_sample" -> ((s, dir) =>
      ops.Sketches.prioritySample(rawDocs(s, dir))),
    // out-of-orderness / late-data profile (the watermark-sizing table):
    // per-type running high-watermark over a synthesized arrival order
    "w12_lateness" -> ((s, dir) =>
      ops.Events.latenessProfile(ops.Events.load(s, dir))),
    // KMV sketch MERGE: per-source bottom-k summaries -> pairwise
    // union/Jaccard estimates from the summaries alone (mergeable-
    // summaries form of source_overlap's exact table)
    "sketch_source_overlap" -> ((s, dir) =>
      ops.Sketches.kmvSourceOverlap(rawDocs(s, dir))),
    // repo-level admission scorecard: per-file flags in ONE row-local
    // pass -> one repo-keyed rollup -> admit verdict
    "code_repo_scorecard" -> ((s, dir) =>
      ops.Code.repoScorecard(rawDocs(s, dir))))

  private val sampleSplits =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val sampleFractions =
    Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.25)
  private val domainTargets =
    Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.05)

  /** Generic relational-analytics surface over the TPC-H-ish tables —
    * scan-agg, multi-way join top-k, and per-group window rank. Money sums
    * go through integer CENTS (`round(x*100) -> long -> sum`) so both
    * engines aggregate exactly (a float sum's value depends on addend
    * order, which a distributed engine does not fix); the double division
    * back to currency happens once, on the exact total, in the same
    * written order in both engines.
    */
  private def tpchQueries: Map[String, (SparkSession, String) => DataFrame] = {
    def cents(c: org.apache.spark.sql.Column) =
      sum(round(c * 100, 0).cast("long"))
    val cut = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    Map(
      // Q1-shape: pruned scan + pushed filter + partial/final agg
      "h1_pricing" -> ((s, dir) => {
        val l = s.read.parquet(s"$dir/lineitem.parquet")
        l.filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf(
            "1998-09-02 00:00:00")))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            (cents(col("l_quantity")).cast("double") / 100.0).as("sum_qty"),
            (cents(col("l_extendedprice")).cast("double") / 100.0).as("sum_base"),
            (cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("double") / 100.0).as("sum_disc_price"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag", "l_linestatus")
      }),
      // Q3-shape: selective dim filter -> 3-way join -> agg -> top-k
      "h3_revenue_topk" -> ((s, dir) => {
        val c = s.read.parquet(s"$dir/customer.parquet")
          .filter(col("c_mktsegment") === "BUILDING")
        val o = s.read.parquet(s"$dir/orders.parquet")
          .filter(col("o_orderdate") < lit(cut))
        val l = s.read.parquet(s"$dir/lineitem.parquet")
          .filter(col("l_shipdate") > lit(cut))
        // no forced broadcast on customer: 1/5 of a 100-TB corpus's
        // customers is not broadcast-sized — AQE picks broadcast at small
        // SF and shuffle-hash at scale on its own
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey")
          .agg((cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("double") / 100.0).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      }),
      // window-shape: per-region top-3 suppliers by lineitem revenue
      "h_window_topsupp" -> ((s, dir) => {
        val rev = s.read.parquet(s"$dir/lineitem.parquet")
          .groupBy("l_suppkey")
          .agg((cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("double") / 100.0).as("revenue"))
        val sup = s.read.parquet(s"$dir/supplier.parquet")
        val nat = s.read.parquet(s"$dir/nation.parquet")
        val reg = s.read.parquet(s"$dir/region.parquet")
        val joined = rev
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        joined.withColumn("rnk",
            row_number().over(Window.partitionBy("r_name")
              .orderBy(col("revenue").desc, col("s_suppkey").asc)))
          .filter(col("rnk") <= 3)
          .select("r_name", "rnk", "s_name", "revenue")
          .orderBy("r_name", "rnk")
      }),
      // grouping-sets shape: ROLLUP(priority, status) with explicit
      // grouping flags — the OLAP subtotal family (Spark plans it as one
      // Expand + single hash aggregate: each input row fans to its 3
      // grouping-set copies map-side, ONE shuffle total, no per-level
      // re-aggregation). Money through integer cents; rollup NULL slots
      // coalesced to 'ALL' so the gate never hashes a NULL-vs-'' skew.
      "h5_rollup" -> ((s, dir) => {
        val o = s.read.parquet(s"$dir/orders.parquet")
        o.rollup("o_orderpriority", "o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            cents(col("o_totalprice")).as("rev_cents"),
            // lvl computed from the explicit grouping() flags, not
            // grouping_id(), so the bit order is pinned in BOTH engines
            (grouping(col("o_orderpriority")) * 2 +
              grouping(col("o_orderstatus"))).cast("int").as("lvl"))
          .select(
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            col("lvl"), col("n_orders"), col("rev_cents"))
          .orderBy("lvl", "priority", "status")
      }),
      // window-FRAME shape: per-day order revenue with a trailing 7-row
      // moving average and a running cumulative sum. The window input is
      // the per-day aggregate — calendar-bounded (≤ ~10^4 rows at ANY
      // corpus scale), so the unpartitioned ordered frame is a constant-
      // size tail stage after the one corpus-scale day-keyed shuffle,
      // not a single-partition sort of the data. Exact integer cents
      // throughout; the moving average divides two frame-exact integers.
      "h6_moving_rev" -> ((s, dir) => {
        val o = s.read.parquet(s"$dir/orders.parquet")
        val daily = o.groupBy(
            // NTZ -> TIMESTAMP (session tz pinned UTC) before the epoch cast
            unix_timestamp(date_trunc("day",
              col("o_orderdate").cast("timestamp"))).as("day_s"))
          .agg(count(lit(1)).as("n_orders"),
            cents(col("o_totalprice")).as("rev_cents"))
        val w7 = Window.orderBy("day_s").rowsBetween(-6, 0)
        val cum = Window.orderBy("day_s")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily.select(col("day_s"), col("n_orders"), col("rev_cents"),
            round(sum("rev_cents").over(w7).cast("double") /
              count(lit(1)).over(w7).cast("double"), 2).as("ma7_cents"),
            sum("rev_cents").over(cum).as("cum_cents"))
          .orderBy("day_s")
      }),
      // customer revenue deciles WITHOUT a global-rank ntile: an
      // unpartitioned ntile window single-partitions the whole customer
      // table at scale. This is the boundary-assign form — exact
      // percentile CUTS (bounded executor state, the source_quantiles
      // device) broadcast back, decile = 1 + #cuts strictly below, then
      // a 10-row aggregate. Three bounded shuffles, no global sort.
      // Value-bucketed: revenue ties land in ONE decile (deterministic),
      // unlike ntile's arbitrary equal-count split of ties.
      "h7_rev_deciles" -> ((s, dir) => {
        val o = s.read.parquet(s"$dir/orders.parquet")
        // feeds both the cuts aggregate and the assignment pass — no
        // subtree sharing in Catalyst, so pin it once
        val custRev = o.groupBy("o_custkey")
          .agg(cents(col("o_totalprice")).as("rev"))
          .localCheckpoint()
        val cutCols = (1 to 9).map(i =>
          round(percentile(col("rev"), lit(i / 10.0)), 6).as(s"c$i"))
        val cuts = custRev.agg(cutCols.head, cutCols.tail: _*)
        val decile = (1 to 9).map(i =>
            when(col("rev").cast("double") > col(s"c$i"), 1).otherwise(0))
          .reduce(_ + _) + 1
        custRev.crossJoin(broadcast(cuts))
          .select(col("rev"), decile.as("decile"))
          .groupBy("decile").agg(count(lit(1)).as("n_customers"),
            min("rev").as("min_rev_cents"), max("rev").as("max_rev_cents"),
            sum("rev").as("rev_cents"))
          .orderBy("decile")
      }),
      // market-basket pairwise co-occurrence with lift: the frequent-
      // itemset family (k=2). The self-join keys on the ORDER, so fan-out
      // is bounded by basket size squared (TPC-H baskets are ~4-7 lines),
      // never corpus-quadratic; support counts shuffle on the (a,b) pair,
      // part marginals join back on the part key. Lift from exact integer
      // counts: n_baskets * support / (c_a * c_b), 6-dp.
      "h8_basket_lift" -> ((s, dir) => {
        val l = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          .localCheckpoint() // feeds pairs, marginals, and the basket count
        val nBaskets = l.select("ok").distinct().count()
        val cnt = l.groupBy("pk").agg(count(lit(1)).as("c"))
        val pairs = l.as("a").join(l.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
          .agg(count(lit(1)).as("support"))
        pairs
          .join(cnt.select(col("pk").as("part_a"), col("c").as("ca")), "part_a")
          .join(cnt.select(col("pk").as("part_b"), col("c").as("cb")), "part_b")
          .select(col("part_a"), col("part_b"), col("support"),
            round(lit(nBaskets).cast("double") * col("support") /
              (col("ca") * col("cb")), 6).as("lift"))
          .orderBy(col("support").desc, col("part_a"), col("part_b"))
          .limit(20)
      }))
  }

  /** DuckDB twins for the driver's correctness gate. */
  def oracleSql: Map[String, String] = {
    val base = Map(
      "s1_scan_docs" ->
        "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id LIMIT 20",
      "s2_ingest_sha" ->
        "SELECT doc_id, sha256(text) AS sha FROM documents ORDER BY doc_id",
      "s9_doc_lookup" ->
        "SELECT doc_id, lang, source, n_chars, text FROM documents WHERE doc_id = 42",
      "f7_snippet" ->
        "SELECT doc_id, substr(text, 1, 150) AS snippet FROM documents ORDER BY doc_id LIMIT 50",
      "f1_tokenize" ->
        s"""WITH ${OracleSql.tokBareCte}
SELECT term, count(*) AS cnt FROM tokb WHERE doc_id = 1 GROUP BY term ORDER BY term""",
      "a2_term_freqs" ->
        s"""WITH ${OracleSql.tokCte}, ${OracleSql.tfCte}
SELECT doc_id, term, tf FROM tf WHERE doc_id < 25 ORDER BY doc_id, term""",
      "a1_vocab" ->
        s"""WITH ${OracleSql.tokCte}, ${OracleSql.tfCte}, ${OracleSql.dfCte}
SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS term_id, df
FROM df ORDER BY term""",
      "a5_idf" ->
        s"""WITH ${OracleSql.tokCte}, ${OracleSql.tfCte}, ${OracleSql.dfCte}
SELECT term, df,
       round(ln((CAST((SELECT count(*) FROM documents) AS DOUBLE) - df + 0.5)
                / (df + 0.5) + 1.0), 6) AS idf
FROM df ORDER BY term""",
      "a8_doclen" ->
        s"""WITH ${OracleSql.tokCte}, ${OracleSql.tfCte}
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id ORDER BY doc_id""",
      "a9_length_dist" ->
        """SELECT lang, count(*) AS docs,
  round(quantile_cont(n_chars, 0.5), 6) AS p50,
  round(quantile_cont(n_chars, 0.9), 6) AS p90,
  round(quantile_cont(n_chars, 0.99), 6) AS p99,
  round(avg(n_chars), 6) AS mean,
  max(n_chars) AS mx
FROM documents GROUP BY lang ORDER BY lang""",
      "a9_stats" ->
        s"""WITH ${OracleSql.tokCte}, ${OracleSql.tfCte}, ${OracleSql.dfCte}
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS document_count,
       CAST((SELECT count(*) FROM df) AS BIGINT) AS vocabulary_size""",
      "j2_hydrate" -> OracleSql.hydrateTopK("table scan merge", 10))
    val bm25 = benchQueries.map { case (key, text) =>
      s"t1_bm25_$key" -> OracleSql.bm25TopK(text, 10)
    }.toMap ++ Map(
      "t1_bm25_diverse" ->
        OracleSql.bm25TopKDiverse("table scan merge", 10, perSource = 1))
    // the compressed-index WAND path must produce the same answer
    val wand = benchQueries.map { case (key, text) =>
      s"ep2_wand_$key" -> OracleSql.bm25TopK(text, 10)
    }.toMap
    val wandK = Seq(5, 25, 50).map { k =>
      s"ep2_wand_tsm_k$k" -> OracleSql.bm25TopK("table scan merge", k)
    }.toMap
    val wandAnd = Map(
      "j3_wand_and_tsm" -> OracleSql.bm25TopKConjunctive("table scan merge", 10),
      // stemmed chain over the query-materialized stemmed tf (see
      // stemmedTfGatePath) — BM25 math + WAND gated; stemmer spec-gated
      "bm25_stemmed_tsm" ->
        OracleSql.bm25TopKFromTfParquet("table scan merge", 10, stemmedTfGatePath),
      "ep2_wand_stemmed_tsm" ->
        OracleSql.bm25TopKFromTfParquet("table scan merge", 10, stemmedTfGatePath),
      // delete-lifecycle twins: tombstoned = full-corpus statistics with
      // the deleted candidates excluded; compacted = plain BM25 over the
      // surviving corpus (both share bm25TopK's math and total order)
      "ep2_wand_tsm_deleted" ->
        OracleSql.bm25TopKTombstoned("table scan merge", 10, lifecycleDeleteSql),
      "ep2_wand_tsm_compacted" ->
        OracleSql.bm25TopKCompacted("table scan merge", 10, lifecycleDeleteSql),
      "ep2_wand_tsm_lang_en" ->
        OracleSql.bm25TopKFiltered("table scan merge", 10, "lang = 'en'"),
      "ep2_wand_tsm_filter_sharded" ->
        OracleSql.bm25TopKFiltered("table scan merge", 10, "lang IN ('en', 'fr', 'de')"),
      "ep2_wand_prefix_s" ->
        OracleSql.bm25TopKPrefix("s", 10, maxExpansions = 4),
      "ep2_wand_phrase_ts" ->
        OracleSql.bm25TopKPhrase("table scan", 10),
      "ep2_wand_phrase_pos" ->
        OracleSql.bm25TopKPhrase("table scan", 10),
      "ep2_wand_prox_tm" ->
        OracleSql.bm25TopKProximity("table merge", 2, 10),
      "ep2_wand_fuzzy_dat" ->
        OracleSql.bm25TopKFuzzy("dat", 10, maxEdits = 2, maxExpansions = 3),
      "ep2_wand_wild_sa" ->
        OracleSql.bm25TopKWildcard("s*a*", 10, maxExpansions = 3),
      "f7_kwic_tsm" ->
        OracleSql.kwicTopK("table scan merge", 10),
      "f7_kwic_pos" ->
        OracleSql.kwicPositionalTopK("table scan merge", 10),
      "ep2_wand_facet_lang" ->
        OracleSql.facetCounts("dup stream", "lang"),
      "ep2_wand_mlt_42" ->
        OracleSql.bm25TopKMoreLikeThis(42L, 10, maxTerms = 8),
      "ep2_explain_tsm" ->
        OracleSql.explainScore("table scan merge", 7L),
      "ep2_wand_bool_tms" ->
        OracleSql.bm25TopKBoolean("table", "merge scan", "stream", 10),
      "ep2_wand_bool_nomust" ->
        OracleSql.bm25TopKBoolean("", "merge scan", "table", 10),
      // the merged index answers against the WHOLE-corpus oracle: merge
      // must be invisible to query semantics
      "ep2_wand_tsm_merged" ->
        OracleSql.bm25TopK("table scan merge", 10),
      "ep2_wand_tsm_page2" ->
        OracleSql.bm25TopKPage("table scan merge", 10, offset = 10),
      "ep2_wand_diverse_tsm" ->
        OracleSql.bm25TopKDiversePage("table scan merge", 10,
          perSource = 1, candidates = 50),
      "ep2_wand_many" ->
        OracleSql.bm25TopKMany(benchQueries.map(_._2).zipWithIndex
          .map { case (q, i) => (i.toLong, q) }, 10),
      "ep2_wand_many_tbl" ->
        OracleSql.bm25TopKMany(Seq((3L, "table scan merge"),
          (7L, "dup stream"), (12L, "slow group query"),
          (15L, "the and of")), 10),
      "ep2_suggest_dat" ->
        OracleSql.suggestTerms("dat", maxEdits = 2, maxSuggestions = 5),
      "ep2_hybrid_rrf" ->
        OracleSql.hybridRrf("table scan merge", 0L, 10, candidates = 50),
      "ep2_wand_syn_tm" ->
        OracleSql.bm25TopKSynonyms("table merge",
          Seq(("table", "row"), ("table", "column"), ("merge", "join")), 10),
      "ep2_sigterms_dup" ->
        OracleSql.significantTerms("dup stream", 8),
      // the built index's content gated against corpus-derived counts: the
      // manifest term counters must equal distinct (term, shard) slices
      // (docShard hash twin), the globals vocabulary must equal the corpus
      // vocabulary, and the posting total must equal |(doc, term)| pairs
      "s8_index_stats" ->
        s"""WITH ${OracleSql.tokCte}, ${OracleSql.tfCte}, ${OracleSql.dfCte},
${OracleSql.docShardCtes(8)}
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS document_count,
       CAST((SELECT count(*) FROM df) AS BIGINT) AS vocabulary_size,
       CAST((SELECT coalesce(sum(tf), 0) FROM tf) AS BIGINT) AS total_tokens,
       CAST((SELECT count(*) FROM (SELECT DISTINCT t.term, s.shard
             FROM tf t JOIN shard s USING (doc_id))) AS BIGINT)
         AS indexed_term_slices,
       CAST((SELECT count(*) FROM tf) AS BIGINT) AS postings""")
    base ++ bm25 ++ wand ++ wandK ++ wandAnd ++ opsOracleSql ++ tpchOracleSql
  }

  /** DuckDB twins of the relational-analytics queries (exact cent sums). */
  private def tpchOracleSql: Map[String, String] = {
    val rev =
      "CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0"
    Map(
      "h1_pricing" ->
        """SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base,
  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
  count(*) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2""",
      "h3_revenue_topk" ->
        s"""SELECT l_orderkey, $rev AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""",
      "h_window_topsupp" ->
        s"""WITH rev AS (SELECT l_suppkey, $rev AS revenue
  FROM lineitem GROUP BY l_suppkey),
j AS (SELECT r_name, s_name, s_suppkey, revenue
  FROM rev JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey),
rk AS (SELECT r_name, s_name, revenue,
  row_number() OVER (PARTITION BY r_name ORDER BY revenue DESC, s_suppkey ASC) AS rnk
  FROM j)
SELECT r_name, rnk, s_name, revenue FROM rk WHERE rnk <= 3
ORDER BY r_name, rnk""",
      // grouping flags written out per column (GROUPING(a)*2+GROUPING(b))
      // so the lvl bit order matches the Spark side pin exactly
      "h5_rollup" ->
        """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
  coalesce(o_orderstatus, 'ALL') AS status,
  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INTEGER)
    AS lvl,
  count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS rev_cents
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY lvl, priority, status""",
      "h6_moving_rev" ->
        """WITH daily AS (SELECT
  CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) AS day_s,
  count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS rev_cents
  FROM orders GROUP BY 1)
SELECT day_s, n_orders, rev_cents,
  round(CAST(sum(rev_cents) OVER w7 AS DOUBLE) /
    CAST(count(*) OVER w7 AS DOUBLE), 2) AS ma7_cents,
  CAST(sum(rev_cents) OVER cum AS BIGINT) AS cum_cents
FROM daily
WINDOW w7 AS (ORDER BY day_s ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
  cum AS (ORDER BY day_s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY day_s""",
      "h7_rev_deciles" -> {
        val cuts = (1 to 9)
          .map(i => s"round(quantile_cont(rev, 0.${i}), 6) AS c$i")
          .mkString(", ")
        val dec = (1 to 9)
          .map(i => s"(CASE WHEN CAST(rev AS DOUBLE) > c$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH cr AS (SELECT o_custkey,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY o_custkey),
cuts AS (SELECT $cuts FROM cr),
d AS (SELECT rev, CAST(1 + $dec AS INTEGER) AS decile FROM cr, cuts)
SELECT decile, count(*) AS n_customers, min(rev) AS min_rev_cents,
  max(rev) AS max_rev_cents, CAST(sum(rev) AS BIGINT) AS rev_cents
FROM d GROUP BY decile ORDER BY decile"""
      },
      "h8_basket_lift" ->
        """WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem),
nb AS (SELECT count(DISTINCT ok) AS n FROM l),
cnt AS (SELECT pk, count(*) AS c FROM l GROUP BY pk),
pr AS (SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS support
  FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2)
SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
  round(CAST(nb.n AS DOUBLE) * support / (ca.c * cb.c), 6) AS lift
FROM pr JOIN cnt ca ON ca.pk = part_a JOIN cnt cb ON cb.pk = part_b, nb
ORDER BY support DESC, part_a, part_b LIMIT 20""")
  }

  private def opsOracleSql: Map[String, String] = {
    val stop = OracleSql.stopList
    val alnum = "list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> length(x) > 2)"
    val kept = s"list_filter(list_transform($alnum, x -> lower(x)), x -> x NOT IN ($stop))"
    // mirror of Dedup.ngramJaccard's derived hot-shingle cap
    // (max(1000, nDocs/100), integer division in both engines): shingles
    // above the cap leave BOTH the pair join and the per-doc set sizes —
    // without this the gate would diverge on any corpus with a >cap shingle
    val ngCapCtes = ops.DedupOracleSql.ngramCapCtes
    Map(
      "dedup_spans" -> ops.Spans.dupSpansSql(w = 6),
      "percolate_std" -> OracleSql.percolate(Seq((1L, "table scan"),
        (2L, "dup stream"), (3L, "slow query group"), (4L, "the and of"))),
      "dedup_exact" ->
        """WITH h AS (SELECT doc_id, sha256(text) AS hsh FROM documents),
g AS (SELECT hsh, min(doc_id) AS canon_id, count(*) AS dup_count FROM h GROUP BY hsh)
SELECT h.doc_id, g.canon_id, g.dup_count,
       CASE WHEN h.doc_id != g.canon_id THEN 1 ELSE 0 END AS is_dup
FROM h JOIN g USING (hsh) ORDER BY doc_id""",
      "dedup_ngram_jaccard" ->
        s"""WITH toks AS (SELECT doc_id,
  list_transform($alnum, x -> lower(x)) AS arr FROM documents),
ng AS (SELECT DISTINCT doc_id,
  arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS ngram
  FROM (SELECT doc_id, arr, generate_subscripts(arr, 1) AS i FROM toks)
  WHERE i <= len(arr) - 2),
$ngCapCtes,
sz AS (SELECT doc_id, count(*) AS sz FROM ngk GROUP BY doc_id),
pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
       FROM ngk a JOIN ngk b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.5
ORDER BY id_a, id_b""",
      // ppjoin twin: brute-force ALL-pairs exact Jaccard with NO cap over
      // the same FNV-hashed shingle sets — see DedupOracleSql.ppjoinSql
      "dedup_ppjoin" -> ops.DedupOracleSql.ppjoinSql(),
      // containment twin: same shingle + cap CTEs, min-set-size denominator
      "dedup_containment" ->
        s"""WITH toks AS (SELECT doc_id,
  list_transform($alnum, x -> lower(x)) AS arr FROM documents),
ng AS (SELECT DISTINCT doc_id,
  arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS ngram
  FROM (SELECT doc_id, arr, generate_subscripts(arr, 1) AS i FROM toks)
  WHERE i <= len(arr) - 2),
$ngCapCtes,
sz AS (SELECT doc_id, count(*) AS sz FROM ngk GROUP BY doc_id),
pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
       FROM ngk a JOIN ngk b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(common AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE round(CAST(common AS DOUBLE) / least(sa.sz, sb.sz), 6) >= 0.8
ORDER BY id_a, id_b""",
      "dedup_embed_cosine" ->
        """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nv FROM ex GROUP BY vec_id),
dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x*b.x) AS dot
         FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
SELECT id_a, id_b, round(dot / (na.nv * nb.nv), 6) AS cos
FROM dots JOIN nrm na ON na.vec_id = id_a JOIN nrm nb ON nb.vec_id = id_b
WHERE round(dot / (na.nv * nb.nv), 6) >= 0.45
ORDER BY id_a, id_b""",
      "ann_brute_cosine" ->
        """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qx AS (SELECT generate_subscripts(qv, 1) AS i, CAST(unnest(qv) AS DOUBLE) AS x FROM q),
ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
d AS (SELECT e.vec_id, sum(e.x * q.x) AS dot, sum(e.x * e.x) AS na
      FROM ex e JOIN qx q USING (i) GROUP BY 1),
qn AS (SELECT sum(x*x) AS nb FROM qx)
SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
FROM d, qn ORDER BY cos DESC, vec_id LIMIT 10""",
      // IVF twin: same centroid sample (id % (n//nlist) = 0), same rounded
      // argmax assignment (9 dp — both engines break float-sum-order ties
      // identically), same nprobe probe, same 6-dp rescoring
      "ann_ivf" ->
        """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nv FROM ex GROUP BY vec_id),
cent AS (SELECT vec_id AS cid FROM embeddings
  WHERE vec_id % greatest(1, (SELECT count(*) FROM embeddings) // 16) = 0),
cex AS (SELECT c.cid, e.i, e.x FROM ex e JOIN cent c ON e.vec_id = c.cid),
sim AS (SELECT e.vec_id, cx.cid,
        round(sum(e.x * cx.x) / (ne.nv * nc.nv), 9) AS cs
        FROM ex e JOIN cex cx USING (i)
             JOIN nrm ne ON ne.vec_id = e.vec_id
             JOIN nrm nc ON nc.vec_id = cx.cid
        GROUP BY e.vec_id, cx.cid, ne.nv, nc.nv),
asn AS (SELECT vec_id, cid FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
  FROM sim) WHERE rn = 1),
qx AS (SELECT i, x FROM ex WHERE vec_id = 0),
qn AS (SELECT nv AS qn FROM nrm WHERE vec_id = 0),
qsim AS (SELECT cx.cid,
         round(sum(cx.x * q.x) / (nc.nv * (SELECT qn FROM qn)), 9) AS qs
         FROM cex cx JOIN qx q USING (i) JOIN nrm nc ON nc.vec_id = cx.cid
         GROUP BY cx.cid, nc.nv),
probe AS (SELECT cid FROM qsim ORDER BY qs DESC, cid ASC LIMIT 4),
cand AS (SELECT vec_id FROM asn JOIN probe USING (cid)),
d AS (SELECT e.vec_id, sum(e.x * q.x) AS dot
      FROM ex e JOIN qx q USING (i)
      WHERE e.vec_id IN (SELECT vec_id FROM cand) GROUP BY e.vec_id)
SELECT d.vec_id, round(dot / (nrm.nv * (SELECT qn FROM qn)), 6) AS cos
FROM d JOIN nrm ON nrm.vec_id = d.vec_id
ORDER BY cos DESC, d.vec_id LIMIT 10""",
      // IVF-SQ8 twin: ann_ivf's routing plus the quantizer recomputed in
      // SQL — exact per-dim min/max bounds, the identical IEEE double
      // code expression (floor(least(greatest((x-mn)/(mx-mn),0),1)*255)
      // - 128), an integer-exact quantized dot for the candidate cut
      // (qd desc, vec_id asc), then the exact 6-dp rescore on candidates
      "ann_ivf_q" ->
        """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nv FROM ex GROUP BY vec_id),
cent AS (SELECT vec_id AS cid FROM embeddings
  WHERE vec_id % greatest(1, (SELECT count(*) FROM embeddings) // 16) = 0),
cex AS (SELECT c.cid, e.i, e.x FROM ex e JOIN cent c ON e.vec_id = c.cid),
sim AS (SELECT e.vec_id, cx.cid,
        round(sum(e.x * cx.x) / (ne.nv * nc.nv), 9) AS cs
        FROM ex e JOIN cex cx USING (i)
             JOIN nrm ne ON ne.vec_id = e.vec_id
             JOIN nrm nc ON nc.vec_id = cx.cid
        GROUP BY e.vec_id, cx.cid, ne.nv, nc.nv),
asn AS (SELECT vec_id, cid FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
  FROM sim) WHERE rn = 1),
qx AS (SELECT i, x FROM ex WHERE vec_id = 0),
qn AS (SELECT nv AS qn FROM nrm WHERE vec_id = 0),
qsim AS (SELECT cx.cid,
         round(sum(cx.x * q.x) / (nc.nv * (SELECT qn FROM qn)), 9) AS qs
         FROM cex cx JOIN qx q USING (i) JOIN nrm nc ON nc.vec_id = cx.cid
         GROUP BY cx.cid, nc.nv),
probe AS (SELECT cid FROM qsim ORDER BY qs DESC, cid ASC LIMIT 4),
bounds AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
qc AS (SELECT vec_id, i, CASE WHEN mx = mn THEN -128.0
        ELSE floor(least(greatest((x - mn) / (mx - mn), 0.0), 1.0) * 255.0)
             - 128.0 END AS c
       FROM ex JOIN bounds USING (i)),
qq AS (SELECT i, c FROM qc WHERE vec_id = 0),
qd AS (SELECT qc.vec_id, sum(qc.c * qq.c) AS qd
       FROM qc JOIN qq USING (i)
            JOIN asn ON asn.vec_id = qc.vec_id JOIN probe USING (cid)
       GROUP BY qc.vec_id),
cand AS (SELECT vec_id FROM qd ORDER BY qd DESC, vec_id ASC LIMIT 40),
d AS (SELECT e.vec_id, sum(e.x * q.x) AS dot
      FROM ex e JOIN qx q USING (i)
      WHERE e.vec_id IN (SELECT vec_id FROM cand) GROUP BY e.vec_id)
SELECT d.vec_id, round(dot / (nrm.nv * (SELECT qn FROM qn)), 6) AS cos
FROM d JOIN nrm ON nrm.vec_id = d.vec_id
ORDER BY cos DESC, d.vec_id LIMIT 10""",
      // SemDeDup twin: ann_ivf's centroid sample + rounded argmax
      // assignment, then within-cluster pairs only (a.cid = b.cid,
      // a.vec_id < b.vec_id), exact 6-dp pair cosine, keep-min-id rule
      "dedup_semantic" ->
        """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nv FROM ex GROUP BY vec_id),
cent AS (SELECT vec_id AS cid FROM embeddings
  WHERE vec_id % greatest(1, (SELECT count(*) FROM embeddings) // 16) = 0),
cex AS (SELECT c.cid, e.i, e.x FROM ex e JOIN cent c ON e.vec_id = c.cid),
sim AS (SELECT e.vec_id, cx.cid,
        round(sum(e.x * cx.x) / (ne.nv * nc.nv), 9) AS cs
        FROM ex e JOIN cex cx USING (i)
             JOIN nrm ne ON ne.vec_id = e.vec_id
             JOIN nrm nc ON nc.vec_id = cx.cid
        GROUP BY e.vec_id, cx.cid, ne.nv, nc.nv),
asn AS (SELECT vec_id, cid FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
  FROM sim) WHERE rn = 1),
pair AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id),
dp AS (SELECT p.id_a, p.id_b, sum(ea.x * eb.x) AS dot
  FROM pair p JOIN ex ea ON ea.vec_id = p.id_a
              JOIN ex eb ON eb.vec_id = p.id_b AND eb.i = ea.i
  GROUP BY p.id_a, p.id_b),
cosd AS (SELECT dp.id_b AS vid,
  max(round(dp.dot / (na.nv * nb.nv), 6)) AS max_cos
  FROM dp JOIN nrm na ON na.vec_id = dp.id_a
          JOIN nrm nb ON nb.vec_id = dp.id_b
  WHERE round(dp.dot / (na.nv * nb.nv), 6) >= 0.45
  GROUP BY dp.id_b)
SELECT a.vec_id, a.cid, c.max_cos,
  CASE WHEN c.max_cos IS NULL THEN 1 ELSE 0 END AS keep
FROM asn a LEFT JOIN cosd c ON c.vid = a.vec_id ORDER BY a.vec_id""",
      // sign-LSH twin: hyperplanes read from the materialized parquet
      // (lshPlanesGatePath); both engines fold every projection
      // SEQUENTIALLY in index order (graft_dot / the bucket UDF loop here,
      // list_inner_product there), so the sums are bit-identical and the
      // `> 0` sign decisions — hence buckets, candidate set, and 6-dp
      // rescoring — agree exactly, not just to a rounding tolerance
      "ann_lsh" ->
        s"""WITH planes AS (SELECT tbl, p, w
  FROM read_parquet('$lshPlanesGatePath/*.parquet')),
emb AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
qsig AS (SELECT tbl,
  sum(CASE WHEN list_inner_product(w, (SELECT qv FROM q)) > 0
      THEN 1::BIGINT << p ELSE 0 END) AS b
  FROM planes GROUP BY tbl),
vsig AS (SELECT e.vec_id, pl.tbl,
  sum(CASE WHEN list_inner_product(pl.w, e.v) > 0
      THEN 1::BIGINT << pl.p ELSE 0 END) AS b
  FROM emb e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl),
cand AS (SELECT DISTINCT vec_id FROM vsig JOIN qsig USING (tbl, b)),
d AS (SELECT e.vec_id,
  list_inner_product(e.v, (SELECT qv FROM q)) AS dot,
  sqrt(list_inner_product(e.v, e.v)) AS nv
  FROM emb e JOIN cand USING (vec_id))
SELECT vec_id, round(dot / (nv *
  (SELECT sqrt(list_inner_product(qv, qv)) FROM q)), 6) AS cos
FROM d ORDER BY cos DESC, vec_id LIMIT 10""",
      "token_counts" ->
        s"""SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(list_filter(regexp_split_to_array(trim(text), '${ops.TextStats.wsRun}'), x -> length(x) > 0)) AS INTEGER) AS ws_tokens,
  CAST(len($alnum) AS INTEGER) AS alnum_tokens,
  CAST(len($kept) AS INTEGER) AS kept_tokens,
  CAST(len(regexp_extract_all(text,
    '${ops.TextStats.bpeishRe.replace("'", "''")}'))
    AS INTEGER) AS bpe_tokens
FROM documents ORDER BY doc_id""",
      "text_quality" ->
        s"""WITH tc AS (SELECT doc_id,
  CAST(length(text) AS DOUBLE) AS n,
  CAST(length(regexp_replace(text, '[a-zA-Z0-9${ops.TextStats.wsChars}]', '', 'g')) AS DOUBLE) AS punct,
  len($alnum) AS alnum_tokens, len($kept) AS kept_tokens FROM documents),
q2 AS (SELECT doc_id,
  round(least(n / 500.0, 1.0), 6) AS len_score,
  round(1.0 - least(punct / greatest(n, 1.0) * 4.0, 1.0), 6) AS punct_score,
  round(CAST(kept_tokens AS DOUBLE) / CAST(greatest(alnum_tokens, 1) AS DOUBLE), 6) AS content_ratio
  FROM tc)
SELECT doc_id, len_score, punct_score, content_ratio,
       round((len_score + punct_score + content_ratio) / 3.0, 6) AS quality
FROM q2 ORDER BY doc_id""",
      "multimodal_sha" ->
        """SELECT doc_id AS media_id,
  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, sha256(text) AS sha
FROM documents ORDER BY media_id""",
      "multimodal_features" -> multimodalFeaturesSql,
      // hash-based dedup twins: FNV-1a + universal-hash lanes re-expressed
      // in HUGEINT modular arithmetic (see DedupOracleSql) — converts both
      // from rows-only checks to value-exact gates
      "dedup_simhash" -> ops.DedupOracleSql.simhashSql(maxHamming = 3),
      "dedup_minhash_lsh" -> ops.DedupOracleSql.minhashLshSql(tau = 0.5),
      "dedup_minhash_clusters" -> ops.DedupOracleSql.minhashClustersSql(),
      "dedup_canonical" -> ops.DedupOracleSql.canonicalSql(),
      "quality_buckets" -> ops.Lm.qualityBucketsSql,
      "w6_funnel" -> ops.Events.funnelSql(),
      "lang_id" -> ops.TextStats.langIdSql,
      "text_unigram_lp" -> ops.TextStats.unigramLogProbSql,
      "url_dedup" -> ops.Urls.urlDedupSql,
      "url_robots_filter" -> ops.Urls.robotsFilterSql,
      "text_char_entropy" -> ops.TextStats.charEntropySql,
      "text_ttr" -> ops.TextStats.lexicalDiversitySql,
      "text_readability" -> ops.TextStats.readabilitySql,
      "vocab_growth" -> ops.Vocab.vocabGrowthSql(),
      "embed_sweep" -> ops.Similarity.cosineSweepSql(),
      "crawl_frontier" -> ops.Urls.crawlFrontierSql,
      "w10_anomaly" -> ops.Events.dailyAnomaliesSql(),
      "w11_sliding" -> ops.Events.slidingSql,
      "dedup_cluster_hist" -> ops.DedupOracleSql.clusterHistogramSql(),
      "tok_fertility" -> ops.TextStats.tokenizerFertilitySql,
      "code_metrics" -> ops.Code.codeMetricsSql(),
      "code_secret_scan" -> ops.Code.secretScanSql,
      "code_license" -> ops.Code.licenseDetectSql,
      "code_vendored" -> ops.Code.vendoredFilterSql,
      "repo_overlap" -> ops.Code.repoOverlapSql,
      "sketch_kmv_distinct" -> ops.Sketches.kmvDistinctSql(),
      "sketch_priority_sample" -> ops.Sketches.prioritySampleSql(),
      "w12_lateness" -> ops.Events.latenessProfileSql,
      "sketch_source_overlap" -> ops.Sketches.kmvSourceOverlapSql(),
      "code_repo_scorecard" -> ops.Code.repoScorecardSql(),
      "heavy_hitters" -> ops.Vocab.heavyHittersSql(),
      "bm25f_tsm" -> OracleSql.bm25FieldedSql("table scan merge", 10),
      "embed_label_cohesion" -> ops.Similarity.labelCohesionSql,
      "w8_interval_join" -> ops.Events.intervalJoinSql(),
      "w9_transitions" -> ops.Events.eventTransitionsSql,
      "snapshot_novelty" -> ops.Snapshots.contentNoveltySql(),
      "host_lang_entropy" -> ops.Reports.hostLangEntropySql(),
      "h4_late_orders" ->
        """SELECT o_orderpriority, count(*) AS n_late
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND floor(epoch(l.l_shipdate)) > floor(epoch(o.o_orderdate)) + 90 * 86400)
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      "bpe_pairs" -> ops.Vocab.bpePairsSql(),
      "source_overlap" -> ops.Overlap.sourceOverlapSql(),
      "index_skew" -> ops.Reports.indexSkewSql(),
      "host_pagerank" -> ops.Graphs.hostPageRankSql(),
      "dedup_incremental" -> ops.Dedup.incrementalDedupSql,
      "corpus_drift" -> ops.Drift.logOddsDriftSql(),
      "html_normalize" -> ops.Html.normalizeSql,
      "crawl_diff" -> ops.Snapshots.crawlDiffSql,
      "anchor_text" -> ops.Anchors.anchorProfileSql(),
      "doc_keywords" -> ops.Keywords.docKeywordsSql(),
      "redirect_resolve" -> ops.Redirects.resolveSql(),
      "doc_chunks" -> ops.Chunks.chunkSql(),
      "colloc_pmi" -> ops.Collocations.pmiBigramsSql(),
      "crawl_report" -> ops.Reports.crawlReportSql,
      "text_bigram_lp" -> ops.Lm.bigramLogProbSql,
      "text_repetition" -> ops.TextStats.repetitionSql,
      "pii_scrub" -> ops.TextStats.scrubPiiSql,
      "pack_sequences" -> ops.Packing.packSequencesSql(budget = 512, shards = 8),
      "line_boilerplate" ->
        """WITH l AS (SELECT doc_id,
  len(string_split(text, chr(10))) AS n_total,
  generate_subscripts(string_split(text, chr(10)), 1) AS pos,
  unnest(string_split(text, chr(10))) AS line FROM documents),
k AS (SELECT doc_id, n_total, pos, line, trim(line) AS key FROM l),
hot AS (SELECT key FROM (SELECT DISTINCT doc_id, key FROM k
    WHERE length(key) >= 6)
  GROUP BY key
  HAVING count(*) > greatest(5, (SELECT count(*) FROM documents) // 100)),
kept AS (SELECT * FROM k WHERE key NOT IN (SELECT key FROM hot)),
a AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
  count(*) AS n_lines, any_value(n_total) - count(*) AS n_dropped
  FROM kept GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
  CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
  CAST(coalesce(a.n_dropped, len(string_split(d.text, chr(10)))) AS BIGINT)
    AS n_dropped
FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""",
      "doc_fingerprint" -> ops.TextStats.fingerprintSql(),
      "sample_split" ->
        s"""SELECT doc_id, ${ops.Sampling.splitLabelSql("doc_id", sampleSplits, 42L)} AS split
FROM documents ORDER BY doc_id""",
      "sample_stratified" ->
        s"""SELECT doc_id, lang FROM documents
WHERE ${ops.Sampling.sampleByHashSql("doc_id", "lang", sampleFractions, 7L)}
ORDER BY doc_id""",
      "sample_fixed_n" ->
        s"""${ops.Sampling.fixedNSql("documents", "doc_id", "source", 12, 13L)}
ORDER BY source, rk""",
      "dsir_weights" -> ops.Dsir.importanceWeightsSql("src0"),
      "ngram_novelty" -> ops.DedupOracleSql.ngramNoveltySql(),
      "source_quantiles" -> ops.Reports.sourceQuantilesSql,
      "source_top_terms" -> ops.Reports.sourceTopTermsSql(),
      "w7_active_users" -> ops.Events.activeUsersSql(),
      // threshold sweep twin: the jaccard pair CTEs at the lowest
      // threshold, then per-threshold pair/doc counts off that one set
      "dedup_sweep" ->
        s"""WITH toks AS (SELECT doc_id,
  list_transform($alnum, x -> lower(x)) AS arr FROM documents),
ng AS (SELECT DISTINCT doc_id,
  arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS ngram
  FROM (SELECT doc_id, arr, generate_subscripts(arr, 1) AS i FROM toks)
  WHERE i <= len(arr) - 2),
$ngCapCtes,
sz AS (SELECT doc_id, count(*) AS sz FROM ngk GROUP BY doc_id),
pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
       FROM ngk a JOIN ngk b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
pj AS (SELECT id_a, id_b,
         round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
       FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.5),
t AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
np AS (SELECT threshold, count(*) AS n_pairs
       FROM pj JOIN t ON pj.jaccard >= t.threshold GROUP BY threshold),
nd AS (SELECT threshold, count(DISTINCT doc) AS n_docs FROM
       (SELECT id_a AS doc, jaccard FROM pj
        UNION ALL SELECT id_b, jaccard FROM pj) d
       JOIN t ON d.jaccard >= t.threshold GROUP BY threshold)
SELECT t.threshold, coalesce(np.n_pairs, 0) AS n_pairs,
       coalesce(nd.n_docs, 0) AS n_docs
FROM t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
ORDER BY t.threshold""",
      // eval = doc_id % 10 = 0 (nonneg ids here; Spark side uses pmod),
      // same lowercase-alnum-words >2 chars tokenization as the other
      // shingle twins, per-doc DISTINCT 4-grams
      "decontam_audit" ->
        s"""WITH toks AS (SELECT doc_id,
  list_transform($alnum, x -> lower(x)) AS arr FROM documents),
ng AS (SELECT DISTINCT doc_id,
  arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] AS ngram
  FROM (SELECT doc_id, arr, generate_subscripts(arr, 1) AS i FROM toks)
  WHERE i <= len(arr) - 3),
ev AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 10 = 0),
hits AS (SELECT doc_id, count(*) AS hit_ngrams FROM ng
  WHERE doc_id % 10 <> 0 AND ngram IN (SELECT ngram FROM ev) GROUP BY doc_id),
sz AS (SELECT doc_id, count(*) AS n_ngrams FROM ng GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(sz.n_ngrams, 0) AS BIGINT) AS n_ngrams,
  CAST(coalesce(h.hit_ngrams, 0) AS BIGINT) AS hit_ngrams,
  CASE WHEN h.hit_ngrams IS NOT NULL THEN 1 ELSE 0 END AS is_contaminated
FROM documents d LEFT JOIN sz USING (doc_id) LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""",
      "sample_domain_mix" ->
        s"""SELECT doc_id, lang, round(keep_frac, 9) AS keep_frac FROM (
${ops.Sampling.targetMixSql("documents", "doc_id", "lang", domainTargets, 400L, 11L)}
) ORDER BY doc_id""",
      "w1_event_tumbling" -> ops.Events.tumblingSql,
      "w5_retention" -> ops.Events.retentionSql,
      "filter_pipeline" -> ops.TextStats.filterPipelineSql(),
      "w2_event_sessions" -> ops.Events.sessionsSql(),
      "w3_event_props" -> ops.Events.propsRollupSql,
      "w4_event_asof" -> ops.Events.asOfAttributionSql(),
      // transitive closure of the Jaccard pair graph (same pair CTEs as
      // dedup_ngram_jaccard), component = min reachable id
      "dedup_components" ->
        s"""WITH RECURSIVE toks AS (SELECT doc_id,
  list_transform($alnum, x -> lower(x)) AS arr FROM documents),
ng AS (SELECT DISTINCT doc_id,
  arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS ngram
  FROM (SELECT doc_id, arr, generate_subscripts(arr, 1) AS i FROM toks)
  WHERE i <= len(arr) - 2),
$ngCapCtes,
sz AS (SELECT doc_id, count(*) AS sz FROM ngk GROUP BY doc_id),
pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
       FROM ngk a JOIN ngk b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b FROM pr
  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.5),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(n, m) AS (SELECT a, b FROM sym
  UNION SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a WHERE s.b <> r.n),
comp AS (SELECT n, least(min(m), n) AS comp_id FROM reach GROUP BY n),
lab AS (SELECT d.doc_id, coalesce(c.comp_id, d.doc_id) AS comp_id
        FROM documents d LEFT JOIN comp c ON c.n = d.doc_id),
szc AS (SELECT comp_id, count(*) AS comp_size FROM lab GROUP BY comp_id)
SELECT lab.doc_id, lab.comp_id, szc.comp_size,
       CASE WHEN lab.doc_id <> lab.comp_id THEN 1 ELSE 0 END AS is_dup
FROM lab JOIN szc USING (comp_id) ORDER BY doc_id""")
  }

  /** DuckDB twin of the multimodal feature stub: h = first 15 hex chars of
    * sha256 as a 60-bit integer (fold base 16); width/height/f1..f8 are
    * modular slices of h — integer div/mod only, exact in both engines.
    */
  private def multimodalFeaturesSql: String = {
    val featCols = (1 to 8).map { j =>
      val div = 1L << (7 * (j - 1))
      s"  round(CAST((h // $div) % 1000 AS DOUBLE) / 1000.0, 6) AS f$j"
    }.mkString(",\n")
    s"""WITH m AS (
  SELECT doc_id AS media_id,
    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         ELSE 'video' END AS kind,
    CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
    sha256(text) AS sha
  FROM documents),
h AS (
  SELECT media_id, kind, n_bytes, sha,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split(substr(sha, 1, 15), ''),
        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
      (a, b) -> a * 16 + b) AS h
  FROM m)
SELECT media_id, kind, n_bytes, sha,
  CAST(64 + h % 1024 AS INTEGER) AS width,
  CAST(64 + (h // 131072) % 1024 AS INTEGER) AS height,
$featCols
FROM h ORDER BY media_id"""
  }
}
