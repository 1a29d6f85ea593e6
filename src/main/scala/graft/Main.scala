package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexConfig, IndexFormat, PostingIndex}

/** The spark-submit entry point (north rule: "runs via spark-submit on
  * multi-executor clusters"). Unlike the sandbox tools in [[graft.tools]],
  * this main NEVER sets a master — cluster manager, executor count and
  * memory come from spark-submit, so the same jar runs at N and 4N
  * executors unchanged:
  *
  * {{{
  * spark-submit --class graft.Main app.jar \
  *   build  <corpusParquet> <indexDir> [shards=32] [termBuckets=8] [stem=true]
  * spark-submit --class graft.Main app.jar \
  *   search <indexDir> <query...> [--k 10] [--conjunctive]
  * spark-submit --class graft.Main app.jar \
  *   append  <corpusParquet> <indexDir> <batchId>
  * spark-submit --class graft.Main app.jar \
  *   delete  <idsParquet> <indexDir> <deleteId>
  * spark-submit --class graft.Main app.jar \
  *   compact <indexDir>
  * spark-submit --class graft.Main app.jar \
  *   clone   <srcIndexDir> <dstIndexDir>
  * spark-submit --class graft.Main app.jar \
  *   merge   <srcIndexDirA> <srcIndexDirB> <dstIndexDir> [--no-disjoint-check]
  * spark-submit --class graft.Main app.jar \
  *   positions <corpusParquet> <indexDir>
  * spark-submit --class graft.Main app.jar \
  *   suggest <indexDir> <term> [--edits 1] [--n 10]
  * spark-submit --class graft.Main app.jar \
  *   batch-search <indexDir> <queriesParquet> <outDir> [--k 10] [--batches 64]
  * spark-submit --class graft.Main app.jar \
  *   percolate <corpus> <queriesParquet> <outDir>
  * spark-submit --class graft.Main app.jar \
  *   serve  <sfDir> <port>
  * }}}
  *
  * The mutation verbs (`append`/`compact`) derive the layout and BM25
  * config from the index's own globals.json — there is no way to pass a
  * mismatched config. `clone` + mutate + pointer swap is the serving
  * deployment shape ([[IndexBuilder.cloneIndex]]); note clone hardlinks,
  * so it requires src and dst on one locally-mounted filesystem (it falls
  * back to a copy otherwise).
  *
  * The corpus is any parquet with the input-hint shape
  * (repo, path, commit, lang, content) — [[Corpus.fromCodeDocs]] derives
  * stable 64-bit docIds. The INDEX directory must be a POSIX-mountable
  * shared path (NFS/Lustre/FUSE-mounted object store): the bulk data
  * (tf/postings/tombstones parquet) goes through the Hadoop FS layer, but
  * the small metadata files (globals.json, manifest records, batches) use
  * local-file APIs for atomic-rename commits — an hdfs:// or s3:// URI is
  * not a valid index dir. Corpus parquet can live anywhere Spark reads.
  */
object Main {

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-search-engine")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "build" :: corpus :: idxDir :: rest0 =>
      // --warm: untimed 1/24-slice build first (JIT-compiles the hot paths
      // in the SAME executor JVMs so the reported time measures the job,
      // not JVM warm-up — a long-lived cluster pays JIT once per executor)
      val warm = rest0.contains("--warm")
      val (fmt, rest) = parseFormat(rest0.filterNot(_ == "--warm"))
      val shards = rest.headOption.map(_.toInt).getOrElse(32)
      val tb = rest.lift(1).map(_.toInt).getOrElse(8)
      val stem = rest.lift(2).forall(_.toBoolean)
      val spark = session()
      val cfg = IndexConfig(shards = shards, termBuckets = tb, stem = stem)
      val docs = readCorpus(spark, corpus, fmt)
      if (warm) {
        val warmDir = java.nio.file.Files
          .createTempDirectory("graft-main-warm").toString
        IndexBuilder.build(spark, docs.where("docId % 24 = 0"), warmDir, cfg)
        println("warm-up build done")
      }
      val t0 = System.nanoTime()
      val g = IndexBuilder.build(spark, docs, idxDir, cfg)
      println(f"built index at $idxDir: docs=${g.nDocs} vocab=${g.vocabularySize} " +
        f"tokens=${g.totalTokens} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()

    case "search" :: idxDir :: rest if rest.nonEmpty =>
      // only `--k N` selects k — a bare number is a QUERY WORD ("2001
      // space odyssey" must not become k=2001)
      var k = 10
      var conj = false
      val words = List.newBuilder[String]
      var r = rest
      while (r.nonEmpty) {
        r match {
          case "--k" :: v :: tail => k = v.toInt; r = tail
          case "--conjunctive" :: tail => conj = true; r = tail
          case w :: tail => words += w; r = tail
          case Nil => ()
        }
      }
      val query = words.result().mkString(" ")
      val spark = session()
      val idx = new PostingIndex(spark, idxDir)
      val top = if (conj) idx.searchConjunctive(query, k) else idx.search(query, k)
      top.collect().foreach(r => println(f"${r.getLong(0)}%20d  ${r.getDouble(1)}%.6f"))
      spark.stop()

    // did-you-mean: (term, df) suggestions within --edits of the input
    case "suggest" :: idxDir :: term :: restS =>
      var edits = 1
      var n = 10
      var r = restS
      while (r.nonEmpty) r match {
        case "--edits" :: v :: tail => edits = v.toInt; r = tail
        case "--n" :: v :: tail => n = v.toInt; r = tail
        case other => throw new IllegalArgumentException(s"unexpected args: $other")
      }
      val spark = session()
      new PostingIndex(spark, idxDir).suggest(term, edits, n).collect()
        .foreach(row => println(f"${row.getString(0)}%-30s ${row.getLong(1)}%12d"))
      spark.stop()

    // offline batch evaluation: queries parquet (query_id, query) -> top-k
    // per query written as parquet (the table-valued no-broadcast plan)
    case "batch-search" :: idxDir :: queriesParquet :: outDir :: restB =>
      var k = 10
      var batches = 64
      var r = restB
      while (r.nonEmpty) r match {
        case "--k" :: v :: tail => k = v.toInt; r = tail
        case "--batches" :: v :: tail => batches = v.toInt; r = tail
        case other => throw new IllegalArgumentException(s"unexpected args: $other")
      }
      val spark = session()
      val idx = new PostingIndex(spark, idxDir)
      val t0 = System.nanoTime()
      idx.searchManyTable(spark.read.parquet(queriesParquet), k, batches)
        .write.mode("overwrite").parquet(outDir)
      println(f"batch-search done -> $outDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()

    // percolation: which standing queries (query_id, query parquet) does
    // each corpus document match — (doc_id, query_id) pairs to parquet
    case "percolate" :: corpus :: queriesParquet :: outDir :: restP2 =>
      val (fmtP, extraP) = parseFormat(restP2)
      require(extraP.isEmpty, s"unexpected args: $extraP")
      val spark = session()
      val docs = readCorpus(spark, corpus, fmtP)
        .select(col("docId").as("doc_id"), col("content").as("text"))
      val t0 = System.nanoTime()
      ops.Percolate.percolate(docs, spark.read.parquet(queriesParquet))
        .write.mode("overwrite").parquet(outDir)
      println(f"percolate done -> $outDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()

    case "append" :: corpus :: idxDir :: batchId :: restA =>
      val (fmtA, extraA) = parseFormat(restA)
      require(extraA.isEmpty, s"unexpected args: $extraA")
      val spark = session()
      val docs = readCorpus(spark, corpus, fmtA)
      val t0 = System.nanoTime()
      val g = IndexBuilder.append(spark, docs, idxDir, cfgOf(spark, idxDir),
        batchId)
      println(f"appended batch=$batchId: index now docs=${g.nDocs} " +
        f"vocab=${g.vocabularySize} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()

    case "delete" :: idsParquet :: idxDir :: deleteId :: Nil =>
      // idsParquet: any parquet with a doc_id (or docId) column — e.g. the
      // output of a dedup/PII/decontamination pass
      val spark = session()
      IndexBuilder.delete(spark, spark.read.parquet(idsParquet), idxDir, deleteId)
      println(s"tombstoned del=$deleteId at $idxDir (serving applies the " +
        "overlay immediately; run compact to reclaim and refresh stats)")
      spark.stop()

    case "compact" :: idxDir :: Nil =>
      val spark = session()
      val t0 = System.nanoTime()
      val g = IndexBuilder.compact(spark, idxDir, cfgOf(spark, idxDir))
      println(f"compacted $idxDir: docs=${g.nDocs} vocab=${g.vocabularySize} " +
        f"tokens=${g.totalTokens} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()

    case "clone" :: src :: dst :: Nil =>
      IndexBuilder.cloneIndex(src, dst)
      println(s"cloned $src -> $dst (hardlinks where the fs allows)")

    case "merge" :: srcA :: srcB :: dst :: rest =>
      // merge two independently built indexes (no re-tokenization; result
      // bit-identical to a build over the union corpus). Sources need the
      // same config, no pending tombstones (compact first), and disjoint
      // doc ids (checked unless --no-disjoint-check, for callers that
      // guarantee disjoint id ranges and want to skip the join)
      val check = rest match {
        case Nil => true
        case "--no-disjoint-check" :: Nil => false
        case other => throw new IllegalArgumentException(s"unexpected args: $other")
      }
      val spark = session()
      val t0 = System.nanoTime()
      val g = IndexBuilder.merge(spark, srcA, srcB, dst, checkDisjoint = check)
      println(f"merged $srcA + $srcB -> $dst: docs=${g.nDocs} " +
        f"vocab=${g.vocabularySize} tokens=${g.totalTokens} " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()

    case "positions" :: corpus :: idxDir :: restP =>
      // positional sidecar for phrase search; bound to the index's CURRENT
      // buildId (append/compact invalidate it — re-run this afterwards)
      val (fmtP, extraP) = parseFormat(restP)
      require(extraP.isEmpty, s"unexpected args: $extraP")
      val spark = session()
      val t0 = System.nanoTime()
      IndexBuilder.buildPositions(spark, readCorpus(spark, corpus, fmtP), idxDir)
      val fresh = new PostingIndex(spark, idxDir).hasFreshPositions
      println(f"positions sidecar at $idxDir (fresh=$fresh) " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()

    case "stats" :: idxDir :: Nil =>
      // the /stats sink surface from the CLI: globals + manifest counters
      // + the pending delete overlay (0 postings scanned — metadata only)
      val spark = session()
      val g = PostingIndex.readGlobals(spark, idxDir)
      val (termSlices, postings, bytes) = graft.index.Manifest.totals(idxDir)
      val tombs =
        if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(idxDir, "tombstones")))
          IndexFormat.read(spark, idxDir, IndexFormat.tombstones).select("doc_id")
            .distinct().count()
        else 0L
      println(Json.mapper.writeValueAsString(Json.mapper.createObjectNode()
        .put("document_count", g.nDocs).put("vocabulary_size", g.vocabularySize)
        .put("total_tokens", g.totalTokens).put("avgdl", g.avgdl)
        .put("indexed_term_slices", termSlices).put("postings", postings)
        .put("postings_bytes", bytes).put("pending_tombstones", tombs)
        .put("shards", g.shards).put("term_buckets", g.termBuckets)
        .put("stem", g.stem).put("build_id", g.buildId)))
      spark.stop()

    case "serve" :: sfDir :: port :: Nil =>
      val spark = session()
      val srv = new server.SearchServer(spark, sfDir, port.toInt)
      srv.start()
      println(s"graft /search serving on :${srv.boundPort} (corpus $sfDir)")
      Thread.currentThread().join()

    case _ =>
      System.err.println(
        """usage: graft.Main build   <corpus> <indexDir> [shards] [termBuckets] [stem] [--jsonl|--csv]
          |       graft.Main search  <indexDir> <query words...> [--k N] [--conjunctive]
          |       graft.Main append  <corpus> <indexDir> <batchId> [--jsonl|--csv]
          |       graft.Main delete  <idsParquet> <indexDir> <deleteId>
          |       graft.Main compact <indexDir>
          |       graft.Main clone   <srcIndexDir> <dstIndexDir>
          |       graft.Main merge   <srcIndexDirA> <srcIndexDirB> <dstIndexDir> [--no-disjoint-check]
          |       graft.Main positions <corpus> <indexDir> [--jsonl|--csv]
          |       graft.Main suggest <indexDir> <term> [--edits N] [--n N]
          |       graft.Main batch-search <indexDir> <queriesParquet> <outDir> [--k N] [--batches N]
          |       graft.Main percolate <corpus> <queriesParquet> <outDir> [--jsonl|--csv]
          |       graft.Main stats   <indexDir>
          |       graft.Main serve   <sfDir> <port>""".stripMargin)
      sys.exit(2)
  }

  /** `--jsonl` / `--csv` select the corpus reader; default parquet. */
  private def parseFormat(args: List[String]): (String, List[String]) = {
    val fmt =
      if (args.contains("--jsonl")) "jsonl"
      else if (args.contains("--csv")) "csv"
      else "parquet"
    (fmt, args.filterNot(a => a == "--jsonl" || a == "--csv"))
  }

  private def readCorpus(spark: SparkSession, path: String,
                         fmt: String): org.apache.spark.sql.DataFrame =
    fmt match {
      case "jsonl" => Corpus.fromJsonl(spark, path)
      case "csv" => Corpus.fromCsv(spark, path)
      case _ => Corpus.fromCodeDocs(spark.read.parquet(path))
    }

  /** The index's OWN config, from globals.json — mutation verbs must match
    * the layout the index was built with (checkConfig would refuse
    * anything else), so the CLI never asks for one.
    */
  private def cfgOf(spark: SparkSession, idxDir: String): IndexConfig =
    IndexConfig.of(PostingIndex.readGlobals(spark, idxDir))
}
