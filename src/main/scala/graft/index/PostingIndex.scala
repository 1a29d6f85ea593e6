package graft.index

import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.analysis.Analyzer
import graft.search.{BM25, Wand}

/** Query-side handle on a built index (SURVEY.md EP2 rebuilt).
  *
  * Every ranked entry point takes one path. It builds a
  * [[PostingIndex.Spec]] (weighted positive terms, must and must-not
  * sets, k, search_after cursor, allow-list broadcast, `rounded`) in one
  * method per mode ([[orSpec]], [[andSpec]], [[booleanSpec]]), and
  * [[hits]] answers it: one `runJob` over an RDD with one [[ShardIndex]]
  * (shard -> term -> blocks) per partition, each partition running the one
  * kernel ([[Wand.topKBoolean]]) on its shards and returning their top-ks,
  * then the k-cut on the driver ([[cutLocal]]) — the per-partition local
  * index and global top-k merge of REPOSE. Each doc shard holds complete
  * lists, so the shard top-ks merge losslessly. A [[preload]]ed handle
  * keeps that RDD over all postings resident; any other handle builds it
  * per batch ([[shardIndexes]]) over the query terms' slice of the parquet
  * postings, pruned to `tb IN (buckets)` (directory pruning) and
  * `term IN (query terms)` (row-group pruning via parquet min/max on the
  * term column). The DataFrame entry points return the result as a local
  * DataFrame; [[hits]] returns it as an array, and answers a batch of
  * specs with one job. The handle is safe to query from several threads.
  * A `*Rounded` form differs only in `rounded`: the shard heaps and the
  * cut both rank by (4-dp rounded score desc, doc_id asc).
  *
  * Scores are exact BM25 doubles, summed per doc in lexicographic term
  * order (SURVEY.md §7.6.1) — bit-identical to the single-node oracle.
  *
  * A handle is a snapshot: it reads globals and tombstones when it is
  * constructed, and resolves the postings and positions relations (file
  * listing and schema) once, on first use. A mutation in place
  * ([[IndexBuilder]]'s append, delete, compact, buildPositions) therefore
  * needs a new handle, or [[PostingIndex.invalidate]] for a memoized one.
  */
final class PostingIndex(spark: SparkSession, dir: String) {
  import PostingIndex.{ShardIndex, Spec}

  val globals: IndexGlobals = PostingIndex.readGlobals(spark, dir)

  private val analyzer: Analyzer = Analyzer.of(globals.stem)

  def queryTerms(query: String): Seq[(String, Double)] =
    if (query == null) Seq.empty
    else analyzer.analyze(query).toSeq.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.size.toDouble) }.sortBy(_._1)

  /** Optional serving mode: pin [[shardIndexes]] over all postings in
    * executor memory as the resident index, persisted MEMORY_AND_DISK. A
    * query then decodes no parquet and shuffles nothing: [[onShards]]
    * runs one task per partition. The distributed analog of the
    * reference's resident CSR (main.rs:531-536), partitioned across
    * executors instead of one heap.
    *
    * A no-op on a handle that is already resident: [[PostingIndex.forDir]]
    * hands one handle to every caller, and a second resident copy would
    * stay pinned past [[close]]. Concurrent calls build it once.
    */
  def preload(): this.type = residentLock.synchronized {
    if (resident.isEmpty) {
      val rdd = shardIndexes(blocks(postingsDF))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count() // materialize
      resident = Some(rdd)
    }
    this
  }

  @volatile private var resident: Option[RDD[ShardIndex]] = None
  // guards building and releasing `resident`; queries read it without it
  private val residentLock = new Object

  /** Releases executor-side state this handle pinned: the resident index
    * and the tombstone-overlay broadcast's executor copies. `unpersist`,
    * never `destroy`: a DataFrame built from this handle before close()
    * captured the broadcast in its plan, and an in-flight collect must
    * keep working (an unpersisted broadcast is re-shipped on demand;
    * destroy() would fail those queries). Idempotent; the handle stays
    * fully usable and builds its shard indexes per batch again, from the
    * parquet postings.
    */
  def close(): Unit = {
    residentLock.synchronized {
      resident.foreach(_.unpersist())
      resident = None
    }
    val bc = tombstonesBcRef
    if (bc != null) bc.unpersist()
  }

  private[index] def session: SparkSession = spark

  /** Serving-time delete overlay ([[IndexBuilder.delete]]): the distinct
    * tombstoned doc ids as a sorted array, broadcast once per index handle
    * and binary-searched inside the DAAT loops — a tombstoned doc never
    * occupies a top-k slot, while surviving docs keep their (pre-delete
    * statistics) scores bit-exactly. Memory: 8 B/id. The cap forces a
    * [[IndexBuilder.compact]] once the overlay stops being "small relative
    * to the index" — the same accumulate-then-merge contract as Lucene
    * deletes; at the cap the overlay is an 80 MB broadcast, far below a
    * posting shard, and past it compaction is cheaper than carrying the
    * overlay through every query.
    */
  private val tombstones: Array[Long] =
    IndexBuilder.readTombstones(spark, dir).fold(Array.emptyLongArray) { t =>
      val arr = t.limit(PostingIndex.maxServedTombstones + 1)
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
      require(arr.length <= PostingIndex.maxServedTombstones,
        s"index $dir carries more than ${PostingIndex.maxServedTombstones} " +
          "tombstones; run IndexBuilder.compact before serving")
      java.util.Arrays.sort(arr)
      arr
    }

  @volatile private var tombstonesBcRef
      : org.apache.spark.broadcast.Broadcast[Array[Long]] = null

  // broadcast lazily, once; close() only unpersists it (see close())
  private def tombstonesBc: org.apache.spark.broadcast.Broadcast[Array[Long]] =
    if (tombstones.isEmpty) null
    else {
      var bc = tombstonesBcRef
      if (bc == null) synchronized {
        bc = tombstonesBcRef
        if (bc == null) {
          bc = spark.sparkContext.broadcast(tombstones)
          tombstonesBcRef = bc
        }
      }
      bc
    }

  /** The postings relation, resolved once per handle. An entirely-empty
    * corpus (or one whose docs produce no tokens) never writes a postings
    * dir; treat it as an empty segment table.
    */
  private lazy val postingsDF: DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "postings")))
      IndexFormat.read(spark, dir, IndexFormat.postings)
    else {
      import spark.implicits._
      Seq.empty[BlockRow].toDF()
    }

  /** The (tb, term) pruning predicate of `terms`: directory pruning on
    * the term bucket, row-group pruning on the term.
    */
  private def inTerms(terms: Seq[String]): Column = {
    val tbs = terms.map(IndexFormat.termBucket(_, globals.termBuckets)).distinct
    col("tb").isin(tbs: _*) && col("term").isin(terms: _*)
  }

  /** `rows` projected to [[BlockRow]]. */
  private def blocks(rows: DataFrame): Dataset[BlockRow] = {
    import spark.implicits._
    rows.select(PostingIndex.blockCols.map(col): _*).as[BlockRow]
  }

  /** The pruned postings slice of `terms`. */
  private def slice(terms: Seq[String]): Dataset[BlockRow] =
    blocks(postingsDF.filter(inTerms(terms)))

  /** Each of `terms`' df, summed from the block `n` counters (no posting
    * decode); terms absent from the dictionary have no entry.
    */
  private def dfOf(terms: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    slice(terms).groupBy("term").agg(sum(col("n")).cast("long").as("df"))
      .as[(String, Long)].collect().toMap
  }

  /** `rows` as one [[ShardIndex]] per partition. There are
    * P = min(`globals.shards`, defaultParallelism) partitions and shard s
    * lives in partition s % P, so every partition holds whole shards and
    * the shards spread evenly (hash placement left some partitions empty
    * and others with three shards).
    */
  private def shardIndexes(rows: Dataset[BlockRow]): RDD[ShardIndex] = {
    val p = math.max(1, math.min(globals.shards, spark.sparkContext.defaultParallelism))
    rows.rdd.keyBy(_.shard).partitionBy(new HashPartitioner(p)) // an Int key k goes to k % p
      .mapPartitions(rs => Iterator.single(ShardIndex(rs.map(_._2))), preservesPartitioning = true)
  }

  /** The shard indexes holding every block of `terms`: the resident ones,
    * or [[shardIndexes]] over the slice of `terms` on a handle that is not
    * preloaded (one shuffle of that slice by shard).
    */
  private def shardsOf(terms: Seq[String]): RDD[ShardIndex] =
    resident.getOrElse(shardIndexes(slice(terms)))

  /** `kernel` on every shard holding a block of `terms`, as one `runJob`
    * over [[shardsOf]]: one task per partition, the outputs returned to
    * the Spark driver. The kernel gets the exclusion predicate its DAAT
    * loop takes: the tombstone overlay fused with `allowBc`, a broadcast
    * sorted allow-list (null = none). The job function is a named class
    * ([[PostingIndex.ResidentTask]]), so Spark's closure cleaner has no
    * lambda to read and walk before the job.
    */
  private def onShards[T: ClassTag](terms: Seq[String], allowBc: Broadcast[Array[Long]])(
      kernel: (Iterator[BlockRow], Long => Boolean) => Iterator[T]): Array[T] =
    spark.sparkContext.runJob(shardsOf(terms),
      new PostingIndex.ResidentTask(terms, tombstonesBc, allowBc, kernel)).flatten

  /** [[cut]] on the driver, for the pool [[hits]] collected for `s`: the
    * top `s.k` in (key desc, doc_id asc), the key and the returned score
    * being [[Wand.round4]] of the score when `s.rounded` (Spark's
    * `round(x, 4)`), clamped by [[capK]].
    */
  private def cutLocal(pool: Array[(Long, Double)], s: Spec): Array[(Long, Double)] = {
    val keyed = if (s.rounded) pool.map { case (d, x) => (d, Wand.round4(x)) } else pool
    java.util.Arrays.sort(keyed, (a: (Long, Double), b: (Long, Double)) => {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    })
    keyed.take(capK(s.k))
  }

  /** `rows` as a local DataFrame of `schema`, built from `Row`s: no
    * TypeTag reflection per call.
    */
  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** `hs` as a local (doc_id, score) DataFrame of a [[Spec]] rounded or
    * not ([[PostingIndex.resultSchema]]).
    */
  private def localResult(hs: Array[(Long, Double)], rounded: Boolean): DataFrame =
    local(hs.toSeq.map { case (d, s) => Row(d, s) },
      PostingIndex.resultSchema(rounded))

  /** The global k-cut in (score desc, doc_id asc) — on the 4-dp rounded
    * score when `rounded`: the DuckDB twins limit on
    * `round(sum(w), 4) DESC, doc_id`, so two docs whose exact scores differ
    * but round equal at the k-th boundary must be cut by (rounded, doc_id).
    */
  private def cut(pool: DataFrame, k: Int, rounded: Boolean): DataFrame =
    (if (rounded) pool.withColumn("score", round(col("score"), 4)) else pool)
      .orderBy(col("score").desc, col("doc_id").asc).limit(capK(k))

  /** `k` clamped to the docs the index holds, which no result outgrows:
    * the cut's TakeOrderedAndProject sizes its per-task buffers by its
    * limit, so an unclamped `Int.MaxValue` fails past the VM array limit.
    */
  private def capK(k: Int): Int = math.min(k.toLong, globals.nDocs).toInt

  /** The top-k `s` asks for, best first, as (doc_id, score) — the rows
    * of the DataFrame entry point built from the same `Spec`.
    */
  def hits(s: Spec): Array[(Long, Double)] = hits(Seq(s)).head

  /** [[hits]] of each of `specs`, in order: the one ranked execution.
    * All the specs that share an allow-list broadcast take one `runJob` of
    * P tasks, [[onShards]] over the union of their terms, every spec's
    * kernel on each shard's slice ([[PostingIndex.allQueries]]), then each
    * spec's own [[cutLocal]]. Specs with different allow-lists take one
    * job each (a task applies one exclusion predicate), and an
    * analysis-empty spec takes none. On a preloaded handle such a batch
    * costs the driver a job submission and the cut: its job function is a
    * named class, so no closure is cleaned, no Catalyst phase runs, and
    * each shard's kernel decodes a block at most once per spec. Any other
    * handle first builds the batch's shard indexes ([[shardsOf]]).
    */
  def hits(specs: Seq[Spec]): Seq[Array[(Long, Double)]] = {
    val out = Array.fill(specs.size)(Array.empty[(Long, Double)])
    specs.indices.filter(specs(_).qtf.nonEmpty).groupBy(i => Option(specs(i).allowBc))
      .foreach { case (allow, is) =>
        val batch = is.map(i => (i.toLong, specs(i)))
        val pools = onShards(batch.flatMap(_._2.terms).distinct.sorted, allow.orNull)(
          PostingIndex.allQueries(batch)).groupBy(_._1)
        is.foreach { i =>
          out(i) = cutLocal(pools.getOrElse(i.toLong, Array.empty).map(h => (h._2, h._3)), specs(i))
        }
      }
    out.toSeq
  }

  /** Every single-query top-k: [[hits]] as a local DataFrame. */
  private def topK(s: Spec): DataFrame = localResult(hits(s), s.rounded)

  /** Top-k search -> DataFrame (doc_id, score), total order
    * (score desc, doc_id asc).
    */
  def search(query: String, k: Int): DataFrame = topK(orSpec(query, k))

  /** Oracle-comparable form: 4-decimal rounded scores (cross-engine float
    * tolerance), each shard's top k and the final cut both ranked by
    * (rounded score desc, doc_id asc) — see [[cutLocal]] (mirrors
    * RelationalBM25.topK, which rounds inside the aggregation).
    */
  def searchRounded(query: String, k: Int): DataFrame = topK(orSpec(query, k, rounded = true))

  /** The disjunctive (OR) `Spec` of `query`: [[search]], [[searchRounded]]
    * and [[searchAfterRounded]] build theirs here. A cursor ranks in the
    * heap's own order: exact scores unless `rounded`.
    */
  def orSpec(query: String, k: Int, rounded: Boolean = false,
             afterScore: Double = Double.PositiveInfinity,
             afterDoc: Long = Long.MinValue): Spec =
    Spec(queryTerms(query).toMap, k, rounded, afterScore = afterScore, afterDoc = afterDoc)

  /** Deep pagination — the search_after contract: the top-k results
    * ranking STRICTLY AFTER the cursor `(afterScore, afterDoc)` in the
    * public rounded (score desc, doc_id asc) total order, so page N+1 is
    * this call with page N's last row as the cursor. Each shard's WAND
    * heap admits only post-cursor candidates: a deep page costs one
    * k-slot heap per shard exactly like the first page — never a
    * top-((N+1)·k) refetch, and never an OFFSET sort (which at 10^12 docs
    * would materialize every preceding page on one node). The cursor
    * compares in ROUNDED score space because that is the order the public
    * results (and the DuckDB twin) expose — a raw-space cursor would
    * disagree with the very rows the caller paged from. Pages of the exact
    * order ([[search]]'s) take [[orSpec]] with a cursor and [[hits]].
    */
  def searchAfterRounded(query: String, k: Int, afterScore: Double,
                         afterDoc: Long): DataFrame =
    topK(orSpec(query, k, rounded = true, afterScore, afterDoc))

  /** Conjunctive (AND) variant: only documents containing EVERY query term
    * score (posting-list intersection, leapfrog DAAT). Beyond the
    * reference's OR-only semantics.
    */
  def searchConjunctive(query: String, k: Int): DataFrame = topK(andSpec(query, k))

  /** Oracle-comparable conjunctive form: see [[searchRounded]]. */
  def searchConjunctiveRounded(query: String, k: Int): DataFrame =
    topK(andSpec(query, k, rounded = true))

  /** The conjunctive (AND) `Spec` of `query`: every term is a must term. */
  def andSpec(query: String, k: Int, rounded: Boolean = false): Spec = {
    val qtf = queryTerms(query).toMap
    Spec(qtf, k, rounded, must = qtf.keySet)
  }

  /** Batch form: top-k for MANY queries in one Spark job — [[hits]] of
    * every query's `Spec`: one job over the shard indexes of the union of
    * all query terms (blocks are NOT replicated per query: with
    * overlapping query vocab a per-(query, shard) key would duplicate
    * every shared term's blocks once per query), every query's WAND
    * running on each shard's slice. Amortizes scheduler latency across a
    * query set (offline eval / reranking workloads); each query's rows are
    * identical to [[search]]'s. The query set rides in the job's function
    * and every query's top k returns to the driver — the right call up to
    * ~10^4-10^5 reranking/eval queries; past that, use [[searchManyTable]]
    * (the query set as a relation). Analysis-empty queries contribute no
    * rows. Returns (query_id, doc_id, score) ordered (query_id, score
    * desc, doc_id), as a local DataFrame.
    */
  def searchMany(queries: Seq[String], k: Int): DataFrame = many(queries, k, rounded = false)

  /** Oracle-comparable batch form: per-query results identical to
    * [[searchRounded]] — the same rounded per-query k-cut the DuckDB twin
    * limits on ([[graft.search.OracleSql.bm25TopKMany]]).
    */
  def searchManyRounded(queries: Seq[String], k: Int): DataFrame =
    many(queries, k, rounded = true)

  private def many(queries: Seq[String], k: Int, rounded: Boolean): DataFrame = {
    val rows = hits(queries.map(orSpec(_, k, rounded))).zipWithIndex.flatMap { case (hs, qid) =>
      hs.map { case (d, sc) => Row(qid.toLong, d, sc) }
    }
    local(rows, PostingIndex.manySchema(rounded))
  }

  /** Offline-evaluation batch search — the query set as a RELATION
    * (`queries`: columns (query_id: long, query: string)), for workloads
    * where it is too large to broadcast or even to hold on the driver
    * (scoring a 10^6-query eval/click log against the full index). Output
    * rows are identical to [[searchManyRounded]] per query.
    *
    * Scale shape (how 10^6 queries x 10^12 docs stays one pipeline):
    *
    *  1. queries are analyzed DISTRIBUTEDLY with the index's own chain
    *     (qt = (query_id, term, qtf) — no driver tokenization, no
    *     collect);
    *  2. queries hash into `queryBatches` groups (pmod(query_id, B));
    *     posting blocks inner-join the DISTINCT (term, qbatch) relation,
    *     so a block is replicated once per query-BATCH that needs its
    *     term — bounded by B, never by |queries| (a hot shared term would
    *     otherwise fan out once per query);
    *  3. the qt relation replicates per index shard (|qt| * shards small
    *     rows — linear, and postings dominate it by orders of magnitude)
    *     and cogroups with the batched blocks on (shard, qbatch): each
    *     task holds ONE batch's qtf maps plus ONE shard's term-filtered
    *     block slice, and runs every batch query's WAND over it —
    *     task memory is O(batch + slice) regardless of |queries|;
    *  4. the per-query k-cut is a row_number window in (rounded score
    *     desc, doc_id asc), like [[cut]] — one shuffle on query_id over
    *     <= shards*k candidate rows per query, never a global sort.
    *
    * Tune B so a batch's qtf maps fit a task comfortably (|queries|/B ~
    * 10^3) — larger B costs block replication, smaller B costs task
    * memory. The tombstone overlay composes like every search path.
    * Analysis-empty queries contribute no output rows (same contract as
    * [[searchManyRounded]]); `query_id` must be unique — duplicate ids
    * MERGE their term multisets into one query (the groupBy sums qtf
    * across rows sharing an id).
    */
  def searchManyTable(queries: DataFrame, k: Int,
                      queryBatches: Int = 64): DataFrame = {
    import spark.implicits._
    val b = math.max(1, queryBatches)
    val an = analyzer
    val analyzeQ = udf((s: String) => an.analyze(s))
    // NULL query strings (reachable through any relational input) drop
    // like analysis-empty queries — never reach the analyzer UDF
    val qt = queries
      .filter(col("query").isNotNull)
      .select(col("query_id").cast("long").as("query_id"),
        explode(analyzeQ(col("query"))).as("term"))
      .groupBy("query_id", "term")
      .agg(count(lit(1)).cast("double").as("qtf"))
      .withColumn("qbatch", pmod(col("query_id"), lit(b.toLong)).cast("int"))
    val termBatches = qt.select("term", "qbatch").distinct()
    val blocksK = postingsDF
      .select(PostingIndex.blockCols.map(col): _*)
      .join(termBatches, "term")
      .select(col("qbatch").as("_1"),
        struct(PostingIndex.blockCols.map(col): _*).as("_2"))
      .as[(Int, BlockRow)]
      .groupByKey { case (qb, blk) => (blk.shard, qb) }
    val shardIds = (0 until globals.shards).toArray
    val qtK = qt
      .select(explode(lit(shardIds)).as("_1"), col("qbatch").as("_2"),
        col("query_id").as("_3"), col("term").as("_4"), col("qtf").as("_5"))
      .as[(Int, Int, Long, String, Double)]
      .groupByKey(r => (r._1, r._2))
    val kk = k
    val exBc = tombstonesBc
    val pool = blocksK.cogroup(qtK) { case (_, bIt, qIt) =>
      val qts = qIt.toArray
      if (qts.isEmpty) Iterator.empty
      else {
        val rs = bIt.map(_._2).toArray
        if (rs.isEmpty) Iterator.empty
        else {
          val ex = PostingIndex.combinedExclusion(
            if (exBc == null) null else exBc.value, null)
          qts.groupBy(_._3).iterator.flatMap { case (qid, rows) =>
            Spec(rows.map(r => (r._4, r._5)).toMap, kk, rounded = true)
              .kernel(rs.iterator, ex).map { case (d, s) => (qid, d, s) }
          }
        }
      }
    }.toDF("query_id", "doc_id", "score")
    pool.withColumn("score", round(col("score"), 4))
      .withColumn("rk", row_number().over(Window
        .partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rk") <= k).drop("rk")
      .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)
  }

  /** SOURCE-DIVERSIFIED serving search (the SERP host-collapse on the
    * index path): retrieve the exact rounded top-`candidates` page
    * ([[searchRounded]]'s gated contract), hydrate each candidate's
    * `attrCol` through a broadcast join (<= candidates rows broadcast, the
    * attribute relation streamed with a 2-column pruned scan — the J2
    * shape), cap at `perSource` per attribute value via one row_number
    * window over the <= candidates-row page, and re-cut the top k.
    *
    * Contract: this DIVERSIFIES THE RETRIEVED PAGE (Elasticsearch
    * field-collapse semantics) — deterministic and oracle-gatable because
    * the page is itself a total-order cut, but a source that dominates
    * beyond `candidates` positions can under-fill k. The exact global form
    * (cap applied to ALL scoring docs) is
    * [[graft.search.RelationalBM25.topKDiverse]]; the two coincide
    * whenever `candidates` covers every scoring doc, which the spec pins.
    * Serving chooses the page form because the global form's window input
    * is the full candidate set — an offline plan, not a latency one.
    */
  def searchDiverseRounded(query: String, k: Int, docAttrs: DataFrame,
                           perSource: Int, candidates: Int,
                           attrCol: String = "source"): DataFrame = {
    require(perSource >= 1, s"perSource must be >= 1, got $perSource")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val page = searchRounded(query, candidates)
    val bySrc = Window.partitionBy(attrCol).orderBy(col("score").desc, col("doc_id").asc)
    cut(broadcast(page)
      .join(docAttrs.select(col("doc_id").cast("long").as("doc_id"),
        col(attrCol)), "doc_id")
      .withColumn("rn", row_number().over(bySrc))
      .filter(col("rn") <= perSource)
      .select(col("doc_id"), col("score"), col(attrCol)), k, rounded = false)
  }

  // ---------------------------------------------------------------------
  // Attribute-filtered search (`lang:scala`-style restriction)
  // ---------------------------------------------------------------------

  /** Top-k restricted to documents in `allowed` (a one-column DataFrame of
    * doc ids, e.g. `corpus.filter($"lang" === "scala").select("doc_id")` —
    * the predicate pushes to the corpus scan). Lucene filter-query
    * semantics: IDF/avgdl stay CORPUS-global; the filter restricts which
    * documents may occupy a top-k slot, never a surviving doc's score.
    *
    * Two physical strategies, chosen by the materialized filter size:
    *  - |allowed| <= broadcastCap: the sorted id array broadcasts and the
    *    per-shard DAAT loops binary-search it at candidate time — the
    *    tombstone-overlay plan with the predicate inverted (selective
    *    filters: one small job to materialize the ids, then the standard
    *    pruned-scan WAND plan);
    *  - larger: the ids are keyed by the SAME docShard hash the postings
    *    are sharded by and COGROUPED with the posting blocks, so every
    *    shard's WAND sees exactly its slice of the filter. Nothing reaches
    *    the driver and the filter shuffles once however large it is — the
    *    100-TB path for non-selective filters; a task holds at most
    *    |allowed|/shards ids (8 B each), bounded by docs-per-shard, which
    *    the build already sizes to executor memory.
    *
    * WAND pruning stays exact under the overlay: block-max upper bounds
    * remain valid bounds for the surviving candidates (same argument as
    * the tombstone overlay).
    */
  def searchFiltered(query: String, k: Int, allowed: DataFrame,
                     broadcastCap: Int = PostingIndex.filterBroadcastCap): DataFrame =
    filtered(orSpec(query, k), allowed, broadcastCap)

  /** Oracle-comparable form of [[searchFiltered]]: 4-dp rounding before the
    * k-cut (see [[searchRounded]]).
    */
  def searchFilteredRounded(query: String, k: Int, allowed: DataFrame,
                            broadcastCap: Int = PostingIndex.filterBroadcastCap): DataFrame =
    filtered(orSpec(query, k, rounded = true), allowed, broadcastCap)

  private def filtered(s: Spec, allowed: DataFrame, broadcastCap: Int): DataFrame = {
    import spark.implicits._
    if (s.qtf.isEmpty) return localResult(Array.empty, s.rounded)
    val ids = allowed.select(col(allowed.columns.head).cast("long")).as[Long]
    // size probe: limit(cap+1) short-circuits — never a full count job
    val probe = ids.limit(math.max(broadcastCap, 0) + 1).collect()
    if (probe.length <= broadcastCap) {
      if (probe.isEmpty) return localResult(Array.empty, s.rounded)
      java.util.Arrays.sort(probe)
      topK(s.copy(allowBc = spark.sparkContext.broadcast(probe)))
    } else cut(cogroupFilteredPool(s, ids), s.k, s.rounded)
  }

  /** The sharded filter path: allowed ids cogrouped with posting blocks on
    * the build's docShard key.
    */
  private def cogroupFilteredPool(s: Spec, ids: Dataset[Long]): DataFrame = {
    import spark.implicits._
    val shardsN = globals.shards
    val exBc = tombstonesBc
    slice(s.terms).groupByKey(_.shard)
      .cogroup(ids.groupByKey(IndexFormat.docShard(_, shardsN))) {
        (_, rows, shardIds) =>
          val allow = shardIds.toArray
          if (allow.isEmpty) Iterator.empty
          else {
            java.util.Arrays.sort(allow)
            s.kernel(rows, PostingIndex.combinedExclusion(
              if (exBc == null) null else exBc.value, allow))
          }
      }
      .toDF("doc_id", "score")
  }

  // ---------------------------------------------------------------------
  // Prefix (dictionary-expansion) search (`tok*`-style)
  // ---------------------------------------------------------------------

  /** Top-k for a term PREFIX: the index vocabulary is expanded to the
    * `maxExpansions` highest-df terms starting with `prefix` (ties break
    * term-ascending — fully deterministic), and the expansion set scores
    * as a disjunctive query with weight 1 per matched term (Lucene
    * multi-term-query-with-scoring semantics). The expansion scan prunes
    * via parquet min/max on the `term` column (StringStartsWith pushes);
    * df comes from the block-level `n` counters — no posting decode.
    *
    * Expansion df counts include tombstoned postings until a compact
    * (same contract as every other index statistic under the overlay).
    */
  def searchPrefixRounded(prefix: String, k: Int,
                          maxExpansions: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    val p = prefix.toLowerCase(java.util.Locale.ROOT)
    require(p.nonEmpty && p.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
      s"prefix must be non-empty [a-z0-9]+, got '$prefix'")
    expandedSearch(dictionary(col("term").startsWith(p), maxExpansions), k)
  }

  /** Wildcard query (`s*a?` style): the vocabulary expands to the
    * `maxExpansions` highest-df terms matching the pattern (`*` = any
    * run, `?` = one char; ties term-ascending), each scoring with
    * weight 1 — the [[searchPrefixRounded]] multi-term contract with a
    * LIKE probe instead of a prefix probe (SQL LIKE is the shared
    * cross-engine pattern language: `*`→`%`, `?`→`_`, and the vocabulary
    * is [a-z0-9]+ so no escaping exists). A LEADING wildcard is rejected
    * (Lucene's default posture: it forces a full-dictionary scan with no
    * prefix pruning; the literal head keeps parquet min/max row-group
    * pruning on `term` live).
    */
  def searchWildcardRounded(pattern: String, k: Int,
                            maxExpansions: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    val p = pattern.toLowerCase(java.util.Locale.ROOT)
    require(p.nonEmpty && p.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '*' || c == '?'),
      s"wildcard pattern must be [a-z0-9*?]+, got '$pattern'")
    require((p.head >= 'a' && p.head <= 'z') || (p.head >= '0' && p.head <= '9'),
      s"leading wildcard rejected (full-dictionary scan): '$pattern'")
    val like = p.replace("*", "%").replace("?", "_")
    expandedSearch(dictionary(col("term").like(like), maxExpansions), k)
  }

  /** The `max` highest-df vocabulary terms passing `pred` as (term, df),
    * ranked (df desc, term asc) — the dictionary probe behind prefix,
    * wildcard and fuzzy search and [[suggest]]. df comes from the
    * block-level `n` counters — no posting decode — and includes
    * tombstoned postings until a compact.
    */
  private def dictionary(pred: Column, max: Int): DataFrame =
    postingsDF.filter(pred)
      .groupBy("term").agg(sum(col("n")).cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(max)

  /** The multi-term query over a [[dictionary]] probe's terms, each with
    * weight 1, rounded.
    */
  private def expandedSearch(dict: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val terms = dict.select("term").as[String].collect()
    topK(Spec(terms.map(t => (t, 1.0)).toMap, k, rounded = true))
  }

  // ---------------------------------------------------------------------
  // Fuzzy (edit-distance dictionary-expansion) search (`tok~`-style)
  // ---------------------------------------------------------------------

  /** Top-k for a MISSPELLED term: the index vocabulary is expanded to the
    * `maxExpansions` highest-df terms within Levenshtein distance
    * `maxEdits` of `term` (ties term-ascending — fully deterministic), and
    * the expansion scores as a disjunctive query with weight 1 per matched
    * term — the same multi-term-query semantics as [[searchPrefixRounded]].
    * An exact vocabulary hit (distance 0) is always inside the band and
    * competes on df like any other expansion (no special-case boost: the
    * deterministic cross-engine contract beats Lucene's similarity boost).
    *
    * The dictionary scan is a column-pruned pass over (term, n) with a
    * codegen'd length-band prefilter (`|len(t) - len(term)| <= maxEdits`
    * is implied by the distance bound, and rejects most of the vocabulary
    * before the O(len^2) `levenshtein` evaluates) followed by map-side
    * partial df aggregation — at 10^12 docs this touches the vocabulary,
    * not the postings; a Levenshtein-automaton dictionary is the upgrade
    * path if fuzzy volume ever dominates. Expansion df counts include
    * tombstoned postings until a compact (same contract as every other
    * index statistic under the overlay).
    */
  def searchFuzzyRounded(term: String, k: Int, maxEdits: Int = 1,
                         maxExpansions: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    expandedSearch(suggest(term, maxEdits, maxExpansions), k)
  }

  /** Query-time synonym expansion (the Lucene synonym-filter surface, as
    * a deterministic cross-engine contract): each analyzed query term t
    * contributes itself plus its synonyms from the `synonyms` relation
    * (columns (term, syn), values lowercase [a-z0-9]+ index vocabulary),
    * every expanded term carrying t's qtf; a term reachable from several
    * query terms — or itself a query term — SUMS its weights (the same
    * additive merge as boolean clauses and repeated query words). At most
    * `maxExpansionsPerTerm` synonyms per term, deterministic (syn asc)
    * cap. A synonym absent from the corpus vocabulary has no postings and
    * contributes nothing — in both engines, so normalization mismatches
    * self-neutralize rather than diverge.
    *
    * Scale shape: the synonyms relation is a CATALOG table at 10^12 docs;
    * the lookup is a pushed-filter probe (`term IN` the query's few
    * terms) collecting a |query|·cap-bounded expansion — never a scan of
    * the synonym table into the driver, never a join against postings.
    */
  def searchSynonymsRounded(query: String, synonyms: DataFrame, k: Int,
                            maxExpansionsPerTerm: Int = 8): DataFrame = {
    val q = queryTerms(query)
    if (q.isEmpty) return localResult(Array.empty, rounded = true)
    val qtf = q.toMap
    val terms = q.map(_._1)
    // the per-term cap is applied INSIDE the plan (row_number window over
    // the probed rows) so the collect is |query|*cap-bounded by
    // construction — a hot term with a catalog's worth of synonyms never
    // reaches the driver (the window mirrors the oracle twin's SQL)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy("syn")
    val rows = synonyms
      .filter(col("term").isin(terms: _*))
      .select("term", "syn").distinct()
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= maxExpansionsPerTerm)
      .select("term", "syn").collect()
      .map(r => (r.getString(0), r.getString(1)))
    rows.foreach { case (_, s) =>
      require(s.nonEmpty && s.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
        s"synonym must be lowercase [a-z0-9]+, got '$s'") }
    val expanded: Seq[(String, Double)] = rows.toSeq
      .groupBy(_._1).toSeq
      .flatMap { case (t, ss) =>
        ss.map(_._2).distinct.sorted.map(s => (s, qtf(t)))
      }
    val merged = (q ++ expanded).groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }
    topK(Spec(merged, k, rounded = true))
  }

  /** Did-you-mean term suggestions: the `maxSuggestions` index-vocabulary
    * terms within Levenshtein distance `maxEdits` of `term`, ranked
    * (df desc, term asc) — the same deterministic dictionary probe
    * [[searchFuzzyRounded]] expands through, exposed as its own surface
    * (term, df) for spell-correction UIs. Same scale posture as the
    * fuzzy probe: a column-pruned vocabulary pass, never a postings
    * decode; df counts include tombstoned postings until a compact.
    */
  def suggest(term: String, maxEdits: Int = 1,
              maxSuggestions: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    val t = term.toLowerCase(java.util.Locale.ROOT)
    require(t.nonEmpty && t.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
      s"suggest term must be non-empty [a-z0-9]+, got '$term'")
    require(maxEdits >= 0 && maxEdits <= 2, s"maxEdits must be 0..2, got $maxEdits")
    dictionary(abs(length(col("term")) - lit(t.length)) <= maxEdits &&
      levenshtein(col("term"), lit(t)) <= maxEdits, maxSuggestions)
  }

  // ---------------------------------------------------------------------
  // Boolean queries (must / should / must-not)
  // ---------------------------------------------------------------------

  /** Top-k for a BOOLEAN query — the Lucene BooleanQuery surface: a live
    * document matches iff it contains EVERY analyzed `must` term and NONE
    * of the `mustNot` terms (with `must` empty: iff it contains ≥ 1
    * `should` term); its score sums the BM25 contributions of ALL
    * positive (must ∪ should) terms it contains, qtf-weighted by each
    * term's occurrence count within its clause (a term in both clauses
    * accumulates both weights — the same additive contract as a repeated
    * query word in [[search]]). A term that is both positive and negated
    * can never match (the negation wins), and `must`/`should` both empty
    * is rejected: a pure-negation query would enumerate the corpus.
    *
    * Scale shape: the shard indexes of must ∪ should ∪ mustNot posting
    * blocks ([[hits]]; on a handle that is not preloaded, ONE (tb,
    * term)-pruned scan grouped by shard), then a single-pass
    * boolean DAAT per shard ([[Wand.topKBoolean]]): leapfrog over the
    * must lists (or WAND over should), should lists probed forward at
    * aligned targets, must-not lists probed forward as O(1)-memory
    * exclusion cursors — no broadcast of the must-not doc set (which for
    * a frequent negated term would be corpus-sized), no shuffle past the
    * shard grouping, no decode of skipped blocks. Composes with the
    * tombstone overlay.
    */
  def searchBooleanRounded(must: String, should: String, mustNot: String,
                           k: Int): DataFrame = topK(booleanSpec(must, should, mustNot, k))

  /** The boolean `Spec` behind [[searchBooleanRounded]] (rounded). */
  def booleanSpec(must: String, should: String, mustNot: String, k: Int): Spec = {
    val mustQ = queryTerms(must)
    val shouldQ = queryTerms(should)
    val notTerms = queryTerms(mustNot).map(_._1).toSet
    require(mustQ.nonEmpty || shouldQ.nonEmpty,
      "boolean query needs >= 1 surviving must or should term " +
        "(a pure-negation query would enumerate the corpus)")
    // positive weights merge across clauses (term-keyed qtf sums) so the
    // engine and the SQL twin see the identical qt relation
    val posQtf: Map[String, Double] = (mustQ ++ shouldQ)
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }
    Spec(posQtf, k, rounded = true, must = mustQ.map(_._1).toSet, not = notTerms)
  }

  // ---------------------------------------------------------------------
  // More-like-this (document-as-query)
  // ---------------------------------------------------------------------

  /** Top-k documents most similar to SOURCE document `docId` (the Lucene
    * MoreLikeThis surface rebuilt): the source content is re-analyzed
    * through the index's own analyzer, its terms ranked
    * (tf desc, df asc, term asc) — "frequent in the doc, rare in the
    * corpus", an INTEGER-only ordering so the cross-engine expansion is
    * exactly reproducible (Lucene's float tf·idf boost heuristic trades
    * that determinism away) — capped to `maxTerms`, and the capped profile
    * runs as a disjunctive weighted query with qtf = the term's tf in the
    * source (the same weight a repeated query word gets in [[search]]).
    * The source document itself never occupies a result slot: the pool
    * asks for k+1 candidates so dropping the source still leaves an exact
    * top-k (if the source is tombstoned the overlay already dropped it and
    * the post-filter is a no-op).
    *
    * Scale shape: the content fetch is ONE pushed point lookup (the S9
    * plan), the df probe a pruned (tb, term)-sliced dictionary pass over
    * (term, n) — both bounded by a single document's vocabulary, never the
    * corpus — and the scored search is the standard pruned-scan per-shard
    * WAND. Profile df counts include tombstoned postings until a compact
    * (the overlay statistics contract).
    */
  def searchMoreLikeThisRounded(docId: Long, k: Int, docs: DataFrame,
                                maxTerms: Int = PostingIndex.defaultMaxExpansions): DataFrame = {
    require(maxTerms > 0, s"maxTerms must be positive, got $maxTerms")
    import spark.implicits._
    val content = docs.filter(col("docId") === docId)
      .select(col("content").cast("string")).limit(2).as[String].collect()
    require(content.length == 1,
      s"docId $docId matched ${content.length} corpus rows (want exactly 1)")
    val tf: Map[String, Long] = analyzer.analyze(content(0))
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    if (tf.isEmpty) return localResult(Array.empty, rounded = true)
    val terms = tf.keys.toSeq
    val dfByTerm = dfOf(terms)
    // terms absent from the dictionary (possible when the corpus frame
    // outruns the index) carry no signal — drop, like a stop word
    val profile = terms
      .filter(dfByTerm.contains)
      .sortBy(t => (-tf(t), dfByTerm(t), t))
      .take(maxTerms)
      .map(t => (t, tf(t).toDouble)).toMap
    if (profile.isEmpty) return localResult(Array.empty, rounded = true)
    val s = Spec(profile, math.min(k.toLong + 1, Int.MaxValue).toInt, rounded = true)
    // the top k+1 holds the top k without the source
    localResult(hits(s).filter(_._1 != docId).take(capK(k)), rounded = true)
  }

  // ---------------------------------------------------------------------
  // Score explanation (per-term breakdown for one (query, document) pair)
  // ---------------------------------------------------------------------

  /** Per-term BM25 breakdown of `docId`'s score for `query` — the Lucene
    * `explain` surface: one row per query term PRESENT in the document,
    * (term, qtf, tf, df, idf, contrib) with contrib = the baked posting
    * weight × qtf, ordered by term. The breakdown reads the INDEX content
    * itself — tf and the weight decode from the document's posting
    * entries, df aggregates the term's block counters across shards — so
    * gating it against the corpus-derived oracle pins per-(term, doc)
    * index bytes, a strictly finer check than any top-k (idf recomputes
    * from (N, df) by the pinned formula; sum(contrib) is the document's
    * [[search]] score by construction). A tombstoned document explains to
    * an empty frame — it can never occupy a result slot.
    *
    * Plan: the usual (tb, term)-pruned slice; df is a map-side partial agg
    * over block counters (NO posting decode); only blocks in the
    * document's OWN shard whose max_doc bound admits the doc decode. Both
    * collects are bounded by the query's term count.
    */
  def explainScore(query: String, docId: Long): DataFrame = {
    import spark.implicits._
    def emptyExplain = spark.emptyDataFrame.select(
      lit("").as("term"), lit(0.0).as("qtf"), lit(0L).as("tf"),
      lit(0L).as("df"), lit(0.0).as("idf"), lit(0.0).as("contrib")).limit(0)
    val q = queryTerms(query)
    if (q.isEmpty) return emptyExplain
    if (tombstones.nonEmpty &&
      java.util.Arrays.binarySearch(tombstones, docId) >= 0) return emptyExplain
    val terms = q.map(_._1)
    val dfByTerm = dfOf(terms)
    val sh = IndexFormat.docShard(docId, globals.shards)
    val hits: Seq[(String, Long, Double)] = slice(terms)
      .filter(col("shard") === sh && col("max_doc") >= docId)
      .flatMap { r =>
        val ids = Codec.decodeDocIds(r.docs_bin, r.n)
        val i = java.util.Arrays.binarySearch(ids, docId)
        if (i < 0) Iterator.empty
        else Iterator.single((r.term,
          Codec.decodeVarLongs(r.tfs_bin, r.n)(i),
          Codec.decodeDoubles(r.wts_bin)(i)))
      }.collect().toSeq
    val qtf = q.toMap
    val n = globals.nDocs.toDouble
    hits.sortBy(_._1)
      .map { case (t, tf, w) =>
        (t, qtf(t), tf, dfByTerm(t), BM25.idf(n, dfByTerm(t).toDouble),
          w * qtf(t))
      }
      .toDF("term", "qtf", "tf", "df", "idf", "contrib")
      // Spark round (not driver-side rint): the cross-engine rounding
      // convention every other gate uses
      .withColumn("idf", round(col("idf"), 4))
      .withColumn("contrib", round(col("contrib"), 4))
  }

  // ---------------------------------------------------------------------
  // Facet counts over the disjunctive match set
  // ---------------------------------------------------------------------

  /** For each value of `facetCol` in `docs`, the number of LIVE documents
    * matching `query` disjunctively (>= 1 surviving analyzed term) — the
    * aggregation a search UI renders next to the ranked list. Statistics
    * are counts, not scores, so tombstones are excluded outright (a
    * deleted doc must not inflate a facet) while df/avgdl play no part.
    *
    * Physical plan: the posting slice prunes by (tb, term) exactly like a
    * search, per-block doc ids decode map-side, `distinct` is one shuffle
    * keyed on doc_id (the match set — bounded by the query's selectivity,
    * not the corpus), the attribute join is an equi-join on doc_id that
    * AQE broadcasts when the match set is small, and the final count is a
    * map-side-partial groupBy over `facetCol`. Nothing is collected.
    */
  def facetCounts(query: String, docs: DataFrame, facetCol: String): DataFrame = {
    import spark.implicits._
    val terms = queryTerms(query).map(_._1)
    val facets = docs.select(col("docId").as("doc_id"),
      col(facetCol).cast("string").as("facet"))
    if (terms.isEmpty)
      return facets.limit(0).groupBy("facet").agg(count("*").as("n_docs"))
    matchedDocIds(terms).join(facets, "doc_id")
      .groupBy("facet").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("facet").asc)
  }

  /** The LIVE disjunctive match set of `terms` as a (doc_id) frame: the
    * posting slice prunes by (tb, term), per-block doc ids decode
    * map-side with tombstones excluded at decode time, `distinct` is one
    * shuffle on the match set (query-selectivity-bounded, not
    * corpus-bounded). Shared by [[facetCounts]] and [[significantTerms]].
    */
  private def matchedDocIds(terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val exBc = tombstonesBc
    slice(terms)
      .select(col("n"), col("docs_bin"))
      .as[(Int, Array[Byte])]
      .flatMap { case (n, bin) =>
        val ids = Codec.decodeDocIds(bin, n)
        if (exBc == null) ids
        else {
          val ex = exBc.value
          ids.filter(d => java.util.Arrays.binarySearch(ex, d) < 0)
        }
      }
      .toDF("doc_id")
      .distinct()
  }

  /** The `maxTerms` most DISTINCTIVE terms of the documents matching
    * `query` disjunctively, against the whole corpus as background — the
    * search-UI "significant terms" aggregation: one row per term present
    * in the match set, (term, fg_df, bg_df, lift) with
    * lift = (fg_df / |M|) / (bg_df / N) — the foreground/background
    * document-frequency ratio — ordered (lift desc rounded 6 dp, term
    * asc). The match set M is LIVE (tombstones excluded); the background
    * df is the index STATISTIC (includes tombstoned postings until a
    * compact — the overlay statistics contract every ranking shares).
    *
    * Cost shape: the match set is the usual pruned decode, but the
    * foreground pass joins the index's materialized tf relation
    * (column-pruned to (doc_id, term)) against the match set — a full tf
    * scan per call, like every engine's significant-terms (the aggregation
    * is definitionally over every term of the matched docs, which the
    * term-keyed postings cannot prune). AQE broadcasts the match set when
    * the query is selective; the background df joins the tiny stats
    * relation. An analytics-tier operator, not a serving-path one.
    */
  // the tf and stats relations, resolved once per handle like the postings
  private lazy val tfDF: DataFrame = IndexBuilder.readTf(spark, dir)
  private lazy val statsDF: DataFrame = IndexFormat.read(spark, dir, IndexFormat.stats)

  def significantTerms(query: String, maxTerms: Int): DataFrame = {
    require(maxTerms > 0, s"maxTerms must be positive, got $maxTerms")
    def emptySig = spark.emptyDataFrame.select(
      lit("").as("term"), lit(0L).as("fg_df"), lit(0L).as("bg_df"),
      lit(0.0).as("lift")).limit(0)
    val terms = queryTerms(query).map(_._1)
    if (terms.isEmpty) return emptySig
    val matched = matchedDocIds(terms)
    val m = matched.count().toDouble
    if (m == 0) return emptySig
    val n = globals.nDocs.toDouble
    val fg = tfDF.select("doc_id", "term")
      .join(matched, "doc_id")
      .groupBy("term").agg(count(lit(1)).cast("long").as("fg_df"))
    val bg = statsDF.select(col("term"), col("df").cast("long").as("bg_df"))
    fg.join(bg, "term")
      .withColumn("lift", round(
        (col("fg_df").cast("double") / lit(m)) /
          (col("bg_df").cast("double") / lit(n)), 6))
      .orderBy(col("lift").desc, col("term").asc)
      .limit(maxTerms)
      .select("term", "fg_df", "bg_df", "lift")
  }

  // ---------------------------------------------------------------------
  // Phrase search ("exact sequence" queries)
  // ---------------------------------------------------------------------

  /** Top-k documents containing the analyzed phrase CONSECUTIVELY (the
    * phrase's surviving analyzer tokens appear adjacent, in order, in the
    * document's analyzed token stream — standard phrase semantics over a
    * stop-filtered stream). BM25 scores use the phrase terms with their
    * in-phrase frequencies; the filter never perturbs a surviving score.
    *
    * Physical plan: the index has no positional postings (the reference
    * stores none either), so the phrase evaluates as (1) leapfrog
    * conjunctive DAAT emitting EVERY doc containing all phrase terms —
    * exact, no candidate can be missed — then (2) a join back to `docs`
    * that re-analyzes only those candidates and keeps adjacency matches.
    * The verification cost is |AND matches| document re-tokenizations —
    * proportional to the phrase's conjunctive selectivity, not the corpus;
    * positional posting blocks are the structural upgrade if phrase volume
    * ever dominates (documented in COVERAGE.md).
    */
  def searchPhraseRounded(phrase: String, k: Int, docs: DataFrame): DataFrame = {
    val seq = analyzer.analyze(phrase)
    if (seq.isEmpty) return localResult(Array.empty, rounded = true)
    if (hasFreshPositions) return phrasePositional(seq, k)
    val candidates = phraseCandidates(seq)
    // adjacency verification: re-analyze ONLY the AND-matching candidates.
    // The haystack/needle form is exact: analyzed tokens are [a-z0-9]+ so a
    // space-joined stream contains " t1 t2 " iff t1,t2 are adjacent in it.
    val needle = " " + seq.mkString(" ") + " "
    val an = analyzer
    val analyzeJoin = udf((text: String) => " " + an.analyze(text).mkString(" ") + " ")
    cut(candidates
      .join(docs.select(col("docId").as("doc_id"), col("content")), "doc_id")
      .filter(analyzeJoin(col("content")).contains(needle))
      .select("doc_id", "score"), k, rounded = true)
  }

  /** Index-native phrase search over the positional sidecar
    * ([[IndexBuilder.buildPositions]]) — REQUIRES a sidecar bound to this
    * index's buildId (use [[searchPhraseRounded]] for the auto-selecting
    * form). Adjacency verifies against the position lists of the PHRASE
    * TERMS ONLY: the pruned sidecar scan joins the conjunctive candidates
    * on doc_id and each doc checks `exists p: forall j: p+j in
    * positions(token_j)` over decoded varint lists — no document content
    * is ever hydrated, so the cost scales with the phrase terms' posting
    * mass, not document size.
    */
  def searchPhrasePositionalRounded(phrase: String, k: Int): DataFrame = {
    requirePositions()
    val seq = analyzer.analyze(phrase)
    if (seq.isEmpty) return localResult(Array.empty, rounded = true)
    phrasePositional(seq, k)
  }

  /** Positional KWIC — analyzed-term-exact highlighting from the INDEX:
    * the top-k's first match position comes from the positional sidecar
    * (min (pos, term) over the query terms' decoded position lists —
    * the lists are ascending, so each (term, doc) contributes its head),
    * not from substring scanning hydrated text, so "scan" inside
    * "rescanning" does NOT count (the substring form is
    * [[graft.search.Snippets.kwic]]). The snippet is the +-`window`
    * slice of the doc's ANALYZED token stream around that position.
    *
    * Scale shape: the sidecar read is (tb, term)-pruned exactly like
    * [[searchPhrasePositionalRounded]] and joins the BROADCAST <=k
    * top-k; only the <=k winning docs hydrate text for the window slice
    * (one broadcast join against the corpus scan). Returns
    * (doc_id, score, term, pos, kwic) in (score desc, doc_id asc) order;
    * pos is the 0-based analyzed-stream index.
    */
  def kwicPositionalRounded(query: String, k: Int, docs: DataFrame,
                            window: Int = 4): DataFrame = {
    requirePositions()
    val topk = searchRounded(query, k)
    val terms = queryTerms(query).map(_._1)
    if (terms.isEmpty)
      return topk.withColumn("term", lit(""))
        .withColumn("pos", lit(0L)).withColumn("kwic", lit(""))
        .limit(0)
    val headPos = udf((bin: Array[Byte], n: Int) => Codec.decodeDocIds(bin, n)(0))
    val hits = positions(terms).join(broadcast(topk), "doc_id")
      .select(col("doc_id"), col("score"),
        struct(headPos(col("pos_bin"), col("npos")).as("pos"),
          col("term").as("term")).as("h"))
      .groupBy("doc_id")
      .agg(min(col("h")).as("h"), max(col("score")).as("score"))
    val an = analyzer
    val w = window
    val kwicU = udf((text: String, p: Long) => {
      val toks = an.analyze(text)
      toks.slice(math.max(0, p.toInt - w),
        math.min(toks.length, p.toInt + w + 1)).mkString(" ")
    })
    docs.select(col("docId").as("doc_id"), col("content"))
      .join(broadcast(hits), "doc_id")
      .select(col("doc_id"), col("score"), col("h.term").as("term"),
        col("h.pos").as("pos"), kwicU(col("content"), col("h.pos")).as("kwic"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** True iff `positions/meta.json` exists and is bound to THIS buildId —
    * the structural staleness gate (append/compact rewrite globals with a
    * fresh buildId, so a leftover sidecar can never serve wrong positions).
    */
  def hasFreshPositions: Boolean = {
    val meta = java.nio.file.Paths.get(dir, "positions", "meta.json")
    java.nio.file.Files.exists(meta) &&
      graft.Json.field(graft.Json.read(meta), "buildId", meta)(_.isTextual).textValue ==
        globals.buildId
  }

  private def requirePositions(): Unit =
    require(hasFreshPositions,
      s"index $dir has no positional sidecar for buildId ${globals.buildId}; " +
        "run IndexBuilder.buildPositions (append/compact invalidate it)")

  private lazy val positionsDF: DataFrame = IndexFormat.read(spark, dir, IndexFormat.positions)

  /** The positional sidecar rows of `terms`, (tb, term)-pruned like the
    * postings.
    */
  private def positions(terms: Seq[String]): DataFrame =
    positionsDF.filter(inTerms(terms)).select("term", "doc_id", "npos", "pos_bin")

  /** Every conjunctive (AND) match of the phrase terms with its BM25 score
    * — no k-cut (the adjacency filter downstream must not be starved) — as
    * a Dataset over the shard indexes ([[shardsOf]]): the match set stays
    * on the executors.
    */
  private def phraseCandidates(seq: Array[String]): DataFrame = {
    import spark.implicits._
    val qtf = seq.groupBy(identity).map { case (t, xs) => (t, xs.length.toDouble) }
    val terms = qtf.keys.toSeq.sorted
    val task = new PostingIndex.ResidentTask(terms, tombstonesBc, null,
      (rows: Iterator[BlockRow], ex: Long => Boolean) => Wand.conjunctiveAll(rows, qtf, ex))
    shardsOf(terms).mapPartitions(task.run).toDF("doc_id", "score")
  }

  private def phrasePositional(seq: Array[String], k: Int): DataFrame =
    positionalWindowed(seq, slop = 0, k)

  /** Proximity search (sloppy ordered phrase) over the positional
    * sidecar: a document matches iff its analyzed stream contains
    * positions p_0 < p_1 < ... < p_{m-1}, position p_j holding phrase
    * token j, with span p_{m-1} - p_0 <= (m-1) + slop — the deterministic
    * ordered-window contract (slop = 0 IS phrase adjacency; Lucene's
    * edit-distance slop admits reorderings, which a cross-engine gate
    * cannot pin as cheaply). Scores are the conjunctive BM25 of the
    * phrase terms, exactly like [[searchPhraseRounded]]. Positional
    * sidecar required (the production proximity path — candidate
    * re-analysis would also work but proximity queries are latency-tier).
    */
  def searchProximityRounded(phrase: String, slop: Int, k: Int): DataFrame = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    requirePositions()
    val seq = analyzer.analyze(phrase)
    require(seq.length >= 2,
      s"proximity needs >= 2 surviving terms, got '${seq.mkString(" ")}'")
    positionalWindowed(seq, slop, k)
  }

  /** Shared positional verifier: conjunctive candidates filtered to docs
    * whose minimal ordered window over the phrase tokens is within
    * (m-1) + slop. Greedy chain per start position is exact for the
    * ordered contract: from a fixed p_0, picking the SMALLEST valid next
    * position minimizes the final span, so an in-bound chain exists iff a
    * greedy one does.
    */
  private def positionalWindowed(seq: Array[String], slop: Int,
                                 k: Int): DataFrame = {
    import spark.implicits._
    val candidates = phraseCandidates(seq)
    val phraseSeq = seq // ordered tokens, duplicates included
    val bound = (phraseSeq.length - 1).toLong + slop
    val verified = positions(seq.distinct.sorted.toSeq).join(candidates, "doc_id")
      .select(col("doc_id"), col("score"), col("term"), col("npos"), col("pos_bin"))
      .as[(Long, Double, String, Int, Array[Byte])]
      .groupByKey { case (d, s, _, _, _) => (d, s) }
      .flatMapGroups { (key: (Long, Double),
                        rows: Iterator[(Long, Double, String, Int, Array[Byte])]) =>
        val byTerm = rows.map { case (_, _, t, n, bin) =>
          t -> Codec.decodeDocIds(bin, n)
        }.toMap
        val first = byTerm.getOrElse(phraseSeq(0), Array.emptyLongArray)
        var ok = false
        var i = 0
        while (i < first.length && !ok) {
          val p0 = first(i)
          var prev = p0
          var alive = true
          var j = 1
          while (j < phraseSeq.length && alive) {
            val arr = byTerm.getOrElse(phraseSeq(j), Array.emptyLongArray)
            var lo = java.util.Arrays.binarySearch(arr, prev + 1)
            if (lo < 0) lo = -lo - 1
            if (lo >= arr.length) alive = false
            else { prev = arr(lo); j += 1 }
          }
          if (alive && prev - p0 <= bound) ok = true
          i += 1
        }
        if (ok) Iterator.single(key) else Iterator.empty
      }
      .toDF("doc_id", "score")
    cut(verified, k, rounded = true)
  }
}

object PostingIndex {

  /** Serving-overlay size cap — see the `tombstones` field. */
  val maxServedTombstones: Int = 10000000

  /** [[PostingIndex.searchFiltered]] broadcast-vs-cogroup cutover: up to
    * this many allowed ids the filter broadcasts (8 MB of longs — small
    * against an executor); above it, the cogroup path shuffles the ids to
    * their shards instead of collecting them.
    */
  val filterBroadcastCap: Int = 1000000

  /** [[PostingIndex.searchPrefixRounded]] default expansion budget (the
    * Lucene-default-shaped bound on multi-term blowup).
    */
  val defaultMaxExpansions: Int = 16

  /** The (doc_id, score) schema of a ranked result built on the driver.
    * `score` is nullable exactly when it is rounded, as Spark's `round`
    * marks its output: the schema the distributed cut ([[PostingIndex.cut]])
    * gives the same rows, which parquet writes record.
    */
  private[index] def resultSchema(rounded: Boolean): StructType =
    StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = rounded)))

  /** [[resultSchema]] after a `query_id` column: a batch result. */
  private def manySchema(rounded: Boolean): StructType =
    StructType(StructField("query_id", LongType, nullable = false) +:
      resultSchema(rounded).fields)

  /** The [[BlockRow]] columns of the postings table. */
  private val blockCols = Seq("tb", "shard", "term", "block_id", "n", "max_doc", "max_w",
    "docs_bin", "wts_bin", "tfs_bin")

  /** One top-k request: weighted positive (must ∪ should) terms, the must
    * and must-not subsets, k, whether the public cut ranks on the 4-dp
    * rounded score, the search_after cursor (in the cut's order), and the
    * attribute-filter allow-list broadcast (null = none). [[kernel]] is
    * its per-shard top-k, ranked in the order its cut uses. Built by a
    * handle's `orSpec`, `andSpec` and `booleanSpec`; answered by `hits`.
    */
  final case class Spec(qtf: Map[String, Double], k: Int, rounded: Boolean,
      must: Set[String] = Set.empty, not: Set[String] = Set.empty,
      afterScore: Double = Double.PositiveInfinity, afterDoc: Long = Long.MinValue,
      allowBc: Broadcast[Array[Long]] = null) {
    def terms: Seq[String] = (qtf.keySet ++ not).toSeq.sorted
    def kernel(rows: Iterator[BlockRow], ex: Long => Boolean): Iterator[(Long, Double)] =
      Wand.topKBoolean(rows, qtf, must, not, k, ex, afterScore, afterDoc, rounded)
  }

  /** One partition of a handle's shard indexes (resident after
    * [[PostingIndex.preload]], else built per batch): each of its doc
    * shards' blocks, by term, in block_id (= docId) order.
    */
  private[index] final case class ShardIndex(shards: Map[Int, Map[String, Array[BlockRow]]]) {

    /** Per shard holding a block of `terms`, those blocks in term order. */
    def slices(terms: Seq[String]): Iterator[Iterator[BlockRow]] =
      shards.valuesIterator.collect {
        case byTerm if terms.exists(byTerm.contains) =>
          terms.iterator.flatMap(t => byTerm.getOrElse(t, Array.empty[BlockRow]).iterator)
      }
  }

  private[index] object ShardIndex {
    def apply(rows: Iterator[BlockRow]): ShardIndex =
      ShardIndex(rows.toArray.groupBy(_.shard).map { case (shard, bs) =>
        shard -> bs.groupBy(_.term).map { case (t, tbs) => t -> tbs.sortBy(_.block_id) }
      })
  }

  /** The job function of [[PostingIndex.onShards]]: on one partition
    * of shard indexes, `kernel` over each shard's slice of `terms`,
    * with the exclusion predicate of the tombstone broadcast `exBc` and
    * the allow-list broadcast `allowBc` (null = none).
    *
    * A named `Serializable` class, not a lambda. Spark's `ClosureCleaner`
    * returns at once for it, where for a lambda it reads the lambda's
    * class bytes (and those of the wrapper lambda the one-argument
    * `runJob` adds) from their jar and walks them with ASM before every
    * job, on the thread that submits it. [[run]] is the same work as a
    * partition's iterator, for a `mapPartitions` that keeps the output on
    * the executors.
    */
  private final class ResidentTask[T: ClassTag](terms: Seq[String],
      exBc: Broadcast[Array[Long]], allowBc: Broadcast[Array[Long]],
      kernel: (Iterator[BlockRow], Long => Boolean) => Iterator[T])
      extends ((TaskContext, Iterator[ShardIndex]) => Array[T]) with Serializable {
    def apply(ctx: TaskContext, parts: Iterator[ShardIndex]): Array[T] = run(parts).toArray

    def run(parts: Iterator[ShardIndex]): Iterator[T] = {
      val ex = combinedExclusion(
        if (exBc == null) null else exBc.value,
        if (allowBc == null) null else allowBc.value)
      parts.flatMap(_.slices(terms)).flatMap(kernel(_, ex))
    }
  }

  /** Every query of a batch over one shard's blocks, as
    * (query_id, doc_id, score): the shard's slice materializes once and
    * each query's kernel reuses it.
    */
  private def allQueries(specs: Seq[(Long, Spec)])(rows: Iterator[BlockRow],
      ex: Long => Boolean): Iterator[(Long, Long, Double)] = {
    val rs = rows.toArray
    specs.iterator.flatMap { case (qid, s) =>
      s.kernel(rs.iterator, ex).map { case (d, sc) => (qid, d, sc) }
    }
  }

  /** Fuses the tombstone overlay and an optional allow-list into the single
    * exclusion predicate the DAAT loops take. `null` inputs mean "absent";
    * returns null when both are (the loops' allocation-free fast path).
    */
  private[index] def combinedExclusion(tombstoned: Array[Long],
                                       allowed: Array[Long]): Long => Boolean =
    (tombstoned, allowed) match {
      case (null, null) => null
      case (t, null) => d => java.util.Arrays.binarySearch(t, d) >= 0
      case (null, a) => d => java.util.Arrays.binarySearch(a, d) < 0
      case (t, a) => d =>
        java.util.Arrays.binarySearch(t, d) >= 0 ||
          java.util.Arrays.binarySearch(a, d) < 0
    }

  private val handles =
    scala.collection.concurrent.TrieMap.empty[String, PostingIndex]

  /** Memoized serving handle per index dir: constructing a handle on a
    * tombstoned index runs a read+distinct+collect job and creates a
    * broadcast for the overlay — once per (context, dir) through here,
    * instead of once per query. Freshness is keyed on the SparkCONTEXT
    * (broadcasts and cached blocks are context-scoped, so sibling sessions
    * from `newSession()` share a handle rather than thrashing it); a
    * cached handle bound to a different or stopped context (bench-style
    * sectioned sessions) is closed and replaced, never returned.
    * Synchronized: two racing first callers must not both run the overlay
    * collect and leak the loser's broadcast. Call [[invalidate]] after
    * mutating the directory in place.
    */
  def forDir(spark: SparkSession, dir: String): PostingIndex =
    handles.synchronized {
      handles.get(dir) match {
        case Some(h) if (h.session.sparkContext eq spark.sparkContext) &&
            !spark.sparkContext.isStopped => h
        case cached =>
          cached.foreach(h => if (!h.session.sparkContext.isStopped) h.close())
          val fresh = new PostingIndex(spark, dir)
          handles.put(dir, fresh)
          fresh
      }
    }

  /** Drops (and closes: unpersists the preload cache and the overlay
    * broadcast's executor copies — in-flight queries keep working) the
    * memoized handle for `dir`.
    */
  def invalidate(dir: String): Unit = handles.synchronized {
    handles.remove(dir).foreach { h =>
      if (!h.session.sparkContext.isStopped) h.close()
    }
  }

  /** globals.json is a single flat object written by
    * [[IndexBuilder.writeGlobals]]; parse it locally instead of with a
    * `spark.read.json` job — a Spark job per index open was measurable
    * serial overhead in every build/search. A missing or mistyped field
    * fails naming the file and the field.
    */
  def readGlobals(spark: SparkSession, dir: String): IndexGlobals = {
    val p = java.nio.file.Paths.get(dir, "globals.json")
    val o = graft.Json.read(p)
    def s(n: String) = graft.Json.field(o, n, p)(_.isTextual).textValue
    def l(n: String) = graft.Json.field(o, n, p)(_.isIntegralNumber).longValue
    def d(n: String) = graft.Json.field(o, n, p)(_.isNumber).doubleValue
    IndexGlobals(
      buildId = s("buildId"), sourcePath = s("sourcePath"),
      nDocs = l("nDocs"), totalTokens = l("totalTokens"), avgdl = d("avgdl"),
      vocabularySize = l("vocabularySize"), shards = l("shards").toInt,
      termBuckets = l("termBuckets").toInt, blockSize = l("blockSize").toInt,
      k1 = d("k1"), b = d("b"), stem = graft.Json.field(o, "stem", p)(_.isBoolean).booleanValue)
  }

  /** True iff the index is fully built (globals present + every (tb, shard)
    * partition committed).
    */
  def isComplete(spark: SparkSession, dir: String): Boolean = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "globals.json")))
      return false
    val g = readGlobals(spark, dir)
    Manifest.committed(dir).size == g.shards * g.termBuckets
  }
}
