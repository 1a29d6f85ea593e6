package graft.index

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Json
import graft.Json.mapper
import graft.search.{BM25, RelationalBM25}

/** Distributed inverted-index build (SURVEY.md §7.1, EP1 rebuilt):
  *
  *  stage `stats`    scan -> analyze -> (doc_id, term, tf) materialized
  *                   (partitioned by tb), plus (term, df, idf) stats and
  *                   globals.json — ONE corpus pass (the reference tokenizes
  *                   twice, tokenizer.rs:19+45; we don't copy that).
  *  stage `postings` tf x df x dl -> exact BM25 weight per posting ->
  *                   repartition by (tb, shard, term) -> sortWithinPartitions
  *                   by docId -> streaming block encoder (never materializes
  *                   a whole posting list — a df~N hot term is bounded by
  *                   its shard slice and streamed block-by-block).
  *
  * Checkpoint/resume (§7.5, upgrading the reference's Path::exists() cache
  * probe, main.rs:492): each (tb, shard) partition commits independently —
  * staging write, atomic dir move, then a manifest record with counters
  * (terms, postings, bytes). An interrupted build recomputes only
  * partitions missing a manifest record; stage `stats` commits as a unit
  * via globals.json last.
  */
object IndexBuilder {

  /** Per-(tb, shard) manifest counters (terms, postings, bytes) accumulated
    * INSIDE the encode tasks — the alternative (re-reading the just-written
    * postings parquet to aggregate counters) costs a full extra scan of the
    * index per wave, pure serial overhead at bench scale and an O(index)
    * read at 100 TB. Updates happen in the write job's result stage, so
    * Spark applies them once per successful task; speculative execution is
    * off (local) and a failed task fails the build before commit.
    */
  private[index] final class PartCounters
      extends org.apache.spark.util.AccumulatorV2[
        ((Int, Int), (Long, Long, Long)), Map[(Int, Int), (Long, Long, Long)]] {
    private val m =
      scala.collection.mutable.HashMap.empty[(Int, Int), (Long, Long, Long)]
    override def isZero: Boolean = m.isEmpty
    override def copy(): PartCounters = {
      val c = new PartCounters
      m.foreach { case (k, v) => c.m(k) = v }
      c
    }
    override def reset(): Unit = m.clear()
    override def add(v: ((Int, Int), (Long, Long, Long))): Unit = {
      val (k, (a, b, c)) = v
      val (x, y, z) = m.getOrElse(k, (0L, 0L, 0L))
      m(k) = (x + a, y + b, z + c)
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[
        ((Int, Int), (Long, Long, Long)), Map[(Int, Int), (Long, Long, Long)]]): Unit =
      other.value.foreach { case (k, v) => add((k, v)) }
    override def value: Map[(Int, Int), (Long, Long, Long)] = m.toMap
  }

  private val timings = sys.env.contains("GRAFT_TIMINGS")

  /** Whether the most recent postings wave used the broadcast-dictionary
    * encode path (vs the large-vocabulary stats-join fallback) — test hook
    * for the auto-fallback decision.
    */
  @volatile private[index] var lastWaveUsedDict: Boolean = true

  /** Public read view of [[lastWaveUsedDict]] — the bench's bigvocab lane
    * reports which encode path the auto-decision took.
    */
  def lastWaveUsedDictPath: Boolean = lastWaveUsedDict

  /** The shared shuffle shape of both encode paths — one partition per
    * (tb, shard), rows clustered by term key and docId-sorted within it,
    * exactly what the streaming block encoder requires — with each group
    * routed to ITS OWN shuffle partition: exactly,
    * not modulo hash luck. Plain `repartition(parts, tb, shard)` murmur3-
    * hashes the parts distinct keys into parts buckets, and balls-in-bins
    * leaves ~1/e of the encode tasks EMPTY while a few carry 3-4 whole
    * (tb, shard) groups (measured at shards=16 x tb=4: 26/64 empty, max
    * load 4) — at high parallelism the multi-group stragglers ARE the
    * stage wall (a 4-group task runs 4x the mean; ~40% makespan overhead
    * at 8 cores vs ~6% at 2, which directly depressed the N->4N scaling
    * ratio). The fix stays declarative: a driver-side probe search finds,
    * for each target partition p, an int whose Murmur3Hash(seed 42 — the
    * HashPartitioning seed) lands on p (coupon-collector, ~parts*ln(parts)
    * probes of a pure int hash); each (tb, shard) key then carries its
    * probe in a routing column and `repartition(parts, pk)` places every
    * group alone in its partition. Group completeness is what the encoder
    * needs and is preserved (same (tb, shard) -> same pk -> same
    * partition); block bytes are partition-placement-independent, so index
    * content is unchanged (spec-pinned by the config-invariance gate).
    */
  private[index] def postingsShape(postings: DataFrame, tbs: Seq[Int],
                                   shards: Int, termKey: String): DataFrame = {
    val parts = shards * math.max(1, tbs.size)
    val slotProbe: Array[Int] = {
      val found = new Array[Int](parts)
      val have = new Array[Boolean](parts)
      var v = 0
      var remaining = parts
      while (remaining > 0) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
        val p = java.lang.Math.floorMod(h, parts)
        if (!have(p)) { have(p) = true; found(p) = v; remaining -= 1 }
        v += 1
      }
      found
    }
    val tbIdx = typedLit(tbs.zipWithIndex.toMap)
    val probes = typedLit(slotProbe.toSeq)
    // a tb outside this wave's tbs would make element_at return NULL and
    // silently route every such row to one partition — fail loudly instead
    // (codegen'd branch, no hot-path cost on valid rows)
    val slot = element_at(tbIdx, col("tb"))
    postings
      .withColumn("pk",
        when(slot.isNull, raise_error(concat(
          lit("postingsShape: tb outside wave tbs: "), col("tb").cast("string"))))
          .otherwise(element_at(probes, slot * shards + col("shard") + 1)))
      .repartition(parts, col("pk"))
      .sortWithinPartitions("tb", "shard", termKey, "doc_id")
      .select("tb", "shard", termKey, "doc_id", "w", "tf")
  }

  private[index] def stage[A](name: String)(f: => A): A = {
    if (!timings) f
    else {
      val t0 = System.nanoTime()
      val a = f
      System.err.println(f"[timing] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }
  }

  /** The Spark local properties that attribute a job to its caller. */
  private val jobProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")

  /** Runs `body` on a pool thread, overlapped with the caller's own work,
    * under the caller's job group, description, tags and scheduler pool.
    * A pool thread keeps the Spark local properties of whichever thread
    * created it, so without this copy `setJobGroup` attribution and
    * `cancelJobGroup` would miss the overlapped jobs.
    */
  private def overlap[A](spark: SparkSession)(body: => A): Future[A] = {
    val sc = spark.sparkContext
    val caller = jobProps.map(k => k -> sc.getLocalProperty(k))
    Future {
      val own = jobProps.map(k => k -> sc.getLocalProperty(k))
      caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }(ExecutionContext.global)
  }

  private def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)

  /** `a` [[overlap]]ped with `b`, both results. `a` is awaited even when
    * `b` fails, so no write of `a` outlives the call.
    */
  private def alongside[A, B](spark: SparkSession)(a: => A)(b: => B): (A, B) = {
    val fa = overlap(spark)(a)
    val rb = try b catch { case e: Throwable => Try(await(fa)); throw e }
    (await(fa), rb)
  }

  def build(spark: SparkSession, docs: DataFrame, dir: String,
            cfg: IndexConfig = IndexConfig()): IndexGlobals = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val freshDocCounts =
      if (!Files.exists(root.resolve("globals.json"))) Some(buildStats(spark, docs, dir, cfg))
      else None
    encode(spark, dir, cfg, freshDocCounts, readTf(spark, dir))
  }

  /** Mutating or resuming an index under a DIFFERENT config identity would
    * silently route postings inconsistently (tf rows carry tb/shard from
    * the old config) — fail fast instead. (IndexCache encodes config in the
    * path; direct build/append/compact/merge calls need this guard.)
    */
  private def checkConfig(index: IndexGlobals, where: String, cfg: IndexConfig,
                          against: String): Unit = {
    val have = IndexConfig.of(index)
    require(have.identity == cfg.identity,
      s"config mismatch: $where has ${have.describe}; $against has ${cfg.describe}")
  }

  /** The postings step every verb ends with: read the committed globals,
    * check them against `cfg`, encode every partition the manifest lacks
    * from `tf`, the index's tf relation (resolved only if needed).
    */
  private def encode(spark: SparkSession, dir: String, cfg: IndexConfig,
                     docCounts: Option[() => Map[(Int, Int), Long]],
                     tf: => DataFrame): IndexGlobals = {
    val g = PostingIndex.readGlobals(spark, dir)
    checkConfig(g, s"index $dir", cfg, "the caller")
    postingsFrom(spark, dir, cfg, g, docCounts, tf)
    g
  }

  /** The rebuild without re-tokenizing that [[append]], [[compact]] and
    * [[merge]] share: stats + globals from the materialized tf relation
    * `tf`, then every posting re-encoded (BM25 bakes N, avgdl and df into
    * each weight, so every old weight is stale). The result is
    * bit-identical to a fresh build over the same corpus.
    */
  private def reencode(spark: SparkSession, dir: String, cfg: IndexConfig,
                       tf: DataFrame, nDocs: Long, sourcePath: String): IndexGlobals = {
    val docCounts = statsFromTf(spark, dir, cfg, tf, nDocs, sourcePath)
    deleteRecursive(Paths.get(dir, "postings"))
    deleteRecursive(Paths.get(dir, "manifest"))
    encode(spark, dir, cfg, Some(docCounts), tf)
  }

  /** INCREMENTAL ingest: append a document batch to an existing index.
    *
    * Incremental by the stage that dominates at web scale: only the NEW
    * batch is scanned and tokenized (on a 100-TB corpus the analysis pass
    * is the build's long pole; the postings re-encode works from the
    * already-materialized tf rows). BM25 bakes GLOBAL statistics
    * (N, avgdl, df) into every posting weight, so appending docs staleness
    * every existing weight — this operator therefore recomputes stats and
    * re-encodes postings exactly, and the result is BIT-IDENTICAL to a
    * from-scratch build over the union corpus (spec'd in IndexSpec).
    * Delta-segment designs that keep old weights drift from the rebuild;
    * that trade-off is deliberately not taken here.
    *
    * Idempotent per `batchId`: the batch's tf lands in its own
    * `tf_appends/batch=<id>` directory (overwritten on re-run) and its doc
    * count upserts into `batches.json` by key, so re-running a crashed
    * append at ANY point converges to the same index. A crash mid-postings
    * can alternatively resume via [[buildPostings]] without re-running the
    * append. Serving reads should point at a finished directory (swap or
    * copy) — mid-append the postings tree is legitimately absent.
    */
  def append(spark: SparkSession, newDocs: DataFrame, dir: String,
             cfg: IndexConfig, batchId: String): IndexGlobals = {
    require(batchId.matches("[A-Za-z0-9._-]+") && batchId != "base",
      s"batchId must be a [A-Za-z0-9._-]+ name other than 'base', got '$batchId'")
    val old = PostingIndex.readGlobals(spark, dir)
    checkConfig(old, s"index $dir", cfg, "the caller")
    // resolved before any write: a tf/ that does not match its declared
    // schema fails the append with the index untouched
    val tfBase = IndexFormat.read(spark, dir, IndexFormat.tf)
    // batch doc counts (token-less docs count toward N and the avgdl
    // denominator, so tf rows alone cannot recover N): keyed upsert —
    // idempotent under re-run. The doclist ledger write yields the count;
    // it runs beside the batch tf write, since each scans only the batch.
    val base = readBatches(dir) match {
      case m if m.isEmpty => Map("base" -> old.nDocs) // first-ever append
      case m => m
    }
    val (n, _) = alongside(spark)(
      stage(s"append:doclist:$batchId")(writeDocList(newDocs, dir, batchId)))(
      stage(s"append:tf-write:$batchId")(termFreqs(newDocs, cfg).write
        .mode(SaveMode.Overwrite).parquet(s"$dir/tf_appends/batch=$batchId")))
    val batches = base + (batchId -> n)
    writeBatches(dir, batches)
    reencode(spark, dir, cfg, withAppends(spark, dir, tfBase), batches.values.sum,
      s"${old.sourcePath}+batch=$batchId")
  }

  /** The materialized tf relation: the base build's rows plus any appended
    * batches (each in its own partition dir under `tf_appends`).
    */
  private[index] def readTf(spark: SparkSession, dir: String): DataFrame =
    withAppends(spark, dir, IndexFormat.read(spark, dir, IndexFormat.tf))

  private def withAppends(spark: SparkSession, dir: String, base: DataFrame): DataFrame =
    if (Files.exists(Paths.get(dir, "tf_appends")))
      base.unionByName(IndexFormat.read(spark, dir, IndexFormat.tfAppends).drop("batch"))
    else base

  /** Writes a batch's doc-id list under `doclist/batch=<name>` and returns
    * its row count (free: an Observation rides the write job). The doclist
    * is the index's membership LEDGER — O(8 B/doc), negligible next to tf —
    * and is what makes [[delete]]+[[compact]] exact even for token-less
    * documents, which never reach tf but count toward N and the avgdl
    * denominator. Overwrite per batch name = idempotent under re-run.
    */
  private def writeDocList(docs: DataFrame, dir: String, batch: String): Long = {
    val obs = new org.apache.spark.sql.Observation(
      s"graft-doclist-${java.util.UUID.randomUUID().toString.take(8)}")
    docs.select(col("docId").as("doc_id"))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/doclist/batch=$batch")
    obs.get("n").asInstanceOf[Long]
  }

  /** The membership ledger if COMPLETE (`(df, exact=true)`) — complete
    * means `batch=base` is present, since the base build always writes it
    * and every append adds its own batch dir. A ledger WITHOUT base happens
    * exactly when a pre-ledger index was appended to by current code: the
    * appended batches are ledgered but the base corpus is not, so treating
    * the partial ledger as authoritative would collapse N to the appended
    * batches alone. In that case (and when no ledger exists at all) fall
    * back to the distinct tf doc ids unioned with any ledgered batches —
    * `exact=false`: token-less BASE docs are invisible to tf, so a
    * pre-ledger index under-counts them ([[compact]] documents the
    * consequence). `tf` is the index's tf relation ([[readTf]]).
    */
  private[index] def readDocIds(spark: SparkSession, dir: String,
                                tf: DataFrame): (DataFrame, Boolean) = {
    val dl = Paths.get(dir, "doclist")
    def ledger = IndexFormat.read(spark, dir, IndexFormat.doclist).select("doc_id")
    if (Files.exists(dl.resolve("batch=base"))) (ledger, true)
    else {
      val tfIds = tf.select("doc_id").distinct()
      val ids = if (Files.exists(dl)) tfIds.unionByName(ledger).distinct() else tfIds
      (ids, false)
    }
  }

  /** Mark documents DELETED — an O(|ids|) tombstone write, no index
    * rewrite. Serving applies the overlay immediately ([[PostingIndex]]
    * skips tombstoned docs at DAAT candidate time, so results never contain
    * them while every surviving doc's score — baked from the pre-delete
    * global statistics — is unchanged). [[compact]] later removes the
    * postings physically and refreshes N/avgdl/df/weights. This is the
    * Lucene-style split: deletes are cheap and immediate, statistics
    * refresh is batched — the only sound shape at 100 TB, where any
    * eager per-delete re-weighting would rewrite the whole index.
    *
    * Idempotent per `deleteId` (overwrite of its own tombstone partition);
    * distinct ids across ALL delete batches are applied.
    */
  def delete(spark: SparkSession, ids: DataFrame, dir: String,
             deleteId: String): Unit = {
    require(deleteId.matches("[A-Za-z0-9._-]+"),
      s"deleteId must be a [A-Za-z0-9._-]+ name, got '$deleteId'")
    val idCol = if (ids.columns.contains("doc_id")) "doc_id" else "docId"
    ids.select(col(idCol).cast("long").as("doc_id")).distinct()
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/tombstones/del=$deleteId")
  }

  /** All tombstoned doc ids (distinct across delete batches), if any. */
  private[index] def readTombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    if (Files.exists(Paths.get(dir, "tombstones")))
      Some(IndexFormat.read(spark, dir, IndexFormat.tombstones).select("doc_id").distinct())
    else None

  /** COMPACT the index: physically remove tombstoned documents, fold any
    * appended tf batches into the base, recompute global statistics and
    * re-encode every posting weight. The result is BIT-IDENTICAL to a
    * from-scratch build over the surviving corpus (spec'd in
    * LifecycleSpec) — same rationale as [[append]]: BM25 bakes (N, avgdl,
    * df) into every weight, so a compaction that kept stale weights would
    * drift from the rebuild.
    *
    * Idempotent and crash-resumable via a two-phase commit: phase A stages
    * the filtered tf/doclist (`.compact_*`) while the live directories stay
    * untouched — a crash there just re-runs phase A — then a
    * `.compact_swap` marker is the commit point, after which phase B
    * (delete tf_appends, wipe-and-move each staging) is pure idempotent
    * file surgery: a resume that sees the marker SKIPS phase A and
    * finishes the swap, so a partially-wiped live dir is re-wiped and
    * re-adopted (never read), tf_appends can never double-count into a
    * re-filter, and an empty half-created doclist dir is replaced. Serving
    * readers should still point at a finished directory — compact a
    * [[cloneIndex]] hardlink clone and swap pointers, exactly like a
    * segment merge.
    *
    * On a pre-ledger index (no `doclist/batch=base`), N falls back to the
    * distinct tf doc ids (plus any ledgered append batches) — exact unless
    * a TOKEN-LESS doc predates the ledger: such docs are invisible to tf,
    * so they DROP OUT of N/avgdl (undercount relative to the from-scratch
    * rebuild) whether tombstoned or not — bounded by the pre-ledger
    * token-less count, warned about at run time, and impossible for
    * ledger-backed indexes.
    */
  def compact(spark: SparkSession, dir: String, cfg: IndexConfig): IndexGlobals = {
    val old = PostingIndex.readGlobals(spark, dir)
    checkConfig(old, s"index $dir", cfg, "the caller")
    val tombs = readTombstones(spark, dir) // resolved before any write
    val hasAppends = Files.exists(Paths.get(dir, "tf_appends"))
    val swapMarker = Paths.get(dir, ".compact_swap")
    if (tombs.isEmpty && !hasAppends && !Files.exists(swapMarker))
      return old // nothing to fold, drop, or finish
    val tfDir = Paths.get(dir, "tf")
    val tfStage = Paths.get(dir, ".compact_tf")
    val dlStage = Paths.get(dir, ".compact_doclist")
    val dlDir = Paths.get(dir, "doclist")
    def finished(p: Path) = Files.exists(p.resolve("_SUCCESS"))
    if (!Files.exists(swapMarker)) {
      // PHASE A (stage): the live tf/doclist/tf_appends are never touched
      // here, so a crash anywhere in this block re-runs it from the intact
      // live state (stale partial stagings are wiped first).
      val tfAll = readTf(spark, dir)
      val tfNew = tombs.fold(tfAll)(t => tfAll.join(t, Seq("doc_id"), "left_anti"))
      val (ids, ledger) = readDocIds(spark, dir, tfAll)
      val keep = tombs.fold(ids)(t => ids.join(t, Seq("doc_id"), "left_anti"))
      deleteRecursive(tfStage)
      deleteRecursive(dlStage)
      // the two stagings are independent and run together; the compacted
      // index always carries a ledger afterwards (tf-derived when the
      // source had none) — compaction UPGRADES pre-ledger indexes
      alongside(spark)(stage("compact:doclist-write")(
        keep.write.mode(SaveMode.Overwrite).parquet(dlStage.toString)))(
        stage("compact:tf-write")(
          tfNew.write.mode(SaveMode.Overwrite).parquet(tfStage.toString)))
      if (!ledger) System.err.println(
        s"[compact] $dir has no complete doclist ledger; N derived from " +
          "distinct tf doc ids (+ ledgered append batches) — pre-ledger " +
          "TOKEN-LESS docs are invisible to tf, so they DROP OUT of N " +
          "(undercount) whether tombstoned or not")
      // COMMIT POINT: from here the staged results are authoritative
      Files.writeString(swapMarker, old.buildId)
    }
    // PHASE B (swap), idempotent under re-run from any crash point:
    // tf_appends goes first (its rows are already folded into the staged
    // tf — leaving it alive into a resume would union it twice), each wipe
    // re-runs fully even if a predecessor died mid-delete, and a staging
    // that was already moved is simply skipped.
    deleteRecursive(Paths.get(dir, "tf_appends"))
    if (finished(tfStage)) {
      deleteRecursive(tfDir)
      Files.move(tfStage, tfDir, StandardCopyOption.ATOMIC_MOVE)
    }
    if (finished(dlStage)) {
      deleteRecursive(dlDir)
      Files.createDirectories(dlDir)
      Files.move(dlStage, dlDir.resolve("batch=base"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    Files.deleteIfExists(swapMarker)
    val newN = IndexFormat.rowCount(dir, IndexFormat.doclist)
    writeBatches(dir, Map("base" -> newN))
    val g = reencode(spark, dir, cfg, readTf(spark, dir), newN, s"${old.sourcePath}~compact")
    deleteRecursive(Paths.get(dir, "tombstones"))
    g
  }

  /** Hardlink clone of an index directory — O(files) metadata ops, zero
    * data copied. Safe because every mutation in this module REPLACES files
    * (staging write + atomic move / SaveMode.Overwrite = unlink + create),
    * never edits in place: deleting or overwriting a link in the clone
    * leaves the source's inodes untouched. Falls back to a real copy on
    * filesystems without hardlinks. This is how a serving deployment
    * runs [[delete]]/[[compact]]/[[append]] against a LIVE index: clone,
    * mutate the clone, swap the serving pointer.
    *
    * `dst` is wiped first, so it must be neither `src` nor inside it nor
    * around it (compared as absolute, normalized paths).
    */
  def cloneIndex(src: String, dst: String): Unit = {
    val s = Paths.get(src).toAbsolutePath.normalize
    val d = Paths.get(dst).toAbsolutePath.normalize
    require(!s.startsWith(d) && !d.startsWith(s),
      s"cloneIndex: source $s and destination $d are the same or nested")
    require(Files.exists(s), s"cloneIndex: source $src does not exist")
    deleteRecursive(d)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        try Files.createLink(t, p)
        catch {
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  /** MERGE two independently built indexes into a new one at `dst` WITHOUT
    * re-tokenizing either corpus — the ops verb that makes parallel partial
    * builds composable at 100 TB: build shards of the corpus as separate
    * indexes on separate schedules (or clusters), then merge, paying only
    * the stats + postings-encode phases over the already-materialized tf
    * relations. BM25 bakes GLOBAL statistics into every posting weight, so
    * a merge re-derives stats and re-encodes postings over the union —
    * the result is BIT-IDENTICAL to a from-scratch build over the union
    * corpus (spec'd in LifecycleSpec), the same exactness contract as
    * [[append]]; segment-concatenation designs that keep stale weights
    * drift from the rebuild and are deliberately not taken.
    *
    * Requirements: identical layout/analyzer config (fail fast otherwise —
    * tf rows carry tb/shard routing from their build config), no pending
    * tombstones on either source (a deleted doc's tf rows are still live
    * until [[compact]]; run compact first), and disjoint doc-id sets
    * (checked by default — a shared id would silently merge two documents'
    * postings; pass checkDisjoint=false to skip the check when the caller
    * guarantees disjointness, e.g. id ranges assigned per partial build).
    * Pending `tf_appends` on a source are fine: [[readTf]] folds them.
    *
    * Crash-safe like [[build]]: the union tf/doclist writes are idempotent
    * overwrites, globals.json commits the stats phase last, and the
    * postings phase resumes from the manifest.
    */
  def merge(spark: SparkSession, srcA: String, srcB: String, dst: String,
            checkDisjoint: Boolean = true): IndexGlobals = {
    val cfg = IndexConfig.of(PostingIndex.readGlobals(spark, srcA))
    checkConfig(PostingIndex.readGlobals(spark, srcB), s"merge source $srcB", cfg,
      s"merge source $srcA")
    Seq(srcA, srcB).foreach(s => require(
      !Files.exists(Paths.get(s, "tombstones")),
      s"merge source $s has pending tombstones; run IndexBuilder.compact first " +
        "(a deleted doc's tf rows are live until compacted and would leak " +
        "into the merged index)"))
    Files.createDirectories(Paths.get(dst))
    // committed stats: a finished dst is a no-op, a crashed one resumes
    if (Files.exists(Paths.get(dst, "globals.json")))
      return encode(spark, dst, cfg, None, readTf(spark, dst))
    val tfA = readTf(spark, srcA)
    val tfB = readTf(spark, srcB)
    val (idsA, exactA) = readDocIds(spark, srcA, tfA)
    val (idsB, exactB) = readDocIds(spark, srcB, tfB)
    if (!(exactA && exactB))
      System.err.println(s"[merge] a source lacks a complete doclist " +
        "ledger; token-less docs of that source drop out of N (the " +
        "compact fallback caveat)")
    if (checkDisjoint)
      require(idsA.join(idsB, "doc_id").isEmpty,
        s"merge sources $srcA and $srcB share doc ids — a shared id " +
          "would silently merge two documents' postings; disambiguate " +
          "ids or pass checkDisjoint=false only with disjoint ranges")
    stage("merge:tf-union")(
      tfA.unionByName(tfB).write.mode(SaveMode.Overwrite).parquet(s"$dst/tf"))
    // stale state from a reused dst dir must not union into the merge
    resetCorpusState(dst)
    val n = stage("merge:doclist")(
      writeDocList(idsA.unionByName(idsB).select(col("doc_id").as("docId")),
        dst, "base"))
    reencode(spark, dst, cfg, readTf(spark, dst), n, s"merge($srcA, $srcB)")
  }

  /** Removes the appended batches, ledger, tombstones and batch counts a
    * reused directory may hold, so a fresh corpus' stats never union them.
    */
  private def resetCorpusState(dir: String): Unit = {
    deleteRecursive(Paths.get(dir, "tf_appends"))
    deleteRecursive(Paths.get(dir, "doclist"))
    deleteRecursive(Paths.get(dir, "tombstones"))
    Files.deleteIfExists(Paths.get(dir, "batches.json"))
  }

  /** The tf relation of `docs` with its (tb, shard) routing columns. */
  private def termFreqs(docs: DataFrame, cfg: IndexConfig): DataFrame =
    RelationalBM25.termFreqsWithDl(docs, cfg.stem)
      .withColumn("tb", tbUdf(cfg.termBuckets)(col("term")))
      .withColumn("shard", shardUdf(cfg.shards)(col("doc_id")))

  private def tbUdf(buckets: Int) = udf((t: String) => IndexFormat.termBucket(t, buckets))
  private def shardUdf(shards: Int) = udf((d: Long) => IndexFormat.docShard(d, shards))

  /** Stage 1: materialize (doc_id, term, tf, shard) partitioned by tb, the
    * per-term stats, and globals.json (committed last = stage marker).
    *
    * Job overlap is the point of this method's shape, and of the same
    * stats step in [[reencode]] (a 2-vs-8-core pinned profile showed the
    * 8-core level idling at 80% utilization on stage tails while the
    * 2-core level ran at 93% — the serial job chain, not any one stage,
    * was the Amdahl floor):
    *
    *   - the doc-id ledger scan (independent of tf) runs CONCURRENTLY with
    *     the tf materialization instead of after it (in [[append]] the
    *     batch's ledger and tf writes, in [[compact]] the two stagings);
    *   - the corpus token total rides the stats write as an [[Observation]]
    *     (zero extra jobs) instead of coming from the partition-docs agg;
    *   - the per-(tb, shard) doc-count agg — needed only for the manifest
    *     records at the END of each postings wave — is kicked off as a
    *     background future and returned as a THUNK, so it overlaps the
    *     stats write and the whole encode stage. [[buildPostings]] awaits
    *     it at the first wave's commit.
    *
    * Overlapped jobs run under the caller's job group ([[overlap]]). The
    * counts are handed over in memory only: they reach disk as the
    * manifest records' `docs`, and a resume that finds committed globals
    * recomputes them for the partitions it re-encodes ([[buildPostings]]).
    */
  def buildStats(spark: SparkSession, docs: DataFrame, dir: String,
                 cfg: IndexConfig): () => Map[(Int, Int), Long] = {
    // a FRESH base build invalidates any previously appended batches and
    // delete markers — stale tf_appends/doclist/tombstones left in a reused
    // directory must not union into the new corpus' stats. Deleted BEFORE
    // any job starts: the concurrent doclist write below must not race the
    // removal of its stale predecessor.
    resetCorpusState(dir)

    // doc-id ledger ∥ tf-write: both scan the corpus, neither needs the
    // other; the ledger job fills executor slots the tf stage's straggler
    // tail leaves idle. The tf write is one shuffle-free pass, (doc_id,
    // term, tf, dl) + routing columns, in a plain layout (no partitionBy):
    // tf is always read whole; a dynamic partition write here only
    // multiplies small files and commit time.
    val (nDocs, _) = alongside(spark)(stage("stats:doclist")(writeDocList(docs, dir, "base")))(
      stage("stats:tf-write")(
        termFreqs(docs, cfg).write.mode(SaveMode.Overwrite).parquet(s"$dir/tf")))

    val sourcePath = docs.queryExecution.analyzed.collectLeaves().headOption
      .map(_.simpleString(60)).getOrElse("inline")
    statsFromTf(spark, dir, cfg, readTf(spark, dir), nDocs, sourcePath)
  }

  /** Stats + globals from the MATERIALIZED tf relation `tf` (base + batch
    * dirs) — [[buildStats]]' second half and the first half of
    * [[reencode]]. `nDocs` is the total doc count (token-less docs never
    * reach tf but count toward N and the avgdl denominator). Returns the
    * in-flight partition doc counts as a thunk (see [[buildStats]]).
    */
  private def statsFromTf(spark: SparkSession, dir: String, cfg: IndexConfig,
                          tf: DataFrame, nDocs: Long,
                          sourcePath: String): () => Map[(Int, Int), Long] = {
    val partDocsF = overlap(spark)(stage("stats:partition-docs")(partDocCounts(tf)))
    writeStats(spark, dir, cfg, tf, nDocs, sourcePath)
    () => await(partDocsF)
  }

  /** The distinct docs per (tb, shard) of `tf`, the manifest records'
    * `docs`; <= shards*termBuckets rows, collected once. Two-phase instead
    * of countDistinct: the distinct-on-doc_id shuffle would move all 11M+
    * tf rows. The (tb, shard, doc_id) distinct first partial-aggregates
    * map-side (docs emit their terms contiguously, so partial agg
    * collapses ~all duplicates before the shuffle), then the tiny second
    * agg counts rows.
    */
  private def partDocCounts(tf: DataFrame): Map[(Int, Int), Long] =
    tf.select("tb", "shard", "doc_id").distinct()
      .groupBy("tb", "shard").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  /** Per-term stats parquet + globals.json (the stats-stage commit
    * marker); returns the committed globals.
    */
  private def writeStats(spark: SparkSession, dir: String, cfg: IndexConfig,
                         tfBack: DataFrame, nDocs: Long,
                         sourcePath: String): IndexGlobals = {
    // idf via the same JVM function as the single-node oracle (BM25.idf) so
    // baked weights are bit-identical to oracle math (SURVEY.md §7.6.1) —
    // Catalyst's log may differ from Math.log by an ulp.
    val n = nDocs.toDouble
    val idfUdf = udf((df: Long) => BM25.idf(n, df.toDouble))
    // vocabulary size and token total (sum of a Long column — exact;
    // coalesce: a sum over zero rows is null) observed DURING the stats
    // write — a read-back count is a whole extra job of pure serial time
    val obs = new org.apache.spark.sql.Observation(
      s"graft-vocab-${java.util.UUID.randomUUID().toString.take(8)}")
    stage("stats:stats-write")(tfBack.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tokens"))
      .observe(obs, count(lit(1)).as("n"), coalesce(sum(col("tokens")), lit(0L)).as("tokens"))
      .select(col("term"), col("df"), idfUdf(col("df")).as("idf"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/stats"))
    val vocabSize = stage("stats:vocab-count")(obs.get("n").asInstanceOf[Long])
    val totalTokens = obs.get("tokens").asInstanceOf[Long]
    val avgdl = if (nDocs == 0) 0.0 else totalTokens.toDouble / nDocs

    val g = IndexGlobals(
      buildId = java.util.UUID.randomUUID().toString,
      sourcePath = sourcePath,
      nDocs = nDocs, totalTokens = totalTokens, avgdl = avgdl,
      vocabularySize = vocabSize,
      shards = cfg.shards, termBuckets = cfg.termBuckets,
      blockSize = cfg.blockSize, k1 = cfg.params.k1, b = cfg.params.b,
      stem = cfg.stem)
    writeGlobals(dir, g)
    g
  }

  /** Stage 2: compute weights, encode blocks, commit per-(tb, shard).
    *
    * `freshDocCounts` is a THUNK so a fresh build's deferred partition-docs
    * future ([[buildStats]]) is awaited only where its result is consumed —
    * the manifest commit at the end of the first wave — letting that agg
    * overlap the encode stage. `lazy val` memoizes the await across waves.
    * Without it (a resume: the counts are never persisted apart from the
    * manifest records) the same aggregation starts here, over only the
    * partitions the manifest lacks, overlapped with the first wave.
    */
  def buildPostings(spark: SparkSession, dir: String, cfg: IndexConfig,
                    g: IndexGlobals,
                    freshDocCounts: Option[() => Map[(Int, Int), Long]] = None): Unit =
    postingsFrom(spark, dir, cfg, g, freshDocCounts, readTf(spark, dir))

  /** [[buildPostings]] over `tf`, the index's tf relation, resolved once
    * and only when a partition is missing; the stats table is resolved
    * once, at the first wave with work to do.
    */
  private def postingsFrom(spark: SparkSession, dir: String, cfg: IndexConfig,
                           g: IndexGlobals,
                           freshDocCounts: Option[() => Map[(Int, Int), Long]],
                           tf: => DataFrame): Unit = {
    val committed0 = Manifest.committed(dir)
    val all = for (t <- 0 until cfg.termBuckets; s <- 0 until cfg.shards) yield (t, s)
    if (all.forall(committed0)) return
    // Commit in waves (groups of term buckets): a killed build keeps every
    // completed wave's partitions and resumes from the first incomplete one
    // — incremental granularity the stage-level write alone can't give.
    // commitWaves trades kill granularity against per-wave job overhead.
    val waves = math.max(1, math.min(cfg.commitWaves, cfg.termBuckets))
    val tfAll = tf
    lazy val stats = IndexFormat.read(spark, dir, IndexFormat.stats)
    // per-partition distinct-doc counts for the manifest records: the
    // stats stage's in-flight aggregation when it ran in this call, else
    // (a resume onto committed globals) the same aggregation over only the
    // partitions still to encode, overlapped with the first wave
    val pendingCounts = freshDocCounts.getOrElse {
      val f = overlap(spark)(stage("postings:doc-counts")(
        partDocCounts(without(tfAll, committed0.toSeq))))
      () => await(f)
    }
    lazy val docCounts = pendingCounts()
    (0 until waves).foreach { w =>
      val tbsInWave = (0 until cfg.termBuckets).filter(_ % waves == w)
      val committed = Manifest.committed(dir)
      val missing = all.filter(p => tbsInWave.contains(p._1) && !committed(p))
      if (missing.nonEmpty)
        buildPostingsWave(spark, dir, cfg, g, w, tbsInWave, missing, committed,
          tfAll, stats, () => docCounts)
    }
  }

  /** `tf` without the rows of the (tb, shard) partitions `parts`. */
  private def without(tf: DataFrame, parts: Seq[(Int, Int)]): DataFrame =
    if (parts.isEmpty) tf
    else tf.filter(!struct(col("tb"), col("shard")).isin(
      parts.map(p => struct(lit(p._1), lit(p._2))): _*))

  private def buildPostingsWave(spark: SparkSession, dir: String, cfg: IndexConfig,
                                g: IndexGlobals, wave: Int, tbsInWave: Seq[Int],
                                missing: Seq[(Int, Int)],
                                committed: Set[(Int, Int)],
                                tf0: DataFrame, stats: DataFrame,
                                docCounts: () => Map[(Int, Int), Long]): Unit = {
    import spark.implicits._
    val waveCommitted = committed.filter(p => tbsInWave.contains(p._1)).toSeq
    val tf = without(tf0.filter(col("tb").isin(tbsInWave: _*)), waveCommitted)
    val params = cfg.params
    val avgdl = g.avgdl
    val blockSize = cfg.blockSize
    // One shuffle partition per (tb, shard): every encode task then writes
    // into exactly ~one output directory, so the dynamic-partition commit
    // moves O(partitions) files instead of O(partitions * tasks) — this was
    // the dominant serial cost at bench scale. Hot terms are still split
    // by shard; within a partition the sort keeps (tb, shard, term) groups
    // contiguous and docId-ordered for the streaming encoder. The 1:1
    // key-to-partition routing lives in [[postingsShape]].
    val acc = new PartCounters
    spark.sparkContext.register(acc, s"graft-part-counters-w$wave")
    val waveStatsDf = stats
      .filter(tbUdf(cfg.termBuckets)(col("term")).isin(tbsInWave: _*))
      .select("term", "idf")
    // The wave's vocabulary share: term buckets are hash buckets, so each
    // wave's share concentrates tightly around vocab * |tbs| / termBuckets
    // (relative deviation ~1/sqrt(share) — negligible at any size where the
    // threshold matters). Estimating from globals costs zero extra jobs.
    val waveVocabEst =
      g.vocabularySize * math.max(1, tbsInWave.size) / math.max(1, cfg.termBuckets)
    val dictPath = waveVocabEst <= cfg.maxDictTerms
    lastWaveUsedDict = dictPath
    val (shaped, dict) = if (dictPath) {
      // Wave-local term DICTIONARY (term -> dense id + idf), broadcast once:
      // the postings shuffle then moves an int per row instead of the raw
      // term string — on a realistic long-tail vocabulary (unique
      // identifiers) the string column dominated shuffle bytes and the
      // within-partition sort compared long strings. The dict also replaces
      // the per-term stats JOIN with a map-side lookup. Terms are restored
      // from the broadcast inverse table inside the encode task, so the
      // on-disk format is unchanged.
      val waveStats = stage(s"postings:dict:tb=$wave")(waveStatsDf.collect())
      val termToId = new java.util.HashMap[String, Integer](waveStats.length * 2)
      val idToTerm = new Array[String](waveStats.length)
      val idToIdf = new Array[Double](waveStats.length)
      var ti = 0
      while (ti < waveStats.length) {
        val r = waveStats(ti)
        termToId.put(r.getString(0), ti)
        idToTerm(ti) = r.getString(0)
        idToIdf(ti) = r.getDouble(1)
        ti += 1
      }
      val bDict = spark.sparkContext.broadcast((termToId, idToTerm, idToIdf))
      // weight via BM25.weight (same JVM ops as the oracle — bit-exactness);
      // dl rides on every tf row (computed row-locally in the stats pass)
      val tidUdf = udf((term: String) => bDict.value._1.get(term).intValue())
      val wUdf = udf((tid: Int, tf: Long, dlv: Long) =>
        BM25.weight(tf.toDouble, dlv.toDouble, avgdl, bDict.value._3(tid), params))
      // The sort key is the DICTIONARY id; ids are assigned in stats-row
      // order, which is arbitrary but a bijection with terms, so per-term
      // grouping (all the encoder needs) is preserved and the sort compares
      // ints, not strings. The null term is added after the shuffle.
      (postingsShape(tf
        .withColumn("tid", tidUdf(col("term")))
        .select(col("tb"), col("shard"), col("tid"), col("doc_id"), col("tf"),
          wUdf(col("tid"), col("tf"), col("dl")).as("w")),
        tbsInWave, cfg.shards, "tid").withColumn("term", lit(null).cast("string")),
        Some(bDict))
    } else {
      // LARGE-VOCABULARY FALLBACK: the wave's dictionary would exceed
      // maxDictTerms (a 100-TB code corpus has ~10^9 identifiers — a
      // driver collect would OOM silently). Degrade to the shuffle
      // stats-join path: idf arrives by an equi-join on term (no driver
      // state of any size), the shuffle carries the term string, and the
      // within-partition sort compares strings. Strictly slower per row
      // than the dictionary path, never wrong, never memory-unsafe.
      val wUdf = udf((tf: Long, dlv: Long, idf: Double) =>
        BM25.weight(tf.toDouble, dlv.toDouble, avgdl, idf, params))
      (postingsShape(tf
        .join(waveStatsDf, "term")
        .select(col("tb"), col("shard"), col("term"), col("doc_id"), col("tf"),
          wUdf(col("tf"), col("dl"), col("idf")).as("w")),
        tbsInWave, cfg.shards, "term").withColumn("tid", lit(0)),
        None)
    }
    // primitive-field case class: a tuple here boxes every value per row —
    // GC drag at 11M+ rows per wave
    val blocks: Dataset[BlockRow] = shaped.as[PostingRow].mapPartitions { rows =>
      new BlockEncodeIterator(rows, blockSize, acc, dict.map(_.value._2).orNull)
    }

    val staging = s"$dir/.staging-postings-$wave"
    stage(s"postings:encode-write:tb=$wave")(blocks.write.mode(SaveMode.Overwrite)
      .partitionBy("tb", "shard").parquet(staging))

    // Atomic per-partition adoption: move each produced tb=X/shard=Y dir
    // into the final tree, then write its manifest record with counters
    // derived from the committed files (cheap: block-metadata columns only).
    val stagingPath = Paths.get(staging)
    val produced = listPartitionDirs(stagingPath)
    stage("postings:adopt")(produced.foreach { case (t, s, p) =>
      val dest = Paths.get(dir, "postings", s"tb=$t", s"shard=$s")
      Files.createDirectories(dest.getParent)
      deleteRecursive(dest)
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
    })
    // Partitions in `missing` with no produced dir are empty but complete.
    // Counters come from the encode-task accumulator — no index re-read.
    val counters = acc.value
    val dc = docCounts() // awaits the in-flight partition-docs agg
    missing.foreach { case (t, s) =>
      val (terms, posts, bytes) = counters.getOrElse((t, s), (0L, 0L, 0L))
      Manifest.commit(dir, t, s, dc.getOrElse((t, s), 0L), terms, posts,
        bytes, g.buildId)
    }
    deleteRecursive(stagingPath)
  }

  /** Streaming block encoder over [[PostingRow]]s that arrive clustered by
    * (tb, shard, term key) and docId-sorted within a term (guaranteed by
    * [[postingsShape]]). Holds at most one block in memory — a hot term
    * never materializes its full list. The term key is the row's `tid`
    * with `idToTerm` (dictionary path; the term string is restored once
    * per block, not per posting) or its `term` with `idToTerm` null (the
    * large-vocabulary fallback, where `tid` is constant).
    */
  private final class BlockEncodeIterator(
      rows: Iterator[PostingRow], blockSize: Int,
      acc: PartCounters, idToTerm: Array[String])
      extends Iterator[BlockRow] {
    private var cur: PostingRow = _
    private var hasCur = false
    private var blockId = 0L
    private val docs = new Array[Long](blockSize)
    private val wts = new Array[Double](blockSize)
    private val tfs = new Array[Long](blockSize)
    private def advance(): Unit = { hasCur = rows.hasNext; if (hasCur) cur = rows.next() }
    advance()

    private def sameKey(tb: Int, shard: Int, tid: Int, term: String): Boolean =
      hasCur && cur.tb == tb && cur.shard == shard && cur.tid == tid && cur.term == term

    override def hasNext: Boolean = hasCur

    override def next(): BlockRow = {
      val tb = cur.tb
      val shard = cur.shard
      val tid = cur.tid
      val key = cur.term
      var n = 0
      var maxW = Double.NegativeInfinity
      while (n < blockSize && sameKey(tb, shard, tid, key)) {
        docs(n) = cur.doc_id; wts(n) = cur.w; tfs(n) = cur.tf
        if (cur.w > maxW) maxW = cur.w
        n += 1
        advance()
      }
      val id = blockId
      blockId = if (sameKey(tb, shard, tid, key)) blockId + 1 else 0L
      val docsBin = Codec.encodeDocIds(java.util.Arrays.copyOf(docs, n))
      val wtsBin = Codec.encodeDoubles(java.util.Arrays.copyOf(wts, n))
      val tfsBin = Codec.encodeVarLongs(java.util.Arrays.copyOf(tfs, n))
      // manifest quartet: a term counts once (its block 0), postings by n
      acc.add(((tb, shard), (if (id == 0L) 1L else 0L, n.toLong,
        (docsBin.length + wtsBin.length + tfsBin.length).toLong)))
      val term = if (idToTerm == null) key else idToTerm(tid)
      BlockRow(tb, shard, term, id, n, docs(n - 1), maxW, docsBin, wtsBin, tfsBin)
    }
  }

  /** batches.json: one line per ingested batch (base build + appends) with
    * its TOTAL doc count (incl. token-less docs) — local JSON-lines,
    * upserted by batch key so appends are idempotent.
    */
  private[index] def writeBatches(dir: String, m: Map[String, Long]): Unit =
    replaceString(Paths.get(dir, "batches.json"), m.toSeq.sortBy(_._1).map { case (b, n) =>
      mapper.writeValueAsString(mapper.createObjectNode().put("batch", b).put("docs", n))
    }.mkString("", "\n", "\n"))

  private[index] def readBatches(dir: String): Map[String, Long] = {
    val p = Paths.get(dir, "batches.json")
    Json.lines(p).map { o =>
      Json.field(o, "batch", p)(_.isTextual).textValue ->
        Json.field(o, "docs", p)(_.isIntegralNumber).longValue
    }.toMap
  }

  // --- small fs helpers ----------------------------------------------------

  /** REPLACE a small local JSON file: write-to-temp + atomic rename, never
    * truncate-in-place. In-place truncation would write THROUGH a shared
    * inode — mutating every [[cloneIndex]] hardlink sibling of the file
    * (caught by LifecycleSpec's clone-isolation gate) — and a crash
    * mid-write would leave a torn file where a marker (globals.json) must
    * be all-or-nothing.
    */
  private[index] def replaceString(p: Path, body: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def listPartitionDirs(staging: Path): Seq[(Int, Int, Path)] = {
    if (!Files.exists(staging)) return Seq.empty
    val out = Seq.newBuilder[(Int, Int, Path)]
    Files.list(staging).forEach { tbDir =>
      val tn = tbDir.getFileName.toString
      if (tn.startsWith("tb=")) {
        val t = tn.stripPrefix("tb=").toInt
        Files.list(tbDir).forEach { sDir =>
          val sn = sDir.getFileName.toString
          if (sn.startsWith("shard=")) out += ((t, sn.stripPrefix("shard=").toInt, sDir))
        }
      }
    }
    out.result()
  }

  private def deleteRecursive(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
  }

  def writeGlobals(dir: String, g: IndexGlobals): Unit =
    replaceString(Paths.get(dir, "globals.json"), mapper.writeValueAsString(
      mapper.createObjectNode().put("buildId", g.buildId).put("sourcePath", g.sourcePath)
        .put("nDocs", g.nDocs).put("totalTokens", g.totalTokens).put("avgdl", g.avgdl)
        .put("vocabularySize", g.vocabularySize).put("shards", g.shards)
        .put("termBuckets", g.termBuckets).put("blockSize", g.blockSize)
        .put("k1", g.k1).put("b", g.b).put("stem", g.stem)))

  // --- positional sidecar ---------------------------------------------------

  /** OPTIONAL positional sidecar for index `dir`: per (term, doc), the
    * ascending positions of the term in the document's ANALYZED token
    * stream — the same stream phrase semantics are defined over — encoded
    * with the posting codec's delta+varint form. Gives
    * [[PostingIndex.searchPhraseRounded]] an index-native path: adjacency
    * verifies against position lists of the PHRASE TERMS ONLY instead of
    * re-analyzing candidate documents (no content hydration at any scale).
    *
    * Layout: `positions/data` partitioned by tb (directory pruning per
    * query) with rows sorted (term, doc_id) inside each partition (parquet
    * min/max row-group pruning on `term`), plus `positions/meta.json`
    * binding the sidecar to the index's current buildId — written LAST as
    * the commit marker. Append/compact change the buildId, so a stale
    * sidecar is detected structurally and phrase search falls back to
    * candidate re-analysis; re-running this (idempotent Overwrite) renews
    * it. Kept OUT of the posting blocks on purpose: OR/AND scoring never
    * pays for position bytes, and the sidecar builds/drops independently.
    *
    * Scale: one narrow analyze pass over the corpus + ONE shuffle by tb;
    * sidecar bytes ~ 1-2 B per analyzed token occurrence (varint gaps).
    */
  def buildPositions(spark: SparkSession, docs: DataFrame, dir: String): Unit = {
    val g = PostingIndex.readGlobals(spark, dir)
    val an = graft.analysis.Analyzer.of(g.stem)
    val posUdf = udf((text: String) => {
      val ts = an.analyze(text)
      val m = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      var i = 0
      while (i < ts.length) {
        m.getOrElseUpdate(ts(i),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += i.toLong
        i += 1
      }
      // ascending positions -> the docId delta+varint codec applies as-is
      m.iterator.map { case (t, ps) =>
        (t, ps.length, Codec.encodeDocIds(ps.toArray))
      }.toSeq
    })
    docs.select(col("docId").as("doc_id"), explode(posUdf(col("content"))).as("p"))
      .select(col("p._1").as("term"), col("doc_id"),
        col("p._2").as("npos"), col("p._3").as("pos_bin"))
      .withColumn("tb", tbUdf(g.termBuckets)(col("term")))
      .repartition(g.termBuckets, col("tb"))
      .sortWithinPartitions("tb", "term", "doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("tb")
      .parquet(s"$dir/positions/data")
    replaceString(Paths.get(dir, "positions", "meta.json"),
      mapper.writeValueAsString(mapper.createObjectNode().put("buildId", g.buildId)))
  }
}
