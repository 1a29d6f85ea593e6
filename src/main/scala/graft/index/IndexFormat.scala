package graft.index

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types._

import graft.search.BM25Params

/** On-disk layout of the inverted index (SURVEY.md §7.1/§7.5):
  *
  * {{{
  * <dir>/
  *   globals.json                   build lineage, corpus stats (N, avgdl,
  *                                  ...) and the config identity; written
  *                                  last by the stats stage (its commit marker)
  *   stats/                         parquet: (term, df, idf) — A1/A3/A5 surface
  *   tf/                            parquet, unpartitioned: (doc_id, term, tf,
  *                                  dl, tb, shard) — the materialized
  *                                  stats-stage output every rebuild starts from
  *   tf_appends/batch=<id>/         parquet: an appended batch's tf rows, same
  *                                  columns (compact folds them into tf/)
  *   doclist/batch=<id>/            parquet: (doc_id) — the membership ledger,
  *                                  one dir per ingested batch (`batch=base`
  *                                  for the base build or a compact)
  *   batches.json                   JSON lines (batch, docs): each batch's
  *                                  total doc count, token-less docs included
  *   tombstones/del=<id>/           parquet: (doc_id) — deleted docs, served
  *                                  as an overlay until compact removes them
  *   postings/tb=X/shard=Y/         parquet posting-block segments ([[BlockRow]])
  *   manifest/tb-X-shard-Y.json     per-partition commit record + counters
  *   positions/data/tb=X/           optional positional sidecar: (term,
  *                                  doc_id, npos, pos_bin)
  *   positions/meta.json            the sidecar's buildId (its commit marker)
  *   .staging-postings-<wave>/      a postings wave's write before each
  *                                  partition's atomic adoption
  *   .compact_tf/ .compact_doclist/ compact's staged tf and ledger
  *   .compact_swap                  compact's commit point (staged results
  *                                  are authoritative while it exists)
  * }}}
  *
  * Every parquet table above has a declared schema in [[IndexFormat]]
  * (`tf`, `tfAppends`, `stats`, `doclist`, `tombstones`, `postings`,
  * `positions`), and the engine reads them only through
  * [[IndexFormat.read]], never by schema inference.
  *
  * **Sharding model.** The serving index is *document-sharded*: `shard` is a
  * hash of docId, so every shard holds complete posting lists for its
  * document subset, with BM25 weights baked from *global* (df, avgdl)
  * statistics. Each shard can therefore run top-k WAND independently and a
  * global top-k is the merge of shard top-ks — the property per-term
  * partitioning cannot give (a document's score would be split across
  * term partitions, making threshold pruning unsound). Doc-sharding is also
  * the skew mechanism (SURVEY.md §4 item 3): a stopword-ish hot term with
  * df ~ N is automatically split into `shards` docId-disjoint,
  * internally-sorted sub-lists — the "salted two-stage merge" and the shard
  * layout are the same thing here, with the merge replaced by shard
  * independence.
  *
  * `tb` (term bucket) gives directory-level pruning on the query axis: a
  * query touches only `tb` dirs owning its terms, times all shards.
  *
  * Posting blocks: ≤ blockSize docId-sorted postings, docIds delta+varint,
  * weights raw LE doubles, per-block max_doc (seek skipping) and max_w
  * (WAND upper bounds).
  */
final case class IndexConfig(
    shards: Int = 32,
    termBuckets: Int = 8,
    blockSize: Int = 128,
    params: BM25Params = BM25Params(),
    stem: Boolean = true,
    commitWaves: Int = 2,
    /** Largest wave vocabulary the builder will dictionary-encode via a
      * driver-collected broadcast map (~150 B/term of driver+executor heap:
      * 1M ≈ 150 MB). A wave whose estimated vocabulary exceeds this falls
      * back automatically to the shuffle stats-join encode path, which
      * never collects the vocabulary anywhere — slower per row, but safe at
      * any vocabulary size (a 100-TB code corpus has ~10^9 identifiers).
      * Execution knob only: both paths produce identical index content, so
      * it is deliberately NOT part of [[identity]].
      */
    maxDictTerms: Long = 1000000L) {

  /** The fields that fix an index's content: layout, analyzer and BM25
    * parameters. Two configs with the same identity build the same index;
    * `commitWaves` and `maxDictTerms` only choose how it is built.
    */
  private[index] def identity: (Int, Int, Int, Boolean, BM25Params) =
    (shards, termBuckets, blockSize, stem, params)

  private[index] def describe: String =
    s"(shards=$shards, tb=$termBuckets, blockSize=$blockSize, stem=$stem, " +
      s"k1=${params.k1}, b=${params.b})"
}

object IndexConfig {
  /** The config an index was built with, as recorded in its globals.json;
    * the execution knobs take their defaults.
    */
  def of(g: IndexGlobals): IndexConfig =
    IndexConfig(shards = g.shards, termBuckets = g.termBuckets,
      blockSize = g.blockSize, params = BM25Params(g.k1, g.b), stem = g.stem)
}

final case class IndexGlobals(
    buildId: String,
    sourcePath: String,
    nDocs: Long,
    totalTokens: Long,
    avgdl: Double,
    vocabularySize: Long,
    shards: Int,
    termBuckets: Int,
    blockSize: Int,
    k1: Double,
    b: Double,
    stem: Boolean)

/** Shuffled posting row consumed by the block encoder. The term key is
  * `tid` (a broadcast-dictionary id; `term` is null) on the dictionary
  * encode path and `term` (`tid` is 0) on the large-vocabulary fallback.
  * Primitive fields on purpose: the deserializer then calls the
  * constructor with unboxed values, where a tuple would box every field
  * per row (11M+ rows per wave).
  */
final case class PostingRow(
    tb: Int,
    shard: Int,
    tid: Int,
    term: String,
    doc_id: Long,
    w: Double,
    tf: Long)

/** One of the index's own parquet tables: its directory under the index
  * root and its declared schema, with the partition columns last, as
  * Spark reads them.
  */
final case class IndexTable(path: String, schema: StructType, partitionCols: Seq[String])

/** One posting block row as stored in parquet. */
final case class BlockRow(
    tb: Int,
    shard: Int,
    term: String,
    block_id: Long,
    n: Int,
    max_doc: Long,
    max_w: Double,
    docs_bin: Array[Byte],
    wts_bin: Array[Byte],
    tfs_bin: Array[Byte])

object IndexFormat {
  /** Term -> directory bucket. String.hashCode is pinned by the JLS, so this
    * is stable across JVMs/executors.
    */
  @inline def termBucket(term: String, buckets: Int): Int =
    math.floorMod(term.hashCode, buckets)

  /** docId -> shard via a 64-bit mix (docIds may be sequential or hashed). */
  @inline def docShard(docId: Long, shards: Int): Int = {
    val h = docId * 0x9E3779B97F4A7C15L
    math.floorMod((h ^ (h >>> 32)).toInt, shards)
  }

  // --- declared schemas ----------------------------------------------------
  // Nullable throughout: Spark reads every file-source column as nullable.

  private def table(path: String, partitionCols: String*)(cols: (String, DataType)*) =
    IndexTable(path, StructType(cols.map { case (n, t) => StructField(n, t) }), partitionCols)

  val tf: IndexTable = table("tf")("doc_id" -> LongType, "term" -> StringType,
    "tf" -> LongType, "dl" -> LongType, "tb" -> IntegerType, "shard" -> IntegerType)
  val tfAppends: IndexTable =
    IndexTable("tf_appends", tf.schema.add("batch", StringType), Seq("batch"))
  val stats: IndexTable =
    table("stats")("term" -> StringType, "df" -> LongType, "idf" -> DoubleType)
  val doclist: IndexTable =
    table("doclist", "batch")("doc_id" -> LongType, "batch" -> StringType)
  val tombstones: IndexTable =
    table("tombstones", "del")("doc_id" -> LongType, "del" -> StringType)
  /** [[BlockRow]]'s fields, with its partition columns (tb, shard) last. */
  val postings: IndexTable = {
    val (parts, data) = Encoders.product[BlockRow].schema.fields.toSeq
      .partition(f => f.name == "tb" || f.name == "shard")
    IndexTable("postings", StructType((data ++ parts).map(_.copy(nullable = true))),
      parts.map(_.name))
  }
  val positions: IndexTable = table("positions/data", "tb")("term" -> StringType,
    "doc_id" -> LongType, "npos" -> IntegerType, "pos_bin" -> BinaryType, "tb" -> IntegerType)

  /** Reads table `t` of index `dir` by its declared schema. Spark still
    * lists the files, but starts no schema-inference job (on a 4-core host
    * one such job made a read cost 110-155 ms instead of 21-27 ms).
    *
    * A declared schema would read a column the files lack as nulls, so
    * [[check]] first compares it against the files' own footers and fails
    * loudly instead. Resolve a table once per operation and reuse the
    * DataFrame: it is a snapshot of the files listed here.
    */
  def read(spark: SparkSession, dir: String, t: IndexTable): DataFrame = {
    check(dir, t)
    spark.read.schema(t.schema).parquet(Paths.get(dir, t.path).toString)
  }

  /** Fails, naming the table, the column and the file, when a data file of
    * `t` lacks a declared column or holds it with another type. Reads one
    * parquet footer per first-level directory (per batch, delete or term
    * bucket: the unit one write produced) on the driver; starts no Spark
    * job. A table with no data files passes.
    */
  private def check(dir: String, t: IndexTable): Unit = {
    val declared = t.schema.filterNot(f => t.partitionCols.contains(f.name))
    sampleFiles(Paths.get(dir, t.path), t.partitionCols.nonEmpty).foreach { file =>
      val held = footerSchema(file)
      declared.foreach { d =>
        held.find(_.name == d.name) match {
          case None => throw new IllegalArgumentException(
            s"index table ${t.path}/ lacks column ${d.name} " +
              s"(declared ${d.dataType.simpleString}) in $file")
          case Some(h) if h.dataType != d.dataType => throw new IllegalArgumentException(
            s"index table ${t.path}/ holds column ${d.name} as " +
              s"${h.dataType.simpleString}, declared ${d.dataType.simpleString}, in $file")
          case _ =>
        }
      }
    }
  }

  /** The row count of table `t` of index `dir`, summed from its data
    * files' parquet footers on the driver: starts no Spark job, and reads
    * the files [[read]] reads (equal to its `count()`).
    */
  def rowCount(dir: String, t: IndexTable): Long = {
    val root = Paths.get(dir, t.path)
    if (!Files.isDirectory(root)) 0L
    else dataFiles(root).map(footer(_)(_.getBlocks.asScala.map(_.getRowCount).sum)).sum
  }

  /** The parquet files Spark reads at `root`, in path order: `root`
    * itself when it is a file, else its data files ([[isDataFile]]).
    */
  private[graft] def dataFiles(root: Path): Seq[Path] =
    if (Files.isRegularFile(root)) Seq(root)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(isDataFile(root)).toList.sorted
      finally s.close()
    }

  /** A parquet file Spark reads: no part of its path below `root` is
    * hidden (starts with `_` or `.`, as a crashed write's `_temporary/` does).
    */
  private def isDataFile(root: Path)(p: Path): Boolean =
    p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p) &&
      root.relativize(p).iterator().asScala.map(_.toString)
        .forall(n => !n.startsWith("_") && !n.startsWith("."))

  /** One data file of `root`, or of each of its first-level directories
    * when the table is partitioned.
    */
  private def sampleFiles(root: Path, partitioned: Boolean): Seq[Path] = {
    def first(d: Path): Option[Path] = {
      val s = Files.walk(d)
      try s.filter(isDataFile(root)(_)).findFirst().toScala finally s.close()
    }
    if (!Files.isDirectory(root)) Seq.empty
    else if (!partitioned) first(root).toSeq
    else {
      val s = Files.list(root)
      try s.iterator().asScala.toList
        .filter(d => Files.isDirectory(d) && d.getFileName.toString.contains("="))
        .flatMap(first)
      finally s.close()
    }
  }

  /** A reader of the local parquet `file`, its read options built by
    * `options` on a plain parquet configuration. The default options build
    * a Hadoop `Configuration` per open: on a 4-vCPU host a footer read
    * cost 7.1 ms with them and 0.18 ms with a plain one. Every parquet
    * file the engine opens on the driver is opened here.
    */
  private[graft] def openParquet(file: Path,
      options: ParquetReadOptions.Builder => ParquetReadOptions.Builder = identity)
      : ParquetFileReader =
    ParquetFileReader.open(new LocalInputFile(file),
      options(ParquetReadOptions.builder(new PlainParquetConfiguration())).build())

  private def footer[A](file: Path)(f: ParquetMetadata => A): A = {
    val r = openParquet(file)
    try f(r.getFooter) finally r.close()
  }

  private def footerSchema(file: Path): StructType =
    footer(file)(m => new ParquetToSparkSchemaConverter().convert(m.getFileMetaData.getSchema))
}
