package graft.index

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
  *   partition_docs.json            JSON lines (tb, shard, docs, tokens) per
  *                                  postings partition
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
}
