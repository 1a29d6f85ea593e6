package graft.server

import java.nio.charset.StandardCharsets

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Json.mapper

/** What a `/search` hit shows, for every doc of the corpus, held on the
  * driver: the UTF-8 JSON tail of the doc's result row (everything after
  * `"score":..`), in an array parallel to the sorted doc ids. A lookup is
  * one binary search, so hydrating k hits costs no Spark job.
  *
  * title/url parity with the reference result contract (App.tsx:6-11,
  * main.rs:93-100): the synthetic corpus has no stored title/url, so
  * title = leading text (to 60 chars), snippet = leading text (to 150
  * chars), both cut by Spark's `substring` (code points, not UTF-16
  * units), and url = a stable doc URI.
  */
private[server] final class DisplayTable private (ids: Array[Long], tails: Array[Array[Byte]]) {

  /** The JSON tail of doc `id`'s result row. */
  def apply(id: Long): Array[Byte] = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i < 0) throw new NoSuchElementException(s"doc $id is indexed but not in the corpus")
    tails(i)
  }
}

private[server] object DisplayTable {

  /** The share of the driver heap the table may take. */
  private val heapShare = 0.25

  /** Heap bytes per entry beside its tail: the id, the reference, the
    * byte array's header.
    */
  private val entryOverhead = 8 + 8 + 16

  /** Builds the table of `docs` (the corpus at `sfDir`) in one Spark job.
    * Each task renders and id-sorts its partition; the driver adds up the
    * payload as partitions arrive and fails the build once it passes
    * `budget` bytes, then merges the sorted partitions.
    */
  def load(spark: SparkSession, sfDir: String, docs: DataFrame,
           budget: Long = (Runtime.getRuntime.maxMemory * heapShare).toLong): DisplayTable = {
    val rows = docs
      .select(col("doc_id").cast("long"), col("lang"), col("source"),
        substring(col("text"), 1, 60), substring(col("text"), 1, 150))
      .sortWithinPartitions(col("doc_id"))
      .rdd
    val n = rows.getNumPartitions
    val parts = new Array[(Array[Long], Array[Array[Byte]])](n)
    var bytes = 0L
    var arrived = 0
    var tooLarge: IllegalStateException = null
    // an exception thrown here fails the job; later partitions are dropped
    try spark.sparkContext.runJob(rows, (it: Iterator[Row]) => render(it),
      (i: Int, p: (Array[Long], Array[Array[Byte]])) => if (tooLarge == null) {
        parts(i) = p
        arrived += 1
        bytes += p._2.iterator.map(_.length.toLong + entryOverhead).sum
        if (bytes > budget) {
          tooLarge = new IllegalStateException(
            s"the display table of corpus $sfDir needs more than $bytes B of driver heap " +
              s"($arrived of $n partitions read, about ${bytes / arrived * n} B in all); " +
              s"it may take $budget B of the ${Runtime.getRuntime.maxMemory} B heap")
          throw tooLarge
        }
      })
    catch { case _: SparkException if tooLarge != null => throw tooLarge }
    merge(parts)
  }

  /** One partition's (id, JSON tail) pairs, in its (id-sorted) row order. */
  private def render(it: Iterator[Row]): (Array[Long], Array[Array[Byte]]) = {
    val ids = Array.newBuilder[Long]
    val tails = Array.newBuilder[Array[Byte]]
    it.foreach { r =>
      val id = r.getLong(0)
      val (lang, source) = (r.getString(1), r.getString(2))
      ids += id
      // the row object without its opening brace
      tails += ("," + mapper.writeValueAsString(mapper.createObjectNode()
        .put("title", r.getString(3)).put("url", s"graft://$source/$id")
        .put("lang", lang).put("source", source).put("snippet", r.getString(4)))
        .substring(1)).getBytes(StandardCharsets.UTF_8)
    }
    (ids.result(), tails.result())
  }

  /** k-way merge of id-sorted partitions. */
  private def merge(parts: Array[(Array[Long], Array[Array[Byte]])]): DisplayTable = {
    val ids = new Array[Long](parts.iterator.map(_._1.length).sum)
    val tails = new Array[Array[Byte]](ids.length)
    val at = new Array[Int](parts.length)
    val heads = new java.util.PriorityQueue[Integer](math.max(1, parts.length),
      (a: Integer, b: Integer) => java.lang.Long.compare(parts(a)._1(at(a)), parts(b)._1(at(b))))
    parts.indices.foreach(p => if (parts(p)._1.nonEmpty) heads.add(p))
    var i = 0
    while (!heads.isEmpty) {
      val p: Int = heads.poll()
      ids(i) = parts(p)._1(at(p))
      tails(i) = parts(p)._2(at(p))
      i += 1
      at(p) += 1
      if (at(p) < parts(p)._1.length) heads.add(p)
    }
    new DisplayTable(ids, tails)
  }
}
