package graft.index

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.Json
import graft.Json.mapper

/** Per-partition commit records (SURVEY.md §7.5): one small JSON file per
  * committed (tb, shard) postings partition, named so resume needs only a
  * directory listing (no JSON parse on the hot path). Counters (terms,
  * postings, bytes) fulfill the north rule's per-stage metrics requirement;
  * buildId ties every record to the globals.json lineage.
  *
  * File-per-partition (not an append log) because file creation is the
  * atomic primitive every filesystem/object store gives us.
  */
object Manifest {

  private def mdir(dir: String) = Paths.get(dir, "manifest")

  private val Name = """tb-(\d+)-shard-(\d+)\.json""".r

  def committed(dir: String): Set[(Int, Int)] = {
    val d = mdir(dir)
    if (!Files.exists(d)) return Set.empty
    Files.list(d).iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case Name(t, s) => Some((t.toInt, s.toInt))
        case _ => None
      }
    }.toSet
  }

  def commit(dir: String, tb: Int, shard: Int, docs: Long, terms: Long,
             postings: Long, bytes: Long, buildId: String): Unit = {
    val d = mdir(dir)
    Files.createDirectories(d)
    IndexBuilder.replaceString(d.resolve(s"tb-$tb-shard-$shard.json"),
      mapper.writeValueAsString(mapper.createObjectNode().put("tb", tb).put("shard", shard)
        .put("docs", docs).put("terms", terms).put("postings", postings)
        .put("bytes", bytes).put("buildId", buildId)))
  }

  /** Aggregate counters across all committed partitions (the /stats-style
    * surface: SURVEY.md §2.1 S8, A9).
    */
  def totals(dir: String): (Long, Long, Long) = {
    val (_, t, p, b) = totals4(dir)
    (t, p, b)
  }

  /** (docs-across-partitions [shard-overlapping], terms, postings, bytes). */
  def totals4(dir: String): (Long, Long, Long, Long) = {
    val d = mdir(dir)
    if (!Files.exists(d)) return (0L, 0L, 0L, 0L)
    var docs = 0L; var terms = 0L; var posts = 0L; var bytes = 0L
    Files.list(d).iterator().asScala.foreach { p =>
      if (Name.pattern.matcher(p.getFileName.toString).matches()) {
        val r = Json.read(p)
        def n(f: String) = Json.field(r, f, p)(_.isIntegralNumber).longValue
        docs += n("docs"); terms += n("terms"); posts += n("postings"); bytes += n("bytes")
      }
    }
    (docs, terms, posts, bytes)
  }
}
