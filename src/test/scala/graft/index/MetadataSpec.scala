package graft.index

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

import graft.Json

/** The index's small JSON files (globals.json, batches.json, manifest
  * records) round-trip exactly, and a corrupt one fails loudly, naming
  * the file. Plain JVM: these files are read and written without Spark.
  */
class MetadataSpec extends AnyFunSuite {

  private def withDir(f: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft-metadata")
    try f(d.toString)
    finally Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  /** readGlobals reads a local file and never touches its session. */
  private def readGlobals(dir: String) = PostingIndex.readGlobals(null, dir)

  private val awkward = Seq("C:\\new\\table", "say \"hi\"", "back\\slash", "literal \\n, not a newline",
    "tab\there", "ctl\u0001x", "n\u00e4ive/\u4e2d/\ud83d\ude00", "", "\\")

  private def globals(rnd: scala.util.Random, path: String, d: () => Double) =
    IndexGlobals(buildId = s"build-\"${rnd.nextInt()}\"", sourcePath = path,
      nDocs = rnd.nextLong(), totalTokens = rnd.nextLong(), avgdl = d(),
      vocabularySize = rnd.nextLong(), shards = rnd.nextInt(), termBuckets = rnd.nextInt(),
      blockSize = rnd.nextInt(), k1 = d(), b = d(), stem = rnd.nextBoolean())

  test("globals.json round-trips field for field, doubles bit-exact, awkward paths intact") {
    val rnd = new scala.util.Random(20261017)
    val edges = Iterator(0.0, -0.0, 1.2, 0.75, Double.MinPositiveValue, Double.MaxValue,
      -Double.MaxValue, 1.0 / 3.0, 1e-300, 12345.678)
    def double(): Double = if (edges.hasNext) edges.next() else {
      val d = longBitsToDouble(rnd.nextLong())
      if (d.isNaN || d.isInfinite) double() else d
    }
    withDir { dir =>
      for (path <- awkward; _ <- 1 to 40) {
        val g = globals(rnd, path, () => double())
        IndexBuilder.writeGlobals(dir, g)
        val back = readGlobals(dir)
        assert(back == g)
        Seq((g.avgdl, back.avgdl), (g.k1, back.k1), (g.b, back.b)).foreach { case (a, b) =>
          assert(doubleToRawLongBits(a) == doubleToRawLongBits(b), s"$a read back as $b")
        }
      }
    }
  }

  test("batches.json round-trips; Manifest.totals sums the records") {
    withDir { dir =>
      val batches = awkward.zipWithIndex.map { case (b, i) => s"batch $b" -> i * 1000003L }.toMap +
        ("base" -> Long.MaxValue)
      IndexBuilder.writeBatches(dir, batches)
      assert(IndexBuilder.readBatches(dir) == batches)

      val parts = for (tb <- 0 until 3; shard <- 0 until 4) yield (tb, shard, tb * 100L + shard)
      assert(Manifest.totals(dir) == ((0L, 0L, 0L)))
      val records = parts.map { case (t, s, d) => (t, s, d, 10L + s, 100L * t + 1, 1000L * t + s) }
      records.foreach { case (t, s, d, terms, posts, bytes) =>
        Manifest.commit(dir, t, s, d, terms, posts, bytes, "build-\"1\"")
      }
      assert(Manifest.committed(dir) == parts.map { case (t, s, _) => (t, s) }.toSet)
      assert(Manifest.totals4(dir) ==
        ((records.map(_._3).sum, records.map(_._4).sum, records.map(_._5).sum, records.map(_._6).sum)))
      // a re-commit replaces its record
      Manifest.commit(dir, 0, 0, 0L, 0L, 0L, 0L, "b")
      assert(Manifest.totals(dir) ==
        ((records.map(_._4).sum - 10L, records.map(_._5).sum - 1L, records.map(_._6).sum)))
    }
  }

  test("a corrupt metadata file fails loudly and names the file") {
    def fails(file: Path, what: String)(read: => Any): Unit = {
      val e = intercept[IllegalArgumentException](read)
      assert(e.getMessage.contains(file.toString) && e.getMessage.contains(what), e.getMessage)
    }
    withDir { dir =>
      val g = Paths.get(dir, "globals.json")
      IndexBuilder.writeGlobals(dir, globals(new scala.util.Random(1), "p", () => 0.5))
      val full = Json.mapper.readTree(g.toFile).asInstanceOf[ObjectNode]
      def rewrite(edit: ObjectNode => Any): Unit = {
        val o = full.deepCopy()
        edit(o)
        Files.writeString(g, Json.mapper.writeValueAsString(o))
      }
      rewrite(_.remove("avgdl"))
      fails(g, "missing field avgdl")(readGlobals(dir))
      rewrite(_.put("nDocs", "12"))
      fails(g, "field nDocs has the wrong type")(readGlobals(dir))
      Files.writeString(g, Json.mapper.writeValueAsString(full).dropRight(1))
      fails(g, "not JSON")(readGlobals(dir))

      val bj = Paths.get(dir, "batches.json")
      Files.writeString(bj, "{\"batch\":\"base\",\"docs\":-}\n")
      fails(bj, "not JSON")(IndexBuilder.readBatches(dir))

      Manifest.commit(dir, 0, 0, 1L, 2L, 3L, 4L, "b")
      val rec = Paths.get(dir, "manifest", "tb-0-shard-0.json")
      Files.writeString(rec, "{\"tb\":0,\"shard\":0,\"docs\":1,\"terms\":2,\"bytes\":4}")
      fails(rec, "missing field postings")(Manifest.totals(dir))
    }
  }
}
