package graft.search

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BlockRow, Codec}

/** WAND == exhaustive top-k on randomized posting lists (SURVEY.md §5
  * item 6), pure JVM — no Spark session. Exercises multi-block lists, block
  * skipping, tie-breaking, and the >= 3-cursor pivot/advance paths.
  */
class WandSpec extends AnyFunSuite {

  private def mkBlocks(term: String, postings: Seq[(Long, Double)],
                       blockSize: Int): Seq[BlockRow] = {
    postings.sortBy(_._1).grouped(blockSize).zipWithIndex.map { case (grp, i) =>
      val docs = grp.map(_._1).toArray
      val wts = grp.map(_._2).toArray
      BlockRow(0, 0, term, i.toLong, grp.size, docs.last, wts.max,
        Codec.encodeDocIds(docs), Codec.encodeDoubles(wts),
        Codec.encodeVarLongs(Array.fill(grp.size)(1L)))
    }.toSeq
  }

  private def exhaustive(lists: Map[String, Seq[(Long, Double)]],
                         qtf: Map[String, Double], k: Int): Seq[(Long, Double)] = {
    val terms = lists.keys.toSeq.sorted
    val byDoc = scala.collection.mutable.HashMap.empty[Long, Double]
    terms.foreach { t =>
      // NB: per-doc accumulation in lexicographic term order (pinned)
      lists(t).foreach { case (d, w) =>
        byDoc(d) = byDoc.getOrElse(d, 0.0) + qtf(t) * w
      }
    }
    byDoc.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  test("WAND == exhaustive over 200 random corpora") {
    val rnd = new scala.util.Random(11)
    (1 to 200).foreach { trial =>
      val nTerms = 1 + rnd.nextInt(5)
      val nDocs = 1 + rnd.nextInt(200)
      val blockSize = 1 + rnd.nextInt(16)
      val k = 1 + rnd.nextInt(12)
      val lists: Map[String, Seq[(Long, Double)]] = (0 until nTerms).map { t =>
        val term = s"t$t"
        // span NEGATIVE ids: docIds are hash-valued in production and the
        // leapfrog target init once silently skipped the negative half
        val docs = (0 until nDocs).filter(_ => rnd.nextDouble() < 0.4)
          .map(_.toLong * (1 + rnd.nextInt(3)) - nDocs)
          .distinct
        // small weight set on purpose: forces score ties -> docId tie-break
        term -> docs.map(d => (d, (1 + rnd.nextInt(4)) * 0.25)).toSeq
      }.toMap.filter(_._2.nonEmpty)
      if (lists.nonEmpty) {
        val qtf = lists.keys.map(t => t -> (1 + rnd.nextInt(2)).toDouble).toMap
        val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, blockSize) }
        val got = Wand.topK(blocks.iterator, qtf, k).toSeq
          .sortBy { case (d, s) => (-s, d) }
        val want = exhaustive(lists, qtf, k)
        assert(got == want, s"trial=$trial k=$k lists=$lists")
      }
    }
  }

  test("conjunctive == brute-force intersection over 200 random corpora") {
    val rnd = new scala.util.Random(23)
    (1 to 200).foreach { trial =>
      val nTerms = 1 + rnd.nextInt(4)
      val nDocs = 1 + rnd.nextInt(150)
      val blockSize = 1 + rnd.nextInt(8)
      val k = 1 + rnd.nextInt(8)
      val lists: Map[String, Seq[(Long, Double)]] = (0 until nTerms).map { t =>
        val docs = (0 until nDocs).filter(_ => rnd.nextDouble() < 0.5)
          .map(_.toLong - nDocs / 2) // negative-id half included
        s"t$t" -> docs.map(d => (d, (1 + rnd.nextInt(4)) * 0.25)).toSeq
      }.toMap.filter(_._2.nonEmpty)
      if (lists.size == nTerms) { // all terms present (else shard has no AND match)
        val qtf = lists.keys.map(t => t -> 1.0).toMap
        val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, blockSize) }
        val got = Wand.topKBoolean(blocks.iterator, qtf, qtf.keySet, Set.empty, k).toSeq
          .sortBy { case (d, s) => (-s, d) }
        // brute force: docs present in every list
        val common = lists.values.map(_.map(_._1).toSet).reduce(_ intersect _)
        val want = common.toSeq.map { d =>
          val score = lists.keys.toSeq.sorted
            .map(t => qtf(t) * lists(t).find(_._1 == d).get._2).sum
          (d, score)
        }.sortBy { case (d, s) => (-s, d) }.take(k)
        assert(got == want, s"trial=$trial")
      }
    }
  }

  test("WAND with random exclusion sets == filtered exhaustive (200 corpora)") {
    // the tombstone overlay inside the DAAT loops: excluded docs must never
    // take a top-k slot, survivors keep exact scores, and the block-max
    // pruning/heap-threshold interaction stays exact under exclusions —
    // covers disjunctive, single-term fast path (nTerms=1 draws), and
    // conjunctive, across random block sizes
    val rnd = new scala.util.Random(31)
    (1 to 200).foreach { trial =>
      val nTerms = 1 + rnd.nextInt(5)
      val nDocs = 1 + rnd.nextInt(200)
      val blockSize = 1 + rnd.nextInt(16)
      val k = 1 + rnd.nextInt(12)
      val lists: Map[String, Seq[(Long, Double)]] = (0 until nTerms).map { t =>
        // span NEGATIVE ids: docIds are hash-valued in production and the
        // leapfrog target init once silently skipped the negative half
        val docs = (0 until nDocs).filter(_ => rnd.nextDouble() < 0.4)
          .map(_.toLong * (1 + rnd.nextInt(3)) - nDocs)
          .distinct
        s"t$t" -> docs.map(d => (d, (1 + rnd.nextInt(4)) * 0.25)).toSeq
      }.toMap.filter(_._2.nonEmpty)
      if (lists.nonEmpty) {
        val qtf = lists.keys.map(t => t -> (1 + rnd.nextInt(2)).toDouble).toMap
        val allDocs = lists.values.flatMap(_.map(_._1)).toSet
        // exclusion rates from none to nearly-everything (the k > survivors
        // edge included)
        val exRate = rnd.nextDouble()
        val excluded = allDocs.filter(_ => rnd.nextDouble() < exRate)
        val ex: Long => Boolean = excluded.contains
        val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, blockSize) }
        val got = Wand.topK(blocks.iterator, qtf, k, ex).toSeq
          .sortBy { case (d, s) => (-s, d) }
        val want = exhaustive(lists, qtf, Int.MaxValue)
          .filterNot { case (d, _) => excluded(d) }.take(k)
        assert(got == want, s"trial=$trial k=$k ex=${excluded.size}/${allDocs.size}")
        // conjunctive with the same overlay
        if (lists.size == nTerms) {
          val common = lists.values.map(_.map(_._1).toSet).reduce(_ intersect _)
          val wantAnd = common.toSeq.map { d =>
            (d, lists.keys.toSeq.sorted
              .map(t => qtf(t) * lists(t).find(_._1 == d).get._2).sum)
          }.filterNot { case (d, _) => excluded(d) }
            .sortBy { case (d, s) => (-s, d) }.take(k)
          val gotAnd = Wand.topKBoolean(blocks.iterator, qtf, qtf.keySet, Set.empty, k, ex).toSeq
            .sortBy { case (d, s) => (-s, d) }
          assert(gotAnd == wantAnd, s"trial=$trial AND")
        }
      }
    }
  }

  test("conjunctiveAll == full brute-force intersection over 200 random corpora") {
    // the phrase evaluator's candidate source: EVERY aligned doc, no k-cut,
    // exclusion overlay honored, negative ids included
    val rnd = new scala.util.Random(47)
    (1 to 200).foreach { trial =>
      val nTerms = 1 + rnd.nextInt(4)
      val nDocs = 1 + rnd.nextInt(150)
      val blockSize = 1 + rnd.nextInt(8)
      val lists: Map[String, Seq[(Long, Double)]] = (0 until nTerms).map { t =>
        val docs = (0 until nDocs).filter(_ => rnd.nextDouble() < 0.5)
          .map(_.toLong - nDocs / 2)
        s"t$t" -> docs.map(d => (d, (1 + rnd.nextInt(4)) * 0.25)).toSeq
      }.toMap.filter(_._2.nonEmpty)
      if (lists.size == nTerms) {
        val qtf = lists.keys.map(t => t -> (1 + rnd.nextInt(2)).toDouble).toMap
        val allDocs = lists.values.flatMap(_.map(_._1)).toSet
        val excluded = allDocs.filter(_ => rnd.nextDouble() < 0.3)
        val ex: Long => Boolean = if (excluded.isEmpty) null else excluded.contains
        val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, blockSize) }
        val got = Wand.conjunctiveAll(blocks.iterator, qtf, ex).toSeq
          .sortBy { case (d, s) => (-s, d) }
        val common = lists.values.map(_.map(_._1).toSet).reduce(_ intersect _)
        val want = common.toSeq.map { d =>
          (d, lists.keys.toSeq.sorted
            .map(t => qtf(t) * lists(t).find(_._1 == d).get._2).sum)
        }.filterNot { case (d, _) => excluded(d) }
          .sortBy { case (d, s) => (-s, d) }
        assert(got == want, s"trial=$trial")
      }
    }
  }

  test("single exhausted-path regression: 3 cursors, one at pivot") {
    // shape that hangs if the advance step may pick a cursor already at pivot
    val lists = Map(
      "a" -> Seq((1L, 0.5), (100L, 0.5)),
      "b" -> Seq((50L, 2.0), (100L, 2.0)),
      "c" -> Seq((50L, 3.0), (60L, 3.0)))
    val qtf = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, 1) }
    val got = Wand.topK(blocks.iterator, qtf, 2).toSeq.sortBy { case (d, s) => (-s, d) }
    assert(got == exhaustive(lists, qtf, 2))
  }

  /** Spark's `round(x, 4)`, written independently of [[Wand.round4]]. */
  private def sparkRound4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Brute-force boolean top-k: a doc matches iff it holds every must
    * term, no not term, and (with no must term) at least one positive
    * term; its score sums qtf * w over its positive terms in term order;
    * excluded docs and docs not strictly after the cursor drop; the rest
    * rank by (score desc, doc asc), or by (rounded score desc, doc asc).
    * The cursor compares in the ranking's own key: the exact score, or
    * the rounded one.
    */
  private def bruteBoolean(lists: Map[String, Seq[(Long, Double)]],
                           posQtf: Map[String, Double], must: Set[String],
                           not: Set[String], k: Int, excluded: Long => Boolean,
                           afterScore: Double, afterDoc: Long,
                           rounded: Boolean): Seq[(Long, Double)] = {
    val has = lists.map { case (t, ps) => t -> ps.toMap }
    val docs = lists.values.flatMap(_.map(_._1)).toSet.toSeq
    docs.filter { d =>
      must.forall(t => has.get(t).exists(_.contains(d))) &&
        !not.exists(t => has.get(t).exists(_.contains(d))) &&
        posQtf.keys.exists(t => has.get(t).exists(_.contains(d))) &&
        !excluded(d)
    }.map { d =>
      (d, posQtf.keys.toSeq.sorted.foldLeft(0.0) { (s, t) =>
        has.get(t).flatMap(_.get(d)).fold(s)(w => s + posQtf(t) * w)
      })
    }.filter { case (d, sc) =>
      val r = if (rounded) sparkRound4(sc) else sc
      r < afterScore || (r == afterScore && d > afterDoc)
    }.sortBy { case (d, sc) => (-(if (rounded) sparkRound4(sc) else sc), d) }.take(k)
  }

  test("boolean kernel == brute force, exact and rounded order, with cursor (200 corpora)") {
    // random must / should / must-not subsets cover all three traversals
    // (impact-ordered single list, leapfrog, WAND); weights 0.25-steps plus
    // a 1e-5 jitter force rounded ties between distinct exact scores
    val rnd = new scala.util.Random(59)
    var roundedDiffers = 0
    (1 to 200).foreach { trial =>
      val nTerms = 1 + rnd.nextInt(5)
      val nDocs = 1 + rnd.nextInt(200)
      val blockSize = 1 + rnd.nextInt(16)
      val k = 1 + rnd.nextInt(12)
      val lists: Map[String, Seq[(Long, Double)]] = (0 until nTerms).map { t =>
        val docs = (0 until nDocs).filter(_ => rnd.nextDouble() < 0.4)
          .map(_.toLong * (1 + rnd.nextInt(3)) - nDocs).distinct
        s"t$t" -> docs.map(d => (d, (1 + rnd.nextInt(4)) * 0.25 + rnd.nextInt(3) * 1e-5)).toSeq
      }.toMap.filter(_._2.nonEmpty)
      // query terms may name a term with no postings in this shard
      val terms = (0 until nTerms).map(t => s"t$t")
      val roles = terms.map(t => t -> rnd.nextInt(4)).toMap // 0 should, 1 must, 2 not, 3 unused
      val posQtf = terms.filter(t => roles(t) <= 1)
        .map(t => t -> (1 + rnd.nextInt(2)).toDouble).toMap
      val must = terms.filter(t => roles(t) == 1).toSet
      val not = terms.filter(t => roles(t) == 2).toSet
      if (posQtf.nonEmpty) {
        val allDocs = lists.values.flatMap(_.map(_._1)).toSet
        val exRate = if (rnd.nextBoolean()) 0.0 else rnd.nextDouble() * 0.5
        val excludedSet = allDocs.filter(_ => rnd.nextDouble() < exRate)
        val ex: Long => Boolean = if (excludedSet.isEmpty) null else excludedSet.contains
        val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, blockSize) }
        // cursor: none, or the rounded score of a matching doc (a page end)
        val page = bruteBoolean(lists, posQtf, must, not, Int.MaxValue, excludedSet,
          Double.PositiveInfinity, Long.MinValue, rounded = true)
        val (afterScore, afterDoc) =
          if (page.isEmpty || rnd.nextBoolean()) (Double.PositiveInfinity, Long.MinValue)
          else { val (d, sc) = page(rnd.nextInt(page.size)); (sparkRound4(sc), d) }
        Seq(false, true).foreach { rounded =>
          val got = Wand.topKBoolean(blocks.iterator, posQtf, must, not, k, ex,
            afterScore, afterDoc, rounded).toSeq
          val want = bruteBoolean(lists, posQtf, must, not, k, excludedSet,
            afterScore, afterDoc, rounded)
          assert(got == want, s"trial=$trial rounded=$rounded k=$k must=$must not=$not " +
            s"qtf=$posQtf after=($afterScore, $afterDoc)")
        }
        val exactOrder = bruteBoolean(lists, posQtf, must, not, k, excludedSet,
          afterScore, afterDoc, rounded = false)
        val roundedOrder = bruteBoolean(lists, posQtf, must, not, k, excludedSet,
          afterScore, afterDoc, rounded = true)
        if (exactOrder != roundedOrder) roundedDiffers += 1
      }
    }
    // the jitter really produced rounded ties that reorder the cut
    assert(roundedDiffers >= 20, s"only $roundedDiffers trials had a rounded-only order")
  }

  test("long lists of small blocks: kernel == brute force, each entered block decoded once") {
    // hundreds of 2-8-posting blocks per term, so WAND, leapfrog and
    // must-not cursors seek inside the block they are in; a block must be
    // decoded once however many seeks land in it
    val rnd = new scala.util.Random(97)
    (1 to 30).foreach { trial =>
      val nDocs = 2000 + rnd.nextInt(2000)
      val blockSize = 2 + rnd.nextInt(7)
      val k = Seq(1, 5, 10, 50)(rnd.nextInt(4))
      val terms = (0 until 2 + rnd.nextInt(3)).map(t => s"t$t")
      val lists: Map[String, Seq[(Long, Double)]] = terms.map { t =>
        val density = 0.1 + rnd.nextDouble() * 0.6
        t -> (0 until nDocs).filter(_ => rnd.nextDouble() < density)
          .map(d => (d.toLong * 3 - nDocs, (1 + rnd.nextInt(4)) * 0.25 + rnd.nextInt(3) * 1e-5))
      }.toMap
      val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, blockSize) }
      val nBlocks = blocks.groupBy(_.term).map { case (t, bs) => t -> bs.size }
      // OR, AND, and OR beside a must-not term
      val not = Set(terms.last)
      Seq((Set.empty[String], Set.empty[String]), (terms.take(2).toSet, Set.empty[String]),
          (Set.empty[String], not)).foreach { case (must, nots) =>
        val posQtf = terms.filterNot(nots).map(t => t -> (1 + rnd.nextInt(2)).toDouble).toMap
        val page = bruteBoolean(lists, posQtf, must, nots, Int.MaxValue, _ => false,
          Double.PositiveInfinity, Long.MinValue, rounded = false)
        val (pageDoc, pageScore) = page(rnd.nextInt(math.min(page.size, 40)))
        for (rounded <- Seq(false, true); paged <- Seq(false, true)) {
          val (afterScore, aDoc) =
            if (!paged) (Double.PositiveInfinity, Long.MinValue)
            else (if (rounded) sparkRound4(pageScore) else pageScore, pageDoc)
          val counters = new Wand.Counters
          val got = Wand.topKBoolean(blocks.iterator, posQtf, must, nots, k, null,
            afterScore, aDoc, rounded, counters).toSeq
          val want = bruteBoolean(lists, posQtf, must, nots, k, _ => false,
            afterScore, aDoc, rounded)
          val what = s"trial=$trial must=$must not=$nots rounded=$rounded paged=$paged"
          assert(got == want, what)
          assert(counters.blocksDecoded <= (posQtf.keySet ++ nots).toSeq.map(nBlocks).sum, what)
        }
      }
      // every block of a full OR ranking is entered; the must-not cursor
      // enters its first block, then the block of its first posting at or
      // after each candidate, and each of those once
      val posQtf = terms.init.map(_ -> 1.0).toMap
      val candidates = posQtf.keys.flatMap(lists(_).map(_._1)).toSeq.distinct.sorted
      val notBlocks = mkBlocks(terms.last, lists(terms.last), blockSize)
      val entered = (notBlocks.head +: candidates.flatMap(d => notBlocks.find(_.max_doc >= d)))
        .map(_.block_id).distinct.size
      val counters = new Wand.Counters
      val all = Wand.topKBoolean(blocks.iterator, posQtf, Set.empty, not, Int.MaxValue, null,
        Double.PositiveInfinity, Long.MinValue, rounded = false, counters).toSeq
      assert(all == bruteBoolean(lists, posQtf, Set.empty, not, Int.MaxValue, _ => false,
        Double.PositiveInfinity, Long.MinValue, rounded = false), s"trial=$trial full OR")
      assert(counters.blocksDecoded == posQtf.keys.toSeq.map(nBlocks).sum + entered,
        s"trial=$trial full OR: blocks decoded")
    }
  }

  test("rounded k-th boundary: ties on the rounded score break by doc_id, not exact score") {
    // doc 5 scores 1.00004 and doc 3 scores 1.00001 in one shard; both
    // round to 1.0, so the rounded cut keeps doc 3 (the DuckDB twin's
    // answer) while the exact cut keeps doc 5
    val single = mkBlocks("a", Seq((3L, 1.00001), (5L, 1.00004)), 2)
    assert(Wand.topK(single.iterator, Map("a" -> 1.0), 1).toSeq == Seq((5L, 1.00004)))
    assert(Wand.topKBoolean(single.iterator, Map("a" -> 1.0), Set.empty, Set.empty, 1,
      rounded = true).toSeq == Seq((3L, 1.00001)))
    // the same planted pair through the multi-list traversals: WAND (OR),
    // leapfrog (AND), and WAND beside a must-not cursor
    val two = mkBlocks("a", Seq((3L, 0.5), (5L, 0.50004)), 1) ++
      mkBlocks("b", Seq((3L, 0.50001), (5L, 0.5)), 1) ++
      mkBlocks("c", Seq((9L, 1.0)), 1)
    val qtf = Map("a" -> 1.0, "b" -> 1.0)
    Seq(Set.empty[String] -> Set.empty[String], Set("a", "b") -> Set.empty[String],
        Set.empty[String] -> Set("c")).foreach { case (must, not) =>
      val got = Wand.topKBoolean(two.iterator, qtf, must, not, 1, rounded = true).toSeq
      assert(got.map(_._1) == Seq(3L), s"must=$must not=$not")
      val exact = Wand.topKBoolean(two.iterator, qtf, must, not, 1).toSeq
      assert(exact.map(_._1) == Seq(5L), s"must=$must not=$not")
    }
  }

  test("an exact cursor pages every doc once across a 4-dp rounding boundary") {
    // 1.23456789 > 1.23455, but 1.23455 rounds to 1.2346 (a rounded
    // compare skips it after the first); 1.23444 rounds down to 1.2344
    // (a rounded compare repeats it); docs 3 and 5 tie exactly
    val planted = Seq((1L, 1.23456789), (2L, 1.23455), (3L, 1.23444), (4L, 1.2344),
      (5L, 1.23444), (6L, 1.2345), (7L, 0.5))
    // one list (impact-ordered), and the same docs over two lists (WAND)
    val shapes = Seq(Map("a" -> planted),
      Map("a" -> planted.map { case (d, w) => (d, w - 0.25) }, "b" -> planted.map(p => (p._1, 0.25))))
    for (lists <- shapes; blockSize <- Seq(1, 3); n <- 1 to planted.size) {
      val qtf = lists.keys.map(_ -> 1.0).toMap
      val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, blockSize) }
      val want = bruteBoolean(lists, qtf, Set.empty, Set.empty, Int.MaxValue, _ => false,
        Double.PositiveInfinity, Long.MinValue, rounded = false)
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      var (afterScore, afterDoc) = (Double.PositiveInfinity, Long.MinValue)
      var more = true
      while (more) {
        val page = Wand.topK(blocks.iterator, qtf, n, null, afterScore, afterDoc).toSeq
        seen ++= page
        assert(seen.size <= planted.size, s"lists=${lists.size} n=$n: paging does not end")
        if (page.size < n) more = false
        else { afterScore = page.last._2; afterDoc = page.last._1 }
      }
      assert(seen == want, s"lists=${lists.size} blockSize=$blockSize n=$n")
    }
  }

  test("k = Int.MaxValue returns exactly the brute-force match set (100 corpora)") {
    // the heap grows with its hits: a huge k neither preallocates k slots
    // nor drops a match; k <= 0 returns nothing
    val rnd = new scala.util.Random(71)
    (1 to 100).foreach { trial =>
      val nTerms = 1 + rnd.nextInt(4)
      val nDocs = 1 + rnd.nextInt(300)
      val lists: Map[String, Seq[(Long, Double)]] = (0 until nTerms).map { t =>
        s"t$t" -> (0 until nDocs).filter(_ => rnd.nextDouble() < 0.5)
          .map(d => (d.toLong - nDocs / 2, (1 + rnd.nextInt(4)) * 0.25))
      }.toMap.filter(_._2.nonEmpty)
      val terms = (0 until nTerms).map(t => s"t$t")
      val must = terms.filter(_ => rnd.nextInt(3) == 0).toSet
      val posQtf = terms.map(t => t -> 1.0).toMap
      val blocks = lists.toSeq.flatMap { case (t, ps) => mkBlocks(t, ps, 1 + rnd.nextInt(16)) }
      val want = bruteBoolean(lists, posQtf, must, Set.empty, Int.MaxValue, _ => false,
        Double.PositiveInfinity, Long.MinValue, rounded = false)
      val got = Wand.topKBoolean(blocks.iterator, posQtf, must, Set.empty, Int.MaxValue).toSeq
      assert(got == want, s"trial=$trial must=$must")
      assert(Wand.topKBoolean(blocks.iterator, posQtf, must, Set.empty, 0).isEmpty)
    }
  }

  test("round4 reproduces Spark's HALF_UP round(x, 4)") {
    assert(Wand.round4(0.00015) == 0.0002) // rint(x * 1e4) / 1e4 gives 0.0001
    assert(Wand.round4(1.00005) == 1.0001)
    assert(Wand.round4(-0.00015) == -0.0002)
    assert(Wand.round4(Double.PositiveInfinity).isPosInfinity)
    assert(Wand.round4(Double.NaN).isNaN)
    val rnd = new scala.util.Random(67)
    (1 to 200000).foreach { i =>
      // exact decimal half-ties, their neighbours, and plain random doubles
      val x = i % 3 match {
        case 0 => (rnd.nextInt(2000000) - 1000000) / 1e4 + 0.00005
        case 1 => Math.nextUp((rnd.nextInt(200000) + 0.5) / 1e4)
        case _ => rnd.nextDouble() * math.pow(10, rnd.nextInt(9) - 3)
      }
      assert(Wand.round4(x) == sparkRound4(x), s"x=$x")
    }
  }
}
