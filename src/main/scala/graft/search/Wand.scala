package graft.search

import scala.collection.mutable

import graft.index.{BlockRow, Codec}

/** Per-shard top-k scorer: document-at-a-time traversal with WAND
  * upper-bound pruning and block-level seek skipping (SURVEY.md §4 items
  * O2/O3 upgraded — the reference walks full posting rows score-at-a-time
  * with a dense accumulator, search.rs:54-78; we prune by score and skip
  * whole compressed blocks by max_doc without decoding them).
  *
  * One kernel, [[topKBoolean]], ranks every top-k query: OR is
  * should-only, AND is must-only, and [[topK]] is the OR entry point.
  * One heap ([[TopK]]) holds the k slots for every traversal the kernel
  * picks. [[conjunctiveAll]] (no k-cut) shares the leapfrog traversal.
  *
  * Exactness contract (north rule rank-identity, SURVEY.md §7.6.1):
  *  - a fully-evaluated doc's score sums cursor contributions in
  *    lexicographic term order (cursor arrays are term-sorted);
  *  - the heap ranks in the order the caller's final cut uses:
  *    (score desc, doc_id asc), or with `rounded` (round4(score) desc,
  *    doc_id asc), so shard top-ks merge without loss in either order;
  *  - pruning is tie-safe: a doc is skipped only when its upper bound
  *    ranks *strictly* below the current k-th slot, so equal-key
  *    candidates are always evaluated for the doc_id tie-break.
  */
object Wand {

  private final val Exhausted = Long.MaxValue

  /** Work counters of one kernel call. `blocksDecoded` counts posting
    * blocks decoded; a cursor decodes each block it enters once, and
    * skips the blocks before a seek target by max_doc undecoded.
    */
  private[search] final class Counters { var blocksDecoded: Long = 0 }

  /** Cursor over one term's block sequence within one shard. Blocks are
    * docId-ordered (build guarantees block_id order = docId order); decode
    * is lazy — seek() skips whole blocks via max_doc metadata, and a block
    * is decoded once, when the cursor enters it.
    */
  private final class Cursor(val term: String, val qtf: Double,
                             blocks: Array[BlockRow], counters: Counters) {
    val ub: Double = {
      var m = Double.NegativeInfinity
      var i = 0
      while (i < blocks.length) { if (blocks(i).max_w > m) m = blocks(i).max_w; i += 1 }
      qtf * m
    }
    private var bi = -1
    private var pi = 0
    private var docs: Array[Long] = null
    private var wts: Array[Double] = null
    var curDoc: Long = _
    nextBlock()

    private def nextBlock(): Unit = {
      bi += 1
      if (bi >= blocks.length) { curDoc = Exhausted; docs = null }
      else {
        val blk = blocks(bi)
        docs = Codec.decodeDocIds(blk.docs_bin, blk.n)
        wts = Codec.decodeDoubles(blk.wts_bin)
        counters.blocksDecoded += 1
        pi = 0
        curDoc = docs(0)
      }
    }

    def contribution: Double = qtf * wts(pi)

    def next(): Unit = {
      pi += 1
      if (docs != null && pi < docs.length) curDoc = docs(pi) else nextBlock()
    }

    /** Advance to the first posting with docId >= target. */
    def seek(target: Long): Unit = {
      if (curDoc >= target) return
      // curDoc < target: the cursor is inside decoded block bi. Past that
      // block, skip undecoded blocks entirely by max_doc and enter the
      // first that can hold the target; inside it, search what is decoded
      if (blocks(bi).max_doc < target) {
        while (bi + 1 < blocks.length && blocks(bi + 1).max_doc < target) bi += 1
        nextBlock()
        if (curDoc >= target) return
      }
      // binary search the block's rest; its last doc (max_doc) >= target
      var lo = pi + 1
      var hi = docs.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (docs(mid) < target) lo = mid + 1 else hi = mid
      }
      pi = lo
      curDoc = docs(pi)
    }
  }

  /** Spark's `round(x, 4)`: HALF_UP on the double's shortest decimal form
    * (`BigDecimal.valueOf`), so 0.00015 rounds to 0.0002 where
    * `rint(x * 1e4) / 1e4` gives 0.0001. Away from a half the scaled
    * double decides the same way, so only near-ties take the decimal path
    * (~280 ns a call, about what scoring a whole posting costs).
    */
  private[graft] def round4(x: Double): Double = {
    val d = x * 1e4
    val f = d - math.floor(d)
    if (math.abs(f - 0.5) > 1e-3 && math.abs(d) < 1e12) math.floor(d + 0.5) / 1e4
    else if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
  }

  private final class Hit(val doc: Long, val score: Double, val key: Double)

  /** The k slots of one shard's top-k. `rounded` ranks by
    * (round4(score) desc, doc asc) — the order the rounded public cut
    * uses — instead of (score desc, doc asc); the kept score is exact
    * either way. `afterScore`/`afterDoc` are a deep-pagination cursor in
    * the heap's own order — the score the caller's previous page showed:
    * exact, or rounded when `rounded` — and only candidates ranking
    * strictly after it may take a slot. The default cursor (+∞) admits
    * everything.
    */
  private final class TopK(k: Int, rounded: Boolean, afterScore: Double, afterDoc: Long) {
    // worst first: lower key first; equal keys -> larger docId first. The
    // heap grows with its hits: a caller's huge k must not preallocate k slots
    private val heap = new java.util.PriorityQueue[Hit](math.min(k, 64), (a: Hit, b: Hit) => {
      val c = java.lang.Double.compare(a.key, b.key)
      if (c != 0) c else java.lang.Long.compare(b.doc, a.doc)
    })
    private val paged = afterScore != Double.PositiveInfinity

    private def key(score: Double): Double = if (rounded) round4(score) else score

    /** False iff no doc scoring at most `bound` can take a slot (tie-safe:
      * a bound whose key equals the k-th slot's still admits).
      */
    def admits(bound: Double): Boolean = heap.size < k || key(bound) >= heap.peek().key

    def offer(doc: Long, score: Double): Unit = {
      val kk = key(score)
      if (paged && (kk > afterScore || (kk == afterScore && doc <= afterDoc))) return
      if (heap.size < k) heap.add(new Hit(doc, score, kk))
      else {
        val w = heap.peek()
        if (kk > w.key || (kk == w.key && doc < w.doc)) {
          heap.poll(); heap.add(new Hit(doc, score, kk))
        }
      }
    }

    /** The slots best first. */
    def drain(): Iterator[(Long, Double)] = {
      val out = new Array[(Long, Double)](heap.size)
      var i = out.length - 1
      while (i >= 0) { val h = heap.poll(); out(i) = (h.doc, h.score); i -= 1 }
      out.iterator
    }
  }

  /** A shard's blocks of the `keep` terms, grouped by term in term order,
    * each list in block_id (= docId) order.
    */
  private def lists(rows: Iterator[BlockRow],
                    keep: String => Boolean): Array[(String, Array[BlockRow])] =
    rows.filter(r => keep(r.term)).toArray.groupBy(_.term).toArray.sortBy(_._1)
      .map { case (t, bs) => (t, bs.sortBy(_.block_id)) }

  /** Disjunctive (OR) top-k over one shard — the reference's semantics
    * (search.rs:58-69): [[topKBoolean]] with every term a should term.
    * Kept as the OR entry point for callers that rank by exact score.
    */
  def topK(rows: Iterator[BlockRow], qtf: Map[String, Double], k: Int,
           excluded: Long => Boolean = null,
           afterScore: Double = Double.PositiveInfinity,
           afterDoc: Long = Long.MinValue): Iterator[(Long, Double)] =
    topKBoolean(rows, qtf, Set.empty, Set.empty, k, excluded, afterScore, afterDoc)

  /** Boolean (must / should / must-not) top-k over one shard — the Lucene
    * BooleanQuery surface and the one top-k kernel: `posQtf` carries the
    * qtf weights of every POSITIVE (must ∪ should) term, `mustTerms` the
    * subset a document must contain ALL of, `notTerms` the terms a
    * document must contain NONE of. Matching: all-must ∧ no-not when must
    * is non-empty; ≥1-should ∧ no-not otherwise. Scoring: the sum of
    * EVERY positive term's contribution present in the doc (a should term
    * adds score to a must-driven match, Lucene-style), in lexicographic
    * term order. `excluded` (null = none) is the tombstone / allow-list
    * overlay: an excluded doc is skipped at candidate time and never takes
    * a slot, while the block-max bounds stay valid bounds for the rest.
    * The cursor and `rounded` are the [[TopK]] heap's.
    *
    * Traversal, picked per shard:
    *  - one positive list and no must-not list: impact-ordered blocks
    *    (descending max_w), stopping once the next block's bound cannot
    *    enter — the cure for a hot (df ~ N) term, whose docId-ordered
    *    traversal would decode every block;
    *  - a must clause: leapfrog DAAT over the must lists, should lists
    *    probed forward at aligned targets;
    *  - otherwise classic WAND over the should lists.
    * Must-not lists ride the same pass as forward-only cursors probed at
    * evaluation points (evaluation targets are non-decreasing in the
    * last two traversals), so exclusion costs O(1) memory whatever the
    * negated terms' df: no broadcast set, no extra shuffle, no decode of
    * skipped not-blocks. Every posting of a doc lives in the doc's shard,
    * so a shard missing a must term has no match at all.
    */
  def topKBoolean(rows: Iterator[BlockRow], posQtf: Map[String, Double],
                  mustTerms: Set[String], notTerms: Set[String], k: Int,
                  excluded: Long => Boolean = null,
                  afterScore: Double = Double.PositiveInfinity,
                  afterDoc: Long = Long.MinValue,
                  rounded: Boolean = false): Iterator[(Long, Double)] =
    topKBoolean(rows, posQtf, mustTerms, notTerms, k, excluded, afterScore, afterDoc, rounded,
      new Counters)

  /** [[topKBoolean]], adding its work to `counters`. */
  private[search] def topKBoolean(rows: Iterator[BlockRow], posQtf: Map[String, Double],
      mustTerms: Set[String], notTerms: Set[String], k: Int, excluded: Long => Boolean,
      afterScore: Double, afterDoc: Long, rounded: Boolean,
      counters: Counters): Iterator[(Long, Double)] = {
    val byTerm = lists(rows, t => posQtf.contains(t) || notTerms.contains(t))
    if (k <= 0 || mustTerms.exists(t => !byTerm.exists(_._1 == t))) return Iterator.empty
    val posLists = byTerm.filter(p => posQtf.contains(p._1))
    val notLists = byTerm.filter(p => notTerms.contains(p._1))
    val heap = new TopK(k, rounded, afterScore, afterDoc)
    if (posLists.length == 1 && notLists.isEmpty) {
      val (t, bs) = posLists(0)
      impactOrdered(bs, posQtf(t), excluded, heap, counters)
    } else if (posLists.nonEmpty) {
      val pos = posLists.map { case (t, bs) => new Cursor(t, posQtf(t), bs, counters) }
      val nots = notLists.map { case (t, bs) => new Cursor(t, 0.0, bs, counters) }
      // candidates arrive in non-decreasing docId order: every probe below
      // only moves its cursor forward
      def evaluate(doc: Long): Unit = {
        if (excluded != null && excluded(doc)) return
        var i = 0
        while (i < nots.length) {
          val c = nots(i)
          if (c.curDoc < doc) c.seek(doc)
          if (c.curDoc == doc) return
          i += 1
        }
        var s = 0.0
        i = 0
        while (i < pos.length) {
          val c = pos(i)
          if (c.curDoc < doc) c.seek(doc)
          if (c.curDoc == doc) s += c.contribution
          i += 1
        }
        heap.offer(doc, s)
      }
      if (mustTerms.nonEmpty) {
        val totalUb = pos.foldLeft(0.0)(_ + _.ub)
        // static-bound early exit (tie-safe, see TopK.admits)
        leapfrog(pos.filter(c => mustTerms.contains(c.term)), () => !heap.admits(totalUb))(evaluate)
      } else wand(pos, heap)(evaluate)
    }
    heap.drain()
  }

  /** Leapfrog DAAT (posting-list intersection): every cursor seeks to the
    * largest current docId (whole undecoded blocks skipped by max_doc);
    * `visit` sees each doc all cursors land on, in docId order, before the
    * cursors step past it. `stop` is checked once per round.
    */
  private def leapfrog(cursors: Array[Cursor], stop: () => Boolean)(visit: Long => Unit): Unit = {
    var done = false
    while (!done && !stop()) {
      var target = Long.MinValue // docIds are hash-valued: negative half the time
      var i = 0
      while (i < cursors.length) {
        if (cursors(i).curDoc > target) target = cursors(i).curDoc
        i += 1
      }
      if (target == Exhausted) done = true
      else {
        var aligned = true
        i = 0
        while (i < cursors.length && aligned) {
          cursors(i).seek(target)
          if (cursors(i).curDoc != target) aligned = false
          i += 1
        }
        if (aligned) {
          visit(target)
          i = 0
          while (i < cursors.length) { cursors(i).next(); i += 1 }
        }
      }
    }
  }

  /** Classic WAND over `pos`: the pivot is the first cursor (by curDoc)
    * whose prefix upper-bound sum the heap still admits; `visit` sees each
    * pivot every preceding cursor has reached, in non-decreasing docId
    * order, before the cursors on it step past it.
    */
  private def wand(pos: Array[Cursor], heap: TopK)(visit: Long => Unit): Unit = {
    // by-curDoc view, re-sorted each round (|q| is tiny)
    val order = pos.clone()
    var done = false
    while (!done) {
      java.util.Arrays.sort(order, (a: Cursor, b: Cursor) =>
        java.lang.Long.compare(a.curDoc, b.curDoc))
      var acc = 0.0
      var p = 0
      var found = false
      while (p < order.length && !found) {
        acc += order(p).ub
        if (heap.admits(acc)) found = true else p += 1
      }
      if (!found || order(p).curDoc == Exhausted) done = true
      else {
        val pivotDoc = order(p).curDoc
        if (order(0).curDoc == pivotDoc) {
          visit(pivotDoc)
          var i = 0
          while (i < pos.length) {
            if (pos(i).curDoc == pivotDoc) pos(i).next()
            i += 1
          }
        } else {
          // advance the highest-UB cursor strictly BEFORE the pivot (classic
          // WAND pick; a cursor already at pivotDoc must not be chosen or the
          // loop stops making progress)
          var sel = 0
          var i = 1
          while (i < p) {
            if (order(i).curDoc < pivotDoc && order(i).ub > order(sel).ub) sel = i
            i += 1
          }
          order(sel).seek(pivotDoc)
        }
      }
    }
  }

  /** Single-list traversal: blocks by descending max_w, stopping once the
    * next block's bound ranks strictly below the k-th slot (every posting
    * in it scores <= bound; an equal bound must still be scanned for the
    * docId tie-break). Visits docs out of docId order, so it serves only
    * shards with no must-not cursor to keep forward-only.
    */
  private def impactOrdered(blocks: Array[BlockRow], qtf: Double,
                            excluded: Long => Boolean, heap: TopK,
                            counters: Counters): Unit = {
    val sorted = blocks.sortBy(-_.max_w)
    var bi = 0
    while (bi < sorted.length && heap.admits(qtf * sorted(bi).max_w)) {
      val blk = sorted(bi)
      val docs = Codec.decodeDocIds(blk.docs_bin, blk.n)
      val wts = Codec.decodeDoubles(blk.wts_bin)
      counters.blocksDecoded += 1
      var i = 0
      while (i < blk.n) {
        if (excluded == null || !excluded(docs(i))) heap.offer(docs(i), qtf * wts(i))
        i += 1
      }
      bi += 1
    }
  }

  /** Every conjunctive match (no top-k cut): the kernel's leapfrog minus
    * the heap and the bound-based early exit — the phrase evaluator needs
    * EVERY doc containing all terms, because a downstream boolean filter
    * (adjacency) decides which survive and a premature k-cut could starve
    * it. Scores sum cursor contributions in lexicographic term order (same
    * exactness contract as the kernel). Emission is docId-ascending within
    * the shard; output size is the conjunctive selectivity, not k-bounded
    * — callers own the downstream limit.
    */
  def conjunctiveAll(rows: Iterator[BlockRow], qtf: Map[String, Double],
                     excluded: Long => Boolean = null): Iterator[(Long, Double)] = {
    val byTerm = lists(rows, qtf.contains)
    if (byTerm.isEmpty || byTerm.length < qtf.size) return Iterator.empty
    val counters = new Counters
    val cursors = byTerm.map { case (t, bs) => new Cursor(t, qtf(t), bs, counters) }
    val out = mutable.ArrayBuffer.empty[(Long, Double)]
    leapfrog(cursors, () => false) { doc =>
      if (excluded == null || !excluded(doc)) {
        var score = 0.0
        var i = 0
        while (i < cursors.length) { score += cursors(i).contribution; i += 1 }
        out += ((doc, score))
      }
    }
    out.iterator
  }
}
