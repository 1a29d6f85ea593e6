package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Session-7 surface: PPJoin prefix-filtered exact Jaccard, daily volume
  * anomaly z-scores, lexical diversity, ROLLUP grouping sets, window-frame
  * moving revenue — property tests against local brute-force twins.
  */
class Session7OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Spark/DuckDB `round(x, n)` is HALF_UP (away from zero); `math.rint`
    * is half-even, so the brute-force twins round through BigDecimal.
    */
  private def r(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def rr6(x: Double): Double = r(x, 6)

  private def randomCorpus(seed: Int, nDocs: Int, vocab: Int)
      : Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val words = (0 until vocab).map(i => f"w${i}%03d")
    val base = (0L until nDocs).map { id =>
      val n = 6 + rnd.nextInt(20)
      (id, Seq.fill(n)(words(rnd.nextInt(vocab))).mkString(" "))
    }
    // plant near-dupes: copies of earlier docs with one token appended /
    // dropped, so thresholds in (0,1) actually fire
    val dupes = (0 until nDocs / 4).map { i =>
      val (src, txt) = base(rnd.nextInt(base.size))
      val toks = txt.split(" ")
      val mutated =
        if (rnd.nextBoolean()) (toks :+ words(rnd.nextInt(vocab))).mkString(" ")
        else toks.dropRight(1).mkString(" ")
      (nDocs.toLong + i, mutated)
    }
    base ++ dupes
  }

  /** Local brute-force exact Jaccard >= t pairs over [[Dedup.ngrams]]. */
  private def bruteJaccard(rows: Seq[(Long, String)], n: Int, t: Double)
      : Set[(Long, Long, Double)] = {
    val sets = rows.map { case (id, txt) => id -> Dedup.ngrams(txt, n).toSet }
      .filter(_._2.nonEmpty).toMap
    val ids = sets.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      c = (sets(a) & sets(b)).size
      if c > 0
      jac = c.toDouble / (sets(a).size + sets(b).size - c)
      if jac >= t
    } yield (a, b, rr6(jac))).toSet
  }

  test("ppjoinJaccard == uncapped brute-force exact Jaccard (thresholds 0.3/0.5/0.7)") {
    for (seed <- Seq(1, 2); t <- Seq(0.3, 0.5, 0.7)) {
      val rows = randomCorpus(seed, nDocs = 120, vocab = 40)
      val docs = rows.toDF("doc_id", "text")
      val got = Dedup.ppjoinJaccard(docs, n = 3, minJaccard = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expect = bruteJaccard(rows, n = 3, t = t)
      assert(got == expect, s"seed $seed t $t: " +
        s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    }
  }

  test("ppjoinJaccard survives a corpus-wide hot shingle exactly (no cap)") {
    // every doc shares one stop-phrase shingle; the capped ngramJaccard
    // approximates here, ppjoin must stay exact
    val rnd = new scala.util.Random(9)
    val rows = (0L until 60L).map { id =>
      val tail = Seq.fill(5 + rnd.nextInt(8))(f"t${rnd.nextInt(30)}%02d")
      (id, ("alpha beta gamma " + tail.mkString(" ")))
    } ++ Seq((900L, "alpha beta gamma"), (901L, "alpha beta gamma"))
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.ppjoinJaccard(docs, n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == bruteJaccard(rows, n = 3, t = 0.5))
    // the two identical 1-shingle docs must be found at J = 1.0
    assert(got.exists(p => p._1 == 900L && p._2 == 901L && p._3 == 1.0))
  }

  test("dailyAnomalies == integer-moment brute force; constant type -> null z") {
    val rnd = new scala.util.Random(5)
    val day0 = 1700000000L / 86400L * 86400L
    val evs = scala.collection.mutable.ArrayBuffer.empty[(Long, java.sql.Timestamp, Long, String)]
    var eid = 0L
    // "click": noisy with one planted 10x spike day; "ping": constant
    for (d <- 0 until 12) {
      val clicks = if (d == 7) 200 else 15 + rnd.nextInt(6)
      for (_ <- 0 until clicks) {
        evs += ((eid, new java.sql.Timestamp((day0 + d * 86400L + rnd.nextInt(86400)) * 1000L), 1L, "click")); eid += 1
      }
      for (_ <- 0 until 7) {
        evs += ((eid, new java.sql.Timestamp((day0 + d * 86400L + rnd.nextInt(86400)) * 1000L), 2L, "ping")); eid += 1
      }
    }
    val df = evs.toSeq.toDF("event_id", "ts", "user_id", "event_type")
    val got = Events.dailyAnomalies(df).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3).asInstanceOf[Any],
          r.getInt(4)))).toMap
    // brute force from the same integer moments
    val daily = evs.groupBy(e => (e._4, e._2.getTime / 1000L / 86400L * 86400L))
      .view.mapValues(_.size.toLong).toMap
    for (((et, day), c) <- daily) {
      val cs = daily.collect { case ((t, _), v) if t == et => v }.toSeq
      val n = cs.size.toLong; val s1 = cs.sum; val s2 = cs.map(x => x * x).sum
      val varnum = n * s2 - s1 * s1
      val expZ = if (varnum > 0)
        rr6((n * c - s1).toDouble / math.sqrt(varnum.toDouble))
      else Double.NaN
      val (gc, gz, gflag) = got((et, day))
      assert(gc == c)
      if (varnum > 0) {
        assert(gz.asInstanceOf[Double] == expZ, s"$et $day")
        assert(gflag == (if (math.abs(expZ) > 2.0) 1 else 0))
      } else { assert(gz == null && gflag == 0, s"$et $day") }
    }
    // the planted spike is flagged
    assert(got.exists { case ((et, _), (_, _, f)) => et == "click" && f == 1 })
    // constant type never flags
    assert(got.forall { case ((et, _), (_, z, f)) => et != "ping" || (z == null && f == 0) })
  }

  test("lexicalDiversity == local brute force incl. empty and all-dup docs") {
    val rnd = new scala.util.Random(13)
    val words = (0 until 25).map(i => f"word${i}%02d")
    val rows = (0L until 80L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(25))(words(rnd.nextInt(words.size))).mkString(" "))
    } ++ Seq((900L, ""), (901L, "ab a !"), (902L, "dup dup dup dup"))
    val docs = rows.toDF("doc_id", "text")
    val got = Session7OpsSpecHelper.collectDiversity(
      TextStats.lexicalDiversity(docs))
    def tok(s: String): Seq[String] =
      s.split("[^a-zA-Z0-9]+").toSeq.filter(_.length > 2).map(_.toLowerCase)
    for ((id, txt) <- rows) {
      val ts = tok(txt)
      val types = ts.distinct.size
      val hapax = ts.groupBy(identity).count(_._2.size == 1)
      val (nT, nTy, nH, ttr, hr, gr) = got(id)
      assert(nT == ts.size && nTy == types && nH == hapax, s"doc $id")
      if (ts.nonEmpty) {
        assert(ttr == rr6(types.toDouble / ts.size))
        assert(hr == rr6(hapax.toDouble / ts.size))
        assert(gr == rr6(types.toDouble / math.sqrt(ts.size.toDouble)))
      } else assert(ttr == null && hr == null && gr == null)
    }
  }

  test("h5_rollup: grouping sets == local brute force on sf0.001 orders") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("h5_rollup")(spark, dir).collect()
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderpriority", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getString(1), this.r(r.getDouble(2) * 100, 0).toLong))
    def agg(f: ((String, String, Long)) => (String, String)) =
      orders.groupBy(f).view.mapValues(g => (g.length.toLong, g.map(_._3).sum)).toMap
    val detail = agg(o => (o._1, o._2))
    val sub = agg(o => (o._1, "ALL"))
    val all = agg(_ => ("ALL", "ALL"))
    assert(rows.length == detail.size + sub.size + 1)
    for (r <- rows) {
      val key = (r.getString(0), r.getString(1))
      val exp = r.getInt(2) match {
        case 0 => detail(key)
        case 1 => sub(key)
        case 3 => all(key)
        case lvl => fail(s"unexpected lvl $lvl")
      }
      assert((r.getLong(3), r.getLong(4)) == exp, s"$key")
    }
  }

  test("h6_moving_rev: trailing frame + cumulative == local brute force") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("h6_moving_rev")(spark, dir).collect()
    val daily = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0)
          .toEpochSecond(java.time.ZoneOffset.UTC) / 86400L * 86400L,
        this.r(r.getDouble(1) * 100, 0).toLong))
      .groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(_._2).sum)).toMap
      .toSeq.sortBy(_._1)
    assert(rows.map(_.getLong(0)).toSeq == daily.map(_._1))
    var cum = 0L
    for ((row, i) <- rows.zipWithIndex) {
      val (n, rev) = daily(i)._2
      cum += rev
      val frame = daily.slice(math.max(0, i - 6), i + 1).map(_._2._2)
      val ma = r(frame.sum.toDouble / frame.size, 2)
      assert(row.getLong(1) == n && row.getLong(2) == rev, s"day ${daily(i)._1}")
      assert(row.getDouble(3) == ma && row.getLong(4) == cum, s"day ${daily(i)._1}")
    }
  }

  test("vocabGrowth == first-occurrence brute force; totals close") {
    val rnd = new scala.util.Random(17)
    val words = (0 until 200).map(i => f"term${i}%03d")
    // skewed draws so later buckets still introduce some new types
    val rows = (0L until 150L).map { id =>
      val n = 2 + rnd.nextInt(15)
      (id, Seq.fill(n) {
        val x = rnd.nextDouble()
        words((x * x * words.size).toInt.min(words.size - 1))
      }.mkString(" "))
    } :+ (150L, "")
    val docs = rows.toDF("doc_id", "text")
    val buckets = 8
    val got = Vocab.vocabGrowth(docs, buckets).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5)))).toMap
    def tok(s: String): Seq[String] =
      s.split("[^a-zA-Z0-9]+").toSeq.filter(_.length > 2).map(_.toLowerCase)
    val span = rows.map(_._1).max + 1
    def bucketOf(id: Long): Long = id * buckets / span
    val perB = rows.groupBy(x => bucketOf(x._1)).view.mapValues { g =>
      (g.size.toLong, g.map(x => tok(x._2).size.toLong).sum)
    }.toMap
    val firstB = rows.flatMap { case (id, t) => tok(t).map(_ -> id) }
      .groupBy(_._1).view.mapValues(v => bucketOf(v.map(_._2).min)).toMap
    val newT = firstB.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    var (tc, vc) = (0L, 0L)
    for (b <- perB.keys.toSeq.sorted) {
      val (nd, tk) = perB(b)
      val nt = newT.getOrElse(b, 0L)
      tc += tk; vc += nt
      assert(got(b) == ((nd, tk, nt, tc, vc)), s"bucket $b")
    }
    assert(vc == firstB.size && tc == rows.map(x => tok(x._2).size.toLong).sum)
  }

  test("readability == brute-force Flesch counters incl. edge docs") {
    val rows = Seq(
      (0L, "The cat sat on the mat. It was happy! Was it? Yes."),
      (1L, "no terminal punctuation here just words flowing along"),
      (2L, "bcdfg hjklm qwrtz"), // vowel-less words: min-1 syllable rule
      (3L, ""),
      (4L, "!!! ... ???"), // punctuation only: no words
      (5L, "Mixed. bcdfg works? symbols #@! and trailing.")) ++
      (6L until 40L).map { id =>
        val rnd = new scala.util.Random(id)
        (id, Seq.fill(5 + rnd.nextInt(40)) {
          val w = Seq("alpha", "strength", "try", "beautiful", "xyz", "it")
          w(rnd.nextInt(w.size)) + (if (rnd.nextBoolean()) "." else "")
        }.mkString(" "))
      }
    val docs = rows.toDF("doc_id", "text")
    val got = TextStats.readability(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    for ((id, txt) <- rows) {
      val ws = txt.split("\\s+").toSeq.filter(_.exists(_.isLetterOrDigit))
      val sentRuns = "[.!?]+(\\s|$)".r.findAllIn(txt).size
      val syl = "[aeiouyAEIOUY]+".r.findAllIn(txt).size +
        ws.count(!_.exists(c => "aeiouyAEIOUY".contains(c)))
      val nS = if (ws.nonEmpty) math.max(sentRuns, 1) else 0
      val row = got(id)
      assert(row.getInt(1) == ws.size && row.getInt(2) == nS &&
        row.getInt(3) == syl, s"doc $id")
      if (ws.nonEmpty) {
        val fre = rr6(206.835 - 1.015 * (ws.size.toDouble / nS) -
          84.6 * (syl.toDouble / ws.size))
        val fk = rr6(0.39 * (ws.size.toDouble / nS) +
          11.8 * (syl.toDouble / ws.size) - 15.59)
        assert(row.getDouble(4) == fre && row.getDouble(5) == fk, s"doc $id")
      } else assert(row.isNullAt(4) && row.isNullAt(5), s"doc $id")
    }
  }

  test("cosineSweep == brute-force threshold curve on sf0.001 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = emb.collect().map(x =>
      (x.getLong(0), x.getSeq[Float](1).map(_.toDouble).toArray))
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val nv = vecs.map { case (id, v) => (id, normed(v)) }
    val taus = Similarity.sweepTaus
    val pairs = for {
      i <- nv.indices; j <- (i + 1) until nv.size
      // sequential fold in index order — the engine's fastDot order
      c = rr6(nv(i)._2.lazyZip(nv(j)._2).map(_ * _).foldLeft(0.0)(_ + _))
      if c >= taus.min
    } yield (math.min(nv(i)._1, nv(j)._1), math.max(nv(i)._1, nv(j)._1), c)
    val got = Similarity.cosineSweep(emb).collect()
      .map(x => x.getDouble(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    for (t <- taus) {
      val f = pairs.filter(_._3 >= t)
      val docs = f.flatMap(p => Seq(p._1, p._2)).toSet
      assert(got(t) == ((f.size.toLong, docs.size.toLong)), s"tau $t")
    }
    assert(got.size == taus.size)
  }

  test("crawlFrontier: politeness waves == brute-force double row_number") {
    val rnd = new scala.util.Random(23)
    // non-contiguous ids so host queues have ragged lengths
    val ids = (0L until 400L).filter(_ => rnd.nextDouble() < 0.6)
    val docs = ids.map(id => (id, s"doc $id")).toDF("doc_id", "text")
    val got = Urls.crawlFrontier(docs).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getLong(3))))
      .toMap
    def hostOf(id: Long) = s"news-site${id % 40 % 7}.example.org"
    val wave = ids.groupBy(hostOf).flatMap { case (_, g) =>
      g.sorted.zipWithIndex.map { case (id, i) => id -> (i + 1L) }
    }
    val slot = ids.groupBy(wave).flatMap { case (_, g) =>
      g.toSeq.sortBy(id => (hostOf(id), id)).zipWithIndex
        .map { case (id, i) => id -> (i + 1L) }
    }
    for (id <- ids)
      assert(got(id) == ((hostOf(id), wave(id), slot(id))), s"id $id")
    // politeness invariant: within a wave every host appears at most once
    val byWave = ids.groupBy(wave)
    for ((w, g) <- byWave)
      assert(g.map(hostOf).distinct.size == g.size, s"wave $w")
  }

  test("slidingCounts == 4-window brute force; tumbling consistency") {
    val rnd = new scala.util.Random(29)
    val base = 1700000000L
    val evs = (0L until 600L).map { i =>
      (i, new java.sql.Timestamp((base + rnd.nextInt(6 * 3600)) * 1000L +
        rnd.nextInt(1000)), rnd.nextInt(5).toLong,
        Seq("click", "view", "buy")(rnd.nextInt(3)),
        rnd.nextInt(2000) / 100.0)
    }
    val df = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.slidingCounts(df).collect()
      .map(x => (x.getLong(0), x.getString(1)) -> ((x.getLong(2), x.getLong(3))))
      .toMap
    // brute: each event belongs to windows ((es/900)-k)*900, k=0..3
    val expect = evs.flatMap { e =>
      val es = e._2.getTime / 1000L
      val mv = this.r(e._5 * 10000, 0).toLong
      (0 until 4).map(k => ((es / 900 - k) * 900, e._4) -> mv)
    }.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum)).toMap
    assert(got == expect)
    // every event is counted exactly 4 times across the sliding surface
    assert(got.values.map(_._1).sum == 4L * evs.size)
  }

  test("h8_basket_lift == brute-force pair support/lift on sf0.001 lineitem") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("h8_basket_lift")(spark, dir).collect()
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(x => (x.getLong(0), x.getLong(1))).distinct
    val nB = l.map(_._1).distinct.size.toLong
    val cnt = l.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val sup = l.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val top = sup.toSeq.sortBy { case ((a, b), s) => (-s, a, b) }.take(20)
    assert(rows.length == top.size)
    for ((row, ((a, b), s)) <- rows.zip(top)) {
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((a, b, s)))
      assert(row.getDouble(3) ==
        rr6(nB.toDouble * s / (cnt(a) * cnt(b))), s"pair ($a,$b)")
    }
  }

  test("IVF recall: exhaustive probe == brute force; recall grows with nprobe") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = emb.select("vec_id").orderBy("vec_id").limit(5)
      .collect().map(_.getLong(0))
    var sum2 = 0.0; var sum8 = 0.0
    for (qid <- qids) {
      val q = emb.filter(col("vec_id") === qid).head()
        .getSeq[Float](1).map(_.toDouble).toArray
      val brute = Similarity.bruteForceTopK(emb, q, 10)
        .collect().map(_.getLong(0)).toSet
      // nprobe >= the ACTUAL centroid count (the id % stride sample can
      // yield nlist+1 lists: 500/16 -> stride 31 -> 17 centroids)
      // degenerates to an exhaustive scan: the ANN result MUST equal
      // brute force exactly, not approximately
      val full = Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 32)
        .collect().map(_.getLong(0)).toSet
      assert(full == brute, s"qid $qid exhaustive probe")
      sum2 += (brute & Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 2)
        .collect().map(_.getLong(0)).toSet).size / 10.0
      sum8 += (brute & Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 8)
        .collect().map(_.getLong(0)).toSet).size / 10.0
    }
    // measured curve on this corpus: mean recall 0.48 @ nprobe=2,
    // 0.84 @ nprobe=8 — assert the shape with slack, not the exact draw
    assert(sum8 >= sum2, "recall must not shrink as nprobe grows")
    assert(sum8 / qids.length >= 0.6, s"mean recall@8 ${sum8 / qids.length}")
  }

  test("clusterSizeHistogram == rollup of minhashClusters; mass conserved") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lab = Components.minhashClusters(docs).collect()
      .map(x => (x.getLong(1), x.getLong(2)))
    val nDocs = lab.length.toLong
    val expect = lab.distinct.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = Components.clusterSizeHistogram(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(got.keySet == expect.keySet)
    for ((size, nc) <- expect) {
      val (gnc, gnd, gfrac) = got(size)
      assert(gnc == nc && gnd == size * nc, s"size $size")
      assert(gfrac == rr6(size.toDouble * nc / nDocs), s"size $size")
    }
    // mass conservation: histogram docs sum to the corpus
    assert(got.values.map(_._2).sum == nDocs)
  }

  test("tokenizerFertility == per-lang brute force over the shared counters") {
    val rnd = new scala.util.Random(31)
    val rows = (0L until 120L).map { id =>
      val lang = Seq("en", "zh", "de")(rnd.nextInt(3))
      val words = Seq.fill(3 + rnd.nextInt(20))(
        Seq("alpha", "it's", "x9y", "...", "beautiful")(rnd.nextInt(5)))
      (id, words.mkString(" "), lang)
    } :+ (900L, "", "empty")
    val docs = rows.toDF("doc_id", "text", "lang")
    val got = TextStats.tokenizerFertility(docs).collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    val bpeRe = TextStats.bpeishRe.r
    val wsRe = "[ \t\n\f\r]+"
    for ((lang, g) <- rows.groupBy(_._3)) {
      val chars = g.map(_._2.length.toLong).sum
      val ws = g.map(x =>
        x._2.trim.split(wsRe).count(_.nonEmpty).toLong).sum
      val bpe = g.map(x => bpeRe.findAllIn(x._2).size.toLong).sum
      assert(got(lang) == ((g.size.toLong, chars, ws, bpe)), s"lang $lang")
    }
    // empty-text lang present with zero counters and null ratios
    val e = TextStats.tokenizerFertility(docs)
      .filter($"lang" === "empty").collect().head
    assert(e.getLong(4) == 0L && e.isNullAt(5) && e.isNullAt(6))
  }

  test("h7_rev_deciles: boundary-assign == interpolated-percentile brute force") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("h7_rev_deciles")(spark, dir).collect()
    val revs = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey", "o_totalprice").collect()
      .map(x => (x.getLong(0), this.r(x.getDouble(1) * 100, 0).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap.values.toSeq.sorted
    val cuts = (1 to 9).map { i =>
      val pos = i / 10.0 * (revs.size - 1)
      val lo = pos.toInt; val frac = pos - lo
      val v = revs(lo) + frac *
        (revs(math.min(lo + 1, revs.size - 1)) - revs(lo)).toDouble
      rr6(v)
    }
    val decOf = revs.groupBy(v => 1 + cuts.count(c => v.toDouble > c))
    assert(rows.map(_.getInt(0)).toSeq == decOf.keys.toSeq.sorted)
    for (row <- rows) {
      val g = decOf(row.getInt(0))
      assert(row.getLong(1) == g.size && row.getLong(2) == g.min &&
        row.getLong(3) == g.max && row.getLong(4) == g.sum,
        s"decile ${row.getInt(0)}")
    }
  }
}

/** Row-collection helper kept outside the suite so the test body stays
  * readable.
  */
private object Session7OpsSpecHelper {
  def collectDiversity(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Long, Any, Any, Any)] =
    df.collect().map { r =>
      def d(i: Int): Any = if (r.isNullAt(i)) null else r.getDouble(i)
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), d(4), d(5), d(6)))
    }.toMap
}
