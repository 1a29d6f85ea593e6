package graft.ops

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Connected components (large-star/small-star) and the as-of join:
  * fixtures plus randomized equivalence against local reference
  * implementations (union-find / linear argmax scan).
  */
class ComponentsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Local union-find with min-id roots. */
  private def ufMap(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  test("transitive chain collapses to one component with min root") {
    val m = ccMap(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("self-loops, duplicates and reversed edges are tolerated") {
    val m = ccMap(Seq((5L, 5L), (2L, 7L), (7L, 2L), (2L, 7L), (7L, 9L)))
    assert(m == Map(2L -> 2L, 7L -> 2L, 9L -> 2L))
  }

  test("empty edge set yields empty components") {
    assert(ccMap(Seq.empty) == Map.empty)
  }

  test("long path (diameter > 2 log rounds would fail label-prop budget)") {
    // a 40-node path: exercises multi-round convergence, not just cliques
    val edges = (1L until 40L).map(i => (i, i + 1))
    val m = ccMap(edges)
    assert(m.keySet == (1L to 40L).toSet && m.values.forall(_ == 1L))
  }

  test("randomized graphs match local union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 4) {
      val n = 30 + rnd.nextInt(40)
      val edges = Seq.fill(20 + rnd.nextInt(50))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(ccMap(edges) == ufMap(edges), s"trial $trial n=$n")
    }
  }

  test("dedupComponents merges a transitive near-dup chain the pairwise " +
    "operator cannot: J(A,B)>=tau, J(B,C)>=tau, J(A,C)<tau -> one component") {
    // A and C each share half their 3-gram set with B but little with
    // each other: classic drifted-duplicate chain
    def ws(lo: Int, hi: Int) = (lo to hi).map(i => f"word$i%02d").mkString(" ")
    val a = ws(1, 12)
    val b = ws(5, 16)
    val c = ws(9, 20)
    val docs = Seq((1L, a), (2L, b), (3L, c),
      (4L, "totally unrelated text about something else entirely here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, n = 3, minJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) &&
      !pairs.contains((1L, 3L)), s"fixture drifted: $pairs")
    val comp = Components.dedupComponents(docs, n = 3, minJaccard = 0.4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toMap
    assert(comp(1L) == (1L, 3L, 0))
    assert(comp(2L) == (1L, 3L, 1))
    assert(comp(3L) == (1L, 3L, 1)) // transitively merged despite J(A,C)<tau
    assert(comp(4L) == (4L, 1L, 0)) // singleton keeps its own id
  }

  test("minhashClusters: star edges give the SAME labels as CC over the " +
    "pairwise bucket join, incl. a 30x-repeated template (the quadratic case)") {
    val template = "the same boilerplate navigation header appears on every " +
      "page of this site with identical footer text and copyright notice"
    val rnd = new Random(11)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golfing", "hotel", "indigo", "juliet", "kilo", "lima")
    val docs = ((1L to 30L).map(i => (i, template)) ++ // one huge bucket
      (31L to 60L).map { i =>
        (i, Seq.fill(15)(words(rnd.nextInt(words.size))).mkString(" "))
      }).toDF("doc_id", "text")
    val viaStars = Components.minhashClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: CC over the pairwise LSH candidate join (unverified)
    val pairs = Dedup.minhashLsh(docs, verifyMinJaccard = None)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val viaPairs = ufMap(pairs.toSeq)
    val expected = docs.collect().map(_.getLong(0))
      .map(id => id -> viaPairs.getOrElse(id, id)).toMap
    assert(viaStars == expected)
    // the template clique really collapsed to one component rooted at 1
    assert((1L to 30L).forall(viaStars(_) == 1L))
  }

  test("CC runs at most 2 Spark jobs per round (materialize + fused " +
    "convergence check) and labels match union-find") {
    val edges = ((1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 201L))).toSeq
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    // pin job==action for the count: AQE splits an action into per-stage
    // jobs and a broadcast-hash build side runs as its own job — both
    // would make the budget measure planner mood, not driver round-trips
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = ccMap(edges)
      Thread.sleep(500) // listener events are async; let the bus drain
      assert(m == ufMap(edges))
      val rounds = Components.lastRounds
      assert(rounds >= 2, s"fixture should need multiple rounds, got $rounds")
      // input materialize + 2 per round + the final star-edge collect
      // (ccMap's own action); the unfused check ran 3 per round and would
      // fail this budget
      assert(jobs <= 2 * rounds + 2,
        s"expected <= ${2 * rounds + 2} jobs for $rounds rounds, saw $jobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abj)
    }
  }

  test("reliable-checkpoint option produces identical labels and writes " +
    "checkpoint files") {
    val edges = (1L until 25L).map(i => (i, i + 1)) :+ (50L, 51L)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val prevDir = spark.sparkContext.getCheckpointDir
    val viaReliable = Components
      .connectedComponents(edges.toDF("a", "b"),
        reliableCheckpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaReliable == ccMap(edges))
    // the SparkContext-global checkpoint dir is restored after the run —
    // a later checkpoint() user in the same app must not land in (or be
    // GC'd out of) the CC subdir
    assert(spark.sparkContext.getCheckpointDir == prevDir,
      "connectedComponents leaked its checkpoint-dir redirect")
    // the reliable path really wrote RDD checkpoint files
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    assert(wrote > 0, s"no rdd-* checkpoint dirs under $dir")
  }

  test("checkpoint-dir restore is EXACT for a caller that had one set") {
    // the resolved dir carries Spark's appended UUID: restoring through the
    // public setCheckpointDir would nest another UUID level (observable
    // global-state drift per CC run) — the shim writes the var back exactly
    val edges = (1L until 10L).map(i => (i, i + 1))
    val callerDir = java.nio.file.Files
      .createTempDirectory("graft-cc-caller").toString
    val ccDir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt2").toString
    spark.sparkContext.setCheckpointDir(callerDir)
    val resolved = spark.sparkContext.getCheckpointDir
    try {
      Components.connectedComponents(edges.toDF("a", "b"),
        reliableCheckpointDir = Some(ccDir)).collect()
      assert(spark.sparkContext.getCheckpointDir == resolved,
        "restore must be byte-exact, not re-resolved through setCheckpointDir")
    } finally {
      // put the suite's session back to the unset state
      org.apache.spark.GraftCheckpointAccess.set(spark.sparkContext, None)
    }
  }

  test("as-of join matches a local argmax scan on random events") {
    val rnd = new Random(7)
    val types = Seq("purchase", "click", "view")
    val rows = (1L to 600L).map { id =>
      (id, new java.sql.Timestamp(1700000000000L + rnd.nextInt(5000) * 1000L),
        rnd.nextInt(8).toLong, types(rnd.nextInt(3)), rnd.nextDouble() * 100)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
    val got = Events.asOfAttribution(df).collect()
      .map(r => r.getLong(0) -> (Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    // local reference: right side deduped to max(value) per (user, ts),
    // then latest right ts <= left ts
    val right = rows.filter(_._4 == "click")
      .groupBy(r => (r._3, r._2.getTime))
      .map { case ((u, t), rs) =>
        (u, t, BigDecimal(rs.map(_._5).max).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq
    val expected = rows.filter(_._4 == "purchase").map { l =>
      val cands = right.filter(r => r._1 == l._3 && r._2 <= l._2.getTime)
      val best = if (cands.isEmpty) None else Some(cands.maxBy(_._2))
      l._1 -> (best.map(_._2 / 1000L), best.map(_._3))
    }.toMap
    assert(got == expected)
  }
}
