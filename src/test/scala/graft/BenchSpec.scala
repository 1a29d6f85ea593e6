package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contract line and its plan arithmetic, without a Spark
  * session: the line parses with [[Json]], keeps the key order and the
  * decimals the round driver reads, stays inside the driver's stdout tail,
  * counts every breadth query once when the plan is cut at its deadline,
  * and names a stage that did not fit.
  */
class BenchSpec extends AnyFunSuite {
  import Bench._

  private val cal = (0.842, 0.124)

  private def keys(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    n.fieldNames().asScala.toSeq

  test("the line reproduces a recorded driver line: key order and decimals") {
    // BENCH_r05's parsed line: 138 timed (the headline 15 plus 123 others
    // summing to the recorded total), 2+2 scaling reps, no latency sample
    val head = Seq(0.429, 1.113, 0.729, 0.963, 0.803, 0.468, 1.402, 5.183,
      5.235, 4.224, 0.565, 0.918, 1.229, 0.573, 0.147)
    val others = ("other_0" -> 92.773) +: (1 until 123).map(i => s"other_$i" -> 0.0)
    val r = Report("/root/testdata/sf0.1", 240000L, 7.3, 200.0, 155,
      results = (headlineQueries.zip(head) ++ others).toVector,
      prewarmSec = Some(13.237),
      blocks = Map(
        "build" -> buildBlock(2, 8, Seq(34.055, 30.530), Seq(9.206, 9.090), 240000L),
        "query_latency" -> latencyBlock(240000L, Nil, Nil, Nil)))
    val want = """{"metric":"total","value":116.754,"unit":"sec","queries":{""" +
      """"ep2_wand_tsm":0.429,"t1_bm25_tsm":1.113,"bm25_stemmed_tsm":0.729,""" +
      """"j2_hydrate":0.963,"ep2_hybrid_rrf":0.803,"ep2_explain_tsm":0.468,""" +
      """"ep2_sigterms_dup":1.402,"dedup_minhash_lsh":5.183,"dedup_components":5.235,""" +
      """"dedup_ngram_jaccard":4.224,"decontam_audit":0.565,"ann_ivf":0.918,""" +
      """"ann_ivf_q":1.229,"f7_kwic_pos":0.573,"s1_scan_docs":0.147},""" +
      """"queries_timed":138,"queries_skipped":17,"queries_full":"bench.json",""" +
      """"sf":"/root/testdata/sf0.1","scale_docs":240000,"sbt_boot_sec":7.3,""" +
      """"budget_sec":200.0,"prewarm_sec":13.237,"build":{"localN_cores":2,""" +
      """"local4N_cores":8,"repsN":2,"reps4N":2,"localN_sec":30.530,""" +
      """"localN_docs_per_sec":7861.1,"local4N_sec":9.090,""" +
      """"local4N_docs_per_sec":26402.6,"scaling_efficiency":0.840},""" +
      """"query_latency":{"corpus_docs":240000,"samples":0},""" +
      """"host_cal_cpu_sec":0.842,"host_cal_mem_sec":0.124,"elapsed_sec":244.459}"""
    val got = compactLine(r, "bench.json", cal, 244.459)
    assert(got == want)
    assert(keys(Json.mapper.readTree(got)) == Seq("metric", "value", "unit", "queries",
      "queries_timed", "queries_skipped", "queries_full", "sf", "scale_docs",
      "sbt_boot_sec", "budget_sec", "prewarm_sec", "build", "query_latency",
      "host_cal_cpu_sec", "host_cal_mem_sec", "elapsed_sec"))
  }

  /** A report of a typical draw (scaling, latency with its modes, the
    * last two stages out of budget) with `results`; with `every`, also the
    * bigvocab and soak blocks and a raw efficiency above 1.
    */
  private def report(results: Vector[(String, Double)], every: Boolean = false): Report = {
    val typical = Map(
      "build" -> buildBlock(2, 8, Seq(30.5, 31.0), Seq(if (every) 7.0 else 9.2, 9.3), 240000L),
      "query_latency" -> latencyBlock(240000L, Seq.fill(35)(0.1234),
        Seq.fill(18)(0.2345), Seq.fill(5)(0.3456)))
    val more = Map(
      "build_bigvocab" -> Json.mapper.createObjectNode().put("docs", 60000)
        .put("vocab", 1634567).put("auto_fallback", true).put("fallback_sec", 21.123)
        .put("dict_sec", 19.456).put("fallback_docs_per_sec", 2840.5),
      "soak" -> latencyBlock(10000000L, Seq.fill(35)(0.5678), Nil, Nil))
    Report("/root/testdata/sf0.1", 240000L, 12.3, 187.4, breadthNames.size,
      results = results, prewarmSec = Some(13.5),
      skippedStages = if (every) Vector.empty else Vector("bigvocab" -> "budget", "soak" -> "budget"),
      blocks = if (every) typical ++ more else typical)
  }

  test("with all breadth queries timed the line stays within 1,500 chars, headline queries in order") {
    val names = breadthNames
    assert(names.size == SparkEntry.queries.size && names.toSet == SparkEntry.queries.keySet)
    assert(headlineQueries.forall(names.contains))
    val timed = names.map(_ -> 12.345).toVector
    val l = compactLine(report(timed), "bench-runs/bench-20261020-120000.json", cal, 187.399)
    assert(l.length <= 1500, l)
    val o = Json.mapper.readTree(l)
    assert(keys(o.get("queries")) == headlineQueries)
    assert(o.get("queries_timed").asInt == names.size && o.get("queries_skipped").asInt == 0)
    assert(o.get("stages_skipped").get("soak").asText == "budget")
    assert(keys(o.get("query_latency")) ==
      Seq("corpus_docs", "samples", "p50_sec", "p95_sec", "modes"))
    // every block and a long error note: headline queries drop from the
    // end, never out of order
    val r = report(timed, every = true).copy(error = Some("x" * 200))
    val cut = compactLine(r, "bench-runs/bench-20261020-120000.json", cal, 187.399)
    assert(cut.length <= 1500, cut)
    val c = Json.mapper.readTree(cut)
    val kept = keys(c.get("queries"))
    assert(kept.nonEmpty && kept == headlineQueries.take(kept.size))
    assert(cut.contains(""""scaling_efficiency":1.000,"scaling_efficiency_raw":1.089,"""))
    assert(c.get("build").get("scaling_noise").asBoolean)
    // the full map carries every query
    assert(keys(Json.mapper.readTree(line(r, r.results, None, cal, 1.0)).get("queries")) == names)
  }

  test("a plan cut at its deadline counts every breadth query once") {
    val names = breadthNames
    var now = 0.0
    val limits = scala.collection.mutable.ArrayBuffer.empty[Double]
    var results = Vector.empty[(String, Double)]
    // a 60 s slot; tier-1 (expensive) queries take 4 s, the last one
    // started overruns its limit and is cancelled at it
    breadth(names, () => 60.0 - now, (q, limit) => {
      limits += limit
      val cost = if (q.startsWith("dedup_")) 4.0 else 0.5
      now += math.min(cost, limit)
      if (cost > limit) -2.0 else cost
    }, (q, s) => results :+= (q -> s))
    assert(results.nonEmpty && results.size < names.size)
    assert(results.map(_._1) == names.take(results.size))
    assert(limits.forall(l => l > 1.0 && l <= 15.0))
    assert(now <= 60.0)
    val o = Json.mapper.readTree(line(report(results), results, None, cal, 61.0))
    assert(o.get("queries_timed").asInt + o.get("queries_skipped").asInt == names.size)
    assert(o.get("queries_skipped").asInt == names.size - results.size)
  }

  test("a stage that did not fit is named in the line, and its block is absent") {
    val r = Report("/root/testdata/sf0.001", 24000L, 20.0, 60.0, 155,
      skippedStages = Vector("scaling" -> "budget"),
      blocks = Map("query_latency" -> latencyBlock(10L, Seq(0.01, 0.02), Nil, Nil)))
    val o = Json.mapper.readTree(compactLine(r, "f.json", cal, 58.0))
    assert(o.get("stages_skipped").get("scaling").asText == "budget")
    assert(!o.has("build") && o.has("query_latency"))
    assert(o.get("queries_timed").asInt == 0 && o.get("queries_skipped").asInt == 155)
  }

  test("the scaling levels follow the host's cores") {
    assert(levels(32).contains((2, 8)))
    assert(levels(8).contains((2, 8)))
    assert(levels(7).contains((1, 4)))
    assert(levels(4).contains((1, 4)))
    assert(levels(3).isEmpty && levels(1).isEmpty)
  }
}
