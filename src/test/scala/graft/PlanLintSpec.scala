package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Corpus
import graft.index.{IndexCache, PostingIndex}

/** Structural lint over the ENTIRE query surface: every `SparkEntry.queries`
  * entry is built at sf0.001 and its physical plan is
  * checked for the one join shape that is never acceptable at 100 TB —
  * `CartesianProduct`, the non-broadcast all-pairs join. Every deliberate
  * cross join in this engine rides a `broadcast()` hint against a
  * model-sized side (centroid sets, grand-total scalars, threshold rows)
  * and plans as BroadcastNestedLoopJoin; a CartesianProduct appearing
  * anywhere means a hint was lost or a new operator shipped an accidental
  * all-pairs — the kind of regression that passes every value gate at
  * sf0.01 and detonates at scale.
  *
  * Building a query plans it without executing it, except for the ranked
  * index entry points: those run their Spark job when built and return a
  * local result, so their plan is a scan of local rows.
  *
  * The lint also proves every query CONSTRUCTS (analysis + physical
  * planning succeed) against the smallest fixture — a cheap whole-surface
  * smoke that catches schema drift in operators the per-op specs don't
  * reach.
  *
  * The serving lint pins ROADMAP direction B's criterion: the ranked
  * single-query entry points return a result that plans no Exchange at
  * all, on a preloaded handle and on one that is not.
  */
class PlanLintSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("no CartesianProduct anywhere on the query surface") {
    val offenders = ArrayBuffer.empty[String]
    val errors = ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) offenders += name
      } catch {
        case t: Throwable => errors += s"$name: ${t.getClass.getSimpleName} ${t.getMessage}"
      }
    }
    assert(errors.isEmpty, s"queries failed to plan: ${errors.mkString("; ")}")
    assert(offenders.isEmpty,
      s"CartesianProduct in physical plan of: ${offenders.mkString(", ")}")
  }

  /** Every shuffle in `df`'s physical plan, looking inside the adaptive
    * wrapper (its not-yet-run plan already carries the Exchanges) but not
    * into a cached relation's own plan, which ran once at preload.
    */
  private def shuffles(df: DataFrame): Seq[SparkPlan] = {
    def in(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case a: AdaptiveSparkPlanExec => in(a.executedPlan)
      case e: ShuffleExchangeLike => Seq(e)
      case _ => Nil
    }
    in(df.queryExecution.executedPlan)
  }

  test("no Exchange on the preloaded single-query path") {
    import spark.implicits._
    val dir = IndexCache.dirFor(spark, sfDir, stem = true)
    val q = "table scan merge"
    val docs = Corpus.documents(spark, sfDir)
    val syns = Seq(("table", "row"), ("merge", "join")).toDF("term", "syn")
    // every ranked single-query entry point: one Spec through `hits`
    def plans(idx: PostingIndex): Seq[(String, DataFrame)] = Seq(
      "search" -> idx.search(q, 10),
      "searchRounded" -> idx.searchRounded(q, 10),
      "searchConjunctive" -> idx.searchConjunctive("table scan", 10),
      "searchConjunctiveRounded" -> idx.searchConjunctiveRounded("table scan", 10),
      "searchAfterRounded" -> idx.searchAfterRounded(q, 10, 1.5, 42L),
      "searchBooleanRounded" -> idx.searchBooleanRounded("table", "merge scan", "stream", 10),
      "searchPrefixRounded" -> idx.searchPrefixRounded("s", 10, maxExpansions = 4),
      "searchWildcardRounded" -> idx.searchWildcardRounded("s*a*", 10, maxExpansions = 3),
      "searchFuzzyRounded" -> idx.searchFuzzyRounded("dat", 10, maxEdits = 2, maxExpansions = 3),
      "searchSynonymsRounded" -> idx.searchSynonymsRounded("table merge", syns, 10),
      "searchMoreLikeThisRounded" -> idx.searchMoreLikeThisRounded(
        docs.select("docId").as[Long].head(), 10, docs, maxTerms = 8),
      // a selective filter: the broadcast allow-list path
      "searchFilteredRounded" -> idx.searchFilteredRounded(q, 10,
        docs.filter($"lang" === "en").select("docId")))
    def check(idx: PostingIndex, handle: String): Unit = {
      val ps = plans(idx)
      // each entry point really ranks something at sf0.001
      val empty = ps.collect { case (name, df) if df.isEmpty => name }
      assert(empty.isEmpty, s"$handle: no rows from: ${empty.mkString(", ")}")
      val offenders = ps.collect { case (name, df) if shuffles(df).nonEmpty =>
        s"$name:\n${df.queryExecution.executedPlan}" }
      assert(offenders.isEmpty,
        s"$handle: Exchange on the serving path: ${offenders.mkString("\n")}")
    }
    val pre = new PostingIndex(spark, dir).preload()
    try check(pre, "preloaded") finally pre.close()
    val plain = new PostingIndex(spark, dir)
    check(plain, "not preloaded")
    // the detector is live: the source-diversified search re-cuts its page
    // by a window over the source attribute, which shuffles
    assert(shuffles(plain.searchDiverseRounded(q, 5,
      docs.withColumnRenamed("docId", "doc_id"), 1, 20)).nonEmpty)
  }
}
