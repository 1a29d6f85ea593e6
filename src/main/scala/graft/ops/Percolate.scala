package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Udfs

/** Standing-query matching — the percolator / alerting surface
  * (Elasticsearch percolate queries, Lucene Monitor): the queries are
  * REGISTERED and the documents stream past them, answering "which saved
  * searches does this new document match" for alerting, routing, and
  * saved-search notification at ingest time.
  *
  * Match contract (deterministic, cross-engine): a document matches a
  * query iff EVERY analyzed query term occurs in the document
  * (conjunctive containment — the alerting-useful form; disjunctive
  * matching would fire every alert on nearly every document). Queries
  * whose terms all analyze away match nothing.
  *
  * Scale shape (10^6 standing queries x an ingest stream):
  *
  *  - per-document term sets are computed ROW-LOCALLY
  *    (`array_distinct` inside the analysis projection) — never a
  *    corpus-wide distinct shuffle;
  *  - the query-term relation is a catalog-sized table and rides a
  *    BROADCAST into the join — the document side never shuffles for it;
  *  - the only shuffle is the (doc, query) match-count aggregation, whose
  *    input is the MATCHED pairs (map-side combined), not the corpus;
  *  - the containment check compares the per-pair match count to the
  *    query's distinct-term count (broadcast again, catalog-sized).
  *
  * Streaming composition: run this inside `foreachBatch` over the ingest
  * stream — each micro-batch percolates independently (the operator is
  * per-document, so batch boundaries cannot change results; spec-pinned
  * batch == stream in StreamingSpec).
  */
object Percolate {

  /** (doc_id, query_id) pairs — every live registered query each document
    * matches. UNORDERED: per-micro-batch output ordering is the caller's
    * concern (a global sort here would add a single-partition-bound
    * shuffle to every streaming micro-batch; the gate wrapper in
    * SparkEntry orders for the oracle compare). `docs` carries the
    * documents table shape (doc_id, text); `queries` carries
    * (query_id, query). NULL/analysis-empty queries and NULL documents
    * are dropped (the same no-match contract as empty analysis).
    */
  def percolate(docs: DataFrame, queries: DataFrame,
                stem: Boolean = false): DataFrame = {
    val analyzeFn = Udfs.analyzeOf(stem)
    val qt = queries
      .filter(col("query").isNotNull)
      .select(col("query_id").cast("long").as("query_id"),
        explode(array_distinct(analyzeFn(col("query")))).as("term"))
    val qn = qt.groupBy("query_id").agg(count(lit(1)).as("n_terms"))
    val dt = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(array_distinct(analyzeFn(col("text")))).as("term"))
    dt.join(broadcast(qt), "term")
      .groupBy("doc_id", "query_id").agg(count(lit(1)).as("m"))
      .join(broadcast(qn), "query_id")
      .filter(col("m") === col("n_terms"))
      .select("doc_id", "query_id")
  }
}
