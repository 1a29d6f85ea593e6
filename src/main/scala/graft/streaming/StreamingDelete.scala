package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{IndexBuilder, IndexConfig, IndexFormat}

/** Continuous delete pipe — the streaming complement of [[StreamingIndex]]
  * for takedown/GDPR-style removal feeds, composed from pieces that are
  * each already hard-gated:
  *
  *  - `foreachBatch` replays a failed micro-batch with the same batchId;
  *  - [[IndexBuilder.delete]]'s per-deleteId idempotence: a re-run
  *    overwrites its own `tombstones/del=…` partition, converging instead
  *    of duplicating.
  *
  * Together: exactly-once tombstoning. Serving picks the overlay up on the
  * next [[graft.index.PostingIndex]] handle (deleted docs leave results
  * immediately, surviving scores untouched), and the statistics refresh is
  * batched into compaction — the Lucene-style split.
  *
  * `compactAbove > 0` bounds the overlay: after a batch pushes the
  * tombstone row count (parquet-footer metadata read on the driver, no
  * Spark job; duplicates across delete batches counted — a threshold
  * heuristic, not an exact distinct) past the bound, the sink compacts
  * in-trigger. Compaction is itself crash-resumable (two-phase marker)
  * and convergent, so replay safety is preserved; a replayed pre-compact
  * batch re-tombstones ids that are already physically gone — harmless
  * no-ops (the anti-join removes nothing; the overlay excludes ids no
  * posting carries).
  *
  * SERVING CONTRACT with `compactAbove > 0`: the sink then OWNS `dir` —
  * in-trigger compaction rewrites the postings tree in place, and a reader
  * pointed at the same directory mid-compact sees a postings-less (= empty)
  * index. Serve from a [[graft.index.IndexBuilder.cloneIndex]] clone (or a
  * pointer you swap after each compact), exactly as [[IndexBuilder.compact]]
  * documents. With `compactAbove = 0` (the default) the sink only ever ADDS
  * tombstone files, so same-directory serving is safe — readers pick the
  * overlay up on their next handle.
  *
  * 100-TB cost shape: a delete trigger is O(|ids|) — no index read, no
  * re-encode — so the pipe sustains arbitrarily frequent small takedowns;
  * only the amortized compact pays the postings re-encode, at a cadence
  * the overlay bound controls.
  */
object StreamingDelete {

  /** Start the delete sink over a STREAMING frame carrying a `doc_id` (or
    * `docId`) column. `availableNow = true` drains the source and
    * terminates (test/backfill mode); default is a continuous query.
    */
  def sink(ids: DataFrame, dir: String, cfg: IndexConfig,
           checkpointDir: String, availableNow: Boolean = false,
           compactAbove: Long = 0L): StreamingQuery = {
    val w = ids.writeStream
      .queryName("graft-index-deletes")
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          IndexBuilder.delete(batch.sparkSession, batch.toDF(), dir,
            f"stream-$batchId%09d")
          if (compactAbove > 0) {
            val n = IndexFormat.rowCount(dir, IndexFormat.tombstones)
            if (n >= compactAbove) {
              IndexBuilder.compact(batch.sparkSession, dir, cfg)
              graft.index.PostingIndex.invalidate(dir)
            }
          }
        }
        ()
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }
}
