package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Ivf

/** Streaming index ingest — the continuous twin of [[Ivf.append]]:
  * vectors ARRIVE (new crawl shards, fresh embeddings) and each
  * micro-batch is assigned against the FROZEN centroids of a persisted
  * IVF layout, then partition-appended. This closes the index
  * lifecycle the batch operators already cover (build → save → append
  * → cellBalance → search): with ingest running, the same layout that
  * serves [[KnnServe.serveIvf]] queries absorbs writes, Spark-style —
  * micro-batched parquet appends, not per-row upserts into a resident
  * graph (the reference rebuilds its in-memory HNSW per corpus change,
  * Program.cs:125-204; a 100 TB index cannot).
  *
  * Scale shape per trigger: the argmin assignment is the same map-only
  * broadcast-literal pass as [[Ivf.assign]] (zero shuffles), then ONE
  * repartition on centroid_id so each touched cell dir gains exactly
  * one file per batch. Centroids are collected ONCE at stream start —
  * frozen by the same contract as [[Ivf.append]]/[[graft.operators.Pq.append]]
  * (drift is watched via [[Ivf.cellBalance]], q63, and answered by
  * re-training, not by mutating centroids mid-stream). Same
  * DISJOINTNESS CONTRACT as [[Ivf.append]]: ids already resident get a
  * second posting; streams own id uniqueness (exactly-once sinks need
  * the usual checkpoint + idempotent-id discipline).
  */
object IndexIngest {

  /** Start ingesting `vectors` (streaming frame with `vec_id`,
    * `embedding`) into the persisted index at `path`. Processes all
    * available data then terminates (`AvailableNow`) — swap the
    * trigger for continuous ingest in production.
    *
    * `checkpoint` is the stream's checkpointLocation. `appendWith` is
    * NOT idempotent (a replayed batch double-appends its postings), so
    * a restart without a checkpoint replays the whole source; pass a
    * durable path for anything beyond a one-shot backfill of a source
    * that will never be re-run. */
  def ingest(vectors: DataFrame, path: String,
             checkpoint: Option[String] = None): StreamingQuery = {
    val spark = vectors.sparkSession
    val cs = Ivf.collectCentroids(Ivf.loadCentroids(spark, path))
    val writer = vectors.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Ivf.appendWith(cs, path, batch)
      }
      .trigger(Trigger.AvailableNow())
    checkpoint.foreach(cp => writer.option("checkpointLocation", cp))
    writer.start()
  }
}
