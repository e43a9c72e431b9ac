package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming incremental dedup — d10's verdict contract over a DOCUMENT
  * stream: every micro-batch is md5- and band-probed against the
  * persisted corpus index PLUS the stream's own accumulated index, then
  * appends (a) its verdicts and (b) its per-doc index/shingle rows, so
  * later batches see earlier ones as "existing". The batch-gate twin is
  * [[graft.operators.Dedup.streamDedupFold]] (CORRECTNESS row
  * `e15_stream_dedup`); StreamingSpec pins stream ≡ fold.
  *
  * `foreachBatch` is the right operator here, not `mapGroupsWithState`:
  * the per-batch work is a whole DataFrame program — hash joins against
  * parquet-side state that outlives the query and is shared with the
  * BATCH dedup deployment (the same persisted index d10 probes). State
  * in the state store would be private to this query and rebuilt per
  * restart; state in the warehouse is the pipeline's shared artifact.
  *
  * Failure semantics: a replayed batch re-appends its index rows.
  * Duplicate index rows only duplicate candidate pairs, and every match
  * aggregation is a `min()` — verdicts are insensitive to replay.
  * Verdict rows for a replayed batch do repeat in the append sink; the
  * downstream consumer keys by doc_id (last verdict wins; they are
  * identical), matching the at-least-once contract of any foreachBatch
  * side-effect sink.
  */
object DedupStream {

  /** Start the verdict stream. `docs` is a STREAMING frame with at least
    * (doc_id, text); `existingIndex`/`existingShingles` are the corpus's
    * persisted artifacts ([[Dedup.DedupSig]] /
    * [[Dedup.Shingles]] in a deployment). Writes under
    * `baseDir`: `verdicts/` (append sink), `stream_index/` and
    * `stream_shingles/` (the growing stream-side existing state). */
  def verdictStream(docs: DataFrame, existingIndex: DataFrame,
      existingShingles: DataFrame, baseDir: String,
      checkpointDir: String): StreamingQuery = {
    val verdictsDir = s"$baseDir/verdicts"
    val idxDir = s"$baseDir/stream_index"
    val shDir = s"$baseDir/stream_shingles"
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = new Path(baseDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def readIf(dir: String, base: DataFrame): DataFrame =
          if (fs.exists(new Path(dir))) base.unionByName(spark.read.parquet(dir))
          else base
        // localCheckpoint: the batch feeds the probe AND two index
        // appends; materializing once keeps a re-planned source from
        // re-reading it three times
        val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
        Dedup.incrementalDedup(b,
            readIf(idxDir, existingIndex), readIf(shDir, existingShingles))
          .write.mode("append").parquet(verdictsDir)
        Dedup.withBatchIndex(b) { (idx, sh) =>
          idx.write.mode("append").parquet(idxDir)
          sh.write.mode("append").parquet(shDir)
        }
        Dedup.freeCheckpoint(b)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
