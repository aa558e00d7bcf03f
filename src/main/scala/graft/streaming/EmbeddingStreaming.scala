package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Streaming admission for embedding arrivals — the semantic twin of
  * [[DocumentStreaming.admissionSink]]: each micro-batch is decided by
  * [[Similarity.incrementalSemanticDedup]] against the persisted
  * cluster-prefix anchor index (≤ k·maxPriors rows — the admitted
  * corpus's embeddings are never re-read), kept rows append to the
  * corpus store and budget-fitting anchors append to the index, both
  * batch-keyed APPEND state ([[BatchState]]).
  */
object EmbeddingStreaming {

  /** Usage: `vecs.writeStream.foreachBatch(
    *   EmbeddingStreaming.admissionSink(ix, out, cents, "vec_id",
    *     "embedding", 0.95))`. `centroids` is the (bounded, broadcast)
    * coarse quantizer — (centroid_id, vec). */
  def admissionSink(indexPath: String, admittedPath: String,
      centroids: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxPriors: Int = 20)
      : (DataFrame, Long) => Unit = BatchState.sink {
        (spark, batch, batchId) =>
    // centroid_id's type follows the caller's centroids frame — a
    // hardcoded LongType would wedge the stream on the second batch if
    // the quantizer used int ids (parquet written int32, read BIGINT)
    val cidType = centroids.schema("centroid_id").dataType
    val index = BatchState.readAppend(spark, indexPath, batch.limit(0)
      .select(col(idCol), col(vecCol),
        lit(null).cast(cidType).as("centroid_id")),
      batchId)
    val (decisionsRaw, anchorsRaw) = Similarity.incrementalSemanticDedup(
      batch, index, centroids, idCol, vecCol, threshold, maxPriors)
    // two write actions consume the admission below; checkpoint so the
    // decision join doesn't re-run per write (and can't diverge on a
    // lineage replay)
    val decisions = decisionsRaw.localCheckpoint()
    val anchors = anchorsRaw.localCheckpoint()
    val kept = decisions.filter(col("keep")).select(col(idCol))
    BatchState.write(batch.join(kept, Seq(idCol)), admittedPath, batchId)
    BatchState.write(anchors, indexPath, batchId)
  }
}
