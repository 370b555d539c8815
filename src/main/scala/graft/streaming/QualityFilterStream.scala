package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextOps
import graft.sources.Tables

/** Streaming DEPLOYMENT of the trained quality model — the serve half of
  * the train→deploy loop: the 5 weights and 4 train-set means are fitted
  * ONCE in batch ([[TextOps.trainQualityModel]]'s loop) and then applied
  * to every incoming micro-batch as a pure narrow map (the same
  * fixed-point arithmetic, literal weights in the plan — no state, no
  * shuffle, no watermark; the checkpoint tracks only source offsets).
  * Verdict rows (doc_id, y, pred) append per batch before the checkpoint
  * commits — at-least-once like the publishers, and since scoring is
  * deterministic a redelivered batch re-appends identical rows.
  *
  * At 100 TB/day this is the shape a production filter runs: the model
  * artifact is driver-tiny, refreshed out-of-band by re-running the
  * batch fit, while the scoring fleet touches each document exactly once
  * with zero wide operations. */
object QualityFilterStream {

  def run(
      incoming: DataFrame,
      weights: Seq[Long],
      means: Seq[Long],
      outDir: String,
      checkpoint: String): StreamingQuery =
    ClaimGate.start(incoming, checkpoint) { (batch, _) =>
      TextOps.scoreQualityRows(batch, weights, means)
        .write.mode(SaveMode.Append).parquet(outDir)
    }

  /** Oracle-gated query: fit on the even doc_id half in batch, then
    * stream the held-out odd half through the filter as two
    * file-per-trigger micro-batches and read the appended verdicts
    * back. Scoring is stateless, so the result is independent of batch
    * order and SQL-expressible: the oracle replays the fit and predicts
    * each odd doc relationally. */
  def qualityFilterStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-qfs")
    val docs = Tables(spark, dir, "documents")
    val (_, w, m) = TextOps.qualityTrainLoop(docs.filter(col("doc_id") % 2 === 0), 12)
    val held = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val src = fx.arrivals("in",
      held.filter(col("doc_id") % 4 === 1), held.filter(col("doc_id") % 4 === 3))
    run(src, w, m, fx.path("out"), fx.path("ckpt")).awaitTermination()
    spark.read.parquet(fx.path("out")).orderBy("doc_id")
  }
}
