package graft.streaming

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.sources.TmpStores

/** One streaming claim gate: the claim stores it accretes and the read
  * contract its verdicts resolve under, declared once. Retention sweeps,
  * maintenance actions and the verdict read-back all derive from this
  * value; [[run]] drives the gate's stream through the shared batch
  * commit.
  *
  * The batch commit ([[ClaimGate.commit]]) is the ONE ordering argument
  * every gate relies on, in three phases:
  *
  *  1. the verdict `Append` and every other consumer of the batch's
  *     verdicts (a funnel frame, a curated or tokenized store append)
  *     land together in one [[StreamPar.runAll]] — they write disjoint
  *     dirs and each is replay-safe on its own, so overlapping them adds
  *     no crash schedule;
  *  2. every claim delta lands, stamped `epoch = epochBase + batchId`:
  *     only after every consumer, because a crash after the claims but
  *     before a consumer would lose that consumer's rows for good (the
  *     replay sees its winners already claimed); `epochBase` is a
  *     caller-threaded monotone build number, because a restarted
  *     stream's batch ids begin at 0 again and raw ids would alias
  *     across runs and let a sweep age out fresh claims;
  *  3. every store folds: only after the last delta, because a fold
  *     deletes the delta files it consumed, and a later write whose
  *     lineage re-reads this batch's store scan (Spark recomputes
  *     lazily; a cache hit is not guaranteed under `foreachBatch`) would
  *     resolve vanished paths.
  *
  * The checkpoint commits only after all three, so the one corrupted
  * delivery is a batch replayed after its claims landed — which the
  * gate's [[StreamVerdicts]] contract resolves at read time. */
private[streaming] final case class ClaimGate(
    claimStores: String => Seq[ClaimStore],
    verdicts: StreamVerdicts) {

  /** Retention sweep of every store, in declaration order: claims whose
    * epoch is below `minEpoch` fold away under the drop-fraction
    * guardrail. Run between stream runs. Returns the rows each dropped. */
  def sweepClaims(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): Seq[Long] =
    claimStores(outDir).map(_.retentionSweep(spark, minEpoch, maxDropFrac))

  /** Every store as a sweep-then-compact [[Maintenance.Action]]. */
  def maintenanceActions(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): Seq[Maintenance.Action] =
    Maintenance.sweepActions(spark, claimStores(outDir), minEpoch, maxDropFrac)

  /** Start the gate's stream: each micro-batch runs `body` and commits
    * what it returns to `outDir`; the frames `body` holds on the batch
    * are released once the batch ends, whether it commits or fails. */
  def run(incoming: DataFrame, outDir: String, checkpoint: String,
      epochBase: Long)(body: ClaimGate.Batch => ClaimGate.Commit): StreamingQuery =
    ClaimGate.start(incoming, checkpoint) { (frame, batchId) =>
      val b = new ClaimGate.Batch(frame, batchId, epochBase + batchId)
      try ClaimGate.commit(frame.sparkSession, outDir, b.epoch, body(b))
      finally b.release()
    }
}

private[streaming] object ClaimGate {

  /** One micro-batch: its rows, its id, its retention epoch, and the
    * batch-scoped cached frames released when it ends. */
  final class Batch(val frame: DataFrame, val id: Long, val epoch: Long) {
    private val held = ArrayBuffer.empty[DataFrame]

    /** Register an already-persisted frame for release with the batch. */
    def hold(df: DataFrame): DataFrame = { held += df; df }

    /** Persist `df` for this batch only. */
    def persist(df: DataFrame): DataFrame =
      hold(df.persist(StorageLevel.MEMORY_AND_DISK))

    private[ClaimGate] def release(): Unit = held.reverseIterator.foreach(_.unpersist())
  }

  /** What a batch commits: the verdict rows to append, the other
    * verdict consumers, each store's claim delta (without its epoch
    * column — the commit stamps it), and any store a consumer appended
    * to that must fold with the claim stores. */
  final case class Commit(
      verdict: DataFrame,
      consumers: Seq[() => Unit] = Nil,
      claims: Seq[(ClaimStore, DataFrame)] = Nil,
      alsoFold: Seq[ClaimStore] = Nil)

  /** The three-phase batch commit — see [[ClaimGate]]. */
  def commit(spark: SparkSession, outDir: String, epoch: Long, c: Commit): Unit = {
    StreamPar.runAll(
      (() => c.verdict.write.mode(SaveMode.Append).parquet(outDir)) +: c.consumers)
    StreamPar.runAll(c.claims.map { case (st, delta) =>
      () => st.appendDelta(delta.withColumn(st.epochCol, lit(epoch)))
    })
    StreamPar.runAll((c.claims.map(_._1) ++ c.alsoFold).map(st =>
      () => { st.maybeCompact(spark); () }))
  }

  /** The one stream starter: `body` runs once per micro-batch over
    * everything available now, and the checkpoint advances only after
    * it returns (at-least-once). */
  def start(incoming: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    incoming.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => body(batch, batchId) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** A fixture query's private directory tree, `<tmp>/<tag>-<pid>`,
    * wiped whole so a repeat run starts from nothing — no store, claim
    * or checkpoint of an earlier run survives into its verdicts. */
  def fixture(spark: SparkSession, tag: String): Fixture = {
    val root = TmpStores.pidScopedRoot(tag)
    TmpStores.deleteRecursively(root)
    Files.createDirectories(root)
    new Fixture(spark, root)
  }

  final class Fixture(spark: SparkSession, root: Path) {
    def path(name: String): String = root.resolve(name).toString

    /** Write each batch, in order, as one parquet file under `name`, and
      * return a stream over them that takes one file per trigger, oldest
      * first. */
    def arrivals(name: String, batches: DataFrame*): DataFrame = {
      val dir = path(name)
      batches.foreach(_.coalesce(1).write.mode(SaveMode.Append).parquet(dir))
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
    }
  }
}
