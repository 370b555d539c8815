package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.operators.DedupOps

/** Streaming form of the near-dup admission gate: incoming documents
  * arrive as micro-batches and each batch is checked against the STATIC
  * corpus index, built, banded and persisted ONCE before the stream
  * starts and reused by every micro-batch (at production scale the
  * corpus index is a staged artifact refreshed out-of-band as admitted
  * docs accrete). The incoming side's shingle cache and the verdict
  * frame are scoped to their batch and unpersisted once the batch's
  * decisions land, so cache usage is flat across an unbounded stream.
  * Decisions append to a parquet side channel per batch, committed as
  * [[ClaimGate]] orders it, and [[readDecisions]] resolves replays. */
object DedupGateStream {

  /** Admitted docs' MinHash band rows, keyed by the band hash's low byte. */
  private val BandClaims = StructType.fromDDL("bucket INT NOT NULL, doc_id BIGINT NOT NULL, " +
    "band INT NOT NULL, band_hash BIGINT NOT NULL, epoch BIGINT NOT NULL")

  /** Admitted docs' shingle sets, keyed by doc-id bucket. */
  private val ShClaims = StructType.fromDDL(
    "dbucket INT NOT NULL, doc_id BIGINT NOT NULL, sh ARRAY<STRING>, epoch BIGINT NOT NULL")

  /** The accreted text index — (band rows, shingle sets), see [[run]] —
    * and the decision read contract (see [[readDecisions]]). */
  private val Gate = ClaimGate(
    outDir => Seq(
      ClaimStore(s"${outDir}_bands", BandClaims, Some("bucket")),
      ClaimStore(s"${outDir}_index", ShClaims, Some("dbucket"))),
    StreamVerdicts(Seq("doc_id", "admitted", "n_matches", "best_match", "best_jaccard"),
      anyTrue = Seq("admitted"),
      preClaim = Seq("n_matches", "best_match", "best_jaccard")))

  def claimStores(outDir: String): Seq[ClaimStore] = Gate.claimStores(outDir)

  /** RETENTION for the accreted text index on BOTH stores (band rows
    * and shingle sets age together: a doc whose claims aged out
    * re-admits whole). Run between stream runs. Returns (band rows,
    * shingle rows) dropped. */
  def sweepClaims(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): (Long, Long) = {
    val Seq(bands, sh) = Gate.sweepClaims(spark, outDir, minEpoch, maxDropFrac)
    (bands, sh)
  }

  /** The band and shingle-index stores as [[Maintenance.Action]]s — see
    * [[Maintenance.run]]. */
  def maintenanceActions(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): Seq[Maintenance.Action] =
    Gate.maintenanceActions(spark, outDir, minEpoch, maxDropFrac)

  /** Probe-key bucket of a MinHash band hash: its low 8 bits (splitmix64
    * output — uniform), 256 possible values, so a batch's touched set is
    * a bounded driver collect whatever the batch size. */
  private def bucketOf(bandHash: org.apache.spark.sql.Column) =
    bandHash.bitwiseAND(255).cast("int")

  /** Verify-side bucket of an admitted doc id — 64 possible values. */
  private def dbucketOf(docId: org.apache.spark.sql.Column) =
    pmod(docId, lit(64L)).cast("int")

  /** `accrete = true` folds each batch's ADMITTED documents into the
    * corpus index before the next batch — the production admission-gate
    * semantics: once a novel document enters the corpus, later
    * duplicates of it are rejected, even across micro-batches AND across
    * restarts. The accreted index is TWO generational [[ClaimStore]]s,
    * both laid out on their probe key so a batch never rescans the whole
    * store:
    *
    *  - `<outDir>_bands` — admitted docs' MinHash band rows, partitioned
    *    by the band hash's low byte: candidate generation reads only the
    *    ≤ 256 buckets the batch's own band hashes touch;
    *  - `<outDir>_index` — admitted docs' shingle sets, partitioned by
    *    doc-id bucket: the exact-Jaccard verify fetches sh ONLY for the
    *    ≤ 64 id buckets the surviving candidates name.
    *
    * Claims land one delta file per batch BEFORE the checkpoint commits
    * and fold into a partitioned generation at the file budget, so the
    * store's file count is bounded and a resumed stream keeps rejecting
    * duplicates of everything it ever admitted. Redelivered batches
    * re-append identical rows; the pruned reads dedup per doc_id, so
    * at-least-once delivery cannot double-count a corpus doc in later
    * verdicts. */
  def run(
      corpus: DataFrame,
      incoming: DataFrame,
      outDir: String,
      checkpoint: String,
      accrete: Boolean = false,
      maxBandFreq: Option[Long] = None,
      epochBase: Long = 0L): StreamingQuery = {
    val spark = corpus.sparkSession
    val spark0 = spark
    import spark0.implicits._
    val Seq(bandStore, shStore) = claimStores(outDir)
    // base index: shingles AND band rows persist for the stream's
    // lifetime — band hashes of the static corpus are computed once, not
    // once per micro-batch
    val base = DedupOps.gateShingles(corpus)
    val baseBands = DedupOps.bandRows(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    baseBands.count()
    val query = Gate.run(incoming, outDir, checkpoint, epochBase) { b =>
      val iSh = b.hold(DedupOps.gateShingles(b.frame))
      val iBands = DedupOps.bandRows(iSh)
      // candidate generation: the batch's bands against the cached base
      // plus the accreted store PRUNED to the buckets this batch probes
      val touched = iBands.select(bucketOf(col("band_hash")).as("bucket"))
        .distinct().as[Int].collect().toSeq
      val storeBands = bandStore.readPruned(spark, touched)
        .select("doc_id", "band", "band_hash")
      val cand = b.persist(DedupOps
        .gateCandidates(iBands, baseBands.union(storeBands), maxBandFreq))
      // verify fetch: sh only for the id buckets the candidates name
      // (redelivered store rows are identical — dedup the pruned read).
      // This collect IS the candidate pass's cache fill (it consumes
      // every cand partition) — a separate count() paid one whole
      // extra job per batch
      val touchedIds = cand.select(dbucketOf(col("corpus_id")).as("d"))
        .distinct().as[Int].collect().toSeq
      val storeSh = shStore.readPruned(spark, touchedIds)
        .dropDuplicates("doc_id")
        .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
      val cShById = base
        .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
        .union(storeSh)
      val verdict = b.hold(DedupOps.gateVerdicts(cand, iSh, cShById, b.frame))
      val admitted = verdict.filter(col("decision") === "admit").select("doc_id")
      ClaimGate.Commit(verdict, claims = if (!accrete) Nil else Seq(
        bandStore -> iBands.join(admitted, Seq("doc_id"))
          .select(bucketOf(col("band_hash")).as("bucket"),
            col("doc_id"), col("band"), col("band_hash")),
        shStore -> iSh.join(admitted, Seq("doc_id"))
          .select(dbucketOf(col("doc_id")).as("dbucket"), col("doc_id"), col("sh"))))
    }
    // release the corpus index when the stream ends (daemon watcher —
    // run() hands the live query back to the caller, so the index's
    // lifetime is tied to the query's, not to this call)
    val watcher = new Thread(() => {
      try query.awaitTermination()
      catch { case _: Throwable => () }
      finally { baseBands.unpersist(); base.unpersist() }
    })
    watcher.setDaemon(true)
    watcher.start()
    query
  }

  /** Decision readback under the gate's [[StreamVerdicts]] contract: a
    * doc admits if ANY delivery admitted it (its own shingles in the
    * accreted index prove the admission — a replay after the claim
    * landed self-matches and re-emits reject), and the match stats come
    * from the pre-claim delivery (minimum n_matches — the index only
    * grows, so the original match set is a subset of any replay's). */
  def readDecisions(spark: SparkSession, outDir: String): DataFrame =
    Gate.verdicts.resolvePerDoc(spark.read.parquet(outDir)
      .withColumn("admitted", col("decision") === "admit"))
      .select(col("doc_id"),
        when(col("admitted"), "admit").otherwise("reject").as("decision"),
        col("n_matches"), col("best_match"), col("best_jaccard"))
}
