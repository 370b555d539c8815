package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.MultimodalOps
import graft.sources.Tables

/** STREAMING perceptual admission gate on the image column — the
  * multimodal twin of [[DedupGateStream]] and the Hamming-ball lift of
  * [[CurationStream]]'s exact-md5 claim store: micro-batches of asset
  * specs arrive, each asset is synthesized + decoded + dHashed
  * partition-locally (binaries never shuffle), the hash probes the
  * ACCRETING fingerprint store with the banded Hamming join of
  * `MultimodalOps.verifiedPairs`, and every novel asset
  * claims its fingerprint before the checkpoint commits — so a
  * re-encoded duplicate of anything the stream ever admitted is
  * rejected, across micro-batches AND across restarts.
  *
  * The banding is derived from the modality's verify radius and is
  * recall-complete there by pigeonhole (`MultimodalOps.probeBands`), so
  * the LSH is an implementation detail of an EXACT Hamming-radius join —
  * which is what the DuckDB oracle replays, brute-force pairwise with
  * `bit_count(xor(..))`.
  *
  * Intra-batch novelty is deliberately NOT adjudicated here: two novel
  * near-duplicates arriving in ONE batch both admit (the batch dedup
  * operator, `MultimodalOps.imageDedup`, owns that pass); the stream
  * gate enforces cross-batch novelty against the claim store, exactly
  * like the reference's admit-only-validated-records publisher gate
  * (amundsendatabuilder publisher/neo4j_csv_publisher.py:271-287).
  *
  * Claim-store shape — the shared [[ClaimStore]] discipline: claims land
  * pre-exploded to their 8 (band, value) probe rows keyed by
  * `pk = band * 256 + value` (2048 possible keys), one delta file per
  * batch, folded into a `pk=`-partitioned generation at the file budget
  * by an atomic CURRENT swap. A batch's probe collects its touched pk
  * set (bounded by 2048 whatever the batch size) and reads the store
  * PARTITION-PRUNED to those keys — per-batch probe cost is the touched
  * partitions plus at most the delta budget of small files, never a
  * whole-store scan or shuffle. `maxBandFreq` is the hot-key guard: real
  * corpora pile degenerate perceptual hashes (solid-color images,
  * silence) onto a handful of (band, value) keys, and one hot key yields
  * |probe|×|corpus| candidates — keys whose claim count exceeds the cap
  * are dropped whole (bounded recall loss on pathological keys for a
  * hard bound on candidate volume, the containment DF-cap discipline).
  *
  * At-least-once: the batch commits as [[ClaimGate]] orders it, and
  * [[resolveVerdicts]] reads back under the gate's [[StreamVerdicts]]
  * contract. */
object MediaDedupStream {

  /** The perceptual claim store — see the object doc — and the verdict
    * read contract (see [[resolveVerdicts]]). */
  private val Gate = ClaimGate(
    outDir => Seq(ClaimStore(s"${outDir}_fps", MultimodalOps.BandedClaims, Some("pk"))),
    StreamVerdicts(Seq("doc_id", "orig_id", "kind", "admitted", "n_matches", "min_match"),
      anyTrue = Seq("admitted"),
      preClaim = Seq("n_matches", "min_match"),
      carried = Seq("orig_id", "kind")))

  def claimStores(outDir: String): Seq[ClaimStore] = Gate.claimStores(outDir)

  /** RETENTION for the perceptual claim store: claims older than
    * `minEpoch` fold away under the drop-fraction guardrail, so an asset
    * whose every claim aged out RE-ADMITS on its next arrival while
    * in-horizon claims keep rejecting. Run between stream runs (offline,
    * like compaction). */
  def sweepClaims(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): Long =
    Gate.sweepClaims(spark, outDir, minEpoch, maxDropFrac).sum

  /** The perceptual claim store as a [[Maintenance.Action]] — see
    * [[Maintenance.run]]. */
  def maintenanceActions(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): Seq[Maintenance.Action] =
    Gate.maintenanceActions(spark, outDir, minEpoch, maxDropFrac)

  /** Per-batch gate: hash → banded candidate join against the pruned
    * claim store → radius verify → verdict append → claim append.
    * `modality` names the 64-bit perceptual hash, its per-kind twin
    * transforms and its verify radius: the image dHash by default, the
    * audio loudness hash for [[audioDedupStreamQuery]]. */
  def run(
      incoming: DataFrame,
      outDir: String,
      checkpoint: String,
      modality: MultimodalOps.Modality[Long] = MultimodalOps.Modality.Image,
      maxBandFreq: Option[Long] = None,
      epochBase: Long = 0L): StreamingQuery = {
    val spark = incoming.sparkSession
    val Seq(store) = claimStores(outDir)
    Gate.run(incoming, outDir, checkpoint, epochBase) { b =>
      val spark0 = spark
      import spark0.implicits._
      val hashed = b.persist(b.frame
        .select(col("doc_id"), col("orig_id"), col("kind"))
        // spread the per-asset codec work across cores: an arriving
        // micro-batch is partitioned by its SOURCE file layout (the
        // fixture's one file = ONE partition), and without this the
        // whole encode+decode+hash pass ran in a single task per batch
        // (Probe: a 6.9 s one-task stage at sf0.1). Only the ~24-byte
        // id rows shuffle — binaries never do (the mediaAssets
        // discipline; guide §2.5 input skew: repartition after read)
        .repartition(spark.sparkContext.defaultParallelism)
        .as[(Long, Long, String)]
        .mapPartitions(_.map { case (d, o, k) =>
          (d, o, k, modality.hashForKind(o, k))
        })
        .toDF("doc_id", "orig_id", "kind", "fhash"))
      val probes = MultimodalOps.probeBands(
        hashed.select(col("doc_id"), col("fhash").as("h_t")), modality.radius)
      // the touched probe-key set is bounded by the key space (2048)
      // whatever the batch size — a tiny driver collect that lets the
      // store read partition-prune to the keys this batch can hit.
      // This collect IS the codec pass's cache fill (it consumes
      // every hashed partition) — a separate count() paid one whole
      // extra job per batch; probe + claim sides reuse the cache
      val touched = probes.select("pk").distinct().as[Int].collect().toSeq
      // hot-key guard: per-pk claim counts are exact on the pruned
      // read (pruning keeps every row of a touched key)
      val corpus = MultimodalOps.capHotKeys(
        store.readPruned(spark, touched),
        Seq("pk"), maxBandFreq)
      val matches = MultimodalOps.verifiedPairs(probes, corpus, modality.radius)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), min(col("claim_id")).as("min_match"))
      val verdict = b.persist(hashed
        .join(matches, Seq("doc_id"), "left")
        .select(col("doc_id"), col("orig_id"), col("kind"),
          col("n_matches").isNull.as("admitted"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("min_match"), lit(-1L)).as("min_match"),
          col("fhash")))
      // the verdict write fills the cache the claim side then reads;
      // novel assets claim their fingerprint, pre-exploded to the
      // probe-key layout
      ClaimGate.Commit(verdict.drop("fhash"), claims = Seq(
        store -> MultimodalOps.claimBands(verdict.filter(col("admitted"))
          .select(col("doc_id").as("claim_id"), col("fhash")))))
    }
  }

  /** Oracle-gated query: PNG (even-id) assets stream through the gate
    * as two micro-batches — the 4k-th ids arrive first and seed the
    * claim store, then the (4k+2)-th ids plus the re-encoded twins of
    * the first batch's high-contrast assets. Batch 0 admits vacuously
    * (empty store); every batch-1 element is judged against exactly the
    * batch-0 fingerprints, so the oracle replays the verdicts with the
    * relational dHash arithmetic and a brute-force pairwise
    * `bit_count(xor(..)) <= 15` join (the twins' JPEG transcode is
    * dHash-bit-identical on the DCT-aligned checkerboards —
    * spec-asserted over the full asset period). */
  def imageDedupStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-mediadedup")
    val out = fx.path("out")
    val evens = Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 2 === 0)
    val src = fx.arrivals("in",
      origs(evens.filter(col("doc_id") % 4 === 0)),
      origs(evens.filter(col("doc_id") % 4 === 2))
        .union(evens
          .filter(col("doc_id") % 4 === 0)
          .filter(col("doc_id") % 6 === 0 &&
            abs(lit(2) * (lit(28) + (col("doc_id") * 37) % 200) - 255) >= 64)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            col("doc_id").as("orig_id"), lit("reencode").as("kind"))))
    run(src, out, fx.path("ckpt")).awaitTermination()
    resolveVerdicts(spark, out)
  }

  /** The perceptual-gate verdicts under the gate's [[StreamVerdicts]]
    * contract: admitted = ANY delivery admitted (a doc's own claim in the
    * store proves its admission — the replay of an admitted doc
    * self-matches and re-emits admitted = false), and the match stats
    * come from the delivery with the MINIMUM n_matches: the claim store
    * only ever grows, so the smaller count IS the pre-claim verdict.
    * Taking max(n_matches) here would surface a replay's self-match-
    * inflated count instead of the original verdict. */
  def resolveVerdicts(spark: SparkSession, out: String): DataFrame =
    Gate.verdicts.read(spark, out)

  /** Arrival rows for original assets: (doc_id, orig_id = doc_id, 'orig'). */
  private def origs(ids: DataFrame): DataFrame =
    ids.select(col("doc_id"), col("doc_id").as("orig_id"), lit("orig").as("kind"))

  /** The AUDIO modality through the same gate: even-id assets stream as
    * batch 0 and seed the claim store; batch 1 brings the odd-id assets
    * plus 2×-gain twins of the (6k+4)-th (even, batch-0) assets. The
    * loudness hash is oracle-replayable for EVERY asset (WAV/PCM16 is
    * lossless) and the gain twin's hash is bit-identical structurally,
    * so the oracle replays all verdicts brute-force pairwise at the
    * audio verify radius 7 — the [[imageDedupStreamQuery]] discipline
    * with zero PNG/JPEG asymmetry. */
  def audioDedupStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-audiodedup")
    val out = fx.path("out")
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val src = fx.arrivals("in",
      origs(docs.filter(col("doc_id") % 2 === 0)),
      origs(docs.filter(col("doc_id") % 2 === 1))
        .union(gainTwins(docs, 4, 5000000L)))
    run(src, out, fx.path("ckpt"), MultimodalOps.Modality.Audio).awaitTermination()
    resolveVerdicts(spark, out)
  }

  /** Oracle-gated RETENTION LIFECYCLE through the gate itself — the full
    * production story [[sweepClaims]] enables: even-id assets stream as
    * batch 0 (epoch 0) and odd-id assets as batch 1 (epoch 1, judged
    * against the batch-0 claims as usual); between stream runs the sweep
    * ages out every epoch-0 claim under the guardrail; then a THIRD
    * batch arrives under a monotone epoch base — 2×-gain twins of
    * (6k+4)-th (even, aged-out) parents and of (6k+3)-th (odd,
    * in-horizon) parents. A twin of an aged-out parent RE-ADMITS unless
    * some surviving odd claim happens to sit within the verify radius;
    * a twin of an in-horizon ADMITTED parent keeps rejecting. The
    * oracle replays all three batches relationally: batch-1 verdicts
    * pairwise against the evens, the post-sweep store as exactly the
    * batch-1 ADMITTED odd hashes, and the twin verdicts pairwise
    * against that surviving set — a sweep that drops an in-horizon
    * claim, keeps an aged one, or a restarted stream whose epochs alias
    * flips rows red. */
  def audioClaimRetentionQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-audioretention")
    val out = fx.path("out")
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    run(fx.arrivals("in",
      origs(docs.filter(col("doc_id") % 2 === 0)),
      origs(docs.filter(col("doc_id") % 2 === 1))),
      out, fx.path("ckpt"), MultimodalOps.Modality.Audio).awaitTermination()
    // age out the batch-0 (epoch 0) claims; batch-1 claims stay. The
    // guardrail sits at 0.99: this sweep EXPECTS to drop a whole epoch
    // cohort, and at larger corpora batch 1 admits few novel claims
    // (most odds match an even within the radius), so the aged fraction
    // legitimately approaches 1 — the abort path is spec-covered
    sweepClaims(spark, out, minEpoch = 1L, maxDropFrac = 0.99)
    run(fx.arrivals("in2",
      gainTwins(docs, 4, 5000000L).union(gainTwins(docs, 3, 7000000L))),
      out, fx.path("ckpt2"), MultimodalOps.Modality.Audio, epochBase = 2L)
      .awaitTermination()
    resolveVerdicts(spark, out)
  }

  /** 2×-gain twins of the (6k+`rem`)-th assets, ids offset by `idBase`. */
  private def gainTwins(docs: DataFrame, rem: Int, idBase: Long): DataFrame =
    docs.filter(col("doc_id") % 6 === rem)
      .select((col("doc_id") + idBase).as("doc_id"),
        col("doc_id").as("orig_id"), lit("gain").as("kind"))
}
