package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.operators.SimilarityOps
import graft.sources.Tables

/** STREAMING admission gate on the EMBEDDING column — the vector member
  * of the gate family ([[DedupGateStream]] text shingles,
  * [[MediaDedupStream]] perceptual hashes): micro-batches of vectors
  * arrive, each is assigned its IVF cell by max-cosine against the
  * pinned centroid artifact (scale-invariant, so a rescaled copy of a
  * claimed vector lands in its parent's cell — recall is structural for
  * the planted twins), the batch probes the ACCRETING claim store
  * CELL-PRUNED on int8-dequantized codes (threshold − the PER-CLAIM
  * quantization margin), exact cosine verifies the shortlist at the
  * SemDeDup threshold against the full-precision corpus vectors, and
  * every novel vector claims (cell, vec_id, int8 codes + affine params,
  * retention epoch) before the checkpoint commits — a near-duplicate
  * embedding of anything the stream ever admitted is rejected, across
  * micro-batches AND restarts, with a claim store 8× smaller than
  * full-precision payloads.
  *
  * The claim store IS the serving layout: the same cell-partitioned
  * vector store `SimilarityOps.annIvfUpsert` maintains batch-side, here
  * accreted through the shared [[ClaimStore]] generational discipline
  * (one delta file per batch, pk=cell partitioned fold, atomic CURRENT
  * swap) — so a batch's probe reads only the cells it touches plus
  * the delta budget, never the whole store. Intra-batch novelty is NOT
  * adjudicated (the batch operator `SimilarityOps.semanticDedup` owns
  * that pass); matching is CELL-SCOPED with `nprobe` probe cells per
  * vector (claims stay single-cell — the argmax cell), the IVF recall
  * contract the batch-side q_ann_ivf_pairs / q_ann_ivf_recall oracles
  * already pin.
  *
  * At 100 TB: the centroid artifact is k×d driver-side, assignment is a
  * narrow map, the probe is a cell equi-join against a pruned read, and
  * claims carry int8 codes — the store doubles as the incremental
  * QUANTIZED ANN serving index (`annIvfTopKStaged`'s payload), and the
  * full-precision fetch touches only the shortlist. At-least-once: the
  * [[StreamVerdicts]] read contract resolves replays. */
object EmbedDedupStream {

  /** Claim rows: pk = IVF cell (≤ 64 values), the probe key; the vector
    * payload is INT8 — affine codes (one byte per coordinate) plus the
    * (vmin, scale) params, the `SimilarityOps` quantization scheme — so
    * the accreting claim store carries 8× fewer payload bytes than
    * full-precision doubles. Verification at the SemDeDup threshold
    * happens at FULL precision, but only on the shortlist the int8
    * probe admits. `epoch` is the RETENTION stamp (caller-threaded
    * monotone build epoch + batch id) consumed by [[sweepClaims]]. */
  private val VecClaims = StructType.fromDDL("pk INT NOT NULL, claim_id BIGINT NOT NULL, " +
    "codes BINARY, vmin DOUBLE NOT NULL, scale DOUBLE NOT NULL, epoch BIGINT NOT NULL")

  /** The int8 claim store — see [[run]] — and the verdict read contract,
    * keyed by vec_id. */
  private val Gate = ClaimGate(
    outDir => Seq(ClaimStore(s"${outDir}_vfps", VecClaims, Some("pk"))),
    StreamVerdicts(Seq("vec_id", "orig_id", "kind", "admitted", "n_matches", "min_match"),
      anyTrue = Seq("admitted"),
      preClaim = Seq("n_matches", "min_match"),
      carried = Seq("orig_id", "kind"),
      key = "vec_id"))

  def claimStores(outDir: String): Seq[ClaimStore] = Gate.claimStores(outDir)

  /** RETENTION for the int8 claim store: an embedding whose every claim
    * aged out re-admits on its next arrival, in-horizon claims keep
    * rejecting. Run between stream runs (offline, like compaction and
    * [[migrateClaims]]). */
  def sweepClaims(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): Long =
    Gate.sweepClaims(spark, outDir, minEpoch, maxDropFrac).sum

  /** The int8 claim store as a [[Maintenance.Action]] — see
    * [[Maintenance.run]]. */
  def maintenanceActions(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): Seq[Maintenance.Action] =
    Gate.maintenanceActions(spark, outDir, minEpoch, maxDropFrac)

  /** The int8 probe admits candidates down to threshold − a PER-CLAIM
    * margin derived from that claim's own quantization bound, never a
    * global constant: with per-coordinate reconstruction error ≤
    * scale/2, the dequantized vector d̂ sits within E = √d·scale/2 of
    * the true claim c, and for ANY probe v with cos(v,c) = t:
    *
    *   cos(v,d̂) ≥ (t·‖c‖ − E)/(‖c‖+E) = t − E(1+t)/(‖c‖+E)
    *            ≥ t − 2E/(‖c‖+E) ≥ t − 2E/‖d̂‖   (since ‖c‖ ≥ ‖d̂‖−E)
    *
    * so margin = 2E/‖d̂‖ (computable at probe time from the stored
    * params alone) guarantees every true near-duplicate at the verify
    * threshold survives the shortlist — including the spike-shaped /
    * high-dynamic-range claims (range ~2×norm) whose bound exceeds any
    * fixed small constant. Spec-asserted with adversarial vectors. */
  private[graft] def quantMargin(dim: Int, scale: Double,
      dvNorm: Double): Double = {
    val e = math.sqrt(dim.toDouble) * scale / 2.0
    math.min(2.0, 2.0 * e / math.max(dvNorm, 1e-12))
  }

  /** Per-batch gate over (vec_id, orig_id, kind, v) rows: assign cells
    * (argmax claims; top-`nprobe` cells probed) → pruned claim probe →
    * exact-cosine verify at `threshold` → verdict append → claim
    * append. `epochBase` is the monotone retention base (a RESTARTED
    * stream's batch ids begin at 0 again — raw ids would alias across
    * runs and let a sweep age out fresh claims). */
  def run(
      incoming: DataFrame,
      vectors: DataFrame, // (vec_id, orig_id, kind, v) universe, static
      centroids: Array[Array[Double]],
      outDir: String,
      checkpoint: String,
      threshold: Double = 0.99,
      nprobe: Int = 1,
      epochBase: Long = 0L): StreamingQuery = {
    val spark = incoming.sparkSession
    val Seq(store) = claimStores(outDir)
    Gate.run(incoming, outDir, checkpoint, epochBase) { b =>
      val spark0 = spark
      import spark0.implicits._
      // filled by the assignment pass below; the probe + claim sides reuse it
      val vecs = b.persist(b.frame.select("vec_id").join(vectors, Seq("vec_id")))
      // ONE ranked assignment pass serves both sides: rank 0 is the
      // argmax cell (where novel vectors CLAIM), and the full top-
      // nprobe set is the PROBE side — the q_ann_ivf_recall accuracy
      // knob applied to the gate: a near-pair straddling a cell
      // boundary (parent argmax cell A, twin argmax cell B with A
      // second-best) is caught at nprobe ≥ 2 without moving any
      // claim off its argmax cell
      val probed = b.persist(SimilarityOps
        .assignCellsRanked(centroids, vecs.select("vec_id", "v"),
          probes = math.max(1, nprobe))
        .withColumn("pk", col("cell").cast("int"))
        .join(vecs.select(col("vec_id"), col("v")), Seq("vec_id")))
      val celled = probed.filter(col("rank") === 0)
      // this collect IS the assignment pass's cache fill (it
      // consumes every probed partition) — a separate count()
      // paid one whole extra job per batch
      val touched = probed.select("pk").distinct().as[Int].collect().toSeq
      // int8 SHORTLIST: dequantize the pruned claims (a narrow map
      // over touched cells + the delta budget) and admit candidates
      // at threshold − that claim's own quantization margin …
      val claimedDv = store.readPruned(spark, touched)
        .select("pk", "claim_id", "codes", "vmin", "scale")
        .as[(Int, Long, Array[Byte], Double, Double)]
        .map { case (pk, id, codes, vmin, scale) =>
          val dv = new Array[Double](codes.length)
          var n2 = 0.0
          var i = 0
          while (i < codes.length) {
            dv(i) = (codes(i).toInt + 128) * scale + vmin
            n2 += dv(i) * dv(i)
            i += 1
          }
          (pk, id, dv.toSeq,
            quantMargin(codes.length, scale, math.sqrt(n2)))
        }
        .toDF("pk", "claim_id", "dv", "margin")
      val matches = probed
        .join(claimedDv, Seq("pk"))
        .select("vec_id", "claim_id", "v", "dv", "margin")
        // crash-redelivered claim rows are identical, and several
        // probe cells can reach the same claim — collapse per pair
        // so n_matches counts claims, not deliveries or probes
        .dropDuplicates("vec_id", "claim_id")
        .filter(SimilarityOps.cosine(col("v"), col("dv"))
          >= lit(threshold) - col("margin"))
        // … then verify ONLY the shortlist at FULL precision: the
        // claimed vectors come back from the corpus store, so the
        // verdict expression is identical to the full-precision
        // gate's — the claim store shrank, the verdicts did not
        .join(vectors.select(col("vec_id").as("claim_id"),
          col("v").as("cv")), Seq("claim_id"))
        .filter(SimilarityOps.cosine(col("v"), col("cv")) >= threshold)
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_matches"),
          min(col("claim_id")).as("min_match"))
      val verdict = b.persist(vecs
        .join(matches, Seq("vec_id"), "left")
        .select(col("vec_id"), col("orig_id"), col("kind"),
          col("n_matches").isNull.as("admitted"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("min_match"), lit(-1L)).as("min_match")))
      // the verdict write fills the cache the claim side then reads;
      // novel vectors claim their (cell, int8 codes, affine params) —
      // the store grows into exactly the cell-partitioned QUANTIZED
      // serving layout (`annIvfTopKStaged`'s payload, claim-store bones)
      ClaimGate.Commit(verdict, claims = Seq(store -> celled
        .join(verdict.filter(col("admitted")).select("vec_id"), Seq("vec_id"))
        .select(col("pk"), col("vec_id").as("claim_id"), col("v"))
        .as[(Int, Long, Seq[Double])]
        .map { case (pk, id, v) =>
          val arr = v.toArray
          var vmin = Double.MaxValue
          var vmax = Double.MinValue
          var i = 0
          while (i < arr.length) {
            if (arr(i) < vmin) vmin = arr(i)
            if (arr(i) > vmax) vmax = arr(i)
            i += 1
          }
          val scale = if (vmax > vmin) (vmax - vmin) / 255.0 else 1.0
          val codes = new Array[Byte](arr.length)
          i = 0
          while (i < arr.length) {
            codes(i) = (math.floor((arr(i) - vmin) / scale + 0.5)
              .toInt - 128).toByte
            i += 1
          }
          (pk, id, codes, vmin, scale)
        }
        .toDF("pk", "claim_id", "codes", "vmin", "scale")))
    }
  }

  /** CLAIM MIGRATION — the centroid lifecycle consumed by the STREAMING
    * gate (the batch-side twin is `SimilarityOps.annRecluster`): after a
    * centroid refresh, every claim's probe partition (pk = cell) must
    * re-key under the NEW artifact or later probes assigned by it would
    * miss claims stranded in stale cells — the silent recall hole a
    * pinned index develops under drift. The pass re-assigns each claim
    * by max-cosine of its FULL-precision corpus vector (fetched by
    * claim_id — the int8 payload is for probing, never for assignment,
    * whose ties are too tight for dequantized arithmetic) and folds the
    * store through one generation rewrite under the new layout. A claim
    * whose id is MISSING from the supplied corpus keeps its old pk
    * (left join) — migration may never silently delete claims, and the
    * rewrite's pre/post claim count is asserted to match. Run BETWEEN
    * stream runs; O(store) once per refresh, which is rare by design.
    * Codes, params, epochs and claim ids are untouched — only pk moves. */
  def migrateClaims(
      spark: SparkSession,
      outDir: String,
      vectors: DataFrame,
      newCentroids: Array[Array[Double]]): Unit = {
    val Seq(store) = claimStores(outDir)
    store.rewrite(spark, { claims =>
      val pre = claims.select("claim_id").distinct().count()
      val newPk = SimilarityOps.assignCells(newCentroids,
        claims.select(col("claim_id").as("vec_id")).distinct()
          .join(vectors.select("vec_id", "v"), Seq("vec_id")),
        probes = 1)
        .select(col("vec_id").as("claim_id"),
          col("cell").cast("int").as("new_pk"))
      val out = claims
        .join(newPk, Seq("claim_id"), "left")
        .withColumn("pk", coalesce(col("new_pk"), col("pk")))
        .drop("new_pk")
        .localCheckpoint(true) // count + fold read one materialization
      val post = out.select("claim_id").distinct().count()
      require(post == pre,
        s"claim migration must move pks, never rows: $pre claims in, $post out")
      out
    })
  }

  /** The (vec_id, orig_id, kind, v) universe: every embedding as 'orig'
    * plus a 2×-rescaled twin of every 10th — byte-level novel vectors
    * whose cosine against the parent is 1 up to one rounding (identical
    * float ops both engines) and whose max-cosine cell EQUALS the
    * parent's (assignment is scale-invariant): recall is structural.
    * `twinMod10` widens the twin cohorts for the retention lifecycle
    * (twins of odd parents need to exist to test in-horizon rejects). */
  private def vectorUniverse(spark: SparkSession, dir: String,
      extraTwinRem: Option[Int] = None): DataFrame = {
    val base = Tables(spark, dir, "embeddings")
      .withColumn("v", SimilarityOps.asDouble(col("embedding")))
      .select(col("vec_id"), col("v"))
    val orig = base
      .select(col("vec_id"), col("vec_id").as("orig_id"),
        lit("orig").as("kind"), col("v"))
      .union(base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          col("vec_id").as("orig_id"), lit("scale").as("kind"),
          expr("transform(v, x -> x * 2)").as("v")))
    extraTwinRem.fold(orig)(r =>
      orig.union(base.filter(col("vec_id") % 10 === r)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          col("vec_id").as("orig_id"), lit("scale2").as("kind"),
          expr("transform(v, x -> x * 2)").as("v"))))
  }

  /** Oracle-gated query: even vec_ids stream as batch 0 and seed the
    * claim store vacuously; batch 1 brings the odd vec_ids plus the
    * 2×-rescaled twins of the (10k)-th (even, batch-0) vectors. Every
    * batch-1 vector is judged against exactly the batch-0 claims, so
    * the oracle replays the verdicts brute-force pairwise with the
    * position-ordered double cosine — the cell scoping is an
    * implementation detail exactly where the batch-side
    * q_ann_ivf_pairs oracle already proves cell-scoped equals brute
    * force on this corpus. Runs at nprobe=2 — the multi-cell probe must
    * leave the brute-force verdicts unchanged (verify is exact either
    * way; widening the candidate set can only confirm the contract). */
  def embedDedupStreamQuery(spark: SparkSession, dir: String): DataFrame =
    universeQuery(spark, dir, "graft-embeddedup") { (fx, universe, out) =>
      val src = fx.arrivals("in",
        ids(universe.filter(col("vec_id") % 2 === 0 && col("kind") === "orig")),
        ids(universe.filter(col("vec_id") % 2 === 1 || col("kind") === "scale")))
      run(src, universe, pinnedCentroids(spark, dir), out, fx.path("ckpt"),
        nprobe = 2).awaitTermination()
    }

  /** Oracle-gated query for the CENTROID LIFECYCLE CONSUMED BY THE
    * STREAM — the full drift response a production deployment runs:
    * batch 0 (even origs) streams in and claims under the PINNED
    * first-64 artifact; between stream runs the artifact refreshes (one
    * fixed-point Lloyd update from the claimed members — the
    * `annRecluster` update) and [[migrateClaims]] re-keys every claim
    * into its new cell; then batch 1 (odd origs + rescaled twins)
    * streams against the MIGRATED store under the NEW artifact. The
    * verdict semantics are unchanged — same-cell probe, exact cosine at
    * the SemDeDup threshold — so the oracle is the same brute-force
    * pairwise replay as [[embedDedupStreamQuery]]'s: a claim stranded
    * in a stale cell (a missed migration), a probe keyed by the wrong
    * artifact, or a cell-recall hole under the refreshed centroids
    * flips rows red. */
  def embedReclusterStreamQuery(spark: SparkSession, dir: String): DataFrame =
    universeQuery(spark, dir, "graft-embedrecluster") { (fx, universe, out) =>
      val evens = universe
        .filter(col("vec_id") % 2 === 0 && col("kind") === "orig")
      val pinned = pinnedCentroids(spark, dir)
      run(fx.arrivals("in", ids(evens)), universe, pinned, out, fx.path("ckpt"))
        .awaitTermination()
      // the refresh between runs: one Lloyd update from the claimed
      // members under the pinned assignment, then claim migration
      val newCen = SimilarityOps.lloydCentroidUpdate(
        SimilarityOps.assignCells(pinned, evens.select("vec_id", "v"), 1),
        evens.select("vec_id", "v"), pinned)
      migrateClaims(spark, out, universe.select("vec_id", "v"), newCen)
      run(fx.arrivals("in2",
        ids(universe.filter(col("vec_id") % 2 === 1 || col("kind") === "scale"))),
        universe, newCen, out, fx.path("ckpt2"), epochBase = 1L)
        .awaitTermination()
    }

  /** Oracle-gated RETENTION LIFECYCLE through the embedding gate — the
    * [[MediaDedupStream.audioClaimRetentionQuery]] pattern on vectors:
    * even origs stream as batch 0 (epoch 0) and odd origs as batch 1
    * (epoch 1, judged against the batch-0 claims); between stream runs
    * [[sweepClaims]] ages out every epoch-0 claim under the guardrail;
    * then a THIRD batch arrives under a monotone epoch base — the
    * 2×-rescaled twins of (10k)-th (even, AGED-OUT) parents and of
    * (10k+5)-th (odd, in-horizon) parents. A twin of an aged-out parent
    * RE-ADMITS unless some surviving odd claim sits within the cosine
    * threshold; a twin of an in-horizon CLAIMED parent keeps rejecting.
    * The oracle replays all three batches brute-force pairwise: batch-1
    * verdicts against the evens, the post-sweep store as exactly the
    * batch-1 ADMITTED odd vectors, and the twin verdicts against that
    * surviving set — a sweep that drops an in-horizon claim, keeps an
    * aged one, or a restarted stream whose epochs alias flips rows red. */
  def embedClaimRetentionQuery(spark: SparkSession, dir: String): DataFrame =
    universeQuery(spark, dir, "graft-embedretention", extraTwinRem = Some(5)) {
      (fx, universe, out) =>
        val centroids = pinnedCentroids(spark, dir)
        run(fx.arrivals("in",
          ids(universe.filter(col("vec_id") % 2 === 0 && col("kind") === "orig")),
          ids(universe.filter(col("vec_id") % 2 === 1 && col("kind") === "orig"))),
          universe, centroids, out, fx.path("ckpt"))
          .awaitTermination()
        // age out the batch-0 (epoch 0) claims; batch-1 claims stay. The
        // guardrail sits at 0.99: this sweep EXPECTS to drop a whole epoch
        // cohort (the abort path is spec-covered elsewhere)
        sweepClaims(spark, out, minEpoch = 1L, maxDropFrac = 0.99)
        run(fx.arrivals("in2",
          ids(universe.filter(col("kind") === "scale" || col("kind") === "scale2"))),
          universe, centroids, out, fx.path("ckpt2"), epochBase = 2L)
          .awaitTermination()
    }

  private def ids(vectors: DataFrame): DataFrame = vectors.select("vec_id")

  /** The pinned first-64 centroid artifact every fixture starts from. */
  private def pinnedCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    SimilarityOps.collectCentroids(
      Tables(spark, dir, "embeddings")
        .withColumn("v", SimilarityOps.asDouble(col("embedding")))
        .filter(col("vec_id") < 64))

  /** A fixture lifecycle over the persisted vector universe: `streams`
    * runs the gate into `out` (given the fixture and the universe), and
    * the verdicts there are read back once the universe is released. */
  private def universeQuery(spark: SparkSession, dir: String, tag: String,
      extraTwinRem: Option[Int] = None)(
      streams: (ClaimGate.Fixture, DataFrame, String) => Unit): DataFrame = {
    val fx = ClaimGate.fixture(spark, tag)
    val out = fx.path("out")
    val universe = vectorUniverse(spark, dir, extraTwinRem)
      .persist(StorageLevel.MEMORY_AND_DISK)
    universe.count()
    try streams(fx, universe, out)
    finally universe.unpersist()
    Gate.verdicts.read(spark, out)
  }
}
