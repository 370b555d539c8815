package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.operators.{DedupOps, MultimodalOps, TextOps}
import graft.sources.Tables
import scala.jdk.CollectionConverters._

/** Streaming form of the CURATION funnel — the batch pipeline of
  * `TextOps.curationPipeline` run incrementally as documents arrive:
  * each micro-batch flows quality rules → cross-batch first-wins exact
  * dedup → benchmark decontamination, and emits one verdict row per
  * document. Quality and decontamination are stateless (a narrow map
  * and a broadcast join against the static eval shingle set); the ONLY
  * cross-batch state is the dedup claim set — the content hashes that
  * have already won their class — accreted to a parquet side store
  * (`<outDir>_fps`) BEFORE the checkpoint commits, and folded back in
  * on start, so a resumed stream keeps rejecting duplicates of every
  * class ever claimed (the DedupGateStream restart discipline). The
  * claim is first-wins in arrival order: a batch's winner is the
  * minimum quality-passing doc_id whose hash is not yet claimed;
  * claims are recorded even when the winner is then dropped as
  * contaminated — exactly the batch funnel's stage order (dedup
  * decides before decontamination removes), so the streamed verdicts
  * equal the batch pipeline's on the same arrival order.
  *
  * At 100 TB/day: per batch, one narrow quality/hash/shingle pass, one
  * fp-key shuffle (window + claim-set join — the exact-dedup shuffle),
  * one broadcast probe for contamination; the claim store is
  * (distinct classes)-sized and rides as a parquet scan, never a
  * growing cache chain. The store is the LEVELED generational
  * [[ClaimStore]], so a long-running stream never accretes unbounded
  * small files and never pays a whole-store rewrite per budget:
  * per-batch claims land as deltas, deltas fold into small minor runs,
  * tier merges bound the run count, and the pk = crc32(fp)-partitioned
  * base is rewritten only when the minors have grown to its size —
  * per-batch probes read PARTITION-PRUNED to the keys the batch's own
  * fingerprints hash to. A crash at any point only leaves harmless
  * duplicates that the distinct() read resolves (claims are a monotone
  * set). Each batch commits as [[ClaimGate]] orders it, and the read
  * side resolves replays per doc under the gate's [[StreamVerdicts]]
  * contract, not by an arbitrary first-row pick. */
object CurationStream {

  /** Text claim rows: pk = the fingerprint's probe key, `epoch` the
    * RETENTION stamp (caller-threaded monotone build epoch + batch id)
    * consumed by [[sweepClaims]]. */
  private[graft] val TextClaims =
    StructType.fromDDL("pk INT NOT NULL, fp STRING, epoch BIGINT NOT NULL")

  /** Video claim rows — the temporal-gradient signature is radius-0
    * (planted transforms cancel STRUCTURALLY, `VideoCodec.vhashOf`), so
    * the probe is an exact equi-join; pk is a stable hash of the
    * signature purely for the pruned-read layout. */
  private val VideoClaims = StructType.fromDDL(
    "pk INT NOT NULL, claim_id BIGINT NOT NULL, vhash STRING, epoch BIGINT NOT NULL")

  /** Per-batch funnel rows (batch-grain observability metadata). */
  private val FunnelRows = StructType.fromDDL(
    "batch_id BIGINT NOT NULL, stage STRING, n_docs BIGINT NOT NULL, n_tokens BIGINT NOT NULL")

  /** Probe key for the exact-md5 claim classes: a stable hash of the
    * fingerprint into 2048 partitions, so a batch's dedup probe reads
    * the store PARTITION-PRUNED to the keys its own fingerprints hash
    * to (bounded by the key space whatever the batch size) — the same
    * pruned-probe contract every other gate's store carries. */
  private def fpPk(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (crc32(c) % 2048).cast("int")

  /** The gate's claim stores — (text exact-md5 classes, audio perceptual
    * fingerprints, video signatures) — and the text verdict read
    * contract: a doc's own claim proves its admission, so admitted and
    * the re-derived quality/contamination flags hold if ANY delivery
    * said so, and is_dup only if EVERY delivery did. */
  private val Gate = ClaimGate(
    outDir => Seq(
      ClaimStore(s"${outDir}_fps", TextClaims, Some("pk")),
      ClaimStore(s"${outDir}_mfps", MultimodalOps.BandedClaims, Some("pk")),
      ClaimStore(s"${outDir}_vmfps", VideoClaims, Some("pk"))),
    StreamVerdicts(Seq("doc_id", "keep_quality", "is_dup", "is_contaminated", "admitted"),
      anyTrue = Seq("keep_quality", "is_contaminated", "admitted"),
      everyTrue = Seq("is_dup")))

  /** The media gate's verdict read contract: the text contract plus the
    * property flags (any delivery) and the perceptual duplicate flags
    * (every delivery). */
  private val MediaVerdicts = StreamVerdicts(
    Seq("doc_id", "keep_quality", "is_dup", "is_contaminated",
      "img_ok", "audio_ok", "media_dup", "video_ok", "video_dup", "admitted"),
    anyTrue = Seq("keep_quality", "is_contaminated", "img_ok",
      "audio_ok", "video_ok", "admitted"),
    everyTrue = Seq("is_dup", "media_dup", "video_dup"))

  def claimStores(outDir: String): Seq[ClaimStore] = Gate.claimStores(outDir)

  /** The per-batch funnel store; its retention epoch is the batch id
    * (see [[sweepFunnel]]). */
  private[graft] def funnelStore(outDir: String): ClaimStore =
    ClaimStore(s"${outDir}_funnel", FunnelRows, epochCol = "batch_id")

  /** Generational TAIL COUNTER for the incremental stores — the logical
    * (doc, token) offsets the next batch appends at, kept OUTSIDE the
    * store so a batch never scans the accreted data to learn its own
    * start (a whole-store `count()/sum()` per batch is O(store) per
    * batch — quadratic over a stream's lifetime — and counts crash
    * duplicates, drilling holes in the dense position sequence).
    *
    * One (batch_id, n_docs, n_tokens) row lands per committed batch in
    * a [[ClaimStore]] (no probe key): reads union its levels and resolve
    * per batch_id, so a read is O(delta budget + log) tiny files however
    * large the store grows, and the delta budget folds by the store's
    * own leveled policy and consumed-inputs manifest. Per-BATCH rows are
    * retained (the row count is batch-count-sized; it is the FILE count
    * that must stay bounded) because the batch_id rows double as the
    * REDELIVERY GUARD: a replayed batch whose row already exists skips
    * its store append entirely, making the append idempotent.
    * The one remaining crash window — store rows landed, counter row
    * did not — re-appends the SAME rows at the SAME positions on
    * replay (the counter still excludes the batch), so the worst
    * outcome is exact-duplicate rows a `dropDuplicates` read resolves;
    * positions stay dense and immutable under every single-crash
    * schedule. */
  private[graft] object TailCounter {
    private val Rows = StructType.fromDDL(
      "batch_id BIGINT NOT NULL, n_docs BIGINT NOT NULL, n_tokens BIGINT NOT NULL")
    private def store(dir: String) = ClaimStore(dir, Rows)

    /** ONE counter read serving the redelivery guard AND the offsets:
      * the per-batch hot path paid two reads of the same tiny store
      * (hasBatch, then state consumed via a broadcast crossJoin per
      * store). The row set is batch-count-sized by construction, so a
      * single driver collect answers both, and the offsets flow into
      * the append plans as LITERALS — one job instead of two plus two
      * broadcast exchanges (guide §1.2 step 1, fewer per-batch jobs).
      * None = this batch already committed its append (skip). */
    def snapshot(spark: SparkSession, dir: String,
        batchId: Long): Option[(Long, Long)] = {
      val all = store(dir).read(spark)
        .dropDuplicates("batch_id") // a fold crashed before cleanup leaves copies
        .collect()
      if (all.exists(_.getLong(0) == batchId)) None
      else Some((all.map(_.getLong(1)).sum, all.map(_.getLong(2)).sum))
    }

    /** Record a committed batch append (the foreachBatch loop is
      * single-threaded, so nothing races the store's fold). */
    def append(spark: SparkSession, dir: String, batchId: Long,
        nDocs: Long, nTokens: Long): Unit = {
      import spark.implicits._
      store(dir).append(spark,
        Seq((batchId, nDocs, nTokens)).toDF("batch_id", "n_docs", "n_tokens"))
    }
  }

  /** RETENTION for the gate's claim stores — the text exact-md5 classes
    * AND (when the media gate ran) the audio/video perceptual stores,
    * each under its own guardrail: a class/asset whose every claim aged
    * out re-admits on its next arrival, in-horizon claims keep
    * rejecting. Run between stream runs (offline, like compaction).
    * Returns (text, media, video) claim rows dropped — a store that
    * never existed sweeps vacuously to 0. */
  def sweepClaims(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double): (Long, Long, Long) = {
    val Seq(text, media, video) = Gate.sweepClaims(spark, outDir, minEpoch, maxDropFrac)
    (text, media, video)
  }

  /** RETENTION for the per-batch funnel store: batch-grain observability
    * frames older than `minBatchId` fold away under the guardrail — the
    * one store whose natural epoch IS the batch id (observability has a
    * horizon; claims have semantics). */
  def sweepFunnel(spark: SparkSession, outDir: String, minBatchId: Long,
      maxDropFrac: Double): Long =
    funnelStore(outDir).retentionSweep(spark, minBatchId, maxDropFrac)

  /** This gate's deployed stores as [[Maintenance.Action]]s — the three
    * claim stores (text exact-md5, audio perceptual, video signature)
    * each sweep-then-compact on the claim-epoch horizon, the funnel
    * store on its batch-id horizon. Compose with the other gates'
    * actions and run the lot through [[Maintenance.run]]: a tripped
    * guardrail aborts its store only. */
  def maintenanceActions(spark: SparkSession, outDir: String, minEpoch: Long,
      maxDropFrac: Double, minBatchId: Long): Seq[Maintenance.Action] =
    Gate.maintenanceActions(spark, outDir, minEpoch, maxDropFrac) ++
      Maintenance.sweepActions(spark, Seq(funnelStore(outDir)), minBatchId, maxDropFrac)

  private def vhashPk(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (crc32(c) % 2048).cast("int")

  /** The incremental TRAINING stores as [[Maintenance.Action]]s — the
    * small-files compaction pass ([[graft.operators.LayoutOps
    * .compactShardStore]]): every micro-batch appends one tail file per
    * shard, so a long-running stream accretes batches×shards files; the
    * pass folds each partition dir to ~one well-sized file with rows,
    * positions, and windows untouched (manifests spec-asserted
    * identical). Schedule BETWEEN training runs — it invalidates
    * file-grain resume state, never row-grain state. `eraLayout` marks
    * a vocab-versioned token store (`era=/shard=`). */
  def storeMaintenanceActions(spark: SparkSession,
      storeDir: Option[String] = None,
      tokenStoreDir: Option[String] = None,
      eraLayout: Boolean = false,
      nShards: Int = 4): Seq[Maintenance.Action] =
    storeDir.toSeq.map(sd => Maintenance.Action(sd, "compact", { () =>
      val (before, after) = graft.operators.LayoutOps.compactShardStore(
        spark, sd, Seq("shard"), Seq("pos"), nShards)
      Maintenance.Result(0L, Some(s"files $before -> $after"))
    })) ++
      tokenStoreDir.toSeq.map(sd => Maintenance.Action(sd, "compact", { () =>
        val (before, after) = graft.operators.LayoutOps.compactShardStore(
          spark, sd, if (eraLayout) Seq("era", "shard") else Seq("shard"),
          Seq("win", "pos"), nShards)
        Maintenance.Result(0L, Some(s"files $before -> $after"))
      }))

  /** Per-batch curation against the accreting claim store. `evalSh` is
    * the static benchmark shingle set (one `g` column), persisted by
    * the caller for the stream's lifetime.
    *
    * With `storeDir` set, each batch also appends its ADMITTED documents
    * to an incremental curated store: the batch's survivors rank among
    * themselves by the same md5 training order as the batch build
    * (`LayoutOps.shuffleRanks`), offset by the [[TailCounter]]'s logical
    * store size — the `corpusShuffleUpsert` tail discipline run per
    * micro-batch, so existing positions are immutable, every shard gains
    * only an appended tail file, and a training run consuming the store
    * never re-reads a shard file it already has. `tokenStoreDir` is the
    * tokenized twin: admitted docs BPE-encode and pack into `ctx`-token
    * context windows continuing the counter's global token offset.
    * At-least-once: the counter's batch_id row lands AFTER the store
    * append and doubles as the redelivery guard — a replayed batch whose
    * row exists skips its append; the one crash window (store rows
    * landed, counter row did not) re-appends the SAME rows at the SAME
    * positions, so a read side that needs crash immunity drops exact
    * duplicates — positions stay dense and immutable under every
    * single-crash schedule. */
  def run(
      incoming: DataFrame,
      evalSh: DataFrame,
      outDir: String,
      checkpoint: String,
      storeDir: Option[String] = None,
      nShards: Int = 4,
      tokenStoreDir: Option[String] = None,
      ctx: Long = 2048L,
      mediaGate: Boolean = false,
      epochBase: Long = 0L,
      vocabDir: Option[String] = None): StreamingQuery = {
    val spark = incoming.sparkSession
    val Seq(textStore, mediaStore, videoStore) = claimStores(outDir)
    val funnel = funnelStore(outDir)
    Gate.run(incoming, outDir, checkpoint, epochBase) { mb =>
      val batch = mb.frame
      val b = mb.persist(batch
        // spread the quality/hash/shingle pass across cores: an
        // arriving micro-batch carries its SOURCE file partitioning
        // (the fixture's one file = 1-4 partitions), and the per-word
        // rlike/aggregate chain is the batch's compute-heavy text pass
        // (Probe: a 6 s four-task stage at sf0.1). One narrow shuffle
        // of the raw batch unlocks full parallelism for it (guide
        // §2.5 input skew: repartition immediately after the read)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("words", TextOps.tokens(col("text")))
        .withColumn("n_words", size(col("words")).cast("long"))
        .withColumn("sum_len",
          aggregate(col("words"), lit(0L), (a, w) => a + length(w).cast("long")))
        .withColumn("n_symbol",
          size(filter(col("words"), w => w === "#" || w === "...")).cast("long"))
        .withColumn("n_alpha",
          size(filter(col("words"), w => w.rlike("[A-Za-z]"))).cast("long"))
        .withColumn("n_required",
          size(filter(lit(TextOps.EnMarkers.toArray),
            m => array_contains(col("words"), m))).cast("long"))
        .withColumn("keep_quality",
          col("n_words") >= 10L && col("n_words") <= 1000L &&
            col("sum_len") >= col("n_words") * 3L &&
            col("sum_len") <= col("n_words") * 10L &&
            col("n_symbol") * 10L <= col("n_words") &&
            col("n_alpha") * 5L >= col("n_words") * 4L &&
            col("n_required") >= 2L)
        .withColumn("toks", col("words"))
        .withColumn("sh", DedupOps.shingles(5))
        .select(col("doc_id"), md5(col("text")).as("fp"),
          col("keep_quality"), col("sh"), col("n_words")))
      // STREAMING CROSS-MODAL gate: each doc's media assets decode
      // partition-locally into per-doc admission flags (image
      // decode-fidelity/dims, audio duration/signal, video
      // frame-count/resolution/gray-fidelity) plus the audio loudness
      // hash and the video temporal-gradient signature, which probe
      // their ACCRETING claim stores — audio with the MediaDedupStream
      // banded-Hamming discipline, video with the radius-0 exact
      // equi-join — so a streamed doc whose asset perceptually
      // duplicates anything an earlier batch carried is excised
      // BEFORE the store append.
      val media: Option[DataFrame] = if (!mediaGate) None else Some(mb.persist {
        import graft.operators.MultimodalOps.{AudioCodec, MediaCodec, VideoCodec}
        val spark1 = spark
        import spark1.implicits._
        batch.select(col("doc_id")).as[Long]
          .repartition(spark.sparkContext.defaultParallelism)
          .mapPartitions(_.map { id =>
            val im = MediaCodec.decode(id, MediaCodec.encode(id))
            val ab = AudioCodec.encode(id)
            // ONE audio decode and ONE video decode per asset: the
            // property gate and the perceptual hash share the decoded
            // PCM/frames (ahashOf/vhashOf on the raw bytes walked each
            // container a second time — pure per-task waste, guide
            // §1.2 step 2; arithmetic unchanged, parity spec-pinned)
            val (au, samples) = AudioCodec.decodeMetaAndSamples(id, ab)
            val vb = VideoCodec.encode(id)
            val vfr = VideoCodec.decodeFrames(id, vb)
            val expected = (28 + (id * 37) % 200).toInt
            val pxOk =
              if (im.format == "png") im.pxGray == expected
              else math.abs(im.pxGray - expected) <= 8
            (id,
              pxOk && im.width >= 32 && im.height >= 24,
              au.durationUs >= 12000L && au.peak >= 200,
              AudioCodec.ahashOfSamples(id, samples),
              vfr.head.gray == VideoCodec.frameGrayOf(id, 0) &&
                vfr.length >= 4 && vfr.head.width >= 20 && vfr.head.height >= 16,
              VideoCodec.vhashOfGrays(id, vfr.map(_.gray)))
          })
          .toDF("doc_id", "img_ok", "audio_ok", "ahash", "video_ok", "vhash")
      })
      // fill the two persisted per-batch passes CONCURRENTLY (guide
      // §2.6), and let each fill BE its touched-probe-key collect:
      // the distinct-pk collect consumes every cached partition, so
      // the separate count() fills paid a whole extra job per pass
      // (three jobs per batch: b.count, m.count, plus the text pk
      // collect). The text pass and the codec pass stay independent
      // jobs over the same arriving batch, and the codec pass
      // dominates — overlapping them hides the text pass behind the
      // decodes. The probe + claim sides reuse the caches.
      val probesOf = media.map { m =>
        val probes = MultimodalOps.probeBands(
          m.select(col("doc_id"), col("ahash").as("h_t")), MultimodalOps.Modality.Audio.radius)
        val vProbes = m.select(col("doc_id"), col("vhash"))
          .withColumn("pk", vhashPk(col("vhash")))
        (probes, vProbes)
      }
      var touchedFps: Seq[Int] = Seq.empty
      var touchedA: Seq[Int] = Seq.empty
      var touchedV: Seq[Int] = Seq.empty
      StreamPar.runAll(Seq(() => {
        touchedFps = b.select(fpPk(col("fp")).as("pk")).distinct()
          .collect().map(_.getInt(0)).toSeq // fills b as a side effect
      }) ++ probesOf.toSeq.map { case (probes, vProbes) => () => {
        touchedA = probes.select("pk").distinct()
          .collect().map(_.getInt(0)).toSeq // fills m as a side effect
        touchedV = vProbes.select("pk").distinct()
          .collect().map(_.getInt(0)).toSeq // over the warm m cache
      }})
      val mediaVerdict: Option[DataFrame] = media.map { m =>
        val (probes, vProbes) = probesOf.get
        val matches = MultimodalOps.verifiedPairs(probes,
          mediaStore.readPruned(spark, touchedA),
          MultimodalOps.Modality.Audio.radius)
          .groupBy("doc_id").agg(count(lit(1)).as("_mm"))
        // VIDEO probe — the third modality: the temporal-gradient
        // signature is radius-0 (transforms cancel structurally), so
        // an incoming asset duplicates exactly the stored signatures
        // it EQUALS — a pk-pruned read followed by an exact equi-join
        val vMatches = vProbes
          .join(videoStore.readPruned(spark, touchedV)
            .select(col("pk"), col("claim_id"), col("vhash")),
            Seq("pk", "vhash"))
          .select("doc_id", "claim_id")
          .dropDuplicates("doc_id", "claim_id")
          .groupBy("doc_id").agg(count(lit(1)).as("_vm"))
        m.join(matches, Seq("doc_id"), "left")
          .join(vMatches, Seq("doc_id"), "left")
          .select(col("doc_id"), col("img_ok"), col("audio_ok"),
            col("_mm").isNotNull.as("media_dup"), col("ahash"),
            col("video_ok"), col("_vm").isNotNull.as("video_dup"), col("vhash"))
      }
      val contaminated = b.filter(col("keep_quality"))
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(evalSh), Seq("g"))
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_overlap"))
        .filter(col("n_overlap") >= 8)
        .select(col("doc_id"), lit(true).as("is_cont"))
      val winBatch = min(when(col("keep_quality") && !col("already_claimed"),
        col("doc_id"))).over(Window.partitionBy("fp"))
      // dedup probe PARTITION-PRUNED to the fingerprint keys this
      // batch hashes to (collected above, riding the fill job) —
      // the store scan never exceeds the touched pk directories
      // plus the small levels, the same contract as the
      // perceptual/embedding stores
      val claimedB = textStore.readPruned(spark, touchedFps)
        .select("fp").distinct()
      val textVerdict = b
        .join(claimedB.withColumn("already_claimed", lit(true)),
          Seq("fp"), "left")
        .withColumn("already_claimed",
          coalesce(col("already_claimed"), lit(false)))
        .withColumn("is_dup",
          col("keep_quality") &&
            (col("already_claimed") || col("doc_id") =!= winBatch))
        .join(broadcast(contaminated), Seq("doc_id"), "left")
        .withColumn("is_contaminated",
          coalesce(col("is_cont"), lit(false)))
        .withColumn("admitted",
          col("keep_quality") && !col("is_dup") && !col("is_contaminated"))
        // n_words rides INSIDE the verdict frame so the funnel and
        // the curated-store append aggregate the one materialized
        // pass instead of re-joining the batch per consumer
        .select(col("doc_id"), col("fp"), col("n_words"),
          col("keep_quality"), col("is_dup"), col("is_contaminated"),
          col("admitted"))
      // with the media gate on, a text-admitted doc is still excised
      // when an asset fails a property gate or perceptually
      // duplicates an earlier batch's asset
      val verdict = mb.persist(mediaVerdict.fold(textVerdict)(mv =>
        textVerdict.join(mv.drop("ahash", "vhash"), Seq("doc_id"))
          .withColumn("admitted",
            col("admitted") && col("img_ok") && col("audio_ok") &&
              !col("media_dup") && col("video_ok") && !col("video_dup"))))
      verdict.count()
      // The verdict write, the funnel frame and the training-store
      // appends are INDEPENDENT consumers of the one persisted verdict
      // pass, committed together (ClaimGate's phase 1): each small
      // job's task tail back-fills with the next job's tasks. Each is
      // replay-safe whatever subset a crash leaves behind (verdict dups
      // resolve per doc, the funnel by tuple-max, the stores by the
      // TailCounter redelivery guard).

      // PER-BATCH FUNNEL — the drop-accounting the batch build
      // emits (curationMultimodal's stage discipline), one frame
      // per micro-batch: text stages always; the three media
      // property stages and the perceptual-novelty stage when the
      // media gate is on. One aggregation straight over the
      // already-materialized verdict pass (n_words rides in the
      // verdict) — no per-batch re-join, no second shuffle.
      // At-least-once: a REPLAYED batch sees its own claims and
      // undercounts the dedup-and-after stages, so the read side
      // resolves per (batch_id, stage) by the tuple-MAX delivery
      // (the original; counts only shrink on replay) — the
      // StreamVerdicts discipline on aggregates.
      val writeFunnel: () => Unit = () => {
        val fv = verdict
        def cnt(c: org.apache.spark.sql.Column) =
          sum(when(c, 1L).otherwise(0L))
        def tok(c: org.apache.spark.sql.Column) =
          sum(when(c, col("n_words")).otherwise(0L))
        val r1 = col("keep_quality")
        val r2 = r1 && !col("is_dup")
        val r3 = r2 && !col("is_contaminated")
        val one =
          if (mediaGate) {
            val s4 = r3 && col("img_ok")
            val s5 = s4 && col("audio_ok")
            val s6 = s5 && col("video_ok")
            val s7 = s6 && !col("media_dup") && !col("video_dup")
            fv.agg(count(lit(1)).as("d0"), sum(col("n_words")).as("t0"),
              cnt(r1).as("d1"), tok(r1).as("t1"),
              cnt(r2).as("d2"), tok(r2).as("t2"),
              cnt(r3).as("d3"), tok(r3).as("t3"),
              cnt(s4).as("d4"), tok(s4).as("t4"),
              cnt(s5).as("d5"), tok(s5).as("t5"),
              cnt(s6).as("d6"), tok(s6).as("t6"),
              cnt(s7).as("d7"), tok(s7).as("t7"))
              .select(expr(
                """stack(8,
                     '00_ingest', d0, t0,
                     '01_quality', d1, t1,
                     '02_dedup', d2, t2,
                     '03_decontam', d3, t3,
                     '04_media_image', d4, t4,
                     '05_media_audio', d5, t5,
                     '06_media_video', d6, t6,
                     '07_media_novel', d7, t7) AS (stage, n_docs, n_tokens)"""))
          } else
            fv.agg(count(lit(1)).as("d0"), sum(col("n_words")).as("t0"),
              cnt(r1).as("d1"), tok(r1).as("t1"),
              cnt(r2).as("d2"), tok(r2).as("t2"),
              cnt(r3).as("d3"), tok(r3).as("t3"))
              .select(expr(
                """stack(4,
                     '00_ingest', d0, t0,
                     '01_quality', d1, t1,
                     '02_dedup', d2, t2,
                     '03_decontam', d3, t3) AS (stage, n_docs, n_tokens)"""))
        // the funnel store is batch-grain METADATA that would
        // otherwise accrete one file per batch forever — it goes
        // through the same generational ClaimStore fold as the
        // claim stores (delta per batch, fold at the budget);
        // replay rows differing from the original delivery both
        // survive the fold and resolve at read (tuple-max)
        funnel.appendDelta(
          one.withColumn("batch_id", lit(mb.id))
            .select("batch_id", "stage", "n_docs", "n_tokens"))
      }
      // incremental curated store: this batch's admitted docs rank
      // among themselves by the md5 training order, offset by the
      // store's current size, and append as shard TAILS — no
      // existing shard file is rewritten (byte-identity is
      // spec-asserted). Lands before the claims (see ClaimGate).
      // The counter's redelivery-guard key is the MONOTONE BUILD
      // EPOCH (`mb.epoch`), not the raw batch id: a restarted stream's
      // batch ids begin at 0 again, and a raw-id guard would mistake
      // the new run's first batch for a replay of the old one and
      // silently skip its append.
      val writeStore: Seq[() => Unit] = storeDir.toSeq.map { sd => () =>
        val tail = s"${sd}_tail"
        // ONE counter read answers the redelivery guard AND the
        // offset (was a hasBatch read plus a second state read
        // broadcast-crossJoined into the plan); the offset rides
        // as a plan literal — two fewer jobs per batch
        TailCounter.snapshot(spark, tail, mb.epoch).foreach { case (nOldDocs, _) =>
          val admitted = verdict.filter(col("admitted"))
            .select("doc_id", "n_words")
            .persist(StorageLevel.MEMORY_AND_DISK)
          val nAdmitted = admitted.count()
          graft.operators.LayoutOps
            .shuffleRanks(spark, admitted.select("doc_id"))
            .join(admitted, Seq("doc_id"))
            .select(col("doc_id"),
              (col("pos") + lit(nOldDocs)).as("pos"), col("n_words"))
            .withColumn("shard", col("pos") % nShards)
            .repartitionByRange(nShards, col("shard"))
            .sortWithinPartitions("shard", "pos")
            .write.mode(SaveMode.Append).partitionBy("shard")
            // append into the COMMITTED generation: after an
            // offline repack/compaction migrated the store to the
            // marker layout, the tail files must land inside the
            // live gen, never beside it
            .parquet(graft.operators.LayoutOps.storeDataDir(sd))
          admitted.unpersist()
          TailCounter.append(spark, tail, mb.epoch, nAdmitted, 0L)
        }
      }
      // incremental TOKENIZED store: admitted docs BPE-encode under
      // the pinned merge table, rank by the md5 training order, and
      // pack into fixed ctx-token context windows CONTINUING the
      // store's global token offset — a partially-filled last
      // window keeps filling across appends, and every shard gains
      // only a tail file (byte-identity spec-asserted). Same
      // at-least-once window as the curated store above.
      val writeTokens: Seq[() => Unit] = tokenStoreDir.toSeq.map { sd => () =>
        val tail = s"${sd}_tail"
        // same ONE-read counter discipline as the curated store
        TailCounter.snapshot(spark, tail, mb.epoch).foreach { case (nOldDocs, tOld) =>
          val admitted = verdict.filter(col("admitted")).select("doc_id")
          // with a versioned vocab artifact (`vocabDir`), the batch
          // encodes under the COMMITTED merge table read back from
          // its bytes — never an in-memory literal — and every row
          // is stamped with the artifact version and its ERA (the
          // monotone build epoch), laid out era=/shard= so a later
          // tokenizer refresh (LayoutOps.bpeRefreshApplyAt) rewrites
          // exactly the stale eras' partitions; without one, the
          // pinned v0 table and the flat shard layout are unchanged
          val vocab = vocabDir.map(vd =>
            (graft.operators.LayoutOps.currentVocab(spark, vd),
              graft.operators.LayoutOps.currentVocabVersion(vd)))
          val enc = graft.operators.LayoutOps
            .bpeEncodeDocsWith(batch.join(admitted, Seq("doc_id")),
              vocab.map(_._1)
                .getOrElse(graft.operators.TextOps.BpeMergeTable))
            .persist(StorageLevel.MEMORY_AND_DISK)
          // one fill pass also yields the counter update: the batch's
          // doc and token contribution (the encode runs ONCE)
          val (nAdmitted, nTokens) = {
            val r = enc.agg(count(lit(1)).cast("long"),
              coalesce(sum(col("n_bpe")), lit(0L)).cast("long")).collect()(0)
            (r.getLong(0), r.getLong(1))
          }
          val ranked = graft.operators.LayoutOps
            .shuffleRanks(spark, admitted)
            .join(enc, Seq("doc_id"))
            .select(col("doc_id"), (col("pos") + lit(nOldDocs)).as("pos"),
              col("n_bpe"), col("tok_str"))
          val windowed = graft.operators.LayoutOps
            .assignWindows(ranked, ctx, nShards, tOld)
            .repartitionByRange(nShards, col("shard"))
            .sortWithinPartitions("shard", "win", "pos")
          // same marker resolve as the curated store's append
          val sdd = graft.operators.LayoutOps.storeDataDir(sd)
          vocab match {
            case Some((_, v)) =>
              windowed
                .withColumn("vocab", lit(v))
                .withColumn("era", lit(mb.epoch))
                .write.mode(SaveMode.Append)
                .partitionBy("era", "shard").parquet(sdd)
            case None =>
              windowed
                .write.mode(SaveMode.Append).partitionBy("shard").parquet(sdd)
          }
          enc.unpersist()
          TailCounter.append(spark, tail, mb.epoch, nAdmitted, nTokens)
        }
      }
      // claims accrete for every batch winner — contaminated or not
      // (stage order: dedup decides before decontamination drops); every
      // perceptually NOVEL audio and video asset claims its fingerprint,
      // independent of the text verdicts (novelty is against earlier
      // batches only)
      ClaimGate.Commit(verdict.drop("fp", "n_words"),
        consumers = Seq(writeFunnel) ++ writeStore ++ writeTokens,
        claims = (textStore -> verdict.filter(col("keep_quality") && !col("is_dup"))
          .select(fpPk(col("fp")).as("pk"), col("fp"))) +:
          mediaVerdict.toSeq.flatMap(mv => Seq(
            mediaStore -> MultimodalOps.claimBands(mv.filter(!col("media_dup"))
              .select(col("doc_id").as("claim_id"), col("ahash").as("fhash"))),
            videoStore -> mv.filter(!col("video_dup"))
              .select(vhashPk(col("vhash")).as("pk"),
                col("doc_id").as("claim_id"), col("vhash")))),
        alsoFold = Seq(funnel))
    }
  }

  /** The benchmark shingle set every stream fixture decontaminates
    * against — the SAME PLAN as the decontamination family's eval stage
    * (`DedupOps.decontaminateBloom/Spans`), so it shares that session
    * cache through [[graft.operators.SharedStage]] and is NEVER
    * unpersisted here: an owning unpersist would yank the shared stage
    * from under whichever query family registered it first (the
    * round-16 flaky re-persist warnings). */
  private def evalShingles(spark: SparkSession, dir: String): DataFrame =
    DedupOps.evalShingleSet(spark, dir)

  private def documents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select("doc_id", "text")

  /** The deterministic two-batch arrival the stream fixtures share: even
    * doc_ids land as the first micro-batch, odd as the second. */
  private def parityArrivals(fx: ClaimGate.Fixture, docs: DataFrame): DataFrame =
    fx.arrivals("in", docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))

  /** One gate run over the parity arrival into `fx`'s `out`; returns it. */
  private def parityRun(spark: SparkSession, dir: String, fx: ClaimGate.Fixture,
      storeDir: Option[String] = None, tokenStoreDir: Option[String] = None,
      mediaGate: Boolean = false): String = {
    val out = fx.path("out")
    run(parityArrivals(fx, documents(spark, dir)), evalShingles(spark, dir), out,
      fx.path("ckpt"), storeDir = storeDir, tokenStoreDir = tokenStoreDir,
      mediaGate = mediaGate).awaitTermination()
    out
  }

  /** Oracle-gated query: all documents stream through the gate as two
    * micro-batches (even doc_ids arrive first, then odd), with the
    * claim store carrying the dedup state across them. The verdicts
    * are deterministic in the arrival order, so the oracle replays
    * them relationally: the class winner is the quality-passing doc
    * minimizing (batch index, doc_id). */
  def curationStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val out = parityRun(spark, dir, ClaimGate.fixture(spark, "graft-curation"))
    // no persist: the verdicts live on disk already — re-executing the
    // returned frame is one scan of the small store, no cached state
    // outlives this call. The shared per-doc resolution (not an
    // arbitrary dropDuplicates row) makes redelivered appends resolve
    // deterministically: a doc's own claim proves its admission.
    Gate.verdicts.read(spark, out)
  }

  /** Oracle-gated query for the INCREMENTAL curated store: the same
    * two-batch arrival as [[curationStreamQuery]], with each batch's
    * admitted documents appended to the shard store as tails, then the
    * store read back from disk into the per-shard loader manifest (the
    * `LayoutOps.curatedStore` fields — doc count, token sum, pos range,
    * order-sensitive digest). The oracle replays curation verdicts in
    * arrival order AND the two-stage tail ranking (batch-0 survivors
    * ranked by md5, batch-1 survivors ranked after them), so a
    * regression in the gate, the ranking, the offset fold, or the
    * write→read round trip flips a manifest row red. */
  def curatedStoreIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-curation-inc")
    val store = fx.path("store")
    parityRun(spark, dir, fx, storeDir = Some(store))
    spark.catalog.refreshByPath(store) // drop FileStatusCache listings taken mid-append
    graft.operators.LayoutOps
      .shardManifest(spark, spark.read.parquet(graft.operators.LayoutOps.storeDataDir(store)), 4, tokensCol = "n_words")
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("min_pos"),
        col("max_pos"), col("order_digest"))
      .orderBy("shard")
  }

  /** Oracle-gated query for the INCREMENTAL TOKENIZED store — the full
    * incremental pre-training loop in one artifact: the same two-batch
    * arrival as [[curationStreamQuery]], each batch's admitted documents
    * BPE-encoded, ranked into the batch-major training order, packed
    * into 2048-token context windows continuing the store's global token
    * offset, appended as shard tails, then the store read back from disk
    * into the window-grain loader manifest
    * (`LayoutOps.tokenizedShardStore`'s fields, token digest included).
    * The oracle replays arrival-order curation, the per-batch md5
    * ranking, the unrolled merge-table encode, and the CROSS-BATCH
    * window prefix sum — so a regression in the gate, the tokenizer, the
    * offset fold, or the window continuation flips a manifest row red. */
  def tokenizedStoreIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-curation-tok")
    val store = fx.path("tstore")
    parityRun(spark, dir, fx, tokenStoreDir = Some(store))
    spark.catalog.refreshByPath(store) // drop FileStatusCache listings taken mid-append
    graft.operators.LayoutOps
      .tokenShardManifest(spark, spark.read.parquet(graft.operators.LayoutOps.storeDataDir(store)), 4)
  }

  /** Build half of the PRODUCTION tokenizer-refresh lifecycle: the v0
    * merge table ships as `gen=0` of a versioned vocab artifact, even
    * doc_ids stream through the gate as era 0 (each batch ENCODES UNDER
    * THE COMMITTED ARTIFACT read back from its bytes, rows era/vocab-
    * stamped, layout era=/shard=), the vocabulary retrains on the
    * accreted corpus and ships ONLY through the fertility canary
    * ([[graft.operators.LayoutOps.shipVocabIfBetter]]), and odd doc_ids
    * stream as era 1 born on the new artifact. Returns (store,
    * vocabDir) so the refresh pass — and the byte-identity specs — run
    * against the exact on-disk state. */
  private[graft] def tokenizedStoreRefreshBuild(spark: SparkSession,
      dir: String, tag: String = "graft-curation-tokref"): (String, String) = {
    val spark0 = spark
    import spark0.implicits._
    val fx = ClaimGate.fixture(spark, tag)
    val out = fx.path("out")
    val store = fx.path("tstore")
    val vocabDir = fx.path("vocab")
    val docs = documents(spark, dir)
    val era0 = fx.arrivals("in", docs.filter(col("doc_id") % 2 === 0))
    val era1 = fx.arrivals("in2", docs.filter(col("doc_id") % 2 === 1))
    val evalSh = evalShingles(spark, dir)
    // v0 ships as a real artifact generation (gen=0 + CURRENT swap)
    TextOps.BpeMergeTable.zipWithIndex
      .map { case ((a, b), i) => (i.toLong + 1, a, b) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$vocabDir/gen=0")
    graft.sources.Stage.atomicRepoint(vocabDir, s"$vocabDir/gen=0")
    run(era0, evalSh, out, fx.path("ckpt"),
      tokenStoreDir = Some(store), vocabDir = Some(vocabDir)).awaitTermination()
    // vocab drift between stream runs: retrain on the accreted corpus,
    // ship only through the fertility canary (strict ppm gain)
    val merges = TextOps.bpeMergesFromTokens(
      docs.select(explode(TextOps.tokens(col("text"))).as("word")), 6)
    graft.operators.LayoutOps.shipVocabIfBetter(spark, docs, vocabDir, merges)
    run(era1, evalSh, out, fx.path("ckpt2"),
      tokenStoreDir = Some(store), vocabDir = Some(vocabDir), epochBase = 1L)
      .awaitTermination()
    (store, vocabDir)
  }

  /** Build-once cache for the tokenizer-refresh FIXTURE lifecycle: the
    * two heaviest registered queries (refresh, repack) consume the same
    * deterministic built state (two full stream runs + a retrain + a
    * canary ship — the bulk of their cost), and each used to rebuild it
    * for order-independence. Share the BUILD, not the store: each query
    * COPIES the pristine built state into its own private root before
    * mutating (the refresh rewrites partitions in place, the repack
    * swaps generations), so registered queries stay order-independent —
    * either query triggers the build on first touch, neither ever reads
    * the other's mutations, and the copy is file-system cheap next to
    * the stream runs it replaces. */
  private val tokRefreshBuilds =
    scala.collection.mutable.Map.empty[String, (String, String)]

  private[graft] def tokenizedStoreRefreshBuiltCopy(spark: SparkSession,
      dir: String, tag: String): (String, String) = {
    val (bStore, bVocab) = tokRefreshBuilds.synchronized {
      // the shared root is PER CORPUS DIR: one fixed root would let a
      // build for a second dir delete and replace the first dir's
      // built state while the memo still served its paths (the bench
      // runs a warm pass at sf0.001 and measures at another sf in one
      // JVM — only strict A…A-then-B…B ordering kept that latent)
      val shared = "graft-curation-tokshared-" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      tokRefreshBuilds.getOrElseUpdate(dir,
        tokenizedStoreRefreshBuild(spark, dir, tag = shared))
    }
    val fx = ClaimGate.fixture(spark, tag)
    val store = fx.path("tstore")
    val vocabDir = fx.path("vocab")
    copyTree(bStore, store)
    copyTree(bVocab, vocabDir)
    // a copied CURRENT marker still holds an ABSOLUTE path into the
    // shared root — re-point it at the same-named child of the copy,
    // or a mutating query would write through into the pristine build
    repointCopiedMarker(store)
    repointCopiedMarker(vocabDir)
    (store, vocabDir)
  }

  private def copyTree(src: String, dst: String): Unit = {
    val sp = new org.apache.hadoop.fs.Path(src)
    val f = graft.sources.Hfs.fs(sp)
    if (!org.apache.hadoop.fs.FileUtil.copy(f, sp,
        f, new org.apache.hadoop.fs.Path(dst), false, f.getConf))
      throw new java.io.IOException(s"fixture copy failed: $src -> $dst")
  }

  private def repointCopiedMarker(dirPath: String): Unit =
    graft.sources.Stage.currentTarget(dirPath).foreach { t =>
      val name = new org.apache.hadoop.fs.Path(t).getName
      graft.sources.Stage.atomicRepoint(dirPath, s"$dirPath/$name")
    }

  /** Oracle-gated query for the PRODUCTION TOKENIZED-STORE REFRESH —
    * the r14 fixture lifecycle (q_bpe_refresh) deployed where it
    * matters: the store the streaming gate actually feeds. Era 0 (even
    * doc_ids, admitted by the full curation gate) encodes under the
    * committed v0 artifact and packs into 2048-token windows from token
    * offset 0; the retrained vocabulary ships through the fertility
    * canary; era 1 (odds, judged against era-0 claims) encodes under
    * the NEW artifact, its windows CONTINUING the store's global token
    * offset; then [[graft.operators.LayoutOps.bpeRefreshApplyAt]]
    * re-encodes ONLY the stale era's partitions — doc_id/pos/win/shard
    * untouched (the window grid is the training loop's resume
    * contract; only the payload and vocab stamp move), era-1 partitions
    * byte-identical (spec-asserted). Output: the per-(era, shard)
    * window-grain loader manifest of the refreshed store read back from
    * disk. The DuckDB oracle replays the arrival-order curation chain,
    * the per-era md5 ranking, BOTH encodes (pinned v0 for the frozen
    * window grid, the trainer-round-derived table for the payload), the
    * cross-era window prefix sum, and every manifest field — a
    * regression in the gate, either tokenizer, the canary wiring, the
    * stale-era detection, or the touched-partition rewrite flips a row
    * red. */
  def tokenizedStoreRefreshQuery(spark: SparkSession, dir: String): DataFrame = {
    val (store, vocabDir) =
      tokenizedStoreRefreshBuiltCopy(spark, dir, "graft-curation-tokref-run")
    graft.operators.LayoutOps.bpeRefreshApplyAt(spark,
      documents(spark, dir),
      store, vocabDir, nShards = 4, carry = Seq("win"))
    spark.catalog.refreshByPath(store)
    graft.operators.LayoutOps
      .tokenizedEraManifest(spark, spark.read.parquet(graft.operators.LayoutOps.storeDataDir(store)), 4)
  }

  /** Oracle-gated query for the WINDOW REPACK — the deliberate O(store)
    * completion of the refresh lifecycle: after
    * [[tokenizedStoreRefreshQuery]]'s payload-only rewrite the window
    * grid still reflects the OLD vocab's token counts, and this pass
    * ([[graft.operators.LayoutOps.repackTokenizedStore]], run between
    * training runs when no resume state pins the grid) re-derives every
    * window and shard from the refreshed payload's token counts —
    * positions immutable (the training order is the corpus identity),
    * the grid back to exact `ctx`-token alignment. The oracle replays
    * the same chain as the refresh query but with the window prefix sum
    * over the RETRAINED table's counts for all rows — so a repack that
    * moves a position, loses an era stamp, or mis-aligns the grid flips
    * a manifest row red. */
  def tokenizedStoreRepackQuery(spark: SparkSession, dir: String): DataFrame = {
    val (store, vocabDir) =
      tokenizedStoreRefreshBuiltCopy(spark, dir, "graft-curation-tokrepack-run")
    graft.operators.LayoutOps.bpeRefreshApplyAt(spark,
      documents(spark, dir),
      store, vocabDir, nShards = 4, carry = Seq("win"))
    graft.operators.LayoutOps.repackTokenizedStore(spark, store,
      ctx = 2048L, nShards = 4)
    graft.operators.LayoutOps
      .tokenizedEraManifest(spark, spark.read.parquet(graft.operators.LayoutOps.storeDataDir(store)), 4)
  }

  /** Oracle-gated query for the PER-BATCH STREAM FUNNEL: the two-batch
    * multimodal arrival with the gate's drop-accounting resolved per
    * (batch_id, stage) — batch 0 (even ids) funnels against empty claim
    * stores, batch 1 (odd ids) against exactly the batch-0 claims, so
    * every stage count replays relationally: the text chain per parity,
    * the three media property gates, and the perceptual-novelty stage
    * (pairwise odd-vs-even loudness Hamming + video signature equality).
    * Read-side resolution is the tuple-MAX delivery per row — a replay
    * only ever undercounts (it sees its own claims), so the maximum is
    * the pre-claim truth and doc/token counts resolve from the SAME
    * delivery. */
  def curationStreamFunnelQuery(spark: SparkSession, dir: String): DataFrame = {
    val out = parityRun(spark, dir, ClaimGate.fixture(spark, "graft-curation-funnel"),
      mediaGate = true)
    funnelStore(out).read(spark)
      .groupBy("batch_id", "stage")
      .agg(max(struct(col("n_docs"), col("n_tokens"))).as("_m"))
      .select(col("batch_id"), col("stage"),
        col("_m.n_docs").as("n_docs"), col("_m.n_tokens").as("n_tokens"))
      .orderBy("batch_id", "stage")
  }

  /** Oracle-gated query for the CLAIM RETENTION sweep: the text exact-md5
    * claim classes land in a pruned-layout [[ClaimStore]] stamped with a
    * batch epoch (the two-batch parity arrival — even doc_ids claim at
    * epoch 0, odd at epoch 1), then [[ClaimStore.retentionSweep]] folds
    * the store keeping only epoch >= 1 under the drop-fraction guardrail.
    * The output compares each fingerprint's claim count before and after:
    * a class claimed ONLY by the aged-out epoch re-admits (the retention
    * semantic), a class any in-horizon batch claimed keeps rejecting. The
    * oracle replays the parity split and the sweep relationally, so a
    * sweep that drops an in-horizon claim, keeps an aged one, or loses a
    * class entirely flips a row red. */
  def claimRetentionQuery(spark: SparkSession, dir: String): DataFrame = {
    val st = ClaimStore(ClaimGate.fixture(spark, "graft-claim-retention").path("store"),
      TextClaims, Some("pk"))
    val f = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp"))
    // probe-key space sized to the corpus: the folded base writes one
    // file per live pk directory, so an oversized key space turns the
    // sweep into small-file filesystem churn (2048 keys over a 5k-class
    // store = ~2048 near-empty files); 256 keeps pruned probes selective
    // at this scale while the fold stays file-count-sane
    def claims(parity: Int) = f.filter(col("doc_id") % 2 === parity)
      .select(col("fp")).distinct()
      .select((crc32(col("fp")) % 256).cast("int").as("pk"),
        col("fp"), lit(parity.toLong).as("epoch"))
    st.appendDelta(claims(0))
    st.appendDelta(claims(1))
    // pre-sweep counts must be lineage-free: the sweep rewrites the very
    // files this frame reads
    val pre = st.read(spark).groupBy("fp")
      .agg(count(lit(1)).as("n_claims_before"))
      .localCheckpoint(true)
    st.retentionSweep(spark, minEpoch = 1L, maxDropFrac = 0.9)
    val post = st.read(spark).groupBy("fp")
      .agg(count(lit(1)).as("n_claims_after"))
    pre.join(post, Seq("fp"), "left")
      .select(col("fp"), col("n_claims_before"),
        coalesce(col("n_claims_after"), lit(0L)).as("n_claims_after"))
      .withColumn("re_admits", col("n_claims_after") === 0L)
      .orderBy("fp")
  }

  /** Oracle-gated RETENTION LIFECYCLE through the TEXT gate itself — the
    * full production story [[sweepClaims]] enables (the
    * [[MediaDedupStream.audioClaimRetentionQuery]] pattern on exact-md5
    * classes): even doc_ids stream as batch 0 (epoch 0) and odd doc_ids
    * as batch 1 (epoch 1, judged against the batch-0 claims as usual);
    * between stream runs the sweep ages out every epoch-0 claim under
    * the guardrail; then a SECOND run under a monotone epoch base brings
    * byte-identical TWINS — copies of (6k+4)-th (even, aged-out) parents
    * and of (6k+3)-th (odd, in-horizon) parents. A twin of an aged-out
    * class re-admits (its only claim was swept — intra-run first-wins
    * still applies among the twins themselves); a twin of a class any
    * odd doc claimed keeps rejecting. The oracle replays all three
    * batches relationally: the batch-0 window, batch-1 against the even
    * claim set, the post-sweep store as exactly the classes batch 1
    * claimed, and the twin verdicts against that surviving set. */
  def curationClaimRetentionQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-curation-ret")
    val out = fx.path("out")
    val docs = documents(spark, dir)
    val evalSh = evalShingles(spark, dir)
    run(parityArrivals(fx, docs), evalSh, out, fx.path("ckpt")).awaitTermination()
    // age out the batch-0 (epoch 0) classes; batch-1 claims stay. The
    // guardrail sits at 0.99: this sweep EXPECTS to drop a whole epoch
    // cohort (the abort path is spec-covered elsewhere)
    sweepClaims(spark, out, minEpoch = 1L, maxDropFrac = 0.99)
    val twins = fx.arrivals("in2", docs.filter(col("doc_id") % 6 === 4)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .union(docs.filter(col("doc_id") % 6 === 3)
        .select((col("doc_id") + 7000000L).as("doc_id"), col("text"))))
    run(twins, evalSh, out, fx.path("ckpt2"), epochBase = 2L)
      .awaitTermination()
    Gate.verdicts.read(spark, out)
  }

  /** Oracle-gated query for the STREAMING CROSS-MODAL gate: the same
    * two-batch arrival as [[curationStreamQuery]] with `mediaGate` on —
    * each doc's assets decode per batch, the image/audio/video property
    * gates and the accreting perceptual claim stores (audio loudness
    * hash, video temporal-gradient signature) compose into the admission
    * verdict IN ARRIVAL ORDER. Batch 0 (even ids) probes empty stores
    * (media_dup/video_dup vacuously false) and claims every fingerprint;
    * batch 1 (odd ids) is judged against exactly the batch-0 claims — so
    * the oracle replays the text stream CTE chain, all three property
    * gates' generator arithmetic, a brute-force pairwise
    * `bit_count(xor(..)) <= 7` join of odd against even loudness hashes,
    * AND an exact delta-sequence equality join of odd against even video
    * signatures (vhash equality ⇔ temporal-gradient sequence equality —
    * the md5 chain is injective on the replayed sequences). A regression
    * in a codec path, a hash, the banding, the claim ordering, or the
    * composition flips a row red. */
  def curationMultimodalStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    MediaVerdicts.read(spark,
      parityRun(spark, dir, ClaimGate.fixture(spark, "graft-curation-mm"), mediaGate = true))
  }

  /** The full INCREMENTAL MULTIMODAL pre-training loop in one artifact:
    * [[curationMultimodalStreamQuery]]'s composed gate (text funnel ∧
    * media property gates ∧ accreting perceptual claim store) driving
    * the incremental curated store — each batch's cross-modally admitted
    * documents rank into the batch-major training order and append as
    * shard tails, then the store reads back into the per-shard loader
    * manifest. The oracle replays arrival-order text curation, both
    * property gates, the brute-force perceptual pairwise join, the
    * two-stage tail ranking, and every manifest field — a regression in
    * a codec path, the claim ordering, the composition, or the layout
    * flips a manifest row red. */
  def curatedStoreMultimodalStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-curation-mm-store")
    val store = fx.path("store")
    parityRun(spark, dir, fx, storeDir = Some(store), mediaGate = true)
    spark.catalog.refreshByPath(store) // drop FileStatusCache listings taken mid-append
    graft.operators.LayoutOps
      .shardManifest(spark, spark.read.parquet(graft.operators.LayoutOps.storeDataDir(store)), 4, tokensCol = "n_words")
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("min_pos"),
        col("max_pos"), col("order_digest"))
      .orderBy("shard")
  }
}
