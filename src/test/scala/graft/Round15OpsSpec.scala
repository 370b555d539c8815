package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 lifecycle specs: the consumed-manifest cleanup discipline
  * under FAILING deletes (a transiently undeletable consumed input must
  * never resurrect swept claims — not via the manifest drop, not via a
  * minor fold), additive claim-schema evolution (pre-epoch stores read
  * under an epoch-bearing schema), the CURRENT-marker swap window on
  * filesystems without atomic rename, and the blue/green old-generation
  * GC. */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.nanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration
      .set("fs.failfs.impl", classOf[FailingDeleteFs].getName)
    s
  }

  private val dir = "/root/testdata/sf0.001"

  private def tmpRoot(tag: String): java.nio.file.Path =
    Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), tag)

  test("a failed consumed-input delete keeps the manifest and blocks minor folds (no resurrection)") {
    import graft.streaming.ClaimStore
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("graft-failclean")
    val storeDir = s"failfs://$root/a"
    val st = ClaimStore(storeDir, graft.streaming.CurationStream.TextClaims, Some("pk"))
    st.appendDelta(Seq((1, "aged", 0L), (2, "fresh", 1L)).toDF("pk", "fp", "epoch"))
    FailingDeleteFs.needle = ".parquet"
    FailingDeleteFs.failing.set(true)
    try {
      // the sweep COMMITS (swap + manifest) but cannot delete its
      // consumed delta — the manifest must survive, keeping the aged
      // claim excluded from reads
      assert(st.retentionSweep(spark, minEpoch = 1L, maxDropFrac = 0.6) == 1L)
      val gen = graft.sources.Stage.currentTarget(storeDir).get
      val manifest = new org.apache.hadoop.fs.Path(gen, ClaimStore.ConsumedManifest)
      assert(graft.sources.Hfs.exists(manifest.toString),
        "the manifest must NOT drop while a consumed input survives a failed delete")
      assert(st.read(spark).select("fp").as[String].collect().toSet == Set("fresh"))
      // cross the delta budget: maybeCompact must ABORT (return 0, fold
      // nothing) while the manifest is live — a minor fold reads delta
      // files directly and would commit the excluded consumed delta into
      // a live run, permanently resurrecting the swept claim
      (1 to ClaimStore.CompactDeltaFiles).foreach(i =>
        st.appendDelta(Seq((3, s"new_$i", 2L)).toDF("pk", "fp", "epoch")))
      assert(st.maybeCompact(spark) == 0L,
        "a fold must not proceed while a consumed manifest survives cleanup")
      assert(st.read(spark).select("fp").as[String].collect().toSet ==
        (1 to ClaimStore.CompactDeltaFiles).map(i => s"new_$i").toSet + "fresh")
    } finally FailingDeleteFs.failing.set(false)
    // deletes heal: the next fold finishes the crashed cleanup, folds the
    // backlog, and the aged claim stays gone for good
    assert(st.maybeCompact(spark) > 0L)
    val after = st.read(spark).select("fp").as[String].collect().toSet
    assert(!after.contains("aged"), s"healed fold resurrected a swept claim: $after")
    assert(after.contains("fresh") && after.contains("new_1"))
    val gen2 = graft.sources.Stage.currentTarget(storeDir).get
    assert(!graft.sources.Hfs.exists(
      new org.apache.hadoop.fs.Path(gen2, ClaimStore.ConsumedManifest).toString),
      "no consumed manifest may survive a completed fold")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("pre-epoch claim stores read under an epoch-bearing schema (typed-zero backfill)") {
    import graft.streaming.ClaimStore
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("graft-epochmig")
    val st = ClaimStore(root.resolve("a").toString,
      graft.streaming.CurationStream.TextClaims, Some("pk"))
    // a store written BEFORE the epoch column existed
    st.copy(schema = Seq.empty[(Int, String)].toDF("pk", "fp").schema)
      .appendDelta(Seq((1, "old_a"), (2, "old_b")).toDF("pk", "fp"))
    val got = st.read(spark).select("fp", "epoch")
      .as[(String, Long)].collect().toMap
    assert(got == Map("old_a" -> 0L, "old_b" -> 0L),
      "pre-epoch rows must backfill epoch 0, not throw")
    // and they are sweepable as the OLDEST cohort
    st.appendDelta(Seq((3, "new_c", 5L)).toDF("pk", "fp", "epoch"))
    assert(st.retentionSweep(spark, minEpoch = 1L, maxDropFrac = 0.9) == 2L)
    assert(st.read(spark).select("fp").as[String].collect().toSet == Set("new_c"))
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("currentTarget rides out the non-atomic swap window (CURRENT absent, CURRENT.tmp live)") {
    import graft.sources.{Hfs, Stage}
    val root = tmpRoot("graft-swapwin")
    val base = root.resolve("s").toString
    // no publish at all -> None
    assert(Stage.currentTarget(base).isEmpty)
    // the fallback swap's window: tmp fully written, marker not yet
    // renamed — the committed generation must still resolve (silently
    // reporting "no base" would drop it from a claim-store union and
    // wrongly re-admit duplicates)
    Hfs.writeString(new org.apache.hadoop.fs.Path(base, "CURRENT.tmp"), "genX")
    assert(Stage.currentTarget(base).contains("genX"))
    // once the marker lands it wins over any stale tmp
    Hfs.writeString(new org.apache.hadoop.fs.Path(base, "CURRENT"), "genY")
    assert(Stage.currentTarget(base).contains("genY"))
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("fallback marker swap fails LOUDLY when the old marker cannot be removed") {
    import graft.sources.Stage
    val root = tmpRoot("graft-swapfail")
    val base = s"failfs://$root/m"
    // failfs has no AbstractFileSystem binding, so this exercises the
    // non-atomic delete-then-rename fallback end to end
    Stage.atomicRepoint(base, "gen1")
    assert(Stage.currentTarget(base).contains("gen1"))
    FailingDeleteFs.needle = "CURRENT"
    FailingDeleteFs.failing.set(true)
    try {
      // a swap that cannot remove the old marker must THROW — returning
      // with the marker pair in an unknown state would let the next fold
      // rebuild without the committed base and then delete it
      intercept[java.io.IOException] { Stage.atomicRepoint(base, "gen2") }
      // and the committed state is never silently destroyed
      assert(Stage.currentTarget(base).contains("gen1"))
    } finally {
      FailingDeleteFs.failing.set(false)
      FailingDeleteFs.needle = ".parquet"
    }
    // deletes heal: the retried swap commits
    Stage.atomicRepoint(base, "gen2")
    assert(Stage.currentTarget(base).contains("gen2"))
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("maintain(pipeline): one call sweeps every deployed store; a tripped guardrail aborts that store only") {
    import graft.streaming.{CurationStream, DedupGateStream, EmbedDedupStream, MediaDedupStream}
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("graft-maint")
    val out = root.resolve("gate").toString
    // the composed curation gate's four stores + the embedding gate's
    // int8 store, seeded with one aged (epoch 0) and one in-horizon
    // claim each — EXCEPT the video store, which holds only aged claims
    // so its sweep must trip the drop-fraction guardrail
    val Seq(fps, mfps, vmfps) = CurationStream.claimStores(out)
    fps.appendDelta(
      Seq((1, "aged", 0L), (2, "fresh", 5L)).toDF("pk", "fp", "epoch"))
    mfps.appendDelta(
      Seq((1, 10L, 111L, 0L), (2, 20L, 222L, 5L))
        .toDF("pk", "claim_id", "fhash", "epoch"))
    vmfps.appendDelta(
      Seq((1, 30L, "vh_a", 0L), (2, 31L, "vh_b", 0L))
        .toDF("pk", "claim_id", "vhash", "epoch"))
    CurationStream.funnelStore(out).appendDelta(
      Seq((0L, "00_ingest", 4L, 40L), (3L, "00_ingest", 2L, 20L))
        .toDF("batch_id", "stage", "n_docs", "n_tokens"))
    EmbedDedupStream.claimStores(out).head.appendDelta(
      Seq((1, 40L, Array[Byte](1, 2), 0.0, 0.1, 0L),
        (2, 41L, Array[Byte](3, 4), 0.0, 0.1, 5L))
        .toDF("pk", "claim_id", "codes", "vmin", "scale", "epoch"))
    // the standalone perceptual gate and the MinHash text-index gate —
    // separate outDirs, as a composed multi-gate deployment would have
    val mOut = root.resolve("mgate").toString
    MediaDedupStream.claimStores(mOut).head.appendDelta(
      Seq((1, 50L, 555L, 0L), (2, 51L, 556L, 5L))
        .toDF("pk", "claim_id", "fhash", "epoch"))
    val dOut = root.resolve("dgate").toString
    val Seq(bands, index) = DedupGateStream.claimStores(dOut)
    bands.appendDelta(
      Seq((1, 60L, 0, 999L, 0L), (2, 61L, 1, 998L, 5L))
        .toDF("bucket", "doc_id", "band", "band_hash", "epoch"))
    index.appendDelta(
      Seq((1, 60L, Seq("a b c"), 0L), (2, 61L, Seq("d e f"), 5L))
        .toDF("dbucket", "doc_id", "sh", "epoch"))
    // plus a continuous-publish snapshot (two batches leave two live
    // generations) — its maintenance is the dead-generation vacuum
    val snap = root.resolve("snap").toString
    graft.streaming.StreamPublish.publishBatch(
      Seq(("k1", "a", 1L)).toDF("key", "attr", "ts"), 0L, snap,
      "key", Seq("attr"), Seq(col("ts")), "t_")
    graft.streaming.StreamPublish.publishBatch(
      Seq(("k2", "b", 2L)).toDF("key", "attr", "ts"), 1L, snap,
      "key", Seq("attr"), Seq(col("ts")), "t_")
    assert(graft.sources.Hfs.children(snap)(_.startsWith("gen=")).size == 2)
    // ONE call on the composed pipeline sweeps/compacts every deployed
    // store — the nightly scheduled pass
    val pipeline = graft.pipeline.Pipeline(
      name = "gate",
      source = s => s.range(0).toDF(),
      maintenance =
        CurationStream.maintenanceActions(spark, out,
          minEpoch = 1L, maxDropFrac = 0.6, minBatchId = 1L) ++
          EmbedDedupStream.maintenanceActions(spark, out,
            minEpoch = 1L, maxDropFrac = 0.6) ++
          graft.streaming.MediaDedupStream.maintenanceActions(spark, mOut,
            minEpoch = 1L, maxDropFrac = 0.6) ++
          graft.streaming.DedupGateStream.maintenanceActions(spark, dOut,
            minEpoch = 1L, maxDropFrac = 0.6) ++
          graft.streaming.StreamPublish.maintenanceActions(spark, snap, "key"))
    val report = pipeline.maintain()
    assert(report.outcomes.size == 9)
    // the snapshot vacuum folded both live generations into one and
    // the folded snapshot still reads whole
    assert(graft.sources.Hfs.children(snap)(_.startsWith("gen=")).size == 1)
    assert(graft.streaming.StreamPublish.readCurrent(spark, snap).count() == 2)
    // exactly the mis-horizoned store aborts — and reports why
    assert(report.aborted.map(_.store) == Seq(s"${out}_vmfps"))
    assert(report.aborted.head.aborted.get.contains("refusing"))
    // the aborted store is left INTACT (abort happens before any rewrite)
    assert(spark.read.parquet(
      graft.sources.Hfs.children(s"${out}_vmfps/delta")(_.endsWith(".parquet"))
        .map(_.toString): _*).count() == 2)
    // every other claim store — across all four gates — swept its aged
    // cohort: 1 row each (the snapshot vacuum is lossless — 0 dropped
    // by contract)
    assert(report.dropped == 7L)
    assert(report.outcomes.filter(o => o.ok && o.kind != "compact")
      .forall(_.dropped == 1L))
    // and the sweeps committed pruned base generations (the sweep IS a
    // major fold), so the swept stores are also compacted
    Seq(s"${out}_fps", s"${out}_mfps", s"${out}_vfps", s"${mOut}_fps",
      s"${dOut}_bands", s"${dOut}_index").foreach(d =>
      assert(graft.sources.Stage.currentTarget(d).isDefined, d))
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("production tokenized-store refresh: current-vocab era byte-identical, stale era rewritten, second apply a no-op") {
    import graft.streaming.CurationStream
    import graft.operators.LayoutOps
    val spark0 = spark
    import spark0.implicits._
    val (store, vocabDir) = CurationStream.tokenizedStoreRefreshBuild(spark, dir)
    // the canary must have shipped the retrained vocab on this corpus
    // (the oracle-coupling discipline: the oracle replays the retrained
    // encode unconditionally, so the gate must take the same branch)
    assert(LayoutOps.currentVocabVersion(vocabDir) == 1L,
      "the fertility canary must ship the retrained vocab at every gated sf")
    // the ship GCs the superseded artifact generation (encoded rows
    // reference versions by number, never by re-reading old bytes)
    assert(graft.sources.Hfs.children(vocabDir)(_.startsWith("gen="))
      .map(_.getName) == Seq("gen=1"))
    def checksums(era: String): Map[String, String] = {
      val d = java.nio.file.Paths.get(store.stripPrefix("file:"), era)
      val out = scala.collection.mutable.Map.empty[String, String]
      java.nio.file.Files.walk(d).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          out(d.relativize(p).toString) = org.apache.commons.codec.digest.DigestUtils
            .md5Hex(java.nio.file.Files.readAllBytes(p))
      }
      out.toMap
    }
    val era0Before = checksums("era=0")
    val era1Before = checksums("era=1")
    assert(era0Before.nonEmpty && era1Before.nonEmpty)
    val docs = graft.sources.Tables(spark, dir, "documents").select("doc_id", "text")
    val n = LayoutOps.bpeRefreshApplyAt(spark, docs, store, vocabDir,
      nShards = 4, carry = Seq("win"))
    assert(n > 0L, "the refresh must re-encode the stale era")
    // era 1 was born on the current vocab: its partitions are
    // byte-identical — the dynamic overwrite touched ONLY era 0
    assert(checksums("era=1") == era1Before,
      "current-vocab partitions must not be rewritten")
    assert(checksums("era=0") != era0Before,
      "the stale era's payload must actually move")
    // the refreshed store is era-uniform on the current vocab, windows
    // and positions untouched per era (the resume contract)
    val vocabs = spark.read.parquet(LayoutOps.storeDataDir(store))
      .select("vocab").distinct()
      .as[Long].collect().toSet
    assert(vocabs == Set(1L))
    // a second apply finds no stale era and rewrites nothing at all
    val era0After = checksums("era=0")
    assert(LayoutOps.bpeRefreshApplyAt(spark, docs, store, vocabDir,
      nShards = 4, carry = Seq("win")) == 0L)
    assert(checksums("era=0") == era0After && checksums("era=1") == era1Before)
    // the offline REPACK realigns the window grid to the refreshed
    // payload's token counts: the grid moves (the retrain's fertility
    // gain is nonzero on this corpus), but positions, per-era doc sets,
    // and per-era token totals are untouched — and a second repack
    // reproduces the identical manifest (deterministic fixed point)
    // resolve the marker per call: each repack commits a fresh gen
    def manifest() = LayoutOps
      .tokenizedEraManifest(spark,
        spark.read.parquet(LayoutOps.storeDataDir(store)), 4).collect()
    def eraAgg(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(rs =>
        (rs.map(_.getLong(2)).sum, rs.map(_.getLong(4)).sum,
          rs.map(_.getLong(5)).min, rs.map(_.getLong(6)).max)).toMap
    val preRepack = manifest()
    assert(LayoutOps.repackTokenizedStore(spark, store, 2048L, 4) > 0L)
    val postRepack = manifest()
    assert(!postRepack.sameElements(preRepack), "the repack must move the grid")
    assert(eraAgg(postRepack) == eraAgg(preRepack),
      "repack must not move positions, doc sets, or token totals")
    assert(LayoutOps.repackTokenizedStore(spark, store, 2048L, 4) > 0L)
    assert(manifest().sameElements(postRepack),
      "a second repack must reproduce the identical manifest")
    // crash-swap heal: reconstruct the exact "old store removed, rename
    // never ran" state a dying repack can leave — every byte is in tmp,
    // and the heal (run at the head of repack/refresh) moves it back
    val sp = new org.apache.hadoop.fs.Path(store)
    val fs = graft.sources.Hfs.fs(sp)
    assert(fs.rename(sp, new org.apache.hadoop.fs.Path(store + ".repack.tmp")))
    LayoutOps.healRepackSwap(store)
    spark.catalog.refreshByPath(store)
    assert(manifest().sameElements(postRepack),
      "the healed store must be byte-for-byte the committed repack")
  }

  test("incremental-store small-files compaction: layout-only, manifests identical, files shrink") {
    import graft.operators.LayoutOps
    import graft.streaming.{CurationStream, Maintenance}
    import org.apache.spark.sql.SaveMode
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("graft-storecompact")
    val store = root.resolve("store").toString
    val rows = (0L until 200L).map(i => (i, i, 5L))
      .toDF("doc_id", "pos", "n_words")
      .withColumn("shard", col("pos") % 4)
    // two micro-batch-style tail appends -> at least 2 files per shard dir
    def append(lo: Long, hi: Long): Unit = rows
      .filter(col("pos") >= lo && col("pos") < hi)
      .repartitionByRange(4, col("shard")).sortWithinPartitions("shard", "pos")
      .write.mode(SaveMode.Append).partitionBy("shard").parquet(store)
    append(0L, 100L); append(100L, 200L)
    def manifest() = LayoutOps
      .shardManifest(spark,
        spark.read.parquet(LayoutOps.storeDataDir(store)), 4,
        tokensCol = "n_words")
      .collect().sortBy(_.getLong(0)).toSeq
    val before = manifest()
    // run it as the Maintenance action a deployment schedules
    val report = Maintenance.run(CurationStream.storeMaintenanceActions(
      spark, storeDir = Some(store)))
    assert(report.outcomes.forall(_.ok))
    spark.catalog.refreshByPath(store)
    assert(manifest() == before,
      "compaction must not move a row, a position, or a digest")
    // and the file count actually shrank to ~one per shard dir (the
    // compaction migrated the flat store to the marker layout)
    val dataDir = LayoutOps.storeDataDir(store)
    assert(dataDir != store, "compaction must commit a marker-indirected gen")
    val files = graft.sources.Hfs.children(dataDir)(_.startsWith("shard="))
      .map(d => graft.sources.Hfs.children(d.toString)(_.endsWith(".parquet")).size)
    assert(files.nonEmpty && files.forall(_ == 1),
      s"expected one file per shard dir after compaction, got $files")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("repack grid exactness at 50k docs: every window is the independent prefix-sum quotient") {
    import graft.operators.LayoutOps
    import org.apache.spark.sql.SaveMode
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("graft-repack-scale")
    val store = root.resolve("store").toString
    val n = 50000L
    // a deliberately WRONG grid (win=0 everywhere) over two eras — the
    // repack must rebuild it purely from (pos, n_bpe); doc order is
    // md5-scrambled relative to pos so a bucket that secretly leaned on
    // doc_id would misalign
    spark.range(n)
      .select(col("id").as("pos"),
        expr("conv(substring(md5(cast(id as string)), 1, 12), 16, 10)")
          .cast("long").as("doc_id"),
        (col("id") % 37 + 1).cast("long").as("n_bpe"),
        concat(lit("t"), col("id")).as("tok_str"),
        lit(1L).as("vocab"),
        (col("id") >= n / 2).cast("long").as("era"),
        (col("id") % 4).as("shard"), lit(0L).as("win"))
      .repartitionByRange(8, col("era"), col("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("era", "shard").parquet(store)
    assert(LayoutOps.repackTokenizedStore(spark, store, 2048L, 4) == n)
    val got = spark.read.parquet(LayoutOps.storeDataDir(store))
      .select(col("pos").cast("long"), col("n_bpe").cast("long"),
        col("win").cast("long"), col("shard").cast("long"),
        col("era").cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == n)
    // independent re-derivation: running prefix sum in plain Scala
    var cum = 0L
    got.foreach { case (pos, nb, win, shard, era) =>
      assert(win == cum / 2048L, s"pos $pos: win $win != ${cum / 2048}")
      assert(shard == win % 4, s"pos $pos: shard $shard != win%4")
      assert(era == (if (pos >= n / 2) 1L else 0L), s"pos $pos lost its era")
      cum += nb
    }
    // and the rewrite left ~one file per (era, shard=win%4 ∩ era-span) dir
    val leafFiles = graft.sources.Hfs
      .children(LayoutOps.storeDataDir(store))(_.startsWith("era="))
      .flatMap(e => graft.sources.Hfs.children(e.toString)(_.startsWith("shard=")))
      .map(d => graft.sources.Hfs.children(d.toString)(_.endsWith(".parquet")).size)
    assert(leafFiles.nonEmpty && leafFiles.forall(_ <= 2),
      s"repack left fragmented leaf dirs: $leafFiles")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("blue/green publish GCs old generations; a pre-swap reader still resolves until the drop") {
    import graft.sources.{Hfs, Stage}
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("graft-bg-gc")
    val base = root.resolve("pub").toString
    val docs = (1 to 20).map(i => (i.toLong, s"doc_$i")).toDF("key", "name")
    Stage.publishBlueGreen(docs, base, "1", docType = "table", idCol = "key")
    Stage.publishBlueGreen(docs.limit(5), base, "2", docType = "table", idCol = "key")
    val t3 = Stage.publishBlueGreen(docs.limit(7), base, "3", docType = "table", idCol = "key")
    // N publishes leave exactly the CURRENT generation (+ its mapping
    // artifact inside it)
    assert(Hfs.children(base)(_.startsWith("gen=")).map(_.getName) == Seq("gen=3"))
    assert(Stage.currentTarget(base).contains(t3))
    assert(Stage.current(spark, base).count() == 7)
    assert(Hfs.exists(new org.apache.hadoop.fs.Path(t3, "_MAPPING.json").toString))
    // a reader that resolved the OLD target before the swap still reads
    // it AFTER the atomic repoint — the drop is a separate, later step
    val oldTarget = Stage.currentTarget(base).get
    Stage.writeSearchDocs(docs.limit(9), s"$base/gen=4", "table", "key")
    Stage.atomicRepoint(base, s"$base/gen=4")
    assert(spark.read.json(oldTarget).count() == 7,
      "a pre-swap reader must still resolve the old generation mid-swap")
    Stage.dropStaleGenerations(base)
    assert(Hfs.children(base)(_.startsWith("gen=")).map(_.getName) == Seq("gen=4"))
    assert(Stage.current(spark, base).count() == 9)
    graft.sources.TmpStores.deleteRecursively(root)
  }
}
