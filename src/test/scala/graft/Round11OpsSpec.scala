package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MultimodalOps
import graft.operators.MultimodalOps.MediaCodec
import scala.jdk.CollectionConverters._

/** Round-11 capability depth: perceptual (pixel-level) media dedup and
  * the incremental curated-store / tokenized-shard compositions.
  */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("planted re-encoded and resized twins differ in bytes but are recalled perceptually") {
    // byte level: every planted transform produces bytes a byte-exact
    // (content-hash) dedup would treat as novel
    val id = 6L // reencode twin id: 6%6==0, gray 28+6*37%200=250 -> contrast 245
    assert(MultimodalOps.reencodeTwinIds(id))
    val orig = MediaCodec.encode(id)
    val jpeg = MediaCodec.transcodeJpeg(id, orig)
    assert(!java.util.Arrays.equals(orig, jpeg), "transcode must change bytes")
    val rid = 9L // 9%6==3, gray 28+9*37%200=161 -> contrast 67
    assert(MultimodalOps.resizeTwinIds(rid))
    val rOrig = MediaCodec.encode(rid)
    val small = MediaCodec.resizeBytes(rid, rOrig,
      MediaCodec.widthOf(rid) * 3 / 4, MediaCodec.heightOf(rid) * 3 / 4)
    assert(!java.util.Arrays.equals(rOrig, small), "resize must change bytes")
    // perceptual level: the dedup join recalls every planted twin
    val out = MultimodalOps.imageDedup(spark, dir).collect()
    assert(out.nonEmpty)
    val byKind = out.groupBy(_.getAs[String]("kind")).view.mapValues(_.length).toMap
    assert(byKind.getOrElse("reencode", 0) > 0 && byKind.getOrElse("resize", 0) > 0)
    val missed = out.filterNot(_.getAs[Boolean]("found"))
    assert(missed.isEmpty, s"unrecalled twins: ${missed.take(5).mkString(",")}")
  }

  test("multiprobe banding recalls a twin that shares no exact 8-bit band") {
    // id 21's 3/4 downscale lands at Hamming 12 with >=2 flipped bits in
    // every band — plain 8-band LSH misses it; the one-bit multiprobe must
    // not (pigeonhole: <=15 flips over 8 bands leave some band with <=1)
    val id = 21L
    assert(MultimodalOps.resizeTwinIds(id))
    val orig = MediaCodec.encode(id)
    val o = MediaCodec.dhashOf(id, orig)
    val t = MediaCodec.dhashOf(id, MediaCodec.resizeBytes(id, orig,
      MediaCodec.widthOf(id) * 3 / 4, MediaCodec.heightOf(id) * 3 / 4))
    val ham = java.lang.Long.bitCount(o ^ t)
    assert(ham > 0 && ham <= 15, s"fixture drifted: hamming=$ham")
    val sharesBand = (0 until 8).exists(b =>
      ((o >>> (b * 8)) & 255) == ((t >>> (b * 8)) & 255))
    assert(!sharesBand, "fixture drifted: twin now shares an exact band")
    val row = MultimodalOps.imageDedup(spark, dir)
      .filter(col("twin_id") === 4000021L).collect()
    assert(row.length == 1 && row.head.getAs[Boolean]("found"),
      "multiprobe banding must recall the no-shared-band twin")
  }

  test("audio loudness hash: gain is bit-identical, silence pad flips at most bit 0") {
    import MultimodalOps.AudioCodec
    (0L until 600L).foreach { id =>
      val orig = AudioCodec.encode(id)
      val h = AudioCodec.ahashOf(id, orig)
      // integer gain cancels exactly in the bucket rational
      val hg = AudioCodec.ahashOf(id, AudioCodec.gainBytes(id, orig, 2))
      assert(hg == h, s"id=$id gain changed the hash")
      // prepended zeros land in bucket 0 only -> only bit 0 may flip
      val hp = AudioCodec.ahashOf(id, AudioCodec.padBytes(id, orig, 4))
      assert(((h ^ hp) & ~1L) == 0L, s"id=$id pad flipped a bit above 0")
      // byte level: both transforms are novel to a byte-exact dedup
      assert(!java.util.Arrays.equals(orig, AudioCodec.gainBytes(id, orig, 2)))
      assert(!java.util.Arrays.equals(orig, AudioCodec.padBytes(id, orig, 4)))
    }
  }

  test("video temporal signature is invariant under fps-double, brightness lift, rescale") {
    import MultimodalOps.VideoCodec
    (0L until 600L).foreach { id =>
      val orig = VideoCodec.encode(id)
      val h = VideoCodec.vhashOf(id, orig)
      // duplicated frames collapse away
      val fps = VideoCodec.fpsBytes(id, orig)
      assert(VideoCodec.vhashOf(id, fps) == h, s"id=$id fps-double changed the signature")
      // a constant luminance lift cancels in the deltas
      val bright = VideoCodec.brightBytes(id, orig, 8)
      assert(VideoCodec.vhashOf(id, bright) == h, s"id=$id brightness lift changed the signature")
      // a solid frame rescales losslessly
      val scaled = VideoCodec.scaleBytes(id, orig)
      assert(VideoCodec.vhashOf(id, scaled) == h, s"id=$id rescale changed the signature")
      // byte level: every transform is novel to a byte-exact dedup
      Seq(fps, bright, scaled).foreach(t =>
        assert(!java.util.Arrays.equals(orig, t)))
      // and the signature DOES move when the content does: dropping the
      // last frame shortens the delta chain
      val n = VideoCodec.nFramesOf(id)
      val trimmed = VideoCodec.encodeFrames(
        (0 until n - 1).map(VideoCodec.frameGrayOf(id, _)),
        VideoCodec.widthOf(id), VideoCodec.heightOf(id))
      assert(VideoCodec.vhashOf(id, trimmed) != h, s"id=$id signature blind to a dropped frame")
    }
  }

  test("video dedup recalls every planted fps, brightness and rescale twin") {
    val out = MultimodalOps.videoDedup(spark, dir).collect()
    assert(out.nonEmpty)
    val byKind = out.groupBy(_.getAs[String]("kind")).view.mapValues(_.length).toMap
    Seq("fps", "bright", "scale").foreach(k =>
      assert(byKind.getOrElse(k, 0) > 0, s"no planted $k twins"))
    val missed = out.filterNot(_.getAs[Boolean]("found"))
    assert(missed.isEmpty, s"unrecalled twins: ${missed.take(5).mkString(",")}")
  }

  test("audio dedup recalls every planted gain and time-shift twin") {
    val out = MultimodalOps.audioDedup(spark, dir).collect()
    assert(out.nonEmpty)
    val byKind = out.groupBy(_.getAs[String]("kind")).view.mapValues(_.length).toMap
    assert(byKind.getOrElse("gain", 0) > 0 && byKind.getOrElse("pad", 0) > 0)
    val missed = out.filterNot(_.getAs[Boolean]("found"))
    assert(missed.isEmpty, s"unrecalled twins: ${missed.take(5).mkString(",")}")
  }

  test("cross-modal funnel excises decontam survivors with failing assets") {
    val rows = MultimodalOps.curationMultimodal(spark, dir).collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq == Seq(
      "00_ingest", "01_quality", "02_dedup", "03_decontam",
      "04_media_image", "05_media_audio", "06_media_video"))
    val docs = rows.map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    val toks = rows.map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_tokens")).toMap
    // funnel is monotone in both documents and tokens
    val order = rows.map(_.getAs[String]("stage")).toSeq
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(docs(b) <= docs(a), s"$b docs grew past $a")
      assert(toks(b) <= toks(a), s"$b tokens grew past $a")
    }
    // the media gates actually excise: a third of assets fail the image
    // width rule (doc_id % 48 < 16) alone, so some decontam survivor
    // must fall at the image stage
    assert(docs("04_media_image") < docs("03_decontam"),
      "image gate excised nothing — the compose is a no-op")
    // the video gate excises too: 20% of assets fail the frame-count
    // rule (doc_id % 5 == 0) alone
    assert(docs("06_media_video") < docs("05_media_audio"),
      "video gate excised nothing — the compose is a no-op")
  }

  test("incremental curated store appends shard tails without touching existing files") {
    import org.apache.spark.sql.SaveMode
    val spark0 = spark
    import spark0.implicits._
    val root = graft.sources.TmpStores.pidScopedRoot("graft-testtmp")
      .resolve("inc-store-spec")
    graft.sources.TmpStores.deleteRecursively(root)
    def p(s: String) = root.resolve(s).toString
    val evalSh = Seq.empty[String].toDF("g").persist()
    def text(i: Int) =
      s"the quick brown fox number$i jumps over a lazy dog and that is fine"
    val docs = (1 to 20).map(i => (i.toLong, text(i)))
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def snap(): Map[String, (Long, String)] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(p("store")))
      try w.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f)
          f.toString -> (bytes.length.toLong,
            org.apache.commons.codec.digest.DigestUtils.md5Hex(bytes))
        }.toMap
      finally w.close()
    }
    def runOnce(): Unit = graft.streaming.CurationStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in")),
      evalSh, p("out"), p("ckpt"), storeDir = Some(p("store")), nShards = 4)
      .awaitTermination()
    // batch 0: even ids arrive and seed the store
    docs.filter(_._1 % 2 == 0).toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(p("in"))
    runOnce()
    val s1 = snap()
    assert(s1.nonEmpty, "batch 0 must seed the store")
    val pos1 = spark.read.parquet(p("store"))
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(pos1.keySet == docs.map(_._1).filter(_ % 2 == 0).toSet)
    // batch 1: odd ids arrive; the checkpoint resumes and appends tails
    docs.filter(_._1 % 2 == 1).toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(p("in"))
    runOnce()
    val s2 = snap()
    s1.foreach { case (f, sig) =>
      assert(s2.get(f).contains(sig), s"existing shard file rewritten: $f")
    }
    assert(s2.size > s1.size, "batch 1 must append new tail files")
    val pos2 = spark.read.parquet(p("store"))
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    pos1.foreach { case (id, pos) =>
      assert(pos2(id) == pos, s"doc $id position moved on append")
    }
    // arrivals rank into the tail: every new position follows the old max
    val newPos = pos2.view.filterKeys(_ % 2 == 1).values
    assert(newPos.min == pos1.values.max + 1 &&
      newPos.max == pos1.size + newPos.size - 1,
      "tail positions must continue the existing order densely")
    // REDELIVERY: wipe the checkpoint so both batches replay from
    // scratch with the same batch ids; the TailCounter batch-id guard
    // must skip every append, leaving the store byte-identical
    graft.sources.TmpStores.deleteRecursively(root.resolve("ckpt"))
    runOnce()
    assert(snap() == s2, "a replayed batch re-appended despite the batch-id guard")
    evalSh.unpersist()
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("incremental tokenized store: tail-only appends, windows continue across batches") {
    import org.apache.spark.sql.SaveMode
    val spark0 = spark
    import spark0.implicits._
    val root = graft.sources.TmpStores.pidScopedRoot("graft-testtmp")
      .resolve("inc-tok-spec")
    graft.sources.TmpStores.deleteRecursively(root)
    def p(s: String) = root.resolve(s).toString
    val evalSh = Seq.empty[String].toDF("g").persist()
    def text(i: Int) =
      s"the quick brown fox number$i jumps over a lazy dog and that is fine"
    val docs = (1 to 20).map(i => (i.toLong, text(i)))
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    val ctx = 64L // a few docs per window, so batch 1 CONTINUES a partial window
    def snap(): Map[String, String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(p("tstore")))
      try w.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.toString -> org.apache.commons.codec.digest.DigestUtils
          .md5Hex(java.nio.file.Files.readAllBytes(f)))
        .toMap
      finally w.close()
    }
    def runOnce(): Unit = graft.streaming.CurationStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in")),
      evalSh, p("out"), p("ckpt"),
      tokenStoreDir = Some(p("tstore")), nShards = 4, ctx = ctx)
      .awaitTermination()
    docs.filter(_._1 % 2 == 0).toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(p("in"))
    runOnce()
    val s1 = snap()
    assert(s1.nonEmpty, "batch 0 must seed the token store")
    docs.filter(_._1 % 2 == 1).toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(p("in"))
    runOnce()
    val s2 = snap()
    s1.foreach { case (f, sig) =>
      assert(s2.get(f).contains(sig), s"existing token shard file rewritten: $f")
    }
    assert(s2.size > s1.size, "batch 1 must append new tail files")
    // window continuity: every doc's window must equal the one derived
    // from the CROSS-BATCH running token offset — a stream that restarted
    // its offsets at batch 1 (or re-ranked batch 0) fails here
    val rows = spark.read.parquet(p("tstore"))
      .select(col("pos").cast("long"), col("n_bpe").cast("long"),
        col("win").cast("long"), col("shard").cast("long"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong),
      "positions must be dense across batches")
    var cum = 0L
    rows.foreach { case (pos, nBpe, win, shard) =>
      assert(win == cum / ctx, s"doc at pos $pos window $win != ${cum / ctx}")
      assert(shard == win % 4, s"doc at pos $pos shard $shard breaks win % 4")
      cum += nBpe
    }
    // the fixture straddles: at least one window must span the batch seam
    assert(rows.map(_._3).distinct.length < rows.length,
      "ctx too large — no window packs more than one doc")
    evalSh.unpersist()
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("tokenized shards: windows respect doc order, round-robin shards, deterministic digest") {
    import graft.operators.{LayoutOps, TextOps}
    import graft.sources.Tables
    val manifest = LayoutOps.tokenizedShardStore(spark, dir).collect()
    assert(manifest.map(_.getAs[Long]("shard")).toSeq == Seq(0L, 1L, 2L, 3L))
    // doc/token accounting matches an independent recomputation of the
    // survivor encode (the window machinery can't invent or drop tokens)
    val flags = TextOps.curationFlags(spark, dir)
    val surv = flags.filter(col("r3")).select("doc_id")
    val pieces = TextOps.bpePieceArr
    val enc = Tables(spark, dir, "documents")
      .join(surv, Seq("doc_id"))
      .select(col("doc_id"),
        size(flatten(transform(TextOps.tokens(col("text")), w => pieces(w))))
          .cast("long").as("n_bpe"))
      .agg(count(lit(1)).as("d"), sum(col("n_bpe")).as("t"))
      .collect()(0)
    flags.unpersist()
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == enc.getAs[Long]("d"))
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum == enc.getAs[Long]("t"))
    // window ranges per shard stay inside the global window span and the
    // round-robin residue: every window in shard s has win % 4 == s
    val allWins = manifest.map(r =>
      (r.getAs[Long]("shard"), r.getAs[Long]("min_window"), r.getAs[Long]("max_window")))
    allWins.foreach { case (s, lo, hi) =>
      assert(lo >= 0 && lo <= hi)
      assert(lo % 4 == s && hi % 4 == s,
        s"shard $s window range [$lo,$hi] breaks the round-robin residue")
    }
    // determinism: a second full build (fresh store write) reproduces
    // every manifest field including the token digest bit for bit
    val again = LayoutOps.tokenizedShardStore(spark, dir).collect()
    assert(manifest.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "rebuild changed the manifest — the layout is not deterministic")
  }

  test("self-dup spans excise the planted tail boilerplate, first occurrence kept") {
    import graft.operators.{DedupOps, TextOps}
    import graft.sources.Tables
    val w = 8
    val spans = DedupOps.selfDupSpans(spark, dir, w).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val lens = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    val planted = lens.keys.filter(id => id % 7 == 0 && lens(id) >= w)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val ss = spans.getOrElse(id, Array.empty)
      assert(ss.nonEmpty, s"doc $id: planted tail boilerplate not excised")
      // the appended copy ends at the (n + w)-token mark and its spans
      // never reach back into the doc's own first occurrence at 0
      val last = ss.maxBy(_.getAs[Long]("end_tok"))
      assert(last.getAs[Long]("end_tok") == lens(id) + w,
        s"doc $id: tail span must end at the appended copy's last token")
      assert(ss.forall(_.getAs[Long]("start_tok") > 0),
        s"doc $id: the first occurrence must never be excised")
    }
  }

  test("curriculum store reorders the same survivors the uniform store shuffles") {
    import graft.operators.LayoutOps
    val cur = LayoutOps.curriculumStore(spark, dir).collect()
    val uni = LayoutOps.curatedStore(spark, dir).collect()
    // identical survivor set: totals match the uniform store exactly
    assert(cur.map(_.getAs[Long]("n_docs")).sum == uni.map(_.getAs[Long]("n_docs")).sum)
    assert(cur.map(_.getAs[Long]("n_tokens")).sum == uni.map(_.getAs[Long]("n_tokens")).sum)
    // but a genuinely different order: no shard digest coincides
    assert(cur.map(_.getAs[String]("order_digest")).toSet
      .intersect(uni.map(_.getAs[String]("order_digest")).toSet).isEmpty,
      "curriculum layout must differ from the uniform shuffle")
    // positions are dense across the round-robin shards
    assert(cur.map(_.getAs[Long]("min_pos")).min == 0L)
    assert(cur.map(_.getAs[Long]("max_pos")).max ==
      cur.map(_.getAs[Long]("n_docs")).sum - 1)
  }

  test("multimodal curated store excises media-failing docs from the text-only store") {
    import graft.operators.LayoutOps
    val mm = MultimodalOps.curatedStoreMultimodal(spark, dir).collect()
    val text = LayoutOps.curatedStore(spark, dir).collect()
    assert(mm.map(_.getAs[Long]("shard")).toSeq == Seq(0L, 1L, 2L, 3L))
    val mmDocs = mm.map(_.getAs[Long]("n_docs")).sum
    val textDocs = text.map(_.getAs[Long]("n_docs")).sum
    assert(mmDocs > 0, "media gates must not excise everything")
    assert(mmDocs < textDocs,
      "media gates excised nothing — the compose is a no-op")
    // the layout is a genuinely different order, not a filtered view of
    // the text store's digests
    assert(mm.map(_.getAs[String]("order_digest")).toSet
      .intersect(text.map(_.getAs[String]("order_digest")).toSet).isEmpty)
  }

  test("streaming perceptual gate: claims accrete across batches and survive a restart") {
    import org.apache.spark.sql.SaveMode
    val spark0 = spark
    import spark0.implicits._
    val root = graft.sources.TmpStores.pidScopedRoot("graft-testtmp")
      .resolve("media-gate-spec")
    graft.sources.TmpStores.deleteRecursively(root)
    def p(s: String) = root.resolve(s).toString
    // id 0 is a high-contrast checkerboard (ga=28); 3000000+0 is its
    // JPEG-transcode twin, dHash-bit-identical by the codec spec
    def runOnce(): Unit = graft.streaming.MediaDedupStream.run(
      spark.readStream
        .schema(Seq((0L, 0L, "x")).toDF("doc_id", "orig_id", "kind").schema)
        .option("maxFilesPerTrigger", "1").parquet(p("in")),
      p("out"), p("ckpt")).awaitTermination()
    Seq((0L, 0L, "orig"))
      .toDF("doc_id", "orig_id", "kind")
      .coalesce(1).write.mode(SaveMode.Append).parquet(p("in"))
    runOnce()
    val afterSeed = spark.read.parquet(p("out")).collect()
    assert(afterSeed.length == 1 && afterSeed.head.getAs[Boolean]("admitted"),
      "the seed asset must admit against an empty store")
    // RESTART: a fresh run() against the same checkpoint must fold the
    // claim store back in and reject the twin of the pre-restart asset
    Seq((3000000L, 0L, "reencode"))
      .toDF("doc_id", "orig_id", "kind")
      .coalesce(1).write.mode(SaveMode.Append).parquet(p("in"))
    runOnce()
    val rows = spark.read.parquet(p("out")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("admitted"), r.getAs[Long]("min_match")))).toMap
    assert(rows(0L)._1, "seed verdict must persist")
    assert(!rows(3000000L)._1, "post-restart twin must be rejected")
    assert(rows(3000000L)._2 == 0L, "the twin must match its pre-restart original")
    // the claim store holds exactly the one admitted fingerprint (8
    // pre-exploded (band, value) probe rows, all for claim 0)
    val claims = graft.streaming.MediaDedupStream.claimStores(p("out")).head
      .read(spark).collect()
    assert(claims.length == 8 &&
      claims.map(_.getAs[Long]("claim_id")).distinct.toSeq == Seq(0L),
      "rejected assets must not claim")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("window slices: every window is exactly ctx tokens except the tail, densely covering the stream") {
    import graft.operators.LayoutOps
    val ctx = 256L
    val rows = LayoutOps.windowSlices(spark, dir, ctx).collect()
    assert(rows.length > 1, "fixture too small for more than one window")
    rows.zipWithIndex.foreach { case (r, i) =>
      val win = r.getAs[Long]("win")
      assert(win == i.toLong, s"window ids must be dense, got $win at $i")
      assert(r.getAs[Long]("first_idx") == win * ctx,
        s"window $win does not start on its boundary")
      if (i < rows.length - 1) {
        assert(r.getAs[Long]("n_tokens") == ctx, s"window $win is not exactly $ctx tokens")
        assert(r.getAs[Long]("last_idx") == (win + 1) * ctx - 1,
          s"window $win does not end on its boundary")
      } else {
        assert(r.getAs[Long]("n_tokens") <= ctx && r.getAs[Long]("n_tokens") > 0)
      }
      // a mid-document split means some window spans >1 doc OR a doc
      // spans >1 window; either way n_docs >= 1 always holds
      assert(r.getAs[Long]("n_docs") >= 1)
    }
    // the slice totals must equal the packed-store totals: same survivors,
    // same encode, two independent layouts of one token stream
    val manifest = LayoutOps.tokenizedShardStore(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum ==
      manifest.map(_.getAs[Long]("n_tokens")).sum,
      "window slices and token shards disagree on the stream length")
    // at least one window must span a document boundary (the split case)
    assert(rows.exists(_.getAs[Long]("n_docs") > 1),
      "no window spans a document boundary — the slice semantics are untested")
  }

  test("dHash twin bounds hold over the FULL asset period (2400 ids)") {
    // the full generator period — lcm(48, 32, 200) = 2400 — covers every
    // (width, height, gray) shape the corpus can produce, so a larger-SF
    // run or an ImageIO behavior change cannot reach an untested asset
    // and flip the q_image_dedup(_stream) oracles red without this spec
    // catching the drift first (mirrors the 600-id audio/video loops).
    // Transcode: the DCT-block-aligned checkerboard survives the lossy
    // path with box averages intact — bit-identical hashes, which is
    // what anchors the reencode twins' structural recall. Resize: every
    // 3/4-downscale twin stays within the 15-bit verify radius, which
    // the multiprobe banding covers by pigeonhole.
    (0L until 2400L).foreach { id =>
      if (MultimodalOps.reencodeTwinIds(id)) {
        val orig = MediaCodec.encode(id)
        assert(MediaCodec.dhashOf(id, orig) ==
          MediaCodec.dhashOf(id, MediaCodec.transcodeJpeg(id, orig)),
          s"id=$id JPEG transcode moved the dHash")
      }
      if (MultimodalOps.resizeTwinIds(id)) {
        val orig = MediaCodec.encode(id)
        val h = MediaCodec.dhashOf(id, orig)
        val t = MediaCodec.dhashOf(id, MediaCodec.resizeBytes(id, orig,
          MediaCodec.widthOf(id) * 3 / 4, MediaCodec.heightOf(id) * 3 / 4))
        assert(java.lang.Long.bitCount(h ^ t) <= 15,
          s"id=$id resize twin left the 15-bit verify radius")
      }
    }
  }
}
