package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MultimodalOps
import graft.streaming.{ClaimStore, DedupGateStream, MediaDedupStream}
import java.nio.file.Files

/** Round-12 discipline: ONE generational claim store across every
  * streaming gate (bounded file count, probe-key-pruned reads, restart
  * claim-respect) and the hot-key cap on the perceptual candidate joins.
  */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private def tmp(name: String): String =
    Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), s"graft-$name").toString

  private def assertCompacted(store: String): Unit = {
    assert(graft.sources.Stage.currentTarget(store).isDefined,
      s"$store: crossing the delta budget must have committed a generation")
    val gens = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
    assert(gens.length == 1, s"$store: dead generations must be dropped")
    val deltas = Option(new java.io.File(store, "delta").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(deltas < ClaimStore.CompactDeltaFiles,
      s"$store: consumed deltas must be dropped, got $deltas files")
  }

  test("media gate claim store compacts generationally and stays claim-respecting") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Paths.get(tmp("media-compact"))
    def p(s: String) = root.resolve(s).toString
    // 12 one-asset micro-batches: the delta budget (8) is crossed
    // mid-stream, so the fingerprint store must fold into a generation
    (1 to 12).foreach { i =>
      Seq((i.toLong, i.toLong, "orig")).toDF("doc_id", "orig_id", "kind")
        .coalesce(1).write.mode("append").parquet(p("in"))
    }
    val schema = spark.read.parquet(p("in")).schema
    MediaDedupStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in")),
      p("out"), p("ckpt")).awaitTermination()
    assertCompacted(p("out") + "_fps")
    val verdicts = spark.read.parquet(p("out"))
      .select("doc_id", "admitted").as[(Long, Boolean)].collect().toMap
    assert(verdicts.size == 12)
    assert(verdicts(1L), "the first asset admits vacuously (empty store)")
    // RESTART with an exact duplicate of an ever-admitted asset: the
    // compacted + delta store must still reject it
    val adm = verdicts.filter(_._2).keys.max
    Seq((7777777L, adm, "orig")).toDF("doc_id", "orig_id", "kind")
      .coalesce(1).write.mode("append").parquet(p("in2"))
    MediaDedupStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in2")),
      p("out"), p("ckpt2")).awaitTermination()
    val dup = MediaDedupStream.resolveVerdicts(spark, p("out"))
      .filter(col("doc_id") === 7777777L).collect()(0)
    assert(!dup.getAs[Boolean]("admitted") && dup.getAs[Long]("n_matches") >= 1L,
      "a duplicate of an ever-claimed fingerprint must stay rejected after compaction")
    // probe-key layout: a single-key read PARTITION-PRUNES the compacted
    // base — the filter must land in the scan's partitionFilters, not as
    // a post-scan predicate over the whole store
    val st = MediaDedupStream.claimStores(p("out")).head
    val somePk = st.read(spark).select("pk").as[Int].head()
    val pruned = st.readPruned(spark, Seq(somePk))
    assert(pruned.collect().forall(_.getInt(0) == somePk))
    val scans = PlanWalk.flattenAll(pruned.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no parquet scan under the pruned read")
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == graft.streaming.ClaimStore.PgCol))),
      s"claim-store probe did not partition-prune:\n${pruned.queryExecution.executedPlan}")
  }

  test("accreting text gate stores compact generationally; duplicates stay rejected") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Paths.get(tmp("gate-compact"))
    def p(s: String) = root.resolve(s).toString
    def text(i: Int) =
      s"the quick brown fox number$i jumps over a lazy dog and that is fine today"
    val corpus = Seq((1L, "completely unrelated corpus text about supplier nations and regions"),
      (2L, "another unrelated corpus document mentioning orders and lineitems only"))
      .toDF("doc_id", "text")
    // 12 one-doc batches of mutually-novel docs: every doc admits and
    // claims, so BOTH accreted stores (bands + shingles) cross the delta
    // budget and must fold
    (1 to 12).foreach { i =>
      Seq((100L + i, text(i))).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(p("in"))
    }
    val schema = spark.read.parquet(p("in")).schema
    DedupGateStream.run(corpus,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in")),
      p("out"), p("ckpt"), accrete = true).awaitTermination()
    assertCompacted(p("out") + "_index")
    assertCompacted(p("out") + "_bands")
    val decisions = DedupGateStream.readDecisions(spark, p("out")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decision")).toMap
    assert(decisions.size == 12 && decisions.values.forall(_ == "admit"),
      s"mutually-novel docs must all admit: $decisions")
    // RESTART: a copy of an admitted doc, arriving in a brand-new stream,
    // must reject against the compacted + delta index
    Seq((999L, text(3))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(p("in2"))
    DedupGateStream.run(corpus,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in2")),
      p("out"), p("ckpt2"), accrete = true).awaitTermination()
    val dup = DedupGateStream.readDecisions(spark, p("out"))
      .filter(col("doc_id") === 999L).collect()(0)
    assert(dup.getAs[String]("decision") == "reject" &&
      dup.getAs[Long]("best_match") == 103L,
      s"duplicate must reject against the accreted claim: $dup")
  }

  test("hot-key cap bounds a planted degenerate perceptual cluster") {
    val spark0 = spark
    import spark0.implicits._
    // unit level: one hot key (60 corpus rows) + distinct cold keys; the
    // cap drops the hot key WHOLE and keeps every cold key
    val corpus = ((0 until 60).map(i => (0L, 1000L + i)) ++
      (1 to 5).map(i => (i.toLong, 2000L + i))).toDF("bv", "cand_id")
    val capped = MultimodalOps.capHotKeys(corpus, Seq("bv"), Some(10L))
    val probes = (0L to 5L).map(b => Tuple1(b)).toDF("bv")
    assert(probes.join(capped, Seq("bv")).count() == 5,
      "cap must drop the degenerate key's 60 pairs and keep the 5 cold ones")
    assert(probes.join(corpus, Seq("bv")).count() == 65, "fixture sanity")
    // a cap the corpus never crosses changes nothing (why the oracle
    // queries run uncapped and stay oracle-identical)
    assert(MultimodalOps.capHotKeys(corpus, Seq("bv"), Some(60L)).count() == 65)
    // stream level: batch 0 plants 20 assets with IDENTICAL dHash (ids a
    // full generator period apart collapse to one (w, h, gray) shape —
    // the solid-color pileup of a real corpus); batch 1 probes with one
    // more copy. Uncapped, the probe matches all 20; capped at 10, the
    // degenerate key is dropped whole and the probe admits with zero
    // candidates — bounded join output on the pathological key.
    val ids = (0 until 20).map(k => k.toLong * 2400L)
    def stage(in: String): Unit = {
      ids.toDF("orig_id")
        .select(col("orig_id").as("doc_id"), col("orig_id"), lit("orig").as("kind"))
        .coalesce(1).write.mode("append").parquet(in)
      Seq((8888888L, 20L * 2400L, "orig")).toDF("doc_id", "orig_id", "kind")
        .coalesce(1).write.mode("append").parquet(in)
    }
    val h0 = MultimodalOps.MediaCodec.dhashOf(0L, MultimodalOps.MediaCodec.encode(0L))
    ids.foreach { id =>
      assert(MultimodalOps.MediaCodec.dhashOf(id,
        MultimodalOps.MediaCodec.encode(id)) == h0,
        s"fixture drifted: id $id no longer collapses to the degenerate hash")
    }
    def runGate(cap: Option[Long], tag: String): org.apache.spark.sql.Row = {
      val root = java.nio.file.Paths.get(tmp(tag))
      val in = root.resolve("in").toString
      stage(in)
      val schema = spark.read.parquet(in).schema
      MediaDedupStream.run(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in),
        root.resolve("out").toString, root.resolve("ckpt").toString,
        maxBandFreq = cap).awaitTermination()
      MediaDedupStream.resolveVerdicts(spark, root.resolve("out").toString)
        .filter(col("doc_id") === 8888888L).collect()(0)
    }
    val uncapped = runGate(None, "cap-off")
    assert(!uncapped.getAs[Boolean]("admitted") &&
      uncapped.getAs[Long]("n_matches") == 20L,
      s"uncapped probe must match all 20 degenerate claims: $uncapped")
    val capped10 = runGate(Some(10L), "cap-on")
    assert(capped10.getAs[Boolean]("admitted") &&
      capped10.getAs[Long]("n_matches") == 0L,
      s"capped probe must see zero candidates on the dropped hot key: $capped10")
  }

  test("claim store survives a fold of all-empty claims (empty generation reads as empty)") {
    // a stream of all-duplicate batches appends EMPTY claim frames; at
    // the budget the fold writes a generation with zero part files
    // (partitioned writes emit no files for zero rows) — the store must
    // keep reading as the empty set, and a later real claim must land
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Paths.get(tmp("empty-fold"))
    def empty = Seq.empty[(Int, Long, Long)].toDF("pk", "claim_id", "fhash")
    val st = ClaimStore(root.resolve("fps").toString, empty.schema, Some("pk"))
    (1 to ClaimStore.CompactDeltaFiles).foreach(_ => st.append(spark, empty))
    assert(graft.sources.Stage.currentTarget(root.resolve("fps").toString).isDefined,
      "the budget crossing must have folded a generation")
    assert(st.read(spark).count() == 0L,
      "an all-empty store must read as the empty set, not fail schema inference")
    assert(st.readPruned(spark, Seq(3)).count() == 0L)
    st.append(spark, Seq((3, 42L, 7L)).toDF("pk", "claim_id", "fhash"))
    assert(st.readPruned(spark, Seq(3)).collect()
      .map(_.getLong(1)).toSeq == Seq(42L),
      "a claim appended after the empty fold must be readable")
  }

  test("text gate hot-key cap bounds a boilerplate corpus pile-up") {
    val spark0 = spark
    import spark0.implicits._
    val boiler = "exactly the same boilerplate sentence repeated across every single document here"
    val corpus = ((1 to 30).map(i => (i.toLong, boiler)) :+
      (50L, "one genuinely distinct corpus document about nations and suppliers today"))
      .toDF("doc_id", "text")
    val probe = Seq((999L, boiler)).toDF("doc_id", "text")
    def gate(cap: Option[Long], tag: String): org.apache.spark.sql.Row = {
      val root = java.nio.file.Paths.get(tmp(tag))
      val in = root.resolve("in").toString
      probe.coalesce(1).write.mode("append").parquet(in)
      DedupGateStream.run(corpus,
        spark.readStream.schema(probe.schema)
          .option("maxFilesPerTrigger", "1").parquet(in),
        root.resolve("out").toString, root.resolve("ckpt").toString,
        maxBandFreq = cap).awaitTermination()
      DedupGateStream.readDecisions(spark, root.resolve("out").toString)
        .collect()(0)
    }
    val uncapped = gate(None, "tcap-off")
    assert(uncapped.getAs[String]("decision") == "reject" &&
      uncapped.getAs[Long]("n_matches") == 30L,
      s"uncapped probe must match all 30 boilerplate docs: $uncapped")
    // every boilerplate band key has corpus frequency 30 > 10 — dropped
    // whole, so the probe sees zero candidates: bounded join output on
    // the pathological key (recall deliberately traded, as documented)
    val capped = gate(Some(10L), "tcap-on")
    assert(capped.getAs[String]("decision") == "admit" &&
      capped.getAs[Long]("n_matches") == 0L,
      s"capped probe must see zero candidates on the dropped hot key: $capped")
  }

  test("epoch manifests: epoch 0 IS the store order; later epochs permute it") {
    import graft.operators.LayoutOps
    val em = LayoutOps.epochOrderManifest(spark, dir, epochs = 3, nShards = 4)
      .collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("shard")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[String]("order_digest")))).toMap
    assert(em.size == 12)
    // the store's own manifest, derived independently through the
    // shardManifest fold over the corpusShuffle layout
    val sm = LayoutOps.shardManifest(spark,
      LayoutOps.corpusShuffle(spark, dir, nShards = 4), 4).collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[String]("order_digest")))).toMap
    (0L until 4L).foreach { sh =>
      assert(em((0L, sh)) == sm(sh),
        s"epoch 0 must equal the immutable store order (shard $sh)")
      // a permutation reorders but never drops: same membership count
      assert(em((1L, sh))._1 == sm(sh)._1 && em((2L, sh))._1 == sm(sh)._1)
      assert(em((1L, sh))._2 != em((0L, sh))._2,
        s"epoch 1 must visit shard $sh in a different order")
      assert(em((2L, sh))._2 != em((1L, sh))._2 &&
        em((2L, sh))._2 != em((0L, sh))._2,
        s"epoch 2 must differ from both earlier epochs (shard $sh)")
    }
  }

  test("epoch window manifests: epoch 0 is the sequential storage order") {
    import graft.operators.LayoutOps
    val em = LayoutOps.epochWindowManifest(spark, dir).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("shard")) ->
        ((r.getAs[Long]("n_windows"), r.getAs[String]("order_digest")))).toMap
    assert(em.size == 12)
    (0L until 4L).foreach { sh =>
      val (n, d0) = em((0L, sh))
      assert(n > 0, s"shard $sh has no windows")
      // a dataloader reading shard sh sequentially visits windows
      // sh, sh+4, sh+8, … — epoch 0's digest must be exactly that chain
      val expected = (0L until n).map(i => sh + 4 * i).foldLeft("")((acc, w) =>
        org.apache.commons.codec.digest.DigestUtils.md5Hex(acc + "," + w))
      assert(d0 == expected, s"epoch 0 must be storage order (shard $sh)")
      assert(em((1L, sh))._1 == n && em((2L, sh))._1 == n,
        "an epoch permutes, never drops")
      assert(em((1L, sh))._2 != d0 && em((2L, sh))._2 != d0 &&
        em((2L, sh))._2 != em((1L, sh))._2,
        s"epochs must visit shard $sh in three distinct orders")
    }
  }

  test("streaming cross-modal gate composes text verdicts with batch-derived media truth") {
    import graft.operators.MultimodalOps.{AudioCodec, MediaCodec, VideoCodec}
    import graft.streaming.CurationStream
    val mm = CurationStream.curationMultimodalStreamQuery(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val text = CurationStream.curationStreamQuery(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(mm.keySet == text.keySet && mm.nonEmpty)
    // independent driver-side media truth over the same ids: property
    // gates from the real decodes, media_dup by brute-force pairwise
    // Hamming of odd (batch-1) hashes against even (batch-0) claims,
    // video_dup by exact signature equality over the same arrival split
    val ids = mm.keySet.toSeq.sorted
    val ahash = ids.map(id => id -> AudioCodec.ahashOf(id, AudioCodec.encode(id))).toMap
    val vhash = ids.map(id => id -> VideoCodec.vhashOf(id, VideoCodec.encode(id))).toMap
    val evenHashes = ids.filter(_ % 2 == 0).map(ahash)
    val evenVhashes = ids.filter(_ % 2 == 0).map(vhash).toSet
    ids.foreach { id =>
      val r = mm(id)
      val im = MediaCodec.decode(id, MediaCodec.encode(id))
      val au = AudioCodec.decode(id, AudioCodec.encode(id))
      val vfr = VideoCodec.decodeFrames(id, VideoCodec.encode(id))
      val expGray = (28 + (id * 37) % 200).toInt
      val pxOk = if (im.format == "png") im.pxGray == expGray
        else math.abs(im.pxGray - expGray) <= 8
      val imgOk = pxOk && im.width >= 32 && im.height >= 24
      val audioOk = au.durationUs >= 12000L && au.peak >= 200
      val videoOk = vfr.head.gray == VideoCodec.frameGrayOf(id, 0) &&
        vfr.length >= 4 && vfr.head.width >= 20 && vfr.head.height >= 16
      val mediaDup = id % 2 == 1 &&
        evenHashes.exists(h => java.lang.Long.bitCount(h ^ ahash(id)) <= 7)
      val videoDup = id % 2 == 1 && evenVhashes.contains(vhash(id))
      assert(r.getAs[Boolean]("img_ok") == imgOk, s"img_ok drift at doc $id")
      assert(r.getAs[Boolean]("audio_ok") == audioOk, s"audio_ok drift at doc $id")
      assert(r.getAs[Boolean]("media_dup") == mediaDup, s"media_dup drift at doc $id")
      assert(r.getAs[Boolean]("video_ok") == videoOk, s"video_ok drift at doc $id")
      assert(r.getAs[Boolean]("video_dup") == videoDup, s"video_dup drift at doc $id")
      // the text half of the composed verdict is EXACTLY the text-only
      // stream's verdict on the same arrival order
      val t = text(id)
      Seq("keep_quality", "is_dup", "is_contaminated").foreach(c =>
        assert(r.getAs[Boolean](c) == t.getAs[Boolean](c), s"$c drift at doc $id"))
      assert(r.getAs[Boolean]("admitted") ==
        (t.getAs[Boolean]("admitted") && imgOk && audioOk && !mediaDup &&
          videoOk && !videoDup),
        s"composed admission drift at doc $id")
    }
  }

  test("embedding stream gate: rescaled twins reject in-cell; claims survive a restart") {
    import graft.streaming.EmbedDedupStream
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Paths.get(tmp("embed-gate"))
    def p(s: String) = root.resolve(s).toString
    // an orthogonal 2-cell universe: v1/v2 are the centroids themselves;
    // the twin is 2*v1 — byte-novel, cosine 1 vs v1, same max-cosine cell
    val e1 = Seq.fill(4)(0.0).updated(0, 1.0)
    val e2 = Seq.fill(4)(0.0).updated(1, 1.0)
    val universe = Seq(
      (1L, 1L, "orig", e1), (2L, 2L, "orig", e2),
      (101L, 1L, "scale", e1.map(_ * 2)), (102L, 1L, "scale", e1.map(_ * 4)))
      .toDF("vec_id", "orig_id", "kind", "v")
    val centroids = Array(e1.toArray, e2.toArray)
    Seq(Tuple1(1L)).toDF("vec_id").coalesce(1).write.mode("append").parquet(p("in"))
    Seq(Tuple1(101L), Tuple1(2L)).toDF("vec_id").coalesce(1)
      .write.mode("append").parquet(p("in"))
    val schema = spark.read.parquet(p("in")).schema
    def gate(in: String, ckpt: String): Unit =
      EmbedDedupStream.run(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in),
        universe, centroids, p("out"), ckpt).awaitTermination()
    gate(p("in"), p("ckpt"))
    def verdicts() = spark.read.parquet(p("out")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Boolean]("admitted"), r.getAs[Long]("min_match")))).toMap
    val v1 = verdicts()
    assert(v1(1L)._1, "seed vector admits against an empty store")
    assert(v1(2L)._1, "an orthogonal vector admits (different cell, cosine 0)")
    assert(v1(101L) == ((false, 1L)),
      s"the rescaled twin must reject against its parent's claim: ${v1(101L)}")
    // RESTART: a fresh stream against the same store — another rescale of
    // the ever-claimed vector still rejects
    Seq(Tuple1(102L)).toDF("vec_id").coalesce(1)
      .write.mode("append").parquet(p("in2"))
    gate(p("in2"), p("ckpt2"))
    assert(verdicts()(102L) == ((false, 1L)),
      "a rescale of an ever-claimed vector must reject after restart")
    // the claim store is laid out on the cell probe key (int8 payload)
    val claims = graft.streaming.EmbedDedupStream.claimStores(p("out")).head
      .read(spark).collect()
    assert(claims.map(_.getAs[Long]("claim_id")).sorted.toSeq == Seq(1L, 2L),
      "exactly the two novel vectors claim")
    assert(claims.map(_.getInt(0)).distinct.sorted.toSeq == Seq(0, 1),
      "claims land in their assigned cells")
  }

  test("mixed curated store keeps exactly the mix-admitted curation survivors") {
    import graft.operators.{LayoutOps, TextOps}
    val mixed = LayoutOps.curatedStoreMixed(spark, dir).collect()
    val full = LayoutOps.curatedStore(spark, dir).collect()
    val mixedDocs = mixed.map(_.getAs[Long]("n_docs")).sum
    val fullDocs = full.map(_.getAs[Long]("n_docs")).sum
    assert(mixedDocs > 0, "the mix must not excise everything")
    assert(mixedDocs < fullDocs, "the mix excised nothing — the compose is a no-op")
    // a different survivor set gets a different order, not a re-labeling
    assert(mixed.map(_.getAs[String]("order_digest")).toSet
      .intersect(full.map(_.getAs[String]("order_digest")).toSet).isEmpty)
    // membership: the store holds EXACTLY survivors ∩ mix-admits
    val kept = TextOps.domainMix(spark, dir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val storeIds = spark.read.parquet(
      graft.sources.TmpStores.pidScopedRoot("graft-shardstore")
        .resolve("curated-mix").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storeIds.nonEmpty && storeIds.subsetOf(kept),
      "every stored doc must pass the language-target admission")
    mixed.foreach(_ => ())
  }

  test("batch perceptual dedups accept the cap without changing clean-fixture verdicts") {
    // a cap no corpus key crosses is the oracle-query configuration's
    // contract: capped and uncapped verdicts coincide on the planted
    // (degenerate-free) fixture
    val n = graft.sources.Tables(spark, dir, "documents").count()
    Seq[(String, Option[Long] => DataFrame)](
      "image" -> (MultimodalOps.imageDedup(spark, dir, _)),
      "audio" -> (MultimodalOps.audioDedup(spark, dir, _)),
      "video" -> (MultimodalOps.videoDedup(spark, dir, _))).foreach { case (name, dedup) =>
      val uncapped = dedup(None).collect().map(_.toString).sorted
      val capped = dedup(Some(n)).collect().map(_.toString).sorted
      assert(capped.sameElements(uncapped) && uncapped.nonEmpty, name)
    }
  }

  test("banded Hamming kernel derives its banding from the verify radius") {
    val spark0 = spark
    import spark0.implicits._
    val base = 0x0123456789abcdefL
    def flip(bits: Int*): Long = bits.foldLeft(base)((h, b) => h ^ (1L << b))
    // 7 flips in distinct bands leave band 7 exact; one flip in EVERY band
    // (Hamming 8) and two flips in seven bands plus one (Hamming 15)
    // share no exact band with the claim
    val h7 = flip(0, 8, 16, 24, 32, 40, 48)
    val h8 = flip(0, 8, 16, 24, 32, 40, 48, 56)
    val h15 = flip(0, 1, 8, 9, 16, 17, 24, 25, 32, 33, 40, 41, 48, 49, 56)
    val claims = MultimodalOps.claimBands(Seq((100L, base)).toDF("claim_id", "fhash"))
    val probes = Seq((7L, h7), (8L, h8), (15L, h15)).toDF("doc_id", "h_t")
    def found(radius: Int): Set[Long] =
      MultimodalOps.verifiedPairs(MultimodalOps.probeBands(probes, radius), claims, radius)
        .select("doc_id").as[Long].collect().toSet
    assert(found(7) == Set(7L), "radius 7: Hamming 7 matches, Hamming 8 does not")
    assert(found(15) == Set(7L, 8L, 15L),
      "radius 15: pairs sharing no exact band are found through the one-bit probes")
    // exact bands up to radius 7 (8 keys per hash), one-bit multiprobe above
    assert(MultimodalOps.probeBands(probes, 7).count() == 3 * 8)
    assert(MultimodalOps.probeBands(probes, 15).count() == 3 * 72)
    intercept[IllegalArgumentException](MultimodalOps.probeBands(probes, 16))
  }
}
