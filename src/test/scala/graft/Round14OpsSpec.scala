package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 lifecycle specs: crash-idempotent filtered folds (a died
  * retention sweep must FINISH, never silently un-happen), the epoch
  * retention discipline on the remaining gates, and the per-claim
  * quantization margin bound.
  */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(graft.sources.Tables.nanosAsLongConf, "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("a crashed retention sweep cannot resurrect swept claims (consumed manifest)") {
    import graft.streaming.ClaimStore
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-sweepcrash")
    val st = ClaimStore(root.resolve("a").toString,
      graft.streaming.CurationStream.TextClaims, Some("pk"))
    st.appendDelta(Seq((1, "aged", 0L), (2, "fresh", 1L)).toDF("pk", "fp", "epoch"))
    // snapshot the consumed delta files before the sweep eats them
    val deltaDir = root.resolve("a").resolve("delta")
    val saved = {
      val s = Files.list(deltaDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => p -> Files.readAllBytes(p)).toList
      } finally s.close()
    }
    assert(saved.nonEmpty)
    assert(st.retentionSweep(spark, minEpoch = 1L, maxDropFrac = 0.6) == 1L)
    // reconstruct the EXACT crash-between-swap-and-cleanup state the
    // fold's commit order can leave behind: the swept generation is
    // CURRENT and carries its consumed-inputs manifest, but the consumed
    // delta files (holding the aged claim) were never deleted
    saved.foreach { case (p, bytes) => Files.write(p, bytes) }
    val gen = graft.sources.Stage.currentTarget(root.resolve("a").toString).get
    graft.sources.Hfs.writeString(
      new org.apache.hadoop.fs.Path(gen, ClaimStore.ConsumedManifest),
      saved.map(_._1.toString).mkString("\n"))
    // the aged claim must NOT resurface: readers exclude consumed inputs
    val kept = st.read(spark).select("fp").as[String].collect().toSet
    assert(kept == Set("fresh"),
      s"a crashed sweep resurrected swept claims: $kept")
    // and the next fold FINISHES the crashed cleanup instead of folding
    // the stale deltas back into the base permanently
    st.compact(spark)
    val after = st.read(spark).select("fp").as[String].collect().toSet
    assert(after == Set("fresh"),
      s"the fold after a crashed sweep resurrected claims: $after")
    assert(saved.forall { case (p, _) => !Files.exists(p) },
      "the crashed sweep's consumed deltas must be deleted by the next fold")
    val gen2 = graft.sources.Stage.currentTarget(root.resolve("a").toString).get
    assert(!graft.sources.Hfs.exists(
        new org.apache.hadoop.fs.Path(gen2, ClaimStore.ConsumedManifest).toString),
      "no consumed manifest may survive a completed fold")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("nprobe=2 catches a boundary-straddling near-pair that nprobe=1 admits") {
    import graft.streaming.EmbedDedupStream
    val spark0 = spark
    import spark0.implicits._
    // two centroids 30° apart in a 2-plane; parent p at 14° (argmax cell
    // 0), twin q at 16° (argmax cell 1) — cos(p,q)=cos 2° ≈ 0.9994 ≥ 0.99,
    // a true near-duplicate whose claim lives in the OTHER cell. With
    // nprobe=1 the probe never reads cell 0 and silently admits; with
    // nprobe=2 the second-best cell is probed and the exact verify
    // rejects — the IVF recall knob applied to the gate.
    def ray(deg: Double): Seq[Double] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r), math.sin(r), 0.0, 0.0)
    }
    val cen = Array(ray(0).toArray, ray(30).toArray)
    val universe = Seq(
      (1L, 1L, "orig", ray(14)),
      (2L, 1L, "near", ray(16)))
      .toDF("vec_id", "orig_id", "kind", "v")
    Seq(1, 2).foreach { np =>
      val root = java.nio.file.Files.createTempDirectory(
        graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), s"graft-nprobe$np")
      def p(s: String) = root.resolve(s).toString
      Seq(Tuple1(1L)).toDF("vec_id").coalesce(1)
        .write.mode("append").parquet(p("in"))
      Seq(Tuple1(2L)).toDF("vec_id").coalesce(1)
        .write.mode("append").parquet(p("in"))
      val src = spark.readStream.schema(spark.read.parquet(p("in")).schema)
        .option("maxFilesPerTrigger", "1").parquet(p("in"))
      EmbedDedupStream.run(src, universe, cen, p("out"), p("ckpt"), nprobe = np)
        .awaitTermination()
      val v = spark.read.parquet(p("out"))
        .filter(col("vec_id") === 2L).collect()(0)
      if (np == 1)
        assert(v.getAs[Boolean]("admitted"),
          s"nprobe=1 probes only the twin's own cell — must miss the straddling claim: $v")
      else
        assert(!v.getAs[Boolean]("admitted") && v.getAs[Long]("min_match") == 1L,
          s"nprobe=2 must probe the second-best cell and reject the near-pair: $v")
      graft.sources.TmpStores.deleteRecursively(root)
    }
  }

  test("per-claim quantization margin covers the worst-case int8 cosine error (spike vectors)") {
    import graft.streaming.EmbedDedupStream
    val spark0 = spark
    import spark0.implicits._
    val d = 64
    val a = 100.0
    // adversarial claim: two ±a spikes (range 2a ≈ 1.41× the norm) and
    // every middle coordinate EXACTLY between two quantization levels, so
    // each rounds with the worst-case scale/2 error — the shape the old
    // fixed 0.02 margin could not provably cover
    val scale = 2 * a / 255.0
    val c = Array.tabulate(d)(i =>
      if (i == 0) a else if (i == 1) -a else -a + 127.5 * scale)
    // quantize exactly as the gate's claim append does
    val codes = c.map(x => (math.floor((x - (-a)) / scale + 0.5).toInt - 128).toByte)
    val dv = codes.map(b => (b.toInt + 128) * scale + (-a))
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    def norm(x: Array[Double]) = math.sqrt(dot(x, x))
    def cos(x: Array[Double], y: Array[Double]) = dot(x, y) / (norm(x) * norm(y))
    val margin = EmbedDedupStream.quantMargin(d, scale, norm(dv))
    assert(margin > 0.02,
      f"the derived bound $margin%.4f must exceed the old 0.02 constant on spike claims")
    assert(margin < 0.1, f"margin $margin%.4f implausibly loose")
    // the BOUND: any probe v with cos(v,c) >= θ keeps cos(v,dv) >= θ −
    // margin — checked along the WORST direction (rotating c toward the
    // negated orthogonal error component) across the admissible cone
    val e = dv.zip(c).map { case (p, q) => p - q }
    val proj = dot(e, c) / dot(c, c)
    val ePerp = e.zip(c).map { case (ei, ci) => ei - proj * ci }
    val u = { val n = norm(ePerp); ePerp.map(-_ / n) }
    val cHat = { val n = norm(c); c.map(_ / n) }
    val theta = 0.99
    val phiMax = math.acos(theta)
    (0 to 50).foreach { k =>
      val phi = phiMax * k / 50.0
      val v = cHat.zip(u).map { case (ci, ui) =>
        math.cos(phi) * ci + math.sin(phi) * ui }
      assert(cos(v, c) >= theta - 1e-12, "probe construction stays in the cone")
      assert(cos(v, dv) >= theta - margin - 1e-12,
        f"bound violated at phi=$phi%.4f: cos(v,dv)=${cos(v, dv)}%.6f < $theta%.2f - $margin%.4f")
    }
    // end to end: the spike claim streams in, its 2×-rescaled twin must
    // still reject through the int8 shortlist + exact verify
    val universe = Seq(
      (1L, 1L, "orig", c.toSeq),
      (2L, 1L, "scale", c.map(_ * 2).toSeq))
      .toDF("vec_id", "orig_id", "kind", "v")
    val root = java.nio.file.Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-spike")
    def p(s: String) = root.resolve(s).toString
    Seq(Tuple1(1L)).toDF("vec_id").coalesce(1).write.mode("append").parquet(p("in"))
    Seq(Tuple1(2L)).toDF("vec_id").coalesce(1).write.mode("append").parquet(p("in"))
    val src = spark.readStream.schema(spark.read.parquet(p("in")).schema)
      .option("maxFilesPerTrigger", "1").parquet(p("in"))
    EmbedDedupStream.run(src, universe, Array(cHat), p("out"), p("ckpt"))
      .awaitTermination()
    val v2 = spark.read.parquet(p("out")).filter(col("vec_id") === 2L).collect()(0)
    assert(!v2.getAs[Boolean]("admitted") && v2.getAs[Long]("min_match") == 1L,
      s"the spike claim's twin must reject through the int8 shortlist: $v2")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("funnel-store retention: swept batches disappear, recent batches intact") {
    import graft.streaming.CurationStream
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-funnelret")
    def p(s: String) = root.resolve(s).toString
    (1 to 10).foreach { i =>
      Seq((i.toLong, "the a of and is one two three four five six seven"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(p("in"))
    }
    val schema = spark.read.parquet(p("in")).schema
    val evalSh = Seq.empty[String].toDF("g")
    CurationStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in")),
      evalSh, p("out"), p("ckpt")).awaitTermination()
    // a guardrail-violating horizon refuses before any rewrite
    intercept[IllegalStateException] {
      CurationStream.sweepFunnel(spark, p("out"), minBatchId = 9L, maxDropFrac = 0.5)
    }
    val dropped = CurationStream.sweepFunnel(spark, p("out"),
      minBatchId = 5L, maxDropFrac = 0.6)
    assert(dropped == 5L * 4L, s"5 batches x 4 stages must age out, got $dropped")
    val batches = CurationStream.funnelStore(p("out")).read(spark)
      .select("batch_id").distinct().as[Long].collect().toSet
    assert(batches == (5L to 9L).toSet,
      s"swept batches must disappear, recent stay: $batches")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("curation gate sweepClaims ages text AND perceptual claims together") {
    import graft.streaming.CurationStream
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-gatesweep")
    def p(s: String) = root.resolve(s).toString
    // two one-doc batches through the FULL multimodal gate: every claim
    // store (text md5, audio loudness, video signature) gets one epoch-0
    // and one epoch-1 claim; the sweep must age the epoch-0 cohort out
    // of all three at once
    Seq(2L, 4L).foreach { id =>
      Seq((id, s"the a of and is unique document number $id with more words here"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(p("in"))
    }
    val schema = spark.read.parquet(p("in")).schema
    val evalSh = Seq.empty[String].toDF("g")
    CurationStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in")),
      evalSh, p("out"), p("ckpt"), mediaGate = true).awaitTermination()
    val (txt, med, vid) = CurationStream.sweepClaims(spark, p("out"),
      minEpoch = 1L, maxDropFrac = 0.99)
    assert(txt == 1L, s"exactly the epoch-0 text class must age out, got $txt")
    assert(med == 8L, s"the epoch-0 asset's 8 pre-exploded band claims must age, got $med")
    assert(vid == 1L, s"exactly the epoch-0 video signature must age, got $vid")
    val fps = CurationStream.claimStores(p("out")).head.read(spark)
      .select("epoch").distinct().as[Long].collect().toSet
    assert(fps == Set(1L), s"only in-horizon text claims may survive: $fps")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("bpe refresh rewrites only stale-vocab era partitions (byte identity)") {
    import graft.operators.LayoutOps
    val spark0 = spark
    import spark0.implicits._
    def snapshot(root: String): Map[String, (Long, String)] = {
      val base = java.nio.file.Paths.get(root)
      val w = Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(p => base.relativize(p).toString ->
            ((Files.size(p),
              org.apache.commons.codec.digest.DigestUtils.md5Hex(
                Files.readAllBytes(p)))))
          .toMap
      } finally w.close()
    }
    def eraOf(rel: String): String = rel.takeWhile(_ != '/')
    val store = LayoutOps.bpeRefreshBuild(spark, dir)
    val preVocab = spark.read.parquet(store)
      .groupBy("era").agg(min(col("vocab")).as("v")).collect()
      .map(r => r.getAs[Long]("era") -> r.getAs[Long]("v")).toMap
    assert(preVocab == Map(0L -> 0L, 1L -> 1L),
      s"era 0 must be born on v0, era 1 on v1: $preVocab")
    val pre0 = spark.read.parquet(store).filter(col("era") === 0L)
      .select("doc_id", "pos", "n_bpe").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val before = snapshot(store)
    val n = LayoutOps.bpeRefreshApply(spark, dir)
    assert(n == pre0.size.toLong,
      s"the refresh must re-encode exactly the stale era's rows: $n vs ${pre0.size}")
    val after = snapshot(store)
    // fresh-vocab partitions keep their exact files; stale ones rewrote
    assert(before.filter(kv => eraOf(kv._1) == "era=1") ==
        after.filter(kv => eraOf(kv._1) == "era=1"),
      "an era already on the current vocab changed bytes under refresh")
    assert(before.filter(kv => eraOf(kv._1) == "era=0") !=
        after.filter(kv => eraOf(kv._1) == "era=0"),
      "the stale era's partitions must actually rewrite")
    // positions immutable, payloads re-encoded, vocab stamped current
    val post0 = spark.read.parquet(store).filter(col("era") === 0L)
      .select("doc_id", "pos", "n_bpe", "vocab").collect()
    assert(post0.forall(_.getAs[Long]("vocab") == 1L))
    assert(post0.forall(r => pre0(r.getLong(0))._1 == r.getLong(1)),
      "refresh must never move a position")
    assert(post0.exists(r => pre0(r.getLong(0))._2 != r.getLong(2)),
      "re-encoding under the retrained vocab must change some payload")
    // a second apply is a no-op: nothing stale remains
    assert(LayoutOps.bpeRefreshApply(spark, dir) == 0L)
    assert(snapshot(store) == after, "a vacuous refresh must not touch bytes")
  }

  test("the vocab fertility canary trips on every gated sf corpus; a no-gain candidate refuses to ship") {
    import graft.operators.{LayoutOps, TextOps}
    val spark0 = spark
    import spark0.implicits._
    // q_bpe_refresh's oracle unconditionally encodes under the retrained
    // table; Spark ships it only through the fertility canary — so the
    // canary must actually trip (retrained strictly beats pinned) on
    // every scale factor the driver gates, the recluster-canary
    // discipline applied to the tokenizer
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory).foreach { sf =>
        val docs = graft.sources.Tables(spark, sf, "documents")
          .select("doc_id", "text")
        val retrained = TextOps.bpeMergesFromTokens(
          docs.select(explode(TextOps.tokens(col("text"))).as("word")), 6)
          .orderBy("merge_rank").select("lhs", "rhs")
          .as[(String, String)].collect().toSeq
        val pinnedF = LayoutOps.fertilityPpm(docs, TextOps.BpeMergeTable)
        val retrainedF = LayoutOps.fertilityPpm(docs, retrained)
        assert(retrainedF < pinnedF,
          s"fertility canary must trip at $sf ($retrainedF ppm !< $pinnedF ppm) — " +
            "the oracle's unconditional retrained encode would diverge")
      }
    // quiet canary: re-offering the COMMITTED table (zero gain) must
    // refuse to ship — the artifact version and bytes stay put
    val dir001 = "/root/testdata/sf0.001"
    LayoutOps.bpeRefreshBuild(spark, dir001)
    val vocabDir = LayoutOps.bpeRefreshRoot().resolve("vocab").toString
    val vBefore = LayoutOps.currentVocabVersion(vocabDir)
    assert(vBefore == 1L, "the retrained candidate must have shipped as gen=1")
    val committed = spark.read.parquet(
      graft.sources.Stage.currentTarget(vocabDir).get)
    val docs001 = graft.sources.Tables(spark, dir001, "documents")
      .select("doc_id", "text")
    assert(!LayoutOps.shipVocabIfBetter(spark, docs001, vocabDir, committed),
      "a candidate with no fertility gain must not ship")
    assert(LayoutOps.currentVocabVersion(vocabDir) == vBefore,
      "a refused ship must leave the committed artifact untouched")
  }

  test("the recluster drift canary trips on every gated sf corpus (oracle coupling)") {
    // q_ann_recluster's DuckDB oracle unconditionally replays the Lloyd
    // update + re-assignment; Spark re-assigns only when some centroid
    // shifted past 0.5. This pins the coupling: the canary must actually
    // trip on every scale factor the driver gates, or the quiet-canary
    // branch would silently diverge from the oracle.
    import graft.operators.SimilarityOps
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .filter(d => new java.io.File(d).isDirectory).foreach { sf =>
        SimilarityOps.reclusterBuild(spark, sf)
        val report = SimilarityOps.reclusterApply(spark, sf)
        val maxShift = report.agg(max(col("shift"))).collect()(0).getDouble(0)
        assert(maxShift > 0.5,
          f"drift canary must trip at $sf (max shift $maxShift%.3f <= 0.5) — " +
            "the oracle's unconditional replay would diverge")
        report.unpersist()
      }
  }
}
