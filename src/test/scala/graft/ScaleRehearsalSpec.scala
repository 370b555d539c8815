package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Scale rehearsals for the iterative loops and the AQE skew path.
  *
  * The iterative operators (PageRank's rank fixpoint, the quality
  * trainer's gradient loop) carry a loop-state frame whose LINEAGE grows
  * with the iteration count. At a fixed small k that is invisible; the
  * failure mode this spec guards is superlinear blowup — an analysis /
  * optimization cost that grows with plan depth faster than the work
  * itself, which on a long-running cluster job turns a 50-iteration run
  * into a driver-side stall. The rehearsal runs each loop at a small and
  * a large k on sf0.01 and bounds the wall-time ratio well above the
  * linear expectation but far below what any blowup produces.
  */
class ScaleRehearsalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(graft.sources.Tables.nanosAsLongConf, "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.01"

  private def timed[A](body: => A): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  test("pagerank wall-time stays ~linear in the iteration count (k=20 rehearsal)") {
    // warm once so neither measurement pays first-touch codegen/scan cost
    GraphBuild.pageRankLineage(spark, dir, iters = 2).count()
    val tSmall = timed(GraphBuild.pageRankLineage(spark, dir, iters = 5).count())
    val tBig = timed(GraphBuild.pageRankLineage(spark, dir, iters = 20).count())
    // linear in k predicts ~4x (plus fixed setup making the ratio
    // smaller); lineage/optimizer blowup is multiplicative per iteration
    // and blows far past this bound
    assert(tBig < math.max(8.0 * tSmall, tSmall + 20.0),
      f"pagerank k=20 took $tBig%.1fs vs k=5 $tSmall%.1fs — superlinear in k")
  }

  test("quality trainer wall-time stays ~linear in the iteration count (k=50 rehearsal)") {
    TextOps.trainQualityModel(spark, dir, iters = 2).count()
    val tSmall = timed(TextOps.trainQualityModel(spark, dir, iters = 10).count())
    val tBig = timed(TextOps.trainQualityModel(spark, dir, iters = 50).count())
    // linear predicts ~5x; each round is one agg over a persisted
    // feature frame, so the only per-round growth is the trace row
    assert(tBig < math.max(15.0 * tSmall, tSmall + 30.0),
      f"trainer k=50 took $tBig%.1fs vs k=10 $tSmall%.1fs — superlinear in k")
  }

  test("AQE splits a planted skewed join partition (OptimizeSkewedJoin fires)") {
    // a hot key holding ~99% of the left side: post-shuffle, one reducer
    // partition carries ~20 MB while its siblings carry ~200 KB. With
    // thresholds lowered to rehearsal scale, AQE must re-plan the sort
    // merge join with skew-split reads. Relational.saltedJoin stays the
    // STATIC fallback for engines/paths where AQE is unavailable or the
    // skew is known ahead of time — this spec documents that the dynamic
    // path actually engages, so salting is a choice, not a necessity.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000)
        .select(
          when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id")).as("key"),
          lpad(col("id").cast("string"), 100, "x").as("payload"))
      val right = spark.range(2000)
        .select(col("id").as("key"), lit("dim").as("attr"))
      val joined = left.join(right, "key")
      // collect() executes joined's OWN queryExecution (count() would
      // plan a separate aggregate and leave this one un-finalized).
      // hot key 0 matches 198001 rows (198000 non-multiples + id=0);
      // the other multiples of 100 match only below right's 2000 bound
      assert(joined.collect().length == 198001 + 19)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("isSkewJoin=true"),
        s"OptimizeSkewedJoin did not fire on a planted hot key:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("corpus shuffle ranks a 1M-row id set correctly with no data-sized serial stage") {
    // 2000x the sf0.001 corpus: the rank core must stay a range shuffle
    // + partition-local windows; a single-partition data-sized sort or
    // window would blow far past this budget at local[4]
    val ids = spark.range(1000000).select(col("id").as("doc_id"))
    val t = timed {
      val ranked = LayoutOps.shuffleRanks(spark, ids)
      val stats = ranked.agg(
        count(lit(1)), min(col("pos")), max(col("pos")),
        countDistinct(col("pos"))).collect()(0)
      assert(stats.getLong(0) == 1000000L && stats.getLong(1) == 0L &&
        stats.getLong(2) == 999999L && stats.getLong(3) == 1000000L,
        "pos must be a permutation of 0..999999")
    }
    assert(t < 60.0, f"1M-row shuffle rank took $t%.1f s — not the distributed shape")
  }

  test("BPE encoder at a 32k-merge production vocab: parity + bounded wall (words/s recorded)") {
    // production vocabs run 32k-50k merges (SURVEY §6); the queries
    // rehearse the partition-local encoder at 4096 (bpeEncodeScaled), so
    // this pins the 32k shape: per-word cost must depend on WORD length
    // and the pair-rank hash, never on table size, and repeated-word
    // memoization must carry natural-text throughput. Deterministic
    // synthetic head vocab (seeded), prefix chains = firing merges,
    // provably-inert ¤-pairs pad to exactly 32768 ranks — the
    // bpeEncodeScaled table construction at production size.
    val rnd = new scala.util.Random(42)
    val words = (0 until 2400).map { _ =>
      val len = 8 + rnd.nextInt(11)
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val firing = words.flatMap { w =>
      (1 until w.length).map(i => (w.substring(0, i), w.substring(i, i + 1)))
    }.distinct
    val vocabSize = 32768
    assert(firing.size > 20000 && firing.size <= vocabSize,
      s"rehearsal table must be production-shaped (got ${firing.size} firing merges)")
    val table = (firing ++ (0 until (vocabSize - firing.size))
      .map(i => (s"¤a$i", s"¤b$i"))).toArray
    assert(table.length == vocabSize)
    val enc = new graft.operators.BpeWordEncoder(table)
    // parity vs the definitional replay: each table row applied ONCE in
    // rank order as a left-to-right non-overlapping pass
    def naive(w: String): Seq[String] = {
      var syms = w.map(_.toString).toVector
      table.foreach { case (a, b) =>
        if (syms.length > 1) {
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.result()
        }
      }
      syms
    }
    (words.take(6) ++ Seq("zzzzunseenword", "a", words.head + "tail")).foreach { w =>
      assert(enc.encode(w).toSeq === naive(w),
        s"32k-table encode diverged from the rank-order replay on '$w'")
    }
    // throughput: 300k word instances with natural-text reuse (every
    // instance drawn from the head vocab — memoization is the lever)
    val n = 300000
    val corpus = Array.tabulate(n)(i =>
      words(((i * 2654435761L) % words.size).toInt.abs))
    val t0 = System.nanoTime()
    var pieces = 0L
    corpus.foreach(w => pieces += enc.encode(w).length)
    val secs = (System.nanoTime() - t0) / 1e9
    val wps = n / math.max(secs, 1e-9)
    info(f"32k-merge rehearsal: $wps%,.0f words/s ($n words in $secs%.2f s, " +
      f"$pieces pieces, memo ${enc.memoHits} hits / ${enc.memoMisses} misses)")
    assert(enc.memoHits > enc.memoMisses * 10,
      "memoization must dominate on a head-vocab corpus")
    // generous wall bound: a table-size-dependent per-word cost would
    // blow past this by orders of magnitude (32k ranks x 300k words)
    assert(secs < 30.0,
      f"300k words at 32k merges took $secs%.1f s — per-word cost tracks table size")
  }

  test("token prefix sum composes 1M-row global offsets from 256 buckets exactly") {
    // the window packer's start offsets must telescope exactly at volume:
    // start(0) = 0, start(pos) = start(pos-1) + n_bpe(pos-1), and the
    // stream total closes the chain — a bucket-boundary error anywhere
    // in the two-pass 256-bucket prefix sum breaks one of the three
    val docs = spark.range(1000000).select(col("id").as("doc_id"),
      (col("id") % 97 + 1).cast("long").as("n_bpe"))
    val t = timed {
      val ranked = LayoutOps.shuffleRanks(spark, docs.select("doc_id"))
        .join(docs, Seq("doc_id"))
      val st = LayoutOps.withTokenStart(ranked)
        .select(col("pos"), col("n_bpe"), col("start"))
        .persist()
      val first = st.filter(col("pos") === 0).select("start").collect()
      assert(first.length == 1 && first.head.getLong(0) == 0L,
        "pos 0 must start at token offset 0")
      val prev = st.select((col("pos") + 1).as("pos"),
        col("start").as("prev_start"), col("n_bpe").as("prev_n"))
      val broken = st.join(prev, Seq("pos"))
        .filter(col("start") =!= col("prev_start") + col("prev_n")).count()
      assert(broken == 0L, s"$broken telescoping violations in the prefix sum")
      val totals = st.agg(max(col("start") + col("n_bpe")), sum(col("n_bpe")))
        .collect()(0)
      assert(totals.getLong(0) == totals.getLong(1),
        "the chain must close on the stream total")
      st.unpersist()
    }
    assert(t < 60.0, f"1M-row token prefix sum took $t%.1f s — not the distributed shape")
  }

  test("curation stream admit count is invariant to the micro-batch split") {
    import org.apache.spark.sql.SaveMode
    val dir001 = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables(spark, dir001, "documents").select("doc_id", "text")
    val evalSh = graft.sources.Tables(spark, dir001, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(expr("substring(text, 21, 200)").as("text"))
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sh", DedupOps.shingles(5))
      .select(explode(col("sh")).as("g")).distinct().persist()
    evalSh.count()
    val funnelD3 = TextOps.curationPipeline(spark, dir001).collect()
      .find(_.getString(0) == "03_decontam").get.getLong(1)
    // two very different splits: thirds by doc_id mod 3, and one big batch
    val splits = Seq(
      Seq(col("doc_id") % 3 === 0, col("doc_id") % 3 === 1, col("doc_id") % 3 === 2),
      Seq(lit(true)))
    try splits.zipWithIndex.foreach { case (parts, si) =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-curation-split$si")
      def p(s: String) = root.resolve(s).toString
      parts.foreach(cond => docs.filter(cond)
        .coalesce(1).write.mode(SaveMode.Append).parquet(p("in")))
      val src = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(p("in"))
      graft.streaming.CurationStream.run(src, evalSh, p("out"), p("ckpt"))
        .awaitTermination()
      val admitted = spark.read.parquet(p("out"))
        .filter(col("admitted")).count()
      assert(admitted == funnelD3,
        s"split $si: admit count $admitted != batch funnel $funnelD3 — " +
          "the claim-set semantics must be split-invariant")
      graft.sources.TmpStores.deleteRecursively(root)
    } finally evalSh.unpersist()
  }

  test("claim-store pruned probe reads one key's files, not the store (99k-claim rehearsal)") {
    // 9 batch appends spread 99k claims over the full 2048-key space and
    // cross the delta budget, so the store folds into a pg=-partitioned
    // generation (PgDiv keys per group directory, key a sorted data
    // column — r18: one dir PER KEY wrote 2048 tiny files per fold, the
    // guide-§6 small-files shape). A single-key probe must then read
    // exactly that key's GROUP file (plus the post-fold delta) — the
    // property that keeps a per-batch probe O(touched keys + delta
    // budget) however large the store grows. Asserted at the SCAN
    // level: the gen scan's numFiles metric, not just the row values.
    import graft.streaming.ClaimStore
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-claimscale")
    val st = ClaimStore(root.resolve("fps").toString,
      Seq.empty[(Int, Long, Long)].toDF("pk", "claim_id", "fhash").schema, Some("pk"))
    (0 until 9).foreach { b =>
      st.append(spark, spark.range(b * 11000L, (b + 1) * 11000L)
        .select((col("id") % 2048).cast("int").as("pk"),
          col("id").as("claim_id"), (col("id") * 31).as("fhash")))
    }
    val fps = root.resolve("fps").toString
    assert(graft.sources.Stage.currentTarget(fps).isDefined,
      "crossing the delta budget must have folded a generation")
    val genDir = java.nio.file.Paths.get(graft.sources.Stage.currentTarget(fps).get)
    def parquetFiles(p: java.nio.file.Path): Long = {
      val w = java.nio.file.Files.walk(p)
      try w.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
      finally w.close()
    }
    val genFiles = parquetFiles(genDir)
    // all 2048 keys are live, so every key group has exactly one file —
    // the fold's file count is key-space / PgDiv, NOT key-space
    val expectedGroups =
      (2048 + graft.streaming.ClaimStore.PgDiv - 1) / graft.streaming.ClaimStore.PgDiv
    assert(genFiles == expectedGroups,
      s"expected $expectedGroups one-file-per-group generation files, got $genFiles")
    val pruned = st.readPruned(spark, Seq(7))
    val got = pruned.collect()
    val expected = (0L until 99000L).count(_ % 2048 == 7)
    assert(got.length == expected && got.forall(_.getInt(0) == 7),
      s"pruned read returned ${got.length} rows for key 7, expected $expected")
    // the generation scan touched ~1 file out of ~2048 — partition
    // pruning at the file level, not a post-scan filter
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val genScans = flatten(pruned.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("gen=")) => f
    }
    assert(genScans.nonEmpty, "no generation scan under the pruned read")
    val filesRead = genScans.map(_.metrics("numFiles").value).sum
    assert(filesRead <= 4,
      s"pruned probe read $filesRead generation files out of $genFiles — not pruned")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("retention sweep at the 99k-claim scale: guardrail math exact, pruned contract survives the fold") {
    // 9 epoch-stamped batches spread 99k claims over the 2048-key space;
    // the sweep's guardrail must compute on DISTINCT claims (exact), a
    // horizon over the fraction must refuse byte-untouched, and the swept
    // store must come back in the pruned serving layout (partitionFilters
    // on the base scan) with a sane file count.
    import graft.streaming.ClaimStore
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-retscale")
    val st = ClaimStore(root.resolve("fps").toString, Seq.empty[(Int, Long, Long, Long)]
      .toDF("pk", "claim_id", "fhash", "epoch").schema, Some("pk"))
    (0 until 9).foreach { b =>
      st.append(spark, spark.range(b * 11000L, (b + 1) * 11000L)
        .select((col("id") % 2048).cast("int").as("pk"),
          col("id").as("claim_id"), (col("id") * 31).as("fhash"),
          lit(b.toLong).as("epoch")))
    }
    // epochs 0-4 hold 55k of 99k = 0.556: a 0.5 guardrail refuses …
    intercept[IllegalStateException] {
      st.retentionSweep(spark, minEpoch = 5L, maxDropFrac = 0.5)
    }
    assert(st.read(spark).distinct().count() == 99000L,
      "an aborted sweep must leave every claim in place")
    // … and a 0.6 guardrail drops EXACTLY the aged cohort
    val dropped = st.retentionSweep(spark, minEpoch = 5L, maxDropFrac = 0.6)
    assert(dropped == 55000L, s"expected 55000 aged claims dropped, got $dropped")
    assert(st.read(spark).distinct().count() == 44000L)
    // the swept base still partition-prunes: one key's probe reads ~1 of
    // ~2048 generation files
    val pruned = st.readPruned(spark, Seq(7))
    val got = pruned.collect()
    val expected = (55000L until 99000L).count(_ % 2048 == 7)
    assert(got.length == expected && got.forall(_.getInt(0) == 7),
      s"post-sweep pruned read returned ${got.length} rows for key 7, expected $expected")
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val genScans = flatten(pruned.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("gen=")) => f
    }
    assert(genScans.nonEmpty &&
        genScans.exists(_.partitionFilters.exists(
          _.references.exists(_.name == graft.streaming.ClaimStore.PgCol))),
      "the swept base must keep the partition-pruned probe contract (pg dirs)")
    val filesRead = genScans.map(_.metrics("numFiles").value).sum
    assert(filesRead <= 4,
      s"post-sweep pruned probe read $filesRead generation files — not pruned")
    // file-count sanity: one file per live key GROUP directory — the
    // r18 bounded-file-count contract (2048 keys / PgDiv groups)
    val genDir = new org.apache.hadoop.fs.Path(
      graft.sources.Stage.currentTarget(root.resolve("fps").toString).get)
    val fs = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var nFiles = 0L
    val it = fs.listFiles(genDir, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) nFiles += 1
    }
    val maxGroups =
      (2048L + graft.streaming.ClaimStore.PgDiv - 1) / graft.streaming.ClaimStore.PgDiv
    assert(nFiles <= maxGroups + 8L,
      s"swept generation holds $nFiles files — more than one per key group")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("leveled claim-store folds rewrite O(claims·levels), not O(batches·store)") {
    // 64 batches cross the delta budget 8 times. A single-level fold
    // rewrites the WHOLE store at every budget crossing — ~sum of store
    // sizes at each fold, O(batches · store). The leveled policy folds
    // deltas alone into minor runs, tier-merges size classes, and majors
    // only when minors have grown to base size, so total rewritten bytes
    // must land well under the single-level cost and at least one fold
    // must be delta-sized, not store-sized.
    import graft.streaming.ClaimStore
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-leveled")
    val st = ClaimStore(root.resolve("fps").toString,
      Seq.empty[(Int, Long, Long)].toDF("pk", "claim_id", "fhash").schema, Some("pk"))
    def storeBytes(): Long = {
      val w = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
      } finally w.close()
    }
    var totalRewritten = 0L
    var singleLevelCost = 0L // what a whole-store fold at each crossing would pay
    var minFoldRatio = Double.MaxValue
    (0 until 64).foreach { b =>
      st.appendDelta(spark.range(b * 1000L, (b + 1) * 1000L)
        .select((col("id") % 97).cast("int").as("pk"),
          col("id").as("claim_id"), (col("id") * 31).as("fhash")))
      val before = storeBytes()
      val wrote = st.maybeCompact(spark)
      if (wrote > 0L) {
        totalRewritten += wrote
        singleLevelCost += before
        minFoldRatio = math.min(minFoldRatio, wrote.toDouble / before)
      }
    }
    assert(singleLevelCost > 0L, "the rehearsal must have crossed the budget")
    assert(totalRewritten <= (singleLevelCost * 0.8).toLong,
      s"leveled folds rewrote $totalRewritten bytes vs single-level $singleLevelCost — no amortization")
    assert(minFoldRatio <= 0.5,
      s"every fold rewrote >=${minFoldRatio} of the store — minor folds are not delta-sized")
    // live-run count stays tiered-bounded, deltas stay under budget
    val minors = {
      val d = root.resolve("fps").resolve("minor")
      if (!java.nio.file.Files.isDirectory(d)) 0
      else {
        val s = java.nio.file.Files.list(d)
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.count(_.getFileName.toString.startsWith("run=")) }
        finally s.close()
      }
    }
    assert(minors <= ClaimStore.RunsPerClass * 8,
      s"$minors live minor runs — tier merges are not bounding the run count")
    // 9 more batches leave ALL THREE levels live (the 64-batch point can
    // land fully folded): one minor fold at the budget + one delta
    (64 until 73).foreach { b =>
      st.appendDelta(spark.range(b * 1000L, (b + 1) * 1000L)
        .select((col("id") % 97).cast("int").as("pk"),
          col("id").as("claim_id"), (col("id") * 31).as("fhash")))
      st.maybeCompact(spark)
    }
    // the store still reads complete and pruned-correct through the levels
    assert(st.read(spark).distinct().count() == 73000L)
    val pruned = st.readPruned(spark, Seq(13))
    val got = pruned.collect()
    val expected = (0L until 73000L).count(_ % 97 == 13)
    assert(got.length == expected && got.forall(_.getInt(0) == 13),
      s"pruned read through levels returned ${got.length} rows, expected $expected")
    // every level honors the probe key: the base scan partition-prunes,
    // and the SMALL levels (minor runs, deltas) take the key as a pushed
    // predicate — not a post-scan filter over raw rows
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val scans = flatten(pruned.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val (baseScans, smallScans) = scans.partition(
      _.metadata.get("Location").exists(_.contains("gen=")))
    assert(baseScans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == graft.streaming.ClaimStore.PgCol))),
      "base generation scan must partition-prune on the key group (pg)")
    assert(smallScans.nonEmpty && smallScans.forall(
        _.dataFilters.exists(_.references.exists(_.name == "pk"))),
      s"minor-run/delta scans must push the pk predicate:\n${pruned.queryExecution.executedPlan}")
    graft.sources.TmpStores.deleteRecursively(root)
  }
}
