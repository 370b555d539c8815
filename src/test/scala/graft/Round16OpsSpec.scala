package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LayoutOps, TextOps}
import graft.streaming.{GuardrailAbort, Maintenance}

/** Round-16 specs: the partition-local BPE encoder (the scale path for
  * data-sized merge tables — a 32k-merge production vocab cannot compile
  * as a 32k-deep Catalyst replace chain), its piece-for-piece parity
  * with the expression chain, the typed guardrail abort in the nightly
  * maintenance pass, the maintenance report's compaction detail, the
  * claim-schema non-numeric backfill, the CURRENT-marker roll-forward
  * heal, and the empty-token-store repack no-op. */
class Round16OpsSpec extends AnyFunSuite {
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

  /** GROUND TRUTH for the encode semantics: the expression chain's
    * literal replace sequence, verbatim, in plain Scala — word split to
    * code points in the double-space symbol encoding, each merge applied
    * in table order as ONE `String.replace` pass (all non-overlapping
    * occurrences, left to right). Works for ANY table, any size. */
  private def naiveChain(w: String, table: Seq[(String, String)]): Seq[String] = {
    val chars = {
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        out += w.substring(i, i + n)
        i += n
      }
      out.result()
    }
    var enc = "  " + chars.mkString("  ") + "  "
    table.foreach { case (a, b) => enc = enc.replace(s" $a  $b ", s" $a$b ") }
    enc.trim.split("  ").toSeq
  }

  private def docsWithToks = {
    graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("toks", TextOps.tokens(col("text")))
  }

  test("partition-local BPE encoder equals the expression chain piece-for-piece") {
    val spark0 = spark
    import spark0.implicits._
    // the fixture table AND a trained table (different merge shapes:
    // prefix chains vs corpus-frequent pairs)
    val trained = TextOps
      .bpeMergesFromTokens(
        docsWithToks.select(explode(col("toks")).as("word")), k = 24)
      .orderBy("merge_rank").select("lhs", "rhs")
      .as[(String, String)].collect().toSeq
    for (table <- Seq(TextOps.BpeMergeTable, trained)) {
      val base = docsWithToks
      val viaExpr = TextOps.withBpePieces(base, table)
        .select(col("doc_id"), col("pcs")).as[(Long, Seq[String])]
        .collect().toMap
      val viaMap = TextOps.withBpePieces(base, table, forcePartitionLocal = true)
        .select(col("doc_id"), col("pcs")).as[(Long, Seq[String])]
        .collect().toMap
      assert(viaMap.keySet == viaExpr.keySet)
      viaExpr.foreach { case (id, pcs) =>
        assert(viaMap(id) == pcs, s"doc $id diverged under table size ${table.size}")
      }
    }
  }

  test("a 4096-merge vocab runs the scale path and matches the naive replace chain") {
    val spark0 = spark
    import spark0.implicits._
    // a PRODUCTION-SHAPED table: real prefix-merge chains over the
    // corpus's frequent words (these fire), padded with unique inert
    // pairs to 4096 ranks (these exercise table size, as a real vocab's
    // long tail does on any single document)
    val freq = docsWithToks
      .select(explode(col("toks")).as("w"))
      .groupBy("w").count().orderBy(desc("count"), asc("w"))
      .limit(200).select("w").as[String].collect().toSeq
    val firing = freq.flatMap { w =>
      val cps = w.toSeq.map(_.toString)
      (1 until cps.length).map(i => (cps.take(i).mkString, cps(i)))
    }.distinct
    val table = (firing ++
      (0 until (4096 - firing.size)).map(i => (s"§$i", s"¶$i")))
      .take(4096)
    assert(table.size == 4096 && table.size > TextOps.BpeExprMergeLimit)

    val t0 = System.nanoTime()
    val got = LayoutOps.bpeEncodeDocsWith(
      graft.sources.Tables(spark, dir, "documents").select("doc_id", "text"),
      table)
      .select(col("doc_id"), col("n_bpe"), col("tok_str"))
      .as[(Long, Long, String)].collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"4096-merge encode over sf0.001 documents: $secs%.1f s")
    assert(secs < 120.0, "the scale path must stay interactive at fixture scale")

    val expected = docsWithToks.select(col("doc_id"), col("toks"))
      .as[(Long, Seq[String])].collect().toMap
    val memo = scala.collection.mutable.Map.empty[String, Seq[String]]
    var merged = false
    got.foreach { case (id, nBpe, tokStr) =>
      val pcs = expected(id).flatMap(w =>
        memo.getOrElseUpdate(w, naiveChain(w, table)))
      assert(nBpe == pcs.size.toLong, s"doc $id n_bpe")
      assert(tokStr == pcs.mkString(" "), s"doc $id tok_str")
      if (pcs.size < expected(id).map(_.length).sum) merged = true
    }
    assert(merged, "the 4096-merge table must actually merge on this corpus")
  }

  test("a 4096-merge committed vocab refreshes the store through the scale path") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("graft-bigvocab")
    val store = root.resolve("store").toString
    val vocabDir = root.resolve("vocab").toString
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select("doc_id", "text")
    // era-0 store rows born under vocab 0 (payload is whatever the old
    // tokenizer produced — the refresh replaces it wholesale)
    LayoutOps.bpeEncodeDocsWith(docs, TextOps.BpeMergeTable)
      .select(col("doc_id"), col("doc_id").as("pos"), col("n_bpe"),
        col("tok_str"), lit(0L).as("vocab"),
        (col("doc_id") % 2).as("shard"), lit(0L).as("era"))
      .write.partitionBy("era", "shard").parquet(store)
    // commit a PRODUCTION-SIZED artifact as gen=1: corpus prefix chains
    // + inert tail to 4096 ranks (the bpeEncodeScaled construction)
    val freq = docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(200)
      .select("w").as[String].collect().toSeq
    val firing = freq.flatMap { w =>
      val cps = w.toSeq.map(_.toString)
      (1 until cps.length).map(i => (cps.take(i).mkString, cps(i)))
    }.distinct
    val table = (firing ++
      (0 until (4096 - firing.size)).map(i => (s"¤a$i", s"¤b$i"))).take(4096)
    table.zipWithIndex
      .map { case ((l, r), i) => (i + 1L, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.parquet(s"$vocabDir/gen=1")
    graft.sources.Stage.atomicRepoint(vocabDir, s"$vocabDir/gen=1")

    val nDocs = docs.count()
    assert(LayoutOps.bpeRefreshApplyAt(spark, docs, store, vocabDir,
      nShards = 2) == nDocs)
    // every row re-encoded under the committed big vocab, and the
    // payload equals a naive driver-side replay of the replace chain
    val got = spark.read.parquet(LayoutOps.storeDataDir(store))
      .select(col("doc_id"), col("n_bpe").cast("long"), col("tok_str"),
        col("vocab").cast("long"))
      .as[(Long, Long, String, Long)].collect()
    assert(got.length == nDocs && got.forall(_._4 == 1L))
    val toks = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("toks")).as[(Long, Seq[String])]
      .collect().toMap
    val memo = scala.collection.mutable.Map.empty[String, Seq[String]]
    got.foreach { case (id, nBpe, tokStr, _) =>
      val pcs = toks(id).flatMap(w =>
        memo.getOrElseUpdate(w, naiveChain(w, table)))
      assert(nBpe == pcs.size.toLong && tokStr == pcs.mkString(" "),
        s"doc $id diverged under the committed 4096-merge vocab")
    }
    // a second apply finds nothing stale
    assert(LayoutOps.bpeRefreshApplyAt(spark, docs, store, vocabDir,
      nShards = 2) == 0L)
  }

  test("maintenance isolates a guardrail abort but propagates a plain IllegalStateException") {
    var ran = List.empty[String]
    val ok = Maintenance.Action("s_ok", "sweep", { () => ran ::= "ok"; 3L })
    val tripped = Maintenance.Action("s_tripped", "sweep",
      () => throw new GuardrailAbort("would drop too much"))
    val misconfigured = Maintenance.Action("s_bad", "sweep",
      () => throw new IllegalStateException("claim store has no probe-key layout"))

    val report = Maintenance.run(Seq(tripped, ok))
    assert(report.dropped == 3L)
    assert(report.aborted.map(_.store) == Seq("s_tripped"))
    assert(report.aborted.head.aborted.get.contains("would drop too much"))
    assert(ran == List("ok"), "a tripped guardrail must not stop later stores")

    // a NON-guardrail ISE is a real failure (misconfigured store) and
    // must fail the scheduled job loudly, never read as a policy abort
    val e = intercept[IllegalStateException] {
      Maintenance.run(Seq(misconfigured, ok))
    }
    assert(!e.isInstanceOf[GuardrailAbort])
    assert(e.getMessage.contains("probe-key"))
  }

  test("the maintenance report carries the compaction fold sizes") {
    val spark0 = spark
    import spark0.implicits._
    val store = tmpRoot("graft-maintdetail").resolve("store").toString
    // an accreted incremental store: several tail files per shard dir
    (1 to 3).foreach { b =>
      (0L until 8L).map(i => (i + 8 * b, i, i % 2))
        .toDF("doc_id", "pos", "shard")
        .write.mode("append").partitionBy("shard").parquet(store)
    }
    val report = Maintenance.run(
      graft.streaming.CurationStream.storeMaintenanceActions(
        spark, storeDir = Some(store), nShards = 2))
    assert(report.outcomes.size == 1 && report.outcomes.head.ok)
    val detail = report.outcomes.head.detail.getOrElse(
      fail("compaction must report its fold sizes"))
    val m = "files (\\d+) -> (\\d+)".r.findFirstMatchIn(detail).getOrElse(
      fail(s"unexpected detail format: $detail"))
    assert(m.group(1).toLong > m.group(2).toLong,
      s"the fold must shrink the file count, got: $detail")
    assert(spark.read.parquet(LayoutOps.storeDataDir(store)).count() == 24L)
  }

  test("store rewrites are marker-atomic: migration on first compact, pre-swap reader survives, crashed gens swept") {
    val spark0 = spark
    import spark0.implicits._
    val store = tmpRoot("graft-markerswap").resolve("tok").toString
    (0L until 64L).map(i => (i, i, 3L, s"t$i p$i q$i", 0L, 0L))
      .toDF("doc_id", "pos", "n_bpe", "tok_str", "vocab", "era")
      .withColumn("shard", col("pos") % 2)
      .write.partitionBy("era", "shard").parquet(store)

    // first repack MIGRATES the flat store: marker + gen dir, flat
    // partition children gone, rows intact
    assert(LayoutOps.repackTokenizedStore(spark, store, ctx = 16L, nShards = 2) == 64L)
    val gen0 = LayoutOps.storeDataDir(store)
    assert(gen0 != store && gen0.contains(LayoutOps.StoreGenPrefix))
    assert(graft.sources.Hfs.children(store)(_.startsWith("era=")).isEmpty,
      "the migration must GC the flat partition dirs after the repoint")
    assert(spark.read.parquet(gen0).count() == 64L)

    // a crashed rewrite leaves a half-written generation WITHOUT a
    // repoint: readers keep resolving the committed gen, and the next
    // commit both supersedes and sweeps the garbage
    val garbage = s"$store/${LayoutOps.StoreGenPrefix}99"
    Seq((999L, 999L, 1L, "junk", 0L, 0L, 0L))
      .toDF("doc_id", "pos", "n_bpe", "tok_str", "vocab", "era", "shard")
      .write.parquet(garbage)
    assert(LayoutOps.storeDataDir(store) == gen0,
      "an uncommitted generation must be invisible to readers")
    assert(LayoutOps.repackTokenizedStore(spark, store, ctx = 16L, nShards = 2) == 64L)
    val gen1 = LayoutOps.storeDataDir(store)
    assert(gen1 != gen0)
    assert(new org.apache.hadoop.fs.Path(gen1).getName
      .stripPrefix(LayoutOps.StoreGenPrefix).toLong > 99L,
      "a crashed generation number is never reused")
    assert(!graft.sources.Hfs.exists(garbage) && !graft.sources.Hfs.exists(gen0),
      "the commit must sweep both the superseded gen and the crashed one")

    // mid-swap: a pre-swap reader that resolved the old target still
    // reads it AFTER the repoint — the GC is a separate, later step
    val manualGen = s"$store/${LayoutOps.StoreGenPrefix}200"
    spark.read.parquet(gen1).write.parquet(manualGen)
    graft.sources.Stage.atomicRepoint(store, manualGen)
    assert(spark.read.parquet(gen1).count() == 64L,
      "a pre-swap reader must still resolve the old generation mid-swap")
    LayoutOps.dropStaleStoreData(store)
    assert(!graft.sources.Hfs.exists(gen1))
    assert(spark.read.parquet(LayoutOps.storeDataDir(store)).count() == 64L)
  }

  test("claim-schema backfill: numeric columns get typed zero, non-numeric get null") {
    val spark0 = spark
    import spark0.implicits._
    val storeDir = tmpRoot("graft-conform").resolve("c").toString
    // a level written under the older two-column format …
    graft.streaming.ClaimStore(storeDir, Seq.empty[(Int, String)].toDF("pk", "fp").schema)
      .appendDelta(Seq((1, "fp1")).toDF("pk", "fp"))
    // … read under a schema that has since gained two columns
    val st = graft.streaming.ClaimStore(storeDir, Seq.empty[(Int, String, Long, String)]
      .toDF("pk", "fp", "epoch", "note").schema)
    val row = st.read(spark)
      .select("pk", "epoch", "note").collect().head
    assert(row.getLong(1) == 0L, "numeric backfill stays typed zero")
    assert(row.isNullAt(2), "non-numeric backfill must be null, never a cast \"0\"")
  }

  test("an append whose frame does not match the store's schema is rejected before any write") {
    val spark0 = spark
    import spark0.implicits._
    val storeDir = tmpRoot("graft-claimshape").resolve("c").toString
    val st = graft.streaming.ClaimStore(storeDir,
      graft.streaming.CurationStream.TextClaims, Some("pk"))
    Seq(
      "missing column" -> Seq((1, "fp1")).toDF("pk", "fp"),
      "extra column" -> Seq((1, "fp1", 0L, "x")).toDF("pk", "fp", "epoch", "note"),
      "wrong type" -> Seq((1, "fp1", "0")).toDF("pk", "fp", "epoch")
    ).foreach { case (what, claims) =>
      val e = intercept[IllegalArgumentException](st.appendDelta(claims))
      assert(e.getMessage.contains(storeDir), s"$what: the error must name the store")
    }
    assert(!new java.io.File(storeDir, "delta").exists(),
      "a rejected append must leave no delta file")
    // nullability is not part of the match: a nullable key still lands
    st.appendDelta(Seq((Option(1), "fp1", 0L)).toDF("pk", "fp", "epoch"))
    assert(st.read(spark).count() == 1L)
  }

  test("currentTarget rolls a persistently crashed marker swap forward") {
    val base = tmpRoot("graft-healmarker").resolve("pub").toString
    val tmp = new org.apache.hadoop.fs.Path(base, "CURRENT.tmp")
    graft.sources.Hfs.writeString(tmp, s"$base/gen=7")
    val marker = new org.apache.hadoop.fs.Path(base, "CURRENT")
    assert(!graft.sources.Hfs.exists(marker.toString))
    // first call resolves the committed tmp AND finishes the rename, so
    // the store stops paying the retry loop on every subsequent read
    assert(graft.sources.Stage.currentTarget(base).contains(s"$base/gen=7"))
    assert(graft.sources.Hfs.exists(marker.toString),
      "the persistent swap window must be healed, not re-resolved forever")
    assert(graft.sources.Hfs.readString(marker).trim == s"$base/gen=7")
    assert(graft.sources.Stage.currentTarget(base).contains(s"$base/gen=7"))
  }

  test("repack writes from ONE file scan of the store (vocab/era ride the prefix sum)") {
    val spark0 = spark
    import spark0.implicits._
    val store = tmpRoot("graft-repackscan").resolve("tok").toString
    (0L until 128L).map(i => (i, i, 2L, s"a$i b$i", 1L, 0L))
      .toDF("doc_id", "pos", "n_bpe", "tok_str", "vocab", "era")
      .withColumn("shard", col("pos") % 2)
      .write.partitionBy("era", "shard").parquet(store)
    val writeScanCounts = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Integer]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val nodes = PlanWalk.flattenAll(qe.executedPlan)
        val isWrite = nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.command.DataWritingCommandExec])
        if (isWrite) writeScanCounts.add(nodes.count(
          _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(graft.operators.LayoutOps
        .repackTokenizedStore(spark, store, ctx = 16L, nShards = 2) == 128L)
      // the listener bus is async; wait (bounded) for the write event
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (writeScanCounts.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val counts = writeScanCounts.toArray(Array.empty[Integer]).toSeq
    assert(counts.nonEmpty, "the repack's write job was not observed")
    // TWO scans is the two-pass prefix sum's floor: the wide payload
    // scan (all six columns) and the column-pruned (pos, n_bpe) scan
    // under the 256-bucket offsets aggregate (different ReadSchema, so
    // the exchange cannot be reused). The third scan — re-joining the
    // store on doc_id to recover vocab/era — is what riding those
    // columns through the prefix sum removed.
    assert(counts.forall(_ <= 2),
      s"the repack write must not re-scan the store beyond the two-pass " +
        s"prefix sum (the doc_id re-join is gone), saw $counts")
  }

  test("a crashed FIRST migration cannot poison the flat read root (dot-hidden generations)") {
    val spark0 = spark
    import spark0.implicits._
    val store = tmpRoot("graft-crashmigrate").resolve("tok").toString
    (0L until 32L).map(i => (i, i, 2L, s"p$i q$i", 1L, 0L))
      .toDF("doc_id", "pos", "n_bpe", "tok_str", "vocab", "era")
      .withColumn("shard", col("pos") % 2)
      .write.partitionBy("era", "shard").parquet(store)
    // reconstruct the crash: the first migration's generation fully
    // written INSIDE the flat root, the repoint never ran — the store
    // must keep reading flat (partition discovery skips the dot-hidden
    // dir; a visible gen=0 here would throw conflicting-structures and
    // no later pass could ever read the store to heal it)
    val half = s"$store/${LayoutOps.StoreGenPrefix}0"
    spark.read.parquet(store).write.parquet(half)
    spark.catalog.refreshByPath(store)
    assert(LayoutOps.storeDataDir(store) == store,
      "an uncommitted first migration must be invisible")
    assert(spark.read.parquet(LayoutOps.storeDataDir(store)).count() == 32L)
    // and the next rewrite commits PAST the crashed generation and
    // sweeps it with the flat leftovers
    assert(LayoutOps.repackTokenizedStore(spark, store, ctx = 16L, nShards = 2) == 32L)
    assert(!graft.sources.Hfs.exists(half))
    assert(graft.sources.Hfs.children(store)(_.startsWith("era=")).isEmpty)
    assert(spark.read.parquet(LayoutOps.storeDataDir(store)).count() == 32L)
  }

  test("a failed generation-GC delete leaves the commit intact; the next commit re-sweeps") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpRoot("graft-gcfail")
    val store = s"failfs://$root/tok"
    (0L until 64L).map(i => (i, i, 2L, s"x$i y$i", 1L, 0L))
      .toDF("doc_id", "pos", "n_bpe", "tok_str", "vocab", "era")
      .withColumn("shard", col("pos") % 2)
      .write.partitionBy("era", "shard").parquet(store)
    // the migration commit's GC cannot delete the flat era dirs — the
    // commit must STAND (the repoint is the commit; the GC is advisory
    // cleanup) and readers must resolve the new generation
    FailingDeleteFs.needle = "era="
    FailingDeleteFs.failing.set(true)
    try {
      assert(graft.operators.LayoutOps
        .repackTokenizedStore(spark, store, ctx = 16L, nShards = 2) == 64L)
    } finally FailingDeleteFs.failing.set(false)
    val gen0 = graft.operators.LayoutOps.storeDataDir(store)
    assert(gen0 != store, "the commit must stand despite the failed GC")
    assert(spark.read.parquet(gen0).count() == 64L)
    assert(graft.sources.Hfs.children(store)(_.startsWith("era=")).nonEmpty,
      "this spec needs the stale flat dirs to have survived the failed delete")
    // the NEXT commit's GC sweeps both the superseded generation and
    // the stale flat leftovers
    assert(graft.operators.LayoutOps
      .repackTokenizedStore(spark, store, ctx = 16L, nShards = 2) == 64L)
    assert(graft.sources.Hfs.children(store)(_.startsWith("era=")).isEmpty)
    assert(!graft.sources.Hfs.exists(gen0))
    assert(spark.read.parquet(
      graft.operators.LayoutOps.storeDataDir(store)).count() == 64L)
  }

  test("repacking an empty token store is a no-op, not an NPE") {
    val spark0 = spark
    import spark0.implicits._
    val store = tmpRoot("graft-emptyrepack").resolve("tok").toString
    Seq.empty[(Long, Long, Long, String, Long, Long)]
      .toDF("doc_id", "pos", "n_bpe", "tok_str", "vocab", "era")
      .write.parquet(store)
    assert(LayoutOps.repackTokenizedStore(spark, store, ctx = 16L, nShards = 2) == 0L)
    assert(spark.read.parquet(store).count() == 0L)
  }
}
