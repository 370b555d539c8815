package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SimilarityOps

/** Round-13 lifecycle specs: the IVF centroid-refresh (recluster) and
  * delete/tombstone paths must rewrite ONLY the touched cell partitions —
  * untouched cell directories keep their exact files (the StreamPublish
  * byte-identity discipline applied to index maintenance), and the store
  * state after each pass is exactly the declared membership.
  */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(graft.sources.Tables.nanosAsLongConf, "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** Per-file (relative path → (size, md5)) snapshot of a store dir. */
  private def snapshot(root: String): Map[String, (Long, String)] = {
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

  private def cellOf(rel: String): String = rel.takeWhile(_ != '/')

  test("recluster rewrites only the cells the migration touches (byte identity)") {
    val store = SimilarityOps.reclusterBuild(spark, dir)
    val before = snapshot(store)
    val report = SimilarityOps.reclusterApply(spark, dir).collect()
      .map(r => r.getAs[Long]("cell") ->
        ((r.getAs[Long]("n_before"), r.getAs[Long]("n_out"),
          r.getAs[Long]("n_in"), r.getAs[Long]("n_after")))).toMap
    val after = snapshot(store)
    val moved = report.filter { case (_, (_, out, in, _)) => out > 0 || in > 0 }
    assert(moved.nonEmpty, "the drift canary must trip and migrate on this corpus")
    // migration conserves membership and the report balances per cell
    assert(report.values.map(_._1).sum == report.values.map(_._4).sum,
      "recluster must conserve the corpus")
    report.foreach { case (c, (nb, out, in, na)) =>
      assert(na == nb - out + in, s"cell $c report does not balance")
    }
    val touchedCells = moved.keySet.map(c => s"cell=$c")
    // untouched cell partitions keep their exact files
    val beforeUntouched = before.filterNot(kv => touchedCells(cellOf(kv._1)))
    val afterUntouched = after.filterNot(kv => touchedCells(cellOf(kv._1)))
    assert(beforeUntouched == afterUntouched,
      "an untouched cell partition changed bytes under recluster")
    // every touched cell was actually rewritten (or dropped when emptied)
    touchedCells.foreach { c =>
      val b = before.filter(kv => cellOf(kv._1) == c)
      val a = after.filter(kv => cellOf(kv._1) == c)
      assert(b != a, s"touched partition $c kept identical files")
    }
    // the refreshed store serves exactly the reported membership
    spark.catalog.refreshByPath(store)
    val served = spark.read.parquet(store).groupBy("cell").count().collect()
      .map(r => r.getAs[Int]("cell").toLong -> r.getAs[Long]("count")).toMap
    report.foreach { case (c, (_, _, _, na)) =>
      assert(served.getOrElse(c, 0L) == na,
        s"cell $c serves ${served.getOrElse(c, 0L)} rows, report says $na")
    }
  }

  test("ivf delete rewrites only the deleted ids' cells (byte identity)") {
    val spark0 = spark
    import spark0.implicits._
    val store = SimilarityOps.ivfDeleteBuild(spark, dir)
    val before = snapshot(store)
    val all = spark.read.parquet(store)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val doomed = e.filter(col("vec_id") % 9 === 4)
    val doomedIds = doomed.select("vec_id").as[Long].collect().toSet
    assert(doomedIds.nonEmpty)
    SimilarityOps.ivfDeleteApply(spark, doomed,
      SimilarityOps.collectCentroids(e.filter(col("vec_id") < 64)), store)
    val after = snapshot(store)
    val touchedCells = doomedIds.map(id => s"cell=${all(id)}")
    val beforeUntouched = before.filterNot(kv => touchedCells(cellOf(kv._1)))
    val afterUntouched = after.filterNot(kv => touchedCells(cellOf(kv._1)))
    assert(beforeUntouched == afterUntouched,
      "an untouched cell partition changed bytes under delete")
    // the post-delete store holds exactly the survivors
    spark.catalog.refreshByPath(store)
    val servedIds = spark.read.parquet(store)
      .select("vec_id").as[Long].collect().toSet
    assert((servedIds & doomedIds).isEmpty, "a deleted id survived in the store")
    assert(servedIds == all.keySet -- doomedIds,
      "delete dropped or duplicated a survivor")
  }

  test("claim retention: aged claims re-admit, in-horizon reject, guardrail aborts") {
    import graft.streaming.ClaimStore
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-retention")
    val textClaims = graft.streaming.CurationStream.TextClaims
    val st = ClaimStore(root.resolve("a").toString, textClaims, Some("pk"))
    st.appendDelta(Seq((1, "aged", 0L), (2, "fresh", 1L)).toDF("pk", "fp", "epoch"))
    assert(st.retentionSweep(spark, minEpoch = 1L, maxDropFrac = 0.6) == 1L)
    val kept = st.read(spark).select("fp").as[String].collect().toSet
    // the swept class re-admits (its claim is gone); in-horizon rejects
    assert(kept == Set("fresh"),
      s"sweep must drop exactly the aged class, kept $kept")
    // a claim re-entering AFTER the sweep claims again at a new epoch
    st.append(spark, Seq((1, "aged", 2L)).toDF("pk", "fp", "epoch"))
    assert(st.read(spark).count() == 2L)
    // guardrail: a sweep that would drop over the fraction refuses and
    // leaves the store byte-untouched
    val st2 = ClaimStore(root.resolve("b").toString, textClaims, Some("pk"))
    st2.appendDelta(Seq((1, "a", 0L), (2, "b", 0L), (3, "c", 0L), (4, "d", 1L))
      .toDF("pk", "fp", "epoch"))
    st2.compact(spark)
    val before = spark.read.parquet(
      graft.sources.Stage.currentTarget(root.resolve("b").toString).get).count()
    intercept[IllegalStateException] {
      st2.retentionSweep(spark, minEpoch = 1L, maxDropFrac = 0.5)
    }
    assert(st2.read(spark).count() == before,
      "an aborted sweep must leave every claim in place")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("leveled claim store: a crashed (uncommitted) minor run is swept, nothing reachable is lost") {
    import graft.streaming.ClaimStore
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory(
      graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-crashrun")
    val st = ClaimStore(root.resolve("fps").toString,
      Seq.empty[(Int, Long, Long)].toDF("pk", "claim_id", "fhash").schema, Some("pk"))
    def claims(lo: Long, hi: Long) = spark.range(lo, hi)
      .select((col("id") % 97).cast("int").as("pk"),
        col("id").as("claim_id"), (col("id") * 31).as("fhash"))
    // establish a base, then deltas poised to fold into a minor run
    (0 until 8).foreach(b => st.append(spark, claims(b * 100L, (b + 1) * 100L)))
    (8 until 15).foreach(b => st.append(spark, claims(b * 100L, (b + 1) * 100L)))
    // plant a CRASHED minor-fold write: a run dir with data but no
    // _SUCCESS (its input deltas were never deleted, so it holds nothing
    // reachable) — readers must ignore it, the next fold must sweep it
    val dead = root.resolve("fps").resolve("minor").resolve("run=999")
    Files.createDirectories(dead)
    Seq((5, 424242L, 13L)).toDF("pk", "claim_id", "fhash")
      .coalesce(1).write.mode("overwrite").parquet(dead.toString)
    Files.deleteIfExists(dead.resolve("_SUCCESS"))
    assert(st.read(spark).filter(col("claim_id") === 424242L).count() == 0L,
      "an uncommitted run must be invisible to readers")
    // one more delta budget crossing folds and sweeps the dead run
    (15 until 23).foreach(b => st.append(spark, claims(b * 100L, (b + 1) * 100L)))
    assert(!Files.isDirectory(dead), "the crashed run dir must be swept")
    assert(st.read(spark).distinct().count() == 2300L,
      "every committed claim must survive the folds")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("text-gate index retention: aged admissions re-admit, in-horizon reject") {
    import graft.streaming.DedupGateStream
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Paths.get(
      Files.createTempDirectory(
        graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-gateret").toString)
    def p(s: String) = root.resolve(s).toString
    val corpus = Seq((1L,
      "completely unrelated corpus baseline text about regions nations and suppliers today fine"))
      .toDF("doc_id", "text")
    val docA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
    val docB = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen"
    Seq((100L, docA)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(p("in"))
    Seq((200L, docB)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(p("in"))
    val schema = spark.read.parquet(p("in")).schema
    def gate(in: String, ckpt: String, epochBase: Long): Unit =
      DedupGateStream.run(corpus,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in),
        p("out"), ckpt, accrete = true, epochBase = epochBase)
        .awaitTermination()
    gate(p("in"), p("ckpt"), 0L)
    // age out the batch-0 (epoch 0) admission — docA's claims — in BOTH
    // stores; docB's epoch-1 claims stay
    val (bandsDropped, shDropped) =
      DedupGateStream.sweepClaims(spark, p("out"), minEpoch = 1L, maxDropFrac = 0.9)
    assert(bandsDropped > 0L && shDropped == 1L,
      s"the sweep must age exactly docA's claims ($bandsDropped bands, $shDropped sh)")
    // duplicates arrive under a monotone epoch base: the aged doc's copy
    // re-admits, the in-horizon doc's copy rejects
    Seq((300L, docA), (400L, docB)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(p("in2"))
    gate(p("in2"), p("ckpt2"), 2L)
    val v = spark.read.parquet(p("out"))
      .select("doc_id", "decision").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decision")).toMap
    assert(v(300L) == "admit",
      s"a duplicate of an AGED-OUT admission must re-admit: $v")
    assert(v(400L) == "reject",
      s"a duplicate of an in-horizon admission must keep rejecting: $v")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("hot-key cap counts claims, not crash-replay deliveries") {
    val spark0 = spark
    import spark0.implicits._
    // a key at EXACTLY the cap, with every claim row delivered twice (a
    // crash replay re-appends identical rows): the raw count would see
    // 2x the cap and drop the key whole, silently admitting its real
    // duplicates — the deduped count must keep it
    val corpus = ((1 to 4).map(i => (7, i.toLong)) ++ (1 to 4).map(i => (7, i.toLong)) :+
      ((9, 99L))).toDF("pk", "claim_id")
    val capped = graft.operators.MultimodalOps
      .capHotKeys(corpus, Seq("pk"), Some(4L)).collect()
    assert(capped.count(_.getInt(0) == 7) == 8,
      "a key at the cap must survive despite replayed duplicate rows")
    // a genuinely hot key (5 distinct claims > cap 4) still drops whole
    val hot = ((1 to 5).map(i => (7, i.toLong)) :+ ((9, 99L))).toDF("pk", "claim_id")
    val capped2 = graft.operators.MultimodalOps
      .capHotKeys(hot, Seq("pk"), Some(4L)).collect()
    assert(!capped2.exists(_.getInt(0) == 7) && capped2.length == 1,
      "an over-cap key must still drop whole")
  }

  test("funnel store folds generationally — no one-file-per-batch accretion") {
    import graft.streaming.{ClaimStore, CurationStream}
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Paths.get(
      Files.createTempDirectory(
        graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-funnelfold").toString)
    def p(s: String) = root.resolve(s).toString
    // 12 one-doc micro-batches cross the delta budget: the funnel store
    // must fold like every other side store, not accrete a file per batch
    (1 to 12).foreach { i =>
      Seq((i.toLong, "the a of and is one two three four five six seven"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(p("in"))
    }
    val schema = spark.read.parquet(p("in")).schema
    val evalSh = Seq.empty[String].toDF("g")
    CurationStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in")),
      evalSh, p("out"), p("ckpt")).awaitTermination()
    val store = p("out") + "_funnel"
    assert(graft.sources.Stage.currentTarget(store).isDefined,
      "crossing the delta budget must have folded the funnel store")
    val deltas = Option(new java.io.File(store, "delta").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(deltas < ClaimStore.CompactDeltaFiles,
      s"consumed funnel deltas must be dropped, got $deltas files")
    // every batch's 4-stage frame survives the folds
    val rows = CurationStream.funnelStore(p("out")).read(spark)
      .dropDuplicates("batch_id", "stage").collect()
    assert(rows.length == 48,
      s"expected 12 batches x 4 stages, got ${rows.length}")
    // the TEXT claim store now carries the probe-key layout too: a
    // single-key read must partition-prune the folded base — the last
    // gate store to gain the pruned-probe contract
    val fps = CurationStream.claimStores(p("out")).head
    val somePk = fps.read(spark).select("pk").collect()(0).getInt(0)
    val pruned = fps.readPruned(spark, Seq(somePk))
    assert(pruned.collect().forall(_.getInt(0) == somePk))
    val scans = PlanWalk.flattenAll(pruned.queryExecution.executedPlan).collect {
      case fsc: org.apache.spark.sql.execution.FileSourceScanExec => fsc
    }
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == graft.streaming.ClaimStore.PgCol))),
      s"text claim-store probe did not partition-prune:\n${pruned.queryExecution.executedPlan}")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("claim migration re-keys every claim to its new cell; twins still reject after") {
    import graft.streaming.EmbedDedupStream
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Paths.get(
      Files.createTempDirectory(
        graft.sources.TmpStores.pidScopedRoot("graft-testtmp"), "graft-claimmig").toString)
    def p(s: String) = root.resolve(s).toString
    // orthogonal 2-cell universe: v1/v2 ARE the pinned centroids
    val e1 = Seq.fill(4)(0.0).updated(0, 1.0)
    val e2 = Seq.fill(4)(0.0).updated(1, 1.0)
    val universe = Seq(
      (1L, 1L, "orig", e1), (2L, 2L, "orig", e2),
      (101L, 1L, "scale", e1.map(_ * 2)))
      .toDF("vec_id", "orig_id", "kind", "v")
    val pinned = Array(e1.toArray, e2.toArray)
    Seq(Tuple1(1L), Tuple1(2L)).toDF("vec_id").coalesce(1)
      .write.mode("append").parquet(p("in"))
    val schema = spark.read.parquet(p("in")).schema
    def gate(in: String, ckpt: String, cen: Array[Array[Double]]): Unit =
      EmbedDedupStream.run(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in),
        universe, cen, p("out"), ckpt).awaitTermination()
    gate(p("in"), p("ckpt"), pinned)
    def claimPks(): Map[Long, Int] = EmbedDedupStream.claimStores(p("out")).head
      .read(spark).collect().map(r => r.getAs[Long]("claim_id") -> r.getInt(0)).toMap
    assert(claimPks() == Map(1L -> 0, 2L -> 1),
      "pinned assignment: each seed claims its own centroid's cell")
    // refresh SWAPS the centroids — every claim must re-key, or probes
    // assigned by the new artifact would miss them
    val swapped = Array(e2.toArray, e1.toArray)
    EmbedDedupStream.migrateClaims(spark,
      p("out"), universe.select("vec_id", "v"), swapped)
    assert(claimPks() == Map(1L -> 1, 2L -> 0),
      "migration must re-key both claims under the swapped artifact")
    // a rescaled twin streamed under the NEW artifact still rejects —
    // its parent's claim is findable in the migrated cell
    Seq(Tuple1(101L)).toDF("vec_id").coalesce(1)
      .write.mode("append").parquet(p("in2"))
    gate(p("in2"), p("ckpt2"), swapped)
    val v = spark.read.parquet(p("out"))
      .filter(col("vec_id") === 101L).collect()(0)
    assert(!v.getAs[Boolean]("admitted") && v.getAs[Long]("min_match") == 1L,
      s"twin must reject against the migrated claim: $v")
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("quantized embed claims: verdicts equal the full-precision twin, store is int8") {
    import graft.streaming.EmbedDedupStream
    val spark0 = spark
    import spark0.implicits._
    // the gate under its real two-batch fixture, int8 claim store inside
    val got = EmbedDedupStream.embedDedupStreamQuery(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Boolean]("admitted"), r.getAs[Long]("n_matches")))).toMap
    // the FULL-PRECISION twin, replayed driver-side: batch-1 vectors
    // (odd ids + rescaled twins) against the batch-0 (even orig) set at
    // exact double cosine — the verdict the quantized shortlist must
    // reproduce exactly
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .as[(Long, Seq[Double])].collect().toMap.map { case (k, v) => k -> v.toArray }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val batch0 = e.keys.filter(_ % 2 == 0).toSeq.sorted
    got.foreach { case (id, (admitted, n)) =>
      val v = if (id >= 1000000L) e(id - 1000000L).map(_ * 2) else e(id)
      val inBatch1 = id % 2 == 1 || id >= 1000000L
      val expectedMatches =
        if (!inBatch1) 0L
        else batch0.count(b => cos(v, e(b)) >= 0.99).toLong
      assert(admitted == (expectedMatches == 0L) && n == expectedMatches,
        s"vec $id: got (admitted=$admitted, n=$n), full-precision twin says $expectedMatches")
    }
    // the store on disk carries int8 codes + affine params, no doubles
    val store = graft.sources.TmpStores.pidScopedRoot("graft-embeddedup")
      .resolve("out_vfps").toString
    val schema = spark.read.parquet(s"$store/delta").schema
    assert(schema("codes").dataType == org.apache.spark.sql.types.BinaryType,
      s"claim payload must be int8 bytes, got ${schema("codes").dataType}")
    assert(!schema.fields.exists(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType]),
      "no full-precision vector column may remain in the claim store")
  }
}
