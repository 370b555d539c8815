package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupOps, LayoutOps}

/** Round-10 scale fixes: the O(1)-state shard-manifest digest chain and
  * the containment-dedup shingle document-frequency cap.
  */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("foldShardManifests streams 1M rows with O(1) per-shard state and exact chain digests") {
    // lazily generated input — nothing here materializes a shard in memory;
    // rows arrive (shard, pos, doc_id, n_words) sorted by (shard, pos),
    // exactly what the partition-local sort feeds the fold
    val nShards = 4
    val perShard = 250000
    val rows = Iterator.tabulate(nShards * perShard) { i =>
      val shard = (i / perShard).toLong
      val pos = (i % perShard).toLong
      (shard, pos, shard * 1000000L + pos, 2L)
    }
    val out = LayoutOps.foldShardManifests(rows).toSeq
    assert(out.map(_.shard) == (0L until nShards).toSeq)
    out.foreach { m =>
      assert(m.n_docs == perShard && m.n_tokens == 2L * perShard &&
        m.min_pos == 0L && m.max_pos == perShard - 1L)
    }
    // reference chain on a SMALL prefix: acc = md5(acc ++ "," ++ doc_id)
    val small = Seq((7L, 0L, 11L, 1L), (7L, 1L, 22L, 1L), (7L, 2L, 33L, 1L))
    val expected = small.foldLeft("") { case (acc, (_, _, id, _)) =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(acc + "," + id)
    }
    val one = LayoutOps.foldShardManifests(small.iterator).toSeq
    assert(one.size == 1 && one.head.order_digest == expected,
      "digest must be the md5 chain over the pos-ordered doc ids")
  }

  test("foldShardManifests splits state at shard boundaries mid-partition") {
    val rows = Iterator((0L, 0L, 5L, 1L), (0L, 1L, 6L, 3L), (2L, 0L, 9L, 7L))
    val out = LayoutOps.foldShardManifests(rows).toSeq
    assert(out.map(m => (m.shard, m.n_docs, m.n_tokens)) ==
      Seq((0L, 2L, 4L), (2L, 1L, 7L)))
    assert(out(1).order_digest ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex(",9"))
  }

  test("corpusShuffleStore manifest digest equals the chain rule over the assignment") {
    val manifest = LayoutOps.corpusShuffleStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    val byShard = LayoutOps.corpusShuffle(spark, dir).collect()
      .map(r => (r.getLong(2), r.getLong(1), r.getLong(0)))
      .groupBy(_._1)
    byShard.foreach { case (shard, rows) =>
      val chain = rows.sortBy(_._2).map(_._3).foldLeft("")((acc, id) =>
        org.apache.commons.codec.digest.DigestUtils.md5Hex(acc + "," + id))
      assert(manifest(shard) == chain,
        s"shard $shard digest must replay the md5 chain over pos order")
    }
  }

  test("shard-manifest plans carry no whole-shard aggregation buffer") {
    Seq(LayoutOps.corpusShuffleStore(spark, dir),
        LayoutOps.curatedStore(spark, dir)).foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("collect_list") && !plan.contains("sort_array"),
        "manifest digest must be the streaming fold, not a collected list")
      df.unpersist()
    }
  }

  test("mediaCuration and corpusShuffleUpsert plan exactly one (final) sort") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    Seq(graft.operators.MultimodalOps.mediaCuration(spark, dir),
        LayoutOps.corpusShuffleUpsert(spark, dir)).foreach { df =>
      val sorts = df.queryExecution.optimizedPlan.collect { case s: Sort => s }
      assert(sorts.size == 1,
        s"expected one final presentational sort, found ${sorts.size}")
    }
  }

  test("corpusShuffleUpsert folds the tail offset into the plan (no driver count)") {
    // the offset rides as a broadcast 1-row aggregate: the optimized plan
    // must contain the n_old aggregate and a join against it
    val plan = LayoutOps.corpusShuffleUpsert(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("n_old"), "tail offset must be an in-plan aggregate")
  }

  test("curation claim store compacts into one generation and stays claim-respecting") {
    import org.apache.spark.sql.SaveMode
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-claim-compact")
    def p(s: String) = root.resolve(s).toString
    val evalSh = Seq.empty[String].toDF("g").persist()
    def text(i: Int) =
      s"the quick brown fox number$i jumps over a lazy dog and that is fine"
    // 12 one-doc batches: the delta budget (8) is crossed mid-stream, so
    // at least one compaction must fold the store into a generation
    (1 to 12).foreach { i =>
      Seq((i.toLong, text(i))).toDF("doc_id", "text")
        .coalesce(1).write.mode(SaveMode.Append).parquet(p("in"))
    }
    val schema = spark.read.parquet(p("in")).schema
    graft.streaming.CurationStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in")),
      evalSh, p("out"), p("ckpt")).awaitTermination()
    val fpStore = p("out") + "_fps"
    assert(graft.sources.Stage.currentTarget(fpStore).isDefined,
      "crossing the delta budget must have committed a compacted generation")
    val genDirs = new java.io.File(fpStore).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
    assert(genDirs.length == 1, "dead generations must be dropped after the swap")
    val deltas = new java.io.File(fpStore, "delta").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(deltas < graft.streaming.ClaimStore.CompactDeltaFiles,
      s"consumed deltas must be dropped, got $deltas files")
    val verdicts = spark.read.parquet(p("out")).collect()
    assert(verdicts.length == 12 && verdicts.forall(_.getBoolean(4)),
      "every distinct quality doc admits; compaction must not change verdicts")
    // restart with a duplicate of an already-claimed class: the compacted
    // store must still reject it
    Seq((99L, text(1))).toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(p("in2"))
    graft.streaming.CurationStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(p("in2")),
      evalSh, p("out"), p("ckpt2")).awaitTermination()
    val dup = spark.read.parquet(p("out")).filter(col("doc_id") === 99L).collect()(0)
    assert(dup.getBoolean(2) && !dup.getBoolean(4),
      "a duplicate of an ever-claimed class must stay rejected after compaction")
    evalSh.unpersist()
    graft.sources.TmpStores.deleteRecursively(root)
  }

  test("containment DF cap drops corpus-wide boilerplate shingles and bounds the join") {
    val spark0 = spark
    import spark0.implicits._
    // 40 docs, each: 4 unique tokens, 10 BOILERPLATE tokens shared by all
    // docs (6 pure-boilerplate 5-grams, DF = 40), then 46 unique tokens.
    // Fragments (doc_id % 10 == 0) are tokens 5..44 — they contain the
    // boilerplate, so without the cap EVERY fragment×doc pair shares >= 6
    // shingles and the output is quadratic.
    val docs = (1 to 40).map { id =>
      val head = (0 until 4).map(j => s"a${id}x$j")
      val boiler = (0 until 10).map(j => s"b$j")
      val tail = (0 until 46).map(j => s"u${id}w$j")
      (id.toLong, (head ++ boiler ++ tail).mkString(" "))
    }.toDF("doc_id", "text")
    val capped = DedupOps.containmentPairs(docs, maxShingleDf = 5L).collect()
    assert(capped.length == 4, s"capped run must keep only the self pairs, got ${capped.length}")
    capped.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 3000000L,
        "surviving pairs must be fragment-in-own-source")
      assert(r.getBoolean(5),
        "self pairs must stay contained: mixed shingles survive the cap")
    }
    val uncapped = DedupOps.containmentPairs(docs, maxShingleDf = 1000L).collect()
    assert(uncapped.length == 4 * 40,
      s"without the cap the boilerplate key goes quadratic, got ${uncapped.length}")
  }
}
