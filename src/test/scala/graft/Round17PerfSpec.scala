package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MultimodalOps.{AudioCodec, VideoCodec}

/** Round-17 OPTIMIZATION specs — parity pins for internals the
  * optimization round changed without changing what any query
  * computes: the one-decode codec paths the cross-modal gate shares
  * between its property verdicts and perceptual hashes. */
class Round17PerfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.nanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s
  }

  // a spread of asset ids covering every synth period the generators
  // use (frame counts 3..7, dims, gray ramps, sample lengths)
  private val ids: Seq[Long] =
    (0L to 64L) ++ Seq(101L, 997L, 4242L, 123457L)

  test("audio one-decode path: decodeMetaAndSamples == decode + decodeSamples, " +
    "ahashOfSamples == ahashOf") {
    ids.foreach { id =>
      val bytes = AudioCodec.encode(id)
      val metaSeparate = AudioCodec.decode(id, bytes)
      val samplesSeparate = AudioCodec.decodeSamples(id, bytes)
      val (metaFused, samplesFused) = AudioCodec.decodeMetaAndSamples(id, bytes)
      assert(metaFused === metaSeparate, s"meta diverged for asset $id")
      assert(samplesFused.toSeq === samplesSeparate.toSeq,
        s"samples diverged for asset $id")
      assert(AudioCodec.ahashOfSamples(id, samplesFused) ===
        AudioCodec.ahashOf(id, bytes), s"ahash diverged for asset $id")
    }
  }

  test("video one-decode path: vhashOfGrays over decoded frames == vhashOf over bytes") {
    ids.foreach { id =>
      val bytes = VideoCodec.encode(id)
      val frames = VideoCodec.decodeFrames(id, bytes)
      assert(VideoCodec.vhashOfGrays(id, frames.map(_.gray)) ===
        VideoCodec.vhashOf(id, bytes), s"vhash diverged for asset $id")
    }
  }

  test("audio one-decode path rejects the same malformed containers as the split path") {
    val bytes = AudioCodec.encode(7L)
    val notRiff = bytes.clone(); notRiff(0) = 'X'.toByte
    intercept[IllegalArgumentException](AudioCodec.decodeMetaAndSamples(7L, notRiff))
    intercept[IllegalArgumentException](AudioCodec.decode(7L, notRiff))
  }

  test("assignWindows literal-offset overload: identical rows to the broadcast " +
    "crossJoin form, and no nested-loop join in the plan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ranked = graft.operators.LayoutOps
      .shuffleRanks(spark, spark.range(0, 500).select(col("id").as("doc_id")))
      .withColumn("n_bpe", (col("doc_id") % 37 + 1).cast("long"))
      .withColumn("tok_str", concat(lit("t"), col("doc_id")))
    val tOld = 12345L
    val viaFrame = graft.operators.LayoutOps
      .assignWindows(ranked, 256L, 4, Seq(tOld).toDF("t_old"))
    val viaLiteral = graft.operators.LayoutOps
      .assignWindows(ranked, 256L, 4, tOld)
    assert(viaLiteral.orderBy("pos").collect().toSeq ===
      viaFrame.orderBy("pos").collect().toSeq)
    val plan = viaLiteral.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"literal overload should not crossJoin a 1-row offsets frame:\n$plan")
    assert(viaFrame.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "control: the frame form does crossJoin (plan-shape claim anchor)")
  }

  test("TailCounter.snapshot: redelivery guard and offsets hold across the fold") {
    val root = graft.sources.TmpStores.pidScopedRoot("r17-tailcounter")
    graft.sources.TmpStores.deleteRecursively(root.resolve("t"))
    val dir = root.resolve("t").toString
    val tc = graft.streaming.CurationStream.TailCounter
    // empty store: no batch committed, zero offsets
    assert(tc.snapshot(spark, dir, 0L) === Some((0L, 0L)))
    tc.append(spark, dir, 0L, 7L, 70L)
    tc.append(spark, dir, 1L, 5L, 50L)
    // committed batch -> None (redelivery guard)
    assert(tc.snapshot(spark, dir, 0L) === None)
    assert(tc.snapshot(spark, dir, 1L) === None)
    // new batch -> the accreted offsets
    assert(tc.snapshot(spark, dir, 2L) === Some((12L, 120L)))
    // past the delta budget the rows fold through the ClaimStore: the
    // offsets and the redelivery guard read the same across the fold
    val more = 2L until 2L + graft.streaming.ClaimStore.CompactDeltaFiles
    more.foreach(b => tc.append(spark, dir, b, 1L, 10L))
    assert(graft.sources.Stage.currentTarget(dir).isDefined,
      "crossing the delta budget must have committed a generation")
    val n = 12L + more.size
    assert(tc.snapshot(spark, dir, more.last + 1) === Some((n, n * 10L)))
    (0L to more.last).foreach(b => assert(tc.snapshot(spark, dir, b) === None))
    tc.append(spark, dir, more.last + 1, 3L, 30L)
    assert(tc.snapshot(spark, dir, more.last + 2) === Some((n + 3L, n * 10L + 30L)))
  }
}
