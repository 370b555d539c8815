package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import graft.PlanWalk.allExpressions
import graft.queries.Query

/** Smoke: every declared query runs and returns rows at sf0.001, plans no
  * cartesian product, no ScalaUDF and no unlisted nested-loop join, and
  * the registry pairs every query with exactly one oracle. A query that
  * starts a stream is run a second time in the same session and must
  * return the same rows: every fixture starts from nothing, so no store,
  * claim or checkpoint of the first run may leak into the second.
  * Exact-value equivalence is covered by the DuckDB gate
  * (tools/check.py); this keeps `sbt test` self-contained.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(graft.sources.Tables.nanosAsLongConf, "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  /** Streams started in this suite's session (`onQueryStarted` runs
    * before `start()` returns). */
  private lazy val streamStarts: AtomicInteger = {
    val n = new AtomicInteger(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        n.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    n
  }

  /** Rows as a multiset; binary cells compare by content. */
  private def multiset(rows: Array[Row]): Map[Seq[Any], Int] =
    rows.toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).groupBy(identity).view.mapValues(_.size).toMap

  test("every query has exactly one non-empty oracle") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"empty oracle SQL: $blank")
  }

  test("the registry index rejects a name registered twice") {
    val q = Query("q_twice", (s, _) => s.emptyDataFrame, "SELECT 1")
    val other = Query("q_other", q.build, "SELECT 2")
    val e = intercept[IllegalArgumentException](
      Query.index(Seq(q, other, q.copy(oracleSql = "SELECT 3"))))
    assert(e.getMessage.contains("q_twice") && !e.getMessage.contains("q_other"))
    assert(Query.index(Seq(q, other)).keySet == Set("q_twice", "q_other"))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // BroadcastNestedLoopJoin is allowed ONLY for (a) the intentional
  // brute-force ANN baseline (20 query vectors, exactness oracle)
  // and the recall report that embeds it as the ground truth, and
  // (b) scalar corpus-total joins (crossJoin of a broadcast 1-row
  // aggregate — the build side is a single row by construction, so
  // the "nested loop" is one probe per row, the correct plan)
  private val scalarTotalJoin =
    Set("q_tfidf_topk", "q_unigram_logprob", "q_bigram_logprob",
      "q_weighted_sample",
      "q_lm_ppl_buckets", "q_pmi_bigrams", "q_temperature_mix",
      "q_dsir_weight", "q_zorder_stats", "q_corpus_drift",
      "q_heavy_hitters", "q_shard_upsert")
  // q_ann_topk_quantized is the int8 twin of q_ann_topk: the same
  // intentional 20-query brute-force baseline (broadcast query set,
  // exactness oracle), so it carries the same BNLJ by design
  // q_ann_topk_rerank's FIRST pass is the same broadcast-20-query
  // shortlist scan; its full-precision second pass is an equi-join.
  // q_ann_pq_topk ranks the PQ reconstruction with the same
  // intentional 20-query broadcast baseline (the cell-join
  // composition is q_ann_ivf_topk_quantized)
  private val bruteForceAnn =
    Set("q_ann_topk", "q_ann_ivf_recall", "q_ann_topk_quantized",
      "q_ann_topk_rerank", "q_ann_pq_topk")

  /** The scale contract on the inventory's physical plans. */
  private def assertPlanShape(name: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"$name plans a cartesian product")
    // the whole inventory runs on codegen'd built-ins and native
    // expressions — a ScalaUDF in a live plan is a regression.
    // allExpressions descends AQE wrappers: the plain executedPlan
    // traversal inspected nothing for shuffle-bearing queries
    assert(!allExpressions(df).exists(_.isInstanceOf[ScalaUDF]),
      s"$name carries a ScalaUDF in its live plan")
    if (!bruteForceAnn(name) && !scalarTotalJoin(name))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val started = streamStarts.get
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned 0 rows")
      // q_neardup_groups executes its fixpoint loop eagerly at construction
      // and returns a checkpoint scan — there is no plan left to inspect
      if (name != "q_neardup_groups") assertPlanShape(name, df)
      if (streamStarts.get != started) {
        // collect before the second run: it wipes the first run's files
        val first = df.collect()
        val again = fn(spark, dir).collect()
        assert(multiset(again) == multiset(first),
          s"$name returned different rows when run again in the same session")
      }
    }
  }
}
