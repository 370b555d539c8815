package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.PlanWalk.{allExpressions, flattenAll}

/** Plan-shape assertions — the scale contract, checked in CI: filters
  * reach the parquet scan, projections prune the read schema, small
  * dimensions broadcast, and top-k plans as TakeOrdered (that no query in
  * the inventory degenerates to a cartesian product is checked per query
  * by QueriesSmokeSpec, on the frame it already builds). These are the
  * properties that decide whether the same code survives a 100x scale-up,
  * so they are asserted against the optimized physical plan, not implied.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(graft.sources.Tables.nanosAsLongConf, "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("prefix-sum offset frames: every window partitioned, offsets broadcast") {
    // the two-pass prefix sum behind the training-order shuffle and the
    // token sharder: the bounded offsets cumsum must carry a NON-EMPTY
    // window partition spec (Spark 4's EliminateWindowPartitions folds a
    // literal key back out — the constant pmod key must survive to the
    // physical plan, or WindowExec degrades to the warned single-partition
    // global-sort shape) and the ≤256-row offsets frame must BROADCAST
    // back, never shuffle the data side
    val docs = graft.sources.Tables(spark, dir, "documents").select("doc_id")
    val ranks = LayoutOps.shuffleRanks(spark, docs)
    ranks.count() // finalize AQE before inspecting
    val nodes = flattenAll(ranks.queryExecution.executedPlan)
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected WindowExec nodes in the prefix-sum plan")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned WindowExec survived:\n${ranks.queryExecution.executedPlan}")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"offsets frame did not broadcast:\n${ranks.queryExecution.executedPlan}")
  }

  test("filter and projection push down into the parquet scan") {
    val plan = physical(Relational.scanFilterProject(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed:\n$plan")
    val readSchema = "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double"
    assert(plan.contains(readSchema), s"scan reads more than the projection:\n$plan")
  }

  test("dimension joins broadcast instead of shuffling the fact side") {
    val plan = physical(Relational.broadcastJoin(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dimension join shuffled:\n$plan")
  }

  test("sort-limit plans as TakeOrderedAndProject, not a global sort") {
    val plan = physical(Relational.sortLimit(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("shared-ngram explode reads cached arrays, not the shingle expression") {
    // InferFiltersFromGenerate derives a size(sh)>0 filter under the
    // explode; if the shingle HOF chain is still a live expression there,
    // the filter re-evaluates it several times per row (measured 8 s of a
    // 12 s query at sf0.1). The cache barrier must leave the generate
    // reading materialized arrays only.
    val plan = physical(DedupOps.sharedNgrams(spark, dir))
    val cacheAt = plan.indexOf("InMemoryRelation")
    assert(cacheAt >= 0, s"shingle cache missing:\n$plan")
    // only the cache-BUILD plan (printed under InMemoryRelation, executed
    // once) may contain the shingle expression; everything live above the
    // cache must read the materialized column
    val live = plan.substring(0, cacheAt)
    assert(!live.contains("array_join(slice"),
      s"shingle expression escaped the cache barrier into the live plan:\n$plan")
  }

  test("pii redaction is a pure narrow map — no exchange in the plan") {
    val plan = physical(TextOps.piiRedact(spark, dir))
    // the trailing orderBy is oracle-determinism harness cost; everything
    // under it must be scan → project (regexps), with no shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"piiRedact shuffles:\n$plan")
  }

  test("csv badge ingest broadcasts the badge side") {
    val plan = physical(CsvIngest.csvTableBadges(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bucketed co-located join carries no shuffle exchange under the join") {
    // run the bucketed write once, then assert the JOIN consumes the
    // bucketing: both scans select buckets and neither side shuffles
    Relational.bucketedJoin(spark, dir).collect()
    // disable auto-broadcast so the plan can't sidestep the claim: the
    // co-location itself must make the join exchange-free (at real fact
    // scale neither side broadcasts)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = physical(Relational.bucketedJoinRead(spark))
      assert(plan.contains("SelectedBucketsCount"), s"scan not bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join shuffled:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("staged IVF serving store partition-prunes a cell point lookup") {
    import org.apache.spark.sql.functions.col
    // build + stage the index once; then a single query's serve-time probe
    // (cell = const) must prune the parquet scan to that cell's partition —
    // the property that makes the staged store a point-lookup index at
    // corpus scale rather than a full scan
    SimilarityOps.annIvfTopKStaged(spark, dir).collect()
    val lookup = spark.read.parquet(s"${SimilarityOps.stagedIvfDir(dir)}/cells")
      .filter(col("cell") === 3)
    // inspect the scan node's partitionFilters collection rather than
    // string-matching the rendered plan (rendering changes across Spark
    // versions; the filter expressions themselves are the contract)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = lookup.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"no parquet scan in:\n${physical(lookup)}")
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "cell"))),
      s"cell lookup did not partition-prune:\n${physical(lookup)}")
  }

  test("pagerank loop shuffles once per iteration — joins reuse the cached layout") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // static plan (no AQE) so the exchange budget is deterministic
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val iters = 3
    try {
      val out = GraphBuild.pageRankLineage(spark, dir, iters)
      // the result is persisted+materialized; the whole loop plan lives
      // under its InMemoryRelation
      def firstCacheScan(p: SparkPlan): InMemoryTableScanExec =
        p.collectFirst { case s: InMemoryTableScanExec => s }.get
      val loopPlan = firstCacheScan(out.queryExecution.executedPlan)
        .relation.cachedPlan
      // walk the LIVE loop plan only — nested caches (edge set, node set)
      // build their own layout once and are not per-iteration cost
      def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
        case q: QueryStageExec => p +: flatten(q.plan)
        case i: InMemoryTableScanExec => Seq(i)
        case _ => p +: p.children.flatMap(flatten)
      }
      val nodes = flatten(loopPlan)
      val hashShuffles = nodes.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      // exactly ONE hash shuffle per iteration: the contribution sum on
      // dst. Both the rank⋈edge join (edge side: cached src layout; rank
      // side: alias-preserved partitioning) and the rank-update join on
      // node (contribs arrive hash(dst)=hash(node); nodes cached on node)
      // must be exchange-free.
      assert(hashShuffles.size == iters,
        s"expected $iters hash exchanges (one contribution sum per " +
          s"iteration), got ${hashShuffles.size}:\n$loopPlan")
      // and every iteration's contribution join reads the edge set from
      // the persisted layout (cache scan, or a reused broadcast/exchange
      // of it — even better), never by recomputing the source scan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
        s"loop recomputes a source scan per iteration:\n$loopPlan")
      val contribJoins = nodes.collect {
        case j: BaseJoinExec if j.output.exists(_.name == "outdeg") => j
      }
      assert(contribJoins.size == iters,
        s"expected $iters contribution joins, got ${contribJoins.size}:\n$loopPlan")
      val edgeReads = nodes.collect {
        case s: InMemoryTableScanExec if s.output.exists(_.name == "outdeg") => s
        case r: ReusedExchangeExec if r.output.exists(_.name == "outdeg") => r
      }
      assert(edgeReads.size == iters,
        s"expected $iters cache-or-reuse edge reads, got ${edgeReads.size}:\n$loopPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("bloom gate probes with the native might_contain expression, not a UDF") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalaUDF}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = DedupOps.exactGateBloom(spark, dir)
    // the verdict frame is persisted+materialized; the probe lives in the
    // plan under its InMemoryRelation (below AQE wrapper nodes)
    def findCache(p: SparkPlan): Option[InMemoryTableScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findCache(a.executedPlan)
      case q: QueryStageExec => findCache(q.plan)
      case s: InMemoryTableScanExec => Some(s)
      case _ => p.children.view.flatMap(findCache).headOption
    }
    val cached = findCache(out.queryExecution.executedPlan)
      .getOrElse(fail("bloom gate result is not cached")).relation.cachedPlan
    // the cached plan is AQE-wrapped too — flattenAll walks stage boundaries
    val exprs = flattenAll(cached)
      .flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[BloomFilterMightContain]),
      s"native bloom probe missing from plan:\n$cached")
    assert(!exprs.exists(_.isInstanceOf[ScalaUDF]),
      s"ScalaUDF in the bloom gate plan:\n$cached")
  }

  test("ScalaUDF tripwire is not vacuous: a planted UDF inside an AQE-wrapped query is found") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.functions.{col, udf}
    val twice = udf((x: Long) => x * 2)
    // groupBy forces a shuffle, so the executed plan is AQE-wrapped: the
    // UDF sits below AdaptiveSparkPlanExec where the old traversal never
    // looked. The detector must still see it.
    val planted = graft.sources.Tables(spark, dir, "nation")
      .groupBy(col("n_regionkey")).count()
      .select(twice(col("count")).as("c2"))
    assert(allExpressions(planted).exists(_.isInstanceOf[ScalaUDF]),
      "detector failed to find a deliberately planted ScalaUDF under AQE")
  }
}
