package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe shared by the harness mains
  * (Verify/Bench/Probe/Plans), so a conf change cannot silently leave the
  * tools measuring different configurations. */
object LocalSession {
  /** The local master's core count: `SPARK_GRAFT_CPUS`, else every core
    * this JVM may use. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def apply(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.nanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      // local files are created, chmod-ed and renamed in-process, not by
      // forking chmod/readlink per call (graft.sources.ForkFreeLocalFs)
      .config(graft.sources.ForkFreeLocalFs.hadoopConf
        .map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)
      // AQE sizes post-shuffle partitions by bytes; at bench/verify SF
      // the shuffles are byte-small but compute-heavy, so keep it from
      // coalescing below real parallelism
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16kb")
      // above this many paths, partition discovery runs as a SPARK JOB
      // with one task per directory. A folded claim-store base holds one
      // pg= dir per ClaimStore.PgDiv probe keys — 2048 / 16 = 128 dirs,
      // still above Spark's stock threshold of 32 — so the stock setting
      // pays a ~128-task listing job on every per-batch store read, where
      // driver-side listing of a local filesystem takes microseconds. A
      // session over an object store or HDFS, where per-prefix listing
      // latency makes the parallel job win, sets its own threshold.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .getOrCreate()

  /** JVM/codegen warm-up touching the machinery the queries lean on:
    * whole-stage codegen, the parquet reader, the typed-encoder /
    * object-hash-agg path, and the JSON parse/format path. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
    graft.sources.Tables(spark, sfDir, "region").count()
    locally {
      import spark.implicits._
      spark.range(0, 1000).as[Long]
        .flatMap(i => Seq((i, Map("k" -> i.toString))))
        .toDF("id", "m").dropDuplicates("id")
        .groupBy("id").count().count()
    }
    spark.range(0, 10000)
      .selectExpr("id % 100 as k", "named_struct('id', id, 'status', cast(id as string)) as s")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.expr(
        "to_json(struct(sort_array(collect_list(s)) as orders))").as("p"))
      .selectExpr("k", "from_json(p, 'STRUCT<orders: ARRAY<STRUCT<id: BIGINT, status: STRING>>>') as o")
      .selectExpr("k", "explode(o.orders) as e").orderBy("k").count()
  }
}
