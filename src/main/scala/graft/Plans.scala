package graft

/** Dev tool: dump `.explain("formatted")` for named SparkEntry queries
  * to files — the plan-evidence artifacts the optimization rounds
  * commit under `plans/<round>/`. Usage:
  *
  *   sbt "runMain graft.Plans <outDir> <suffix> q_a q_b ..."
  *
  * writes `<outDir>/<query>_<suffix>.txt` per query. The frame is built
  * (lifecycle queries run their builds) but the plan captured is the
  * returned frame's formatted physical plan — for foreachBatch
  * lifecycle queries that is the read-back plan; the per-batch plans
  * live inside the stream and are evidenced by timing + code review. */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <outDir> <suffix> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"PLANS $name: unknown query")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            outDir.resolve(s"${name}_$suffix.txt"), txt)
          println(s"PLANS $name -> ${name}_$suffix.txt (${txt.length} chars)")
      }
    }
    spark.stop()
  }
}
