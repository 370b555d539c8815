package graft
import org.apache.spark.scheduler._
/** Dev tool: stage-level timing for named SparkEntry queries.
  * `sbt "runMain graft.Probe q_table_search_doc"` — wall time plus each
  * completed stage's duration/task count, to separate executor work from
  * driver planning/codegen when hunting bench regressions. Each query
  * also gets one `TOTALS` line counting every job, completed stage and
  * task it ran (skipped stages do not count), the hardware-independent
  * work figures to compare two builds by. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    LocalSession.warmup(spark, sfDir)
    val lock = new Object
    var stages = List.empty[(Int, Long, Int, String)]
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        lock.synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (c <- si.completionTime; s <- si.submissionTime) yield c - s)
          .getOrElse(0L)
        val graftFrame = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.Probe"))
          .getOrElse("").trim
        val deep = if (dur >= 2000) "\n    RDDs: " + si.rddInfos
          .map(r => s"${r.id}:${r.name}" +
            r.scope.flatMap(s => Option(s.name)).map(n => s"($n)").getOrElse(""))
          .mkString(" <- ")
          else ""
        lock.synchronized {
          stages ::= ((si.stageId, dur, si.numTasks, s"${si.name} | $graftFrame$deep"))
        }
      }
    })
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"PROBE $name: unknown query")
        case Some(fn) =>
          lock.synchronized { stages = Nil; jobs = 0 }
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(500) // let the async listener bus drain
          val (snap, nJobs) = lock.synchronized((stages.reverse, jobs))
          val exec = snap.map(_._2).sum / 1000.0
          println(f"PROBE $name%-28s $wall%8.2f s wall, $exec%6.2f s stage-sum, rows=$n")
          println(s"TOTALS $name jobs=$nJobs stages=${snap.size} tasks=${snap.map(_._3).sum}")
          snap.foreach { case (id, dur, nt, nm) =>
            if (dur >= 200)
              println(f"  STAGE $id%4d ${dur / 1000.0}%7.2f s tasks=$nt%-5d ${nm.take(2000)}")
          }
      }
    }
    spark.stop()
  }
}
