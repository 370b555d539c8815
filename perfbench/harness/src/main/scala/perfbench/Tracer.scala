package perfbench

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A span of the traced run: pass → operation → {build, exec} → Spark job →
  * stage, and stream batch → operation. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Long, end: Long)

/** Per-layer record of the traced passes, read from Spark's public listener
  * APIs only. Operations run one at a time, so every job, stage, task and
  * stream batch belongs to the operation whose time window holds its start.
  *
  * The listeners are attached for a traced pass and removed after it; the
  * records stay in memory and are reported once, when the run ends. */
final class Tracer(spark: SparkSession, modules: Map[String, String], cpus: Int,
    inputBytes: Long) {
  private val sc = spark.sparkContext

  private final case class Job(id: Int, start: Long, end: Long, stageIds: Seq[Int])
  private final case class Stage(id: Int, start: Long, end: Long, tasks: Int)
  private final case class Task(launch: Long, m: Map[String, Double])
  private final case class Batch(start: Long, durations: Map[String, Long])

  // appended on the listener-bus thread, read after the bus is drained
  private val jobStarts = ArrayBuffer.empty[(Int, Long, Seq[Int])]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val batches = ArrayBuffer.empty[Batch]
  private val cacheSamples = ArrayBuffer.empty[(Double, Double)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts += ((e.jobId, e.time * 1000L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnds(e.jobId) = e.time * 1000L
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += Stage(i.stageId, s * 1000L, c * 1000L, i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val t = e.taskMetrics
      if (t != null) tasks += Task(e.taskInfo.launchTime * 1000L, Map(
        "executor.busy_s" -> t.executorRunTime / 1e3,
        "executor.cpu_s" -> t.executorCpuTime / 1e9,
        "executor.deser_s" -> t.executorDeserializeTime / 1e3,
        "executor.gc_s" -> t.jvmGCTime / 1e3,
        "scan.bytes" -> t.inputMetrics.bytesRead.toDouble,
        "scan.records" -> t.inputMetrics.recordsRead.toDouble,
        "shuffle.write_bytes" -> t.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle.write_s" -> t.shuffleWriteMetrics.writeTime / 1e9,
        "shuffle.read_bytes" -> t.shuffleReadMetrics.totalBytesRead.toDouble,
        "shuffle.fetch_wait_s" -> t.shuffleReadMetrics.fetchWaitTime / 1e3,
        "spill.mem_bytes" -> t.memoryBytesSpilled.toDouble,
        "spill.disk_bytes" -> t.diskBytesSpilled.toDouble,
        "write.bytes" -> t.outputMetrics.bytesWritten.toDouble,
        "write.records" -> t.outputMetrics.recordsWritten.toDouble))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Tracer.this.synchronized { batches += Batch(start, d) }
    }
  }

  private val passRecords = ArrayBuffer.empty[(PassRun, Map[String, Double], Seq[Span],
    Seq[Long], Map[String, Map[String, Double]])]
  private var nextId = 0L
  private def id(): Long = { nextId += 1; nextId }

  /** Starts a traced pass. Events of the untraced pass before it that are
    * still queued are delivered first, so they do not reach the listeners. */
  def attach(): Unit = {
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Called after each operation of a traced pass. */
  def sampleCache(): Unit = {
    val infos = sc.getRDDStorageInfo
    cacheSamples += ((infos.map(_.memSize).sum / 1048576.0, infos.map(_.diskSize).sum / 1048576.0))
  }

  /** Ends a traced pass: waits for every event of it, removes the listeners
    * and turns the records into spans and per-pass layer sums. */
  def detach(pass: PassRun): Unit = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    val persisted = sc.getPersistentRDDs.size
    synchronized {
      val jobs = jobStarts.map { case (i, s, st) => Job(i, s, jobEnds.getOrElse(i, s), st) }.toSeq
      passRecords += record(pass, jobs, stages.toSeq, tasks.toSeq, batches.toSeq,
        cacheSamples.toSeq, persisted)
      Seq(jobStarts, stages, tasks, batches, cacheSamples).foreach(_.clear())
      jobEnds.clear()
    }
  }

  private def record(pass: PassRun, jobs: Seq[Job], stages: Seq[Stage], tasks: Seq[Task],
      batches: Seq[Batch], cache: Seq[(Double, Double)], persisted: Int) = {
    val spans = ArrayBuffer.empty[Span]
    val passSpan = Span(id(), 0, "pass", s"pass ${pass.index}", pass.start, pass.end)
    spans += passSpan
    val opSpans = pass.ops.map { o =>
      val s = Span(id(), passSpan.id, "op", o.op, o.start, o.end)
      spans += s
      spans += Span(id(), s.id, "build", o.op, o.start, o.built)
      spans += Span(id(), s.id, "exec", o.op, o.built, o.end)
      o -> s
    }
    // the innermost span whose window holds t: a phase, else an operation, else the pass
    def owner(t: Long, kinds: Set[String]): Span =
      spans.filter(s => kinds(s.kind) && s.start <= t && t < s.end)
        .sortBy(s => s.end - s.start).headOption.getOrElse(passSpan)
    val phases = Set("build", "exec")
    val jobSpans = jobs.map { j =>
      val s = Span(id(), owner(j.start, phases).id, "job", s"job ${j.id}", j.start, j.end)
      j -> s
    }
    spans ++= jobSpans.map(_._2)
    stages.foreach { st =>
      val parent = jobSpans.find(_._1.stageIds.contains(st.id)).map(_._2)
        .getOrElse(owner(st.start, phases))
      spans += Span(id(), parent.id, "stage", s"stage ${st.id}", st.start, st.end)
    }
    batches.foreach { b =>
      val end = b.start + 1000L * b.durations.getOrElse("triggerExecution", 0L)
      spans += Span(id(), owner(b.start, Set("op")).id, "batch", "stream batch", b.start, end)
    }

    def opOf(t: Long): Option[String] =
      opSpans.find { case (o, _) => o.start <= t && t < o.end }.map(_._1.op)
    val wallUs = pass.end - pass.start
    val busyUs = union(jobs.map(j => (j.start max pass.start, j.end min pass.end)))
    val taskSums = tasks.flatMap(_.m).groupMapReduce(_._1)(_._2)(_ + _)
    def phase(key: String) = batches.map(_.durations.getOrElse(key, 0L)).sum.toDouble
    val layers = Map(
      "entry.build_s" -> pass.ops.map(o => o.built - o.start).sum / 1e6,
      "entry.exec_s" -> pass.ops.map(o => o.end - o.built).sum / 1e6,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.single_task_stages" -> stages.count(_.tasks == 1).toDouble,
      "spark.driver_s" -> (wallUs - busyUs) / 1e6,
      "executor.util" -> taskSums.getOrElse("executor.busy_s", 0.0) / (wallUs / 1e6 * cpus),
      "scan.reread_x" -> taskSums.getOrElse("scan.bytes", 0.0) / inputBytes,
      "cache.rdds_end" -> persisted.toDouble,
      "cache.mem_mb_peak" -> (cache.map(_._1) :+ 0.0).max,
      "cache.disk_mb_peak" -> (cache.map(_._2) :+ 0.0).max,
      "stream.batches" -> batches.size.toDouble,
      "stream.trigger_ms" -> phase("triggerExecution"),
      "stream.add_batch_ms" -> phase("addBatch"),
      "stream.query_planning_ms" -> phase("queryPlanning"),
      "stream.wal_commit_ms" -> phase("walCommit"),
      "stream.commit_offsets_ms" -> phase("commitOffsets"),
      "stream.latest_offset_ms" -> phase("latestOffset"),
    ) ++ Tracer.taskKeys.map(k => k -> taskSums.getOrElse(k, 0.0)) ++
      pass.ops.groupMapReduce(o => modules(o.op) + ".busy_s")(o => (o.end - o.start) / 1e6)(_ + _)

    // per-operation counts, so a layer figure can be traced to its operation
    val perOp = pass.ops.map { o =>
      val mine = tasks.filter(t => opOf(t.launch).contains(o.op))
      val sums = mine.flatMap(_.m).groupMapReduce(_._1)(_._2)(_ + _)
      o.op -> (Map(
        "spark.jobs" -> jobs.count(j => opOf(j.start).contains(o.op)).toDouble,
        "spark.stages" -> stages.count(s => opOf(s.start).contains(o.op)).toDouble,
        "spark.tasks" -> mine.size.toDouble,
        "stream.batches" -> batches.count(b => opOf(b.start).contains(o.op)).toDouble,
      ) ++ Seq("executor.busy_s", "scan.bytes", "shuffle.write_bytes", "write.bytes")
        .map(k => k -> sums.getOrElse(k, 0.0)))
    }.toMap
    val durations = batches.map(_.durations.getOrElse("triggerExecution", 0L))
    (pass, layers, spans.toSeq, durations, perOp)
  }

  /** Length of the union of [start, end) intervals. */
  private def union(xs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - (s max reach); reach = e }
    }
    covered
  }

  /** Self time of each span: its duration less the part its children cover. */
  private def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.kind) { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
      (s.end - s.start - union(kids)) / 1e6
    }(_ + _)
  }

  def report(): Map[String, Any] = {
    val traced = passRecords.toSeq
    Map(
      "passes" -> traced.map { case (p, layers, spans, durations, perOp) =>
        Map("index" -> p.index, "layers" -> layers,
          "self_s" -> selfTimes(spans), "batch_ms" -> durations, "per_op" -> perOp)
      },
      "spans" -> traced.flatMap(_._3))
  }
}

object Tracer {
  /** Task-metric sums reported per pass under their own names. */
  val taskKeys: Seq[String] = Seq("executor.busy_s", "executor.cpu_s", "executor.deser_s",
    "executor.gc_s", "scan.bytes", "scan.records", "shuffle.write_bytes", "shuffle.write_s",
    "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.mem_bytes", "spill.disk_bytes",
    "write.bytes", "write.records")
}
