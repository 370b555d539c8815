package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch microseconds, read through nanoTime so that span
  * ends never precede their starts. Listener events carry epoch millis. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One timed operation: the entry call (build) and the full-materialisation
  * action (exec), both in epoch microseconds. */
final case class OpRun(op: String, start: Long, built: Long, end: Long, error: Option[String])

final case class PassRun(index: Int, traced: Boolean, start: Long, end: Long, ops: Seq[OpRun])

/** One benchmark JVM.
  *
  * `--mode setup` creates the session, warms it up, records when it was
  * ready and exits. `--mode run` does the same, then runs the workload as a
  * closed loop with one client: a cold pass, then warm passes for
  * `--seconds` (each started only if it should end inside them), at least
  * until `--min-passes` passes have run. The session cache is
  * cleared, untimed, before every pass. With `--check 1` the result
  * frames of the last pass are then written, untimed, as parquet for the
  * oracle compare. An operation is one call of `SparkEntry.queries(q)` followed by
  * a `noop` write, which consumes every column of every row (a `count()`
  * would let the optimiser prune columns).
  * The seed permutes the order of operations within each pass.
  *
  * With `--trace 1` the cold pass and every other warm pass run with the
  * [[Tracer]] listeners attached; the passes in between run without them,
  * so one run yields both the per-layer record and the tracing overhead.
  *
  * Everything is written to `<run-dir>/result.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = opt("run-dir")
    val data = opt("data")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.LocalSession(opt("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    graft.LocalSession.warmup(spark, data)
    val readyMs = System.currentTimeMillis()
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "ready_ms" -> readyMs,
      "session_s" -> (sessionMs - jvmStartMs) / 1e3,
      "warmup_s" -> (readyMs - sessionMs) / 1e3)

    if (opt("mode") == "run") {
      val ops = opt("ops").split(",").toSeq.map { s =>
        val Array(q, module) = s.split(":"); q -> module
      }
      result ++= runWorkload(spark, data, runDir, ops, opt("seed").toLong,
        opt("seconds").toDouble, opt("min-passes").toInt, opt("trace") == "1",
        opt("check") == "1", opt("cpus").toInt)
    }
    result("peak_rss_mb") = peakRssMb()
    spark.stop()
    Files.writeString(Paths.get(runDir, "result.json"), Json(result))
  }

  private def runWorkload(spark: SparkSession, data: String, runDir: String,
      ops: Seq[(String, String)], seed: Long, seconds: Double, minPasses: Int,
      trace: Boolean, check: Boolean, cpus: Int): Seq[(String, Any)] = {
    val entries = graft.SparkEntry.queries
    // the last pass's result frames, written out by the check
    val frames = scala.collection.mutable.Map.empty[String, DataFrame]
    def runOp(op: String): OpRun = {
      val t0 = Clock.nowUs
      try {
        val df = entries.getOrElse(op, sys.error(s"no SparkEntry query named $op"))(spark, data)
        val t1 = Clock.nowUs
        df.write.format("noop").mode("overwrite").save()
        frames(op) = df
        OpRun(op, t0, t1, Clock.nowUs, None)
      } catch { case e: Throwable =>
        val now = Clock.nowUs
        frames.remove(op)
        OpRun(op, t0, now, now, Some(message(e)))
      }
    }

    val inputBytes = new java.io.File(data).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    val tracer = if (trace) Some(new Tracer(spark, ops.toMap, cpus, inputBytes)) else None
    val passes = ArrayBuffer.empty[PassRun]
    def runPass(): PassRun = {
      val index = passes.size
      // untimed: every pass builds its shared stages afresh, as the cold pass
      // does, so a change in building them shows in wall_s as well
      spark.catalog.clearCache()
      val traced = tracer.isDefined && index % 2 == 0
      if (traced) tracer.get.attach()
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(ops.map(_._1))
      val start = Clock.nowUs
      val runs = order.map { op =>
        val r = runOp(op)
        if (traced) tracer.get.sampleCache()
        r
      }
      val pass = PassRun(index, traced, start, Clock.nowUs, runs)
      if (traced) tracer.get.detach(pass)
      passes += pass
      pass
    }

    runPass()
    // warm passes while the next one, as long as the last, ends inside the window
    val windowStart = Clock.nowUs
    def fits = Clock.nowUs + (passes.last.end - passes.last.start) <= windowStart + seconds * 1e6
    while (passes.size < minPasses || fits) runPass()

    // untimed: the last pass's results, executed once more and written out
    // for the oracle compare
    val checkErrors = if (!check) Nil else ops.map(_._1).flatMap { op =>
      try {
        frames.getOrElse(op, sys.error("the operation failed in the last pass"))
          .write.mode("overwrite").parquet(s"$runDir/out/$op")
        None
      } catch { case e: Throwable => Some(op -> message(e)) }
    }
    val oracleSql = ops.map(_._1).flatMap(op => graft.SparkEntry.oracleSql.get(op).map(op -> _))

    Seq(
      "passes" -> passes.toSeq,
      "check_errors" -> checkErrors.toMap,
      "oracle_sql" -> oracleSql.toMap,
      "trace" -> tracer.map(_.report()))
  }

  private def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toLong / 1024.0
  }
}
