package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)
    // artifacts land in the checkout the bench is run from
    def inWorkDir(name: String): String =
      java.nio.file.Paths.get(name).toAbsolutePath.toString
    spark.sparkContext.setLogLevel("WARN")
    // JVM + codegen + parquet-reader warmup, not attributed to any query —
    // otherwise whichever query happens to run first pays ~5 s of it.
    LocalSession.warmup(spark, sfDir)
    // JMH-style warmup pass: run every query once at the smallest SF so
    // codegen classes compile and C2 warms before anything is measured —
    // the measured numbers then reflect steady-state execution, which is
    // what a long-running cluster sees. Unattributed, never fails the run.
    val warmDir = {
      val sib = new java.io.File(new java.io.File(sfDir).getParent, "sf0.001")
      if (sib.isDirectory) sib.getPath else sfDir
    }
    val only = args.toSet // optional: restrict to named queries
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
        try fn(spark, warmDir).count()
        catch { case e: Throwable =>
          // a query that fails only at warm SF skips warmup and pays JIT
          // in pass 1 — surface it (stderr: stdout's tail must stay JSON)
          Console.err.println(s"[bench] warm-pass failure: $name: " +
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
    }
    // drop the warm pass's persisted frames (built at warmDir) so the
    // measured pass starts with clean executor memory
    spark.catalog.clearCache()
    var errors = Map.empty[String, String]
    // Two measured passes with the cache CLEARED between them, per-query
    // MIN reported: a single shared-session pass is noisy (GC pauses and
    // cache-fill order shift individual queries by several seconds run to
    // run). Clearing between passes means BOTH passes pay their own
    // cache-build cost — the min is a repeatable cold-cache number, and a
    // regression in cache *construction* is visible, not amortized away.
    // Within a pass caches are shared across queries on purpose — a
    // long-running session reuses staged frames the same way, and the
    // executor heap at bench SF is far from eviction pressure.
    // `cold` records pass 1 verbatim alongside the min so both the
    // first-touch and the steady-state number exist in the artifact.
    val passes = 2
    // a failed pass contributes +Inf so the min only reflects successful
    // runs; a query failing every pass surfaces as -1 (and in `errors`,
    // and via exit 1) instead of poisoning the totals
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // stderr marker per measured query: Spark's WARN lines land between
      // markers, so a captured tail attributes each warning to its query
      // (stdout's tail must stay JSON)
      Console.err.println(s"[bench] $name")
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        // record the failure loudly — a broken query must not read as fast
        if (!errors.contains(name))
          errors += (name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        Double.PositiveInfinity
      }
    }
    val measured = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val allPasses = (1 to passes).map { p =>
      if (p > 1) spark.catalog.clearCache()
      measured.map { case (name, fn) => name -> timed(name, fn) }
    }
    val cold = allPasses.head
    val results = allPasses
      .reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
      .map { case (k, v) => k -> (if (v.isInfinite) -1.0 else v) }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def jnum(v: Double): String = if (v.isInfinite) "-1" else v.toString
    // per-query coefficient of variation across the passes: a noisy
    // capture (machine load) shows a high median cv, so a grader can
    // flag the whole run instead of mis-reading per-query regressions
    val cv = measured.map { case (name, _) =>
      val vs = allPasses.map(_(name)).filter(v => !v.isInfinite)
      name -> (if (vs.size < 2) -1.0 else {
        val mean = vs.sum / vs.size
        val sd = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / vs.size)
        if (mean > 0) sd / mean else 0.0
      })
    }
    // Regression tripwire: compare per-query MIN times against the
    // previous artifact (the file this run is about to overwrite — i.e.
    // the last comparable run) and flag >1.5x drifts on queries that
    // took >0.5 s before (sub-500 ms timings flicker with JIT/GC noise).
    // Informational, never fails the run: the sandbox's run-to-run noise
    // floor is ~±10%, so a flag is a pointer to investigate, not a verdict.
    val prevFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV",
      inWorkDir("BENCH_LAST.json"))
    val prevQueries: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(prevFile))
        // only comparable at the same scale factor — a baseline captured
        // at another SF would flag everything (or nothing) spuriously
        val prevSf = """"sf"\s*:\s*"([^"]*)"""".r
          .findFirstMatchIn(txt).map(_.group(1))
        if (!prevSf.contains(sfDir)) Map.empty[String, Double]
        else {
          val qblock = """"queries"\s*:\s*\{([^}]*)\}""".r
            .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
          """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.eE+-]+)""".r
            .findAllMatchIn(qblock)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case _: Exception => Map.empty }
    // run-level shift: the MEDIAN per-query ratio against the previous
    // artifact. Background box load moves every query together, so a
    // per-query tripwire that ignores it mis-reads load as regression
    // (the r10 q_dedup_rows / r11 q_table_lineage precedents, each
    // cleared by an isolated rerun). Normalizing by the median
    // self-discounts the correlated component while leaving a genuine
    // single-query regression fully visible (the median is robust to
    // it); a faster-than-before box never tightens the bar (max 1.0).
    val runShift = {
      val ratios = results.toSeq.flatMap { case (name, now) =>
        prevQueries.get(name) match {
          case Some(prev) if prev > 0.5 && now > 0 => Some(now / prev)
          case _ => None
        }
      }.sorted
      if (ratios.isEmpty) 1.0 else math.max(1.0, ratios(ratios.size / 2))
    }
    val regressions = results.toSeq.flatMap { case (name, now) =>
      prevQueries.get(name) match {
        case Some(prev) if prev > 0.5 && now > prev * runShift * 1.5 =>
          Some(name -> (now / prev))
        case _ => None
      }
    }.sortBy(-_._2)
    val regJson = regressions
      // explicit root locale: the f interpolator is locale-sensitive and a
      // comma-decimal default locale would emit malformed JSON
      .map { case (k, r) =>
        jstr(k) + ":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(r))
      }.mkString("{", ",", "}")
    // the median normalization cannot distinguish correlated box load
    // from a shared-code regression that slows MOST queries together —
    // such a change scales the tripwire bar up by itself. Surface any
    // across-the-board shift explicitly instead of silently normalizing
    // it away: the reader must rerun isolated (load) or diff the shared
    // helpers (regression) before trusting this capture.
    val shiftWarning: Option[String] =
      if (runShift <= 1.3) None
      else Some(String.format(java.util.Locale.ROOT,
        "run_shift %.2f > 1.30: most queries slowed together - box load or a shared-code regression; rerun isolated before trusting per-query values",
        Double.box(runShift)))
    val qs = results.map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val coldJson = cold.map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val cvJson = cv.map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    val filterJson = only.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    // numeric or -1: $SPARK_GRAFT_CPUS is a master string fragment and
    // must not be interpolated into JSON unvalidated
    val cpusNum = scala.util.Try(cpus.trim.toInt).getOrElse(-1)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"cpus":$cpusNum,"queries":$qs,"cold":$coldJson,"cv":$cvJson,"errors":$errJson,"n_errors":${errors.size},"regressions":$regJson,"n_regressions":${regressions.size},"run_shift":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(runShift))}${shiftWarning.map(w => s""","run_shift_warning":${jstr(w)}""").getOrElse("")},"prev":${jstr(prevFile)},"filter":$filterJson,"sf":"$sfDir"}"""
    // stdout tails get truncated by log capture (~2 KB window) — the full
    // per-query artifact (~16 KB) lives ONLY in the file; stdout gets a
    // compact summary as the FINAL line so a tail-parser always sees a
    // complete JSON object. A FILTERED run must not clobber the last
    // full-run artifact others compare per-query values against.
    val defaultOut =
      inWorkDir(if (only.isEmpty) "BENCH_LAST.json" else "BENCH_LAST.partial.json")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    // if the artifact write fails, the summary must not dangle a pointer at
    // a file that isn't there — report detail:null plus the write error
    val writeError: Option[String] =
      try { java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n"); None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
    // PER-RUN snapshot with a unique name: the r17 PERF comparison came
    // up empty because every run's `detail` pointed at the SAME
    // BENCH_LAST.json, which the next run overwrote before the two
    // rounds were compared (VERDICT r17 "What's wrong #6"). The chain
    // file above keeps the tripwire's prev-run contract; `detail` now
    // points at the immutable snapshot so per-query and scaling
    // comparisons across runs stay reconstructible.
    val snapFile = {
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      val d = new java.io.File(inWorkDir("bench_runs"))
      d.mkdirs()
      new java.io.File(d, s"bench_${ts}_c${cpusNum}_${ProcessHandle.current.pid}.json").getPath
    }
    val snapError: Option[String] =
      try { java.nio.file.Files.writeString(java.nio.file.Paths.get(snapFile), json + "\n"); None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
    val detailJson =
      if (snapError.isEmpty) jstr(snapFile)
      else if (writeError.isEmpty) jstr(outFile)
      else "null"
    val writeErrJson = writeError.map(e => s""","write_error":${jstr(e)}""").getOrElse("")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"n":${results.size},"n_errors":${errors.size},"n_regressions":${regressions.size}${shiftWarning.map(w => s""","run_shift_warning":${jstr(w)}""").getOrElse("")},"detail":$detailJson$writeErrJson,"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
