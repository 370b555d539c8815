package graft.streaming

import org.apache.spark.sql.SparkSession

/** ONE guardrailed maintenance entry point for a composed pipeline's
  * deployed stores — the operational pass a 100 TB deployment schedules
  * nightly. Each gate declares its claim stores once on its [[ClaimGate]],
  * which turns that list into actions with [[sweepActions]]; the snapshot and
  * training stores add their own actions
  * ([[StreamPublish.maintenanceActions]],
  * [[CurationStream.storeMaintenanceActions]]). `Maintenance.run`
  * executes a pipeline's whole action list with PER-STORE guardrail
  * isolation:
  *
  *  - each claim-store action is its retention sweep followed by its
  *    budget-gated compaction fold (the sweep is itself a major fold
  *    when anything expires; the compaction only fires when the delta
  *    budget is crossed, so a quiet store costs two directory listings);
  *  - a tripped guardrail ([[ClaimStore.retentionSweep]]'s
  *    drop-fraction abort — the typed [[GuardrailAbort]]) ABORTS THAT
  *    STORE ONLY, is reported in the outcome, and every other store's
  *    maintenance still runs — a mis-set horizon on one store must not
  *    leave the rest of the fleet unswept;
  *  - any OTHER exception propagates — including the store layer's
  *    plain `IllegalStateException`s (missing probe-key layout, missing
  *    CURRENT marker): a misconfigured store is a real failure, not a
  *    policy abort, and must fail the scheduled job loudly, never be
  *    recorded as a tripped guardrail in a "successful" nightly run —
  *    but only after EVERY other store's action has still run (the
  *    rethrow happens at the end of the pass, so one broken store
  *    cannot leave the stores behind it in the list unswept).
  *
  * Reference analog: the staleness-removal tasks run as their own
  * scheduled jobs with per-type guardrails
  * (neo4j_staleness_removal_task.py:45's 5 % abort threshold); this is
  * that discipline over every claim/funnel store a streaming pipeline
  * deploys. */
object Maintenance {

  /** What one action's run produced: rows dropped plus an optional
    * operational detail line (e.g. a compaction's "files 4000 -> 16") —
    * the report is the nightly job's observability surface, and a fold
    * that collapsed thousands of files must not read like a no-op. A
    * bare `Long` lifts implicitly so sweep lambdas stay unchanged. */
  final case class Result(dropped: Long, detail: Option[String] = None)
  object Result {
    import scala.language.implicitConversions
    implicit def fromLong(dropped: Long): Result = Result(dropped)
  }

  /** One store's maintenance step. */
  final case class Action(store: String, kind: String, run: () => Result)

  /** What happened to one action: rows dropped (+ detail), or the
    * guardrail message that aborted it (other stores unaffected). */
  final case class Outcome(store: String, kind: String, dropped: Long,
      aborted: Option[String], detail: Option[String] = None) {
    def ok: Boolean = aborted.isEmpty
  }

  final case class Report(outcomes: Seq[Outcome]) {
    def aborted: Seq[Outcome] = outcomes.filterNot(_.ok)
    def dropped: Long = outcomes.map(_.dropped).sum
  }

  /** Run every action; a guardrail abort is captured per store, any
    * other failure — including a plain `IllegalStateException` from a
    * misconfigured store — propagates, but only AFTER the whole action
    * list has run: one broken store must fail the nightly loudly, yet
    * must not leave the rest of the fleet unswept for the night (the
    * same isolation the guardrail gets, minus the "successful run"
    * reporting). The FIRST non-guardrail failure rethrows, later ones
    * ride along as suppressed. */
  def run(actions: Seq[Action]): Report = {
    var firstFailure: Throwable = null
    val outcomes = actions.map { a =>
      try {
        val r = a.run()
        Outcome(a.store, a.kind, r.dropped, None, r.detail)
      } catch {
        case e: GuardrailAbort =>
          Outcome(a.store, a.kind, 0L,
            Some(Option(e.getMessage).getOrElse("guardrail abort")))
        case scala.util.control.NonFatal(e) =>
          if (firstFailure == null) firstFailure = e
          else if (firstFailure ne e) firstFailure.addSuppressed(e)
          Outcome(a.store, a.kind, 0L,
            Some(s"failed: ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    if (firstFailure != null) {
      // the Report can't ride the exception to the caller, but the
      // sweep DID run — surface the per-store outcomes (including the
      // successful stores' dropped-counts) on stderr so a loud nightly
      // failure doesn't also lose the night's maintenance record
      System.err.println("[maintenance] failing after full sweep; partial report: " +
        outcomes.map(o => s"${o.store}/${o.kind}=" +
          o.aborted.map(a => s"ABORTED($a)").getOrElse(s"dropped ${o.dropped}"))
          .mkString("; "))
      throw firstFailure
    }
    Report(outcomes)
  }

  /** One sweep-then-compact action per claim store: expire claims whose
    * epoch column is below `minEpoch` under the guardrail, then fold the
    * delta backlog if the budget is crossed (a sweep that dropped
    * nothing is NOT a fold — the compaction keeps the file count bounded
    * on quiet stores too). */
  private[streaming] def sweepActions(spark: SparkSession, stores: Seq[ClaimStore], minEpoch: Long,
      maxDropFrac: Double): Seq[Action] =
    stores.map(st => Action(st.dir, "retention+compact", { () =>
      val dropped = st.retentionSweep(spark, minEpoch, maxDropFrac)
      st.maybeCompact(spark)
      dropped
    }))
}
