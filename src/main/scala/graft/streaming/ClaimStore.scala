package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StructType}

import graft.sources.Hfs

object ClaimStore {
  /** Fold a store's delta dir once it holds this many files — the bound
    * on every claim store's live delta-file count. */
  val CompactDeltaFiles = 8

  /** Runs allowed per log2-size class before a tier merge folds that
    * class into one run of the next class (the size-tiered discipline:
    * run count stays O(RunsPerClass · log store), per-claim rewrites stay
    * O(log store)). */
  val RunsPerClass = 4

  /** Name of the consumed-inputs manifest a major fold stamps into its
    * new generation BEFORE the CURRENT swap — the crash-idempotence
    * record: a fold that died between the swap and its input cleanup
    * leaves this file behind, readers EXCLUDE the listed paths (so a
    * filtered fold — retention sweep, claim migration — can never
    * resurrect the rows it dropped), and the next fold finishes the
    * cleanup. */
  val ConsumedManifest = "_CONSUMED"

  /** Probe keys per base-generation PARTITION DIRECTORY (`pg=` group).
    * r17 laid the folded base out one directory PER KEY (`pk=v`), which
    * at a 2048-key space wrote up to 2048 directories of one tiny file
    * each per major fold — the guide-§6 small-files antipattern on both
    * sides: the fold paid one create+commit per directory (measured
    * 6-8 s per fold for a 666-claim store vs 0.7-1.2 s for the same
    * rows written flat — ~10-30 ms of filesystem metadata per
    * directory, and object stores price it worse), and the probe paid
    * one OPEN per touched key. The base now groups [[PgDiv]] adjacent
    * keys per directory (`pg = pk div PgDiv`), keeps the key as a DATA
    * column, and sorts each file by key so parquet row-group min/max
    * stats recover per-key selectivity inside the group file. Probe
    * cost stays O(touched): [[ClaimStore.readPruned]] dir-prunes on pg
    * and key-filters inside. A constant, not a setting: it is part of
    * the on-disk format, and a reader grouping keys differently from
    * the writer would prune to the wrong directories and miss claims. */
  val PgDiv: Int = 16

  /** Base-layout partition column (the key-group id). Never part of the
    * claim schema — it exists only in the folded base's directory names
    * and is dropped on read. */
  val PgCol = "pg"
}

/** A POLICY abort — a maintenance guardrail refused to proceed (e.g. a
  * retention sweep that would drop more than its allowed fraction).
  * Distinct by TYPE from the garden-variety `IllegalStateException`s the
  * store layer throws for real faults (missing probe-key layout, missing
  * CURRENT marker): [[Maintenance.run]] isolates a policy abort to its
  * store and keeps sweeping the rest, while any other failure — config
  * or I/O — must fail the scheduled job loudly. Subclasses ISE so
  * callers matching the old contract still catch it. */
final class GuardrailAbort(msg: String) extends IllegalStateException(msg)

/** The ONE at-least-once verdict READ CONTRACT shared by every streaming
  * gate ([[CurationStream]], [[MediaDedupStream]], [[DedupGateStream]],
  * [[EmbedDedupStream]]), declared once per gate on its [[ClaimGate]].
  * Under the gates' batch commit (ordered as [[ClaimGate]] states) the
  * only corrupted delivery is a batch replayed AFTER its claims landed —
  * the replay sees its own winners as already claimed and re-emits them
  * as duplicates with inflated match stats. Per `key`, therefore:
  *
  *  - `anyTrue` (admitted-class booleans): TRUE if ANY delivery said so —
  *    a doc's own claim in the store proves its admission, and quality /
  *    contamination verdicts re-derive identically on every delivery;
  *  - `everyTrue` (duplicate-class booleans): TRUE only if EVERY delivery
  *    said so — only a replay can spuriously flag a winner duplicated;
  *  - `preClaim` (match stats): the values of the delivery MINIMIZING the
  *    column tuple, resolved TOGETHER — the claim set only grows, so the
  *    original delivery's match set is a subset of any replay's; the
  *    smaller count is the pre-claim verdict and equal counts imply the
  *    identical set. (Resolving each stat independently, or with max(),
  *    would stitch values from different deliveries.)
  *  - `carried`: delivery-invariant passthroughs (any delivery's value).
  *
  * `columns` is the resolved frame's column order, ordered by `key`.
  */
private[streaming] final case class StreamVerdicts(
    columns: Seq[String],
    anyTrue: Seq[String] = Nil,
    everyTrue: Seq[String] = Nil,
    preClaim: Seq[String] = Nil,
    carried: Seq[String] = Nil,
    key: String = "doc_id") {

  def resolvePerDoc(verdicts: DataFrame): DataFrame = {
    val aggs =
      carried.map(c => min(col(c)).as(c)) ++
        anyTrue.map(c => max(col(c)).as(c)) ++
        everyTrue.map(c => min(col(c)).as(c)) ++
        (if (preClaim.isEmpty) Nil
         else Seq(min(struct(preClaim.map(col): _*)).as("_pre")))
    val grouped = verdicts.groupBy(key).agg(aggs.head, aggs.tail: _*)
    val out = preClaim.foldLeft(grouped)((df, c) =>
      df.withColumn(c, col(s"_pre.$c")))
    (if (preClaim.isEmpty) out else out.drop("_pre")).orderBy(key)
      .select(columns.map(col): _*)
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    resolvePerDoc(spark.read.parquet(dir))
}

/** The ONE generational side-store discipline shared by every streaming
  * gate — [[CurationStream]]'s exact-md5 claim classes,
  * [[MediaDedupStream]]'s perceptual fingerprints,
  * [[DedupGateStream]]'s admitted shingle index and
  * [[EmbedDedupStream]]'s int8 vector claims all accrete through this
  * type, so a long-running stream can never regrow the
  * one-file-per-batch-forever / O(store)-shuffle-per-batch shape.
  *
  * Layout — a THREE-LEVEL log-structured store (the StreamPublish
  * manifest-swap discipline at the bottom level):
  *
  *  - L0 `<dir>/delta/part-*.parquet` — each batch's claims land as ONE
  *    parquet delta file BEFORE the stream checkpoint commits
  *    (at-least-once: a replayed batch re-appends identical rows);
  *  - L1 `<dir>/minor/run=M/` — once the delta dir exceeds
  *    [[ClaimStore.CompactDeltaFiles]] files, the DELTAS ALONE fold into
  *    one plain-layout minor run — O(new claims), the base is untouched.
  *    When any log2-size class accumulates [[ClaimStore.RunsPerClass]]
  *    runs, that class tier-merges into one run of the next class, so
  *    live-run count and per-claim rewrites both stay O(log store);
  *  - L2 `<dir>/gen=N/` — the base, committed by an atomic CURRENT swap.
  *    A MAJOR fold (base ∪ minors ∪ deltas → fresh generation) runs only
  *    when no base exists yet, or when accumulated minor bytes reach base
  *    bytes — so the base roughly doubles per major and a full-store
  *    rewrite happens O(log store) times in the store's life, not once
  *    per delta budget. Dead generations, consumed runs, and consumed
  *    deltas are dropped only AFTER their replacement commits, so a
  *    reader resolving CURRENT first never loses a reachable byte;
  *  - crash discipline: a plain fold's claims are a MONOTONE SET
  *    (duplicates are row-identical and collapse in each fold's
  *    `distinct()` / the callers' read-side resolution), and a FILTERED
  *    fold ([[retentionSweep]], [[rewrite]]) records its consumed inputs
  *    in the new generation's [[ClaimStore.ConsumedManifest]] BEFORE the
  *    swap — readers exclude those paths and the next fold finishes the
  *    cleanup, so a crash between the swap and the input deletion can
  *    neither resurrect swept claims nor strand a migration under its
  *    old keys.
  *
  * `schema` is the store's claim format, declared once with the store:
  * every level is read with it (no footer inference), reads normalize to
  * its column order, and [[appendDelta]] rejects a frame that does not
  * match it. `epochCol` is the column [[retentionSweep]] ages claims on.
  *
  * `partitionCol` lays the compacted base out on the probe key's GROUP
  * (`gen=N/pg=<key div PgDiv>/...`, key retained as a sorted data
  * column) so a batch's [[readPruned]] partition-prunes to the group
  * directories the batch's keys actually touch and row-group stats
  * prune inside each group file — the staged-IVF cell-pruned layout
  * applied to claim stores, at a file count bounded by
  * key-space / [[ClaimStore.PgDiv]] instead of key-space (guide §6).
  * Delta files and minor runs keep the key as a plain column
  * (they are small — the delta budget plus O(log) runs — and read with
  * the probe filter pushed down); only the major fold rewrites into the
  * pruned layout, which is exactly the level that holds the bulk.
  * Reference analog: the publisher commits one transaction per batch and
  * the staleness sweep bounds what any later pass must rescan
  * (amundsendatabuilder publisher/neo4j_csv_publisher.py:412-447).
  *
  * Every list/stat/delete goes through [[graft.sources.Hfs]] — the
  * Hadoop FileSystem API — so the store runs unchanged on HDFS/S3A,
  * where a 100 TB deployment's claim state actually lives.
  *
  * Fold costs: a minor fold writes O(delta bytes); a tier merge writes
  * O(merged-class bytes) and each claim crosses O(log) classes; a major
  * writes O(store) but doubles the base, so lifetime rewrite volume is
  * O(claims · log store) — not the O(N · store) a single-level fold pays
  * over an N-batch stream. Per-BATCH probe work never scans more than
  * the pruned base keys + the bounded small levels. */
final case class ClaimStore(dir: String, schema: StructType,
    partitionCol: Option[String] = None, epochCol: String = "epoch") {
  import ClaimStore.{CompactDeltaFiles, ConsumedManifest, RunsPerClass}

  /** The claim columns in schema order — every read and fold selects
    * exactly these. */
  private def claimCols = schema.fieldNames.toSeq.map(col)

  private[streaming] def deltaFiles: Seq[Path] =
    Hfs.children(s"$dir/delta")(_.endsWith(".parquet"))

  /** Live minor runs: committed (`_SUCCESS` present) `minor/run=M` dirs.
    * A run dir without the marker is a crashed write — its inputs still
    * exist (they are deleted only after commit), so it holds nothing
    * reachable and is swept by the next fold. */
  private[streaming] def minorRuns: Seq[Path] =
    listRuns().filter(p => Hfs.exists(new Path(p, "_SUCCESS").toString))

  private def listRuns(): Seq[Path] =
    Hfs.children(s"$dir/minor")(_.startsWith("run="))

  /** Total bytes of parquet payload under a path — fold-cost accounting
    * and the tier/major triggers. */
  private[streaming] def parquetBytes(p: Path): Long = Hfs.parquetBytes(p)

  /** Paths a committed filtered fold consumed but may not have deleted
    * yet (crash between the CURRENT swap and the cleanup): the
    * [[ClaimStore.ConsumedManifest]] of the CURRENT generation. Readers
    * subtract these; folds delete them first. */
  private def pendingConsumed(): Set[String] =
    graft.sources.Stage.currentTarget(dir).toSeq.flatMap { gen =>
      val m = new Path(gen, ConsumedManifest)
      if (!Hfs.exists(m.toString)) Seq.empty
      else Hfs.readString(m).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    }.toSet

  /** Finish a crashed fold's cleanup idempotently: delete every path the
    * CURRENT generation's manifest lists, then the manifest itself — but
    * ONLY once every listed path is confirmed gone: dropping the
    * manifest while a consumed input survives (a transient delete
    * failure) would let the swept rows back into reads, the exact
    * resurrection the manifest exists to prevent. Runs at the head of
    * every fold, so at most ONE manifest is ever live. */
  private def finishPendingCleanup(): Unit =
    graft.sources.Stage.currentTarget(dir).foreach { gen =>
      val m = new Path(gen, ConsumedManifest)
      if (Hfs.exists(m.toString)) {
        val allGone = Hfs.readString(m).linesIterator
          .map(_.trim).filter(_.nonEmpty)
          .map { p => Hfs.delete(new Path(p)); !Hfs.exists(p) }
          .forall(identity)
        if (allGone) Hfs.delete(m)
      }
    }

  /** A generation folded from ALL-EMPTY claims writes no part files at
    * all under the partitioned layout (dynamic partition dirs exist per
    * row) — reading such a directory would fail schema inference, so an
    * empty generation reads as the empty set it is. */
  private def hasParquet(p: String): Boolean = Hfs.hasParquet(p)

  /** Committed base generation (CURRENT, if any major has run) ++ live
    * minor runs ++ delta files — MINUS any inputs a committed filtered
    * fold already consumed (see [[ClaimStore.ConsumedManifest]]) —
    * columns normalized to `schema`'s order (the base read returns
    * `partitionCol` as a trailing partition column). Raw rows: plain-fold
    * crash duplicates survive; the caller's read semantics absorb them. */
  def read(spark: SparkSession): DataFrame = readWhere(spark, None)

  /** [[read]] restricted to the probe keys this batch touches: the base
    * generation's scan PARTITION-PRUNES to the matching `gen=N/pg=v`
    * group directories (the group filter lands in the scan's
    * PartitionFilters; the key filter prunes row groups inside each
    * sorted group file), and the small levels — at most the delta
    * budget plus O(log) minor runs — take the key filter as an
    * ordinary pushed predicate. */
  def readPruned(spark: SparkSession, keys: Seq[Int]): DataFrame = {
    val pc = partitionCol.getOrElse(
      throw new IllegalStateException(s"claim store $dir has no probe-key layout"))
    // the base prunes DIRECTORIES on the key-group column (pg) and rows
    // inside the group file on the key itself (sorted → row-group
    // min/max stats); deltas/runs carry the key as a plain column and
    // take only the key predicate
    val pgs = keys.map(_ / ClaimStore.PgDiv).distinct
    readWhere(spark, Some(col(pc).isin(keys.map(Integer.valueOf): _*)),
      basePred = Some(col(ClaimStore.PgCol).isin(pgs.map(Integer.valueOf): _*)))
  }

  private def readWhere(spark: SparkSession,
      pred: Option[org.apache.spark.sql.Column],
      basePred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // compare scheme-stripped on BOTH sides: the session that wrote the
    // manifest and the one reading it may qualify the same path
    // differently (file:/ vs file:///, host:port vs nameservice)
    val consumed = pendingConsumed().map(p => new Path(p).toUri.getPath)
    def live(paths: Seq[Path]): Seq[String] =
      paths.map(_.toString)
        .filterNot(p => consumed.contains(new Path(p).toUri.getPath))
    // additive schema evolution: a level written BEFORE a claim column
    // existed (e.g. pre-epoch stores meeting an epoch-bearing schema)
    // backfills the missing column — absent everywhere, or null after a
    // mergeSchema read mixing old and new files — with a typed ZERO, so
    // a restarted stream or a retention sweep over an old store reads
    // those rows as epoch 0 (sweepable as "oldest") instead of crashing
    // on a missing-column AnalysisException with no migration path.
    // Nulls are zero-coalesced only on NUMERIC claim columns (the epoch
    // shape); claim payloads (strings, hashes, codes) are non-null by
    // construction and pass through untouched.
    def conform(raw: DataFrame): DataFrame =
      schema.fields.foldLeft(raw) { (d, f) =>
        if (!d.columns.contains(f.name))
          // typed-zero backfill is a NUMERIC contract (pre-epoch stores
          // read as epoch 0); a non-numeric upgrade column backfills
          // null — never the string "0" via a blanket cast
          d.withColumn(f.name, f.dataType match {
            case _: NumericType => lit(0).cast(f.dataType)
            case dt => lit(null).cast(dt)
          })
        else if (partitionCol.contains(f.name))
          // the probe key is derived non-null by every writer and is the
          // column probe predicates filter on — a coalesce() wrap here
          // turned `pk = v` into `coalesce(pk, 0) = v`, which parquet
          // cannot push (observed PushedFilters: [] on every delta/base
          // probe scan); leaving the key bare restores footer/row-group
          // pruning on it
          d
        else f.dataType match {
          case _: NumericType =>
            d.withColumn(f.name, coalesce(col(f.name), lit(0).cast(f.dataType)))
          case _ => d
        }
      }
    // EXPLICIT read schema, never inference: a schemaless
    // spark.read.parquet launches a footer-inference job with ONE TASK
    // PER FILE before any query runs — on a folded base laid out one
    // file per live probe key that is an O(key-space)-task job per
    // read, paid by every per-batch probe (measured: a 1107-task ~3 s
    // stage inside each batch at sf0.1; guide §6 small files hurt
    // twice). The claim schema is statically known (`schema`), files
    // written before a column existed read it as null (additive
    // evolution), and conform() backfills exactly as the old
    // mergeSchema read did — so the footer pass bought nothing.
    def part(paths: Seq[String],
        extra: Option[org.apache.spark.sql.Column] = None): Option[DataFrame] =
      if (paths.isEmpty) None
      else {
        val raw = spark.read.schema(schema).parquet(paths: _*)
        // `extra` (the base's pg directory predicate) must apply BEFORE
        // conform/select: pg is a discovered partition column of the
        // base layout only — deltas and runs never see it
        val df = conform(extra.fold(raw)(raw.filter))
        Some(pred.fold(df)(df.filter).select(claimCols: _*))
      }
    val parts =
      part(graft.sources.Stage.currentTarget(dir).toSeq.filter(hasParquet),
        basePred).toSeq ++
        part(live(minorRuns).filter(hasParquet)).toSeq ++
        part(live(deltaFiles)).toSeq
    if (parts.isEmpty) {
      // no level yet: an empty local relation of the claim schema
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      pred.fold(empty)(empty.filter)
    } else parts.reduce(_ union _)
  }

  /** Land one batch's claims as a single delta file; fold per the
    * leveled policy once the delta budget is crossed. Call BEFORE the
    * stream checkpoint commits — the at-least-once claim discipline.
    *
    * A gate appending to SEVERAL stores in one batch goes through
    * [[ClaimGate.commit]] instead, which lands every [[appendDelta]]
    * before the first [[maybeCompact]] (a fold deletes the delta files a
    * lazily recomputed write may still read — observed as
    * FAILED_READ_FILE on a second store's append). */
  def append(spark: SparkSession, claims: DataFrame): Unit = {
    appendDelta(claims)
    maybeCompact(spark)
  }

  /** The write half of [[append]]: one delta file, no fold. A frame
    * whose column names or types differ from the store's `schema` is
    * rejected before anything is written: a landed mismatch would commit
    * with the checkpoint and only fail (or silently backfill) on a
    * later read. Nullability is not compared. */
  def appendDelta(claims: DataFrame): Unit = {
    def shape(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    require(shape(claims.schema) == shape(schema),
      s"claim frame does not match the schema of claim store $dir: " +
        s"got ${claims.schema.catalogString}, want ${schema.catalogString}")
    claims.coalesce(1).write.mode(SaveMode.Append).parquet(s"$dir/delta")
  }

  /** The fold half of [[append]] — the LEVELED policy. Once the delta
    * budget is crossed:
    *
    *  1. no base yet → MAJOR fold (the store is at most a few deltas —
    *     establish the pruned base layout immediately);
    *  2. otherwise fold the deltas alone into one MINOR run, then
    *     cascade any full log2-size class through a tier merge;
    *  3. if accumulated minor bytes have reached base bytes, MAJOR fold
    *     (the base doubles, so majors are O(log) per store lifetime).
    *
    * Safe only after every frame that reads this store's pre-fold files
    * has been written or materialized (see [[append]]). Returns the
    * parquet bytes this call rewrote (0 when under budget) — the
    * rewrite-amplification observable the scale rehearsal bounds. */
  def maybeCompact(spark: SparkSession): Long = {
    finishPendingCleanup()
    // a manifest that SURVIVES cleanup means a consumed input could not
    // be deleted. The minor/tier folds below read delta and run files
    // directly (not through the manifest-excluding read), so folding now
    // would commit manifest-excluded rows into a live run — permanently
    // resurrecting swept claims once the manifest finally drops. Skip
    // this fold; the next batch retries the cleanup first. (A MAJOR fold
    // stays safe with a live manifest: it folds through read(), which
    // excludes the consumed paths, and its new manifest re-lists them.)
    if (pendingConsumed().nonEmpty) 0L
    else if (deltaFiles.size < CompactDeltaFiles) 0L
    else if (graft.sources.Stage.currentTarget(dir).isEmpty) major(spark)
    else {
      var bytes = minorFold(spark)
      bytes += tierMergeFullClasses(spark)
      val baseBytes = graft.sources.Stage.currentTarget(dir)
        .map(t => Hfs.parquetBytes(new Path(t))).getOrElse(0L)
      if (minorRuns.map(parquetBytes).sum >= baseBytes) bytes += major(spark)
      bytes
    }
  }

  /** Force a full fold — base ∪ minors ∪ deltas → one fresh generation.
    * Kept public for batch-style store maintenance; the streaming path
    * goes through [[maybeCompact]]'s leveled policy. */
  def compact(spark: SparkSession): Unit = { major(spark); () }

  /** OFFLINE rewrite — fold the whole store through `f` into one fresh
    * generation (the major-fold commit discipline: consumed-input
    * manifest, atomic CURRENT swap, then dead generations / consumed
    * runs / consumed deltas drop — crash-idempotent, see the class doc).
    * The maintenance primitive under [[retentionSweep]] and the claim
    * MIGRATION path (a centroid refresh re-keys every claim's probe
    * partition — `f` maps rows to their new pk). Run between batches;
    * O(store) by design, for passes that are rare by design. */
  def rewrite(spark: SparkSession, f: DataFrame => DataFrame): Unit = {
    majorWith(spark, f)
    ()
  }

  /** RETENTION sweep — the staleness discipline (the publisher's tagged
    * sweep, `operators/Publish.scala`) applied to claim stores: claims
    * carry a batch epoch stamped at append, and this offline pass folds
    * the store KEEPING only claims with `epochCol >= minEpoch`, so a
    * fingerprint whose every claim aged out re-admits (the intended
    * semantic — without it a multi-year stream's monotone claim set
    * grows forever) while in-horizon claims keep rejecting. The sweep
    * is guardrail-aborted BEFORE any rewrite when it would drop more
    * than `maxDropFrac` of the store — a mis-set horizon (or a clock
    * bug feeding epoch 0s) must fail loudly, not silently empty the
    * dedup state. Runs as a major fold, so the swept store lands in the
    * pruned serving layout and the consumed-input manifest makes a
    * crashed sweep finish (never silently un-happen) on the next fold;
    * returns the claim rows dropped. */
  def retentionSweep(spark: SparkSession, minEpoch: Long,
      maxDropFrac: Double): Long = {
    finishPendingCleanup()
    val counted = read(spark).distinct()
      .agg(count(lit(1)).as("total"),
        count(when(col(epochCol) < minEpoch, 1)).as("doomed"))
      .collect()(0)
    val (total, doomed) = (counted.getLong(0), counted.getLong(1))
    if (total == 0L || doomed == 0L) return 0L
    if (doomed.toDouble / total > maxDropFrac)
      throw new GuardrailAbort(
        s"retention sweep on $dir would drop $doomed of $total claims " +
          s"(> $maxDropFrac) — refusing; raise the guardrail to proceed")
    major(spark, keep = Some(col(epochCol) >= minEpoch))
    doomed
  }

  /** MAJOR fold: everything → one fresh `gen=N` (laid out on
    * `partitionCol` when set), stamp the consumed-inputs manifest into
    * it, atomically swap CURRENT at it, then drop dead generations,
    * consumed runs, and consumed deltas (and the manifest, last). Run
    * between batches — the foreachBatch loop is single-threaded, so no
    * append races the fold; a crash at any point loses nothing: before
    * the swap the old CURRENT still covers every byte, after it the
    * manifest excludes the consumed inputs until the next fold deletes
    * them. */
  private def major(spark: SparkSession,
      keep: Option[org.apache.spark.sql.Column] = None): Long =
    majorWith(spark, df => keep.foldLeft(df)(_ filter _))

  private def majorWith(spark: SparkSession, f: DataFrame => DataFrame): Long = {
    if (!Hfs.isDir(dir)) return 0L
    finishPendingCleanup()
    sweepDeadRuns()
    def listGens(): Seq[Path] = Hfs.children(dir)(_.startsWith("gen="))
    val nextName = s"gen=${(listGens().map(
      _.getName.stripPrefix("gen=").toLong) :+ -1L).max + 1}"
    val next = s"$dir/$nextName"
    val consumedDeltas = deltaFiles
    val consumedRuns = listRuns()
    // normalize back to the claim schema: a rewrite may re-derive
    // columns (e.g. a migration re-keys pk), never add or drop them
    val folded = f(read(spark))
      .select(claimCols: _*).distinct()
    partitionCol match {
      case Some(pc) =>
        // one shuffle keyed on the KEY GROUP → at most one file per
        // gen=N/pg=v directory ([[ClaimStore.PgDiv]] keys per group),
        // the pruned serving layout with bounded file count: a
        // one-dir-PER-KEY fold wrote up to key-space (2048) directories
        // of one tiny file each — measured 6-8 s of filesystem metadata
        // per fold for a 666-claim store vs ~1 s for the same rows in
        // ~128 group files (guide §6: small files hurt twice). The key
        // stays a DATA column, each group file SORTED by it, so parquet
        // row-group stats recover per-key selectivity inside the group.
        // The partition count is EXPLICIT so AQE cannot coalesce the
        // write input below real parallelism (cluster-adaptive via
        // defaultParallelism).
        require(!folded.columns.contains(ClaimStore.PgCol),
          s"claim schema must not contain '${ClaimStore.PgCol}' — it is " +
            "the base layout's group column")
        folded
          .withColumn(ClaimStore.PgCol,
            expr(s"int($pc div ${ClaimStore.PgDiv})"))
          .repartition(spark.sparkContext.defaultParallelism,
            col(ClaimStore.PgCol))
          .sortWithinPartitions(pc)
          .write.partitionBy(ClaimStore.PgCol).parquet(next)
      case None =>
        folded.repartition(spark.sparkContext.defaultParallelism)
          .write.parquet(next)
    }
    // the consumed-inputs manifest lands INSIDE the new generation
    // before the swap: committed and visible exactly when the
    // generation is, so a crash after the swap leaves the consumed
    // paths excluded (not resurrected) until cleanup finishes
    Hfs.writeString(new Path(next, ClaimStore.ConsumedManifest),
      (consumedRuns ++ consumedDeltas).map(_.toString).mkString("\n"))
    graft.sources.Stage.atomicRepoint(dir, next)
    // cleanup AFTER the swap: readers resolve CURRENT first, so nothing
    // they can reach disappears under them. Generations compare by FILE
    // NAME — a raw-string compare against `next` would mis-normalize a
    // caller-supplied dir (trailing slash, doubled separators) and
    // delete the just-committed generation. The consumed runs/deltas are
    // cleaned through finishPendingCleanup's confirmed-all-gone
    // discipline: the manifest drops ONLY once every listed input is
    // verified gone — an unconditional manifest delete after a
    // transiently failed input delete would let the surviving delta/run
    // back into reads, resurrecting the very rows a filtered fold
    // (retention sweep, migration) dropped.
    listGens().filter(_.getName != nextName).foreach(p => Hfs.delete(p))
    Hfs.delete(new Path(s"$dir/delta", "_SUCCESS"), recursive = false)
    finishPendingCleanup()
    Hfs.parquetBytes(new Path(next))
  }

  /** Target file count for a run holding this many input bytes — runs
    * stay few-file (they are the SMALL levels) but never collapse a
    * grown run into one giant file. */
  private def runFiles(inBytes: Long): Int =
    math.max(1L, inBytes / (64L << 20) + 1L).toInt

  /** MINOR fold: the consumed deltas alone → one committed plain-layout
    * `minor/run=M` — O(new claims), the base untouched. */
  private def minorFold(spark: SparkSession): Long = {
    sweepDeadRuns()
    val consumed = deltaFiles
    if (consumed.isEmpty) return 0L
    val next = nextRunDir()
    // explicit schema: no footer-inference job (see readWhere)
    spark.read.schema(schema).parquet(consumed.map(_.toString): _*)
      .select(claimCols: _*).distinct()
      .coalesce(runFiles(consumed.map(parquetBytes).sum))
      .write.parquet(next.toString)
    deleteDeltas(consumed)
    parquetBytes(next)
  }

  /** Tier merge: while any log2-size class holds [[RunsPerClass]]+ runs,
    * fold that class into one run (which lands ~2 classes up) — the
    * size-tiered cascade that keeps live-run count O(log store) and
    * never rewrites a larger class to absorb a smaller one. */
  private def tierMergeFullClasses(spark: SparkSession): Long = {
    def sizeClass(bytes: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(bytes, 1L))
    var bytes = 0L
    var merged = true
    while (merged) {
      merged = false
      minorRuns.map(p => (p, sizeClass(parquetBytes(p))))
        .groupBy(_._2).values.find(_.size >= RunsPerClass).foreach { cls =>
          val runs = cls.map(_._1)
          val next = nextRunDir()
          spark.read.schema(schema).parquet(runs.map(_.toString): _*)
            .select(claimCols: _*).distinct()
            .coalesce(runFiles(runs.map(parquetBytes).sum))
            .write.parquet(next.toString)
          runs.foreach(p => Hfs.delete(p))
          bytes += parquetBytes(next)
          merged = true
        }
    }
    bytes
  }

  private def nextRunDir(): Path =
    new Path(s"$dir/minor", s"run=${(listRuns().map(
      _.getName.stripPrefix("run=").toLong) :+ -1L).max + 1}")

  /** Drop crashed (uncommitted) run dirs — their inputs were never
    * deleted, so they hold nothing reachable. */
  private def sweepDeadRuns(): Unit =
    listRuns().filterNot(p => Hfs.exists(new Path(p, "_SUCCESS").toString))
      .foreach(p => Hfs.delete(p))

  /** Delete consumed deltas through the path's own (Checksum)FileSystem
    * so each part file's '.part-*.parquet.crc' sidecar goes with it — a
    * bare nio delete leaves the sidecars accreting in the delta dir,
    * the very unbounded-small-file growth the folds bound. */
  private def deleteDeltas(consumed: Seq[Path]): Unit =
    (consumed :+ new Path(s"$dir/delta", "_SUCCESS"))
      .foreach(p => Hfs.delete(p, recursive = false))
}
