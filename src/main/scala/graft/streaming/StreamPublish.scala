package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.Publish
import graft.sources.Hfs

/** Continuous metadata publishing: a streaming source MERGE-upserted into
  * a BUCKETED versioned snapshot per micro-batch — the reference's
  * canonical loop (Kafka extract → stage → Neo4jCsvPublisher MERGE →
  * offset commit on success, kafka_source_extractor.py:116-130 +
  * neo4j_csv_publisher.py) as one Structured Streaming query.
  *
  * Semantics carried over:
  *  - within-batch last-write-wins before the merge (the reference
  *    applies MERGEs in file order; Publish.lastWriteWins);
  *  - MERGE upsert with publish-tag + epoch stamping for touched rows
  *    (Publish.mergeUpsert), untouched rows RETAINING their previous
  *    stamp — the reference never clears a row's tag, it only re-stamps
  *    what the batch touched;
  *  - each batch's changes land under a fresh `gen=<batchId>` dir, then a
  *    MANIFEST swap atomically commits them — the publisher's
  *    single-logical-commit;
  *  - the checkpoint advances only after the batch function returns, so
  *    a failed publish is redelivered (at-least-once) and re-merging the
  *    same batch is idempotent — exactly the offset-commit-on-success
  *    Callback contract.
  *
  * Scale — why the snapshot is bucketed: a continuous publisher that
  * full-outer-merges and rewrites the WHOLE snapshot every micro-batch
  * pays O(snapshot) write amplification per batch — at a 100 TB snapshot
  * that is the scale-killer in the one component whose point is
  * continuity. Here the snapshot is hash-partitioned into `nBuckets` key
  * buckets; each batch merges and rewrites ONLY the buckets its keys
  * touch (a sparse trickle touches few), and the manifest — a tiny
  * bucket→generation-path table — is what swaps atomically. Untouched
  * buckets' files are never rewritten, re-read, or even listed by the
  * merge; a reader sees the old manifest or the new one, never a partial
  * publish. State lives in the snapshot files, not executor memory, and
  * the per-batch merge shuffles only the incoming batch plus the touched
  * buckets' rows.
  */
object StreamPublish {

  /** Bucket count for the snapshot layout. 16 keeps per-bucket files
    * chunky at gate scale; a 100 TB deployment raises it so one bucket
    * ~= a few GB (the unit of rewrite amplification). */
  val DefaultBuckets = 16

  /** Deterministic key→bucket assignment (xxhash64 is seed-fixed, so the
    * layout is stable across runs and engines). */
  private def bucketOf(keyCol: String, nBuckets: Int): Column =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).cast("int")

  /** The committed snapshot state: which batch produced it, the bucket
    * COUNT the layout was hashed with (part of the snapshot's identity —
    * a reader or a later batch hashing with a different count would look
    * in the wrong dirs, so it rides the manifest and wins over caller
    * parameters), and per bucket the baseDir-relative directory holding
    * that bucket's current rows. The manifest is the atomic-commit
    * unit — bytes on disk are two header lines + one line per non-empty
    * bucket. */
  private[streaming] case class Manifest(batchId: Long, nBuckets: Int,
      buckets: Map[Int, String])

  private[streaming] def readManifest(baseDir: String): Option[Manifest] =
    graft.sources.Stage.currentTarget(baseDir).map { mf =>
      val lines = Hfs.readString(new org.apache.hadoop.fs.Path(mf))
        .linesIterator.toList
      val head = lines.head.split('\t')
      require(head(0) == "batch_id", s"bad manifest header in $mf")
      val nb = lines(1).split('\t')
      require(nb(0) == "n_buckets", s"bad manifest n_buckets line in $mf")
      Manifest(head(1).toLong, nb(1).toInt,
        lines.drop(2).map { l =>
          val a = l.split('\t'); a(0).toInt -> a(1)
        }.toMap)
    }

  /** Write the manifest file (truncating any abandoned attempt's file)
    * and atomically repoint CURRENT at it — the single logical commit.
    * `fileName` overrides the default `manifest-<batchId>` when a commit
    * must not rewrite the file a live CURRENT points at (compaction
    * keeps the batch id but needs a fresh file for the atomic swap). */
  private def commitManifest(baseDir: String, m: Manifest,
      fileName: String = null): Unit = {
    val mf = new org.apache.hadoop.fs.Path(baseDir,
      Option(fileName).getOrElse(s"manifest-${m.batchId}"))
    val body = (Seq(s"batch_id\t${m.batchId}", s"n_buckets\t${m.nBuckets}") ++
      m.buckets.toSeq.sortBy(_._1).map { case (b, p) => s"$b\t$p" })
      .mkString("\n")
    Hfs.writeString(mf, body)
    graft.sources.Stage.atomicRepoint(baseDir, mf.toString)
  }

  /** A generation dir for this batch's writes that no committed bucket
    * path points into: normally `gen=<batchId>`, but after a checkpoint
    * reset the same batch id can recur while live buckets still reference
    * the old `gen=<batchId>` — overwriting it would destroy (or deadlock
    * reading) committed data, so suffix until clear. Deterministic given
    * the committed manifest. */
  private def freshGenDir(batchId: Long, committed: Map[Int, String]): String = {
    val taken = committed.values.map(_.split('/').head).toSet
    Iterator.from(0)
      .map(i => if (i == 0) s"gen=$batchId" else s"gen=$batchId.r$i")
      .find(g => !taken.contains(g)).get
  }

  /** The snapshot's row schema: string key and attributes, then the
    * publish stamps. */
  private def snapshotSchema(keyCol: String, attrCols: Seq[String]): StructType =
    StructType((keyCol +: attrCols :+ "published_tag").map(StructField(_, StringType)) :+
      StructField("publisher_last_updated_epoch_ms", LongType))

  private def emptySnapshot(spark: SparkSession,
      keyCol: String, attrCols: Seq[String]): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      snapshotSchema(keyCol, attrCols))

  /** The given bucket dirs (baseDir-relative) as one scan. With the
    * schema known, the read runs no footer-inference job. */
  private def readBuckets(spark: SparkSession, baseDir: String,
      rels: Iterable[String], schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema)
      .parquet(rels.map(rel => s"$baseDir/$rel").toSeq: _*)

  /** One micro-batch publish step (exposed for specs): LWW → bucket the
    * incoming keys → MERGE against ONLY the touched buckets' prior rows →
    * stamp retention → write the touched buckets under a fresh gen dir →
    * atomic manifest swap. */
  def publishBatch(
      batch: DataFrame,
      batchId: Long,
      baseDir: String,
      keyCol: String,
      attrCols: Seq[String],
      orderCols: Seq[Column],
      tagPrefix: String,
      nBuckets: Int = DefaultBuckets): Unit = {
    val spark = batch.sparkSession
    val committed = readManifest(baseDir)
    // Redelivery guard: a crash AFTER the manifest swap but BEFORE the
    // checkpoint commit redelivers this batch with CURRENT already at
    // manifest-<batchId>. The batch's effect is already durable — re-
    // merging it would double-apply nothing (idempotent) but waste a full
    // rewrite of its buckets, so skip.
    if (committed.exists(_.batchId == batchId)) return
    val committedBuckets = committed.map(_.buckets).getOrElse(Map.empty)
    // an existing snapshot's bucket count IS the layout — adopt it; the
    // caller's parameter only seeds the first commit
    val nb = committed.map(_.nBuckets).getOrElse(nBuckets)
    // snapshot keys are strings (the snapshot schema declares them so) —
    // cast BEFORE hashing, so the batch-side bucket assignment and the
    // post-merge one hash identical bytes even for non-string sources
    val incoming = Publish.lastWriteWins(
      batch.select((keyCol +: attrCols).map(col) ++ orderCols: _*), keyCol, orderCols)
      .select((keyCol +: attrCols).map(col): _*)
      .withColumn(keyCol, col(keyCol).cast("string"))
      .withColumn("_bucket", bucketOf(keyCol, nb))
      .persist()
    // the driver sees only the touched-bucket SET (≤ nBuckets ints),
    // never data rows
    val touched = incoming.select("_bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) { incoming.unpersist(); return }
    val priorRels = touched.flatMap(committedBuckets.get)
    val prior =
      if (priorRels.isEmpty) emptySnapshot(spark, keyCol, attrCols)
      else readBuckets(spark, baseDir, priorRels, Some(snapshotSchema(keyCol, attrCols)))
    val tag = s"$tagPrefix$batchId"
    val merged = Publish.mergeUpsert(prior, incoming.drop("_bucket"),
      keyCol, attrCols, tag, epochMs = batchId)
    // stamp retention: mergeUpsert blanks the tag of rows the batch did
    // not touch; re-join the prior stamps so untouched rows in a TOUCHED
    // bucket keep theirs (untouched buckets are not rewritten at all)
    val prev = prior.select(col(keyCol),
      col("published_tag").as("_pt"), col("publisher_last_updated_epoch_ms").as("_pe"))
    val retained = merged.join(prev, Seq(keyCol), "left")
      .select(
        (keyCol +: attrCols).map(col) :+
          when(col("published_tag") =!= "", col("published_tag"))
            .otherwise(coalesce(col("_pt"), lit(""))).as("published_tag") :+
          when(col("published_tag") =!= "", col("publisher_last_updated_epoch_ms"))
            .otherwise(coalesce(col("_pe"), lit(0L)))
            .as("publisher_last_updated_epoch_ms"): _*)
    val gen = freshGenDir(batchId, committedBuckets)
    // one task (= one file) per bucket: repartition on the bucket key
    // before partitionBy, the small-files discipline (see Stage notes)
    retained.withColumn("bucket", bucketOf(keyCol, nb))
      .repartition(col("bucket"))
      .write.partitionBy("bucket")
      .mode(SaveMode.Overwrite).parquet(s"$baseDir/$gen")
    incoming.unpersist()
    val next = Manifest(batchId, nb,
      committedBuckets ++ touched.map(b => b -> s"$gen/bucket=$b"))
    commitManifest(baseDir, next)
  }

  /** The continuous publisher. `orderCols` define within-batch LWW order;
    * tags are `tagPrefix<batchId>` and epochs the batch id, so reruns are
    * deterministic and specs can assert exact stamps. */
  def publishStream(
      events: DataFrame,
      baseDir: String,
      checkpoint: String,
      keyCol: String,
      attrCols: Seq[String],
      orderCols: Seq[Column],
      tagPrefix: String = "batch_",
      nBuckets: Int = DefaultBuckets): StreamingQuery =
    ClaimGate.start(events, checkpoint) { (batch, batchId) =>
      publishBatch(batch, batchId, baseDir, keyCol, attrCols, orderCols,
        tagPrefix, nBuckets)
    }

  /** Compact the committed snapshot: rewrite every live bucket into ONE
    * fresh generation, swap the manifest, and delete every generation
    * dir and manifest file the new manifest no longer references — the
    * cleanup step for the "old generations remain until cleaned"
    * contract. Run it out-of-band (between batches, like a nightly
    * vacuum): a reader that resolved CURRENT before the swap may still
    * be scanning a dead generation, exactly the caveat the reference's
    * alias-flip cleanup carries. The batch id is preserved, so the
    * redelivery guard's judgment is unchanged. */
  def compact(spark: SparkSession, baseDir: String, keyCol: String): Unit = {
    val m = readManifest(baseDir).getOrElse(return)
    if (m.buckets.isEmpty) return
    val taken = m.buckets.values.map(_.split('/').head).toSet
    val gen = Iterator.from(0).map(i => s"gen=${m.batchId}.c$i")
      .find(g => !taken.contains(g)).get
    // ONE scan over every live bucket dir; the bucket column is
    // recomputed with the writer's own deterministic hash — a per-bucket
    // read + union chain would degenerate at the thousands-of-buckets
    // layout a 100 TB snapshot uses
    readBuckets(spark, baseDir, m.buckets.values, None)
      .withColumn("bucket", bucketOf(keyCol, m.nBuckets))
      .repartition(col("bucket"))
      .write.partitionBy("bucket")
      .mode(SaveMode.Overwrite).parquet(s"$baseDir/$gen")
    commitManifest(baseDir,
      Manifest(m.batchId, m.nBuckets,
        m.buckets.map { case (b, _) => b -> s"$gen/bucket=$b" }),
      fileName = s"manifest-${m.batchId}${gen.stripPrefix(s"gen=${m.batchId}")}")
    // drop the dead generations and superseded manifest files — names
    // compare by FILE NAME (the CURRENT marker may carry a different
    // qualification than the listing)
    val currentName = new org.apache.hadoop.fs.Path(
      graft.sources.Stage.currentTarget(baseDir).get).getName
    Hfs.children(baseDir)(n => n.startsWith("gen=") || n.startsWith("manifest-"))
      .foreach { p =>
        val name = p.getName
        if (name.startsWith("gen=") && name != gen) Hfs.delete(p)
        else if (name.startsWith("manifest-") && name != currentName)
          Hfs.delete(p, recursive = false)
      }
  }

  /** The snapshot's compaction as a [[Maintenance.Action]] — the
    * continuous publisher's store has no retention semantic (it IS the
    * current state), so its nightly maintenance is the dead-generation
    * vacuum alone. Returns 0 rows dropped (compaction is lossless). */
  def maintenanceActions(spark: SparkSession, baseDir: String,
      keyCol: String): Seq[Maintenance.Action] = Seq(
    Maintenance.Action(baseDir, "compact", { () =>
      compact(spark, baseDir, keyCol); 0L
    }))

  /** Read the committed snapshot: the manifest's bucket dirs, as one
    * scan. Bucket dirs are independent parquet roots, so a reader needing
    * only some keys can prune to their buckets — the point of the
    * layout. */
  def readCurrent(spark: SparkSession, baseDir: String): DataFrame =
    readCurrent(spark, baseDir, None)

  private def readCurrent(spark: SparkSession, baseDir: String,
      schema: Option[StructType]): DataFrame = {
    val m = readManifest(baseDir)
      .getOrElse(throw new IllegalStateException(s"no CURRENT manifest in $baseDir"))
    require(m.buckets.nonEmpty, s"empty snapshot manifest in $baseDir")
    readBuckets(spark, baseDir, m.buckets.values, schema)
  }

  /** Point-lookup read: resolve the requested keys' buckets with the
    * SAME hash the writer used, scan only those bucket dirs, and filter
    * to the keys — the 100 TB read path for "current state of these
    * entities": it touches |buckets(keys)|/nBuckets of the snapshot
    * instead of all of it. */
  def readCurrentKeys(spark: SparkSession, baseDir: String, keys: Seq[String],
      keyCol: String): DataFrame = {
    val m = readManifest(baseDir)
      .getOrElse(throw new IllegalStateException(s"no CURRENT manifest in $baseDir"))
    import spark.implicits._
    // the snapshot's OWN bucket count from the manifest — a caller-supplied
    // count could silently probe the wrong dirs
    val wanted = keys.toDF(keyCol)
      .select(bucketOf(keyCol, m.nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val rels = m.buckets.collect { case (b, rel) if wanted(b) => rel }
    if (rels.isEmpty) readCurrent(spark, baseDir).filter(lit(false))
    else readBuckets(spark, baseDir, rels, None).filter(col(keyCol).isin(keys: _*))
  }

  /** Oracle-gated query: stage the events table as two DISJOINT-keyed
    * files (user cohorts), stream them through the continuous publisher
    * one file per micro-batch, and read the folded snapshot back.
    * Because the cohorts are key-disjoint, the fold equals the global
    * per-user last-write-wins regardless of which file becomes batch 0 —
    * so the result is deterministic and SQL-expressible even though
    * FileStreamSource's batch order is not. */
  def streamPublishFoldQuery(spark: SparkSession, dir: String): DataFrame = {
    val fx = ClaimGate.fixture(spark, "graft-spq")
    val base = fx.path("out")
    val ev = graft.sources.Tables(spark, dir, "events")
      .select(col("user_id").cast("string").as("key"),
        col("event_type"),
        col("event_id").cast("string").as("eid"),
        col("ts"), col("event_id"), col("user_id"))
    val src = fx.arrivals("in",
      ev.filter(col("user_id") % 3 === 0).drop("user_id"),
      ev.filter(col("user_id") % 3 =!= 0).drop("user_id"))
    val attrs = Seq("event_type", "eid")
    publishStream(src, base, fx.path("ckpt"), "key", attrs,
      Seq(col("ts"), col("event_id")), "fold_").awaitTermination()
    readCurrent(spark, base, Some(snapshotSchema("key", attrs)))
      .select(col("key"), col("event_type"), col("eid"))
      .orderBy("key")
  }
}
