package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{BucketLineage, DataFileEntry, LakeTable, LineageEntry, Snapshot}
import graft.model.Schemas

/** Result of one merge attempt. */
final case class MergeResult(
    applied: Boolean,
    version: Long,
    rowsInBatch: Long,
    rowsApplied: Long,
    bucketsTouched: Seq[Int],
    durationMs: Long,
    /** True when the merge was STAGED as a WAP intent
      * ([[MergeConfig.wapId]]) instead of committed: the physical work is
      * done and parked under `_staged/<wapId>.json`; nothing is visible
      * until [[graft.lake.LakeTable.publishStaged]]. `applied` is false —
      * the table did not change. */
    staged: Boolean = false,
    /** Envelope-invalid events diverted to the dead-letter directory by
      * `invalidRows = "quarantine"` (0 otherwise). */
    rejectedEvents: Long = 0L)

/** Thrown (before anything commits) when `invalidRows = "fail"` and the
  * batch carries envelope-invalid change events — see
  * [[MergeConfig.invalidRows]]. */
final class PoisonEventException(val count: Long, val epochId: Long)
  extends RuntimeException(
    s"epoch $epochId carries $count envelope-invalid change event(s) " +
      "(null/uncastable lsn or key, op outside {I,U,D}, or an envelope " +
      "value the target schema cannot cast); nothing was committed — " +
      "fix the feed, or run with MergeConfig(invalidRows = \"quarantine\") " +
      "to dead-letter them")

final case class MergeConfig(
    /** Target max rows per file written by a bucket fold (compaction,
      * the copy-on-write fold, rebucket): a fold splits its output into
      * ceil(input rows / maxRowsPerFile) files (skew defense). */
    maxRowsPerFile: Long = 4L * 1000 * 1000,
    /** Physical write mode. Both modes write the epoch's batch as
      * unsorted per-bucket delta files — O(batch) bytes — in the same
      * single Spark action; they differ only in what happens next:
      *  - "mor" (default, merge-on-read): the deltas commit as they are
      *    and readers resolve LWW across a bucket's files; buckets whose
      *    file count exceeds [[maxDeltaFilesPerBucket]] are compacted
      *    back to base files after the commit. This is the
      *    update-heavy-CDC shape (Hudi MoR / Iceberg v2 deletes).
      *  - "cow" (copy-on-write): before committing, each touched bucket
      *    (its live files plus the new deltas) is folded to base files
      *    and the SAME commit replaces the bucket — reads are zero-cost
      *    (one version per key on disk), at the price of rewriting the
      *    whole touched bucket every epoch (O(table) write amplification
      *    when batches scatter across buckets). */
    writeMode: String = "mor",
    /** MoR compaction trigger: max files per bucket before that bucket is
      * folded back to a single base file. */
    maxDeltaFilesPerBucket: Int = 8,
    /** Duplicate-INPUT suppression (the reference's checksum-gated
      * re-runs, reference: engine/wprdc_etl/pipeline/connectors.py:73-93,
      * pipeline.py:338-341): when on, each batch's content fingerprint
      * (count + order-independent row-hash combine over ALL envelope
      * columns) is compared against the previous applied batch's — equal
      * content, even redelivered under a NEW feed file name / epoch id,
      * commits a 0-row skip entry instead of re-applying. Costs one
      * extra aggregate action over the batch per epoch; off by default
      * (the epoch guard already covers same-epoch redelivery — this gate
      * exists for content that re-lands as a new file). */
    inputChecksumGate: Boolean = false,
    /** Writer identity for app-scoped idempotence (Delta's
      * txnAppId/txnVersion). `None` (default): epoch ids live in the
      * table's single global epoch space — right for THE feed that owns
      * the table. `Some(app)`: epoch ids are scoped to this writer in
      * the snapshot's txn map, so an independent writer (a streaming
      * sink attached to a table other jobs already seeded) whose batch
      * ids start at 0 can never collide with the global watermark and
      * silently no-op. */
    txnApp: Option[String] = None,
    /** Poison-event policy for envelope-invalid change events — null/
      * uncastable `lsn`, an op outside {I, U, D}, a null or uncastable
      * key column, or any envelope value the merge's ANSI cast would
      * blow up on (the reference raises on schema-invalid rows:
      * marshmallow validation in engine/wprdc_etl/pipeline/pipeline.py —
      * silently upserting a null-keyed row corrupts the table instead):
      *  - "fail" (default): abort the merge with [[PoisonEventException]]
      *    BEFORE anything commits — loud, like the reference. Nothing
      *    lands; crash-orphaned delta files are reclaimed the standard
      *    way (vacuumOrphans).
      *  - "quarantine": divert invalid events to
      *    `<table>/_rejects/<app>/epoch=<id>/` (parquet, with a
      *    `reject_reason` column; overwrite ⇒ idempotent under replay),
      *    apply the valid remainder, and record `rejectedEvents` in the
      *    commit's lineage row — the dead-letter queue a production tail
      *    runs with, because one poison event must not stall 10^10.
      *  - "off": trust the feed (no validation expressions in the plan).
      * Validation rides the merge's OWN first action as an `observe`
      * metric plus a codegen'd filter — zero extra Spark jobs when the
      * batch is clean; quarantine pays one extra (rare-path) action to
      * write the rejects. */
    invalidRows: String = "fail",
    /** Write-audit-publish (Iceberg WAP): `Some(id)` runs the merge's full
      * physical plan but STAGES the outcome as a durable commit intent
      * (`_staged/<id>.json`) instead of publishing it — the table is
      * unchanged until `table.publishStaged(id)` replays the intent
      * through the ordinary commit protocol (or `abortStaged` discards
      * it). Audit reads: `table.readStaged(id)` / `stagedChanges(id)`.
      * Restaging an id that already has a pending intent adopts the
      * existing intent (idempotent under crash-retry); MoR delta stages
      * compose with commits that land in between (LWW by LSN), COW bucket
      * rewrites conflict at publish if their buckets moved. */
    wapId: Option[String] = None) {
  // every surface (library, sink, batch writer) fails on a misspelled
  // policy here, instead of silently running the default
  require(writeMode == "mor" || writeMode == "cow",
    s"writeMode must be mor or cow, got '$writeMode'")
  require(Set("fail", "quarantine", "off").contains(invalidRows),
    s"invalidRows must be fail, quarantine, or off, got '$invalidRows'")
}

/** The MERGE kernel (SURVEY.md §4 item 1, §7.1 item 4): applies one
  * micro-batch of change events to a [[LakeTable]] as an idempotent
  * last-writer-wins (LWW) upsert keyed on `(conv_id, turn_idx)` — the
  * highest-`__lsn` event per key wins.
  *
  * Replaces the reference's server-side Postgres `datastore_upsert`
  * (reference: engine/wprdc_etl/pipeline/loaders.py:507-533) with a
  * distributed plan of built-in operators:
  *
  *  1. **Delta write**: the batch is shuffled once to bucket layout and
  *     written, unsorted and undeduplicated, as per-bucket delta files;
  *     batch statistics and envelope validation ride the same action.
  *  2. **Bucket pruning**: nothing outside the batch's buckets is read
  *     or rewritten; all other files carry over by reference.
  *  3. **Cross-batch LWW**, one rule in two places: readers resolve a
  *     bucket's files with [[LakeTable.lwwResolve]], and
  *     [[LakeTable.foldLww]] (compaction, and copy-on-write's in-commit
  *     fold of the touched buckets) rewrites them to one version per
  *     key. Both keep `D` tombstones, so out-of-order delivery resolves
  *     correctly and a late lower-LSN update cannot resurrect a delete.
  *  4. **Bounded files**: a fold sizes its output from the manifest's
  *     row counts, ceil(rows / maxRowsPerFile) files per bucket, so hot
  *     buckets are split deterministically rather than reactively.
  *  5. **Idempotent commit**: the epoch guard makes redelivered epochs
  *     no-ops (exactly-once on top of at-least-once).
  */
object MergeApply {

  private val KEY = Schemas.keyCols

  /** Normalize a raw change-event frame to the on-disk layout: user
    * columns + `__lsn` + `__op` (I and U both become upsert `U`). Columns
    * the table gained through schema-registry evolution are not top-level
    * envelope fields — they are projected out of the open `extras` map
    * (cast from string to the registered type); a feed without `extras`
    * yields nulls for them. */
  def normalize(batch: DataFrame, userSchema: StructType): DataFrame = {
    val present = batch.columns.toSet
    val cols = userSchema.fields.toSeq.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else if (present.contains("extras"))
        element_at(col("extras"), f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    batch.select(cols ++ Seq(
      col("lsn").cast(LongType).as("__lsn"),
      when(col("op") === "D", lit("D")).otherwise(lit("U")).as("__op")): _*)
  }

  /** The table's event-time column for watermark/late-data stats —
    * [[Snapshot.eventTimeColumn]], shared with the batch relation's
    * time pruning. Feeds with no event-time column simply carry no
    * event-time lineage stats. */
  private def eventTimeCol(snap: Snapshot): Option[String] =
    snap.eventTimeColumn

  /** Apply the table's opt-in bloom indexing
    * ([[graft.lake.LakeTable.BloomColumnsProp]]) to a FILE-GROUP-REWRITE
    * writer — every base-file fold: compaction, rebucket, and the
    * copy-on-write fold of an epoch's touched buckets; never the
    * per-epoch delta write, which must stay lean. Adaptive sizing: parquet
    * builds candidate blooms and keeps the one matching the file's
    * actual NDV, so small buckets don't pay a fixed-size filter.
    * Unknown/dropped column names are ignored (schema evolution may
    * remove a bloomed column; the property need not be re-edited). */
  private def withBloom(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      snap: Snapshot)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    // resolve case-insensitively (Spark SQL's default) but emit the
    // SCHEMA's spelling — the parquet column path is case-sensitive
    val cols = snap.properties
      .get(graft.lake.LakeTable.BloomColumnsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .flatMap(c => snap.userSchema.fieldNames.find(_.equalsIgnoreCase(c)))
      .distinct
    if (cols.isEmpty) w
    else cols.foldLeft(w.option("parquet.bloom.filter.adaptive.enabled",
      "true"))((w2, c) => w2.option(s"parquet.bloom.filter.enabled#$c", "true"))
  }

  /** Lineage watermark string format. Rendered by `date_format` INSIDE
    * the job — i.e. in the SESSION timezone — so the next epoch's
    * `cast(TimestampType)` (also session-tz) round-trips to the same
    * instant. Collecting a Timestamp and calling `toString` would render
    * in the JVM DEFAULT timezone instead, skewing late-event counts by
    * the zone offset whenever the two differ (and `toString`'s format
    * changes under the java8API flag). Fixed-width microseconds keep the
    * driver-side lexicographic max chronological. */
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Idempotence guard under either epoch space (see
    * [[MergeConfig.txnApp]]). */
  private def alreadyCommitted(snap: Snapshot, epochId: Long,
      cfg: MergeConfig): Boolean = cfg.txnApp match {
    case Some(app) => snap.txns.get(app).exists(epochId <= _.batch)
    case None => snap.isCommitted(epochId)
  }

  /** Route an epoch id into the commit's global-epoch or app-txn slot. */
  private[graft] def epochArgs(cfg: MergeConfig, epochId: Long)
      : (Option[Long], Option[(String, Long)]) = cfg.txnApp match {
    case Some(app) => (None, Some(app -> epochId))
    case None => (Some(epochId), None)
  }

  /** The one commit seam every merge path funnels through: publish the
    * outcome, or — under [[MergeConfig.wapId]] — park it as a staged WAP
    * intent. Returns the committed snapshot, or `None` when staged (the
    * table stays at `snap.version`). */
  private def stageOrCommit(table: LakeTable, snap: Snapshot,
      files: Seq[DataFileEntry], replaced: Set[Int],
      epochId: Long, cfg: MergeConfig,
      entry: LineageEntry): Option[Snapshot] = {
    val (eid, txn) = epochArgs(cfg, epochId)
    cfg.wapId match {
      case Some(id) =>
        table.stageIntent(graft.lake.StagedIntent(id, snap.version,
          snap.nBuckets, files, replaced.toSeq.sorted, eid,
          txn.map(_._1), txn.map(_._2), Some(entry),
          System.currentTimeMillis()))
        None
      case None =>
        Some(table.commit(snap, files, replaced, eid, Some(entry), txn = txn))
    }
  }

  /** Delete the (uncommitted) output dir `files` were written into —
    * `data/<dir>/__bucket=N/part-*`. */
  private def discard(table: LakeTable, files: Seq[DataFileEntry]): Unit =
    if (files.nonEmpty) {
      val dir = new Path(files.head.path).getParent.getParent
      dir.getFileSystem(table.spark.sessionState.newHadoopConf())
        .delete(dir, true): Unit
    }

  /** Read the schema-event probe: (lsn, payload) of every op="S" row the
    * observed action saw. Collecting registry rows on the driver is
    * bounded by design — schema changes are a handful of events in
    * 10^10, the same assumption mergeGuarded's eager fallback makes. */
  private def probeEvents(obs: Option[org.apache.spark.sql.Observation])
      : Seq[(Long, String)] =
    // a zero-row batch runs zero tasks, so the observation resolves to an
    // EMPTY metric map — and an empty batch carries no registry rows
    obs.flatMap(_.get.get("sevents"))
      .map(_.asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
        .toSeq.map(r => (r.getLong(0), r.getString(1))))
      .getOrElse(Nil)

  /** NULL for a well-formed change event, else a short reject-reason
    * code. Covers the event IDENTITY — `lsn` non-null and castable, `op`
    * inside {I, U, D}, every key column present, non-null, and castable —
    * plus castability of every envelope value [[normalize]] will
    * ANSI-cast (raw column or `extras` fallback, the same resolution
    * normalize uses), so a quarantined feed can never crash the merge
    * plan mid-write. Pure codegen'd expressions; no UDF. */
  private def invalidReasonExpr(batch: DataFrame, userSchema: StructType)
      : Column = {
    val present = batch.columns.toSet
    def rawOf(name: String): Option[Column] =
      if (present.contains(name)) Some(col(name))
      else if (present.contains("extras"))
        Some(element_at(col("extras"), name))
      else None
    val keySet = KEY.toSet
    val fieldChecks = userSchema.fields.toSeq.flatMap { f =>
      rawOf(f.name).toSeq.flatMap { c =>
        val uncastable = c.isNotNull && c.try_cast(f.dataType).isNull
        if (keySet.contains(f.name))
          Seq(c.isNull -> s"null_key:${f.name}",
            uncastable -> s"bad_cast:${f.name}")
        else Seq(uncastable -> s"bad_cast:${f.name}")
      }
    }
    // a key column absent from BOTH the envelope and extras is null for
    // every row of the batch
    val missingKeys = KEY.filter(rawOf(_).isEmpty)
      .map(k => lit(true) -> s"null_key:$k")
    val checks = Seq(
      col("lsn").isNull -> "null_lsn",
      (col("lsn").isNotNull && col("lsn").try_cast(LongType).isNull)
        -> "bad_lsn",
      (col("op").isNull || !col("op").isin("I", "U", "D")) -> "bad_op") ++
      missingKeys ++ fieldChecks
    checks.foldRight(lit(null).cast(StringType)) { case ((p, r), acc) =>
      when(p, lit(r)).otherwise(acc)
    }
  }

  /** Attach envelope validation ([[MergeConfig.invalidRows]]) to the
    * batch: an `observe` metric counting invalid events — it rides the
    * merge's own first action, no extra Spark job — plus a codegen'd
    * filter dropping them from the plan. Returns the guarded frame and
    * the observation (`None` when validation is off). */
  private def validationWrap(dataBatch: DataFrame, userSchema: StructType,
      cfg: MergeConfig)
      : (DataFrame, Option[org.apache.spark.sql.Observation]) = {
    if (cfg.invalidRows == "off") (dataBatch, None)
    else {
      val bad = invalidReasonExpr(dataBatch, userSchema).isNotNull
      val io = org.apache.spark.sql.Observation()
      (dataBatch.observe(io, count(when(bad, lit(1))).as("invalid"))
        .filter(!bad), Some(io))
    }
  }

  /** Resolve the validation observation AFTER the merge's first action.
    * Clean batch (or validation off): returns 0. Fail mode: reclaims
    * `written` (uncommitted output files) and throws
    * [[PoisonEventException]] — nothing was committed. Quarantine mode:
    * writes the invalid events with their `reject_reason` to
    * `<table>/_rejects/<app>/epoch=<id>/` — an OVERWRITE per epoch, so a
    * replayed epoch re-quarantines to the identical dead-letter set —
    * and returns the count for the commit's lineage row. */
  private def resolveInvalid(table: LakeTable, rawBatch: DataFrame,
      userSchema: StructType, epochId: Long, cfg: MergeConfig,
      n: Long, written: Seq[DataFileEntry]): Long = {
    if (n == 0L) return 0L
    if (cfg.invalidRows != "quarantine") {
      discard(table, written)
      throw new PoisonEventException(n, epochId)
    }
    // writer identities can be arbitrary strings (the sink derives them
    // from checkpoint URIs — colons, slashes): slug them for the path,
    // keeping distinct identities distinct via a hash suffix
    val app = cfg.txnApp.map { a =>
      val slug = a.replaceAll("[^A-Za-z0-9._-]", "_")
      if (slug == a) a else s"$slug-${Integer.toHexString(a.hashCode)}"
    }.getOrElse("_global")
    val dest = new Path(new Path(table.dir, "_rejects"),
      s"$app/epoch=$epochId")
    rawBatch
      .withColumn("reject_reason", invalidReasonExpr(rawBatch, userSchema))
      .filter(col("reject_reason").isNotNull)
      .write.mode("overwrite").parquet(dest.toString)
    n
  }

  /** Order-independent content fingerprint of a batch: row count + two
    * combines (XOR and exact decimal SUM — the sum breaks XOR's
    * even-multiplicity cancellation, the decimal breaks ANSI long
    * overflow at 10^10 rows) of per-row xxhash64 over every envelope
    * column AND its null flag — Spark's hash functions SKIP null inputs
    * (the seed passes through unchanged), so without the flags two rows
    * differing only by which column holds the null would collide. One
    * aggregate action, map-side partial, no shuffle of payload.
    * Map-typed columns (the v2 `extras`) hash via to_json. */
  private def batchFingerprint(batch: DataFrame): (Long, String) = {
    val cols = batch.schema.fields.toSeq.flatMap { f =>
      val c = f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
      Seq(c, col(f.name).isNull)
    }
    val r = batch.select(xxhash64(cols: _*).as("__h"))
      .agg(count(lit(1)), expr("bit_xor(__h)"),
        sum(col("__h").cast(DecimalType(38, 0)))).head()
    val cnt = r.getLong(0)
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) "0" else r.getDecimal(2).toPlainString
    (cnt, s"$cnt:${java.lang.Long.toHexString(x)}:$s")
  }

  /** Most recent applied-batch fingerprint recorded in the snapshot's
    * inline lineage (compaction and gate-off entries carry ""). */
  private def lastChecksum(snap: Snapshot): Option[String] =
    snap.lineage.reverseIterator.find(_.inputChecksum.nonEmpty)
      .map(_.inputChecksum)

  /** Apply one batch. `batch` must have the change-event envelope columns
    * (`lsn`, `op`, key + payload). Returns a no-op result if `epochId` was
    * already committed (exactly-once guard) — including when a CONCURRENT
    * writer commits it mid-attempt (the commit's rebase path surfaces that
    * as [[graft.lake.EpochSupersededException]]; the loser's unpublished
    * files are vacuumOrphans' to reclaim). */
  def merge(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: MergeConfig = MergeConfig()): MergeResult =
    land(table, batch, epochId, cfg, replace = false)

  /** Atomic whole-table overwrite: ONE commit that both retires every
    * bucket and registers the batch (the truncate-then-load two-commit
    * shape publishes an empty table to concurrent readers between the
    * commits, and a crash between them loses the data). Runs [[merge]]'s
    * guard, retry loop and attempt — same envelope, validation, epoch,
    * checksum and WAP contract — except that its one write action
    * LWW-resolves the batch ([[LakeTable.lwwResolve]]) and lands it as
    * `base` files, one version per key, no MoR resolution needed on read.
    * A zero-row batch empties the table. Backs `SaveMode.Overwrite` in
    * [[graft.lake.GraftBatchWrite]]. */
  def replace(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: MergeConfig = MergeConfig()): MergeResult =
    land(table, batch, epochId, cfg, replace = true)

  private def land(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: MergeConfig, replace: Boolean): MergeResult = {
    val t0 = System.nanoTime()
    val snap0 = table.snapshot
    if (alreadyCommitted(snap0, epochId, cfg)) {
      return MergeResult(applied = false, snap0.version, 0L, 0L, Nil,
        (System.nanoTime() - t0) / 1000000L)
    }
    // WAP crash-retry: a pending intent under this wapId IS this merge's
    // outcome (stageIntent is create-if-absent — the physical work
    // already ran). Adopt it instead of re-writing files the intent
    // doesn't reference.
    cfg.wapId.filter(table.stagedIds.contains).foreach { id =>
      val it = table.stagedIntent(id)
      return MergeResult(applied = false, snap0.version,
        it.lineage.map(_.rowsInBatch).getOrElse(0L),
        0L, it.files.map(_.bucket).distinct.sorted,
        (System.nanoTime() - t0) / 1000000L, staged = true)
    }
    // duplicate-INPUT suppression: identical batch content (even under a
    // new epoch id / feed file name) commits a 0-row skip entry — the
    // epoch watermark stays contiguous and the skip is audited in
    // lineage — instead of re-applying (reference checksum gate,
    // connectors.py:73-93, pipeline.py:338-341)
    val (fpRows, fp) =
      if (cfg.inputChecksumGate) batchFingerprint(batch) else (0L, "")
    // a copy-on-write or replace attempt that raced another writer into
    // buckets it retires must RECOMPUTE, not rebase — the bucket contents
    // it built on are stale. Recompute is the whole-operation retry of the
    // Iceberg commit model; each attempt reads a fresh snapshot. Two COW
    // writers in steady contention can invalidate each other indefinitely
    // (a recompute takes about as long as the peer's commit interval), so
    // the retry backs off with jitter to desynchronize them. (MoR appends
    // never take this path — they rebase inside commit.) The checksum-gate
    // skip commit sits INSIDE the loop so a conflict on the 0-row commit
    // retries like every other path instead of escaping to the caller —
    // and each attempt re-reads the snapshot, so a racer's checksum or
    // epoch commit is honored.
    var conflictRetries = 0
    while (true) {
      try {
        if (fp.nonEmpty) {
          val snap = table.snapshot
          if (alreadyCommitted(snap, epochId, cfg))
            return MergeResult(applied = false, snap.version, 0L, 0L, Nil,
              (System.nanoTime() - t0) / 1000000L)
          if (lastChecksum(snap).contains(fp)) {
            val entry = LineageEntry(epochId, snap.version + 1, fpRows, 0L,
              Nil, 0, snap.files.size, -1L, "",
              (System.nanoTime() - t0) / 1000000L, inputChecksum = fp)
            val c = stageOrCommit(table, snap, Nil, Set.empty, epochId,
              cfg, entry)
            return MergeResult(applied = false, c.fold(snap.version)(_.version),
              fpRows, 0L, Nil, (System.nanoTime() - t0) / 1000000L,
              staged = c.isEmpty)
          }
        }
        return mergeGuarded(table, batch, epochId, cfg, t0, fp, replace)
      } catch {
        case _: graft.lake.EpochSupersededException =>
          return MergeResult(applied = false, table.snapshot.version, 0L, 0L,
            Nil, (System.nanoTime() - t0) / 1000000L)
        case e: graft.lake.CommitConflictException =>
          conflictRetries += 1
          if (conflictRetries > 8) throw e
          Thread.sleep(
            (math.min(400, 25 << (conflictRetries - 1)) * math.random()).toLong)
      }
    }
    sys.error("unreachable")
  }

  private def mergeGuarded(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: MergeConfig, t0: Long, checksum: String,
      replace: Boolean): MergeResult = {
    val hasExtras = batch.columns.contains("extras")
    val attempt =
      try mergeAttempt(table, batch, epochId, cfg, t0, probe = hasExtras,
        checksum, replace)
      catch {
        case e: Throwable
            if hasExtras && scala.util.control.NonFatal(e) &&
              !e.isInstanceOf[graft.lake.CommitConflictException] &&
              !e.isInstanceOf[graft.lake.EpochSupersededException] =>
          // the attempted action itself can FAIL under the pre-evolution
          // schema — e.g. a widen event followed by a value that only
          // fits the widened type blows up the old-type ANSI cast before
          // the probe observation resolves. Fall back to eager detection;
          // a genuine failure (no registry rows) is rethrown. The lake
          // concurrency exceptions are EXCLUDED: they mean the attempt
          // lost a commit race, not that the probe failed — they must
          // reach merge()'s retry loop, not trigger a duplicate attempt.
          val events = batch.filter(col("op") === "S")
            .select(col("lsn"), col("text")).collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq
          if (events.isEmpty) throw e
          Left(events)
      }
    attempt match {
      case Right(r) => r
      case Left(events) =>
        // rare path: the probe surfaced schema-registry rows — evolve the
        // schema in LSN order (idempotent commits of their own), then
        // redo the attempt under the new schema. Nothing from the first
        // attempt was committed.
        events.sortBy(_._1).foreach(e => SchemaRegistry(table, e._2))
        mergeAttempt(table, batch, epochId, cfg, t0, probe = false,
          checksum, replace)
          .getOrElse(throw new IllegalStateException(
            "schema probe fired on the retry attempt"))
    }
  }

  /** One merge attempt: ONE Spark action writes the batch as per-bucket
    * delta files — nothing existing is read or rewritten. Batch statistics
    * for lineage ride on the same action via `observe` (no separate stats
    * job — per-epoch driver constants were measured to cap local scaling
    * long before CPU did). Merge-on-read then commits the deltas and folds
    * buckets whose file count exceeds the compaction threshold back to
    * base files; copy-on-write instead folds every touched bucket (its
    * live files plus the new deltas) with the compaction kernel and
    * commits the fold in place of the deltas, replacing those buckets.
    * Under `replace` the write action LWW-resolves the batch and writes it
    * as base files instead, committed with EVERY bucket retired.
    *
    * When `probe` is set the batch MAY contain schema-registry rows
    * (op = "S"): rather than paying a dedicated detection action up front
    * (one extra Spark job per v2 batch, schema events present or not),
    * their (lsn, payload) ride an `Observation` on the write action. A
    * non-empty observation aborts the attempt BEFORE anything commits —
    * the uncommitted delta files are discarded — and returns the events
    * for [[merge]] to apply and retry. Schema events are a handful in
    * 10^10, so the common v2 path pays zero extra actions and the rare
    * path pays one redo. */
  private def mergeAttempt(table: LakeTable, batch: DataFrame, epochId: Long,
      cfg: MergeConfig, t0: Long, probe: Boolean, checksum: String,
      replace: Boolean): Either[Seq[(Long, String)], MergeResult] = {
    val hasExtras = batch.columns.contains("extras")
    val (dataBatch0, probeObs) =
      if (!hasExtras) (batch, None)
      else if (probe) {
        val obs = org.apache.spark.sql.Observation()
        val observed = batch.observe(obs, collect_list(when(
          col("op") === "S", struct(col("lsn"), col("text")))).as("sevents"))
        (observed.filter(col("op") =!= "S"), Some(obs))
      } else (batch.filter(col("op") =!= "S"), None)
    val snap = table.snapshot
    val nB = snap.nBuckets

    // envelope validation rides the write action (observe + filter — no
    // extra job); resolved once that action ran
    val (dataBatch, invalidObs) =
      validationWrap(dataBatch0, snap.userSchema, cfg)

    val timing = sys.env.contains("GRAFT_MERGE_TIMING")
    var tPhase = System.nanoTime()
    def lap(name: String): Unit = if (timing) {
      System.err.println(f"[merge-timing] epoch=$epochId $name ${(System.nanoTime() - tPhase) / 1e9}%.2f s")
      tPhase = System.nanoTime()
    }

    // previous commit's event-time high-watermark -> late-data metric
    // (rides on the same observe; no extra job). Compaction entries
    // (epochId = -1) carry no watermark and are skipped.
    val tsCol = eventTimeCol(snap)
    val prevWm = snap.lineage.reverseIterator
      .find(e => e.epochId >= 0 && e.watermarkTs.nonEmpty).map(_.watermarkTs)
    val obs = org.apache.spark.sql.Observation()
    val aggs = Seq(count(lit(1)).as("rows"), max(col("__lsn")).as("maxLsn"),
      min(col("__lsn")).as("minLsn"),
      tsCol.map(c => date_format(max(col(c)), TsFmt))
        .getOrElse(max(lit(null).cast(TimestampType)).cast(StringType))
        .as("maxTs")) ++
      (for { c <- tsCol; w <- prevWm } yield
        count(when(col(c) < lit(w).cast(TimestampType), 1)).as("late"))
    val observed = normalize(dataBatch, snap.userSchema)
      .withColumn("__bucket", LakeTable.bucketExpr(nB))
      .observe(obs, aggs.head, aggs.tail: _*)
    // no dedup, no sort: a delta file may hold several versions of a key
    // (even intra-batch) — the read path LWW-resolves and every fold
    // folds, both by __lsn, so deferring is exactly as correct and the
    // epoch's critical path is scan -> shuffle-to-bucket -> write.
    // Shuffle TARGET: repartition(nBuckets, conv_id) — Spark's hash
    // partitioning computes pmod(murmur3(conv_id), nBuckets), the exact
    // bucket function, so shuffle partition i holds exactly bucket i.
    // The naive repartition(col("__bucket")) re-hashes the 32 bucket
    // VALUES into 32 partitions — balls-in-bins: ~1/e of partitions
    // empty, the largest carrying 3-4 buckets — idling cores in the
    // epoch's dominant stage; identity alignment keeps every write task
    // equally loaded and each task writes exactly one __bucket=N dir.
    // A replace resolves the batch to one version per key on the way
    // (the same exchange plus a window) and lands base files.
    val written =
      if (replace) writeBuckets(table, LakeTable.lwwResolve(observed, nB),
        salt = 1, snap, prePartitioned = true, kind = "base")
      else writeBuckets(table, observed.repartition(nB, col("conv_id")),
        salt = 1, snap, prePartitioned = true, kind = "delta")
    lap("delta-write")
    // a replace retires the FULL bucket space, not just buckets with live
    // files at the read snapshot: rebase's conflict signature covers
    // exactly the retired buckets, so a concurrent append into a bucket
    // that was EMPTY here must land in the signature too — otherwise its
    // rows would silently survive the whole-table replace while the same
    // append into a populated bucket gets conflict-retried
    val replaced = if (replace) (0 until nB).toSet else Set.empty[Int]
    val carried = if (replace) 0 else snap.files.size
    // the schema probe rode the same write action; abort before commit
    // if registry rows surfaced, discarding the uncommitted delta files
    val sev = probeEvents(probeObs)
    if (sev.nonEmpty) {
      discard(table, written)
      return Left(sev)
    }
    // a zero-output batch (a truly empty micro-batch — streaming restarts
    // trigger those for metadata-only offset changes — OR a batch whose
    // rows were ALL consumed by the S/validation filters) may have run
    // zero tasks, resolving both observations to empty maps (a
    // local-relation batch even folds its filters at optimization time)
    // — an S event or a poison row must not vanish into a 0-row commit.
    // Re-check both with dedicated (tiny) actions before committing the
    // 0-row entry: a widen event arriving in the same batch as the first
    // value needing it is EXACTLY this shape (the value is invalid
    // pre-widen, so the filter empties the batch). The epoch must still
    // land — the committed-epoch watermark stays CONTIGUOUS (a skipped
    // epoch id would hold the watermark back forever and defeat the
    // bounded recent-set guard). A replace still retires every bucket.
    if (written.isEmpty) {
      val sevE =
        if (probeObs.isEmpty) Nil
        else batch.filter(col("op") === "S").select(col("lsn"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      if (sevE.nonEmpty) return Left(sevE) // nothing written: no cleanup
      val rejected =
        if (invalidObs.isEmpty) 0L
        else resolveInvalid(table, dataBatch0, snap.userSchema, epochId, cfg,
          dataBatch0.where(
            invalidReasonExpr(dataBatch0, snap.userSchema).isNotNull).count(),
          Nil)
      val entry = LineageEntry(epochId, snap.version + 1, 0L, 0L, Nil, 0,
        carried, -1L, "", (System.nanoTime() - t0) / 1000000L,
        inputChecksum = checksum, rejectedEvents = rejected)
      val c = stageOrCommit(table, snap, Nil, replaced, epochId, cfg, entry)
      return Right(MergeResult(applied = c.nonEmpty,
        c.fold(snap.version)(_.version), 0L, 0L, Nil,
        (System.nanoTime() - t0) / 1000000L, staged = c.isEmpty,
        rejectedEvents = rejected))
    }
    // envelope validation resolved on the write action (files exist, so
    // tasks ran and the observation is authoritative): fail mode reclaims
    // the uncommitted deltas and throws; quarantine mode dead-letters the
    // invalid events and applies the valid remainder
    val rejected = resolveInvalid(table, dataBatch0, snap.userSchema,
      epochId, cfg, invalidObs.flatMap(_.get.get("invalid"))
        .flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L),
      written)
    val m = obs.get
    val batchRows = m("rows").asInstanceOf[Long]
    val buckets = written.map(_.bucket).distinct.sorted
    def entry(filesWritten: Int, filesCarried: Int) = LineageEntry(epochId,
      snap.version + 1, batchRows, batchRows, buckets, filesWritten,
      filesCarried, Option(m("maxLsn")).map(_.asInstanceOf[Long])
        .getOrElse(-1L), Option(m("maxTs")).map(_.toString).getOrElse(""),
      (System.nanoTime() - t0) / 1000000L,
      lateEvents = m.get("late").flatMap(Option(_))
        .map(_.asInstanceOf[Long]).getOrElse(0L),
      minLsn = Option(m("minLsn")).map(_.asInstanceOf[Long]).getOrElse(-1L),
      // the written files hold exactly this batch (a replace's resolved to
      // one version per key), so their manifest entries ARE its
      // per-partition rows + LSN ranges (footer stats) — even when COW
      // commits the fold instead
      partitions = partitionsOf(written), inputChecksum = checksum,
      watermarkCol = tsCol.getOrElse(""), rejectedEvents = rejected)
    def result(committed: Option[Snapshot], version: Long) =
      MergeResult(applied = committed.nonEmpty, version, batchRows, batchRows,
        buckets, (System.nanoTime() - t0) / 1000000L,
        staged = committed.isEmpty, rejectedEvents = rejected)

    if (cfg.writeMode == "cow" && !replace) {
      // fold each touched bucket — its live files plus the deltas — and
      // commit (or stage) the fold in place of both, replacing the
      // buckets. The fold carries this epoch's arrivals, so it is stamped
      // rewrite but NOT fold: a change window starting at this commit's
      // parent must still read it. A racer into a touched bucket makes
      // the commit conflict and merge() recomputes; the deltas are
      // consumed either way.
      val touched = buckets.toSet
      try {
        val folded = foldBuckets(table, snap,
          snap.files.filter(f => touched.contains(f.bucket)) ++ written,
          cfg.maxRowsPerFile).map(_.copy(rewrite = true))
        lap("cow-fold")
        val untouched = snap.files.count(f => !touched.contains(f.bucket))
        val c = stageOrCommit(table, snap, folded, touched, epochId, cfg,
          entry(folded.size, untouched))
        return Right(result(c, c.fold(snap.version)(_.version)))
      } finally discard(table, written)
    }
    stageOrCommit(table, snap, written, replaced, epochId, cfg,
      entry(written.size, carried)) match {
      // staged: nothing committed — the staged deltas fold (if over
      // threshold) in the first post-publish epoch's sweep
      case None => Right(result(None, snap.version))
      case Some(committed) =>
        // amortized compaction: fold over-threshold buckets back to base
        val toCompact = committed.files.groupBy(_.bucket).collect {
          case (b, fs) if fs.size > cfg.maxDeltaFilesPerBucket => b
        }.toSet
        if (toCompact.nonEmpty) {
          // compaction is state-neutral housekeeping: if a concurrent
          // writer lands a delta in a bucket mid-fold, yield — the ingest
          // wins, and the still-over-threshold bucket retriggers next epoch
          try {
            compactBuckets(table, toCompact, cfg, at = Some(committed))
            lap(s"mor-compact(${toCompact.size})")
          } catch { case _: graft.lake.CommitConflictException => () }
        }
        Right(result(Some(committed), table.snapshot.version))
    }
  }

  /** Fold `files` bucket by bucket with [[LakeTable.foldLww]] into base
    * files under one fresh output dir, sized ceil(input rows /
    * `maxRowsPerFile`) files per bucket, and return their manifest
    * entries — unstamped and uncommitted: the caller decides what the
    * rewrite is. Buckets whose rows all drop (only under `purgeRewrite`)
    * yield no entry.
    *
    * Plan shape: one INDEPENDENT job per bucket, submitted concurrently
    * from a bounded driver pool. A bucket's rows live only in that
    * bucket's files, so folding it needs no data from anywhere else — a
    * global scan + repartition(__bucket) + window (the naive plan) would
    * shuffle the union of all buckets through one exchange and, at low
    * parallelism, push multi-GB partitions into external sort (measured:
    * the global fold cost 2-3x the whole streaming replay at 1-4 cores).
    * Per-bucket jobs keep each unit at ~bucket size (bounded, in-memory
    * hash agg), overlap scheduling latency across the pool, and write
    * straight into the `__bucket=N` layout with no exchange wider than
    * one bucket. This mirrors how production lakehouses compact: file
    * groups rewritten independently, fanned out over the cluster.
    * A/B'd against a single-job fold with an explicit
    * one-partition-per-bucket floor (bounded sort, same memory story):
    * per-bucket jobs win at every core count on this box — compaction
    * seconds 54/17.5/13.2 vs 64/25.7/13.5 at 1/4/8 cores, 8M events —
    * because the hash-agg fold skips the window sort entirely. */
  private def foldBuckets(table: LakeTable, snap: Snapshot,
      files: Seq[DataFileEntry], maxRowsPerFile: Long,
      purgeRewrite: Option[DataFrame => DataFrame] = None)
      : Seq[DataFileEntry] = {
    val outDir = s"${table.dir}/data/compact-${snap.version + 1}-" +
      java.util.UUID.randomUUID().toString.take(8)
    LakeTable.parMap(files.groupBy(_.bucket).toSeq, LakeTable.FoldPoolWidth) {
      case (b, fs) =>
        val raw0 = table.readFiles(snap, fs)
        val raw = purgeRewrite.fold(raw0)(f => f(raw0))
        val preRows = fs.map(_.rows).sum // upper bound on folded rows
        val nFiles = math.max(1L,
          (preRows + maxRowsPerFile - 1) / maxRowsPerFile).toInt
        withBloom(LakeTable.foldLww(raw).repartition(nFiles).write, snap)
          .mode("overwrite").parquet(s"$outDir/__bucket=$b")
    }
    listDataFiles(table.spark, outDir, snap.currentSchemaVersion, "base",
      tsCol = eventTimeCol(snap))
      // rows == 0 happens only under purgeRewrite (a bucket fully
      // erased): retire the bucket with no replacement, not an empty file
      .filter(_.rows > 0)
  }

  /** Fold all files of the given buckets back to base files (per-bucket
    * LWW via [[foldBuckets]]; tombstones are retained). Commits its own
    * snapshot (no epoch id: compaction is state-neutral). */
  def compactBuckets(table: LakeTable, buckets: Set[Int],
      cfg: MergeConfig = MergeConfig(),
      /** Fold against THIS snapshot instead of re-reading CURRENT —
        * callers that computed `buckets` from a snapshot they already
        * hold pass it here, so the target ids and the folded files come
        * from the same version (a concurrent layout change between the
        * two reads would otherwise apply old-space bucket ids to the new
        * layout; the commit conflict still catches real races). */
      at: Option[Snapshot] = None,
      /** Purge-only knob ([[graft.cdc.Purge]]): a transform applied to
        * the raw envelope rows BEFORE the fold — drop or redact a
        * conversation's history while the bucket rewrites. The caller
        * owns the consumer-visibility contract: fold files are the
        * superset incremental consumers absorb (arrivalFiles includes
        * them), so a state-CHANGING transform must leave behind whatever
        * rows downstream needs to converge (the purge keeps null-payload
        * tombstones). A bucket whose rows all drop retires with no
        * replacement files. */
      purgeRewrite: Option[DataFrame => DataFrame] = None): Snapshot = {
    val snap = at.getOrElse(table.snapshot)
    val inBuckets = snap.files.filter(f => buckets.contains(f.bucket))
    if (inBuckets.isEmpty) return snap
    // folds carry ONLY old rows into new files (state-neutral rewrite);
    // fold=true lets arrival windows starting at this commit's parent
    // skip them outright instead of re-upserting the whole bucket
    val files = foldBuckets(table, snap, inBuckets, cfg.maxRowsPerFile,
      purgeRewrite).map(_.copy(rewrite = true, fold = true))
    val entry = LineageEntry(-1L, snap.version + 1, 0L, 0L,
      buckets.toSeq.sorted, files.size,
      snap.files.count(f => !buckets.contains(f.bucket)), -1L, "",
      0L)
    table.commit(snap, files, buckets, None, Some(entry))
  }

  /** Change the table's bucket count — partition-layout evolution, the
    * lever that keeps per-bucket work bounded as a table grows 1000×
    * (Iceberg's partition-spec evolution; a 10^10-row table created with
    * 32 buckets holds ~3·10^8 rows per bucket — every bucket-sized unit
    * of work, compaction, MoR resolve, COW rewrite, has outgrown memory
    * and must be re-split). Rewrites the whole table once (the
    * operation's intrinsic cost) into `newN` hash buckets of the SAME
    * key function, folding to per-key winners — tombstones retained, a
    * tombstone may still out-LSN a late arrival — and commits with a
    * RESET manifest and the new bucket count; old snapshots stay
    * readable under their own layout (nBuckets is per-snapshot).
    *
    * Plan shape: for ALIGNED growth (`newN % oldN == 0`, the production
    * path — always grow by an integer factor) `h mod oldN = b` pins
    * `h mod newN` to `{b, b+oldN, …}`, so each OLD bucket fans out into
    * its own k = newN/oldN NEW buckets and no other: one independent
    * bucket-sized job per old bucket from a bounded driver pool (the
    * compaction plan shape) — NO global exchange, bounded task memory,
    * disjoint output dirs by construction. Any other `newN` falls back
    * to one table-wide bucket exchange over the folded winners.
    *
    * Concurrency: bucket-layout edits are serialized by the commit
    * protocol — a concurrent writer's commit built in the old space
    * fails with [[graft.lake.CommitConflictException]] and must
    * recompute (its bucket ids are stale), and this rebucket likewise
    * conflicts if anything lands under it. Change consumers are
    * unaffected: the new files are pure rewrites (`fold = true`), so a
    * window starting at the rebucket's parent skips them outright and
    * the streaming source's fold-splitting never re-delivers the table.
    */
  def rebucket(table: LakeTable, newN: Int,
      cfg: MergeConfig = MergeConfig()): Snapshot = {
    val snap = table.snapshot
    require(newN > 0, s"bucket count must be positive, got $newN")
    if (newN == snap.nBuckets) return snap
    val spark = table.spark
    val outDir = s"${table.dir}/data/rebucket-${snap.version + 1}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val hfs = new Path(outDir).getFileSystem(spark.sessionState.newHadoopConf())

    def foldToNew(raw: DataFrame): DataFrame =
      LakeTable.foldLww(raw).withColumn("__bucket", LakeTable.bucketExpr(newN))

    val newFiles: Seq[DataFileEntry] =
      if (snap.files.isEmpty) Seq.empty
      else if (newN % snap.nBuckets == 0) {
        LakeTable.parMap(snap.files.groupBy(_.bucket).toSeq,
            LakeTable.FoldPoolWidth) { case (b, group) =>
          // stage under a per-job dir, then promote the new-bucket dirs
          // (exclusively this job's — the fan-out sets are disjoint
          // across old buckets) to the shared root
          val tmp = new Path(s"$outDir/stage-$b")
          withBloom(foldToNew(table.readFiles(snap, group)).write, snap)
            .partitionBy("__bucket").mode("overwrite")
            .parquet(tmp.toString)
          hfs.listStatus(tmp)
            .filter(_.getPath.getName.startsWith("__bucket="))
            .foreach { d =>
              if (!hfs.rename(d.getPath, new Path(outDir, d.getPath.getName)))
                sys.error(s"could not promote ${d.getPath}")
            }
          hfs.delete(tmp, true): Unit
        }
        listDataFiles(spark, outDir, snap.currentSchemaVersion, "base",
          tsCol = eventTimeCol(snap))
      } else {
        // misaligned target: one table-wide bucket exchange, salted so
        // no file exceeds maxRowsPerFile
        val folded = foldToNew(table.readRawSnap(snap, None))
        val totalRows = snap.files.map(_.rows).sum
        val salt = math.max(1L, (totalRows / math.max(1, newN) +
          cfg.maxRowsPerFile - 1) / cfg.maxRowsPerFile).toInt
        // __bucket here lives in the NEW space — size partitions by newN;
        // these are base-file rewrites, so the bloom opt-in applies here
        // exactly like the aligned path
        writeBuckets(table, folded, salt, snap, targetBuckets = newN,
          bloom = true)
      }

    val stamped = newFiles.map(_.copy(rewrite = true, fold = true))
    val entry = LineageEntry(-1L, snap.version + 1, 0L, 0L,
      stamped.map(_.bucket).distinct.sorted, stamped.size, 0, -1L, "", 0L)
    table.commit(snap, stamped, snap.files.map(_.bucket).toSet, None,
      Some(entry), newNBuckets = Some(newN))
  }

  /** Write `df` (user cols + __lsn + __op + __bucket) under
    * `data/commit-<v>/`, one directory per bucket via partitionBy, with
    * `salt`-way intra-bucket write parallelism. Returns the manifest
    * entries (rows per file read from parquet footers — metadata only). */
  private def writeBuckets(table: LakeTable, df: DataFrame, salt: Int,
      snap: Snapshot, prePartitioned: Boolean = false,
      kind: String = "base", targetBuckets: Int = -1,
      /** Apply the table's opt-in bloom indexing — set ONLY by
        * file-group-rewrite callers (misaligned rebucket); the per-epoch
        * delta write leaves it false to stay lean. */
      bloom: Boolean = false): Seq[DataFileEntry] = {
    val spark = table.spark
    val outDir = s"${table.dir}/data/commit-${snap.version + 1}-${java.util.UUID.randomUUID().toString.take(8)}"
    // EXPLICIT partition counts everywhere: a count-less repartition gets
    // shuffle.partitions and — worse — AQE is allowed to coalesce it,
    // re-merging salt cells and silently defeating the maxRowsPerFile
    // skew defense the caller computed `salt` for. The unsalted path
    // partitions by conv_id — pmod(murmur3(conv_id), nB) IS the bucket
    // function, so partition i holds exactly bucket i (see mergeAttempt).
    val nB = if (targetBuckets > 0) targetBuckets else snap.nBuckets
    val writeDf =
      if (prePartitioned) df // caller already exchanged to bucket layout
      else if (salt <= 1) df.repartition(nB, col("conv_id"))
      else df.repartition(nB * salt, col("__bucket"),
        pmod(hash(col("turn_idx")), lit(salt)))
    val tW = System.nanoTime()
    (if (bloom) withBloom(writeDf.write, snap) else writeDf.write)
      .partitionBy("__bucket")
      .mode("overwrite")
      .parquet(outDir)
    val tL = System.nanoTime()
    val files = listDataFiles(spark, outDir, snap.currentSchemaVersion, kind,
      tsCol = eventTimeCol(snap))
    if (sys.env.contains("GRAFT_MERGE_TIMING"))
      System.err.println(f"[merge-timing]   write ${(tL - tW) / 1e9}%.2f s, list-footers ${(System.nanoTime() - tL) / 1e9}%.2f s")
    files
  }

  /** Enumerate part files under a partitionBy(__bucket) output dir and read
    * row counts from parquet footers (no data scan). Footer reads run on a
    * bounded thread pool: a commit can register hundreds of files and a
    * serial driver loop would become the constant term that caps scaling
    * (observed: ~0.3 s/batch serial at 32 buckets). */
  def listDataFiles(spark: SparkSession, outDir: String,
      schemaVersion: Int, kind: String = "base",
      tsCol: Option[String] = None): Seq[DataFileEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(outDir)
    val fs = root.getFileSystem(conf)
    val bucketDirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("__bucket="))
    val files = bucketDirs.toSeq.flatMap { bd =>
      val bucket = bd.getPath.getName.stripPrefix("__bucket=").toInt
      fs.listStatus(bd.getPath).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath, bucket))
    }
    LakeTable.parMap(files, LakeTable.FooterPoolWidth) { case (p, bucket) =>
      val s = parquetFooterStats(conf, p, tsCol)
      // tsCol rides the entry even when the footer gave no ranges (INT96):
      // it names the column any stats describe AND marks the file's era
      // as covered by the snapshot's event-time high-water mark (see
      // DataFileEntry.tsCol)
      DataFileEntry(p.toString, bucket, s.rows, schemaVersion, kind,
        s.minLsn, s.maxLsn, minTs = s.minTs, maxTs = s.maxTs, tsCol = tsCol)
    }
  }

  private final case class FooterStats(rows: Long, minLsn: Long,
      maxLsn: Long, minTs: Option[Long], maxTs: Option[Long])

  /** Row count, `__lsn` min/max, and (when `tsCol` names one) event-time
    * min/max from the parquet footer — metadata only, no data scan. The
    * ranges ride the manifest (LSN + event-time file-skipping and the
    * per-partition lineage breakdown); (-1, -1) / None when the footer
    * has no usable stats for a column — notably INT96 timestamps, for
    * which parquet exposes none (graft sessions write
    * TIMESTAMP_MICROS). Event-time stats normalize to UTC epoch micros
    * whatever unit the file was written in. */
  private def parquetFooterStats(conf: org.apache.hadoop.conf.Configuration,
      p: Path, tsCol: Option[String]): FooterStats = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      var minL = Long.MaxValue
      var maxL = Long.MinValue
      var ok = true
      var minT = Long.MaxValue
      var maxT = Long.MinValue
      // a file may hold zero rows of the ts column only if it holds zero
      // blocks; any block missing usable ts stats poisons the whole file
      var tsOk = tsCol.isDefined
      // resolve the unit scale BEFORE touching the stats values: INT96
      // stats (when present at all) are Binary, and the Number cast below
      // must never see them — INT96 carries no timestamp annotation, so
      // it stops here
      def microScale(ann: LogicalTypeAnnotation): Option[Long => Long] =
        ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(v => v)
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(_ * 1000L)
              case LogicalTypeAnnotation.TimeUnit.NANOS => Some(_ / 1000L)
            }
          case _ => None // INT96 or a non-timestamp physical layout
        }
      r.getFooter.getBlocks.forEach { block =>
        block.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (name == "__lsn") {
            val st: org.apache.parquet.column.statistics.Statistics[_] =
              c.getStatistics
            if (st == null || st.isEmpty) ok = false
            else {
              minL = math.min(minL, st.genericGetMin.asInstanceOf[Number].longValue())
              maxL = math.max(maxL, st.genericGetMax.asInstanceOf[Number].longValue())
            }
          } else if (tsCol.contains(name)) {
            val st: org.apache.parquet.column.statistics.Statistics[_] =
              c.getStatistics
            // all-null block (numNulls set, no values): contributes no
            // bounds, and its rows can never pass a ts window filter —
            // skip it rather than poison the whole file's stats. A
            // genuinely stat-less block (isEmpty: nothing recorded at
            // all) still poisons: its values are unknown, and partial
            // bounds would under-cover them (rows silently pruned).
            if (st == null || st.isEmpty) tsOk = false
            else if (!st.hasNonNullValue) ()
            else microScale(c.getPrimitiveType.getLogicalTypeAnnotation) match {
              case Some(scale) =>
                minT = math.min(minT,
                  scale(st.genericGetMin.asInstanceOf[Number].longValue()))
                maxT = math.max(maxT,
                  scale(st.genericGetMax.asInstanceOf[Number].longValue()))
              case None => tsOk = false
            }
          }
        }
      }
      val (lsnLo, lsnHi) =
        if (!ok || minL == Long.MaxValue) (-1L, -1L) else (minL, maxL)
      val (tsLo, tsHi) =
        if (!tsOk || minT == Long.MaxValue) (None, None)
        else (Some(minT), Some(maxT))
      FooterStats(r.getRecordCount, lsnLo, lsnHi, tsLo, tsHi)
    } finally r.close()
  }

  /** Per-partition lineage rows from a commit's manifest entries: rows
    * applied + LSN range per bucket. */
  private def partitionsOf(files: Seq[DataFileEntry]): Seq[BucketLineage] =
    files.groupBy(_.bucket).toSeq.map { case (b, fs) =>
      val mins = fs.map(_.minLsn).filter(_ >= 0)
      BucketLineage(b, fs.map(_.rows).sum,
        if (mins.isEmpty) -1L else mins.min, fs.map(_.maxLsn).max)
    }.sortBy(_.bucket)
}
