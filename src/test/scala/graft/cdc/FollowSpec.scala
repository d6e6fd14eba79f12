package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.{Schemas, TranscriptRow}

/** Table-to-table incremental sync ([[CdcPipeline.follow]]) — the
  * downstream-consumption half of CDC. */
class FollowSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 10000L, nConvs = 150L, maxTurns = 12)

  private def state(t: LakeTable): Seq[TranscriptRow] =
    t.read().as[TranscriptRow].collect().toSeq.sortBy(r => (r.conv_id, r.turn_idx))

  /** Rows the drains delivered into `dst` after version `v`. */
  private def rowsInAfter(dst: LakeTable, v: Long): Long =
    dst.lineageTable.where($"version" > v && $"epochId" >= 0)
      .agg(coalesce(sum("rowsInBatch"), lit(0L))).as[Long].head()

  test("follow mirrors the source incrementally, exactly-once, deletes included") {
    val src = LakeTable.createTable(spark, tmpDir("fl-src"), Schemas.transcript, 8)
    // different bucket count downstream: the sync is layout-independent
    val dst = LakeTable.createTable(spark, tmpDir("fl-dst"), Schemas.transcript, 4)
    val ckpt = tmpDir("fl-ckpt")
    val full = ChangeLogGen.changeLogDF(spark, cfg).cache()
    val maxLsn = full.agg(max("lsn")).as[Long].head()
    val cut = maxLsn / 2
    MergeApply.merge(src, full.filter(col("lsn") <= cut), 0L,
      MergeConfig(writeMode = "mor"))

    // first drain: a fresh checkpoint does a full copy
    val v0 = dst.snapshot.version
    val v1 = CdcPipeline.follow(src, dst, ckpt)
    assert(v1 > v0 && v1 == dst.snapshot.version)
    assert(state(dst) == state(src))
    val srcV1 = src.snapshot.version

    // caught up: a second drain applies nothing
    assert(CdcPipeline.follow(src, dst, ckpt) == v1)
    assert(dst.snapshot.version == v1)

    // new source epoch (with deletes): only the gap flows downstream
    MergeApply.merge(src, full.filter(col("lsn") > cut), 1L,
      MergeConfig(writeMode = "mor"))
    val srcSnap = src.snapshot
    assert(src.arrivalFiles(srcSnap, srcV1).size < srcSnap.files.size)
    val v2 = CdcPipeline.follow(src, dst, ckpt)
    assert(v2 > v1)
    assert(rowsInAfter(dst, v1) == src.arrivalsSince(srcV1).count())
    assert(state(dst) == state(src))
    assert(state(dst).nonEmpty)

    // crash-retry of the last batch: drop its commit marker so the
    // restart replays it; the sink's txn slot makes the replay a no-op
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(commits, s".${last.getName}.crc").delete()
    assert(CdcPipeline.follow(src, dst, ckpt) == v2)
    assert(last.exists(), "the restart did not replay the uncommitted batch")
    assert(state(dst) == state(src))
    full.unpersist()
  }

  test("follow survives arrival below the consumed LSN high water") {
    // the hazard that retired LSN-cut rounds: a key whose WINNING event
    // arrives in a later commit carrying an LSN below the already-
    // consumed high water is in no `__lsn > cut` range — an LSN-cut
    // round loses it forever; the commit-version window cannot
    val src = LakeTable.createTable(spark, tmpDir("flo-src"), Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("flo-dst"), Schemas.transcript, 2)
    val ckpt = tmpDir("flo-ckpt")
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def batch(rows: Seq[(Long, String, String, Int, String)]) =
      rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
        .withColumn("role", lit("user"))
        .withColumn("tool", lit(null).cast("string"))
        .withColumn("ts", lit(ts))

    MergeApply.merge(src, batch(Seq((100L, "I", "c1", 0, "first"))), 0L)
    val v0 = dst.snapshot.version
    val v1 = CdcPipeline.follow(src, dst, ckpt)
    assert(v1 > v0)
    // late arrival: NEW key, LSN far below the consumed high water (100)
    MergeApply.merge(src, batch(Seq((50L, "I", "c2", 0, "late-low-lsn"))), 1L)
    assert(CdcPipeline.follow(src, dst, ckpt) > v1)
    assert(state(dst) == state(src))
    assert(state(dst).exists(_.conv_id == "c2"))
  }

  test("follow propagates source schema evolution, column docs included") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val src = LakeTable.createTable(spark, tmpDir("fle-src"), Schemas.transcript, 2)
    val dst = LakeTable.createTable(spark, tmpDir("fle-dst"), Schemas.transcript, 2)
    val ckpt = tmpDir("fle-ckpt")
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def batch(rows: Seq[(Long, String, String, Int, String)]) =
      rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
        .withColumn("role", lit("user")).withColumn("tool", lit(null).cast("string"))
        .withColumn("ts", lit(ts))

    MergeApply.merge(src, batch(Seq((1L, "I", "c1", 0, "hello"),
      (2L, "I", "c2", 0, "world"))), 0L)
    val v1 = CdcPipeline.follow(src, dst, ckpt)

    // source adds a scored column with a doc; values arrive next epoch
    src.addColumn("score", IntegerType, "quality score")
    MergeApply.merge(src, batch(Seq((3L, "U", "c1", 0, "hello!")))
      .withColumn("score", lit(7)), 1L)
    val v2 = CdcPipeline.follow(src, dst, ckpt)
    assert(v2 > v1)
    assert(dst.snapshot.userSchema("score").dataType == IntegerType)
    assert(dst.snapshot.columnDocs("score") == "quality score")

    // source widens it; a value only the wide type can hold flows down
    src.widenColumn("score", LongType)
    MergeApply.merge(src, batch(Seq((4L, "U", "c2", 0, "world!")))
      .withColumn("score", lit(5000000000L)), 2L)
    assert(CdcPipeline.follow(src, dst, ckpt) > v2)
    assert(dst.snapshot.userSchema("score").dataType == LongType)
    def rows(t: LakeTable) = t.read()
      .select("conv_id", "turn_idx", "text", "score")
      .collect().map(r => r.toSeq).sortBy(_.toString)
    assert(rows(dst).toSeq == rows(src).toSeq)
    assert(rows(dst).exists(_.contains(5000000000L)))
  }

  test("follow transform: declarative silver-layer cleanup on the way down") {
    val src = LakeTable.createTable(spark, tmpDir("flt-src"), Schemas.transcript, 4)
    val dst = LakeTable.createTable(spark, tmpDir("flt-dst"), Schemas.transcript, 4)
    val full = ChangeLogGen.changeLogDF(spark, cfg.copy(nEvents = 3000L))
    MergeApply.merge(src, full, 0L, MergeConfig(writeMode = "mor"))
    val v0 = dst.snapshot.version
    CdcPipeline.follow(src, dst, tmpDir("flt-ckpt"),
      transform = _.withColumn("role", upper(col("role"))))
    // one source commit, one drained batch, one destination commit
    assert(dst.snapshot.version == v0 + 1)
    val want = state(src).map(r => r.copy(role =
      Option(r.role).map(_.toUpperCase).orNull))
    assert(state(dst) == want)
  }

  test("follow applies into a destination other writers already committed to") {
    val src = LakeTable.createTable(spark, tmpDir("flw-src"), Schemas.transcript, 4)
    val dst = LakeTable.createTable(spark, tmpDir("flw-dst"), Schemas.transcript, 4)
    // the reference: one table both writers' events are merged into
    val ref = LakeTable.createTable(spark, tmpDir("flw-ref"), Schemas.transcript, 4)
    val full = ChangeLogGen.changeLogDF(spark, cfg.copy(nEvents = 4000L)).cache()
    val maxLsn = full.agg(max("lsn")).as[Long].head()
    // odd LSNs come from the source, even ones from the other writer,
    // which commits global epochs 0..2 into the destination first
    val fromSrc = full.filter(col("lsn") % 2 === 1)
    val other = full.filter(col("lsn") % 2 === 0)
    MergeApply.merge(src, fromSrc, 0L)
    (0L to 2L).foreach { e =>
      val part = other.filter(col("lsn") > maxLsn * e / 3 &&
        col("lsn") <= maxLsn * (e + 1) / 3)
      MergeApply.merge(dst, part, e)
      MergeApply.merge(ref, part, e)
    }
    MergeApply.merge(ref, fromSrc, 3L)
    assert(dst.snapshot.maxCommittedEpoch == 2L)

    val v = dst.snapshot.version
    assert(CdcPipeline.follow(src, dst, tmpDir("flw-ckpt")) > v)
    assert(state(dst) == state(ref))
    assert(state(dst).nonEmpty)
    full.unpersist()
  }
}
