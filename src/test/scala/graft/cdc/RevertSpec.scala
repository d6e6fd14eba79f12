package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gen.{ChangeLogGen, GenConfig}
import graft.lake.{LakeTable, TableMain}
import graft.model.Schemas

/** Revert-as-compensating-changes: exact state restoration, no-op
  * idempotence, revert-of-revert, and — the reason it exists instead of a
  * metadata rollback — incremental mirrors that converge THROUGH the
  * revert without re-bootstrapping. */
class RevertSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(nEvents = 4000L, nConvs = 60L, maxTurns = 8)
  private val ts = java.sql.Timestamp.valueOf("2026-03-01 00:00:00")

  private def freshTable(dir: String): LakeTable = {
    val t = LakeTable.createTable(spark, tmpDir(dir), Schemas.transcript, 4)
    MergeApply.merge(t, ChangeLogGen.changeLogDF(spark, cfg), 0L)
    t
  }

  /** A "bad deploy" batch: updates two existing turns, deletes one, and
    * inserts a brand-new conversation — all three change classes. */
  private def badBatch(t: LakeTable, lsnBase: Long): DataFrame = {
    val keys = t.read().select("conv_id", "turn_idx")
      .orderBy("conv_id", "turn_idx").limit(3).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    Seq(
      (lsnBase, "U", keys(0)._1, keys(0)._2, "user", "CORRUPTED", null: String, ts),
      (lsnBase + 1, "U", keys(1)._1, keys(1)._2, "user", "CORRUPTED", null: String, ts),
      (lsnBase + 2, "D", keys(2)._1, keys(2)._2, null: String, null: String, null: String, ts),
      (lsnBase + 3, "I", "bad-conv", 0, "user", "should not exist", null: String, ts)
    ).toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private def state(df: DataFrame): Set[Seq[Any]] =
    df.select(Schemas.transcript.fieldNames.map(col).toSeq: _*)
      .collect().map(_.toSeq).toSet

  test("revert restores the tagged state exactly; the revert is itself time-travelable") {
    val t = freshTable("rev")
    t.tag("good")
    val good = state(t.read())
    MergeApply.merge(t, badBatch(t, 9000000L), 1L)
    val bad = state(t.read())
    val vBad = t.snapshot.version
    assert(bad != good, "bad batch must actually change state")

    val r = Revert.revertTo(t, "good")
    assert(r.applied && r.rowsApplied == 4,
      s"expected 4 compensating rows, got $r")
    assert(state(t.read()) == good)
    // the pre-revert state is still a snapshot: revert the revert
    assert(Revert.revertTo(t, vBad.toString).applied)
    assert(state(t.read()) == bad)
  }

  test("revert to the current state is a no-op: no commit, no rows") {
    val t = freshTable("revnoop")
    t.tag("here")
    val v = t.snapshot.version
    val r = Revert.revertTo(t, "here")
    assert(!r.applied && r.rowsApplied == 0)
    assert(t.snapshot.version == v, "a no-op revert must not burn a commit")
  }

  test("an incremental mirror converges THROUGH a revert — no re-bootstrap") {
    val t = freshTable("revsrc")
    val dst = LakeTable.createTable(spark, tmpDir("revdst"),
      Schemas.transcript, 4)
    val ckpt = tmpDir("revckpt")
    CdcPipeline.follow(t, dst, ckpt)
    t.tag("good")
    MergeApply.merge(t, badBatch(t, 9100000L), 1L)
    CdcPipeline.follow(t, dst, ckpt) // mirror has consumed the bad batch
    assert(state(dst.read()) == state(t.read()))

    Revert.revertTo(t, "good")
    CdcPipeline.follow(t, dst, ckpt) // ordinary incremental drain
    assert(state(dst.read()) == state(t.read()),
      "compensating changes must flow to the mirror like any batch")
    assert(state(dst.read()) == state(t.read(
      asOf = Some(t.resolveRef("good")))))
  }

  test("concurrent newer data survives: LWW arbitrates revert races") {
    val t = freshTable("revrace")
    t.tag("good")
    MergeApply.merge(t, badBatch(t, 9200000L), 1L)
    // an event "in flight" during the revert, carrying a higher LSN than
    // the compensation (upstream is past the high water by > 1)
    val fresh = Seq((9200100L, "I", "new-conv", 0, "user", "post-revert data",
      null: String, ts))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    Revert.revertTo(t, "good")
    MergeApply.merge(t, fresh, 2L)
    val rows = state(t.read())
    assert(rows.exists(_.contains("new-conv")), "newer data must survive")
    assert(!rows.exists(_.contains("bad-conv")), "reverted insert stays gone")
  }

  test("CLI: diff / revert / export round-trip") {
    val t = freshTable("revcli")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(args: String*): Int =
      TableMain.run(spark, t.dir +: args.toSeq, lines += _)
    assert(run("tag", "rel") == 0)
    MergeApply.merge(t, badBatch(t, 9300000L), 1L)

    lines.clear()
    assert(run("diff", "rel") == 0)
    assert(lines.head == "insert=1 update=2 delete=1", lines.head)

    lines.clear()
    assert(run("revert", "rel") == 0)
    assert(lines.exists(_.contains("4 compensating row(s)")))
    lines.clear()
    assert(run("revert", "rel") == 0)
    assert(lines.exists(_.contains("no-op")))
    lines.clear()
    assert(run("diff", "rel") == 0)
    assert(lines.head == "insert=0 update=0 delete=0", lines.head)

    val exp = tmpDir("revexport")
    new java.io.File(exp).delete() // write needs a fresh path
    assert(run("export", exp, "--at", "rel") == 0)
    assert(state(spark.read.parquet(exp)) == state(t.read(
      asOf = Some(t.resolveRef("rel")))))
    assert(run("export", exp) == 1) // existing dir must not be clobbered
  }
}
