package graft.lake

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cdc.{MergeApply, MergeConfig}
import graft.model.Schemas

/** Opt-in bloom indexing of key columns at file-group-rewrite time
  * ([[LakeTable.BloomColumnsProp]]): point lookups on a hash-distributed
  * key prune to one bucket from the manifest, and inside the bucket only
  * a bloom filter can skip row groups (min/max stats are useless for a
  * hash key). Per-epoch delta writes stay bloom-free — the filters
  * materialize as compaction rewrites files. */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int) = Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")
  private def batch(rows: (Long, String, String, Int)*) =
    rows.map { case (lsn, op, conv, turn) =>
      (lsn, op, conv, turn, "user", s"text-$lsn", null: String, ts(1)) }
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Bloom-filter offsets of `col` across all row groups of one parquet
    * file; -1 per the parquet footer means "no bloom written". */
  private def bloomOffsets(path: String, col: String): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try r.getFooter.getBlocks.asScala.toSeq.flatMap(b =>
      b.getColumns.asScala.filter(_.getPath.toDotString == col)
        .map(_.getBloomFilterOffset))
    finally r.close()
  }

  /** Non-vacuous positive assertion: the file has ≥1 row group holding
    * `col` AND every one carries a bloom (an empty offset list — column
    * path mismatch, zero row groups — must FAIL, not pass trivially). */
  private def assertBloomed(path: String, col: String): Unit = {
    val offs = bloomOffsets(path, col)
    assert(offs.nonEmpty && offs.forall(_ >= 0),
      s"expected a $col bloom in every row group of $path, offsets=$offs")
  }

  test("compaction bloom-indexes exactly the opted-in key column") {
    val t = LakeTable.createTable(spark, tmpDir("bloom-on"),
      Schemas.transcript, 2,
      // 'gone' is not in the schema: ignored, not an error
      properties = Map(LakeTable.BloomColumnsProp -> "conv_id, gone"))
    MergeApply.merge(t, batch((1, "I", "K1", 0), (2, "I", "K2", 0)), 0L)
    MergeApply.merge(t, batch((3, "U", "K1", 0), (4, "I", "K3", 0)), 1L)
    // per-epoch delta files are bloom-free (the hot path stays lean)
    t.snapshot.files.filter(_.kind == "delta").foreach { f =>
      assert(bloomOffsets(f.path, "conv_id").forall(_ < 0), s"delta $f") }
    MergeApply.compactBuckets(t, t.snapshot.files.map(_.bucket).toSet)
    val base = t.snapshot.files
    assert(base.nonEmpty && base.forall(_.kind == "base"))
    base.foreach { f =>
      assertBloomed(f.path, "conv_id")
      val text = bloomOffsets(f.path, "text")
      assert(text.nonEmpty && text.forall(_ < 0),
        s"non-opted column stays bloom-free: $f, offsets=$text")
    }
    // lookups over the bloomed files stay exact — present and absent keys
    assert(t.readConv("K1").select("text").as[String].collect()
      .toSeq == Seq("text-3"))
    assert(t.readConv("K9").count() == 0)
  }

  test("copy-on-write output is a base rewrite and carries the bloom") {
    val t = LakeTable.createTable(spark, tmpDir("bloom-cow"),
      Schemas.transcript, 2,
      properties = Map(LakeTable.BloomColumnsProp -> "conv_id"))
    val cow = MergeConfig(writeMode = "cow")
    MergeApply.merge(t, batch((1, "I", "K1", 0), (2, "I", "K2", 0)), 0L, cow)
    MergeApply.merge(t, batch((3, "U", "K1", 0), (4, "I", "K3", 0)), 1L, cow)
    val files = t.snapshot.files
    assert(files.nonEmpty && files.forall(_.kind == "base"))
    files.foreach(f => assertBloomed(f.path, "conv_id"))
    assert(t.readConv("K1").select("text").as[String].collect()
      .toSeq == Seq("text-3"))
  }

  test("without the property, rewrites stay bloom-free") {
    val t = LakeTable.createTable(spark, tmpDir("bloom-off"),
      Schemas.transcript, 2)
    MergeApply.merge(t, batch((1, "I", "K1", 0), (2, "I", "K2", 0)), 0L)
    MergeApply.compactBuckets(t, t.snapshot.files.map(_.bucket).toSet)
    assert(t.snapshot.files.nonEmpty)
    t.snapshot.files.foreach { f =>
      val offs = bloomOffsets(f.path, "conv_id")
      assert(offs.nonEmpty && offs.forall(_ < 0), s"$f, offsets=$offs") }
  }

  test("rebucket carries the bloom index into the new layout") {
    // the property value is deliberately mis-cased: resolution follows
    // Spark SQL's case-insensitive default, emitting the schema spelling
    val t = LakeTable.createTable(spark, tmpDir("bloom-rebucket"),
      Schemas.transcript, 2,
      properties = Map(LakeTable.BloomColumnsProp -> "CONV_ID"))
    MergeApply.merge(t, batch((1, "I", "K1", 0), (2, "I", "K2", 0),
      (3, "I", "K3", 0), (4, "I", "K4", 0)), 0L)
    MergeApply.rebucket(t, 4, MergeConfig())
    assert(t.snapshot.nBuckets == 4)
    assert(t.snapshot.files.nonEmpty)
    t.snapshot.files.foreach(f => assertBloomed(f.path, "conv_id"))
    assert(t.readConv("K4").count() == 1)
  }

  test("the misaligned rebucket path blooms its base files too") {
    val t = LakeTable.createTable(spark, tmpDir("bloom-rebucket-mis"),
      Schemas.transcript, 2,
      properties = Map(LakeTable.BloomColumnsProp -> "conv_id"))
    MergeApply.merge(t, batch((1, "I", "K1", 0), (2, "I", "K2", 0),
      (3, "I", "K3", 0), (4, "I", "K4", 0)), 0L)
    MergeApply.rebucket(t, 3, MergeConfig()) // 3 % 2 != 0: exchange path
    assert(t.snapshot.nBuckets == 3)
    assert(t.snapshot.files.nonEmpty)
    t.snapshot.files.foreach(f => assertBloomed(f.path, "conv_id"))
    assert(t.readConv("K3").count() == 1)
  }
}
