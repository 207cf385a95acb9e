package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `RESTORE TABLE … TO VERSION AS OF n` (round 16): rollback as ONE
  * metadata-only OCC commit whose live state equals v_n's — history
  * preserved, change feed coherent, declarations carried, refusals
  * loud. */
// excluded from the default `sbt test` (CI budget) — run with
// GRAFT_TEST_ALL=1 or `testOnly`; see build.sbt
@org.scalatest.tags.Slow
class RestoreSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0

  /** v1 = 6 rows over s0/s1; v2 = delete k<2 (rewrites s0);
    * v3 = insert k=100 into s1. */
  private def history3(): (String, String) = {
    n += 1
    val root = tmpDir(s"restore-$n")
    val name = s"restore_$n"
    SnapshotTable.write(spark, root,
      spark.range(6L).select(col("id").as("k"),
        (col("id") % 2).cast("string").as("src"),
        concat(lit("v"), col("id")).as("v")),
      Seq("src"), statsFor = Seq("k"))
    SnapshotTable.deleteWhere(spark, root, col("k") < 2)
    SnapshotTable.append(spark, root,
      Seq((100L, "1", "new")).toDF("k", "src", "v"))
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, name, root)
    (name, root)
  }

  test("restore-then-read equals the target version exactly") {
    val (name, root) = history3()
    val out = spark.sql(s"RESTORE TABLE lake.$name TO VERSION AS OF 1")
      .collect()(0)
    assert((out.getInt(0), out.getInt(1)) == (1, 4))
    def rows(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(rows(s"SELECT k, src, v FROM lake.$name") ==
      rows(s"SELECT k, src, v FROM lake.$name VERSION AS OF 1"))
    // the rolled-back versions stay readable (forensics / time travel)
    assert(spark.sql(s"SELECT count(*) FROM lake.$name VERSION AS OF 3")
      .collect()(0).getLong(0) == 5L)
    // declarations restate with the restored manifest
    assert(SnapshotTable.declaredColumns(spark, root) == (Seq("k"), Nil))
    // history shows the restore as one more (full) commit
    val h = spark.sql(s"DESCRIBE HISTORY lake.$name").collect()
      .map(r => (r.getInt(0), r.getString(2))).toMap
    assert(h(4) == "full" && h.size == 4)
    // the table stays a normal mutable table after the restore
    SnapshotTable.append(spark, root,
      Seq((200L, "0", "post")).toDF("k", "src", "v"))
    assert(SnapshotTable.read(spark, root).count() == 7L)
  }

  test("the change feed surfaces a restore as delete/insert rows") {
    val (_, root) = history3()
    val v4 = SnapshotTable.restore(spark, root, 1)
    assert(v4 == 4)
    val step = ChangeFeed.between(spark, root, 3, 4)
      .select(col(ChangeFeed.ChangeTypeCol), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // restoring v1 reinstates k=0,1 (deleted by v2) and retracts
    // k=100 (inserted by v3)
    assert(step == Seq(("delete", 100L), ("insert", 0L), ("insert", 1L)),
      step.toString)
  }

  test("restore is metadata-only: no data file is opened") {
    val (name, root) = history3()
    // garbage every parquet byte — a restore that read, rewrote, or
    // even footer-probed a file would fail; a metadata commit cannot
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else if (f.getName.endsWith(".parquet"))
        java.nio.file.Files.write(f.toPath, "garbage".getBytes("UTF-8"))
    walk(new java.io.File(root, "data"))
    val out = spark.sql(s"RESTORE TABLE lake.$name TO VERSION AS OF 2")
      .collect()(0)
    assert((out.getInt(0), out.getInt(1)) == (2, 4))
    assert(SnapshotTable.history(spark, root).map(_._1) == Seq(1, 2, 3, 4))
  }

  test("no-op, unknown-version, pinned-binding, and empty-root refusals") {
    val (name, root) = history3()
    // restore to the current latest mints no garbage commit
    assert(SnapshotTable.restore(spark, root, 3) == 3)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2, 3))
    val e1 = intercept[Exception] {
      spark.sql(s"RESTORE TABLE lake.$name TO VERSION AS OF 9")
    }
    assert(e1.getMessage.contains("unknown or vacuumed"), e1.getMessage)
    LakeCatalog.register(spark, s"${name}_pin", root, version = Some(2))
    val e2 = intercept[Exception] {
      spark.sql(s"RESTORE TABLE lake.${name}_pin TO VERSION AS OF 1")
    }
    assert(e2.getMessage.contains("pins"), e2.getMessage)
    // a bound root nothing was ever committed to: nothing to restore
    LakeCatalog.register(spark, "restore_empty", tmpDir("restore-empty"))
    val e3 = intercept[Exception] {
      spark.sql("RESTORE TABLE lake.restore_empty TO VERSION AS OF 1")
    }
    assert(e3.getMessage.contains("no committed version"), e3.getMessage)
  }

  test("a restore after vacuum of the target fails loudly") {
    val (name, root) = history3()
    SnapshotTable.vacuum(spark, root, keepVersions = 1)
    val e = intercept[Exception] {
      spark.sql(s"RESTORE TABLE lake.$name TO VERSION AS OF 1")
    }
    assert(e.getMessage.contains("unknown or vacuumed"), e.getMessage)
    // the surviving latest still reads
    assert(spark.sql(s"SELECT count(*) FROM lake.$name")
      .collect()(0).getLong(0) == 5L)
  }
}
