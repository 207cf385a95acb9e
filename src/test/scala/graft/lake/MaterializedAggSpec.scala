package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.MaterializedAgg.MvSpec

/** Incremental materialized aggregate: refresh equals full recompute
  * after every kind of base mutation, refresh work is bounded by the
  * CHANGED partitions (proved destructively: an untouched partition's
  * directory is deleted from disk and refresh still succeeds), every
  * view commit records the base version it reflects, and a crash before
  * a view publish leaves the view and that anchor intact. */
class MaterializedAggSpec extends SparkSpec {
  import spark.implicits._

  private val spec = MvSpec(
    groupBy = Seq("source", "lang"),
    sums = Seq("total_chars" -> "n_chars"),
    countName = "n_docs")

  private def mkBase(root: String, rows: Seq[(Long, String, String, Long)])
      : Unit = {
    val df = rows.toDF("doc_id", "source", "lang", "n_chars")
    SnapshotTable.write(spark, root, df, Seq("source"))
  }

  private def fullAgg(base: DataFrame): Set[(String, String, Long, Long)] =
    base.groupBy($"source", $"lang")
      .agg(sum($"n_chars").as("total_chars"), count(lit(1)).as("n_docs"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def mvRows(mvRoot: String): Set[(String, String, Long, Long)] =
    MaterializedAgg.read(spark, mvRoot)
      .select($"source", $"lang", $"total_chars", $"n_docs")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  private val seed = Seq(
    (1L, "a", "en", 10L), (2L, "a", "en", 20L), (3L, "a", "de", 5L),
    (4L, "b", "en", 7L), (5L, "b", "fr", 11L), (6L, "c", "en", 13L))

  test("init materializes the full aggregate; no-op refresh is a no-op") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    mkBase(baseRoot, seed)
    val v1 = MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    assert(v1 == 1)
    assert(mvRows(mvRoot) == fullAgg(SnapshotTable.read(spark, baseRoot)))
    // base unchanged => same view version back, no new commit
    assert(MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4) == 1)
    assert(SnapshotTable.versions(spark, mvRoot) == Seq(1))
  }

  test("refresh folds upserts, inserts, and deletes; groups at zero vanish") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    // one atomic CDC batch: update doc 1 (a/en), insert doc 7 (new
    // group d/en), delete doc 5 — the ONLY b/fr row (its group must
    // leave the view entirely, not linger at zero)
    val changes = Seq(
      (1L, "a", "en", 100L, "u"),
      (7L, "d", "en", 42L, "u"),
      (5L, "b", "fr", 0L, "d"))
      .toDF("doc_id", "source", "lang", "n_chars", "op")
    SnapshotTable.applyChanges(spark, baseRoot, changes, "doc_id",
      Seq("source"), opCol = "op")
    val v = MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(v == 2)
    val expect = fullAgg(SnapshotTable.read(spark, baseRoot))
    assert(mvRows(mvRoot) == expect)
    assert(!mvRows(mvRoot).exists(r => r._1 == "b" && r._2 == "fr"))
    // and the view is itself a snapshot table: v1 still reads as the
    // pre-change aggregate (time travel composes)
    assert(MaterializedAgg.read(spark, mvRoot, 1).count() == 5)
  }

  test("several base commits fold in one refresh; repeated refreshes converge") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    SnapshotTable.upsert(spark, baseRoot,
      Seq((8L, "a", "en", 3L)).toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    SnapshotTable.deleteWhere(spark, baseRoot, $"doc_id" === 3L)
    SnapshotTable.upsert(spark, baseRoot,
      Seq((2L, "a", "en", 21L)).toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    val v = MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(mvRows(mvRoot) == fullAgg(SnapshotTable.read(spark, baseRoot)))
    assert(MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4) == v)
  }

  test("refresh reads ONLY changed partitions (untouched dir deleted from disk)") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    // mutate ONLY partition a
    SnapshotTable.upsert(spark, baseRoot,
      Seq((1L, "a", "en", 99L)).toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    // destroy partition b's (untouched, carried-forward) directory: any
    // full recompute — or any refresh that reads more than the changed
    // partitions — now crashes; the incremental path must not notice
    val bDir = SnapshotTable.entriesFor(spark, baseRoot, 2)
      .collectFirst { case (k, d) if k == "b" => d }.get
    val p = new org.apache.hadoop.fs.Path(baseRoot, bDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(p, true))
    val v = MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(v == 2)
    // b's groups survive in the view from init; a's reflect the change
    val got = mvRows(mvRoot)
    assert(got.contains(("b", "en", 7L, 1L)))
    assert(got.contains(("a", "en", 99L + 20L, 2L)))
  }

  private def dataDirs(root: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(root, "data")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).toSet
  }

  test("a row-preserving OPTIMIZE re-anchors with a metadata-only commit") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    val df = seed.toDF("doc_id", "source", "lang", "n_chars")
    SnapshotTable.write(spark, baseRoot, df, Seq("source"),
      filesPerPartition = 4)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    val dirs = dataDirs(mvRoot)
    // compaction: new base version, identical rows
    assert(SnapshotTable.optimize(spark, baseRoot) == 2)
    assert(MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4) == 2)
    // one view version that only records the new source: no data
    // directory written, same entries as v1
    assert(SnapshotTable.versions(spark, mvRoot) == Seq(1, 2))
    assert(dataDirs(mvRoot) == dirs)
    assert(SnapshotTable.entriesFor(spark, mvRoot, 2) ==
      SnapshotTable.entriesFor(spark, mvRoot, 1))
    assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot).contains(2))
    // and a REAL change after the re-anchor still folds correctly
    SnapshotTable.upsert(spark, baseRoot,
      Seq((1L, "a", "en", 77L)).toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(mvRows(mvRoot) == fullAgg(SnapshotTable.read(spark, baseRoot)))
  }

  test("a crash before the view publish is recovered") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    val before = mvRows(mvRoot)
    SnapshotTable.upsert(spark, baseRoot,
      Seq((1L, "a", "en", 50L)).toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    ViewCrash.atViewPublish(spark, mvRoot)(
      MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4))
    // the crashed refresh left the view and its anchor as they were
    assert(SnapshotTable.versions(spark, mvRoot) == Seq(1))
    assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot).contains(1))
    assert(mvRows(mvRoot) == before)
    val v = MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(v == 2)
    assert(mvRows(mvRoot) == fullAgg(SnapshotTable.read(spark, baseRoot)))
  }

  test("a crash at the re-anchor commit leaves the view refreshable") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    val df = seed.toDF("doc_id", "source", "lang", "n_chars")
    SnapshotTable.write(spark, baseRoot, df, Seq("source"),
      filesPerPartition = 4)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    // a row-preserving base commit: the refresh only re-anchors
    assert(SnapshotTable.optimize(spark, baseRoot) == 2)
    ViewCrash.atViewPublish(spark, mvRoot)(
      MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4))
    assert(SnapshotTable.versions(spark, mvRoot) == Seq(1))
    assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot).contains(1))
    SnapshotTable.upsert(spark, baseRoot,
      Seq((7L, "d", "en", 42L)).toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    assert(MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4) == 2)
    assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot).contains(3))
    assert(mvRows(mvRoot) == fullAgg(SnapshotTable.read(spark, baseRoot)))
  }

  test("the applied base version reads right through view checkpoints and vacuum") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    // ten refreshes past CheckpointEvery = 8: odd rounds fold a row
    // change, even rounds a metadata-only base commit (a re-anchor)
    (1 to 10).foreach { i =>
      if (i % 2 == 1)
        SnapshotTable.upsert(spark, baseRoot,
          Seq((100L + i, "a", "en", i.toLong))
            .toDF("doc_id", "source", "lang", "n_chars"),
          "doc_id", Seq("source"))
      else SnapshotTable.declareKey(spark, baseRoot, "doc_id")
      val v = MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
      assert(v == i + 1)
      assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot) ==
        SnapshotTable.latest(spark, baseRoot))
    }
    val cp = new org.apache.hadoop.fs.Path(mvRoot,
      s"_versions/v${"%08d".format(SnapshotTable.CheckpointEvery)}.checkpoint")
    assert(cp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cp))
    // every view version records the base version it reflects
    (1 to 11).foreach(v =>
      assert(SnapshotTable.manifestAt(spark, mvRoot, v).source.contains(v)))
    assert(mvRows(mvRoot) == fullAgg(SnapshotTable.read(spark, baseRoot)))
    // the anchor lives in the view log alone: after a vacuum the
    // latest version still reads it, and _mv holds only the spec
    SnapshotTable.vacuum(spark, mvRoot, keepVersions = 1)
    assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot).contains(11))
    val meta = new org.apache.hadoop.fs.Path(mvRoot, "_mv")
    assert(meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(meta).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("spec"))
  }

  test("vacuumed-away applied version falls back to full recompute") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    SnapshotTable.upsert(spark, baseRoot,
      Seq((1L, "a", "en", 50L)).toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    SnapshotTable.upsert(spark, baseRoot,
      Seq((9L, "c", "en", 8L)).toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    // vacuum the base down to the latest version only: v1 (the applied
    // anchor) is gone, the incremental path is impossible
    SnapshotTable.vacuum(spark, baseRoot, keepVersions = 1)
    val v = MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(mvRows(mvRoot) == fullAgg(SnapshotTable.read(spark, baseRoot)))
    assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot).contains(3))
    assert(v == 2)
  }

  test("spec drift against the stored declaration fails loudly") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    val drifted = spec.copy(sums = Seq("total_chars" -> "n_chars + 1"))
    val e = intercept[IllegalArgumentException] {
      MaterializedAgg.refresh(spark, baseRoot, mvRoot, drifted, 4)
    }
    assert(e.getMessage.contains("spec drift"))
  }

  test("NULL group values are first-class groups") {
    val baseRoot = tmpDir("mv-base"); val mvRoot = tmpDir("mv-view")
    val df = Seq((1L, "a", Some("en"), 10L), (2L, "a", None, 20L),
      (3L, "b", None, 5L))
      .toDF("doc_id", "source", "lang", "n_chars")
    SnapshotTable.write(spark, baseRoot, df, Seq("source"))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    SnapshotTable.upsert(spark, baseRoot,
      Seq((4L, "a", Option.empty[String], 7L))
        .toDF("doc_id", "source", "lang", "n_chars"),
      "doc_id", Seq("source"))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    val nullRow = MaterializedAgg.read(spark, mvRoot)
      .filter($"source" === "a" && $"lang".isNull)
      .select($"total_chars", $"n_docs").collect()
    assert(nullRow.length == 1)
    assert((nullRow(0).getLong(0), nullRow(0).getLong(1)) == (27L, 2L))
  }
}
