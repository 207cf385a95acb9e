package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.lake.MaterializedAgg.MvSpec

/** MIN/MAX/AVG maintenance (round-11 verdict item 5) + the round-11
  * ADVICE fixes: extrema maintained via per-(group, directory) partial
  * rows in the view table (bounded reads even when a delete removes
  * the current minimum), AVG derived as sum / non-null-count, all-NULL
  * groups reading back as SQL NULL (not a normalized 0), and an
  * injective composite group key (no separator collisions). Every
  * incremental result is checked against a from-scratch recompute of
  * the mutated base — the invariant the round-11 oracle gate enforces
  * for t43, extended to the new aggregates. */
class MaterializedAggMinMaxSpec extends SparkSpec {
  import spark.implicits._

  private val spec = MvSpec(
    groupBy = Seq("source"),
    sums = Seq("total" -> "v"),
    countName = "n",
    avgs = Seq("avg_v" -> "v"),
    mins = Seq("min_v" -> "v"),
    maxs = Seq("max_v" -> "v"))

  private def mkBase(root: String,
      rows: Seq[(Long, String, Option[Long])]): Unit = {
    val df = rows.toDF("id", "source", "v")
    SnapshotTable.write(spark, root, df, Seq("source"))
  }

  /** Ground truth: full SQL aggregate over the base's CURRENT rows. */
  private def oracle(baseRoot: String): Set[Row] =
    SnapshotTable.read(spark, baseRoot)
      .groupBy($"source")
      .agg(sum($"v").as("total"), avg($"v").as("avg_v"),
        min($"v").as("min_v"), max($"v").as("max_v"),
        count(lit(1)).as("n"))
      .collect().toSet

  private def viewRows(mvRoot: String): Set[Row] =
    MaterializedAgg.read(spark, mvRoot)
      .select($"source", $"total", $"avg_v", $"min_v", $"max_v", $"n")
      .collect().toSet

  private val seed: Seq[(Long, String, Option[Long])] = Seq(
    (1L, "a", Some(5L)), (2L, "a", Some(9L)), (3L, "a", Some(2L)),
    (4L, "b", Some(7L)), (5L, "b", None), (6L, "c", Some(13L)))

  test("deleting a group's current minimum re-derives from partials") {
    val baseRoot = tmpDir("mm-base"); val mvRoot = tmpDir("mm-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    assert(viewRows(mvRoot) == oracle(baseRoot))
    // delete id=3 — the CURRENT min of group a (v=2). The non-invertible
    // case: the new min (5) must come from recomputation, not inversion.
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 3L)
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(viewRows(mvRoot) == oracle(baseRoot))
    val a = MaterializedAgg.read(spark, mvRoot).filter($"source" === "a")
      .select($"min_v", $"max_v").collect()(0)
    assert((a.getLong(0), a.getLong(1)) == (5L, 9L))
  }

  test("extrema maintain across inserts, updates, deletes = full recompute") {
    val baseRoot = tmpDir("mm-base"); val mvRoot = tmpDir("mm-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    val changes = Seq(
      (2L, "a", Some(1L), "u"),   // update: new min for a
      (7L, "d", Some(42L), "u"),  // brand-new group
      (6L, "c", Some(0L), "d"),   // delete the ONLY c row: group leaves
      (8L, "b", Some(100L), "u")) // new max for b
      .toDF("id", "source", "v", "op")
    SnapshotTable.applyChanges(spark, baseRoot, changes, "id",
      Seq("source"), opCol = "op")
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(viewRows(mvRoot) == oracle(baseRoot))
    assert(!viewRows(mvRoot).exists(_.getString(0) == "c"))
  }

  test("zero sum/count deltas with a changed multiset still move extrema") {
    // THE adversarial case for ring-only IVM: drop {1,3}, add {0,4} in
    // one group — sum, count, and non-null count deltas are ALL zero,
    // yet min/max change. The sidecar path must not be short-circuited
    // by the zero-delta filter.
    val baseRoot = tmpDir("mm-base"); val mvRoot = tmpDir("mm-view")
    mkBase(baseRoot, Seq(
      (1L, "a", Some(1L)), (2L, "a", Some(3L)), (3L, "b", Some(5L))))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    val changes = Seq(
      (1L, "a", Some(0L), "u"), (2L, "a", Some(4L), "u"))
      .toDF("id", "source", "v", "op")
    SnapshotTable.applyChanges(spark, baseRoot, changes, "id",
      Seq("source"), opCol = "op")
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    val a = MaterializedAgg.read(spark, mvRoot).filter($"source" === "a")
      .select($"min_v", $"max_v", $"total", $"n").collect()(0)
    assert((a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3)) ==
      (0L, 4L, 4L, 2L))
    assert(viewRows(mvRoot) == oracle(baseRoot))
  }

  test("refresh with min/max reads only changed partitions (destructive)") {
    val baseRoot = tmpDir("mm-base"); val mvRoot = tmpDir("mm-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    // mutate ONLY partition a — including deleting a's current min, the
    // case a naive implementation would answer with a table rescan
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 3L)
    // destroy untouched partition b's directory: any read beyond the
    // changed partitions + the view's partial rows now crashes
    val bDir = SnapshotTable.entriesFor(spark, baseRoot, 2)
      .collectFirst { case (k, d) if k == "b" => d }.get
    val p = new org.apache.hadoop.fs.Path(baseRoot, bDir)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(p, true))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    val got = viewRows(mvRoot)
    // b's extrema survive from init; a's min re-derived without b's data
    assert(got.exists(r => r.getString(0) == "b" && r.getLong(3) == 7L &&
      r.getLong(4) == 7L))
    assert(got.exists(r => r.getString(0) == "a" && r.getLong(3) == 5L))
  }

  test("all-NULL groups read SQL NULL sums/avgs, incrementally too") {
    val baseRoot = tmpDir("mm-base"); val mvRoot = tmpDir("mm-view")
    mkBase(baseRoot, Seq(
      (1L, "a", None), (2L, "a", None), (3L, "b", Some(4L))))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    assert(viewRows(mvRoot) == oracle(baseRoot))
    val aRow = MaterializedAgg.read(spark, mvRoot)
      .filter($"source" === "a").collect()(0)
    assert(aRow.isNullAt(aRow.fieldIndex("total")))
    assert(aRow.isNullAt(aRow.fieldIndex("avg_v")))
    assert(aRow.isNullAt(aRow.fieldIndex("min_v")))
    // now TOUCH the all-NULL group incrementally (add another NULL row):
    // the round-11 advice bug rendered its sum as 0 after any delta
    SnapshotTable.upsert(spark, baseRoot,
      Seq((4L, "a", Option.empty[Long])).toDF("id", "source", "v"),
      "id", Seq("source"))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    val touched = MaterializedAgg.read(spark, mvRoot)
      .filter($"source" === "a").collect()(0)
    assert(touched.isNullAt(touched.fieldIndex("total")),
      "an all-NULL group's SUM must stay NULL across incremental merges")
    assert(touched.getLong(touched.fieldIndex("n")) == 3L)
    assert(viewRows(mvRoot) == oracle(baseRoot))
    // and a first real value flips it to a non-NULL sum
    SnapshotTable.upsert(spark, baseRoot,
      Seq((5L, "a", Some(6L))).toDF("id", "source", "v"),
      "id", Seq("source"))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(viewRows(mvRoot) == oracle(baseRoot))
  }

  test("group values containing the old separators cannot collide") {
    // ('a|1:b', 'x') vs ('a', '1:b|x'): a naive join of the rendered
    // values collides these tuples into one key; the length-prefixed
    // encoding keeps them distinct (round-11 advice item 2)
    val twoCol = MvSpec(Seq("g1", "g2"), Seq("total" -> "v"),
      countName = "n")
    val baseRoot = tmpDir("mm-base"); val mvRoot = tmpDir("mm-view")
    val df = Seq(
      (1L, "p", "a|1:b", "x", 10L), (2L, "p", "a", "1:b|x", 20L),
      (3L, "p", "ab", "c", 1L), (4L, "p", "a", "bc", 2L))
      .toDF("id", "part", "g1", "g2", "v")
    SnapshotTable.write(spark, baseRoot, df, Seq("part"))
    MaterializedAgg.init(spark, baseRoot, mvRoot, twoCol, nBuckets = 4)
    val view = MaterializedAgg.read(spark, mvRoot)
    assert(view.count() == 4, "separator-bearing tuples collided")
    // and they stay distinct through the incremental merge join
    SnapshotTable.upsert(spark, baseRoot,
      Seq((1L, "p", "a|1:b", "x", 11L))
        .toDF("id", "part", "g1", "g2", "v"),
      "id", Seq("part"))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, twoCol, 4)
    val got = MaterializedAgg.read(spark, mvRoot)
      .select($"g1", $"g2", $"total", $"n")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      ("a|1:b", "x", 11L, 1L), ("a", "1:b|x", 20L, 1L),
      ("ab", "c", 1L, 1L), ("a", "bc", 2L, 1L)))
  }

  test("a crash at the refresh's one publish replays cleanly") {
    val baseRoot = tmpDir("mm-base"); val mvRoot = tmpDir("mm-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    val before = viewRows(mvRoot)
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 3L)
    // the refresh stages its view and partial rows, then dies right
    // before its one publish — nothing of it is visible, replay
    // converges
    ViewCrash.atViewPublish(spark, mvRoot)(
      MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4))
    assert(SnapshotTable.versions(spark, mvRoot) == Seq(1))
    assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot).contains(1))
    assert(viewRows(mvRoot) == before)
    val v = MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(v == 2)
    assert(viewRows(mvRoot) == oracle(baseRoot))
  }

  test("a deletion-vector delete drops its directory's stale partials") {
    // a DV commit keeps p1 live: the (a, p1) partial holding a's
    // minimum must leave although its directory survives
    val baseRoot = tmpDir("mm-dv-base"); val mvRoot = tmpDir("mm-dv-view")
    SnapshotTable.write(spark, baseRoot,
      Seq((1L, "p1", "a", 1L), (2L, "p1", "b", 50L), (3L, "p2", "a", 10L),
        (4L, "p2", "a", 20L)).toDF("id", "part", "source", "v"),
      Seq("part"))
    val dvSpec = MvSpec(Seq("source"), sums = Seq("total" -> "v"),
      countName = "n", mins = Seq("min_v" -> "v"), maxs = Seq("max_v" -> "v"))
    MaterializedAgg.init(spark, baseRoot, mvRoot, dvSpec, nBuckets = 4)
    SnapshotTable.deleteRowsWhere(spark, baseRoot, $"id" === 1L)
    assert(SnapshotTable.deletedRowCount(spark, baseRoot) == 1)
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, dvSpec, 4)
    val got = MaterializedAgg.read(spark, mvRoot)
      .select($"source", $"total", $"min_v", $"max_v", $"n").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(("a", 30L, 10L, 20L, 2L), ("b", 50L, 50L, 50L, 1L)),
      s"stale partial survived the DV delete: $got")
  }

  test("a MIN/MAX refresh is one view version and touches no other root") {
    val baseRoot = tmpDir("mm-one-base"); val mvRoot = tmpDir("mm-one-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 3L)
    val mvPath = new org.apache.hadoop.fs.Path(mvRoot).toUri.getPath
    val calls = ListRecordingFs.recorded(spark)(
      assert(MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4) == 2))
    assert(SnapshotTable.versions(spark, mvRoot) == Seq(1, 2))
    // the refresh opens the view's latest manifest once: one fold
    // serves its source, its schema, the bucket read and the merge
    val v1 = s"$mvPath/_versions/v00000001.manifest"
    assert(calls.opens.count(_ == v1) == 1, calls.opens.mkString("\n"))
    // no second log: the view root holds only its data, log and spec
    val hfs = new org.apache.hadoop.fs.Path(mvRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.listStatus(new org.apache.hadoop.fs.Path(mvRoot))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted.toSeq ==
      Seq("_mv", "_versions", "data"))
    assert(viewRows(mvRoot) == oracle(baseRoot))
  }

  test("a MIN/MAX refresh reads only the affected view buckets (destructive)") {
    val baseRoot = tmpDir("mm-bkt-base"); val mvRoot = tmpDir("mm-bkt-view")
    // enough groups that some view bucket holds none of the affected one
    mkBase(baseRoot, (1L to 24L).map(i => (i, s"s${i % 8}", Some(i))))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 3L)
    val bucketOf = SnapshotTable.read(spark, mvRoot)
      .where($"_mv_dir".isNull).select($"source", $"_mv_bucket")
      .collect().map(r => r.getString(0) -> r.getLong(1).toString).toMap
    val affected = bucketOf("s3")
    val spare = SnapshotTable.entriesFor(spark, mvRoot, 1)
      .filter(_._1 != affected)
    assert(spare.nonEmpty, s"every bucket holds the affected group: $bucketOf")
    // delete every unaffected bucket's view and partial rows from disk
    val hfs = new org.apache.hadoop.fs.Path(mvRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spare.foreach { case (_, d) =>
      assert(hfs.delete(new org.apache.hadoop.fs.Path(mvRoot, d), true)) }
    assert(MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4) == 2)
    // s3 held ids 3, 11 and 19: its minimum re-derives to 11
    val s3 = SnapshotTable.readPartitions(spark, mvRoot, Seq(Seq(affected)))
      .where($"source" === "s3" && $"_mv_dir".isNull)
      .select($"min_v", $"n").collect()
    assert(s3.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((11L, 2L)))
  }
}
