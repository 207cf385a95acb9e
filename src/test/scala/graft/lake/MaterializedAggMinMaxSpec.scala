package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.lake.MaterializedAgg.MvSpec

/** MIN/MAX/AVG maintenance (round-11 verdict item 5) + the round-11
  * ADVICE fixes: extrema maintained via the per-(group, directory)
  * partials sidecar (bounded reads even when a delete removes the
  * current minimum), AVG derived as sum / non-null-count, all-NULL
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

  test("deleting a group's current minimum re-derives from the sidecar") {
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
    // changed partitions + sidecar now crashes
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

  test("crash between sidecar update and view commit replays cleanly") {
    val baseRoot = tmpDir("mm-base"); val mvRoot = tmpDir("mm-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    val before = viewRows(mvRoot)
    val auxV = SnapshotTable.latest(spark, MaterializedAgg.auxRoot(mvRoot))
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 3L)
    // the refresh commits its sidecar update, then dies right before
    // the view publish — replay must converge
    ViewCrash.atViewPublish(spark, mvRoot)(
      MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4))
    assert(SnapshotTable.latest(spark, MaterializedAgg.auxRoot(mvRoot)) ==
      auxV.map(_ + 1), "the sidecar commit landed before the crash")
    assert(SnapshotTable.versions(spark, mvRoot) == Seq(1))
    assert(MaterializedAgg.appliedBaseVersion(spark, mvRoot).contains(1))
    assert(viewRows(mvRoot) == before)
    val v = MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    assert(v == 2)
    assert(viewRows(mvRoot) == oracle(baseRoot))
  }
}
