package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.lake.MaterializedAgg.MvSpec

/** COUNT(DISTINCT) maintenance via per-(group, directory) KMV
  * sketches (round-12 verdict item 6): exact below k, the standard
  * (k-1)·domain/kth estimator at or above k, maintained through the
  * view's partial rows — bounded reads under deletes, zero-ring-delta
  * multiset changes caught, incremental == full recompute always. */
class MaterializedAggKmvSpec extends SparkSpec {
  import spark.implicits._

  private def spec(k: Int) = MvSpec(
    groupBy = Seq("source"),
    sums = Seq("total" -> "v"),
    countName = "n",
    kmvs = Seq("nd_v" -> "v"),
    kmvK = k)

  private def mkBase(root: String,
      rows: Seq[(Long, String, Option[Long])]): Unit =
    SnapshotTable.write(spark, root,
      rows.toDF("id", "source", "v"), Seq("source"))

  /** Ground truth for the exact-below-k regime. */
  private def exactOracle(baseRoot: String): Set[(String, Long)] =
    SnapshotTable.read(spark, baseRoot)
      .groupBy($"source").agg(countDistinct($"v").as("nd"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def viewKmv(mvRoot: String): Set[(String, Double)] =
    MaterializedAgg.read(spark, mvRoot)
      .select($"source", $"nd_v")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet

  private val seed: Seq[(Long, String, Option[Long])] = Seq(
    (1L, "a", Some(5L)), (2L, "a", Some(9L)), (3L, "a", Some(5L)),
    (4L, "b", Some(7L)), (5L, "b", None), (6L, "c", Some(13L)),
    (7L, "c", Some(13L)), (8L, "c", Some(14L)))

  test("below k the maintained count IS exact, through a CDC batch") {
    val baseRoot = tmpDir("kmv-base"); val mvRoot = tmpDir("kmv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec(64), nBuckets = 4)
    assert(viewKmv(mvRoot) ==
      exactOracle(baseRoot).map { case (s, n) => (s, n.toDouble) })
    // delete one of a's TWO rows holding v=5 (distinct count stays 2),
    // delete c's only v=14 row (distinct count drops), insert a new
    // value into b
    SnapshotTable.deleteWhere(spark, baseRoot,
      $"id" === 3L || $"id" === 8L)
    SnapshotTable.upsert(spark, baseRoot,
      Seq((9L, "b", Some(8L))).toDF("id", "source", "v"),
      "id", Seq("source"))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec(64), 4)
    val got = viewKmv(mvRoot)
    assert(got == exactOracle(baseRoot)
      .map { case (s, n) => (s, n.toDouble) },
      s"incremental distinct counts drifted: $got")
    assert(got.contains(("a", 2.0)), "duplicate-value delete must NOT " +
      "drop the distinct count (the non-invertible case)")
    assert(got.contains(("c", 1.0)), "last-value delete must drop it")
  }

  test("at/above k the estimate equals the KMV formula, incrementally") {
    val k = 16
    val baseRoot = tmpDir("kmv-base"); val mvRoot = tmpDir("kmv-view")
    // 200 distinct values in one group — far above k
    val rows = (1L to 200L).map(i => (i, "a", Some(i * 31 % 997)))
    mkBase(baseRoot, rows)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec(k), nBuckets = 4)
    // independent ground truth: the q60 estimator over the k smallest
    // distinct md5-hashes of the group's CURRENT values
    def estOracle(): Double = {
      val hv = SnapshotTable.read(spark, baseRoot)
        .select(conv(substring(md5($"v".cast("string")), 1, 15), 16, 10)
          .cast("long").as("hv"))
        .where($"hv".isNotNull).distinct()
        .orderBy($"hv").limit(k)
        .agg(count(lit(1)).as("ka"), max($"hv").as("kth"))
        .collect()(0)
      val (ka, kth) = (hv.getLong(0), hv.getLong(1))
      if (ka < k) ka.toDouble
      else (ka.toDouble - 1.0) * 1152921504606846976L / kth
    }
    assert(viewKmv(mvRoot) == Set(("a", estOracle())))
    // churn: delete a third, add new values, refresh — the re-derived
    // estimate must equal the from-scratch formula on the mutated base
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" % 3 === 0)
    SnapshotTable.upsert(spark, baseRoot,
      (300L to 340L).map(i => (i, "a", Some(i * 17 % 1009)))
        .toDF("id", "source", "v"), "id", Seq("source"))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec(k), 4)
    assert(viewKmv(mvRoot) == Set(("a", estOracle())),
      "incremental KMV estimate != full-recompute estimate")
  }

  test("zero sum/count deltas with a changed distinct set still move it") {
    val baseRoot = tmpDir("kmv-base"); val mvRoot = tmpDir("kmv-view")
    // (1,1,4): sum 6, n 3, distinct 2
    mkBase(baseRoot, Seq(
      (1L, "a", Some(1L)), (2L, "a", Some(1L)), (3L, "a", Some(4L))))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec(64), nBuckets = 4)
    assert(viewKmv(mvRoot) == Set(("a", 2.0)))
    // -> (2,2,2): sum 6, n 3 — every ring delta zero — distinct 1
    SnapshotTable.overwritePartitions(spark, baseRoot,
      Seq((1L, "a", Some(2L)), (2L, "a", Some(2L)), (3L, "a", Some(2L)))
        .toDF("id", "source", "v"), Seq("source"), dropKeys = Set("a"))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec(64), 4)
    assert(viewKmv(mvRoot) == Set(("a", 1.0)),
      "zero-ring-delta multiset change must still re-derive the sketch")
  }

  test("refresh with kmv reads only changed partitions (destructive)") {
    val baseRoot = tmpDir("kmv-base"); val mvRoot = tmpDir("kmv-view")
    mkBase(baseRoot, seed)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec(64), nBuckets = 4)
    // mutate ONLY partition a (delete its duplicate v=5 row)
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 3L)
    // destroy untouched partition b's directory: any read beyond the
    // changed partitions + the view's partial rows now crashes
    val bDir = SnapshotTable.entriesFor(spark, baseRoot, 2)
      .collectFirst { case (k, d) if k == "b" => d }.get
    val p = new org.apache.hadoop.fs.Path(baseRoot, bDir)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(p, true))
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec(64), 4)
    val got = viewKmv(mvRoot)
    assert(got.contains(("a", 2.0)), s"a must re-derive to 2: $got")
    assert(got.contains(("b", 1.0)),
      s"b's sketch must survive from its partial rows: $got")
  }

  test("an all-NULL group counts 0 distinct, and NULLs never count") {
    val baseRoot = tmpDir("kmv-base"); val mvRoot = tmpDir("kmv-view")
    mkBase(baseRoot, Seq(
      (1L, "a", None), (2L, "a", None), (3L, "b", Some(4L)),
      (4L, "b", None)))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec(64), nBuckets = 4)
    assert(viewKmv(mvRoot) == Set(("a", 0.0), ("b", 1.0)))
    // delete b's only non-null value: its count must drop to 0 too
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 3L)
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec(64), 4)
    assert(viewKmv(mvRoot) == Set(("a", 0.0), ("b", 0.0)))
  }

  test("a deletion-vector delete drops a distinct value's stale sketch") {
    // a's only v=7 row is dv-deleted from p1, which b keeps live: the
    // (a, p1) sketch holding 7 must leave although its directory
    // survives
    val baseRoot = tmpDir("kmv-dv-base"); val mvRoot = tmpDir("kmv-dv-view")
    SnapshotTable.write(spark, baseRoot,
      Seq((1L, "p1", "a", 7L), (2L, "p1", "b", 50L), (3L, "p2", "a", 10L),
        (4L, "p2", "a", 20L)).toDF("id", "part", "source", "v"),
      Seq("part"))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec(64), nBuckets = 4)
    assert(viewKmv(mvRoot) == Set(("a", 3.0), ("b", 1.0)))
    SnapshotTable.deleteRowsWhere(spark, baseRoot, $"id" === 1L)
    assert(SnapshotTable.deletedRowCount(spark, baseRoot) == 1)
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec(64), 4)
    assert(viewKmv(mvRoot) == Set(("a", 2.0), ("b", 1.0)),
      "the dv-deleted value still counts")
  }
}
