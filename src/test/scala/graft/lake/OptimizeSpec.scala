package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** OPTIMIZE (small-file bin-packing): over-fanned partitions compact
  * to their byte-justified file count in one OCC commit, rows and
  * declared stats/clustering intact, time travel and concurrent
  * writers unharmed. */
class OptimizeSpec extends SparkSpec {
  import spark.implicits._

  private def fileCount(root: String, key: String, v: Int): Int = {
    val d = SnapshotTable.entriesFor(spark, root, v)
      .collectFirst { case (k, dir) if k == key => dir }.get
    val p = new Path(root, d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  private def mkFragmented(fanOut: Int): String = {
    val root = tmpDir("opt")
    val df = (1L to 400L).map(i =>
      (i, s"doc $i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "text", "source")
    SnapshotTable.write(spark, root, df, Seq("source"),
      filesPerPartition = fanOut)
    root
  }

  test("over-fanned partitions compact to their size-justified count") {
    val root = mkFragmented(fanOut = 6)
    assert(fileCount(root, "a", 1) == 6)
    val before = SnapshotTable.read(spark, root)
      .collect().map(_.toSeq).toSet
    // generous target: every partition's bytes fit one file
    val v = SnapshotTable.optimize(spark, root)
    assert(v == 2)
    assert(fileCount(root, "a", 2) == 1)
    assert(fileCount(root, "b", 2) == 1)
    // the live file count fell from 12 to one per partition
    def liveFiles(v: Int): Int = SnapshotTable.entriesFor(spark, root, v)
      .map { case (k, _) => fileCount(root, k, v) }.sum
    assert(liveFiles(1) == 12 && liveFiles(2) == 2)
    assert(SnapshotTable.read(spark, root)
      .collect().map(_.toSeq).toSet == before)
    // time travel: v1 still reads the fragmented layout, same rows
    assert(fileCount(root, "a", 1) == 6)
    assert(SnapshotTable.read(spark, root, 1)
      .collect().map(_.toSeq).toSet == before)
  }

  test("a tight byte target bin-packs to MULTIPLE files, not one") {
    val root = mkFragmented(fanOut = 8)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val aDir = SnapshotTable.entriesFor(spark, root, 1)
      .collectFirst { case ("a", d) => d }.get
    val bytes = fs.listStatus(new Path(root, aDir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    // target ~ half the partition: expect ceil(bytes/target) = 2 files
    SnapshotTable.optimize(spark, root,
      targetBytes = bytes / 2 + 1)
    assert(fileCount(root, "a", 2) == 2)
  }

  test("already-compact partitions are a version-preserving no-op") {
    val root = mkFragmented(fanOut = 1)
    val v = SnapshotTable.optimize(spark, root)
    assert(v == 1)
    assert(SnapshotTable.versions(spark, root) == Seq(1))
  }

  test("maxPartitions bounds one call; worst offender goes first") {
    val root = tmpDir("opt")
    val frag = (1L to 300L).map(i => (i, s"d$i", "heavy")).toDF(
      "id", "text", "source")
    SnapshotTable.write(spark, root, frag, Seq("source"),
      filesPerPartition = 8)
    SnapshotTable.upsert(spark, root,
      (301L to 400L).map(i => (i, s"d$i", "light")).toDF(
        "id", "text", "source"),
      "id", Seq("source"), filesPerPartition = 3)
    SnapshotTable.optimize(spark, root, maxPartitions = 1)
    val v = SnapshotTable.versions(spark, root).last
    assert(fileCount(root, "heavy", v) == 1) // 8 excess beats 3
    assert(fileCount(root, "light", v) == 3)
    SnapshotTable.optimize(spark, root, maxPartitions = 1)
    val v2 = SnapshotTable.versions(spark, root).last
    assert(fileCount(root, "light", v2) == 1)
  }

  test("declared stats + clustering survive: skip-read still prunes") {
    val root = tmpDir("opt")
    val df = (1L to 512L).map(i => (i, s"doc $i", "a")).toDF(
      "id", "text", "source")
    SnapshotTable.write(spark, root, df, Seq("source"),
      filesPerPartition = 8, statsFor = Seq("id"), clusterBy = Seq("id"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val aDir1 = SnapshotTable.entriesFor(spark, root, 1)
      .collectFirst { case ("a", d) => d }.get
    val bytes = fs.listStatus(new Path(root, aDir1))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    // compact 8 -> 4 files, range-clustered on id
    SnapshotTable.optimize(spark, root,
      targetBytes = bytes / 4 + 1)
    assert(fileCount(root, "a", 2) == 4)
    val band = SnapshotTable.readBetween(spark, root, "id", 10, 20)
    assert(band.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (10L to 20L))
    // structural: the 11-id band opens ONE of the 4 range-clustered
    // files (inputFiles = exactly the paths the manifest pruning kept)
    assert(band.inputFiles.length == 1,
      s"band read should open 1 of 4 clustered files, " +
        s"opened ${band.inputFiles.length}")
  }

  test("a concurrent DISJOINT upsert during optimize: both land") {
    val root = mkFragmented(fanOut = 4)
    var fired = false
    SnapshotTable.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        SnapshotTable.onBeforeCommit = () => ()
        // lands v2 while the optimize attempt holds v1 as its base;
        // touches NEITHER a nor b
        SnapshotTable.upsert(spark, root,
          Seq((1000L, "new", "c")).toDF("id", "text", "source"),
          "id", Seq("source"))
      }
    }
    try {
      val v = SnapshotTable.optimize(spark, root)
      assert(v == 3)
    } finally SnapshotTable.onBeforeCommit = () => ()
    val after = SnapshotTable.read(spark, root)
    assert(after.count() == 401)
    assert(fileCount(root, "a", 3) == 1)
    assert(after.filter($"source" === "c").count() == 1)
  }

  test("a concurrent OVERLAPPING commit forces a re-plan, not a clobber") {
    val root = mkFragmented(fanOut = 4)
    var fired = false
    SnapshotTable.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        SnapshotTable.onBeforeCommit = () => ()
        // rewrites partition a (fanOut 1) while optimize is staging:
        // optimize's staged compaction of a is now STALE
        SnapshotTable.upsert(spark, root,
          Seq((2L, "rewritten", "a")).toDF("id", "text", "source"),
          "id", Seq("source"))
      }
    }
    try SnapshotTable.optimize(spark, root)
    finally SnapshotTable.onBeforeCommit = () => ()
    val after = SnapshotTable.read(spark, root)
    // the concurrent upsert's row SURVIVES — optimize re-planned
    // against v2 instead of resurrecting the old partition contents
    assert(after.filter($"id" === 2L).select("text")
      .collect()(0).getString(0) == "rewritten")
    val v = SnapshotTable.versions(spark, root).last
    assert(fileCount(root, "b", v) == 1)
  }
}
