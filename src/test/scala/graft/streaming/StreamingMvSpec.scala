package graft.streaming

import graft.SparkSpec
import graft.lake.{MaterializedAgg, SnapshotTable}
import graft.lake.MaterializedAgg.MvSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming table upkeep: a CDC-maintained snapshot table drags its
  * materialized aggregate along per batch (incremental, O(changed
  * partitions)) and bin-packs itself on cadence — both idempotent
  * under foreachBatch replay. */
class StreamingMvSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("val", LongType),
    StructField("source", StringType), StructField("op", StringType)))

  private val mvSpec = MvSpec(
    groupBy = Seq("source"),
    sums = Seq("total_val" -> "val"),
    countName = "n_rows")

  private def fullAgg(root: String): Set[(String, Long, Long)] =
    SnapshotTable.read(spark, root)
      .groupBy($"source")
      .agg(sum($"val").as("t"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

  private def viewRows(mvRoot: String): Set[(String, Long, Long)] =
    MaterializedAgg.read(spark, mvRoot)
      .select($"source", $"total_val", $"n_rows")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

  private val txtSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("val", LongType),
    StructField("text", StringType), StructField("source", StringType),
    StructField("op", StringType)))

  /** (doc_id, tok, tf) of a full re-tokenization of `docs`. */
  private def tokenized(docs: org.apache.spark.sql.DataFrame)
      : Set[(Long, String, Long)] =
    docs.withColumn("toks", expr(graft.queries.Text.toksExpr))
      .where(size($"toks") > 0)
      .select($"doc_id", explode($"toks").as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def fileCount(root: String, key: String): Int = {
    val v = SnapshotTable.versions(spark, root).last
    // entriesFor folds the delta log — the latest manifest FILE is a
    // delta that need not mention an untouched partition's entry
    val d = SnapshotTable.entriesFor(spark, root, v)
      .collectFirst { case (k, dir) if k == key => dir }.get
    val p = new Path(root, d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  test("view tracks the stream batch-by-batch; optimize fires on cadence") {
    val root = tmpDir("smv-base"); val mvRoot = tmpDir("smv-view")
    val in = tmpDir("smv-in")
    SnapshotTable.write(spark, root,
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 5L, "b"))
        .toDF("id", "val", "source"),
      Seq("source"), filesPerPartition = 4)
    MaterializedAgg.init(spark, root, mvRoot, mvSpec, nBuckets = 4)

    def wave(rows: Seq[(Long, Long, String, String)], name: String) =
      rows.toDF("id", "val", "source", "op")
        .coalesce(1).write.parquet(s"$in/$name")
    wave(Seq((1L, 100L, "a", "u"), (4L, 7L, "c", "u")), "w0")
    wave(Seq((3L, 0L, "b", "d"), (5L, 9L, "a", "u")), "w1")
    wave(Seq((2L, 0L, "a", "d")), "w2")

    val maint = CdcStream.TableMaintenance(
      views = Seq(CdcStream.MvBinding(mvRoot, mvSpec, nBuckets = 4)),
      optimizeEveryBatches = 2)
    val q = CdcStream.maintainChangesAtomic(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/w*"),
      root, "id", Seq("source"), opCol = "op", maintenance = maint)
    try q.awaitTermination() finally q.stop()

    // the view reflects the final table exactly — and b's group (its
    // only row deleted in w1) is GONE, not zero
    assert(viewRows(mvRoot) == fullAgg(root))
    assert(!viewRows(mvRoot).exists(_._1 == "b"))
    // cadence fired at least once over 3 batches: partition a (loaded
    // 4-wide, rewritten by every wave) ends compact
    assert(fileCount(root, "a") == 1)
    // per-batch refresh = one view version per batch that changed
    // aggregates (3 waves) + init
    assert(SnapshotTable.versions(spark, mvRoot).size >= 3)
  }

  test("tokenized corpus + retention vacuum ride the maintenance loop") {
    val root = tmpDir("smv-base"); val mvRoot = tmpDir("smv-view")
    val tokRoot = tmpDir("smv-tok"); val in = tmpDir("smv-in")
    SnapshotTable.write(spark, root,
      Seq((1L, 10L, "spark window", "a"), (2L, 20L, "filter spark", "a"),
        (3L, 5L, "plain prose", "b"))
        .toDF("doc_id", "val", "text", "source"),
      Seq("source"))
    MaterializedAgg.init(spark, root, mvRoot, mvSpec, nBuckets = 4)
    graft.operators.TokenizedCorpus.refresh(spark, root, tokRoot,
      Seq("source"))

    def wave(rows: Seq[(Long, Long, String, String, String)], name: String) =
      rows.toDF("doc_id", "val", "text", "source", "op")
        .coalesce(1).write.parquet(s"$in/$name")
    wave(Seq((1L, 100L, "spark spark rewritten", "a", "u")), "w0")
    wave(Seq((4L, 7L, "window words", "c", "u")), "w1")
    wave(Seq((3L, 0L, "", "b", "d")), "w2")

    val laneRoot = tmpDir("smv-lane")
    val maint = CdcStream.TableMaintenance(
      views = Seq(CdcStream.MvBinding(mvRoot, mvSpec, nBuckets = 4)),
      tokenizedRoots = Seq(tokRoot),
      vacuumEveryBatches = 1, vacuumKeepVersions = 1,
      laneRoot = Some(laneRoot))
    val q = CdcStream.maintainChangesAtomic(
      spark.readStream.schema(txtSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/w*"),
      root, "doc_id", Seq("source"), opCol = "op", maintenance = maint)
    try q.awaitTermination() finally q.stop()

    // every derived table reflects the final base exactly
    assert(viewRows(mvRoot) == fullAgg(root))
    val gotToks = graft.operators.TokenizedCorpus.postings(spark, tokRoot)
      .select($"doc_id", $"tok", $"tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(gotToks == tokenized(SnapshotTable.read(spark, root)),
      "tokenized table diverged from a full re-tokenization")
    // retention ran: the base keeps at most keep + protected anchors
    // (each maintainer is current, so the anchor IS the latest)
    assert(SnapshotTable.versions(spark, root).size <= 2,
      s"vacuum left ${SnapshotTable.versions(spark, root)}")
    assert(SnapshotTable.versions(spark,
      graft.operators.TokenizedCorpus.postingsRoot(tokRoot)).size <= 1)
    assert(SnapshotTable.versions(spark, mvRoot).size <= 1)
    // a lane version published per completed batch (round 17): the
    // latest cut pins base + mv + tokenized postings at the SAME drain,
    // and reading every member through it is self-consistent even
    // though the per-batch vacuum kept only ONE version per table —
    // the lane pins are what that vacuum protected
    assert(graft.lake.Lane.latest(spark, laneRoot).exists(_ >= 3),
      "one lane version per drained batch expected")
    // the lane vacuumed on the same cadence as the members — bounding
    // ITS retention is what re-bounds theirs
    assert(graft.lake.Lane.versions(spark, laneRoot).size == 1)
    val (bR, bV) = graft.lake.Lane.member(spark, laneRoot, "base")
    val (mR, mV) = graft.lake.Lane.member(spark, laneRoot, s"mv:$mvRoot")
    assert(SnapshotTable.latest(spark, bR).contains(bV),
      "latest lane cut must pin the post-drain base version")
    assert(MaterializedAgg.read(spark, mR, mV)
      .selectExpr("CAST(sum(n_rows) AS BIGINT)").collect()(0).getLong(0) ==
      SnapshotTable.read(spark, bR, bV).count(),
      "lane-pinned view disagrees with the lane-pinned base")
    // and the NEXT incremental refresh still works after its history
    // was vacuumed (anchor protected)
    SnapshotTable.upsert(spark, root,
      Seq((5L, 3L, "filter anew", "a")).toDF("doc_id", "val", "text", "source"),
      "doc_id", Seq("source"))
    MaterializedAgg.refresh(spark, root, mvRoot, mvSpec, 4)
    graft.operators.TokenizedCorpus.refresh(spark, root, tokRoot,
      Seq("source"))
    assert(viewRows(mvRoot) == fullAgg(root))
  }

  test("a failing refresh publishes no lane cut; the replay publishes one") {
    import graft.lake.Lane
    import graft.operators.TokenizedCorpus
    val root = tmpDir("smv-base"); val mvRoot = tmpDir("smv-view")
    val badMv = tmpDir("smv-bad"); val tokRoot = tmpDir("smv-tok")
    val laneRoot = tmpDir("smv-lane"); val in = tmpDir("smv-in")
    SnapshotTable.write(spark, root,
      Seq((1L, 10L, "spark window", "a"), (2L, 20L, "filter spark", "a"),
        (3L, 5L, "plain prose", "b"))
        .toDF("doc_id", "val", "text", "source"),
      Seq("source"))
    MaterializedAgg.init(spark, root, mvRoot, mvSpec, nBuckets = 4)
    MaterializedAgg.init(spark, root, badMv, mvSpec, nBuckets = 4)
    TokenizedCorpus.refresh(spark, root, tokRoot, Seq("source"))
    val good = CdcStream.TableMaintenance(
      views = Seq(CdcStream.MvBinding(mvRoot, mvSpec, nBuckets = 4)),
      tokenizedRoots = Seq(tokRoot),
      laneRoot = Some(laneRoot))
    good.run(spark, root, Seq("source"), batchId = 0L)
    assert(Lane.versions(spark, laneRoot) == Seq(1))

    Seq((1L, 100L, "spark spark rewritten", "a", "u"),
      (4L, 7L, "window words", "c", "u"), (3L, 0L, "", "b", "d"))
      .toDF("doc_id", "val", "text", "source", "op")
      .coalesce(1).write.parquet(s"$in/w0")
    def drain(m: CdcStream.TableMaintenance) = {
      val q = CdcStream.maintainChangesAtomic(
        spark.readStream.schema(txtSchema).parquet(s"$in/w*"),
        root, "doc_id", Seq("source"), opCol = "op", maintenance = m)
      try q.awaitTermination() finally q.stop()
    }
    // the second view's root was initialized under another spec, so its
    // refresh throws while the other two refreshes run beside it
    val drifted = mvSpec.copy(countName = "rows")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drain(good.copy(views =
        good.views :+ CdcStream.MvBinding(badMv, drifted, nBuckets = 4))))
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(e => e.isInstanceOf[IllegalArgumentException] &&
      e.getMessage.contains(s"spec drift under $badMv")), chain)
    assert(!chain.exists(
      _.isInstanceOf[java.util.concurrent.ExecutionException]), chain)
    import scala.jdk.CollectionConverters._
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-maint-") && t.isAlive)
    assert(alive.isEmpty, s"refresh threads outlived the drain: $alive")
    assert(Lane.versions(spark, laneRoot) == Seq(1),
      "a failed drain must not publish a lane version")

    // replay the batch without the bad binding: exactly one new cut,
    // every member equal to a recompute from the pinned base
    drain(good)
    assert(Lane.versions(spark, laneRoot) == Seq(1, 2))
    val (bR, bV) = Lane.member(spark, laneRoot, "base", 2)
    val (mR, mV) = Lane.member(spark, laneRoot, s"mv:$mvRoot", 2)
    val (tR, tV) = Lane.member(spark, laneRoot, s"tok:$tokRoot", 2)
    val base = SnapshotTable.read(spark, bR, bV)
    assert(base.where($"doc_id" === 4L).count() == 1,
      "the pinned base must hold the replayed batch")
    val wantView = base.groupBy($"source")
      .agg(sum($"val").as("t"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val gotView = MaterializedAgg.read(spark, mR, mV)
      .select($"source", $"total_val", $"n_rows")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotView == wantView)
    val gotToks = SnapshotTable.read(spark, tR, tV)
      .where($"doc_id".isNotNull).select($"doc_id", $"tok", $"tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(gotToks == tokenized(base))
  }

  test("replayed maintenance is a no-op: versions do not advance") {
    val root = tmpDir("smv-base"); val mvRoot = tmpDir("smv-view")
    SnapshotTable.write(spark, root,
      Seq((1L, 10L, "a"), (2L, 5L, "b")).toDF("id", "val", "source"),
      Seq("source"))
    MaterializedAgg.init(spark, root, mvRoot, mvSpec, nBuckets = 4)
    SnapshotTable.upsert(spark, root,
      Seq((3L, 50L, "a")).toDF("id", "val", "source"), "id", Seq("source"))
    val maint = CdcStream.TableMaintenance(
      views = Seq(CdcStream.MvBinding(mvRoot, mvSpec, nBuckets = 4)),
      optimizeEveryBatches = 1)
    maint.run(spark, root, Seq("source"), batchId = 0L)
    val baseV = SnapshotTable.versions(spark, root).last
    val mvV = SnapshotTable.versions(spark, mvRoot).last
    // the at-least-once replay: same upkeep again, nothing to do
    maint.run(spark, root, Seq("source"), batchId = 0L)
    assert(SnapshotTable.versions(spark, root).last == baseV)
    assert(SnapshotTable.versions(spark, mvRoot).last == mvV)
    assert(viewRows(mvRoot) == fullAgg(root))
  }
}
