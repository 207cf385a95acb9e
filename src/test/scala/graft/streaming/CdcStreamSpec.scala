package graft.streaming

import graft.SparkSpec
import graft.core.Tables
import graft.lake.SnapshotTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming CDC apply must converge to the batch-applied dataset
  * across micro-batches, rewrite only touched partitions, and survive
  * foreachBatch's at-least-once replay. */
// excluded from the default `sbt test` (CI budget) — run with
// GRAFT_TEST_ALL=1 or `testOnly`; see build.sbt
@org.scalatest.tags.Slow
class CdcStreamSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def baseTable(): String = {
    val root = tmpDir("cdc-ds")
    SnapshotTable.write(spark, root,
      Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("source")),
      Seq("source"))
    root
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("n_chars", LongType),
    StructField("source", StringType)))

  test("drained CDC stream equals batch-applied upserts, pruned writes") {
    val root = baseTable()
    val changes = tmpDir("cdc-in")
    def wave(rows: Seq[(Long, String, String, Long, String)], name: String) =
      spark.createDataFrame(rows).toDF(
        "doc_id", "text", "lang", "n_chars", "source")
        .coalesce(1).write.parquet(s"$changes/$name")
    wave(Seq((3L, "v2 of three", "en", 11L, "src3"),
      (100007L, "new seven", "en", 9L, "src7")), "wave=0")
    wave(Seq((3L, "v3 of three", "en", 11L, "src3")), "wave=1")

    val untouched = SnapshotTable.entriesFor(spark, root, 1)
      .filterNot { case (k, _) => Set("src3", "src7")(k) }

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("basePath", changes)
      .parquet(s"$changes/wave=*")
      .drop("wave")
    val q = CdcStream.maintainUpsertsAtomic(stream, root, "doc_id",
      Seq("source"))
    try q.awaitTermination() finally q.stop()

    // one commit per micro-batch (maxFilesPerTrigger=1: two waves)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2, 3))
    val after = SnapshotTable.read(spark, root)
    // LAST change wins: wave 1 ran after wave 0 (maxFilesPerTrigger=1)
    assert(after.filter(col("doc_id") === 3L).select("text")
      .collect()(0).getString(0) == "v3 of three")
    assert(after.filter(col("doc_id") === 100007L).count() == 1)
    val latest = SnapshotTable.entriesFor(spark, root, 3).toSet
    assert(untouched.forall(latest), "an untouched partition was rewritten")
  }

  test("multiple changes for one key in ONE batch: greatest version wins") {
    // AvailableNow with no maxFilesPerTrigger drains every pending file
    // into a single micro-batch — the per-key reduction must pick the
    // highest-version change, not hand the upsert duplicate keys
    val root = baseTable()
    val changes = tmpDir("cdc-onebatch")
    spark.createDataFrame(Seq(
      (3L, "v1 of three", "en", 11L, "src3", 1L),
      (3L, "v2 of three", "en", 11L, "src3", 2L)))
      .toDF("doc_id", "text", "lang", "n_chars", "source", "version")
      .coalesce(1).write.parquet(s"$changes/all")
    val vschema = StructType(schema.fields :+ StructField("version", LongType))
    val stream = spark.readStream.schema(vschema)
      .parquet(s"$changes/all")
    val q = CdcStream.maintainUpsertsAtomic(stream, root, "doc_id",
      Seq("source"), versionCol = Some("version"))
    try q.awaitTermination() finally q.stop()
    val rows = SnapshotTable.read(spark, root).filter(col("doc_id") === 3L)
      .select("text").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("v2 of three"),
      s"expected exactly the latest change to land, got $rows")
  }

  test("atomic CDC: per-batch snapshot commits, replay converges by content") {
    // maintainUpsertsAtomic drains the same waves through
    // SnapshotTable.upsert: each micro-batch is ONE manifest commit, so
    // readers can never observe a half-applied batch; a replayed batch
    // commits an extra version whose CONTENT equals the first
    // application's.
    val root = tmpDir("cdc-atomic")
    SnapshotTable.write(spark,
      root,
      Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("source")),
      Seq("source"))
    val changes = tmpDir("cdc-atomic-in")
    spark.createDataFrame(Seq(
      (3L, "v2 of three", "en", 11L, "src3"),
      (100007L, "new seven", "en", 9L, "src7")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
      .coalesce(1).write.parquet(s"$changes/all")
    val stream = spark.readStream.schema(schema).parquet(s"$changes/all")
    val q = CdcStream.maintainUpsertsAtomic(stream, root, "doc_id", Seq("source"))
    try q.awaitTermination() finally q.stop()
    def content(v: Int) = SnapshotTable.read(spark, root, v)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(content(2).contains((3L, "v2 of three", 11L)))
    assert(content(2).contains((100007L, "new seven", 9L)))
    // replay: a fresh checkpoint re-delivers the same files (the
    // crashed-before-checkpoint-advance case) — content converges
    new java.io.File(s"$root/_cdc_checkpoint").listFiles()
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
    val stream2 = spark.readStream.schema(schema).parquet(s"$changes/all")
    val q2 = CdcStream.maintainUpsertsAtomic(stream2, root, "doc_id", Seq("source"))
    try q2.awaitTermination() finally q2.stop()
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2, 3))
    assert(content(3) == content(2),
      "replaying a CDC batch changed the table content")
  }

  test("tombstone CDC: latest event per key wins, deletes land atomically") {
    val root = tmpDir("cdc-tombstone")
    SnapshotTable.write(spark,
      root,
      Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("source")),
      Seq("source"))
    val changes = tmpDir("cdc-tombstone-in")
    // ONE batch: doc 3 is upserted at v1 then TOMBSTONED at v2 (delete
    // wins); doc 5 tombstoned at v1 then re-upserted at v2 (upsert
    // wins); doc 100009 plain insert
    spark.createDataFrame(Seq(
      ("u", 3L, "v1 of three", "en", 11L, "src3", 1L),
      ("d", 3L, null.asInstanceOf[String], null.asInstanceOf[String],
        0L, "src3", 2L),
      ("d", 5L, null.asInstanceOf[String], null.asInstanceOf[String],
        0L, "src5", 1L),
      ("u", 5L, "five rises", "en", 10L, "src5", 2L),
      ("u", 100009L, "new nine", "en", 8L, "src9", 1L)))
      .toDF("op", "doc_id", "text", "lang", "n_chars", "source", "version")
      .coalesce(1).write.parquet(s"$changes/all")
    val cschema = StructType(
      StructField("op", StringType) +: schema.fields :+
        StructField("version", LongType))
    val stream = spark.readStream.schema(cschema).parquet(s"$changes/all")
    val q = CdcStream.maintainChangesAtomic(stream, root, "doc_id",
      Seq("source"), opCol = "op", versionCol = Some("version"))
    try q.awaitTermination() finally q.stop()
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2),
      "one drained batch must commit exactly one version")
    val after = SnapshotTable.read(spark, root)
    assert(after.filter(col("doc_id") === 3L).isEmpty,
      "the later tombstone must win over the earlier upsert")
    assert(after.filter(col("doc_id") === 5L).select("text")
      .collect()(0).getString(0) == "five rises",
      "the later upsert must win over the earlier tombstone")
    assert(after.filter(col("doc_id") === 100009L).count() == 1)
  }

  test("a stream lands in a governed table by CATALOG NAME") {
    // round-14 verdict item 8: the intake pipeline carries no storage
    // coordinates — root, partition layout and row key all resolve
    // from the binding + manifest declarations
    import graft.lake.LakeCatalog
    val root = tmpDir("cdc-byname")
    // bootstrap via upsert so the ROW KEY is recorded in the manifest
    SnapshotTable.upsert(spark, root,
      Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("source")),
      "doc_id", Seq("source"))
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "cdc_byname", root)
    val changes = tmpDir("cdc-byname-in")
    spark.createDataFrame(Seq(
      ("u", 3L, "renamed three", "en", 13L, "src3", 1L),
      ("d", 5L, null.asInstanceOf[String], null.asInstanceOf[String],
        0L, "src5", 1L)))
      .toDF("op", "doc_id", "text", "lang", "n_chars", "source", "version")
      .coalesce(1).write.parquet(s"$changes/all")
    val cschema = StructType(
      StructField("op", StringType) +: schema.fields :+
        StructField("version", LongType))
    val stream = spark.readStream.schema(cschema).parquet(s"$changes/all")
    val q = CdcStream.maintainChangesAtomicIntoTable(spark, stream,
      "lake.cdc_byname", opCol = "op", versionCol = Some("version"))
    try q.awaitTermination() finally q.stop()
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2),
      "one drained batch, one commit — same OCC line as the root API")
    val after = SnapshotTable.read(spark, root)
    assert(after.filter(col("doc_id") === 3L).select("text")
      .collect()(0).getString(0) == "renamed three")
    assert(after.filter(col("doc_id") === 5L).isEmpty)
    // loud contracts: a pinned binding and a key-less table refuse
    LakeCatalog.register(spark, "cdc_byname_pin", root, version = Some(1))
    val pin = intercept[IllegalArgumentException] {
      CdcStream.maintainChangesAtomicIntoTable(spark, stream,
        "lake.cdc_byname_pin", opCol = "op")
    }
    assert(pin.getMessage.contains("immutable"), pin.getMessage)
    val keyless = tmpDir("cdc-byname-keyless")
    SnapshotTable.write(spark, keyless,
      spark.createDataFrame(Seq(("s1", 1L))).toDF("source", "doc_id"),
      Seq("source"))
    LakeCatalog.register(spark, "cdc_byname_keyless", keyless)
    val nk = intercept[IllegalArgumentException] {
      CdcStream.maintainChangesAtomicIntoTable(spark, stream,
        "lake.cdc_byname_keyless", opCol = "op")
    }
    assert(nk.getMessage.contains("declareKey"), nk.getMessage)
  }

  test("re-applying a change batch converges (at-least-once contract)") {
    val root = baseTable()
    val updates = spark.createDataFrame(Seq(
      (3L, "same change", "en", 11L, "src3")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    SnapshotTable.upsert(spark, root, updates, "doc_id", Seq("source"))
    val once = SnapshotTable.read(spark, root).orderBy("doc_id")
      .collect().toSeq
    // crash-retry
    SnapshotTable.upsert(spark, root, updates, "doc_id", Seq("source"))
    val twice = SnapshotTable.read(spark, root).orderBy("doc_id")
      .collect().toSeq
    assert(once == twice, "replaying an upsert batch changed the dataset")
  }
}
