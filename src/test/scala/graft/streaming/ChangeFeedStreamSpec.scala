package graft.streaming

import graft.SparkSpec
import graft.lake.{ChangeFeed, SnapshotTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The change feed as a Structured Streaming source: version-keyed
  * offsets, checkpointed resume, history replay vs latest-only starts,
  * and loud failure when retention outruns the consumer. */
class ChangeFeedStreamSpec extends SparkSpec {
  import spark.implicits._

  private def base(n: Long) = spark.range(n).select(
    concat(lit("s"), (col("id") % 4).cast("string")).as("src"),
    col("id").as("k"), (col("id") * 7 % 31).as("v"))

  private def drain(root: String, ckpt: String,
      options: Map[String, String] = Map.empty): Seq[org.apache.spark.sql.Row] = {
    val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val reader = spark.readStream.format("graft-changes")
      .option("root", root)
    val q = options.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized { buf ++= df.collect() }: Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    buf.synchronized(buf.toSeq)
  }

  test("first drain replays history; a resumed drain sees only new") {
    val root = tmpDir("cfs-resume")
    val ckpt = tmpDir("cfs-resume-ckpt")
    SnapshotTable.write(spark, root, base(80L), Seq("src"))
    SnapshotTable.upsert(spark, root,
      Seq(("s1", 5L, 999L)).toDF("src", "k", "v"), "k", Seq("src"))

    val first = drain(root, ckpt)
    // bootstrap inserts (80) + the upsert's delete+insert pair
    assert(first.size == 82, s"expected 82 change rows, got ${first.size}")
    val byType = first.groupBy(_.getAs[String](ChangeFeed.ChangeTypeCol))
      .view.mapValues(_.size).toMap
    assert(byType("insert") == 81 && byType("delete") == 1, byType.toString)

    // nothing new: a re-drain from the same checkpoint emits zero rows
    assert(drain(root, ckpt).isEmpty)

    // one more commit: only ITS changes arrive
    SnapshotTable.deleteWhere(spark, root, $"k" === 7)
    val third = drain(root, ckpt)
    assert(third.size == 1 &&
      third.head.getAs[String](ChangeFeed.ChangeTypeCol) == "delete" &&
      third.head.getAs[Long]("k") == 7, third.toString)
  }

  test("startingVersion=latest serves future changes only") {
    val root = tmpDir("cfs-latest")
    val ckpt = tmpDir("cfs-latest-ckpt")
    SnapshotTable.write(spark, root, base(40L), Seq("src"))
    assert(drain(root, ckpt, Map("startingVersion" -> "latest")).isEmpty,
      "latest-start must skip the retained history")
    SnapshotTable.upsert(spark, root,
      Seq(("s2", 2L, -5L)).toDF("src", "k", "v"), "k", Seq("src"))
    val batch = drain(root, ckpt, Map("startingVersion" -> "latest"))
    assert(batch.size == 2, s"only the new commit's pair: $batch")
    assert(batch.forall(_.getAs[Long](ChangeFeed.VersionCol) == 2L))
  }

  test("a consumer that fell behind vacuum fails loudly") {
    val root = tmpDir("cfs-vacuum")
    val ckpt = tmpDir("cfs-vacuum-ckpt")
    SnapshotTable.write(spark, root, base(30L), Seq("src"))
    (1 to 4).foreach { i =>
      SnapshotTable.upsert(spark, root,
        Seq(("s1", 1L, 100L + i)).toDF("src", "k", "v"), "k", Seq("src"))
    }
    SnapshotTable.vacuum(spark, root, keepVersions = 2)
    val e = intercept[Exception] { drain(root, ckpt) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("vacuumed"))),
      s"expected the vacuumed-version error, got: $e")
  }

  test("restart replay pads columns evolved after the replayed range") {
    // Round-14 advice (medium): on restart, pinnedSchema is recomputed
    // at the CURRENT latest, but a pending offset-logged batch replays
    // an older range. If a schema-evolving commit landed after that
    // range's end, the replayed between() can never carry the new
    // column — select used to throw unresolved-column on every
    // restart, a crash loop only fixable by discarding the checkpoint.
    val root = tmpDir("cfs-replaypad")
    SnapshotTable.write(spark, root, base(12L), Seq("src"))        // v1
    SnapshotTable.upsert(spark, root,                              // v2
      Seq(("s1", 1L, 7L, "x")).toDF("src", "k", "v", "w"),
      "k", Seq("src"), mergeSchema = true)
    // a source created NOW pins the evolved schema; the replayed
    // pending batch covers (0, 1] which predates column w
    val src = new ChangeFeedSource(spark, root, 1)
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val batch = src.getBatch(None, LongOffset(1L))
    assert(batch.schema.fieldNames.toSeq ==
      src.schema.fieldNames.toSeq,
      s"replayed batch must match the pinned schema: ${batch.schema}")
    assert(batch.schema.fieldNames.contains("w"),
      "the post-range evolved column must be padded, not dropped")
  }

  test("a corrupt latest-start pin fails with actionable guidance") {
    val root = tmpDir("cfs-pin")
    val ckpt = tmpDir("cfs-pin-ckpt")
    SnapshotTable.write(spark, root, base(8L), Seq("src"))
    // plant garbage where the pin lives (sources/0 is the V1 source's
    // metadata dir under the checkpoint)
    val meta = new java.io.File(ckpt, "sources/0")
    assert(meta.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(meta, "graft-changes-start").toPath,
      "12garbage".getBytes("UTF-8"))
    val e = intercept[Exception] {
      drain(root, ckpt, Map("startingVersion" -> "latest"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(m =>
      m.contains("corrupt") && m.contains("delete the"))),
      s"expected the corrupt-pin guidance, got: $e")
  }

  test("AvailableNow pins its end version at prepare time") {
    // the exact Trigger.AvailableNow contract (not the single-batch
    // fallback): a commit landing AFTER prepare is left for the next
    // run — the drain's target is pinned, like KafkaSource's
    val root = tmpDir("cfs-an")
    SnapshotTable.write(spark, root, base(10L), Seq("src"))        // v1
    SnapshotTable.upsert(spark, root,                              // v2
      Seq(("s1", 1L, 50L)).toDF("src", "k", "v"), "k", Seq("src"))
    val src = new ChangeFeedSource(spark, root, 1)
    src.prepareForTriggerAvailableNow()
    SnapshotTable.upsert(spark, root,                              // v3
      Seq(("s2", 2L, 60L)).toDF("src", "k", "v"), "k", Seq("src"))
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val end = src.latestOffset(src.initialOffset(), ReadLimit.allAvailable())
    assert(end != null && end.json.trim.toLong == 2L,
      s"AvailableNow must drain to the PREPARED version (2), got $end")
    // drained to the pin: nothing more this run
    assert(src.latestOffset(end, ReadLimit.allAvailable()) == null)
  }

  test("offsets are versions: the checkpoint pins the resume point") {
    val root = tmpDir("cfs-offsets")
    val ckpt = tmpDir("cfs-offsets-ckpt")
    SnapshotTable.write(spark, root, base(20L), Seq("src"))
    drain(root, ckpt)
    // the committed offset on disk IS the table's version number
    val off = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toInt).max
    val content = scala.io.Source.fromFile(s"$ckpt/offsets/$off")
      .getLines().toList.last
    assert(content.trim == "1",
      s"offset file should carry version 1, got '$content'")
  }
}
