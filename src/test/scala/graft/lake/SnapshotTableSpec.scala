package graft.lake

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-partition ATOMIC upsert: a batch touching many partitions
  * becomes visible in one manifest commit — a crash after the data
  * write but before the commit leaves readers on the old version
  * exactly, never with some partitions updated and others not. */
class SnapshotTableSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def baseDocs: DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))

  private def freshTable(): String = {
    val root = tmpDir("snaptable")
    SnapshotTable.write(spark, root, baseDocs, Seq("source"))
    root
  }

  private def rows(df: DataFrame): Set[(Long, String, Long)] =
    df.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** A version's FOLDED (key, dir) entries as "key<TAB>dir" strings —
    * since round 12 a version's manifest FILE is a delta (only its own
    * commit's entries), so directory-sharing assertions go through the
    * folded state the log reconstructs. */
  private def manifestLines(root: String, v: Int): Seq[String] =
    SnapshotTable.entriesFor(spark, root, v)
      .map { case (k, d) => s"$k\t$d" }

  test("upsert merges like Lake.upsert and commits one new version") {
    val root = freshTable()
    val updates = spark.createDataFrame(Seq(
      (3L, "replaced three", "en", 14L, "src3"),
      (7L, "replaced seven", "en", 14L, "src7"),
      (100003L, "brand new", "en", 9L, "src3")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    val v = SnapshotTable.upsert(spark, root, updates, "doc_id", Seq("source"))
    assert(v == 2)
    val after = SnapshotTable.read(spark, root)
    assert(rows(after.filter(col("doc_id").isin(3L, 7L, 100003L))) ==
      Set((3L, "replaced three", 14L), (7L, "replaced seven", 14L),
        (100003L, "brand new", 9L)))
    assert(after.count() == baseDocs.count() + 1)
    // v1 is STILL the pre-upsert table (time travel over CDC)
    assert(rows(SnapshotTable.read(spark, root, 1)) == rows(baseDocs))
  }

  test("a crash between data write and manifest commit is INVISIBLE") {
    // The atomicity claim itself: the batch touches two partitions, all
    // its data directories are fully written, and then the writer dies
    // before the manifest rename. Readers must see the previous version
    // exactly — not one partition updated and the other not.
    val root = freshTable()
    val before = rows(SnapshotTable.read(spark, root))
    val updates = spark.createDataFrame(Seq(
      (3L, "replaced three", "en", 14L, "src3"),
      (7L, "replaced seven", "en", 14L, "src7")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    // the crash: the one pre-publish seam throws, as a writer dying
    // after its staging write would
    def crashing(op: => Any): Unit = {
      SnapshotTable.onBeforeCommit = () =>
        throw new java.io.IOException(
          "simulated crash after data write, before manifest commit")
      try intercept[java.io.IOException](op)
      finally SnapshotTable.onBeforeCommit = () => ()
    }
    crashing(SnapshotTable.upsert(spark, root, updates, "doc_id",
      Seq("source")))
    assert(SnapshotTable.versions(spark, root) == Seq(1),
      "a crashed batch must not commit a version")
    assert(rows(SnapshotTable.read(spark, root)) == before,
      "a crashed multi-partition batch leaked into a read")
    // the orphaned directories are garbage vacuum collects; the retried
    // upsert then lands cleanly as v2
    val (_, removed) = SnapshotTable.vacuum(spark, root, keepVersions = 1)
    assert(removed == 2, s"expected the 2 orphaned dirs collected: $removed")
    val v = SnapshotTable.upsert(spark, root, updates, "doc_id", Seq("source"))
    assert(v == 2)
    assert(rows(SnapshotTable.read(spark, root)
      .filter(col("doc_id").isin(3L, 7L))) ==
      Set((3L, "replaced three", 14L), (7L, "replaced seven", 14L)))
    // the same crash inside a COMPACTION: the over-fanned table's
    // optimize stages its rewritten directories, dies before the
    // publish, and loses nothing — the version and every row stand,
    // and the next optimize lands on the following version
    val fanned = tmpDir("snaptable-optcrash")
    SnapshotTable.write(spark, fanned, baseDocs, Seq("source"),
      filesPerPartition = 4)
    val fannedRows = rows(SnapshotTable.read(spark, fanned))
    crashing(SnapshotTable.optimize(spark, fanned))
    assert(SnapshotTable.latest(spark, fanned) == Some(1),
      "a crashed compaction must not commit a version")
    assert(rows(SnapshotTable.read(spark, fanned)) == fannedRows,
      "a crashed compaction lost or leaked rows")
    assert(SnapshotTable.optimize(spark, fanned) == 2)
    assert(rows(SnapshotTable.read(spark, fanned)) == fannedRows)
  }

  test("only touched partitions are rewritten; untouched dirs are shared") {
    val root = freshTable()
    val v1Entries = manifestLines(root, 1)
    val updates = spark.createDataFrame(Seq(
      (3L, "replaced", "en", 8L, "src3")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    SnapshotTable.upsert(spark, root, updates, "doc_id", Seq("source"))
    val v2Entries = manifestLines(root, 2)
    val changed = v2Entries.toSet -- v1Entries.toSet
    assert(changed.size == 1 && changed.head.startsWith("src3\t"),
      s"exactly the touched partition should get a new dir: $changed")
    assert((v1Entries.toSet -- v2Entries.toSet).size == 1,
      "untouched partitions must carry their v1 directories forward")
    // a DATA-column delete rewrites only the partitions holding matches
    val pred = col("source") === "src5" && col("doc_id") % 3 === 0
    val n2 = SnapshotTable.read(spark, root).count()
    val victims = SnapshotTable.read(spark, root).filter(pred).count()
    assert(victims > 0, "no rows match at smoke scale; weak test")
    SnapshotTable.deleteWhere(spark, root, pred)
    val v3Entries = manifestLines(root, 3)
    val rewritten = v3Entries.toSet -- v2Entries.toSet
    assert(rewritten.size == 1 && rewritten.head.startsWith("src5\t"),
      s"only the partition holding matches should rewrite: $rewritten")
    val after = SnapshotTable.read(spark, root)
    assert(after.count() == n2 - victims && after.filter(pred).isEmpty)
  }

  test("deleteWhere drops rows and empties partitions atomically") {
    val root = freshTable()
    val n0 = SnapshotTable.read(spark, root).count()
    val victims = SnapshotTable.read(spark, root)
      .filter(col("source") === "src5").count()
    assert(victims > 0)
    val v = SnapshotTable.deleteWhere(spark, root,
      col("source") === "src5")
    assert(v == 2)
    val after = SnapshotTable.read(spark, root)
    assert(after.count() == n0 - victims)
    assert(after.filter(col("source") === "src5").isEmpty)
    // the emptied partition left the manifest entirely
    val v2Entries = manifestLines(root, 2)
    assert(!v2Entries.exists(_.startsWith("src5\t")))
    // NULL-predicate rows are kept (three-valued logic)
    val v3 = SnapshotTable.deleteWhere(spark, root,
      when(col("doc_id") < 0, lit(null).cast("boolean")))
    assert(SnapshotTable.read(spark, root, v3).count() == n0 - victims)
  }

  test("partition-column DELETE is pure metadata: no data file opened") {
    // Round 14: a predicate over partition columns resolves its
    // touched set from the MANIFEST (a partition's values either all
    // match or none do), and the matching partitions drop WHOLESALE —
    // the commit reads no parquet at all. Proven destructively: every
    // data file of the to-be-dropped partition is garbage on disk,
    // and the delete still succeeds; survivors read back intact.
    import java.nio.file.{Files, Paths}
    val root = tmpDir("snap-metadel")
    val df = spark.range(40L).select(
      concat(lit("s"), (col("id") % 4).cast("string")).as("src"),
      col("id").as("k"))
    SnapshotTable.write(spark, root, df, Seq("src"))
    val dir = SnapshotTable.entriesFor(spark, root, 1).toMap.apply("s2")
    new java.io.File(root, dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(Paths.get(f.getPath),
        "garbage".getBytes("UTF-8")))
    import spark.implicits._
    SnapshotTable.deleteWhere(spark, root, $"src" === "s2")
    val live = SnapshotTable.read(spark, root)
    assert(live.filter($"src" === "s2").count() == 0)
    assert(live.count() == 30, "survivors must be intact")
    // data-column predicates still take the scan path and work
    SnapshotTable.deleteWhere(spark, root, $"k" === 1L)
    assert(SnapshotTable.read(spark, root).count() == 29)
  }

  test("partition predicates match typed values and the null partition") {
    import spark.implicits._
    val root = tmpDir("snap-typednull")
    val df = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("p", "v")
      .withColumn("p", when($"p" === 3L, lit(null)).otherwise($"p"))
    SnapshotTable.write(spark, root, df, Seq("p"))
    // numeric comparison on the partition column: manifest values cast
    // back to the recorded LONG type, so p < 2 is a numeric match, not
    // a string-prefix accident
    SnapshotTable.deleteWhere(spark, root, $"p" < 2L)
    assert(SnapshotTable.read(spark, root).select("v").collect()
      .map(_.getString(0)).toSet == Set("c", "d"))
    // IS NULL names the null partition
    SnapshotTable.deleteWhere(spark, root, $"p".isNull)
    assert(SnapshotTable.read(spark, root).select("v").collect()
      .map(_.getString(0)).toSet == Set("c"))
  }

  test("overwriteWhere: fast path skips matching partitions' data") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = tmpDir("snap-owfast")
    val df = spark.range(40L).select(
      concat(lit("s"), (col("id") % 4).cast("string")).as("src"),
      col("id").as("k"))
    SnapshotTable.write(spark, root, df, Seq("src"))
    // the to-be-replaced partition's bytes are garbage: a one-commit
    // partition overwrite must never read what it replaces
    val dir = SnapshotTable.entriesFor(spark, root, 1).toMap.apply("s1")
    new java.io.File(root, dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(Paths.get(f.getPath),
        "garbage".getBytes("UTF-8")))
    SnapshotTable.overwriteWhere(spark, root,
      Seq(("s1", 1000L), ("s1", 1001L)).toDF("src", "k"),
      $"src" === "s1")
    val live = SnapshotTable.read(spark, root)
    assert(live.filter($"src" === "s1").select("k").collect()
      .map(_.getLong(0)).toSet == Set(1000L, 1001L))
    assert(live.count() == 32, "untouched partitions carry forward")
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2),
      "one atomic commit")
  }

  test("readPartitions opens only the manifest-selected directories") {
    val root = freshTable()
    val got = SnapshotTable.readPartitions(spark, root, Seq(Seq("src3"), Seq("src7")))
    assert(got.select(col("source")).distinct().collect()
      .map(_.getString(0)).toSet == Set("src3", "src7"))
    val none = SnapshotTable.readPartitions(spark, root, Seq(Seq("nope")))
    assert(none.isEmpty && none.columns.sameElements(got.columns))
    // pruning is structural: the plan reads 2 of the 20 data dirs
    val files = got.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val dirs = files.map(f => f.substring(0, f.lastIndexOf('/')))
    assert(dirs.size == 2, s"expected 2 dirs opened, got ${dirs.size}")
    // and observable: exactly the selected partitions' rows come back
    val expected = baseDocs.filter(col("source").isin("src3", "src7"))
    assert(expected.count() > 0 && rows(got) == rows(expected))
  }

  test("hierarchical (date, source) partitioning: tuple upserts + prefix reads") {
    // The real-lake two-level layout: partition tuples are
    // (ingestion_date, source); an upsert touches exact TUPLES (one
    // date-source cell, not a whole date), and readPartitionPrefix
    // prunes a leading-dimension slice from the manifest alone.
    val root = tmpDir("snaptable-2col")
    val base = spark.createDataFrame(Seq(
      (1L, "a", "2026-01-11", "api-a"), (2L, "b", "2026-01-11", "api-b"),
      (3L, "c", "2026-01-12", "api-a"), (4L, "d", "2026-01-12", "api-b")))
      .toDF("id", "v", "d", "src")
    SnapshotTable.write(spark, root, base, Seq("d", "src"))
    val v1e = manifestLines(root, 1).toSet
    assert(v1e.size == 4 && v1e.exists(_.startsWith("2026-01-11/api-a\t")),
      s"expected 4 composite-key entries: $v1e")
    // upsert one (date, source) cell + insert into a brand-new cell
    val updates = spark.createDataFrame(Seq(
      (2L, "b2", "2026-01-11", "api-b"), (9L, "new", "2026-01-12", "api-c")))
      .toDF("id", "v", "d", "src")
    val v = SnapshotTable.upsert(spark, root, updates, "id", Seq("d", "src"))
    assert(v == 2)
    val v2e = manifestLines(root, 2).toSet
    // exactly the touched cell rewrote; 3 untouched entries carried over
    assert((v1e & v2e).size == 3, s"untouched cells must carry over: $v2e")
    assert(v2e.exists(_.startsWith("2026-01-12/api-c\t")))
    val got = SnapshotTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d"),
      (9L, "new")))
    // tuple-exact read
    assert(SnapshotTable
      .readPartitions(spark, root, Seq(Seq("2026-01-11", "api-b")))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // leading-dimension slice: one date, every source, nothing else
    val day = SnapshotTable.readPartitionPrefix(spark, root,
      Seq("2026-01-12"))
    assert(day.collect().map(_.getLong(0)).toSet == Set(3L, 4L, 9L))
    val files = day.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
      .map(f => f.substring(0, f.lastIndexOf('/'))).toSet
    assert(files.size == 3, s"prefix read opened ${files.size} dirs, not 3")
  }

  test("typed (non-string) partition values round-trip through the manifest") {
    // The manifest key is Spark's rendering of the partition value via
    // the staged string cast — a LONG partition column must merge,
    // prune, and time-travel exactly like a string one (the Lake
    // timestamp-partition lesson applied to the manifest layout).
    val root = tmpDir("snaptable-typed")
    val base = spark.createDataFrame(Seq(
      (1L, "a", 10L), (2L, "b", 10L), (3L, "c", 20L), (4L, "d", 30L)))
      .toDF("id", "v", "bucket")
    SnapshotTable.write(spark, root, base, Seq("bucket"))
    val updates = spark.createDataFrame(Seq(
      (2L, "b2", 10L), (9L, "new", 30L)))
      .toDF("id", "v", "bucket")
    val v = SnapshotTable.upsert(spark, root, updates, "id", Seq("bucket"))
    assert(v == 2)
    val got = SnapshotTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (2L, "b2", 10L), (3L, "c", 20L),
      (4L, "d", 30L), (9L, "new", 30L)))
    // untouched bucket=20 carried its v1 directory forward
    val v1e = manifestLines(root, 1).toSet
    val v2e = manifestLines(root, 2).toSet
    assert((v1e & v2e).exists(_.startsWith("20\t")))
    // manifest-pruned read by the rendered value
    assert(SnapshotTable.readPartitions(spark, root, Seq(Seq("20")))
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // a TIMESTAMP partition: the key must come from Spark's own
    // cast-to-string rendering ('2026-01-01 00:00:00', escaped on
    // disk), never java.sql.Timestamp.toString ('... 00:00:00.0')
    val tsRoot = tmpDir("snaptable-ts")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    SnapshotTable.write(spark, tsRoot,
      spark.createDataFrame(Seq((1L, "one", t0), (2L, "two", t1)))
        .toDF("id", "v", "ts"), Seq("ts"))
    SnapshotTable.upsert(spark, tsRoot,
      spark.createDataFrame(Seq((1L, "one v2", t0))).toDF("id", "v", "ts"),
      "id", Seq("ts"))
    assert(SnapshotTable.read(spark, tsRoot)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "one v2"), (2L, "two")), "a timestamp partition was lost")
    assert((manifestLines(tsRoot, 1).toSet &
      manifestLines(tsRoot, 2).toSet).size == 1,
      "the untouched timestamp partition must carry its directory")
  }

  test("applyChanges: upserts + delete tombstones land in ONE commit") {
    // A real CDC batch mixes operations. Routing them through
    // upsert-then-deleteWhere would commit two versions with an
    // observable half-applied state between them; applyChanges folds
    // both into one merged rewrite + one manifest rename.
    val root = freshTable()
    val v0 = SnapshotTable.versions(spark, root).last
    val n0 = SnapshotTable.read(spark, root).count()
    val changes = spark.createDataFrame(Seq(
      ("u", 3L, "replaced three", "en", 14L, "src3"),
      ("u", 100003L, "brand new", "en", 9L, "src3"),
      ("d", 7L, null.asInstanceOf[String], null.asInstanceOf[String],
        0L, "src7"))) // tombstone: key + partition, payload ignored
      .toDF("op", "doc_id", "text", "lang", "n_chars", "source")
    val v = SnapshotTable.applyChanges(spark, root, changes,
      "doc_id", Seq("source"), opCol = "op")
    assert(v == v0 + 1,
      "a mixed batch must commit exactly one version")
    val after = SnapshotTable.read(spark, root)
    assert(after.count() == n0 + 1 - 1) // one insert, one delete
    assert(after.filter(col("doc_id") === 7L).isEmpty,
      "the tombstoned key survived")
    assert(rows(after.filter(col("doc_id").isin(3L, 100003L))) ==
      Set((3L, "replaced three", 14L), (100003L, "brand new", 9L)))
    // time travel: the pre-batch version still holds the deleted key
    assert(SnapshotTable.read(spark, root, v0)
      .filter(col("doc_id") === 7L).count() == 1)
  }

  test("applyChanges on a never-written root: v1 holds exactly its " +
      "upserts") {
    val root = tmpDir("snaptable-bootstrap-changes")
    val changes = spark.createDataFrame(Seq(
      ("u", 1L, "one", "en", 3L, "src1"),
      ("u", 2L, "two", "en", 3L, "src2"),
      // tombstones: a key never written, and a partition never written
      ("d", 3L, null.asInstanceOf[String], null.asInstanceOf[String],
        0L, "src1"),
      ("d", 4L, null.asInstanceOf[String], null.asInstanceOf[String],
        0L, "src9")))
      .toDF("op", "doc_id", "text", "lang", "n_chars", "source")
    val v = SnapshotTable.applyChanges(spark, root, changes,
      "doc_id", Seq("source"), opCol = "op")
    assert(v == 1)
    val got = SnapshotTable.read(spark, root)
    assert(got.columns.toSeq ==
      Seq("doc_id", "text", "lang", "n_chars", "source"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3), r.getString(4))).toSeq.sorted ==
      Seq((1L, "one", "en", 3L, "src1"), (2L, "two", "en", 3L, "src2")))
    assert(SnapshotTable.entriesFor(spark, root, 1).map(_._1).sorted ==
      Seq("src1", "src2"))
    assert(SnapshotTable.rowKey(spark, root) == Some("doc_id"))
  }

  test("schema evolution: mergeSchema adds a column; old versions keep theirs") {
    // The crawler's UPDATE_IN_DATABASE policy at the table layer: a CDC
    // feed starts shipping a new column. Default: dropped (a
    // misconfigured feed cannot silently widen the table). With
    // mergeSchema=true the touched partitions rewrite widened, rows
    // without the column read NULL, untouched directories stay on the
    // old vintage (reads merge), and time travel to v1 returns the
    // UN-widened schema.
    val root = tmpDir("snaptable-evolve")
    val base = spark.createDataFrame(Seq(
      (1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2")))
      .toDF("id", "v", "src")
    SnapshotTable.write(spark, root, base, Seq("src"))
    val widened = spark.createDataFrame(Seq(
      (2L, "b2", "s1", "en")))
      .toDF("id", "v", "src", "lang")
    // default: the new column is dropped, schema unchanged
    SnapshotTable.upsert(spark, root, widened, "id", Seq("src"))
    assert(!SnapshotTable.read(spark, root).columns.contains("lang"))
    // evolving upsert: column lands; only src=s1 rewrote
    val v = SnapshotTable.upsert(spark, root, widened, "id", Seq("src"),
      mergeSchema = true)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.contains("lang"))
    val byId = cur.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    assert(byId(2L) == Some("en"), "the evolved row must carry the value")
    assert(byId(1L).isEmpty && byId(3L).isEmpty,
      "pre-evolution rows must read NULL for the new column")
    // time travel: pre-evolution versions keep the narrow schema
    assert(!SnapshotTable.read(spark, root, v - 1).columns.contains("lang"))
    // a batch missing a table column still fails loudly (non-evolving)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.upsert(spark, root,
        spark.createDataFrame(Seq((5L, "s2"))).toDF("id", "src"),
        "id", Seq("src"))
    }
    assert(e.getMessage.contains("missing table columns"), e.getMessage)
    // the mixed-change path evolves the same way: a widened batch with
    // a tombstone lands in one commit and the new column sticks
    val evolved = spark.createDataFrame(Seq(
      ("u", 1L, "a2", "s1", "en", "web"),
      ("d", 3L, null.asInstanceOf[String], "s2",
        null.asInstanceOf[String], null.asInstanceOf[String])))
      .toDF("op", "id", "v", "src", "lang", "origin")
    val v2 = SnapshotTable.applyChanges(spark, root, evolved,
      "id", Seq("src"), opCol = "op", mergeSchema = true)
    val cur2 = SnapshotTable.read(spark, root, v2)
    assert(cur2.columns.contains("origin"))
    assert(cur2.filter(col("id") === 3L).isEmpty)
    assert(cur2.filter(col("id") === 1L).select("origin")
      .collect()(0).getString(0) == "web")
  }

  test("OCC: disjoint-partition racers BOTH land, serialized v2/v3") {
    // Two committers compute against v1; B commits v2 while A is in
    // its commit window (the onBeforeCommit seam). Their touched
    // partitions are DISJOINT, so A must NOT lose: it re-reads v2,
    // carries B's entry forward as untouched, and lands v3 — no lost
    // update on either side (round-9 verdict item 2).
    val root = freshTable()
    val aUpd = spark.createDataFrame(Seq(
      (3L, "A wrote this", "en", 12L, "src3")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    val bUpd = spark.createDataFrame(Seq(
      (7L, "B wrote this", "en", 12L, "src7")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    @volatile var fired = false
    SnapshotTable.onBeforeCommit = () => {
      if (!fired) { // only for A's outer attempt, not B's nested commit
        fired = true
        SnapshotTable.upsert(spark, root, bUpd, "doc_id", Seq("source"))
      }
    }
    try {
      val vA = SnapshotTable.upsert(spark, root, aUpd, "doc_id", Seq("source"))
      assert(vA == 3, s"A should land AFTER B's v2, got v$vA")
    } finally SnapshotTable.onBeforeCommit = () => ()
    val after = SnapshotTable.read(spark, root)
    assert(rows(after.filter(col("doc_id").isin(3L, 7L))) ==
      Set((3L, "A wrote this", 12L), (7L, "B wrote this", 12L)),
      "both racers' rows must survive — no lost update")
    assert(after.count() == baseDocs.count())
  }

  test("OCC: overlapping racers — loser re-merges; final == sequential") {
    // Both committers touch src3. B lands v2 inside A's commit window;
    // A's staged merge is now stale (it merged against v1's src3
    // directory), so A must RE-MERGE against v2 and land v3 with BOTH
    // changes — byte-equal to applying B then A sequentially.
    val root = freshTable()
    val aUpd = spark.createDataFrame(Seq(
      (3L, "A replaced three", "en", 16L, "src3")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    val bUpd = spark.createDataFrame(Seq(
      (200003L, "B inserted", "en", 10L, "src3")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    @volatile var fired = false
    SnapshotTable.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        SnapshotTable.upsert(spark, root, bUpd, "doc_id", Seq("source"))
      }
    }
    try {
      val vA = SnapshotTable.upsert(spark, root, aUpd, "doc_id", Seq("source"))
      assert(vA == 3, s"A should re-merge and land v3, got v$vA")
    } finally SnapshotTable.onBeforeCommit = () => ()
    val after = SnapshotTable.read(spark, root)
    assert(rows(after.filter(col("doc_id").isin(3L, 200003L))) ==
      Set((3L, "A replaced three", 16L), (200003L, "B inserted", 10L)),
      "the re-merged commit must carry BOTH racers' changes")
    assert(after.count() == baseDocs.count() + 1)
    // the abandoned first-attempt directory is invisible garbage
    val (_, removed) = SnapshotTable.vacuum(spark, root, keepVersions = 3)
    assert(removed >= 1, "the conflicted attempt's staged dir should vacuum")
    // a racing full REPLACE retries onto the next version number:
    // last-replace-wins, never a lost race surfacing as an error
    fired = false
    SnapshotTable.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        SnapshotTable.upsert(spark, root, bUpd, "doc_id", Seq("source"))
      }
    }
    val replacement = baseDocs.filter(col("doc_id") < 10L)
    try {
      val vR = SnapshotTable.write(spark, root, replacement, Seq("source"))
      assert(vR == 5, s"the replace should land after the racer's v4: v$vR")
    } finally SnapshotTable.onBeforeCommit = () => ()
    assert(rows(SnapshotTable.read(spark, root)) == rows(replacement))
  }

  test("an emptied table reads as an empty typed frame and stays writable") {
    // Round-9 advice item 4: deleting every row used to commit an
    // empty manifest that read() rejected ("empty manifest") and
    // applyChanges crashed on (entries.head). The manifest now records
    // the schema, so an emptied table is a table.
    val root = tmpDir("snaptable-emptied")
    val base = spark.createDataFrame(Seq(
      (1L, "a", "s1"), (2L, "b", "s2")))
      .toDF("id", "v", "src")
    SnapshotTable.write(spark, root, base, Seq("src"))
    val v2 = SnapshotTable.deleteWhere(spark, root, lit(true))
    val empty = SnapshotTable.read(spark, root, v2)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq == Seq("id", "v", "src"),
      s"the emptied table must keep its schema: ${empty.columns.toSeq}")
    // a change batch bootstraps against the recorded columns — and a
    // tombstone against the (now empty) table is a harmless no-op
    val changes = spark.createDataFrame(Seq(
      ("u", 3L, "c", "s1"), ("d", 1L, null.asInstanceOf[String], "s1")))
      .toDF("op", "id", "v", "src")
    val v3 = SnapshotTable.applyChanges(spark, root, changes,
      "id", Seq("src"), opCol = "op")
    assert(SnapshotTable.read(spark, root, v3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((3L, "c")))
    // time travel to the emptied version still works
    assert(SnapshotTable.read(spark, root, v2).isEmpty)
  }

  test("deleteWhere preserves an evolved column in mixed-vintage partitions") {
    // Round-9 advice item 2: deleteWhere's kept-rows read now merges
    // schema vintages like every other touched read — without it, a
    // partition holding both pre- and post-evolution files could
    // rewrite with whichever footer schema the reader picked, silently
    // dropping the evolved column.
    val root = tmpDir("snaptable-del-evolve")
    val base = spark.createDataFrame(Seq(
      (1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2")))
      .toDF("id", "v", "src")
    SnapshotTable.write(spark, root, base, Seq("src"))
    val widened = spark.createDataFrame(Seq((4L, "d", "s2", "en")))
      .toDF("id", "v", "src", "lang")
    SnapshotTable.upsert(spark, root, widened, "id", Seq("src"),
      mergeSchema = true)
    // delete from BOTH partitions: s1 dirs are pre-evolution vintage,
    // s2 mixes vintages in one version
    val v = SnapshotTable.deleteWhere(spark, root, col("id") === 1L)
    val after = SnapshotTable.read(spark, root, v)
    assert(after.columns.contains("lang"),
      "the evolved column vanished in the delete rewrite")
    assert(after.filter(col("id") === 4L).select("lang")
      .collect()(0).getString(0) == "en")
    assert(after.count() == 3)
  }

  test("a NULL-op change row fails loudly instead of silently deleting") {
    // Round-9 advice item 3: filter(op =!= 'd') drops a NULL-op row
    // from the upserts by three-valued logic, but its key still
    // anti-joins out of the live set — a malformed feed row would
    // silently delete. The batch is validated instead.
    val root = freshTable()
    val changes = spark.createDataFrame(Seq(
      ("u", 3L, "fine", "en", 4L, "src3"),
      (null.asInstanceOf[String], 7L, "malformed", "en", 9L, "src7")))
      .toDF("op", "doc_id", "text", "lang", "n_chars", "source")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.applyChanges(spark, root, changes,
        "doc_id", Seq("source"), opCol = "op")
    }
    assert(e.getMessage.contains("NULL 'op'"), e.getMessage)
    // nothing committed, key 7 intact
    assert(SnapshotTable.versions(spark, root) == Seq(1))
    assert(SnapshotTable.read(spark, root)
      .filter(col("doc_id") === 7L).count() == 1)
  }

  test("a mutation stating a different layout is refused, not committed") {
    // a batch laid out by (a, b) into a table recorded as (a) would
    // match no live partition: every key would land twice
    import spark.implicits._
    val root = tmpDir("snaptable-layout")
    SnapshotTable.write(spark, root,
      Seq(("a0", "b0", 1L), ("a1", "b1", 2L)).toDF("a", "b", "k"), Seq("a"))
    val batch = Seq(("a0", "b0", 1L)).toDF("a", "b", "k")
    val refused: Seq[() => Any] = Seq(
      () => SnapshotTable.upsert(spark, root, batch, "k", Seq("a", "b")),
      () => SnapshotTable.applyChanges(spark, root,
        batch.withColumn("op", lit("u")), "k", Seq("a", "b"), "op"),
      () => SnapshotTable.overwritePartitions(spark, root, batch,
        Seq("a", "b")))
    refused.foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("partitioned by (a)"), e.getMessage)
    }
    assert(SnapshotTable.versions(spark, root) == Seq(1))
    assert(SnapshotTable.read(spark, root).count() == 2)
  }

  test("vacuum spares protected versions") {
    val root = tmpDir("snaptable-vac-protect")
    val base = spark.createDataFrame(Seq((1L, "a", "s1")))
      .toDF("id", "v", "src")
    SnapshotTable.write(spark, root, base, Seq("src")) // v1
    SnapshotTable.upsert(spark, root,
      spark.createDataFrame(Seq((1L, "a2", "s1"))).toDF("id", "v", "src"),
      "id", Seq("src")) // v2
    SnapshotTable.upsert(spark, root,
      spark.createDataFrame(Seq((1L, "a3", "s1"))).toDF("id", "v", "src"),
      "id", Seq("src")) // v3
    val (dropped, _) = SnapshotTable.vacuum(spark, root, keepVersions = 1,
      protect = Set(1))
    assert(dropped == 1, s"only the unprotected v2 should drop: $dropped")
    assert(SnapshotTable.versions(spark, root) == Seq(1, 3))
    // the protected version still reads (its data dir was kept live)
    assert(SnapshotTable.read(spark, root, 1)
      .collect().map(_.getString(1)).toSeq == Seq("a"))
  }

  test("hot-partition fan-out: filesPerPartition > 1 writes > 1 file") {
    val root = tmpDir("snaptable-fan")
    SnapshotTable.write(spark, root, baseDocs, Seq("source"),
      filesPerPartition = 4)
    val entries = manifestLines(root, 1)
    val src3dir = entries.find(_.startsWith("src3\t")).get.split('\t')(1)
    val nFiles = new java.io.File(s"$root/$src3dir").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles > 1, s"hot partition wrote $nFiles file(s) — serial")
    // every partition's directory is written by 2..4 salted writers
    val perDir = entries.map { e =>
      new java.io.File(s"$root/${e.split('\t')(1)}").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
    assert(perDir.nonEmpty && perDir.forall(n => n > 1 && n <= 4),
      s"expected 2..4 files per dir, got ${perDir.mkString(",")}")
    assert(rows(SnapshotTable.read(spark, root)) == rows(baseDocs))
    // a CDC upsert into ONE hot partition fans out the same way: the
    // rewrite is not serialized on a single writer task
    val updates = spark.createDataFrame(Seq(
      (3L, "replaced three", "en", 14L, "src3"),
      (100003L, "brand new", "en", 9L, "src3")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    SnapshotTable.upsert(spark, root, updates, "doc_id", Seq("source"),
      filesPerPartition = 4)
    val newDir = manifestLines(root, 2).find(_.startsWith("src3\t")).get
      .split('\t')(1)
    val nNew = new java.io.File(s"$root/$newDir").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nNew > 1, s"hot-partition upsert wrote $nNew file(s) — serial")
    assert(rows(SnapshotTable.read(spark, root)
      .filter(col("doc_id").isin(3L, 100003L))) ==
      Set((3L, "replaced three", 14L), (100003L, "brand new", 9L)))
  }

  test("property: random upsert/delete sequences match a map model") {
    // the randomized check of the merge: seeded, tiny (31 keys over 4
    // partitions), each step an upsert batch or a deleteWhere over a
    // random key set, the table compared with a Map after every step
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rowGen = for {
      k <- Gen.choose(0L, 30L)
      v <- Gen.alphaLowerStr.map(_.take(6))
    } yield (k, v, "en", v.length.toLong, s"src${k % 4}")
    val batchGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, rowGen))
    val deleteGen = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 30L)))
    def gen[T](g: Gen[T], seed: Long): T =
      g(Gen.Parameters.default, Seed(seed)).get
    def frame(rs: Seq[(Long, String, String, Long, String)]) =
      spark.createDataFrame(rs)
        .toDF("doc_id", "text", "lang", "n_chars", "source")
    (0 until 3).foreach { seed =>
      val root = tmpDir(s"snaptable-prop-$seed")
      val base = gen(batchGen, seed * 10L).distinctBy(_._1)
      SnapshotTable.write(spark, root, frame(base), Seq("source"))
      var model: Map[Long, String] = base.map(r => r._1 -> r._2).toMap
      (1 to 4).foreach { b =>
        val s0 = seed * 10L + b
        if (gen(Gen.prob(0.6), s0 * 7)) {
          val batch = gen(batchGen, s0).distinctBy(_._1)
          SnapshotTable.upsert(spark, root, frame(batch), "doc_id",
            Seq("source"))
          model = model ++ batch.map(r => r._1 -> r._2)
        } else {
          val keys = gen(deleteGen, s0)
          SnapshotTable.deleteWhere(spark, root,
            col("doc_id").isin(keys: _*))
          model = model -- keys
        }
        // a row list, not a Map: a merge that keeps a replaced row
        // beside its replacement must not collapse into a pass
        val got = SnapshotTable.read(spark, root)
          .select(col("doc_id"), col("text")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
        assert(got == model.toSeq.sorted,
          s"seed=$seed step=$b: table diverged from the model")
      }
    }
  }

  test("a duplicate-key update batch is rejected loudly") {
    val root = freshTable()
    val dup = spark.createDataFrame(Seq(
      (3L, "v1", "en", 2L, "src3"), (3L, "v2", "en", 2L, "src3")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.upsert(spark, root, dup, "doc_id", Seq("source"))
    }
    assert(e.getMessage.contains("duplicate-key"), e.getMessage)
    assert(SnapshotTable.versions(spark, root) == Seq(1),
      "a rejected batch must not commit a version")
  }

  test("null-key rows are rejected with the accurate message") {
    val root = freshTable()
    val nullKey = spark.createDataFrame(Seq(
      (Option.empty[Long], "ghost", "en", 5L, "src3"),
      (Some(4L), "ok", "en", 2L, "src4")))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.upsert(spark, root, nullKey, "doc_id", Seq("source"))
    }
    assert(e.getMessage.contains("NULL-key"),
      s"wrong rejection cause: ${e.getMessage}")
    assert(SnapshotTable.versions(spark, root) == Seq(1),
      "a rejected batch must not commit a version")
  }
}
