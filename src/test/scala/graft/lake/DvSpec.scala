package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deletion vectors (round-18 verdict item 1): merge-on-read row-level
  * deletes as `#dv` manifest lines — the delete commit writes
  * O(deleted rows) bytes and NO data file, every read path filters the
  * positions back out, and a rewrite (upsert / OPTIMIZE) folds them
  * into real bytes. The destructive pins here are the cost claims:
  * the commit mints no data directory, and its manifest bytes do not
  * grow with the partition it "touches". */
// excluded from the default `sbt test` (CI budget) — run with
// GRAFT_TEST_ALL=1 or `testOnly`; see build.sbt
@org.scalatest.tags.Slow
class DvSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** 2 partitions x 500 rows, stats on v, point lookups on k. */
  private def freshTable(rows: Long = 1000L): String = {
    n += 1
    val root = tmpDir(s"dv-$n")
    val df = spark.range(rows).select(
      (col("id") % 2).cast("string").as("src"),
      col("id").as("k"), (col("id") * 7 % 101).as("v"))
    SnapshotTable.write(spark, root, df, Seq("src"),
      statsFor = Seq("v"), lookupFor = Seq("k"))
    root
  }

  private def dataDirs(root: String): Set[String] = {
    val d = new java.io.File(root, "data")
    if (!d.exists()) Set.empty
    else d.listFiles().map(_.getName).toSet
  }

  private def liveDvs(root: String): Seq[(String, Long, String)] = {
    val m = SnapshotTable.manifestAt(spark, root, -1)
    val live = m.entries.map(_._2).toSet
    m.fileDvs.filter(d =>
      live(d._1.take(d._1.lastIndexOf('/'))))
  }

  test("merge-on-read delete: rows vanish, no data write, versioned") {
    val root = freshTable()
    val dirsBefore = dataDirs(root)
    val v = SnapshotTable.deleteRowsWhere(spark, root,
      $"k" === 3L || $"k" === 700L || $"k" === 999L)
    assert(v == 2)
    // the rows are gone from the live read
    val got = SnapshotTable.read(spark, root)
    assert(got.count() == 997)
    assert(got.filter($"k".isin(3L, 700L, 999L)).count() == 0)
    // ... but time travel still serves them (the dv is versioned state)
    assert(SnapshotTable.read(spark, root, 1).count() == 1000)
    // O(deleted rows), not O(partition): the commit minted NO data
    // directory and its manifest is tiny next to the partition bytes
    assert(dataDirs(root) == dirsBefore, "dv delete wrote data files")
    val manifest = new java.io.File(root, "_versions/v00000002.manifest")
    assert(manifest.exists())
    val partitionBytes = new java.io.File(root, "data").listFiles()
      .flatMap(_.listFiles()).map(_.length()).sum
    assert(manifest.length() < 8192,
      s"dv manifest is ${manifest.length()} bytes")
    assert(manifest.length() * 10 < partitionBytes,
      "dv commit bytes should be far below the partition's data bytes")
    assert(SnapshotTable.deletedRowCount(spark, root) == 3L)
  }

  test("manifest bytes scale with deleted rows, not partition size") {
    val small = freshTable(200L)
    val big = freshTable(20000L)
    SnapshotTable.deleteRowsWhere(spark, small, $"k" === 7L)
    SnapshotTable.deleteRowsWhere(spark, big, $"k" === 7L)
    def deltaBytes(root: String) =
      new java.io.File(root, "_versions/v00000002.manifest").length()
    // same deleted-row count => same-order manifest bytes, though the
    // big table's partitions hold 100x the rows
    val (s, b) = (deltaBytes(small), deltaBytes(big))
    assert(b < s * 3,
      s"dv manifest grew with partition size: small=$s big=$b")
  }

  test("every pruned read path applies the vectors") {
    val root = freshTable()
    // k=10 has v=70; k=11 v=77 — delete both via a data predicate
    SnapshotTable.deleteRowsWhere(spark, root, $"k".isin(10L, 11L))
    // plain read
    assert(SnapshotTable.read(spark, root)
      .filter($"k".isin(10L, 11L)).count() == 0)
    // stats-pruned range read over v
    val between = SnapshotTable.readBetween(spark, root, "v", 70L, 77L)
    assert(between.filter($"k".isin(10L, 11L)).count() == 0)
    assert(between.count() ==
      (0L until 1000L).count(k => k != 10 && k != 11 &&
        (k * 7 % 101) >= 70 && (k * 7 % 101) <= 77))
    // point-set read
    assert(SnapshotTable.readIn(spark, root, "k", Seq(10L, 12L))
      .collect().map(_.getAs[Long]("k")).toSeq == Seq(12L))
    // sketch-pruned point lookup
    assert(SnapshotTable.readPoint(spark, root, "k", 10L).count() == 0)
    assert(SnapshotTable.readPoint(spark, root, "k", 12L).count() == 1)
    // partition-pruned read
    assert(SnapshotTable.readPartitions(spark, root, Seq(Seq("0")))
      .filter($"k" === 10L).count() == 0)
  }

  test("SQL plane: SELECT, count(*), VERSION AS OF, DELETE mode conf") {
    val root = freshTable()
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "dv_t", root)
    // merge-on-read SQL DELETE via the session conf
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try spark.sql("DELETE FROM lake.dv_t WHERE k = 42 OR k = 43")
    finally spark.conf.unset("spark.graft.delete.mode")
    assert(liveDvs(root).nonEmpty, "SQL DELETE did not take the dv path")
    // the DSv2 read applies the vectors (DvApply rule)
    assert(spark.sql("SELECT count(*) c FROM lake.dv_t WHERE k IN (42,43)")
      .collect()(0).getLong(0) == 0L)
    assert(spark.sql("SELECT * FROM lake.dv_t").count() == 998)
    // metadata-only COUNT subtracts dv counts (MetadataAggregate path:
    // no data predicate, so the manifest answers)
    assert(spark.sql("SELECT count(*) FROM lake.dv_t")
      .collect()(0).getLong(0) == 998L)
    assert(spark.sql(
      "SELECT src, count(*) c FROM lake.dv_t GROUP BY src ORDER BY src")
      .collect().map(_.getLong(1)).toSeq == Seq(499L, 499L))
    // MIN/MAX decline the manifest on dv-carrying files but stay right
    assert(spark.sql("SELECT min(v), max(v) FROM lake.dv_t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head ==
      (0L, 100L))
    // VERSION AS OF a pre-delete snapshot serves the rows
    assert(spark.sql(
      "SELECT count(*) FROM lake.dv_t VERSION AS OF 1 WHERE k = 42")
      .collect()(0).getLong(0) == 1L)
  }

  test("rewrites fold vectors into bytes; deletes never resurrect") {
    val root = freshTable()
    SnapshotTable.deleteRowsWhere(spark, root, $"k" === 100L)
    assert(liveDvs(root).size == 1)
    // an upsert touching the dv'd partition (k=100 is src=0) must keep
    // the delete AND retire that directory's dv line
    SnapshotTable.upsert(spark, root,
      Seq(("0", 5000L, 1L)).toDF("src", "k", "v"), "k", Seq("src"))
    val after = SnapshotTable.read(spark, root)
    assert(after.filter($"k" === 100L).count() == 0,
      "partition rewrite resurrected a dv-deleted row")
    assert(after.count() == 1000) // 1000 - 1 deleted + 1 upserted
    assert(liveDvs(root).isEmpty,
      "rewritten partition still carries a dv line")
    // OPTIMIZE folds vectors even in otherwise-compact partitions
    SnapshotTable.deleteRowsWhere(spark, root, $"k" === 101L)
    assert(liveDvs(root).size == 1)
    val before = SnapshotTable.read(spark, root).collect().toSet
    SnapshotTable.optimize(spark, root)
    assert(liveDvs(root).isEmpty, "OPTIMIZE left dv lines behind")
    assert(SnapshotTable.read(spark, root).collect().toSet == before)
  }

  test("change feed emits dv deletes; restore resurrects") {
    val root = freshTable(100L)
    SnapshotTable.deleteRowsWhere(spark, root, $"k" === 5L)
    val step = ChangeFeed.between(spark, root, 1, 2)
    val rows = step.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String](ChangeFeed.ChangeTypeCol) ==
      ChangeFeed.Delete)
    assert(rows(0).getAs[Long]("k") == 5L)
    // restore to the pre-delete version: rows come back, feed shows
    // the restore as an insert of the deleted row
    val v3 = SnapshotTable.restore(spark, root, 1)
    assert(SnapshotTable.read(spark, root).count() == 100)
    val restoreStep = ChangeFeed.between(spark, root, 2, v3).collect()
    assert(restoreStep.map(r =>
      (r.getAs[Long]("k"), r.getAs[String](ChangeFeed.ChangeTypeCol)))
      .toSet == Set((5L, ChangeFeed.Insert)))
  }

  test("shallow clone carries the vectors; repeat deletes merge") {
    val root = freshTable(100L)
    SnapshotTable.deleteRowsWhere(spark, root, $"k" === 1L)
    val tgt = tmpDir("dv-clone") + "/t"
    SnapshotTable.shallowClone(spark, root, tgt)
    assert(SnapshotTable.read(spark, tgt).count() == 99)
    assert(SnapshotTable.read(spark, tgt).filter($"k" === 1L).count() == 0)
    // second delete on the same file merges position sets
    SnapshotTable.deleteRowsWhere(spark, root, $"k" === 2L)
    assert(SnapshotTable.read(spark, root).count() == 98)
    assert(SnapshotTable.deletedRowCount(spark, root) == 2L)
    // deleting already-deleted rows commits nothing
    val vBefore = SnapshotTable.latest(spark, root).get
    assert(SnapshotTable.deleteRowsWhere(spark, root, $"k" === 2L)
      == vBefore)
    // a predicate matching nothing commits nothing
    assert(SnapshotTable.deleteRowsWhere(spark, root, $"k" === 10000L)
      == vBefore)
  }

  test("partition predicates take the metadata drop, never a dv") {
    val root = freshTable(100L)
    val v = SnapshotTable.deleteRowsWhere(spark, root, $"src" === "1")
    assert(v == 2)
    assert(liveDvs(root).isEmpty, "partition drop minted dv lines")
    assert(SnapshotTable.read(spark, root).count() == 50)
    // the emptied partition is gone from the manifest wholesale
    assert(SnapshotTable.manifestAt(spark, root, -1).entries.size == 1)
  }

  test("selectivity guard refuses oversized dv deletes loudly") {
    val root = freshTable(100L)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.deleteRowsWhere(spark, root, $"k" < 50L,
        maxDeletedRows = 10L)
    }
    assert(e.getMessage.contains("copy-on-write"))
    // nothing committed
    assert(SnapshotTable.latest(spark, root).contains(1))
  }

  test("equality deletes open only sketch-admitted files — destructive") {
    // the GDPR one-row shape: delete by doc-id equality on a declared
    // lookup column. Proven destructively like PointLookupSpec: every
    // file the sketch does NOT admit is garbage on disk — an unpruned
    // position scan would open it and die.
    val root = tmpDir("dv-pruned")
    val df = spark.range(4000L).select(
      (col("id") % 4).cast("string").as("src"),
      col("id").as("k"), (col("id") * 7 % 101).as("v"))
    SnapshotTable.write(spark, root, df, Seq("src"),
      filesPerPartition = 4, lookupFor = Seq("k"))
    val m = SnapshotTable.manifestAt(spark, root, -1)
    val admit = SnapshotTable.sketchAdmits(m, "k", 1234L).get
    val all = m.fileSizes.map(_._1)
    val garbaged = all.filterNot(admit)
    assert(garbaged.nonEmpty && garbaged.size < all.size,
      "fixture needs both admitted and skipped files")
    garbaged.foreach { rel =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, rel),
        "not parquet at all".getBytes("UTF-8"))
    }
    val v = SnapshotTable.deleteRowsWhere(spark, root, $"k" === 1234L)
    assert(v == 2, "delete through the pruned scan did not commit")
    assert(liveDvs(root).map(_._2).sum == 1L)
  }

  test("a session without DvApply cannot raw-scan a dv table " +
      "(fail-safe, review round 18)") {
    val root = freshTable(100L)
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "dv_failsafe", root)
    SnapshotTable.deleteRowsWhere(spark, root, $"k" === 9L)
    // with GraftSqlExtensions installed the DvApply rule replaces the
    // relation before scan planning, so SQL works...
    assert(spark.sql("SELECT count(*) FROM lake.dv_failsafe " +
      "WHERE k >= 0").collect()(0).getLong(0) == 99L)
    // ...but the raw DSv2 scan builder — what an extension-less
    // session would reach — refuses rather than resurrect deleted rows
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val lt = cat.loadTable(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array.empty, "dv_failsafe"))
    val e = intercept[UnsupportedOperationException] {
      lt.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(new org.apache.spark.sql.util
          .CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
    }
    assert(e.getMessage.contains("deletion vectors"))
    // after OPTIMIZE folds the vectors the raw scan is legal again
    SnapshotTable.optimize(spark, root)
    cat.loadTable(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array.empty, "dv_failsafe"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
  }

  test("incremental maintainers see dv deletes (dv-aware diff)") {
    // a dv commit changes rows without changing a directory — an
    // entries-only manifest diff would skip the refresh and serve
    // stale derived state (the class of bug changedKeysBetween exists
    // to kill)
    val base = tmpDir("dv-maint-base")
    SnapshotTable.write(spark, base,
      spark.range(60L).select(
        (col("id") % 3).cast("string").as("source"),
        col("id").as("doc_id"),
        concat(lit("alpha beta doc"), col("id").cast("string")).as("text"),
        (col("id") % 7).as("n_chars")),
      Seq("source"))
    // tokenized corpus: refresh, dv-delete one doc, refresh again
    val tok = tmpDir("dv-maint-tok")
    graft.operators.TokenizedCorpus.refresh(spark, base, tok, Seq("source"))
    assert(graft.operators.TokenizedCorpus.postings(spark, tok)
      .filter($"doc_id" === 30L).count() > 0)
    SnapshotTable.deleteRowsWhere(spark, base, $"doc_id" === 30L)
    graft.operators.TokenizedCorpus.refresh(spark, base, tok, Seq("source"))
    assert(graft.operators.TokenizedCorpus.postings(spark, tok)
      .filter($"doc_id" === 30L).count() == 0,
      "tokenized corpus served a dv-deleted doc after refresh")
    // materialized aggregate: counts must drop by exactly the delete
    val mv = tmpDir("dv-maint-mv")
    val spec = MaterializedAgg.MvSpec(Seq("source"),
      sums = Seq("total_chars" -> "n_chars"), countName = "n_docs")
    MaterializedAgg.init(spark, base, mv, spec, nBuckets = 4)
    val before = SnapshotTable.read(spark, mv)
      .agg(sum($"n_docs")).collect()(0).getLong(0)
    assert(before == 59L) // 60 minus the doc_id=30 dv delete
    SnapshotTable.deleteRowsWhere(spark, base, $"doc_id" === 31L)
    MaterializedAgg.refresh(spark, base, mv, spec, 4)
    assert(SnapshotTable.read(spark, mv)
      .agg(sum($"n_docs")).collect()(0).getLong(0) == 58L,
      "materialized aggregate went stale across a dv delete")
  }

  test("OCC: a partition rewrite racing a dv delete forces a rescan") {
    // positions are computed against immutable files; if a racer
    // rewrites the touched partition between the scan and the commit,
    // the old positions reference dead files and MUST NOT land — the
    // commit loop detects the files gone from the latest census,
    // throws, and the conflict retry rescans against the new state
    val root = freshTable(100L)
    @volatile var fired = false
    SnapshotTable.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        // rewrite the partition holding k=51 (src=1) under the delete
        SnapshotTable.upsert(spark, root,
          Seq(("1", 5000L, 1L)).toDF("src", "k", "v"), "k", Seq("src"))
      }
    }
    try {
      val v = SnapshotTable.deleteRowsWhere(spark, root, $"k" === 51L)
      assert(v == 3, s"delete must land AFTER the racer's v2, got v$v")
    } finally SnapshotTable.onBeforeCommit = () => ()
    val after = SnapshotTable.read(spark, root)
    assert(after.filter($"k" === 51L).count() == 0,
      "the rescanned delete lost the race's rows")
    assert(after.filter($"k" === 5000L).count() == 1,
      "the racer's upsert was lost")
    assert(after.count() == 100) // 100 - 1 deleted + 1 upserted
  }

  test("constraint adoption composes with deletion vectors") {
    // adopting NOT NULL / CHECK validates over the VISIBLE rows — a
    // violating row that was dv-deleted must not block adoption
    val root = tmpDir("dv-cons")
    SnapshotTable.write(spark, root,
      spark.range(20L).select(
        (col("id") % 2).cast("string").as("src"), col("id").as("k"),
        when(col("id") === 7L, lit(null).cast("long"))
          .otherwise(col("id")).as("v")),
      Seq("src"))
    // with the NULL row visible, adoption refuses
    intercept[Exception] { SnapshotTable.setNotNull(spark, root, "v") }
    // dv-delete the violating row: adoption now sees clean data
    SnapshotTable.deleteRowsWhere(spark, root, $"v".isNull)
    SnapshotTable.setNotNull(spark, root, "v")
    assert(SnapshotTable.notNullColumns(spark, root) == Seq("v"))
    // and the contract enforces on the next batch
    intercept[Exception] {
      SnapshotTable.append(spark, root,
        spark.range(1).select(lit("0").as("src"), lit(999L).as("k"),
          lit(null).cast("long").as("v")))
    }
  }

  test("a live dv keeps partition pruning for clean dirs — destructive " +
      "(round 19)") {
    // round-18 shape: ANY live `#dv` line replaced the WHOLE relation
    // with an unpruned ManifestScan splice, so one deleted row
    // suspended partition pruning for the entire table until OPTIMIZE.
    // Round 19 splits by directory: dv-free directories keep the DSv2
    // pruned path, only dv-carrying ones ride the anti-joined read.
    // Proven destructively: garbage every file of the partitions a
    // filtered query does NOT touch — an unpruned scan would open them
    // and die.
    val root = tmpDir("dv-prune-split")
    val df = spark.range(4000L).select(
      (col("id") % 4).cast("string").as("src"),
      col("id").as("k"), (col("id") * 7 % 101).as("v"))
    SnapshotTable.write(spark, root, df, Seq("src"), lookupFor = Seq("k"))
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "dv_prune", root)
    // dv-delete one row in partition src=0 (k=400 -> 400%4=0)
    SnapshotTable.deleteRowsWhere(spark, root, $"k" === 400L)
    assert(liveDvs(root).size == 1)
    // the DSv2 pruned path SURVIVES the splice: the optimized plan of
    // a dv-carrying table's DATA scan still holds a DSv2 relation
    // (round 18 replaced it wholesale — zero DSv2 relations left; a
    // partition-filtered COUNT would be manifest-answered by
    // MetadataAggregate and never scan, hence the SUM)
    val q1 = spark.sql("SELECT sum(v) s FROM lake.dv_prune WHERE src = '1'")
    assert(q1.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2Relation => r
    }.nonEmpty, "the split lost the DSv2 pruned path")
    // garbage EVERY file of partitions 2 and 3 (dv-free, and excluded
    // by the filters below): a scan that still opens them dies
    val m = SnapshotTable.manifestAt(spark, root, -1)
    val byKey = m.entries.toMap
    Seq("2", "3").foreach { p =>
      val dir = byKey(p)
      new java.io.File(root, dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.write(f.toPath,
            "not parquet at all".getBytes("UTF-8"))
        }
    }
    // filtered to a CLEAN partition: served by the pruned DSv2 path
    // (plus the small dv-dir side whose rows the filter discards)
    val expected = (0L until 4000L).filter(_ % 4 == 1)
      .map(id => id * 7 % 101).sum
    assert(q1.collect()(0).getLong(0) == expected)
    // filtered to the DV-CARRYING partition: the clean side prunes to
    // zero directories, the dirty side applies the vector
    assert(spark.sql(
      "SELECT count(*) FROM lake.dv_prune WHERE src = '0' AND k >= 0")
      .collect()(0).getLong(0) == 999L)
    assert(spark.sql(
      "SELECT count(*) FROM lake.dv_prune WHERE src = '0' AND k = 400")
      .collect()(0).getLong(0) == 0L)
    // poison control: an UNFILTERED scan must still die on the garbage
    // (proves the files above really are poisonous, i.e. the filtered
    // queries genuinely pruned rather than silently skipped)
    intercept[Exception] {
      spark.sql("SELECT sum(v) FROM lake.dv_prune WHERE k >= 0").collect()
    }
  }

  test("readPoint on a dv-carrying table stays sketch-PRUNED while " +
      "applying the vector — destructive (r18 verdict item 5)") {
    // DvSpec:82 pins that every pruned read path APPLIES the vectors;
    // this is the complementary pin — that the Bloom point-lookup path
    // stays PRUNED while doing so. A dv application that spliced a
    // whole-table read (the round-18 shape) would open every file;
    // here every file the sketch does not admit for either probe key
    // is garbage on disk, so an unpruned plan dies instead of passing.
    val root = tmpDir("dv-point-pruned")
    val df = spark.range(4000L).select(
      (col("id") % 4).cast("string").as("src"),
      col("id").as("k"), (col("id") * 7 % 101).as("v"))
    SnapshotTable.write(spark, root, df, Seq("src"),
      filesPerPartition = 4, lookupFor = Seq("k"))
    // merge-on-read delete FIRST (it scans admitted files for
    // positions), then garbage the rest of the table
    SnapshotTable.deleteRowsWhere(spark, root, $"k" === 1234L)
    assert(liveDvs(root).map(_._2).sum == 1L)
    val m = SnapshotTable.manifestAt(spark, root, -1)
    val admitDel = SnapshotTable.sketchAdmits(m, "k", 1234L).get
    val admitLive = SnapshotTable.sketchAdmits(m, "k", 1235L).get
    val all = m.fileSizes.map(_._1)
    val garbaged = all.filterNot(r => admitDel(r) || admitLive(r))
    assert(garbaged.nonEmpty && garbaged.size < all.size,
      "fixture needs both admitted and skipped files")
    garbaged.foreach { rel =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, rel),
        "not parquet at all".getBytes("UTF-8"))
    }
    // the dv'd key: pruned lookup opens only admitted files AND the
    // vector filters the row out
    assert(SnapshotTable.readPoint(spark, root, "k", 1234L).count() == 0)
    // a live neighbor in the same admit class still lands exactly
    assert(SnapshotTable.readPoint(spark, root, "k", 1235L)
      .collect().map(_.getAs[Long]("k")).toSeq == Seq(1235L))
    // the garbage is genuinely poisonous: an unpruned read dies
    intercept[Exception] {
      SnapshotTable.read(spark, root).filter($"k" === 1235L).collect()
    }
  }

  test("dv position codec round-trips, encodes O(deleted rows)") {
    val pos = Array(0L, 1L, 5L, 1000L, 1000000L, 123456789012L)
    assert(SnapshotTable.decodeDvPositions(
      SnapshotTable.encodeDvPositions(pos)).sameElements(pos))
    assert(SnapshotTable.decodeDvPositions(
      SnapshotTable.encodeDvPositions(Array.empty[Long])).isEmpty)
    // clustered positions cost ~1 byte each (delta-varint)
    val dense = (1000L until 3000L).toArray
    val b64 = SnapshotTable.encodeDvPositions(dense)
    assert(java.util.Base64.getDecoder.decode(b64).length < 2100)
  }
}
