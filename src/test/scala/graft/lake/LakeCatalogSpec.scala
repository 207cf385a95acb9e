package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL/catalog surface (round-12 verdict item 3): SnapshotTable
  * roots queryable BY NAME through a DSv2 TableCatalog, with
  * standard `VERSION AS OF` time travel, `SHOW TABLES`, loud
  * read-only semantics, and rows identical to the API read. */
class LakeCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String): (String, String) = {
    val root = tmpDir(prefix)
    val base = spark.range(200L).select(
      concat(lit("s"), (col("id") % 4).cast("string")).as("src"),
      col("id").as("k"), (col("id") * 7 % 31).as("v"))
    SnapshotTable.write(spark, root, base, Seq("src"),
      statsFor = Seq("k"), clusterBy = Seq("k"), filesPerPartition = 2)
    // v2: delete one partition's multiples of 3, upsert a few rows
    SnapshotTable.deleteWhere(spark, root,
      $"src" === "s1" && $"k" % 3 === 0)
    SnapshotTable.upsert(spark, root,
      Seq(("s2", 1000L, -1L), ("s2", 1001L, -2L)).toDF("src", "k", "v"),
      "k", Seq("src"))
    val name = prefix.replace('-', '_')
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, name, root)
    (name, root)
  }

  test("SQL by name == API read; VERSION AS OF time-travels byte-stable") {
    val (name, root) = freshTable("lakecat-basic")
    val api = SnapshotTable.read(spark, root)
      .orderBy("k").collect().toSeq
    val sql = spark.sql(s"SELECT * FROM lake.$name ORDER BY k")
      .collect().toSeq
    assert(sql == api, "SQL rows differ from the API read")

    // time travel to v1 (pre-delete, pre-upsert): exactly the base
    val v1 = spark.sql(
      s"SELECT * FROM lake.$name VERSION AS OF 1 ORDER BY k")
    assert(v1.count() == 200)
    assert(v1.filter($"src" === "s1" && $"k" % 3 === 0).count() > 0,
      "v1 must still hold the rows v3 deleted")
    // byte-stable: a pinned version returns identical rows even AFTER
    // the live table moves on
    val h1 = spark.sql(s"SELECT * FROM lake.$name VERSION AS OF 2")
      .orderBy("k").collect().toSeq
    SnapshotTable.upsert(spark, root,
      Seq(("s3", 5000L, 9L)).toDF("src", "k", "v"), "k", Seq("src"))
    val h2 = spark.sql(s"SELECT * FROM lake.$name VERSION AS OF 2")
      .orderBy("k").collect().toSeq
    assert(h1 == h2, "pinned version drifted after a later commit")
    // and the un-pinned name tracks latest
    assert(spark.sql(s"SELECT count(*) FROM lake.$name")
      .collect()(0).getLong(0) ==
      SnapshotTable.read(spark, root).count())
  }

  test("a resolve and its scan fold the version's manifest once") {
    val (name, root) = freshTable("lakecat-fold")
    val latest = new org.apache.hadoop.fs.Path(
      root, "_versions/v00000003.manifest").toUri.getPath
    val opens = ListRecordingFs.recorded(spark)(
      spark.sql(s"SELECT k FROM lake.$name WHERE src = 's2'").collect()).opens
    assert(opens.count(_ == latest) == 1, opens.mkString("\n"))
  }

  test("a SELECT probes its resolved version's manifest once") {
    val (name, root) = freshTable("lakecat-probe")
    def manifest(v: Int) = new org.apache.hadoop.fs.Path(
      root, f"_versions/v$v%08d.manifest").toUri.getPath
    def probes(v: Int, sql: String): Int =
      ListRecordingFs.recorded(spark)(spark.sql(sql).collect())
        .statuses.count(_ == manifest(v))
    // latest: the hint resolution's probe is the only one
    assert(probes(3, s"SELECT k FROM lake.$name") == 1)
    // a pinned version's manifest read is its own probe
    assert(probes(2, s"SELECT k FROM lake.$name VERSION AS OF 2") == 0)
    // and a version with no manifest still fails by name
    val e = intercept[Exception] {
      spark.sql(s"SELECT k FROM lake.$name VERSION AS OF 9").collect()
    }
    assert(e.getMessage.contains("unknown version v9"), e.getMessage)
  }

  test("recorded schema is pinned; filters push into the parquet scan") {
    val (name, _) = freshTable("lakecat-plan")
    val df = spark.sql(
      s"SELECT k FROM lake.$name WHERE v > 15 AND src = 's2'")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(v,15"),
      s"filter did not push into the DSv2 parquet scan:\n$plan")
    // column pruning: a bare 1-column projection reads ONLY that column
    val proj = spark.sql(s"SELECT k FROM lake.$name")
    proj.collect()
    val projPlan = proj.queryExecution.executedPlan.toString
    assert(projPlan.contains("ReadSchema: struct<k:bigint>"),
      s"scan reads more than the projected column:\n$projPlan")
  }

  test("SHOW TABLES lists bindings; unknown names and writes fail loudly") {
    val (name, root) = freshTable("lakecat-ddl")
    val shown = spark.sql("SHOW TABLES IN lake")
      .select("tableName").as[String].collect().toSet
    assert(shown.contains(name), s"SHOW TABLES missing $name: $shown")
    val missing = intercept[Exception] {
      spark.sql("SELECT * FROM lake.nope_not_bound").collect()
    }
    assert(missing.getMessage.toLowerCase.contains("nope_not_bound"))
    // DML is live against LATEST (LakeDmlSpec) — but a version-pinned
    // binding names an immutable state, so INSERT into it dies loudly
    val (pinName, pinRoot) = freshTable("lakecat-ropin")
    LakeCatalog.register(spark, pinName, pinRoot, version = Some(1))
    val ro = intercept[Exception] {
      spark.sql(s"INSERT INTO lake.$pinName VALUES ('s1', 1, 1)")
    }
    assert(ro != null)
    val tt = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM lake.$name TIMESTAMP AS OF '2026-01-01'").collect()
    }
    assert(tt.getMessage.contains("VERSION AS OF"),
      s"timestamp travel should point at VERSION AS OF: ${tt.getMessage}")
    // DROP TABLE (round 16) UNBINDS the name — external-table
    // semantics: the versioned root stays on disk, re-binding restores
    spark.sql(s"DROP TABLE lake.$name")
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM lake.$name").collect()
    }
    assert(SnapshotTable.versions(spark, root).nonEmpty,
      "DROP without PURGE must keep the storage root")
    LakeCatalog.register(spark, name, root)
    assert(spark.sql(s"SELECT count(*) FROM lake.$name").collect()(0)
      .getLong(0) > 0)
  }

  test("a pinned binding serves its pin as latest; AS OF overrides") {
    val (name, root) = freshTable("lakecat-pin")
    LakeCatalog.register(spark, name, root, version = Some(1))
    assert(spark.sql(s"SELECT count(*) FROM lake.$name")
      .collect()(0).getLong(0) == 200, "pinned binding must serve v1")
    val latest = SnapshotTable.latest(spark, root).get
    assert(spark.sql(
      s"SELECT count(*) FROM lake.$name VERSION AS OF $latest")
      .collect()(0).getLong(0) ==
      SnapshotTable.read(spark, root).count())
  }

  test("partition filters prune manifest dirs before the parquet scan") {
    // Round 14: the SQL plane's partition pruning — filters over
    // partition columns drop whole directories from the scan's path
    // list (manifest-evaluated, zero file I/O). Proven destructively:
    // every OTHER partition's bytes are garbage on disk, and the
    // filtered query still answers; an unprunable query would open
    // their footers and die.
    import java.nio.file.Files
    val root = tmpDir("lakecat-prune")
    val df = spark.range(80L).select(
      concat(lit("s"), (col("id") % 4).cast("string")).as("src"),
      col("id").as("k"))
    SnapshotTable.write(spark, root, df, Seq("src"))
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "lakecat_prune", root)
    val e = SnapshotTable.entriesFor(spark, root, 1).toMap
    Seq("s0", "s2", "s3").foreach { kk =>
      new java.io.File(root, e(kk)).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.write(f.toPath, "garbage".getBytes("UTF-8")))
    }
    // sum(k) forces a real data read (a bare count(*) would be
    // manifest-answered by MetadataAggregate since round 15 and prove
    // nothing about the scan) — the pruning claim needs the SCAN to
    // survive the other partitions' garbage
    assert(spark.sql(
      "SELECT sum(k) FROM lake.lakecat_prune WHERE src = 's1'")
      .collect()(0).getLong(0) == (1L until 80 by 4).sum)
    // a mixed conjunction: the partition conjunct prunes dirs, the
    // data conjunct still filters rows (and reaches parquet pushdown)
    assert(spark.sql(
      "SELECT count(*) FROM lake.lakecat_prune WHERE src = 's1' AND k < 9")
      .collect()(0).getLong(0) == 2)
    // zero matching partitions: empty result, not an error
    assert(spark.sql(
      "SELECT count(*) FROM lake.lakecat_prune WHERE src = 'zz'")
      .collect()(0).getLong(0) == 0)
    // the pruning itself launches NO Spark job (round-14 advice item
    // 1): matchingKeys evaluates the predicate over a LocalRelation of
    // partition tuples, which the optimizer folds driver-side —
    // PLANNING a filtered query must not pay scheduler round-trips
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = spark.sql(
        "SELECT count(*) FROM lake.lakecat_prune WHERE src = 's1'")
      q.queryExecution.executedPlan // forces planning incl. pushdown
      Thread.sleep(500) // listener bus is async; jobs would enqueue fast
      assert(jobs.get() == 0,
        s"planning a pruned lake scan launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a pruned scan reports manifest statistics: pruned bytes + " +
      "exact rows") {
    // Round 15: the scan the planner sees carries the manifest
    // census of ONLY the surviving directories — sizeInBytes is what
    // the query will actually read (broadcast-vs-shuffle decisions on
    // a partition-filtered lake read stop seeing whole-table bytes),
    // and numRows is exact from the `#n` lines, which a listing-based
    // parquet estimate never has.
    val (name, root) = freshTable("lakecat-stats")
    // force a data read (projection without aggregation) so the plan
    // keeps its scan; s2 was rewritten by the fixture's upsert
    val q = spark.sql(s"SELECT k, v FROM lake.$name WHERE src = 's2'")
    val scanStats = q.queryExecution.optimizedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => s.stats
    }.get
    assert(q.count() == 52) // 50 base + 2 upserted
    assert(scanStats.rowCount.contains(BigInt(52)),
      s"expected exact manifest rowCount, got ${scanStats.rowCount}")
    val latest = SnapshotTable.latest(spark, root).get
    val s2dir = SnapshotTable.entriesFor(spark, root, latest).toMap
      .apply("s2")
    val s2bytes = new java.io.File(root, s2dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(scanStats.sizeInBytes == BigInt(s2bytes),
      s"sizeInBytes must be the PRUNED census: got " +
        s"${scanStats.sizeInBytes}, s2 on disk is $s2bytes")
  }

  test("TIMESTAMP AS OF resolves via commit mtimes; boundaries loud") {
    // round-13 verdict item 7: a version's commit time IS its manifest
    // file's mtime (the create-exclusive publish is the commit), so
    // timestamp time travel needs no extra metadata
    val root = tmpDir("lakecat-ts")
    val t0 = System.currentTimeMillis()
    Thread.sleep(30)
    SnapshotTable.write(spark, root,                          // v1
      Seq(("s1", 1L)).toDF("src", "k"), Seq("src"))
    Thread.sleep(30)
    val t1 = System.currentTimeMillis()
    Thread.sleep(30)
    SnapshotTable.upsert(spark, root,                         // v2
      Seq(("s1", 2L)).toDF("src", "k"), "k", Seq("src"))
    Thread.sleep(30)
    val t2 = System.currentTimeMillis()

    // API boundaries
    assert(SnapshotTable.versionAtTimestamp(spark, root, t1) == 1)
    assert(SnapshotTable.versionAtTimestamp(spark, root, t2) == 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.versionAtTimestamp(spark, root, t0)
    }
    assert(e.getMessage.contains("predates"), e.getMessage)

    // the SQL surface: literal parses in the session's UTC zone
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "lakecat_ts", root)
    def lit(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).toString
        .replace("T", " ").replace("Z", "")
    assert(spark.sql("SELECT count(*) FROM lake.lakecat_ts " +
      s"TIMESTAMP AS OF '${lit(t1)}'").collect()(0).getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM lake.lakecat_ts " +
      s"TIMESTAMP AS OF '${lit(t2)}'").collect()(0).getLong(0) == 2)
    val sqlErr = intercept[Exception] {
      spark.sql("SELECT count(*) FROM lake.lakecat_ts " +
        s"TIMESTAMP AS OF '${lit(t0)}'").collect()
    }
    assert(sqlErr.getMessage.contains("predates") ||
      Option(sqlErr.getCause).exists(_.getMessage.contains("predates")),
      sqlErr.toString)
    // a timestamp-resolved table is a historical state: read-only
    val dml = intercept[Exception] {
      spark.sql("INSERT INTO lake.lakecat_ts " +
        s"TIMESTAMP AS OF '${lit(t1)}' VALUES ('s1', 9)")
    }
    assert(dml != null)
  }
}
