package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQL DDL on the lake catalog (round 16): CREATE TABLE / CTAS mint an
  * empty governed [[SnapshotTable]] root and self-register the binding
  * — the front door that makes the whole surface reachable without the
  * Scala API — DROP unbinds (PURGE deletes), RENAME rebinds, and every
  * refusal is loud and specific. */
class LakeDdlSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def fresh(): (String, String) = {
    n += 1
    LakeCatalog.install(spark)
    (s"ddl_$n", tmpDir(s"lakeddl-$n") + s"/t$n")
  }

  test("CREATE -> INSERT -> MERGE -> SELECT purely in SQL") {
    val (name, root) = fresh()
    spark.sql(s"""
      CREATE TABLE lake.$name (k BIGINT, v STRING, src STRING)
      PARTITIONED BY (src) LOCATION '$root'
      TBLPROPERTIES ('rowkey' = 'k', 'statsfor' = 'k', 'clusterby' = 'k')""")
    // v1 = the empty table, with every declaration recorded
    assert(SnapshotTable.versions(spark, root) == Seq(1))
    assert(SnapshotTable.partitionColumns(spark, root) == Seq("src"))
    assert(SnapshotTable.rowKey(spark, root).contains("k"))
    assert(SnapshotTable.declaredColumns(spark, root) == (Seq("k"), Seq("k")))
    assert(spark.sql(s"SELECT count(*) AS n FROM lake.$name")
      .collect()(0).getLong(0) == 0L)
    assert(spark.sql("SHOW TABLES IN lake").collect()
      .map(_.getString(1)).contains(name))
    // first data lands through plain SQL INSERT
    spark.sql(s"INSERT INTO lake.$name VALUES " +
      "(1, 'a', 's0'), (2, 'b', 's0'), (3, 'c', 's1')")
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    // MERGE works off the DDL-declared row key — no API call ever ran
    Seq((2L, "b2", "s0", "u"), (3L, "", "s1", "d"), (9L, "z", "s1", "i"))
      .toDF("k", "v", "src", "op").createOrReplaceTempView("ddl_changes")
    spark.sql(s"""
      MERGE INTO lake.$name t USING ddl_changes s ON t.k = s.k
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v, src) VALUES (s.k, s.v, s.src)""")
    val live = spark.sql(s"SELECT k, v, src FROM lake.$name ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(live.toSeq == Seq((1L, "a", "s0"), (2L, "b2", "s0"),
      (9L, "z", "s1")))
    // time travel reaches the DDL-born v1 (empty) and the INSERT's v2
    assert(spark.sql(s"SELECT count(*) FROM lake.$name VERSION AS OF 1")
      .collect()(0).getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM lake.$name VERSION AS OF 2")
      .collect()(0).getLong(0) == 3L)
    assert(spark.sql(s"DESCRIBE HISTORY lake.$name").count() == 3L)
  }

  test("CTAS creates, declares, and loads in one statement") {
    val (name, root) = fresh()
    spark.range(20L)
      .select(col("id").as("k"), (col("id") % 3).cast("string").as("src"))
      .createOrReplaceTempView("ddl_ctas_src")
    spark.sql(s"""
      CREATE TABLE lake.$name PARTITIONED BY (src) LOCATION '$root'
      TBLPROPERTIES ('rowkey' = 'k')
      AS SELECT * FROM ddl_ctas_src""")
    // v1 = empty create, v2 = the query's rows through the same V1
    // write path as INSERT INTO
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(spark.sql(s"SELECT count(*) FROM lake.$name")
      .collect()(0).getLong(0) == 20L)
    assert(SnapshotTable.rowKey(spark, root).contains("k"))
    assert(SnapshotTable.entriesFor(spark, root, 2).map(_._1).sorted ==
      Seq("0", "1", "2"))
  }

  test("CREATE refusals are loud and specific") {
    val (name, root) = fresh()
    // no partitioning
    val e1 = intercept[Exception] { spark.sql(
      s"CREATE TABLE lake.${name}_p (k BIGINT) LOCATION '$root'") }
    assert(e1.getMessage.contains("PARTITIONED BY"), e1.getMessage)
    // unknown property (a typo'd declaration must not silently drop)
    val e2 = intercept[Exception] { spark.sql(
      s"CREATE TABLE lake.${name}_q (k BIGINT, src STRING) " +
        s"PARTITIONED BY (src) LOCATION '$root' " +
        "TBLPROPERTIES ('rowKeyy' = 'k')") }
    assert(e2.getMessage.contains("rowkeyy") ||
      e2.getMessage.contains("rowKeyy"), e2.getMessage)
    // foreign storage format
    val e3 = intercept[Exception] { spark.sql(
      s"CREATE TABLE lake.${name}_r (k BIGINT, src STRING) USING csv " +
        s"PARTITIONED BY (src) LOCATION '$root'") }
    assert(e3.getMessage.contains("parquet"), e3.getMessage)
    // duplicate name
    spark.sql(s"CREATE TABLE lake.$name (k BIGINT, src STRING) " +
      s"PARTITIONED BY (src) LOCATION '$root'")
    val e4 = intercept[Exception] { spark.sql(
      s"CREATE TABLE lake.$name (k BIGINT, src STRING) " +
        s"PARTITIONED BY (src) LOCATION '${root}_other'") }
    assert(e4.getMessage.toLowerCase.contains("already exists"),
      e4.getMessage)
    // adopting an existing root under a fresh declaration set
    spark.sql(s"DROP TABLE lake.$name")
    val e5 = intercept[Exception] { spark.sql(
      s"CREATE TABLE lake.$name (k BIGINT, src STRING) " +
        s"PARTITIONED BY (src) LOCATION '$root'") }
    assert(e5.getMessage.contains("register"), e5.getMessage)
    // no LOCATION and no warehouse conf
    val e6 = intercept[Exception] { spark.sql(
      s"CREATE TABLE lake.${name}_w (k BIGINT, src STRING) " +
        "PARTITIONED BY (src)") }
    assert(e6.getMessage.contains("warehouse"), e6.getMessage)
  }

  test("the catalog warehouse conf supplies the root when LOCATION " +
      "is omitted") {
    val (name, _) = fresh()
    val wh = tmpDir("lakeddl-wh")
    spark.conf.set("spark.sql.catalog.lake.warehouse", wh)
    try {
      spark.sql(s"CREATE TABLE lake.$name (k BIGINT, src STRING) " +
        "PARTITIONED BY (src)")
      val (root, _) = LakeCatalog.resolveBinding(spark, name)
      assert(root == new org.apache.hadoop.fs.Path(wh, name).toString)
      assert(SnapshotTable.versions(spark, root) == Seq(1))
    } finally spark.conf.unset("spark.sql.catalog.lake.warehouse")
  }

  test("DROP unbinds and keeps data; re-register restores; PURGE deletes") {
    val (name, root) = fresh()
    spark.sql(s"CREATE TABLE lake.$name (k BIGINT, src STRING) " +
      s"PARTITIONED BY (src) LOCATION '$root'")
    spark.sql(s"INSERT INTO lake.$name VALUES (1, 's0')")
    spark.sql(s"DROP TABLE lake.$name")
    intercept[Exception] { spark.sql(s"SELECT * FROM lake.$name").collect() }
    // external-table semantics: the versioned root survives the DROP
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    LakeCatalog.register(spark, name, root)
    assert(spark.sql(s"SELECT count(*) FROM lake.$name")
      .collect()(0).getLong(0) == 1L)
    // PURGE is the destructive spelling
    spark.sql(s"DROP TABLE lake.$name PURGE")
    assert(!new java.io.File(root).exists(), "PURGE must delete the root")
  }

  test("PURGE refuses pinned bindings and aliased roots") {
    val (name, root) = fresh()
    spark.sql(s"CREATE TABLE lake.$name (k BIGINT, src STRING) " +
      s"PARTITIONED BY (src) LOCATION '$root'")
    // an alias binding serving the same root blocks the purge
    LakeCatalog.register(spark, s"${name}_alias", root)
    val e1 = intercept[Exception] { spark.sql(s"DROP TABLE lake.$name PURGE") }
    assert(e1.getMessage.contains("_alias"), e1.getMessage)
    spark.sql(s"DROP TABLE lake.${name}_alias")
    // a pinned binding names a deliberately-held historical state
    LakeCatalog.register(spark, name, root, version = Some(1))
    val e2 = intercept[Exception] { spark.sql(s"DROP TABLE lake.$name PURGE") }
    assert(e2.getMessage.contains("pins"), e2.getMessage)
    assert(new java.io.File(root).exists(),
      "refused PURGE must not have deleted anything")
    spark.sql(s"DROP TABLE lake.$name")
  }

  test("ALTER TABLE RENAME TO rebinds; history and data untouched") {
    val (name, root) = fresh()
    spark.sql(s"CREATE TABLE lake.$name (k BIGINT, src STRING) " +
      s"PARTITIONED BY (src) LOCATION '$root'")
    spark.sql(s"INSERT INTO lake.$name VALUES (7, 's0')")
    spark.sql(s"ALTER TABLE lake.$name RENAME TO lake.${name}_renamed")
    intercept[Exception] { spark.sql(s"SELECT * FROM lake.$name").collect() }
    assert(spark.sql(s"SELECT k FROM lake.${name}_renamed")
      .collect()(0).getLong(0) == 7L)
    assert(spark.sql(
      s"SELECT count(*) FROM lake.${name}_renamed VERSION AS OF 1")
      .collect()(0).getLong(0) == 0L)
    // renaming onto an existing name refuses
    val (other, otherRoot) = fresh()
    spark.sql(s"CREATE TABLE lake.$other (k BIGINT, src STRING) " +
      s"PARTITIONED BY (src) LOCATION '$otherRoot'")
    val e = intercept[Exception] { spark.sql(
      s"ALTER TABLE lake.${name}_renamed RENAME TO lake.$other") }
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
  }

  // ---- NOT NULL / CHECK constraints (round-16 verdict item 3) --------

  private def freshConstrained(): (String, String) = {
    val (name, root) = fresh()
    spark.sql(s"""
      CREATE TABLE lake.$name (
        k BIGINT NOT NULL, v BIGINT, lang STRING NOT NULL, src STRING)
      PARTITIONED BY (src) LOCATION '$root'
      TBLPROPERTIES ('rowkey' = 'k', 'check.v_nonneg' = 'v >= 0')""")
    spark.sql(s"INSERT INTO lake.$name VALUES " +
      "(1, 10, 'en', 's0'), (2, NULL, 'de', 's0'), (3, 0, 'en', 's1')")
    (name, root)
  }

  test("constraints: a violating INSERT refuses loudly, nothing commits") {
    val (name, root) = freshConstrained()
    val v0 = SnapshotTable.versions(spark, root)
    // CHECK semantics pinned by the seed insert above: v = NULL PASSED
    // (a NULL condition is not FALSE); now each violation class refuses
    val e1 = intercept[Exception] { spark.sql(
      s"INSERT INTO lake.$name VALUES (4, -5, 'en', 's0')") }
    assert(e1.getMessage.contains("CHECK constraint 'v_nonneg'") ||
      Option(e1.getCause).exists(
        _.getMessage.contains("CHECK constraint 'v_nonneg'")),
      s"wrong error: ${e1.getMessage}")
    // the SQL plane may refuse via Spark's own nullability assert
    // (the DSv2 schema carries the DDL's flags) or via the commit
    // guard — either way: loud, specific, pre-commit
    def notNullRefusal(e: Throwable): Boolean = {
      val m = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      m.contains("NOT NULL constraint") || m.contains("NOT_NULL")
    }
    val e2 = intercept[Exception] { spark.sql(
      s"INSERT INTO lake.$name VALUES (5, 1, NULL, 's0')") }
    assert(notNullRefusal(e2), e2.getMessage)
    val e3 = intercept[Exception] { spark.sql(
      s"INSERT INTO lake.$name VALUES (NULL, 1, 'en', 's0')") }
    assert(notNullRefusal(e3), e3.getMessage)
    // NOTHING half-landed: same versions, same rows
    assert(SnapshotTable.versions(spark, root) == v0,
      "a refused batch minted a version")
    assert(spark.sql(s"SELECT count(*) FROM lake.$name")
      .collect()(0).getLong(0) == 3L)
    // the accepted-NULL row is really there (SQL CHECK three-valued)
    assert(spark.sql(s"SELECT count(*) FROM lake.$name WHERE v IS NULL")
      .collect()(0).getLong(0) == 1L)
  }

  test("constraints: MERGE refuses a violating batch atomically") {
    val (name, root) = freshConstrained()
    val v0 = SnapshotTable.versions(spark, root)
    // one fine update + one violating insert: the WHOLE batch refuses
    Seq((1L, 99L, "en", "s0"), (7L, -1L, "en", "s1"))
      .toDF("k", "v", "lang", "src").createOrReplaceTempView("cons_changes")
    val e = intercept[Exception] { spark.sql(s"""
      MERGE INTO lake.$name t USING cons_changes s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN
        INSERT (k, v, lang, src) VALUES (s.k, s.v, s.lang, s.src)""") }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage)
      .getOrElse("")).contains("CHECK constraint"), e.getMessage)
    assert(SnapshotTable.versions(spark, root) == v0)
    // the fine update did NOT land either — atomicity of the refusal
    assert(spark.sql(s"SELECT v FROM lake.$name WHERE k = 1")
      .collect()(0).getLong(0) == 10L)
    // an UPDATE that breaks the contract refuses too
    val e2 = intercept[Exception] { spark.sql(
      s"UPDATE lake.$name SET v = -3 WHERE k = 3") }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage)
      .getOrElse("")).contains("CHECK constraint"), e2.getMessage)
    assert(SnapshotTable.versions(spark, root) == v0)
  }

  test("constraints: a stream drain surfaces the refusal, batch undrained") {
    val (name, root) = freshConstrained()
    val v0 = SnapshotTable.versions(spark, root)
    val in = tmpDir("cons-stream-in")
    Seq((8L, -4L, "en", "s0"))
      .toDF("k", "v", "lang", "src")
      .coalesce(1).write.parquet(s"$in/wave=0")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("basePath", in).parquet(s"$in/wave=*").drop("wave")
    val q = graft.streaming.CdcStream.maintainUpsertsAtomic(
      stream, root, "k", Seq("src"))
    val e = intercept[Exception] {
      try q.awaitTermination() finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("CHECK constraint")),
      s"refusal not surfaced: ${chain(e).mkString(" | ")}")
    // the violating batch did not drain: no new version, no row 8
    assert(SnapshotTable.versions(spark, root) == v0,
      "a refused stream batch minted a version")
    assert(spark.sql(s"SELECT count(*) FROM lake.$name WHERE k = 8")
      .collect()(0).getLong(0) == 0L)
  }

  test("constraints: declaration-time refusals and ALTER guards") {
    val (name, root) = fresh()
    // a CHECK that does not parse refuses at CREATE, not first insert
    val e1 = intercept[Exception] { spark.sql(s"""
      CREATE TABLE lake.$name (k BIGINT, src STRING)
      PARTITIONED BY (src) LOCATION '$root'
      TBLPROPERTIES ('check.bad' = 'v >=')""") }
    assert(e1.getMessage.contains("does not parse"), e1.getMessage)
    // a CHECK over an unknown column refuses at CREATE
    val e2 = intercept[Exception] { spark.sql(s"""
      CREATE TABLE lake.$name (k BIGINT, src STRING)
      PARTITIONED BY (src) LOCATION '$root'
      TBLPROPERTIES ('check.bad' = 'nope > 0')""") }
    assert(e2.getMessage.contains("unknown column"), e2.getMessage)
    // RENAME/DROP of a CHECK-referenced column refuse (the constraint
    // is spelled over logical names)
    val (n2, r2) = freshConstrained()
    val e3 = intercept[Exception] { spark.sql(
      s"ALTER TABLE lake.$n2 RENAME COLUMN v TO score") }
    assert(e3.getMessage.contains("CHECK constraint 'v_nonneg'"),
      e3.getMessage)
    val e4 = intercept[Exception] { spark.sql(
      s"ALTER TABLE lake.$n2 DROP COLUMN v") }
    assert(e4.getMessage.contains("CHECK constraint 'v_nonneg'"),
      e4.getMessage)
    // the contract survives RESTORE and is visible API-side
    assert(SnapshotTable.checkConstraints(spark, r2) ==
      Seq(("v_nonneg", "v >= 0")))
    assert(SnapshotTable.notNullColumns(spark, r2) == Seq("k", "lang"))
    SnapshotTable.restore(spark, r2, 1)
    assert(SnapshotTable.checkConstraints(spark, r2) ==
      Seq(("v_nonneg", "v >= 0")))
    val e5 = intercept[Exception] { spark.sql(
      s"INSERT INTO lake.$n2 VALUES (4, -5, 'en', 's0')") }
    assert((e5.getMessage + Option(e5.getCause).map(_.getMessage)
      .getOrElse("")).contains("CHECK constraint"), e5.getMessage)
  }

  // ---- SHOW CREATE TABLE / DESCRIBE DETAIL (round-16 verdict item 4) --

  test("ALTER TABLE adopts constraints on existing tables (round 18)") {
    val (name, root) = fresh()
    spark.sql(s"""
      CREATE TABLE lake.$name (k BIGINT, v BIGINT, src STRING)
      PARTITIONED BY (src) LOCATION '$root'""")
    spark.sql(s"INSERT INTO lake.$name VALUES " +
      "(1, 10, 's0'), (2, NULL, 's0'), (3, -7, 's1')")
    val vSeeded = SnapshotTable.latest(spark, root).get

    // adopting NOT NULL on a column WITH a NULL refuses with the count
    // and commits NOTHING
    val e1 = intercept[Exception] { spark.sql(
      s"ALTER TABLE lake.$name ALTER COLUMN v SET NOT NULL") }
    assert(e1.getMessage.contains("1 existing NULL row"),
      s"wrong refusal: ${e1.getMessage}")
    assert(SnapshotTable.latest(spark, root).contains(vSeeded),
      "refused adoption committed a version")
    // same for a CHECK the data violates
    val e2 = intercept[Exception] { spark.sql(
      s"ALTER TABLE lake.$name ADD CONSTRAINT v_nonneg CHECK (v >= 0)") }
    assert(e2.getMessage.contains("1 existing row(s) violate"),
      s"wrong refusal: ${e2.getMessage}")
    assert(SnapshotTable.latest(spark, root).contains(vSeeded))
    // unknown column refuses at declaration
    val e3 = intercept[Exception] { spark.sql(
      s"ALTER TABLE lake.$name ADD CONSTRAINT bad CHECK (nope > 0)") }
    assert(e3.getMessage.contains("unknown column 'nope'"))

    // after cleanup both adopt (metadata-only commits)
    spark.sql(s"DELETE FROM lake.$name WHERE v IS NULL OR v < 0")
    spark.sql(s"ALTER TABLE lake.$name ALTER COLUMN v SET NOT NULL")
    spark.sql(s"ALTER TABLE lake.$name ADD CONSTRAINT v_nonneg " +
      "CHECK (v >= 0)")
    assert(SnapshotTable.notNullColumns(spark, root) == Seq("v"))
    assert(SnapshotTable.checkConstraints(spark, root) ==
      Seq(("v_nonneg", "v >= 0")))

    // a subsequent violating INSERT refuses; a clean one lands
    intercept[Exception] { spark.sql(
      s"INSERT INTO lake.$name VALUES (9, NULL, 's0')") }
    intercept[Exception] { spark.sql(
      s"INSERT INTO lake.$name VALUES (9, -1, 's0')") }
    spark.sql(s"INSERT INTO lake.$name VALUES (9, 1, 's0')")
    assert(spark.sql(s"SELECT count(*) FROM lake.$name")
      .collect()(0).getLong(0) == 2L)

    // time travel to pre-adoption versions is unaffected: the seeded
    // snapshot still serves its NULL and negative rows
    val old = spark.sql(
      s"SELECT v FROM lake.$name VERSION AS OF $vSeeded ORDER BY k")
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(old.toSeq == Seq(10L, null, -7L))

    // duplicate adoption refuses; DROP is pure metadata and loud on
    // unknown names; after DROP the violating INSERT lands
    intercept[Exception] { spark.sql(
      s"ALTER TABLE lake.$name ADD CONSTRAINT v_nonneg CHECK (v > 5)") }
    intercept[Exception] { spark.sql(
      s"ALTER TABLE lake.$name DROP CONSTRAINT no_such") }
    spark.sql(s"ALTER TABLE lake.$name DROP CONSTRAINT v_nonneg")
    spark.sql(s"ALTER TABLE lake.$name ALTER COLUMN v DROP NOT NULL")
    spark.sql(s"INSERT INTO lake.$name VALUES (10, NULL, 's0')")
    assert(spark.sql(s"SELECT count(*) FROM lake.$name")
      .collect()(0).getLong(0) == 3L)
  }

  test("SHOW CREATE TABLE round-trips the full contract") {
    val (name, root) = fresh()
    spark.sql(s"""
      CREATE TABLE lake.$name (
        k BIGINT NOT NULL, v BIGINT, lang STRING NOT NULL, src STRING)
      PARTITIONED BY (src) LOCATION '$root'
      TBLPROPERTIES ('rowkey' = 'k', 'statsfor' = 'v,k',
        'clusterby' = 'v', 'lookupfor' = 'k',
        'check.v_nonneg' = 'v >= 0')""")
    spark.sql(s"INSERT INTO lake.$name VALUES (1, 10, 'en', 's0')")
    // rename folds column-mapping state into the contract: the
    // statement must carry the CURRENT logical name
    spark.sql(s"ALTER TABLE lake.$name RENAME COLUMN lang TO language")
    val stmt = spark.sql(s"SHOW CREATE TABLE lake.$name")
      .collect()(0).getString(0)
    assert(stmt.contains("NOT NULL"), stmt)
    assert(stmt.contains("language"), stmt)
    assert(!stmt.contains("lang STRING"), stmt)
    assert(stmt.contains("'check.v_nonneg' = 'v >= 0'"), stmt)
    // re-execute against a FRESH location: the minted table's recorded
    // contract equals the original's
    val root2 = tmpDir(s"lakeddl-rt") + "/t2"
    // the recorded location may carry a scheme prefix — swap by clause
    val stmt2 = stmt
      .replaceAll("LOCATION '[^']+'", s"LOCATION '$root2'")
      .replace(s"lake.$name", s"lake.${name}_rt")
    spark.sql(stmt2)
    assert(SnapshotTable.schemaOf(spark, root2).fields.toSeq.map(f =>
        (f.name, f.dataType, f.nullable)) ==
      SnapshotTable.schemaOf(spark, root).fields.toSeq.map(f =>
        (f.name, f.dataType, f.nullable)),
      "round-tripped schema diverged")
    assert(SnapshotTable.partitionColumns(spark, root2) ==
      SnapshotTable.partitionColumns(spark, root))
    assert(SnapshotTable.rowKey(spark, root2) ==
      SnapshotTable.rowKey(spark, root))
    assert(SnapshotTable.declaredColumns(spark, root2) ==
      SnapshotTable.declaredColumns(spark, root))
    assert(SnapshotTable.lookupColumns(spark, root2) ==
      SnapshotTable.lookupColumns(spark, root))
    assert(SnapshotTable.checkConstraints(spark, root2) ==
      SnapshotTable.checkConstraints(spark, root))
    // the clone enforces like the original
    val e = intercept[Exception] { spark.sql(
      s"INSERT INTO lake.${name}_rt VALUES (1, -1, 'en', 's0')") }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage)
      .getOrElse("")).contains("CHECK constraint"), e.getMessage)
    // a NON-lake SHOW CREATE TABLE still reaches Spark's own statement
    spark.sql("CREATE OR REPLACE TEMP VIEW sct_probe AS SELECT 1 AS x")
    intercept[Exception] {
      // Spark's own statement refuses temp views its own way — the
      // point is only that OUR interceptor did not swallow it
      spark.sql("SHOW CREATE TABLE sct_probe").collect()
    }
  }

  test("DESCRIBE DETAIL reports contract + census, manifest-only") {
    val (name, root) = fresh()
    spark.sql(s"""
      CREATE TABLE lake.$name (
        k BIGINT NOT NULL, v BIGINT, src STRING)
      PARTITIONED BY (src) LOCATION '$root'
      TBLPROPERTIES ('rowkey' = 'k', 'statsfor' = 'v',
        'check.v_nonneg' = 'v >= 0')""")
    spark.sql(s"INSERT INTO lake.$name VALUES " +
      "(1, 10, 's0'), (2, 20, 's0'), (3, 30, 's1')")
    val d = spark.sql(s"DESCRIBE DETAIL lake.$name").collect()(0)
    val byName = d.schema.fieldNames.zipWithIndex.toMap
    assert(d.getString(byName("location")).endsWith(root))
    assert(d.getInt(byName("version")) == 2)
    assert(d.isNullAt(byName("pinned_version")))
    assert(d.getInt(byName("retained_versions")) == 2)
    assert(d.getString(byName("partition_columns")) == "src")
    assert(d.getString(byName("row_key")) == "k")
    assert(d.getString(byName("stats_columns")) == "v")
    assert(d.getString(byName("not_null_columns")) == "k")
    assert(d.getString(byName("check_constraints")) == "v_nonneg: v >= 0")
    assert(d.getInt(byName("num_partitions")) == 2)
    assert(d.getInt(byName("num_files")) == 2)
    assert(d.getLong(byName("size_bytes")) > 0L)
    assert(d.getLong(byName("num_rows")) == 3L)
    // manifest-only: garbage every data file's bytes — DESCRIBE DETAIL
    // must still answer identically (it may open no data file)
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    SnapshotTable.entriesFor(spark, root, 2).foreach { case (_, dir) =>
      val st = f.listStatus(new org.apache.hadoop.fs.Path(root, dir))
      st.filter(_.getPath.getName.endsWith(".parquet")).foreach { p =>
        val out = f.create(p.getPath, true)
        try out.write("garbage".getBytes("UTF-8")) finally out.close()
      }
    }
    val d2 = spark.sql(s"DESCRIBE DETAIL lake.$name").collect()(0)
    assert(d2.getLong(byName("num_rows")) == 3L,
      "DESCRIBE DETAIL touched a data file")
    assert(d2.getInt(byName("num_files")) == 2)
  }
}
