package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Point-lookup file skipping (round 16): per-file Bloom sketches
  * (`#b` manifest lines) for declared `lookupFor` columns let an
  * equality probe open only the files whose sketch admits the key —
  * the needle-in-100TB doc_id lookup that range stats cannot serve.
  * The proof style is destructive, like the rest of the lake layer:
  * garbage the bytes of every file the sketch skips and the probe must
  * still answer. */
class PointLookupSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** 4 partitions x 4 files = 16 files; doc_id is high-cardinality and
    * NOT clustered, so range stats are useless for equality probes —
    * exactly the shape the sketch exists for. */
  private def fresh(): (String, String) = {
    n += 1
    val root = tmpDir(s"ptlookup-$n")
    val base = spark.range(4000L).select(
      (col("id") % 4).cast("string").as("src"),
      col("id").as("doc_id"),
      (col("id") * 7 % 31).as("v"))
    SnapshotTable.write(spark, root, base, Seq("src"),
      filesPerPartition = 4, lookupFor = Seq("doc_id"))
    val name = s"ptlookup_$n"
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, name, root)
    (name, root)
  }

  test("readPoint opens only sketch-admitted files — proven by " +
      "garbaging every skipped file's bytes") {
    val (name, root) = fresh()
    // the sketch must actually prune: of 16 files, a single doc_id
    // should admit very few (fp < 0.1% at this fill)
    val m = SnapshotTable.versions(spark, root).last
    val key = 1234L
    val got = SnapshotTable.readPoint(spark, root, "doc_id", key)
      .collect()
    assert(got.length == 1 && got(0).getAs[Long]("doc_id") == key)
    // identify the admitted files via the probe plan's input files
    val probe = SnapshotTable.readPoint(spark, root, "doc_id", key)
    val opened = probe.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
      }).flatten.toSet
    val all = new java.io.File(root, "data").listFiles()
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(all.length == 16, s"expected 16 files, got ${all.length}")
    assert(opened.size < all.length / 2,
      s"sketch pruned nothing: opened ${opened.size} of ${all.length}")
    // destructive: garbage every file the sketch skipped — the probe
    // must still answer (it never opens them); the full scan must not
    all.filterNot(f => opened.exists(_.endsWith(f.getName)))
      .foreach(f => java.nio.file.Files.write(f.toPath,
        "garbage".getBytes("UTF-8")))
    val again = SnapshotTable.readPoint(spark, root, "doc_id", key)
      .collect()
    assert(again.length == 1 && again(0).getAs[Long]("doc_id") == key)
    // the SQL plane prunes identically: an equality predicate by NAME
    // reaches the sketch through the scan builder and still answers
    assert(spark.sql(
      s"SELECT v FROM lake.$name WHERE doc_id = $key")
      .collect()(0).getLong(0) == key * 7 % 31)
    // ...while anything that must touch the garbaged files fails loud
    intercept[Exception] {
      SnapshotTable.read(spark, root).count()
    }
    intercept[Exception] {
      spark.sql(s"SELECT sum(v) FROM lake.$name").collect()
    }
    assert(m == SnapshotTable.versions(spark, root).last)
  }

  test("correctness never depends on the sketch: undeclared columns, " +
      "NULL probes, absent keys, and mutation maintenance") {
    val (_, root) = fresh()
    // undeclared column: plain filtered read, right answer
    assert(SnapshotTable.readPoint(spark, root, "v", 3L).count() ==
      (0L until 4000L).count(_ * 7 % 31 == 3))
    // NULL probe: `= NULL` matches nothing
    assert(SnapshotTable.readPoint(spark, root, "doc_id", null).count()
      == 0L)
    // absent key: empty, not an error (all files skipped is a valid
    // outcome)
    assert(SnapshotTable.readPoint(spark, root, "doc_id", -1L).count()
      == 0L)
    // a mutation's fresh files get sketches automatically: the new key
    // is findable, the deleted key is gone
    SnapshotTable.upsert(spark, root,
      Seq(("0", 999999L, 1L)).toDF("src", "doc_id", "v"),
      "doc_id", Seq("src"))
    assert(SnapshotTable.readPoint(spark, root, "doc_id", 999999L)
      .count() == 1L)
    SnapshotTable.deleteWhere(spark, root, col("doc_id") === 999999L)
    assert(SnapshotTable.readPoint(spark, root, "doc_id", 999999L)
      .count() == 0L)
  }

  test("OPTIMIZE recomputes sketches for compacted files; the probe " +
      "keeps pruning") {
    val (_, root) = fresh()
    // compact 4 files/partition down to 1: every data file is replaced,
    // so stale sketch lines would either vanish (probe stops pruning)
    // or mis-admit — the commit path must re-census the fresh files
    val v = SnapshotTable.optimize(spark, root,
      targetBytes = 1L << 30)
    assert(v > 1, "optimize should have compacted the fanned partitions")
    val m = SnapshotTable.versions(spark, root).last
    val key = 1234L
    val got = SnapshotTable.readPoint(spark, root, "doc_id", key).collect()
    assert(got.length == 1 && got(0).getAs[Long]("doc_id") == key)
    // post-compaction there is 1 file per partition (4 total); the key
    // lives in one partition, so the sketch must skip the other three
    val probe = SnapshotTable.readPoint(spark, root, "doc_id", key)
    val opened = probe.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
      }).flatten.toSet
    assert(opened.size < 4,
      s"sketches not re-censused by OPTIMIZE: opened ${opened.size} of 4")
    assert(m == SnapshotTable.versions(spark, root).last)
  }

  test("SQL DDL declares lookups; INSERT maintains them; rename " +
      "follows") {
    n += 1
    val root = tmpDir(s"ptlookup-ddl-$n")
    val name = s"ptlookup_ddl_$n"
    LakeCatalog.install(spark)
    spark.sql(s"""
      CREATE TABLE lake.$name (src STRING, doc_id BIGINT, v BIGINT)
      PARTITIONED BY (src) LOCATION '$root'
      TBLPROPERTIES ('lookupfor' = 'doc_id')""")
    assert(SnapshotTable.lookupColumns(spark, root) == Seq("doc_id"))
    spark.sql(s"INSERT INTO lake.$name VALUES ('a', 1, 10), ('b', 2, 20)")
    val m = SnapshotTable.versions(spark, root).last
    assert(SnapshotTable.readPoint(spark, root, "doc_id", 2L)
      .collect()(0).getAs[Long]("v") == 20L)
    // rename re-labels the declaration; the probe works by new name
    spark.sql(s"ALTER TABLE lake.$name RENAME COLUMN doc_id TO k")
    assert(SnapshotTable.lookupColumns(spark, root) == Seq("k"))
    assert(SnapshotTable.readPoint(spark, root, "k", 2L)
      .collect()(0).getAs[Long]("v") == 20L)
  }
}
