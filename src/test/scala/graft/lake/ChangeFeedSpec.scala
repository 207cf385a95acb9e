package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row-level change feed derived from the manifest log: per-version
  * insert/delete labeling, net diffs, touched-partition-only cost,
  * retention failure, and evolution alignment. */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def base(n: Long) = spark.range(n).select(
    concat(lit("s"), (col("id") % 4).cast("string")).as("src"),
    col("id").as("k"), (col("id") * 7 % 31).as("v"))

  test("between(0, latest) replays history: fold reconstructs state") {
    val root = tmpDir("cf-replay")
    SnapshotTable.write(spark, root, base(200L), Seq("src"))
    SnapshotTable.upsert(spark, root,
      Seq(("s1", 5L, 999L), ("s2", 1000L, -1L)).toDF("src", "k", "v"),
      "k", Seq("src"))
    SnapshotTable.deleteWhere(spark, root, $"k" % 10 === 3)

    val feed = ChangeFeed.between(spark, root, 0)
    // inserts minus deletes, per row identity, must equal the live state
    val folded = feed
      .groupBy("src", "k", "v")
      .agg(sum(when(col(ChangeFeed.ChangeTypeCol) === ChangeFeed.Insert,
        1L).otherwise(-1L)).as("net"))
      .filter($"net" =!= 0)
    assert(folded.filter($"net" < 0 || $"net" > 1).count() == 0,
      "a row's net multiplicity must be 0 or 1")
    val live = SnapshotTable.read(spark, root)
    assert(
      folded.select("src", "k", "v").exceptAll(live).count() == 0 &&
        live.exceptAll(folded.select("src", "k", "v")).count() == 0,
      "replayed feed must fold to the live state")
  }

  test("one step labels exactly the changed rows, with the version") {
    val root = tmpDir("cf-step")
    SnapshotTable.write(spark, root, base(100L), Seq("src"))
    // v2: change k=5's value (s1), insert k=1000 (s2)
    SnapshotTable.upsert(spark, root,
      Seq(("s1", 5L, 999L), ("s2", 1000L, -1L)).toDF("src", "k", "v"),
      "k", Seq("src"))
    val feed = ChangeFeed.between(spark, root, 1, 2)
    val rows = feed.select("src", "k", "v",
        ChangeFeed.ChangeTypeCol, ChangeFeed.VersionCol)
      .as[(String, Long, Long, String, Long)].collect().toSet
    assert(rows == Set(
      ("s1", 5L, 999L, "insert", 2L),
      ("s1", 5L, 5L * 7 % 31, "delete", 2L),
      ("s2", 1000L, -1L, "insert", 2L)),
      s"unexpected step-2 feed: $rows")
  }

  test("untouched partitions are not even read") {
    val root = tmpDir("cf-pruned")
    SnapshotTable.write(spark, root, base(100L), Seq("src"))
    SnapshotTable.upsert(spark, root,
      Seq(("s1", 5L, 999L)).toDF("src", "k", "v"), "k", Seq("src"))
    val feed = ChangeFeed.between(spark, root, 1, 2)
    // plan-level pin: every scan root is a directory the step TOUCHED
    // (s1's old + new dirs) — s0/s2/s3's directories never appear
    val e1 = SnapshotTable.entriesFor(spark, root, 1).toMap
    val e2 = SnapshotTable.entriesFor(spark, root, 2).toMap
    val allowed = Set(e1("s1"), e2("s1"))
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scanned = feed.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
    assert(scanned.nonEmpty)
    scanned.foreach { f =>
      assert(allowed.exists(d => f.endsWith(d)),
        s"feed scanned outside the touched partitions: $f vs $allowed")
    }
  }

  test("netBetween cancels churn and reads only the endpoints") {
    val root = tmpDir("cf-net")
    SnapshotTable.write(spark, root, base(100L), Seq("src"))
    val orig = ("s1", 5L, 5L * 7 % 31)
    SnapshotTable.upsert(spark, root,
      Seq(("s1", 5L, 999L)).toDF("src", "k", "v"), "k", Seq("src"))
    SnapshotTable.upsert(spark, root,
      Seq(orig).toDF("src", "k", "v"), "k", Seq("src"))
    // per-step feed sees the round trip...
    assert(ChangeFeed.between(spark, root, 1, 3).count() == 4)
    // ...the net diff sees nothing
    assert(ChangeFeed.netBetween(spark, root, 1, 3).count() == 0)
  }

  test("withUpdatePairs relabels exactly the unambiguous update pairs") {
    val root = tmpDir("cf-updpairs")
    SnapshotTable.write(spark, root, base(60L), Seq("src"))
    // v2: one update (k=5 gets a new v), one delete (k=7), one brand-new
    // key (k=1000) — all in one applyChanges commit
    val changes = Seq(
      ("s1", 5L, 999L, "u"), ("s3", 7L, 0L, "d"), ("s0", 1000L, 1L, "u"))
      .toDF("src", "k", "v", "op")
    SnapshotTable.applyChanges(spark, root, changes, "k", Seq("src"),
      opCol = "op")
    val feed = ChangeFeed.withUpdatePairs(
      ChangeFeed.between(spark, root, 1), "k")
    def types(k: Long): Set[String] = feed.filter($"k" === k)
      .select(ChangeFeed.ChangeTypeCol).collect()
      .map(_.getString(0)).toSet
    assert(types(5L) ==
      Set(ChangeFeed.UpdatePre, ChangeFeed.UpdatePost),
      s"updated key must pair: ${types(5L)}")
    assert(types(7L) == Set(ChangeFeed.Delete),
      "a true delete keeps its raw label")
    assert(types(1000L) == Set(ChangeFeed.Insert),
      "a true insert keeps its raw label")
    // the pre/post images carry the old and new values respectively
    val pre = feed.filter($"k" === 5L &&
      col(ChangeFeed.ChangeTypeCol) === ChangeFeed.UpdatePre)
      .select("v").collect()(0).getLong(0)
    val post = feed.filter($"k" === 5L &&
      col(ChangeFeed.ChangeTypeCol) === ChangeFeed.UpdatePost)
      .select("v").collect()(0).getLong(0)
    assert(pre == 5L * 7 % 31 && post == 999L, s"pre=$pre post=$post")
  }

  test("netBetween validates an explicit toVersion like fromVersion") {
    val root = tmpDir("cf-net-tov")
    SnapshotTable.write(spark, root, base(20L), Seq("src"))
    // never-committed endpoint: actionable resync guidance, not a raw
    // manifest-read failure (round-14 advice, low)
    val e = intercept[IllegalArgumentException] {
      ChangeFeed.netBetween(spark, root, 0, 99)
    }
    assert(e.getMessage.contains("resync"), e.getMessage)
  }

  test("a vacuumed range fails loudly, never silently skips") {
    val root = tmpDir("cf-vacuum")
    SnapshotTable.write(spark, root, base(50L), Seq("src"))
    (1 to 4).foreach { i =>
      SnapshotTable.upsert(spark, root,
        Seq(("s1", 5L, 100L + i)).toDF("src", "k", "v"), "k", Seq("src"))
    }
    SnapshotTable.vacuum(spark, root, keepVersions = 2)
    val e = intercept[IllegalArgumentException] {
      ChangeFeed.between(spark, root, 1)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // the retained suffix still serves
    val last = SnapshotTable.latest(spark, root).get
    assert(ChangeFeed.between(spark, root, last - 1, last).count() == 2)
  }

  test("schema evolution: pre-evolution steps align with NULLs") {
    val root = tmpDir("cf-evolve")
    SnapshotTable.write(spark, root, base(40L), Seq("src"))
    SnapshotTable.upsert(spark, root,
      Seq(("s1", 5L, 999L)).toDF("src", "k", "v"), "k", Seq("src"))
    SnapshotTable.upsert(spark, root,
      Seq(("s2", 6L, 7L, "fresh")).toDF("src", "k", "v", "note"),
      "k", Seq("src"), mergeSchema = true)
    val feed = ChangeFeed.between(spark, root, 0)
    assert(feed.columns.contains("note"))
    // v2's rows predate the column: NULL note; v3's insert carries it
    assert(feed.filter(col(ChangeFeed.VersionCol) === 2 &&
      col("note").isNotNull).count() == 0)
    assert(feed.filter(col(ChangeFeed.VersionCol) === 3 &&
      col(ChangeFeed.ChangeTypeCol) === "insert" &&
      col("note") === "fresh").count() == 1)
  }

  test("map-typed columns are rejected up front") {
    val root = tmpDir("cf-map")
    val df = spark.range(10L).select(
      lit("a").as("src"), col("id").as("k"),
      map(lit("x"), col("id")).as("m"))
    SnapshotTable.write(spark, root, df, Seq("src"))
    SnapshotTable.upsert(spark, root,
      spark.range(1L).select(lit("a").as("src"), lit(99L).as("k"),
        map(lit("x"), lit(1L)).as("m")), "k", Seq("src"))
    val e = intercept[IllegalArgumentException] {
      ChangeFeed.between(spark, root, 1)
    }
    assert(e.getMessage.contains("map"), e.getMessage)
  }
}
