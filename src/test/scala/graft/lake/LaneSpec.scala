package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lane versions (round 17, DESIGN_CROSS_TABLE_TXN.md acceptance
  * criteria 1-3): a lane names consistent cuts across a base table and
  * its derived tables — a half-drained batch is never observable
  * through a lane pin, and member vacuums cannot garbage a pinned cut
  * (destructively proven). */
class LaneSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** base (40 rows, 4 partitions) + derived per-source counts,
    * both committed, lane published at the v1 cut. */
  private def freshLane(): (String, String, String) = {
    n += 1
    val base = tmpDir(s"lane-base-$n")
    val derived = tmpDir(s"lane-derived-$n")
    val lane = tmpDir(s"lane-log-$n")
    val rows = spark.range(40L).select(
      (col("id") % 4).cast("string").as("src"),
      col("id").as("k"), (col("id") * 3 % 17).as("v"))
    SnapshotTable.write(spark, base, rows, Seq("src"))
    refreshDerived(base, derived)
    Lane.publish(spark, lane, Seq("base" -> base, "derived" -> derived))
    (base, derived, lane)
  }

  /** The maintainer: derived = per-source (n_rows, sum_v) of base@latest. */
  private def refreshDerived(base: String, derived: String): Unit =
    SnapshotTable.write(spark, derived,
      SnapshotTable.read(spark, base)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v")),
      Seq("src"))

  private def laneRead(lane: String, v: Int = -1): Map[String, Long] = {
    val (bRoot, bV) = Lane.member(spark, lane, "base", v)
    val (dRoot, dV) = Lane.member(spark, lane, "derived", v)
    Map(
      "base_n" -> SnapshotTable.read(spark, bRoot, bV).count(),
      "derived_n" -> SnapshotTable.read(spark, dRoot, dV)
        .agg(sum(col("n_rows"))).collect()(0).getLong(0))
  }

  test("a half-drained batch is invisible through the lane " +
      "(criterion 1 + 2)") {
    val (base, derived, lane) = freshLane()
    assert(laneRead(lane) == Map("base_n" -> 40L, "derived_n" -> 40L))
    // drain step 1 of 2 lands (base mutates), then the maintainer
    // "crashes" before the derived fold and before publish
    SnapshotTable.upsert(spark, base,
      Seq(("0", 100L, 1L), ("0", 101L, 2L)).toDF("src", "k", "v"),
      "k", Seq("src"))
    // direct-root readers see the new base; the LANE still names the
    // completed cut — base and derived AGREE through it
    assert(SnapshotTable.read(spark, base).count() == 42)
    assert(laneRead(lane) == Map("base_n" -> 40L, "derived_n" -> 40L),
      "lane exposed a half-drained batch")
    // the replayed drain completes and publishes exactly one new cut
    refreshDerived(base, derived)
    val v2 = Lane.publish(spark, lane,
      Seq("base" -> base, "derived" -> derived))
    assert(v2 == 2)
    assert(laneRead(lane) == Map("base_n" -> 42L, "derived_n" -> 42L))
    // the old cut stays resolvable (time travel across the lane)
    assert(laneRead(lane, 1) == Map("base_n" -> 40L, "derived_n" -> 40L))
  }

  test("member vacuum cannot drop a lane-pinned version (criterion 3, " +
      "destructive)") {
    val (base, derived, lane) = freshLane()
    // advance the base several versions past the pinned cut
    (1 to 3).foreach { i =>
      SnapshotTable.upsert(spark, base,
        Seq(("0", 200L + i, 1L)).toDF("src", "k", "v"), "k", Seq("src"))
    }
    refreshDerived(base, derived)
    Lane.publish(spark, lane, Seq("base" -> base, "derived" -> derived))
    // vacuum the base to keep-1: WITHOUT the lane registry both pinned
    // versions (v1 for lane v1, v4 for lane v2) would drop; with it
    // they survive and both cuts still read
    SnapshotTable.vacuum(spark, base, keepVersions = 1)
    SnapshotTable.vacuum(spark, derived, keepVersions = 1)
    assert(laneRead(lane, 1) == Map("base_n" -> 40L, "derived_n" -> 40L),
      "member vacuum garbaged the lane-v1 cut")
    assert(laneRead(lane, 2) == Map("base_n" -> 43L, "derived_n" -> 43L))
    // bound the protection via the LANE's own retention: drop lane v1,
    // vacuum members again — now the old cut's versions are garbage
    assert(Lane.vacuum(spark, lane, keepVersions = 1) == 1)
    SnapshotTable.vacuum(spark, base, keepVersions = 1)
    intercept[Exception] { laneRead(lane, 1) } // the manifest is gone
    assert(laneRead(lane, 2) == Map("base_n" -> 43L, "derived_n" -> 43L),
      "the retained cut must survive the lane vacuum")
  }

  test("lane SQL bindings: one consistent cut across lake.* reads " +
      "(round 18)") {
    val (base, derived, lane) = freshLane()
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "lane_base", base)
    LakeCatalog.register(spark, "lane_drv", derived)
    // base moves on (a mid-drain commit); derived and lane do NOT
    SnapshotTable.upsert(spark, base,
      Seq(("0", 500L, 9L)).toDF("src", "k", "v"), "k", Seq("src"))
    def agreement(): (Long, Long) = {
      val r = spark.sql("""
        SELECT sum(d.n_rows) AS drv_n, count(*) AS base_n FROM (
          SELECT src, count(*) AS c FROM lake.lane_base GROUP BY src) b
        JOIN lake.lane_drv d ON b.src = d.src""").collect()(0)
      (r.getLong(0), spark.sql("SELECT count(*) FROM lake.lane_base")
        .collect()(0).getLong(0))
    }
    // WITHOUT the lane binding: latest reads disagree with the derived
    // table (exactly the skew lanes exist to remove)
    val (drvN0, baseN0) = agreement()
    assert(drvN0 == 40L && baseN0 == 41L,
      s"fixture must start skewed, got derived=$drvN0 base=$baseN0")
    // WITH the binding: every member resolves through the lane pin —
    // one consistent cut inside one SQL statement
    spark.conf.set("spark.graft.lane.t", lane)
    try {
      val (drvN, baseN) = agreement()
      assert(drvN == 40L && baseN == 40L,
        s"lane-bound reads skewed: derived=$drvN base=$baseN")
      // mixing the lane binding with an explicit VERSION AS OF is
      // ambiguous and refuses loudly
      val latest = SnapshotTable.latest(spark, base).get
      val e = intercept[Exception] {
        spark.sql("SELECT count(*) FROM lake.lane_base " +
          s"VERSION AS OF $latest").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("ambiguous")),
        s"wrong refusal: ${e.getMessage}")
      // an @vN-pinned binding mixes the same way
      LakeCatalog.register(spark, "lane_base_pin", base,
        version = Some(1))
      intercept[Exception] {
        spark.sql("SELECT count(*) FROM lake.lane_base_pin").collect()
      }
    } finally {
      spark.conf.unset("spark.graft.lane.t")
      spark.conf.unset(LakeCatalog.BindingPrefix + "lane_base_pin")
    }
    // binding gone: latest semantics are back
    assert(agreement() == ((40L, 41L)))
  }

  test("lane-pinned bindings are read-only; registration survives " +
      "the first-publish window (review round 18)") {
    val (base, derived, lane) = freshLane()
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "lane_ro", base)
    spark.conf.set("spark.graft.lane.ro", lane)
    try {
      // a lane session reads a pinned cut — mutating latest through
      // the same name must refuse like VERSION AS OF does
      val e = intercept[Exception] {
        spark.sql("DELETE FROM lake.lane_ro WHERE k = 1")
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      // the lane pin makes the table non-writable: Spark's own
      // capability check refuses ("Cannot delete from table …@vN")
      // before our requireWritable would even run
      assert(msgs(e).exists(m =>
        m.contains("immutable") || m.contains("Cannot delete")),
        s"wrong refusal: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.lane.ro")
    // first-publish race: a lane registered in a member's _lanes/ with
    // its root created but NO version committed yet must survive a
    // member vacuum (the window Lane.publish deliberately opens);
    // only a VANISHED root unregisters
    val newLane = tmpDir("lane-unpublished")
    val f = new java.io.File(newLane, "_versions"); f.mkdirs()
    SnapshotTable.registerLane(spark, base,
      new java.io.File(newLane).getAbsolutePath)
    val registry = new java.io.File(base, "_lanes")
    val nBefore = registry.listFiles().length
    SnapshotTable.upsert(spark, base,
      Seq(("0", 900L, 1L)).toDF("src", "k", "v"), "k", Seq("src"))
    SnapshotTable.vacuum(spark, base, keepVersions = 1)
    assert(registry.listFiles().length == nBefore,
      "vacuum reaped a registered lane inside the first-publish window")
  }

  test("a raced publish retries onto v+1 with re-read pins; the seam " +
      "fires once per attempt") {
    val (base, derived, lane) = freshLane()
    val laneV = Lane.latest(spark, lane).get
    val baseV = SnapshotTable.latest(spark, base).get
    val derivedV = SnapshotTable.latest(spark, derived).get
    val members = Seq("base" -> base, "derived" -> derived)
    // the first attempt's seam: a racer advances the base, then a
    // competing publish takes the lane version the attempt resolved
    // (the racer's own commits pass the seam unobserved)
    var fired = 0
    var racing = false
    SnapshotTable.onBeforeCommit = () => if (!racing) {
      fired += 1
      if (fired == 1) {
        racing = true
        try {
          SnapshotTable.upsert(spark, base,
            Seq(("0", 700L, 1L)).toDF("src", "k", "v"), "k", Seq("src"))
          assert(Lane.publish(spark, lane, members) == laneV + 1)
        } finally racing = false
      }
    }
    val v =
      try Lane.publish(spark, lane, members)
      finally SnapshotTable.onBeforeCommit = () => ()
    assert(v == laneV + 2, s"the raced publish landed at v$v")
    assert(fired == 2, s"the seam fired $fired times over 2 attempts")
    // the landed pins are the second attempt's re-read: the base the
    // racer advanced, not the version the first attempt read
    assert(Lane.at(spark, lane, v) == Seq(
      Lane.MemberPin("base", base, baseV + 1),
      Lane.MemberPin("derived", derived, derivedV)))
  }

  test("publish pins are re-read per attempt and members validate") {
    val (base, derived, lane) = freshLane()
    // unknown member root fails loudly
    val e = intercept[IllegalArgumentException] {
      Lane.publish(spark, lane,
        Seq("base" -> base, "ghost" -> tmpDir("lane-ghost")))
    }
    assert(e.getMessage.contains("ghost"), e.getMessage)
    // duplicate member names refuse
    intercept[IllegalArgumentException] {
      Lane.publish(spark, lane, Seq("a" -> base, "a" -> derived))
    }
    // a vanished lane unregisters lazily: delete the lane log, then a
    // member vacuum reclaims what it pinned
    val baseV1 = SnapshotTable.read(spark, base, 1).count()
    assert(baseV1 == 40)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(lane))
    SnapshotTable.upsert(spark, base,
      Seq(("0", 300L, 1L)).toDF("src", "k", "v"), "k", Seq("src"))
    SnapshotTable.vacuum(spark, base, keepVersions = 1)
    intercept[Exception] {
      SnapshotTable.read(spark, base, 1).count()
    }
  }
}
