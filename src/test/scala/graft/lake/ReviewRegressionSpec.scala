package graft.lake

import graft.SparkSpec
import graft.lake.MaterializedAgg.MvSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Round-12 adversarial-review regressions: each case reproduces a
  * failure the review found in the new manifest-log / schema-pinning /
  * partials machinery and pins the fix. */
class ReviewRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("a racing disjoint evolution survives the other writer's commit") {
    // Writer A evolves partition s2 (adds 'extra'); writer B, holding
    // a PRE-evolution base, commits a disjoint s1 upsert afterwards.
    // B's delta records the UNION with the LATEST schema — a union
    // against B's stale base would drop 'extra' from every pinned read.
    val root = tmpDir("rr-race-evolve")
    val base = Seq((1L, "a", "s1"), (2L, "b", "s2"))
      .toDF("id", "v", "src")
    SnapshotTable.write(spark, root, base, Seq("src"))
    // interleave via the pre-commit hook: when B reaches its commit,
    // A's evolving upsert has already landed
    var fired = false
    SnapshotTable.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        SnapshotTable.onBeforeCommit = () => ()
        SnapshotTable.upsert(spark, root,
          Seq((2L, "b2", "s2", "en")).toDF("id", "v", "src", "extra"),
          "id", Seq("src"), mergeSchema = true)
      }
    }
    try SnapshotTable.upsert(spark, root,
      Seq((1L, "a2", "s1")).toDF("id", "v", "src"), "id", Seq("src"))
    finally SnapshotTable.onBeforeCommit = () => ()
    val after = SnapshotTable.read(spark, root)
    assert(after.columns.contains("extra"),
      "the racer's evolved column vanished from the pinned read")
    assert(after.filter($"id" === 2L).select("extra")
      .collect()(0).getString(0) == "en")
    assert(after.filter($"id" === 1L).select("v")
      .collect()(0).getString(0) == "a2")
  }

  test("append after evolution keeps the evolved column's values") {
    // Round-14 advice (high): tableColumns read ONE directory footer;
    // after a mergeSchema evolution an untouched pre-evolution
    // directory lacks the evolved column, so append()'s projection
    // silently dropped the batch's values for it. The column set now
    // comes from the manifest's recorded union schema.
    val root = tmpDir("rr-append-evolved")
    SnapshotTable.write(spark, root,
      Seq((1L, "a", "s1"), (2L, "b", "s2")).toDF("id", "v", "src"),
      Seq("src"))
    // evolve s2 only — s1's directory stays pre-evolution, and entry
    // order made it the footer the old code read
    SnapshotTable.upsert(spark, root,
      Seq((2L, "b2", "s2", 42L)).toDF("id", "v", "src", "extra"),
      "id", Seq("src"), mergeSchema = true)
    SnapshotTable.append(spark, root,
      Seq((3L, "c", "s1", 7L)).toDF("id", "v", "src", "extra"))
    val got = SnapshotTable.read(spark, root)
      .filter($"id" === 3L).select($"extra").collect()
    assert(got.length == 1 && !got(0).isNullAt(0) &&
      got(0).getLong(0) == 7L,
      s"append dropped the evolved column: ${got.mkString(",")}")
    // and a batch MISSING the evolved column fails loudly instead of
    // silently narrowing the table
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root,
        Seq((4L, "d", "s1")).toDF("id", "v", "src"))
    }
    assert(e.getMessage.contains("extra"), e.getMessage)
  }

  test("crashed-then-superseded refresh cannot resurrect stale partials") {
    // Refresh R1 dies at its one publish; the base then advances AGAIN
    // before the replay. R1 staged partials keyed to a directory
    // generation that appears in no later manifest diff — none of them
    // may become visible, or the deleted extremum lives forever.
    val spec = MvSpec(Seq("g"), sums = Seq("total" -> "v"),
      countName = "n", mins = Seq("min_v" -> "v"))
    val baseRoot = tmpDir("rr-stale-base"); val mvRoot = tmpDir("rr-stale-mv")
    SnapshotTable.write(spark, baseRoot,
      Seq((1L, "g1", 5L), (2L, "g1", 9L), (3L, "g2", 7L))
        .toDF("id", "g", "v"),
      Seq("g"))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 4)
    // base commit 1: g1 gains a NEW minimum (v=1)
    SnapshotTable.upsert(spark, baseRoot,
      Seq((4L, "g1", 1L)).toDF("id", "g", "v"), "id", Seq("g"))
    // R1 "crashes" right before its view publish
    ViewCrash.atViewPublish(spark, mvRoot)(
      MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4))
    // base commit 2: the interim minimum (v=1) is DELETED — its dir
    // generation now appears in no applied->latest diff
    SnapshotTable.deleteWhere(spark, baseRoot, $"id" === 4L)
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, 4)
    val g1 = MaterializedAgg.read(spark, mvRoot).filter($"g" === "g1")
      .select($"min_v", $"n").collect()(0)
    assert(g1.getLong(0) == 5L,
      s"stale partials resurrected the deleted minimum: ${g1.getLong(0)}")
    assert(g1.getLong(1) == 2L)
  }

  test("vacuum re-anchors the hint so gaps cannot shadow newer versions") {
    val root = tmpDir("rr-hint-gap")
    SnapshotTable.write(spark, root,
      Seq(("a", 1L)).toDF("p", "v"), Seq("p"))
    (2 to 6).foreach { i =>
      SnapshotTable.upsert(spark, root,
        Seq(("a", i.toLong)).toDF("p", "v"), "v", Seq("p"))
    }
    // wedge the hint at a version vacuum will PROTECT, then vacuum a
    // range above it away — the stale hint would resolve v2 as latest
    // if vacuum did not re-anchor it
    val hint = new java.io.File(root, "_versions/_latest.hint")
    java.nio.file.Files.write(hint.toPath, "2".getBytes("UTF-8"))
    SnapshotTable.vacuum(spark, root, keepVersions = 2, protect = Set(2))
    assert(SnapshotTable.versions(spark, root) == Seq(2, 5, 6))
    assert(scala.io.Source.fromFile(hint).mkString.trim == "6")
    assert(SnapshotTable.read(spark, root).count() == 6)
  }

  test("vacuum is LOUD when the hint can neither re-anchor nor clear") {
    // round-12 advice item 1: the re-anchor above was best-effort — a
    // persistently unwritable hint path plus a routine vacuum left the
    // hint wedged at a PROTECTED version below the dropped range, and
    // latestVersion silently served that old version as latest. Now a
    // gap-forming vacuum throws when a stale hint value survives.
    val root = tmpDir("rr-hint-loud")
    SnapshotTable.write(spark, root,
      Seq(("a", 1L)).toDF("p", "v"), Seq("p"))
    // 9 versions so the kept tail (v8 checkpoint, v9 delta-on-8) is
    // self-contained WITHOUT vacuum writing new checkpoints — the
    // wedge below blocks all writes into _versions, and a checkpoint
    // failure would (correctly) throw the self-containment error
    // before the hint logic this test pins
    (2 to 9).foreach { i =>
      SnapshotTable.upsert(spark, root,
        Seq(("a", i.toLong)).toDF("p", "v"), "v", Seq("p"))
    }
    // wedge: hint stuck at the protected v1 (the dangerous value — its
    // manifest SURVIVES the vacuum, so the forward probe would accept
    // it), then run the vacuum through a filesystem that refuses every
    // write to `_latest.hint` (tests run as root, so permission bits
    // cannot simulate an unwritable hint object; `wedged:` can)
    val hint = new java.io.File(root, "_versions/_latest.hint")
    java.nio.file.Files.write(hint.toPath, "1".getBytes("UTF-8"))
    spark.sparkContext.hadoopConfiguration.setIfUnset(
      "fs.wedged.impl", classOf[HintWedgedFileSystem].getName)
    val e = intercept[java.io.IOException] {
      SnapshotTable.vacuum(spark, s"wedged:$root", keepVersions = 2,
        protect = Set(1))
    }
    assert(e.getMessage.contains("_latest.hint"),
      s"loud-vacuum message should name the hint file: ${e.getMessage}")
    // unwedged, the same vacuum completes and re-anchors past the gap
    SnapshotTable.vacuum(spark, root, keepVersions = 2, protect = Set(1))
    assert(SnapshotTable.latest(spark, root).contains(9))
    assert(scala.io.Source.fromFile(hint).mkString.trim == "9")
    assert(SnapshotTable.hasVersion(spark, root, 1))
    assert(!SnapshotTable.hasVersion(spark, root, 3))
  }

  test("NULL bounds and values degrade to the residual, never a parse") {
    val root = tmpDir("rr-null-bounds")
    SnapshotTable.write(spark, root,
      spark.range(100L).select(lit("a").as("p"), col("id").as("k")),
      Seq("p"), statsFor = Seq("k"), clusterBy = Seq("k"),
      filesPerPartition = 4)
    // mixed null: prunes on the non-null values, matches them
    val mixed = SnapshotTable.readIn(spark, root, "k", Seq(5L, null, 7L))
    assert(mixed.select("k").as[Long].collect().toSet == Set(5L, 7L))
    // all-null point set: nothing can match
    assert(SnapshotTable.readIn(spark, root, "k", Seq(null)).count() == 0)
    // null range bound: three-valued logic, empty — and no exception
    assert(SnapshotTable.readBetween(spark, root, "k", null, 10L)
      .count() == 0)
  }

  test("a failing checkpoint write never fails the committed mutation") {
    val root = tmpDir("rr-cp-fail")
    SnapshotTable.write(spark, root,
      Seq(("a", 1L)).toDF("p", "v"), Seq("p"))
    (2 to 7).foreach { i =>
      SnapshotTable.upsert(spark, root,
        Seq(("a", i.toLong)).toDF("p", "v"), "v", Seq("p"))
    }
    // v8 is the checkpoint commit: pre-create a DIRECTORY at the
    // checkpoint path so the sidecar write fails — the commit itself
    // must succeed and reads must fold the chain instead
    val f = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new Path(root, "_versions/v00000008.checkpoint"))
    val v = SnapshotTable.upsert(spark, root,
      Seq(("a", 8L)).toDF("p", "v"), "v", Seq("p"))
    assert(v == 8)
    assert(SnapshotTable.read(spark, root).count() == 8)
  }

  // ---- round-15 advice pins (fixed in round 16) ----------------------

  test("string stat order is UTF-8 byte order, not UTF-16 code units") {
    // U+FFFD encodes EF BF BD; U+1F600 (emoji) encodes F0 9F 98 80 —
    // so Spark's UTF8String order puts the emoji ABOVE U+FFFD, while a
    // Java-String (UTF-16 code-unit) compare says the opposite (0xFFFD
    // > the 0xD83D surrogate). The old compare wrongly skipped the
    // file below and mis-folded cross-file string MIN/MAX.
    import org.apache.spark.sql.types.StringType
    assert(SnapshotTable.cmp(StringType, "�", "😀") < 0)
    val root = tmpDir("rr-utf8-order")
    SnapshotTable.write(spark, root,
      Seq((1L, "😀 emoji", "s1")).toDF("id", "s", "src"),
      Seq("src"), statsFor = Seq("s"))
    // range (U+FFFD, U+10FFFF]: contains the emoji row in UTF-8 order;
    // the UTF-16 compare concluded max < lo and pruned the only file
    val got = SnapshotTable.readBetween(spark, root, "s",
      "�", "􏿿").collect()
    assert(got.length == 1, "stats pruning wrongly skipped the file")
  }

  test("negative-year date bounds never prune (inverted lexical order)") {
    val root = tmpDir("rr-neg-year")
    val rows = Seq((1L, java.time.LocalDate.of(-44, 3, 15), "s1"))
      .toDF("id", "d", "src")
    SnapshotTable.write(spark, root, rows, Seq("src"), statsFor = Seq("d"))
    // [-0100-01-01, -0001-12-31] contains -0044-03-15, but the ISO
    // rendering's order INVERTS among negative years ("-0044" sorts
    // below "-0100" lexicographically while naming the LATER date), so
    // an unguarded compare skipped the file
    val got = SnapshotTable.readBetween(spark, root, "d",
      java.time.LocalDate.of(-100, 1, 1),
      java.time.LocalDate.of(-1, 12, 31)).collect()
    assert(got.length == 1, "negative-year bound wrongly pruned the file")
  }

  // ---- round-16 advice pins (fixed in round 17) ----------------------

  test("year-10000 date bounds never prune ('+' EXCEEDS_PAD rendering)") {
    val root = tmpDir("rr-year-10000")
    // Spark renders year 10000 as "+10000-01-01" (EXCEEDS_PAD); '+'
    // sorts below every digit, so this file's max would compare BELOW
    // any four-digit lower bound and an unguarded compare skipped the
    // file — the negative-year defect on the other side of the range
    val rows = Seq((1L, java.time.LocalDate.of(10000, 1, 1), "s1"))
      .toDF("id", "d", "src")
    SnapshotTable.write(spark, root, rows, Seq("src"), statsFor = Seq("d"))
    val got = SnapshotTable.readBetween(spark, root, "d",
      java.time.LocalDate.of(9999, 1, 1),
      java.time.LocalDate.of(10001, 12, 31)).collect()
    assert(got.length == 1, "year-10000 bound wrongly pruned the file")
    // the equality probe path shares the guard
    val eq = SnapshotTable.readIn(spark, root, "d",
      Seq(java.time.LocalDate.of(10000, 1, 1))).collect()
    assert(eq.length == 1, "year-10000 equality probe pruned the file")
  }
}

/** Local filesystem that refuses every mutation of `_latest.hint` —
  * the test stand-in for an unwritable/undeletable hint object (the
  * suite runs as root, so permission bits cannot produce one). Every
  * other path delegates to [[RawLocalFileSystem]] verbatim. */
class HintWedgedFileSystem
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "wedged"
  override def getUri: java.net.URI = java.net.URI.create("wedged:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName == "_latest.hint") false else super.rename(src, dst)
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (p.getName == "_latest.hint") false else super.delete(p, recursive)
}
