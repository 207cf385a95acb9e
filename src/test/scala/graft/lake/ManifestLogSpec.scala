package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The incremental manifest log (round-11 verdict item 1): a commit
  * writes a DELTA — its own partition entries, its own files' stats and
  * byte-census lines, tombstones for partitions it emptied — never the
  * untouched remainder of the table; every
  * [[SnapshotTable.CheckpointEvery]]-th commit folds the chain into a
  * full sidecar so read cost stays bounded. These specs pin the cost
  * claims directly (the GenerationsSpec pattern): total manifest bytes
  * across n single-partition commits must grow like o(n²), where the
  * old full-rewrite design was Θ(n · table). */
class ManifestLogSpec extends SparkSpec {
  import spark.implicits._

  private def versionsDirFiles(root: String): Seq[(String, Long)] = {
    val d = new java.io.File(root, "_versions")
    d.listFiles().toSeq.filterNot(_.getName.startsWith("."))
      .map(f => (f.getName, f.length()))
  }

  test("n single-partition commits write o(n^2) manifest bytes") {
    val root = tmpDir("mlog-bytes")
    val nParts = 40
    val base = spark.range(4000L).select(
      concat(lit("p"), (col("id") % nParts).cast("string")).as("p"),
      col("id").as("k"), (col("id") * 3).as("v"))
    SnapshotTable.write(spark, root, base, Seq("p"),
      filesPerPartition = 2, statsFor = Seq("k"), clusterBy = Seq("k"))

    val nCommits = 24
    (1 to nCommits).foreach { i =>
      val part = s"p${i % nParts}"
      val ups = spark.range(5L).select(
        lit(part).as("p"), (col("id") + 100000L * i).as("k"),
        lit(-1L).as("v"))
      SnapshotTable.upsert(spark, root, ups, "k", Seq("p"),
        filesPerPartition = 2)
    }

    val files = versionsDirFiles(root)
    val deltas = files.filter { case (n, _) =>
      n.endsWith(".manifest") && n != "v00000001.manifest" }
    val checkpoints = files.filter(_._1.endsWith(".checkpoint"))
    val fullSize = files.collectFirst {
      case (n, sz) if n == "v00000001.manifest" => sz }.get

    // (a) the old design's counterfactual: every commit rewrites at
    // least a full-table manifest (it only ever GROWS as stats lines
    // accrue). The log must beat half of even that lower bound.
    val counterfactual = nCommits * fullSize
    val actual = files.map(_._2).sum
    assert(actual < counterfactual / 2,
      s"manifest log wrote $actual bytes; full-rewrite lower bound " +
        s"was $counterfactual")

    // (b) delta files are O(commit), not O(table): every delta must be
    // far below the full-state size (each touches 1 of 40 partitions).
    val maxDelta = deltas.map(_._2).max
    assert(maxDelta < fullSize / 4,
      s"largest delta is $maxDelta bytes vs full state $fullSize — " +
        "a delta is carrying table-sized payload")

    // (c) checkpoints exist on the CheckpointEvery cadence and bound
    // the fold; they are the ONLY O(table) files in the log.
    assert(checkpoints.nonEmpty, "no checkpoint written in 24 commits")
    checkpoints.foreach { case (n, _) =>
      val v = n.stripPrefix("v").stripSuffix(".checkpoint").toInt
      assert(v % SnapshotTable.CheckpointEvery == 0,
        s"checkpoint $n off the cadence") }

    // (d) the folded state is still exactly right at the head and under
    // time travel across checkpoint boundaries.
    val head = SnapshotTable.read(spark, root)
    assert(head.count() == 4000L + 5L * nCommits)
    assert(head.filter(col("v") === -1L).count() == 5L * nCommits)
    val mid = SnapshotTable.read(spark, root,
      SnapshotTable.CheckpointEvery + 1)
    assert(mid.count() ==
      4000L + 5L * SnapshotTable.CheckpointEvery)
  }

  test("a delta file mentions only its own commit's partitions") {
    val root = tmpDir("mlog-delta")
    val base = spark.range(300L).select(
      concat(lit("p"), (col("id") % 30).cast("string")).as("p"),
      col("id").as("k"), col("id").as("v"))
    SnapshotTable.write(spark, root, base, Seq("p"), statsFor = Seq("k"))
    val ups = Seq(("p7", 1000L, 0L), ("p7", 1001L, 0L), ("p9", 1002L, 0L))
      .toDF("p", "k", "v")
    val v = SnapshotTable.upsert(spark, root, ups, "k", Seq("p"))
    val src = scala.io.Source.fromFile(root + f"/_versions/v$v%08d.manifest")
    val lines = try src.getLines().toList finally src.close()
    val entryKeys = lines.filterNot(_.startsWith("#"))
      .map(_.split('\t')(0)).toSet
    assert(entryKeys == Set("p7", "p9"),
      s"delta carries entries for $entryKeys")
    assert(lines.exists(_.startsWith("#delta\t")), "no #delta base line")
    // stats lines too: only the rewritten partitions' own directories
    // (the ones this delta's entries map to)
    val ownDirs = lines.filterNot(_.startsWith("#"))
      .map(_.split('\t')(1)).toSet
    val statDirs = lines.filter(_.startsWith("#f\t"))
      .map(_.split('\t')(1)).map(r => r.take(r.lastIndexOf('/'))).toSet
    assert(statDirs.subsetOf(ownDirs),
      s"delta carries stats for untouched dirs: ${statDirs -- ownDirs}")
  }

  test("emptied partitions tombstone in the delta and fold away") {
    val root = tmpDir("mlog-rm")
    val base = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 3L, 3L))
      .toDF("p", "k", "v")
    SnapshotTable.write(spark, root, base, Seq("p"), statsFor = Seq("k"))
    // delete every row of partition a -> its key must tombstone
    val v = SnapshotTable.deleteWhere(spark, root, col("p") === "a")
    val src = scala.io.Source.fromFile(root + f"/_versions/v$v%08d.manifest")
    val lines = try src.getLines().toList finally src.close()
    assert(lines.exists(_.startsWith("#rm\ta")),
      s"no tombstone for the emptied partition: $lines")
    val after = SnapshotTable.read(spark, root)
    assert(after.select("k").as[Long].collect().toSet == Set(3L))
    // and the pre-delete version still folds to the full table
    assert(SnapshotTable.read(spark, root, 1).count() == 3)
  }

  test("vacuum keeps kept versions readable when their chain is dropped") {
    val root = tmpDir("mlog-vacuum")
    val base = Seq(("a", 1L, 10L)).toDF("p", "k", "v")
    SnapshotTable.write(spark, root, base, Seq("p"))
    (2 to 6).foreach { i =>
      SnapshotTable.upsert(spark, root,
        Seq(("a", i.toLong, i * 10L)).toDF("p", "k", "v"), "k", Seq("p"))
    }
    // crashed-commit debris: a tmp manifest (died between create and
    // publish) and a staging dir (died mid-write) — vacuum collects both
    val tmpManifest = new java.io.File(root, "_versions/.v00000099.dead.tmp")
    java.nio.file.Files.writeString(tmpManifest.toPath, "never landed\n")
    val staging = new java.io.File(root, ".staging-crashed")
    assert(staging.mkdirs())
    // v2..v6 are deltas on the v1 full manifest; no checkpoint yet
    // (CheckpointEvery = 8). Dropping v1-v4 severs v5/v6's chains.
    val (dropped, _) = SnapshotTable.vacuum(spark, root, keepVersions = 2)
    assert(dropped == 4)
    assert(SnapshotTable.versions(spark, root) == Seq(5, 6))
    assert(SnapshotTable.read(spark, root, 5).count() == 5)
    assert(SnapshotTable.read(spark, root, 6).count() == 6)
    // a dropped version is gone loudly, not served from a neighbor
    intercept[IllegalArgumentException] { SnapshotTable.read(spark, root, 1) }
    assert(!tmpManifest.exists(), "crashed-commit tmp manifest not collected")
    assert(!staging.exists(), "crashed-commit staging dir not collected")
    // a root nothing was ever committed to (empty, or not even created)
    // vacuums as a (0, 0) no-op instead of throwing
    assert(SnapshotTable.vacuum(spark, tmpDir("mlog-never"), 1) == (0, 0))
    assert(SnapshotTable.vacuum(spark, s"$root-absent", 1) == (0, 0))
  }

  test("latest resolves through the hint pointer; stale/corrupt/missing degrade") {
    val root = tmpDir("mlog-hint")
    val base = Seq(("a", 1L, 1L)).toDF("p", "k", "v")
    SnapshotTable.write(spark, root, base, Seq("p"))
    (2L to 5L).foreach { i =>
      SnapshotTable.upsert(spark, root,
        Seq(("a", i, i)).toDF("p", "k", "v"), "k", Seq("p"))
    }
    val hint = new java.io.File(root, "_versions/_latest.hint")
    assert(hint.exists, "commit did not publish the latest-version hint")
    assert(scala.io.Source.fromFile(hint).mkString.trim == "5")
    def latestCount(): Long = SnapshotTable.read(spark, root).count()
    assert(latestCount() == 5)
    // commits resolve their base through the same hint: after each
    // degraded hint the next commit lands at exactly latest + 1 (a base
    // resolved too low would lose its publish; too high, skip a number)
    // and republishes the hint
    def commitLandsNext(k: Long): Unit = {
      val v = SnapshotTable.upsert(spark, root,
        Seq(("a", k, k)).toDF("p", "k", "v"), "k", Seq("p"))
      assert(v == k, s"commit after a degraded hint landed at v$v")
      assert(scala.io.Source.fromFile(hint).mkString.trim == k.toString)
      assert(latestCount() == k)
    }
    // STALE hint (a lagging writer): forward probe must still find v5
    java.nio.file.Files.write(hint.toPath, "2".getBytes("UTF-8"))
    assert(latestCount() == 5)
    commitLandsNext(6L)
    // CORRUPT hint: listing fallback
    java.nio.file.Files.write(hint.toPath, "garbage".getBytes("UTF-8"))
    assert(latestCount() == 6)
    commitLandsNext(7L)
    // MISSING hint: listing fallback
    assert(hint.delete())
    assert(latestCount() == 7)
    commitLandsNext(8L)
  }

  test("no write path lists _versions; vacuum and history do") {
    // every mutation resolves its base version through the hint
    // (O(1) probes), not an O(retained versions) LIST of _versions:
    // recorded by a listing-recording local file system, over a table
    // and a lane with 20 retained versions each
    val root = tmpDir("mlog-nolist")
    val mvRoot = tmpDir("mlog-nolist-mv")
    val lane = tmpDir("mlog-nolist-lane")
    val base = (0L until 40L).map(i => (s"p${i % 4}", i, i * 10L))
      .toDF("p", "k", "v")
    SnapshotTable.write(spark, root, base, Seq("p"))
    (2 to 20).foreach(_ => SnapshotTable.declareKey(spark, root, "k"))
    assert(SnapshotTable.versions(spark, root).size == 20)
    // a partial-maintained MAX makes the refresh merge partial rows
    // into the view too
    val spec = MaterializedAgg.MvSpec(groupBy = Seq("p"),
      sums = Seq("total" -> "v"), countName = "n", maxs = Seq("top" -> "v"))
    MaterializedAgg.init(spark, root, mvRoot, spec, nBuckets = 2)
    (1 to 20).foreach(_ => Lane.publish(spark, lane, Seq("base" -> root)))
    assert(Lane.versions(spark, lane).size == 20)
    def versionsDirOf(r: String) =
      new org.apache.hadoop.fs.Path(r, "_versions").toUri.getPath
    val versionsDir = versionsDirOf(root)
    val ops: Seq[(String, () => Any)] = Seq(
      "upsert" -> (() => SnapshotTable.upsert(spark, root,
        Seq(("p0", 0L, 1L)).toDF("p", "k", "v"), "k", Seq("p"))),
      "applyChanges" -> (() => SnapshotTable.applyChanges(spark, root,
        Seq(("p1", 1L, 2L, "u"), ("p1", 5L, 0L, "d"))
          .toDF("p", "k", "v", "op"), "k", Seq("p"), "op")),
      "append" -> (() => SnapshotTable.append(spark, root,
        Seq(("p2", 100L, 3L)).toDF("p", "k", "v"))),
      "no-op deleteWhere" -> (() => SnapshotTable.deleteWhere(spark, root,
        col("p") === "absent")),
      "no-op optimize" -> (() => SnapshotTable.optimize(spark, root)),
      "deleteRowsWhere" -> (() => SnapshotTable.deleteRowsWhere(spark,
        root, col("k") === 9L)),
      "addColumns" -> (() => SnapshotTable.addColumns(spark, root,
        Seq(org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType)))),
      "restore" -> (() => SnapshotTable.restore(spark, root, 20)),
      "overwritePartitions" -> (() => SnapshotTable.overwritePartitions(
        spark, root, Seq(("p3", 3L, 4L)).toDF("p", "k", "v"), Seq("p"))),
      "MV refresh" -> (() => MaterializedAgg.refresh(spark, root, mvRoot,
        spec, nBuckets = 2)),
      "Lane.publish" -> (() => Lane.publish(spark, lane,
        Seq("base" -> root))),
      "unpinned Lane.at" -> (() => Lane.at(spark, lane)))
    val v0 = SnapshotTable.latest(spark, root).get
    ops.foreach { case (name, op) =>
      // the base's and the view's logs alike
      val hit = ListRecordingFs.recorded(spark)(op()).lists
        .filter(_.endsWith("/_versions"))
      assert(hit.isEmpty, s"$name listed ${hit.mkString(", ")}")
    }
    // every base mutation but the two no-ops committed a version
    assert(SnapshotTable.latest(spark, root) == Some(v0 + 7))
    assert(MaterializedAgg.read(spark, mvRoot).count() == 4)
    // the lane publish landed at 21, pinning the base's latest
    assert(Lane.latest(spark, lane) == Some(21))
    assert(Lane.at(spark, lane) ==
      Seq(Lane.MemberPin("base", root, v0 + 7)))
    // an unpinned Lane.at opens the manifest its hint resolution just
    // probed: it issues no status call of its own on that manifest
    val laneManifest = s"${versionsDirOf(lane)}/v00000021.manifest"
    def manifestProbes(op: => Any): Int =
      ListRecordingFs.recorded(spark)(op).statuses.count(_ == laneManifest)
    assert(manifestProbes(Lane.latest(spark, lane)) == 1)
    assert(manifestProbes(Lane.at(spark, lane)) == 1,
      "unpinned Lane.at re-probed the manifest the hint resolved")
    // the recorder sees listings where every version IS needed
    assert(ListRecordingFs.recorded(spark)(
      SnapshotTable.history(spark, root)).lists.contains(versionsDir))
    assert(ListRecordingFs.recorded(spark)(
      SnapshotTable.vacuum(spark, root, 30)).lists.contains(versionsDir))
    assert(ListRecordingFs.recorded(spark)(
      Lane.vacuum(spark, lane, 30)).lists.contains(versionsDirOf(lane)))
  }

  test("a log without its schema, layout or file census is refused at read") {
    // every commit records all three; a log missing any of them gets
    // one error naming the root and version, not a fallback read
    def refusal(stripped: String): String = {
      val root = tmpDir("mlog-contract")
      SnapshotTable.write(spark, root,
        Seq(("p0", 1L), ("p1", 2L)).toDF("p", "k"), Seq("p"))
      SnapshotTable.upsert(spark, root, Seq(("p0", 3L)).toDF("p", "k"),
        "k", Seq("p"))
      new java.io.File(root, "_versions").listFiles()
        .filter(f => f.getName.endsWith(".manifest") ||
          f.getName.endsWith(".checkpoint"))
        .foreach { f =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          val kept = try src.getLines().filterNot(_.startsWith(stripped))
            .mkString("", "\n", "\n") finally src.close()
          java.nio.file.Files.write(f.toPath, kept.getBytes("UTF-8"))
        }
      intercept[IllegalStateException](SnapshotTable.read(spark, root))
        .getMessage
    }
    Seq("#schema\t" -> "missing: #schema",
        "#partitionby\t" -> "missing: #partitionby",
        "#sz\t" -> "missing: #sz census of 2 live director(ies)")
      .foreach { case (stripped, named) =>
        val msg = refusal(stripped)
        assert(msg.contains(named) && msg.contains(" v2 "), msg)
      }
  }

  test("the recorded source carries through mutations, OPTIMIZE and RESTORE") {
    val root = tmpDir("mlog-source")
    def src() = SnapshotTable.sourceVersion(spark, root)
    // a derived-table bootstrap: over-fanned so OPTIMIZE has work
    assert(SnapshotTable.overwritePartitions(spark, root,
      spark.range(40L).select(
        concat(lit("p"), (col("id") % 2).cast("string")).as("p"),
        col("id").as("k")),
      Seq("p"), filesPerPartition = 4, source = Some(7)) == 1)
    assert(src().contains(7))
    assert(SnapshotTable.optimize(spark, root) == 2)
    assert(src().contains(7), "a compaction must carry the source")
    // a mutation that sets no source carries it too, like the row key
    SnapshotTable.upsert(spark, root, Seq(("p0", 100L)).toDF("p", "k"),
      "k", Seq("p"))
    assert(src().contains(7))
    assert(SnapshotTable.commitSource(spark, root, 9) == 4)
    assert(src().contains(9))
    // restore restates the restored version's source with its rows
    assert(SnapshotTable.restore(spark, root, 2) == 5)
    assert(src().contains(7))
    // a plain replace restates contents that reflect no source
    SnapshotTable.write(spark, root, Seq(("p0", 1L)).toDF("p", "k"),
      Seq("p"))
    assert(src().isEmpty)
  }

  test("NaN/Infinity stat renderings never skip and never throw") {
    val root = tmpDir("mlog-nan")
    // three files by construction: finite-low, NaN-containing, finite-hi
    val df = spark.range(300L).select(
      when(col("id") < 100, "lo").when(col("id") < 200, "poison")
        .otherwise("hi").as("p"),
      when(col("id") >= 100 && col("id") < 200 && col("id") % 7 === 0,
        lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("x"),
      col("id").as("payload"))
    SnapshotTable.write(spark, root, df, Seq("p"), statsFor = Seq("x"))
    // Spark's max treats NaN as greatest: the poison file's recorded
    // max renders "NaN". The band read must keep that file (its finite
    // rows can match) instead of throwing in BigDecimal parse.
    val band = SnapshotTable.readBetween(spark, root, "x", 150.0, 160.0)
    assert(band.count() == df
      .filter(col("x") >= 150.0 && col("x") <= 160.0).count())
    // and pruning still works where stats are finite
    val lowBand = SnapshotTable.readBetween(spark, root, "x", 0.0, 50.0)
    assert(lowBand.count() == 51)
    assert(lowBand.inputFiles.length <
      SnapshotTable.read(spark, root).inputFiles.length,
      "finite files should still prune")
  }

  test("special-character partition values keep stats usable") {
    val root = tmpDir("mlog-special")
    // '%', '=', '#', ' ' in the value: Hive-escaping of the directory
    // name must round-trip into the census relPaths (ADVICE r11 item 5)
    val df = Seq(
      ("100%=a#b c", 1L, 1L), ("100%=a#b c", 2L, 2L),
      ("plain", 3L, 3L), ("plain", 4L, 4L))
      .toDF("p", "k", "v")
    SnapshotTable.write(spark, root, df, Seq("p"), statsFor = Seq("k"))
    val all = SnapshotTable.read(spark, root)
    assert(all.count() == 4)
    // the pruned read must NOT silently fall back to listing (which
    // would mask a census/dir mismatch) — it must open exactly the
    // stat-matching file and return the right rows
    val band = SnapshotTable.readBetween(spark, root, "k", 1L, 2L)
    assert(band.count() == 2)
    assert(band.inputFiles.length == 1,
      s"expected exactly the special partition's file, got " +
        s"${band.inputFiles.mkString(",")}")
    assert(band.select("p").distinct().as[String].collect().toSeq ==
      Seq("100%=a#b c"))
    // upserts find escaped partitions too: a replaced key in the
    // special partition and a new ':' partition (written `a%3Ab`)
    SnapshotTable.upsert(spark, root,
      Seq(("100%=a#b c", 1L, 10L), ("a:b", 5L, 5L)).toDF("p", "k", "v"),
      "k", Seq("p"))
    assert(SnapshotTable.read(spark, root).select("p", "k", "v")
      .as[(String, Long, Long)].collect().toSet == Set(
        ("100%=a#b c", 1L, 10L), ("100%=a#b c", 2L, 2L),
        ("plain", 3L, 3L), ("plain", 4L, 4L), ("a:b", 5L, 5L)))
    assert(SnapshotTable.readPartitions(spark, root, Seq(Seq("a:b")))
      .count() == 1)
  }
}
