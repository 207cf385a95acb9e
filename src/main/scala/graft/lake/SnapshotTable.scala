package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Partitioned table with MULTI-PARTITION ATOMIC upsert/delete —
  * [[Lake.upsert]]'s merge semantics composed with [[Snapshots]]'
  * manifest-commit machinery (round-8 verdict item 3).
  *
  * [[Lake.upsert]] is honest that its atomicity unit is the partition
  * DIRECTORY: a crashed multi-partition batch is recoverable (every
  * partition is old, new, or restorable), but not atomic — a reader can
  * observe some partitions updated and others not. This table closes
  * that gap the way Delta/Iceberg do, with machinery already in the
  * repo: data directories are IMMUTABLE (one directory per partition
  * tuple per rewrite, never mutated), and a version = one manifest
  * mapping partition tuple -> live directory, renamed into place
  * atomically. A batch that touches 50 partitions writes 50 new
  * directories and then commits ONE manifest: readers see all 50 or
  * none. A crash before the commit leaves invisible garbage directories
  * ([[vacuum]] collects them) — never a half-applied batch.
  *
  * Partitioning is HIERARCHICAL (`partitionBy` is a column list — the
  * real-lake (ingestion_date, source) shape): the manifest key is the
  * "/"-joined Hive-escaped rendering of the tuple, so
  * [[readPartitionPrefix]] prunes a whole leading-dimension slice
  * ("everything for 2026-01-11") from the manifest alone, and an
  * upsert touches only the exact tuples in the batch.
  *
  * Layout:
  *  - `<root>/data/p<nano>-<n>-<uuid>/` — one partition tuple's rows,
  *    full schema INCLUDING the partition columns (directories are
  *    manifest-addressed, not Hive-path-addressed, so the columns live
  *    in the files and reads need no partition-path reconstruction);
  *  - `<root>/_versions/v%08d.manifest` — an optional schema line
  *    `#schema<TAB><json>` first (Hive escaping guarantees no
  *    partition key starts with '#'), then lines `key<TAB>dir`, where
  *    `key` joins each partition value's Hive-escaped rendering with
  *    "/" (the exact strings Spark's own `partitionBy(...)` writer
  *    produces, so every value Spark can write is round-trippable,
  *    including nulls as `__HIVE_DEFAULT_PARTITION__` and values
  *    needing escaping — escaping makes "/" unambiguous). The schema
  *    line makes a legitimately EMPTIED table (deleteWhere /
  *    applyChanges removing every row) a readable empty frame instead
  *    of an error state, and lets a later change batch bootstrap
  *    against the recorded columns (round-9 advice item 4).
  *
  * Concurrency: commits are OPTIMISTIC (round-9 verdict item 2). The
  * manifest rename is the commit point; a committer that loses the
  * rename race re-reads the latest version and retries. If the
  * concurrent commits touched DISJOINT partition sets, the loser's
  * already-staged directories are still a valid merge — it re-commits
  * against the new latest (both batches land, serialized v(n+1),
  * v(n+2), no lost updates). If the touched sets OVERLAP, the staged
  * merge is stale: the mutator re-reads, re-merges, and re-commits from
  * scratch (bounded attempts), so the final state equals sequential
  * application. Abandoned staged directories are invisible garbage
  * ([[vacuum]] collects them). The commit publish is create-exclusive
  * on every filesystem ([[Snapshots.publishExclusive]]): no-overwrite
  * rename on HDFS/object stores, atomic link(2) on local FS — a lost
  * race always surfaces, never silently replaces a commit.
  *
  * Scale shape: an upsert reads and rewrites ONLY the touched
  * partitions' directories (manifest-pruned — untouched directories are
  * not even listed), the rewrite job salts across
  * `filesPerPartition` writer tasks per partition ([[Lake]]'s hot-
  * partition fan-out), and the commit is manifest-sized metadata.
  * Old versions stay readable until vacuumed ([[Snapshots]]' time-travel
  * contract), so "train on v12" composes with CDC-maintained tables.
  */
object SnapshotTable {
  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_versions")

  /** A manifest rename lost the race to a concurrent committer for the
    * SAME version number — retryable against the new latest. */
  private final class CommitRaceException(msg: String)
    extends java.io.IOException(msg)

  /** A concurrent commit changed a partition this mutation also
    * touched: the staged merge is stale and must be recomputed against
    * the new latest version. Public so callers that manage their own
    * retry policy can catch it; the built-in mutators already retry
    * [[MaxMergeRetries]] times before letting it escape. */
  final class ConcurrentWriteException(msg: String)
    extends java.io.IOException(msg)

  /** Full re-merge attempts per mutation on touched-set conflicts. */
  val MaxMergeRetries = 3

  /** Test seam: invoked after a mutation's data directories are staged
    * and moved, immediately before its commit loop — a spec injects a
    * COMPETING committer here to exercise the optimistic-concurrency
    * paths deterministically. Volatile: one CDC drain commits from
    * several threads (concurrent derived-table refreshes). */
  @volatile private[lake] var onBeforeCommit: () => Unit = () => ()

  /** Whether `root` holds a SnapshotTable (key<TAB>dir manifests) as
    * opposed to a flat [[Snapshots]] root (bare directory lines) —
    * the format probe that lets one `spark.graft.snapshot.<table>`
    * binding serve BOTH layers ([[graft.core.Tables]] routes through
    * this): a SnapshotTable manifest always contains a TAB (the
    * #schema line and every entry), a Snapshots manifest never does
    * (its lines are bare relative paths). */
  def isTableRoot(spark: SparkSession, root: String): Boolean = {
    val vs = versions(spark, root)
    vs.nonEmpty && {
      val p = new Path(manifestDir(root), f"v${vs.last}%08d.manifest")
      val in = fs(spark, root).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().exists(_.contains('\t'))
      finally in.close()
    }
  }

  /** Committed version numbers, ascending (empty if none). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val f = fs(spark, root)
    val dir = manifestDir(root)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toInt)
      .sorted.toSeq
  }

  /** One version's manifest STATE: (partition key -> data dir)
    * entries, the recorded schema, the declared stat/cluster columns,
    * the per-file min/max stats rows ([[FileStat]]), and the per-file
    * byte census (`#sz` lines — what lets [[optimize]] plan from
    * metadata alone). A state is materialized on disk either as a FULL
    * manifest / checkpoint, or reconstructed by folding a delta chain
    * ([[readManifest]]). */
  private[lake] final case class Manifest(
      entries: Seq[(String, String)],
      schema: Option[StructType],
      statsCols: Seq[String],
      clusterBy: Seq[String],
      fileStats: Seq[FileStat],
      fileSizes: Seq[(String, Long)],
      // partition COLUMN NAMES (directory keys carry values only) —
      // recorded since round 13 so the SQL DML plane (INSERT/DELETE
      // through [[LakeCatalog]]) can route a by-name mutation through
      // the same commit protocol without the caller restating the
      // layout; absent on pre-recording manifests (accessors require)
      partitionBy: Seq[String] = Nil,
      // the table's ROW KEY column (round 15): recorded by every keyed
      // mutation ([[upsert]]/[[applyChanges]]) or declared explicitly
      // ([[declareKey]]), so the SQL mutation plane (MERGE INTO through
      // [[graft.lake.LakeDml]]) can route by NAME without the statement
      // restating the table's identity column. At most one element —
      // a Seq only for render symmetry with partitionBy.
      rowKey: Seq[String] = Nil,
      // per-file ROW COUNTS (round 15, `#n` lines): recorded by every
      // data commit alongside the byte census, maintained through the
      // same live-file fold — what lets COUNT(*) / per-partition counts
      // over a governed table answer from the manifest with zero file
      // opens ([[MetadataAggregate]]). Files from pre-recording commits
      // simply have no line; consumers requiring full coverage fall
      // back to the data scan.
      fileRows: Seq[(String, Long)] = Nil,
      // PHYSICAL column names retired by DROP COLUMN (round 16,
      // `#droppedphys` lines): live data files still carry these
      // columns, so a later ADD COLUMN of a colliding name must mint a
      // FRESH physical name or old bytes would resurrect as the new
      // column's values. Grows monotonically; every metadata commit
      // restates the full list.
      droppedPhys: Seq[String] = Nil,
      // POINT-LOOKUP declarations (round 16): columns whose per-file
      // membership SKETCH (`#b` lines — a Bloom filter over xxhash64
      // of the value) every commit records, so an equality probe on a
      // high-cardinality NON-clustered column opens only the files
      // whose sketch admits the key ([[readPoint]]) — the classic
      // needle-in-100TB doc_id lookup that range stats cannot serve.
      lookupCols: Seq[String] = Nil,
      // per-file sketches: (relPath, PHYSICAL column, base64 bloom)
      fileSketch: Seq[(String, String, String)] = Nil,
      // CHECK constraints (round 17, `#check` lines): (name, boolean
      // SQL over logical column names). Declared at CREATE, enforced
      // by every data commit ON THE STAGING WRITE (a violating row
      // fails the job before any manifest exists — nothing half-lands),
      // carried forward by every commit like the row key.
      checks: Seq[(String, String)] = Nil,
      // NOT NULL constraints (round 17, `#notnull` line): column names
      // declared at CREATE. Deliberately NOT derived from recorded
      // schema nullability — a frame of literals types non-nullable,
      // and treating typing as contract would mint constraints no one
      // declared on every pre-existing table. Carried like `checks`.
      notNullCols: Seq[String] = Nil,
      // DELETION VECTORS (round 18, `#dv` lines): per-file sets of
      // DELETED ROW POSITIONS — (relPath, deletedCount, base64 of
      // delta-varint-coded sorted positions). The merge-on-read half
      // of row-level deletes (Delta's DVs / Iceberg positional
      // deletes): [[deleteRowsWhere]] commits ONLY these lines — a
      // one-row delete writes O(deleted rows) manifest bytes, never a
      // partition rewrite — and every row-materializing read filters
      // the positions back out ([[applyDv]], keyed on the parquet
      // `_metadata` file identity + row_index). A file's dv line in a
      // delta REPLACES its previous line (the writer merges positions
      // first); lines die with their directory in the fold, which is
      // exactly how a rewrite ([[optimize]], upsert, overwrite) folds
      // deletions into real bytes. deletedCount is the decoded
      // position count, recorded so metadata-only counts subtract
      // without decoding.
      fileDvs: Seq[(String, Long, String)] = Nil)

  /** One manifest FILE as written: either a full state (`deltaBase`
    * empty — the initial commit, a replace-all, or a checkpoint) or a
    * delta against `deltaBase`: `m.entries`/`m.fileStats`/`m.fileSizes`
    * hold only the NEW partitions/files, `removed` the partition keys
    * this commit dropped without replacement. Replaced keys need no
    * tombstone — re-adding a key implicitly retires its old directory
    * (and that directory's stats/census lines) in the fold. */
  private final case class RawManifest(
      deltaBase: Option[Int], removed: Seq[String], m: Manifest)

  /** One file's min/max for one stat column. `min`/`max` are the
    * Spark cast-to-string rendering of the column's native min/max,
    * URL-encoded on disk (string values can carry tabs/newlines);
    * None = the file has no non-null values for this column — its
    * census line still exists (the manifest IS the file list), it is
    * just never skipped on a bound it cannot match. */
  private[lake] final case class FileStat(
      relPath: String, column: String,
      min: Option[String], max: Option[String])

  /** Types whose parquet footer min/max equal Spark's min/max in
    * order AND in `cast("string")` rendering: UTF8_BINARY strings
    * (unsigned byte order both sides) and the signed integers. Doubles
    * (NaN ordering, -0.0), decimals and timestamps are left to the
    * aggregate pass. */
  private def footerStatOrdered(dt: DataType): Boolean = dt match {
    case s: org.apache.spark.sql.types.StringType =>
      s.collationId == org.apache.spark.sql.catalyst.util.CollationFactory
        .UTF8_BINARY_COLLATION_ID
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** One fresh file's [[FileStat]] for `column`, off its footer's
    * row-group statistics. All-NULL only when EVERY row group's null
    * count equals its value count; None (no line: never skipped) when
    * any row group lacks statistics, or holds values without a min/max
    * — parquet drops min/max above 4 KB, and reading that as "all
    * NULL" would skip rows a bound can match. */
  private def footerStat(
      relPath: String,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      column: String): Option[FileStat] = {
    import scala.jdk.CollectionConverters._
    val chunks = blocks.map(_.getColumns.asScala
      .find(_.getPath.toArray.sameElements(Array(column))))
    if (chunks.isEmpty || chunks.exists(_.isEmpty)) return None
    val stats = chunks.flatten.map(ch => (ch.getValueCount, ch.getStatistics))
    if (stats.exists { case (_, st) => st == null || !st.isNumNullsSet })
      None
    else if (stats.forall { case (n, st) => st.getNumNulls == n })
      Some(FileStat(relPath, column, None, None))
    else if (stats.exists { case (n, st) =>
        st.getNumNulls < n && !st.hasNonNullValue }) None
    else {
      val valued = stats.map(_._2).filter(_.hasNonNullValue)
      val acc = valued.head.copy()
      valued.tail.foreach(acc.mergeStatistics)
      def render(v: Any): String = v match {
        case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
        case x => x.toString // Integer (byte/short/int) or Long
      }
      Some(FileStat(relPath, column,
        Some(render(acc.genericGetMin)), Some(render(acc.genericGetMax))))
    }
  }

  private def encStat(v: Option[String]): String =
    v.fold("-")(x => "v" + java.net.URLEncoder.encode(x, "UTF-8"))

  private def decStat(s: String): Option[String] =
    if (s == "-") None
    else Some(java.net.URLDecoder.decode(s.stripPrefix("v"), "UTF-8"))

  /** Lookup-sketch sizing: 64 Kbit (8 KB) per file per declared
    * column, k tuned for ~4k distinct items (<0.1% false positives
    * there; degrades gracefully above — a false positive only costs
    * one extra file open, never a wrong row). At 100 TB the sketches
    * dominate manifest bytes; the checkpoint/delta chain already
    * amortizes reads, and moving them to a sidecar file is the
    * evolution path if manifests outgrow single-read comfort. */
  private val SketchItems = 4096L
  private val SketchBits = 65536L

  /** Delta commits between checkpoints. Every `CheckpointEvery`-th
    * commit ALSO writes a `.checkpoint` sidecar holding the full folded
    * state, so a reader folds at most `CheckpointEvery - 1` deltas —
    * the Delta-log/Iceberg-manifest-list shape: commit cost is
    * O(touched partitions + new files), not O(table), while read cost
    * stays O(state + bounded chain). */
  private[lake] val CheckpointEvery = 8

  private def manifestPath(root: String, v: Int) =
    new Path(manifestDir(root), f"v$v%08d.manifest")
  private def checkpointPath(root: String, v: Int) =
    new Path(manifestDir(root), f"v$v%08d.checkpoint")
  private def hintPath(root: String) =
    new Path(manifestDir(root), "_latest.hint")

  /** Best-effort latest-version pointer (the `_last_checkpoint` idea):
    * every commit overwrites `_versions/_latest.hint`, and
    * [[latestVersion]] resolves "latest" as hint + forward probe —
    * O(1 + commits-since-hint) existence checks instead of listing the
    * whole `_versions` directory per read (O(retained versions); at a
    * 5-minute CDC cadence that listing is 100k entries/year on object
    * stores that price LIST by the page). The hint is ADVISORY: a
    * torn write, a stale value, or deleting the file entirely only
    * costs the listing fallback, never a wrong answer — EXCEPT after a
    * [[vacuum]] that opens a gap below the latest version, which is why
    * vacuum alone treats a failed re-anchor as loud (see there).
    * Returns whether the hint now holds `v` (rename landed). */
  private def writeHint(spark: SparkSession, root: String, v: Int): Boolean =
    try {
      val f = fs(spark, root)
      val tmp = new Path(manifestDir(root),
        s"._latest.${java.util.UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      f.delete(hintPath(root), false)
      f.rename(tmp, hintPath(root)) || { f.delete(tmp, false); false }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Latest committed version: hint + forward probe, listing fallback.
    * A concurrent commit between the probe and the read is the same
    * race a listing has — the OCC layer owns that, not this. Public so
    * derived-table maintainers ([[graft.operators.TokenizedCorpus]])
    * resolve "base latest" through the same O(1) path instead of
    * re-listing `_versions` per refresh (round-12 advice item 2). */
  def latest(spark: SparkSession, root: String): Option[Int] =
    latestVersion(spark, root)

  /** Whether version `v` is committed — ONE existence check, no
    * listing (the O(1) twin of `versions(...).contains(v)`). */
  def hasVersion(spark: SparkSession, root: String, v: Int): Boolean =
    fs(spark, root).exists(manifestPath(root, v))

  /** Resolve a wall-clock instant to the version that was LATEST at
    * that instant — `TIMESTAMP AS OF` resolution ([[LakeCatalog]]'s
    * DSv2 hook routes here). The commit time of a version IS its
    * manifest file's modification time: the create-exclusive publish
    * is the commit, so the filesystem already records exactly the
    * instant each version became visible — nothing extra is written.
    * Works for both snapshot layers (flat [[Snapshots]] shares the
    * `_versions/v%08d.manifest` layout). One `_versions` listing per
    * call — time travel is an interactive path, not a hot one.
    *
    * Loud failures, mirroring Delta's: a timestamp BEFORE the earliest
    * retained commit (earlier history vacuumed, or the table did not
    * exist yet) names the boundary instead of silently serving the
    * oldest version. A timestamp after the newest commit serves the
    * newest version (the table's state AT that instant). Clock-skewed
    * mtimes cannot produce a wrong answer, only a conservative one:
    * the max eligible version is taken, so a version is served only if
    * its own commit stamp is <= the asked instant. */
  def versionAtTimestamp(
      spark: SparkSession, root: String, tsMillis: Long): Int = {
    val f = fs(spark, root)
    val dir = manifestDir(root)
    require(f.exists(dir),
      s"no snapshot-table version committed under $root")
    val stamped = f.listStatus(dir)
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith("v") && n.endsWith(".manifest")
      }
      .map(s => (s.getPath.getName.stripPrefix("v")
        .stripSuffix(".manifest").toInt, s.getModificationTime))
      .sortBy(_._1).toSeq
    require(stamped.nonEmpty,
      s"no snapshot-table version committed under $root")
    val eligible = stamped.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty, {
      val (v0, t0) = stamped.head
      s"timestamp ${java.time.Instant.ofEpochMilli(tsMillis)} predates " +
        s"the earliest retained commit of $root (v$v0 at " +
        s"${java.time.Instant.ofEpochMilli(t0)}) — earlier history is " +
        "vacuumed or the table did not exist yet; use VERSION AS OF " +
        "or a later timestamp"
    })
    eligible.map(_._1).max
  }

  /** Commit history for `DESCRIBE HISTORY` (round 15): one row per
    * RETAINED version — (version, commit mtime millis, "full"|"delta",
    * partitions added by that commit's own file, partition keys it
    * removed). The commit stamp is the manifest rename's mtime — the
    * same clock [[versionAtTimestamp]] resolves `TIMESTAMP AS OF`
    * against, so the two surfaces can never disagree. Cost is
    * O(retained versions) manifest-FILE reads (each commit's own file,
    * no chain folds), no data access. */
  def history(spark: SparkSession, root: String)
      : Seq[(Int, Long, String, Int, Int)] = {
    val f = fs(spark, root)
    versions(spark, root).flatMap { v =>
      // a version a CONCURRENT vacuum removes between the listing and
      // the read simply drops from the answer — inspection must not
      // crash on the retention maintenance this engine itself runs
      try {
        val p = manifestPath(root, v)
        val raw = parseManifestFile(spark, root, p)
        Some((v, f.getFileStatus(p).getModificationTime,
          if (raw.deltaBase.isEmpty) "full" else "delta",
          raw.m.entries.size, raw.removed.size))
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  private def latestVersion(spark: SparkSession, root: String): Option[Int] = {
    val f = fs(spark, root)
    val hinted: Option[Int] =
      try {
        if (!f.exists(hintPath(root))) None
        else {
          val in = f.open(hintPath(root))
          val s = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim finally in.close()
          Some(s.toInt).filter(v => f.exists(manifestPath(root, v)))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    hinted match {
      case Some(v0) =>
        var v = v0
        while (f.exists(manifestPath(root, v + 1))) v += 1
        Some(v)
      case None => versions(spark, root).lastOption
    }
  }

  /** Parse one manifest/checkpoint FILE (not a folded state). Keys are
    * Hive-escaped (no tab/newline/'#' can appear), so TAB is a safe
    * separator and '#' a safe marker; unknown '#'-prefixed metadata
    * lines are ignored by older readers. */
  private def parseManifestFile(
      spark: SparkSession, root: String, p: Path): RawManifest = {
    val in = fs(spark, root).open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    val deltaBase = lines.find(_.startsWith("#delta\t"))
      .map(_.stripPrefix("#delta\t").trim.toInt)
    val removed = lines.filter(_.startsWith("#rm\t"))
      .map(_.stripPrefix("#rm\t"))
    val schema = lines.find(_.startsWith("#schema\t")).map(l =>
      DataType.fromJson(l.stripPrefix("#schema\t")).asInstanceOf[StructType])
    def tabList(marker: String): Seq[String] = lines
      .find(_.startsWith(marker + "\t"))
      .map(_.stripPrefix(marker + "\t").split('\t').toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
    val fileStats = lines.filter(_.startsWith("#f\t")).map { l =>
      val parts = l.split('\t')
      FileStat(parts(1), parts(2), decStat(parts(3)), decStat(parts(4)))
    }
    val fileSizes = lines.filter(_.startsWith("#sz\t")).map { l =>
      val parts = l.split('\t')
      (parts(1), parts(2).toLong)
    }
    val fileRows = lines.filter(_.startsWith("#n\t")).map { l =>
      val parts = l.split('\t')
      (parts(1), parts(2).toLong)
    }
    val entries = lines.filterNot(_.startsWith("#")).map { line =>
      val i = line.indexOf('\t')
      (line.substring(0, i), line.substring(i + 1))
    }
    val fileSketch = lines.filter(_.startsWith("#b\t")).map { l =>
      val parts = l.split('\t')
      (parts(1), parts(2), parts(3))
    }
    val checks = lines.filter(_.startsWith("#check\t")).map { l =>
      val parts = l.split('\t')
      (parts(1), java.net.URLDecoder.decode(parts(2), "UTF-8"))
    }
    val fileDvs = lines.filter(_.startsWith("#dv\t")).map { l =>
      val parts = l.split('\t')
      (parts(1), parts(2).toLong, parts(3))
    }
    RawManifest(deltaBase, removed,
      Manifest(entries, schema, tabList("#statscols"), tabList("#clusterby"),
        fileStats, fileSizes, tabList("#partitionby"), tabList("#rowkey"),
        fileRows, tabList("#droppedphys"), tabList("#lookupcols"),
        fileSketch, checks, tabList("#notnull"), fileDvs))
  }

  /** Fold one delta onto a base state. A key present in the delta's
    * entries OR its `removed` list retires the base's directory for
    * that key, and with it every `#f` stats line and `#sz` census line
    * under that directory — the fold-time analog of what the full-
    * rewrite manifest used to do eagerly on every commit. */
  private def applyDelta(base: Manifest, d: RawManifest): Manifest = {
    val gone = d.removed.toSet ++ d.m.entries.map(_._1)
    val keptEntries = base.entries.filterNot(e => gone(e._1))
    val droppedDirs =
      base.entries.collect { case (k, dir) if gone(k) => dir }.toSet
    def live(rel: String): Boolean = {
      val i = rel.lastIndexOf('/')
      i < 0 || !droppedDirs.contains(rel.substring(0, i))
    }
    Manifest(
      keptEntries ++ d.m.entries,
      d.m.schema.orElse(base.schema),
      d.m.statsCols, d.m.clusterBy,
      base.fileStats.filter(s => live(s.relPath)) ++ d.m.fileStats,
      base.fileSizes.filter(s => live(s._1)) ++ d.m.fileSizes,
      // like schema: a delta from a pre-recording writer must not
      // erase the layout a newer commit already recorded
      if (d.m.partitionBy.nonEmpty) d.m.partitionBy else base.partitionBy,
      if (d.m.rowKey.nonEmpty) d.m.rowKey else base.rowKey,
      base.fileRows.filter(s => live(s._1)) ++ d.m.fileRows,
      // grows monotonically, restated by every metadata commit — a
      // data commit that omits it inherits the base's list
      if (d.m.droppedPhys.nonEmpty) d.m.droppedPhys else base.droppedPhys,
      d.m.lookupCols,
      base.fileSketch.filter(s => live(s._1)) ++ d.m.fileSketch,
      // like droppedPhys: restated by every commit that has any; a
      // delta from a pre-constraint writer inherits the base's list
      if (d.m.checks.nonEmpty) d.m.checks else base.checks,
      if (d.m.notNullCols.nonEmpty) d.m.notNullCols else base.notNullCols,
      // deletion vectors: a delta's dv line REPLACES the base's for the
      // same file (the writer merged positions before committing);
      // lines of retired directories die with them — a rewrite IS the
      // fold of its partitions' deletions into real bytes
      {
        val replaced = d.m.fileDvs.map(_._1).toSet
        base.fileDvs.filter(x => live(x._1) && !replaced(x._1)) ++
          d.m.fileDvs
      })
  }

  /** A version's checkpoint sidecar, parsed — None when absent OR
    * unreadable/torn: checkpoints are ADVISORY everywhere (the delta
    * chain is the truth), so a corrupt one must degrade to the longer
    * fold, never break a read. */
  private def readCheckpoint(
      spark: SparkSession, root: String, v: Int): Option[Manifest] =
    try {
      val f = fs(spark, root)
      if (!f.exists(checkpointPath(root, v))) None
      else Some(parseManifestFile(spark, root, checkpointPath(root, v)).m)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A version's STATE: the nearest checkpoint / full manifest at or
    * below `v`, with the delta suffix folded forward. Chain length is
    * bounded by [[CheckpointEvery]] (checkpoints are best-effort, so a
    * missing — or corrupt — one just means a longer fold, never a
    * wrong answer). */
  private def readManifest(
      spark: SparkSession, root: String, v: Int): Manifest = {
    var cur = v
    var deltas = List.empty[RawManifest]
    var base: Option[Manifest] = None
    while (base.isEmpty) {
      readCheckpoint(spark, root, cur) match {
        case Some(cp) => base = Some(cp)
        case None =>
          val raw = parseManifestFile(spark, root, manifestPath(root, cur))
          raw.deltaBase match {
            case None => base = Some(raw.m)
            case Some(b) =>
              deltas ::= raw // prepend: final list is ascending
              cur = b
          }
      }
    }
    deltas.foldLeft(base.get)(applyDelta)
  }

  private def renderManifest(
      m: Manifest, deltaBase: Option[Int], removed: Seq[String]): String = {
    val meta = deltaBase.map(b => s"#delta\t$b").toSeq ++
      m.schema.map(s => s"#schema\t${s.json}").toSeq ++
      (if (m.statsCols.nonEmpty)
        Seq(("#statscols" +: m.statsCols).mkString("\t")) else Nil) ++
      (if (m.clusterBy.nonEmpty)
        Seq(("#clusterby" +: m.clusterBy).mkString("\t")) else Nil) ++
      (if (m.partitionBy.nonEmpty)
        Seq(("#partitionby" +: m.partitionBy).mkString("\t")) else Nil) ++
      (if (m.rowKey.nonEmpty)
        Seq(("#rowkey" +: m.rowKey).mkString("\t")) else Nil) ++
      (if (m.droppedPhys.nonEmpty)
        Seq(("#droppedphys" +: m.droppedPhys).mkString("\t")) else Nil) ++
      (if (m.lookupCols.nonEmpty)
        Seq(("#lookupcols" +: m.lookupCols).mkString("\t")) else Nil) ++
      m.checks.map { case (n, e) =>
        s"#check\t$n\t${java.net.URLEncoder.encode(e, "UTF-8")}" } ++
      (if (m.notNullCols.nonEmpty)
        Seq(("#notnull" +: m.notNullCols).mkString("\t")) else Nil) ++
      removed.map(k => s"#rm\t$k") ++
      m.fileStats.map(fs =>
        s"#f\t${fs.relPath}\t${fs.column}\t${encStat(fs.min)}\t${encStat(fs.max)}") ++
      m.fileSizes.map { case (r, b) => s"#sz\t$r\t$b" } ++
      m.fileRows.map { case (r, n) => s"#n\t$r\t$n" } ++
      m.fileSketch.map { case (r, c, b) => s"#b\t$r\t$c\t$b" } ++
      m.fileDvs.map { case (r, n, b) => s"#dv\t$r\t$n\t$b" }
    (meta ++ m.entries.map { case (k, d) => s"$k\t$d" })
      .mkString("", "\n", "\n")
  }

  /** THE COMMIT: write the manifest file (full or delta) to a
    * writer-unique tmp name, rename into place — same protocol and race
    * posture as [[Snapshots.commit]], except the target version is the
    * CALLER's expectation (read-latest and rename are no longer one
    * call, so the version must be pinned at read time — computing it
    * here would let a commit that landed in between be silently dropped
    * from the fold). A lost race throws [[CommitRaceException]]. */
  private def commitManifest(
      spark: SparkSession, root: String, v: Int,
      payload: Manifest, deltaBase: Option[Int],
      removed: Seq[String]): Int = {
    val f = fs(spark, root)
    f.mkdirs(manifestDir(root))
    val tmp = new Path(manifestDir(root),
      f".v$v%08d.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(
      renderManifest(payload, deltaBase, removed).getBytes("UTF-8"))
    finally out.close()
    // create-exclusive publish (shared with [[Snapshots]]): atomic
    // no-overwrite on every filesystem, including local (link(2)).
    if (!Snapshots.publishExclusive(f, tmp, manifestPath(root, v)))
      throw new CommitRaceException(
        s"snapshot commit lost the race: ${manifestPath(root, v)}")
    writeHint(spark, root, v)
    v
  }

  /** Best-effort full-state sidecar: losing the publish race (another
    * writer already checkpointed v) or failing to write is harmless —
    * readers fold the delta chain instead. Never the commit point. */
  private def writeCheckpoint(
      spark: SparkSession, root: String, v: Int, full: Manifest): Boolean =
    try {
      val f = fs(spark, root)
      val tmp = new Path(manifestDir(root),
        f".v$v%08d.cp.${java.util.UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(renderManifest(full, None, Nil).getBytes("UTF-8"))
      finally out.close()
      Snapshots.publishExclusive(f, tmp, checkpointPath(root, v))
      // a lost publish race means another writer's checkpoint is in
      // place — for every caller that is as good as ours landing
      f.exists(checkpointPath(root, v))
    } catch {
      // never the commit point, so never a caller-visible failure from
      // the COMMIT path: the manifest is already published when this
      // runs, and surfacing an IO error there would make a COMMITTED
      // mutation look failed (a CDC retry would then double-apply a
      // batch that landed). Callers that REQUIRE the checkpoint
      // (vacuum's chain self-containment) check the returned flag.
      case scala.util.control.NonFatal(_) => false
    }

  private def entriesAt(
      spark: SparkSession, root: String, version: Int): Seq[(String, String)] =
    manifestAt(spark, root, version).entries

  /** A version's (partition key -> data dir) mapping — public metadata
    * surface: [[MaterializedAgg]] diffs two versions' mappings to find
    * changed partitions without touching data, and tests locate a
    * partition's directory through it. Served from the manifest log
    * (nearest checkpoint + delta fold), no data access. */
  def entriesFor(
      spark: SparkSession, root: String, version: Int): Seq[(String, String)] =
    entriesAt(spark, root, version)

  private[lake] def manifestAt(
      spark: SparkSession, root: String, version: Int): Manifest = {
    // resolve WITHOUT listing the whole _versions dir: latest via the
    // hint pointer (+ forward probe), explicit versions via one
    // existence check — the read path stays O(1) metadata RPCs as the
    // retained version count grows
    val v =
      if (version < 0)
        latestVersion(spark, root).getOrElse(throw new
          IllegalArgumentException(
            s"no snapshot-table version committed under $root"))
      else {
        require(fs(spark, root).exists(manifestPath(root, version)),
          s"unknown version v$version under $root")
        version
      }
    readManifest(spark, root, v)
  }

  /** A version's scan inputs — absolute data-directory paths plus the
    * recorded schema — for consumers that build their OWN scan over the
    * immutable version instead of going through [[read]]: the DSv2 SQL
    * surface ([[LakeCatalog]]) feeds these to Spark's parquet source so
    * `SELECT … FROM lake.t [VERSION AS OF n]` scans exactly the files
    * this version's manifest references, with the same pinned schema. */
  def scanInputs(
      spark: SparkSession, root: String,
      version: Int = -1): (Seq[String], Option[StructType]) = {
    val m = manifestAt(spark, root, version)
    (m.entries.map(e => new Path(root, e._2).toString), m.schema)
  }

  /** Read a version (latest when `version < 0`). `mergeSchema` is on:
    * after an evolving upsert (see [[upsert]]'s `mergeSchema`) a
    * version's directories can carry different vintages of the schema —
    * the union schema with nulls for absent columns is the correct
    * read, and the footer-merge cost is per-directory, not per-file-
    * block. Time-traveling to a pre-evolution version returns the OLD
    * schema (those manifests only reference old-schema directories).
    * A version whose manifest is EMPTY (every partition deleted) reads
    * as an empty frame with the schema the emptying commit recorded —
    * an emptied table is a table, not an error state. */
  def read(spark: SparkSession, root: String, version: Int = -1): DataFrame = {
    val m = manifestAt(spark, root, version)
    if (m.entries.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema.getOrElse(throw new IllegalStateException(
          "version has an empty manifest and no recorded schema " +
            "(pre-schema-line manifest format)")))
    else readDirs(spark, root, m, m.entries.map(_._2))
  }

  /** Manifest-pruned read of selected partition TUPLES: each key lists
    * the Spark-rendered value per partition column, in `partitionBy`
    * order (cast-to-string; null selects the null partition).
    * Directories of other partitions are not listed, let alone
    * opened. */
  def readPartitions(
      spark: SparkSession, root: String, keys: Seq[Seq[String]],
      version: Int = -1): DataFrame = {
    val wanted = keys.map(_.map(escapeKey).mkString("/")).toSet
    selectDirs(spark, root, version, wanted.contains)
  }

  /** Manifest-pruned read of a whole leading-dimension slice: rows whose
    * first |prefix| partition values render to `prefix` — e.g.
    * `readPartitionPrefix(root, Seq("2026-01-11"))` on a
    * (date, source)-partitioned table reads every source's directory
    * for that date and nothing else. The hierarchical-pruning read a
    * Hive layout gives via directory nesting, served from the manifest
    * instead. */
  def readPartitionPrefix(
      spark: SparkSession, root: String, prefix: Seq[String],
      version: Int = -1): DataFrame = {
    val p = prefix.map(escapeKey).mkString("/")
    selectDirs(spark, root, version,
      k => k == p || k.startsWith(p + "/"))
  }

  /** Stats-pruned range read (round-10 verdict item 2): rows of
    * `column` between `lower` and `upper` (inclusive), opening ONLY
    * the files whose manifest-recorded [min,max] intersects the bound
    * — the manifest is the file census (every commit under a
    * `statsFor` declaration writes one `#f` line per file), so
    * pruning needs no directory listing and no footer reads; skipped
    * files are never opened at all.
    *
    * Correctness is stats-independent: the residual `BETWEEN` filter
    * always applies, files without stats for `column` are always
    * kept, and a table with no stats declaration degrades to the
    * plain filtered [[read]]. Files whose census line records no
    * non-null values for `column` ARE skipped — no row in them can
    * satisfy a BETWEEN on it (NULL never matches).
    *
    * Bound rendering: pass numbers as numbers and dates/strings as
    * their ISO / literal strings — comparisons are type-aware from
    * the recorded schema (numeric as numbers, everything else in the
    * cast-to-string order parquet stats were recorded in). */
  def readBetween(
      spark: SparkSession, root: String, column: String,
      lower: Any, upper: Any, version: Int = -1): DataFrame =
    readBetweenAll(spark, root, Seq((column, lower, upper)), version)

  /** Conjunctive multi-column stats pruning (round-11 verdict item 6):
    * `predicates` is a seq of (column, lower, upper) bounds ANDed
    * together. A file survives only if EVERY predicate's recorded
    * [min,max] intersects its bound — per-file keep-sets intersect, so
    * the common `date BETWEEN .. AND source_score > ..` shape opens
    * fewer files than its best single column. Same correctness posture
    * as [[readBetween]]: all residual filters always apply, columns
    * without stats never prune. */
  def readBetweenAll(
      spark: SparkSession, root: String,
      predicates: Seq[(String, Any, Any)], version: Int = -1): DataFrame = {
    require(predicates.nonEmpty, "at least one (column, lo, hi) required")
    val m = manifestAt(spark, root, version)
    val residual = predicates.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)
    // predicates that can prune: a declared stat column of known type
    // with NON-NULL bounds (a NULL bound makes the residual match
    // nothing — three-valued logic — so pruning must not parse it)
    val colMap = mappingOf(m.schema)
    val usable = predicates.flatMap { case (c, lower, upper) =>
      m.schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
        .filter(_ => m.statsCols.contains(c) &&
          lower != null && upper != null)
        // #f lines key by PHYSICAL column name (stable across renames)
        .map(dt => (colMap.getOrElse(c, c),
          renderBound(lower), renderBound(upper), dt))
    }
    if (m.entries.isEmpty || usable.isEmpty)
      return read(spark, root, version).filter(residual)
    val byFileCol = m.fileStats
      .map(fs => (fs.relPath, fs.column) -> fs).toMap
    // keep-sets intersect (forall) across the usable predicates
    val keep = censusKeep(spark, root, m) { rel =>
      usable.forall { case (c, lo, hi, dt) =>
        byFileCol.get((rel, c)) match {
          case Some(FileStat(_, _, Some(mn), Some(mx))) =>
            // a non-finite rendering (NaN/Infinity — Spark's max
            // treats NaN as greatest) has no usable order: keep the
            // file rather than parse-and-throw (ADVICE r11 item 1)
            if (Seq(mn, mx, lo, hi).exists(nonFinite(dt, _))) true
            else cmp(dt, mx, lo) >= 0 && cmp(dt, mn, hi) <= 0
          case Some(FileStat(_, _, None, None)) => false // all-NULL
          case _ => true // partial/absent stats: never skip
        }
      }
    }
    if (keep.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema.get)
    else readFiles(spark, m, keep).filter(residual)
  }

  /** Stats-pruned POINT-SET read: rows of `column` IN `values`,
    * opening only files whose recorded [min,max] covers at least one
    * value — the disjunctive companion to [[readBetweenAll]], and the
    * few-term probe shape (a handful of `readBetween` unions would pay
    * one plan-time file index per term; this is ONE read). Same
    * correctness posture: the `isin` residual always applies, stats
    * only ever skip. */
  def readIn(
      spark: SparkSession, root: String, column: String,
      values: Seq[Any], version: Int = -1): DataFrame = {
    require(values.nonEmpty, "at least one value required")
    val m = manifestAt(spark, root, version)
    val residual = col(column).isin(values: _*)
    val dt = m.schema.flatMap(_.fields.find(_.name == column))
      .map(_.dataType).filter(_ => m.statsCols.contains(column))
    // NULL values can't match the isin residual and must not reach the
    // stat parse; a values list of ONLY nulls keeps no file at all
    val nonNull = values.filter(_ != null)
    if (m.entries.isEmpty || dt.isEmpty)
      return read(spark, root, version).filter(residual)
    if (nonNull.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema.get)
    val rendered = nonNull.map(renderBound)
    // #f lines key by PHYSICAL column name (stable across renames)
    val physCol = mappingOf(m.schema).getOrElse(column, column)
    val byFile = m.fileStats.filter(_.column == physCol)
      .map(fs => fs.relPath -> fs).toMap
    val keep = censusKeep(spark, root, m) { rel =>
      byFile.get(rel) match {
        case Some(FileStat(_, _, Some(mn), Some(mx))) =>
          if (Seq(mn, mx).exists(nonFinite(dt.get, _)) ||
              rendered.exists(nonFinite(dt.get, _))) true
          else rendered.exists(v =>
            cmp(dt.get, mx, v) >= 0 && cmp(dt.get, mn, v) <= 0)
        case Some(FileStat(_, _, None, None)) => false // all-NULL file
        case _ => true // partial/absent stats: never skip
      }
    }
    if (keep.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema.get)
    else readFiles(spark, m, keep).filter(residual)
  }

  /** Sketch-pruned POINT lookup (round-16 verdict item 5): rows where
    * `column = value`, opening ONLY the files whose per-file Bloom
    * sketch (`#b` manifest lines, declared via `lookupFor`) admits the
    * key — the needle-in-100TB shape range stats cannot serve: an
    * equality probe on a high-cardinality NON-clustered column (a
    * doc_id lookup inside a date partition) would otherwise open every
    * file of the partition. Correctness is sketch-independent: the
    * equality residual always applies, files without a sketch line are
    * always kept, a false positive costs one extra file open, and an
    * undeclared column degrades to the plain filtered [[read]]. A
    * NULL probe returns the empty frame (`= NULL` matches nothing). */
  def readPoint(
      spark: SparkSession, root: String, column: String, value: Any,
      version: Int = -1): DataFrame = {
    val m = manifestAt(spark, root, version)
    val residual = col(column) === lit(value)
    val declared = m.lookupCols.contains(column) &&
      m.schema.exists(_.fieldNames.contains(column))
    if (m.entries.isEmpty || !declared)
      return read(spark, root, version).filter(residual)
    if (value == null)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema.get)
    sketchAdmits(m, column, value) match {
      case None => read(spark, root, version).filter(residual)
      case Some(admits) =>
        val keep = censusKeep(spark, root, m)(admits)
        if (keep.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            m.schema.get)
        else readFiles(spark, m, keep).filter(residual)
    }
  }

  /** The per-file admit test behind [[readPoint]] and the SQL plane's
    * equality pruning ([[LakePruningScanBuilder]]): Some(rel => keep?)
    * when `column` is a declared lookup column and `value` hashes
    * cleanly (xxhash64 seed 42 of the native-typed value — the exact
    * write-side insert), None when the sketch cannot apply. Files
    * without a sketch line always admit. */
  private[lake] def sketchAdmits(
      m: Manifest, column: String, value: Any): Option[String => Boolean] =
    (try Some(org.apache.spark.sql.catalyst.expressions.Literal(value))
     catch { case scala.util.control.NonFatal(_) => None })
      .flatMap(l => sketchAdmitsLit(m, column, l))

  /** [[sketchAdmits]] over an already-built literal — the SQL plane's
    * entry, where the probe value arrives as a catalyst [[Literal]]
    * carrying the internal representation. */
  private[lake] def sketchAdmitsLit(
      m: Manifest, column: String,
      lit0: org.apache.spark.sql.catalyst.expressions.Literal)
      : Option[String => Boolean] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val dtOpt = m.schema.flatMap(_.fields.find(_.name == column))
      .map(_.dataType)
      .filter(_ => m.lookupCols.contains(column) && lit0.value != null)
    dtOpt.flatMap { dt =>
      val casted =
        try Cast(lit0, dt, Some("UTC")).eval(null)
        catch { case scala.util.control.NonFatal(_) => null }
      if (casted == null) None
      else {
        val h = new XxHash64(Seq(Literal.create(casted, dt)), 42L)
          .eval(null).asInstanceOf[Long]
        val phys = mappingOf(m.schema).getOrElse(column, column)
        val sketchByFile = m.fileSketch
          .collect { case (rel, c, b64) if c == phys => rel -> b64 }.toMap
        Some((rel: String) => sketchByFile.get(rel) match {
          case Some(b64) =>
            org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(
                java.util.Base64.getDecoder.decode(b64)))
              .mightContainLong(h)
          case None => true // no sketch recorded: never skip
        })
      }
    }
  }

  // ---- deletion vectors (round 18) -----------------------------------
  //
  // A `#dv` manifest line is a per-file set of deleted ROW POSITIONS
  // (parquet `_metadata.row_index` — the position of the row as the
  // file was written, stable across reads and splits). The write side
  // ([[deleteRowsWhere]]) commits O(deleted rows) bytes of manifest and
  // touches no data file; the read side filters the positions back out
  // with one broadcast anti-join keyed on (file identity, position).
  // File identity is the file's LAST TWO path segments
  // (`p<nanos>-<i>-<uuid>/<part file>`): the directory name is minted
  // unique by every commit ([[commitRewrite]]'s move loop), so the key
  // is collision-free across roots, clones, and URI renderings —
  // which is what lets the read side match `_metadata.file_path`
  // (a URI) against manifest relPaths (root-relative, or absolute on
  // clones) without normalizing either.

  /** The collision-free file identity both sides of the dv anti-join
    * key on: last two path segments. */
  private[lake] def dvKey(rel: String): String = {
    val p = new Path(rel)
    s"${p.getParent.getName}/${p.getName}"
  }

  /** Sorted row positions -> base64(delta-varint): strictly O(deleted
    * rows) bytes — ~1-3 bytes per position for clustered deletes —
    * which is the whole point of the merge-on-read commit. */
  private[lake] def encodeDvPositions(sorted: Array[Long]): String = {
    val bos = new java.io.ByteArrayOutputStream(sorted.length * 2 + 8)
    var prev = -1L
    sorted.foreach { p =>
      require(p > prev, s"dv positions must be strictly ascending " +
        s"non-negative, got $p after $prev")
      var d = p - prev // >= 1
      prev = p
      while ((d & ~0x7fL) != 0) {
        bos.write(((d & 0x7f) | 0x80).toInt); d >>>= 7
      }
      bos.write(d.toInt)
    }
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  private[lake] def decodeDvPositions(b64: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val out = Array.newBuilder[Long]
    var i = 0
    var prev = -1L
    while (i < bytes.length) {
      var d = 0L; var shift = 0
      var more = true
      while (more) {
        val b = bytes(i); i += 1
        d |= (b & 0x7fL) << shift; shift += 7
        more = (b & 0x80) != 0
      }
      prev += d
      out += prev
    }
    out.result()
  }

  /** The dv lines under any of `relDirs` (matched on the line's parent
    * directory — same derivation every per-file census uses). */
  private def dvsUnder(
      m: Manifest, relDirs: Seq[String]): Seq[(String, Long, String)] = {
    if (m.fileDvs.isEmpty) return Nil
    val dirs = relDirs.toSet
    m.fileDvs.filter { case (rel, _, _) =>
      val i = rel.lastIndexOf('/')
      i > 0 && dirs.contains(rel.substring(0, i))
    }
  }

  /** Filter the deleted positions back out of a frame read over files
    * that include dv-carrying ones. `df` must still be the raw file
    * scan (the parquet `_metadata` column resolvable — apply BEFORE
    * any projection). ONE broadcast left-anti hash join sized
    * O(deleted rows in scope), applied to the whole scan: clean files
    * stream through the codegen'd join probe; there is no per-file
    * plan fan-out, so a delete spread over 10k files costs one build
    * side, not 10k union branches. */
  private def applyDv(
      spark: SparkSession, dvs: Seq[(String, Long, String)],
      df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val base = Iterator.from(0).map {
      case 0 => "__graft_dv"
      case i => s"__graft_dv_$i"
    }.find(b => !df.columns.exists(_.startsWith(b))).get
    val kCol = s"${base}_key"; val pCol = s"${base}_pos"
    val posRows = dvs.flatMap { case (rel, _, b64) =>
      val k = dvKey(rel)
      decodeDvPositions(b64).map(p =>
        org.apache.spark.sql.Row(k, java.lang.Long.valueOf(p)))
    }
    val posDf = spark.createDataFrame(posRows.asJava, StructType(Seq(
      StructField(kCol, org.apache.spark.sql.types.StringType,
        nullable = false),
      StructField(pCol, org.apache.spark.sql.types.LongType,
        nullable = false))))
    df.withColumn(kCol,
        expr("substring_index(_metadata.file_path, '/', -2)"))
      .withColumn(pCol, col("_metadata.row_index"))
      .join(broadcast(posDf), Seq(kCol, pCol), "left_anti")
      .drop(kCol, pCol)
  }

  /** Candidate files for [[deleteRowsWhere]]'s position scan: equality
    * CONJUNCTS of the predicate prune through the per-file Bloom
    * sketches (`#b`) and min/max stats (`#f`) — the one-row GDPR
    * delete (`doc_id = k` on a declared lookup column) opens O(admitted
    * files), not O(table). Purely conservative: a pruned file provably
    * holds no matching row (sketches have no false negatives, stats
    * only skip files whose range excludes the value); anything the
    * machinery cannot parse keeps the file. */
  private def dvCandidateFiles(
      spark: SparkSession, m: Manifest, predicate: Column,
      liveFiles: Seq[(String, Long)]): Seq[(String, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Cast, EqualTo, Expression, Literal => CLit}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // a Column is a ColumnNode wrapper on Spark 4 — the catalyst shape
    // only exists after ANALYSIS, so resolve against an empty frame of
    // the recorded schema (driver-side, no job) and read the Filter
    // condition back out
    val cond: Option[Expression] = m.schema.flatMap { sc =>
      try spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          nullableCopy(sc))
        .filter(predicate).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
      catch { case scala.util.control.NonFatal(_) => None }
    }
    val eqs: Seq[(String, CLit)] = cond.toSeq.flatMap(conjuncts).flatMap {
      case EqualTo(a: AttributeReference, r) if r.foldable =>
        (try Some(CLit.create(r.eval(null), r.dataType))
         catch { case scala.util.control.NonFatal(_) => None })
          .map(a.name -> _)
      case EqualTo(r, a: AttributeReference) if r.foldable =>
        (try Some(CLit.create(r.eval(null), r.dataType))
         catch { case scala.util.control.NonFatal(_) => None })
          .map(a.name -> _)
      case _ => None
    }
    if (eqs.isEmpty) return liveFiles
    val admits: Seq[String => Boolean] = eqs.flatMap { case (c, l) =>
      sketchAdmitsLit(m, c, l)
    }
    val colMap = mappingOf(m.schema)
    val byFileCol = m.fileStats
      .map(s => (s.relPath, s.column) -> s).toMap
    val statKeeps: Seq[String => Boolean] = eqs.flatMap { case (c, l) =>
      m.schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
        .filter(_ => m.statsCols.contains(c) && l.value != null)
        .flatMap { dt =>
          val rendered =
            try Option(Cast(l, org.apache.spark.sql.types.StringType,
              Some("UTC")).eval(null)).map(_.toString)
            catch { case scala.util.control.NonFatal(_) => None }
          rendered.filterNot(nonFinite(dt, _)).map { v =>
            val phys = colMap.getOrElse(c, c)
            (rel: String) => byFileCol.get((rel, phys)) match {
              case Some(FileStat(_, _, Some(mn), Some(mx))) =>
                if (nonFinite(dt, mn) || nonFinite(dt, mx)) true
                else cmp(dt, mx, v) >= 0 && cmp(dt, mn, v) <= 0
              case Some(FileStat(_, _, None, None)) => false // all-NULL
              case _ => true // partial/absent stats: never skip
            }
          }
        }
    }
    val keeps = admits ++ statKeeps
    if (keeps.isEmpty) liveFiles
    else liveFiles.filter { case (rel, _) => keeps.forall(_(rel)) }
  }

  /** Merge-on-read row-level DELETE (round 18): mark the rows matching
    * `predicate` deleted via per-file deletion vectors — the commit
    * writes O(deleted rows) manifest bytes and NO data file, where
    * [[deleteWhere]] rewrites every touched partition copy-on-write (a
    * one-row GDPR delete in a 1 GB partition rewrote the gigabyte).
    * Every row-materializing read path applies the vectors; metadata
    * COUNTs subtract them; a rewrite of the partition (upsert,
    * [[optimize]], overwrite) folds them into real bytes and retires
    * the lines. Time travel to a pre-delete version still serves the
    * rows — the dv is versioned state like everything else.
    *
    * Cost shape: ONE column-pruned scan of the live files to find
    * matching positions (predicate pushdown applies; only the
    * predicate's columns are read), then a pure-metadata OCC commit.
    * A partition-column-only predicate delegates to [[deleteWhere]]'s
    * manifest-only whole-partition drop — strictly better than a dv.
    * SQL three-valued logic: a NULL predicate row is kept.
    *
    * Guards: refuses above `maxDeletedRows` matched positions (the
    * position set is driver-held; a delete of half the table should be
    * a copy-on-write [[deleteWhere]], which also writes the smaller
    * artifact at that selectivity). Requires the recorded schema and
    * full `#sz` census coverage (any modern commit provides both).
    * Concurrency: a racer rewriting a dv'd file's partition between
    * scan and commit invalidates the positions — detected (the file
    * vanishes from the latest census) and retried from scratch via the
    * standard conflict loop; racing dv commits on the SAME files merge
    * position sets. Returns the new version (current version when
    * nothing matched). */
  def deleteRowsWhere(
      spark: SparkSession, root: String, predicate: Column,
      maxDeletedRows: Long = 10000000L): Int = withConflictRetry {
    val base = manifestAt(spark, root, -1)
    if (base.entries.isEmpty) return versions(spark, root).last
    // partition-only predicate: the manifest-only wholesale drop is
    // pure metadata AND removes the bytes — never spend a dv on it
    if (partitionKeysMatching(spark, base, predicate).isDefined &&
        base.partitionBy.nonEmpty)
      return deleteWhere(spark, root, predicate, base.partitionBy)
    val sc = base.schema.getOrElse(throw new IllegalArgumentException(
      s"deleteRowsWhere on $root needs a recorded schema (manifest " +
        "predates schema recording) — run any mutation first"))
    val liveDirs = base.entries.map(_._2).toSet
    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val liveFiles = base.fileSizes.filter(s => liveDirs(dirOf(s._1)))
    require(liveDirs.forall(d => liveFiles.exists(s => dirOf(s._1) == d)),
      s"deleteRowsWhere on $root needs full byte-census coverage " +
        "(#sz) of the live directories; compact pre-census vintages " +
        "with optimize() first")
    val relByKey: Map[String, String] =
      liveFiles.map(s => dvKey(s._1) -> s._1).toMap
    // find matching (file, position): one column-pruned, pushdown-
    // eligible scan — over ONLY the files the predicate's equality
    // conjuncts admit through sketches/stats (the one-row GDPR delete
    // opens a handful of files at any table size). Rows already
    // dv-deleted are filtered out first so re-matching them cannot
    // inflate the collected set.
    val candidates = dvCandidateFiles(spark, base, predicate, liveFiles)
    if (candidates.isEmpty) return versions(spark, root).last
    val files = candidates.map { case (rel, len) =>
      (new Path(root, rel).toString, len) }
    val scan0 = org.apache.spark.sql.graft.ManifestScan.parquet(
      spark, nullableCopy(physicalSchema(sc)), files)
    val kBase = Iterator.from(0).map {
      case 0 => "__graft_dv"
      case i => s"__graft_dv_$i"
    }.find(b => !scan0.columns.exists(_.startsWith(b))).get
    val kCol = s"${kBase}_key"; val pCol = s"${kBase}_pos"
    val withPos = scan0
      .withColumn(kCol,
        expr("substring_index(_metadata.file_path, '/', -2)"))
      .withColumn(pCol, col("_metadata.row_index"))
    val alreadyDeleted = dvsUnder(base, liveDirs.toSeq)
    val visible =
      if (alreadyDeleted.isEmpty) withPos
      else applyDv(spark, alreadyDeleted, withPos)
    val logical = visible.select((sc.fields.map(f =>
      col(physicalName(f)).as(f.name)) ++ Seq(col(kCol), col(pCol)))
      .toSeq: _*)
    // clamp BEFORE adding one: maxDeletedRows = Long.MaxValue (the
    // natural "no guard" spelling) must not overflow into a
    // non-positive limit
    val fetch = (maxDeletedRows.min(Int.MaxValue - 1L) + 1L).toInt
    val matched = logical
      .filter(coalesce(predicate, lit(false)))
      .select(col(kCol), col(pCol))
      .limit(fetch)
      .collect()
    require(matched.length <= maxDeletedRows,
      s"deleteRowsWhere matched more than $maxDeletedRows rows under " +
        s"$root — at this selectivity a copy-on-write deleteWhere " +
        "writes the smaller artifact; use it (or raise maxDeletedRows)")
    if (matched.isEmpty) return versions(spark, root).last
    val newByRel: Map[String, Array[Long]] = matched
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        relByKey.getOrElse(k, throw new IllegalStateException(
          s"matched file $k is not in the live census of $root")) ->
          rows.map(_.getLong(1)).sorted
      }
    // positions are computed against IMMUTABLE files, so merging with
    // any later dv state of the same files stays valid; the only
    // conflict is the file's partition being rewritten under us
    var raceRetries = 0
    while (true) {
      val latestV = versions(spark, root).last
      val latest = readManifest(spark, root, latestV)
      val latestLiveDirs = latest.entries.map(_._2).toSet
      val latestLive = latest.fileSizes
        .filter(s => latestLiveDirs(dirOf(s._1))).map(_._1).toSet
      if (!newByRel.keys.forall(latestLive))
        throw new ConcurrentWriteException(
          s"concurrent commit rewrote a partition holding rows this " +
            s"delete matched under $root; re-scan required")
      val latestDvByRel = latest.fileDvs.map(d => d._1 -> d).toMap
      val changed: Seq[(String, Long, String)] = newByRel.toSeq
        .sortBy(_._1).flatMap { case (rel, pos) =>
          val prior = latestDvByRel.get(rel)
            .map(d => decodeDvPositions(d._3)).getOrElse(Array.empty[Long])
          val merged = (prior ++ pos).distinct.sorted
          if (merged.length == prior.length) None
          else Some((rel, merged.length.toLong, encodeDvPositions(merged)))
        }
      if (changed.isEmpty) return latestV
      val v = latestV + 1
      val payload = latest.copy(entries = Nil, fileStats = Nil,
        fileSizes = Nil, fileRows = Nil, fileSketch = Nil,
        fileDvs = changed)
      onBeforeCommit() // test seam, same window as commitRewrite's
      try {
        commitManifest(spark, root, v, payload, Some(latestV), Nil)
        if (v % CheckpointEvery == 0) {
          val changedRels = changed.map(_._1).toSet
          writeCheckpoint(spark, root, v, latest.copy(fileDvs =
            latest.fileDvs.filterNot(d => changedRels(d._1)) ++ changed))
        }
        return v
      } catch {
        case e: CommitRaceException =>
          raceRetries += 1
          if (raceRetries > 8) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The live deleted-row count of a version — what metadata COUNTs
    * subtract and DESCRIBE DETAIL reports. */
  def deletedRowCount(
      spark: SparkSession, root: String, version: Int = -1): Long = {
    val m = manifestAt(spark, root, version)
    dvsUnder(m, m.entries.map(_._2)).map(_._2).sum
  }

  /** Partition keys whose CONTENT differs between two versions: the
    * entry mapping differs (rewrite / drop / add) OR the SAME
    * directory's deletion-vector lines differ — a dv commit moves rows
    * without moving a directory, so an entries-only diff would report
    * "nothing changed" while the rows changed (round 18). This is THE
    * diff every incremental maintainer must use ([[graft.operators
    * .TokenizedCorpus.refresh]], [[MaterializedAgg.refresh]],
    * [[ChangeFeed]]); an entries-only comparison after a dv delete
    * leaves derived tables silently stale. */
  def changedKeysBetween(
      spark: SparkSession, root: String, v0: Int, v1: Int): Set[String] =
    changedKeysOf(readManifest(spark, root, v0),
      readManifest(spark, root, v1))

  /** [[changedKeysBetween]] over already-folded manifests — same-
    * package maintainers that hold both states avoid re-folding the
    * delta chains a second time. */
  private[lake] def changedKeysOf(m0: Manifest, m1: Manifest): Set[String] = {
    val oldMap = m0.entries.toMap
    val newMap = m1.entries.toMap
    def dvByDir(m: Manifest): Map[String, Map[String, String]] =
      m.fileDvs.groupBy(d => d._1.take(d._1.lastIndexOf('/')))
        .map { case (d, dvs) => d -> dvs.map(x => x._1 -> x._3).toMap }
    val dv0 = dvByDir(m0)
    val dv1 = dvByDir(m1)
    (oldMap.keySet ++ newMap.keySet).filter(k =>
      oldMap.get(k) != newMap.get(k) ||
        (newMap.get(k).exists(d =>
          dv0.getOrElse(d, Map.empty) != dv1.getOrElse(d, Map.empty))))
  }

  /** The census-driven keep-set — (absolute path, byte size) pairs so
    * [[readFiles]] can plan without re-listing: files of stats-covered
    * directories filter through `fileOk` with no listing and no footer
    * reads; pre-declaration directories fall back to a live listing
    * (conservative: keep everything). */
  private def censusKeep(
      spark: SparkSession, root: String, m: Manifest)(
      fileOk: String => Boolean): Seq[(String, Long)] = {
    // the BYTE census (#sz, written by every data commit) is the file
    // list — broader coverage than the stats census, so directories of
    // stats-less vintages still skip the listing; fileOk just never
    // prunes their files (absent #f/#b lines keep conservatively)
    val filesByDir = m.fileSizes
      .groupBy(e => e._1.take(e._1.lastIndexOf('/')))
    val fsys = fs(spark, root)
    m.entries.flatMap { case (_, d) =>
      filesByDir.get(d) match {
        case Some(fs0) => fs0.filter(e => fileOk(e._1)).map {
          case (rel, len) => (new Path(root, rel).toString, len)
        }
        case None =>
          fsys.listStatus(new Path(root, d)).toSeq
            .filter(st =>
              st.isFile && st.getPath.getName.endsWith(".parquet"))
            .map(st => (st.getPath.toString, st.getLen))
      }
    }
  }

  /** Resolve rel DIR paths to their census-known (absolute path, size)
    * files — zero filesystem calls when the `#sz` census covers the
    * directory; pre-census directories pay one listing each. */
  private def dirFiles(
      spark: SparkSession, root: String, m: Manifest,
      relDirs: Seq[String]): Seq[(String, Long)] = {
    val byDir = m.fileSizes.groupBy(s => s._1.take(s._1.lastIndexOf('/')))
    val fsys = fs(spark, root)
    relDirs.flatMap { d =>
      byDir.get(d) match {
        case Some(fs0) => fs0.map { case (rel, len) =>
          (new Path(root, rel).toString, len)
        }
        case None =>
          fsys.listStatus(new Path(root, d)).toSeq
            .filter(st =>
              st.isFile && st.getPath.getName.endsWith(".parquet"))
            .map(st => (st.getPath.toString, st.getLen))
      }
    }
  }

  /** The dv-DIRTY half of [[DvApply]]'s pruning-preserving split
    * (round 19): read ONLY the given manifest-relative directories of
    * `version`, deletion vectors applied — the directories that carry
    * live `#dv` lines, which the SQL plane serves through this
    * anti-joined read while every dv-FREE directory keeps the full
    * DSv2 pruned path. */
  private[lake] def readDvDirs(
      spark: SparkSession, root: String, version: Int,
      relDirs: Seq[String]): DataFrame = {
    val m = manifestAt(spark, root, version)
    readDirs(spark, root, m, relDirs)
  }

  /** Read a version's directories under the manifest contract: the
    * recorded schema pinned and — new in round 16 — the file list
    * served from the manifest's byte census through
    * [[org.apache.spark.sql.graft.ManifestScan]], so PLANNING performs
    * zero filesystem LIST calls (the t47 profile measured ~2 ms per
    * file of eager driver-side listing in `spark.read.parquet`; on
    * object stores each is a billable round-trip). */
  private def readDirs(
      spark: SparkSession, root: String, m: Manifest,
      relDirs: Seq[String]): DataFrame = {
    val dvs = dvsUnder(m, relDirs)
    m.schema match {
      case Some(sc) =>
        val files = dirFiles(spark, root, m, relDirs)
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
        else {
          // read under PHYSICAL names (what the files carry), then
          // re-label to the logical schema — the whole cost of column
          // mapping on the read path is this zero-copy projection.
          // Deletion vectors apply on the RAW scan (the `_metadata`
          // identity is only resolvable there), before the re-label.
          val df0 = org.apache.spark.sql.graft.ManifestScan.parquet(
            spark, nullableCopy(physicalSchema(sc)), files)
          val df = if (dvs.isEmpty) df0 else applyDv(spark, dvs, df0)
          if (mappingOf(Some(sc)).isEmpty) df
          else df.select(sc.fields.map(f =>
            col(physicalName(f)).as(f.name)).toSeq: _*)
        }
      case None =>
        val df0 = spark.read.option("mergeSchema", "true").parquet(
          relDirs.map(d => new Path(root, d).toString): _*)
        if (dvs.isEmpty) df0 else applyDv(spark, dvs, df0)
    }
  }

  // ---- column mapping (round 16: RENAME / DROP COLUMN) ---------------
  //
  // A column's PHYSICAL name — what its bytes are labeled in every
  // data file — is assigned at birth and never changes; RENAME COLUMN
  // only re-labels the LOGICAL name in the recorded schema, carrying
  // the physical name in the field's metadata (the same indirection as
  // Delta's columnMapping physicalName). Old directories keep serving
  // untouched, time travel returns the old names (each version's
  // manifest carries its own schema+mapping), and new files are
  // written under physical names so one table never mixes labels.

  /** StructField metadata key holding a column's physical name (absent
    * = physical == logical, the unmapped common case). */
  private[lake] val PhysKey = "graft.physical"

  private[lake] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else f.name

  /** logical -> physical for the fields where they DIFFER (empty on an
    * unmapped table — every fast path keys off this emptiness). */
  private[lake] def mappingOf(schema: Option[StructType]): Map[String, String] =
    schema.map(_.fields.iterator
      .filter(_.metadata.contains(PhysKey))
      .map(f => f.name -> f.metadata.getString(PhysKey)).toMap)
      .getOrElse(Map.empty)

  /** The schema with physical names substituted — what data files are
    * actually read/written under. */
  private[lake] def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physicalName(f))))

  /** Field-by-name union: the old schema's order with the new vintage's
    * types for common fields, new-only fields appended — what parquet's
    * footer merge would produce over mixed-vintage files, computed from
    * metadata instead. Column-mapping metadata survives: a data
    * commit's frame is logical-named and carries none, so the OLD
    * field's physical-name indirection must not vanish under it.
    *
    * PHYSICAL-NAME COLLISION GUARD (round-16 advice item 2): a data
    * commit racing a RENAME COLUMN physicalizes its rows under the
    * STALE mapping, so its frame can carry the old logical name —
    * which, appended here as a "new" field, would alias the renamed
    * column's physical bytes (two logical columns served by the same
    * storage). An appended field whose physical name equals an
    * EXISTING field's physical name is therefore rejected as a
    * concurrent-write conflict: the outer [[withConflictRetry]]
    * re-merges against the fresh manifest (fresh mapping), and a
    * non-racing caller trying to re-add a renamed-away name fails
    * loudly after [[MaxMergeRetries]] instead of silently aliasing. */
  private def unionSchema(old: StructType, nw: StructType): StructType = {
    val newByName = nw.fields.map(f => f.name -> f).toMap
    val appended = nw.fields.filterNot(f => old.fieldNames.contains(f.name))
    val oldPhys = old.fields.iterator
      .map(f => physicalName(f) -> f.name).toMap
    appended.foreach { nf =>
      oldPhys.get(physicalName(nf)).foreach { owner =>
        throw new ConcurrentWriteException(
          s"new column '${nf.name}' would alias the physical storage " +
            s"of existing column '$owner' (physical name " +
            s"'${physicalName(nf)}') — stale column-mapping merge " +
            "(concurrent RENAME COLUMN?); re-merge required")
      }
    }
    StructType(
      old.fields.map { f =>
        newByName.get(f.name) match {
          case Some(nf0) =>
            // recorded nullability is the table's CONTRACT, never an
            // observation: a data commit can neither drop a NOT NULL
            // (frames are usually nullable-typed) nor ADD one (a frame
            // of literals is non-nullable-typed, and adopting that
            // would silently tighten the contract against every later
            // batch) — the OLD field's flag always wins
            val nf = nf0.copy(nullable = f.nullable)
            if (f.metadata.contains(PhysKey) &&
                !nf.metadata.contains(PhysKey))
              nf.copy(metadata = new org.apache.spark.sql.types
                .MetadataBuilder().withMetadata(nf.metadata)
                .putString(PhysKey, f.metadata.getString(PhysKey)).build())
            else nf
          case None => f
        }
        // appended (schema-evolution) columns are ALWAYS nullable:
        // rows in pre-evolution directories cannot supply a value —
        // same rule ADD COLUMN enforces explicitly
      } ++ appended.map(f =>
        if (f.nullable) f else f.copy(nullable = true)))
  }

  /** Wrap a mutation frame so the staging write itself refuses
    * constraint-violating rows: each NOT NULL column is replaced by
    * `when(isnull, raise_error).otherwise(itself)` and each CHECK is
    * chained onto the first column the same way (every written column
    * is evaluated per row, so the guard cannot be pruned). The raise
    * fires inside the write tasks — cost is fused into the write, no
    * extra pass — and SQL CHECK semantics hold: a condition evaluating
    * to NULL passes (only `= FALSE` violates). Unconstrained tables
    * return the frame untouched. */
  private def enforceConstraints(
      root: String, rows: DataFrame, m: Option[Manifest]): DataFrame =
    m.fold(rows) { man =>
      val notNull = man.notNullCols
      if (notNull.isEmpty && man.checks.isEmpty) rows
      else {
        // resolve the declared name against the frame's actual column
        // case-insensitively, like every other column path in this
        // file — Spark itself would resolve `Id` for a declared `id`,
        // so the guard must wrap the resolved name, not refuse it
        val resolved = notNull.map { c =>
          c -> rows.columns.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"NOT NULL column '$c' is missing from the mutation batch " +
                s"for $root — it would land as all-NULL; batch refused"))
        }
        var out = rows
        resolved.foreach { case (c, actual) =>
          out = out.withColumn(actual,
            when(col(actual).isNull, raise_error(lit(
              s"NOT NULL constraint violated: column '$c' is NULL in a " +
                s"row written to $root — batch refused, nothing " +
                "committed")))
              .otherwise(col(actual)))
        }
        val anchor = rows.columns.head
        man.checks.foreach { case (nm, sql) =>
          val cond = expr(sql)
          out = out.withColumn(anchor,
            when(not(cond) <=> lit(true), raise_error(lit(
              s"CHECK constraint '$nm' ($sql) violated by a row written " +
                s"to $root — batch refused, nothing committed")))
              .otherwise(col(anchor)))
        }
        out
      }
    }

  /** Read known (absolute path, byte size) parquet files under the
    * manifest's RECORDED schema: zero plan-time footer reads
    * (mergeSchema opens every file's footer on the driver — O(files)
    * metadata I/O per query at 100 TB) AND zero plan-time LIST calls
    * (round 16 — the file list and sizes come from the manifest
    * census, [[org.apache.spark.sql.graft.ManifestScan]]). The
    * recorded schema IS the union schema of that version's vintages
    * (commit-time merge), so files from before a schema evolution read
    * with NULLs for the added columns, same result as the footer
    * merge. Pre-schema-line manifests (legacy) fall back. Caveat for
    * tables written by pre-union writers (before round 12): their
    * partial commits recorded the REWRITE's schema, which can be
    * narrower than the live vintages' union — re-commit (any upsert)
    * or rewrite such tables before relying on pinned reads of those
    * historical versions. */
  /** The schema with every field (recursively) nullable — what reads
    * request from parquet (see the read-side note at [[readFiles]]);
    * `StructType.asNullable` is private[sql]. */
  private def nullableCopy(st: StructType): StructType = {
    import org.apache.spark.sql.types._
    def loose(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f =>
          f.copy(dataType = loose(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = loose(a.elementType),
        containsNull = true)
      case m: MapType => m.copy(valueType = loose(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    loose(st).asInstanceOf[StructType]
  }

  private def readFiles(
      spark: SparkSession, m: Manifest,
      files: Seq[(String, Long)]): DataFrame = {
    // dv lines for the KEPT files only (stats pruning may have skipped
    // dv-carrying siblings): match on the collision-free file identity
    val dvs =
      if (m.fileDvs.isEmpty) Nil
      else {
        val keptKeys = files.map(f => dvKey(f._1)).toSet
        m.fileDvs.filter(d => keptKeys(dvKey(d._1)))
      }
    m.schema match {
      case Some(sc) =>
        // read as NULLABLE regardless of the recorded flags: the
        // recorded non-nullability is a write-side CONTRACT (enforced
        // on every commit), but the scan must never let codegen elide
        // null checks on bytes it did not write (round 17)
        val df0 = org.apache.spark.sql.graft.ManifestScan.parquet(
          spark, nullableCopy(physicalSchema(sc)), files)
        val df = if (dvs.isEmpty) df0 else applyDv(spark, dvs, df0)
        if (mappingOf(Some(sc)).isEmpty) df
        else df.select(sc.fields.map(f =>
          col(physicalName(f)).as(f.name)).toSeq: _*)
      case None =>
        val df0 = spark.read.option("mergeSchema", "true").parquet(
          files.map(_._1): _*)
        if (dvs.isEmpty) df0 else applyDv(spark, dvs, df0)
    }
  }

  /** Type-aware order over the cast-to-string stat renderings.
    * Numerics parse back (BigDecimal handles both "42" and "1.0E10");
    * dates, timestamps, and strings compare lexicographically — the
    * uniform Spark cast rendering is order-preserving for all three
    * ('.' sorts below digits, so trimmed fractional seconds still
    * order correctly). */
  /** Stat renderings whose STRING form has no usable order — a file
    * carrying one in its min/max must never be skipped on it, and a
    * metadata-answered aggregate must fall back to the scan:
    *  - float/double NaN/Infinity (BigDecimal cannot parse them, and
    *    NaN in a bound means Spark's NaN-is-greatest order was in play);
    *  - NEGATIVE-YEAR date/timestamp renderings ("-0044-03-15"): the
    *    ISO string order inverts among negative years ("-0044" sorts
    *    below "-0100" lexicographically but is the LATER instant), so
    *    the uniform lexicographic compare below would mis-order them
    *    (round-15 advice item 1);
    *  - YEAR > 9999 renderings ("+10000-01-01"): Spark's EXCEEDS_PAD
    *    year formatter prefixes a '+', which sorts below every digit,
    *    so a max past year 9999 would compare BELOW any four-digit
    *    lower bound — the same defect class on the other side of the
    *    range (round-16 advice item 1). */
  private[lake] def nonFinite(dt: DataType, s: String): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case FloatType | DoubleType =>
        s == "NaN" || s == "Infinity" || s == "-Infinity"
      case DateType | TimestampType | TimestampNTZType =>
        s.startsWith("-") || s.startsWith("+")
      case _ => false
    }
  }

  /** Type-aware order over the cast-to-string stat renderings.
    * Numerics parse back; everything else compares in UTF-8 BYTE order
    * via [[org.apache.spark.unsafe.types.UTF8String]] — the order
    * Spark's own MIN/MAX and `<`/`>` use for strings. Java's
    * `String.compareTo` (UTF-16 code units) would disagree for strings
    * mixing supplementary-plane chars (emoji) with U+E000–U+FFFF chars
    * like U+FFFD — common in scraped corpora — making a manifest-
    * answered MIN/MAX differ from the data scan's (round-15 advice
    * item 1). Dates/timestamps render ASCII-only, where the two orders
    * coincide (negative years are excluded via [[nonFinite]]). */
  private[lake] def cmp(dt: DataType, a: String, b: String): Int = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | _: DecimalType =>
        BigDecimal(a).compare(BigDecimal(b))
      case _ => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    }
  }

  /** Caller bound -> the same rendering the stats were recorded in. */
  private def renderBound(v: Any): String = v match {
    case t: java.sql.Timestamp =>
      // Timestamp.toString keeps a trailing ".0" that Spark's cast
      // rendering trims — normalize so lexicographic compare holds
      val s = t.toString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".")
      else s
    case other => String.valueOf(other)
  }

  /** Manifest-pruned read of partition tuples named by their ESCAPED
    * composite keys — the shape incremental maintainers already hold
    * (manifest-diff output), so they can read changed partitions
    * through the schema-pinned, column-mapping-aware, census-planned
    * path instead of raw footer reads. */
  def readPartitionKeys(
      spark: SparkSession, root: String, keys: Set[String],
      version: Int = -1): DataFrame =
    selectDirs(spark, root, version, keys.contains)

  private[lake] def selectDirs(
      spark: SparkSession, root: String, version: Int,
      want: String => Boolean): DataFrame = {
    val m = manifestAt(spark, root, version)
    val dirs = m.entries.collect { case (k, d) if want(k) => d }
    if (dirs.isEmpty)
      // empty frame with the table's schema (read one dir for schema)
      read(spark, root, version).limit(0)
    else readDirs(spark, root, m, dirs)
  }

  private def escapeKey(rendered: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    if (rendered == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else ExternalCatalogUtils.escapePathName(rendered)
  }

  private[lake] def unescapeKey(segment: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    if (segment == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else ExternalCatalogUtils.unescapePathName(segment)
  }

  /** When `predicate` references ONLY partition columns, the manifest's
    * keys already carry every value needed to name the touched
    * partitions — evaluate the predicate over one tiny driver-built
    * frame of partition tuples (unescaped key segments cast to the
    * recorded types) and return the matching escaped keys. None when
    * the predicate needs data columns, carries a subquery, uses
    * qualified names, or a value does not round-trip through its
    * recorded type — callers fall back to the data scan. The point is
    * metadata I/O at scale: a partition-column DELETE / partition-spec
    * INSERT OVERWRITE must discover its touched directories from the
    * manifest alone (O(partitions) driver work), not by opening every
    * file's footer of a 100 TB table. NULL-predicate tuples do not
    * match (SQL three-valued logic, same as the data-scan path);
    * `col IS NULL` matches the null partition. */
  private def partitionKeysMatching(
      spark: SparkSession, base: Manifest,
      predicate: Column): Option[Set[String]] =
    matchingKeys(spark, base.entries, base.partitionBy, base.schema,
      predicate)

  /** The reusable core of [[partitionKeysMatching]] — also the dir
    * pruner behind [[LakeCatalog]]'s SQL scans (partition filters
    * prune manifest directories before the parquet source ever lists
    * a file). */
  private[lake] def matchingKeys(
      spark: SparkSession, entries: Seq[(String, String)],
      partitionBy: Seq[String], schema: Option[StructType],
      predicate: Column): Option[Set[String]] = {
    val pby = partitionBy
    val keyCol = "__graft_key"
    val rawPfx = "__graft_raw_"
    if (pby.isEmpty || pby.exists(c => c == keyCol || c.startsWith(rawPfx)))
      return None
    val types: Map[String, DataType] = schema
      .map(s => s.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    val keys = entries.map(_._1).distinct
    if (keys.exists(_.split("/", -1).length != pby.length))
      return None // malformed key: be safe, use the data scan
    val rows = keys.map { k =>
      org.apache.spark.sql.Row.fromSeq(
        k +: k.split("/", -1).map(unescapeKey).toSeq)
    }
    val rawSchema = StructType(
      org.apache.spark.sql.types.StructField(keyCol,
        org.apache.spark.sql.types.StringType, nullable = false) +:
      pby.map(c => org.apache.spark.sql.types.StructField(
        s"$rawPfx$c", org.apache.spark.sql.types.StringType)))
    // a LOCAL relation, deliberately (round-14 advice item 1): the
    // optimizer's ConvertToLocalRelation folds deterministic
    // Project/Filter over LocalRelation at OPTIMIZATION time, driver-
    // side — so evaluating the predicate over the partition tuples
    // launches NO Spark job. matchingKeys sits inside
    // LakePruningScanBuilder.pushFilters, i.e. inside query PLANNING
    // of every filtered SQL read of a partitioned lake table; two
    // scheduler round-trips per planning were pure overhead.
    val raw = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, rawSchema)
    val typedCols =
      Seq(col(keyCol)) ++
        pby.map(c => col(s"$rawPfx$c").cast(types.getOrElse(c,
          org.apache.spark.sql.types.StringType)).as(c)) ++
        pby.map(c => col(s"$rawPfx$c"))
    val typed = raw.select(typedCols: _*)
    // rows of an already-optimized-to-local plan, no job; None when the
    // optimizer could not fold (defensive — callers then run the tiny
    // local-scan job the old path always ran)
    def localRows(df: DataFrame)
        : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
      df.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          Some(l.data)
        case _ => None
      }
    // a rendered value that does not survive the cast would silently
    // drop its partition from the match — fall back to the data scan
    val lossy = pby.map(c => col(c).isNull && col(s"$rawPfx$c").isNotNull)
      .reduce(_ || _)
    val lossyProbe = typed.filter(lossy).select(keyCol).limit(1)
    val anyLossy = localRows(lossyProbe).map(_.nonEmpty)
      .getOrElse(lossyProbe.count() > 0)
    if (anyLossy) return None
    // whether the predicate is partition-column-only is decided by
    // ANALYSIS, not tree inspection (the Column API hands us a lazy
    // ColumnNode wrapper): resolving it against a frame that has ONLY
    // the partition columns fails exactly when a data column is
    // referenced — that failure IS the fallback signal
    try {
      val filtered = typed.filter(predicate)
      val analyzed = filtered.queryExecution.analyzed
      // a non-deterministic predicate (rand() < x) matches per ROW in
      // the data-scan path but per PARTITION here — different
      // semantics, so it must take the scan path
      if (analyzed.exists(_.expressions.exists(e => !e.deterministic)))
        None
      else {
        val sel = filtered.select(keyCol)
        Some(localRows(sel)
          .map(_.map(_.getUTF8String(0).toString))
          .getOrElse(sel.collect().toSeq.map(_.getString(0)))
          .toSet)
      }
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** Distinct composite keys of `df`'s partition tuples — each column
    * rendered by Spark's own cast-to-string, escaped, "/"-joined: the
    * exact strings [[commitRewrite]] reads off the staged directory
    * names, so key matching is byte-exact for every type Spark can
    * partition by. Driver-side size is the batch's partition spread. */
  /** Batch-contract validation AND the touched-partition probe in ONE
    * aggregate pass (round-19: they were two separate actions — two
    * full executions of the change batch's plan per commit before the
    * batch cache landed, two cached scans after; an incremental-MV
    * refresh pays this per commit × two commits). `collect_set` over
    * the cast-to-string partition tuple reproduces
    * [[touchedCompositeKeys]]'s rendering exactly (struct fields keep
    * per-column NULLs; the set is touched-partition-sized, the same
    * driver cardinality the old probe collected). Validation messages
    * are byte-identical to [[Lake.validateUpdateBatch]] plus the
    * non-NULL-op contract. */
  private def validateAndProbe(
      changes: DataFrame, key: String, opCol: Option[String],
      partitionBy: Seq[String]): Set[String] = {
    val aggs = (Seq(count(lit(1)), count(col(key)),
      countDistinct(col(key))) ++
      opCol.map(c => count(col(c))).toSeq) :+
      collect_set(struct(
        partitionBy.map(c => col(c).cast("string")): _*))
    val r = changes.agg(aggs.head, aggs.tail: _*).collect()(0)
    val (nRows, nNonNullKeys, nKeys) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    require(nRows == nNonNullKeys,
      s"upsert batch carries ${nRows - nNonNullKeys} NULL-key rows; " +
        "a null key cannot be matched for replacement")
    require(nNonNullKeys == nKeys,
      s"upsert batch carries ${nNonNullKeys - nKeys} duplicate-key " +
        "rows; reduce to one change per key first")
    opCol.foreach { c =>
      val nOps = r.getLong(3)
      require(nRows == nOps,
        s"change batch carries ${nRows - nOps} NULL '$c' rows; every " +
          "change must declare its operation ('d' = delete, else upsert)")
    }
    r.getSeq[org.apache.spark.sql.Row](if (opCol.isDefined) 4 else 3)
      .map(row => partitionBy.indices
        .map(i => escapeKey(if (row.isNullAt(i)) null else row.getString(i)))
        .mkString("/"))
      .toSet
  }

  private def touchedCompositeKeys(
      df: DataFrame, partitionBy: Seq[String]): Set[String] =
    df.select(partitionBy.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partitionBy.indices
        .map(i => escapeKey(if (r.isNullAt(i)) null else r.getString(i)))
        .mkString("/"))
      .toSet

  /** Column set the table currently carries — the manifest's RECORDED
    * union schema first (commitRewrite maintains it across evolutions;
    * a single directory footer is NOT authoritative after a
    * mergeSchema evolution, because an untouched pre-evolution
    * directory lacks the evolved column and projecting an insert batch
    * to its columns would silently drop the new column's values).
    * Footer fallback exists only for pre-recording manifests. */
  private def tableColumns(
      spark: SparkSession, root: String,
      entries: Seq[(String, String)],
      schema: Option[StructType]): Seq[String] = schema match {
    case Some(s) => s.fieldNames.toSeq
    case None if entries.nonEmpty =>
      spark.read.option("mergeSchema", "true").parquet(
          entries.map(e => new Path(root, e._2).toString): _*)
        .columns.toSeq
    case None => throw new IllegalStateException(
      "table has an empty manifest and no recorded schema")
  }

  /** Live rows of selected directories for a MUTATION's merge —
    * [[readDirs]] under the manifest contract: schema-recorded tables
    * (mapped or not) read through the pinned-schema ManifestScan with
    * deletion vectors applied and logical re-labeling, which skips the
    * per-mutation footer-merge job AND the directory listing the old
    * `mergeSchema` read paid (round 19; the recorded schema IS the
    * union schema commitRewrite maintains across evolutions, so the
    * vintage-union rows are identical); only legacy pre-recording
    * manifests (no schema line) still take readDirs' mergeSchema
    * fallback, whose footer-union behavior is load-bearing there. */
  private def readLiveDirs(
      spark: SparkSession, root: String, m: Manifest,
      relDirs: Seq[String]): DataFrame =
    readDirs(spark, root, m, relDirs)

  /** Retry a whole read-merge-stage-commit attempt when a CONCURRENT
    * commit invalidated its merge (overlapping touched partitions):
    * re-running `op` recomputes against the new latest version, so the
    * final state equals sequential application. Bounded — a hot table
    * being mutated faster than this writer can merge eventually
    * surfaces the conflict to the caller instead of livelocking. */
  private def withConflictRetry[T](op: => T): T = {
    var left = MaxMergeRetries
    while (true) {
      try return op
      catch {
        case e: ConcurrentWriteException =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Initial (or full-replace) commit: new version = exactly `df`,
    * one immutable directory per partition tuple. Replace semantics
    * make it conflict-free by definition: on a commit race it simply
    * retries onto the next version number (last-replace-wins).
    *
    * `statsFor` declares DATA-SKIPPING columns (round-10 verdict item
    * 2): every commit from then on records per-file min/max for them
    * in the manifest, and [[readBetween]] prunes FILES from the
    * manifest alone — a selective predicate inside a partition no
    * longer opens every footer. `clusterBy` range-clusters rows across
    * the `filesPerPartition` files of each partition (instead of the
    * default hash salt), so the per-file ranges are NARROW and the
    * stats actually skip — the manifest-served analog of the Z-order
    * locality [[Lake.writeZOrdered]] builds. Both declarations persist
    * in the manifest; upsert/applyChanges/deleteWhere maintain the
    * stats automatically for every directory they rewrite. */
  def write(
      spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String], filesPerPartition: Int = 1,
      statsFor: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      lookupFor: Seq[String] = Nil): Int =
    commitRewrite(spark, root, df, partitionBy, baseManifest = None,
      touchedKeys = Set.empty, replaceAll = true,
      filesPerPartition, crashBeforeCommit = false,
      declaredStats = statsFor, declaredCluster = clusterBy,
      declaredLookup = lookupFor)

  /** The table's recorded partition column NAMES (manifest
    * `#partitionby`, written by every commit since the recording was
    * added) — the piece of layout a by-name mutation (SQL INSERT /
    * DELETE through [[LakeCatalog]]) needs and the directory keys
    * alone cannot supply (they carry values, not names). Empty on a
    * table whose last commit predates the recording: any mutation
    * through the API (which restates the layout) records it. */
  def partitionColumns(
      spark: SparkSession, root: String, version: Int = -1): Seq[String] =
    manifestAt(spark, root, version).partitionBy

  /** The table's declared per-file-stats / range-cluster columns —
    * what a full-replace through the SQL plane must restate so an
    * `INSERT OVERWRITE` does not silently drop the skip-read
    * declarations every later mutation inherits. */
  def declaredColumns(
      spark: SparkSession, root: String,
      version: Int = -1): (Seq[String], Seq[String]) = {
    val m = manifestAt(spark, root, version)
    (m.statsCols, m.clusterBy)
  }

  /** The table's declared point-lookup columns (manifest
    * `#lookupcols`) — what a full-replace through the SQL plane must
    * restate alongside [[declaredColumns]]. */
  def lookupColumns(
      spark: SparkSession, root: String, version: Int = -1): Seq[String] =
    manifestAt(spark, root, version).lookupCols

  /** The recorded schema at `version` (latest when < 0) — logical
    * names, NOT NULL flags, column-mapping metadata. None on a table
    * whose last commit predates the #schema line. */
  def schemaOf(
      spark: SparkSession, root: String,
      version: Int = -1): Option[StructType] =
    manifestAt(spark, root, version).schema

  /** One `DESCRIBE DETAIL` row — version, contract, and file/byte/row
    * census, all from the manifest fold (zero data-file I/O). The
    * byte/row sums are NULL unless EVERY live file carries its census
    * line (pre-recording vintages must read as unknown, not as zero). */
  private[lake] def detailRow(
      spark: SparkSession, root: String, name: String,
      pin: Option[Int]): org.apache.spark.sql.Row = {
    val v = pin.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot-table version committed under $root"))
    val m = readManifest(spark, root, v)
    val files = m.fileSizes.map(_._1).toSet
    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val liveDirs = m.entries.map(_._2).toSet
    val liveSizes = m.fileSizes.filter(s => liveDirs(dirOf(s._1)))
    val liveRows = m.fileRows.filter(s => liveDirs(dirOf(s._1)))
    // census coverage: every live file is named by #sz (the manifest IS
    // the file list), so size is always summable; rows only when #n
    // covers the same set
    val sizeBytes: Any = java.lang.Long.valueOf(liveSizes.map(_._2).sum)
    // live rows = physical footer counts minus dv-deleted positions
    val liveDvs = m.fileDvs.filter(d => liveDirs(dirOf(d._1)))
    val numRows: Any =
      if (liveRows.map(_._1).toSet == liveSizes.map(_._1).toSet)
        java.lang.Long.valueOf(
          liveRows.map(_._2).sum - liveDvs.map(_._2).sum)
      else null
    val notNull = m.notNullCols
    val mtime = fs(spark, root)
      .getFileStatus(manifestPath(root, v)).getModificationTime
    org.apache.spark.sql.Row(
      name, root, v, pin.orNull, versions(spark, root).size,
      new java.sql.Timestamp(mtime),
      m.partitionBy.mkString(","),
      m.rowKey.headOption.orNull,
      m.statsCols.mkString(","),
      m.clusterBy.mkString(","),
      m.lookupCols.mkString(","),
      notNull.mkString(","),
      m.checks.map { case (n2, e) => s"$n2: $e" }.mkString("; "),
      m.entries.size, liveSizes.size, sizeBytes, numRows)
  }

  /** The table's CHECK constraints `(name, boolean SQL)` (manifest
    * `#check` lines) — declared at CREATE, enforced by every data
    * commit on the staging write. */
  def checkConstraints(
      spark: SparkSession, root: String,
      version: Int = -1): Seq[(String, String)] =
    manifestAt(spark, root, version).checks

  /** The table's declared NOT NULL columns (manifest `#notnull`) —
    * minted by [[create]], enforced by every data commit. */
  def notNullColumns(
      spark: SparkSession, root: String, version: Int = -1): Seq[String] =
    manifestAt(spark, root, version).notNullCols

  // ---- constraint adoption on existing tables (round 18, verdict
  // item 3) — the Delta semantics: validate EXISTING data with ONE
  // scan at declaration (refuse with the violating count if dirty),
  // then a metadata-only commit; DROP is pure metadata. Constraints
  // are versioned manifest state, so time travel to pre-adoption
  // versions is untouched, and every later data commit enforces the
  // adopted contract inside its staging write like a CREATE-declared
  // one. Concurrency: the validation scan and the metadata commit are
  // not one atomic unit — a batch racing the adoption was admitted
  // under the OLD contract (the posture Delta shares); the next
  // violating batch refuses.

  /** Adopt a CHECK constraint on an existing table. One full scan
    * counts rows where the condition `IS FALSE` (SQL three-valued
    * semantics — NULL passes, matching the write-side enforcement);
    * any violation refuses with the count and commits NOTHING. */
  def addCheckConstraint(
      spark: SparkSession, root: String, name: String,
      conditionSql: String): Int = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' must be an identifier")
    val parsed = spark.sessionState.sqlParser.parseExpression(conditionSql)
    val cols = tableColumns(spark, root,
      manifestAt(spark, root, -1).entries,
      manifestAt(spark, root, -1).schema)
    parsed.references.foreach(a => require(
      cols.exists(_.equalsIgnoreCase(a.name)),
      s"CHECK constraint '$name' references unknown column '${a.name}' " +
        s"of $root (columns: ${cols.mkString(", ")})"))
    val violating = read(spark, root)
      .filter(not(expr(conditionSql)) <=> lit(true)).count()
    require(violating == 0L,
      s"cannot adopt CHECK constraint '$name' ($conditionSql) on " +
        s"$root: $violating existing row(s) violate it — nothing " +
        "committed; clean the data first")
    commitMetadata(spark, root) { m =>
      require(!m.checks.exists(_._1.equalsIgnoreCase(name)),
        s"table $root already has a constraint named '$name'")
      m.copy(checks = m.checks :+ (name, conditionSql))
    }
  }

  /** Drop a CHECK constraint — pure metadata, loud on unknown names. */
  def dropCheckConstraint(
      spark: SparkSession, root: String, name: String): Int =
    commitMetadata(spark, root) { m =>
      require(m.checks.exists(_._1.equalsIgnoreCase(name)),
        s"table $root has no constraint named '$name' " +
          s"(constraints: ${m.checks.map(_._1).mkString(", ") match {
            case "" => "none"; case s => s }})")
      m.copy(checks = m.checks.filterNot(_._1.equalsIgnoreCase(name)))
    }

  /** Adopt NOT NULL on an existing column: one scan counts NULLs,
    * any hit refuses with the count and commits nothing. */
  def setNotNull(
      spark: SparkSession, root: String, column: String): Int = {
    val m0 = manifestAt(spark, root, -1)
    val cols = tableColumns(spark, root, m0.entries, m0.schema)
    val actual = cols.find(_.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(
        s"cannot adopt NOT NULL: table $root has no column '$column' " +
          s"(columns: ${cols.mkString(", ")})"))
    val nulls = read(spark, root).filter(col(actual).isNull).count()
    require(nulls == 0L,
      s"cannot adopt NOT NULL on $root.$actual: $nulls existing " +
        "NULL row(s) — nothing committed; clean the data first")
    commitMetadata(spark, root) { m =>
      if (m.notNullCols.exists(_.equalsIgnoreCase(actual))) m
      else m.copy(notNullCols = m.notNullCols :+ actual)
    }
  }

  /** Drop a NOT NULL declaration — pure metadata, loud when absent. */
  def dropNotNull(
      spark: SparkSession, root: String, column: String): Int =
    commitMetadata(spark, root) { m =>
      require(m.notNullCols.exists(_.equalsIgnoreCase(column)),
        s"table $root has no NOT NULL declaration on '$column' " +
          s"(declared: ${m.notNullCols.mkString(", ") match {
            case "" => "none"; case s => s }})")
      m.copy(notNullCols =
        m.notNullCols.filterNot(_.equalsIgnoreCase(column)))
    }

  /** The table's recorded ROW KEY column (manifest `#rowkey`) — written
    * by every keyed mutation ([[upsert]]/[[applyChanges]]) and by
    * [[declareKey]]; what lets the SQL mutation plane (`MERGE INTO`
    * through [[graft.lake.LakeDml]]) identify rows by table NAME
    * without the statement restating the identity column. Empty on a
    * table that has only ever seen key-less mutations. */
  def rowKey(
      spark: SparkSession, root: String, version: Int = -1): Option[String] =
    manifestAt(spark, root, version).rowKey.headOption

  /** Declare (or re-declare) the table's row key as a METADATA-ONLY
    * commit — no data file is opened or written; the new version's
    * manifest is a delta carrying no entries, so the commit is O(1)
    * whatever the table size. The column must exist in the recorded
    * schema. Key UNIQUENESS stays the caller's contract, exactly as it
    * is for [[upsert]] (validated per mutation batch, never by a table
    * scan — a declaration on a 100 TB table must not cost a read). */
  def declareKey(spark: SparkSession, root: String, key: String): Int =
    commitMetadata(spark, root) { m =>
      val cols = tableColumns(spark, root, m.entries, m.schema)
      require(cols.contains(key),
        s"cannot declare row key '$key': table $root has no such " +
          s"column (columns: ${cols.mkString(", ")})")
      m.copy(rowKey = Seq(key))
    }

  /** CREATE TABLE: commit v1 as an EMPTY table that fully declares its
    * contract — recorded schema, partition layout, optional stats /
    * cluster / row-key declarations — so the SQL front door
    * ([[LakeCatalog.createTable]], round-15 verdict item 1) can mint a
    * governed table BEFORE any data exists. Pure metadata: one manifest
    * write, no data file, no directory listing — the same v1 the first
    * data commit would have recorded, minus the data. The first
    * INSERT / upsert / CTAS append inherits every declaration exactly
    * as it would after a data bootstrap (append/deleteWhere read the
    * layout from `#partitionby`, MERGE reads `#rowkey`, stats recording
    * starts with the first file written).
    *
    * Refusals: a root that already holds ANY committed version is not
    * re-creatable — adopting existing storage under a fresh declaration
    * set would silently re-contract a table someone else owns; bind it
    * instead ([[LakeCatalog.register]]). Every declared column must
    * exist in the schema. Two racing CREATEs of one root surface as a
    * loud commit-race failure (create-exclusive publish), never a
    * silent overwrite. */
  def create(
      spark: SparkSession, root: String, schema: StructType,
      partitionBy: Seq[String], statsFor: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, rowKey: Option[String] = None,
      lookupFor: Seq[String] = Nil,
      checks: Seq[(String, String)] = Nil): Int = {
    require(schema.fields.nonEmpty, "CREATE TABLE: schema has no columns")
    require(partitionBy.nonEmpty,
      "CREATE TABLE: a snapshot table is partitioned — declare at " +
        "least one partition column")
    val names = schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    def known(role: String, cols: Seq[String]): Unit = cols.foreach(c =>
      require(names(c.toLowerCase(java.util.Locale.ROOT)),
        s"CREATE TABLE: $role column '$c' is not in the schema " +
          s"(columns: ${schema.fieldNames.mkString(", ")})"))
    known("partition", partitionBy)
    known("stats", statsFor)
    known("cluster", clusterBy)
    known("row key", rowKey.toSeq)
    known("lookup", lookupFor)
    // CHECK constraints validate at declaration, not first violation:
    // the expr must parse, be boolean-compatible, and reference only
    // schema columns — a typo'd CHECK refused here cannot silently
    // admit every row forever
    checks.foreach { case (nm, sql) =>
      require(nm.matches("[A-Za-z0-9_]+"),
        s"CREATE TABLE: CHECK constraint name '$nm' — use [A-Za-z0-9_]+")
      require(!sql.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'),
        s"CREATE TABLE: CHECK '$nm' contains tab/newline characters")
      val parsed =
        try spark.sessionState.sqlParser.parseExpression(sql)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"CREATE TABLE: CHECK '$nm' does not parse: $sql " +
              s"(${e.getMessage})")
        }
      parsed.references.foreach(a =>
        require(names(a.name.toLowerCase(java.util.Locale.ROOT)),
          s"CREATE TABLE: CHECK '$nm' references unknown column " +
            s"'${a.name}' (columns: ${schema.fieldNames.mkString(", ")})"))
    }
    require(checks.map(_._1).distinct.size == checks.size,
      "CREATE TABLE: duplicate CHECK constraint names")
    require(versions(spark, root).isEmpty,
      s"CREATE TABLE: $root already holds a committed snapshot table — " +
        "re-creating would silently re-contract existing data; bind it " +
        "by name instead (LakeCatalog.register)")
    // the DDL's NOT NULL column flags become the #notnull declaration
    // (the one place schema typing IS a contract: the user wrote it)
    val notNull = schema.fields.filter(!_.nullable).map(_.name).toSeq
    commitManifest(spark, root, 1,
      Manifest(Nil, Some(schema), statsFor, clusterBy, Nil, Nil,
        partitionBy, rowKey.toSeq, Nil, Nil, lookupFor, Nil, checks,
        notNull),
      None, Nil)
  }

  /** Evolve the recorded schema by APPENDING `fields` — the
    * `ALTER TABLE … ADD COLUMN` analog (the reference's crawler
    * UPDATE_IN_DATABASE policy, stack.py:180-193, as explicit DDL), as
    * a METADATA-ONLY commit. Existing directories are untouched: reads
    * project the evolved union schema (pre-evolution rows carry NULL
    * for the new columns — [[read]]'s schema-pinned path), time travel
    * to a pre-evolution version returns the old schema, and the next
    * INSERT must supply the new columns ([[append]] requires the full
    * recorded column set). The same evolution an evolving upsert
    * performs implicitly (`mergeSchema = true`), without data. */
  def addColumns(
      spark: SparkSession, root: String, fields: Seq[StructField]): Int =
    commitMetadata(spark, root) { m =>
      require(fields.nonEmpty, "ADD COLUMN: no columns given")
      val schema = m.schema.getOrElse(
        throw new UnsupportedOperationException(
          s"table $root has no recorded schema (last commit predates " +
            "the #schema manifest line); run any API mutation first"))
      val taken = scala.collection.mutable.Set(
        schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)): _*)
      // PHYSICAL labels already living in data files: current fields'
      // physicals plus DROP COLUMN tombstones. A new column whose name
      // collides physically gets a FRESH physical label — otherwise
      // pre-existing bytes under that label would resurrect as the new
      // column's values instead of reading NULL.
      val physTaken = scala.collection.mutable.Set(
        (schema.fields.map(f =>
          physicalName(f).toLowerCase(java.util.Locale.ROOT)) ++
          m.droppedPhys.map(_.toLowerCase(java.util.Locale.ROOT))): _*)
      val placed = fields.map { f =>
        require(taken.add(f.name.toLowerCase(java.util.Locale.ROOT)),
          s"ADD COLUMN '${f.name}': column already exists in $root")
        require(f.nullable,
          s"ADD COLUMN '${f.name}': new columns must be nullable — " +
            "rows in pre-evolution directories cannot supply a value")
        if (physTaken.add(f.name.toLowerCase(java.util.Locale.ROOT))) f
        else {
          val fresh = Iterator.from(1).map(i => s"${f.name}__c$i")
            .find(p => physTaken.add(p.toLowerCase(java.util.Locale.ROOT)))
            .get
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysKey, fresh).build())
        }
      }
      m.copy(schema = Some(StructType(schema.fields ++ placed)))
    }

  /** `ALTER TABLE … RENAME COLUMN from TO to` — a METADATA-ONLY commit
    * re-labeling the column's LOGICAL name; the physical name (what
    * every data file carries) stays what it was at the column's birth,
    * recorded as field metadata, so NO data is rewritten: old
    * directories keep serving, per-file `#f` stats (keyed by physical
    * name) stay valid, time travel returns the old name, and the next
    * INSERT writes under the same physical label. Declared roles
    * follow the rename (stats/cluster/row-key lists re-label).
    * Refusals: partition columns (their values ARE the manifest keys —
    * the layout's identity), and a target name already in use. */
  def renameColumn(
      spark: SparkSession, root: String, from: String, to: String): Int =
    commitMetadata(spark, root) { m =>
      val schema = m.schema.getOrElse(
        throw new UnsupportedOperationException(
          s"table $root has no recorded schema; run any API mutation " +
            "first"))
      val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(from))
      require(idx >= 0,
        s"RENAME COLUMN '$from': no such column in $root " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fields.exists(_.name.equalsIgnoreCase(to)),
        s"RENAME COLUMN: target name '$to' already exists in $root")
      require(!m.partitionBy.exists(_.equalsIgnoreCase(from)),
        s"RENAME COLUMN '$from': it is a partition column — partition " +
          "values are the manifest keys (the layout's identity); " +
          "re-layout via a full rewrite instead")
      checkReferencing(spark, m, from).foreach(nm =>
        throw new UnsupportedOperationException(
          s"RENAME COLUMN '$from': CHECK constraint '$nm' references " +
            "it — constraints are spelled over logical names and are " +
            "not rewritten; drop/recreate the table contract instead"))
      val f0 = schema.fields(idx)
      val renamed = f0.copy(name = to,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f0.metadata)
          .putString(PhysKey, physicalName(f0)).build())
      def relabel(cols: Seq[String]): Seq[String] =
        cols.map(c => if (c.equalsIgnoreCase(from)) to else c)
      m.copy(
        schema = Some(StructType(schema.fields.updated(idx, renamed))),
        statsCols = relabel(m.statsCols),
        clusterBy = relabel(m.clusterBy),
        rowKey = relabel(m.rowKey),
        lookupCols = relabel(m.lookupCols),
        notNullCols = relabel(m.notNullCols))
    }

  /** `ALTER TABLE … DROP COLUMN name` — a METADATA-ONLY commit removing
    * the column from the recorded schema. No data file is rewritten:
    * the bytes stay in place under their physical name, invisible to
    * every schema-pinned read, and time travel to a pre-drop version
    * still serves them. The physical name is tombstoned
    * (`#droppedphys`) so a later ADD COLUMN of a colliding name mints
    * a FRESH physical label instead of resurrecting old bytes.
    * Refusals: partition columns and the recorded row key (both are
    * table identity); stats/cluster membership is simply removed. A
    * data commit racing the DROP may restate the column in the
    * recorded schema (the schema union is deliberately additive) —
    * re-run the DROP. */
  def dropColumn(spark: SparkSession, root: String, name: String): Int =
    commitMetadata(spark, root) { m =>
      val schema = m.schema.getOrElse(
        throw new UnsupportedOperationException(
          s"table $root has no recorded schema; run any API mutation " +
            "first"))
      val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
      require(idx >= 0,
        s"DROP COLUMN '$name': no such column in $root " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")
      require(!m.partitionBy.exists(_.equalsIgnoreCase(name)),
        s"DROP COLUMN '$name': it is a partition column — the manifest " +
          "keys carry its values; re-layout via a full rewrite instead")
      require(!m.rowKey.exists(_.equalsIgnoreCase(name)),
        s"DROP COLUMN '$name': it is the table's recorded row key — " +
          "every keyed consumer (MERGE, upsert, the change feed) " +
          "depends on it")
      checkReferencing(spark, m, name).foreach(nm =>
        throw new UnsupportedOperationException(
          s"DROP COLUMN '$name': CHECK constraint '$nm' references it"))
      val f0 = schema.fields(idx)
      m.copy(
        schema = Some(StructType(
          schema.fields.patch(idx, Nil, 1))),
        statsCols = m.statsCols.filterNot(_.equalsIgnoreCase(name)),
        clusterBy = m.clusterBy.filterNot(_.equalsIgnoreCase(name)),
        lookupCols = m.lookupCols.filterNot(_.equalsIgnoreCase(name)),
        notNullCols = m.notNullCols.filterNot(_.equalsIgnoreCase(name)),
        droppedPhys = (m.droppedPhys :+ physicalName(f0)).distinct)
    }

  /** Name of the first CHECK constraint whose expression references
    * `column`, if any — the guard RENAME/DROP COLUMN consult (a
    * constraint is spelled over logical names; silently breaking its
    * resolution would disable enforcement). */
  private def checkReferencing(
      spark: SparkSession, m: Manifest, column: String): Option[String] =
    m.checks.collectFirst {
      case (nm, sql) if spark.sessionState.sqlParser.parseExpression(sql)
        .references.exists(_.name.equalsIgnoreCase(column)) => nm
    }

  /** Commit `transform(latest)` as a new version WITHOUT touching any
    * data: the manifest written is a delta carrying no entries and no
    * stats/census lines, so the fold inherits every directory, stat
    * and census line from the base while the (possibly evolved)
    * declarations — schema, stats/cluster columns, partition layout,
    * row key — restate. Same rename-race posture as [[commitRewrite]]'s
    * loop; there is no touched-set to conflict on, so a lost race just
    * re-runs `transform` against the new latest. */
  private def commitMetadata(spark: SparkSession, root: String)(
      transform: Manifest => Manifest): Int = {
    var raceRetries = 0
    while (true) {
      val latestV = versions(spark, root).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot-table version committed under $root"))
      val latest = readManifest(spark, root, latestV)
      val next = transform(latest)
      val v = latestV + 1
      try {
        commitManifest(spark, root, v,
          next.copy(entries = Nil, fileStats = Nil, fileSizes = Nil,
            fileRows = Nil, fileSketch = Nil, fileDvs = Nil),
          Some(latestV), Nil)
        if (v % CheckpointEvery == 0) writeCheckpoint(spark, root, v, next)
        return v
      } catch {
        case e: CommitRaceException =>
          raceRetries += 1
          if (raceRetries > 8) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append `rows` — plain INSERT semantics: no key, no dedup, every
    * row lands (SQL `INSERT INTO` through [[LakeCatalog]] routes
    * here). Partition layout comes from the manifest's recorded
    * `#partitionby`; only partitions the batch touches are read and
    * rewritten (merged = live ∪ new, one OCC commit), untouched
    * directories carry forward — the same bound as [[upsert]] minus
    * the key anti-join. Returns the new version. */
  def append(
      spark: SparkSession, root: String, rows: DataFrame,
      filesPerPartition: Int = 1): Int = withConflictRetry {
    val base = manifestAt(spark, root, -1)
    val partitionBy = base.partitionBy
    require(partitionBy.nonEmpty,
      s"table $root has no recorded partition columns (last commit " +
        "predates the #partitionby recording) — run any API mutation " +
        "(upsert/deleteWhere/optimize), which restates the layout, " +
        "before appending by name")
    val entries = base.entries
    val tableCols = tableColumns(spark, root, entries, base.schema)
    require(tableCols.forall(rows.columns.contains),
      s"append batch is missing table columns " +
        s"${tableCols.filterNot(rows.columns.contains).mkString(",")}")
    val projected = rows.select(tableCols.map(col).toSeq: _*)
    val touchedKeys = touchedCompositeKeys(projected, partitionBy)
    val liveTouched = entries.filter(e => touchedKeys(e._1))
    val merged =
      if (liveTouched.isEmpty) projected
      else readLiveDirs(spark, root, base, liveTouched.map(_._2))
        .unionByName(projected, allowMissingColumns = true)
    commitRewrite(spark, root, merged, partitionBy, Some(base),
      touchedKeys, replaceAll = false, filesPerPartition,
      crashBeforeCommit = false)
  }

  /** Upsert `updates` (same contract as [[Lake.upsert]]: full schema,
    * unique non-null keys, stable partition per key): rows whose `key`
    * exists are replaced, new keys inserted. Only partition tuples
    * present in the batch are read or rewritten, and the whole batch
    * becomes visible in ONE manifest commit. Returns the new version.
    *
    * Schema evolution: by default, updates are projected to the TABLE's
    * column set (feed-only columns, e.g. a CDC version, are dropped —
    * a misconfigured feed cannot silently widen the table). With
    * `mergeSchema = true`, NEW columns in the batch are ADDED to the
    * table — touched partitions rewrite with the widened schema, rows
    * without the column carry NULL, untouched directories stay as they
    * are and reads merge the vintages ([[read]]'s mergeSchema), and a
    * time-travel read of a pre-evolution version still returns the old
    * schema — the crawler's UPDATE_IN_DATABASE evolution policy
    * (SURVEY §2 I9) applied at the table layer.
    *
    * `crashBeforeCommit` is the test seam for the atomicity claim: it
    * aborts after every data directory is fully written, before the
    * manifest rename — readers must still see the previous version
    * exactly. */
  def upsert(
      spark: SparkSession, root: String, updates0: DataFrame, key: String,
      partitionBy: Seq[String], filesPerPartition: Int = 1,
      crashBeforeCommit: Boolean = false,
      mergeSchema: Boolean = false): Int = {
    // one-pass validation + touched probe (round 19): two executions
    // of the batch plan total (probe + staging write), down from
    // three; no caching imposed — see [[applyChanges]]
    val updates = updates0
    val touchedKeys = validateAndProbe(updates, key, None, partitionBy)
    withConflictRetry {
      // bootstrap: an upsert into a never-written table is the initial
      // commit (the CDC-stream shape — the first drained batch creates v1)
      val base =
        if (versions(spark, root).isEmpty) None
        else Some(manifestAt(spark, root, -1))
      base.flatMap(_.rowKey.headOption).foreach(k0 => require(k0 == key,
        s"table $root records row key '$k0'; an upsert keyed by '$key' " +
          "would split the table's identity — one key per table"))
      val entries = base.map(_.entries).getOrElse(Nil)
      val schema = base.flatMap(_.schema)
      val liveTouched = entries.filter(e => touchedKeys(e._1))
      val merged =
        if (entries.isEmpty && schema.isEmpty) updates // bootstrap
        else {
          val tableCols = tableColumns(spark, root, entries, schema)
          val projected =
            if (mergeSchema) updates // keep new columns: evolving batch
            else updates.select(
              tableCols.filter(updates.columns.contains).map(col).toSeq: _*)
          require(mergeSchema ||
              tableCols.forall(updates.columns.contains),
            s"update batch is missing table columns " +
              s"${tableCols.filterNot(updates.columns.contains).mkString(",")}" +
              "; updates must carry the full schema")
          if (liveTouched.isEmpty) projected // all-new partitions: insert
          else {
            // liveTouched nonempty => entries nonempty => base defined
            val live = readLiveDirs(spark, root, base.get,
              liveTouched.map(_._2))
            live
              .join(projected.select(col(key).as("_graft_k")),
                col(key) === col("_graft_k"), "left_anti")
              .unionByName(projected, allowMissingColumns = mergeSchema)
          }
        }
      commitRewrite(spark, root, merged, partitionBy, base, touchedKeys,
        replaceAll = false, filesPerPartition, crashBeforeCommit,
        declaredKey = Some(key))
    }
  }

  /** Apply a MIXED change batch — upserts AND delete tombstones — in
    * ONE atomic commit (the shape a real CDC feed has: Debezium-style
    * events where `opCol` distinguishes an upsert from a delete).
    * Routing upserts through [[upsert]] and deletes through
    * [[deleteWhere]] would commit TWO versions with an observable
    * half-applied state between them; here both fold into one merged
    * rewrite of the touched partitions and one manifest rename.
    *
    * Contract: every change row carries the partition columns (a
    * tombstone must say which partition its key lives in — the
    * standard CDC 'before'-image requirement; a tombstone in the WRONG
    * partition is a no-op, same as [[upsert]]'s stable-partition
    * constraint); keys are unique and non-null across the whole batch
    * (reduce multiple events per key to the final one first —
    * [[graft.streaming.CdcStream]] does, by version); `opCol` is "d"
    * for delete, anything else — but NEVER NULL — for upsert (a NULL
    * op would fall out of the upsert filter by three-valued logic yet
    * still anti-join its key out of the live set, i.e. silently delete
    * — a malformed feed must fail loudly instead, round-9 advice
    * item 3). Non-key columns of a tombstone are ignored. Returns the
    * new version. */
  /** `publishGate` (round 20) runs AFTER the staging write/census/stats
    * of an attempt and immediately BEFORE its manifest commit — the
    * seam that lets a caller overlap this commit's Spark work with
    * other work while still ordering the PUBLICATION after an external
    * event (the incremental-MV refresh stages its view commit while
    * the sidecar commit runs, and the gate awaits the sidecar + writes
    * the applied marker). Must be idempotent: a conflict retry re-runs
    * the whole attempt, gate included. */
  def applyChanges(
      spark: SparkSession, root: String, changes0: DataFrame, key: String,
      partitionBy: Seq[String], opCol: String,
      filesPerPartition: Int = 1, mergeSchema: Boolean = false,
      publishGate: () => Unit = () => ()): Int = {
    // The batch plan used to execute FOUR times per commit (key
    // validation, null-op validation, touched-partition probe, the
    // staging write). Round 19 fuses the first three into ONE
    // aggregate (validateAndProbe; messages unchanged) — two
    // executions total, with NO caching imposed here: a bulk CDC batch
    // can be arbitrarily large, and materializing it to executor
    // storage on top of the staging write is a disk-pressure failure
    // mode streaming re-execution cannot produce. A caller whose batch
    // is a multi-join worth holding (the incremental-MV refresh — its
    // batches are view-slice- and sidecar-sized by construction)
    // caches BEFORE calling and keeps the lifecycle.
    val changes = changes0
    val touchedKeys = profT("validate_probe") {
      validateAndProbe(changes, key, Some(opCol), partitionBy) }
    withConflictRetry {
      val base = manifestAt(spark, root, -1)
      base.rowKey.headOption.foreach(k0 => require(k0 == key,
        s"table $root records row key '$k0'; a change batch keyed by " +
          s"'$key' would split the table's identity — one key per table"))
      val entries = base.entries
      val schema = base.schema
      val liveTouched = entries.filter(e => touchedKeys(e._1))
      val upserts = changes.filter(col(opCol) =!= "d").drop(opCol)
      val tableCols = tableColumns(spark, root, entries, schema)
        .filter(_ != opCol)
      val projected =
        if (mergeSchema) upserts
        else {
          require(tableCols.forall(upserts.columns.contains),
            s"change batch is missing table columns " +
              s"${tableCols.filterNot(upserts.columns.contains).mkString(",")}")
          upserts.select(tableCols.map(col).toSeq: _*)
        }
      val merged =
        if (liveTouched.isEmpty) projected
        else {
          val live = readLiveDirs(spark, root, base,
            liveTouched.map(_._2))
          // ALL change keys leave the live set (a deleted key vanishes, an
          // upserted key is replaced); only upsert rows come back
          live
            .join(changes.select(col(key).as("_graft_k")),
              col(key) === col("_graft_k"), "left_anti")
            .unionByName(projected, allowMissingColumns = mergeSchema)
        }
      commitRewrite(spark, root, merged, partitionBy, Some(base),
        touchedKeys, replaceAll = false, filesPerPartition,
        crashBeforeCommit = false, declaredKey = Some(key),
        publishGate = publishGate)
    }
  }

  /** Delete rows matching `predicate`; NULL-predicate rows are kept
    * (same three-valued-logic contract as [[Lake.deleteWhere]]). A
    * partition losing all rows drops out of the manifest; a delete
    * emptying the WHOLE table commits an empty manifest that still
    * records the schema, so the table stays readable (empty frame) and
    * writable. Returns the new version. */
  def deleteWhere(
      spark: SparkSession, root: String, predicate: Column,
      partitionBy: Seq[String], filesPerPartition: Int = 1): Int =
    withConflictRetry {
      val base = manifestAt(spark, root, -1)
      val entries = base.entries
      // partition-column predicates resolve their touched set from the
      // MANIFEST alone (the 100 TB shape for `DELETE WHERE date = …`):
      // a partition's values either all match or none do, so matching
      // partitions drop WHOLESALE — the commit is pure metadata, zero
      // data or footer I/O (Hive's DROP PARTITION cost). Anything else
      // scans for matches and rewrites the touched partitions.
      val pruned = partitionKeysMatching(spark, base, predicate)
      val touchedKeys = pruned.getOrElse(touchedCompositeKeys(
        read(spark, root).filter(predicate), partitionBy))
      val liveTouched = entries.filter(e => touchedKeys(e._1))
      // nothing matched: the current version IS the result — an identical
      // re-commit would only mint garbage for vacuum
      if (liveTouched.isEmpty) versions(spark, root).last
      else (pruned, base.schema) match {
        case (Some(_), Some(schema)) =>
          // whole-partition drop: nothing survives in the touched dirs
          commitRewrite(spark, root,
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              schema),
            partitionBy, Some(base), touchedKeys, replaceAll = false,
            filesPerPartition, crashBeforeCommit = false)
        case _ =>
          // mergeSchema like every other touched-partition read: after an
          // evolving upsert the touched directories can span schema
          // vintages, and a footer-arbitrary narrow read here would
          // silently drop the evolved column from the rewritten
          // partitions (round-9 advice item 2)
          val kept = readLiveDirs(spark, root, base,
              liveTouched.map(_._2))
            .filter(coalesce(!predicate, lit(true)))
          commitRewrite(spark, root, kept, partitionBy, Some(base),
            touchedKeys, replaceAll = false, filesPerPartition,
            crashBeforeCommit = false)
      }
    }

  /** Atomically replace the rows matching `predicate` with `rows` —
    * the `INSERT OVERWRITE … PARTITION (k=v)` primitive ([[LakeCatalog]]
    * routes Spark's overwrite-by-filter here): matching rows are
    * deleted and `rows` inserted in ONE manifest commit, so no reader
    * ever sees the deleted-but-not-yet-inserted intermediate state a
    * deleteWhere+append pair would expose. Touched partitions =
    * partitions holding matching rows ∪ partitions the new rows land
    * in; everything else carries forward untouched. NULL-predicate
    * rows are kept (SQL three-valued logic, same as [[deleteWhere]]).
    * A partition left empty drops out of the manifest. */
  def overwriteWhere(
      spark: SparkSession, root: String, rows: DataFrame,
      predicate: Column, filesPerPartition: Int = 1): Int =
    withConflictRetry {
      val base = manifestAt(spark, root, -1)
      val partitionBy = base.partitionBy
      require(partitionBy.nonEmpty,
        s"table $root has no recorded partition columns — run any API " +
          "mutation (which restates the layout) before overwriting " +
          "by name")
      val tableCols = tableColumns(spark, root, base.entries, base.schema)
      require(tableCols.forall(rows.columns.contains),
        s"overwrite batch is missing table columns " +
          s"${tableCols.filterNot(rows.columns.contains).mkString(",")}")
      val projected = rows.select(tableCols.map(col).toSeq: _*)
      // same manifest-only fast path as deleteWhere: the SQL
      // `INSERT OVERWRITE … PARTITION (k=v)` predicate is always
      // partition-column-only, so the touched set needs no data scan,
      // and a partition matching the predicate contributes NOTHING to
      // the rewrite — only dirs the new rows land in that do NOT match
      // need their live rows read and merged
      val pruned = partitionKeysMatching(spark, base, predicate)
      val matchedKeys = pruned.getOrElse(touchedCompositeKeys(
        read(spark, root).filter(predicate), partitionBy))
      val touchedKeys =
        matchedKeys ++ touchedCompositeKeys(projected, partitionBy)
      val liveTouched = base.entries.filter(e => touchedKeys(e._1))
      val keepDirs =
        if (pruned.isDefined) liveTouched.filterNot(e => matchedKeys(e._1))
        else liveTouched
      val merged =
        if (keepDirs.isEmpty) projected
        else {
          val live = readLiveDirs(spark, root, base, keepDirs.map(_._2))
          // under the fast path none of keepDirs' rows can match (their
          // partition values did not); the residual filter is only for
          // the data-scan fallback
          (if (pruned.isDefined) live
           else live.filter(coalesce(!predicate, lit(true))))
            .unionByName(projected, allowMissingColumns = true)
            .select(tableCols.map(col).toSeq: _*)
        }
      commitRewrite(spark, root, merged, partitionBy, Some(base),
        touchedKeys, replaceAll = false, filesPerPartition,
        crashBeforeCommit = false)
    }

  /** Replace whole partition TUPLES in one commit — the derived-table
    * maintenance primitive: every tuple present in `rows` is rewritten
    * to exactly its rows, tuples named in `dropKeys` (escaped composite
    * keys, e.g. from a manifest diff) are removed even when `rows` has
    * nothing for them, and untouched tuples carry forward. Unlike
    * [[upsert]] there is no per-row merge: the caller has already
    * recomputed the full content of the touched partitions (the shape
    * incremental materializations produce — re-derive changed
    * partitions, leave the rest). One atomic manifest commit. */
  /** `knownTouched`, when given, must be a superset of the frame's
    * partition tuples (escaped, `dropKeys` included) — an incremental
    * maintainer that derived its frame FROM a changed-partition diff
    * already knows the touched set exactly, and passing it skips one
    * full evaluation of the frame (the distinct-keys job) per commit. */
  def overwritePartitions(
      spark: SparkSession, root: String, rows: DataFrame,
      partitionBy: Seq[String], dropKeys: Set[String] = Set.empty,
      filesPerPartition: Int = 1,
      statsFor: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      knownTouched: Option[Set[String]] = None): Int =
    withConflictRetry {
      if (versions(spark, root).isEmpty)
        // bootstrap declares stats/clustering; later overwrites inherit
        // the table's persisted declarations like every other mutation
        write(spark, root, rows, partitionBy, filesPerPartition,
          statsFor, clusterBy)
      else {
        val base = manifestAt(spark, root, -1)
        val touched = knownTouched.getOrElse(
          touchedCompositeKeys(rows, partitionBy) ++ dropKeys)
        commitRewrite(spark, root, rows, partitionBy, Some(base), touched,
          replaceAll = false, filesPerPartition,
          crashBeforeCommit = false)
      }
    }

  /** Write `newRows` as fresh immutable per-partition-tuple directories,
    * then commit `untouched-at-latest ++ new` as one manifest. The
    * staging write duplicates each partition column into a throwaway
    * directory key, so the real columns SURVIVE in the data files while
    * Spark's own partitioned write (with [[Lake]]'s salt for
    * per-partition writer fan-out) produces one cleanly separated
    * nested directory per tuple with Spark's own Hive escaping — the
    * manifest key is read off the nested directory names, byte-identical
    * to what a Hive-layout writer would have produced.
    *
    * The commit loop is the optimistic-concurrency core: each attempt
    * pins the latest version V it read, verifies every TOUCHED key maps
    * to the same directory as in `baseEntries` (else the merge in
    * `newRows` is stale -> [[ConcurrentWriteException]], and the outer
    * [[withConflictRetry]] re-merges from scratch), recomputes
    * `untouched` from V's entries (so a disjoint concurrent commit's
    * changes are CARRIED FORWARD, not clobbered), and attempts to
    * commit exactly V+1. A lost rename race just loops. */
  /** Stage timer for commit-path diagnostics: prints to stderr when
    * GRAFT_COMMIT_PROF is set, else zero-cost pass-through. */
  @inline private def profT[T](name: String)(body: => T): T =
    if (sys.env.contains("GRAFT_COMMIT_PROF")) {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[commitprof] $name=${(System.nanoTime() - t0) / 1e9}%.3f")
      r
    } else body

  private def commitRewrite(
      spark: SparkSession, root: String, newRows: DataFrame,
      partitionBy: Seq[String], baseManifest: Option[Manifest],
      touchedKeys: Set[String], replaceAll: Boolean,
      filesPerPartition: Int, crashBeforeCommit: Boolean,
      declaredStats: Seq[String] = Nil,
      declaredCluster: Seq[String] = Nil,
      declaredLookup: Seq[String] = Nil,
      layoutDone: Boolean = false,
      schemaOverride: Option[StructType] = None,
      declaredKey: Option[String] = None,
      publishGate: () => Unit = () => ()): Int = {
    require(partitionBy.nonEmpty, "partitionBy must name at least one column")
    // write() (re)declares; every other mutation inherits the table's
    // persisted declarations, so stats maintenance is automatic
    val statsCols =
      if (replaceAll) declaredStats
      else baseManifest.map(_.statsCols).getOrElse(declaredStats)
    val clusterBy =
      if (replaceAll) declaredCluster
      else baseManifest.map(_.clusterBy).getOrElse(declaredCluster)
    val lookupCols =
      if (replaceAll) declaredLookup
      else baseManifest.map(_.lookupCols).getOrElse(declaredLookup)
    val f = fs(spark, root)
    val staging = new Path(root, s".staging-${java.util.UUID.randomUUID()}")
    // column mapping (round 16): data files are written under PHYSICAL
    // names — rename the (logical) mutation frame once, up front.
    // Partition columns are never mapped (rename refuses them), so the
    // staging partitioning keeps using logical == physical names. A
    // concurrent RENAME racing this commit is NOT benign (round-16
    // advice item 2): these bytes physicalize under the base mapping,
    // so the commit loop fingerprints the mapping and re-merges if it
    // drifted, and unionSchema rejects physical-name aliasing outright.
    // table constraints (round 17): NOT NULL rides the recorded
    // schema's field nullability, CHECK the manifest's #check lines;
    // both are enforced ON the staging write below — a violating row
    // raises inside the write job, which fails BEFORE any manifest
    // rename exists, so a bad batch refuses atomically (nothing
    // half-lands; the OCC commit point is never reached). A replace-all
    // (INSERT OVERWRITE / write()) restates contents, not the
    // contract, so it resolves the constraints from the latest
    // committed manifest.
    val constraintM: Option[Manifest] =
      if (!replaceAll) baseManifest
      else baseManifest.orElse(
        latestVersion(spark, root).map(readManifest(spark, root, _)))
    val checkedRows = enforceConstraints(root, newRows, constraintM)
    val colMapping = mappingOf(baseManifest.flatMap(_.schema))
    // two logical columns landing on ONE physical name means the frame
    // mixes a current logical name with a stale (pre-rename) one — the
    // aliasing the mapping-fingerprint check exists to refuse; caught
    // here too because the duplicate would otherwise fail analysis
    // before that check runs (round-16 advice item 2)
    if (colMapping.nonEmpty) {
      val phys = newRows.columns.map(c => colMapping.getOrElse(c, c))
      val dup = phys.diff(phys.distinct).distinct
      if (dup.nonEmpty)
        throw new ConcurrentWriteException(
          s"columns ${newRows.columns.zip(phys)
            .filter(p => dup.contains(p._2)).map(_._1).mkString(",")} " +
            s"would alias physical storage ${dup.mkString(",")} under " +
            s"$root — stale column-mapping merge (concurrent RENAME " +
            "COLUMN?); re-merge required")
    }
    val physRows =
      if (colMapping.isEmpty) checkedRows
      else checkedRows.select(checkedRows.columns.map(c =>
        col(c).as(colMapping.getOrElse(c, c))).toSeq: _*)
    val base = Iterator.from(0).map {
      case 0 => "_graft_p"
      case i => s"_graft_p_$i"
    }.find(b => partitionBy.indices
      .forall(j => !physRows.columns.contains(s"${b}$j"))).get
    val stagingCols = partitionBy.indices.map(j => s"$base$j")
    val staged = partitionBy.zip(stagingCols).foldLeft(physRows) {
      case (d, (c, sc)) => d.withColumn(sc, col(c).cast("string"))
    }
    val layout =
      if (layoutDone) staged // caller pre-partitioned (e.g. [[optimize]])
      else if (clusterBy.isEmpty)
        Lake.repartitionForLayout(staged, partitionBy, filesPerPartition,
          spark.sessionState.conf.numShufflePartitions.min(64) *
            filesPerPartition.max(1))
      else {
        // range-cluster rows across each partition's files on the
        // declared columns: per-file [min,max] windows become narrow,
        // which is what makes the per-file stats skip at read time
        val nTuples =
          if (touchedKeys.nonEmpty) touchedKeys.size
          else touchedCompositeKeys(physRows, partitionBy).size
        staged.repartitionByRange(
          (nTuples.max(1) * filesPerPartition.max(1)).min(4096),
          (partitionBy.map(col) ++ clusterBy.map(c =>
            col(colMapping.getOrElse(c, c)))): _*)
      }
    profT("staging_write") { layout
      .write.mode("overwrite").partitionBy(stagingCols: _*)
      .parquet(staging.toString) }
    f.mkdirs(new Path(root, "data"))
    // walk the nested staging layout: level j's directories are
    // `_graft_pJ=<escaped>`; a LEAF (deepest level) holds one tuple's
    // files and its path fragments join into the manifest key
    def leaves(p: Path, level: Int): Seq[(String, Path)] = {
      val pfx = s"${stagingCols(level)}="
      f.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(pfx))
        .flatMap { st =>
          val frag = st.getPath.getName.stripPrefix(pfx)
          if (level == partitionBy.size - 1) Seq((frag, st.getPath))
          else leaves(st.getPath, level + 1)
            .map { case (k, d) => (s"$frag/$k", d) }
        }
    }
    val moved = profT("moves") { leaves(staging, 0).zipWithIndex.map { case ((k, src), i) =>
      val dir = s"data/p${System.nanoTime()}-$i-" +
        java.util.UUID.randomUUID()
      if (!f.rename(src, new Path(root, dir)))
        throw new java.io.IOException(
          s"cannot move staged partition $src into $dir")
      (k, dir)
    } }
    f.delete(staging, true)
    if (crashBeforeCommit)
      throw new java.io.IOException(
        "simulated crash after data write, before manifest commit")
    // Per-file byte census of the just-written directories: one
    // driver-side listing of ONLY the fresh dirs (same cost class as
    // the move loop above) — this is what lets [[optimize]] plan
    // candidates from the manifest alone at 100 TB instead of listing
    // every partition per call (round-11 verdict item 8).
    val newSizes: Seq[(String, Long)] = profT("census") { moved.flatMap { case (_, dir) =>
      f.listStatus(new Path(root, dir)).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => (s"$dir/${st.getPath.getName}", st.getLen))
    } }
    // fresh files carry PHYSICAL names; #f and #b lines key by them
    // too, so a later rename never invalidates recorded stats. Columns
    // absent from this batch (pre-evolution vintages) simply get no
    // lines and are never skipped.
    val statsPresent = statsCols.map(c => colMapping.getOrElse(c, c))
      .filter(physRows.columns.contains)
    val lookupPresent = lookupCols.map(c => colMapping.getOrElse(c, c))
      .filter(physRows.columns.contains)
    // stat columns whose per-file min/max the parquet footer already
    // holds in Spark's own order and cast-to-string rendering
    val (footerStatCols, aggStatCols) = statsPresent.partition(c =>
      footerStatOrdered(physRows.schema(c).dataType))
    // Per-file ROW COUNTS of the just-written files (round 15, `#n`
    // manifest lines) and the footer-served min/max stats: driver-side
    // FOOTER reads of only the fresh files — one seek each, no data
    // pages, same cost class as the byte census above — so both are
    // exact parquet metadata, not a second data pass (Delta Lake's
    // stats-while-writing). The counts are what [[MetadataAggregate]]
    // answers COUNT(*) / per-partition counts from with zero file opens
    // at query time. A file whose footer read fails gets no `#n` line
    // (the metadata-aggregate path requires full coverage and falls
    // back to the data scan) and no footer `#f` lines (never skipped),
    // never a wrong count or bound.
    val footers: Seq[(String, Long, Seq[FileStat])] = profT("footers") {
      val conf = spark.sessionState.newHadoopConf()
      newSizes.flatMap { case (rel, _) =>
        try {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new Path(root, rel), conf))
          try {
            import scala.jdk.CollectionConverters._
            val blocks = r.getFooter.getBlocks.asScala.toSeq
            Some((rel, r.getRecordCount,
              footerStatCols.flatMap(footerStat(rel, blocks, _))))
          } finally r.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
    val newRowCounts = footers.map { case (rel, n, _) => (rel, n) }
    // relPath derivation for census rows: match each file's PARENT
    // against the just-moved directories as Paths (not via a URI
    // percent-encoding round-trip that can disagree with escaped names
    // — ADVICE r11 item 5); every census row's file is by construction
    // inside one of `moved`.
    val dirByParent: Map[String, String] = moved.map { case (_, d) =>
      f.makeQualified(new Path(root, d)).toString -> d
    }.toMap
    def relOf(file: String): String = {
      val p0 = new Path(file)
      val parent = f.makeQualified(p0.getParent).toString
      dirByParent.get(parent)
        .map(d => s"$d/${p0.getName}")
        .getOrElse(throw new IllegalStateException(
          s"census file $file is not under any just-written directory"))
    }
    // The rest — stat columns of other types (double/NaN, decimal,
    // timestamp: footer order or rendering differs from Spark's) and
    // the lookup sketches — take one aggregate pass over ONLY the
    // just-written directories (fresh data, still warm): min/max on the
    // NATIVE type, cast to string after the aggregate — a string-first
    // min would be lexicographic and wrong for numbers. With neither,
    // the commit runs no Spark job after its staging write.
    val (aggStats: Seq[FileStat],
         newSketches: Seq[(String, String, String)]) = profT("stats") {
      if ((aggStatCols.isEmpty && lookupPresent.isEmpty) || moved.isEmpty)
        (Nil, Nil)
      else {
        val df = spark.read.option("mergeSchema", "true").parquet(
          moved.map(m => new Path(root, m._2).toString): _*)
        val statAggs = aggStatCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"_graft_min_$c"),
          max(col(c)).cast("string").as(s"_graft_max_$c")))
        // per-file membership sketch: a Bloom filter over xxhash64 of
        // the value — Spark's own BloomFilterAggregate (the runtime-
        // filter machinery), so write-side insert and read-side probe
        // share one hash and one serialization
        val sketchAggs = lookupPresent.map { c =>
          org.apache.spark.sql.graft.Bridge.column(
            new org.apache.spark.sql.catalyst.expressions.aggregate
              .BloomFilterAggregate(
                new org.apache.spark.sql.catalyst.expressions.XxHash64(
                  Seq(org.apache.spark.sql.graft.Bridge
                    .expression(col(c))), 42L),
                org.apache.spark.sql.catalyst.expressions
                  .Literal(SketchItems),
                org.apache.spark.sql.catalyst.expressions
                  .Literal(SketchBits))
              .toAggregateExpression()).as(s"_graft_bloom_$c")
        }
        val aggs = statAggs ++ sketchAggs
        val rows = df.groupBy(input_file_name().as("_graft_file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().toSeq
        val stats = rows.flatMap { r =>
          val rel = relOf(r.getString(0))
          aggStatCols.indices.map { i =>
            FileStat(rel, aggStatCols(i),
              Option(r.getString(1 + 2 * i)),
              Option(r.getString(2 + 2 * i)))
          }
        }
        val sketches = rows.flatMap { r =>
          val rel = relOf(r.getString(0))
          lookupPresent.indices.flatMap { j =>
            val idx = 1 + 2 * aggStatCols.size + j
            // an all-NULL file aggregates to NULL: it gets no sketch
            // line and is conservatively kept (an equality can never
            // match its rows anyway)
            if (r.isNullAt(idx)) None
            else Some((rel, lookupPresent(j),
              java.util.Base64.getEncoder
                .encodeToString(r.getAs[Array[Byte]](idx))))
          }
        }
        (stats, sketches)
      }
    }
    val newStats = footers.flatMap(_._3) ++ aggStats
    // caller's publication gate (see [[applyChanges]]): every Spark
    // job of this attempt is done; only the manifest rename follows
    publishGate()
    onBeforeCommit()
    val newSchema = schemaOverride.getOrElse(newRows.schema)
    val baseTouched = baseManifest.map(_.entries).getOrElse(Nil)
      .filter(e => touchedKeys(e._1)).toSet
    var raceRetries = 0
    while (true) {
      val latestV = profT("versions_list") {
        versions(spark, root).lastOption.getOrElse(0) }
      val latestM = profT("manifest_read") {
        if (latestV == 0) None else Some(readManifest(spark, root, latestV)) }
      val latest = latestM.map(_.entries).getOrElse(Nil)
      // A partial commit RECORDS THE UNION of the table's schema and
      // the rewrite's: untouched directories may carry a wider vintage
      // than the touched rows (a delete rewriting only pre-evolution
      // partitions), and the recorded schema is what [[readFiles]] pins
      // reads to — narrowing it would vanish the evolved column. The
      // union is against the LATEST manifest INSIDE the retry loop,
      // not the caller's base: a concurrent disjoint commit may have
      // evolved the schema after this writer read its base, and a
      // delta's schema replaces the folded state's outright — unioning
      // a stale base would silently drop the racer's new column from
      // every schema-pinned read.
      val schema =
        if (replaceAll) newSchema
        else latestM.flatMap(_.schema)
          .map(unionSchema(_, newSchema)).getOrElse(newSchema)
      if (!replaceAll) {
        val nowTouched = latest.filter(e => touchedKeys(e._1)).toSet
        if (nowTouched != baseTouched)
          throw new ConcurrentWriteException(
            s"concurrent commit changed touched partition(s) " +
              s"${(nowTouched.map(_._1) ++ baseTouched.map(_._1)).toSeq
                .sorted.mkString(",")} under $root; re-merge required")
        // MAPPING FINGERPRINT (round-16 advice item 2): the staged data
        // files were physicalized under the BASE manifest's column
        // mapping. A concurrent RENAME/DROP COLUMN between the base
        // read and this commit changes the logical→physical indirection
        // out from under those bytes — the touched-entry check cannot
        // see it (mapping commits touch no data directories), and
        // committing anyway records logical columns whose physical
        // storage is aliased or orphaned. Any mapping drift forces the
        // outer re-merge, which re-physicalizes under the fresh schema.
        if (mappingOf(latestM.flatMap(_.schema)) !=
            mappingOf(baseManifest.flatMap(_.schema)))
          throw new ConcurrentWriteException(
            s"concurrent commit changed the column mapping under " +
              s"$root; re-merge required")
      }
      // THE SCALE SHAPE (round-11 verdict item 1): the commit writes a
      // DELTA — its own entries, its own files' stats/census lines, and
      // tombstones for partitions it emptied — never the untouched
      // remainder of the table. Stats/census of untouched directories
      // carry forward implicitly in the fold; every CheckpointEvery-th
      // commit folds the chain into a best-effort full sidecar so read
      // cost stays bounded. A replace-all (or first-ever) commit IS a
      // full manifest and resets the chain.
      val v = latestV + 1
      val asDelta = !replaceAll && latestV > 0
      val movedKeys = moved.map(_._1).toSet
      val removed =
        if (!asDelta) Nil
        else latest.collect {
          case (k, _) if touchedKeys(k) && !movedKeys(k) => k
        }
      // the row key persists like the schema: a keyed mutation records
      // it, every other commit (including full replace) carries the
      // latest declaration forward — a table's identity column does not
      // vanish because an INSERT OVERWRITE restated its contents
      val rowKey = declaredKey.map(Seq(_)).getOrElse(
        latestM.map(_.rowKey).getOrElse(Nil))
      // constraints persist like the row key: declared at CREATE,
      // carried forward by every commit (including full replace)
      val checks = latestM.map(_.checks).getOrElse(Nil)
      val notNull = latestM.map(_.notNullCols).getOrElse(Nil)
      val payload = Manifest(moved, Some(schema), statsCols, clusterBy,
        newStats, newSizes, partitionBy, rowKey, newRowCounts,
        latestM.map(_.droppedPhys).getOrElse(Nil), lookupCols,
        newSketches, checks, notNull)
      try {
        profT("manifest_commit") { commitManifest(spark, root, v, payload,
          if (asDelta) Some(latestV) else None, removed) }
        if (asDelta && v % CheckpointEvery == 0) {
          // fold in-memory from state already in hand — no re-read
          val untouched = latest.filterNot(e => touchedKeys(e._1))
          val untouchedDirs = untouched.map(_._2).toSet
          def carried(rel: String): Boolean = {
            val i = rel.lastIndexOf('/')
            i > 0 && untouchedDirs.contains(rel.substring(0, i))
          }
          writeCheckpoint(spark, root, v, Manifest(
            untouched ++ moved, Some(schema), statsCols, clusterBy,
            latestM.map(_.fileStats).getOrElse(Nil)
              .filter(s => carried(s.relPath)) ++ newStats,
            latestM.map(_.fileSizes).getOrElse(Nil)
              .filter(s => carried(s._1)) ++ newSizes, partitionBy, rowKey,
            latestM.map(_.fileRows).getOrElse(Nil)
              .filter(s => carried(s._1)) ++ newRowCounts,
            latestM.map(_.droppedPhys).getOrElse(Nil), lookupCols,
            latestM.map(_.fileSketch).getOrElse(Nil)
              .filter(s => carried(s._1)) ++ newSketches, checks, notNull,
            // dv lines of untouched directories carry; touched dirs'
            // deletions just got folded into the rewritten bytes
            latestM.map(_.fileDvs).getOrElse(Nil)
              .filter(s => carried(s._1))))
        }
        return v
      } catch {
        case e: CommitRaceException =>
          raceRetries += 1
          // something is committing faster than this writer can even
          // re-attempt a rename — surface rather than spin
          if (raceRetries > 8) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `RESTORE TABLE … TO VERSION AS OF n` (round-15 verdict item 3):
    * commit a NEW version whose live state equals `toVersion`'s — the
    * rollback verb a lakehouse operator reaches for after a bad CDC
    * batch, and the manifest line makes it nearly free: the commit is
    * a FULL manifest restating v_n's folded state (entries, schema,
    * declarations, per-file stats/census/rows), so it is pure metadata
    * — no data file is read, written, or moved. History is PRESERVED:
    * the bad versions stay readable (time travel, forensics) until
    * vacuumed, `DESCRIBE HISTORY` shows the restore as one more
    * commit, and the change feed surfaces it as ordinary delete/insert
    * rows over the partitions whose live directories changed — a
    * follower (search index, replica) converges on the restored state
    * through the same protocol as any other commit.
    *
    * Works because data directories are IMMUTABLE and liveness is
    * manifest-referenced: while v_n's manifest is retained, vacuum
    * keeps every directory it references, so restating them is safe.
    * A vacuumed (or never-committed) target fails loudly here.
    * Restoring TO the current latest is a no-op returning the current
    * version (no garbage commit). Concurrency: same optimistic rename
    * loop as every commit — a racer's interleaved commit just moves
    * the version the restore lands at (the restored STATE is pinned at
    * read time, so the result is still exactly v_n's rows). */
  // ---- shallow clone (round 17) --------------------------------------
  //
  // A SHALLOW CLONE is one metadata commit: the target's v1 manifest
  // restates the source version's folded state with every data
  // reference rewritten to an ABSOLUTE URI, so the clone reads the
  // SOURCE's immutable directories without copying a byte (Delta's
  // SHALLOW CLONE / an Iceberg snapshot ref). Divergence is free in
  // both directions — the clone's own commits mint ordinary relative
  // directories under ITS root, and the source never learns about them
  // — because directories are immutable and liveness is
  // manifest-referenced on both sides.
  //
  // The hard part is retention. The clone's vacuum is structurally
  // safe (it only deletes under its own data/, and absolute source
  // references never match). The SOURCE's vacuum is made clone-aware
  // by REFCOUNT: a clone registers itself in every referenced root's
  // `_clones/` at creation, and that root's vacuum keeps any local
  // directory referenced by any RETAINED manifest of any registered
  // live clone (a time-traveling clone reader has the same rights as a
  // local one). A clone whose root vanished unregisters lazily. PURGE
  // of a root with live clones refuses (LakeCatalog).

  private def clonesDir(root: String) = new Path(root, "_clones")

  /** Mint `targetRoot` as a shallow clone of `sourceRoot`@`version`
    * (latest when < 0) — pure metadata, zero data I/O. Returns the
    * clone's version (always 1). */
  def shallowClone(
      spark: SparkSession, sourceRoot: String, targetRoot: String,
      version: Int = -1): Int = {
    require(isTableRoot(spark, sourceRoot),
      s"SHALLOW CLONE: $sourceRoot is not a snapshot-table root")
    require(versions(spark, targetRoot).isEmpty,
      s"SHALLOW CLONE: $targetRoot already holds a committed snapshot " +
        "table")
    val m = manifestAt(spark, sourceRoot, version)
    val fSrc = fs(spark, sourceRoot)
    // a clone-of-a-clone's entries are already absolute and keep
    // pointing at the ORIGINAL owner's bytes
    def absDir(d: String): String =
      if (new Path(d).isAbsolute) d
      else fSrc.makeQualified(new Path(sourceRoot, d)).toString
    def absFile(rel: String): String = {
      val i = rel.lastIndexOf('/')
      absDir(rel.take(i)) + rel.substring(i)
    }
    val m2 = m.copy(
      entries = m.entries.map { case (k, d) => (k, absDir(d)) },
      fileStats = m.fileStats.map(s0 => s0.copy(relPath = absFile(s0.relPath))),
      fileSizes = m.fileSizes.map { case (r, b) => (absFile(r), b) },
      fileRows = m.fileRows.map { case (r, n) => (absFile(r), n) },
      fileSketch = m.fileSketch.map { case (r, c, b) => (absFile(r), c, b) },
      fileDvs = m.fileDvs.map { case (r, n, b) => (absFile(r), n, b) })
    val v = commitManifest(spark, targetRoot, 1, m2, None, Nil)
    val tgtAbs = fs(spark, targetRoot)
      .makeQualified(new Path(targetRoot)).toString
    m2.entries.map(_._2).flatMap(ownerRootOf).distinct
      .foreach(o => registerClone(spark, o, tgtAbs))
    v
  }

  /** The root that owns an absolute `<root>/data/<dir>` reference. */
  private def ownerRootOf(absDir: String): Option[String] = {
    val p = new Path(absDir)
    Option(p.getParent).filter(_.getName == "data")
      .flatMap(pp => Option(pp.getParent)).map(_.toString)
  }

  private def registerClone(
      spark: SparkSession, ownerRoot: String, cloneRoot: String): Unit = {
    val f = fs(spark, ownerRoot)
    f.mkdirs(clonesDir(ownerRoot))
    val id = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(cloneRoot.getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString.take(16)
    }
    val tmp = new Path(clonesDir(ownerRoot),
      s".$id.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(cloneRoot.getBytes("UTF-8")) finally out.close()
    f.delete(new Path(clonesDir(ownerRoot), id), false)
    if (!f.rename(tmp, new Path(clonesDir(ownerRoot), id)))
      throw new java.io.IOException(
        s"SHALLOW CLONE: could not register clone under $ownerRoot")
  }

  /** Registered clones of `root` that still exist (vanished ones are
    * unregistered lazily). Public so PURGE can refuse loudly. */
  def liveClones(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    if (!f.exists(clonesDir(root))) Nil
    else f.listStatus(clonesDir(root)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        val in = f.open(st.getPath)
        val cloneRoot =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        val alive =
          scala.util.Try(versions(spark, cloneRoot).nonEmpty)
            .getOrElse(false)
        if (alive) Some(cloneRoot)
        else { f.delete(st.getPath, false); None }
      }
  }

  /** Local `data/<dir>` names any live clone's RETAINED manifests still
    * reference — the refcount [[vacuum]] honors. Cost is one manifest
    * fold per retained clone version, bounded by the clones' own
    * retention horizons. */
  private def cloneReferencedDirs(
      spark: SparkSession, root: String): Set[String] = {
    val clones = liveClones(spark, root)
    if (clones.isEmpty) return Set.empty
    val f = fs(spark, root)
    val dataPrefix =
      f.makeQualified(new Path(root, "data")).toString + "/"
    clones.flatMap { c =>
      scala.util.Try(versions(spark, c)).getOrElse(Nil).flatMap(v =>
        scala.util.Try(readManifest(spark, c, v).entries).getOrElse(Nil)
          .map(_._2)
          .filter(_.startsWith(dataPrefix))
          .map(d => "data/" + d.stripPrefix(dataPrefix)))
    }.toSet
  }

  // ---- lane registry (round 17, see graft.lake.Lane) -----------------
  //
  // Same refcount shape as the clone registry: a lane that pins this
  // table's versions registers under `_lanes/`, and vacuum protects
  // any version a RETAINED manifest of a live lane pins. A lane whose
  // root vanished unregisters lazily.

  private def lanesDir(root: String) = new Path(root, "_lanes")

  private[lake] def registerLane(
      spark: SparkSession, root: String, laneRoot: String): Unit = {
    val f = fs(spark, root)
    f.mkdirs(lanesDir(root))
    val id = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(laneRoot.getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString.take(16)
    }
    val fin = new Path(lanesDir(root), id)
    if (f.exists(fin)) return // idempotent per (root, lane)
    val tmp = new Path(lanesDir(root),
      s".$id.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(laneRoot.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, fin)) f.delete(tmp, false) // racer registered it
  }

  /** Member versions pinned by any RETAINED manifest of any registered
    * LIVE lane — added to vacuum's protect set. Cost: one small file
    * per retained lane version, bounded by the lanes' own retention. */
  private def lanePinnedVersions(
      spark: SparkSession, root: String): Set[Int] = {
    val f = fs(spark, root)
    if (!f.exists(lanesDir(root))) return Set.empty
    val rootQ = f.makeQualified(new Path(root)).toString
    f.listStatus(lanesDir(root)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        val in = f.open(st.getPath)
        val laneRoot =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        // unregister ONLY when the lane root itself is gone — a
        // registered lane with no committed version yet is the
        // legitimate window of Lane.publish (registration lands BEFORE
        // the first manifest, so protection exists the instant a pin
        // does); deleting it here would re-open exactly that race
        val rootGone = scala.util.Try {
          !fs(spark, laneRoot).exists(new Path(laneRoot))
        }.getOrElse(false)
        val vs = scala.util.Try(Lane.versions(spark, laneRoot))
          .getOrElse(Nil)
        if (rootGone) { f.delete(st.getPath, false); Nil }
        else vs.flatMap(v =>
          scala.util.Try(Lane.at(spark, laneRoot, v)).getOrElse(Nil)
            .filter { p =>
              val pq = scala.util.Try(
                fs(spark, p.root).makeQualified(new Path(p.root)).toString)
                .getOrElse(p.root)
              pq == rootQ
            }
            .map(_.version))
      }.toSet
  }

  def restore(spark: SparkSession, root: String, toVersion: Int): Int = {
    require(fs(spark, root).exists(manifestPath(root, toVersion)),
      s"RESTORE: version v$toVersion of $root is unknown or vacuumed — " +
        "DESCRIBE HISTORY lists the retained versions")
    val target = readManifest(spark, root, toVersion)
    var raceRetries = 0
    while (true) {
      val latestV = versions(spark, root).lastOption.getOrElse(
        throw new IllegalStateException(
          s"no snapshot-table version committed under $root"))
      if (latestV == toVersion) return latestV
      val v = latestV + 1
      try {
        commitManifest(spark, root, v, target, None, Nil)
        return v
      } catch {
        case e: CommitRaceException =>
          raceRetries += 1
          if (raceRetries > 8) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compact over-fragmented partitions: rewrite each partition whose
    * directory holds MORE parquet files than its byte size justifies
    * (target = ceil(bytes / targetBytes)) down to at most its target
    * count — Delta/Iceberg's OPTIMIZE bin-packing, expressed on this
    * table's immutable-directory + manifest-commit machinery. Rows are
    * untouched; the commit is a normal OCC version (readers switch
    * atomically, time travel still reads the fragmented layout, vacuum
    * reclaims it).
    *
    * Where fragmentation comes from here: a bulk load's
    * `filesPerPartition` fan-out that a now-cold partition no longer
    * needs, and partitions shrunk by deleteWhere/tombstones but still
    * spread over their old file count. At 100 TB the cost is real —
    * file count drives task count, footer reads, and the manifest's
    * per-file stats census; an over-fanned cold partition taxes every
    * read forever.
    *
    * Layout: each compacted partition is INDEPENDENTLY repartitioned
    * to its own target (range-partitioned on the table's declared
    * `clusterBy` so the per-file min/max windows stay narrow and
    * [[readBetween]] keeps skipping; hash otherwise), then the frames
    * union — union CONCATENATES the children's partitions, so one job
    * writes every compacted directory with exact per-partition file
    * counts and no cross-partition shuffle. Per-file stats are
    * recomputed for the rewritten directories automatically (same path
    * as every mutation); untouched directories carry theirs forward.
    *
    * Concurrency: same optimistic protocol as the mutators — a
    * concurrent commit touching a compacted partition invalidates the
    * attempt (retried from a fresh listing), disjoint commits are
    * carried forward. `maxPartitions` bounds one call (worst offenders
    * first, by excess file count) so the union plan stays small; loop
    * until the returned version stops advancing to drain a large
    * backlog. Returns the committed version (the current one if
    * nothing needed compaction). */
  def optimize(
      spark: SparkSession, root: String, partitionBy: Seq[String],
      targetBytes: Long = 128L << 20, maxPartitions: Int = 64): Int = {
    require(targetBytes > 0 && maxPartitions > 0,
      "targetBytes and maxPartitions must be positive")
    val f = fs(spark, root)
    withConflictRetry {
      val base = manifestAt(spark, root, -1)
      // candidate selection is METADATA-ONLY where the manifest's `#sz`
      // census covers a directory (every commit since the census landed
      // writes one line per file) — at 100 TB the plan costs a manifest
      // read, not an O(partitions) listing sweep (round-11 verdict item
      // 8); pre-census directories fall back to a live listing
      val sizesByDir: Map[String, Seq[Long]] = base.fileSizes
        .groupBy(s => s._1.take(s._1.lastIndexOf('/')))
        .map { case (d, ss) => d -> ss.map(_._2) }
      // dv-carrying directories are ALWAYS candidates: compaction is
      // what folds their deletion vectors into real bytes and retires
      // the `#dv` lines (the read-side anti-join stops paying rent)
      val dvDirs: Map[String, Long] = base.fileDvs
        .groupBy(d => d._1.take(d._1.lastIndexOf('/')))
        .map { case (d, dvs) => d -> dvs.map(_._2).sum }
      val cands = base.entries.flatMap { case (k, d) =>
        val sizes: Seq[Long] = sizesByDir.getOrElse(d,
          f.listStatus(new Path(root, d)).toSeq
            .filter(st =>
              st.isFile && st.getPath.getName.endsWith(".parquet"))
            .map(_.getLen))
        if (sizes.isEmpty) None
        else {
          val bytes = sizes.sum
          val target =
            math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          if (sizes.size > target || dvDirs.contains(d))
            Some((k, d, target, sizes.size))
          else None
        }
      }.sortBy { case (_, d, target, n) =>
        // most over-fragmented first; dv-carrying dirs outrank pure
        // fragmentation at equal excess (they also carry read-side cost)
        (-(n - target), -dvDirs.getOrElse(d, 0L))
      }.take(maxPartitions)
      if (cands.isEmpty) versions(spark, root).last
      else {
        val clusterCols = base.clusterBy
        val frames = cands.map { case (_, d, target, _) =>
          // mapping-aware per-dir read (logical frame) so the declared
          // cluster columns resolve and the rewrite re-physicalizes
          val df = readLiveDirs(spark, root, base, Seq(d))
          if (clusterCols.nonEmpty &&
              clusterCols.forall(df.columns.contains))
            df.repartitionByRange(target, clusterCols.map(col): _*)
          else df.repartition(target)
        }
        val merged = frames.reduce(_.unionByName(_,
          allowMissingColumns = true))
        commitRewrite(spark, root, merged, partitionBy,
          baseManifest = Some(base),
          touchedKeys = cands.map(_._1).toSet, replaceAll = false,
          filesPerPartition = 1, crashBeforeCommit = false,
          layoutDone = true,
          // rows are untouched: the recorded schema must stay the
          // table's (the compacted subset could lack an evolved
          // column that only untouched directories carry)
          schemaOverride = base.schema)
      }
    }
  }

  /** Drop all but the newest `keepVersions` manifests — except versions
    * in `protect`, which survive regardless of the horizon (the
    * snapshot-binding contract: a session pinned to
    * `spark.graft.snapshot.<table>=<root>@vN` must pass N here or that
    * read breaks loudly) — and delete every data directory no kept
    * manifest references, including directories written by crashed or
    * conflict-abandoned batches, plus tmp manifests and staging dirs
    * from crashed commits. Returns (manifests dropped, data dirs
    * deleted). Single-writer contract: do not run concurrently with a
    * committer. */
  def vacuum(
      spark: SparkSession, root: String, keepVersions: Int,
      protect: Set[Int] = Set.empty): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val f = fs(spark, root)
    if (!f.exists(new Path(root))) return (0, 0) // never-written root
    val vs = versions(spark, root)
    // session-bound versions survive like explicitly protected ones —
    // the same binding contract as Snapshots.vacuum, since a
    // spark.graft.snapshot binding can point at either layer — and so
    // do versions pinned by a registered live lane (round 17): a lane
    // cut must stay readable as long as the lane retains it
    val keepSet = protect ++ Snapshots.boundVersions(spark, root) ++
      lanePinnedVersions(spark, root)
    val drop = vs.dropRight(keepVersions).filterNot(keepSet)
    val keep = vs.filterNot(drop.contains)
    val dropSet = drop.toSet
    // liveness first, while every chain file is still intact — plus
    // the clone refcount (round 17): a shallow clone's retained
    // manifests reference this root's directories by absolute URI;
    // garbage-collecting them would break a LIVE table elsewhere
    val live = keep.flatMap(readManifest(spark, root, _).entries)
      .map(_._2).toSet ++ cloneReferencedDirs(spark, root)
    // self-containment: a kept version whose delta chain passes through
    // a to-be-dropped file gets its own full checkpoint BEFORE anything
    // is deleted (ascending order, so a checkpoint written for an older
    // kept version already shortens the chain of newer ones)
    keep.foreach { v =>
      if (chainBroken(spark, root, v, dropSet) &&
          !writeCheckpoint(spark, root, v, readManifest(spark, root, v)))
        // LOUD here, unlike the commit path: deleting the chain after
        // a silently-failed self-containment checkpoint would leave a
        // kept version unreadable
        throw new java.io.IOException(
          s"vacuum could not self-contain kept version v$v under " +
            s"$root; aborting before deleting its delta chain")
    }
    drop.foreach { v =>
      f.delete(manifestPath(root, v), false)
      f.delete(checkpointPath(root, v), false)
    }
    val dataDir = new Path(root, "data")
    var removed = 0
    if (f.exists(dataDir)) f.listStatus(dataDir).foreach { st =>
      if (!live.contains(s"data/${st.getPath.getName}")) {
        f.delete(st.getPath, true)
        removed += 1
      }
    }
    if (f.exists(manifestDir(root)))
      f.listStatus(manifestDir(root)).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") && n.endsWith(".tmp")) f.delete(st.getPath, false)
      }
    // crashed-batch staging dirs are garbage too
    f.listStatus(new Path(root)).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".staging-"))
        f.delete(st.getPath, true)
    }
    // re-anchor the latest-version hint: vacuum is the one operation
    // that creates GAPS in the version sequence (protected old versions
    // survive below dropped ranges), and latestVersion's forward probe
    // assumes contiguity above the hint — a hint stuck at a SURVIVING
    // version below a gap would resolve "latest" to that protected OLD
    // version. Unlike the commit path (where a failed hint write only
    // costs the listing fallback), a GAP-FORMING vacuum must re-anchor
    // LOUDLY (round-12 advice item 1): if the write fails, remove the
    // possibly-stale hint (a MISSING hint falls back to the listing —
    // always correct); if even that leaves a stale value on disk,
    // throw — silently returning would serve the old version forever.
    // Non-gap-forming vacuums (keep entirely above drop) stay
    // best-effort: a stale hint there names a DELETED manifest, which
    // latestVersion already rejects into the listing fallback.
    val gapFormed =
      keep.nonEmpty && drop.nonEmpty && keep.min < drop.max
    if (keep.nonEmpty && !writeHint(spark, root, keep.last) && gapFormed) {
      val stale =
        try {
          f.delete(hintPath(root), false)
          f.exists(hintPath(root)) && {
            val in = f.open(hintPath(root))
            val s = try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString.trim finally in.close()
            scala.util.Try(s.toInt).toOption.exists(_ != keep.last)
          }
        } catch { case scala.util.control.NonFatal(_) => true }
      if (stale)
        throw new java.io.IOException(
          s"vacuum dropped versions under $root but could neither " +
            s"re-anchor nor remove ${hintPath(root)}; a stale hint " +
            "below a version gap would silently serve an old version " +
            "as latest — repair the hint file before reading")
    }
    (drop.size, removed)
  }

  /** Would reconstructing `v` touch any version in `dropSet`? Walks
    * the delta chain the same way [[readManifest]] does, stopping at a
    * checkpoint or full manifest. */
  private def chainBroken(
      spark: SparkSession, root: String, v: Int,
      dropSet: Set[Int]): Boolean = {
    var cur = v
    while (true) {
      if (dropSet(cur)) return true
      // readCheckpoint, not a bare exists(): a torn checkpoint must not
      // vouch for self-containment — the chain behind it is about to
      // be deleted
      if (readCheckpoint(spark, root, cur).isDefined) return false
      parseManifestFile(spark, root, manifestPath(root, cur)).deltaBase
        match {
          case None => return false
          case Some(b) => cur = b
        }
    }
    false
  }
}
