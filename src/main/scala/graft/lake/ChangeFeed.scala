package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType, StructType}

/** Row-level change feed over [[SnapshotTable]] versions — the READ
  * side of the CDC story. [[graft.streaming.CdcStream]] applies change
  * batches INTO a table; this derives the changes back OUT of the
  * committed version history, so downstream consumers (a search index,
  * a feature store, a replica) can follow a governed table without
  * access to the upstream feed — the same role Delta's
  * `table_changes`/CDF and Iceberg's incremental reads play.
  *
  * The feed is computed, not logged: a version step's changes are the
  * exact row-level difference between the step's TOUCHED partitions at
  * the two versions (`EXCEPT ALL` both ways), where "touched" comes
  * from the manifest diff — the (partition key -> directory) mapping
  * names exactly the partitions a commit rewrote, because directories
  * are immutable and every commit re-maps the keys it changed
  * ([[SnapshotTable.entriesFor]]). Untouched partitions are never
  * listed, let alone read, so a step's cost is O(changed partitions) —
  * the same bound as the commit that produced it — and an update shows
  * up as the standard delete+insert pair. No change files are written
  * at commit time and no write-path cost is added; the trade is that
  * deriving a step re-reads the touched partitions at both versions,
  * which is the right side of the trade at a 5-minute CDC cadence
  * (commits must be cheap; feeds drain on their own schedule).
  *
  * Availability follows retention: deriving step v needs versions v-1
  * and v readable, so a consumer that falls behind
  * [[SnapshotTable.vacuum]]'s retention window fails LOUDLY (the
  * missing-version check below) instead of silently skipping changes —
  * the vacuum caller owns the "keep what the slowest consumer needs"
  * contract, same as its protected-anchor handling for the
  * incremental maintainers.
  *
  * Output schema: the table's columns (newest version's order, with
  * columns that existed only at older versions appended — rows from
  * vintages lacking a column carry NULL, the read contract evolution
  * already has) plus [[ChangeTypeCol]] ("insert" | "delete") and
  * [[VersionCol]] (the version that committed the change). Map-typed
  * columns are rejected up front: `EXCEPT ALL` needs set-op-comparable
  * rows, and maps are the one Spark type without an equality — feed a
  * map column through `map_entries` in a derived table if it must be
  * followed.
  */
object ChangeFeed {
  val ChangeTypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val Insert = "insert"
  val Delete = "delete"
  val UpdatePre = "update_preimage"
  val UpdatePost = "update_postimage"

  /** Delta-CDF-style update pairing over a feed frame: within one
    * committed version, a delete and an insert sharing `key` are the
    * two faces of ONE update — relabel them [[UpdatePre]] /
    * [[UpdatePost]] so consumers that treat updates specially (audit
    * trails, before/after diffs) need no self-join. Keys with only one
    * face in a version (a true insert or delete), or with several
    * (duplicate-key tables), keep their raw labels — pairing is only
    * claimed where it is unambiguous. Pure frame transform, composable
    * with [[between]] / [[netBetween]] / the streaming source's
    * batches; cost is one feed-sized shuffle on (version, key). */
  def withUpdatePairs(changes: DataFrame, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(VersionCol), col(key))
    val nDel = sum(when(col(ChangeTypeCol) === Delete, 1L)
      .otherwise(0L)).over(w)
    val nIns = sum(when(col(ChangeTypeCol) === Insert, 1L)
      .otherwise(0L)).over(w)
    changes
      .withColumn(ChangeTypeCol,
        when(nDel === 1L && nIns === 1L,
          when(col(ChangeTypeCol) === Delete, lit(UpdatePre))
            .otherwise(lit(UpdatePost)))
          .otherwise(col(ChangeTypeCol)))
  }

  /** Changes committed AFTER `fromVersion`, up to and including
    * `toVersion` (default: latest), labeled per committing version —
    * `between(root, 0)` replays the whole history, bootstrap commit
    * included, as inserts/deletes in commit order. One frame, safe to
    * aggregate or write; deterministic row set (ordering within the
    * frame is not defined — changes are sets, order by [[VersionCol]]
    * and a key downstream when order matters). */
  def between(
      spark: SparkSession, root: String,
      fromVersion: Int, toVersion: Int = -1): DataFrame = {
    val toV =
      if (toVersion >= 0) toVersion
      else SnapshotTable.latest(spark, root).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot-table version committed under $root"))
    require(fromVersion >= 0,
      s"fromVersion must be >= 0 (0 = before the bootstrap commit), " +
        s"got $fromVersion")
    require(fromVersion <= toV,
      s"fromVersion v$fromVersion is after toVersion v$toV")
    // fail loudly when retention already dropped part of the range: a
    // feed with silent holes is worse than a dead feed
    val needed = math.max(fromVersion, 1) to toV
    val gone = needed.filterNot(SnapshotTable.hasVersion(spark, root, _))
    require(gone.isEmpty,
      s"change feed needs versions v${needed.head}..v$toV of $root, " +
        s"but ${gone.map("v" + _).mkString(", ")} " +
        "have been vacuumed — resync the consumer from a full read")

    // one manifest read per version boundary (each serves as "new" for
    // step v and "old" for step v+1)
    val manifests = scala.collection.mutable.Map.empty[Int,
      SnapshotTable.Manifest]
    def manifestOf(v: Int): SnapshotTable.Manifest =
      manifests.getOrElseUpdate(v, SnapshotTable.manifestAt(spark, root, v))
    val steps = ((fromVersion + 1) to toV).map { v =>
      val oldM = if (v == 1) None else Some(manifestOf(v - 1))
      val newM = manifestOf(v)
      val oldE: Map[String, String] =
        oldM.map(_.entries.toMap).getOrElse(Map.empty)
      val newE = newM.entries.toMap
      // the dv-aware diff: a deletion-vector commit moves rows without
      // moving a directory, and the dv-aware reads at the two versions
      // then yield the newly-deleted rows as ordinary deletes
      val changed =
        oldM.fold(newE.keySet)(SnapshotTable.changedKeysOf(_, newM))
      val old =
        if (v == 1 || changed.forall(!oldE.contains(_))) None
        else Some(SnapshotTable.selectDirs(spark, root, oldM.get,
          k => changed(k) && oldE.contains(k)))
      val nw =
        if (changed.forall(!newE.contains(_))) None
        else Some(SnapshotTable.selectDirs(spark, root, newM,
          k => changed(k) && newE.contains(k)))
      (v, old, nw)
    }

    // one column universe across every involved vintage: newest
    // version's order first, older-only columns appended
    val latestSchema = feedBaseSchema(spark, root, toV)
    val cols = scala.collection.mutable.LinkedHashMap[String, DataType](
      latestSchema.fields.map(f => f.name -> f.dataType).toIndexedSeq: _*)
    steps.foreach { case (_, o, n) =>
      (o.toSeq ++ n.toSeq).foreach(_.schema.fields.foreach { f =>
        if (!cols.contains(f.name)) cols += f.name -> f.dataType
      })
    }
    cols.foreach { case (name, dt) =>
      require(!containsMap(dt),
        s"change feed cannot compare map-typed column '$name' " +
          "(no equality on maps); derive a map_entries view instead")
    }
    def align(df: DataFrame): DataFrame =
      df.select(cols.map { case (name, dt) =>
        if (df.columns.contains(name)) col(name).cast(dt)
        else lit(null).cast(dt).as(name)
      }.toSeq: _*)
    val empty = align(SnapshotTable.emptyFrame(spark, latestSchema))

    val parts = steps.flatMap { case (v, o, n) =>
      stepDiff(o.map(align), n.map(align), v.toLong)
    }
    parts.reduceOption(_.union(_)).getOrElse(
      empty
        .withColumn(ChangeTypeCol, lit(Insert))
        .withColumn(VersionCol, lit(0L))
        .limit(0))
  }

  /** The NET change between two versions as one diff — what a
    * state-replicating consumer (a replica table, a cache) applies
    * when it does not care which intermediate commit moved a row:
    * rows that churned back to their `fromVersion` state across the
    * range cancel out entirely, and a partition rewritten five times
    * is read twice, not ten. [[VersionCol]] carries `toVersion` on
    * every row. Same touched-partition bound, derived from the two
    * endpoint manifests only — intermediate versions need not even be
    * retained. */
  def netBetween(
      spark: SparkSession, root: String,
      fromVersion: Int, toVersion: Int = -1): DataFrame = {
    val toV =
      if (toVersion >= 0) toVersion
      else SnapshotTable.latest(spark, root).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot-table version committed under $root"))
    require(fromVersion >= 0 && fromVersion <= toV,
      s"need 0 <= fromVersion <= toVersion, got v$fromVersion..v$toV")
    if (fromVersion > 0)
      require(SnapshotTable.hasVersion(spark, root, fromVersion),
        s"version v$fromVersion of $root has been vacuumed — " +
          "resync the consumer from a full read")
    // an explicitly-passed toVersion gets the same guidance as from:
    // a vacuumed/never-committed endpoint must not surface as a raw
    // manifest-read failure
    if (toVersion >= 0 && toV > 0)
      require(SnapshotTable.hasVersion(spark, root, toV),
        s"version v$toV of $root has been vacuumed or never " +
          "committed — resync the consumer from a full read")
    val oldM =
      if (fromVersion == 0) None
      else Some(SnapshotTable.manifestAt(spark, root, fromVersion))
    val newM = SnapshotTable.manifestAt(spark, root, toV)
    val oldE: Map[String, String] =
      oldM.map(_.entries.toMap).getOrElse(Map.empty)
    val newE = newM.entries.toMap
    // same dv-aware diff as between(): an unchanged directory whose
    // deletion vectors moved across the range is a changed partition
    val changed =
      oldM.fold(newE.keySet)(SnapshotTable.changedKeysOf(_, newM))

    val latestSchema = feedBaseSchema(spark, root, toV)
    val old =
      if (fromVersion == 0 || changed.forall(!oldE.contains(_))) None
      else Some(SnapshotTable.selectDirs(spark, root, oldM.get,
        k => changed(k) && oldE.contains(k)))
    val nw =
      if (changed.forall(!newE.contains(_))) None
      else Some(SnapshotTable.selectDirs(spark, root, newM,
        k => changed(k) && newE.contains(k)))

    val cols = scala.collection.mutable.LinkedHashMap[String, DataType](
      latestSchema.fields.map(f => f.name -> f.dataType).toIndexedSeq: _*)
    (old.toSeq ++ nw.toSeq).foreach(_.schema.fields.foreach { f =>
      if (!cols.contains(f.name)) cols += f.name -> f.dataType
    })
    cols.foreach { case (name, dt) =>
      require(!containsMap(dt),
        s"change feed cannot compare map-typed column '$name' " +
          "(no equality on maps); derive a map_entries view instead")
    }
    def align(df: DataFrame): DataFrame =
      df.select(cols.map { case (name, dt) =>
        if (df.columns.contains(name)) col(name).cast(dt)
        else lit(null).cast(dt).as(name)
      }.toSeq: _*)
    val empty = align(SnapshotTable.emptyFrame(spark, latestSchema))
    // same one-pass diff as [[between]]'s steps
    stepDiff(old.map(align), nw.map(align), toV.toLong)
      .reduceOption(_.union(_))
      .getOrElse(empty
        .withColumn(ChangeTypeCol, lit(Insert))
        .withColumn(VersionCol, lit(toV.toLong))
        .limit(0))
  }

  /** One version step's row-level diff as insert/delete frames — the
    * round-20 single-pass shape (guide §2.3):
    *
    *  - a statically-EMPTY side short-circuits entirely: `A EXCEPT ALL
    *    ∅ = A` and `∅ EXCEPT ALL A = ∅` by multiset algebra, but Spark
    *    plans the full rewrite regardless (union ±1 → groupBy over
    *    EVERY column → replicate) — a corpus-width full-row shuffle
    *    for a no-op. The bootstrap step (v1, no old side) is exactly
    *    the whole-table case: replaying a feed from v0 paid that
    *    shuffle to diff against nothing;
    *  - when BOTH sides exist, the delete and insert directions are
    *    ONE signed-count pass — tag new +1 / old −1, group by every
    *    column, sum: a positive net count is that many inserts, a
    *    negative one that many deletes. Identical multiset semantics
    *    to the old `(new EXCEPT ALL old) ∪ (old EXCEPT ALL new)` pair
    *    (which read each side twice and shuffled twice), null-safe
    *    grouping equality matching set-op equality. No hashes are
    *    involved — rows compare by value, so no collision risk.
    */
  private def stepDiff(
      oldA: Option[DataFrame], newA: Option[DataFrame],
      v: Long): Seq[DataFrame] = {
    def mark(df: DataFrame, tpe: String): DataFrame = df
      .withColumn(ChangeTypeCol, lit(tpe))
      .withColumn(VersionCol, lit(v))
    (oldA, newA) match {
      case (None, None) => Nil
      case (None, Some(nw)) => Seq(mark(nw, Insert))
      case (Some(od), None) => Seq(mark(od, Delete))
      case (Some(od), Some(nw)) =>
        val dataCols = nw.columns.toSeq
        // internal column names that cannot collide with table columns
        val base = Iterator.from(0).map {
          case 0 => "_graft_cf"
          case i => s"_graft_cf_$i"
        }.find(b => !dataCols.contains(s"${b}_sgn") &&
          !dataCols.contains(s"${b}_n") && !dataCols.contains(s"${b}_r"))
          .get
        val sgn = s"${base}_sgn"; val net = s"${base}_n"; val rep = s"${base}_r"
        val counted = nw.withColumn(sgn, lit(1L))
          .unionByName(od.withColumn(sgn, lit(-1L)))
          .groupBy(dataCols.map(col): _*)
          .agg(sum(col(sgn)).as(net))
          .filter(col(net) =!= 0L)
        val replicated = counted
          .withColumn(ChangeTypeCol,
            when(col(net) > 0, lit(Insert)).otherwise(lit(Delete)))
          .withColumn(rep, explode(expr(
            s"array_repeat(1, CAST(abs($net) AS INT))")))
          .select((dataCols.map(col) :+ col(ChangeTypeCol)): _*)
          .withColumn(VersionCol, lit(v))
        Seq(replicated)
    }
  }

  /** The feed's output schema at `version` (default latest): table
    * columns + the two change columns — what the streaming source
    * declares before any batch runs. */
  def feedSchema(
      spark: SparkSession, root: String, version: Int = -1): StructType = {
    val base = feedBaseSchema(spark, root, version)
    new StructType(base.fields)
      .add(ChangeTypeCol, org.apache.spark.sql.types.StringType,
        nullable = false)
      .add(VersionCol, org.apache.spark.sql.types.LongType,
        nullable = false)
  }

  private def feedBaseSchema(
      spark: SparkSession, root: String, version: Int): StructType =
    SnapshotTable.read(spark, root, version).schema


  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
    case _ => false
  }
}
