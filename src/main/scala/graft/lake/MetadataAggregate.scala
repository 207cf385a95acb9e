package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Metadata-only aggregates over governed lake tables (round 15): a
  * `COUNT(*)` / `MIN` / `MAX` / `GROUP BY partition` query whose every
  * input is already recorded in the manifest answers from the manifest
  * — the scan relation is replaced by a driver-built [[LocalRelation]]
  * of one row per live DIRECTORY carrying the partition tuple, its
  * summed `#n` row count, and the per-directory fold of the `#f`
  * min/max stats. At 100 TB that is the difference between a dashboard
  * `SELECT dt, COUNT(*) … GROUP BY dt` opening zero files and one
  * opening every footer of every partition — the DSv2-lake analog of
  * Iceberg's metadata-answered aggregates and of Spark's retired
  * Hive-metastore `OptimizeMetadataOnlyQuery` (retired upstream
  * because metastore partitions can exist with NO files and flip
  * DISTINCT/GROUP BY results; the manifest has no such seam — an entry
  * exists iff its directory was written with files, counts come from
  * the written files' own footers, and empty directories are dropped
  * below so a zero-row partition can never surface as a group the data
  * scan would not produce).
  *
  * The rewrite fires only when ALL of the following hold — anything
  * else falls through to the data scan, so correctness never depends
  * on this rule:
  *  - the aggregate sits (through attribute-only Projects and
  *    deterministic, subquery-free Filters) directly on a partitioned
  *    [[LakeTable]] relation;
  *  - every aggregate call is a non-DISTINCT, un-FILTERed
  *    `COUNT(<non-null literal>)` (what `COUNT(*)` compiles to), or
  *    `MIN`/`MAX` of a stats-covered column whose string rendering
  *    provably round-trips (see [[exactRoundTrip]]);
  *  - every other reference (grouping, filters, non-aggregate output)
  *    is a partition column;
  *  - every live file of the snapshot carries a `#n` row count and —
  *    for each MIN/MAX column — a `#f` stats line (partial coverage,
  *    e.g. a file whose footer read failed at commit, disables the
  *    rewrite rather than risking a wrong answer);
  *  - the typed partition/stat values fold to a [[LocalRelation]] at
  *    plan time with no lossy cast (same guard as
  *    [[SnapshotTable.matchingKeys]]) and no Spark job.
  *
  * Version semantics: the manifest is read at the SAME pinned snapshot
  * version the relation would scan ([[LakeTable.snapshotVersion]]), so
  * `VERSION AS OF` answers historically and a concurrent writer cannot
  * skew the count. RBAC composes for free: a restricted role's row
  * filter lands as a Filter on data columns and fails the
  * partition-only reference check — the query silently takes the
  * (role-filtered) scan instead.
  *
  * Install via [[graft.sql.GraftSqlExtensions]] (optimizer-rule slot:
  * the rewrite must see [[DataSourceV2Relation]] before
  * `V2ScanRelationPushDown` turns it into a scan).
  */
object MetadataAggregate extends Rule[LogicalPlan] {

  /** Raised from nested helpers when a coverage hole makes the
    * manifest answer unsafe — NOT a Scala `return`, which inside a
    * local def would return from THAT def and silently turn "fall
    * back to the scan" into "the min is NULL" (the exact bug this
    * suite's min-of-unstats'd-column case caught in review). */
  private final class Unanswerable extends RuntimeException
    with scala.util.control.NoStackTrace

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate =>
      try tryRewrite(agg).getOrElse(agg)
      catch { case scala.util.control.NonFatal(_) => agg }
  }


  /** Types whose Spark cast-to-string rendering (how `#f` stats are
    * recorded) is exactly inverted by the string-to-type cast, so a
    * manifest min/max IS the column's min/max, not an approximation:
    * integrals/boolean/date render canonically; strings are recorded
    * verbatim (no Iceberg-style truncation); decimals render at their
    * fixed scale; float/double use Java's shortest-round-trip
    * `toString` (parse is its exact inverse, incl. NaN/Infinity);
    * timestamps render to microsecond precision under the session
    * zone, which this engine pins to UTC everywhere. */
  private def exactRoundTrip(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         StringType | DateType | FloatType | DoubleType | TimestampType =>
      true
    case _: DecimalType => true
    case _ => false
  }

  private def noSubquery(e: Expression): Boolean =
    !e.exists(_.isInstanceOf[PlanExpression[_]])

  /** Attributes referenced OUTSIDE aggregate calls (an aggregate's
    * argument is answered from the injected stat columns; everything
    * else must be a partition column). */
  private def outerRefs(e: Expression): Seq[Attribute] = e match {
    case _: AggregateExpression => Nil
    case a: Attribute => Seq(a)
    case other => other.children.flatMap(outerRefs)
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    // ---- shape: Aggregate over [Filter|Project(attrs)]* over a
    // partitioned LakeTable relation --------------------------------
    var node: LogicalPlan = agg.child
    var conds = List.empty[Expression]
    var found: Option[LakeTable] = None
    var done = false
    while (!done) node match {
      case f: Filter => conds ::= f.condition; node = f.child
      case p: Project
          if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        node = p.child
      case r: DataSourceV2Relation =>
        r.table match {
          case lt: LakeTable if lt.partitionCols.nonEmpty =>
            found = Some(lt)
          case _ => ()
        }
        done = true
      case _ => done = true
    }
    val lt = found.getOrElse(return None)
    val rel = node.asInstanceOf[DataSourceV2Relation]
    val partAttrs: Map[String, Attribute] = lt.partitionCols.flatMap(c =>
      rel.output.find(a => conf.resolver(a.name, c)).map(c -> _)).toMap
    if (partAttrs.size != lt.partitionCols.size) return None
    // grouping values (and partition-column MIN/MAX) come back from
    // the directory keys' string renderings — the same cast-to-string
    // round-trip every keyed mutation relies on, but REQUIRED to be
    // provably exact here because the values reach the user
    if (!partAttrs.values.forall(a => exactRoundTrip(a.dataType)))
      return None
    val partSet = AttributeSet(partAttrs.values)

    // ---- expression admissibility ---------------------------------
    if (!conds.forall(c => c.deterministic && noSubquery(c) &&
        c.references.subsetOf(partSet))) return None
    if (!agg.groupingExpressions.forall(g => g.deterministic &&
        noSubquery(g) && g.references.subsetOf(partSet))) return None
    if (!agg.aggregateExpressions.forall(e => e.deterministic &&
        noSubquery(e) &&
        outerRefs(e).forall(partSet.contains))) return None

    val aggCalls = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    // each call must be convertible; collect the stat columns needed
    val minCols = scala.collection.mutable.LinkedHashSet.empty[Attribute]
    val maxCols = scala.collection.mutable.LinkedHashSet.empty[Attribute]
    aggCalls.foreach { ae =>
      if (ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case Count(children)
            if !ae.isDistinct && children.nonEmpty && children.forall(c =>
              c.foldable && c.eval(null) != null) => ()
        // MIN/MAX of a partition column needs no stats at all: the
        // value is constant per directory and every emitted directory
        // is non-empty, so the call evaluates over the tuple itself
        case Min(a: Attribute) if partSet.contains(a) => ()
        case Max(a: Attribute) if partSet.contains(a) => ()
        case Min(a: AttributeReference) if exactRoundTrip(a.dataType) &&
            rel.output.exists(_.exprId == a.exprId) => minCols += a
        case Max(a: AttributeReference) if exactRoundTrip(a.dataType) &&
            rel.output.exists(_.exprId == a.exprId) => maxCols += a
        case _ => return None
      }
    }

    // ---- manifest coverage ----------------------------------------
    // the manifest caches ON THE RELATION'S LakeTable instance, so
    // fixed-point optimizer iterations over a qualifying-but-
    // uncovered aggregate re-read it zero times (round-15 review
    // item 9) while a fresh resolution always reads fresh state
    val spark = SparkSession.active
    val m = lt.manifest
    if (m.entries.exists(_._1.split("/", -1).length !=
        lt.partitionCols.length)) return None
    val rowsByFile = m.fileRows.toMap
    val statByFileCol = m.fileStats
      .map(fs => (fs.relPath, fs.column) -> fs).toMap
    // deletion vectors (round 18): COUNTs subtract the per-file
    // deleted-position count (exact by construction); MIN/MAX over a
    // dv-carrying file DECLINES to the scan — the deleted row may BE
    // the recorded bound, and the manifest cannot know
    val dvByFile: Map[String, Long] =
      m.fileDvs.map(d => d._1 -> d._2).toMap
    val statCols = (minCols ++ maxCols).toSeq.map(_.name)
    // #f lines key by PHYSICAL column name (stable across renames);
    // the aggregate references logical attributes
    val colMap = SnapshotTable.mappingOf(lt.recordedSchema)
    def physOf(c: String): String = colMap.getOrElse(c, c)

    // one row per live directory: raw partition fragments + summed
    // rows + per-column folded min/max renderings. Any coverage hole
    // (file without `#n`, missing `#f` line, NaN-ish float bound)
    // aborts the rewrite.
    final case class DirRow(frags: Seq[String], rows: Long,
        mins: Seq[Option[String]], maxs: Seq[Option[String]])
    val dirRows =
      try m.entries.map { case (key, dir) =>
        val files = m.filesByDir(dir).map(_._1)
        var rows = 0L
        files.foreach(f =>
          rows += rowsByFile.getOrElse(f, throw new Unanswerable) -
            dvByFile.getOrElse(f, 0L))
        def fold(c: String, wantMin: Boolean): Option[String] = {
          val dt = (minCols ++ maxCols).find(_.name == c).get.dataType
          val bounds = files.flatMap { f =>
            if (dvByFile.contains(f)) throw new Unanswerable
            statByFileCol.get((f, physOf(c))) match {
              case Some(SnapshotTable.FileStat(_, _, None, None)) => None
              case Some(SnapshotTable.FileStat(_, _, Some(mn), Some(mx))) =>
                val b = if (wantMin) mn else mx
                // NaN-ish bound: NaN-is-greatest ordering was in play,
                // the rendering has no usable order — scan instead
                if (SnapshotTable.nonFinite(dt, b))
                  throw new Unanswerable
                Some(b)
              case _ => throw new Unanswerable // partial/absent line
            }
          }
          if (bounds.isEmpty) None
          else Some(bounds.reduce((a, b) =>
            if (wantMin ^ (SnapshotTable.cmp(dt, a, b) > 0)) a else b))
        }
        DirRow(key.split("/", -1).toSeq.map(SnapshotTable.unescapeKey),
          rows,
          statCols.map(fold(_, wantMin = true)),
          statCols.map(fold(_, wantMin = false)))
      }.filter(_.rows > 0) // an empty directory must not surface a group
      catch { case _: Unanswerable => return None }

    // ---- typed LocalRelation (matchingKeys pattern: fold at plan
    // time, zero Spark jobs, lossy casts abort) ----------------------
    val pby = lt.partitionCols
    val rawPfx = "__graft_raw_"
    val rawSchema = StructType(
      pby.map(c => StructField(s"$rawPfx$c", StringType)) ++
        Seq(StructField("__graft_rows", LongType, nullable = false)) ++
        statCols.flatMap(c => Seq(
          StructField(s"${rawPfx}min_$c", StringType),
          StructField(s"${rawPfx}max_$c", StringType))))
    val rawRows = dirRows.map(d => org.apache.spark.sql.Row.fromSeq(
      d.frags ++ Seq(java.lang.Long.valueOf(d.rows)) ++
        statCols.indices.flatMap(i =>
          Seq(d.mins(i).orNull, d.maxs(i).orNull))))
    val raw = spark.createDataFrame(rawRows.asJava, rawSchema)
    def dtOf(c: String): DataType =
      (minCols ++ maxCols).find(_.name == c).get.dataType
    val typed = raw.select(
      (pby.map(c => col(s"$rawPfx$c").cast(partAttrs(c).dataType).as(c)) ++
        Seq(col("__graft_rows")) ++
        statCols.flatMap(c => Seq(
          col(s"${rawPfx}min_$c").cast(dtOf(c)).as(s"min_$c"),
          col(s"${rawPfx}max_$c").cast(dtOf(c)).as(s"max_$c")))): _*)
    def localData(df: org.apache.spark.sql.DataFrame)
        : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
      df.queryExecution.optimizedPlan match {
        case l: LocalRelation => Some(l.data)
        case _ => None
      }
    // a rendering that does not survive its cast would silently drop a
    // partition (or mis-answer a min/max): abort on any such row
    val lossyCols =
      pby.map(c => col(c).isNull && col(s"$rawPfx$c").isNotNull) ++
        statCols.flatMap(c => Seq(
          col(s"min_$c").isNull && col(s"${rawPfx}min_$c").isNotNull,
          col(s"max_$c").isNull && col(s"${rawPfx}max_$c").isNotNull))
    val probe = raw.select(
      (pby.map(c => col(s"$rawPfx$c").cast(partAttrs(c).dataType).as(c)) ++
        statCols.flatMap(c => Seq(
          col(s"${rawPfx}min_$c").cast(dtOf(c)).as(s"min_$c"),
          col(s"${rawPfx}max_$c").cast(dtOf(c)).as(s"max_$c"))) ++
        rawSchema.fieldNames.map(col)): _*)
      .filter(lossyCols.reduce(_ || _)).limit(1)
    if (!localData(probe).exists(_.isEmpty)) return None
    // a null partition value cannot live in a non-nullable attribute
    if (pby.exists(c => !partAttrs(c).nullable &&
        dirRows.exists(_.frags(pby.indexOf(c)) == null))) return None

    val data = localData(typed).getOrElse(return None)
      .map(_.copy()) // own the rows: folded output may reuse buffers

    val rowsAttr =
      AttributeReference("__graft_rows", LongType, nullable = false)()
    val minAttr = minCols.map(a => a.exprId ->
      AttributeReference(s"__graft_min_${a.name}", a.dataType)()).toMap
    val maxAttr = maxCols.map(a => a.exprId ->
      AttributeReference(s"__graft_max_${a.name}", a.dataType)()).toMap
    val output: Seq[Attribute] =
      pby.map(partAttrs) ++ Seq(rowsAttr) ++
        statCols.flatMap { c =>
          val src = (minCols ++ maxCols).find(_.name == c).get
          Seq(minAttr.getOrElse(src.exprId,
              AttributeReference(s"__graft_min_${c}", src.dataType)()),
            maxAttr.getOrElse(src.exprId,
              AttributeReference(s"__graft_max_${c}", src.dataType)()))
        }
    val local = LocalRelation(output, data)

    val newChild = conds.foldLeft(local: LogicalPlan)((p, c) => Filter(c, p))
    val newAggExprs = agg.aggregateExpressions.map(_.transform {
      case ae: AggregateExpression => ae.aggregateFunction match {
        case _: Count =>
          Coalesce(Seq(Sum(rowsAttr).toAggregateExpression(), Literal(0L)))
        case Min(a: AttributeReference) if minAttr.contains(a.exprId) =>
          Min(minAttr(a.exprId)).toAggregateExpression()
        case Max(a: AttributeReference) if maxAttr.contains(a.exprId) =>
          Max(maxAttr(a.exprId)).toAggregateExpression()
        // partition-column MIN/MAX: the attribute is in the local
        // relation's output — evaluate the original call over it
        case _ => ae
      }
    }.asInstanceOf[NamedExpression])
    Some(agg.copy(aggregateExpressions = newAggExprs, child = newChild))
  }
}
