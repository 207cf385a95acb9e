package graft.lake

import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{AssignmentUtils, EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, count, count_distinct, lit, when}
import org.apache.spark.sql.graft.{Bridge, SqlRewrite}

/** SQL `MERGE INTO` / `UPDATE` on lake-catalog tables (round-14 verdict
  * item 1) — the reference's whole mutation plane is engine-side SQL
  * (`README.md:44-100`), and MERGE is the single most-typed lakehouse
  * statement.
  *
  * The seam is a session-extension resolution rule (the pattern Delta
  * Lake itself ships MERGE with: `DeltaSparkSessionExtension` rewrites
  * `MergeIntoTable` into its own command), NOT Spark's DSv2
  * `SupportsRowLevelOperations`/`SupportsDelta` hook, for two
  * engine-structural reasons:
  *
  *  1. the delta-write hook hard-requires NON-NULLABLE row-id
  *     attributes (`QueryCompilationErrors.nullableRowIdError` in
  *     `RewriteRowLevelCommand.resolveRowIdAttrs`) — a parquet-backed
  *     relation is honestly all-nullable, and serving a falsely
  *     non-nullable schema to every read just to unlock MERGE would
  *     let the optimizer miscompile null handling on ordinary queries;
  *  2. its executor-side `DeltaWriter`s would have to stage change rows
  *     and re-read them for the commit, while this engine's commit
  *     protocol ([[SnapshotTable.applyChanges]]) is already a
  *     driver-orchestrated distributed merge with OCC manifest publish
  *     — the rule routes the statement straight onto that line, so a
  *     SQL MERGE is bit-for-bit the same commit as the API mutator the
  *     oracle already gates (t40/t51).
  *
  * Install: build the session with
  * `.config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")`
  * (or `withExtensions`). Everything else about the lake catalog stays
  * pure conf; only the DML statements need the build-time hook, because
  * analyzer rule sets are fixed at session construction.
  *
  * Semantics and loud limits (all spec-pinned in `LakeDmlSpec`):
  *  - MERGE requires the table's recorded row key (manifest `#rowkey`,
  *    written by every keyed mutation or [[SnapshotTable.declareKey]]);
  *    matched rows are identified by that key — sound because the
  *    keyed-table contract makes keys unique.
  *  - A target row matched by MORE than one source row fails loudly
  *    (the ambiguous-merge cardinality error every lakehouse raises).
  *  - An UPDATE assignment (in MERGE) may not move a row across
  *    partitions — the change-batch contract of [[SnapshotTable
  *    .applyChanges]] (a key's partition is stable); rewrite as
  *    DELETE + INSERT, or use SQL UPDATE, which routes through
  *    [[SnapshotTable.overwriteWhere]] and handles partition moves.
  *  - A MERGE insert whose key already exists in the target (possible
  *    only under a non-key ON condition) fails loudly rather than
  *    silently upserting; the canonical `ON t.k = s.k … INSERT` shape
  *    proves this statically and skips the runtime check.
  *  - Subqueries and non-deterministic predicates in conditions are
  *    refused (put the logic in the MERGE source query); historical
  *    resolutions (`VERSION AS OF`, `@vN` pins) are immutable.
  */
object LakeDml extends Rule[LogicalPlan] {

  private def asLake(plan: LogicalPlan): Option[(DataSourceV2Relation, LakeTable)] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case t: LakeTable => Some((r, t))
        case _ => None
      }
      case _ => None
    }

  private def deny(message: String): Nothing = throw new AnalysisException(
    errorClass = "INTERNAL_ERROR", messageParameters = Map("message" -> message))

  private def requireWritable(t: LakeTable, op: String): Unit =
    if (!t.writable) deny(
      s"$op on ${t.tableName}: historical versions are immutable — " +
        "DML runs against a table resolved at latest (no VERSION AS " +
        "OF, no @vN binding pin)")

  private def noSubquery(es: Seq[Expression], stmt: String): Unit =
    es.foreach { e =>
      if (e.exists(_.isInstanceOf[PlanExpression[_]]))
        deny(s"$stmt on a lake table does not allow subqueries in " +
          "conditions or assignments; put the logic in the source query")
    }

  private def mustBeDeterministic(es: Seq[Expression], stmt: String): Unit =
    es.foreach { e =>
      if (!e.deterministic)
        deny(s"$stmt conditions must be deterministic: the predicate " +
          "is evaluated more than once by the touched-partition rewrite")
    }

  private def actionConds(a: MergeAction): Seq[Expression] = a match {
    case UpdateAction(c, _, _) => c.toSeq
    case InsertAction(c, _) => c.toSeq
    case DeleteAction(c) => c.toSeq
    case other => deny(s"unsupported MERGE action: $other")
  }

  private def actionValues(a: MergeAction): Seq[Expression] = a match {
    case UpdateAction(_, as, _) => as.map(_.value)
    case InsertAction(_, as) => as.map(_.value)
    case DeleteAction(_) => Nil
    case other => deny(s"unsupported MERGE action: $other")
  }

  private def align(
      attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      a: MergeAction): MergeAction = a match {
    case ua @ UpdateAction(_, as, _) =>
      ua.copy(assignments =
        AssignmentUtils.alignUpdateAssignments(attrs, as, false, false))
    case InsertAction(c, as) =>
      InsertAction(c, AssignmentUtils.alignInsertAssignments(attrs, as,
        false))
    case d: DeleteAction => d
    case other => deny(s"unsupported MERGE action: $other")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && asLake(target).isDefined =>
      val (rel, table) = asLake(target).get
      requireWritable(table, "UPDATE")
      noSubquery(condition.toSeq ++ assignments.map(_.value), "UPDATE")
      mustBeDeterministic(condition.toSeq, "UPDATE")
      val aligned = AssignmentUtils.alignUpdateAssignments(rel.output,
        assignments, false, false)
      UpdateLakeCommand(table.root, rel, aligned, condition)

    case m: MergeIntoTable if m.resolved && asLake(m.targetTable).isDefined =>
      val (rel, table) = asLake(m.targetTable).get
      requireWritable(table, "MERGE INTO")
      if (m.withSchemaEvolution) deny(
        "MERGE … WITH SCHEMA EVOLUTION is not supported on lake " +
          "tables; evolve first (ALTER TABLE … ADD COLUMN), then MERGE")
      val all = m.matchedActions ++ m.notMatchedActions ++
        m.notMatchedBySourceActions
      noSubquery(m.mergeCondition +: all.flatMap(a =>
        actionConds(a) ++ actionValues(a)), "MERGE INTO")
      mustBeDeterministic(m.mergeCondition +: all.flatMap(actionConds),
        "MERGE INTO")
      MergeIntoLakeCommand(table.root, rel, m.sourceTable, m.mergeCondition,
        m.matchedActions.map(align(rel.output, _)),
        m.notMatchedActions.map(align(rel.output, _)),
        m.notMatchedBySourceActions.map(align(rel.output, _)))
  }
}

/** `UPDATE lake.t SET … [WHERE p]` — updated rows are computed from the
  * resolved snapshot scan, then land through [[SnapshotTable
  * .overwriteWhere]] (delete-matching + insert in ONE OCC commit):
  * touched partitions are the union of the predicate's matches and the
  * updated rows' (possibly NEW) partitions, so an assignment that moves
  * rows across partitions is handled, and a partition-column-only
  * predicate resolves its touched set from the manifest alone. */
final case class UpdateLakeCommand(
    root: String,
    target: DataSourceV2Relation,
    assignments: Seq[Assignment], // aligned: one per table column, in order
    condition: Option[Expression]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    // an UPDATE may not rewrite the table's recorded ROW KEY: the key
    // is the uniqueness invariant every keyed consumer (MERGE's
    // cardinality check, upsert's anti-join, the change feed's
    // update pairing) depends on, and overwriteWhere performs no key
    // validation — `SET key = 0` matching two rows would silently
    // plant duplicates (round-15 review item 1). A key change is a
    // delete + insert: spell it as MERGE INTO or applyChanges.
    SnapshotTable.rowKey(spark, root).foreach { key =>
      val idx = target.output.indexWhere(_.name.equalsIgnoreCase(key))
      if (idx >= 0 && idx < assignments.length) {
        val identity = assignments(idx).value match {
          case ar: AttributeReference => ar.name.equalsIgnoreCase(key)
          case _ => false
        }
        if (!identity) throw new AnalysisException(
          errorClass = "INTERNAL_ERROR", messageParameters = Map(
            "message" -> (s"UPDATE cannot assign the table's recorded " +
              s"row key '$key' — duplicate or NULL keys would break " +
              "every keyed consumer; a key change is a delete+insert " +
              "(MERGE INTO / applyChanges)")))
      }
    }
    val t = SqlRewrite.ofRows(spark, target)
    val filtered = condition.map(c => t.filter(Bridge.column(c))).getOrElse(t)
    val updated = filtered.select(assignments.map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => other.sql
      }
      Bridge.column(a.value).as(name)
    }: _*)
    // overwriteWhere evaluates the predicate over its OWN scans (fresh
    // exprIds), so rebind references by name — every reference is a
    // target column, and UPDATE refuses subqueries, so the rewrite is
    // total and unambiguous
    val byName = condition.map(c => Bridge.column(c.transform {
      case ar: AttributeReference => UnresolvedAttribute.quoted(ar.name)
    })).getOrElse(lit(true))
    SnapshotTable.overwriteWhere(spark, root, updated, byName)
    Nil
  }
}

/** `MERGE INTO lake.t USING src ON cond WHEN …` — evaluates the match
  * with plain distributed joins against the resolved snapshot scan,
  * folds every clause into ONE change batch (op column: update /
  * insert / delete tombstone), and commits it through
  * [[SnapshotTable.applyChanges]] — the same single-version OCC commit
  * the API mutator and the change-feed oracle (t40/t51) already gate.
  *
  * Shape at 100 TB: one inner join (matched), two anti joins (insert /
  * not-matched-by-source) — each a shuffle bounded by |source| plus the
  * scanned target, never all-pairs — then applyChanges rewrites ONLY
  * the partitions the change rows touch. */
final case class MergeIntoLakeCommand(
    root: String,
    target: DataSourceV2Relation,
    source: LogicalPlan,
    cond: Expression,
    matched: Seq[MergeAction],
    notMatched: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction]) extends LeafRunnableCommand {

  private def deny(message: String): Nothing = throw new AnalysisException(
    errorClass = "INTERNAL_ERROR", messageParameters = Map("message" -> message))

  override def run(spark: SparkSession): Seq[Row] = {
    val key = SnapshotTable.rowKey(spark, root).getOrElse(deny(
      s"MERGE INTO needs the table's recorded row key and $root has " +
        "none: run any keyed mutation (upsert/applyChanges) or " +
        "SnapshotTable.declareKey once — the declaration is durable"))
    val pby = SnapshotTable.partitionColumns(spark, root)
    val cols = target.output.map(_.name)
    val keyAttr = target.output.find(_.name.equalsIgnoreCase(key)).getOrElse(
      deny(s"recorded row key '$key' is not a column of the table"))
    // an UPDATE clause may not rewrite the recorded row key — the same
    // invariant the SQL UPDATE command enforces: applyChanges keys
    // change rows by their NEW key, so a rewritten key leaves the OLD
    // row live (silent duplication) or collides with an unrelated
    // existing key. The aligned assignment for the key column must be
    // the key attribute itself (what alignUpdateAssignments produces
    // for an unassigned column).
    val keyIdx = cols.indexWhere(_.equalsIgnoreCase(key))
    (matched ++ notMatchedBySource).foreach {
      case UpdateAction(_, as, _) if keyIdx >= 0 && keyIdx < as.length =>
        val identity = as(keyIdx).value match {
          case ar: AttributeReference => ar.exprId == keyAttr.exprId
          case _ => false
        }
        if (!identity) deny(
          s"MERGE UPDATE assigns the table's recorded row key '$key' — " +
            "a key change is DELETE + INSERT (two clauses), never an " +
            "in-place rewrite: the change batch keys rows by the NEW " +
            "key, so the old row would silently survive")
      case _ => ()
    }

    // auxiliary column names guaranteed free of the table's — the
    // derived oldCols go through the SAME free-name probe (a table
    // column literally named `__graft_op_old_0` must not collide —
    // round-15 review item 8)
    val opCol = Iterator.from(0)
      .map(i => if (i == 0) "__graft_op" else s"__graft_op_$i")
      .find(n => !cols.exists(_.equalsIgnoreCase(n)) &&
        pby.indices.forall(j =>
          !cols.exists(_.equalsIgnoreCase(s"${n}_old_$j")))).get
    val oldCols = pby.indices.map(i => s"${opCol}_old_$i")

    val t = SqlRewrite.ofRows(spark, target)
    val s = SqlRewrite.ofRows(spark, source)
    val condC = Bridge.column(cond)

    /** One clause family -> (rows carrying table cols + op + old
      * partition values). CaseWhen order IS clause order: the first
      * clause whose condition holds acts; no clause -> op NULL -> the
      * row drops out (target row carries forward untouched). */
    def part(
        frame: org.apache.spark.sql.DataFrame, actions: Seq[MergeAction],
        opOf: MergeAction => String,
        carried: Option[Seq[Column]]): org.apache.spark.sql.DataFrame = {
      val branches = actions.map { a =>
        val c = (a match {
          case UpdateAction(cd, _, _) => cd
          case InsertAction(cd, _) => cd
          case DeleteAction(cd) => cd
          case other => deny(s"unsupported MERGE action: $other")
        }).map(Bridge.column(_)).getOrElse(lit(true))
        (c, a)
      }
      // build when-chains front-to-back (foldRight keeps clause order)
      def chain(value: MergeAction => Column): Column =
        branches.foldRight[Column](lit(null)) { case ((c, a), rest) =>
          when(c, value(a)).otherwise(rest)
        }
      val valueCols = cols.zipWithIndex.map { case (name, i) =>
        chain {
          case UpdateAction(_, as, _) => Bridge.column(as(i).value)
          case InsertAction(_, as) => Bridge.column(as(i).value)
          case DeleteAction(_) => carried match {
            case Some(tc) => tc(i)
            case None => deny("DELETE action without a target row")
          }
          case other => deny(s"unsupported MERGE action: $other")
        }.as(name)
      }
      val opChain = chain(a => lit(opOf(a)))
      val olds = pby.indices.map { i =>
        (carried match {
          case Some(tc) => tc(cols.indexWhere(_.equalsIgnoreCase(pby(i))))
          case None => lit(null)
        }).as(oldCols(i))
      }
      frame.select(valueCols ++ Seq(opChain.as(opCol)) ++ olds: _*)
        .filter(col(opCol).isNotNull)
    }

    val targetCols: Option[Seq[Column]] =
      Some(target.output.map(a => Bridge.column(a)))
    val parts = Seq.newBuilder[org.apache.spark.sql.DataFrame]

    // the matched join feeds TWO consumers — the cardinality aggregate
    // and the change-batch build — so it is cached for the command's
    // lifetime; uncached, the most expensive stage (target scan +
    // shuffle join) executed twice (round-15 review item 4)
    val joinedCache =
      if (matched.nonEmpty) Some(t.join(s, condC, "inner").cache())
      else None
    try {
    joinedCache.foreach { joined =>
      // cardinality: a target row matched by >1 source rows makes the
      // clause outcome source-order-dependent — refuse, like every
      // lakehouse MERGE (one aggregation over the matched pairs)
      val card = joined.agg(
        count(lit(1)).as("n"),
        count_distinct(Bridge.column(keyAttr)).as("k")).collect()(0)
      if (card.getLong(0) != card.getLong(1)) deny(
        s"MERGE cardinality violation: ${card.getLong(0) - card.getLong(1)}" +
          " extra match(es) — some target row matches more than one " +
          "source row; de-duplicate the source on the merge key")
      parts += part(joined, matched,
        { case _: DeleteAction => "d"; case _ => "u" }, targetCols)
    }
    if (notMatched.nonEmpty) {
      val ins = s.join(t, condC, "left_anti")
      parts += part(ins, notMatched, _ => "i", None)
    }
    if (notMatchedBySource.nonEmpty) {
      val tOnly = t.join(s, condC, "left_anti")
      parts += part(tOnly, notMatchedBySource,
        { case _: DeleteAction => "d"; case _ => "u" }, targetCols)
    }
    val built = parts.result()
    if (built.isEmpty) return Nil
    val changes = built.reduce(_ unionByName _).cache()
    try {
      // a MERGE update may not move a row across partitions: the
      // change-batch contract (applyChanges: a key's partition is
      // stable; a change row in the wrong partition would be a no-op)
      val movedPred = pby.zipWithIndex.map { case (p, i) =>
        !(col(p) <=> col(oldCols(i)))
      }.reduce(_ || _)
      if (matched.nonEmpty || notMatchedBySource.nonEmpty) {
        if (!changes.filter(col(opCol) === "u" && movedPred).isEmpty) deny(
          "MERGE update assigns a new value to a partition column " +
            s"(${pby.mkString(", ")}) — a change batch cannot move a " +
            "key across partitions; rewrite as WHEN MATCHED DELETE + " +
            "WHEN NOT MATCHED INSERT, or use UPDATE, which handles " +
            "partition moves")
      }
      // inserts of a key that EXISTS but did not match (possible only
      // under a non-key ON condition) would silently upsert — refuse.
      // The canonical `ON t.k = s.expr … INSERT (k = s.expr)` shape
      // proves key-safety statically and skips the runtime probe.
      if (notMatched.nonEmpty && !insertKeySafe(keyAttr)) {
        val collide = changes.filter(col(opCol) === "i")
          .select(col(key).as("_graft_ik"))
          .join(t.select(Bridge.column(keyAttr).as("_graft_ik")), "_graft_ik")
        if (!collide.isEmpty) deny(
          "MERGE insert collides with an existing key that the ON " +
            "condition did not match; the table is key-unique — make " +
            "the ON condition imply key equality or update instead")
      }
      SnapshotTable.applyChanges(spark, root,
        changes.select((cols :+ opCol).map(col): _*), key, pby, opCol)
    } finally changes.unpersist()
    Nil
    } finally joinedCache.foreach(_.unpersist())
  }

  /** True when the ON condition is exactly `t.key = e(source)` and every
    * insert action assigns that same `e` to the key — then an insert
    * row's key cannot pre-exist unmatched, by the anti-join itself. */
  private def insertKeySafe(
      keyAttr: org.apache.spark.sql.catalyst.expressions.Attribute): Boolean = {
    val sourceRefs = source.outputSet
    val keyEq = cond match {
      case EqualTo(l: AttributeReference, r)
          if l.exprId == keyAttr.exprId && r.references.subsetOf(sourceRefs) =>
        Some(r)
      case EqualTo(l, r: AttributeReference)
          if r.exprId == keyAttr.exprId && l.references.subsetOf(sourceRefs) =>
        Some(l)
      case _ => None
    }
    keyEq.exists { e =>
      val ki = target.output.indexWhere(_.exprId == keyAttr.exprId)
      notMatched.forall {
        case InsertAction(_, as) => as(ki).value.semanticEquals(e) ||
          (as(ki).value match {
            case c: org.apache.spark.sql.catalyst.expressions.Cast =>
              c.child.semanticEquals(e)
            case _ => false
          })
        case _ => false
      }
    }
  }
}
