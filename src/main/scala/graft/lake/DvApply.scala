package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** SQL-plane deletion-vector application (round 18; made
  * pruning-preserving in round 19): a [[DataSourceV2Relation]] over a
  * [[LakeTable]] whose pinned snapshot carries live `#dv` lines is
  * SPLIT by directory —
  *
  *  - dv-FREE directories (the overwhelming majority under a steady
  *    delete drip: a vector lives in exactly the files a delete
  *    touched) keep the full DSv2 path, i.e.
  *    [[LakePruningScanBuilder]]'s manifest-directory pruning on
  *    partition filters, per-file sketch admission, and pruned
  *    planner statistics;
  *  - dv-CARRYING directories are served by the dv-aware API read
  *    ([[SnapshotTable.readDirs]] over the relation's own folded
  *    manifest — ManifestScan over just those directories plus the
  *    broadcast position anti-join);
  *
  * and the two halves union under a projection re-labeled to the
  * relation's original attribute ids, so the surrounding plan is
  * untouched. Filters above the splice push into BOTH sides in later
  * iterations of the same fixed-point optimizer batch: the clean side
  * gets directory pruning back, the dirty side gets parquet row-group
  * skipping — the round-18 shape (ANY live vector downgraded EVERY
  * scan of the table to an unpruned whole-table splice) paid a
  * full-directory scan for a `WHERE date = …` query at 100 TB until
  * OPTIMIZE folded the vector. Tables without deletion vectors never
  * match at all, and a relation this rule already split serves no
  * dv-carrying directory, so the rewrite is a natural fixpoint.
  *
  * What the dv-carrying DIRECTORIES still trade while their vectors
  * live: plan-time pruning among themselves (they are always scanned;
  * parquet row-group skipping and column pruning still apply). That
  * cost is O(directories a delete touched), not O(table) — the
  * deliberate residual, folded away by the next OPTIMIZE.
  *
  * Installed by [[graft.sql.GraftSqlExtensions]] AFTER
  * [[MetadataAggregate]] in the same injected-rule sequence, so a
  * metadata-answerable COUNT still answers from the manifest (with the
  * dv counts subtracted there) before this rule ever materializes a
  * scan. Runs before `V2ScanRelationPushDown` like its neighbor.
  *
  * Version semantics come free: the relation's [[LakeTable]] pins
  * `snapshotVersion`, and both halves read that exact version —
  * `VERSION AS OF` a pre-delete snapshot still serves the rows. */
object DvApply extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case rel: DataSourceV2Relation =>
      rel.table match {
        case lt: LakeTable => rewrite(rel, lt).getOrElse(rel)
        case _ => rel
      }
  }

  private def rewrite(
      rel: DataSourceV2Relation, lt: LakeTable): Option[LogicalPlan] =
    try {
      // an EMPTY snapshot table has no live dirs and so no live dv
      // either — skip without touching the manifest
      if (lt.keyedDirs.isEmpty) return None
      val m = lt.manifest
      if (m.fileDvs.isEmpty) return None
      // dv-carrying directories AMONG THE DIRECTORIES THIS RELATION
      // SERVES (lt.paths): a relation this rule already split carries
      // only clean directories, so dirty computes empty there and the
      // fixed-point batch terminates. Membership is by the same
      // `new Path(root, rel)` rendering the catalog built paths with,
      // so clone-absolute dv lines resolve identically.
      val served = lt.paths.toSet
      def absDirOf(rel0: String): Option[String] = {
        val i = rel0.lastIndexOf('/')
        if (i <= 0) None
        else Some(new org.apache.hadoop.fs.Path(
          lt.root, rel0.substring(0, i)).toString)
      }
      val dirtyAbs = m.fileDvs.iterator
        .flatMap(d => absDirOf(d._1)).filter(served).toSet
      if (dirtyAbs.isEmpty) return None
      val spark = SparkSession.active
      // splice the OPTIMIZED sub-plan: the anti-join carries a
      // broadcast ResolvedHint, and the outer optimizer's hint
      // elimination has already run by the time this rule fires — an
      // un-optimized splice would trip the "ResolvedHint should have
      // been replaced" sanity check at execution. The inner optimize
      // cannot recurse: the replacement holds no LakeTable relation.
      val dirtyRel = m.entries.collect {
        case (_, rd) if dirtyAbs(
          new org.apache.hadoop.fs.Path(lt.root, rd).toString) => rd
      }.distinct
      val dirtyChild = SnapshotTable
        .readDirs(spark, lt.root, m, dirtyRel)
        .queryExecution.optimizedPlan
      // re-label by NAME onto target attributes — both halves serve
      // the same recorded schema, so the mapping must be total.
      // `pinIds` reuses the target's expression ids (ONLY legal where
      // the target's ids are not also live in a sibling subtree: the
      // top-level projection the surrounding plan resolves against);
      // without it each alias mints a fresh id, which is what the
      // union's children need — two branches must never share ids.
      def alignTo(target: Seq[org.apache.spark.sql.catalyst.expressions
            .Attribute], child: LogicalPlan, pinIds: Boolean)
          : Option[Seq[NamedExpression]] = {
        val out = target.map { o =>
          child.output.find(a => conf.resolver(a.name, o.name)).map(src =>
            if (pinIds) Alias(src, o.name)(exprId = o.exprId)
            else Alias(src, o.name)())
        }
        if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
      }
      val cleanPaths = lt.paths.filterNot(dirtyAbs)
      if (cleanPaths.isEmpty)
        // every served directory carries a vector: the split
        // degenerates to the round-18 whole-relation splice
        return alignTo(rel.output, dirtyChild, pinIds = true)
          .map(Project(_, dirtyChild))
      val cleanTable = lt.copy(paths = cleanPaths,
        keyedDirs = lt.keyedDirs.filterNot(kd => dirtyAbs(kd._2)))(m)
      // fresh attribute ids for the union's head child — the original
      // ids live on the re-labeling Project above the union, where the
      // surrounding plan expects them
      val cleanRel = rel.copy(table = cleanTable,
        output = rel.output.map(_.newInstance()))
      for {
        dirtyCols <- alignTo(cleanRel.output, dirtyChild, pinIds = false)
        union = Union(Seq(cleanRel, Project(dirtyCols, dirtyChild)))
        relabel <- alignTo(rel.output, union, pinIds = true)
      } yield Project(relabel, union)
    } catch {
      // deliberately NOT a degrade: an unrewritten relation would
      // serve the raw files and silently RESURRECT deleted rows, the
      // one failure mode this feature must never have (the scan
      // builder's own fail-safe backs this up). Fail the query loudly
      // instead, with the table named.
      case scala.util.control.NonFatal(e) =>
        logError(
          s"DvApply could not rewrite the scan of ${lt.name()}; " +
            "failing the query rather than serving rows with the " +
            s"deletion vectors unapplied: $e")
        throw e
    }
}
