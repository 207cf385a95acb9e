package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Cross-table atomic commits — "lane versions" (round 17, implementing
  * DESIGN_CROSS_TABLE_TXN.md): a LANE is a tiny versioned log whose
  * manifests hold, instead of data directories, a list of MEMBER PINS
  * `(name, root, version)`. One lane commit = one create-exclusive
  * manifest publish, so the lane names a sequence of CONSISTENT CUTS
  * across a curated base and its derived tables (tokenized corpus,
  * indexes, materialized views) — the exactly-once read surface the
  * `Pipeline.llmLane` sequence of per-table commits could not offer.
  *
  * Protocol (single lane maintainer, like the MV layer):
  *  1. drain a batch exactly as before — base commit, then every
  *     maintainer's incremental fold (the folds run concurrently and
  *     all of them finish before step 2; one failing still waits for
  *     the rest and skips step 2); every step is atomic and
  *     replay-idempotent already;
  *  2. [[publish]] reads each member's RESULTING latest version and
  *     commits lane vN+1 with those pins.
  * A crash anywhere inside step 1 leaves the lane at vN — a consistent
  * (older) cut; the replayed drain converges and publishes once. This
  * is deliberately NOT two-phase commit: members never hold locks or
  * wait. The atomicity claim is exactly: readers who resolve member
  * versions through a lane version ([[at]]) observe a cut that a
  * COMPLETED drain once produced — never a half-drained interleaving.
  *
  * Retention reuses the shallow-clone refcount shape: [[publish]]
  * registers the lane in every member root's `_lanes/` registry, and
  * [[SnapshotTable.vacuum]] protects any member version a RETAINED
  * manifest of a registered live lane pins (see
  * [[SnapshotTable.lanePinnedVersions]]); [[vacuum]] on the lane
  * itself bounds how much member history must stay reachable. A lane
  * whose root vanished unregisters lazily.
  *
  * Reads: [[at]] resolves pins; every member read then passes the
  * pinned version through the existing `version:` parameters — lane
  * semantics are opt-in, direct-root readers keep today's behavior.
  *
  * Layout: a lane shares the table log's layout — manifests at
  * `_versions/vNNNNNNNN.manifest` and the advisory `_latest.hint` —
  * and its commit: [[publish]] is an attempt of the table's race loop
  * ([[SnapshotTable.publishLoop]]), so [[latest]] is the hint +
  * forward probe, a publish lists nothing, and
  * [[SnapshotTable.onBeforeCommit]] is the lane's crash point too;
  * only [[vacuum]] lists the lane's versions, because it needs all of
  * them. */
object Lane {
  import SnapshotTable.manifestPath

  final case class MemberPin(name: String, root: String, version: Int)

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Retained lane versions, ascending — one `_versions` listing. */
  def versions(spark: SparkSession, laneRoot: String): Seq[Int] =
    SnapshotTable.versions(spark, laneRoot)

  /** Latest lane version through the hint: no listing. */
  def latest(spark: SparkSession, laneRoot: String): Option[Int] =
    SnapshotTable.latest(spark, laneRoot)

  /** The member pins of lane version `v` (latest when < 0). */
  def at(spark: SparkSession, laneRoot: String,
      version: Int = -1): Seq[MemberPin] = {
    val v =
      if (version >= 0) version
      else latest(spark, laneRoot).getOrElse(
        throw new IllegalArgumentException(
          s"no lane version committed under $laneRoot"))
    // no exists() before the open: a missing manifest throws
    val in =
      try fs(spark, laneRoot).open(manifestPath(laneRoot, v))
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"lane version v$v of $laneRoot is unknown or vacuumed")
      }
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split('\n').toSeq.filter(_.startsWith("#member\t")).map { l =>
      val parts = l.split('\t')
      MemberPin(parts(1),
        java.net.URLDecoder.decode(parts(2), "UTF-8"), parts(3).toInt)
    }
  }

  /** Resolve one member's pinned (root, version) at a lane version. */
  def member(spark: SparkSession, laneRoot: String, name: String,
      version: Int = -1): (String, Int) = {
    val pins = at(spark, laneRoot, version)
    pins.find(_.name == name).map(p => (p.root, p.version)).getOrElse(
      throw new IllegalArgumentException(
        s"lane $laneRoot has no member '$name' " +
          s"(members: ${pins.map(_.name).mkString(", ")})"))
  }

  /** Commit the NEXT lane version pinning each member's CURRENT latest
    * — call after a completed drain. Also registers the lane in every
    * member's `_lanes/` registry so member vacuums protect the pinned
    * versions. Returns the lane version. Raced publishes retry (the
    * caller is the single lane maintainer; a race only means a replay
    * landed first — pins are re-read by every attempt of the race
    * loop, so the winner is always a completed cut). */
  def publish(spark: SparkSession, laneRoot: String,
      members: Seq[(String, String)]): Int = {
    require(members.nonEmpty, "lane publish: no members")
    require(members.map(_._1).distinct.size == members.size,
      "lane publish: duplicate member names")
    // names are written raw into the tab-separated #member line (only
    // the root is URL-encoded, for old-manifest compatibility) — a tab
    // or newline would corrupt the line, so refuse it at the door
    members.foreach { case (name, _) =>
      require(!name.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"lane member name '$name' contains a tab/newline — refused " +
          "(names are stored raw in the tab-separated lane manifest)")
    }
    // register the lane in every member's _lanes/ registry BEFORE the
    // manifest publishes: registration is idempotent and lane-scoped
    // (not per-version), and doing it first means vacuum protection
    // exists the instant a pin does — a crash between publish and a
    // later registration could otherwise let a member vacuum drop a
    // version the just-committed lane pins. The lane ROOT must exist
    // first: member vacuums lazily unregister lanes whose root is
    // GONE, and a registration pointing at a not-yet-created root
    // would be reaped inside this very window.
    val laneFs = fs(spark, laneRoot)
    laneFs.mkdirs(new Path(laneRoot))
    val laneAbs = laneFs.makeQualified(new Path(laneRoot)).toString
    members.foreach { case (_, root) =>
      SnapshotTable.registerLane(spark, root, laneAbs)
    }
    SnapshotTable.publishLoop(spark, laneRoot) { _ =>
      val pins = members.map { case (name, root) =>
        MemberPin(name, root,
          SnapshotTable.latest(spark, root).getOrElse(
            throw new IllegalArgumentException(
              s"lane member '$name': no snapshot-table version " +
                s"committed under $root")))
      }
      Some((pins.map(p =>
        s"#member\t${p.name}\t${java.net.URLEncoder.encode(p.root, "UTF-8")}" +
          s"\t${p.version}").mkString("", "\n", "\n"), ()))
    }._1
  }

  /** Drop all but the newest `keepVersions` lane manifests — this is
    * what bounds how much member history member vacuums must keep.
    * Only a prefix goes, so a retained hint still probes forward to
    * the latest version and a dropped one falls back to the listing. */
  def vacuum(spark: SparkSession, laneRoot: String,
      keepVersions: Int): Int = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val f = fs(spark, laneRoot)
    val drop = versions(spark, laneRoot).dropRight(keepVersions)
    drop.foreach(v => f.delete(manifestPath(laneRoot, v), false))
    drop.size
  }
}
