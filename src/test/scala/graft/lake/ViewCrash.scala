package graft.lake

import org.apache.spark.sql.SparkSession

/** A materialized-view maintainer dying right before its view publish:
  * [[SnapshotTable.onBeforeCommit]] throws at the first manifest
  * publish, which for a refresh is its one commit, under the view
  * root. */
object ViewCrash {
  final class Simulated extends RuntimeException(
    "simulated crash before the view publish")

  /** Runs `op` under the crash and fails unless it crashed there,
    * leaving the view's latest version where it was. */
  def atViewPublish(spark: SparkSession, mvRoot: String)(op: => Any): Unit = {
    val before = SnapshotTable.latest(spark, mvRoot)
    SnapshotTable.onBeforeCommit = () => throw new Simulated
    val crashed =
      try { op; false }
      catch { case _: Simulated => true }
      finally SnapshotTable.onBeforeCommit = () => ()
    assert(crashed, s"no publish crashed while maintaining $mvRoot")
    assert(SnapshotTable.latest(spark, mvRoot) == before,
      s"a view version landed under $mvRoot despite the crash")
  }
}
