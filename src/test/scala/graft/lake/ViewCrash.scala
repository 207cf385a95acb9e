package graft.lake

import org.apache.spark.sql.SparkSession

/** A materialized-view maintainer dying right before its view publish:
  * [[SnapshotTable.onBeforeCommit]] throws at the first manifest
  * publish that comes after the view's partials sidecar has committed
  * (at the first publish when the view keeps no sidecar). */
object ViewCrash {
  final class Simulated extends RuntimeException(
    "simulated crash before the view publish")

  /** Runs `op` under the crash and fails unless it crashed there. */
  def atViewPublish(spark: SparkSession, mvRoot: String)(op: => Any): Unit = {
    val aux = MaterializedAgg.auxRoot(mvRoot)
    val auxBefore = SnapshotTable.latest(spark, aux)
    SnapshotTable.onBeforeCommit = () =>
      if (auxBefore.isEmpty || SnapshotTable.latest(spark, aux) != auxBefore)
        throw new Simulated
    val crashed =
      try { op; false }
      catch { case _: Simulated => true }
      finally SnapshotTable.onBeforeCommit = () => ()
    assert(crashed, s"no publish crashed while maintaining $mvRoot")
  }
}
