package graft.lake

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The local file system, recording the path of every directory
  * listing (`listStatus`, `listStatusIterator`, `listLocatedStatus`) —
  * what lets a spec assert which code paths pay an O(entries) LIST.
  * Installed per operation by [[ListRecordingFs.listed]]. */
class ListRecordingFs extends LocalFileSystem {
  import ListRecordingFs.record
  override def listStatus(f: Path): Array[FileStatus] = {
    record(f); super.listStatus(f)
  }
  override def listStatusIterator(f: Path) = {
    record(f); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path) = {
    record(f); super.listLocatedStatus(f)
  }
}

object ListRecordingFs {
  private val paths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def record(f: Path): Unit = paths.add(f.toUri.getPath)

  /** Runs `op` with this class as the session's `file:` file system
    * (FS cache disabled, so every lookup gets a recording instance) and
    * returns the absolute paths it listed. Both settings are restored
    * afterwards. */
  def listed(spark: SparkSession)(op: => Any): Set[String] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    paths.clear()
    conf.set("fs.file.impl", classOf[ListRecordingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try { op; paths.asScala.toSet }
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
