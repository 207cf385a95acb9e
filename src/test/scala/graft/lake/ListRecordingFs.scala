package graft.lake

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The local file system, recording the path of every directory
  * listing (`listStatus`, `listStatusIterator`, `listLocatedStatus`)
  * and of every status probe the caller issues (`getFileStatus`, which
  * `exists` goes through; the checksum layer's own probe inside `open`
  * is not the caller's and is not recorded) — what lets a spec assert
  * which code paths pay an O(entries) LIST or a redundant status call.
  * Installed per operation by [[ListRecordingFs.listed]] /
  * [[ListRecordingFs.statused]]. */
class ListRecordingFs extends LocalFileSystem {
  import ListRecordingFs.{opening, record, recordStatus}
  override def listStatus(f: Path): Array[FileStatus] = {
    record(f); super.listStatus(f)
  }
  override def listStatusIterator(f: Path) = {
    record(f); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path) = {
    record(f); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (!opening.get) recordStatus(f)
    super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opening.set(true)
    try super.open(f, bufferSize) finally opening.set(false)
  }
}

object ListRecordingFs {
  private val paths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val statusPaths =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val opening = ThreadLocal.withInitial[Boolean](() => false)

  private def record(f: Path): Unit = paths.add(f.toUri.getPath)
  private def recordStatus(f: Path): Unit = statusPaths.add(f.toUri.getPath)

  /** Runs `op` with this class as the session's `file:` file system
    * (FS cache disabled, so every lookup gets a recording instance) and
    * returns the absolute paths it listed. Both settings are restored
    * afterwards. */
  def listed(spark: SparkSession)(op: => Any): Set[String] = {
    import scala.jdk.CollectionConverters._
    recording(spark)(op)
    paths.asScala.toSet
  }

  /** Like [[listed]], returning the absolute path of every status probe
    * `op` issued, in order (one entry per call). */
  def statused(spark: SparkSession)(op: => Any): Seq[String] = {
    import scala.jdk.CollectionConverters._
    recording(spark)(op)
    statusPaths.asScala.toSeq
  }

  private def recording(spark: SparkSession)(op: => Any): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    paths.clear()
    statusPaths.clear()
    conf.set("fs.file.impl", classOf[ListRecordingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try op
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
