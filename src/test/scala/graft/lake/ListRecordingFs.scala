package graft.lake

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The local file system, recording the path of every directory
  * listing (`listStatus`, `listStatusIterator`, `listLocatedStatus`),
  * every status probe the caller issues (`getFileStatus`, which
  * `exists` goes through; the checksum layer's own probe inside `open`
  * is not the caller's and is not recorded) and every open — one entry
  * per call, in call order, so a spec can count what a code path pays:
  * an O(entries) LIST, a redundant status call, a manifest read twice.
  * Installed per operation by [[ListRecordingFs.recorded]]. */
class ListRecordingFs extends LocalFileSystem {
  import ListRecordingFs.{lists, opening, opens, record, statuses}
  override def listStatus(f: Path): Array[FileStatus] = {
    record(lists, f); super.listStatus(f)
  }
  override def listStatusIterator(f: Path) = {
    record(lists, f); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path) = {
    record(lists, f); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (!opening.get) record(statuses, f)
    super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record(opens, f)
    opening.set(true)
    try super.open(f, bufferSize) finally opening.set(false)
  }
}

object ListRecordingFs {
  /** The absolute paths one operation listed, probed and opened — one
    * entry per call, in call order. */
  final case class Calls(
      lists: Seq[String], statuses: Seq[String], opens: Seq[String])

  private type Log = java.util.concurrent.ConcurrentLinkedQueue[String]
  private val lists, statuses, opens = new Log()
  private val opening = ThreadLocal.withInitial[Boolean](() => false)

  private def record(log: Log, f: Path): Unit = log.add(f.toUri.getPath)

  /** Runs `op` with this class as the session's `file:` file system
    * (FS cache disabled, so every lookup gets a recording instance) and
    * returns the calls it issued. Both settings are restored
    * afterwards. */
  def recorded(spark: SparkSession)(op: => Any): Calls = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    Seq(lists, statuses, opens).foreach(_.clear())
    conf.set("fs.file.impl", classOf[ListRecordingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try op
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    Calls(lists.asScala.toSeq, statuses.asScala.toSeq, opens.asScala.toSeq)
  }
}
