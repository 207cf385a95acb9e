package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, GlobalStorageStatistics, LocalFileSystem, Path, StorageStatistics}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system with a counter per call kind (list, status,
  * open, create, rename, delete), registered in Hadoop's
  * `GlobalStorageStatistics` under [[CountingFs.StatsName]]. Installed as
  * `fs.file.impl` in traced runs only. Counts are per JVM: in local
  * mode, executor tasks run in the same process. */
class CountingFs extends LocalFileSystem {
  import CountingFs.bump
  override def listStatus(f: Path): Array[FileStatus] = {
    bump("list"); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path) = {
    bump("list"); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path) = {
    bump("list"); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    bump("status"); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump("open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump("create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    bump("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump("delete"); super.delete(f, recursive)
  }
}

object CountingFs {
  val StatsName = "perfbench-fs-ops"
  val kinds: Seq[String] =
    Seq("list", "status", "open", "create", "rename", "delete")
  private val counters: Map[String, AtomicLong] =
    kinds.map(_ -> new AtomicLong).toMap

  private[perfbench] def bump(kind: String): Unit =
    counters(kind).incrementAndGet()

  private object Stats extends StorageStatistics(StatsName) {
    import scala.jdk.CollectionConverters._
    override def getScheme: String = "file"
    override def getLongStatistics: java.util.Iterator[
        StorageStatistics.LongStatistic] =
      kinds.map(k => new StorageStatistics.LongStatistic(k, counters(k).get))
        .iterator.asJava
    override def getLong(key: String): java.lang.Long =
      counters.get(key).map(c => java.lang.Long.valueOf(c.get)).orNull
    override def isTracked(key: String): Boolean = counters.contains(key)
    override def reset(): Unit = counters.values.foreach(_.set(0))
  }

  /** Every long statistic of every registered `StorageStatistics`,
    * keyed `<name>.<key>` (the file scheme's byte and op totals, plus the
    * per-call counts above). */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    GlobalStorageStatistics.INSTANCE.iterator().asScala.flatMap { s =>
      s.getLongStatistics.asScala.map(l => s"${s.getName}.${l.getName}" ->
        l.getValue)
    }.toMap
  }

  /** Registers the counters and makes sure the cached `file:` file
    * system is this class (an instance cached before the session set
    * `fs.file.impl` is dropped). */
  def ensureInstalled(spark: SparkSession): Unit = {
    GlobalStorageStatistics.INSTANCE.put(StatsName,
      () => Stats: StorageStatistics)
    val conf = spark.sparkContext.hadoopConfiguration
    if (!FileSystem.get(new java.net.URI("file:///"), conf)
        .isInstanceOf[CountingFs]) {
      FileSystem.closeAll()
      require(FileSystem.get(new java.net.URI("file:///"), conf)
        .isInstanceOf[CountingFs], "counting file system not installed")
    }
  }
}
