package perfbench

import org.apache.spark.sql.SparkSession

/** The one benchmark session: `local[cpus]`, the engine's SQL
  * extensions, and every directory Spark writes (block manager,
  * warehouse, JVM temp) under the run's work directory. */
object Session {
  def cpus: Int = sys.props.getOrElse("perfbench.cpus",
    Runtime.getRuntime.availableProcessors.toString).toInt

  def workDir: String = sys.props.getOrElse("perfbench.work",
    sys.props("java.io.tmpdir"))

  def create(cpus: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions" +
        (if (trace) "," + classOf[TraceExtensions].getName else ""))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) CountingFs.ensureInstalled(spark)
    spark
  }
}
