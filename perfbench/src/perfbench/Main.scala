package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    tier: String,
    digests: String,
    spans: String,
    arrivals: Int,
    faults: Set[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String) = kv.getOrElse(k, d)
    Opts(
      workload = kv("workload"),
      seed = get("seed", "1").toLong,
      seconds = get("seconds", "10").toDouble,
      trace = get("trace", "0") == "1",
      data = get("data", ""),
      tier = get("tier", ""),
      digests = get("digests", ""),
      spans = get("spans", ""),
      arrivals = get("arrivals", "0").toInt,
      faults = get("fault", "").split(',').filter(_.nonEmpty).toSet)
  }
}

/** What one run measured and checked. Metric values are filled by the
  * workload; names absent here print as zero (a layer the workload does
  * not exercise). */
final class Ctx(val spark: SparkSession, val opts: Opts, val jvmStartMs: Long) {
  val trace = new Trace(spark)
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val detail = mutable.ArrayBuffer.empty[String]

  /** Records one checked operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
    ok
  }

  /** Runs `body` as one operation that counts as failed if it throws. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Throwable =>
        attempted += 1; failed += 1
        System.err.println(s"[perfbench] OP FAILED: $what: $e")
        None
    }

  def put(name: String, v: Double): Unit = metrics(name) = v

  def sinceJvmStartS: Double = (System.currentTimeMillis - jvmStartMs) / 1e3
}

object Measure {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  def loadavg: String = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split(' ').take(3).mkString(" ") finally src.close()
  } catch { case _: Throwable => "" }

  /** Peak resident set of this JVM, MB (`VmHWM`). */
  def peakRssMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  } catch { case _: Throwable => 0.0 }

  /** Bytes of every regular file under `path`. */
  def diskBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.toSeq.map(c => diskBytes(c.getPath)).sum)
      .getOrElse(0L)
  }

  /** Median wall of an empty job with one task per core: the per-job
    * floor of this machine. */
  def jobFloorS(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    median((1 to 9).map { _ =>
      val t = System.nanoTime
      sc.parallelize(1 to n, n).foreach(_ => ())
      (System.nanoTime - t) / 1e9
    })
  }
}

object Main {
  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Measure.loadavg
    val spark = Session.create(Session.cpus, opts.trace)
    val ctx = new Ctx(spark, opts, jvmStart)
    ctx.put("core.session_start_s", ctx.sinceJvmStartS)
    opts.workload match {
      case "query_mix" => QueryWorkload.run(ctx, QueryWorkload.Mix)
      case "query_hot_sf1" => QueryWorkload.run(ctx, QueryWorkload.Hot)
      case "lake_lane" => LakeLane.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.put("peak_rss_mb", Measure.peakRssMb)
    ctx.put("jvm.gc_s", Measure.gcS)
    ctx.put("failed_ratio",
      if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted)
    val info = Seq(
      "workload" -> json(opts.workload), "seed" -> opts.seed.toString,
      "trace" -> (if (opts.trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cpus" -> Session.cpus.toString,
      "loadavg_start" -> json(load0), "loadavg_end" -> json(Measure.loadavg),
      "jdk" -> json(sys.props.getOrElse("java.runtime.version", "")),
      "spark" -> json(spark.version),
      "commit" -> json(sys.props.getOrElse("perfbench.commit", "")),
      "source_hash" -> json(sys.props.getOrElse("perfbench.source_hash", "")),
      "data" -> json(opts.data))
    println("{\"perfbench_info\":" +
      info.map { case (k, v) => json(k) + ":" + v }.mkString("{", ",", "}") + "}")
    ctx.detail.foreach(println)
    val ms = ctx.metrics.map { case (k, v) => json(k) + ":" + v.toString }
    println(s"""PERFBENCH_RESULT {"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":${ms.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
