package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every table is a plain parquet scan: Catalyst's datasource V2 path gives
  * column pruning + filter pushdown for free, so downstream operators must
  * express projections/predicates declaratively (never `.rdd`/collect) for
  * those to reach the scan. At 100 TB these would be partitioned/bucketed
  * catalog tables; `spark.read.parquet(dir)` transparently handles a
  * directory of many files, so nothing here assumes a single file.
  *
  * Loads are memoized per session: `spark.read.parquet` lists files and
  * reads footers for schema inference every call, a fixed ~50-100 ms tax
  * that a 70-query run pays 200+ times for the same immutable inputs. The
  * cached value is only the analyzed relation (plan metadata, no data);
  * lifetime/bounding is [[SessionCache]]'s. This is exactly what a
  * catalog gives a real deployment — schema and file listing resolved
  * once, not per query.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val cache = new SessionCache[(String, String)]()

  /** Session-scoped security bindings ([[graft.security.Rbac.asRole]]):
    * a bound transform is applied to every load of (session, table), so
    * an IDENTICAL lane query returns role-dependent results — the
    * reference's core RBAC contract — without the query knowing about
    * roles. The raw relation stays memoized; the (cheap, analysis-only)
    * transform is applied per lookup, and unbinding restores full
    * access without touching the cache. */
  private val bindings = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame => DataFrame]()

  private[graft] def bind(
      spark: SparkSession, name: String, f: DataFrame => DataFrame): Unit =
    bindings.put((spark, name), f)

  private[graft] def unbind(spark: SparkSession, name: String): Unit =
    bindings.remove((spark, name))

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // If events.ts is parquet TIMESTAMP(NANOS), Spark's reader rejects
      // it ([PARQUET_TYPE_ILLEGAL]) unless this legacy conf makes it read
      // as a raw long; the conf is a no-op for µs/NTZ files. It must hold
      // at execution time too, so (re)set it on every lookup, cached or
      // not.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    // Snapshot binding (round-8 verdict stretch 8): conf
    // `spark.graft.snapshot.<table> = <root>@v<N>` (or `@latest`)
    // resolves the table through [[graft.lake.SnapshotTable]] instead of
    // the sfDir parquet, so "train on corpus v12" is a CONFIG, not a
    // code change — every lane query then reads that immutable version
    // and stays byte-stable while the live table moves on (pinned in
    // `SnapshotReadSpec`). The cache key carries the RESOLVED version:
    // an @latest binding resolves the current latest version number
    // first (the table's latest-version hint plus a forward probe, done
    // on every lookup), so a commit later in the same session is picked
    // up by the next lookup instead of being masked by a memo entry
    // that resolved `latest` eagerly at first use (round-9 advice item
    // 1). Pinning, re-pinning, or unpinning therefore never serves a
    // stale relation.
    val spec = spark.conf.getOption(s"spark.graft.snapshot.$name")
    val df = spec match {
      case Some(s) =>
        val at = s.lastIndexOf('@')
        require(at > 0, s"snapshot binding must be <root>@v<N>|latest: $s")
        val (root, v) = (s.substring(0, at), s.substring(at + 1))
        val version =
          if (v == "latest") {
            val latest = graft.lake.SnapshotTable.latest(spark, root)
            require(latest.isDefined, s"no snapshot committed under $root")
            latest.get
          } else v.stripPrefix("v").toInt
        cache.getOrElseUpdate(spark, (s"snapshot:$root@v$version", name)) {
          val raw = graft.lake.SnapshotTable.read(spark, root, version)
          if (name == "events") normalizeTs(raw) else raw
        }
      case None =>
        cache.getOrElseUpdate(spark, (sfDir, name))(load(spark, sfDir, name))
    }
    bindings.get((spark, name)) match {
      case null => df
      case f => f(df)
    }
  }

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" =>
        normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
      case _ =>
        spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Normalize the `ts` column to session-zoned TimestampType regardless
    * of the parquet physical type the producer wrote. Different testdata
    * generations shipped `ts` as int64 epoch-nanos, timestamp[us] (read
    * as TIMESTAMP_NTZ), and could legitimately ship TIMESTAMP_LTZ — the
    * engine adapts to the data instead of pinning one physical type
    * (the Spark analog of the reference crawler re-inferring schemas on a
    * schedule, option_a_cdk_py/option_a/stack.py:180-193).
    *
    * All sessions here run UTC, so an NTZ→LTZ cast is value-preserving:
    * the same wall-clock instant, now comparable with `unix_timestamp`.
    */
  def normalizeTs(df: DataFrame, col: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(col).dataType match {
      case LongType =>
        // Raw epoch-nanos → µs TimestampType with integer division —
        // `/ 1000` in double would lose precision at 1e18 ns.
        df.withColumn(col, timestamp_micros(expr(s"$col div 1000")))
      case TimestampNTZType =>
        df.withColumn(col, df.col(col).cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalArgumentException(
          s"unsupported physical type for '$col': $other — expected " +
            "int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** Fan a scan out to full parallelism ONLY when the scan itself
    * under-parallelizes.
    *
    * The bench corpus is a single-row-group parquet file ⇒ one input
    * split, so the CPU-bound downstream work (shingling, hashing,
    * tokenizing) would run on one core without an explicit repartition.
    * At 100 TB the same scan yields thousands of file splits and an
    * unconditional `repartition(defaultParallelism)` becomes a
    * gratuitous full shuffle of the text column — the exact opposite of
    * what it buys at bench scale. So gate it on the PLAN: physically
    * plan the scan (driver-side only; `rdd.getNumPartitions` builds the
    * execution RDD without launching a job), and shuffle only when the
    * scan alone cannot keep the session's cores busy. A multi-file
    * corpus therefore tokenizes directly on its file splits with NO
    * Exchange; the single-file bench keeps its fan-out (both pinned in
    * `FanOutSpec`).
    */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
