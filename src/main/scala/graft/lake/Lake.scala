package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lake-layout management for the analytic (curated) zone: partitioned
  * parquet with controlled file counts and in-file clustering.
  *
  * The three knobs that decide 100 TB scan cost:
  *  - partition columns (directory pruning — queries on the partition key
  *    never open irrelevant files);
  *  - files per partition (small-file explosions turn a scan into
  *    millions of opens; compaction rewrites them to a target count);
  *  - in-file ordering (sortWithinPartitions clusters data so parquet
  *    row-group min/max stats skip non-matching groups).
  */
object Lake {
  /** Write partitioned parquet with per-partition file-count control and
    * optional clustering columns.
    *
    * Repartitioning on the partition key alone sends every row of one
    * partition value to a single task (1 file per directory regardless of
    * the knob); when `filesPerPartition > 1` a deterministic row-hash salt
    * joins the shuffle key so each directory is written by up to
    * `filesPerPartition` tasks. */
  def writePartitioned(
      df: DataFrame,
      root: String,
      partitionBy: Seq[String],
      filesPerPartition: Int = 1,
      clusterBy: Seq[String] = Nil): Unit = {
    val keyed = repartitionForLayout(df, partitionBy, filesPerPartition,
      df.sparkSession.sessionState.conf.numShufflePartitions.min(64) *
        filesPerPartition)
    val clustered =
      if (clusterBy.nonEmpty)
        keyed.sortWithinPartitions((partitionBy ++ clusterBy).map(col): _*)
      else keyed
    clustered.write
      .mode("overwrite")
      .partitionBy(partitionBy: _*)
      .parquet(root)
  }

  private[lake] def repartitionForLayout(
      df: DataFrame,
      partitionBy: Seq[String],
      filesPerPartition: Int,
      numPartitions: Int): DataFrame = {
    // guard (round-20, r19 advice item 1): repartition() with ZERO hash
    // expressions is a round-robin-less single-partition shuffle — an
    // empty partitionBy would silently send every row to one task. No
    // caller passes one today; fail loudly rather than degrade.
    require(partitionBy.nonEmpty,
      "repartitionForLayout needs at least one partition column")
    val keyCols = partitionBy.map(col)
    if (filesPerPartition <= 1)
      // no explicit partition count: every row of one partition key
      // lands in a single task either way (hash on the key), so the
      // file-per-directory contract is unchanged, but AQE COALESCES
      // the task count to the batch's actual size — a 300-row
      // maintenance commit stops scheduling 31 empty reducers. Note
      // AQE only ever coalesces small hash partitions; it cannot SPLIT
      // an oversized one (which is exactly what keeps one partition
      // key = one task = one file per directory safe) — a partition
      // key carrying more rows than one task should write must use
      // filesPerPartition > 1, whose salt branch below does the
      // splitting explicitly (round 19/20, optimization guide §2.2/§6)
      df.repartition(keyCols: _*)
    else {
      // The salt column must not collide with a real column: withColumn
      // would silently overwrite it and the drop below would corrupt the
      // dataset. Pick the first free name.
      val salt = Iterator.from(0).map {
        case 0 => "_graft_salt"
        case i => s"_graft_salt_$i"
      }.find(n => !df.columns.contains(n)).get
      df.withColumn(salt,
          pmod(hash(df.columns.map(col).toSeq: _*), lit(filesPerPartition)))
        .repartition(numPartitions, (keyCols :+ col(salt)): _*)
        .drop(salt)
    }
  }

  /** Rewrite a partitioned dataset to `targetFiles` files per partition
    * (compaction). Returns (filesBefore, filesAfter).
    *
    * The swap is crash-safe: the new layout is fully written to a temp
    * directory, the live directory is renamed aside, the temp renamed in,
    * and only then is the old data deleted. A crash at any point leaves a
    * complete copy of the data on disk — either live or under `.old`,
    * recoverable via [[recover]] — unlike delete-then-rename, which has a
    * window where the dataset exists nowhere. */
  def compact(
      spark: SparkSession,
      root: String,
      partitionBy: Seq[String],
      targetFiles: Int = 1,
      crashAfterSwapOut: Boolean = false): (Long, Long) = {
    val before = countDataFiles(spark, root)
    val df = spark.read.parquet(root)
    val tmp = root.stripSuffix("/") + ".compacting"
    repartitionForLayout(df, partitionBy, targetFiles,
      targetFiles * partitionValues(spark, root, partitionBy).max(1))
      .write.mode("overwrite").partitionBy(partitionBy: _*).parquet(tmp)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    val oldP = new Path(root.stripSuffix("/") + ".old")
    val tmpP = new Path(tmp)
    fs.delete(oldP, true) // leftover from an earlier crashed compaction
    if (!fs.rename(rootP, oldP))
      throw new java.io.IOException(s"compact: cannot move $rootP aside")
    if (crashAfterSwapOut) // test seam: simulated crash inside the window
      throw new java.io.IOException("simulated crash between swap phases")
    if (!fs.rename(tmpP, rootP)) {
      fs.rename(oldP, rootP) // roll back: old data becomes live again
      throw new java.io.IOException(s"compact: cannot move $tmpP into place")
    }
    fs.delete(oldP, true)
    (before, countDataFiles(spark, root))
  }

  /** Recover from a compaction crashed mid-swap: if the live directory is
    * missing but the `.old` copy exists, rename it back. Returns true when
    * a recovery was performed. */
  def recover(spark: SparkSession, root: String): Boolean = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    val oldP = new Path(root.stripSuffix("/") + ".old")
    if (!fs.exists(rootP) && fs.exists(oldP)) fs.rename(oldP, rootP)
    else false
  }

  private def partitionValues(
      spark: SparkSession, root: String, partitionBy: Seq[String]): Int =
    if (partitionBy.isEmpty) 1
    else {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new Path(root)).count(s =>
        s.isDirectory && s.getPath.getName.contains("="))
    }

  // ---- Z-order (Morton) clustering ----------------------------------
  //
  // Linear sort clusters ONE dimension: a scan filtering on the sort
  // key skips most files via parquet min/max stats, but a filter on any
  // other column reads everything. Z-ordering interleaves the bits of
  // several dimensions so every file covers a small HYPER-RECTANGLE of
  // the value space — a selective filter on ANY z dimension then prunes
  // to ~|files|^((d-1)/d) instead of all of them. This is the standard
  // multi-dimensional layout for 100 TB fact tables queried along more
  // than one axis (the Delta/Iceberg OPTIMIZE ZORDER BY capability,
  // re-expressed with plain Spark + parquet stats).

  /** Morton interleave of pre-quantized non-negative long columns, each
    * in [0, 2^bits): bit i of column j lands at position i*n + j. All
    * shifts/masks compose into one codegen'd expression — no UDF.
    * n*bits must stay <= 63 (long z-value). */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"z-value needs n*bits <= 63, got ${cols.size} x $bits")
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)),
          i * cols.size + j)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Equal-frequency quantization: code = #(boundaries <= value), with
    * 2^bits - 1 interior quantile boundaries. Unlike linear min/max
    * scaling, codes stay uniform under ANY value skew — a heavy-tailed
    * column would otherwise collapse most rows into a few codes and the
    * z-curve would lose locality exactly where the data is dense. The
    * boundary array is a broadcast-sized literal (2^bits doubles); the
    * per-row filter-count is codegen'd, no UDF. */
  def quantizeByFrequency(c: Column, boundaries: Seq[Double]): Column =
    size(filter(
      typedLit(boundaries),
      b => b.leq(c.cast("double")))).cast("long")

  /** Rewrite a dataset Z-ordered on `zCols`: one tiny quantile
    * aggregate ((2^bits - 1)·|zCols| scalars to the driver), then
    * range-partition + sort by the z-value so each of `numFiles` files
    * covers a compact box of RANK space. The z column is dropped from
    * the output — it exists only to drive layout; pruning happens
    * through parquet min/max stats on the ORIGINAL columns, which the
    * clustering makes tight (quantile codes are monotone in the raw
    * value, so a compact code box is a compact value box). */
  def writeZOrdered(
      df: DataFrame,
      root: String,
      zCols: Seq[String],
      numFiles: Int,
      bits: Int = 8): Unit = {
    val probs = (1 until (1 << bits))
      .map(i => i.toDouble / (1 << bits)).mkString(", ")
    val cuts = df.select(zCols.map(c =>
        expr(s"percentile_approx(CAST($c AS DOUBLE), array($probs), 10000)")
          .as(s"b_$c")): _*)
      .collect()(0)
    // An entirely-NULL z column yields NULL quantile boundaries and the
    // layout silently degenerates; fail loudly instead — the caller
    // picked a clustering column with no values to cluster on. Rows
    // with a NULL in a z column (partial nulls) quantize to code 0 by
    // construction (no boundary is <= NULL), i.e. NULLs cluster with
    // the lowest quantile box — documented behavior, analogous to
    // NULLS FIRST in a linear sort.
    zCols.zipWithIndex.foreach { case (c, i) =>
      require(!cuts.isNullAt(i),
        s"z column '$c' is entirely NULL — no quantile boundaries; " +
          "pick a populated clustering column")
    }
    val z = zValue(
      zCols.zipWithIndex.map { case (c, i) =>
        quantizeByFrequency(col(c), cuts.getSeq[Double](i))
      }, bits)
    val zName = Iterator.from(0).map {
      case 0 => "_graft_z"
      case i => s"_graft_z_$i"
    }.find(n => !df.columns.contains(n)).get
    df.withColumn(zName, z)
      .repartitionByRange(numFiles, col(zName))
      .sortWithinPartitions(col(zName))
      .drop(zName)
      .write.mode("overwrite").parquet(root)
  }

  def countDataFiles(spark: SparkSession, root: String): Long = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(root), true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
