package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order layout for plain partition-less parquet: Morton clustering
  * over equal-frequency codes, so parquet min/max stats prune on ANY of
  * several filter dimensions. Partitioned layout, per-partition file
  * counts and compaction belong to the versioned table format
  * ([[SnapshotTable]]: `filesPerPartition` fan-out, `clusterBy`,
  * [[SnapshotTable.optimize]] under the manifest log).
  */
object Lake {
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
}
