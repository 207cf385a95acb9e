package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorFunctions.vec_dot

/** Persisted product-quantization index (round 18): the PQ codes and
  * the LSH-learned codebook, built once per corpus and SERVED by the
  * ADC search — the same persisted-index pattern as [[AnnIndex]] (IVF)
  * and [[InvertedIndex]] (BM25). The round-18 s09 profile
  * (BENCH_NOTES.md) pinned where s09's second went: re-deriving the
  * codebook per run — a 64-dim explode through two corpus-sized hash
  * aggregates — cost 0.92 s of a 1.16 s total at
  * sf0.1, and an 8-decimal-column reshape of the same aggregate did
  * not move it (the per-element decimal arithmetic, not the row
  * layout, is the cost). A codebook is TRAINED state, not query state:
  * persisting it (plus the 4-byte codes) leaves the steady-state
  * search exactly the ADC scan, the shape the PQ paper describes.
  * Build cost is measured explicitly in the bench contract's
  * `index_build.pq` alongside dedup/ann/inverted.
  *
  * Layout under `root/`:
  *  - `codes/`    (vec_id, codes array<int>) — 8 cells of 4 bits each
  *  - `codebook/` (m, cell, cvec array<double>, cn2) — <= 128 rows;
  *                written LAST, so its _SUCCESS marks the index
  *                complete (the [[AnnIndex]] crash-safety rule)
  *
  * Everything is derived deterministically (md5-affine planes, exact
  * decimal centroid means), so index-served results are bit-identical
  * to an inline derivation — which is exactly what the s09 oracle gate
  * verifies every round. */
object PqIndex {
  /** Deterministic per-dataset index location, content-fingerprinted
    * by the embeddings source ([[graft.core.IndexRoot]]) so a
    * rewritten corpus gets a fresh root instead of stale codes. */
  def defaultRoot(sfDir: String): String =
    graft.core.IndexRoot.of(sfDir, "embeddings.parquet", "graft_pq_index1")

  /** PQ plane constants w[m][j][d]: 8 subspaces x 4 planes x 8 dims,
    * md5 affine-map formula under the "pq" namespace — 256 driver-side
    * literals, no Spark job. */
  lazy val planes: Seq[(Int, Int, Seq[Double])] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def w(m: Int, j: Int, d: Int): Double = {
      val hex = md.digest(
        s"pq${m}_${j}_$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 2001 - 1000).toDouble / 1000.0
    }
    for { m <- 0 until 8; j <- 0 until 4 }
      yield (m, j, (0 until 8).map(d => w(m, j, d)).toSeq)
  }

  /** The 8-subspace cell assignment of an `embedding` column — a pure
    * codegen'd projection (32 literal-plane sign dots), zero shuffles:
    * subspace m's cell id packs 4 sign bits against [[planes]]. */
  private def codesCol: Column = array((0 until 8).map { m =>
    planes.filter(_._1 == m).map { case (_, j, ws) =>
      when(vec_dot(array(ws.map(lit): _*),
        expr(s"slice(embedding, ${m * 8 + 1}, 8)")) >= 0,
        lit(1 << j)).otherwise(0)
    }.reduce(_ + _)
  }: _*)

  /** Build from `<sfDir>/embeddings.parquet` unless the completion
    * marker exists. One cached corpus pass feeds both layers; the
    * codebook's cell centroid is the exact-decimal per-dim mean of its
    * members (decimal(20,10) sums -> double -> one IEEE division —
    * identical on any engine and partitioning, the [[AnnIndex]]
    * ladder). */
  def buildIfMissing(spark: SparkSession, sfDir: String, root: String): Unit = {
    val marker = new Path(s"$root/codebook/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return
    val coded = graft.core.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), codesCol.as("codes"))
      .cache()
    try {
      coded.select(col("vec_id"), col("codes"))
        .write.mode("overwrite").parquet(s"$root/codes")
      coded
        .select(posexplode(col("codes")).as(Seq("m", "cell")),
          col("embedding"))
        .select(col("m"), col("cell"),
          posexplode(expr("slice(embedding, m * 8 + 1, 8)"))
            .as(Seq("pos", "v")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("m"), col("cell"))
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, c))), x -> x.c)")
          .as("cvec"))
        .withColumn("cn2", vec_dot(col("cvec"), col("cvec")))
        .coalesce(1) // <= 128 rows
        .write.mode("overwrite").parquet(s"$root/codebook")
    } finally coded.unpersist(false)
  }

  /** The corpus codes `(vec_id, codes)` — 4 bytes of payload per
    * vector, the only thing the ADC candidate scan reads. */
  def codes(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/codes")

  /** The codebook `(m, cell, cvec, cn2)` — <= 128 rows. */
  def codebook(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/codebook")
}
