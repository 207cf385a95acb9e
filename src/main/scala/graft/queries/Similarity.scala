package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.VectorFunctions.{vec_dot, vec_norm}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths, as a real ANN pipeline would ship them:
  *  - s01: brute-force cosine top-k — the exact baseline. The (tiny) query
  *    set broadcasts; candidates stream through one scan. O(Q*N) work but
  *    embarrassingly parallel and shuffle-free until the final top-k.
  *  - s02: sign-random-projection LSH — deterministic md5-derived
  *    hyperplanes bucket every vector into one of 2^8 cells; search only
  *    probes the query's cell. At 100 TB the bucket id becomes a partition
  *    key so a probe touches one partition instead of the corpus.
  *
  * Dot products fold over the array in element order (Catalyst `aggregate`)
  * after per-element cast to double, so they are bit-reproducible; final
  * similarities are rounded to 6 decimals to absorb any engine-side
  * summation-strategy difference.
  */
object Similarity {
  /** Deterministic top-k per key via the native two-level
    * [[org.apache.spark.sql.graft.TopKPerKey]] (map-side partial top-k
    * BELOW the exchange — the t35/q36 shape). Honest accounting of the
    * win: Spark's own InferWindowGroupLimit ALREADY partial-reduced
    * the window+rank-filter formulation's exchange (both plans
    * shuffle <= k survivors per key), so the gain is OPERATOR cost,
    * not exchange size — the native exec keeps a bounded heap per key
    * where WindowGroupLimit sorts its partial input and the Window
    * machinery re-runs over the survivors; measured 10-23% on the
    * s-lane's heaviest rows at sf0.1, never slower (BENCH_NOTES).
    * `order` must be a deterministic total order within a key, so the
    * survivors ARE the rows the window formulation kept; the residual
    * `rank` window runs over <= k rows per key. */
  private def topKRanked(
      df: DataFrame, order: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    org.apache.spark.sql.graft.TopKPerKey(df, Seq(col("q_id")), order, k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(order: _*)))
  }

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", vec_norm(col("embedding")))

  private[queries] def dotSqlDuck(a: String, b: String): String =
    s"""list_sum(list_transform(range(64),
        i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)))"""

  /** Exact-decimal per-label centroids, `(clabel, cvec, cn)` — the ONE
    * copy of the decimal ladder shared by s03, s04 and d09 (a precision
    * or tie-break tweak here changes every consumer and its oracle in
    * lockstep). Order-independent (decimal sums), so identical on any
    * engine/partitioning. */
  private[graft] def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") /
        count(lit(1))).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), x -> x.c)")
        .as("cvec"))
      .select(col("label").as("clabel"), col("cvec"),
        vec_norm(col("cvec")).as("cn"))
  }

  /** Assign every row of `emb` (vec_id, embedding, norm, passthrough
    * cols) to its nearest centroid by rounded cosine (tie-break on
    * clabel — the s04 oracle's exact ordering): adds `clabel`, drops the
    * scratch columns. One broadcast of k centroids, one window. */
  private[graft] def assignNearest(emb: DataFrame, cent: DataFrame): DataFrame =
    // per-row argmin as a native top-1-per-key: the broadcast join
    // emits all k centroid rows for a vec_id inside ONE task, so the
    // partial pass reduces corpus x k rows to corpus rows BEFORE the
    // exchange (the window formulation shuffled all corpus x k)
    org.apache.spark.sql.graft.TopKPerKey(
        emb.crossJoin(broadcast(cent))
          .withColumn("sim",
            when(col("norm") > 0 && col("cn") > 0,
              round(vec_dot(col("embedding"), col("cvec")) /
                (col("norm") * col("cn")), 6)).otherwise(0.0)),
        keys = Seq(col("vec_id")),
        order = Seq(col("sim").desc, col("clabel")), k = 1)
      .drop("cvec", "cn", "sim")

  val s01_cosine_topk = Q(
    "s01_cosine_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = withNorm(Tables(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 5).select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
      val cands = emb.select(
        col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("norm").as("c_norm"))
      cands.join(broadcast(queries), col("c_id") =!= col("q_id"))
        .withColumn("cos_sim",
          when(col("q_norm") > 0 && col("c_norm") > 0,
            round(vec_dot(col("q_emb"), col("c_emb")) /
              (col("q_norm") * col("c_norm")), 6))
            .otherwise(0.0))
        .transform(topKRanked(_, Seq(col("cos_sim").desc, col("c_id")), 10))
        .select("q_id", "c_id", "cos_sim", "rank")
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""
      WITH nv AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(range(64),
                 i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS norm
        FROM embeddings),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               CASE WHEN q.norm > 0 AND c.norm > 0
                 THEN round(list_sum(list_transform(range(64),
                   i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
                   / (q.norm * c.norm), 6)
                 ELSE 0.0 END AS cos_sim
        FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5),
      ranked AS (
        SELECT q_id, c_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cos_sim DESC, c_id) AS INT) AS rank
        FROM pairs)
      SELECT q_id, c_id, cos_sim, rank FROM ranked
      WHERE rank <= 10
      ORDER BY q_id, rank"""))

  /** Deterministic md5-derived hyperplanes: w[p][d] in [-1, 1] — the
    * exact formula the oracle computes in SQL (md5 hex of "p_d", first 8
    * hex digits as an integer, affine-mapped into [-1, 1]). 512 constants
    * need no Spark job: computed once in plain Scala on the driver and
    * folded into the bucket projection as literals — no crossJoin, no
    * shuffle, no collect. */
  private[graft] lazy val planes: Seq[(Int, Seq[Double])] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def w(p: Int, d: Int): Double = {
      val hex = md.digest(s"${p}_$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 2001 - 1000).toDouble / 1000.0
    }
    (0 until 8).map(p => p -> (0 until 64).map(d => w(p, d)).toSeq)
  }

  /** Sign-random-projection bucket (8 bits => 256 cells) of an embedding:
    * one codegen'd projection over literal plane vectors. Shared by s02's
    * ANN probe and the dedup block-size cap (similar vectors share SRP
    * bits with high probability, so a sub-split on them keeps near-dup
    * candidates co-bucketed; identical vectors always collide). */
  private[graft] def srpBucket(emb: Column): Column =
    planes.map { case (p, ws) =>
      when(vec_dot(array(ws.map(lit): _*), emb) >= 0,
        lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  private val planesSqlDuck = """
    planes AS (
      SELECT p, list(w ORDER BY d) AS warr
      FROM (
        SELECT p, d,
               CAST(CAST(concat('0x', substr(md5(concat(p, '_', d)), 1, 8)) AS BIGINT)
                    % 2001 - 1000 AS DOUBLE) / 1000.0 AS w
        FROM (SELECT unnest(range(8)) AS p) CROSS JOIN (SELECT unnest(range(64)) AS d))
      GROUP BY p)"""

  val s02_ann_lsh = Q(
    "s02_ann_lsh",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = withNorm(Tables(s, dir, "embeddings"))
      // bucket = 8 sign bits of plane dot products, computed in ONE
      // codegen'd projection over literal plane vectors — a pure map over
      // the corpus (the crossJoin+groupBy formulation shuffled on an
      // array-typed key).
      val bucketed = emb.select(
        col("vec_id"), col("embedding"), col("norm"),
        srpBucket(col("embedding")).as("bucket"))
      val queries = bucketed.filter(col("vec_id") < 5).select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
      bucketed.select(
        col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("norm").as("c_norm"), col("bucket"))
        .join(broadcast(queries), Seq("bucket"))
        .filter(col("c_id") =!= col("q_id"))
        .withColumn("cos_sim",
          when(col("q_norm") > 0 && col("c_norm") > 0,
            round(vec_dot(col("q_emb"), col("c_emb")) /
              (col("q_norm") * col("c_norm")), 6))
            .otherwise(0.0))
        .transform(topKRanked(_, Seq(col("cos_sim").desc, col("c_id")), 5))
        .select("q_id", "c_id", "bucket", "cos_sim", "rank")
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""
      WITH $planesSqlDuck,
      nv AS (
        SELECT vec_id, embedding,
               sqrt(${dotSqlDuck("embedding", "embedding")}) AS norm
        FROM embeddings),
      bucketed AS (
        SELECT vec_id, embedding, norm,
               CAST(SUM(CASE WHEN ${dotSqlDuck("warr", "embedding")} >= 0
                 THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS bucket
        FROM nv CROSS JOIN planes
        GROUP BY vec_id, embedding, norm),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.bucket AS bucket,
               CASE WHEN q.norm > 0 AND c.norm > 0
                 THEN round(${dotSqlDuck("q.embedding", "c.embedding")}
                   / (q.norm * c.norm), 6)
                 ELSE 0.0 END AS cos_sim
        FROM bucketed q JOIN bucketed c
          ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 5),
      ranked AS (
        SELECT q_id, c_id, bucket, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cos_sim DESC, c_id) AS INT) AS rank
        FROM pairs)
      SELECT q_id, c_id, bucket, cos_sim, rank FROM ranked
      WHERE rank <= 5
      ORDER BY q_id, rank"""))

  /** Oracle for the IVF probe semantics (2-probe, top-5, deterministic
    * tie-breaks) — shared by s03 (inline centroids) and s05 (persisted
    * index): same math, different physical layout. */
  private lazy val ivfOracle: String = s"""
      WITH cent AS (
        SELECT label, i,
               CAST(SUM(CAST(e AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT label, unnest(embedding) AS e, unnest(range(64)) AS i
              FROM embeddings)
        GROUP BY label, i),
      centroid AS (
        SELECT label, list(c ORDER BY i) AS cvec FROM cent GROUP BY label),
      cnorm AS (
        SELECT label, cvec, sqrt(${dotSqlDuck("cvec", "cvec")}) AS cn
        FROM centroid),
      nv AS (
        SELECT vec_id, label, embedding,
               sqrt(${dotSqlDuck("embedding", "embedding")}) AS norm
        FROM embeddings),
      probed AS (
        SELECT q_id, label FROM (
          SELECT q.vec_id AS q_id, c.label,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   CASE WHEN q.norm > 0 AND c.cn > 0
                     THEN round(${dotSqlDuck("q.embedding", "c.cvec")} / (q.norm * c.cn), 6)
                     ELSE 0.0 END DESC, c.label) AS cell_rank
          FROM nv q CROSS JOIN cnorm c
          WHERE q.vec_id < 5)
        WHERE cell_rank <= 2),
      pairs AS (
        SELECT p.q_id, c.vec_id AS c_id, c.label,
               CASE WHEN q.norm > 0 AND c.norm > 0
                 THEN round(${dotSqlDuck("q.embedding", "c.embedding")} / (q.norm * c.norm), 6)
                 ELSE 0.0 END AS cos_sim
        FROM probed p
        JOIN nv c ON c.label = p.label AND c.vec_id <> p.q_id
        JOIN nv q ON q.vec_id = p.q_id),
      ranked AS (
        SELECT q_id, c_id, label, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cos_sim DESC, c_id) AS INT) AS rank
        FROM pairs)
      SELECT q_id, c_id, label, cos_sim, rank FROM ranked
      WHERE rank <= 5
      ORDER BY q_id, rank"""

  val s03_ivf_ann = Q(
    "s03_ivf_ann",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // IVF: the label column is the coarse-quantizer cell id. Centroids
      // are exact-decimal elementwise means (labelCentroids); a query
      // probes its 2 nearest cells and searches only those — at 100 TB
      // the cell id is the partition key and a probe touches 2
      // partitions, not the corpus.
      val cent = labelCentroids(s, dir)
        .select(col("clabel").as("label"), col("cvec"),
          col("cn").as("cnorm"))
      val emb = withNorm(Tables(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 5).select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
      val wCell = Window.partitionBy(col("q_id"))
        .orderBy(col("cell_sim").desc, col("label"))
      val probed = queries.crossJoin(broadcast(cent))
        .withColumn("cell_sim",
          when(col("q_norm") > 0 && col("cnorm") > 0,
            round(vec_dot(col("q_emb"), col("cvec")) /
              (col("q_norm") * col("cnorm")), 6)).otherwise(0.0))
        .withColumn("cell_rank", row_number().over(wCell))
        .filter(col("cell_rank") <= 2)
        .select(col("q_id"), col("q_emb"), col("q_norm"), col("label"))
      emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("norm").as("c_norm"), col("label"))
        .join(broadcast(probed), Seq("label"))
        .filter(col("c_id") =!= col("q_id"))
        .withColumn("cos_sim",
          when(col("q_norm") > 0 && col("c_norm") > 0,
            round(vec_dot(col("q_emb"), col("c_emb")) /
              (col("q_norm") * col("c_norm")), 6)).otherwise(0.0))
        .transform(topKRanked(_, Seq(col("cos_sim").desc, col("c_id")), 5))
        .select("q_id", "c_id", "label", "cos_sim", "rank")
        .orderBy(col("q_id"), col("rank"))
    },
    Some(ivfOracle))

  val s05_ann_index = Q(
    "s05_ann_index",
    (s, dir) => {
      // Same IVF probe as s03, but against the PERSISTED index
      // (graft.operators.AnnIndex): centroids are read, not recomputed,
      // and the vectors scan prunes to the probed cells' partitions —
      // the 100 TB shape where an ANN lookup touches nProbe/k of the
      // corpus. Identical output contract to s03, so the same oracle.
      val root = graft.operators.AnnIndex.defaultRoot(dir)
      graft.operators.AnnIndex.buildIfMissing(s, dir, root)
      val emb = withNorm(Tables(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 5).select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
      graft.operators.AnnIndex.probe(s, root, queries, nProbe = 2, k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(ivfOracle))

  val s04_kmeans_step = Q(
    "s04_kmeans_step",
    (s, dir) => {
      // One Lloyd iteration over the label seeding: exact-decimal
      // centroids per current label (labelCentroids), then every vector
      // re-assigned to its nearest centroid (assignNearest: max cosine,
      // tie-break on label). The output reports cluster movement — the
      // convergence signal an iterative clustering job tracks. Per
      // iteration: one grouped aggregate + one broadcast of k centroids;
      // no O(n^2) anything.
      assignNearest(withNorm(Tables(s, dir, "embeddings")),
          labelCentroids(s, dir))
        .groupBy(col("label"), col("clabel"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("label"), col("clabel"))
    },
    Some(s"""
      WITH cent AS (
        SELECT label, i,
               CAST(SUM(CAST(e AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT label, unnest(embedding) AS e, unnest(range(64)) AS i
              FROM embeddings)
        GROUP BY label, i),
      centroid AS (
        SELECT label AS clabel, list(c ORDER BY i) AS cvec FROM cent GROUP BY label),
      cn AS (
        SELECT clabel, cvec, sqrt(${dotSqlDuck("cvec", "cvec")}) AS cn
        FROM centroid),
      nv AS (
        SELECT vec_id, label, embedding,
               sqrt(${dotSqlDuck("embedding", "embedding")}) AS norm
        FROM embeddings),
      assigned AS (
        SELECT vec_id, label, clabel FROM (
          SELECT v.vec_id, v.label, c.clabel,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                   CASE WHEN v.norm > 0 AND c.cn > 0
                     THEN round(${dotSqlDuck("v.embedding", "c.cvec")} / (v.norm * c.cn), 6)
                     ELSE 0.0 END DESC, c.clabel) AS rk
          FROM nv v CROSS JOIN cn c)
        WHERE rk = 1)
      SELECT label, clabel, COUNT(*) AS n_vectors
      FROM assigned
      GROUP BY label, clabel
      ORDER BY label, clabel"""))

  val s06_quantized_ann = Q(
    "s06_quantized_ann",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.vec_qdot
      // Int8 symmetric scalar quantization + integer-dot top-k — the
      // memory/bandwidth scale path for brute-force search: per-vector
      // scale ma = max|x|, q[i] = floor(x[i]*127/ma). The quantized
      // corpus is 4x smaller than float32 (8x vs float64), scans at
      // memory bandwidth, and scores with the codegen'd EXACT integer
      // dot (LongDotProduct) — no floating-point rounding anywhere in
      // the ranking, so results are bit-identical on any engine and any
      // partitioning (the one place ANN pipelines usually leak
      // nondeterminism). Quantization error only re-orders neighbors
      // whose true similarities are within ~1/127 of each other;
      // CurationOpsSpec measures recall@10 against the exact s01
      // baseline. Same physical shape as s01: tiny query set broadcast,
      // one corpus scan, map-side top-k via window.
      val emb = Tables(s, dir, "embeddings")
        .withColumn("ma",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .select(col("vec_id"), expr(
          """CASE WHEN ma > 0 THEN
               transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / ma) AS BIGINT))
             ELSE transform(embedding, x -> CAST(0 AS BIGINT)) END""")
          .as("qe"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("qe").as("q_qe"))
      emb.select(col("vec_id").as("c_id"), col("qe").as("c_qe"))
        .join(broadcast(queries), col("c_id") =!= col("q_id"))
        .withColumn("qdot", vec_qdot(col("q_qe"), col("c_qe")))
        .transform(topKRanked(_, Seq(col("qdot").desc, col("c_id")), 10))
        .select("q_id", "c_id", "qdot", "rank")
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""
      WITH qv AS (
        SELECT vec_id,
               CASE WHEN ma > 0 THEN
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS BIGINT))
               ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qe
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS ma
              FROM embeddings)),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               CAST(list_sum(list_transform(range(64),
                 i -> q.qe[i+1] * c.qe[i+1])) AS BIGINT) AS qdot
        FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5),
      ranked AS (
        SELECT q_id, c_id, qdot,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY qdot DESC, c_id) AS INT) AS rank
        FROM pairs)
      SELECT q_id, c_id, qdot, rank FROM ranked
      WHERE rank <= 10
      ORDER BY q_id, rank"""))

  val s07_quantized_rerank = Q(
    "s07_quantized_rerank",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.vec_qdot
      // Two-stage retrieval — the production ANN serving pattern: a
      // cheap int8-quantized integer-dot prefilter (s06's math) prunes
      // the corpus to 50 candidates per query, and ONLY those are
      // re-ranked with the exact float cosine (s01's math). At 100 TB
      // the prefilter streams the 4x-smaller quantized sidecar at
      // memory bandwidth and the exact pass touches 50 vectors per
      // query instead of the corpus. Both cutoffs are deterministic
      // (exact integer score / rounded cosine, c_id tie-break), so the
      // result hash-matches the oracle on any engine or partitioning —
      // the property plain ANN pipelines usually give up at the
      // approximate stage. CurationOpsSpec pins recall@10 >= s06's
      // (re-ranking a 50-candidate superset can only help).
      val emb = withNorm(Tables(s, dir, "embeddings"))
        .withColumn("ma",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("qe", expr(
          """CASE WHEN ma > 0 THEN
               transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / ma) AS BIGINT))
             ELSE transform(embedding, x -> CAST(0 AS BIGINT)) END"""))
      val queries = emb.filter(col("vec_id") < 5).select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("qe").as("q_qe"))
      emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("norm").as("c_norm"), col("qe").as("c_qe"))
        .join(broadcast(queries), col("c_id") =!= col("q_id"))
        .withColumn("qdot", vec_qdot(col("q_qe"), col("c_qe")))
        // prefilter is a pure selection — native top-50, no rank column
        .transform(d => org.apache.spark.sql.graft.TopKPerKey(d,
          Seq(col("q_id")), Seq(col("qdot").desc, col("c_id")), 50))
        .withColumn("cos_sim",
          when(col("q_norm") > 0 && col("c_norm") > 0,
            round(vec_dot(col("q_emb"), col("c_emb")) /
              (col("q_norm") * col("c_norm")), 6))
            .otherwise(0.0))
        .transform(topKRanked(_, Seq(col("cos_sim").desc, col("c_id")), 10))
        .select("q_id", "c_id", "cos_sim", "rank")
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""
      WITH qv AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(range(64),
                 i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS norm,
               CASE WHEN ma > 0 THEN
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS BIGINT))
               ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qe
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS ma
              FROM embeddings)),
      pre AS (
        SELECT q_id, c_id, q_emb, q_norm, c_emb, c_norm FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                 q.embedding AS q_emb, q.norm AS q_norm,
                 c.embedding AS c_emb, c.norm AS c_norm,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   CAST(list_sum(list_transform(range(64),
                     i -> q.qe[i+1] * c.qe[i+1])) AS BIGINT) DESC,
                   c.vec_id) AS pre_rank
          FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        WHERE pre_rank <= 50),
      ranked AS (
        SELECT q_id, c_id, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY cos_sim DESC, c_id) AS INT) AS rank
        FROM (
          SELECT q_id, c_id,
                 CASE WHEN q_norm > 0 AND c_norm > 0
                   THEN round(list_sum(list_transform(range(64),
                     i -> CAST(q_emb[i+1] AS DOUBLE) * CAST(c_emb[i+1] AS DOUBLE)))
                     / (q_norm * c_norm), 6)
                   ELSE 0.0 END AS cos_sim
          FROM pre))
      SELECT q_id, c_id, cos_sim, rank FROM ranked
      WHERE rank <= 10
      ORDER BY q_id, rank"""))

  val t09_array_ops = Q(
    "t09_array_ops",
    (s, dir) => {
      // Array algebra family over the embedding column: slice/sort/
      // reverse/flatten/element access, reduced to scalar doubles
      // (rounded) so outputs compare exactly across engines.
      Tables(s, dir, "embeddings")
        .select(
          col("vec_id"),
          expr("size(embedding)").cast("long").as("n_dims"),
          round(expr("array_min(transform(embedding, x -> CAST(x AS DOUBLE)))"), 6)
            .as("min_v"),
          round(expr("array_max(transform(embedding, x -> CAST(x AS DOUBLE)))"), 6)
            .as("max_v"),
          round(expr(
            "element_at(array_sort(transform(embedding, x -> CAST(x AS DOUBLE))), 32)"), 6)
            .as("p50_low"),
          round(vec_dot(col("embedding"), expr("reverse(embedding)")), 6)
            .as("rev_dot"),
          round(expr(
            """aggregate(slice(transform(embedding, x -> CAST(x AS DOUBLE)), 1, 4),
               CAST(0 AS DOUBLE), (a, x) -> a + x)"""), 6).as("first4_sum"),
          expr(
            "size(flatten(array(slice(embedding, 1, 2), slice(embedding, 3, 2))))")
            .cast("long").as("flat_n"))
        .orderBy(col("vec_id"))
    },
    Some("""
      SELECT vec_id,
             CAST(len(embedding) AS BIGINT) AS n_dims,
             round(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS min_v,
             round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS max_v,
             round(list_sort(list_transform(embedding, x -> CAST(x AS DOUBLE)))[32], 6) AS p50_low,
             round(list_sum(list_transform(range(64),
               i -> CAST(embedding[i+1] AS DOUBLE) * CAST(list_reverse(embedding)[i+1] AS DOUBLE))), 6) AS rev_dot,
             round(list_sum(list_transform(range(4),
               i -> CAST(embedding[i+1] AS DOUBLE))), 6) AS first4_sum,
             CAST(len(flatten([embedding[1:2], embedding[3:4]])) AS BIGINT) AS flat_n
      FROM embeddings
      ORDER BY vec_id"""))

  val s08_binary_sketch = Q(
    "s08_binary_sketch",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Binary (sign-bit) sketch top-k — the extreme end of the
      // quantization ladder after s06's int8: each 64-dim vector
      // compresses to TWO 32-bit words (bit j = sign of dim j), a 32x
      // reduction over float64 that scans at memory bandwidth, and
      // similarity becomes Hamming distance = two xor+bit_count ops —
      // pure integer work, bit-identical on any engine/partitioning.
      // For mean-centered embeddings sign-Hamming tracks cosine (the
      // SRP bound with coordinate planes); rank quality is graded in
      // CurationOpsSpec against the exact s01 baseline rather than
      // hash-gated promises. Physical shape: tiny query set broadcast,
      // one corpus scan of the 8-byte sketches, map-side top-k window.
      val word = (lo: Int) =>
        s"""aggregate(sequence($lo, ${lo + 31}), CAST(0 AS BIGINT),
              (acc, j) -> acc + IF(embedding[j] >= 0.0F,
                shiftleft(CAST(1 AS BIGINT), j - $lo), CAST(0 AS BIGINT)))"""
      // cache(): required optimizer barrier, not a speedup — the sketch
      // aggregate is an interpreted higher-order expression, and without
      // the barrier CollapseProject inlines it into every post-join
      // reference, recomputing the 64-iteration fold PER CANDIDATE PAIR
      // (measured 6x slower). The cached table is (vec_id, 2 longs).
      val sk = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr(word(0)).as("w0"), expr(word(32)).as("w1"))
        .cache()
      val queries = sk.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"),
          col("w0").as("qw0"), col("w1").as("qw1"))
      sk.select(col("vec_id").as("c_id"), col("w0"), col("w1"))
        .join(broadcast(queries), col("c_id") =!= col("q_id"))
        .withColumn("hamming", expr(
          "CAST(bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1) AS BIGINT)"))
        .transform(topKRanked(_, Seq(col("hamming"), col("c_id")), 10))
        .select("q_id", "c_id", "hamming", "rank")
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""
      WITH sk AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(32), j ->
                 CASE WHEN embedding[j + 1] >= 0.0
                      THEN CAST(1 AS BIGINT) << j
                      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
               CAST(list_sum(list_transform(range(32), j ->
                 CASE WHEN embedding[j + 33] >= 0.0
                      THEN CAST(1 AS BIGINT) << j
                      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
        FROM embeddings),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               CAST(bit_count(xor(q.w0, c.w0)) +
                    bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming
        FROM sk q JOIN sk c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5),
      ranked AS (
        SELECT q_id, c_id, hamming,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY hamming, c_id) AS INT) AS rank
        FROM pairs)
      SELECT q_id, c_id, hamming, rank FROM ranked
      WHERE rank <= 10
      ORDER BY q_id, rank"""))

  val s09_pq_ann = Q(
    "s09_pq_ann",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      // Product quantization with asymmetric-distance scoring — the
      // memory-compression endpoint of the ANN ladder (float32 s01 →
      // int8 s06 → PQ here → sign-bits s08): split each 64-dim vector
      // into 8 subspaces of 8 dims, quantize each subspace to one of 16
      // cells, and a vector becomes EIGHT 4-bit codes = 4 bytes, a 64x
      // reduction over float32. Search never touches the original
      // vectors: per query, precompute dot(q_m, centroid[m, cell]) for
      // all (m, cell) — at most 8 x 16 = 128 terms — and a candidate's
      // approximate dot is just 8 table lookups summed (ADC, as in
      // Jegou/Douze/Schmid's PQ paper). Ranking normalizes by the
      // reconstructed norm sqrt(sum_m |cent_m|^2) — ADC-cosine, the
      // same target s01 ranks by — from one extra column through the
      // same joins.
      //
      // Codebooks are LSH-learned, not k-means-learned, to keep the
      // whole operator deterministic and oracle-matchable: a subspace's
      // cell id = 4 sign bits against the fixed md5-derived PqIndex.planes
      // (so assignment is a pure codegen'd projection, zero shuffles),
      // and the cell's centroid is the exact-decimal mean of its
      // members ([[labelCentroids]]'s ladder: decimal(20,10) sums →
      // double → one IEEE division) — identical on any engine and
      // partitioning. CurationOpsSpec grades recall@10 against the
      // exact s01 baseline; the hash gate pins determinism, not recall.
      //
      // 100 TB shape (round 18, BENCH_NOTES.md): the codebook and
      // codes are SERVED from the persisted PQ index ([[graft.operators
      // .PqIndex]] — built once per corpus, rebuilt cold under the
      // bench contract's `index_build.pq`). The profile pinned the
      // per-run codebook re-derivation — a 64-dim explode through two
      // corpus-sized aggregates — at 0.92 s of a 1.16 s total, and a
      // codebook is TRAINED state, not query state: no production PQ
      // system re-learns it per search. The steady-state plan is
      // exactly the ADC scan: read the 4-byte codes, explode to 8
      // (m, cell) rows, map-side join against the broadcast Qx128 term
      // table, and the (q_id, c_id) re-group partial-aggregates 8 rows
      // to 1 before shuffling — Q skinny rows per candidate, the same
      // O(Q*N) exhaustive baseline as s01/s06 (IVF-style pruning
      // composes via s05's partition-pruned index when Q grows). Term
      // sums cross rows, so they accumulate in decimal(25,12)
      // (associative) — the 8-term sum is order-independent, and a
      // double never lands on a decimal midpoint (Exact.scala's
      // argument), so the per-term cast rounds identically on both
      // engines. The oracle still derives EVERYTHING from scratch in
      // SQL, so the hash gate proves index-served == inline every
      // round.
      val pqRoot = graft.operators.PqIndex.defaultRoot(dir)
      graft.operators.PqIndex.buildIfMissing(s, dir, pqRoot)
      val cents = graft.operators.PqIndex.codebook(s, pqRoot)
      val qterms = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .crossJoin(broadcast(cents))
        .select(col("q_id"), col("m"), col("cell"), col("cn2"),
          vec_dot(expr("slice(q_emb, m * 8 + 1, 8)"), col("cvec")).as("term"))
      graft.operators.PqIndex.codes(s, pqRoot)
        .select(col("vec_id").as("c_id"),
          posexplode(col("codes")).as(Seq("m", "cell")))
        .join(broadcast(qterms), Seq("m", "cell"))
        .filter(col("c_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("c_id"))
        .agg(sum(col("term").cast(DecimalType(25, 12))).as("s_dec"),
          sum(col("cn2").cast(DecimalType(25, 12))).as("n_dec"))
        .withColumn("adc_cos",
          when(col("n_dec") > 0,
            round(col("s_dec").cast("double") /
              sqrt(col("n_dec").cast("double")), 6)).otherwise(0.0))
        .transform(topKRanked(_, Seq(col("adc_cos").desc, col("c_id")), 10))
        .select("q_id", "c_id", "adc_cos", "rank")
        .orderBy(col("q_id"), col("rank"))
    },
    Some("""
      WITH pqp AS (
        SELECT m, j, list(w ORDER BY d) AS warr
        FROM (
          SELECT m, j, d,
                 CAST(CAST(concat('0x', substr(md5(concat('pq', m, '_', j, '_', d)), 1, 8)) AS BIGINT)
                      % 2001 - 1000 AS DOUBLE) / 1000.0 AS w
          FROM (SELECT unnest(range(8)) AS m)
          CROSS JOIN (SELECT unnest(range(4)) AS j)
          CROSS JOIN (SELECT unnest(range(8)) AS d))
        GROUP BY m, j),
      coded AS (
        SELECT vec_id, m,
               CAST(SUM(CASE WHEN list_sum(list_transform(range(8),
                   d -> CAST(warr[d + 1] AS DOUBLE) *
                        CAST(embedding[m * 8 + d + 1] AS DOUBLE))) >= 0
                 THEN 1 << CAST(j AS INT) ELSE 0 END) AS INT) AS cell
        FROM embeddings CROSS JOIN pqp
        GROUP BY vec_id, m),
      cent AS (
        SELECT m, cell, pos,
               CAST(SUM(CAST(v AS DECIMAL(20, 10))) AS DOUBLE) / COUNT(*) AS c
        FROM (
          SELECT c.m, c.cell, d AS pos,
                 e.embedding[c.m * 8 + d + 1] AS v
          FROM coded c
          JOIN embeddings e USING (vec_id)
          CROSS JOIN (SELECT unnest(range(8)) AS d))
        GROUP BY m, cell, pos),
      cvecs AS (
        SELECT m, cell, cvec,
               list_sum(list_transform(range(8),
                 d -> cvec[d + 1] * cvec[d + 1])) AS cn2
        FROM (SELECT m, cell, list(c ORDER BY pos) AS cvec
              FROM cent GROUP BY m, cell)),
      qt AS (
        SELECT q.vec_id AS q_id, cv.m, cv.cell, cv.cn2,
               list_sum(list_transform(range(8),
                 d -> CAST(q.embedding[cv.m * 8 + d + 1] AS DOUBLE) *
                      cv.cvec[d + 1])) AS term
        FROM embeddings q CROSS JOIN cvecs cv
        WHERE q.vec_id < 5),
      scored AS (
        SELECT q_id, c_id,
               CASE WHEN n_dec > 0
                 THEN round(CAST(s_dec AS DOUBLE) / sqrt(CAST(n_dec AS DOUBLE)), 6)
                 ELSE 0.0 END AS adc_cos
        FROM (
          SELECT qt.q_id, c.vec_id AS c_id,
                 SUM(CAST(term AS DECIMAL(25, 12))) AS s_dec,
                 SUM(CAST(cn2 AS DECIMAL(25, 12))) AS n_dec
          FROM coded c JOIN qt ON c.m = qt.m AND c.cell = qt.cell
          WHERE c.vec_id <> qt.q_id
          GROUP BY qt.q_id, c.vec_id)),
      ranked AS (
        SELECT q_id, c_id, adc_cos,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_cos DESC, c_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, c_id, adc_cos, rank FROM ranked
      WHERE rank <= 10
      ORDER BY q_id, rank"""))

  val s10_norm_outliers = Q(
    "s10_norm_outliers",
    (s, dir) => {
      // Embedding-space health monitor: per label, how many vectors'
      // norms sit more than 3σ from the label mean — the cheap detector
      // for a broken encoder run (NaN-adjacent collapse → near-zero
      // norms; a missed normalization step → inflated norms) that
      // corrupts a shard of the embedding table without changing its
      // schema or row count.
      //
      // Determinism: the norm is quantized per row to integer
      // MICRO-norms q = round(1e6·√⟨v,v⟩) (per-row double math is
      // engine-identical: fixed-order dot, IEEE sqrt, away-from-zero
      // round on a non-negative value), and every cross-row statistic
      // is then exact integer arithmetic — the 3σ test is evaluated in
      // the squared, n-scaled form (q·n − Σq)² > 9·(n·Σq² − (Σq)²),
      // i.e. z² > 9 with both sides integers in DECIMAL(38,0)/HUGEINT.
      // No distributed float sum exists anywhere, so results are
      // identical under any partitioning. Bounds: q ≤ ~1e8 (norm ≤
      // 100), so the decimal products stay within 38 digits up to
      // ~1e10 vectors per label.
      //
      // Shape: one scan → per-row quantize → grouped integer sums
      // (|labels| rows) → broadcast join back → grouped outlier count.
      // The q-table feeds both aggregates via cache (t13/t20 pattern);
      // the cached relation carries only (label, q) longs.
      val qn = Tables(s, dir, "embeddings")
        .select(col("label"),
          round(sqrt(vec_dot(col("embedding"), col("embedding")))
            * lit(1000000.0)).cast("long").as("q"))
        .cache()
      val st = qn.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("sum_q"),
          sum(col("q").cast("decimal(38,0)") * col("q")).as("sum_q2"))
      qn.join(broadcast(st), "label")
        .withColumn("dev",
          col("q").cast("decimal(38,0)") * col("n") - col("sum_q"))
        .withColumn("is_out",
          when(col("dev") * col("dev") >
            (col("n").cast("decimal(38,0)") * col("sum_q2") -
              col("sum_q").cast("decimal(38,0)") * col("sum_q")) * 9,
            1L).otherwise(0L))
        .groupBy(col("label"), col("n"), col("sum_q"))
        .agg(sum(col("is_out")).as("n_outliers"))
        .select(col("label"), col("n").as("n_vecs"),
          round(col("sum_q").cast("double") / col("n") / 1000000.0, 6)
            .as("mean_norm"),
          col("n_outliers"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH qn AS (
        SELECT label,
               CAST(round(sqrt(${dotSqlDuck("embedding", "embedding")})
                    * 1000000) AS BIGINT) AS q
        FROM embeddings),
      st AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sum_q,
               SUM(CAST(q AS HUGEINT) * q) AS sum_q2
        FROM qn GROUP BY label)
      SELECT label, n AS n_vecs,
             round(CAST(sum_q AS DOUBLE) / n / 1000000.0, 6) AS mean_norm,
             CAST(SUM(CASE WHEN
                 (CAST(q AS HUGEINT) * n - sum_q)
                   * (CAST(q AS HUGEINT) * n - sum_q)
                 > 9 * (CAST(n AS HUGEINT) * sum_q2
                        - CAST(sum_q AS HUGEINT) * sum_q)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM qn JOIN st USING (label)
      GROUP BY label, n, sum_q
      ORDER BY label"""))

  val s11_cluster_quality = Q(
    "s11_cluster_quality",
    (s, dir) => {
      // Cluster-quality report per label: cohesion (mean cosine of each
      // vector to its own label centroid) vs separation (cosine to the
      // nearest OTHER centroid) — the embedding-space health check run
      // before trusting labels for blocking (d06/d09) or IVF routing
      // (s03/s05). A label whose nn_cos approaches its mean_intra_cos
      // is merging with its neighbor and will leak near-dups across
      // blocks.
      //
      // Shape: ONE embeddings scan for the centroid ladder (shared
      // decimal-exact labelCentroids), one more for the cohesion join
      // against the broadcast k-row centroid table, and a k×k
      // nested-loop on centroids only (bounded by |labels|², dimension-
      // scale). Determinism: per-row cosines round to 6dp, cross-row
      // means sum exactly in DECIMAL(18,6) — no distributed float sum.
      import org.apache.spark.sql.types.DecimalType
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.{vec_dot, vec_norm}
      val cent = labelCentroids(s, dir)
      val intra = Tables(s, dir, "embeddings")
        .withColumn("norm", vec_norm(col("embedding")))
        .join(broadcast(cent), col("label") === col("clabel"))
        .withColumn("cos", when(col("norm") > 0 && col("cn") > 0,
          round(vec_dot(col("embedding"), col("cvec")) /
            (col("norm") * col("cn")), 6)).otherwise(0.0))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("cos").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1)), 6).as("mean_intra_cos"))
      val a = cent.select(col("clabel").as("label"),
        col("cvec").as("va"), col("cn").as("na"))
      val b = cent.select(col("clabel").as("other"),
        col("cvec").as("vb"), col("cn").as("nb"))
      val wNear = Window.partitionBy(col("label"))
        .orderBy(col("nn_cos").desc, col("other"))
      val sep = a.join(broadcast(b), col("label") =!= col("other"))
        .withColumn("nn_cos", when(col("na") > 0 && col("nb") > 0,
          round(vec_dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
          .otherwise(0.0))
        .withColumn("rk", row_number().over(wNear))
        .filter(col("rk") === 1)
        .select(col("label"), col("other").as("nn_label"), col("nn_cos"))
      intra.join(sep, "label")
        .select(col("label"), col("n_vecs"), col("mean_intra_cos"),
          col("nn_label"), col("nn_cos"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH cent AS (
        SELECT label, i,
               CAST(SUM(CAST(e AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT label, unnest(embedding) AS e, unnest(range(64)) AS i
              FROM embeddings)
        GROUP BY label, i),
      centroid AS (
        SELECT label, list(c ORDER BY i) AS cvec FROM cent GROUP BY label),
      cn AS (
        SELECT label, cvec, sqrt(${dotSqlDuck("cvec", "cvec")}) AS cn
        FROM centroid),
      nv AS (
        SELECT vec_id, label, embedding,
               sqrt(${dotSqlDuck("embedding", "embedding")}) AS norm
        FROM embeddings),
      intra AS (
        SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               round(CAST(SUM(CAST(
                 CASE WHEN v.norm > 0 AND c.cn > 0
                   THEN round(${dotSqlDuck("v.embedding", "c.cvec")}
                        / (v.norm * c.cn), 6)
                   ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_intra_cos
        FROM nv v JOIN cn c ON v.label = c.label
        GROUP BY v.label),
      sep AS (
        SELECT label, nn_label, nn_cos FROM (
          SELECT label, nn_label, nn_cos,
                 ROW_NUMBER() OVER (PARTITION BY label
                   ORDER BY nn_cos DESC, nn_label) AS rk
          FROM (
            SELECT a.label, b.label AS nn_label,
                   CASE WHEN a.cn > 0 AND b.cn > 0
                     THEN round(${dotSqlDuck("a.cvec", "b.cvec")}
                          / (a.cn * b.cn), 6)
                     ELSE 0.0 END AS nn_cos
            FROM cn a JOIN cn b ON a.label <> b.label))
        WHERE rk = 1)
      SELECT label, n_vecs, mean_intra_cos, nn_label, nn_cos
      FROM intra JOIN sep USING (label)
      ORDER BY label"""))

  /** Upper-triangle covariance (and raw second-moment) matrix of the
    * embedding distribution — the statistics PCA/whitening starts from,
    * and the standard health check for a trained embedding space (a
    * dimension with near-zero variance is dead; strong off-diagonal
    * mass means the space wastes capacity on correlated axes).
    *
    * Exactness: per-cell products x_i·x_j are float·float in double —
    * EXACT (each float is exactly representable; the product fits a
    * double) — then summed in DECIMAL(18,6) (order-independent, the
    * Exact ladder); n and per-dim sums are exact; the final
    * cov = (S - s_i·s_j/n)/n is a fixed chain of IEEE ops over
    * identical operands on both engines, rounded to 6 decimals.
    *
    * Scale shape: ONE embeddings scan; each row expands to its 2080
    * upper-triangle cells via a single nested-transform + explode (no
    * self-join of the exploded stream — that would be a 64N x 64N
    * equi-join), and hash partial aggregation collapses every
    * partition to <= 2080 rows before the ONLY exchange. Per-dim sums
    * ride a second dimension-sized aggregate off the same scan; both
    * join broadcast. Output is 2080 rows at ANY corpus size. The
    * 2080x row expansion is the intrinsic FLOP count of a Gram matrix,
    * not overhead. DECIMAL(18,6) cell sums keep the unscaled value
    * under 2^53 through ~1e13 vectors (|x_i·x_j| < 1; see
    * Exact.money's double-rounding note), so the final double cast
    * stays a single correctly-rounded step. */
  val s12_embed_covariance = Q(
    "s12_embed_covariance",
    (s, dir) => {
      // ROUND-17 shape (profiled at sf0.1, BENCH_NOTES.md round 17:
      // scan 0.22s, the old nested-transform explode 0.61s,
      // decimal-vs-long agg delta 0.04s — the cost was EXPLODE ROW
      // VOLUME, not decimal sums or a codegen fallback): the Gram pass
      // is a partition-local kernel accumulating all 2080
      // upper-triangle cells, the 64 per-dim sums, and n in ONE tight
      // loop over the vectors — the BLAS shape — in EXACT unscaled
      // micro-units. Each cell contribution
      // is BigDecimal(product).setScale(6, HALF_UP), bit-identical to
      // the old `CAST(x_i*x_j AS DECIMAL(18,6))`, so the sums equal
      // the decimal ladder's exactly; within a partition they
      // accumulate in a long (Math.addExact — a partition would need
      // ~3.6e10 rows to overflow, far past what one task can hold, and
      // the guard is loud, never wrong); across partitions they merge
      // as DECIMAL(38,0), exact at any corpus size. One scan, no
      // cache, ~2144 rows per TASK into the only exchange; output is
      // 2080 cells at any scale. The 2080x multiply-add per row is the
      // intrinsic FLOP count of a Gram matrix — the kernel just stops
      // paying row-materialization for it.
      import s.implicits._
      import org.apache.spark.sql.types._
      val emb = Tables(s, dir, "embeddings").transform(Tables.fanOut)
      val D = 64; val cellsN = D * (D + 1) / 2
      val partials = emb.select(col("embedding")).as[Array[Float]]
        .mapPartitions { it =>
          val acc = new Array[Long](cellsN + D)
          var n = 0L
          it.foreach { v =>
            // the old expression ladder was null-safe (NULL products);
            // the kernel indexes raw, so fail loudly and diagnosably
            // on a malformed row instead of an opaque task NPE/AIOOBE
            require(v != null && v.length >= D,
              s"s12 Gram kernel: embedding row is ${
                if (v == null) "NULL" else s"${v.length}-dim"
              }, need >= $D dims — malformed embeddings table")
            n += 1
            var i = 0; var k = 0
            while (i < D) {
              val vi = v(i).toDouble
              var j = i
              while (j < D) {
                acc(k) = Math.addExact(acc(k),
                  java.math.BigDecimal.valueOf(vi * v(j).toDouble)
                    .setScale(6, java.math.RoundingMode.HALF_UP)
                    .unscaledValue().longValueExact())
                k += 1; j += 1
              }
              acc(cellsN + i) = Math.addExact(acc(cellsN + i),
                java.math.BigDecimal.valueOf(vi)
                  .setScale(6, java.math.RoundingMode.HALF_UP)
                  .unscaledValue().longValueExact())
              i += 1
            }
          }
          acc.iterator.zipWithIndex.map { case (u, k) => (k, u) } ++
            Iterator.single((cellsN + D, n))
        }
        .toDF("k", "u")
        .groupBy(col("k"))
        .agg(sum(col("u").cast(DecimalType(38, 0))).as("su"))
        .collect() // 2145 rows — dimension-sized, never corpus-sized
      val byK = partials.map(r =>
        r.getInt(0) -> r.getDecimal(1).toBigInteger).toMap
      def micros(k: Int) = new java.math.BigDecimal(
        byK.getOrElse(k, java.math.BigInteger.ZERO), 6)
      val n = byK.getOrElse(cellsN + D, java.math.BigInteger.ZERO)
        .longValueExact()
      // rebuild the exact decimal sums as a local frame and keep the
      // ORIGINAL final projection — the double cast, rounding, and
      // negative-zero collapse are byte-identical to the oracle's
      val rows = (for (i <- 0 until D; j <- i until D) yield {
        val k = (2 * D - i + 1) * i / 2 + (j - i)
        org.apache.spark.sql.Row(i, j, micros(k), micros(cellsN + i),
          micros(cellsN + j), n)
      }).toSeq
      val schema = StructType(Seq(
        StructField("i", IntegerType), StructField("j", IntegerType),
        StructField("sm", DecimalType(38, 6)),
        StructField("si", DecimalType(38, 6)),
        StructField("sj", DecimalType(38, 6)),
        StructField("n", LongType)))
      s.createDataFrame(
          s.sparkContext.parallelize(rows, 1), schema)
        // `+ 0.0` collapses IEEE negative zero (round(-1e-9, 6) is -0.0
        // in DuckDB, 0.0 here; -0.0 + 0.0 = +0.0 on every engine), so
        // the hash compare can't split on zero's sign bit
        .select(col("i"), col("j"),
          (round(col("sm").cast("double"), 6) + lit(0.0))
            .as("second_moment"),
          (round((col("sm").cast("double") -
            col("si").cast("double") * col("sj").cast("double") /
              col("n")) / col("n"), 6) + lit(0.0)).as("cov"))
        .orderBy(col("i"), col("j"))
    },
    Some("""
      WITH e AS (SELECT embedding FROM embeddings),
      cells AS (
        SELECT i, j,
               SUM(CAST(CAST(embedding[i+1] AS DOUBLE) *
                        CAST(embedding[j+1] AS DOUBLE)
                     AS DECIMAL(18,6))) AS sm
        FROM e
        CROSS JOIN (SELECT unnest(range(64)) AS i)
        CROSS JOIN (SELECT unnest(range(64)) AS j)
        WHERE j >= i
        GROUP BY i, j),
      dims AS (
        SELECT i AS pos,
               SUM(CAST(CAST(embedding[i+1] AS DOUBLE) AS DECIMAL(18,6)))
                 AS sd
        FROM e CROSS JOIN (SELECT unnest(range(64)) AS i)
        GROUP BY i),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e)
      SELECT CAST(c.i AS INT) AS i, CAST(c.j AS INT) AS j,
             round(CAST(sm AS DOUBLE), 6) + 0.0 AS second_moment,
             round((CAST(sm AS DOUBLE) -
               CAST(a.sd AS DOUBLE) * CAST(b.sd AS DOUBLE) / n) / n, 6)
               + 0.0 AS cov
      FROM cells c
      JOIN dims a ON a.pos = c.i
      JOIN dims b ON b.pos = c.j
      CROSS JOIN nn
      ORDER BY i, j"""))

  /** Recall@10 of the SRP-LSH ANN path (s02's bucketing) against the
    * exact brute-force ranking (s01's), per query — retrieval
    * EVALUATION as an externally-gated query, not just a spec
    * assertion: the engine grades its own ANN quality and the oracle
    * recomputes the same grade. A recall regression (plane formula
    * drift, bucket-width change) breaks this query's hash before any
    * downstream consumer notices degraded neighbors.
    *
    * Shape: the bucketed corpus is ONE cached projection feeding both
    * sides; queries broadcast; the exact side is the documented
    * O(Q·N) baseline sweep (Q = 50 broadcast rows), the approx side a
    * bucket equi-join; both rankings end in per-query top-10 windows
    * over their bounded candidate sets, and the recall join runs on
    * (q_id, c_id) pairs — 10·Q rows. */
  val s13_ann_recall = Q(
    "s13_ann_recall",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = withNorm(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding"), col("norm"),
          srpBucket(col("embedding")).as("bucket"))
        .cache() // feeds queries + both candidate sides
      val queries = emb.filter(col("vec_id") < 50).select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket").as("q_bucket"))
      def cands = emb.select(
        col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("norm").as("c_norm"), col("bucket").as("c_bucket"))
      def top10(df: DataFrame): DataFrame = df
        .withColumn("cos_sim",
          when(col("q_norm") > 0 && col("c_norm") > 0,
            round(vec_dot(col("q_emb"), col("c_emb")) /
              (col("q_norm") * col("c_norm")), 6))
            .otherwise(0.0))
        // pure selection (rank is not consumed): native top-10, the
        // exact leg's corpus-sized candidate set partial-reduces
        // map-side instead of shuffling whole
        .transform(d => org.apache.spark.sql.graft.TopKPerKey(d,
          Seq(col("q_id")), Seq(col("cos_sim").desc, col("c_id")), 10))
        .select(col("q_id"), col("c_id"))
      val exact = top10(cands.join(broadcast(queries),
        col("c_id") =!= col("q_id")))
      val approx = top10(cands.join(broadcast(queries),
        col("c_bucket") === col("q_bucket") && col("c_id") =!= col("q_id")))
      exact
        .join(approx.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .withColumn("recall_at_10",
          round(col("hits").cast("double") / 10.0, 6))
        .orderBy(col("q_id"))
    },
    Some(s"""
      WITH $planesSqlDuck,
      nv AS (
        SELECT vec_id, embedding,
               sqrt(${dotSqlDuck("embedding", "embedding")}) AS norm
        FROM embeddings),
      bucketed AS (
        SELECT vec_id, embedding, norm,
               CAST(SUM(CASE WHEN ${dotSqlDuck("warr", "embedding")} >= 0
                 THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END)
                 AS BIGINT) AS bucket
        FROM nv CROSS JOIN planes
        GROUP BY vec_id, embedding, norm),
      scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               q.bucket AS q_bucket, c.bucket AS c_bucket,
               CASE WHEN q.norm > 0 AND c.norm > 0
                 THEN round(${dotSqlDuck("q.embedding", "c.embedding")}
                   / (q.norm * c.norm), 6)
                 ELSE 0.0 END AS cos_sim
        FROM bucketed q JOIN bucketed c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 50),
      exact AS (
        SELECT q_id, c_id FROM (
          SELECT q_id, c_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, c_id) AS rk
          FROM scored) WHERE rk <= 10),
      approx AS (
        SELECT q_id, c_id FROM (
          SELECT q_id, c_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, c_id) AS rk
          FROM scored WHERE q_bucket = c_bucket) WHERE rk <= 10)
      SELECT e.q_id,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS hits,
             round(CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / 10.0, 6) AS recall_at_10
      FROM exact e LEFT JOIN approx a
        ON a.q_id = e.q_id AND a.c_id = e.c_id
      GROUP BY e.q_id
      ORDER BY e.q_id"""))

  val all: Seq[Q] = Seq(s01_cosine_topk, s02_ann_lsh, s03_ivf_ann,
    s04_kmeans_step, s05_ann_index, s06_quantized_ann,
    s07_quantized_rerank, s08_binary_sketch, s09_pq_ann,
    s10_norm_outliers, s11_cluster_quality, s12_embed_covariance,
    s13_ann_recall, t09_array_ops)
}
