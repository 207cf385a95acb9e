package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Deduplication operators for training-data pipelines over `documents`.
  *
  * Scale design: every variant reduces each document to a small digest
  * (md5 / minhash signature) FIRST, so shuffles move digests rather than
  * document bodies; candidate generation is hash-bucket joins (LSH bands),
  * never an O(n^2) cross join. Hashes are md5-based so results are
  * engine-independent (murmur/xxhash seeds differ across engines).
  */
object Dedup {
  private val toksExpr = "regexp_extract_all(text, '[a-z0-9]+', 0)"

  /** Distinct word-3-gram shingles of a document. */
  private val shinglesExpr = s"""
    CASE WHEN size(toks) >= 3 THEN
      array_distinct(transform(sequence(0, size(toks) - 3),
        i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))
    ELSE array_distinct(slice(toks, 1, 0)) END"""

  private val shinglesSqlDuck = """
    CASE WHEN len(toks) >= 3 THEN
      list_distinct(list_transform(range(len(toks) - 2),
        i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))
    ELSE [] END"""

  private def withShingles(s: SparkSession, dir: String): DataFrame =
    // Single-row-group bench parquet => one input split; fanOut buys full
    // parallelism for the (interpreted, CPU-bound) shingle/hash work —
    // but ONLY when the scan under-parallelizes. A many-file 100 TB
    // corpus tokenizes on its own splits with no Exchange (Tables.fanOut).
    Tables(s, dir, "documents")
      .transform(Tables.fanOut)
      .withColumn("toks", expr(toksExpr))
      .withColumn("sh", expr(shinglesExpr))

  val d01_exact_dedup = Q(
    "d01_exact_dedup",
    (s, dir) => {
      // Exact dedup: hash-groupBy on the md5 digest. Only (digest, id,
      // n_chars) shuffles; the canonical representative is min(doc_id).
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(
          count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("canonical_id"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("fp"))
    },
    Some("""
      SELECT md5(text) AS fp, COUNT(*) AS n_copies,
             MIN(doc_id) AS canonical_id,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents
      GROUP BY md5(text)
      ORDER BY fp"""))

  val d02_ngram_jaccard = Q(
    "d02_ngram_jaccard",
    (s, dir) => {
      // Word-3-gram Jaccard between consecutive doc_ids (a bounded, fully
      // deterministic candidate set; unbounded candidate generation is
      // d04's LSH job). Set sizes only — order-insensitive.
      val a = withShingles(s, dir).select(
        col("doc_id").as("a_id"), col("sh").as("sh_a"))
      val b = withShingles(s, dir).select(
        col("doc_id").as("b_id"), col("sh").as("sh_b"))
      a.join(b, col("b_id") === col("a_id") + 1)
        .select(
          col("a_id"), col("b_id"),
          expr("size(sh_a)").cast("long").as("n_a"),
          expr("size(sh_b)").cast("long").as("n_b"),
          expr("size(array_intersect(sh_a, sh_b))").cast("long")
            .as("n_common"))
        .withColumn("jaccard",
          when(col("n_a") + col("n_b") - col("n_common") > 0,
            col("n_common").cast("double") /
              (col("n_a") + col("n_b") - col("n_common")))
            .otherwise(0.0))
        .orderBy(col("a_id"))
    },
    Some(s"""
      SELECT a_id, b_id, n_a, n_b, n_common,
             CASE WHEN n_a + n_b - n_common > 0
                  THEN CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)
                  ELSE 0.0 END AS jaccard
      FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(len(a.sh) AS BIGINT) AS n_a,
               CAST(len(b.sh) AS BIGINT) AS n_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common
        FROM (SELECT doc_id, $shinglesSqlDuck AS sh
              FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents)) a
        JOIN (SELECT doc_id, $shinglesSqlDuck AS sh
              FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents)) b
          ON b.doc_id = a.doc_id + 1)
      ORDER BY a_id"""))

  /** MinHash signatures: 16 min-hashes over distinct word-3-gram shingles.
    * Shared by d03 (signatures) and d04 (LSH banding).
    *
    * Computed entirely inside one codegen'd projection (nested array
    * lambdas), NOT explode+groupBy: per-document work needs no shuffle at
    * all, so signature generation scales as a pure map over the corpus.
    * (The explode+groupBy formulation planned 2 shuffles + sort aggregates
    * and ran ~30x slower at sf0.1.)
    *
    * Each shingle is hashed ONCE (md5, the engine-portable hash); the 16
    * permutations are the standard affine family h1 + j*h2 mod p over two
    * 60-bit halves of the digest — 16x less hashing than md5-per-seed, and
    * pure integer arithmetic that any engine reproduces exactly. */
  private[queries] def signatures(s: SparkSession, dir: String): DataFrame = {
    // The cache() is a required optimizer barrier, not an optional speedup:
    // higher-order array expressions are interpreted (no codegen, no CSE),
    // and CollapseProject happily inlines the producing tree into every
    // consumer reference — without the barrier the shingle+md5 tree is
    // re-evaluated per signature slot (16x) and per self-join side.
    // The cached table is tiny: (doc_id, 16 longs) per document.
    // Native expression (graft.functions.MinHashSignature): one JVM pass
    // over the digest bytes per shingle, identical values to the portable
    // md5 SQL formula the oracle runs. NULL sig marks <3-token documents;
    // the filter runs on the CACHED column — filtering before the
    // projection gets predicate-pushed below the repartition exchange and
    // re-evaluates the shingle tree single-threaded on the one-split scan
    // side (measured: dominated the runtime).
    import graft.functions.HashFunctions.minhash_sig
    withShingles(s, dir)
      .select(col("doc_id"), minhash_sig(col("sh")).as("sig"))
      .cache()
      .filter(col("sig").isNotNull)
  }

  private val signaturesSqlDuck = s"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
    shs AS (
      SELECT doc_id, $shinglesSqlDuck AS sh FROM tok),
    hashed AS (
      SELECT doc_id,
             list_transform(sh, x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 1000000007) AS h1,
             list_transform(sh, x -> CAST(concat('0x', substr(md5(x), 17, 15)) AS BIGINT) % 1000000007) AS h2
      FROM shs WHERE len(sh) > 0),
    sig AS (
      -- per-slot independent linear combinations (2j+1, 7^j mod P) of
      -- the two digest halves — the Scala side's exact formula
      -- (HashExpressions.SlotC2); HUGEINT keeps the products exact
      SELECT doc_id,
             list_transform(range(16), j -> CAST(list_min(list_transform(
               range(len(h1)),
               i -> (CAST(h1[i+1] AS HUGEINT) * (2*j + 1)
                     + CAST(h2[i+1] AS HUGEINT)
                       * CAST([1, 7, 49, 343, 2401, 16807, 117649, 823543,
                               5764801, 40353607, 282475249, 977326736,
                               841287110, 889009735, 223068103,
                               561476714][j+1] AS HUGEINT))
                    % 1000000007)) AS BIGINT)) AS sig
      FROM hashed)"""

  val d03_minhash_sig = Q(
    "d03_minhash_sig",
    (s, dir) =>
      signatures(s, dir)
        .select(col("doc_id"),
          concat_ws(",", expr("transform(sig, x -> CAST(x AS STRING))"))
            .as("sig_str"))
        .orderBy(col("doc_id")),
    Some(s"""
      $signaturesSqlDuck
      SELECT doc_id,
             array_to_string(list_transform(sig, x -> CAST(x AS VARCHAR)), ',') AS sig_str
      FROM sig
      ORDER BY doc_id"""))

  /** 4-band × 4-row LSH banding over a 16-slot `sig` column: each band's
    * key is the md5 of its 4 signature slots. Shared verbatim by the
    * batch d04 join and [[graft.streaming.DedupStream]] so batch and
    * incremental detection see byte-identical bucket keys. */
  private[graft] val bandStructExpr =
    """transform(sequence(0, 3), b -> struct(b AS band,
       md5(concat_ws(',', CAST(sig[b*4] AS STRING), CAST(sig[b*4+1] AS STRING),
                     CAST(sig[b*4+2] AS STRING), CAST(sig[b*4+3] AS STRING))) AS bh))"""

  /** Band any (doc_id, text) relation — batch OR streaming — into
    * (doc_id, band, bh) bucket membership rows. Pure per-row projections
    * (regexp → shingles → native MinHash → band md5), so it runs
    * unchanged under Structured Streaming.
    *
    * The signature is bound through `explode(array(sig))` rather than a
    * plain projection: signatures() uses .cache() as its optimizer
    * barrier, but a cache is unavailable on a streaming plan, and
    * without SOME barrier CollapseProject inlines the interpreted
    * shingle+MinHash tree into all 17 downstream references (16 band
    * slots + the null filter — the measured 16x blowup documented on
    * signatures()). A Generate's output is an attribute the optimizer
    * cannot inline through, so the tree evaluates exactly once per
    * document on both the batch and streaming paths. */
  private[graft] def bandedFromText(docs: DataFrame): DataFrame =
    bandedWithSigFromText(docs).drop("sig")

  /** The d04 estimated-Jaccard: matching fraction of two 16-slot
    * signature columns. ONE copy shared by the batch join and the
    * persisted-index probe so the scoring formula cannot diverge. */
  private[graft] def estSim(a: String, b: String) =
    (expr(s"aggregate(zip_with($a, $b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
      .cast("double") / 16.0)

  /** Like [[bandedFromText]] but carrying the signature through:
    * (doc_id, sig, band, bh). Streaming-safe (same Generate barrier). */
  private[graft] def bandedWithSigFromText(docs: DataFrame): DataFrame = {
    import graft.functions.HashFunctions.minhash_sig
    docs
      .withColumn("toks", expr(toksExpr))
      .withColumn("sh", expr(shinglesExpr))
      .select(col("doc_id"), explode(array(minhash_sig(col("sh")))).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"), explode(expr(bandStructExpr)).as("x"))
      .select(col("doc_id"), col("sig"), col("x.band"), col("x.bh"))
  }

  /** Corpus-wide banded signatures via the cached [[signatures]] table —
    * the d04 join input and [[graft.operators.DedupIndex]]'s build
    * source. */
  private[graft] def bandedWithSig(s: SparkSession, dir: String): DataFrame =
    signatures(s, dir).select(
      col("doc_id"), col("sig"), explode(expr(bandStructExpr)).as("x"))
      .select(col("doc_id"), col("sig"), col("x.band"), col("x.bh"))

  val d04_lsh_pairs = Q(
    "d04_lsh_pairs",
    (s, dir) => {
      // LSH banding: 4 bands x 4 rows. Candidate pairs = docs sharing any
      // band hash — an equi-join on (band, hash), never a cross join.
      // Signatures ride along through the join (16 x 32 bytes/doc), so no
      // extra lookup joins are needed for the similarity estimate.
      val bands = bandedWithSig(s, dir)
      bands.as("l")
        .join(bands.as("r"),
          col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(
          col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
          col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
        .dropDuplicates("a_id", "b_id")
        .select(col("a_id"), col("b_id"),
          estSim("sig_a", "sig_b").as("est_sim"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""
      $signaturesSqlDuck,
      band AS (
        SELECT doc_id, b,
               md5(CAST(sig[b*4 + 1] AS VARCHAR) || ',' || CAST(sig[b*4 + 2] AS VARCHAR)
                   || ',' || CAST(sig[b*4 + 3] AS VARCHAR) || ',' || CAST(sig[b*4 + 4] AS VARCHAR)) AS bh
        FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
      pairs AS (
        SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
        FROM band l JOIN band r
          ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id)
      SELECT a_id, b_id,
             CAST(list_sum(list_transform(range(16),
               i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_sim
      FROM pairs
      JOIN sig sa ON sa.doc_id = a_id
      JOIN sig sb ON sb.doc_id = b_id
      ORDER BY a_id, b_id"""))

  val d05_simhash = Q(
    "d05_simhash",
    (s, dir) => {
      // 32-bit SimHash over distinct tokens: per-bit +/-1 votes from a
      // 32-bit md5-derived token hash, folded once over the token set
      // (same single-pass shape as the minhash fold). High-16-bit band
      // count demonstrates the LSH-bucket use of the fingerprint.
      import org.apache.spark.sql.expressions.Window
      import graft.functions.HashFunctions.simhash32
      Tables(s, dir, "documents")
        .transform(Tables.fanOut)
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), simhash32(col("toks")).as("simhash"))
        .cache()
        .filter(col("simhash").isNotNull)
        .withColumn("n_band",
          count(lit(1)).over(
            Window.partitionBy(expr("shiftright(simhash, 16)"))))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id, simhash,
             COUNT(*) OVER (PARTITION BY simhash >> 16) AS n_band
      FROM (
        SELECT doc_id,
          CAST(list_sum(list_transform(range(32), j ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END))
            AS BIGINT) AS simhash
        FROM (
          SELECT doc_id,
                 list_transform(list_distinct(toks),
                   t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)) AS hs
          FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
                FROM documents)
          WHERE len(toks) > 0))
      ORDER BY doc_id"""))

  /** Default block-size cap for label-blocked near-dup joins: labels at
    * or under the cap pair within the label exactly as before; larger
    * (degenerate) labels sub-split so no single block goes quadratic. */
  val neardupMaxBlock = 1024

  /** Assign each row a sub-block id inside its label block. Labels with
    * population <= maxBlock keep sub = 0 (byte-identical results to the
    * plain label join). An oversized label — the degenerate "unknown"
    * bucket that would otherwise go quadratic at 100 TB — is split on
    * `ceil(log2(n / maxBlock))` low bits of the SRP bucket (capped at 8),
    * a similarity-PRESERVING split: near-identical vectors share SRP bits
    * with high probability and exact duplicates always collide, so recall
    * on true near-dups survives while the per-task pair count drops from
    * O(n^2) to O(n^2 / 2^bits). The per-label histogram is a tiny
    * aggregate broadcast back onto the corpus. */
  private[queries] def withSubBlock(nv: DataFrame, maxBlock: Int): DataFrame = {
    val sizes = nv.groupBy(col("label"))
      .agg(count(lit(1)).as("n_block"))
      .withColumn("nbits",
        least(lit(8), greatest(lit(0),
          ceil(log2(col("n_block").cast("double") / maxBlock)))).cast("int"))
      .select(col("label"), col("nbits"))
    nv.join(broadcast(sizes), "label")
      .withColumn("sub",
        when(col("nbits") === 0, lit(0L)).otherwise(
          Similarity.srpBucket(col("embedding"))
            .bitwiseAND(expr("CAST(shiftleft(1, nbits) - 1 AS BIGINT)"))))
      .drop("nbits")
  }

  /** Label-blocked cosine near-dup pairs over (vec_id, label, embedding),
    * with the oversized-block guard of [[withSubBlock]]. */
  private[queries] def embedNearDupPairs(
      nv0: DataFrame, maxBlock: Int = neardupMaxBlock): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot, vec_norm}
    // cache(): both sides of the self-join share this subtree — without
    // the barrier the norm projection and the sub-block histogram join are
    // computed twice (the same pattern as the signature caches above).
    val nv = withSubBlock(
      nv0.withColumn("norm", vec_norm(col("embedding"))), maxBlock)
      .cache()
    nv.as("a").join(nv.as("b"),
        col("a.label") === col("b.label") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"),
        when(col("a.norm") > 0 && col("b.norm") > 0,
          round(vec_dot(col("a.embedding"), col("b.embedding")) /
            (col("a.norm") * col("b.norm")), 6))
          .otherwise(0.0).as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .orderBy(col("a_id"), col("b_id"))
  }

  val d06_embed_neardup = Q(
    "d06_embed_neardup",
    (s, dir) => {
      // Embedding-cosine near-duplicate pairs, label-blocked: candidates
      // come from an equi-join on the cluster label (at 100 TB the label is
      // a coarse-quantizer/IVF cell id and doubles as the partition key),
      // never an all-pairs cross join — and a degenerate label sub-splits
      // on SRP bits (withSubBlock) so no block goes quadratic. Dot
      // products use the codegen'd native expression.
      embedNearDupPairs(
        Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding")))
    },
    Some(s"""
      WITH nv AS (
        SELECT vec_id, label, embedding,
               sqrt(${Similarity.dotSqlDuck("embedding", "embedding")}) AS norm
        FROM embeddings)
      SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
             CASE WHEN a.norm > 0 AND b.norm > 0
               THEN round(${Similarity.dotSqlDuck("a.embedding", "b.embedding")}
                 / (a.norm * b.norm), 6)
               ELSE 0.0 END AS cos_sim
      FROM nv a JOIN nv b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE CASE WHEN a.norm > 0 AND b.norm > 0
              THEN round(${Similarity.dotSqlDuck("a.embedding", "b.embedding")}
                / (a.norm * b.norm), 6)
              ELSE 0.0 END >= 0.35
      ORDER BY a_id, b_id"""))

  val d07_source_minhash = Q(
    "d07_source_minhash",
    (s, dir) => {
      // Corpus-level dedup signal: ONE MinHash signature per source via
      // the typed MinHashUnionAgg (elementwise-min union — associative
      // and commutative, so partial buffers merge in any order), then
      // pairwise cross-source similarity estimates. 20 sources => 190
      // pairs regardless of corpus size; the per-doc work is the cached
      // signature table.
      import s.implicits._
      val docSrc = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      val bySource = signatures(s, dir)
        .join(docSrc, "doc_id")
        .select(col("source"), col("sig"))
        .as[(String, Array[Long])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.MinHashUnionAgg.toColumn.name("usig"))
        .toDF("source", "usig")
      bySource.as("a")
        .join(bySource.as("b"), col("a.source") < col("b.source"))
        .select(
          col("a.source").as("src_a"), col("b.source").as("src_b"),
          (expr("aggregate(zip_with(a.usig, b.usig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
            .cast("double") / 16.0).as("est_sim"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some(s"""
      $signaturesSqlDuck,
      pos_min AS (
        SELECT d.source, i, MIN(v) AS mn
        FROM (SELECT doc_id, unnest(sig) AS v, unnest(range(16)) AS i
              FROM sig) x
        JOIN documents d USING (doc_id)
        GROUP BY d.source, i),
      usig AS (
        SELECT source, list(mn ORDER BY i) AS usig FROM pos_min GROUP BY source)
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(list_sum(list_transform(range(16),
               i -> CASE WHEN a.usig[i+1] = b.usig[i+1] THEN 1 ELSE 0 END))
               AS DOUBLE) / 16.0 AS est_sim
      FROM usig a JOIN usig b ON a.source < b.source
      ORDER BY src_a, src_b"""))

  val d08_decontamination = Q(
    "d08_decontamination",
    (s, dir) => {
      // Train/test decontamination: flag training documents sharing >= 3
      // word-3-gram shingles with any held-out evaluation document — the
      // standard benchmark-leakage sweep run before LLM training. The
      // held-out set is tiny by construction (here the deterministic
      // doc_id % 89 slice, in production the benchmark suite), so its
      // exploded shingles BROADCAST: the corpus side streams map-only
      // through the hash join — no shuffle touches the train corpus until
      // the (already tiny) matched pairs aggregate. Shingles are distinct
      // per document (array_distinct), so COUNT(*) per pair counts
      // distinct shared shingles.
      // cache(): the same optimizer-barrier requirement as signatures() —
      // Generate(explode) plans a `size(sh) > 0` filter + project around
      // the generator, and each reference re-evaluates the interpreted
      // shingle tree (measured 10x: 8.3s -> 0.8s at sf0.1 with the cache).
      val sh = withShingles(s, dir).select(col("doc_id"), col("sh")).cache()
      val test = sh.filter(col("doc_id") % 89 === 0)
        .select(col("doc_id").as("test_id"), explode(col("sh")).as("g"))
      val train = sh.filter(col("doc_id") % 89 =!= 0)
        .select(col("doc_id").as("train_id"), explode(col("sh")).as("g"))
      train.join(broadcast(test), "g")
        .groupBy(col("train_id"), col("test_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy(col("train_id"), col("test_id"))
    },
    Some(s"""
      WITH shs AS (
        SELECT doc_id, $shinglesSqlDuck AS sh
        FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
              FROM documents)),
      test AS (SELECT doc_id AS test_id, unnest(sh) AS g
               FROM shs WHERE doc_id % 89 = 0),
      train AS (SELECT doc_id AS train_id, unnest(sh) AS g
                FROM shs WHERE doc_id % 89 <> 0)
      SELECT train_id, test_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM train JOIN test USING (g)
      GROUP BY train_id, test_id
      HAVING COUNT(*) >= 3
      ORDER BY train_id, test_id"""))

  val d09_semantic_neardup = Q(
    "d09_semantic_neardup",
    (s, dir) => {
      import graft.functions.VectorFunctions.vec_norm
      // Semantic near-dup: candidate blocking by LEARNED cluster
      // assignment instead of the stored label — the pipeline shape when
      // no curated label exists. Centroids are the exact-decimal label
      // means (Similarity.labelCentroids: one grouped aggregate, k tiny
      // rows broadcast); every vector is assigned to its NEAREST
      // centroid (Similarity.assignNearest — which need not be its own
      // label; s04 measures exactly that movement); pairs are then
      // generated within assignment cells only, so candidate generation
      // stays an equi-join on the cell id — at 100 TB the cell is the
      // partition key (the s05 index layout).
      //
      // cache(): the assignment (crossJoin + window) is the expensive
      // subtree and embedNearDupPairs consumes its input twice (size
      // histogram + join probe) before its own barrier.
      // maxBlock = MaxValue: the oracle models a PLAIN cell equi-join;
      // the SRP sub-split guard (d06's path) would silently drop
      // cross-sub-block pairs the oracle still emits once a learned cell
      // outgrows the cap — at production scale enable the guard and
      // accept the documented recall trade instead.
      val assigned = Similarity.assignNearest(
          Tables(s, dir, "embeddings")
            .withColumn("norm", vec_norm(col("embedding"))),
          Similarity.labelCentroids(s, dir))
        .select(col("vec_id"), col("clabel").as("label"), col("embedding"))
        .cache()
      embedNearDupPairs(assigned, maxBlock = Int.MaxValue)
        .withColumnRenamed("label", "cell")
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
        SELECT clabel, cvec, sqrt(${Similarity.dotSqlDuck("cvec", "cvec")}) AS cn
        FROM centroid),
      nv AS (
        SELECT vec_id, embedding,
               sqrt(${Similarity.dotSqlDuck("embedding", "embedding")}) AS norm
        FROM embeddings),
      assigned AS (
        SELECT vec_id, cell, embedding, norm FROM (
          SELECT v.vec_id, c.clabel AS cell, v.embedding, v.norm,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                   CASE WHEN v.norm > 0 AND c.cn > 0
                     THEN round(${Similarity.dotSqlDuck("v.embedding", "c.cvec")} / (v.norm * c.cn), 6)
                     ELSE 0.0 END DESC, c.clabel) AS rk
          FROM nv v CROSS JOIN cn c)
        WHERE rk = 1)
      SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cell AS cell,
             CASE WHEN a.norm > 0 AND b.norm > 0
               THEN round(${Similarity.dotSqlDuck("a.embedding", "b.embedding")}
                 / (a.norm * b.norm), 6)
               ELSE 0.0 END AS cos_sim
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE CASE WHEN a.norm > 0 AND b.norm > 0
              THEN round(${Similarity.dotSqlDuck("a.embedding", "b.embedding")}
                / (a.norm * b.norm), 6)
              ELSE 0.0 END >= 0.35
      ORDER BY a_id, b_id"""))

  val d10_prefix_templates = Q(
    "d10_prefix_templates",
    (s, dir) => {
      // Template / boilerplate detection: documents that OPEN identically
      // (same first-5-token fingerprint) are near-certain template
      // instances — scraped page headers, license preambles, generated
      // intros — even when their bodies differ, which is exactly the
      // class whole-document dedup (d01) misses. Same scale shape as
      // d01: only the 32-char digest + doc_id shuffle for the groupBy;
      // never the text, never all-pairs.
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          md5(expr(s"concat_ws(' ', slice($toksExpr, 1, 5))")).as("prefix_fp"))
        .groupBy(col("prefix_fp"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("prefix_fp"))
    },
    Some("""
      SELECT prefix_fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM (SELECT doc_id,
                   md5(array_to_string(
                     regexp_extract_all(text, '[a-z0-9]+')[1:5], ' ')) AS prefix_fp
            FROM documents)
      GROUP BY prefix_fp
      HAVING COUNT(*) >= 2
      ORDER BY prefix_fp"""))

  val d11_dup_window_share = Q(
    "d11_dup_window_share",
    (s, dir) => {
      // Substring-level contamination: for every document, the share of
      // its 5-token windows that ALSO occur in some other document — the
      // per-doc signal substring dedup pipelines threshold on (a doc can
      // be globally unique yet 60% boilerplate). Window fingerprints are
      // the t08 polynomial over per-token md5 hashes, so only 8-byte
      // longs shuffle, never text: one groupBy on the fingerprint
      // (countDistinct doc), one join back — both equi on the
      // fingerprint, nothing all-pairs, the shape that survives 100 TB.
      // hs (the per-token hashes) is CACHED so each token is md5'd once:
      // the window expression references hs three times and
      // CollapseProject would otherwise inline (and re-run) the md5
      // transform at every reference — same barrier rationale as t11.
      val p = "1000000007"
      val base = Tables(s, dir, "documents")
        .transform(Tables.fanOut)
        .select(col("doc_id"), expr(
          s"""transform($toksExpr, t ->
              pmod(CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT), $p))""")
          .as("hs"))
        .cache() // also feeds the all-docs frame for the final left join
      val pos = base.select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(hs) >= 5 THEN
              transform(sequence(0, size(hs) - 5), i ->
                aggregate(slice(hs, i + 1, 5), CAST(0 AS BIGINT),
                  (acc, h) -> pmod(acc * 256 + h, $p)))
            ELSE array() END""")).as("wfp"))
      val nd = pos.groupBy(col("wfp"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      val per = pos.join(nd, "wfp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      base.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("dup_share",
          when(col("n_windows") > 0,
            round(col("n_shared").cast("double") / col("n_windows"), 6))
            .otherwise(0.0))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               list_transform(regexp_extract_all(text, '[a-z0-9]+'), tok ->
                 CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                   % 1000000007) AS hs
        FROM documents),
      w AS (
        SELECT doc_id,
               CASE WHEN len(hs) >= 5 THEN
                 list_transform(range(len(hs) - 4), i ->
                   list_reduce(hs[i + 1:i + 5],
                     (acc, h) -> (acc * 256 + h) % 1000000007))
               ELSE [] END AS wfps
        FROM t),
      pos AS (SELECT doc_id, unnest(wfps) AS wfp FROM w),
      nd AS (SELECT wfp, COUNT(DISTINCT doc_id) AS nd FROM pos GROUP BY wfp),
      per AS (
        SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared
        FROM pos p JOIN nd USING (wfp)
        GROUP BY p.doc_id)
      SELECT w.doc_id,
             COALESCE(n_windows, 0) AS n_windows,
             COALESCE(n_shared, 0) AS n_shared,
             CASE WHEN COALESCE(n_windows, 0) > 0
                  THEN round(CAST(n_shared AS DOUBLE) / n_windows, 6)
                  ELSE 0.0 END AS dup_share
      FROM w LEFT JOIN per USING (doc_id)
      ORDER BY w.doc_id"""))

  /** Min-label-propagation connected components over an undirected edge
    * set: `nodes` is one column `id`; `edges` has columns `src`, `dst`
    * (one row per edge, either orientation — symmetrized here). Returns
    * `(id, label)` with label = the minimum id reachable from `id`.
    *
    * Each round every node takes the min label among itself and its
    * neighbors; rounds = component diameter (LSH duplicate components
    * are near-cliques, so 2-3 rounds; for high-diameter graphs —
    * boilerplate dup CHAINS — use [[connectedComponentsStar]], the
    * O(log n)-round alternating star contraction). Each round
    * is one distributed join + aggregate over (id, label) longs; the
    * only driver-side value is the converged? flag — no row data ever
    * collects. The converged GRAPH-SIZED label table is
    * localCheckpoint-ed (materialized, lineage cut) so every loop
    * cache — including the symmetrized edge set — is dropped before
    * returning: callers get a self-contained frame (corpus re-attach
    * join over the checkpointed labels) and repeated invocations
    * (bench warm+timed runs, the test suite, Curate) leak no cached
    * blocks.
    *
    * PRECONDITION (since the round-19 graph-sized loop): every edge
    * endpoint must be a member of `nodes`. A phantom endpoint absent
    * from `nodes` would seed a self-label and could become a
    * component's minimum, changing real nodes' labels (the pre-r19
    * corpus-sized loop ignored phantom ids as label candidates). All
    * current callers satisfy it by construction: Curate left-semi-
    * filters its edges against the kept set, and d12/d17/d19 derive
    * edges from the documents the node set scans.
    */
  private[graft] def connectedComponents(
      nodes: DataFrame, edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    // Round 19 (optimization guide §2.3, shuffle fewer bytes): the
    // propagation loop runs over GRAPH-INCIDENT nodes only. A node with
    // no edges appears in no join row, so it can never receive a
    // neighbor's label — its label is itself at every round — yet the
    // old loop carried the whole corpus through every round's
    // union+groupBy, shuffling |corpus| rows per round where only
    // |incident nodes| can change. At 100 TB the near-dup graph is a
    // small fraction of the corpus; per-round frames are graph-sized,
    // and non-incident nodes re-attach in ONE final left join
    // (label = id), which AQE serves as a broadcast of the graph-sized
    // label table.
    //
    // Round 20 (§1.2 — don't schedule actions that compute nothing):
    // with identity initial labels, round 1's join+union+groupBy is
    // algebraically next(id) = min(id, min(dst over (id,dst) ∈ sym)) —
    // ONE grouped aggregate over the symmetrized edges, whose action
    // also materializes the sym cache. The separate init-labels action
    // (distinct + labelSum) the round-19 shape paid is gone, and the
    // loop checkpoints only the TINY converged label table; the corpus
    // re-attach join returns un-checkpointed (the round-19 shape
    // materialized a |corpus|-sized frame to executor storage per call
    // — the r19 verdict flagged exactly this join as the local
    // regression, confirmed by the round-20 full-query A/B in
    // OPTIMIZATION_r20.md: d12 2.47s → 1.60s, jobs 30 → 25).
    //
    // Monotone fixpoint check (round-10 advice): per-node labels only
    // ever DECREASE (each round takes a min over self + neighbors), so
    // the total label sum strictly decreases until the fixpoint — a
    // 1-row aggregate on the frame the round computed ANYWAY replaces
    // the old join-against-previous check (action count pinned in
    // CurationOpsSpec). Decimal sum: immune to long overflow at any id
    // magnitude. Round 1 needs no reference sum: a nonempty edge set
    // always changes SOME label in round 1 (any edge's max endpoint
    // adopts a smaller label), and a degenerate round-1 no-change
    // (self-loops only) just converges one round later.
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("label")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
        .collect()(0).getDecimal(0))
    var labels = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .withColumnRenamed("src", "id")
      .cache()
    var prevSum = labelSum(labels) // round 1; also materializes sym
    var converged = prevSum.isEmpty // empty graph: nothing to propagate
    while (!converged) {
      val viaNbr = sym
        .join(labels.withColumnRenamed("id", "nbr"),
          col("dst") === col("nbr"))
        .select(col("src").as("id"), col("label"))
      val next = labels.unionByName(viaNbr)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .cache()
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels.unpersist(false)
      labels = next
    }
    val small = labels.localCheckpoint(true) // graph-sized, lineage cut
    labels.unpersist(false)
    sym.unpersist(false)
    nodes.select(col("id"))
      .join(small.withColumnRenamed("id", "_cc_gid"),
        col("id") === col("_cc_gid"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Alternating star contraction — the O(log n)-round connected
    * components for graphs whose DIAMETER is not small (a boilerplate
    * dup chain doc1~doc2~...~docN defeats [[connectedComponents]]'s
    * min-label propagation, which needs one distributed round per hop).
    * Public algorithm: large-star/small-star from Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SoCC'14), in the
    * join formulation that never materializes a neighbor list:
    *
    *  - large-star: every node u computes m(u) = min(u ∪ Γ(u)) with ONE
    *    grouped min, then each edge (u,v), v > u is rewritten to
    *    (v, m(u)) by joining m back onto the edge stream;
    *  - small-star: the same rewrite over the v <= u edges, plus the
    *    (u, m(u)) self-attach.
    *
    * Each round is therefore two aggregate+join passes over the edge
    * set — no per-node state larger than one long, hub nodes included —
    * and the edge set contracts toward stars rooted at each component's
    * minimum. Convergence is detected structurally (the round changed no
    * edges — two anti-joins); rounds are O(log n) on any shape. Per
    * round the edge set is localCheckpoint-ed: iteration k's lineage
    * would otherwise stack 2k joins deep and re-execute from the source
    * on every action. Returns (id, label) like [[connectedComponents]];
    * equality on random graphs and chains is property-tested
    * (`CurationOpsSpec`). */
  /** Eagerly materialize and rebase onto a FRESH LogicalRDD (new
    * attribute ids, no origin constraints): a plain localCheckpoint
    * keeps the source plan's constraints, and unioning such a frame
    * with a column-swapped projection of ITSELF trips Spark's union
    * constraint rewrite (`key not found: src#N`) — the self-union is
    * exactly what every star-contraction round does. */
  private def checkpointFresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  private[graft] def connectedComponentsStar(
      nodes: DataFrame, edges: DataFrame): DataFrame = {
    // canonical (min, max) undirected edge set, self-loops dropped
    var e = checkpointFresh(edges.select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    var nE = e.count()
    var converged = nE == 0
    while (!converged) {
      val sym = e.union(
        e.select(col("dst").as("src"), col("src").as("dst")))
      // large-star: m(u) over ALL neighbors; rewrite the v > u edges
      val mAll = sym.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
      // large is checkpointed too: small-star consumes it through TWO
      // subtrees (the mLow aggregate and the low join), and without a
      // materialization the large-star join would execute twice per
      // round. Superseded rounds' checkpoint blocks are released by the
      // ContextCleaner as soon as the loop drops their frames (each
      // round rebinds e/large) — rounds are O(log n), so at most a few
      // edge-set-sized block sets are ever in flight.
      val large = checkpointFresh(sym.filter(col("dst") > col("src"))
        .join(mAll, col("src") === col("u"))
        .select(least(col("dst"), col("m")).as("src"),
          greatest(col("dst"), col("m")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
      // small-star over the v <= u orientation, plus the self-attach
      val symL = large.union(
        large.select(col("dst").as("src"), col("src").as("dst")))
      val mLow = symL.filter(col("dst") < col("src"))
        .groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), col("mn").as("m"))
      val low = symL.filter(col("dst") < col("src"))
      val small = checkpointFresh(low
        .join(mLow, col("src") === col("u"))
        .select(least(col("dst"), col("m")).as("src"),
          greatest(col("dst"), col("m")).as("dst"))
        .unionByName(mLow.select(col("m").as("src"), col("u").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
      // fixpoint: both edge sets are DISTINCT by construction, so
      // small ⊆ e (one anti-join) plus equal cardinality implies set
      // equality — the old symmetric-difference check's second
      // anti-join was redundant (round-10 advice; counts are cheap
      // scans of the already-checkpointed frames, and unequal counts
      // short-circuit the anti-join entirely)
      val nSmall = small.count()
      converged = nSmall == nE && small.exceptAll(e).isEmpty
      e = small
      nE = nSmall
    }
    // at fixpoint the edges are stars rooted at component minima
    val rootOf = e.union(
        e.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), col("mn"))
    nodes.select(col("id"))
      .join(rootOf, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("mn"), col("id"))).as("label"))
  }

  /** Duplicate-CLUSTER assignment: connected components over the LSH
    * candidate graph at `simThreshold` estimated Jaccard (the same edge
    * set Curate's near-dup stage drops from). This is the
    * transitive-closure step a real dedup pipeline runs between pair
    * generation and canonical-doc selection, because near-duplication is
    * not transitive pairwise: A~B and B~C must land A, B and C in ONE
    * group with ONE canonical id (`cluster_id` = the component's min
    * doc_id), which per-pair dropping cannot guarantee. */
  def dupClusters(
      s: SparkSession, dir: String, simThreshold: Double = 0.5): DataFrame = {
    val edges = d04_lsh_pairs.run(s, dir)
      .filter(col("est_sim") >= simThreshold)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val labels = connectedComponents(
      Tables(s, dir, "documents").select(col("doc_id").as("id")), edges)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB CTE chain for the d12/d17 oracles: LSH banding →
    * candidate pairs → est_sim ≥ 0.5 edges (symmetrized) → recursive
    * reachability → min-label per doc (`lab`) + cluster sizes (`sz`).
    * Prepend `signaturesSqlDuck` with RECURSIVE; mirror of
    * [[dupClusters]]'s label-propagation fixpoint. */
  /** Banding → candidate pairs → est_sim ≥ 0.5 symmetrized edge set —
    * the dup-graph fragment shared by the d12/d17 cluster oracles AND
    * d19's PageRank oracle (one copy of the edge-set rule). */
  private val symEdgesSqlDuck = """
      band AS (
        SELECT doc_id, b,
               md5(CAST(sig[b*4 + 1] AS VARCHAR) || ',' || CAST(sig[b*4 + 2] AS VARCHAR)
                   || ',' || CAST(sig[b*4 + 3] AS VARCHAR) || ',' || CAST(sig[b*4 + 4] AS VARCHAR)) AS bh
        FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
      cpairs AS (
        SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
        FROM band l JOIN band r
          ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id),
      cand AS (
        SELECT a_id, b_id,
               CAST(list_sum(list_transform(range(16),
                 i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_sim
        FROM cpairs
        JOIN sig sa ON sa.doc_id = a_id
        JOIN sig sb ON sb.doc_id = b_id),
      sym AS (
        SELECT a_id AS src, b_id AS dst FROM cand WHERE est_sim >= 0.5
        UNION ALL
        SELECT b_id, a_id FROM cand WHERE est_sim >= 0.5)"""

  private val clusterLabSqlDuck = s"""
      $symEdgesSqlDuck,
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
      lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
              FROM reach GROUP BY src),
      sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
             FROM lab GROUP BY cluster_id)"""

  val d12_dup_clusters = Q(
    "d12_dup_clusters",
    (s, dir) => dupClusters(s, dir, 0.5),
    Some(s"""
      ${signaturesSqlDuck.replaceFirst("WITH", "WITH RECURSIVE")},
      $clusterLabSqlDuck
      SELECT doc_id, cluster_id, cluster_size
      FROM lab JOIN sz USING (cluster_id)
      ORDER BY doc_id"""))

  /** PageRank centrality over the near-dup graph — "which documents sit
    * at the center of duplication webs". d12's components say WHICH
    * group a doc belongs to; PageRank ranks docs WITHIN the web: a
    * boilerplate template copied with variations everywhere scores far
    * above a doc with one accidental near-twin, so the score is the
    * triage order for manual template review and the canonical-doc
    * prior (highest-rank = most-connected variant).
    *
    * Fixed 5 damped iterations (d = 0.85), unnormalized form (every
    * node starts at 1e9 "nano-mass"; dangling mass is dropped — the
    * standard simplified variant, identical on both engines). All
    * arithmetic is exact integers: contribution = r div outdeg,
    * update = 0.15e9 + (85·Σcontrib) div 100 with the multiply in
    * DECIMAL(38,0)/HUGEINT (Σ over in-neighbors can pass int64 once
    * in-degrees reach ~1e9-scale mass times thousands of neighbors).
    *
    * Scale shape: each iteration is ONE equi-join of the edge set with
    * the rank vector on a long key plus ONE grouped sum — the d12
    * label-propagation shape, measured decade-FLAT — times a FIXED
    * iteration count; the rank vector is |docs|-sized, never edges².
    * Edges and ranks are localCheckpoint-ed per round so the 5-round
    * lineage never restacks (the d12 hygiene); superseded blocks are
    * released by the ContextCleaner. */
  private[queries] def dupPageRank(
      s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val pairs = d04_lsh_pairs.run(s, dir)
      .filter(col("est_sim") >= 0.5)
      .select(col("a_id"), col("b_id"))
    // Round 19 (optimization guide §2.3/§2.4): two restructurings, both
    // value-identical —
    //  1. outdeg attaches to the EDGE SET once, up front. The old loop
    //     joined `deg` (an aggregation over sym) back per iteration:
    //     five extra aggregate+join passes for a value that never
    //     changes between iterations.
    //  2. the rank vector iterates over GRAPH-INCIDENT nodes only
    //     (sym is symmetrized, so src set = dst set = incident set). A
    //     doc outside the dup graph receives no contribution and
    //     contributes none, so from iteration 1 on its rank is exactly
    //     the damped constant 0.15e9 — attach it once in the final
    //     corpus join (graph-sized broadcast) instead of carrying
    //     |corpus| rows through two joins per iteration.
    //     PRECONDITION (as in [[connectedComponents]]): edge endpoints
    //     ⊆ the documents' doc_id set — holds by construction (edges
    //     derive from the same table).
    // Round 20 (§1.2/§2.4, the r19-verdict regression hunt): the r19
    // shape evaluated the UNCACHED d04 pipeline twice inside the sym
    // checkpoint action (once under deg's aggregate, once under the
    // join's probe side) — the edge set now checkpoints BEFORE deg
    // attaches, so the LSH pipeline runs once. The gnodes checkpoint
    // is gone (its distinct fuses into each iteration's checkpoint
    // action), and iteration 1's rank join is collapsed to one
    // aggregate (the initial rank is a constant, so contrib_1 is just
    // sum(1e9 div outdeg) per dst). Full-query A/B (OPTIMIZATION_r20.md):
    // d19 2.16s → 1.61s, jobs 61 → 50.
    val sym0 = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(true)
    val deg = sym0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val sym = sym0.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .localCheckpoint(true)
    val gnodes = sym.select(col("src").as("doc_id")).distinct()
    def damped(contrib: DataFrame): DataFrame = gnodes
      .join(contrib, gnodes("doc_id") === contrib("dst"), "left")
      .select(gnodes("doc_id"),
        expr("""CAST(150000000 + (CAST(85 AS DECIMAL(38,0)) *
                  coalesce(in_sum, CAST(0 AS DECIMAL(38,0)))) div 100
                AS BIGINT)""").as("r"))
      .localCheckpoint(true)
    def inSum(c: org.apache.spark.sql.Column): DataFrame = sym
      .select(col("dst"), c.as("c"))
      .groupBy(col("dst"))
      .agg(sum(col("c").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("in_sum"))
    var r =
      if (iters == 0) gnodes.select(col("doc_id"), lit(1000000000L).as("r"))
      else damped(inSum(expr("1000000000 div outdeg")))
    for (_ <- 2 to iters) {
      val contrib = sym
        .join(r.withColumnRenamed("doc_id", "u"), col("src") === col("u"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("in_sum"))
      r = damped(contrib)
    }
    // a non-incident doc's rank after k >= 1 damped iterations is the
    // constant 0.15e9 (zero in-sum every round); with zero iterations
    // it is still the initial mass
    val restRank = if (iters >= 1) 150000000L else 1000000000L
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(r.withColumnRenamed("doc_id", "_pr_gid"),
        col("doc_id") === col("_pr_gid"), "left")
      .select(col("doc_id"),
        round(coalesce(col("r"), lit(restRank)).cast("double") / 1e9, 6)
          .as("pagerank"))
      .orderBy(col("doc_id"))
  }

  private val pageRankItersSqlDuck = (1 to 5).map { k =>
    s"""
      it$k AS (
        SELECT n.doc_id,
               CAST(150000000 + (CAST(85 AS HUGEINT) *
                      COALESCE(SUM(i.r // g.outdeg), 0)) // 100
                 AS BIGINT) AS r
        FROM documents n
        LEFT JOIN sym s ON s.dst = n.doc_id
        LEFT JOIN it${k - 1} i ON i.doc_id = s.src
        LEFT JOIN deg g ON g.src = s.src
        GROUP BY n.doc_id)"""
  }.mkString(",")

  val d19_dup_pagerank = Q(
    "d19_dup_pagerank",
    (s, dir) => dupPageRank(s, dir),
    Some(s"""
      $signaturesSqlDuck,
      $symEdgesSqlDuck,
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
              FROM sym GROUP BY src),
      it0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS r
              FROM documents),
      $pageRankItersSqlDuck
      SELECT doc_id, round(CAST(r AS DOUBLE) / 1000000000.0, 6) AS pagerank
      FROM it5
      ORDER BY doc_id"""))

  val d13_containment = Q(
    "d13_containment",
    (s, dir) => {
      // EXACT containment verification of the LSH candidate pairs:
      // c = |sh(a) ∩ sh(b)| / min(|sh(a)|, |sh(b)|) — the asymmetric
      // signal Jaccard hides. A quote-expansion duplicate (doc B = doc A
      // + commentary) has low Jaccard (the union is large) but
      // containment ~1.0, so substring-dup policies threshold on this
      // after banding. Scale shape: the expensive part (all-pairs) never
      // happens — candidates come from d04's band equi-join, and only
      // THOSE pairs rejoin their shingle arrays (two equi-joins on
      // doc_id; AQE broadcasts the pair side while it is small). The
      // per-pair array_intersect is the standard O(candidates x doc-len)
      // verification cost every LSH dedup pipeline pays.
      val pairs = d04_lsh_pairs.run(s, dir).select(col("a_id"), col("b_id"))
      val sh = withShingles(s, dir).select(col("doc_id"), col("sh"))
      pairs
        .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), "b_id")
        .select(col("a_id"), col("b_id"),
          expr("size(sh_a)").cast("long").as("n_a"),
          expr("size(sh_b)").cast("long").as("n_b"),
          expr("size(array_intersect(sh_a, sh_b))").cast("long")
            .as("n_common"))
        .withColumn("containment",
          round(col("n_common").cast("double") /
            least(col("n_a"), col("n_b")), 6))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""
      $signaturesSqlDuck,
      band AS (
        SELECT doc_id, b,
               md5(CAST(sig[b*4 + 1] AS VARCHAR) || ',' || CAST(sig[b*4 + 2] AS VARCHAR)
                   || ',' || CAST(sig[b*4 + 3] AS VARCHAR) || ',' || CAST(sig[b*4 + 4] AS VARCHAR)) AS bh
        FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
      cpairs AS (
        SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
        FROM band l JOIN band r
          ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id)
      SELECT a_id, b_id, n_a, n_b, n_common,
             round(CAST(n_common AS DOUBLE) / least(n_a, n_b), 6)
               AS containment
      FROM (
        SELECT a_id, b_id,
               CAST(len(sa.sh) AS BIGINT) AS n_a,
               CAST(len(sb.sh) AS BIGINT) AS n_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common
        FROM cpairs
        JOIN shs sa ON sa.doc_id = a_id
        JOIN shs sb ON sb.doc_id = b_id)
      ORDER BY a_id, b_id"""))

  val d14_simhash_degree = Q(
    "d14_simhash_degree",
    (s, dir) => {
      // Per-document SimHash near-dup DEGREE: band the 32-bit
      // fingerprint into its two 16-bit halves (any half equal =>
      // candidate — guaranteed recall at Hamming distance <= 1,
      // probabilistic above), verify the EXACT Hamming distance with one
      // xor+bit_count, and aggregate neighbors at <= 3 differing bits
      // per document. The output contract is deliberately the per-doc
      // density signal (n_near, min_hamming), NOT the pair list: on a
      // near-dup-dense corpus the pair list is Omega(n^2)-sized output
      // no matter how the join is bucketed (measured 1.3M pairs at
      // sf0.1 even at radius 1), while the degree is what a filtering
      // policy actually thresholds on ("drop docs with > k boilerplate
      // neighbors") and stays |docs|-bounded at any scale. The candidate
      // join is an equi-join on (band, 16-bit key) over 8-byte
      // fingerprints — the d04 scale shape with a 64x smaller shuffle
      // payload — and the candidate stream aggregates immediately
      // (partial map-side count/min), so nothing pair-shaped is ever
      // materialized. cache(): the fingerprint map feeds both self-join
      // sides and the final left join.
      import graft.functions.HashFunctions.simhash32
      val fp = Tables(s, dir, "documents")
        .transform(Tables.fanOut)
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), simhash32(col("toks")).as("simhash"))
        .cache()
        .filter(col("simhash").isNotNull)
      val bands = fp.select(col("doc_id"), col("simhash"),
          explode(array(
            struct(lit(0).as("b"), expr("shiftright(simhash, 16)").as("key")),
            struct(lit(1).as("b"), expr("simhash & 65535").as("key"))))
            .as("band"))
        .select(col("doc_id"), col("simhash"),
          col("band.b").as("b"), col("band.key").as("key"))
      val cand = bands.as("l").join(bands.as("r"),
          col("l.b") === col("r.b") && col("l.key") === col("r.key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
          expr("CAST(bit_count(l.simhash ^ r.simhash) AS BIGINT)")
            .as("hamming"))
        .filter(col("hamming") <= 3)
      val sym = cand
        .select(col("a_id").as("doc_id"), col("b_id").as("nbr"),
          col("hamming"))
        .unionByName(cand.select(col("b_id").as("doc_id"),
          col("a_id").as("nbr"), col("hamming")))
      val deg = sym.groupBy(col("doc_id"))
        .agg(countDistinct(col("nbr")).as("n_near"), // both halves can match
          min(col("hamming")).as("min_hamming"))
      fp.select(col("doc_id")).join(deg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          col("min_hamming"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH fp AS (
        SELECT doc_id,
          CAST(list_sum(list_transform(range(32), j ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END))
            AS BIGINT) AS simhash
        FROM (
          SELECT doc_id,
                 list_transform(list_distinct(toks),
                   t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)) AS hs
          FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
                FROM documents)
          WHERE len(toks) > 0)),
      bands AS (
        SELECT doc_id, simhash, b,
               CASE WHEN b = 0 THEN simhash >> 16 ELSE simhash & 65535 END AS key
        FROM fp CROSS JOIN (SELECT unnest(range(2)) AS b)),
      cand AS (
        SELECT l.doc_id AS a_id, r.doc_id AS b_id,
               CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
        FROM bands l JOIN bands r
          ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        WHERE CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) <= 3),
      sym AS (
        SELECT a_id AS doc_id, b_id AS nbr, hamming FROM cand
        UNION ALL
        SELECT b_id, a_id, hamming FROM cand),
      deg AS (
        SELECT doc_id, CAST(COUNT(DISTINCT nbr) AS BIGINT) AS n_near,
               MIN(hamming) AS min_hamming
        FROM sym GROUP BY doc_id)
      SELECT fp.doc_id,
             COALESCE(n_near, 0) AS n_near,
             min_hamming
      FROM fp LEFT JOIN deg ON fp.doc_id = deg.doc_id
      ORDER BY fp.doc_id"""))

  val d15_lsh_probe = Q(
    "d15_lsh_probe",
    (s, dir) => {
      // Incremental near-dup lookup against the PERSISTED LSH index
      // (graft.operators.DedupIndex — built once per corpus, probed many
      // times): the probe documents (modeled as doc_id % 20 < 2,
      // a 10% "new arrivals" slice) compute ONLY their own signatures via the shared
      // banding expressions, then equi-join on (band, bh) inside the
      // index partitions their (band, prefix) keys prune to — the intake
      // question "is this new doc a near-dup of anything ingested?"
      // answered without rescanning the corpus. Partition pruning is
      // pinned in DedupIndexSpec.
      import graft.operators.DedupIndex
      val root = DedupIndex.defaultRoot(dir)
      DedupIndex.buildIfMissing(s, dir, root)
      val probes = bandedWithSigFromText(
        Tables(s, dir, "documents").filter(col("doc_id") % 20 < 2)
          .select(col("doc_id"), col("text")))
      DedupIndex.probe(s, root, probes)
        .orderBy(col("q_id"), col("c_id"))
    },
    Some(s"""
      $signaturesSqlDuck,
      band AS (
        SELECT doc_id, b,
               md5(CAST(sig[b*4 + 1] AS VARCHAR) || ',' || CAST(sig[b*4 + 2] AS VARCHAR)
                   || ',' || CAST(sig[b*4 + 3] AS VARCHAR) || ',' || CAST(sig[b*4 + 4] AS VARCHAR)) AS bh
        FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
      probes AS (SELECT doc_id, b, bh FROM band WHERE doc_id % 20 < 2)
      SELECT DISTINCT p.doc_id AS q_id, c.doc_id AS c_id,
             CAST(list_sum(list_transform(range(16),
               i -> CASE WHEN sp.sig[i+1] = sc.sig[i+1] THEN 1 ELSE 0 END))
               AS DOUBLE) / 16.0 AS est_sim
      FROM band c
      JOIN probes p ON c.b = p.b AND c.bh = p.bh AND c.doc_id <> p.doc_id
      JOIN sig sp ON sp.doc_id = p.doc_id
      JOIN sig sc ON sc.doc_id = c.doc_id
      ORDER BY q_id, c_id"""))

  val d16_semantic_decontam = Q(
    "d16_semantic_decontam",
    (s, dir) => {
      import graft.functions.VectorFunctions.{vec_dot, vec_norm}
      import org.apache.spark.sql.expressions.Window
      // Decontamination in EMBEDDING space — the sweep that catches
      // benchmark leakage d08's shingle match misses: a paraphrased or
      // translated eval item shares no word-3-grams with its source but
      // sits at high cosine to it. Same contract as d08 (held-out slice
      // = the deterministic vec_id % 89 set, in production the
      // benchmark suite's embeddings), same output discipline: each
      // training vector is flagged AT MOST ONCE, with its closest
      // benchmark item (rounded-cosine rank, bench-id tie-break) — the
      // actionable row a removal stage consumes. The 0.25 demo
      // threshold is calibrated to this synthetic corpus (its
      // cross-slice within-label cosines top out near 0.34, no planted
      // near-dups); a real sweep over trained embeddings runs at
      // ~0.9 — the threshold is the knob, the shape is the point.
      //
      // 100 TB shape, composing the two established arguments: the
      // benchmark side is bounded (eval suites, not corpus-sized), so
      // it BROADCASTS exactly like d08's shingles and the corpus
      // streams map-only through the label-blocked hash join (d06's
      // blocking; swap in d09's learned-cell assignment when no curated
      // label exists). The threshold filter runs BEFORE the per-train
      // top-1 window, so the only shuffle is the flagged pairs — a
      // contamination-sized set, not corpus-sized — partitioned by
      // train_id.
      // cache(): both the bench slice and the train side split off this
      // subtree — without the barrier the parquet scan and the 64-dim
      // norm fold run twice (d08's shared-shingle argument, applied to
      // the embedding table)
      val emb = Tables(s, dir, "embeddings")
        .withColumn("norm", vec_norm(col("embedding")))
        .cache()
      val bench = emb.filter(col("vec_id") % 89 === 0)
        .select(col("vec_id").as("bench_id"), col("label"),
          col("embedding").as("b_emb"), col("norm").as("b_norm"))
      val w = Window.partitionBy(col("train_id"))
        .orderBy(col("cos_sim").desc, col("bench_id"))
      emb.filter(col("vec_id") % 89 =!= 0)
        .select(col("vec_id").as("train_id"), col("label"),
          col("embedding").as("t_emb"), col("norm").as("t_norm"))
        .join(broadcast(bench), "label")
        .withColumn("cos_sim",
          when(col("t_norm") > 0 && col("b_norm") > 0,
            round(vec_dot(col("t_emb"), col("b_emb")) /
              (col("t_norm") * col("b_norm")), 6)).otherwise(0.0))
        .filter(col("cos_sim") >= 0.25)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("train_id"), col("bench_id"), col("cos_sim"))
        .orderBy(col("train_id"))
    },
    Some(s"""
      WITH nv AS (
        SELECT vec_id, label, embedding,
               sqrt(${Similarity.dotSqlDuck("embedding", "embedding")}) AS norm
        FROM embeddings),
      pairs AS (
        SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
               CASE WHEN t.norm > 0 AND b.norm > 0
                 THEN round(${Similarity.dotSqlDuck("t.embedding", "b.embedding")}
                   / (t.norm * b.norm), 6)
                 ELSE 0.0 END AS cos_sim
        FROM nv t JOIN nv b ON t.label = b.label
        WHERE t.vec_id % 89 <> 0 AND b.vec_id % 89 = 0),
      ranked AS (
        SELECT train_id, bench_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY train_id
                 ORDER BY cos_sim DESC, bench_id) AS rk
        FROM pairs WHERE cos_sim >= 0.25)
      SELECT train_id, bench_id, cos_sim FROM ranked WHERE rk = 1
      ORDER BY train_id"""))

  val d17_dup_rate_by_source = Q(
    "d17_dup_rate_by_source",
    (s, dir) => {
      // Per-source duplication health: for each source, how many of its
      // docs are NON-CANONICAL members of a d12 duplicate cluster
      // (doc_id != the component's min id) and how many sit in any
      // cluster of size > 1. This is the attribution step after
      // clustering — the number that tells a curation team WHICH feed
      // is flooding the corpus with near-copies (a mirror site, a
      // template farm), where d12 only says how much duplication exists
      // corpus-wide.
      //
      // Shape: reuses dupClusters' label table (corpus-sized) and joins
      // documents on doc_id — an equi-join of two corpus-sized relations
      // on their shared primary key, then a grouped rollup to |sources|
      // rows. dupClusters' trailing ORDER BY is eliminated by Catalyst
      // (EliminateSorts: the aggregate destroys ordering), so reuse
      // costs nothing over inlining. dup_share is one IEEE division of
      // identical long operands, rounded for the hash.
      val labels = dupClusters(s, dir, 0.5)
      labels
        .join(Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
            .as("n_dups"),
          sum(when(col("cluster_size") > 1, 1L).otherwise(0L))
            .as("n_clustered"))
        .select(col("source"), col("n_docs"), col("n_dups"),
          col("n_clustered"),
          round(col("n_dups").cast("double") / col("n_docs").cast("double"),
            6).as("dup_share"))
        .orderBy(col("source"))
    },
    Some(s"""
      ${signaturesSqlDuck.replaceFirst("WITH", "WITH RECURSIVE")},
      $clusterLabSqlDuck
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN l.doc_id <> l.cluster_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dups,
             CAST(SUM(CASE WHEN sz.cluster_size > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clustered,
             round(CAST(SUM(CASE WHEN l.doc_id <> l.cluster_id
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS dup_share
      FROM lab l
      JOIN sz USING (cluster_id)
      JOIN documents d ON d.doc_id = l.doc_id
      GROUP BY d.source
      ORDER BY d.source"""))

  val all: Seq[Q] = Seq(d01_exact_dedup, d02_ngram_jaccard, d03_minhash_sig,
    d04_lsh_pairs, d05_simhash, d06_embed_neardup, d07_source_minhash,
    d08_decontamination, d09_semantic_neardup, d10_prefix_templates,
    d11_dup_window_share, d12_dup_clusters, d13_containment,
    d14_simhash_degree, d15_lsh_probe, d16_semantic_decontam,
    d17_dup_rate_by_source, d19_dup_pagerank)
}
