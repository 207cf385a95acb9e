package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Pii
import graft.operators.PrefixSum

/** Corpus-preparation operators — the stages between "deduplicated text"
  * and "tokens on a training cluster": sequence packing, PII scrubbing,
  * exact substring-span dedup, and sketch-based cardinality accounting.
  *
  * Lane naming continues the existing inventories (t2x text, d1x dedup,
  * q6x analytics) so the SURVEY §2 roster stays one flat namespace; the
  * implementations live here because they share the corpus-prep theme
  * and the [[PrefixSum]] / [[Pii]] primitives.
  *
  * Every query is oracle-gated (DuckDB SQL over the same parquet) and
  * keeps the 100 TB shape: one corpus scan, digest-only shuffles, no
  * per-group single-task windows (the prefix scan in t26 goes through
  * [[PrefixSum]], not `Window.partitionBy(source)`).
  */
object Corpus {

  /** Context window for sequence packing (tokens per training row).
    * 256 rather than a production 2k/8k so the packing math is actually
    * exercised at every test SF (per-source corpora are ~1.3k-14k
    * tokens; a 2048 window would mean one bin per source and zero
    * boundary crossings — a vacuous gate). The math is ctx-invariant. */
  val PackCtx = 256L

  /** GPT-style concat-and-chunk packing stats per source: documents are
    * laid end-to-end in doc_id order and cut every [[PackCtx]] tokens;
    * reports bins, boundary-crossing docs, and fill ratio. The exclusive
    * token prefix (each doc's start offset in the stream) comes from the
    * distributed two-pass [[PrefixSum]] — NOT a per-source window, which
    * would funnel a dominant source through one task at 100 TB. */
  private[queries] def seqPack(docs: DataFrame): DataFrame = {
    val base = docs
      .transform(Tables.fanOut)
      .select(col("doc_id"), col("source"),
        expr(s"CAST(size(${Text.toksExpr}) AS BIGINT)").as("n_tok"))
    val cum = PrefixSum.exclusive(
      base, Seq("source"), Seq("doc_id"), "n_tok", "cum")
    cum.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        // a doc crosses a chunk boundary iff its first and last token
        // fall in different bins (floor of the double quotient is exact
        // well past 2^53 tokens per source)
        sum(when(col("n_tok") > 0 &&
            floor(col("cum") / lit(PackCtx.toDouble)) =!=
              floor((col("cum") + col("n_tok") - 1) / lit(PackCtx.toDouble)),
            1L)
          .otherwise(0L)).as("crossing_docs"))
      .withColumn("n_bins",
        expr(s"CAST((total_tokens + ${PackCtx - 1}) DIV $PackCtx AS BIGINT)"))
      .withColumn("fill_ratio",
        col("total_tokens").cast("double") / (col("n_bins") * lit(PackCtx)))
      .orderBy(col("source"))
  }

  val t26_seq_pack = Q(
    "t26_seq_pack",
    (s, dir) => seqPack(Tables(s, dir, "documents")),
    Some("""
      WITH t AS (SELECT doc_id, source,
                   CAST(length(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT source, n_tok,
              COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
            FROM t),
      g AS (SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
              CAST(SUM(CASE WHEN n_tok > 0 AND
                         floor(cum / 256.0) <> floor((cum + n_tok - 1) / 256.0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS crossing_docs
            FROM c GROUP BY source)
      SELECT source, n_docs, total_tokens, crossing_docs,
             (total_tokens + 255) // 256 AS n_bins,
             CAST(total_tokens AS DOUBLE) /
               (((total_tokens + 255) // 256) * 256) AS fill_ratio
      FROM g ORDER BY source"""))

  /** Per-bin packing manifest rollup — the loader-facing contract of
    * [[graft.pipeline.Pack]]: for every (source, bin), how many doc
    * segments compose it and how many tokens they contribute. Every bin
    * except each source's last must land exactly [[PackCtx]] tokens
    * (the completeness invariant `PackSpec` pins; this query gates the
    * same segment arithmetic against the DuckDB oracle). */
  private[queries] def packSegments(docs: DataFrame): DataFrame = {
    val base = docs
      .transform(Tables.fanOut)
      .select(col("doc_id"), col("source"),
        expr(s"CAST(size(${Text.toksExpr}) AS BIGINT)").as("n_tok"))
    graft.pipeline.Pack.segments(base, PackCtx)
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(col("tok_to") - col("tok_from")).as("bin_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  val t28_pack_segments = Q(
    "t28_pack_segments",
    (s, dir) => packSegments(Tables(s, dir, "documents")),
    Some("""
      WITH t AS (SELECT doc_id, source,
                   CAST(length(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, source, n_tok,
              CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
            FROM t),
      s AS (SELECT source, doc_id, cum, n_tok, u.bin
            FROM c, unnest(range(cum // 256, (cum + n_tok - 1) // 256 + 1)) AS u(bin)
            WHERE n_tok > 0),
      seg AS (SELECT source, bin,
                greatest(bin * 256 - cum, 0) AS tok_from,
                least((bin + 1) * 256 - cum, n_tok) AS tok_to
              FROM s)
      SELECT source, CAST(bin AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_segs,
             CAST(SUM(tok_to - tok_from) AS BIGINT) AS bin_tokens
      FROM seg GROUP BY source, bin ORDER BY source, bin"""))

  /** PII scrub profile per source: detection counts per class (email /
    * IPv4 / phone — [[Pii]]), docs containing any PII, plus a nonzero
    * generic signal (long-token count) proving the scan pipeline runs
    * over real text. The synthetic corpus contains no PII by
    * construction, so the PII columns gate at their true zeros here;
    * detection AND redaction behavior on PII-bearing text is pinned in
    * `CorpusSpec` fixtures. Map-only until the final per-source rollup —
    * zero data shuffle at any scale. */
  private[queries] def piiScan(docs: DataFrame): DataFrame =
    docs.transform(Tables.fanOut)
      .select(
        col("source"),
        Pii.emailHits(col("text")).as("e"),
        Pii.ipv4Hits(col("text")).as("ip"),
        Pii.phoneHits(col("text")).as("ph"),
        size(filter(expr(Text.toksExpr), t => length(t) >= 8))
          .cast("long").as("lt"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("e")).as("email_hits"),
        sum(col("ip")).as("ipv4_hits"),
        sum(col("ph")).as("phone_hits"),
        sum(when(col("e") + col("ip") + col("ph") > 0, 1L).otherwise(0L))
          .as("pii_docs"),
        sum(col("lt")).as("long_tok_hits"))
      .orderBy(col("source"))

  val t27_pii_scan = Q(
    "t27_pii_scan",
    (s, dir) => piiScan(Tables(s, dir, "documents")),
    Some("""
      WITH p AS (SELECT source,
        CAST(length(regexp_extract_all(text,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS e,
        CAST(length(regexp_extract_all(text,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS ip,
        CAST(length(regexp_extract_all(text,
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS ph,
        CAST(length(list_filter(regexp_extract_all(text, '[a-z0-9]+'),
          x -> length(x) >= 8)) AS BIGINT) AS lt
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(e) AS BIGINT) AS email_hits,
             CAST(SUM(ip) AS BIGINT) AS ipv4_hits,
             CAST(SUM(ph) AS BIGINT) AS phone_hits,
             CAST(SUM(CASE WHEN e + ip + ph > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS pii_docs,
             CAST(SUM(lt) AS BIGINT) AS long_tok_hits
      FROM p GROUP BY source ORDER BY source"""))

  /** The published Gopher document-quality ruleset (Rae et al. 2021,
    * appendix A1.1), adapted to this corpus's token model: word-count
    * band, mean-word-length band, and a stopword-presence floor, each
    * reported per document with the composite verdict. t02 scores
    * quality on a continuous scale; THIS operator pins the canonical
    * cited rule thresholds a pipeline audit references. Map-only until
    * the deterministic final sort — per-doc array arithmetic over one
    * corpus scan, no shuffle of text. */
  /** Append the Gopher rule verdict to any `(…, text, …)` relation —
    * input columns pass through (the form [[graft.streaming
    * .CurationStream.gopherGate]] gates on at ingestion time). */
  def withGopherVerdict(docs: DataFrame): DataFrame =
    docs
      .withColumn("__toks", expr(Text.toksExpr))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          round(expr("aggregate(__toks, 0L, (a, x) -> a + length(x))")
            .cast("double") / col("n_words"), 6))
          .otherwise(0.0))
      .withColumn("stop_hits",
        expr("""size(array_intersect(__toks,
            array('the', 'a', 'of', 'to', 'and', 'in', 'that', 'with')))""")
          .cast("long"))
      .withColumn("passes",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("stop_hits") >= 2)
      .drop("__toks")

  private[queries] def gopherFilter(docs: DataFrame): DataFrame =
    withGopherVerdict(docs.transform(Tables.fanOut))
      .select(col("doc_id"), col("source"), col("n_words"),
        col("mean_word_len"), col("stop_hits"), col("passes"))
      .orderBy(col("doc_id"))

  val t29_gopher_filter = Q(
    "t29_gopher_filter",
    (s, dir) => gopherFilter(Tables(s, dir, "documents")),
    Some("""
      WITH t AS (SELECT doc_id, source,
                   regexp_extract_all(text, '[a-z0-9]+') AS toks
                 FROM documents)
      SELECT doc_id, source,
             CAST(length(toks) AS BIGINT) AS n_words,
             CASE WHEN length(toks) > 0 THEN
               round(CAST(list_sum(list_transform(toks, x -> length(x)))
                 AS DOUBLE) / length(toks), 6)
             ELSE 0.0 END AS mean_word_len,
             CAST(length(list_intersect(toks,
               ['the', 'a', 'of', 'to', 'and', 'in', 'that', 'with']))
               AS BIGINT) AS stop_hits,
             (length(toks) BETWEEN 50 AND 100000) AND
               (CASE WHEN length(toks) > 0 THEN
                  round(CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS DOUBLE) / length(toks), 6)
                ELSE 0.0 END BETWEEN 3.0 AND 10.0) AND
               (length(list_intersect(toks,
                 ['the', 'a', 'of', 'to', 'and', 'in', 'that', 'with'])) >= 2)
               AS passes
      FROM t ORDER BY doc_id"""))

  /** Temperature-scaled source mixing (the α=0.5 exponent of
    * XLM-R-style multilingual sampling): keep rate per source is
    * `sqrt(min_docs / n_docs)` — flattens the mix HALFWAY (in log
    * space) between the raw corpus and t16's full equalization, so big
    * sources keep more diversity while small ones still gain share.
    * Membership is the EXACT integer test `bucket² · n < 10¹² · min`
    * (squaring the md5-bucket rate comparison removes the sqrt — and
    * with it every float — from the accept decision; decimal-widened so
    * it cannot overflow at any corpus size), making the sample a pure
    * function of doc_id and the per-source counts: reproducible across
    * engines, partitionings, and appends to other sources. Same
    * physical shape as t16 — tiny count broadcast, one corpus pass. */
  private[queries] def temperatureMix(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"))
    val stats = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("min_docs", min(col("n_docs")).over(Window.partitionBy()))
    base
      .withColumn("bucket", expr(graft.core.Sampling.md5Bucket(
        "CAST(doc_id AS STRING)", 1000000, salt = "temp:")))
      .join(broadcast(stats), "source")
      .withColumn("keep", expr(
        """CAST(bucket AS DECIMAL(38,0)) * bucket * n_docs <
           CAST(min_docs AS DECIMAL(38,0)) * 1000000000000"""))
      .groupBy(col("source"), col("n_docs"), col("min_docs"))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        round(col("n_sampled").cast("double") / col("n_docs"), 6)
          .as("achieved_rate"),
        round(sqrt(col("min_docs").cast("double") / col("n_docs")), 6)
          .as("target_rate"))
      .orderBy(col("source"))
  }

  val t30_temperature_mix = Q(
    "t30_temperature_mix",
    (s, dir) => temperatureMix(Tables(s, dir, "documents")),
    Some("""
      WITH stats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(COUNT(*)) OVER () AS BIGINT) AS min_docs
        FROM documents GROUP BY source),
      tagged AS (
        SELECT d.source, s.n_docs, s.min_docs,
               CAST(concat('0x', substr(md5(concat('temp:',
                 CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                 % 1000000 AS bucket
        FROM documents d JOIN stats s USING (source))
      SELECT source, n_docs,
             CAST(SUM(CASE WHEN CAST(bucket AS HUGEINT) * bucket * n_docs <
                    CAST(min_docs AS HUGEINT) * 1000000000000
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             round(CAST(SUM(CASE WHEN CAST(bucket AS HUGEINT) * bucket * n_docs <
                    CAST(min_docs AS HUGEINT) * 1000000000000
                  THEN 1 ELSE 0 END) AS DOUBLE) / n_docs, 6) AS achieved_rate,
             round(sqrt(CAST(ANY_VALUE(min_docs) AS DOUBLE) / n_docs), 6)
               AS target_rate
      FROM tagged
      GROUP BY source, n_docs
      ORDER BY source"""))

  /** Exact substring-span dedup (the Lee et al. 2022 "Deduplicating
    * Training Data" family): every 8-token span is hashed; a span
    * occurring in more than one document marks all its positions as
    * duplicated text. Per doc: span positions, duplicated positions,
    * duplicated share. Shuffles carry 16-byte binary digests
    * (`unhex(md5)` — 128 bits so collisions stay negligible at 10^13+
    * spans, half the bytes of the hex form), never text. The span
    * stream is one digest per token position — linear in corpus tokens
    * with a ~3x constant over the raw text bytes; that constant is the
    * price of the embarrassingly-parallel formulation (the suffix-array
    * alternative builds sequentially per shard), and partial map-side
    * aggregation absorbs within-partition repeats before the exchange. */
  private[queries] def spanDedup(docs: DataFrame): DataFrame = {
    val base = docs
      .transform(Tables.fanOut)
      .withColumn("toks", expr(Text.toksExpr))
      .where(expr("size(toks) >= 8"))
      .select(col("doc_id"),
        (size(col("toks")) - 7).cast("long").as("n_spans"),
        expr("""transform(sequence(0, size(toks) - 8),
                  i -> unhex(md5(concat_ws(' ', slice(toks, i + 1, 8)))))""")
          .as("spans"))
      // barrier: the span stream has two consumers (cross-doc dup set +
      // per-doc join-back); without it the tokenizer and 8-token md5
      // chain re-evaluate per consumer (same requirement as t11/d08)
      .cache()
    val sp = base.select(col("doc_id"), explode(col("spans")).as("h"))
    val dup = sp.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1)
      .select(col("h"))
    val perDoc = sp.join(dup, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"))
    base.select(col("doc_id"), col("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("dup_spans", coalesce(col("dup_spans"), lit(0L)))
      .withColumn("dup_share",
        col("dup_spans").cast("double") / col("n_spans"))
      .orderBy(col("doc_id"))
  }

  val d18_span_dedup = Q(
    "d18_span_dedup",
    (s, dir) => spanDedup(Tables(s, dir, "documents")),
    Some("""
      WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
                 FROM documents),
      b AS (SELECT doc_id, toks,
              CAST(length(toks) - 7 AS BIGINT) AS n_spans
            FROM t WHERE length(toks) >= 8),
      sp AS (SELECT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS h
             FROM b, unnest(range(1, length(toks) - 6)) AS u(i)),
      cd AS (SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
      pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans
             FROM sp WHERE h IN (SELECT h FROM cd) GROUP BY doc_id)
      SELECT b.doc_id, n_spans,
             COALESCE(dup_spans, 0) AS dup_spans,
             CAST(COALESCE(dup_spans, 0) AS DOUBLE) / n_spans AS dup_share
      FROM b LEFT JOIN pd USING (doc_id) ORDER BY doc_id"""))

  /** KMV sketch size (distinct hash minima retained). */
  val KmvK = 1024

  /** K-minimum-values distinct-count sketch over `keyCol`, md5-hashed so
    * BOTH engines compute bit-identical sketches (md5 is the one hash
    * Spark and DuckDB share). ONE scan: the raw keys deduplicate first
    * (map-side partial distinct — the shuffle carries one row per
    * distinct KEY, not per input row), then md5 runs on the distinct set
    * only, feeding both the exact count and the sketch; the k minima
    * fold per-partition through TakeOrderedAndProject before the single
    * merge. At 100 TB the sketch path never materializes more than
    * |distinct| digests, and two sketches union by keeping the k
    * smallest of the merged minima — the mergeability that makes KMV a
    * per-partition/per-day accounting tool where exact COUNT(DISTINCT)
    * would re-shuffle history. */
  private[queries] def kmvDistinct(df: DataFrame, keyCol: String): DataFrame = {
    val keys = df.select(col(keyCol)).distinct()
      .cache() // barrier: exact count + sketch share the distinct pass
    val hv = keys.select(
      conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
        .cast("long").as("hv"))
    val kth = hv.orderBy(col("hv")).limit(KmvK)
      .agg(count(lit(1)).as("k_actual"), max(col("hv")).as("kth_min"))
    val exact = keys.agg(count(lit(1)).cast("long").as("exact_distinct"))
    kth.crossJoin(exact) // 1 row x 1 row
      .withColumn("est_distinct",
        // fewer than k distinct values => the sketch IS the exact set
        when(col("k_actual") < KmvK, col("k_actual").cast("double"))
          .otherwise((col("k_actual").cast("double") - lit(1.0)) *
            lit(1152921504606846976L) / col("kth_min")))
      .withColumn("rel_err",
        abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct"))
      .select(col("k_actual"), col("kth_min"), col("est_distinct"),
        col("exact_distinct"), col("rel_err"))
  }

  val q60_kmv_distinct = Q(
    "q60_kmv_distinct",
    (s, dir) => kmvDistinct(Tables(s, dir, "lineitem"), "l_partkey"),
    Some("""
      WITH h AS (SELECT DISTINCT
              ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS hv
            FROM lineitem),
      kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_actual, MAX(hv) AS kth_min
             FROM (SELECT hv FROM h ORDER BY hv LIMIT 1024)),
      est AS (SELECT k_actual, kth_min,
                CASE WHEN k_actual < 1024 THEN CAST(k_actual AS DOUBLE)
                     ELSE (CAST(k_actual AS DOUBLE) - 1.0) *
                          1152921504606846976 / kth_min
                END AS est_distinct
              FROM kk),
      e AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
            FROM lineitem)
      SELECT k_actual, kth_min, est_distinct, exact_distinct,
             abs(est_distinct - exact_distinct) / exact_distinct AS rel_err
      FROM est, e"""))

  /** Top adjacent character pairs weighted by word frequency — EXACTLY
    * the statistic [[graft.operators.Bpe.learnMerges]] ranks in its
    * first round, as an externally-gated query: the trainer's rounds
    * 2+ are spec-gated against the single-node reference (`BpeSpec`),
    * and this anchors round 1 to the DuckDB oracle. The tie-break
    * (count desc, pair asc) is the trainer's, so row 1 IS the first
    * merge the trainer learns.
    *
    * Shape: one corpus pass collapses to the weighted (word, count)
    * vocabulary (map-side partial counts), the pair explode runs over
    * vocabulary-sized data, and the top-20 is a
    * TakeOrderedAndProject. */
  private[queries] def bpePairs(docs: DataFrame): DataFrame = {
    import graft.operators.Bpe
    // the trainer's OWN round-statistic helpers — one copy of the
    // vocab/pair/candidate-filter rules, so this gate and the trainer
    // cannot drift (a pair must repeat to be mergeable; row 1 below IS
    // the first merge learnMerges picks)
    Bpe.pairCounts(Bpe.initialVocab(docs))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(20)
      .select(col("a"), col("b"), col("n"))
  }

  val t33_bpe_pairs = Q(
    "t33_bpe_pairs",
    (s, dir) => bpePairs(Tables(s, dir, "documents")),
    Some("""
      WITH w AS (
        SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
              FROM documents)
        GROUP BY tok),
      p AS (
        SELECT substr(w, i + 1, 1) AS a, substr(w, i + 2, 1) AS b, c
        FROM w, unnest(range(length(w) - 1)) AS u(i))
      SELECT a, b, CAST(SUM(c) AS BIGINT) AS n
      FROM p GROUP BY a, b
      HAVING SUM(c) > 1
      ORDER BY n DESC, a, b
      LIMIT 20"""))

  /** Oracle-gated BPE ENCODE (round-9 verdict item 4): t33 gates the
    * trainer's round-1 pair ranking; this gates the learned
    * SEGMENTATION itself — every document encoded with the frozen
    * [[graft.operators.Bpe.ShippedMerges]] tokenizer artifact, per-doc
    * token sequences compared byte-for-byte against a DuckDB oracle
    * that applies the same merges as chained string replaces (each
    * symbol wrapped `,sym,`, a merge (a,b) = replace `,a,,b,` ->
    * `,ab,` — left-to-right non-overlapping, exactly the trainer's
    * fold semantics). Two INDEPENDENT mechanisms — a Catalyst
    * `aggregate` fold vs string rewriting — agreeing on every document
    * is the cross-engine proof the spec-level single-node pin cannot
    * give.
    *
    * Shape: MAP-ONLY until the final deterministic sort — no explode,
    * no join, no aggregation; one projection per merge over the token
    * arrays in place ([[graft.operators.Bpe.applyMergesToArray]]), so
    * at 100 TB the encode is an embarrassingly parallel scan. */
  private[queries] def bpeEncode(docs: DataFrame): DataFrame = {
    import graft.operators.Bpe
    Bpe.applyMergesToArray(
        docs.transform(Tables.fanOut)
          .select(col("doc_id"), expr(Text.toksExpr).as("toks"))
          .where(size(col("toks")) > 0),
        "toks", "enc", Bpe.ShippedMerges)
      .select(col("doc_id"), flatten(col("enc")).as("all_syms"))
      .select(col("doc_id"),
        size(col("all_syms")).cast("long").as("n_tok"),
        array_join(col("all_syms"), " ").as("enc"))
      .orderBy(col("doc_id"))
  }

  private val bpeEncodeOracleSql = {
    // ONE copy of the merge list: the oracle unrolls Bpe.ShippedMerges
    // itself, so the constant and the gate cannot drift
    val chain = graft.operators.Bpe.ShippedMerges.foldLeft(
      "regexp_replace(w, '(.)', ',\\1,', 'g')") { case (acc, (a, b)) =>
      s"replace($acc, ',$a,,$b,', ',$a$b,')"
    }
    s"""
      WITH d AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
                 FROM documents),
      w AS (SELECT DISTINCT unnest(toks) AS w FROM d),
      e AS (SELECT w, string_split(trim($chain, ','), ',,') AS syms FROM w),
      x AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS w FROM d),
      j AS (SELECT x.doc_id, x.pos, e.syms FROM x JOIN e USING (w)),
      g AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS all_syms
            FROM j GROUP BY doc_id)
      SELECT doc_id, CAST(length(all_syms) AS BIGINT) AS n_tok,
             array_to_string(all_syms, ' ') AS enc
      FROM g ORDER BY doc_id"""
  }

  val t39_bpe_encode = Q(
    "t39_bpe_encode",
    (s, dir) => bpeEncode(Tables(s, dir, "documents")),
    Some(bpeEncodeOracleSql))

  /** The PRODUCTION encode path ([[graft.operators.Bpe
    * .encodeWithRanks]] — one broadcast rank table, one projection,
    * any merge count) gated against the SAME oracle as t39: both
    * engines' segmentations must be byte-identical, so the fold path,
    * the rank path, and DuckDB's unrolled replace chain are three
    * independent derivations of one answer. */
  private[queries] def bpeEncodeRanks(docs: DataFrame): DataFrame = {
    import graft.operators.Bpe
    Bpe.encodeWithRanks(
        docs.transform(Tables.fanOut)
          .select(col("doc_id"), expr(Text.toksExpr).as("toks"))
          .where(size(col("toks")) > 0),
        "toks", "enc", Bpe.ShippedMerges)
      .select(col("doc_id"), flatten(col("enc")).as("all_syms"))
      .select(col("doc_id"),
        size(col("all_syms")).cast("long").as("n_tok"),
        array_join(col("all_syms"), " ").as("enc"))
      .orderBy(col("doc_id"))
  }

  val t42_bpe_encode_ranks = Q(
    "t42_bpe_encode_ranks",
    (s, dir) => bpeEncodeRanks(Tables(s, dir, "documents")),
    Some(bpeEncodeOracleSql))

  /** Oracle-gated SNAPSHOT-TABLE round trip — the lake layer's first
    * externally-gated row (it was spec-pinned only): bootstrap a
    * source-partitioned [[graft.lake.SnapshotTable]] from the corpus
    * (v1), apply ONE deterministic mixed CDC batch — tombstones for
    * doc_id % 97 == 0 and re-curated upserts for doc_id % 89 == 0 —
    * as a single atomic commit (v2), then aggregate the COMMITTED v2
    * per source. The DuckDB oracle reproduces the final state
    * relationally (filter + CASE rewrite over `documents`), so the
    * whole write → immutable-directory staging → manifest commit →
    * census-planned read path must be byte-exact cross-engine — a
    * manifest that lost a partition, a rewrite that dropped or
    * duplicated a row, or a tombstone that leaked would all break the
    * hash.
    *
    * Deterministic + idempotent by construction: the table lives
    * under a content-fingerprinted root and the query only MUTATES
    * while fewer than 2 versions exist (a re-run — Bench's warmup +
    * timed runs — reads v2 as committed; a half-built root from a
    * crashed run finishes the missing step). Scale shape: the v2
    * commit rewrites ONLY the touched partitions (manifest-pruned),
    * and the read-side aggregate is the usual per-source rollup. */
  /** The deterministic two-version CDC table t40 gates (v1 = the
    * documents corpus, v2 = one applyChanges batch of tombstones +
    * recurations), built once per corpus fingerprint and reused by
    * every gate that needs a real SnapshotTable (t40, t48). */
  private[queries] def cdcRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import graft.lake.SnapshotTable
    val root = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_snaptable_cdc_v1")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    if (SnapshotTable.latest(spark, root).isEmpty)
      SnapshotTable.write(spark, root, docs, Seq("source"))
    if (SnapshotTable.latest(spark, root).forall(_ < 2)) {
      val tombstones = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("op", lit("d"))
      val upserts = docs
        .filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0)
        .withColumn("text", concat(col("text"), lit(" [recurated]")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("op", lit("u"))
      SnapshotTable.applyChanges(spark, root,
        tombstones.unionByName(upserts), "doc_id", Seq("source"),
        opCol = "op")
    }
    root
  }

  private[queries] def snapshotCdc(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.lake.SnapshotTable
    val root = cdcRoot(spark, dir)
    SnapshotTable.read(spark, root, 2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        sum(when(col("text").endsWith("[recurated]"), 1L).otherwise(0L))
          .as("n_recurated"))
      .orderBy(col("source"))
  }

  val t40_snapshot_cdc = Q(
    "t40_snapshot_cdc",
    (s, dir) => snapshotCdc(s, dir),
    Some("""
      WITH v2 AS (
        SELECT source,
               CASE WHEN doc_id % 89 = 0 THEN text || ' [recurated]'
                    ELSE text END AS text
        FROM documents
        WHERE doc_id % 97 <> 0)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN text LIKE '%[recurated]' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_recurated
      FROM v2
      GROUP BY source
      ORDER BY source"""))

  /** The catalog-SQL gate (round-12 verdict item 3): the SAME
    * governed-table query plane the reference runs on Athena —
    * `SELECT … FROM <catalog table>` by NAME, plus time travel — served
    * end-to-end through [[graft.lake.LakeCatalog]] (a DSv2
    * TableCatalog) over the t40 CDC SnapshotTable. The query text is
    * PURE SQL: no DataFrame API touches the data path, so the gate
    * proves name resolution, `VERSION AS OF`, the pinned recorded
    * schema, and the DSv2 parquet scan all at once. v1 must equal the
    * untouched corpus (time travel across the CDC batch), v2 the
    * post-CDC state — the oracle recomputes both from `documents`. */
  private[queries] def lakeSql(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val root = cdcRoot(spark, dir)
    graft.lake.LakeCatalog.install(spark)
    graft.lake.LakeCatalog.register(spark, "snap_docs", root)
    spark.sql("""
      SELECT 1 AS v, source, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars
      FROM lake.snap_docs VERSION AS OF 1 GROUP BY source
      UNION ALL
      SELECT 2 AS v, source, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars
      FROM lake.snap_docs VERSION AS OF 2 GROUP BY source
      ORDER BY v, source""")
  }

  val t48_lake_sql = Q(
    "t48_lake_sql",
    (s, dir) => lakeSql(s, dir),
    Some("""
      WITH v2 AS (
        SELECT source,
               CASE WHEN doc_id % 89 = 0 THEN text || ' [recurated]'
                    ELSE text END AS text
        FROM documents
        WHERE doc_id % 97 <> 0)
      SELECT * FROM (
        SELECT 1 AS v, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
        UNION ALL
        SELECT 2 AS v, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars
        FROM v2 GROUP BY source)
      ORDER BY v, source"""))

  /** The change-feed gate (round-13 verdict item 5): the FEED ROWS
    * themselves, oracle-checked — `ChangeFeed.between(0, 2)` over the
    * t40 CDC table must produce exactly (v1) every original document
    * as an insert, and (v2) a delete for each tombstoned doc, plus the
    * delete+insert pair for each recurated doc — all three sets
    * re-derivable by the oracle from `documents` arithmetic alone.
    * This gates the manifest-diff partition naming, the per-vintage
    * EXCEPT ALL, and the change-column labeling in one query; a feed
    * that silently dropped a step, mislabeled a change, or leaked an
    * untouched row hash-mismatches. Scale shape: each step reads only
    * its touched partitions at the two adjacent versions (the same
    * bound as the commit that produced it). */
  private[queries] def changeFeedReplay(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.lake.ChangeFeed
    val root = cdcRoot(spark, dir)
    ChangeFeed.between(spark, root, 0, 2)
      .orderBy(col(ChangeFeed.VersionCol), col(ChangeFeed.ChangeTypeCol),
        col("doc_id"))
  }

  val t51_change_feed = Q(
    "t51_change_feed",
    (s, dir) => changeFeedReplay(s, dir),
    Some("""
      SELECT doc_id, text, lang, n_chars, source,
             'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      FROM documents
      UNION ALL
      SELECT doc_id, text, lang, n_chars, source,
             'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      FROM documents
      WHERE doc_id % 97 = 0 OR (doc_id % 89 = 0 AND doc_id % 97 <> 0)
      UNION ALL
      SELECT doc_id, text || ' [recurated]' AS text, lang,
             CAST(length(text || ' [recurated]') AS BIGINT) AS n_chars,
             source,
             'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      FROM documents
      WHERE doc_id % 89 = 0 AND doc_id % 97 <> 0
      ORDER BY _commit_version, _change_type, doc_id"""))

  /** The SQL-MERGE gate (round-14 verdict item 1): the same CDC shape
    * t40 lands through [[graft.lake.SnapshotTable.applyChanges]] —
    * tombstones + recurations, PLUS brand-new rows so all three clause
    * families execute — landed as ONE pure-SQL `MERGE INTO` statement
    * against a catalog-named lake table, then read back by name. The
    * oracle reconstructs the post-MERGE state from `documents`
    * arithmetic alone, so a MERGE that mis-keys a clause, double-fires
    * an action, or leaks a half-applied version hash-mismatches.
    * Requires a session built with `graft.sql.GraftSqlExtensions`
    * (Bench/Verify are) — the statement routes through
    * [[graft.lake.MergeIntoLakeCommand]] onto the same OCC commit line
    * as t40's API batch. Deterministic + idempotent like [[cdcRoot]]:
    * the table lives under a content-fingerprinted root and mutates
    * only while fewer than 2 versions exist. */
  private[queries] def sqlMergeRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import graft.lake.{LakeCatalog, SnapshotTable}
    val root = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_snaptable_sqlmerge_v1")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    if (SnapshotTable.latest(spark, root).isEmpty)
      // upsert (not write) so the bootstrap commit RECORDS the row key
      // the MERGE statement needs — one commit, #rowkey included
      SnapshotTable.upsert(spark, root, docs, "doc_id", Seq("source"))
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "merge_docs", root)
    if (SnapshotTable.latest(spark, root).forall(_ < 2)) {
      val insText = concat(lit("inserted:"), col("doc_id").cast("string"))
      val changes = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("op", lit("d"))
        .unionByName(docs
          .filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0)
          .withColumn("text", concat(col("text"), lit(" [recurated]")))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("op", lit("u")))
        .unionByName(docs.filter(col("doc_id") % 101 === 0)
          .select((-(col("doc_id") + 1)).cast("long").as("doc_id"),
            insText.as("text"), col("lang"),
            length(insText).cast("long").as("n_chars"), col("source"))
          .withColumn("op", lit("i")))
      changes.createOrReplaceTempView("t52_changes")
      spark.sql("""
        MERGE INTO lake.merge_docs t USING t52_changes s
        ON t.doc_id = s.doc_id
        WHEN MATCHED AND s.op = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET text = s.text, n_chars = s.n_chars
        WHEN NOT MATCHED THEN
          INSERT (doc_id, text, lang, n_chars, source)
          VALUES (s.doc_id, s.text, s.lang, s.n_chars, s.source)""")
    }
    root
  }

  private[queries] def sqlMergeCdc(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    sqlMergeRoot(spark, dir)
    spark.sql("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars,
             SUM(CASE WHEN text LIKE '%[recurated]' THEN 1 ELSE 0 END)
               AS n_recurated,
             SUM(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS n_inserted
      FROM lake.merge_docs GROUP BY source ORDER BY source""")
  }

  val t52_sql_merge = Q(
    "t52_sql_merge",
    (s, dir) => sqlMergeCdc(s, dir),
    Some("""
      WITH final AS (
        SELECT doc_id,
               CASE WHEN doc_id % 89 = 0 THEN text || ' [recurated]'
                    ELSE text END AS text,
               source
        FROM documents
        WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT -(doc_id + 1) AS doc_id,
               'inserted:' || CAST(doc_id AS VARCHAR) AS text, source
        FROM documents
        WHERE doc_id % 101 = 0)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN text LIKE '%[recurated]' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_recurated,
             CAST(SUM(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_inserted
      FROM final GROUP BY source ORDER BY source"""))

  /** Metadata-only aggregate gate (round 15): COUNT / MIN / MAX with a
    * partition filter and GROUP BY over a governed lake table must
    * answer from the manifest's `#n` row counts and `#f` stats ALONE
    * ([[graft.lake.MetadataAggregate]]) — the query function REFUSES a
    * scan-backed plan, so this row gates both halves at once: the
    * rewrite fired (plan shape), and the manifest arithmetic equals
    * DuckDB's recomputation over the logical table (values). A
    * row-level DELETE lands before the read so the counts are proven
    * across a partition rewrite, not just the bootstrap commit — the
    * 100 TB dashboard shape (`SELECT dt, COUNT(*) … GROUP BY dt`)
    * opening zero data files. Deterministic + idempotent like
    * [[sqlMergeRoot]]. */
  private[queries] def metaAggRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import graft.lake.{LakeCatalog, SnapshotTable}
    val root = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_snaptable_metaagg_v1")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    if (SnapshotTable.latest(spark, root).isEmpty)
      SnapshotTable.write(spark, root, docs, Seq("source"),
        statsFor = Seq("doc_id", "n_chars"))
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, "meta_docs", root)
    if (SnapshotTable.latest(spark, root).forall(_ < 2))
      // a data-column predicate: touched partitions rewrite, and the
      // rewrite's fresh files re-record their `#n`/`#f` lines
      SnapshotTable.deleteWhere(spark, root,
        col("doc_id") % 97 === 0)
    root
  }

  private[queries] def metaAgg(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    metaAggRoot(spark, dir)
    val q = spark.sql("""
      SELECT source, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
             MAX(doc_id) AS max_id, MIN(n_chars) AS min_chars,
             MAX(n_chars) AS max_chars
      FROM lake.meta_docs WHERE source >= 'src15'
      GROUP BY source ORDER BY source""")
    val scanned = q.queryExecution.optimizedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => s
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation => r
    }
    require(scanned.isEmpty, "t53_meta_agg: expected a manifest-only " +
      s"plan, got a data scan:\n${q.queryExecution.optimizedPlan}")
    q
  }

  val t53_meta_agg = Q(
    "t53_meta_agg",
    (s, dir) => metaAgg(s, dir),
    Some("""
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
             MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM documents
      WHERE doc_id % 97 <> 0 AND source >= 'src15'
      GROUP BY source ORDER BY source"""))

  /** The SQL-DDL gate (round-15 verdict item 1): the table's ENTIRE
    * lifecycle as pure SQL — `CREATE TABLE … PARTITIONED BY …
    * TBLPROPERTIES ('rowkey' = …)` mints the empty governed root
    * ([[graft.lake.LakeCatalog.createTable]] →
    * [[graft.lake.SnapshotTable.create]], one metadata commit),
    * `INSERT INTO` bulk-loads the corpus, `MERGE INTO` lands the t52
    * CDC batch (tombstones + recurations + brand-new rows) off the
    * DDL-declared row key, and the gated SELECT reads the result back
    * by name. No API call ever touches the table — where t52 needed
    * [[graft.lake.SnapshotTable.upsert]] to bootstrap the key, here the
    * declaration itself is DDL, so this row gates the one front door
    * the surface still lacked. The oracle reconstructs the final state
    * from `documents` arithmetic alone (same algebra as t52).
    * Deterministic + idempotent like [[sqlMergeRoot]]: content-
    * fingerprinted root; each step runs only while the table has fewer
    * versions than the step would leave (CREATE=v1, INSERT=v2,
    * MERGE=v3); a later JVM run re-binds and reads the committed v3. */
  private[queries] def sqlDdlRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import graft.lake.{LakeCatalog, SnapshotTable}
    val root = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_snaptable_sqlddl_v1")
    LakeCatalog.install(spark)
    if (SnapshotTable.latest(spark, root).isEmpty)
      spark.sql(s"""
        CREATE TABLE lake.ddl_docs (
          doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT,
          source STRING)
        PARTITIONED BY (source) LOCATION '$root'
        TBLPROPERTIES ('rowkey' = 'doc_id')""")
    else
      LakeCatalog.register(spark, "ddl_docs", root)
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    if (SnapshotTable.latest(spark, root).forall(_ < 2)) {
      docs.createOrReplaceTempView("t54_docs")
      spark.sql("""
        INSERT INTO lake.ddl_docs
        SELECT doc_id, text, lang, n_chars, source FROM t54_docs""")
    }
    if (SnapshotTable.latest(spark, root).forall(_ < 3)) {
      val insText = concat(lit("inserted:"), col("doc_id").cast("string"))
      val changes = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("op", lit("d"))
        .unionByName(docs
          .filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0)
          .withColumn("text", concat(col("text"), lit(" [recurated]")))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("op", lit("u")))
        .unionByName(docs.filter(col("doc_id") % 101 === 0)
          .select((-(col("doc_id") + 1)).cast("long").as("doc_id"),
            insText.as("text"), col("lang"),
            length(insText).cast("long").as("n_chars"), col("source"))
          .withColumn("op", lit("i")))
      changes.createOrReplaceTempView("t54_changes")
      spark.sql("""
        MERGE INTO lake.ddl_docs t USING t54_changes s
        ON t.doc_id = s.doc_id
        WHEN MATCHED AND s.op = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET text = s.text, n_chars = s.n_chars
        WHEN NOT MATCHED THEN
          INSERT (doc_id, text, lang, n_chars, source)
          VALUES (s.doc_id, s.text, s.lang, s.n_chars, s.source)""")
    }
    root
  }

  private[queries] def sqlDdl(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    sqlDdlRoot(spark, dir)
    spark.sql("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars,
             SUM(CASE WHEN text LIKE '%[recurated]' THEN 1 ELSE 0 END)
               AS n_recurated,
             SUM(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS n_inserted
      FROM lake.ddl_docs GROUP BY source ORDER BY source""")
  }

  val t54_sql_ddl = Q(
    "t54_sql_ddl",
    (s, dir) => sqlDdl(s, dir),
    Some("""
      WITH final AS (
        SELECT doc_id,
               CASE WHEN doc_id % 89 = 0 THEN text || ' [recurated]'
                    ELSE text END AS text,
               source
        FROM documents
        WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT -(doc_id + 1) AS doc_id,
               'inserted:' || CAST(doc_id AS VARCHAR) AS text, source
        FROM documents
        WHERE doc_id % 101 = 0)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN text LIKE '%[recurated]' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_recurated,
             CAST(SUM(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_inserted
      FROM final GROUP BY source ORDER BY source"""))

  /** The table-constraints gate (round-16 verdict item 3): a governed
    * table that REFUSES bad rows — `CREATE TABLE` declares `NOT NULL`
    * column flags and a `CHECK` TBLPROPERTY, and every INSERT/MERGE/
    * stream drain enforces them ON the staging write (a violating
    * batch fails before its manifest exists; nothing half-lands —
    * `LakeDdlSpec` proves the refusals destructively). This row gates
    * the ACCEPT side: a deliberately damaged feed (NULL langs,
    * negative and NULL char counts) is filtered by the exact SQL CHECK
    * semantics — a NULL condition PASSES, only FALSE refuses — and the
    * accepted-row set must hash-match DuckDB evaluating the same
    * predicate, which pins the three-valued-logic corner an ad-hoc
    * `WHERE n_chars >= 0` would get wrong (it would also drop the NULL
    * rows the constraint admits). The reference's analog is the
    * curated zone's pinned column types (`README.md:162`) and the
    * loud-fail column-security posture. Deterministic + idempotent
    * like [[sqlDdlRoot]]. */
  private[queries] def sqlConstraintsRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import graft.lake.{LakeCatalog, SnapshotTable}
    val root = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_snaptable_sqlcons_v1")
    LakeCatalog.install(spark)
    if (SnapshotTable.latest(spark, root).isEmpty)
      spark.sql(s"""
        CREATE TABLE lake.cons_docs (
          doc_id BIGINT NOT NULL, text STRING, lang STRING NOT NULL,
          n_chars BIGINT, source STRING)
        PARTITIONED BY (source) LOCATION '$root'
        TBLPROPERTIES ('rowkey' = 'doc_id',
          'check.chars_nonneg' = 'n_chars >= 0')""")
    else
      LakeCatalog.register(spark, "cons_docs", root)
    if (SnapshotTable.latest(spark, root).forall(_ < 2)) {
      Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"),
          when(col("doc_id") % 13 === 0, lit(null))
            .otherwise(col("lang")).as("lang"),
          when(col("doc_id") % 17 === 0, -col("n_chars"))
            .when(col("doc_id") % 19 === 0, lit(null))
            .otherwise(col("n_chars")).cast("long").as("n_chars"),
          col("source"))
        .createOrReplaceTempView("t55_feed")
      spark.sql("""
        INSERT INTO lake.cons_docs
        SELECT doc_id, text, lang, n_chars, source FROM t55_feed
        WHERE lang IS NOT NULL AND NOT ((n_chars >= 0) IS FALSE)""")
    }
    root
  }

  private[queries] def sqlConstraints(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    sqlConstraintsRoot(spark, dir)
    spark.sql("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(coalesce(n_chars, 0)) AS BIGINT) AS total_chars,
             SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
               AS n_null_chars
      FROM lake.cons_docs GROUP BY source ORDER BY source""")
  }

  val t55_sql_constraints = Q(
    "t55_sql_constraints",
    (s, dir) => sqlConstraints(s, dir),
    Some("""
      WITH feed AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
               CASE WHEN doc_id % 17 = 0 THEN -n_chars
                    WHEN doc_id % 19 = 0 THEN NULL
                    ELSE n_chars END AS n_chars,
               source
        FROM documents),
      accepted AS (
        SELECT * FROM feed
        WHERE lang IS NOT NULL AND NOT ((n_chars >= 0) IS FALSE))
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(coalesce(n_chars, 0)) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_chars
      FROM accepted GROUP BY source ORDER BY source"""))

  /** The lane-versions gate (round 17, DESIGN_CROSS_TABLE_TXN.md
    * acceptance criterion 4): a LANE names consistent cuts across a
    * base table and a derived aggregate ([[graft.lake.Lane]]). The
    * scenario: base + derived commit and publish lane v1; a CDC batch
    * mutates the base, the maintainer refreshes the derived table, and
    * lane v2 publishes the completed cut; then the base mutates AGAIN
    * (a third batch "mid-drain" — derived NOT refreshed, lane NOT
    * published). The gated read resolves BOTH members through the
    * lane's latest pin and reports the derived aggregate NEXT TO the
    * same aggregate recomputed from the pinned base — the DuckDB
    * oracle reconstructs the after-batch-2 state and expects the two
    * to AGREE, which is exactly the consistency a direct latest-read
    * would violate (the base has already moved on). Deterministic +
    * idempotent like [[sqlDdlRoot]]: version-guarded steps, content
    * from `documents` arithmetic alone. */
  private[queries] def laneReadRoots(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    import graft.lake.{Lane, SnapshotTable}
    val base = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_lane_base_v1")
    val derived = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_lane_drv_v1")
    val lane = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_lane_log_v1")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), col("source"))
    def refreshDerived(): Unit =
      SnapshotTable.write(spark, derived,
        SnapshotTable.read(spark, base)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars")),
        Seq("source"))
    if (SnapshotTable.latest(spark, base).isEmpty)
      SnapshotTable.write(spark, base, docs, Seq("source"))
    if (SnapshotTable.latest(spark, derived).isEmpty) refreshDerived()
    if (Lane.latest(spark, lane).isEmpty)
      Lane.publish(spark, lane, Seq("base" -> base, "derived" -> derived))
    if (SnapshotTable.latest(spark, base).forall(_ < 2)) {
      val changes = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("op", lit("d"))
        .unionByName(docs
          .filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0)
          .withColumn("n_chars", col("n_chars") + 7L)
          .withColumn("op", lit("u")))
      SnapshotTable.applyChanges(spark, base, changes, "doc_id",
        Seq("source"), opCol = "op")
    }
    if (SnapshotTable.latest(spark, derived).forall(_ < 2)) refreshDerived()
    if (Lane.latest(spark, lane).forall(_ < 2))
      Lane.publish(spark, lane, Seq("base" -> base, "derived" -> derived))
    // the mid-drain batch: base moves on, derived and lane do NOT
    if (SnapshotTable.latest(spark, base).forall(_ < 3))
      SnapshotTable.deleteWhere(spark, base,
        col("doc_id") % 101 === 0)
    lane
  }

  private[queries] def laneRead(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.lake.{Lane, SnapshotTable}
    val lane = laneReadRoots(spark, dir)
    val (bRoot, bV) = Lane.member(spark, lane, "base")
    val (dRoot, dV) = Lane.member(spark, lane, "derived")
    val fromBase = SnapshotTable.read(spark, bRoot, bV)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_base"),
        sum(col("n_chars")).cast("long").as("total_chars_base"))
    SnapshotTable.read(spark, dRoot, dV)
      .join(fromBase, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_docs_base"),
        col("total_chars"), col("total_chars_base"))
      .orderBy(col("source"))
  }

  val t56_lane_read = Q(
    "t56_lane_read",
    (s, dir) => laneRead(s, dir),
    Some("""
      WITH cut AS (
        SELECT doc_id,
               CASE WHEN doc_id % 89 = 0 THEN n_chars + 7
                    ELSE n_chars END AS n_chars,
               source
        FROM documents
        WHERE doc_id % 97 <> 0)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_docs_base,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars_base
      FROM cut GROUP BY source ORDER BY source"""))

  /** The deletion-vector gate (round-18 verdict item 1): merge-on-read
    * row-level deletes ([[graft.lake.SnapshotTable.deleteRowsWhere]] —
    * `#dv` manifest lines, O(deleted rows) commit bytes, no partition
    * rewrite; `DvSpec` pins the cost claims destructively). This row
    * gates the READ side arithmetic against DuckDB: two data-predicate
    * deletes land as deletion vectors, and the oracle reconstructs the
    * surviving row set with plain SQL `WHERE NOT p1 AND NOT p2`. The
    * result frame deliberately crosses THREE dv-aware read paths that
    * must agree: a metadata-only `COUNT(*) GROUP BY partition` (the
    * manifest answers, dv counts subtracted — [[graft.lake
    * .MetadataAggregate]]), a data-column-filtered SQL scan (the DSv2
    * relation rewritten by [[graft.lake.DvApply]]'s anti-join), and a
    * `VERSION AS OF 1` time-travel count proving the pre-delete rows
    * still serve. Deterministic + idempotent: the initial write is
    * version-guarded and re-running a delete whose rows are already
    * deleted commits nothing. */
  private[queries] def dvDeleteRoot(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import graft.lake.{LakeCatalog, SnapshotTable}
    val root = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_dv_docs_v1")
    LakeCatalog.install(spark)
    if (SnapshotTable.latest(spark, root).isEmpty)
      SnapshotTable.write(spark, root,
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("source")),
        Seq("source"), statsFor = Seq("n_chars"),
        lookupFor = Seq("doc_id"))
    LakeCatalog.register(spark, "dv_docs", root)
    SnapshotTable.deleteRowsWhere(spark, root,
      col("doc_id") % 23 === 0 && col("lang") === "en")
    SnapshotTable.deleteRowsWhere(spark, root, col("n_chars") % 31 === 0)
    root
  }

  private[queries] def dvDelete(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val root = dvDeleteRoot(spark, dir)
    // metadata-only count: no data-column reference, the manifest
    // answers with the dv counts subtracted
    val meta = spark.sql("""
      SELECT source, count(*) AS n_docs
      FROM lake.dv_docs GROUP BY source""")
    // data-column filter forces the scan path (DvApply's anti-join)
    val scan = spark.sql("""
      SELECT source, count(*) AS n_docs_scan,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM lake.dv_docs WHERE doc_id IS NOT NULL GROUP BY source""")
    val v1 = graft.lake.SnapshotTable.read(spark, root, 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_v1"))
    meta.join(scan, Seq("source")).join(v1, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_docs_scan"),
        col("total_chars"), col("n_docs_v1"))
      .orderBy(col("source"))
  }

  val t57_dv_delete = Q(
    "t57_dv_delete",
    (s, dir) => dvDelete(s, dir),
    Some("""
      WITH live AS (
        SELECT doc_id, lang, n_chars, source FROM documents
        WHERE NOT (doc_id % 23 = 0 AND lang = 'en')
          AND NOT (n_chars % 31 = 0)),
      base AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_v1
        FROM documents GROUP BY source)
      SELECT l.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_docs_scan,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             ANY_VALUE(n_docs_v1) AS n_docs_v1
      FROM live l JOIN base b ON l.source = b.source
      GROUP BY l.source ORDER BY l.source"""))

  /** Pairwise agreement matrix of the three document-quality filters
    * the funnel could gate on: t02's continuous score at the Curate
    * default threshold (0.5), t29's Gopher composite, and a
    * duplicate-token-ratio rule. The question a pipeline operator
    * actually asks before adding a filter: does it REMOVE anything the
    * existing gates don't already catch? High agreement = redundant
    * stage (cost, no coverage); the only_a/only_b split shows which
    * filter carries unique signal.
    *
    * Shape: the three verdicts are stateless per-doc expressions (the
    * SAME shared `withQuality` / `withGopherVerdict` the batch queries
    * and streaming gates use) over one corpus scan; everything after
    * is a single 13-sum global aggregate reshaped to 3 rows with
    * `stack` — output is filter-pair-sized at any corpus scale. */
  private[queries] def filterAgreement(docs: DataFrame): DataFrame = {
    val flags = Corpus.withGopherVerdict(
        Text.withQuality(docs.transform(Tables.fanOut)))
      .select(
        (col("quality") >= 0.5).as("q"),
        col("passes").as("g"),
        (col("n_tok") > 0 &&
          (lit(1.0) - col("n_uniq").cast("double") / col("n_tok")) <= 0.5)
          .as("r"))
    def cell(p: Column, name: String) =
      sum(when(p, 1L).otherwise(0L)).as(name)
    val m = flags.agg(
      count(lit(1)).as("n"),
      cell(col("q") && col("g"), "qg_both"),
      cell(col("q") && !col("g"), "qg_a"),
      cell(!col("q") && col("g"), "qg_b"),
      cell(col("q") && col("r"), "qr_both"),
      cell(col("q") && !col("r"), "qr_a"),
      cell(!col("q") && col("r"), "qr_b"),
      cell(col("g") && col("r"), "gr_both"),
      cell(col("g") && !col("r"), "gr_a"),
      cell(!col("g") && col("r"), "gr_b"))
    m.selectExpr("n",
        """stack(3,
          'quality',  'gopher',   qg_both, qg_a, qg_b,
          'quality',  'duptoken', qr_both, qr_a, qr_b,
          'gopher',   'duptoken', gr_both, gr_a, gr_b)
          AS (filter_a, filter_b, n_both, n_only_a, n_only_b)""")
      .withColumn("n_neither",
        col("n") - col("n_both") - col("n_only_a") - col("n_only_b"))
      .withColumn("agree_rate",
        round((col("n_both") + col("n_neither")).cast("double") / col("n"),
          6))
      .select(col("filter_a"), col("filter_b"), col("n_both"),
        col("n_only_a"), col("n_only_b"), col("n_neither"),
        col("agree_rate"))
      .orderBy(col("filter_a"), col("filter_b"))
  }

  val t34_filter_agreement = Q(
    "t34_filter_agreement",
    (s, dir) => filterAgreement(Tables(s, dir, "documents")),
    Some("""
      WITH t AS (SELECT doc_id,
                   regexp_extract_all(text, '[a-z0-9]+') AS toks
                 FROM documents),
      f AS (
        SELECT
          (CASE WHEN n_tok > 0
             THEN 0.4 * least(1.0, CAST(n_tok AS DOUBLE) / 100.0)
                + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
                + 0.3 * (CAST(n_uniq AS DOUBLE) / n_tok)
             ELSE 0.0 END) >= 0.5 AS q,
          (n_words BETWEEN 50 AND 100000) AND
            (CASE WHEN n_words > 0 THEN
               round(CAST(sum_len AS DOUBLE) / n_words, 6)
             ELSE 0.0 END BETWEEN 3.0 AND 10.0) AND
            (stop_hits >= 2) AS g,
          n_tok > 0 AND
            (1.0 - CAST(n_uniq AS DOUBLE) / n_tok) <= 0.5 AS r
        FROM (
          SELECT
            CAST(length(toks) AS BIGINT) AS n_tok,
            CAST(length(list_filter(toks,
              x -> x IN ('the','a','of','and','to','in','is')))
              AS BIGINT) AS n_stop,
            CAST(length(list_distinct(toks)) AS BIGINT) AS n_uniq,
            CAST(length(toks) AS BIGINT) AS n_words,
            list_sum(list_transform(toks, x -> length(x))) AS sum_len,
            CAST(length(list_intersect(toks,
              ['the', 'a', 'of', 'to', 'and', 'in', 'that', 'with']))
              AS BIGINT) AS stop_hits
          FROM t)),
      m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN q AND g THEN 1 ELSE 0 END) AS BIGINT) AS qg_both,
          CAST(SUM(CASE WHEN q AND NOT g THEN 1 ELSE 0 END) AS BIGINT) AS qg_a,
          CAST(SUM(CASE WHEN NOT q AND g THEN 1 ELSE 0 END) AS BIGINT) AS qg_b,
          CAST(SUM(CASE WHEN q AND r THEN 1 ELSE 0 END) AS BIGINT) AS qr_both,
          CAST(SUM(CASE WHEN q AND NOT r THEN 1 ELSE 0 END) AS BIGINT) AS qr_a,
          CAST(SUM(CASE WHEN NOT q AND r THEN 1 ELSE 0 END) AS BIGINT) AS qr_b,
          CAST(SUM(CASE WHEN g AND r THEN 1 ELSE 0 END) AS BIGINT) AS gr_both,
          CAST(SUM(CASE WHEN g AND NOT r THEN 1 ELSE 0 END) AS BIGINT) AS gr_a,
          CAST(SUM(CASE WHEN NOT g AND r THEN 1 ELSE 0 END) AS BIGINT) AS gr_b
        FROM f),
      rows AS (
        SELECT 'quality' AS filter_a, 'gopher' AS filter_b,
               qg_both AS n_both, qg_a AS n_only_a, qg_b AS n_only_b, n
        FROM m
        UNION ALL
        SELECT 'quality', 'duptoken', qr_both, qr_a, qr_b, n FROM m
        UNION ALL
        SELECT 'gopher', 'duptoken', gr_both, gr_a, gr_b, n FROM m)
      SELECT filter_a, filter_b, n_both, n_only_a, n_only_b,
             n - n_both - n_only_a - n_only_b AS n_neither,
             round(CAST(n_both + (n - n_both - n_only_a - n_only_b)
               AS DOUBLE) / n, 6) AS agree_rate
      FROM rows
      ORDER BY filter_a, filter_b"""))

  // ---- t37: reproducible global training shuffle ---------------------

  /** Shard size of the shuffled loader order. */
  val ShuffleShard = 512L

  val t37_train_shuffle = Q(
    "t37_train_shuffle",
    (s, dir) => {
      // The last loader-facing step after packing: a SEEDED global
      // shuffle of the corpus — every run, every engine, every
      // parallelism produces the same permutation ("epoch 0 order" is
      // reproducible). Key = md5 of a seed-tagged doc_id: a
      // deterministic pseudorandom total order both engines compute
      // bit-identically. The naive `row_number() OVER (ORDER BY key)`
      // is a single-task global window at 100 TB; here the contiguous
      // 0-based position comes from [[graft.operators.PrefixSum]] —
      // range-partitioned local scans + a task-count-sized offset grid
      // — so every task is bounded by its range partition, never the
      // corpus (the t26/t28 machinery reused for its second loader
      // artifact). Shards are position-contiguous blocks: shard k =
      // positions [k·512, (k+1)·512), what a data loader maps to one
      // file handle.
      val keyed = Tables(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("k",
          md5(concat(lit("shuffle42:"), col("doc_id").cast("string"))))
        .withColumn("one", lit(1L))
      graft.operators.PrefixSum
        .exclusive(keyed, Nil, Seq("k", "doc_id"), "one", "pos")
        .select(col("pos"), col("doc_id"),
          expr(s"CAST(pos DIV $ShuffleShard AS BIGINT)").as("shard"))
        .orderBy(col("pos"))
    },
    Some(s"""
      SELECT CAST(ROW_NUMBER() OVER (
               ORDER BY md5('shuffle42:' || CAST(doc_id AS VARCHAR)), doc_id)
             - 1 AS BIGINT) AS pos,
             doc_id,
             CAST((ROW_NUMBER() OVER (
               ORDER BY md5('shuffle42:' || CAST(doc_id AS VARCHAR)), doc_id)
             - 1) // $ShuffleShard AS BIGINT) AS shard
      FROM documents
      ORDER BY pos"""))

  // ---- t38: quality-ranked sampling under a token budget -------------

  /** Per-source token budget for the quality-ranked sample. */
  val QualityBudget = 600L

  val t38_quality_budget_sample = Q(
    "t38_quality_budget_sample",
    (s, dir) => {
      // The curation op the batched-retrieval lane names but no query
      // exercised yet: keep each source's BEST documents until a token
      // budget is spent — rank by the shared t02 quality score, admit
      // in rank order while cumulative tokens fit. The naive form is a
      // per-source ordered window (one task per source at 100 TB — the
      // t24 lesson); here the cumulative sum is
      // [[graft.operators.PrefixSum]] again (range partitions split a
      // dominant source across tasks; the offset grid is
      // task-count-sized), so the scan is bounded by partition size,
      // never source size. Output is BUDGET-bounded per source
      // (~budget/avg_dl docs), independent of corpus scale — the
      // sample you hand to annotation or a small-model ablation.
      val scored = graft.queries.Text
        .withQuality(Tables(s, dir, "documents").transform(Tables.fanOut))
        .select(col("doc_id"), col("source"), col("n_tok"), col("quality"))
        // PrefixSum orders ascending; rank DESC via the negated score
        .withColumn("nq", -col("quality"))
      graft.operators.PrefixSum
        .exclusive(scored, Seq("source"), Seq("nq", "doc_id"),
          "n_tok", "cum_ex")
        .withColumn("cum_tok", col("cum_ex") + col("n_tok"))
        .where(col("cum_tok") <= QualityBudget)
        .select(col("source"), col("doc_id"), col("n_tok"),
          col("quality"), col("cum_tok"))
        .orderBy(col("source"), col("cum_tok"), col("doc_id"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, source,
                        regexp_extract_all(text, '[a-z0-9]+') AS toks
                 FROM documents),
      q AS (SELECT doc_id, source,
                   CAST(length(toks) AS BIGINT) AS n_tok,
                   CAST(length(list_filter(toks,
                     t -> t IN ('the','a','of','and','to','in','is')))
                     AS BIGINT) AS n_stop,
                   CAST(length(list_distinct(toks)) AS BIGINT) AS n_uniq
            FROM t),
      sc AS (SELECT doc_id, source, n_tok,
                    CASE WHEN n_tok > 0
                         THEN 0.4 * least(1.0, CAST(n_tok AS DOUBLE) / 100.0)
                            + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
                            + 0.3 * (CAST(n_uniq AS DOUBLE) / n_tok)
                         ELSE 0.0 END AS quality
             FROM q),
      c AS (SELECT *,
                   CAST(SUM(n_tok) OVER (
                     PARTITION BY source
                     ORDER BY quality DESC, doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
            FROM sc)
      SELECT source, doc_id, n_tok, quality, cum_tok
      FROM c WHERE cum_tok <= $QualityBudget
      ORDER BY source, cum_tok, doc_id"""))

  /** Stats-pruned range read over a CDC-maintained lake table, gated
    * end-to-end (round-10 verdict item 2's oracle row): build a
    * [[graft.lake.SnapshotTable]] from `documents` with per-file
    * min/max stats + range clustering declared on `doc_id`, then
    * answer a selective doc_id band via [[graft.lake.SnapshotTable
    * .readBetween]] — the read opens only the manifest-matched files
    * (pruning structurally pinned in `SkipReadSpec`), and THIS row
    * pins that the pruned read returns exactly the rows the plain
    * table scan would (DuckDB computes the band over the raw
    * parquet). Deterministic root per corpus fingerprint; idempotent
    * across bench warmup + timed runs. Scale shape: the band read
    * lists nothing (manifest census) and opens O(band/file-range)
    * files, not the partition's whole directory. */
  private[queries] def snapshotSkipRead(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.lake.SnapshotTable
    val root = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_snaptable_skip_v1")
    if (SnapshotTable.latest(spark, root).isEmpty)
      SnapshotTable.write(spark, root,
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"), col("source")),
        Seq("source"), filesPerPartition = 4,
        statsFor = Seq("doc_id"), clusterBy = Seq("doc_id"))
    val n = Tables(spark, dir, "documents")
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    val lo = n / 5
    val hi = 2 * n / 5
    SnapshotTable.readBetween(spark, root, "doc_id", lo, hi)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("source"))
  }

  val t41_snapshot_skipread = Q(
    "t41_snapshot_skipread",
    (s, dir) => snapshotSkipRead(s, dir),
    Some("""
      WITH b AS (SELECT MAX(doc_id) AS n FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM documents, b
      WHERE doc_id BETWEEN n // 5 AND 2 * n // 5
      GROUP BY source
      ORDER BY source"""))

  /** Incrementally maintained materialized aggregate, gated end-to-end
    * (round-11): a per-(source, lang) rollup of `documents` is
    * materialized with [[graft.lake.MaterializedAgg]], the base table
    * takes the SAME deterministic CDC batch as t40 (tombstones %97,
    * recurated upserts %89), and the view folds it in INCREMENTALLY —
    * the refresh reads only the changed partitions at both base
    * versions (manifest diff) and merges a signed delta, never
    * rescanning the table. The oracle recomputes the rollup over the
    * mutated logical table from scratch in DuckDB, so a hash match IS
    * the proof that incremental maintenance equals full recompute.
    * Idempotent across bench warmup + timed runs: mutations are
    * version-guarded, refresh no-ops once the view reflects base@v2.
    * Scale shape: refresh cost is O(changed partitions) + a bucket-
    * pruned view merge — the structural pins live in
    * `MaterializedAggSpec` (an untouched partition's directory is
    * deleted from disk and refresh does not notice). */
  private[queries] def incrementalMv(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.lake.{MaterializedAgg, SnapshotTable}
    import graft.lake.MaterializedAgg.MvSpec
    val baseRoot = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_mv_base_v2")
    val mvRoot = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_mv_view_v2")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    if (SnapshotTable.latest(spark, baseRoot).isEmpty)
      SnapshotTable.write(spark, baseRoot, docs, Seq("source"))
    val spec = MvSpec(Seq("source", "lang"),
      Seq("total_chars" -> "n_chars"), countName = "n_docs")
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 8)
    if (SnapshotTable.latest(spark, baseRoot).forall(_ < 2)) {
      val tombstones = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("op", lit("d"))
      val upserts = docs
        .filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0)
        .withColumn("text", concat(col("text"), lit(" [recurated]")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("op", lit("u"))
      SnapshotTable.applyChanges(spark, baseRoot,
        tombstones.unionByName(upserts), "doc_id", Seq("source"),
        opCol = "op")
    }
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, nBuckets = 8)
    MaterializedAgg.read(spark, mvRoot)
      .select(col("source"), col("lang"), col("total_chars"),
        col("n_docs"))
      .orderBy(col("source"), col("lang"))
  }

  /** OPTIMIZE (bin-packing compaction) gated end-to-end: a lake table
    * is bulk-loaded over-fanned (6 files per partition — the hot-load
    * layout a cold table no longer needs), takes the t40-style CDC
    * batch, then [[graft.lake.SnapshotTable.optimize]] compacts every
    * partition to its byte-justified file count. The rollup reads the
    * OPTIMIZED version; the oracle recomputes it over the raw mutated
    * rows in DuckDB — a hash match proves compaction moved bytes, not
    * meaning. File-count/clustering/concurrency behavior is pinned in
    * `OptimizeSpec`; this row pins content preservation externally.
    * Idempotent across bench runs via version guards. */
  private[queries] def snapshotOptimize(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.lake.SnapshotTable
    val root = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_snaptable_opt_v1")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    if (SnapshotTable.latest(spark, root).isEmpty)
      SnapshotTable.write(spark, root, docs, Seq("source"),
        filesPerPartition = 6)
    if (SnapshotTable.latest(spark, root).forall(_ < 2)) {
      val tombstones = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("op", lit("d"))
      val upserts = docs
        .filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0)
        .withColumn("text", concat(col("text"), lit(" [recurated]")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("op", lit("u"))
      SnapshotTable.applyChanges(spark, root,
        tombstones.unionByName(upserts), "doc_id", Seq("source"),
        opCol = "op", filesPerPartition = 6)
    }
    if (SnapshotTable.latest(spark, root).forall(_ < 3))
      SnapshotTable.optimize(spark, root)
    // latest = the optimized layout when compaction fired, the CDC
    // version when every partition was already at its target
    SnapshotTable.read(spark, root, SnapshotTable.latest(spark, root).get)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("text").endsWith("[recurated]"), 1L).otherwise(0L))
          .as("n_recurated"))
      .orderBy(col("source"))
  }

  val t44_snapshot_optimize = Q(
    "t44_snapshot_optimize",
    (s, dir) => snapshotOptimize(s, dir),
    Some("""
      WITH v2 AS (
        SELECT source,
               CASE WHEN doc_id % 89 = 0 THEN text || ' [recurated]'
                    ELSE text END AS text,
               CASE WHEN doc_id % 89 = 0
                    THEN CAST(length(text || ' [recurated]') AS BIGINT)
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE doc_id % 97 <> 0)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN text LIKE '%[recurated]' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_recurated
      FROM v2
      GROUP BY source
      ORDER BY source"""))

  val t43_incremental_mv = Q(
    "t43_incremental_mv",
    (s, dir) => incrementalMv(s, dir),
    Some("""
      WITH v2 AS (
        SELECT source, lang,
               CASE WHEN doc_id % 89 = 0
                    THEN CAST(length(text || ' [recurated]') AS BIGINT)
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE doc_id % 97 <> 0)
      SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM v2
      GROUP BY source, lang
      ORDER BY source, lang"""))

  /** MIN/MAX/AVG incremental maintenance gated end-to-end (round-11
    * verdict item 5): same base table + deterministic CDC batch as
    * t43, but the view maintains the NON-invertible aggregates too —
    * extrema via per-(group, directory) partial rows in the view
    * (deleting a group's minimum re-derives it from partials, never
    * rescanning unchanged base data; `MaterializedAggMinMaxSpec` pins
    * that destructively) and AVG as a derived sum / non-null-count. The
    * oracle recomputes every aggregate over the mutated logical table
    * from scratch in DuckDB — the hash match proves incremental
    * extrema equal full recompute through deletes that REMOVE current
    * extrema (the %97 tombstones delete min-id docs of several
    * sources). AVG is emitted as the same sum/count division both
    * engines perform in IEEE double, so it hash-matches exactly. */
  private[queries] def incrementalMvMinMax(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.lake.{MaterializedAgg, SnapshotTable}
    import graft.lake.MaterializedAgg.MvSpec
    val baseRoot = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_mv2_base_v3")
    val mvRoot = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_mv2_view_v3")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    if (SnapshotTable.latest(spark, baseRoot).isEmpty)
      SnapshotTable.write(spark, baseRoot, docs, Seq("source"))
    val spec = MvSpec(Seq("source"),
      sums = Seq("total_chars" -> "n_chars"),
      countName = "n_docs",
      avgs = Seq("avg_chars" -> "n_chars"),
      mins = Seq("min_id" -> "doc_id", "min_chars" -> "n_chars"),
      maxs = Seq("max_id" -> "doc_id", "max_chars" -> "n_chars"))
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 8)
    if (SnapshotTable.latest(spark, baseRoot).forall(_ < 2)) {
      val tombstones = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("op", lit("d"))
      val upserts = docs
        .filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0)
        .withColumn("text", concat(col("text"), lit(" [recurated]")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("op", lit("u"))
      SnapshotTable.applyChanges(spark, baseRoot,
        tombstones.unionByName(upserts), "doc_id", Seq("source"),
        opCol = "op")
    }
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, nBuckets = 8)
    MaterializedAgg.read(spark, mvRoot)
      .select(col("source"), col("total_chars"), col("avg_chars"),
        col("min_id"), col("max_id"), col("min_chars"), col("max_chars"),
        col("n_docs"))
      .orderBy(col("source"))
  }

  val t45_incremental_mv_minmax = Q(
    "t45_incremental_mv_minmax",
    (s, dir) => incrementalMvMinMax(s, dir),
    Some("""
      WITH v2 AS (
        SELECT source, doc_id,
               CASE WHEN doc_id % 89 = 0
                    THEN CAST(length(text || ' [recurated]') AS BIGINT)
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE doc_id % 97 <> 0)
      SELECT source,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(n_chars) AS DOUBLE)
               AS avg_chars,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
             CAST(MIN(n_chars) AS BIGINT) AS min_chars,
             CAST(MAX(n_chars) AS BIGINT) AS max_chars,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM v2
      GROUP BY source
      ORDER BY source"""))

  /** COUNT(DISTINCT) maintenance gated end-to-end (round-12 verdict
    * item 6): same deterministic CDC batch as t43/t45, but the view
    * also maintains two approximate-distinct columns via per-(group,
    * directory) KMV sketches in the view's partial rows —
    * `approx_docs` (distinct doc_ids per source, k=128 < the ~300
    * distinct per group at sf0.01, so the ESTIMATOR path is exercised
    * and must match DuckDB's evaluation of the identical k-minima
    * formula bit-for-bit) and `n_langs` (distinct langs, far below k,
    * so the sketch IS the exact distinct set). The %97 tombstones
    * remove distinct doc_ids — the non-invertible case — and the
    * refresh re-derives both columns from the metadata-sized partials,
    * never rescanning unchanged base partitions
    * (`MaterializedAggKmvSpec` pins that destructively). */
  private[queries] def incrementalMvDistinct(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.lake.{MaterializedAgg, SnapshotTable}
    import graft.lake.MaterializedAgg.MvSpec
    val baseRoot = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_mv3_base_v3")
    val mvRoot = graft.core.IndexRoot.of(dir, "documents.parquet",
      "graft_mv3_view_v3")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    if (SnapshotTable.latest(spark, baseRoot).isEmpty)
      SnapshotTable.write(spark, baseRoot, docs, Seq("source"))
    val spec = MvSpec(Seq("source"),
      sums = Seq("total_chars" -> "n_chars"),
      countName = "n_docs",
      kmvs = Seq("approx_docs" -> "doc_id", "n_langs" -> "lang"),
      kmvK = 128)
    MaterializedAgg.init(spark, baseRoot, mvRoot, spec, nBuckets = 8)
    if (SnapshotTable.latest(spark, baseRoot).forall(_ < 2)) {
      val tombstones = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("op", lit("d"))
      val upserts = docs
        .filter(col("doc_id") % 89 === 0 && col("doc_id") % 97 =!= 0)
        .withColumn("text", concat(col("text"), lit(" [recurated]")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("op", lit("u"))
      SnapshotTable.applyChanges(spark, baseRoot,
        tombstones.unionByName(upserts), "doc_id", Seq("source"),
        opCol = "op")
    }
    MaterializedAgg.refresh(spark, baseRoot, mvRoot, spec, nBuckets = 8)
    MaterializedAgg.read(spark, mvRoot)
      .select(col("source"), col("total_chars"), col("approx_docs"),
        col("n_langs"), col("n_docs"))
      .orderBy(col("source"))
  }

  val t49_mv_distinct = Q(
    "t49_mv_distinct",
    (s, dir) => incrementalMvDistinct(s, dir),
    Some("""
      WITH v2 AS (
        SELECT source, doc_id, lang,
               CASE WHEN doc_id % 89 = 0
                    THEN CAST(length(text || ' [recurated]') AS BIGINT)
                    ELSE n_chars END AS n_chars
        FROM documents
        WHERE doc_id % 97 <> 0),
      h AS (SELECT DISTINCT source,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                AS hv
            FROM v2),
      r AS (SELECT source, hv,
              row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
            FROM h),
      k AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ka, MAX(hv) AS kth
            FROM r WHERE rn <= 128 GROUP BY source),
      est AS (SELECT source,
                CASE WHEN ka < 128 THEN CAST(ka AS DOUBLE)
                     ELSE (CAST(ka AS DOUBLE) - 1.0) *
                          1152921504606846976 / kth
                END AS approx_docs
              FROM k)
      SELECT v2.source,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             ANY_VALUE(approx_docs) AS approx_docs,
             CAST(COUNT(DISTINCT lang) AS DOUBLE) AS n_langs,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM v2 JOIN est ON v2.source = est.source
      GROUP BY v2.source
      ORDER BY v2.source"""))

  val all: Seq[Q] =
    Seq(t26_seq_pack, t27_pii_scan, t28_pack_segments, t29_gopher_filter,
      t30_temperature_mix, d18_span_dedup, q60_kmv_distinct, t33_bpe_pairs,
      t34_filter_agreement, t37_train_shuffle, t38_quality_budget_sample,
      t39_bpe_encode, t40_snapshot_cdc, t41_snapshot_skipread,
      t42_bpe_encode_ranks, t43_incremental_mv, t44_snapshot_optimize,
      t45_incremental_mv_minmax, t48_lake_sql, t49_mv_distinct,
      t51_change_feed, t52_sql_merge, t53_meta_agg, t54_sql_ddl,
      t55_sql_constraints, t56_lane_read, t57_dv_delete)
}
