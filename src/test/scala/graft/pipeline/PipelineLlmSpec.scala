package graft.pipeline

import graft.SparkSpec
import graft.queries.{Dedup, Search, Similarity}

/** The end-to-end LLM lane (round-8 verdict stretch #8): ingest ->
  * curate -> THREE stream-maintained indexes (dedup / ANN / BM25
  * postings) -> probes + retrieval decontamination, all in one
  * `tools.Pipeline.llmLane` run — whose probe results must be
  * ROW-IDENTICAL to the oracle-gated batch queries (d15_lsh_probe /
  * s05_ann_index / t31_bm25). The dedup index here is built by TWO
  * streaming drains (90% base + late arrivals) into a work-dir root,
  * so the pin also proves incremental maintenance converges to the
  * batch build's answers. */
// excluded from the default `sbt test` (CI budget) — run with
// GRAFT_TEST_ALL=1 or `testOnly`; see build.sbt
@org.scalatest.tags.Slow
class PipelineLlmSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.01"

  private val workDir = tmpDir("pipeline-llm")
  private lazy val (report, dedupHits, annHits, bm25Hits, decontamHits) =
    graft.tools.Pipeline.llmLane(spark, sfDir, workDir)

  test("curation ran with full provenance") {
    assert(report.afterDecontam > 0)
    assert(report.stages.nonEmpty && report.splits.values.sum > 0)
  }

  test("stream-maintained dedup index answers probes like the batch query") {
    val batch = Dedup.d15_lsh_probe.run(spark, sfDir).collect().toSeq
    val piped = dedupHits.collect().toSeq
    assert(batch.nonEmpty, "batch d15 returned nothing — probe set empty?")
    assert(piped == batch,
      s"pipeline dedup probe diverged: ${piped.size} vs ${batch.size} rows")
  }

  test("train split ships with a complete packing manifest") {
    import org.apache.spark.sql.functions._
    val _ = report // force the lane
    val ctx = graft.queries.Corpus.PackCtx
    val manifest = spark.read.parquet(s"$workDir/llm/pack_manifest")
    assert(manifest.count() > 0)
    // interior bins full; manifest covers exactly the curated train docs
    val perBin = manifest.groupBy(col("source"), col("bin"))
      .agg(sum(col("tok_to") - col("tok_from")).as("toks"))
    val last = perBin.groupBy(col("source")).agg(max(col("bin")).as("mx"))
    assert(perBin.join(last, "source")
      .filter(col("bin") < col("mx") && col("toks") =!= ctx).count() == 0,
      "interior bins of the curated train manifest are not full")
    val trainDocs = spark.read.parquet(s"$workDir/llm/curated")
      .filter(col("split") === "train").select("doc_id").distinct().count()
    assert(manifest.select("doc_id").distinct().count() == trainDocs,
      "manifest does not cover exactly the curated train docs")
  }

  test("stream-bootstrapped BM25 index ranks like the inline query") {
    val batch = Search.t31_bm25.run(spark, sfDir).collect().toSeq
    val piped = bm25Hits.collect().toSeq
    assert(batch.nonEmpty)
    assert(piped == batch,
      s"pipeline bm25 probe diverged: ${piped.size} vs ${batch.size} rows")
  }

  test("index-served retrieval decontamination equals the inline sweep") {
    import org.apache.spark.sql.functions._
    // The pipeline's decontamination pass probes the stream-bootstrapped
    // postings index with every held-out doc's salient terms in one
    // batched probe; it must rank EXACTLY like the inline
    // Search.bm25BatchOver over the same intake corpus and workload —
    // index-served sweep ≡ batch computation, the d15/t31 pin extended
    // to the whole-workload shape.
    val docs = graft.core.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val queries = Search.decontamQueries(docs.filter(col("doc_id") % 89 === 0))
    val inline = Search.bm25BatchOver(docs, queries, 5)
      .filter(col("doc_id") =!= col("query_id"))
      .collect().toSeq
    val piped = decontamHits.collect().toSeq
    assert(inline.nonEmpty, "inline sweep returned nothing — weak test")
    assert(piped == inline,
      s"pipeline decontamination diverged: ${piped.size} vs ${inline.size}")
    // and it finds a cross-document candidate (not only self-hits)
    assert(piped.exists(_.getLong(1) != piped.head.getLong(0)))
  }

  test("curated zone: atomic SnapshotTable + CDC re-curation; v1 pack inputs stable") {
    import org.apache.spark.sql.functions._
    import graft.lake.SnapshotTable
    val _ = report // force the lane
    val root = graft.tools.Pipeline.curatedTableRoot(workDir)
    assert(SnapshotTable.versions(spark, root) == Seq(1),
      "the lane should commit the curated zone as exactly v1")
    // v1 IS the curated zone at commit time
    val v1Ids = SnapshotTable.read(spark, root, 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val curIds = spark.read.parquet(s"$workDir/llm/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(v1Ids == curIds)
    // the pack manifest's inputs derive from v1 — capture them now
    def packInputs(version: Int) = SnapshotTable.read(spark, root, version)
      .filter(col("split") === "train")
      .select(col("doc_id"),
        expr("CAST(size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS BIGINT)")
          .as("n_tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val v1Pack = packInputs(1)

    // RE-CURATION as a CDC change feed: one upserted doc (re-scrubbed
    // text) + one tombstone (a doc the next funnel run dropped),
    // drained by maintainChangesAtomic — ONE new atomic version
    val cur = SnapshotTable.read(spark, root, 1)
    val sample = cur.filter(col("split") === "train")
      .orderBy("doc_id").limit(2).collect()
    val upDoc = sample(0)
    val delDoc = sample(1)
    val cols = cur.columns
    val changesDir = tmpDir("recuration-feed")
    cur.filter(col("doc_id") === upDoc.getAs[Long]("doc_id"))
      .withColumn("text", concat(col("text"), lit(" [re-scrubbed]")))
      .withColumn("op", lit("u"))
      .unionByName(cur.filter(col("doc_id") === delDoc.getAs[Long]("doc_id"))
        .withColumn("op", lit("d")))
      .write.parquet(s"$changesDir/batch0")
    val feedSchema = spark.read.parquet(s"$changesDir/batch0").schema
    val q = graft.streaming.CdcStream.maintainChangesAtomic(
      spark.readStream.schema(feedSchema).parquet(s"$changesDir/*"),
      root, "doc_id", Seq("split", "source"), opCol = "op")
    try q.awaitTermination() finally q.stop()

    assert(SnapshotTable.versions(spark, root) == Seq(1, 2),
      "a drained re-curation batch must commit exactly one version")
    val v2 = SnapshotTable.read(spark, root, 2)
    assert(v2.filter(col("doc_id") === delDoc.getAs[Long]("doc_id")).isEmpty,
      "the tombstoned doc survived re-curation")
    assert(v2.filter(col("doc_id") === upDoc.getAs[Long]("doc_id"))
      .select("text").collect()(0).getString(0).endsWith("[re-scrubbed]"))
    // THE PIN: the pack manifest's v1 inputs are byte-stable after the
    // re-curation commit — "the run that produced pack_manifest" stays
    // reproducible while the curated zone moves on
    assert(packInputs(1) == v1Pack,
      "v1 pack inputs changed after a later re-curation commit")
    assert(packInputs(2) != v1Pack,
      "v2 should differ (weak test otherwise)")
  }

  test("the lane's probes answer from COMPACTED index layouts") {
    // llmLane compacts all three stream-maintained indexes between the
    // drains and the probes; the probe-vs-batch pins in the other
    // tests therefore already prove fold-identity END-TO-END — this
    // test pins that the fold actually happened (otherwise those pins
    // would be vacuously exercising the un-compacted layouts).
    val _ = report // force the lane
    assert(new java.io.File(s"$workDir/index/dedup/compacted").isDirectory,
      "dedup index was not compacted")
    assert(new java.io.File(s"$workDir/index/ann/compacted").isDirectory,
      "ann index was not compacted")
    assert(new java.io.File(s"$workDir/index/inverted/compacted")
      .isDirectory, "inverted index was not compacted")
    // folded batch/append zones are gone
    def batchDirs(p: String) = {
      val d = new java.io.File(p)
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isDirectory &&
        (f.getName.startsWith("batch=") || f.getName.startsWith("band=")))
    }
    assert(batchDirs(s"$workDir/index/inverted/postings_batches") == 0)
    assert(batchDirs(s"$workDir/index/ann/state_deltas") == 0)
    assert(batchDirs(s"$workDir/index/dedup/bands") == 0)
  }

  test("postings maintenance driven purely by the governed table's change feed") {
    // Round-13 verdict item 6: the production shape — the index
    // consumer follows the GOVERNED curated table itself through
    // format("graft-changes") (offsets ARE table versions), no access
    // to the upstream ingest feed. Two commits, two drains of the same
    // checkpointed stream; the probes must stay row-identical to the
    // inline t31 ranking over the table's full live state.
    import org.apache.spark.sql.functions._
    import graft.lake.SnapshotTable
    import graft.operators.InvertedIndex
    val docs = graft.core.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        concat(lit("s"), pmod(col("doc_id"), lit(4L)).cast("string"))
          .as("src"))
    val tableRoot = tmpDir("cfgov-table")
    val invRoot = tmpDir("cfgov-inv")
    SnapshotTable.write(spark, tableRoot,
      docs.filter(col("doc_id") % 10 =!= 0), Seq("src"))     // v1: 90%
    def drain(): Unit = {
      val q = graft.streaming.IndexMaintenance
        .followTableIntoInvertedIndex(spark, tableRoot, invRoot)
      try q.awaitTermination() finally q.stop()
    }
    drain()
    SnapshotTable.upsert(spark, tableRoot,                   // v2: +10%
      docs.filter(col("doc_id") % 10 === 0), "doc_id", Seq("src"))
    drain()
    InvertedIndex.compactBatches(spark, invRoot)
    val served = InvertedIndex.probe(spark, invRoot,
      Search.Bm25Terms).collect().toSeq
    val inline = Search.t31_bm25.run(spark, sfDir).collect().toSeq
    assert(inline.nonEmpty)
    assert(served == inline,
      s"change-feed-maintained index diverged: ${served.size} vs " +
        s"${inline.size} rows")
    // and a feed carrying a delete fails the maintainer loudly
    SnapshotTable.deleteWhere(spark, tableRoot,
      col("doc_id") === 7L)                      // v3
    val e = intercept[Exception] { drain() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(
      _.contains("additive bag"))),
      s"expected the append-only refusal, got: $e")
  }

  test("work-dir ANN index answers probes like the batch query") {
    val batch = Similarity.s05_ann_index.run(spark, sfDir).collect().toSeq
    val piped = annHits.collect().toSeq
    assert(batch.nonEmpty)
    assert(piped == batch,
      s"pipeline ann probe diverged: ${piped.size} vs ${batch.size} rows")
  }
}
