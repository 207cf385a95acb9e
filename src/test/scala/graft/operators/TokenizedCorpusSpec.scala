package graft.operators

import graft.SparkSpec
import graft.lake.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tokenize-once retrieval (round-11 verdict item 4): the persisted
  * postings/doclens tables equal a from-scratch tokenization after any
  * base mutation, refresh re-tokenizes ONLY changed partitions (proved
  * destructively), rankings served from the materialization match the
  * inline path exactly, and the fast float variant rank-matches the
  * exact one. */
class TokenizedCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def mkBase(root: String,
      rows: Seq[(Long, String, String)]): Unit = {
    val df = rows.toDF("doc_id", "source", "text")
    SnapshotTable.write(spark, root, df, Seq("source"))
  }

  private def postingsSet(tokRoot: String): Set[(Long, Long, String, Long)] =
    TokenizedCorpus.postings(spark, tokRoot)
      .select($"doc_id", $"dl", $"tok", $"tf")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet

  /** From-scratch tokenization of the base's CURRENT rows. */
  private def oracle(baseRoot: String): Set[(Long, Long, String, Long)] =
    SnapshotTable.read(spark, baseRoot)
      .withColumn("toks", expr(graft.queries.Text.toksExpr))
      .withColumn("dl", size($"toks").cast("long"))
      .where($"dl" > 0)
      .select($"doc_id", $"dl", explode($"toks").as("tok"))
      .groupBy($"doc_id", $"dl", $"tok")
      .agg(count(lit(1)).as("tf"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet

  private val seed = Seq(
    (1L, "a", "spark window filter spark"),
    (2L, "a", "window and filter"),
    (3L, "b", "spark spark spark"),
    (4L, "b", "plain prose here"),
    (5L, "c", "filter window spark mix"))

  test("build materializes the postings intermediate exactly") {
    val baseRoot = tmpDir("tok-base"); val tokRoot = tmpDir("tok-idx")
    mkBase(baseRoot, seed)
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    assert(postingsSet(tokRoot) == oracle(baseRoot))
    val stats = TokenizedCorpus.corpusStats(spark, tokRoot).collect()(0)
    assert((stats.getLong(0), stats.getLong(1)) == (5L, 17L),
      s"corpus stats off: $stats")
    // ONE table, three row kinds: per-partition stats rows (one per
    // source) and per-(partition, term) df rows ride in the postings
    // table itself, committed atomically with the posting rows
    val raw = graft.lake.SnapshotTable.read(spark,
      TokenizedCorpus.postingsRoot(tokRoot))
    assert(raw.where($"tok" === TokenizedCorpus.StatsTok).count() == 3)
    // df rows equal a from-scratch per-term document count
    val dfGot = TokenizedCorpus.dfForTerms(spark, tokRoot,
      Seq("spark", "filter", "window", "plain"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dfGot == Map(
      "spark" -> 3L, "filter" -> 3L, "window" -> 3L, "plain" -> 1L),
      s"df rows off: $dfGot")
    // no-op refresh mints no versions
    val pv = SnapshotTable.versions(spark,
      TokenizedCorpus.postingsRoot(tokRoot))
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    assert(SnapshotTable.versions(spark,
      TokenizedCorpus.postingsRoot(tokRoot)) == pv)
  }

  test("CDC folds incrementally; equals full re-tokenization") {
    val baseRoot = tmpDir("tok-base"); val tokRoot = tmpDir("tok-idx")
    mkBase(baseRoot, seed)
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    val changes = Seq(
      (1L, "a", "spark rewritten entirely", "u"),  // update in a
      (6L, "d", "filter filter", "u"),             // brand-new partition
      (3L, "b", "", "d"))                          // delete in b
      .toDF("doc_id", "source", "text", "op")
    SnapshotTable.applyChanges(spark, baseRoot, changes, "doc_id",
      Seq("source"), opCol = "op")
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    assert(postingsSet(tokRoot) == oracle(baseRoot))
    // a term that entered the corpus in this batch serves IMMEDIATELY
    // with its df row — postings/df/stats commit atomically, so the
    // round-16 mid-refresh skew (fresh term with postings but no df,
    // silently dropped from BM25 by the INNER join) cannot exist
    val dfGot = TokenizedCorpus.dfForTerms(spark, tokRoot,
      Seq("rewritten")).collect()
    assert(dfGot.length == 1 && dfGot(0).getLong(1) == 1L,
      "new term's df row must land in the same commit as its postings")
  }

  test("an incremental refresh folds each log once") {
    // the postings fold serves the applied-source read, the merge base
    // and the commit; the base@latest fold serves the diff and the
    // changed partitions' read
    val baseRoot = tmpDir("tok-base"); val tokRoot = tmpDir("tok-idx")
    val postRoot = TokenizedCorpus.postingsRoot(tokRoot)
    mkBase(baseRoot, seed)
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    SnapshotTable.upsert(spark, baseRoot,
      Seq((2L, "a", "window filter rewritten")).toDF("doc_id", "source",
        "text"), "doc_id", Seq("source"))
    def manifestOf(root: String): String = new org.apache.hadoop.fs.Path(
      root, f"_versions/v${SnapshotTable.latest(spark, root).get}%08d" +
        ".manifest").toUri.getPath
    val (baseLatest, postLatest) = (manifestOf(baseRoot), manifestOf(postRoot))
    val opens = graft.lake.ListRecordingFs.recorded(spark)(
      TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))).opens
    assert(opens.count(_ == baseLatest) == 1, opens.mkString("\n"))
    assert(opens.count(_ == postLatest) == 1, opens.mkString("\n"))
    assert(TokenizedCorpus.appliedBaseVersion(spark, tokRoot) ==
      SnapshotTable.latest(spark, baseRoot))
    assert(postingsSet(tokRoot) == oracle(baseRoot))
  }

  test("a source-less root refuses reads; refresh rebuilds it") {
    val baseRoot = tmpDir("tok-base"); val tokRoot = tmpDir("tok-idx")
    mkBase(baseRoot, seed)
    // a postings table no refresh wrote: a plain write records no
    // source base version (an older layout's root reads the same)
    SnapshotTable.write(spark, TokenizedCorpus.postingsRoot(tokRoot),
      Seq(("a", 1L, 3L, "stale", 1L)).toDF("source", "doc_id", "dl", "tok", "tf"),
      Seq("source"))
    val e = intercept[IllegalArgumentException] {
      TokenizedCorpus.corpusStats(spark, tokRoot).collect()
    }
    assert(e.getMessage.contains("records no source"), e.getMessage)
    // refresh rebuilds it in full and records the source; reads serve
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    assert(TokenizedCorpus.appliedBaseVersion(spark, tokRoot).contains(1))
    val stats = TokenizedCorpus.corpusStats(spark, tokRoot).collect()(0)
    assert((stats.getLong(0), stats.getLong(1)) == (5L, 17L))
    assert(postingsSet(tokRoot) == oracle(baseRoot))
  }

  test("every refresh records its source in the postings log; no _tok files") {
    val baseRoot = tmpDir("tok-base"); val tokRoot = tmpDir("tok-idx")
    val postRoot = TokenizedCorpus.postingsRoot(tokRoot)
    mkBase(baseRoot, seed)
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    SnapshotTable.upsert(spark, baseRoot,
      Seq((1L, "a", "changed text")).toDF("doc_id", "source", "text"),
      "doc_id", Seq("source"))
    assert(TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source")) == 2)
    assert(TokenizedCorpus.appliedBaseVersion(spark, tokRoot).contains(2))
    // the base advances with no partition change: one metadata-only
    // postings version re-anchors it
    SnapshotTable.declareKey(spark, baseRoot, "doc_id")
    val pv = SnapshotTable.latest(spark, postRoot).get
    assert(TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source")) == 3)
    assert(SnapshotTable.latest(spark, postRoot).contains(pv + 1))
    assert(SnapshotTable.entriesFor(spark, postRoot, pv + 1) ==
      SnapshotTable.entriesFor(spark, postRoot, pv))
    assert(TokenizedCorpus.appliedBaseVersion(spark, tokRoot).contains(3))
    TokenizedCorpus.vacuum(spark, tokRoot, keepVersions = 1)
    assert(TokenizedCorpus.appliedBaseVersion(spark, tokRoot).contains(3))
    assert(postingsSet(tokRoot) == oracle(baseRoot))
    val tokMeta = new org.apache.hadoop.fs.Path(tokRoot, "_tok")
    assert(!tokMeta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(tokMeta))
  }

  test("refresh re-tokenizes ONLY changed partitions (destructive)") {
    val baseRoot = tmpDir("tok-base"); val tokRoot = tmpDir("tok-idx")
    mkBase(baseRoot, seed)
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    SnapshotTable.upsert(spark, baseRoot,
      Seq((1L, "a", "changed text only in a")).toDF("doc_id", "source", "text"),
      "doc_id", Seq("source"))
    // destroy untouched partition b's base directory: a full
    // re-tokenization now crashes; the incremental path must not notice
    val bDir = SnapshotTable.entriesFor(spark, baseRoot, 2)
      .collectFirst { case (k, d) if k == "b" => d }.get
    val p = new org.apache.hadoop.fs.Path(baseRoot, bDir)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(p, true))
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    val got = postingsSet(tokRoot)
    assert(got.exists(r => r._1 == 3L && r._3 == "spark" && r._4 == 3L),
      "untouched partition b's postings must carry forward")
    assert(got.exists(r => r._1 == 1L && r._3 == "changed"))
    assert(!got.exists(r => r._1 == 1L && r._3 == "window"),
      "partition a's stale postings must be gone")
  }

  test("a partition whose docs all tokenize empty drops its postings") {
    val baseRoot = tmpDir("tok-base"); val tokRoot = tmpDir("tok-idx")
    mkBase(baseRoot, seed)
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    // rewrite partition c to punctuation-only text: dl = 0 everywhere
    SnapshotTable.upsert(spark, baseRoot,
      Seq((5L, "c", "!!! ??? ...")).toDF("doc_id", "source", "text"),
      "doc_id", Seq("source"))
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    assert(postingsSet(tokRoot) == oracle(baseRoot))
    assert(!postingsSet(tokRoot).exists(_._1 == 5L))
  }

  test("rankings: materialized == inline, fast rank-matches exact") {
    val dir = "/root/testdata/sf0.001"
    val baseRoot = tmpDir("tok-rank-base"); val tokRoot = tmpDir("tok-rank-idx")
    val docs = graft.core.Tables(spark, dir, "documents")
      .select($"doc_id", $"text", $"source")
    SnapshotTable.write(spark, baseRoot, docs, Seq("source"))
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    val inline = graft.queries.Search.t31_bm25.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val mat = graft.queries.Search.bm25FromTokenized(spark, tokRoot)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(mat == inline,
      "materialized ranking diverged from the inline path")
    val fast = graft.queries.Search.bm25FromTokenizedFast(spark, tokRoot)
      .collect().map(_.getLong(0)).toSeq
    assert(fast == inline.map(_._1),
      "fast tokenized ranking diverged in doc set or order")
    // the plan truly contains no tokenizer
    val served = graft.queries.Search.bm25FromTokenized(spark, tokRoot)
    assert(!served.queryExecution.optimizedPlan.toString
        .contains("regexp_extract_all"),
      "tokenizer leaked into the materialized plan")
    // and the term reads are stats-pruned: the probed rows open fewer
    // postings files than the table holds (clustered tok windows)
    val probed = TokenizedCorpus.postingsForTerms(spark, tokRoot,
      graft.queries.Search.Bm25Terms)
    val allFiles = TokenizedCorpus.postings(spark, tokRoot)
      .inputFiles.length
    assert(probed.inputFiles.length < allFiles,
      s"term probe opened all $allFiles postings files")
  }

  test("batched rankings: tokenized-served == inline, fast rank-matches") {
    val dir = "/root/testdata/sf0.001"
    val S = graft.queries.Search
    val tokRoot = S.pristineTokRoot(spark, dir)
    val queries = S.bm25BatchQueriesDf(spark)
    def key(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select($"query_id", $"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inline = key(S.bm25BatchOver(
      graft.core.Tables(spark, dir, "documents"), queries, S.Bm25BatchK))
    val served = key(S.bm25BatchFromTokenized(
      spark, tokRoot, queries, S.Bm25BatchK))
    assert(served == inline,
      "tokenized-served batch ranking diverged from the inline batch")
    val fast = key(S.bm25BatchFromTokenizedFast(
      spark, tokRoot, queries, S.Bm25BatchK))
    assert(fast == inline,
      "fast tokenized batch diverged in selection or order")
  }
}
