package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenize-once retrieval (round-11 verdict item 4): a persisted,
  * incrementally maintained tokenization of a [[graft.lake.SnapshotTable]]
  * corpus — the postings-build intermediate `(doc_id, dl, tok, tf)`
  * PLUS the per-partition corpus stats and per-partition term df,
  * all encoded in ONE SnapshotTable partitioned BY THE BASE'S
  * PARTITION COLUMNS.
  *
  * Why: tokenization (`regexp_extract_all` + explode) is the named
  * constant factor of every inline text query — the round-11 bench
  * shows the inline BM25 shapes paying 3.4-4.1× DuckDB almost entirely
  * in re-tokenizing text that has not changed since the last query. At
  * 100 TB the corpus mutates a few partitions per CDC batch while
  * every retrieval/statistics query re-reads all of it; tokenizing
  * once per DOCUMENT VERSION instead of once per QUERY is the same
  * write-once-read-many argument as the inverted index, kept in a
  * shape (flat postings rows, base-aligned partitions) that ANY
  * downstream aggregation can consume, not just term probes.
  *
  * ONE TABLE, THREE ROW KINDS (round-17: closes both round-16 verdict
  * item 1 — the third-commit refresh cost — and round-16 advice
  * item 3 — the postings/df read skew — structurally):
  *  - posting row:  `(part…, doc_id,  dl,       tok,     tf)`
  *  - term-df row:  `(part…, NULL,    NULL,     tok,     df)`
  *  - stats row:    `(part…, NULL,    total_dl, #corpus, n_docs)`
  * The discriminator is `doc_id IS NULL`; the stats row's token is
  * [[StatsTok]], which cannot collide with a real term because the
  * tokenization alphabet ([[graft.queries.Text.toksExpr]]) is
  * `[a-z0-9]+` and `#` is outside it. All three kinds commit in ONE
  * [[graft.lake.SnapshotTable.overwritePartitions]] per refresh, so
  *  (a) maintenance pays ONE commit cycle (staging write + census +
  *      manifest), not three — the round-16 layout nearly doubled
  *      tok_refresh_1p by adding a third table, and
  *  (b) a concurrent reader can NEVER observe postings newer than
  *      their df/stats: the triple is atomic by construction. A term
  *      present in postings always has its df row in the same
  *      manifest version — the round-16 mid-refresh skew (df INNER
  *      join silently dropping a fresh term from BM25 ranks) is
  *      structurally impossible, not just unlikely.
  *
  * Partition alignment is what makes maintenance trivial AND bounded:
  * the table inherits the base's partition tuple, so the base's
  * manifest diff (changed tuples between the last-applied version and
  * latest — metadata-sized, no data comparison) names exactly the
  * derived partitions to re-derive. [[refresh]] re-tokenizes ONLY the
  * changed partitions' rows and swaps them in with one atomic
  * partition overwrite — cost O(changed data), never O(corpus).
  *
  * Serving shapes, by access pattern:
  *  - [[postings]] — the posting rows, for corpus-wide analytics
  *    and batched retrieval (hundreds of distinct terms): one scan.
  *  - [[postingsForTerms]] — few-term probes: rows are range-clustered
  *    on `tok` with per-file stats declared, so each term resolves
  *    through the manifest's file census and opens only the
  *    stat-matching files — the lakehouse skip-read doing inverted-
  *    index duty, no separate index structure. The df rows for those
  *    same terms live in the SAME clustered files, so [[dfForTerms]]
  *    opens no file this probe would not.
  *  - [[corpusStats]] — N and total_dl come from the per-partition
  *    stats rows, pruned to the one `#corpus`-covering file per
  *    partition: an O(|partitions|) read, never an O(docs) scan.
  *
  * Tokenization rule is [[graft.queries.Text.toksExpr]] — the SAME
  * expression the inline queries and the inverted index use, so a
  * ranking served from this table can never diverge on tokenization
  * (pinned in `TokenizedCorpusSpec` and oracle-gated via t46).
  *
  * Crash/replay: every refresh commit records the base version it
  * reflects in the postings manifest (`#source`), inside the same
  * commit as its rows, so a crash leaves the previous version and its
  * anchor intact and the next refresh re-derives from there.
  * Single-maintainer, like the MV layer.
  *
  * A root is current exactly when its postings manifest records a
  * source. Any other root (an older layout, or a table no refresh
  * wrote) is rebuilt in full on its next [[refresh]] and refuses reads
  * until then — loud, one-time. */
object TokenizedCorpus {
  import graft.lake.SnapshotTable

  /** Files per postings partition: >1 so the tok-range clustering
    * yields narrow per-file [min,max] windows for the skip-read. */
  private val PostingsFiles = 8

  /** Reserved token carried by the per-partition corpus-stats row.
    * `#` is outside the `[a-z0-9]+` token alphabet, so no document
    * term can collide with it — and it sorts below every real token
    * (UTF-8 0x23 < '0'), so stats rows cluster into the first file of
    * each partition and a stats read opens exactly one file per
    * partition tuple. */
  val StatsTok = "#corpus"

  def postingsRoot(tokRoot: String): String =
    new Path(tokRoot, "postings").toString

  /** Base version the tokenized table reflects — its postings
    * manifest's recorded source (None: never built by a refresh). */
  def appliedBaseVersion(
      spark: SparkSession, tokRoot: String): Option[Int] =
    SnapshotTable.sourceVersion(spark, postingsRoot(tokRoot))

  /** Roots confirmed current — a refresh only ever keeps a source
    * recorded, so a positive check is safe to memoize for the life of
    * the process (keeps the read paths at zero extra metadata I/O). */
  private val currentRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def requireCurrent(spark: SparkSession, tokRoot: String): Unit =
    require(currentRoots.contains(tokRoot) || {
      val ok = appliedBaseVersion(spark, tokRoot).isDefined
      if (ok) currentRoots.add(tokRoot)
      ok
    }, s"tokenized corpus under $tokRoot records no source base version " +
      "(an older layout, or not written by a refresh) — run " +
      "TokenizedCorpus.refresh to rebuild before reading")

  /** The ONE tokenization pass a refresh pays: documents whose
    * tokenization is empty contribute NOTHING (dl = 0 documents are
    * outside every BM25/statistics denominator, same rule as
    * [[graft.queries.Search.tokenized]]). Callers cache this and
    * derive the row kinds from it — tokenizing twice per refresh would
    * re-pay the exact constant this module exists to eliminate. */
  private def tokenizedFrame(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(graft.queries.Text.toksExpr))
      .withColumn("dl", size(col("toks")).cast("long"))
      .where(col("dl") > 0)

  /** `(partition cols…, doc_id, dl, tok, tf)` off a [[tokenizedFrame]]. */
  private def postingsFrame(
      tok: DataFrame, partitionBy: Seq[String]): DataFrame = {
    val part = partitionBy.map(col)
    tok.select(part :+ col("doc_id") :+ col("dl") :+
        explode(col("toks")).as("tok"): _*)
      .groupBy(part :+ col("doc_id") :+ col("dl") :+ col("tok"): _*)
      .agg(count(lit(1)).as("tf"))
  }

  /** All three row kinds for the partitions `pf` covers, in the
    * postings column universe — every branch derives from `pf`, the
    * ONE cached frame of a refresh (the commit evaluates its input
    * twice: range-cluster sampling, then the write; a single memory-
    * resident source keeps both passes cheap without stacking three
    * caches of the same data, which thrashed at sf10 shape):
    *  - df rows: a posting row is one (doc, term) pair, so the
    *    per-partition count IS the df contribution, and a doc lives in
    *    exactly one partition, so corpus df = the sum across partitions;
    *  - stats rows: every dl>0 doc has >= 1 posting row, so collapsing
    *    pf to its distinct (doc, dl) pairs recovers exactly the
    *    tokenized frame's per-partition (n_docs, total_dl). */
  private def allRows(
      pf: DataFrame, partitionBy: Seq[String]): DataFrame = {
    val part = partitionBy.map(col)
    val nullL = lit(null).cast("long")
    val postRows = pf.select(
      part :+ col("doc_id") :+ col("dl") :+ col("tok") :+ col("tf"): _*)
    val dfRows = pf
      .groupBy(part :+ col("tok"): _*)
      .agg(count(lit(1)).as("tf"))
      .select(part :+ nullL.as("doc_id") :+ nullL.as("dl") :+
        col("tok") :+ col("tf"): _*)
    val statsRows = pf
      .select(part :+ col("doc_id") :+ col("dl"): _*).distinct()
      .groupBy(part: _*)
      .agg(count(lit(1)).as("tf"), sum(col("dl")).as("dl"))
      .select(part :+ nullL.as("doc_id") :+ col("dl") :+
        lit(StatsTok).as("tok") :+ col("tf"): _*)
    postRows.unionByName(dfRows).unionByName(statsRows)
  }

  /** Bring the tokenized table up to the base's LATEST version.
    * First call builds it in full; later calls re-tokenize ONLY the
    * partitions whose base directories changed (manifest diff) and
    * overwrite those partitions in place — dropped base partitions
    * drop here too. ONE commit either way, recording the base version
    * it reflects; a base advance that changes no partition records it
    * in a metadata-only commit. Returns the applied base version.
    * No-op when already current. Each log folds once: the postings
    * state serves both the applied-source read and the merge base, and
    * base@latest serves the diff and the changed partitions' read. */
  def refresh(
      spark: SparkSession, baseRoot: String, tokRoot: String,
      partitionBy: Seq[String]): Int = {
    // hint + forward probe (SnapshotTable.latest), NOT a _versions
    // listing: per-batch CDC maintenance calls refresh every few
    // minutes, and this resolution plus the postings manifest's fold
    // is all the metadata it pays on the already-current path
    // (round-12 advice item 2 — the old versions().last here re-paid
    // the O(retained-versions) LIST the hint pointer exists to
    // eliminate, up to three times per call)
    val latestB = SnapshotTable.latest(spark, baseRoot).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot-table version committed under $baseRoot"))
    val posted = SnapshotTable.latestState(spark, postingsRoot(tokRoot))
    posted.flatMap(_._2.source) match {
      case Some(v) if v == latestB =>
        latestB // already current
      case Some(v) if SnapshotTable.hasVersion(spark, baseRoot, v) =>
        val newM = SnapshotTable.manifestAt(spark, baseRoot, latestB)
        // dv-aware diff (round 18): a deletion-vector commit changes
        // rows without changing a directory — an entries-only compare
        // would skip the refresh and serve stale postings
        val changed = SnapshotTable.changedKeysOf(
          SnapshotTable.manifestAt(spark, baseRoot, v), newM)
        if (changed.nonEmpty) {
          // every changed tuple gone from base: an empty frame, no read
          val changedDocs =
            SnapshotTable.selectDirs(spark, baseRoot, newM, changed)
          // the ONE cache of a refresh: every allRows branch and both
          // commit passes re-read this instead of re-tokenizing
          val pf = postingsFrame(tokenizedFrame(changedDocs), partitionBy)
            .cache()
          // dropKeys = every changed tuple: present ones are also in
          // the recomputed rows (so they rewrite), vanished or
          // all-empty-tokenization ones tombstone.
          // The union of the three row kinds is cached TOO (round 20,
          // guide §1.2): the commit executes its input twice — the
          // tok-range clustering's sampling pass, then the write — and
          // each execution of the UNCACHED union re-ran its two
          // aggregates and three pf scans (OPTIMIZATION_r20.md item 6:
          // staging_write 1.3 s of the 2.7 s commit). The sampling
          // pass now doubles as the cache fill and the write reads
          // memory. Bounded: changed-partitions-sized, same class as pf
          // itself.
          val rows = allRows(pf, partitionBy).cache()
          try
            // knownTouched: the frame holds exactly the changed
            // partitions' rows by construction (manifest diff), so the
            // commit need not re-discover its keys with a distinct scan
            SnapshotTable.overwritePartitions(spark, postingsRoot(tokRoot),
              rows, partitionBy,
              dropKeys = changed, filesPerPartition = PostingsFiles,
              knownTouched = Some(changed), source = Some(latestB),
              base = posted)
          finally { rows.unpersist(false); pf.unpersist(false) }
        }
        // the base advanced but no partition changed: re-anchor in a
        // metadata-only commit
        else SnapshotTable.commitSource(spark, postingsRoot(tokRoot), latestB)
        latestB
      case _ =>
        // never built, no recorded source, or the applied version was
        // vacuumed away: full rebuild against base@latest, replacing
        // whatever the root held
        val pf = postingsFrame(tokenizedFrame(
          SnapshotTable.read(spark, baseRoot, latestB)), partitionBy)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // same union cache as the incremental branch: the sampling
        // pass fills it, the write reads memory (disk-spillable here —
        // the full build's union is corpus-sized)
        val rows = allRows(pf, partitionBy)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try
          SnapshotTable.writeDerived(spark, postingsRoot(tokRoot), rows,
            partitionBy, latestB, filesPerPartition = PostingsFiles,
            statsFor = Seq("tok"), clusterBy = Seq("tok"))
        finally { rows.unpersist(false); pf.unpersist(false) }
        currentRoots.add(tokRoot)
        latestB
    }
  }

  /** The postings rows `(…, doc_id, dl, tok, tf)` at the latest
    * version — the one-scan shape for corpus-wide work. */
  def postings(spark: SparkSession, tokRoot: String): DataFrame = {
    requireCurrent(spark, tokRoot)
    SnapshotTable.read(spark, postingsRoot(tokRoot))
      .where(col("doc_id").isNotNull)
  }

  /** Postings rows for a FEW terms, served through the manifest's
    * per-file tok stats in ONE read: the keep-set is the union of each
    * term's stat-matching files, so the plan pays one file index and
    * one scan — the probe shape. */
  def postingsForTerms(
      spark: SparkSession, tokRoot: String,
      terms: Seq[String]): DataFrame = {
    requireCurrent(spark, tokRoot)
    SnapshotTable.readIn(
      spark, postingsRoot(tokRoot), "tok", terms.distinct)
      .where(col("doc_id").isNotNull)
  }

  /** Corpus totals `(n_docs, total_dl)` from the per-partition stats
    * rows — O(|partitions|) rows, pruned to the one [[StatsTok]]-
    * covering file per partition, never a document scan. */
  def corpusStats(spark: SparkSession, tokRoot: String): DataFrame = {
    requireCurrent(spark, tokRoot)
    SnapshotTable.readIn(spark, postingsRoot(tokRoot), "tok", Seq(StatsTok))
      .agg(sum(col("tf")).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("total_dl"))
  }

  /** Corpus document frequency `(tok, df)` for a FEW terms: the df
    * rows live in the SAME tok-clustered files as the terms' postings,
    * so this opens no file [[postingsForTerms]] would not — and
    * because all row kinds commit atomically, the df a query joins can
    * never lag the postings it scores (round-16 advice item 3). */
  def dfForTerms(
      spark: SparkSession, tokRoot: String, terms: Seq[String]): DataFrame = {
    requireCurrent(spark, tokRoot)
    SnapshotTable.readIn(spark, postingsRoot(tokRoot), "tok", terms.distinct)
      .where(col("doc_id").isNull)
      .groupBy(col("tok")).agg(sum(col("tf")).as("df"))
  }

  /** Retention: refresh reads only the latest version, so history
    * serves time travel alone. The BASE corpus vacuum is the caller's
    * (protect [[appliedBaseVersion]] there). */
  def vacuum(
      spark: SparkSession, tokRoot: String,
      keepVersions: Int): (Int, Int) =
    SnapshotTable.vacuum(spark, postingsRoot(tokRoot), keepVersions)
}
