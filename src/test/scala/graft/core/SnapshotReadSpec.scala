package graft.core

import graft.SparkSpec
import graft.lake.SnapshotTable
import org.apache.spark.sql.functions._

/** Snapshot-aware table resolution: `spark.graft.snapshot.<table>`
  * pins a lane table to an immutable [[SnapshotTable]] version, so the SAME
  * query is byte-stable across later commits — "train on v12" as
  * config, closing the loop between the snapshot layer and the query
  * pack. */
class SnapshotReadSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def unpin(): Unit =
    spark.conf.unset("spark.graft.snapshot.documents")

  test("a pinned lane query is byte-stable across later commits") {
    val root = tmpDir("snap-read")
    val docs = Tables(spark, sfDir, "documents")
    val v1 = SnapshotTable.write(spark, root, docs, Seq("source"))
    assert(v1 == 1)
    try {
      spark.conf.set("spark.graft.snapshot.documents", s"$root@v1")
      // an unchanged PACK query now reads the snapshot
      val pinned = graft.queries.Text.t12_source_mix.run(spark, sfDir)
        .collect().toSeq
      val live = { unpin()
        val r = graft.queries.Text.t12_source_mix.run(spark, sfDir)
          .collect().toSeq
        spark.conf.set("spark.graft.snapshot.documents", s"$root@v1")
        r
      }
      assert(pinned == live, "v1 == the live table at commit time")
      // the corpus moves on: v2 halves the corpus — the pinned query
      // must NOT see it
      SnapshotTable.write(spark, root,
        docs.filter(col("doc_id") % 2 === 0), Seq("source"))
      assert(graft.queries.Text.t12_source_mix.run(spark, sfDir)
        .collect().toSeq == pinned,
        "a later commit changed a version-pinned query's result")
      // @latest tracks the newest version
      spark.conf.set("spark.graft.snapshot.documents", s"$root@latest")
      val latest = Tables(spark, sfDir, "documents").count()
      assert(latest == docs.count() / 2 + docs.count() % 2,
        s"@latest should read v2's halved corpus, got $latest")
    } finally unpin()
    // unpinned: the live table again
    assert(Tables(spark, sfDir, "documents").count() ==
      spark.read.parquet(s"$sfDir/documents.parquet").count())
  }

  test("@latest tracks a commit made AFTER the binding was first read") {
    // Round-9 advice item 1: @latest used to memoize under the binding
    // string, so the version resolved at FIRST lookup was served
    // forever — a later commit in the same session was invisible. The
    // binding now resolves the current latest version per lookup and
    // memoizes under the resolved number.
    val root = tmpDir("snap-latest")
    val docs = Tables(spark, sfDir, "documents")
    SnapshotTable.write(spark, root, docs, Seq("source"))
    try {
      spark.conf.set("spark.graft.snapshot.documents", s"$root@latest")
      val n1 = Tables(spark, sfDir, "documents").count()
      assert(n1 == docs.count())
      // commit v2 in the SAME session, after @latest was already used
      SnapshotTable.write(spark, root,
        docs.filter(col("doc_id") % 2 === 0), Seq("source"))
      val n2 = Tables(spark, sfDir, "documents").count()
      assert(n2 == docs.count() / 2 + docs.count() % 2,
        s"@latest served a stale pre-commit relation: $n2 (want halved)")
    } finally unpin()
  }

  test("vacuum spares session-bound versions; unbound ones are collected") {
    // The binding contract: a session pinned to <root>@v1 keeps v1
    // readable through a routine vacuum; an unbound old version is
    // collected by the keep horizon as usual.
    val root = tmpDir("snap-vac-bind")
    val docs = Tables(spark, sfDir, "documents").limit(50)
    SnapshotTable.write(spark, root, docs, Seq("source")) // v1
    SnapshotTable.write(spark, root, docs.limit(20), Seq("source")) // v2
    SnapshotTable.write(spark, root, docs.limit(10), Seq("source")) // v3
    try {
      spark.conf.set("spark.graft.snapshot.documents", s"$root@v1")
      assert(SnapshotTable.boundVersions(spark, root) == Set(1))
      val (dropped, _) = SnapshotTable.vacuum(spark, root, keepVersions = 1)
      assert(dropped == 1, s"only the unbound v2 should drop, got $dropped")
      assert(SnapshotTable.versions(spark, root) == Seq(1, 3))
      // the bound version still reads after the vacuum
      assert(Tables(spark, sfDir, "documents").count() == 50)
    } finally unpin()
    // unbound now: the next vacuum collects v1 too
    val (dropped2, _) = SnapshotTable.vacuum(spark, root, keepVersions = 1)
    assert(dropped2 == 1 && SnapshotTable.versions(spark, root) == Seq(3))
  }

  test("binding protection survives differently-spelled roots") {
    // ADVICE r10 item 1: the binding says `file:<root>/@v1` (scheme +
    // trailing slash) while vacuum is called with the bare path — the
    // protection must still engage, because both spellings name the
    // same directory. A raw string-prefix comparison would silently
    // skip the protection and collect the pinned version.
    val root = tmpDir("snap-vac-spell")
    val docs = Tables(spark, sfDir, "documents").limit(30)
    SnapshotTable.write(spark, root, docs, Seq("source"))          // v1
    SnapshotTable.write(spark, root, docs.limit(5), Seq("source")) // v2
    SnapshotTable.write(spark, root, docs.limit(3), Seq("source")) // v3
    try {
      spark.conf.set("spark.graft.snapshot.documents", s"file:$root/@v1")
      assert(SnapshotTable.boundVersions(spark, root) == Set(1),
        "scheme-qualified, slash-suffixed binding must resolve to this root")
      val (dropped, _) = SnapshotTable.vacuum(spark, root, keepVersions = 1)
      assert(dropped == 1 && SnapshotTable.versions(spark, root) == Seq(1, 3),
        "vacuum must spare the v1 pinned under the alternate spelling")
    } finally unpin()
  }

  test("a binding can pin a SnapshotTable root (the CDC-maintained zone)") {
    // A table the CDC path maintains through deletes (not only full
    // replaces) time-travels through the same binding — "train on
    // curated_table v1" as config — and its vacuum must spare the
    // session-bound version.
    val root = tmpDir("snap-table-bind")
    val docs = Tables(spark, sfDir, "documents")
    SnapshotTable.write(spark, root, docs, Seq("source")) // v1
    val n1 = docs.count()
    // v2 halves the corpus via a delete (an atomic re-curation)
    SnapshotTable.deleteWhere(spark, root,
      col("doc_id") % 2 === 1)
    try {
      spark.conf.set("spark.graft.snapshot.documents", s"$root@v1")
      assert(SnapshotTable.isTableRoot(spark, root))
      assert(Tables(spark, sfDir, "documents").count() == n1,
        "the v1-pinned binding must see the pre-delete table")
      spark.conf.set("spark.graft.snapshot.documents", s"$root@latest")
      assert(Tables(spark, sfDir, "documents").count() == n1 / 2 + n1 % 2,
        "@latest must see the post-delete version")
      // vacuum spares the session-bound v1 (commit v3 so v1 is old)
      spark.conf.set("spark.graft.snapshot.documents", s"$root@v1")
      SnapshotTable.deleteWhere(spark, root,
        col("doc_id") % 4 === 2) // v3
      val (dropped, _) = SnapshotTable.vacuum(spark, root, keepVersions = 1)
      assert(dropped == 1, s"only unbound v2 should drop: $dropped")
      assert(SnapshotTable.versions(spark, root) == Seq(1, 3))
      assert(Tables(spark, sfDir, "documents").count() == n1,
        "the bound version must still read after vacuum")
    } finally unpin()
  }

  test("a malformed binding fails loudly, not as a silent fallback") {
    try {
      spark.conf.set("spark.graft.snapshot.documents", "no-version-here")
      val e = intercept[IllegalArgumentException] {
        Tables(spark, sfDir, "documents")
      }
      assert(e.getMessage.contains("snapshot binding"))
    } finally unpin()
  }
}
