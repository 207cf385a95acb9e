package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-file `#f` stats for string and integer columns come from the
  * fresh files' parquet footers (the same reads that record `#n` row
  * counts), not from a second pass over the data: they must equal what
  * that pass computed, mark all-NULL files, and never let a file whose
  * footer dropped its min/max be skipped. */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with parquet row groups capped at ~1 KB, so every file
    * of a few hundred rows holds several row groups. */
  private def smallRowGroups[T](body: => T): T = {
    spark.conf.set("parquet.block.size", "1024")
    try body finally spark.conf.unset("parquet.block.size")
  }

  private def rowGroups(root: String, rel: String): Int = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(root, rel), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getBlocks.size finally r.close()
  }

  /** The per-file min/max a data pass over each file computes. */
  private def aggregateStats(
      root: String, files: Seq[String],
      cols: Seq[String]): Set[(String, String, Option[String], Option[String])] =
    files.flatMap { rel =>
      val aggs = cols.flatMap(c =>
        Seq(min(col(c)).cast("string"), max(col(c)).cast("string")))
      val r = spark.read.parquet(new Path(root, rel).toString)
        .agg(aggs.head, aggs.tail: _*).collect()(0)
      cols.indices.map(i => (rel, cols(i),
        Option(r.getString(2 * i)), Option(r.getString(2 * i + 1))))
    }.toSet

  private def recorded(root: String) =
    SnapshotTable.manifestAt(spark, root, -1).fileStats
      .map(s => (s.relPath, s.column, s.min, s.max)).toSet

  test("footer-derived stats equal the aggregate's across row groups") {
    val root = tmpDir("fstats")
    val strs = Seq("é", "z", "alpha", "Zeta", "😀")
    val df = (0 until 1200).map { i =>
      (if (i % 2 == 0) "x" else "y",
        (i - 600).toLong * 1000000007L,
        (i * 7919) % 2001 - 1000,
        if (i % 5 == 0) null else s"${strs(i % 5)}$i",
        if (i % 2 == 0) null else s"v$i",
        i * 0.5)
    }.toDF("p", "id", "n", "s", "z", "d")
    smallRowGroups(SnapshotTable.write(spark, root, df, Seq("p"),
      filesPerPartition = 2, statsFor = Seq("id", "n", "s", "z", "d")))
    val files = SnapshotTable.manifestAt(spark, root, -1).fileSizes.map(_._1)
    assert(files.size >= 2)
    files.foreach(f => assert(rowGroups(root, f) > 1, s"$f: one row group"))
    val want = aggregateStats(root, files, Seq("id", "n", "s", "z", "d"))
    assert(recorded(root) == want)
    // partition x holds no z values: each of its files is all-NULL on z
    val xFiles = SnapshotTable.manifestAt(spark, root, -1).entries
      .collect { case ("x", dir) => dir }
    val zNull = recorded(root).collect {
      case (rel, "z", None, None) => rel
    }
    assert(zNull.nonEmpty &&
      zNull.forall(rel => xFiles.exists(d => rel.startsWith(d + "/"))))
    // and the stats prune: a bound on z opens only partition y's files
    assert(SnapshotTable.readBetween(spark, root, "z", "v1", "v3")
      .inputFiles.forall(_.contains(
        SnapshotTable.manifestAt(spark, root, -1).entries
          .collectFirst { case ("y", d) => d }.get)))
  }

  test("a file whose footer dropped min/max (> 4 KB) gets no line and is read") {
    val root = tmpDir("fstats-big")
    val huge = "m" * 5000
    SnapshotTable.write(spark, root,
      Seq(("big", huge), ("big", "a"), ("small", "b"), ("small", "c"))
        .toDF("p", "s"),
      Seq("p"), statsFor = Seq("s"))
    val m = SnapshotTable.manifestAt(spark, root, -1)
    val bigDir = m.entries.collectFirst { case ("big", d) => d }.get
    val bigFiles = m.fileSizes.map(_._1).filter(_.startsWith(bigDir + "/"))
    assert(bigFiles.nonEmpty)
    assert(!m.fileStats.exists(s => bigFiles.contains(s.relPath)),
      "min/max absent from the footer must not record a line")
    assert(m.fileStats.exists(s => !bigFiles.contains(s.relPath)))
    assert(SnapshotTable.readBetween(spark, root, "s", "l", "n")
      .select("s").as[String].collect().toSeq == Seq(huge))
    assert(SnapshotTable.readIn(spark, root, "s", Seq(huge, "c"))
      .select("s").as[String].collect().toSet == Set(huge, "c"))
  }

  test("footer-served stat columns add no Spark job to a commit") {
    val df: DataFrame = (0 until 200)
      .map(i => (s"p${i % 2}", i.toLong, s"s$i", i * 0.5))
      .toDF("p", "id", "s", "d")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    def jobsOf(group: String)(body: => Unit): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }
    try {
      jobsOf("fstats-none")(SnapshotTable.write(spark, tmpDir("fj"), df,
        Seq("p")))
      jobsOf("fstats-footer")(SnapshotTable.write(spark, tmpDir("fj"), df,
        Seq("p"), statsFor = Seq("id", "s")))
      jobsOf("fstats-double")(SnapshotTable.write(spark, tmpDir("fj"), df,
        Seq("p"), statsFor = Seq("id", "s", "d")))
      // listener events arrive in submission order: once the sentinel's
      // start is seen, every commit job before it has been counted
      jobsOf("fstats-sentinel")(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains("fstats-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.contains("fstats-sentinel"))
    } finally spark.sparkContext.removeSparkListener(listener)
    def count(g: String) = jobs.toArray.count(_ == g)
    assert(count("fstats-footer") == count("fstats-none"))
    // a double stat column still takes the aggregate pass — its two
    // jobs (shuffle-map and result stage) and nothing else: the fresh
    // files are read through the census just taken, so building the
    // reader schedules no schema-merge job
    assert(count("fstats-double") == count("fstats-none") + 2,
      s"${count("fstats-double")} jobs vs ${count("fstats-none")}")
  }
}
