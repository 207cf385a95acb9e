package perfbench

import scala.collection.mutable

import graft.ingest.{Crawler, IngestConfig, MockFetcher, Planner, RawWriter}
import graft.lake.{Lane, MaterializedAgg, SnapshotTable}
import graft.lake.MaterializedAgg.MvSpec
import graft.operators.TokenizedCorpus
import graft.queries.QueryRunner
import graft.security.Rbac
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The write workload: a closed loop of seeded arrivals. Each arrival is
  * (a) one ingestion tick for a new date — plan, write 40 gzip pages
  * through `MockFetcher`, crawl, then one governed query as the `core`
  * role and one as the `pii` role — and (b) one CDC change file of
  * upserts and tombstones, landed in an intake directory and drained
  * with `Trigger.AvailableNow` by `CdcStream.maintainChangesAtomic`,
  * whose maintenance refreshes a per-source materialized aggregate and a
  * tokenized corpus, publishes a lane version, and optimizes and vacuums
  * on cadence. The arrival is then read back through `Lane.at`.
  *
  * Every arrival is checked against an in-memory model of the base
  * table and against the reference's RBAC counts. */
object LakeLane {
  val sources: Seq[String] = (0 until 4).map(i => s"src$i")
  val baseDocs = 2000
  val upsertsPerFile = 40
  val tombstonesPerFile = 8
  /** Every k-th change file touches every source partition. */
  val allSourcesEvery = 4
  /** Both cadences fire on every second batch: the bootstrap arrival is
    * plain, the first timed one optimizes and vacuums, and a traced phase
    * times one of each. */
  val optimizeEvery = 2
  val vacuumEvery = 2
  val keepVersions = 2
  val pagesPerTick = 40

  private val words = GenData.vocab

  private val changeSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("val", LongType),
    StructField("text", StringType), StructField("source", StringType),
    StructField("op", StringType), StructField("seq", LongType)))

  private val mvSpec = MvSpec(groupBy = Seq("source"),
    sums = Seq("total_val" -> "val"), countName = "n_rows")

  final case class Doc(v: Long, text: String, source: String)

  final case class Arrival(
      i: Int, writeS: Double, crawlS: Double,
      coreS: Double, piiS: Double, ingestVisibleS: Double,
      drainS: Double, pinnedReadS: Double, visibleS: Double, wallS: Double,
      maintenance: Boolean, userBytes: Long, drainSpan: Span, tickSpan: Span,
      fs: Map[String, Long], crawlFs: Map[String, Long], bytesWritten: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val work = s"${Session.workDir}/lake"
    val rawRoot = s"$work/raw"
    val quarantine = s"$work/quarantine"
    val outRoot = s"$work/results"
    val baseRoot = s"$work/base"
    val mvRoot = s"$work/mv"
    val tokRoot = s"$work/tok"
    val laneRoot = s"$work/lane"
    val intake = s"$work/intake"
    val rng = new scala.util.Random(ctx.opts.seed)
    val cfg = IngestConfig()
    val fetcher = MockFetcher()
    val model = mutable.LinkedHashMap.empty[Long, Doc]
    var nextId = 0L

    def text(): String =
      Seq.fill(4 + rng.nextInt(12))(words(rng.nextInt(words.size))).mkString(" ")

    // base: seeded documents over the source partitions
    val w0 = System.nanoTime
    (0 until baseDocs).foreach { _ =>
      model(nextId) = Doc(rng.nextInt(1000).toLong, text(),
        sources(rng.nextInt(sources.size)))
      nextId += 1
    }
    SnapshotTable.write(spark, baseRoot,
      model.toSeq.map { case (k, d) => (k, d.v, d.text, d.source) }
        .toDF("doc_id", "val", "text", "source"), Seq("source"))
    ctx.put("core.table_warm_s", (System.nanoTime - w0) / 1e9)
    val i0 = System.nanoTime
    MaterializedAgg.init(spark, baseRoot, mvRoot, mvSpec, nBuckets = 4)
    TokenizedCorpus.refresh(spark, baseRoot, tokRoot, Seq("source"))
    ctx.put("operators.index_build_s.inverted", (System.nanoTime - i0) / 1e9)
    val maintenance = CdcStream.TableMaintenance(
      views = Seq(CdcStream.MvBinding(mvRoot, mvSpec, nBuckets = 4)),
      tokenizedRoots = Seq(tokRoot),
      optimizeEveryBatches = optimizeEvery,
      vacuumEveryBatches = vacuumEvery,
      vacuumKeepVersions = keepVersions,
      laneRoot = Some(laneRoot))
    var batchId = 0L

    /** One change file: upserts and tombstones over one source, or over
      * all of them every k-th file. */
    def changeFile(i: Int): (Seq[Row], Long, Long) = {
      val srcs = if (i % allSourcesEvery == 0) sources.toSet
        else Set(sources(rng.nextInt(sources.size)))
      val live = model.toSeq.filter(kv => srcs(kv._2.source)).map(_._1)
      val dels = rng.shuffle(live).take(tombstonesPerFile)
      val delSet = dels.toSet
      val updates = rng.shuffle(live.filterNot(delSet))
        .take(upsertsPerFile / 2)
      val srcSeq = srcs.toSeq.sorted
      val fresh = (0 until upsertsPerFile - updates.size).map { _ =>
        val k = nextId; nextId += 1; k }
      var seq = i.toLong * 1000
      def nextSeq() = { seq += 1; seq }
      val ups = (updates.map(k => (k, model(k).source)) ++
        fresh.map(k => (k, srcSeq(rng.nextInt(srcSeq.size))))).map {
        case (k, s) => Row(k, rng.nextInt(1000).toLong, text(), s, "u",
          nextSeq())
      }
      val tombs = dels.map(k => Row(k, 0L, "", model(k).source, "d",
        nextSeq()))
      val probe = ups.last.getLong(0)
      (ups ++ tombs, probe, dels.headOption.getOrElse(-1L))
    }

    def applyModel(rs: Seq[Row]): Unit = rs.foreach { r =>
      if (r.getString(4) == "d") model.remove(r.getLong(0))
      else model(r.getLong(0)) = Doc(r.getLong(1), r.getString(2),
        r.getString(3))
    }

    def fsNow(): Map[String, Long] =
      if (ctx.opts.trace) CountingFs.snapshot() else Map.empty

    def bytesWritten(m: Map[String, Long]): Long =
      m.getOrElse("file.bytesWritten", 0L)

    /** One arrival: the timed operation. Checks run after it, untimed. */
    def arrival(i: Int): Option[Arrival] = ctx.attempt(s"arrival $i") {
      val tr = ctx.trace
      val date = java.time.LocalDate.of(2026, 1, 1).plusDays(i).toString
      val a0 = System.nanoTime
      var writeS, crawlS, coreS, piiS = 0.0
      var crawlFs = Map.empty[String, Long]
      val tickSpan = {
        tr.span("ingest.tick", "ingest") {
          val work = tr.span("Planner.plan", "ingest") {
            Planner.plan(spark, cfg, date) }
          val t1 = System.nanoTime
          val st = tr.span("RawWriter.write", "ingest") {
            RawWriter.write(spark, work, fetcher, rawRoot, quarantine) }
          writeS = (System.nanoTime - t1) / 1e9
          ctx.check(st.ingested == pagesPerTick && st.failed == 0,
            s"tick $date ingested ${st.ingested} pages, failed ${st.failed}")
          val c0 = fsNow(); val t2 = System.nanoTime
          tr.span("Crawler.crawl", "ingest") {
            Crawler.crawl(spark, rawRoot, "raw")
            if (i == 0) Rbac.createRoleViews(spark, "raw")
          }
          crawlS = (System.nanoTime - t2) / 1e9
          val c1 = fsNow()
          crawlFs = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) }
          val sql = s"SELECT * FROM raw WHERE ingestion_date = '$date'"
          val t3 = System.nanoTime
          tr.span("QueryRunner.run core", "security") {
            QueryRunner.run(spark, Rbac.core, "raw", s"d$i", sql, outRoot) }
          val t4 = System.nanoTime
          tr.span("QueryRunner.run pii", "security") {
            QueryRunner.run(spark, Rbac.pii, "raw", s"d$i", sql, outRoot) }
          coreS = (t4 - t3) / 1e9
          piiS = (System.nanoTime - t4) / 1e9
        }
        tr.spans.last
      }
      val ingestVisibleS = tickSpan.wallS

      // (b) land one change file, drain it, read the arrival back
      val (rows, probe, tomb) = changeFile(i)
      val land = f"$intake/f$i%06d"
      val staged = f"$intake/_staging_f$i%06d"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        changeSchema).write.parquet(staged)
      val userBytes = Measure.diskBytes(staged)
      new java.io.File(staged).renameTo(new java.io.File(land))
      val landed = System.nanoTime
      val f0 = fsNow()
      val thisBatch = batchId
      val drainSpan = {
        tr.span("CdcStream.drain", "streaming") {
          val q = CdcStream.maintainChangesAtomic(
            spark.readStream.schema(changeSchema).parquet(s"$intake/f*"),
            baseRoot, "doc_id", Seq("source"), opCol = "op",
            versionCol = Some("seq"), maintenance = maintenance)
          try q.awaitTermination() finally q.stop()
        }
        tr.spans.last
      }
      batchId += 1
      val drainS = (System.nanoTime - landed) / 1e9
      val r0 = System.nanoTime
      val (pinRoot, pinV, hit) = tr.span("Lane.at", "lake") {
        val (root, v) = Lane.member(spark, laneRoot, "base")
        val hit = SnapshotTable.read(spark, root, v)
          .where(col("doc_id") === probe).select("val").collect()
        (root, v, hit)
      }
      val visibleS = (System.nanoTime - landed) / 1e9
      val pinnedReadS = (System.nanoTime - r0) / 1e9
      val f1 = fsNow()
      val wallS = (System.nanoTime - a0) / 1e9

      // checks (untimed)
      applyModel(rows)
      val probeVal = rows.find(_.getLong(0) == probe).get.getLong(1)
      ctx.check(hit.length == 1 && hit(0).getLong(0) == probeVal,
        s"arrival $i: key $probe not visible at lane base v$pinV")
      val perSource = SnapshotTable.read(spark, pinRoot, pinV)
        .groupBy("source")
        .agg(sum("val").cast("long"), count(lit(1)),
          max((col("doc_id") === tomb).cast("int")))
        .collect()
      val recompute = perSource
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val fromModel = model.values.groupBy(_.source).map { case (s, ds) =>
        (s, ds.map(_.v).sum, ds.size.toLong) }.toSet
      ctx.check(recompute == fromModel,
        s"arrival $i: base v$pinV per source $recompute, model $fromModel")
      ctx.check(perSource.forall(_.getInt(3) == 0),
        s"arrival $i: tombstoned key $tomb still visible")
      val (mvR, mvV) = Lane.member(spark, laneRoot, s"mv:$mvRoot")
      val mvRows = MaterializedAgg.read(spark, mvR, mvV)
        .select("source", "total_val", "n_rows").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      ctx.check(mvRows == recompute,
        s"arrival $i: MV rows $mvRows, base recompute $recompute")
      val wantCore = if (ctx.opts.faults("rbac")) 11 else 10
      val core = spark.read.parquet(s"$outRoot/core/d$i")
      val coreRows = core.collect()
      ctx.check(coreRows.length == wantCore &&
        !core.columns.contains("items") &&
        coreRows.forall(_.getAs[String]("endpoint") == "api-a"),
        s"arrival $i: core role saw ${coreRows.length} rows " +
          s"(${core.columns.mkString(",")}), want $wantCore api-a rows without items")
      val pii = spark.read.parquet(s"$outRoot/pii/d$i")
      val piiRows = pii.collect().length
      ctx.check(piiRows == 40 && pii.columns.contains("items"),
        s"arrival $i: pii role saw $piiRows rows, want 40 with items")

      val maint = thisBatch % optimizeEvery == optimizeEvery - 1 ||
        thisBatch % vacuumEvery == vacuumEvery - 1
      Arrival(i, writeS, crawlS, coreS, piiS,
        ingestVisibleS, drainS, pinnedReadS, visibleS, wallS, maint,
        userBytes, drainSpan, tickSpan,
        f1.map { case (k, v) => k -> (v - f0.getOrElse(k, 0L)) }, crawlFs,
        bytesWritten(f1) - bytesWritten(f0))
    }

    // bootstrap arrival: part of set-up
    arrival(0)
    var next = 1

    def timed(atLeast: Int): (Seq[Arrival], Double) = {
      val out = mutable.ArrayBuffer.empty[Arrival]
      var wall = 0.0
      while (if (ctx.opts.arrivals > 0) out.size < ctx.opts.arrivals
          else out.size < atLeast || wall < ctx.opts.seconds) {
        arrival(next).foreach { a => out += a; wall += a.wallS }
        next += 1
      }
      (out.toSeq, wall)
    }

    ctx.put("setup_s", ctx.sinceJvmStartS)
    val (arr, wall) = timed(1)
    ctx.put("op_p50_s", Measure.median(arr.map(_.visibleS)))
    ctx.put("ops_per_s", arr.size / wall)
    ctx.detail += "{\"arrivals\":" + arr.map(a =>
      s"""{"i":${a.i},"visible_s":${a.visibleS},"ingest_visible_s":${a.ingestVisibleS},"wall_s":${a.wallS},"maintenance":${a.maintenance}}""")
      .mkString("[", ",", "]") + "}"

    def putLake(arr: Seq[Arrival]): Unit = {
      ctx.put("ingest.visible_p50_s", Measure.median(arr.map(_.ingestVisibleS)))
    }
    putLake(arr)

    def storedRatio(): Double = {
      val stored = Seq(baseRoot, mvRoot, tokRoot, laneRoot)
        .map(Measure.diskBytes).sum.toDouble
      val fresh = s"$work/fresh_base"
      SnapshotTable.read(spark, baseRoot).write.partitionBy("source")
        .parquet(fresh)
      stored / Measure.diskBytes(fresh)
    }
    ctx.put("stored_bytes_per_user_byte", storedRatio())

    if (ctx.opts.trace) {
      val untracedTput = arr.size / wall
      ctx.trace.install()
      ctx.trace.clearRecords()
      ctx.put("queries.job_floor_s", Measure.jobFloorS(spark))
      val (tarr, twall) = timed(2)
      ctx.trace.drain()
      ctx.put("trace.overhead_ratio", (tarr.size / twall) / untracedTput)
      putLake(tarr)
      val per = 1.0 / tarr.size
      val tr = ctx.trace
      val all = tarr.flatMap(a => Seq(a.tickSpan, a.drainSpan))
      Layers.putEngine(ctx, all, per)
      val drains = tarr.map(_.drainSpan)
      ctx.put("lake.commit_job_s", Layers.jobSIn(ctx, drains, "SnapshotTable.scala") * per)
      ctx.put("lake.mv_refresh_job_s", Layers.jobSIn(ctx, drains, "MaterializedAgg.scala") * per)
      ctx.put("operators.tok_refresh_job_s", Layers.jobSIn(ctx, drains, "TokenizedCorpus.scala") * per)
      ctx.put("lake.drain_jobs", drains.flatMap(tr.jobsOf).distinct.size * per)
      CountingFs.kinds.foreach { k =>
        val key = s"${CountingFs.StatsName}.$k"
        ctx.put(s"lake.fs_ops_per_arrival.$k",
          tarr.map(_.fs.getOrElse(key, 0L)).sum * per)
      }
      ctx.put("lake.write_amp",
        tarr.map(_.bytesWritten).sum.toDouble / tarr.map(_.userBytes).sum)
      ctx.put("lake.manifest_files", Seq(baseRoot, mvRoot,
        TokenizedCorpus.postingsRoot(tokRoot), laneRoot).map { r =>
          Option(new java.io.File(r, "_versions").listFiles)
            .map(_.length).getOrElse(0) }.sum.toDouble)
      ctx.put("lake.pinned_read_s", Measure.median(tarr.map(_.pinnedReadS)))
      val (withM, without) = tarr.partition(_.maintenance)
      ctx.put("lake.maintenance_stall_s",
        if (withM.isEmpty || without.isEmpty) 0.0
        else Measure.median(withM.map(_.wallS)) - Measure.median(without.map(_.wallS)))
      ctx.put("streaming.drain_s", Measure.median(tarr.map(_.drainS)))
      ctx.put("streaming.drain_unattributed_s", Measure.median(drains.map(s =>
        s.wallS * tr.unattributedShare(s))))
      ctx.put("ingest.write_s", Measure.median(tarr.map(_.writeS)))
      ctx.put("ingest.crawl_s", Measure.median(tarr.map(_.crawlS)))
      ctx.put("ingest.crawl_fs_ops", Measure.median(tarr.map(a =>
        CountingFs.kinds.map(k => a.crawlFs.getOrElse(
          s"${CountingFs.StatsName}.$k", 0L)).sum.toDouble)))
      ctx.put("ingest.pages_per_tick", pagesPerTick.toDouble)
      ctx.put("security.governed_query_s.core", Measure.median(tarr.map(_.coreS)))
      ctx.put("security.governed_query_s.pii", Measure.median(tarr.map(_.piiS)))
      ctx.detail += "{\"arrivals_traced\":" + tarr.map(a =>
        s"""{"i":${a.i},"wall_s":${a.wallS},"drain_s":${a.drainS},"drain_unattributed_share":${tr.unattributedShare(a.drainSpan)},"tick_unattributed_share":${tr.unattributedShare(a.tickSpan)}}""")
        .mkString("[", ",", "]") + "}"
      Layers.writeSpans(ctx)
    }
  }
}
