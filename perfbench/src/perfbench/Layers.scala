package perfbench

/** Per-layer figures derived from a traced phase. */
object Layers {
  /** Engine-wide figures of the operations `ops` (top-level spans),
    * scaled by `per` (1 / passes, or 1 / arrivals). */
  def putEngine(ctx: Ctx, ops: Seq[Span], per: Double): Unit = {
    val t = ctx.trace
    val js = ops.flatMap(t.jobsOf).distinct
    val plans = ops.flatMap(t.plansIn).distinct
    val st = t.stageTotals(js)
    ctx.put("queries.plan_s", Measure.median(ops.map(s =>
      t.plansIn(s).map(_.planMs).sum / 1e3)))
    ctx.put("queries.jobs", js.size * per)
    ctx.put("queries.scan_files", plans.map(_.scanFiles).sum * per)
    ctx.put("queries.scan_bytes", plans.map(_.scanBytes).sum * per)
    val wall = ops.map(_.wallS).sum
    ctx.put("queries.unattributed_share",
      if (wall <= 0) 0.0
      else ops.map(s => s.wallS * t.unattributedShare(s)).sum / wall)
    ctx.put("queries.tasks", st.tasks * per)
    ctx.put("queries.executor_run_s", st.runMs / 1e3 * per)
    ctx.put("queries.executor_cpu_s", st.cpuNs / 1e9 * per)
    ctx.put("queries.gc_s", st.gcMs / 1e3 * per)
    ctx.put("queries.shuffle_write_bytes", st.shuffleWrite * per)
    ctx.put("queries.shuffle_read_bytes", st.shuffleRead * per)
    ctx.put("queries.spill_bytes", st.spill * per)
    ctx.put("queries.fetch_wait_s", st.fetchWaitMs / 1e3 * per)
  }

  /** Per-call file system counts between two snapshots. */
  def putFsOps(ctx: Ctx, prefix: String, a: Map[String, Long],
      b: Map[String, Long], kinds: Seq[String], per: Double): Unit =
    kinds.foreach { k =>
      val key = s"${CountingFs.StatsName}.$k"
      ctx.put(s"$prefix.$k",
        (b.getOrElse(key, 0L) - a.getOrElse(key, 0L)) * per)
    }

  /** Job wall seconds of `spans`' jobs prepared with `file` on the
    * stack. */
  def jobSIn(ctx: Ctx, spans: Seq[Span], file: String): Double =
    ctx.trace.jobWallS(spans.flatMap(ctx.trace.jobsOf).distinct
      .filter(j => ctx.trace.filesOf(j).exists(_.endsWith(file))))

  /** Writes every span (with its self time, jobs and planning) as JSON
    * lines to the spans file, and names the file on stdout. */
  def writeSpans(ctx: Ctx): Unit = if (ctx.opts.spans.nonEmpty) {
    val t = ctx.trace
    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    val f = new java.io.File(ctx.opts.spans)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(_.wallS).sum
      val js = t.jobsOf(s)
      val files = js.groupBy(j => t.filesOf(j).headOption.getOrElse("")).map { case (k, v) =>
        "\"" + k + "\":" + t.jobWallS(v) }.mkString("{", ",", "}")
      w.println(s"""{"trace_id":"${ctx.opts.workload}-${ctx.opts.seed}","span_id":${s.id},"parent":${s.parent},"name":"${s.name}","module":"${s.module}","start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},"self_s":${s.wallS - kids},"jobs":${js.size},"job_s_by_file":$files,"plan_s":${t.plansIn(s).map(_.planMs).sum / 1e3},"unattributed_share":${t.unattributedShare(s)}}""")
    } finally w.close()
    ctx.detail += s"""{"spans_file":"${ctx.opts.spans}","spans":${spans.size}}"""
  }
}
