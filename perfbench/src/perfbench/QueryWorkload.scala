package perfbench

import scala.collection.mutable

import graft.queries._
import org.apache.spark.sql.SparkSession

/** The read workloads: a fixed set of `SparkEntry` queries over
  * generated tables, run as a closed loop with one client thread. Each
  * pass runs every query once in an order drawn from the seed; Spark's
  * cache is cleared before each query, and results are consumed through
  * the `noop` sink so the full projection runs. An untimed warm pass
  * first checks every result against the committed digests. */
object QueryWorkload {
  final case class Spec(
      rows: Seq[String],
      indexes: Seq[String])

  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Events" -> Events.all,
    "EventAnalytics2" -> EventAnalytics2.all, "Stats" -> Stats.all,
    "Advanced" -> Advanced.all, "Subqueries" -> Subqueries.all,
    "Text" -> Text.all, "Dedup" -> Dedup.all,
    "Similarity" -> Similarity.all, "Multimodal" -> Multimodal.all,
    "Corpus" -> Corpus.all, "Search" -> Search.all,
    "Security" -> Security.all)

  private lazy val byName: Map[String, (String, Q)] =
    modules.flatMap { case (m, qs) => qs.map(q => q.name -> (m, q)) }.toMap

  /** Rows that probe a persisted index. */
  val probeRows = Set("d15_lsh_probe", "s05_ann_index", "s09_pq_ann",
    "t32_bm25_probe", "t36_bm25_batch_probe")

  /** Rows that read through the lake layer (SQL over snapshot tables). */
  def lakeRow(name: String): Boolean = name.length > 3 &&
    name.startsWith("t") && name.substring(1, 3).forall(_.isDigit) &&
    name.substring(1, 3).toInt >= 40 && name.substring(1, 3).toInt <= 57

  val Mix = Spec(MixRows.rows, Seq("ann", "inverted", "pq"))

  val Hot = Spec(Seq("t14_tfidf_keywords", "t19_bigram_surprisal",
    "t31_bm25", "t32_bm25_probe", "t35_bm25_batch", "t36_bm25_batch_probe",
    "s09_pq_ann", "s12_embed_covariance"), Seq("inverted", "pq"))

  def buildIndex(spark: SparkSession, dir: String, kind: String): String =
    kind match {
      case "ann" =>
        val r = graft.operators.AnnIndex.defaultRoot(dir)
        graft.operators.AnnIndex.buildIfMissing(spark, dir, r); r
      case "inverted" =>
        val r = graft.operators.InvertedIndex.defaultRoot(dir)
        graft.operators.InvertedIndex.buildIfMissing(spark, dir, r); r
      case "pq" =>
        val r = graft.operators.PqIndex.defaultRoot(dir)
        graft.operators.PqIndex.buildIfMissing(spark, dir, r); r
    }

  def run(ctx: Ctx, spec: Spec): Unit = {
    val spark = ctx.spark
    val dir = ctx.opts.data
    val rng = new scala.util.Random(ctx.opts.seed)
    val rows = spec.rows.map(n => n -> byName.getOrElse(n,
      throw new IllegalArgumentException(s"no query $n")))

    val w0 = System.nanoTime
    graft.core.Tables.names.foreach(t =>
      graft.core.Tables(spark, dir, t).schema)
    ctx.put("core.table_warm_s", (System.nanoTime - w0) / 1e9)

    val indexRoots = spec.indexes.map { k =>
      val t = System.nanoTime
      val r = buildIndex(spark, dir, k)
      ctx.put(s"operators.index_build_s.$k", (System.nanoTime - t) / 1e9)
      r
    }

    // warm pass: every result checked against its committed digest
    val digests = Digest.readTsv(s"${ctx.opts.digests}/queries_${ctx.opts.tier}.tsv")
    val c0 = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime
    rng.shuffle(rows).foreach { case (name, (_, q)) =>
      spark.catalog.clearCache()
      val got = ctx.attempt(name)(Digest.result(q.run(spark, dir)))
      got.foreach { d =>
        val exp = digests.getOrElse(name, "")
        val expect = if (ctx.opts.faults("digest") && name == rows.head._1)
          "0" * 32 else exp
        ctx.check(d == expect, s"$name result digest $d, committed $expect")
      }
    }
    ctx.put("queries.codegen_compile_s",
      (org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime - c0) / 1e9)
    val floor = Measure.jobFloorS(spark)

    final case class Op(name: String, module: String, span: Span)

    /** Closed loop of whole passes until `seconds` have elapsed. */
    def timed(): (Seq[Op], Int, Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime
      var passes = 0
      while (passes == 0 || (System.nanoTime - t0) / 1e9 < ctx.opts.seconds) {
        rng.shuffle(rows).foreach { case (name, (module, q)) =>
          spark.catalog.clearCache()
          ctx.attempt(name) {
            ctx.trace.span(name, "queries") {
              q.run(spark, dir).write.format("noop").mode("overwrite").save()
            }
            ops += Op(name, module, ctx.trace.spans.last)
          }
        }
        passes += 1
      }
      (ops.toSeq, passes, (System.nanoTime - t0) / 1e9)
    }

    ctx.put("setup_s", ctx.sinceJvmStartS)
    val (ops, passes, wall) = timed()
    ctx.attempted += ops.size
    val lat = ops.map(_.span.wallS)
    ctx.put("op_p50_s", Measure.median(lat))
    ctx.put("ops_per_s", ops.size / wall)
    val dataBytes = Measure.diskBytes(dir).toDouble
    ctx.put("stored_bytes_per_user_byte",
      (dataBytes + indexRoots.map(Measure.diskBytes).sum) / dataBytes)
    ctx.detail += "{\"ops\":" + ops.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, os) =>
        "\"" + n + "\":" + Measure.median(os.map(_.span.wallS)) }
      .mkString("{", ",", "}") + s""","passes":$passes}"""

    if (ctx.opts.trace) {
      val untracedTput = ops.size / wall
      ctx.trace.install()
      ctx.trace.clearRecords()
      val fs0 = CountingFs.snapshot()
      val (tops, tpasses, twall) = timed()
      ctx.attempted += tops.size
      ctx.trace.drain()
      val fs1 = CountingFs.snapshot()
      ctx.put("trace.overhead_ratio", (tops.size / twall) / untracedTput)
      ctx.put("queries.job_floor_s", floor)
      val perPass = 1.0 / tpasses
      Layers.putEngine(ctx, tops.map(_.span), perPass)
      Layers.putFsOps(ctx, "queries.fs_ops", fs0, fs1,
        Seq("list", "status", "open"), perPass)
      modules.foreach { case (m, _) =>
        ctx.put(s"queries.module_s.$m",
          tops.filter(_.module == m).map(_.span.wallS).sum * perPass)
      }
      ctx.put("operators.index_probe_s",
        tops.filter(o => probeRows(o.name)).map(_.span.wallS).sum * perPass)
      ctx.put("lake.sql_read_s",
        tops.filter(o => lakeRow(o.name)).map(_.span.wallS).sum * perPass)
      val rowsOut = tops.map { o =>
        val s = o.span
        val js = ctx.trace.jobsOf(s)
        val plans = ctx.trace.plansIn(s)
        "{\"row\":\"" + o.name + "\",\"wall_s\":" + s.wallS +
          ",\"plan_s\":" + plans.map(_.planMs).sum / 1e3 +
          ",\"jobs\":" + js.size +
          ",\"job_s\":" + ctx.trace.jobWallS(js) +
          ",\"unattributed_share\":" + ctx.trace.unattributedShare(s) + "}"
      }
      ctx.detail += "{\"rows\":" + rowsOut.mkString("[", ",", "]") + "}"
      Layers.writeSpans(ctx)
    }
  }
}
