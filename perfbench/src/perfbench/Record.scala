package perfbench

/** Prints the digests the benchmark checks against, as the committed
  * TSV lines: `inputs <tier> <dir>` for the input tables, `queries
  * <tier> <dir>` for the query results of that tier's rows. A result
  * digest may only be committed after `tools/check.py` has found that
  * result equal to the DuckDB oracle on the same tables.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(what, tier, dir) = args
    val spark = Session.create(Session.cpus, trace = false)
    try what match {
      case "inputs" => graft.core.Tables.names.foreach(t =>
        println(s"$tier/$t\t${Digest.table(spark, dir, t)}"))
      case "queries" =>
        val specs = tier match {
          case "mix" => Seq(QueryWorkload.Mix)
          case "hot" => Seq(QueryWorkload.Hot)
          case _ => Seq(QueryWorkload.Mix, QueryWorkload.Hot)
        }
        val qs = graft.SparkEntry.queries
        specs.flatMap(_.indexes).distinct
          .foreach(k => QueryWorkload.buildIndex(spark, dir, k))
        specs.flatMap(_.rows).distinct.foreach { n =>
          spark.catalog.clearCache()
          println(s"$n\t${Digest.result(qs(n)(spark, dir))}")
        }
    } finally spark.stop()
  }
}
