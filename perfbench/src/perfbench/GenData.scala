package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic input tables for the query workloads.
  *
  * The same shapes as `graft.tools.GenScale` (schemas, value domains,
  * source/lang/flag mixes, join-key fan-outs, the 31-word document
  * vocabulary and the every-50th near-duplicate) and the same one-file-
  * per-table layout as the test tables of TESTDATA.md, with a fractional
  * `factor` relative to sf0.1 (factor 0.1 is sf0.01-shaped, 1.0 is
  * sf0.1-shaped) and the two fixed dimension tables written from
  * literals, so generation needs nothing but this code. Values come from
  * xxhash64 streams: the output depends only on `factor`.
  *
  * Usage: GenData <outDir> <factor> <tier> <digestsDir>
  */
object GenData {
  private def h(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private def rows(base: Long, factor: Double): Long =
    math.max(1L, math.round(base * factor))


  val vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  def generate(spark: SparkSession, out: String, factor: Double): Unit = {
    new java.io.File(out).mkdirs()
    // one parquet file per table, `<out>/<name>.parquet`, rows in id
    // order: the layout of the test tables of TESTDATA.md
    def write(df: DataFrame, name: String): Unit = {
      val tmp = new java.io.File(out, s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles.filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected one part file")
      require(part(0).renameTo(new java.io.File(out, s"$name.parquet")))
      tmp.listFiles.foreach(_.delete()); tmp.delete()
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.createDataFrame(
      spark.sparkContext.parallelize(regions.zipWithIndex.map {
        case (n, i) => org.apache.spark.sql.Row(i, n) }, 1),
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))), "region")
    write(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 25).map(i =>
        org.apache.spark.sql.Row(i, s"NATION_$i", i % 5)), 1),
      StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))), "nation")

    val vocabArr = array(vocab.map(lit): _*)
    val docs = spark.range(rows(5000, factor))
      .withColumn("base_id",
        when(col("id") % 50 === 49, col("id") - 1).otherwise(col("id")))
      .withColumn("vocab", vocabArr)
      .withColumn("n_words", (lit(8) + h(col("base_id"), 1, 103)).cast("int"))
      .withColumn("words", expr(
        "transform(sequence(1, n_words), " +
          "i -> element_at(vocab, " +
          "CAST(pmod(xxhash64(base_id, CAST(i AS BIGINT), 11), 31) + 1 AS INT)))"))
      .select(col("id").as("doc_id"),
        when(col("id") % 50 === 49,
          concat_ws(" ", concat(col("words"), array(lit("merge")))))
          .otherwise(concat_ws(" ", col("words"))).as("text"),
        element_at(array(lit("en"), lit("en"), lit("zh"), lit("es"),
          lit("fr"), lit("de"), lit("en")),
          (h(col("id"), 2, 7) + 1).cast("int")).as("lang"),
        concat(lit("src"), h(col("id"), 3, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents")

    val emb = spark.range(rows(2000, factor))
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), " +
          "i -> CAST((pmod(xxhash64(id, CAST(i AS BIGINT), 17), 2001) - 1000) " +
          "/ 1000.0 AS FLOAT))").as("embedding"),
        h(col("id"), 4, 10).cast("int").as("label"))
    write(emb, "embeddings")

    val nEvents = rows(100000, factor)
    val epoch2024 = 1704067200L
    val events = spark.range(nEvents)
      .select(col("id").as("event_id"),
        to_timestamp(
          lit(epoch2024) + col("id") * (30.0 * 86400 / nEvents) +
            h(col("id"), 5, 1000000).cast("double") / 1e6).as("ts"),
        h(col("id"), 6, rows(1500, factor)).as("user_id"),
        element_at(array(lit("signup"), lit("click"), lit("error"),
          lit("view"), lit("purchase")),
          (h(col("id"), 7, 5) + 1).cast("int")).as("event_type"),
        round(-log(
          (h(col("id"), 8, 100000).cast("double") + 1.0) / 100001.0) * 50.0,
          2).as("value"),
        concat(lit("{\"k\": "), h(col("id"), 9, 100), lit("}")).as("props"))
    write(events, "events")

    val epoch1995 = 788918400L
    val orders = spark.range(rows(150000, factor))
      .select(col("id").as("o_orderkey"),
        h(col("id"), 10, rows(15000, factor)).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")),
          (h(col("id"), 11, 3) + 1).cast("int")).as("o_orderstatus"),
        round(lit(1000.0) + h(col("id"), 12, 49900000).cast("double") / 100.0,
          2).as("o_totalprice"),
        to_timestamp(lit(epoch1995) +
          h(col("id"), 13, 2400) * 86400L).as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (h(col("id"), 14, 5) + 1).cast("int")).as("o_orderpriority"))
    write(orders, "orders")

    val lineitem = spark.range(rows(600000, factor))
      .select((col("id") / 4).cast("long").as("l_orderkey"),
        h(col("id"), 15, rows(20000, factor)).as("l_partkey"),
        h(col("id"), 16, rows(1000, factor)).as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        (h(col("id"), 17, 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + h(col("id"), 18, 10410000).cast("double") / 100.0,
          2).as("l_extendedprice"),
        (h(col("id"), 19, 11).cast("double") / 100.0).as("l_discount"),
        (h(col("id"), 20, 9).cast("double") / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h(col("id"), 21, 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (h(col("id"), 22, 2) + 1).cast("int")).as("l_linestatus"),
        to_timestamp(lit(epoch1995) + lit(86400L) +
          h(col("id"), 23, 2500) * 86400L).as("l_shipdate"))
    write(lineitem, "lineitem")

    val customer = spark.range(rows(15000, factor))
      .select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        h(col("id"), 24, 25).cast("int").as("c_nationkey"),
        round(h(col("id"), 25, 1100000).cast("double") / 100.0 - 1000.0,
          2).as("c_acctbal"),
        element_at(array(lit("AUTOMOBILE"), lit("BUILDING"),
          lit("FURNITURE"), lit("HOUSEHOLD"), lit("MACHINERY")),
          (h(col("id"), 26, 5) + 1).cast("int")).as("c_mktsegment"))
    write(customer, "customer")

    val supplier = spark.range(rows(1000, factor))
      .select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        h(col("id"), 27, 25).cast("int").as("s_nationkey"),
        round(h(col("id"), 28, 1100000).cast("double") / 100.0 - 1000.0,
          2).as("s_acctbal"))
    write(supplier, "supplier")

    val adjectives = array(Seq("large", "hot", "blue", "small", "dark",
      "light", "round", "flat").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "plate", "rod", "gear", "pin",
      "cap", "nut").map(lit): _*)
    val part = spark.range(rows(20000, factor))
      .select(col("id").as("p_partkey"),
        concat_ws(" ",
          element_at(adjectives, (h(col("id"), 29, 8) + 1).cast("int")),
          element_at(nouns, (h(col("id"), 30, 8) + 1).cast("int")))
          .as("p_name"),
        concat(lit("Brand#"), h(col("id"), 31, 25) + 1).as("p_brand"),
        element_at(array(lit("ECONOMY"), lit("SMALL"), lit("PROMO"),
          lit("MEDIUM"), lit("LARGE"), lit("STANDARD")),
          (h(col("id"), 32, 6) + 1).cast("int")).as("p_type"),
        (h(col("id"), 33, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + h(col("id"), 34, 10000).cast("double") / 10.0,
          1).as("p_retailprice"))
    write(part, "part")
  }

  /** Generates a tier and checks every table against its committed
    * digest in `<digests>/inputs.tsv`; exits 3 on a mismatch, so a
    * changed generator fails loudly instead of moving the figures. */
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: GenData <outDir> <factor> <tier> <digestsDir>")
    val Array(out, factor, tier, digests) = args
    val spark = Session.create(Session.cpus, trace = false)
    val bad = try {
      generate(spark, out, factor.toDouble)
      val want = Digest.readTsv(s"$digests/inputs.tsv")
      graft.core.Tables.names.flatMap { t =>
        val got = Digest.table(spark, out, t)
        val exp = want.getOrElse(s"$tier/$t", "")
        if (got == exp) None else Some(s"$tier/$t: $got, committed $exp")
      }
    } finally spark.stop()
    bad.foreach(b => System.err.println(s"[perfbench] INPUT DIGEST MISMATCH $b"))
    sys.exit(if (bad.isEmpty) 0 else 3)
  }
}
