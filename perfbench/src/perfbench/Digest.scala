package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Digests that pin the benchmark's inputs and the program's outputs. */
object Digest {
  /** SHA-256 of a query result under `tools/check.py`'s comparison
    * rules: column names sorted, columns taken in that order, rows in
    * result order, every value in one canonical text form. */
  def result(df: DataFrame): String = {
    val names = df.columns.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    put(order.map(names(_)).mkString("\u0001"))
    var n = 0L
    df.collect().foreach { r =>
      put("\n")
      order.foreach { i => put(value(r.get(i))); put("\u0001") }
      n += 1
    }
    put(s"\nrows=$n")
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }
        .sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => value(r.get(i)))
      .mkString("(", ",", ")")
    case o => o.toString
  }

  /** Row count and an order-free content hash of one input table. */
  def table(spark: SparkSession, dir: String, name: String): String = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** `key<TAB>value` lines; `#` starts a comment. */
  def readTsv(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap
      finally src.close()
    }
  }
}
