package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a query result: the row count plus the
  * sum (mod 2^64) of a 64-bit digest of each row.
  *
  * Each row is rendered canonically before it is digested:
  *  - columns are taken in name order (the oracle compare sorts them too);
  *  - every number is rendered by value, so DOUBLE 1.5, DECIMAL 1.50 and
  *    DECIMAL 1.5000 agree, and INT 3 equals BIGINT 3;
  *  - doubles and floats are rounded to [[DoubleDigits]] significant
  *    digits first: a different summation order (partition count, AQE
  *    coalescing) moves the last bits of a double sum, not its answer;
  *  - -0.0 is 0, NaN and the infinities have their own spellings;
  *  - null is distinct from every value, including the empty string;
  *  - strings are length-prefixed, so no two field lists collide by
  *    concatenation.
  * Summing row digests makes the fingerprint independent of row order
  * while still counting duplicate rows.
  */
object Fingerprint {
  val DoubleDigits = 12
  private val doubleContext = new MathContext(DoubleDigits)

  final case class Print(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def canonicalNumber(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toString

  def canonicalDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "+Inf" else "-Inf")
    else canonicalNumber(new JBigDecimal(d).round(doubleContext))

  def canonical(v: Any): String = v match {
    case null => "N"
    case d: Double => "n" + canonicalDouble(d)
    case f: Float => "n" + canonicalDouble(f.toDouble)
    case b: JBigDecimal => "n" + canonicalNumber(b)
    case b: scala.math.BigDecimal => "n" + canonicalNumber(b.bigDecimal)
    case i: Int => "n" + i
    case l: Long => "n" + l
    case s: Short => "n" + s
    case b: Byte => "n" + b
    case b: java.math.BigInteger => "n" + b
    case b: Boolean => if (b) "T" else "F"
    case s: String => "s" + s.length + ":" + s
    case t: java.sql.Timestamp => "t" + t.toInstant
    case t: java.time.Instant => "t" + t
    case t: java.time.LocalDateTime => "l" + t
    case d: java.sql.Date => "d" + d.toLocalDate
    case d: java.time.LocalDate => "d" + d
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => canonical(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  /** Canonical text of one row, fields in the given column order. */
  def canonicalRow(r: Row, order: Array[Int]): String =
    order.map(i => canonical(r.get(i))).mkString("|")

  /** The first 8 bytes of the SHA-256 of `s`. */
  def digest(s: String, md: MessageDigest): Long =
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes(StandardCharsets.UTF_8)), 0, 8).getLong

  /** Column positions in name order (ties keep their original order). */
  def nameOrder(columns: Seq[String]): Array[Int] =
    columns.zipWithIndex.sortBy(_._1).map(_._2).toArray

  def ofRows(rows: Iterator[Row], order: Array[Int]): Print = {
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += digest(canonicalRow(r, order), md) }
    Print(n, sum)
  }

  def combine(a: Print, b: Print): Print = Print(a.rows + b.rows, a.hash + b.hash)

  /** Fingerprint a frame; the rows are digested where they are computed. */
  def of(df: DataFrame): Print = {
    val order = nameOrder(df.columns.toSeq)
    df.rdd.mapPartitions(it => Iterator(ofRows(it, order)))
      .collect().foldLeft(Print(0L, 0L))(combine)
  }
}

/** Prints the fingerprint of each result directory written by
  * `graft.Verify` (`<dir>/<query>/`), as one JSON object. */
object FingerprintFiles {
  def main(args: Array[String]): Unit = {
    val Array(dir, names @ _*) = args
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val prints = names.map { n =>
      val p = Fingerprint.of(spark.read.parquet(s"$dir/$n"))
      n -> Seq(p.rows, p.hex)
    }
    println(Json.render(scala.collection.immutable.ListMap(prints: _*)))
    spark.stop()
  }
}
