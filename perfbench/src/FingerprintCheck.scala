package perfbench

import org.apache.spark.sql.Row

/** Checks of the fingerprint canonicalization; exits non-zero on the first
  * failure. Run by `perfbench/test_bench.py`. */
object FingerprintCheck {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL $what") } else println(s"ok   $what")

  private def print(rows: Seq[Row], columns: Seq[String] = Seq("a", "b")): Fingerprint.Print =
    Fingerprint.ofRows(rows.iterator, Fingerprint.nameOrder(columns))

  def main(args: Array[String]): Unit = {
    import Fingerprint.canonical
    val bd = (s: String) => new java.math.BigDecimal(s)

    expect("double: summation-order noise is rounded away",
      canonical(0.1 + 0.2) == canonical(0.3))
    expect("double: a real difference survives",
      canonical(1.0000001) != canonical(1.0000002))
    expect("double: -0.0 equals 0.0", canonical(-0.0) == canonical(0.0))
    expect("double: NaN and infinities are distinct",
      Set(canonical(Double.NaN), canonical(Double.PositiveInfinity),
        canonical(Double.NegativeInfinity)).size == 3)
    expect("double: large and tiny magnitudes keep their exponent",
      canonical(1.5e300) != canonical(1.5e299) && canonical(2.5e-12) != canonical(2.5e-11))
    expect("decimal: trailing zeros do not matter",
      canonical(bd("1.50")) == canonical(bd("1.5")) && canonical(bd("100.00")) == canonical(bd("1E+2")))
    expect("decimal: equals the same double and integer value",
      canonical(bd("1.5")) == canonical(1.5) && canonical(bd("3.000")) == canonical(3L) &&
        canonical(3) == canonical(3L))
    expect("decimal: zero with any scale is 0",
      canonical(bd("0.000")) == canonical(0) && canonical(bd("0E-10")) == canonical(0.0))
    expect("null differs from empty string, zero and the text null",
      Set(canonical(null), canonical(""), canonical(0), canonical("null"), canonical("N")).size == 5)
    expect("strings are length-prefixed",
      print(Seq(Row("ab", "c"))) != print(Seq(Row("a", "bc"))))
    expect("row order does not matter",
      print(Seq(Row(1, "x"), Row(2, "y"), Row(3, null))) ==
        print(Seq(Row(3, null), Row(1, "x"), Row(2, "y"))))
    expect("column order is by name",
      print(Seq(Row(1, "x")), Seq("a", "b")) == print(Seq(Row("x", 1)), Seq("b", "a")))
    expect("duplicate rows count",
      print(Seq(Row(1, "x"), Row(1, "x"))) != print(Seq(Row(1, "x"))) &&
        print(Seq(Row(1, "x"), Row(1, "x"))).rows == 2)
    expect("a changed value changes the hash",
      print(Seq(Row(1, "x"), Row(2, "y"))).hash != print(Seq(Row(1, "x"), Row(2, "z"))).hash)
    expect("arrays keep element order, structs nest",
      canonical(Seq(1, 2)) != canonical(Seq(2, 1)) &&
        canonical(Row(Seq(1.0), null)) == canonical(Row(Seq(bd("1.00")), null)))
    expect("maps are order-independent",
      canonical(Map("a" -> 1, "b" -> 2)) == canonical(scala.collection.immutable.ListMap("b" -> 2, "a" -> 1)))

    if (failures > 0) { System.err.println(s"$failures fingerprint check(s) failed"); sys.exit(1) }
  }
}
