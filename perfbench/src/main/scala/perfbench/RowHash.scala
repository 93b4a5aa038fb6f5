package perfbench

import org.apache.spark.sql.Row

/** An order-insensitive 64-bit hash of a result, so every execution of
  * an operation can be compared with its first. Floating-point values
  * are rounded to 10 significant digits: partial sums may arrive in any
  * order, which moves the last bits of a double between runs. */
object RowHash {
  private val mc = new java.math.MathContext(10)

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite || d == 0.0) d.toString
      else new java.math.BigDecimal(d).round(mc).toString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): Long = {
    var sum = rows.length.toLong * 0x9E3779B97F4A7C15L
    rows.foreach { r =>
      val s = canon(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xFFFFFFFFL)
      sum += h
    }
    sum
  }

  /** A row as plain values for the JSON dump the oracle replay reads. */
  def plain(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => d.doubleValue()
    case x => x
  }
}
