package graft.perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the run's output files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")

  private def ts(t: java.time.LocalDateTime): String = {
    val us = t.getNano / 1000
    TsFmt.format(t) + (if (us == 0) "" else f".$us%06d")
  }

  /** Encode a value; result cells use the same canonical forms the DuckDB
    * side produces (timestamps as UTC wall-clock text, maps as sorted
    * key/value pairs, structs as lists). */
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp => apply(t.toInstant)
    case t: java.time.Instant =>
      str(ts(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)))
    case t: java.time.LocalDateTime => str(ts(t))
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case b: Array[Byte] => str(b.map("%02x".format(_)).mkString)
    case r: Row => apply(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      apply(m.toSeq.map { case (k, x) => Seq(k, x) }
        .sortBy(p => apply(p.head)))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }

  /** A JSON object from ordered (key, value) pairs. */
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + (x match {
      case Raw(s) => s
      case _ => apply(x)
    }) }.mkString("{", ",", "}")

  /** Already-encoded JSON. */
  final case class Raw(s: String)
}
