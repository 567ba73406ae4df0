package perfbench

/** Minimal JSON writer for the run record. */
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

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** A result cell: numbers stay numbers (doubles with every digit),
    * timestamps become UTC `yyyy-MM-dd HH:mm:ss.ffffff` strings. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp =>
      str(tsFmt.format(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)))
    case t: java.time.LocalDateTime => str(tsFmt.format(t))
    case t: java.time.Instant => str(tsFmt.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)))
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> value(x) })
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
