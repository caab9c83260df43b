package perfbench

/** Minimal JSON writer for the records the harness reads back. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.math.BigDecimal => quote(n.toPlainString)
    case n: scala.math.BigDecimal => quote(n.bigDecimal.toPlainString)
    case n: Number => n.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
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
    b.append('"').toString
  }

  def writeLines(f: java.io.File, rows: Seq[Any]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try rows.foreach(r => w.println(render(r))) finally w.close()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(s: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(s)
}
