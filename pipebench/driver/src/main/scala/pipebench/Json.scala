package pipebench

/** Minimal JSON rendering for the harness's own records (results, truth,
  * traces); parsing goes through the Jackson that ships with Spark.
  */
object Json {

  def render(v: Any): String = {
    val sb = new java.lang.StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case s: String => str(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; write(x, sb) }
      sb.append(']')
    case other => str(other.toString, sb)
  }

  private def str(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def parseFile(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
}
