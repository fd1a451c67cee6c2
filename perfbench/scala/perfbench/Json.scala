package perfbench

/** Minimal JSON encoder for the run's result file.
  *
  * Numbers go through `java.lang.Double.toString` / `Long.toString`, which
  * never consult the default locale (a `String.format` under a
  * comma-decimal locale would emit invalid JSON), and print every digit.
  * Non-finite doubles become `null`. Every string is escaped. */
object Json {
  def encode(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None          => sb ++= "null"
    case Some(x)              => write(sb, x)
    case s: String            => quote(sb, s)
    case b: Boolean           => sb ++= b.toString
    case i: Int               => sb ++= java.lang.Integer.toString(i)
    case l: Long              => sb ++= java.lang.Long.toString(l)
    case d: Double            =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(sb, k.toString)
        sb += ':'
        write(sb, x)
      }
      sb += '}'
    case it: Iterable[_] =>
      sb += '['
      var first = true
      it.foreach { x =>
        if (!first) sb += ','
        first = false
        write(sb, x)
      }
      sb += ']'
    case other       => throw new IllegalArgumentException(s"not JSON-encodable: $other")
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
      case c => sb += c
    }
    sb += '"'
  }
}
