package perfbench

/** Minimal JSON writer for the harness's result line and trace dump. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => "{" + m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString(",") + "}"
    case xs: Iterable[_] => "[" + xs.map(value).mkString(",") + "]"
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
  def arr(xs: Seq[Any]): String = value(xs)
}
