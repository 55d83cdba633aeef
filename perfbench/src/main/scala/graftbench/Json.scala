package graftbench

/** Minimal JSON writer for result records and trace sidecars. Maps keep
  * their insertion order (pass a ListMap or Seq of pairs for stable keys).
  */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] => obj(sb, m.toSeq)
    case Obj(kvs) => obj(sb, kvs)
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }

  /** An object with keys in the given order. */
  final case class Obj(kvs: Seq[(Any, Any)])
  def obj(kvs: (String, Any)*): Obj = Obj(kvs)

  private def obj(sb: StringBuilder, kvs: Seq[(Any, Any)]): Unit = {
    sb += '{'
    var first = true
    kvs.foreach { case (k, x) =>
      if (!first) sb += ','
      first = false
      str(sb, k.toString); sb += ':'; write(sb, x)
    }
    sb += '}'
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
