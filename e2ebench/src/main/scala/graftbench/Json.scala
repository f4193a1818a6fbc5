package graftbench

/** Minimal JSON writer for the benchmark's result and report lines. */
object Json {
  /** An object whose fields keep their order. */
  final case class Obj(fields: Seq[(String, Any)])

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => graft.io.JsonUtil.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fs) => obj(fs)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => graft.io.JsonUtil.quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => graft.io.JsonUtil.quote(k) + ": " + value(v) }
      .mkString("{", ", ", "}")
}
