package graft.perfbench

/** Just enough JSON for the record run.py reads: objects keep their key
  * order, doubles keep every digit, NaN and infinities become null.
  */
object Json {
  final case class Obj(fields: (String, Any)*) {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields: _*)
  }
  object Obj {
    def newBuilder = Seq.newBuilder[(String, Any)]
  }

  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any): Unit = v match {
      case null | None => sb ++= "null"
      case Some(x) => go(x)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case o: Obj => seq(o.fields, "{", "}") { case (k, x) => str(k); sb += ':'; go(x) }
      case m: Map[_, _] => seq(m.toSeq, "{", "}") { case (k, x) => str(k.toString); sb += ':'; go(x) }
      case xs: Iterable[_] => seq(xs.toSeq, "[", "]")(go)
      case other => str(other.toString)
    }
    def seq[A](xs: Seq[A], open: String, close: String)(f: A => Unit): Unit = {
      sb ++= open
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; f(x) }
      sb ++= close
    }
    go(v)
    sb.result()
  }
}
