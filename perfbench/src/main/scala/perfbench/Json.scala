package perfbench

/** Minimal JSON writer for the harness's raw record: objects keep their
  * insertion order, and a key given twice is an error rather than a
  * silently repeated member. */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    private val dup = fields.map(_._1).diff(fields.map(_._1).distinct)
    require(dup.isEmpty, s"duplicate JSON keys: ${dup.mkString(", ")}")
    def +(kv: (String, Any)): Obj = Obj(fields :+ kv)
  }

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case o: Obj => o.fields.map { case (k, x) => s"${str(k)}:${render(x)}" }
      .mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => throw new IllegalArgumentException(
      s"cannot render ${other.getClass}")
  }

  private def str(s: String): String = graft.Harness.jsonStr(s)
}
