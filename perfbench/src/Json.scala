package perfbench

import scala.language.implicitConversions

/** Minimal JSON writer for the manifest, the headline line and the records
  * file (the benchmark adds no dependency beyond the Spark distribution).
  */
object Json {
  sealed trait Value { def render: String }
  final case class Num(v: Double) extends Value {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }
  final case class Str(v: String) extends Value {
    def render: String = quote(v)
  }
  final case class Bool(v: Boolean) extends Value {
    def render: String = v.toString
  }
  final case class Arr(items: Value*) extends Value {
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(fields: (String, Value)*) extends Value {
    def render: String =
      fields.map { case (k, v) => s"${quote(k)}:${v.render}" }.mkString("{", ",", "}")
  }

  implicit def fromLong(v: Long): Value = Num(v.toDouble)
  implicit def fromInt(v: Int): Value = Num(v.toDouble)
  implicit def fromDouble(v: Double): Value = Num(v)
  implicit def fromString(v: String): Value = Str(v)
  implicit def fromBoolean(v: Boolean): Value = Bool(v)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
