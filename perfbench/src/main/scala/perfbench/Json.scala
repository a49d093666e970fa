package perfbench

import scala.language.implicitConversions

/** Minimal JSON writer for the result record and the span file. */
object Json {
  sealed trait Value
  final case class Num(v: Double) extends Value
  final case class Str(v: String) extends Value
  final case class Bool(v: Boolean) extends Value
  case object Null extends Value
  final case class Arr(vs: Seq[Value]) extends Value
  final case class Obj(fields: Seq[(String, Value)]) extends Value

  implicit def fromDouble(v: Double): Value = Num(v)
  implicit def fromLong(v: Long): Value = Num(v.toDouble)
  implicit def fromInt(v: Int): Value = Num(v.toDouble)
  implicit def fromString(v: String): Value = if (v == null) Null else Str(v)
  implicit def fromBoolean(v: Boolean): Value = Bool(v)

  def obj(fields: (String, Value)*): Obj = Obj(fields)

  def write(v: Value): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Value): Unit = v match {
      case Num(d) =>
        if (d.isNaN || d.isInfinite) sb ++= "null"
        else if (d == math.rint(d) && math.abs(d) < 1e15) sb ++= d.toLong.toString
        else sb ++= d.toString
      case Str(s) => str(s)
      case Bool(b) => sb ++= b.toString
      case Null => sb ++= "null"
      case Arr(vs) =>
        sb += '['
        vs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case Obj(fs) =>
        sb += '{'
        fs.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          str(k); sb += ':'; go(x)
        }
        sb += '}'
    }
    go(v)
    sb.toString
  }
}
