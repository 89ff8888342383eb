package graft.perfbench

/** The benchmark's own JSON reader, independent of every parser the
  * program uses, so decoded documents are checked against the generator's
  * text by a third party. Numbers keep their source text; how two numbers
  * compare is the caller's choice (exact decimal, or as IEEE doubles for
  * the jsonc tape, which stores every number as f64).
  */
object Json {
  sealed trait V
  case object Null extends V
  final case class Bool(b: Boolean) extends V
  final case class Num(text: String) extends V
  final case class Str(s: String) extends V
  final case class Arr(items: Vector[V]) extends V
  final case class Obj(fields: Map[String, V]) extends V

  def parse(s: String): V = {
    val p = new Parser(s)
    val v = p.value()
    p.ws()
    if (p.i != s.length) p.fail("trailing characters")
    v
  }

  private final class Parser(s: String) {
    var i = 0
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"JSON: $msg at offset $i")
    def ws(): Unit = while (i < s.length && " \t\r\n".indexOf(s.charAt(i)) >= 0) i += 1
    def expect(c: Char): Unit =
      if (i < s.length && s.charAt(i) == c) i += 1 else fail(s"expected '$c'")
    def lit(word: String, v: V): V =
      if (s.startsWith(word, i)) { i += word.length; v } else fail("bad literal")

    def value(): V = {
      ws()
      if (i >= s.length) fail("unexpected end")
      s.charAt(i) match {
        case '{' =>
          i += 1; ws()
          val b = Map.newBuilder[String, V]
          var n = 0
          if (s.charAt(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              ws(); val k = string(); ws(); expect(':')
              b += k -> value(); n += 1; ws()
              if (s.charAt(i) == ',') i += 1 else { expect('}'); more = false }
            }
          }
          val m = b.result()
          if (m.size != n) fail("duplicate key")
          Obj(m)
        case '[' =>
          i += 1; ws()
          val b = Vector.newBuilder[V]
          if (s.charAt(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              b += value(); ws()
              if (s.charAt(i) == ',') i += 1 else { expect(']'); more = false }
            }
          }
          Arr(b.result())
        case '"' => Str(string())
        case 't' => lit("true", Bool(true))
        case 'f' => lit("false", Bool(false))
        case 'n' => lit("null", Null)
        case _ => number()
      }
    }

    def number(): V = {
      val st = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      if (st == i) fail("bad value")
      val t = s.substring(st, i)
      try BigDecimal(t) catch { case _: NumberFormatException => fail(s"bad number $t") }
      Num(t)
    }

    def string(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f'); case '/' => sb.append('/')
            case '\\' => sb.append('\\'); case '"' => sb.append('"')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case o => fail(s"bad escape \\$o")
          }
        } else if (c < 0x20) fail("control character in string")
        else sb.append(c)
        i += 1
      }
      i += 1
      sb.toString
    }
  }

  /** Semantic equality: object key order is free, numbers compare as
    * exact decimals, or as doubles when `asDouble`. */
  def same(a: V, b: V, asDouble: Boolean): Boolean = (a, b) match {
    case (Num(x), Num(y)) =>
      if (asDouble) x.toDouble == y.toDouble else BigDecimal(x).compare(BigDecimal(y)) == 0
    case (Arr(x), Arr(y)) =>
      x.length == y.length && x.indices.forall(k => same(x(k), y(k), asDouble))
    case (Obj(x), Obj(y)) =>
      x.size == y.size && x.forall { case (k, v) => y.get(k).exists(same(v, _, asDouble)) }
    case _ => a == b
  }

  /** JSON string literal, for the result line and the planted values. */
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
