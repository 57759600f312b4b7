package graft.perfbench

/** A small JSON reader for checking server responses: objects become
  * `Map[String, Any]`, arrays `Vector[Any]`, numbers `Double` (or `Long`
  * when integral and written without a fraction or exponent). */
object MiniJson {
  def parse(s: String): Any = {
    val p = new P(s)
    val v = p.value()
    p.ws()
    require(p.i == s.length, s"trailing JSON at ${p.i}")
    v
  }

  private final class P(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    private def expect(c: Char): Unit = {
      ws(); require(i < s.length && s.charAt(i) == c, s"expected '$c' at $i"); i += 1
    }
    def value(): Any = {
      ws()
      require(i < s.length, "unexpected end of JSON")
      s.charAt(i) match {
        case '{' =>
          i += 1; ws()
          val m = Map.newBuilder[String, Any]
          if (s.charAt(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              ws(); val k = str(); expect(':'); m += k -> value(); ws()
              if (s.charAt(i) == ',') i += 1 else { expect('}'); more = false }
            }
          }
          m.result()
        case '[' =>
          i += 1; ws()
          val a = Vector.newBuilder[Any]
          if (s.charAt(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              a += value(); ws()
              if (s.charAt(i) == ',') i += 1 else { expect(']'); more = false }
            }
          }
          a.result()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val start = i
          while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
          val t = s.substring(start, i)
          if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
      }
    }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.result()
    }
  }

  def num(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }
}
