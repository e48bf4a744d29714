package graft.llm

/** Minimal recursive JSON codec — objects, arrays, strings (with escapes
  * incl. \uXXXX), numbers, booleans, null. Serves the completions wire
  * format and the harness artifacts (BENCH_*.json). Hand-rolled because
  * the engine takes no dependencies beyond Spark and
  * [[graft.ops.Parsers.parseJsonMap]] is deliberately flat.
  */
private[graft] object MiniJson {

  sealed trait JValue {
    def render: String = this match {
      case JNull       => "null"
      case JBool(b)    => b.toString
      // JSON has no NaN/Infinity tokens
      case JNum(n) if n.isNaN || n.isInfinite => "null"
      case JNum(n)     =>
        if (n == n.floor && math.abs(n) < 1e15) n.toLong.toString
        else n.toString
      case JStr(s)     =>
        val sb = new StringBuilder("\"")
        s.foreach {
          case '"'          => sb.append("\\\"")
          case '\\'         => sb.append("\\\\")
          case '\n'         => sb.append("\\n")
          case '\r'         => sb.append("\\r")
          case '\t'         => sb.append("\\t")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c            => sb.append(c)
        }
        sb.append('"').toString
      case JArr(vs)    => vs.map(_.render).mkString("[", ",", "]")
      case JObj(kvs)   =>
        kvs.map { case (k, v) => JStr(k).render + ":" + v.render }
          .mkString("{", ",", "}")
    }
    def obj(key: String): JValue =
      fields.collectFirst { case (k, v) if k == key => v }
        .getOrElse(sys.error(s"missing key '$key'"))
    /** The value at `key`, if any. A null value reads as absent: `render`
      * writes a non-finite number as null.
      */
    def get(key: String): Option[JValue] =
      fields.collectFirst { case (k, v) if k == key => v }.filter(_ != JNull)
    def fields: Seq[(String, JValue)] = this match {
      case JObj(kvs) => kvs
      case other     => sys.error(s"not an object: $other")
    }
    def arr: Seq[JValue] = this match {
      case JArr(vs) => vs
      case other    => sys.error(s"not an array: $other")
    }
    def str: String = this match {
      case JStr(s) => s
      case other   => sys.error(s"not a string: $other")
    }
    def num: Double = this match {
      case JNum(n) => n
      case other   => sys.error(s"not a number: $other")
    }
  }
  case object JNull extends JValue
  final case class JBool(b: Boolean) extends JValue
  final case class JNum(n: Double) extends JValue
  final case class JStr(s: String) extends JValue
  final case class JArr(vs: Seq[JValue]) extends JValue
  final case class JObj(kvs: Seq[(String, JValue)]) extends JValue

  def obj(kvs: (String, JValue)*): JObj = JObj(kvs.toSeq)

  /** `v` rounded half-up to `places` decimals, as `%.{places}f` prints it
    * (non-finite values stay as they are and render as null).
    */
  def fixed(v: Double, places: Int): JNum =
    if (v.isNaN || v.isInfinite) JNum(v)
    else JNum(BigDecimal(v).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble)

  def parse(s: String): JValue = {
    val p = new P(s)
    val v = p.value()
    p.ws()
    require(p.eof, s"trailing JSON content at ${p.pos}")
    v
  }

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def ws(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def ch: Char = s.charAt(pos)
    private def expect(c: Char): Unit = {
      require(!eof && ch == c, s"expected '$c' at $pos"); pos += 1
    }
    def value(): JValue = {
      ws()
      require(!eof, "unexpected end of JSON")
      ch match {
        case '{' => jobj()
        case '[' => jarr()
        case '"' => JStr(jstr())
        case 't' => lit("true"); JBool(true)
        case 'f' => lit("false"); JBool(false)
        case 'n' => lit("null"); JNull
        case _   => jnum()
      }
    }
    private def lit(l: String): Unit = {
      require(s.regionMatches(pos, l, 0, l.length), s"bad literal at $pos")
      pos += l.length
    }
    private def jobj(): JObj = {
      expect('{'); ws()
      val out = Seq.newBuilder[(String, JValue)]
      if (!eof && ch == '}') { pos += 1; return JObj(out.result()) }
      var done = false
      while (!done) {
        ws()
        val k = jstr(); ws(); expect(':')
        out += k -> value()
        ws()
        if (!eof && ch == ',') pos += 1 else { expect('}'); done = true }
      }
      JObj(out.result())
    }
    private def jarr(): JArr = {
      expect('['); ws()
      val out = Seq.newBuilder[JValue]
      if (!eof && ch == ']') { pos += 1; return JArr(out.result()) }
      var done = false
      while (!done) {
        out += value()
        ws()
        if (!eof && ch == ',') pos += 1 else { expect(']'); done = true }
      }
      JArr(out.result())
    }
    private def jstr(): String = {
      expect('"')
      val sb = new StringBuilder
      while (ch != '"') {
        if (ch == '\\') {
          pos += 1
          ch match {
            case 'n' => sb.append('\n'); pos += 1
            case 't' => sb.append('\t'); pos += 1
            case 'r' => sb.append('\r'); pos += 1
            case 'b' => sb.append('\b'); pos += 1
            case 'f' => sb.append('\f'); pos += 1
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar)
              pos += 5
            case c   => sb.append(c); pos += 1
          }
        } else { sb.append(ch); pos += 1 }
      }
      pos += 1
      sb.toString
    }
    private def jnum(): JNum = {
      val start = pos
      while (!eof && (ch.isDigit || "+-.eE".indexOf(ch) >= 0)) pos += 1
      JNum(s.substring(start, pos).toDouble)
    }
  }
}
