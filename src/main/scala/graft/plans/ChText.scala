package graft.plans

/** How ClickHouse SQL text is lexed: the one place the dialect front
  * end ([[TotalsParser]], [[ChDdl]], [[ChMatView]], [[ChProjections]],
  * [[YqlText]]) learns what a string literal and a comment are, what
  * paren depth 0 means and where a top-level comma is.
  *
  * Lexical rules, shared by every function here:
  *  - A string literal is `'…'` in which a backslash escapes the next
  *    character and `''` is an escaped quote (the regex
  *    `'(?:[^'\\]|\\.|'')*'`, CH's and Spark's rule); a quote that
  *    never closes is an ordinary character.
  *  - A comment is `--` to the end of the line or `/* … */`. A
  *    `/*+ hint */` is an optimizer hint, not a comment.
  *  - A backquoted identifier `` `…` `` is one token. The parens,
  *    commas, quotes and words inside a literal, comment, hint or
  *    backquoted identifier do not count. The opening of an unclosed
  *    backquote or block comment is an ordinary character.
  *  - Depth counts the `(` and `)` outside those tokens. A word is a run
  *    of letters, digits and `_` that starts with a letter or `_` and
  *    does not follow a word character, `.` or a backquote.
  *
  * [[mask]] is the view every clause regex runs over: each literal and
  * each hint becomes the placeholder `\u0001N\u0001` (a byte no
  * parseable SQL contains) and each comment becomes one space, so no
  * clause regex ever fires inside a literal or a comment. [[unmask]]
  * restores literals and hints byte for byte; comments stay gone.
  */
private[graft] object ChText {

  private val literal =
    java.util.regex.Pattern.compile("""(?s)'(?:[^'\\]|\\.|'')*'""")
  private val placeholder = """\x01(\d+)\x01""".r

  /** The end of the literal, backquoted identifier or comment that
    * starts at `i`, or `i` when none starts there.
    */
  private def skip(s: String, i: Int): Int = s.charAt(i) match {
    case '\'' =>
      val m = literal.matcher(s).region(i, s.length)
      if (m.lookingAt()) m.end else i
    case '`' =>
      val e = s.indexOf('`', i + 1)
      if (e < 0) i else e + 1
    case '-' if s.startsWith("--", i) =>
      val e = s.indexOf('\n', i)
      if (e < 0) s.length else e
    case '/' if s.startsWith("/*", i) =>
      val e = s.indexOf("*/", i + 2)
      if (e < 0) i else e + 2
    case _ => i
  }

  /** Walk `s` from `from`, calling `f(i, depth)` at every character
    * outside literals, backquotes and comments (depth counted from
    * `from`, before the character) and once more at `s.length` with the
    * final depth. Returns the first index where `f` is false, or
    * `s.length`.
    */
  private def scan(s: String, from: Int)(f: (Int, Int) => Boolean): Int = {
    var i = from
    var depth = 0
    while (i < s.length) {
      val j = skip(s, i)
      if (j > i) i = j
      else {
        if (!f(i, depth)) return i
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
    }
    f(s.length, depth)
    s.length
  }

  /** `s` with every string literal and hint replaced by its
    * placeholder and every comment by one space, and the literals and
    * hints in placeholder order.
    */
  def mask(s: String): (String, IndexedSeq[String]) = {
    val out = new StringBuilder(s.length)
    val lits = IndexedSeq.newBuilder[String]
    var n = 0
    var i = 0
    while (i < s.length) {
      val j = skip(s, i)
      if (j == i) { out += s.charAt(i); i += 1 }
      else {
        if (s.charAt(i) == '\'' || s.startsWith("/*+", i)) {
          lits += s.substring(i, j)
          out.append('\u0001').append(n).append('\u0001')
          n += 1
        } else if (s.charAt(i) == '`') out ++= s.substring(i, j)
        else out += ' '
        i = j
      }
    }
    (out.toString, lits.result())
  }

  /** Put back the literals and hints [[mask]] took out (placeholders
    * may have been moved or copied meanwhile).
    */
  def unmask(s: String, lits: Seq[String]): String =
    if (lits.isEmpty) s
    else placeholder.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        lits.lift(m.group(1).toInt).getOrElse(m.matched)))

  /** The index of the `)` matching the `(` at `open`, or -1. */
  def closeParen(s: String, open: Int): Int = {
    val at = scan(s, open + 1)((i, d) =>
      i == s.length || d > 0 || s.charAt(i) != ')')
    if (at < s.length) at else -1
  }

  /** The index of the `(` matching the `)` at `close`, or -1. */
  def openParen(s: String, close: Int): Int = {
    // the latest `(` opened at each depth; the match of a `)` met at
    // depth d is the latest one opened at d - 1
    val opens = scala.collection.mutable.HashMap.empty[Int, Int]
    var at = -1
    scan(s, 0) { (i, d) =>
      if (i == close) at = opens.getOrElse(d - 1, -1)
      else if (i < s.length && s.charAt(i) == '(') opens(d) = i
      i < close
    }
    at
  }

  /** Whether position `pos` of `s` lies at paren depth 0. */
  def depth0(s: String, pos: Int): Boolean = {
    var depth = 0
    scan(s, 0) { (i, d) => depth = d; i < pos }
    depth == 0
  }

  private def wordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** The word that starts at `i`, or "" when none does. */
  private def wordAt(s: String, i: Int): String = {
    val c = s.charAt(i)
    if (!(c.isLetter || c == '_') ||
      (i > 0 && { val p = s.charAt(i - 1); wordChar(p) || p == '.' || p == '`' })) ""
    else {
      var j = i + 1
      while (j < s.length && wordChar(s.charAt(j))) j += 1
      s.substring(i, j)
    }
  }

  /** The index of the first word of `words` (upper case) at depth 0 at
    * or after `from`; else of the `)` that closes the scope `from` is
    * in; else `s.length`.
    */
  def depth0Word(s: String, from: Int, words: Set[String]): Int =
    scan(s, from) { (i, d) =>
      i == s.length || d != 0 ||
        (s.charAt(i) != ')' && !words(wordAt(s, i).toUpperCase))
    }

  /** `s` cut at its depth-0 commas, the pieces verbatim. */
  def pieces(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    scan(s, 0) { (i, d) =>
      if (i == s.length || (d == 0 && s.charAt(i) == ',')) {
        out += s.substring(start, i)
        start = i + 1
      }
      true
    }
    out.result()
  }

  /** `s` without leading and trailing real whitespace. `String.trim`
    * also strips the `\u0001` placeholder bytes, which would leave a
    * masked literal that can never be restored.
    */
  def strip(s: String): String = s.replaceAll("^[ \t\r\n]+|[ \t\r\n]+$", "")

  /** The [[pieces]] of `s`, [[strip]]ped, empty ones dropped. */
  def splitTop(s: String): Seq[String] = pieces(s).map(strip).filter(_.nonEmpty)
}
