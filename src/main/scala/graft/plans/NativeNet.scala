package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Network / encoding vocabulary kernels backing the engine's
  * `isIPv6String`, `MACNumToString`/`MACStringToNum`,
  * `base58Encode`/`base58Decode`, `soundex`, and
  * `idnaEncode`/`idnaDecode` (ClickHouse string/network families:
  * `clickhouse.com/docs/sql-reference/functions/ip-address-functions`,
  * `…/string-functions`). Pure deterministic string algorithms — no
  * I/O, no DNS (`java.net.IDN` is the offline IDNA algorithm), no
  * locale dependence — evaluated as codegen'd static calls.
  *
  * Malformed-input policy (the OrDefault contract used across the
  * dialect): predicates return 0, parsers return 0 / NULL — a
  * full-scan pipeline has no place for throwing variants.
  */
object NetKernels {

  /** RFC-4291 textual IPv6 validation: up to 8 hex16 groups, at most
    * one `::` compression (required iff fewer than 8 groups), an
    * optional trailing dotted-quad IPv4 (counts as 2 groups).
    */
  def isIpv6(s: UTF8String): Long = {
    val str = s.toString
    if (str.isEmpty) return 0L
    val dc = str.indexOf("::")
    if (dc >= 0 && str.indexOf("::", dc + 1) >= 0) return 0L // one :: max
    def groups(part: String): Option[Int] = {
      if (part.isEmpty) return Some(0)
      var n = 0
      val it = part.split(":", -1)
      var i = 0
      while (i < it.length) {
        val g = it(i)
        val isLast = i == it.length - 1
        if (g.isEmpty) return None // stray ':' (the '::' was split off)
        else if (isLast && g.contains('.')) {
          // embedded IPv4 tail: exactly 4 octets 0..255
          val o = g.split("\\.", -1)
          if (o.length != 4 || o.exists(x => x.isEmpty || x.length > 3 ||
              !x.forall(_.isDigit) || x.toInt > 255)) return None
          n += 2
        } else if (g.length <= 4 && g.forall(c =>
            Character.digit(c, 16) >= 0)) n += 1
        else return None
        i += 1
      }
      Some(n)
    }
    val ok = if (dc >= 0) {
      val (l, r) = (str.substring(0, dc), str.substring(dc + 2))
      (groups(l), groups(r)) match {
        case (Some(a), Some(b)) => a + b < 8
        case _ => false
      }
    } else groups(str).contains(8)
    if (ok) 1L else 0L
  }

  def macNumToString(n: Long): UTF8String = {
    val sb = new java.lang.StringBuilder(17)
    var i = 5
    while (i >= 0) {
      val b = (n >>> (8 * i)) & 0xffL
      sb.append(Character.forDigit((b >>> 4).toInt, 16))
      sb.append(Character.forDigit((b & 0xf).toInt, 16))
      if (i > 0) sb.append(':')
      i -= 1
    }
    UTF8String.fromString(sb.toString)
  }

  def macStringToNum(s: UTF8String): Long = {
    val parts = s.toString.split(":", -1)
    if (parts.length != 6) return 0L
    var acc = 0L
    var i = 0
    while (i < 6) {
      val p = parts(i)
      if (p.length != 2 || Character.digit(p.charAt(0), 16) < 0 ||
        Character.digit(p.charAt(1), 16) < 0) return 0L
      acc = (acc << 8) | java.lang.Integer.parseInt(p, 16).toLong
      i += 1
    }
    acc
  }

  private val B58 =
    "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

  def base58Encode(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    if (bytes.isEmpty) return UTF8String.fromString("")
    var zeros = 0
    while (zeros < bytes.length && bytes(zeros) == 0) zeros += 1
    var num = new java.math.BigInteger(1, bytes)
    val sb = new java.lang.StringBuilder()
    val fiftyEight = java.math.BigInteger.valueOf(58)
    while (num.signum() > 0) {
      val qr = num.divideAndRemainder(fiftyEight)
      sb.append(B58.charAt(qr(1).intValue()))
      num = qr(0)
    }
    var i = 0
    while (i < zeros) { sb.append('1'); i += 1 }
    UTF8String.fromString(sb.reverse.toString)
  }

  /** Inverse of [[base58Encode]]; NULL (boxed) on any non-alphabet
    * character.
    */
  def base58Decode(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.isEmpty) return UTF8String.fromString("")
    var num = java.math.BigInteger.ZERO
    val fiftyEight = java.math.BigInteger.valueOf(58)
    var zeros = 0
    var counting = true
    var i = 0
    while (i < str.length) {
      val idx = B58.indexOf(str.charAt(i).toInt)
      if (idx < 0) return null
      if (counting && str.charAt(i) == '1') zeros += 1 else counting = false
      num = num.multiply(fiftyEight)
        .add(java.math.BigInteger.valueOf(idx.toLong))
      i += 1
    }
    val body = num.toByteArray match {
      // BigInteger prepends a sign byte when the high bit is set
      case a if a.length > 1 && a(0) == 0 => a.drop(1)
      case a if num.signum() == 0 => Array.empty[Byte]
      case a => a
    }
    val out = new Array[Byte](zeros + body.length)
    System.arraycopy(body, 0, out, zeros, body.length)
    UTF8String.fromBytes(out)
  }

  /** American Soundex (the classic 4-char code): first letter kept,
    * B F P V→1, C G J K Q S X Z→2, D T→3, L→4, M N→5, R→6; H and W
    * are transparent for adjacency, vowels separate; padded/truncated
    * to 4. Non-alphabetic leading input → empty string.
    */
  def soundex(s: UTF8String): UTF8String = {
    val str = s.toString.toUpperCase(java.util.Locale.ROOT)
    def code(c: Char): Int = c match {
      case 'B' | 'F' | 'P' | 'V' => 1
      case 'C' | 'G' | 'J' | 'K' | 'Q' | 'S' | 'X' | 'Z' => 2
      case 'D' | 'T' => 3
      case 'L' => 4
      case 'M' | 'N' => 5
      case 'R' => 6
      case _ => 0
    }
    var i = 0
    while (i < str.length && !str.charAt(i).isLetter) i += 1
    if (i >= str.length) return UTF8String.fromString("")
    val first = str.charAt(i)
    val sb = new java.lang.StringBuilder(4)
    sb.append(first)
    var prev = code(first)
    i += 1
    while (i < str.length && sb.length < 4) {
      val c = str.charAt(i)
      if (c.isLetter) {
        val d = code(c)
        if (d > 0 && d != prev) sb.append(('0' + d).toChar)
        // H/W transparent: prev unchanged; vowels break runs
        if (c != 'H' && c != 'W') prev = d
      }
      i += 1
    }
    while (sb.length < 4) sb.append('0')
    UTF8String.fromString(sb.toString)
  }


  /** CH `initcap`: uppercase every letter that follows a non-
    * alphanumeric (CH's word rule — NOT whitespace-only like Spark's
    * builtin), lowercase the rest.
    */
  def initcapCh(s: UTF8String): UTF8String = {
    val str = s.toString
    val sb = new java.lang.StringBuilder(str.length)
    var prevAlnum = false
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      val alnum = Character.isLetterOrDigit(c)
      sb.append(
        if (alnum && !prevAlnum) Character.toUpperCase(c)
        else Character.toLowerCase(c))
      prevAlnum = alnum
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Offline IDNA (java.net.IDN — pure algorithm, no resolution);
    * NULL on inputs the algorithm rejects.
    */
  def idnaEncode(s: UTF8String): UTF8String =
    try UTF8String.fromString(java.net.IDN.toASCII(s.toString))
    catch { case _: IllegalArgumentException => null }

  def idnaDecode(s: UTF8String): UTF8String =
    try UTF8String.fromString(java.net.IDN.toUnicode(s.toString))
    catch { case _: IllegalArgumentException => null }
}

/** String-distance kernels backing the engine's fuzzy-matching
  * vocabulary (`clickhouse.com/docs/sql-reference/functions/
  * string-functions#editdistance` neighborhood): classical
  * Damerau–Levenshtein (WITH the alphabet table — adjacent
  * transpositions compose, `ca→abc` = 2, matching DuckDB's
  * `damerau_levenshtein` so the oracle replays directly), Jaro and
  * Jaro–Winkler similarities (standard definitions), and a
  * character-set Jaccard (documented deviation: CH's
  * `stringJaccardIndex` works on bytes; code-point sets replay in any
  * engine and treat UTF-8 text sanely). All pure, codegen'd, O(len²)
  * worst-case on the pair — per-row string ops, never corpus-shaped.
  */
object StrDistKernels {

  def damerauLevenshtein(a0: UTF8String, b0: UTF8String): Long = {
    val a = a0.toString
    val b = b0.toString
    val (n, m) = (a.length, b.length)
    if (n == 0) return m.toLong
    if (m == 0) return n.toLong
    val inf = n + m
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= n) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= m) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    val da = new java.util.HashMap[Char, Int]()
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val i1 = da.getOrDefault(b.charAt(j - 1), 0)
        val j1 = db
        var cost = 1
        if (a.charAt(i - 1) == b.charAt(j - 1)) { cost = 0; db = j }
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trans = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
        d(i + 1)(j + 1) = math.min(math.min(sub, ins),
          math.min(del, trans))
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    d(n + 1)(m + 1).toLong
  }

  def jaro(a0: UTF8String, b0: UTF8String): Double = {
    val a = a0.toString
    val b = b0.toString
    val (n, m) = (a.length, b.length)
    if (n == 0 && m == 0) return 1.0
    if (n == 0 || m == 0) return 0.0
    val window = math.max(math.max(n, m) / 2 - 1, 0)
    val ma = new Array[Boolean](n)
    val mb = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - window)
      val hi = math.min(m - 1, i + window)
      var j = lo
      var hit = false
      while (j <= hi && !hit) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; matches += 1; hit = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < n) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mm = matches.toDouble
    (mm / n + mm / m + (mm - t / 2.0) / mm) / 3.0
  }

  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val j = jaro(a, b)
    val (s1, s2) = (a.toString, b.toString)
    var l = 0
    val max = math.min(4, math.min(s1.length, s2.length))
    while (l < max && s1.charAt(l) == s2.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  /** Jaccard of the two strings' distinct code-point sets. */
  def charJaccard(a0: UTF8String, b0: UTF8String): Double = {
    val a = a0.toString.codePoints().toArray
    val b = b0.toString.codePoints().toArray
    val sa = a.toSet
    val sb = b.toSet
    val u = (sa ++ sb).size
    if (u == 0) 0.0 else (sa & sb).size.toDouble / u
  }
}

/** CH `toTypeName(x)`: the ClickHouse-vocabulary name of the
  * argument's type — introspection sugar for runbooks; resolves at
  * plan time (constant per column), CH names for the common types and
  * Spark's `simpleString` for anything exotic. Bespoke, not a
  * NativeCall: its value is a function of the child's type, not of a
  * row.
  */
case class ToTypeNameExpr(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "toTypeName"
  override def foldable: Boolean = true

  private def chName(t: DataType): String = t match {
    case org.apache.spark.sql.types.LongType => "Int64"
    case org.apache.spark.sql.types.IntegerType => "Int32"
    case org.apache.spark.sql.types.ShortType => "Int16"
    case org.apache.spark.sql.types.ByteType => "Int8"
    case DoubleType => "Float64"
    case org.apache.spark.sql.types.FloatType => "Float32"
    case StringType => "String"
    case org.apache.spark.sql.types.BooleanType => "Bool"
    case org.apache.spark.sql.types.DateType => "Date"
    case _: org.apache.spark.sql.types.TimestampType => "DateTime64"
    case d: org.apache.spark.sql.types.DecimalType =>
      s"Decimal(${d.precision}, ${d.scale})"
    case a: org.apache.spark.sql.types.ArrayType =>
      s"Array(${chName(a.elementType)})"
    case m: org.apache.spark.sql.types.MapType =>
      s"Map(${chName(m.keyType)}, ${chName(m.valueType)})"
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.map(f => chName(f.dataType))
        .mkString("Tuple(", ", ", ")")
    case other => other.simpleString
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    UTF8String.fromString(chName(child.dataType))

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}
