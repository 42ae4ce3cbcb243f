package graft.validators

import java.util.regex.Pattern
import graft.model.{FacetDef, SchemaDef}

/** The engine's lexical validators, (String => Boolean) over the regex
  * constants of [[XsdValidators]] — used by the native single-pass
  * validation expression ([[graft.functions.ValidateSpans]]), where a
  * compiled `String => Boolean` beats an interpreted Catalyst lambda tree
  * by an order of magnitude. Their reference oracle is the Column
  * formulation kept with the tests (`XsdColumnOracle`): parity is asserted
  * by `ValidatorParitySpec` (reference corpus) and
  * `ScalaValidatorParitySpec` (cross-check on randomized inputs).
  */
object ScalaValidators {

  /** Serializable regex validator with per-thread Matcher reuse: Matcher
    * allocation per call was measurable at ~8M validator calls per
    * validation pass; reset() keeps semantics. The ThreadLocal (not
    * serializable) is rebuilt lazily after deserialization on each
    * executor.
    */
  private final class RxFn(pattern: String) extends (String => Boolean)
      with Serializable {
    @transient private lazy val tl: ThreadLocal[java.util.regex.Matcher] = {
      val p = Pattern.compile(pattern)
      new ThreadLocal[java.util.regex.Matcher] {
        override def initialValue(): java.util.regex.Matcher = p.matcher("")
      }
    }
    def apply(s: String): Boolean = tl.get().reset(s).find()
  }

  private def rx(pattern: String): String => Boolean = new RxFn(pattern)

  // ---- fast paths (round-9) ----------------------------------------------
  // Each fast accept below PROVABLY lies inside the corresponding regex's
  // accepted language, so `fast(s) || regex(s)` computes exactly the regex
  // verdict while skipping the engine for the overwhelmingly common shapes
  // (measured: anyURI 5.9 us/call, dateTime 1.4 us/call through
  // java.util.regex — the two dominate the native validation pass's
  // per-span cost). Parity is asserted by ScalaValidatorParitySpec.

  @inline private def isDig(c: Char): Boolean = c >= '0' && c <= '9'
  @inline private def isAl(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  /** RFC-3986 `unreserved` (ASCII) — a subset of both `reg-name` and
    * `pchar` in [[XsdValidators.AnyUriRegex]].
    */
  @inline private def isUnreserved(c: Char): Boolean =
    isAl(c) || isDig(c) || c == '-' || c == '.' || c == '_' || c == '~'

  /** `scheme "://" host [":" port] ("/" segment)*` over unreserved ASCII —
    * strictly inside AnyUriRegex's language (scheme = alpha
    * (alnum|+|-|.)*, host ⊆ reg-name, segments ⊆ pchar*, no query or
    * fragment). Anything else falls back to the full regex.
    */
  private def uriFast(s: String): Boolean = {
    val n = s.length
    if (n < 4 || !isAl(s.charAt(0))) return false
    var i = 1
    while (i < n && (isAl(s.charAt(i)) || isDig(s.charAt(i)) ||
      s.charAt(i) == '+' || s.charAt(i) == '-' || s.charAt(i) == '.')) i += 1
    if (i + 2 >= n || s.charAt(i) != ':' || s.charAt(i + 1) != '/' ||
      s.charAt(i + 2) != '/') return false
    i += 3
    val host0 = i
    while (i < n && isUnreserved(s.charAt(i))) i += 1
    if (i == host0) return false
    if (i < n && s.charAt(i) == ':') {
      i += 1
      while (i < n && isDig(s.charAt(i))) i += 1
    }
    while (i < n && s.charAt(i) == '/') {
      i += 1
      while (i < n && isUnreserved(s.charAt(i))) i += 1
    }
    i == n
  }

  /** Canonical `YYYY-MM-DDTHH:MM:SS(.f+)?(Z|±HH:MM)?` with the exact range
    * constraints DateTimeRegex imposes (MM 01-12, DD 01-31, HH 00-23,
    * MI/SS 00-59, TZ hours 00-23) — strictly inside its language (the
    * regex has no month-length or leap logic either). Anything else falls
    * back.
    */
  private def dateTimeFast(s: String): Boolean = {
    val n = s.length
    if (n < 19) return false
    def d(i: Int): Boolean = { val c = s.charAt(i); c >= '0' && c <= '9' }
    def v2(i: Int): Int = (s.charAt(i) - '0') * 10 + (s.charAt(i + 1) - '0')
    if (!(d(0) && d(1) && d(2) && d(3) && s.charAt(4) == '-' &&
      d(5) && d(6) && s.charAt(7) == '-' && d(8) && d(9))) return false
    val mm = v2(5); val dd = v2(8)
    if (mm < 1 || mm > 12 || dd < 1 || dd > 31) return false
    if (s.charAt(10) != 'T') return false
    if (!(d(11) && d(12) && s.charAt(13) == ':' && d(14) && d(15) &&
      s.charAt(16) == ':' && d(17) && d(18))) return false
    if (v2(11) > 23 || v2(14) > 59 || v2(17) > 59) return false
    var i = 19
    if (i < n && s.charAt(i) == '.') {
      i += 1
      val f0 = i
      while (i < n && d(i)) i += 1
      if (i == f0) return false
    }
    if (i == n) return true
    val c = s.charAt(i)
    if (c == 'Z' || c == 'z') return i + 1 == n
    if ((c == '+' || c == '-') && n - i == 6) {
      if (!(d(i + 1) && d(i + 2) && s.charAt(i + 3) == ':' &&
        d(i + 4) && d(i + 5))) return false
      return v2(i + 1) <= 23 && v2(i + 4) <= 59
    }
    false
  }

  /** No '<' and no '&' anywhere — every char then matches XmlTextRegex's
    * `[^<&]` branch, so the full string is in its language.
    */
  private def xmlTextFast(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' || c == '&') return false
      i += 1
    }
    true
  }

  /** EXACT hand evaluation of LanguageRegex
    * (`^[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*$`) under `find()` — full
    * equivalence, no fallback needed (ScalaValidatorParitySpec fuzzes it
    * against the pattern). Without MULTILINE, `$` also matches before ONE
    * final line terminator (`\r\n`, `\n`, `\r`, `\u0085`, `\u2028`,
    * `\u2029`), as PCRE's `$` does before a final `\n`: "en\n" is a
    * language tag to the Column form and the reference alike.
    */
  private def languageExact(s: String): Boolean = {
    val n = s.length - finalTerminatorLength(s)
    var i = 0
    var first = true
    while (i <= n) {
      var len = 0
      while (i < n && s.charAt(i) != '-') {
        val c = s.charAt(i)
        if (!(isAl(c) || (!first && isDig(c)))) return false
        len += 1; i += 1
      }
      if (len < 1 || len > 8) return false
      if (i == n) return true
      i += 1 // skip '-'
      first = false
    }
    false
  }

  /** Length of the line terminator that ends `s` (0 when none) — where a
    * non-MULTILINE `$` may match besides the end of input.
    */
  private def finalTerminatorLength(s: String): Int = {
    val n = s.length
    if (n >= 2 && s.charAt(n - 2) == '\r' && s.charAt(n - 1) == '\n') 2
    else if (n >= 1 && "\n\r\u0085\u2028\u2029".indexOf(s.charAt(n - 1).toInt) >= 0) 1
    else 0
  }

  private val dateTimeRx = rx(XsdValidators.DateTimeRegex)
  private val dateTimeStampRx = rx(XsdValidators.DateTimeStampRegex)
  private val anyUriRx = rx(XsdValidators.AnyUriRegex)
  private val decimalRx = rx(XsdValidators.DecimalRegex)
  private val numericRx = rx(XsdValidators.NumericRegex)
  private val integerRx = rx(XsdValidators.IntegerRegex)
  private val hexRx = rx(XsdValidators.HexBinaryRegex)
  private val languageRx = rx(XsdValidators.LanguageRegex)
  private val nameRx = rx(XsdValidators.NameRegex)
  private val ncNameRx = rx(XsdValidators.NCNameRegex)
  private val nmtokenRx = rx(XsdValidators.NmtokenRegex)
  private val plainLiteralRx = rx(XsdValidators.PlainLiteralRegex)
  private val xmlTextRx = rx(XsdValidators.XmlTextRegex)

  private def intInRange(lo: BigDecimal, hi: BigDecimal): String => Boolean = {
    // long-clamped bounds for the fast path: every bound in the XSD table
    // is an integer, so for |digits| <= 18 the long comparison equals the
    // BigDecimal one (bounds outside long clamp to +-Long.Max/Min, which
    // any 18-digit value trivially satisfies on that side)
    val loL: Long =
      if (lo.isValidLong) lo.toLong
      else if (lo < 0) Long.MinValue else Long.MaxValue
    val hiL: Long =
      if (hi.isValidLong) hi.toLong
      else if (hi > 0) Long.MaxValue else Long.MinValue
    s => {
      val n = s.length
      var i = 0
      var neg = false
      if (n > 0 && (s.charAt(0) == '+' || s.charAt(0) == '-')) {
        neg = s.charAt(0) == '-'; i = 1
      }
      val digits = n - i
      var fast = 0 // 0 = slow path, 1 = accept, -1 = reject
      if (digits >= 1 && digits <= 18) {
        var v = 0L
        var ok = true
        var j = i
        while (j < n && ok) {
          val c = s.charAt(j)
          if (c < '0' || c > '9') ok = false else { v = v * 10 + (c - '0'); j += 1 }
        }
        if (ok) {
          val x = if (neg) -v else v
          fast = if (x >= loL && x <= hiL) 1 else -1
        }
      }
      if (fast != 0) fast == 1
      else integerRx(s) && {
        try { val v = BigDecimal(s); v >= lo && v <= hi }
        catch { case _: NumberFormatException => false }
      }
    }
  }

  /** Precision cap 38 mirrors the Column oracle's `try_cast(decimal(38,0))`
    * (`XsdColumnOracle.integer`): both paths reject integers whose significant
    * digits exceed Spark's max decimal precision.
    */
  val integer: String => Boolean = { s =>
    // fast path: signed pure-digit strings of <= 18 digits always have
    // precision <= 18 <= 38 and match IntegerRegex
    val n = s.length
    val i0 = if (n > 0 && (s.charAt(0) == '+' || s.charAt(0) == '-')) 1 else 0
    var i = i0
    while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
    if (i == n && n - i0 >= 1 && n - i0 <= 18) true
    else integerRx(s) && (try { BigDecimal(s).precision <= 38 }
      catch { case _: NumberFormatException => false })
  }

  val boolean: String => Boolean = Set("true", "false", "0", "1")

  val doubleT: String => Boolean = s =>
    s == "NaN" || s == "INF" || s == "-INF" || numericRx(s)

  private val base64ShapeRx = rx(XsdValidators.Base64ShapeRegex)

  /** Decode-reencode equivalence matching the Column oracle exactly
    * (shape guard + MIME decode + strict re-encode) — Check.php:102-112.
    */
  val base64Binary: String => Boolean = { s =>
    base64ShapeRx(s) && (
      try java.util.Base64.getEncoder.encodeToString(
        java.util.Base64.getMimeDecoder.decode(s)) == s
      catch { case _: IllegalArgumentException => false })
  }

  val byDatatype: Map[String, String => Boolean] = {
    val x = SchemaDef.XSD
    val r = SchemaDef.RDF
    Map(
      x + "base64Binary" -> base64Binary,
      x + "boolean" -> boolean,
      x + "byte" -> intInRange(-128, 127),
      x + "dateTimeStamp" -> (s => (dateTimeFast(s) || dateTimeRx(s)) && dateTimeStampRx(s)),
      x + "dateTime" -> (s => dateTimeFast(s) || dateTimeRx(s)),
      x + "decimal" -> decimalRx,
      x + "double" -> doubleT,
      x + "float" -> doubleT,
      x + "hexBinary" -> hexRx,
      x + "int" -> intInRange(-2147483648L, 2147483647L),
      x + "integer" -> integer,
      x + "language" -> languageExact _,
      x + "long" -> intInRange(BigDecimal("-9223372036854775808"), BigDecimal("9223372036854775807")),
      x + "Name" -> nameRx,
      x + "NCName" -> ncNameRx,
      x + "negativeInteger" -> (s => integer(s) && BigDecimal(s) <= -1),
      x + "NMTOKEN" -> nmtokenRx,
      x + "nonNegativeInteger" -> (s => integer(s) && BigDecimal(s) >= 0),
      x + "nonPositiveInteger" -> (s => integer(s) && BigDecimal(s) <= 0),
      x + "normalizedString" -> (s => xmlTextFast(s) || xmlTextRx(s)),
      r + "PlainLiteral" -> plainLiteralRx,
      x + "positiveInteger" -> (s => integer(s) && BigDecimal(s) >= 1),
      x + "short" -> intInRange(-32768, 32767),
      x + "string" -> (s => xmlTextFast(s) || xmlTextRx(s)),
      x + "token" -> (s => xmlTextFast(s) || xmlTextRx(s)),
      x + "unsignedByte" -> intInRange(0, 255),
      x + "unsignedInt" -> intInRange(0, 4294967295L),
      x + "unsignedLong" -> intInRange(0, BigDecimal("18446744073709551615")),
      x + "unsignedShort" -> intInRange(0, 65535),
      r + "XMLLiteral" -> (s => xmlTextFast(s) || xmlTextRx(s)),
      x + "anyURI" -> (s => uriFast(s) || anyUriRx(s)),
      x + "anySimpleType" -> (_ => true)
    )
  }

  def forDatatype(dt: String): String => Boolean =
    byDatatype.getOrElse(dt, _ => true)

  /** XSP facet conjunction — same semantics as `XsdColumnOracle.facet`. */
  def facet(f: FacetDef): String => Boolean = {
    val base: String => Boolean = if (f.base != null) forDatatype(f.base) else _ => true
    val pat: String => Boolean =
      if (f.pattern != null) rx(f.pattern) else _ => true
    val hasNum = f.minInclusive != null || f.maxInclusive != null ||
      f.minExclusive != null || f.maxExclusive != null
    s => {
      var ok = base(s) && pat(s)
      if (ok && hasNum) {
        // digit fast path: <=18 pure digits are in DecimalRegex's language
        // and BigDecimal.valueOf(long) equals new BigDecimal(s) for them
        var fastV = -1L
        if (s.length >= 1 && s.length <= 18) {
          var j = 0
          var allDig = true
          var v = 0L
          while (j < s.length && allDig) {
            val c = s.charAt(j)
            if (c < '0' || c > '9') allDig = false else { v = v * 10 + (c - '0'); j += 1 }
          }
          if (allDig) fastV = v
        }
        ok = (fastV >= 0 || decimalRx(s)) && {
          try {
            val v = if (fastV >= 0) java.math.BigDecimal.valueOf(fastV)
                    else new java.math.BigDecimal(s)
            (f.minInclusive == null || v.compareTo(f.minInclusive) >= 0) &&
              (f.minExclusive == null || v.compareTo(f.minExclusive) > 0) &&
              (f.maxInclusive == null || v.compareTo(f.maxInclusive) <= 0) &&
              (f.maxExclusive == null || v.compareTo(f.maxExclusive) < 0)
          } catch { case _: NumberFormatException => false }
        }
      }
      if (ok && f.minLength != null) ok = s.length >= f.minLength.intValue()
      if (ok && f.maxLength != null) ok = s.length <= f.maxLength.intValue()
      if (ok && f.length != null) ok = s.length == f.length.intValue()
      ok
    }
  }

  /** Facet-aware dispatch: a datatype the schema defines by facets
    * validates through [[facet]], any other through [[forDatatype]].
    */
  def validatorFor(schema: SchemaDef, dt: String): String => Boolean =
    schema.facets.find(_.datatype == dt) match {
      case Some(f) => facet(f)
      case None => forDatatype(dt)
    }
}
