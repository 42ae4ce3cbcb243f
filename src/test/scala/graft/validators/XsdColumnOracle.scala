package graft.validators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.{FacetDef, SchemaDef}
import XsdValidators._

/** The lexical validators of [[XsdValidators]]' datatypes as pure `Column`
  * predicate builders over built-in expressions (`rlike`, `try_cast`,
  * `isin`, `unbase64`) — the reference-parity formulation the engine's
  * [[ScalaValidators]] are compared against (ScalaValidatorParitySpec),
  * itself pinned to the reference's own corpus (ValidatorParitySpec).
  *
  * `rlike` returns NULL, not false, on a NULL input: callers that need a
  * verdict must null-guard (`coalesce(valid(x), lit(false))`).
  */
object XsdColumnOracle {

  private def intInRange(c: Column, lo: String, hi: String): Column = {
    val d = c.try_cast("decimal(38,0)")
    c.rlike(IntegerRegex) && d.isNotNull &&
      d >= lit(new java.math.BigDecimal(lo)) && d <= lit(new java.math.BigDecimal(hi))
  }

  def dateTime(c: Column): Column = c.rlike(DateTimeRegex)
  def dateTimeStamp(c: Column): Column =
    c.rlike(DateTimeRegex) && c.rlike(DateTimeStampRegex)
  def anyURI(c: Column): Column = c.rlike(AnyUriRegex)
  def boolean(c: Column): Column = c.isin("true", "false", "0", "1")
  def decimalT(c: Column): Column = c.rlike(DecimalRegex)
  def doubleT(c: Column): Column = c.isin("NaN", "INF", "-INF") || c.rlike(NumericRegex)
  def floatT(c: Column): Column = doubleT(c)
  def integer(c: Column): Column = c.rlike(IntegerRegex) && c.try_cast("decimal(38,0)").isNotNull
  def byteT(c: Column): Column = intInRange(c, "-128", "127")
  def unsignedByte(c: Column): Column = intInRange(c, "0", "255")
  def shortT(c: Column): Column = intInRange(c, "-32768", "32767")
  def unsignedShort(c: Column): Column = intInRange(c, "0", "65535")
  def intT(c: Column): Column = intInRange(c, "-2147483648", "2147483647")
  def unsignedInt(c: Column): Column = intInRange(c, "0", "4294967295")
  def longT(c: Column): Column = intInRange(c, "-9223372036854775808", "9223372036854775807")
  def unsignedLong(c: Column): Column = intInRange(c, "0", "18446744073709551615")
  def nonNegativeInteger(c: Column): Column = integer(c) && c.try_cast("decimal(38,0)") >= 0
  def nonPositiveInteger(c: Column): Column = integer(c) && c.try_cast("decimal(38,0)") <= 0
  def positiveInteger(c: Column): Column = integer(c) && c.try_cast("decimal(38,0)") >= 1
  def negativeInteger(c: Column): Column = integer(c) && c.try_cast("decimal(38,0)") <= -1
  def hexBinary(c: Column): Column = c.rlike(HexBinaryRegex)

  /** Decode-reencode equivalence, mirroring Check.php:102-112 (PHP's lenient
    * base64_decode followed by strict re-encode): non-canonical input fails
    * the round-trip. Short-circuits on the shape guard.
    */
  def base64Binary(c: Column): Column =
    c.rlike(Base64ShapeRegex) && base64(unbase64(c)) === c

  def language(c: Column): Column = c.rlike(LanguageRegex)
  def nameT(c: Column): Column = c.rlike(NameRegex)
  def ncName(c: Column): Column = c.rlike(NCNameRegex)
  def nmtoken(c: Column): Column = c.rlike(NmtokenRegex)
  def stringT(c: Column): Column = c.rlike(XmlTextRegex)
  def token(c: Column): Column = c.rlike(XmlTextRegex)
  def normalizedString(c: Column): Column = c.rlike(XmlTextRegex)
  def xmlLiteral(c: Column): Column = stringT(c)
  def plainLiteral(c: Column): Column = c.rlike(PlainLiteralRegex)
  def anySimpleType(c: Column): Column = lit(true)

  /** Datatype-URI → validator dispatch, covering every case of the
    * reference's switch (Check.php:618-843 and the per-check dispatch in
    * CheckDatatypePropertiesDatatype.php:238-480). Unknown datatypes fall
    * back to anySimpleType (always valid), as the reference's `default` does.
    */
  val byDatatype: Map[String, Column => Column] = {
    val x = SchemaDef.XSD
    val r = SchemaDef.RDF
    Map(
      x + "base64Binary" -> base64Binary _,
      x + "boolean" -> boolean _,
      x + "byte" -> byteT _,
      x + "dateTimeStamp" -> dateTimeStamp _,
      x + "dateTime" -> dateTime _,
      x + "decimal" -> decimalT _,
      x + "double" -> doubleT _,
      x + "float" -> floatT _,
      x + "hexBinary" -> hexBinary _,
      x + "int" -> intT _,
      x + "integer" -> integer _,
      x + "language" -> language _,
      x + "long" -> longT _,
      x + "Name" -> nameT _,
      x + "NCName" -> ncName _,
      x + "negativeInteger" -> negativeInteger _,
      x + "NMTOKEN" -> nmtoken _,
      x + "nonNegativeInteger" -> nonNegativeInteger _,
      x + "nonPositiveInteger" -> nonPositiveInteger _,
      x + "normalizedString" -> normalizedString _,
      r + "PlainLiteral" -> plainLiteral _,
      x + "positiveInteger" -> positiveInteger _,
      x + "short" -> shortT _,
      x + "string" -> stringT _,
      x + "token" -> token _,
      x + "unsignedByte" -> unsignedByte _,
      x + "unsignedInt" -> unsignedInt _,
      x + "unsignedLong" -> unsignedLong _,
      x + "unsignedShort" -> unsignedShort _,
      r + "XMLLiteral" -> xmlLiteral _,
      x + "anyURI" -> anyURI _,
      x + "anySimpleType" -> anySimpleType _
    )
  }

  /** Validator for a datatype URI; unknown URIs validate as anySimpleType. */
  def forDatatype(datatype: String): Column => Column =
    byDatatype.getOrElse(datatype, anySimpleType _)

  /** XSP facet-constrained custom datatype (Check.php:559-953) as a single
    * composed predicate. Semantics: conjunction of base-type validity,
    * pattern, numeric bounds (which imply decimal validity) and length
    * facets. (Deviation from the reference's first-facet-wins control flow
    * and its `length`-reads-`maxLength` bug, Check.php:849-951.)
    */
  def facet(f: FacetDef)(c: Column): Column = {
    var p: Column = if (f.base != null) forDatatype(f.base)(c) else lit(true)
    if (f.pattern != null) p = p && c.rlike(f.pattern)
    val hasNum = f.minInclusive != null || f.maxInclusive != null ||
      f.minExclusive != null || f.maxExclusive != null
    if (hasNum) {
      val d = c.try_cast("decimal(38,10)")
      p = p && c.rlike(DecimalRegex) && d.isNotNull
      if (f.minInclusive != null) p = p && d >= lit(f.minInclusive)
      if (f.minExclusive != null) p = p && d > lit(f.minExclusive)
      if (f.maxInclusive != null) p = p && d <= lit(f.maxInclusive)
      if (f.maxExclusive != null) p = p && d < lit(f.maxExclusive)
    }
    if (f.minLength != null) p = p && length(c) >= f.minLength.intValue()
    if (f.maxLength != null) p = p && length(c) <= f.maxLength.intValue()
    if (f.length != null) p = p && length(c) === f.length.intValue()
    p
  }
}
