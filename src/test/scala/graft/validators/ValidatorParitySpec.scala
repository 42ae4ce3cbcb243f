package graft.validators

import graft.SparkTestBase
import graft.model.FacetDef
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's inline validator self-test (Check.php:955-1227) ported
  * verbatim as the ground-truth parity corpus: every (validator, literal,
  * expected) triple below is a line of that self-test. Evaluated in a single
  * Spark job over one DataFrame so the suite stays fast.
  */
class ValidatorParitySpec extends SparkTestBase {

  // (validator key, valid literals, invalid literals) — Check.php line cites
  // in comments.
  private val corpus: Seq[(String, Seq[String], Seq[String])] = Seq(
    // :958-962
    ("unsignedInt", Seq("0", "1", "4294967295"), Seq("-1", "4294967296")),
    // :965-966
    ("base64Binary", Seq("dGhpcyBpcyBhIHRlc3Q="), Seq("dGhpcyBpcyBhIHRlc3Q-")),
    // :969-978
    ("dateTime",
      Seq("1997", "1997-07", "1997-07-16", "1997-07-16T19:20+01:00",
        "1997-07-16T19:20:30+01:00", "1997-07-16T19:20:30.45+01:00"),
      Seq("1997-07-", "19", "1997 06 24", "")),
    // :981-989
    ("dateTimeStamp",
      Seq("2004-04-12T13:20:00-05:00", "2004-04-12T13:20:00Z"),
      Seq("2004-04-12T13:20:00", "2004-04-12T13:00Z", "2004-04-12Z",
        "1997-07-", "19", "1997 06 24", "")),
    // :992-998
    ("anyURI",
      Seq("http://datypic.com", "mailto:info@datypic.com",
        "http://datypic.com/prod.html#shirt", "urn:example:org"),
      Seq("http://datypic.com#frag1#frag2", "http://datypic.com#f% rag", "")),
    // :1001-1007
    ("boolean", Seq("true", "false", "0", "1"), Seq("TRUE", "T", "")),
    // :1010-1015
    ("byte", Seq("+3", "122", "0", "-123"), Seq("130", "3.0")),
    // :1018-1023
    ("unsignedByte", Seq("+3", "122", "0"), Seq("-123", "256", "3.0")),
    // :1026-1033
    ("decimal", Seq("3.0", "-3.0", "+3.5", ".3", "-.3", "0003.0", "3.000"), Seq("3,5")),
    // :1036-1046
    ("double",
      Seq("-3E2", "4268.22752E11", "+24.3e-3", "12", "+3.5", "-INF", "-0", "NaN"),
      Seq("-3E2.4", "12E", "NAN")),
    // :1049-1059
    ("float",
      Seq("-3E2", "4268.22752E11", "+24.3e-3", "12", "+3.5", "-INF", "-0", "NaN"),
      Seq("-3E2.4", "12E", "NAN")),
    // :1062-1068
    ("int", Seq("+3", "122", "0", "-12312"), Seq("2147483650", "-2147483650", "3.0")),
    // :1071-1077
    ("integer", Seq("+3", "122", "0", "-12312", "2147483650", "-2147483650"), Seq("3.0")),
    // :1080-1084
    ("nonNegativeInteger", Seq("+3", "122", "0"), Seq("-3", "3.0")),
    // :1087-1090
    ("nonPositiveInteger", Seq("-3", "0"), Seq("3", "3.0")),
    // :1093-1098
    ("positiveInteger", Seq("+3", "122", "1"), Seq("0", "-3", "3.0")),
    // :1101-1105
    ("negativeInteger", Seq("-3", "-1"), Seq("0", "3", "3.0")),
    // :1108-1114
    ("short", Seq("+3", "122", "0", "-1213"), Seq("32770", "-32770", "3.0")),
    // :1117-1122
    ("unsignedShort", Seq("+3", "122", "0"), Seq("-121", "65540", "3.0")),
    // :1125-1131
    ("long", Seq("+3", "122", "0", "-1231235555"),
      Seq("9223372036854775810", "-9223372036854775810", "3.0")),
    // :1134-1139
    ("unsignedLong", Seq("+3", "122", "0"), Seq("-123", "18446744073709551620", "3.0")),
    // :1142-1145
    ("hexBinary", Seq("0FB8", "0fb8"), Seq("FB8", "0G")),
    // :1148-1154
    ("language", Seq("en", "en-GB", "fr", "de", "i-navajo", "x-Newspeak"),
      Seq("longerThan8")),
    // :1157-1162
    ("Name", Seq("myElement", "_my.Element", "my-element", "pre:myelement3"),
      Seq("-myelement", "3rdElement")),
    // :1165-1170
    ("NCName", Seq("myElement", "_my.Element", "my-element"),
      Seq("pre:myelement3", "-myelement", "3rdElement")),
    // :1173-1177
    ("NMTOKEN", Seq("ABCD", "123_456", "  starts_with_a_space"),
      Seq("contains a space", "")),
    // :1180-1187
    ("string",
      Seq("This is a string!", "12.5", "", "PB&amp;J",
        "   Separated   by   3   spaces.", "This\nis on two lines."),
      Seq("AT&T", "3 < 4")),
    // :1190-1197
    ("XMLLiteral",
      Seq("This is a string!", "12.5", "", "PB&amp;J",
        "   Separated   by   3   spaces.", "This\nis on two lines."),
      Seq("AT&T", "3 < 4")),
    // :1200-1207
    ("token",
      Seq("This is a string!", "12.5", "", "PB&amp;J",
        "   Separated   by   3   spaces.", "This\nis on two lines."),
      Seq("AT&T", "3 < 4")),
    // :1210-1217
    ("normalizedString",
      Seq("This is a string!", "12.5", "", "PB&amp;J",
        "   Separated   by   3   spaces.", "This\nis on two lines."),
      Seq("AT&T", "3 < 4")),
    // :1220-1226
    ("PlainLiteral",
      Seq("Family Guy@en", "Family Guy@EN", "Family Guy@FOX@en", "Family Guy@",
        "Family Guy@FOX@"),
      Seq("Family Guy", "Family Guy@12"))
  )

  private val fns: Map[String, Column => Column] = Map(
    "unsignedInt" -> XsdColumnOracle.unsignedInt _,
    "base64Binary" -> XsdColumnOracle.base64Binary _,
    "dateTime" -> XsdColumnOracle.dateTime _,
    "dateTimeStamp" -> XsdColumnOracle.dateTimeStamp _,
    "anyURI" -> XsdColumnOracle.anyURI _,
    "boolean" -> XsdColumnOracle.boolean _,
    "byte" -> XsdColumnOracle.byteT _,
    "unsignedByte" -> XsdColumnOracle.unsignedByte _,
    "decimal" -> XsdColumnOracle.decimalT _,
    "double" -> XsdColumnOracle.doubleT _,
    "float" -> XsdColumnOracle.floatT _,
    "int" -> XsdColumnOracle.intT _,
    "integer" -> XsdColumnOracle.integer _,
    "nonNegativeInteger" -> XsdColumnOracle.nonNegativeInteger _,
    "nonPositiveInteger" -> XsdColumnOracle.nonPositiveInteger _,
    "positiveInteger" -> XsdColumnOracle.positiveInteger _,
    "negativeInteger" -> XsdColumnOracle.negativeInteger _,
    "short" -> XsdColumnOracle.shortT _,
    "unsignedShort" -> XsdColumnOracle.unsignedShort _,
    "long" -> XsdColumnOracle.longT _,
    "unsignedLong" -> XsdColumnOracle.unsignedLong _,
    "hexBinary" -> XsdColumnOracle.hexBinary _,
    "language" -> XsdColumnOracle.language _,
    "Name" -> XsdColumnOracle.nameT _,
    "NCName" -> XsdColumnOracle.ncName _,
    "NMTOKEN" -> XsdColumnOracle.nmtoken _,
    "string" -> XsdColumnOracle.stringT _,
    "XMLLiteral" -> XsdColumnOracle.xmlLiteral _,
    "token" -> XsdColumnOracle.token _,
    "normalizedString" -> XsdColumnOracle.normalizedString _,
    "PlainLiteral" -> XsdColumnOracle.plainLiteral _
  )

  test("validator parity corpus (Check.php:955-1227) passes in one Spark job") {
    val session = spark
    import session.implicits._
    val cases = corpus.flatMap { case (v, valids, invalids) =>
      valids.map(s => (v, s, true)) ++ invalids.map(s => (v, s, false))
    }
    val df = cases.toDF("validator", "value", "expected")
    // One CASE-WHEN dispatch over all validators → single collect.
    val dispatch = fns.foldLeft(lit(null).cast("boolean")) {
      case (acc, (name, fn)) => when($"validator" === name, fn($"value")).otherwise(acc)
    }
    val rows = df.withColumn("actual", dispatch)
      .select($"validator", $"value", $"expected", $"actual")
      .collect()
    val failures = rows.filter(r => r.isNullAt(3) || r.getBoolean(2) != r.getBoolean(3))
    assert(failures.isEmpty,
      "corpus mismatches:\n" + failures.map(r =>
        s"  ${r.getString(0)}('${r.getString(1)}') expected=${r.getBoolean(2)} " +
          s"actual=${if (r.isNullAt(3)) "null" else r.getBoolean(3)}").mkString("\n"))
    assert(rows.length == cases.size)
  }

  test("anySimpleType accepts everything (Check.php:489-493)") {
    val session = spark
    import session.implicits._
    val df = Seq("anything", "", "<>&").toDF("value")
    val n = df.filter(XsdColumnOracle.anySimpleType($"value")).count()
    assert(n == 3)
  }

  test("XSP facet validator: conjunction of base, pattern, bounds, length (Check.php:559-953)") {
    val session = spark
    import session.implicits._
    val df = Seq("5", "15", "abc", "5x").toDF("value")

    val bounded = FacetDef("dt:bounded", base = "http://www.w3.org/2001/XMLSchema#integer",
      minInclusive = "0", maxExclusive = "10")
    val got = df.withColumn("ok", XsdColumnOracle.facet(bounded)($"value"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == Map("5" -> true, "15" -> false, "abc" -> false, "5x" -> false))

    val patterned = FacetDef("dt:pat", pattern = "^[a-z]+$", minLength = 2, maxLength = 3)
    val got2 = df.withColumn("ok", XsdColumnOracle.facet(patterned)($"value"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got2 == Map("5" -> false, "15" -> false, "abc" -> true, "5x" -> false))

    val exactLen = FacetDef("dt:len", length = 2)
    val got3 = df.withColumn("ok", XsdColumnOracle.facet(exactLen)($"value"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got3 == Map("5" -> false, "15" -> true, "abc" -> false, "5x" -> true))
  }
}
