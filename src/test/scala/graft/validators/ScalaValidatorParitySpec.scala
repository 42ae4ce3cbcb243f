package graft.validators

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** Cross-check: the JVM-side validators ([[ScalaValidators]], used by the
  * native ValidateSpans expression) agree with the Column validators
  * ([[XsdColumnOracle]], the reference-parity implementation) on randomized
  * and corpus inputs for every datatype.
  */
class ScalaValidatorParitySpec extends SparkTestBase {

  private val samples: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val corpus = Seq(
      "", "0", "1", "-1", "+3", "122", "3.0", "-.3", "0003.0", "3,5",
      "4294967295", "4294967296", "18446744073709551615", "18446744073709551620",
      "-9223372036854775808", "9223372036854775807", "NaN", "INF", "-INF", "NAN",
      "-3E2", "12E", "1997", "1997-07-16T19:20:30.45+01:00", "1997 06 24",
      "2004-04-12T13:20:00Z", "http://datypic.com", "urn:example:org",
      "http://datypic.com#f% rag", "true", "false", "TRUE", "T",
      "0FB8", "0fb8", "FB8", "en", "en-GB", "longerThan8", "myElement",
      "pre:myelement3", "-myelement", "ABCD", "contains a space",
      "This is a string!", "AT&T", "3 < 4", "PB&amp;J", "Family Guy@en",
      "Family Guy@12", "dGhpcyBpcyBhIHRlc3Q=", "dGhpcyBpcyBhIHRlc3Q-",
      // decimal(38,0) precision edge: 38 digits fit, 39 overflow, and
      // leading zeros don't count toward precision
      "9" * 38, "9" * 39, "-" + "9" * 38, "-" + "9" * 39, "0" * 39, "0" * 5 + "1" * 38,
      // a non-MULTILINE `$` also matches before one final line terminator
      "en\n", "en-GB\r\n", "en\r", "en\u0085", "en\u2028", "en\u2029",
      "en\n\n", "en\n\r", "\n", "en-\n", "e\nn")
    val fuzz = (0 until 200).map { _ =>
      val len = rnd.nextInt(12)
      (0 until len).map(_ => "0123456789+-.eEazAZ:# @<&".charAt(rnd.nextInt(25))).mkString
    }
    corpus ++ fuzz
  }

  test("language: a final line terminator is accepted as the Column form's rlike accepts it") {
    val session = spark
    import session.implicits._
    val lang = graft.model.SchemaDef.XSD + "language"
    val cases = Seq("en" -> true, "en\n" -> true, "en-GB\r\n" -> true,
      "en\r" -> true, "en\u2028" -> true, "en\n\n" -> false, "en\n\r" -> false,
      "\n" -> false, "en-\n" -> false, "e\nn" -> false)
    val column = cases.map(_._1).toDF("v")
      .select(XsdColumnOracle.byDatatype(lang)(col("v"))).collect().map(_.getBoolean(0))
    cases.lazyZip(column).foreach { case ((v, want), c) =>
      assert(c == want, s"column form on ${v.map(_.toInt)}")
      assert(ScalaValidators.forDatatype(lang)(v) == want, s"scala form on ${v.map(_.toInt)}")
    }
  }

  test("ScalaValidators == XsdValidators on corpus + fuzz inputs, all datatypes") {
    val session = spark
    import session.implicits._
    val df = samples.toDF("v")
    XsdColumnOracle.byDatatype.foreach { case (dt, colFn) =>
      val colResults = df.select(colFn(col("v"))).collect()
        .map(r => !r.isNullAt(0) && r.getBoolean(0))
      val scalaFn = ScalaValidators.forDatatype(dt)
      val scalaResults = samples.map(scalaFn)
      samples.lazyZip(colResults).lazyZip(scalaResults).foreach { (v, c, s) =>
        assert(c == s, s"$dt('$v'): column=$c scala=$s")
      }
    }
  }
}
