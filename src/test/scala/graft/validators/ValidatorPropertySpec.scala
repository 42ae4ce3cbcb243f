package graft.validators

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

/** Property-based validator tests (SURVEY.md §5 plan item 2): generators
  * produce valid-by-construction lexical forms (validator must accept) and
  * targeted mutations (validator must reject). Spark evaluation is batched:
  * properties collect cases, one job evaluates them.
  */
class ValidatorPropertySpec extends SparkTestBase {

  private def evalAll(fn: Column => Column, values: Seq[String]): Seq[Boolean] = {
    val session = spark
    import session.implicits._
    values.toDF("v").select(fn(col("v"))).collect().map(r => !r.isNullAt(0) && r.getBoolean(0)).toSeq
  }

  private def genCases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L + i)))

  test("integer family: canonical forms accepted, decorated forms rejected") {
    val valid = genCases(for {
      sign <- Gen.oneOf("", "+", "-")
      n <- Gen.chooseNum(0L, Long.MaxValue)
    } yield s"$sign$n", 200)
    val invalid = genCases(for {
      n <- Gen.chooseNum(0L, 1000000L)
      suffix <- Gen.oneOf(".0", "e3", " ", "x", "--")
    } yield s"$n$suffix", 200)
    assert(evalAll(XsdColumnOracle.integer, valid).forall(identity))
    assert(evalAll(XsdColumnOracle.integer, invalid).forall(!_))
  }

  test("bounded ints: in-range accepted, out-of-range rejected (byte)") {
    val in = genCases(Gen.chooseNum(-128, 127).map(_.toString), 150)
    val out = genCases(Gen.oneOf(
      Gen.chooseNum(128, 100000), Gen.chooseNum(-100000, -129)).map(_.toString), 150)
    assert(evalAll(XsdColumnOracle.byteT, in).forall(identity))
    assert(evalAll(XsdColumnOracle.byteT, out).forall(!_))
  }

  test("decimal: constructed decimals accepted; comma/space mutations rejected") {
    val valid = genCases(for {
      sign <- Gen.oneOf("", "+", "-")
      ip <- Gen.chooseNum(0, 999999)
      fp <- Gen.chooseNum(0, 999999)
      form <- Gen.oneOf(s"$sign$ip.$fp", s"$sign.$fp", s"$sign$ip")
    } yield form, 200)
    val invalid = genCases(for {
      ip <- Gen.chooseNum(0, 9999)
      bad <- Gen.oneOf(s"$ip,5", s"$ip 5", s"${ip}e", "", "+", ".")
    } yield bad, 200)
    assert(evalAll(XsdColumnOracle.decimalT, valid).forall(identity))
    assert(evalAll(XsdColumnOracle.decimalT, invalid).forall(!_))
  }

  test("dateTime: constructed ISO forms accepted; corrupted separators rejected") {
    val valid = genCases(for {
      y <- Gen.chooseNum(1000, 9999)
      m <- Gen.chooseNum(1, 12)
      d <- Gen.chooseNum(1, 28)
      h <- Gen.chooseNum(0, 23)
      mi <- Gen.chooseNum(0, 59)
      s <- Gen.chooseNum(0, 59)
      form <- Gen.oneOf(
        f"$y%04d",
        f"$y%04d-$m%02d",
        f"$y%04d-$m%02d-$d%02d",
        f"$y%04d-$m%02d-$d%02dT$h%02d:$mi%02d:$s%02dZ",
        f"$y%04d-$m%02d-$d%02dT$h%02d:$mi%02d:$s%02d+05:00")
    } yield form, 200)
    val invalid = genCases(for {
      y <- Gen.chooseNum(1000, 9999)
      bad <- Gen.oneOf(f"$y%04d-13", f"$y%04d-00", f"$y%04d-01-32",
        f"$y%04d-01-00", f"$y%04d/01/01", f"$y%04d-01-01T25:00:00Z")
    } yield bad, 200)
    assert(evalAll(XsdColumnOracle.dateTime, valid).forall(identity))
    assert(evalAll(XsdColumnOracle.dateTime, invalid).forall(!_))
  }

  test("hexBinary round-trip: hex of random bytes accepted; odd-length rejected") {
    val valid = genCases(Gen.listOfN(8, Gen.chooseNum(0, 255))
      .map(_.map(b => f"$b%02x").mkString), 150)
    val invalid = valid.map(_.drop(1)) // odd length
    assert(evalAll(XsdColumnOracle.hexBinary, valid).forall(identity))
    assert(evalAll(XsdColumnOracle.hexBinary, invalid).forall(!_))
  }

  test("boolean: exactly the four lexical forms") {
    val all = genCases(Gen.oneOf("true", "false", "0", "1", "TRUE", "False",
      "yes", "no", "t", ""), 300)
    val results = evalAll(XsdColumnOracle.boolean, all)
    all.zip(results).foreach { case (v, ok) =>
      assert(ok == Set("true", "false", "0", "1").contains(v), s"boolean('$v')")
    }
  }

  test("language: constructed tags accepted; overlong subtags rejected") {
    val valid = genCases(for {
      p <- Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
      hasSub <- Gen.oneOf(true, false)
      sub <- Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    } yield if (hasSub) s"$p-$sub" else p, 200)
    val invalid = genCases(
      Gen.choose(9, 20).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString)), 100)
    assert(evalAll(XsdColumnOracle.language, valid).forall(identity))
    assert(evalAll(XsdColumnOracle.language, invalid).forall(!_))
  }
}
