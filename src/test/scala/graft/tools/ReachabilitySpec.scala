package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The committed unreached listing stays current — and empty: a change
  * that adds a public member no entry point reaches either deletes it or
  * keeps it by name with a reason ([[Reachability.Keep]]). No Spark.
  */
class ReachabilitySpec extends AnyFunSuite {

  private lazy val result = Reachability.compute()

  test("tools/unreached.txt equals the listing of the compiled classes") {
    val committed = Files.readAllLines(Paths.get(Reachability.ListingFile), UTF_8)
      .asScala.filter(_.nonEmpty).toSeq
    val got = result.unreached
    assert(got == committed,
      s"""newly unreached: ${got.diff(committed).mkString(", ")}; """ +
        s"no longer unreached: ${committed.diff(got).mkString(", ")}. Delete a newly " +
        "unreached member, or keep it by name with a one-line reason in Reachability.Keep; " +
        s"""then regenerate with sbt "Test/runMain graft.tools.Reachability ${Reachability.ListingFile}"""")
  }

  test("every Keep entry names a compiled member and gives a reason") {
    Reachability.Keep.foreach { case (cls, member, reason) =>
      assert(reason.trim.nonEmpty, s"$cls.$member is kept without a reason")
      assert(result.members.exists { m =>
        m.startsWith(cls + ".") && !m.stripPrefix(cls + ".").contains('.') &&
          Reachability.keeps(member, m.stripPrefix(cls + "."))
      }, s"kept name $cls.$member matches no compiled member")
    }
  }

  test("members an entry point reaches are never listed") {
    val reached = Seq(
      "graft.engine.Pipeline.violations",
      "graft.engine.ValidatorApp.run",
      "graft.streaming.StreamingValidator.violationStream",
      "graft.streaming.StreamingValidator.StatelessChecks")
    reached.foreach { m =>
      assert(result.members(m), s"$m is not a compiled member: the pin is stale")
      assert(!result.unreached.contains(m), s"$m is reached but listed")
    }
  }
}
