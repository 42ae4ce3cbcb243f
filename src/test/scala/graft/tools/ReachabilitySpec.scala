package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The committed unreached listing stays current: a change that adds a
  * public member no entry point reaches, or starts reaching a listed one,
  * updates `tools/unreached.txt` in the same diff. No Spark.
  */
class ReachabilitySpec extends AnyFunSuite {

  private lazy val result = Reachability.compute()

  test("tools/unreached.txt equals the listing of the compiled classes") {
    val committed = Files.readAllLines(Paths.get(Reachability.ListingFile), UTF_8)
      .asScala.filter(_.nonEmpty).toSeq
    val got = result.unreached
    assert(got == committed,
      s"""newly unreached: ${got.diff(committed).mkString(", ")}; """ +
        s"no longer unreached: ${committed.diff(got).mkString(", ")}. Regenerate with " +
        s"""sbt "Test/runMain graft.tools.Reachability ${Reachability.ListingFile}"""")
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
