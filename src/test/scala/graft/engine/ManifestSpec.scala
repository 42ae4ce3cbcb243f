package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The manifest's record codec: what it reads from logs an earlier engine
  * wrote, what it writes for them, and its rules for odd characters,
  * duplicates, torn appends and malformed lines. No Spark.
  */
class ManifestSpec extends AnyFunSuite with graft.TempDirs {

  private def tempManifest(): Path =
    tempDir("graft-manifest").resolve("manifest.jsonl")

  /** A copy of `src/test/resources/manifest-compat/manifest.jsonl`. */
  private def compatCopy(): Path = {
    val p = tempManifest()
    scala.util.Using.resource(getClass.getResourceAsStream("/manifest-compat/manifest.jsonl"))(
      in => Files.copy(in, p))
    p
  }

  private def lines(p: Path): Seq[String] = Files.readAllLines(p, UTF_8).asScala.toSeq

  private val (a, b, c, k) = ("snap-a", "snap-b", "c0ffee01", "k1")
  private def v(run: Int, part: Int = 0) = f"/warehouse/out/violations/run=$run/part-$part%05d.parquet"
  private def art(kind: String, run: Int, part: Int = 0) =
    f"/warehouse/out/$kind/run=$run/part-$part%05d.parquet"

  test("compatibility fixture: every query answers as the previous reader did") {
    val m = new Manifest(compatCopy().toString)
    // answers recorded from the previous (line-scrape) reader over this
    // file, except bucket 3: its completion record has run -1 (no run id),
    // so it is complete for resume but never a committed winning run
    assert(m.completedBuckets(a, c, k) == Set(0, 1, 2, 3))
    assert(m.completedBuckets(a, c, "") == Set(0, 1)) // legacy records, no checksHash
    assert(m.completedBuckets(b, c, k) == Set(5))
    assert(m.completedBuckets(b, c, "").isEmpty)
    assert(m.completedBuckets(a, "deadbeef", k).isEmpty)
    assert(m.committedSnapshot(a, c, k)._1 == Seq(v(100), v(100, 1), v(200)))
    assert(m.committedSnapshot(b, c, k)._1 == Seq(v(400)))
    assert(m.committedRuns(a, c, k) == Seq(100L, 200L))
    assert(m.committedRuns(b, c, k) == Seq(400L))
    assert(m.committedBucketRuns(a, c, k) ==
      Map(0 -> 100L, 1 -> 100L, 2 -> 200L))
    assert(m.committedBucketRuns(b, c, k) == Map(5 -> 400L))
    assert(m.committedArtifacts("profile", a, c, k) ==
      Map(200L -> Seq(art("profile", 200), art("profile", 200, 1)),
        300L -> Seq(art("profile", 300))))   // run 100 was retired
    assert(m.committedArtifacts("metrics", a, c, k) ==
      Map(100L -> Seq(art("metrics", 100)), 200L -> Seq(art("metrics", 200))))
    assert(m.committedArtifacts("profile", b, c, k) == Map(400L -> Seq(art("profile", 400))))
    assert(m.committedArtifacts("metrics", b, c, k).isEmpty)
    for ((s, key) <- Seq(a -> "", b -> "", "snap-x" -> "", "snap-x" -> k)) {
      if (s != a) assert(m.completedBuckets(s, c, key).isEmpty)
      assert(m.committedSnapshot(s, c, key)._1.isEmpty)
      assert(m.committedRuns(s, c, key).isEmpty)
      assert(m.committedBucketRuns(s, c, key).isEmpty)
      assert(m.committedArtifacts("profile", s, c, key).isEmpty)
      assert(m.committedArtifacts("metrics", s, c, key).isEmpty)
    }
    // time travel
    assert(m.committedSnapshot(a, c, k, asOfRun = 99L)._1.isEmpty)
    assert(m.committedSnapshot(a, c, k, asOfRun = 100L)._1 == Seq(v(100), v(100, 1)))
    assert(m.committedSnapshot(a, c, k, asOfRun = 200L)._1 == Seq(v(100), v(100, 1), v(200)))
    assert(m.committedBucketRuns(a, c, k, asOfRun = 99L).isEmpty)
    assert(m.committedBucketRuns(a, c, k, asOfRun = 100L) ==
      Map(0 -> 100L, 1 -> 100L, 2 -> 100L))
    assert(m.committedBucketRuns(a, c, k, asOfRun = 200L) ==
      Map(0 -> 100L, 1 -> 100L, 2 -> 200L))
    assert(m.committedArtifacts("profile", a, c, k, asOfRun = 100L).isEmpty)
    assert(m.committedArtifacts("profile", a, c, k, asOfRun = 200L) ==
      Map(200L -> Seq(art("profile", 200), art("profile", 200, 1))))
    assert(m.committedSnapshot(a, c, k, asOfRun = 100L) ==
      (Seq(v(100), v(100, 1)), Map(0 -> 100L, 1 -> 100L, 2 -> 100L)))
  }

  test("compatibility fixture: retiring keeps every other line byte-for-byte") {
    val p = compatCopy()
    val before = lines(p)
    new Manifest(p.toString).retireArtifacts("metrics", a, c, Set(100L), k)
    assert(lines(p) == before.filterNot(l =>
      l.contains("\"kind\":\"metrics\"") && l.contains("\"run\":100,")))
    assert(new Manifest(p.toString).committedArtifacts("metrics", a, c, k).keySet == Set(200L))
  }

  test("writer: values that need no escaping serialize as the previous writer wrote them") {
    val fixture = lines(compatCopy())
    val p = tempManifest()
    val m = new Manifest(p.toString)
    m.recordFiles(a, c, 100L, Seq(v(100), v(100, 1)), k)
    m.recordRun(a, c, 100L, Seq((0, 10L, 1L), (1, 12L, 0L), (2, 9L, 3L)), k)
    m.recordArtifact("metrics", a, c, 100L, Seq(art("metrics", 100)), k)
    m.recordRun(a, c, -1L, Seq((3, 7L, 0L)), k) // the fixture's run-less record
    def noTs(l: String) = l.replaceAll("\"completedAt\":\"[^\"]*\"", "\"completedAt\":\"T\"")
    val want = Seq(2, 3, 4, 5, 6, 12).map(i => noTs(fixture(i)))
    assert(lines(p).map(noTs) == want)
  }

  test("a path and a snapshotId holding quote, backslash, comma, ] and { round-trip through every query") {
    val m = new Manifest(tempManifest().toString)
    val odd = "snap \"q\" \\b, ]x {y}"
    val f1 = "/out dir/a\"b\\c,d]e{f}/part-0.parquet"
    val f2 = "/out,dir]/part-1.parquet"
    m.recordFiles(odd, c, 7L, Seq(f1, f2), k)
    m.recordRun(odd, c, 7L, Seq((3, 5L, 1L)), k)
    m.recordArtifact("pro]file,\"x\"", odd, c, 7L, Seq(f2, f1), k)
    assert(m.committedSnapshot(odd, c, k)._1 == Seq(f1, f2))
    assert(m.committedSnapshot(odd, c, k) == (Seq(f1, f2), Map(3 -> 7L)))
    assert(m.completedBuckets(odd, c, k) == Set(3))
    assert(m.committedRuns(odd, c, k) == Seq(7L))
    assert(m.committedBucketRuns(odd, c, k) == Map(3 -> 7L))
    assert(m.committedArtifacts("pro]file,\"x\"", odd, c, k) == Map(7L -> Seq(f2, f1)))
    m.retireArtifacts("pro]file,\"x\"", odd, c, Set(7L), k)
    assert(m.committedArtifacts("pro]file,\"x\"", odd, c, k).isEmpty)
    assert(m.committedSnapshot(odd, c, k)._1 == Seq(f1, f2))
  }

  test("a completion record torn after \"bucket\":1 is not complete; an append after it reads correctly") {
    val p = tempManifest()
    val m = new Manifest(p.toString)
    m.recordRun(a, c, 10L, Seq((0, 3L, 0L)), k)
    Files.write(p, s"""{"snapshotId":"$a","constraintHash":"$c","checksHash":"$k","bucket":1"""
      .getBytes(UTF_8), StandardOpenOption.APPEND)
    assert(m.completedBuckets(a, c, k) == Set(0))
    assert(m.committedBucketRuns(a, c, k) == Map(0 -> 10L))
    m.recordRun(a, c, 10L, Seq((2, 3L, 0L)), k)
    assert(m.completedBuckets(a, c, k) == Set(0, 2))
    m.recordFiles(a, c, 10L, Seq(v(10)), k)
    assert(m.committedSnapshot(a, c, k)._1 == Seq(v(10)))
    assert(m.committedBucketRuns(a, c, k) == Map(0 -> 10L, 2 -> 10L))
  }

  test("a files or artifact record duplicated for one run reads the last listing only") {
    val m = new Manifest(tempManifest().toString)
    m.recordFiles(a, c, 10L, Seq(v(10), v(10, 1)), k)
    m.recordArtifact("profile", a, c, 10L, Seq(art("profile", 10)), k)
    m.recordFiles(a, c, 20L, Seq(v(20)), k)
    // a retried commit of run 10: its first attempt's files were deleted
    m.recordFiles(a, c, 10L, Seq(v(10, 7)), k)
    m.recordArtifact("profile", a, c, 10L, Seq(art("profile", 10, 7)), k)
    assert(m.committedSnapshot(a, c, k)._1.toSet == Set(v(20), v(10, 7)))
    assert(m.committedSnapshot(a, c, k)._1.size == 2)
    assert(m.committedSnapshot(a, c, k, asOfRun = 10L)._1 == Seq(v(10, 7)))
    assert(m.committedRuns(a, c, k) == Seq(10L, 20L))
    assert(m.committedArtifacts("profile", a, c, k) == Map(10L -> Seq(art("profile", 10, 7))))
  }

  test("a malformed line that is not the last fails, naming its line number; a malformed last line is torn") {
    val p = tempManifest()
    val m = new Manifest(p.toString)
    m.recordRun(a, c, 10L, Seq((0, 3L, 0L)), k)
    Files.write(p, "not a record\n".getBytes(UTF_8), StandardOpenOption.APPEND)
    assert(m.completedBuckets(a, c, k) == Set(0))
    m.recordRun(a, c, 10L, Seq((1, 3L, 0L)), k)
    val e = intercept[IllegalStateException](m.completedBuckets(a, c, k))
    assert(e.getMessage.contains("line 2"), e.getMessage)
    // a record missing its key is malformed too
    val q = tempManifest()
    Files.write(q, ("{\"snapshotId\":\"s\"}\n" + "{\"snapshotId\":\"s\",\"constraintHash\":\"c\"}\n")
      .getBytes(UTF_8))
    val e2 = intercept[IllegalStateException](new Manifest(q.toString).committedRuns("s", "c"))
    assert(e2.getMessage.contains("line 1"), e2.getMessage)
  }
}
