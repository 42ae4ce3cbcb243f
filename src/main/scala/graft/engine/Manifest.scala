package graft.engine

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Checkpoint/resume manifest — the TableFormat seam from SURVEY.md §4.5.
  *
  * The reference's run is all-or-nothing (a failed `dvt` run restarts from
  * scratch); the north rule requires resumable runs with per-partition
  * lineage. No Iceberg runtime jar exists in this offline environment, so
  * the default implementation is a Parquet-era "snapshot log": one
  * append-only JSONL file of completed (snapshotId, constraintHash, bucket)
  * records. Where Iceberg is available, the same interface maps onto
  * snapshot metadata — nothing else in the engine changes.
  *
  * Record format (one JSON object per line):
  *   {"snapshotId":"...","constraintHash":"...","checksHash":"...","bucket":N,
  *    "nDocs":N,"nViolations":N,"completedAt":"iso"}
  *
  * Completion is keyed by (snapshotId, constraintHash, checksHash): the
  * schema hash alone is NOT enough — a rerun into the same outDir+manifest
  * with a broader check list or different per-check params (e.g.
  * `datatype?mode=strict` vs loose) would otherwise see every bucket
  * "complete" and silently validate nothing (round-3 advice, medium).
  * `checksHash` is the normalized enabled-check-set hash
  * ([[ValidatorConfig.checksHash]]); records written before this field
  * existed never match a keyed lookup, so a resume against a legacy
  * manifest conservatively revalidates instead of silently skipping.
  */
final class Manifest(path: String) {

  private def file = Paths.get(path)

  def completedBuckets(snapshotId: String, constraintHash: String,
                       checksHash: String = ""): Set[Int] = {
    if (!Files.exists(file)) return Set.empty
    Files.readAllLines(file).asScala.iterator
      .filter(_.nonEmpty)
      .flatMap { line =>
        // minimal JSON field scrape — records are machine-written, flat,
        // and string values contain no escapes.
        def str(k: String): Option[String] =
          s""""$k":"([^"]*)"""".r.findFirstMatchIn(line).map(_.group(1))
        def num(k: String): Option[Long] =
          s""""$k":(-?\\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        for {
          s <- str("snapshotId") if s == snapshotId
          h <- str("constraintHash") if h == constraintHash
          // legacy records (no checksHash field) match only the "" key
          if str("checksHash").getOrElse("") == checksHash
          b <- num("bucket")
        } yield b.toInt
      }.toSet
  }

  /** Append-path field validation: records are written by concatenation and
    * read by line scrape, so a quote/backslash/newline inside any string
    * field would silently corrupt the record and break keyed lookups —
    * refuse at write time instead (same contract recordFiles enforces for
    * file paths). Hashes are hex and snapshot ids are caller-chosen labels;
    * a rejected value is a caller bug, not data.
    */
  private def requireSafe(name: String, v: String): String = {
    require(!v.exists(c => c == '"' || c == '\\' || c < ' '),
      s"manifest field $name contains a quote/backslash/control char " +
        s"(would corrupt the line-scrape format): $v")
    v
  }

  private def append(line: String): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, (line + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  def recordCompleted(snapshotId: String, constraintHash: String,
                      bucket: Int, nDocs: Long, nViolations: Long,
                      checksHash: String = "", run: Long = -1L): Unit = {
    Seq("snapshotId" -> snapshotId, "constraintHash" -> constraintHash,
      "checksHash" -> checksHash).foreach { case (n, v) => requireSafe(n, v) }
    val ts = java.time.Instant.now().toString
    append(s"""{"snapshotId":"$snapshotId","constraintHash":"$constraintHash","checksHash":"$checksHash","bucket":$bucket,"run":$run,"nDocs":$nDocs,"nViolations":$nViolations,"completedAt":"$ts"}""")
  }

  /** Record every bucket of a finished verdict set as complete. */
  def recordRun(snapshotId: String, constraintHash: String,
                bucketStats: Seq[(Int, Long, Long)],
                checksHash: String = "", run: Long = -1L): Unit =
    bucketStats.foreach { case (b, d, v) =>
      recordCompleted(snapshotId, constraintHash, b, d, v, checksHash, run)
    }

  // ---- Iceberg-manifest-shaped snapshot commit (round-3 verdict item 5):
  // a run's output FILES are listed in the manifest, and readers can
  // resolve a snapshot to exactly the committed file set — an interleaved
  // writer that crashed (or is still mid-write) is invisible, because the
  // `files` record is the commit point, appended AFTER the parquet is
  // durable. Record format:
  //   {"type":"files","snapshotId":..,"constraintHash":..,"checksHash":..,
  //    "run":N,"files":["<abs path>",...]}

  def recordFiles(snapshotId: String, constraintHash: String, run: Long,
                  files: Seq[String], checksHash: String = ""): Unit = {
    require(files.forall(f =>
      !f.contains("\"") && !f.contains(",") && !f.contains("]")),
      "file paths with quotes/commas/']' would break the line-scrape " +
        "reader (']' terminates the files-array scrape, truncating the " +
        "listing on read — round-8 advice)")
    Seq("snapshotId" -> snapshotId, "constraintHash" -> constraintHash,
      "checksHash" -> checksHash).foreach { case (n, v) => requireSafe(n, v) }
    append(s"""{"type":"files","snapshotId":"$snapshotId","constraintHash":"$constraintHash","checksHash":"$checksHash","run":$run,"files":${files.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
  }

  /** All violation files committed for this snapshot key, across runs. */
  /** `asOfRun` (TIME TRAVEL, the Iceberg snapshot-read analogue): only
    * files of runs committed with id ≤ asOfRun — reading the result set
    * exactly as it stood after that run's commit, untouched by later
    * resumes/compactions that appended afterwards. Travel depth is
    * bounded by the expire policy: a [[rewriteAtomically]] compaction
    * retires superseded runs' records (and [[Compact]] deletes their
    * files), exactly the Iceberg expire-snapshots contract.
    */
  def committedFiles(snapshotId: String, constraintHash: String,
                     checksHash: String = "",
                     asOfRun: Long = Long.MaxValue): Seq[String] = {
    if (!Files.exists(file)) return Nil
    Files.readAllLines(file).asScala.iterator
      .filter(l => l.contains("\"type\":\"files\"") &&
        l.contains(s""""snapshotId":"$snapshotId"""") &&
        l.contains(s""""constraintHash":"$constraintHash"""") &&
        s""""checksHash":"([^"]*)"""".r.findFirstMatchIn(l).exists(_.group(1) == checksHash) &&
        """"run":(-?\d+)""".r.findFirstMatchIn(l).exists(_.group(1).toLong <= asOfRun))
      .flatMap(l => """"files":\[([^\]]*)\]""".r.findFirstMatchIn(l).toSeq
        .flatMap(_.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty)))
      .toSeq
  }

  /** Commit an auxiliary ARTIFACT's file listing (kind: "profile", …) —
    * the same files-record-is-the-commit-point protocol as
    * [[recordFiles]], so artifact readers get the identical isolation:
    * a torn or interleaved artifact writer without its record is
    * invisible. Append AFTER the artifact's files are durable.
    */
  def recordArtifact(kind: String, snapshotId: String, constraintHash: String,
                     run: Long, files: Seq[String],
                     checksHash: String = ""): Unit = {
    require(files.forall(f =>
      !f.contains("\"") && !f.contains(",") && !f.contains("]")),
      "file paths with quotes/commas/']' would break the line-scrape " +
        "reader (']' terminates the files-array scrape, truncating the " +
        "listing on read — round-8 advice)")
    Seq("kind" -> kind, "snapshotId" -> snapshotId,
      "constraintHash" -> constraintHash, "checksHash" -> checksHash)
      .foreach { case (n, v) => requireSafe(n, v) }
    append(s"""{"type":"artifact","kind":"$kind","snapshotId":"$snapshotId","constraintHash":"$constraintHash","checksHash":"$checksHash","run":$run,"files":${files.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
  }

  /** Committed artifact runs of a kind for a snapshot key: run id → file
    * listing, `asOfRun`-filtered like everything else.
    */
  def committedArtifacts(kind: String, snapshotId: String,
                         constraintHash: String, checksHash: String = "",
                         asOfRun: Long = Long.MaxValue): Map[Long, Seq[String]] = {
    if (!Files.exists(file)) return Map.empty
    Files.readAllLines(file).asScala.iterator
      .filter(l => l.contains("\"type\":\"artifact\"") &&
        l.contains(s""""kind":"$kind"""") &&
        l.contains(s""""snapshotId":"$snapshotId"""") &&
        l.contains(s""""constraintHash":"$constraintHash"""") &&
        s""""checksHash":"([^"]*)"""".r.findFirstMatchIn(l).exists(_.group(1) == checksHash))
      .flatMap { l =>
        for {
          r <- """"run":(-?\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong)
          if r <= asOfRun
          fs <- """"files":\[([^\]]*)\]""".r.findFirstMatchIn(l).map(
            _.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
              .filter(_.nonEmpty))
        } yield r -> fs
      }
      .toSeq.groupBy(_._1).view.mapValues { recs =>
        // duplicate (kind, key, run) records would concat their file lists
        // and double-read every row downstream: the file listing is the
        // commit point, so exactly ONE record per run is read, and it is
        // the LAST. A retried commit rewrites the run directory with
        // `mode("overwrite")` (new part-file names, the earlier attempt's
        // files deleted) and then records again, so only the latest
        // record lists files that exist.
        recs.last._2
      }.toMap
  }

  /** Retire the artifact records of the given runs (expire-snapshots for
    * auxiliary artifacts): atomic rewrite dropping exactly those records;
    * every other line carries over byte-for-byte. Call BEFORE deleting
    * the artifact files — a crash between the two leaves orphaned but
    * INVISIBLE files, never a committed record pointing at nothing.
    */
  def retireArtifacts(kind: String, snapshotId: String, constraintHash: String,
                      dropRuns: Set[Long], checksHash: String = ""): Unit = {
    if (!Files.exists(file) || dropRuns.isEmpty) return
    val keep = Files.readAllLines(file).asScala.filterNot { l =>
      l.contains("\"type\":\"artifact\"") &&
        l.contains(s""""kind":"$kind"""") &&
        l.contains(s""""snapshotId":"$snapshotId"""") &&
        l.contains(s""""constraintHash":"$constraintHash"""") &&
        s""""checksHash":"([^"]*)"""".r.findFirstMatchIn(l).exists(_.group(1) == checksHash) &&
        """"run":(-?\d+)""".r.findFirstMatchIn(l).exists(m => dropRuns(m.group(1).toLong))
    }
    rewriteAtomically(m => keep.foreach(m.append))
  }

  /** Committed run ids for a snapshot key, ascending — the snapshot
    * HISTORY listing (each id is a valid `asOfRun` travel point).
    */
  def committedRuns(snapshotId: String, constraintHash: String,
                    checksHash: String = ""): Seq[Long] = {
    if (!Files.exists(file)) return Nil
    Files.readAllLines(file).asScala.iterator
      .filter(l => l.contains("\"type\":\"files\"") &&
        l.contains(s""""snapshotId":"$snapshotId"""") &&
        l.contains(s""""constraintHash":"$constraintHash"""") &&
        s""""checksHash":"([^"]*)"""".r.findFirstMatchIn(l).exists(_.group(1) == checksHash))
      .flatMap(l => """"run":(-?\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong))
      .toSeq.distinct.sorted
  }

  /** Replace this manifest's contents atomically: `build` appends records
    * into a TEMP manifest, which then moves over the real path in one
    * rename — readers never observe a half-rewritten file. Compaction uses
    * this to retire superseded runs' records (the expire-snapshots
    * analogue); the append-only contract holds for everything else.
    */
  def rewriteAtomically(build: Manifest => Unit): Unit = {
    Files.createDirectories(file.getParent)
    val tmp = Files.createTempFile(file.getParent, ".manifest-rewrite", ".jsonl")
    try {
      build(new Manifest(tmp.toString))
      Files.move(tmp, file,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** Winning (max) committed run per bucket for this snapshot key — the
    * manifest-resolved twin of deriving winners from the verdicts table.
    */
  def committedBucketRuns(snapshotId: String, constraintHash: String,
                          checksHash: String = "",
                          asOfRun: Long = Long.MaxValue): Map[Int, Long] = {
    if (!Files.exists(file)) return Map.empty
    Files.readAllLines(file).asScala.iterator
      .filter(l => !l.contains("\"type\":\"files\"") && l.nonEmpty)
      .flatMap { line =>
        def str(k: String): Option[String] =
          s""""$k":"([^"]*)"""".r.findFirstMatchIn(line).map(_.group(1))
        def num(k: String): Option[Long] =
          s""""$k":(-?\\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        for {
          s <- str("snapshotId") if s == snapshotId
          h <- str("constraintHash") if h == constraintHash
          if str("checksHash").getOrElse("") == checksHash
          b <- num("bucket"); r <- num("run") if r <= asOfRun
        } yield (b.toInt, r)
      }
      .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
  }
}
