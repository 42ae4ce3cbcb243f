package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import com.fasterxml.jackson.core.io.JsonEOFException
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}

/** Checkpoint/resume manifest — the TableFormat seam from SURVEY.md §4.5:
  * resumable runs with per-partition lineage. No Iceberg runtime jar exists
  * offline, so this is a Parquet-era "snapshot log", one append-only JSONL
  * file; where Iceberg is available the same interface maps onto snapshot
  * metadata and nothing else in the engine changes.
  *
  * Record format: one compact JSON object per line, written and read by
  * one codec (Jackson, from Spark's jars), so ids and file paths may hold
  * any character. Three record types, fields in this order:
  *   - completion (resume key + per-bucket lineage): `snapshotId`,
  *     `constraintHash`, `checksHash`, `bucket`, `run`, `nDocs`,
  *     `nViolations`, `completedAt` (ISO instant); no `type` field;
  *   - `"type":"files"` (a run's violation files, the snapshot commit
  *     point): the three key fields, `run`, `files` (array of paths);
  *   - `"type":"artifact"` (an auxiliary artifact's files): `kind` (e.g.
  *     profile, metrics) after `type`, then as a files record.
  *
  * Every query is keyed by (snapshotId, constraintHash, checksHash): with
  * the schema hash alone, a rerun with a broader check list or different
  * per-check params (`datatype?mode=strict` vs loose) would see every
  * bucket "complete" and silently validate nothing. `checksHash` is
  * [[ValidatorConfig.checksHash]].
  *
  * Reading rules, the same for every record type:
  *   - Legacy records: a record without `checksHash` reads as `""`, the
  *     key of manifests that predate the field — a resume against one
  *     with a real checks hash conservatively revalidates.
  *   - Duplicates: when one (type, kind, key, bucket, run) is recorded
  *     more than once, the LAST record wins. A retried commit rewrites the
  *     run directory with `mode("overwrite")` (new part-file names, the
  *     earlier attempt's files deleted) and records again, so only the
  *     latest record lists files that exist.
  *   - Run-less records: a negative `run` (what writers without a run id
  *     wrote, as -1) reads as no `run` field. Such a completion record
  *     still marks its bucket complete for resume, but it commits no run:
  *     it is never a bucket's winning run.
  *   - Torn lines: a line cut short (its JSON ends before the record
  *     closes) is an append a writer died in; it was never committed, so
  *     it is ignored — as the final line, and also once a later append has
  *     started a new line after it. Any final line that does not parse is
  *     such a torn append. Any other line that does not parse fails the
  *     read, naming its line number.
  */
final class Manifest(path: String) {
  import Manifest._

  private def file = Paths.get(path).toAbsolutePath

  /** The log's records with their raw lines, torn appends dropped. */
  private def lines(): Vector[(String, Record)] = {
    if (!Files.exists(file)) return Vector.empty
    val ls = new String(Files.readAllBytes(file), UTF_8).split('\n')
    val last = ls.lastIndexWhere(_.trim.nonEmpty)
    ls.iterator.zipWithIndex.filter(_._1.trim.nonEmpty).flatMap { case (l, i) =>
      try Some(l -> decode(l))
      catch {
        case _: JsonEOFException => None
        case _: Exception if i == last => None
        case e: Exception =>
          throw new IllegalStateException(
            s"manifest $file line ${i + 1} is malformed: ${e.getMessage}", e)
      }
    }.toVector
  }

  /** One key's records, duplicates resolved last-record-wins. */
  private def keyed(snapshotId: String, constraintHash: String,
                    checksHash: String): Seq[Record] =
    lines().map(_._2).filter(_.is(snapshotId, constraintHash, checksHash))
      .reverse.distinctBy(_.identity).reverse

  /** Appends whole lines in ONE write; starts a new line first when the
    * file does not end in one (a torn append must not swallow a record).
    */
  private def append(recs: Seq[String]): Unit = if (recs.nonEmpty) {
    Files.createDirectories(file.getParent)
    val closed = !Files.exists(file) || scala.util.Using.resource(
      new java.io.RandomAccessFile(file.toFile, "r")) { f =>
      f.length == 0 || { f.seek(f.length - 1); f.read() == '\n' }
    }
    Files.write(file,
      recs.mkString(if (closed) "" else "\n", "\n", "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  def completedBuckets(snapshotId: String, constraintHash: String,
                       checksHash: String = ""): Set[Int] =
    keyed(snapshotId, constraintHash, checksHash)
      .filter(_.tpe.isEmpty).flatMap(_.bucket).toSet

  /** Record every bucket of run `run`'s finished verdict set as complete,
    * in one append: `bucketStats` is (bucket, nDocs, nViolations).
    */
  def recordRun(snapshotId: String, constraintHash: String, run: Long,
                bucketStats: Seq[(Int, Long, Long)],
                checksHash: String = ""): Unit = {
    val ts = java.time.Instant.now().toString
    append(bucketStats.map { case (b, d, v) =>
      line(key(snapshotId, constraintHash, checksHash) ++ Seq("bucket" -> b,
        "run" -> run, "nDocs" -> d, "nViolations" -> v, "completedAt" -> ts))
    })
  }

  /** Iceberg-manifest-shaped snapshot commit: a run's output FILES, so
    * readers resolve a snapshot to exactly the committed file set — an
    * interleaved writer that crashed (or is still mid-write) is invisible,
    * because this record is the commit point, appended AFTER the parquet
    * is durable.
    */
  def recordFiles(snapshotId: String, constraintHash: String, run: Long,
                  files: Seq[String], checksHash: String = ""): Unit =
    append(Seq(line(("type" -> "files") +:
      key(snapshotId, constraintHash, checksHash) :+ ("run" -> run) :+ ("files" -> files))))

  /** Winning (max) committed run per bucket for this snapshot key — the
    * manifest-resolved twin of deriving winners from the verdicts table.
    */
  def committedBucketRuns(snapshotId: String, constraintHash: String,
                          checksHash: String = "",
                          asOfRun: Long = Long.MaxValue): Map[Int, Long] =
    committedSnapshot(snapshotId, constraintHash, checksHash, asOfRun)._2

  /** All violation files committed for this snapshot key, across runs,
    * and [[committedBucketRuns]], from one read of the log — what a
    * snapshot reader needs. `asOfRun` (TIME TRAVEL, the Iceberg
    * snapshot-read analogue): only runs committed with id ≤ asOfRun —
    * reading the result set exactly as it stood after that run's commit,
    * untouched by later resumes/compactions that appended afterwards.
    * Travel depth is bounded by the expire policy: a [[rewriteAtomically]]
    * compaction retires superseded runs' records (and [[Compact]] deletes
    * their files), exactly the Iceberg expire-snapshots contract.
    */
  def committedSnapshot(snapshotId: String, constraintHash: String,
                        checksHash: String = "",
                        asOfRun: Long = Long.MaxValue): (Seq[String], Map[Int, Long]) = {
    val recs = keyed(snapshotId, constraintHash, checksHash)
      .filter(_.run.exists(_ <= asOfRun))
    (recs.filter(_.tpe.contains("files")).flatMap(_.files),
      recs.filter(_.tpe.isEmpty).flatMap(r => r.bucket.map(_ -> r.run.get))
        .groupMapReduce(_._1)(_._2)(math.max))
  }

  /** Committed run ids for a snapshot key, ascending — the snapshot
    * HISTORY listing (each id is a valid `asOfRun` travel point).
    */
  def committedRuns(snapshotId: String, constraintHash: String,
                    checksHash: String = ""): Seq[Long] =
    keyed(snapshotId, constraintHash, checksHash)
      .filter(_.tpe.contains("files")).flatMap(_.run).distinct.sorted

  /** Commit an auxiliary ARTIFACT's file listing (kind: "profile", …) —
    * the same files-record-is-the-commit-point protocol as
    * [[recordFiles]], so artifact readers get the identical isolation:
    * a torn or interleaved artifact writer without its record is
    * invisible. Append AFTER the artifact's files are durable.
    */
  def recordArtifact(kind: String, snapshotId: String, constraintHash: String,
                     run: Long, files: Seq[String],
                     checksHash: String = ""): Unit =
    append(Seq(line(Seq("type" -> "artifact", "kind" -> kind) ++
      key(snapshotId, constraintHash, checksHash) :+ ("run" -> run) :+ ("files" -> files))))

  /** Committed artifact runs of a kind for a snapshot key: run id → file
    * listing, `asOfRun`-filtered like everything else.
    */
  def committedArtifacts(kind: String, snapshotId: String,
                         constraintHash: String, checksHash: String = "",
                         asOfRun: Long = Long.MaxValue): Map[Long, Seq[String]] =
    keyed(snapshotId, constraintHash, checksHash)
      .filter(r => r.tpe.contains("artifact") && r.kind.contains(kind))
      .flatMap(r => r.run.filter(_ <= asOfRun).map(_ -> r.files))
      .toMap

  /** Retire the artifact records of the given runs (expire-snapshots for
    * auxiliary artifacts): atomic rewrite dropping exactly those records;
    * every other line carries over byte-for-byte. Call BEFORE deleting
    * the artifact files — a crash between the two leaves orphaned but
    * INVISIBLE files, never a committed record pointing at nothing.
    */
  def retireArtifacts(kind: String, snapshotId: String, constraintHash: String,
                      dropRuns: Set[Long], checksHash: String = ""): Unit = {
    if (!Files.exists(file) || dropRuns.isEmpty) return
    val keep = lines().collect { case (l, r) if !(r.tpe.contains("artifact") &&
      r.kind.contains(kind) && r.is(snapshotId, constraintHash, checksHash) &&
      r.run.exists(dropRuns)) => l }
    rewriteAtomically(_.append(keep))
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
}

object Manifest {

  /** A manifest line as the queries read it. `tpe` is None for a
    * completion record (which carries no "type" field); an absent field is
    * None, or empty for `files`.
    */
  private final case class Record(
      tpe: Option[String], kind: Option[String], snapshotId: String,
      constraintHash: String, checksHash: String, bucket: Option[Int],
      run: Option[Long], files: Seq[String]) {
    def is(s: String, c: String, k: String): Boolean =
      snapshotId == s && constraintHash == c && checksHash == k
    def identity = (tpe, kind, bucket, run)
  }

  private val Json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def key(snapshotId: String, constraintHash: String,
                  checksHash: String): Seq[(String, Any)] =
    Seq("snapshotId" -> snapshotId, "constraintHash" -> constraintHash,
      "checksHash" -> checksHash)

  /** One compact record line, fields in the given order. */
  private def line(fields: Seq[(String, Any)]): String = {
    val n = Json.createObjectNode()
    fields.foreach {
      case (f, v: String) => n.put(f, v)
      case (f, v: Int) => n.put(f, v)
      case (f, v: Long) => n.put(f, v)
      case (f, vs: Seq[_]) => val a = n.putArray(f); vs.foreach(v => a.add(v.toString))
    }
    Json.writeValueAsString(n)
  }

  private def decode(line: String): Record = {
    val n = Json.readTree(line)
    require(n.isObject, "not a JSON object")
    def opt(f: String) = Option(n.get(f))
    def str(f: String): Option[String] = opt(f).map { v =>
      require(v.isTextual, s"$f is not a string"); v.textValue }
    def num(f: String): Option[Long] = opt(f).map { v =>
      require(v.isIntegralNumber && v.canConvertToLong, s"$f is not an integer")
      v.longValue }
    def req(f: String) = str(f).getOrElse(throw new IllegalArgumentException(s"no $f"))
    Record(str("type"), str("kind"), req("snapshotId"), req("constraintHash"),
      str("checksHash").getOrElse(""), num("bucket").map(_.toInt), num("run").filter(_ >= 0),
      opt("files").toSeq.flatMap { v =>
        require(v.isArray, "files is not an array")
        (0 until v.size).map { i =>
          require(v.get(i).isTextual, "files holds a non-string"); v.get(i).textValue }
      })
  }
}
