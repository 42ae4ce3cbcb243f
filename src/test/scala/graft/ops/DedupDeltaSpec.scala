package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Incremental dedup against a persisted signature directory: the delta
  * paths (sign ONLY new docs, join the stored directory) must reproduce a
  * from-scratch run of the union — the same discipline as
  * PipelineDeltaSpec for validation. Directories round-trip through
  * parquet in every test: the persistence IS the point.
  */
class DedupDeltaSpec extends SparkTestBase {

  // monotone ingest: prev ids 1..12, new ids 21..30 — the natural
  // snapshot shape under which first-seen-wins ≡ min-id-wins
  private def prevDocs = {
    val session = spark
    import session.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about astronomy telescopes and distant galaxies"),
      (3L, "THE QUICK  BROWN fox jumps over the lazy dog near the river bank today"), // canon-dup of 1
      (4L, "grain harvest reports from the northern valley arrive every september"),
      (5L, "unique prior document about maritime navigation and coastal lighthouses"),
      (12L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
    ).toDF("doc_id", "text")
  }

  private def newDocs = {
    val session = spark
    import session.implicits._
    Seq(
      (21L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of PREV 1 → drop
      (22L, "fresh reporting on orbital telescope maintenance missions this year"),
      (23L, "Grain Harvest reports from the northern VALLEY arrive every september"),  // canon-dup of PREV 4 → drop
      (24L, "fresh reporting on orbital telescope maintenance missions this year "),   // canon-dup of NEW 22 → 22 kept
      (25L, "entirely new content with no duplicate anywhere in either snapshot"),
      (30L, "fresh REPORTING on orbital telescope maintenance missions this year")     // canon-dup of NEW 22 → drop
    ).toDF("doc_id", "text")
  }

  private def roundTrip(df: DataFrame, name: String): DataFrame = {
    val p = tempDir(s"graft-$name").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  test("fingerprint delta ≡ from-scratch dedup of the union (monotone ids), via a persisted directory") {
    val dir = roundTrip(Dedup.fingerprintDirectory(prevDocs), "fpdir")
    val (kept, dirDelta) = Dedup.fingerprintDedupDelta(newDocs, dir)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(22L, 25L), keptIds.toString)

    // prev kept ∪ delta kept ≡ full recompute of the union
    val prevKept = Dedup.fingerprintDedup(prevDocs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fullKept = Dedup.fingerprintDedup(prevDocs.unionByName(newDocs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(prevKept ++ keptIds == fullKept, s"${prevKept ++ keptIds} != $fullKept")

    // the updated directory ≡ a from-scratch directory of the union
    val updated = dir.unionByName(dirDelta)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // from-scratch keeps min-id per fp; first-seen keepers agree under
    // monotone ids by construction
    val scratch = Dedup.fingerprintDirectory(prevDocs.unionByName(newDocs))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(updated == scratch, s"$updated != $scratch")
  }

  test("a non-monotone duplicate still drops (first-seen-wins, streaming contract)") {
    val dir = Dedup.fingerprintDirectory(prevDocs)
    val session = spark
    import session.implicits._
    // id 0 < every prev id but duplicates prev content → dropped anyway
    val sneaky = Seq((0L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val (kept, _) = Dedup.fingerprintDedupDelta(sneaky, dir)
    assert(kept.count() == 0L)
  }
}
