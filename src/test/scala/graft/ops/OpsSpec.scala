package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class OpsSpec extends SparkTestBase {

  private def corpus = {
    val session = spark
    import session.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank's today"), // near-dup of 1
      (3L, "completely different content about astronomy telescopes and distant galaxies"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (5L, "short text")
    ).toDF("doc_id", "text")
  }

  test("exact dedup: groups and survivor selection") {
    val groups = Dedup.exactGroups(corpus).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("keep_id") == 1L && groups(0).getAs[Long]("dup_count") == 2L)
  }

  test("minhash LSH near-dup: finds the planted near-pair, skips unrelated") {
    val pairs = Dedup.nearDupPairs(corpus, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L)))
    assert(pairs.contains((1L, 4L)) || pairs.contains((4L, 1L))) // exact dups too
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash near-dup: hamming-banded candidates verified") {
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical text → hamming 0
    // one-word-diff pair (1,2) may exceed the tight hamming budget — the
    // MinHash path is the recall instrument for that case; here we only
    // require precision:
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 5L || p._2 == 5L))
  }

  test("word-ngram jaccard near-dup") {
    val pairs = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("similarity: brute-force top-k and ANN agree on an exact-match query") {
    val session = spark
    import session.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val query = Seq.tabulate(8)(d => math.sin(42 * 0.7 + d).toFloat)
    val brute = Similarity.bruteTopK(vecs, query, 3).collect()
    assert(brute(0).getLong(0) == 42L)
    assert(math.abs(brute(0).getDouble(1) - 1.0) < 1e-6)
    val ann = Similarity.annTopK(vecs, query, 3).collect()
    assert(ann(0).getLong(0) == 42L) // the exact match shares every band
  }

  test("similarity: cosine dup pairs finds planted duplicate vectors") {
    val session = spark
    import session.implicits._
    val base = (0 until 100).map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.cos(i * 1.3 + d * 0.5).toFloat))
    }
    val planted = base :+ (999L, base(7)._2) // exact copy of vec 7
    val pairs = Similarity.cosineDupPairs(planted.toDF("vec_id", "embedding"),
      threshold = 0.999).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 999L)))
  }

  test("text analysis: langId, token counts, fingerprint, quality") {
    val session = spark
    import session.implicits._
    val df = Seq(
      ("en", "the cat is on the mat and it is happy with this"),
      ("fr", "le chat est dans la maison et il est pour une vie"),
      ("de", "der hund ist nicht mit der katze und das ist ein problem"),
      ("es", "el perro es un animal que vive en la casa por años"),
      ("und", "zzz qqq xxx")
    ).toDF("expected", "text")
    val got = df.select(col("expected"), TextAnalysis.langId(col("text")).as("got"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (exp, g) => assert(exp == g, s"langId: expected $exp got $g") }

    val t = Seq(("a b  c", "A  b   C ")).toDF("x", "y")
    val r = t.select(
      TextAnalysis.tokenCount(col("x")).as("tc"),
      TextAnalysis.bpeishTokenCount(lit("don't stop 123!")).as("bp"),
      (TextAnalysis.fingerprint(col("x")) === TextAnalysis.fingerprint(col("y"))).as("fpEq"),
      TextAnalysis.qualityScore(lit("The cat is on the mat, and it is very happy today.")).as("q")
    ).collect()(0)
    assert(r.getAs[Int]("tc") == 3)
    assert(r.getAs[Int]("bp") == 6) // don ' t stop 123 !
    assert(r.getAs[Boolean]("fpEq")) // case+whitespace canonicalization
    assert(r.getAs[Double]("q") == 1.0)
  }

  test("ops run over the real driver documents/embeddings tables") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val withLang = docs.select(TextAnalysis.langId(col("text")).as("lid")).groupBy("lid").count()
    assert(withLang.count() >= 1)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val first = emb.select(col("embedding")).limit(1).collect()(0).getSeq[Float](0)
    val top = Similarity.bruteTopK(emb, first, 5)
    assert(top.count() == 5)
  }

  test("LSH bucket cap: a bucket over the cap yields no pairs, one under it does") {
    val session = spark
    import session.implicits._
    // 30 identical docs land in ONE bucket per band (8 bands), over the cap
    val docs = (0 until 30).map(i =>
      (i.toLong, "identical boilerplate text that lands in a single hot bucket"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(docs, maxBucketSize = 10).collect().isEmpty)
    // under the cap: pairs flow
    assert(Dedup.minhashCandidates(docs, maxBucketSize = 100).collect().nonEmpty)
  }

  test("winnowing: shared-passage pairs found, unrelated docs silent") {
    val session = spark
    import session.implicits._
    val passage = "the quick brown fox jumps over the lazy dog while seventeen " +
      "bright satellites trace slow arcs across the winter sky above the harbor"
    val docs = Seq(
      (1L, "intro text. " + passage + " closing remarks."),
      (2L, "different opening here. " + passage + " and a different ending."),
      (3L, "entirely unrelated content about parquet column chunk statistics " +
        "and dictionary encoding with no overlap whatsoever in any window")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDupPairs(docs, minShared = 4).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      s"got ${pairs.mkString(",")}")
    // determinism + guarantee: identical texts share ALL fingerprints
    val sig = graft.functions.WinnowSig.compute(passage, 8, 8)
    assert(sig.sameElements(graft.functions.WinnowSig.compute(passage, 8, 8)))
    assert(sig.length > 4 && sig.distinct.length == sig.length)
    // short text: below k -> empty, k..k+w-1 -> single fingerprint
    assert(graft.functions.WinnowSig.compute("abc", 8, 8).isEmpty)
    assert(graft.functions.WinnowSig.compute("abcdefgh", 8, 8).length == 1)
  }

  test("int8 embedding quantization: 4x smaller, cosine preserved to ~1%") {
    val session = spark
    import session.implicits._
    def dequantizeInt8(qv: Column): Column =
      transform(qv.getField("q"), x => x.cast("double") * qv.getField("scale").cast("double"))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"),
      Similarity.quantizeInt8(col("embedding")).as("qv"))
      .withColumn("vq", dequantizeInt8(col("qv")))
      .withColumn("cos", Similarity.cosine(col("v"), col("vq")))
    val worst = q.agg(min(col("cos"))).collect()(0).getDouble(0)
    assert(worst > 0.99, s"quantization distorted cosine: $worst")
    // zero vector round-trips to zeros, no division blowup
    val z = Seq((1L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.quantizeInt8(col("embedding")).as("qv"))
      .select(dequantizeInt8(col("qv")).as("vq")).collect()(0).getSeq[Double](0)
    assert(z.forall(_ == 0.0))
  }

  test("winnowing guarantee: any shared substring >= k+w-1 shares a fingerprint") {
    val rnd = new scala.util.Random(7)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val k = 8; val w = 8
    (1 to 25).foreach { _ =>
      val shared = randText(k + w - 1) // minimal guaranteed-shared window
      val a = randText(rnd.nextInt(40)) + shared + randText(rnd.nextInt(40))
      val b = randText(rnd.nextInt(40)) + shared + randText(rnd.nextInt(40))
      val fa = graft.functions.WinnowSig.compute(a, k, w).toSet
      val fb = graft.functions.WinnowSig.compute(b, k, w).toSet
      assert((fa intersect fb).nonEmpty,
        s"no shared fingerprint for shared substring: a=$a b=$b")
    }
  }

  test("container sniffing + image dims parse real header bytes, no codec lib") {
    val session = spark
    import session.implicits._
    import graft.ops.Multimodal
    val rows = Seq(
      // real 1x1 PNG file prefix (sig + IHDR), a 320x240 PNG header,
      // GIF89a 3x2 logical screen, JPEG JFIF SOI, RIFF/WAVE, junk
      "89504E470D0A1A0A0000000D4948445200000001000000010802000000907753DE",
      "89504E470D0A1A0A0000000D4948445200000140000000F0",
      "4749463839610300020000",
      "FFD8FFE000104A46494600",
      "524946462408000057415645666D7420",
      "DEADBEEF",
      // truncated PNG (19 bytes): valid magic, header cut mid-width — must
      // yield NULL dims, not a garbage parse of the partial field
      "89504E470D0A1A0A0000000D49484452000001")
      .toDF("hx").select(unhex(col("hx")).as("b"))
      .select(Multimodal.sniffFormat(col("b")).as("f"),
        Multimodal.imageDims(col("b")).as("d"))
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("png", "png", "gif", "jpeg", "wav", "unknown", "png"))
    def dims(i: Int) = Option(rows(i).getStruct(1))
      .map(s => (s.getLong(0), s.getLong(1)))
    assert(dims(0).contains((1L, 1L)))
    assert(dims(1).contains((320L, 240L)))
    assert(dims(2).contains((3L, 2L))) // GIF little-endian u16
    assert(dims(3).isEmpty && dims(4).isEmpty && dims(5).isEmpty)
    assert(dims(6).isEmpty) // truncated header → null, not garbage

    // WAV sample rate: RIFF/WAVE + "fmt " chunk, rate 44100 = 0x AC44 LE
    // at bytes 25-28; non-wav and truncated wav → null
    val wavHex = "52494646" + "24080000" + "57415645" + "666D7420" +
      "10000000" + "0100" + "0200" + "44AC0000"
    val rates = Seq(wavHex, wavHex.take(40), "FFD8FFE0")
      .toDF("hx").select(Multimodal.wavSampleRate(unhex(col("hx"))).as("r"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(rates.toSeq == Seq(Some(44100L), None, None), rates.toSeq.toString)
  }

  test("JPEG SOF walk + WAV chunk walk: variable offsets, malformed → null") {
    val session = spark
    import session.implicits._
    import graft.ops.Multimodal
    val sof0 = "FFC0" + "0011" + "08" + "0078" + "0050" + "0"*20 // 120h x 80w
    val jpegs = Seq(
      // APP0 (declared len 16 = 2 + 14 payload bytes) then SOF0
      "FFD8" + "FFE00010" + "0"*28 + sof0,
      // two segments before SOF (APP1 + COM), SOF at a deeper offset
      "FFD8" + "FFE1000A" + "0"*16 + "FFFE0004" + "0"*4 + sof0,
      // fill bytes: extra 0xFF padding before the SOF marker is legal
      "FFD8" + "FFE00004" + "0"*4 + "FFFF" + sof0,
      // progressive SOF2 carries dims at the same layout
      "FFD8" + "FFE00004" + "0"*4 + "FFC2" + "0011" + "08" + "0078" + "0050" + "0"*20,
      // DHT (C4) is NOT a SOF — must be hopped, not parsed as dims
      "FFD8" + "FFC40006" + "0"*8 + sof0,
      // SOS before any SOF → null (dims always precede entropy data)
      "FFD8" + "FFDA000C" + "0"*20,
      // truncated mid-SOF (dims fields cut) → null, not garbage
      ("FFD8" + "FFE00004" + "0"*4 + "FFC0" + "0011" + "08" + "00").toString,
      // declared segment length < 2 is malformed → null
      "FFD8" + "FFE00001" + sof0)
      .toDF("hx").select(Multimodal.imageDims(unhex(col("hx"))).as("d"))
      .collect().map(r => Option(r.getStruct(0)).map(s => (s.getLong(0), s.getLong(1))))
    assert(jpegs(0).contains((80L, 120L)), s"got ${jpegs(0)}")
    assert(jpegs(1).contains((80L, 120L)), s"two-segment walk: ${jpegs(1)}")
    assert(jpegs(2).contains((80L, 120L)), s"fill bytes: ${jpegs(2)}")
    assert(jpegs(3).contains((80L, 120L)), s"SOF2: ${jpegs(3)}")
    assert(jpegs(4).contains((80L, 120L)), s"DHT hop: ${jpegs(4)}")
    assert(jpegs(5).isEmpty && jpegs(6).isEmpty && jpegs(7).isEmpty,
      s"malformed must be null: ${jpegs.drop(5).toSeq}")

    // WAV: JUNK chunk of ODD size 11 (word-pad to 12) before fmt; a
    // truncated walk (header cut before the fmt rate field) → null
    val junkWav = "524946462408000057415645" + "4A554E4B" + "0B000000" +
      "0"*24 + "666D7420" + "10000000" + "01000100" + "401F0000" + "0"*16
    val rates = Seq(junkWav, junkWav.take(80))
      .toDF("hx").select(Multimodal.wavSampleRate(unhex(col("hx"))).as("r"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(rates.toSeq == Seq(Some(8000L), None), rates.toSeq.toString)
  }

  test("MP4 native box walk: box hops, udta-first moov, v1 64-bit mvhd; malformed → null") {
    val session = spark
    import session.implicits._
    import graft.ops.Multimodal
    val ftyp16 = "00000010" + "66747970" + "69736F6D" + "00000000"
    // mvhd v0 tail: size|'mvhd'|ver|flags|ctime|mtime|timescale=1000|dur=10000
    val tail0 = "00000074" + "6D6F6F76" + "0000006C" + "6D766864" + "00" +
      "000000" + "00000000" + "00000000" + "000003E8" + "00002710"
    // proper VERSION-1 mvhd: 64-bit ctime/mtime/duration, 32-bit timescale
    val tail1 = "00000080" + "6D6F6F76" + "00000078" + "6D766864" + "01" +
      "000000" + "0000000000000000" + "0000000000000000" + "000003E8" +
      "0000000000002710"
    val rows = Seq(
      // minimal ftyp (16 bytes, no compat brands), v0 mvhd
      ftyp16 + tail0,
      // one compat brand → ftyp size 20, moov at a deeper offset
      "00000014" + "66747970" + "6D703432" + "00000000" + "6D703431" + tail0,
      // version-1 mvhd with REAL 64-bit fields → parsed, not refused
      ftyp16 + tail1,
      // v1 version byte over a v0-SIZED body → truncated before the
      // 64-bit duration → null, not a misparse
      ftyp16 + "00000074" + "6D6F6F76" + "0000006C" + "6D766864" + "01" +
        "000000" + "00000000" + "00000000" + "000003E8" + "00002710",
      // a well-formed 16-byte 'free' box between ftyp and moov → hopped
      ftyp16 + "00000010" + "66726565" + "0000000000000000" + tail0,
      // 'udta' child before mvhd inside moov → hopped
      ftyp16 + "00000084" + "6D6F6F76" + "00000010" + "75647461" +
        "0000000000000000" + "0000006C" + "6D766864" + "00" + "000000" +
        "00000000" + "00000000" + "000003E8" + "00002710",
      // 'free' declared past the payload, moov never reachable → null
      ftyp16 + ("00000074" + "66726565" + "00000000" + "0" * 56),
      // truncated before the duration field → null, not garbage
      (ftyp16 + tail0).dropRight(4),
      // not ISO-BMFF at all
      "DEADBEEF00000000")
      .toDF("hx").select(unhex(col("hx")).as("b"))
      .select(Multimodal.sniffFormat(col("b")).as("f"),
        Multimodal.mp4Meta(col("b")).as("m")).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("mp4", "mp4", "mp4", "mp4", "mp4", "mp4", "mp4", "mp4", "unknown"))
    def meta(i: Int) = Option(rows(i).getStruct(1))
      .map(s => (s.getString(0), s.getLong(1), s.getLong(2)))
    assert(meta(0).contains(("isom", 1000L, 10000L)), s"got ${meta(0)}")
    assert(meta(1).contains(("mp42", 1000L, 10000L)), s"compat-brand hop: ${meta(1)}")
    assert(meta(2).contains(("isom", 1000L, 10000L)), s"v1 mvhd: ${meta(2)}")
    assert(meta(4).contains(("isom", 1000L, 10000L)), s"free hop: ${meta(4)}")
    assert(meta(5).contains(("isom", 1000L, 10000L)), s"udta-first moov: ${meta(5)}")
    assert(meta(3).isEmpty && meta(6).isEmpty && meta(7).isEmpty && meta(8).isEmpty,
      s"malformed must be null: ${Seq(3, 6, 7, 8).map(meta)}")
  }

  test("nearDupKeep: transitive chains collapse to one representative; untouched docs survive") {
    val session = spark
    import session.implicits._
    import graft.ops.Dedup
    val docs = (1L to 8L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    // chain 2~5, 5~7 (one component, keep 2) + pair 3~8 (keep 3)
    val pairs = Seq((2L, 5L), (5L, 7L), (3L, 8L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDupKeep(docs, pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    // pairwise pruning would WRONGLY keep 7 (5~7's min is 5, not 2)
    assert(kept == Seq(1L, 2L, 3L, 4L, 6L), s"got $kept")
  }

  test("binary payload dedup: byte-identical payloads collapse to the min id; distinct bytes survive") {
    val session = spark
    import session.implicits._
    import graft.ops.Dedup
    val rows = Seq(
      (5L, "AABB"), (2L, "AABB"), (9L, "AABB"), // identical bytes → keep 2
      (3L, "AABBCC"),                           // superset bytes are distinct
      (7L, "CCDD"))
      .toDF("doc_id", "hx").select(col("doc_id"), unhex(col("hx")).as("payload"))
    val kept = Dedup.binaryDedup(rows).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 3L, 7L), s"got $kept")
  }

  test("MP3 ID3 syncsafe walk + frame bit fields: variable tag offset, wrong version/layer → null") {
    val session = spark
    import session.implicits._
    import graft.ops.Multimodal
    // frame: FFFB (MPEG-1 L3), bitrate idx 9 (128 kbps), sr idx 0 (44100)
    val frame = "FFFB" + "90" + "00"
    // ID3v2.4, syncsafe size 0x0181 -> (1<<7)|1 = 129 body bytes
    val id3 = "494433" + "040000" + "00000101" + "00" * 129
    val rows = Seq(
      frame,                            // bare frame, no tag
      id3 + frame,                      // frame AFTER a 139-byte tag
      id3 + "FFF390" + "00",            // MPEG-2 version bits → null
      id3 + "FFFD90" + "00",            // Layer II → null
      "FFFB" + "F0" + "00",             // bitrate idx 15 (bad) → null
      "FFFB" + "9C" + "00",             // sr idx 3 (reserved) → null
      id3,                              // tag but truncated before frame
      "0011223344556677")               // not mp3 at all
      .toDF("hx").select(
        Multimodal.sniffFormat(unhex(col("hx"))).as("f"),
        Multimodal.mp3Meta(unhex(col("hx"))).as("m"))
      .collect().map(r => (r.getString(0),
        Option(r.getStruct(1)).map(s =>
          (if (s.isNullAt(0)) -1L else s.getLong(0), s.getLong(1), s.getLong(2)))))
    assert(rows(0) == ("mp3", Some((-1L, 128L, 44100L))), s"bare: ${rows(0)}")
    assert(rows(1) == ("mp3", Some((129L, 128L, 44100L))), s"tagged: ${rows(1)}")
    assert(rows.slice(2, 7).forall(_._2.isEmpty),
      s"malformed must be null: ${rows.slice(2, 7).toSeq}")
    assert(rows(7) == ("unknown", None), s"garbage: ${rows(7)}")
  }

  test("bloom-prefiltered decontamination ≡ exact path, even with a saturated sketch") {
    val session = spark
    import session.implicits._
    import graft.ops.Decontamination
    val corpus = (1L to 60L).map(i =>
      (i, if (i % 7 == 0) s"the secret eval answer $i is here"
          else s"clean training text number $i with words")).toDF("doc_id", "text")
    val bench = (1L to 60L).filter(_ % 7 == 0).map(i =>
      (i + 1000L, s"the secret eval answer $i is here")).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = asMap(Decontamination.contaminated(corpus, bench, n = 4))
    assert(exact.nonEmpty, "fixture must actually contaminate")
    // well-sized sketch
    assert(asMap(Decontamination.contaminatedBloom(corpus, bench, n = 4)) == exact)
    // SATURATED sketch (expectedItems 1 → fpp near 1): the prefilter passes
    // nearly everything, and the exact verify join must still return the
    // identical result — no false negatives by construction, false
    // positives killed downstream
    assert(asMap(Decontamination.contaminatedBloom(corpus, bench, n = 4,
      expectedItems = 1L)) == exact)
  }

  test("dupGroups: connected components over the pair graph, min-id labels") {
    val session = spark
    import session.implicits._
    // chain {1,2,3} (transitive — pairwise pruning would miss 1~3), a long
    // path {20..24} (exercises multi-round propagation), pair {10,11}
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L))
      .toDF("id_a", "id_b")
    val comp = graft.ops.Dedup.dupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L), s"got $comp")
  }

  test("native char shingles == HOF formulation (order and all)") {
    import spark.implicits._
    val texts = Seq("", "a", "abcd", "abcde", "abcdef", "aaaaaaa",
      "the quick brown fox", "ababababab", "caf\u00e9 d\u00e9j\u00e0 vu",
      "\ud83d\ude00abcdef\ud83d\ude01xyz", "  spaced  out  ",
      (0 until 300).map(i => ('a' + i % 7).toChar).mkString)
    val df = texts.toDF("t")
    val rows = df.select(
      Dedup.shingles(org.apache.spark.sql.functions.col("t"), 5).as("n"),
      OpsHofOracle.shinglesHof(org.apache.spark.sql.functions.col("t"), 5).as("h")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"shingle mismatch on '$t': native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}")
    }
  }
}
