package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multimodal-column metadata: image/audio/video as opaque `binary`
  * columns, read without a codec library — magic numbers and header
  * fields are plain bytes. Every operator is a row-local, shuffle-free
  * Column expression (codegen'd built-ins or a native bounded walk).
  */
object Multimodal {

  /** Big-endian unsigned 32-bit int at 1-based byte offset `off`. Slices
    * the 4 BYTES first, then hexes — only header bytes are ever converted,
    * never the whole (possibly multi-MB) payload.
    */
  def beUint32(bin: Column, off: Int): Column =
    conv(hex(substring(bin, off, 4)), 16, 10).cast("long")

  /** Little-endian unsigned 16-bit int at 1-based byte offset `off`. */
  def leUint16(bin: Column, off: Int): Column =
    conv(concat(hex(substring(bin, off + 1, 1)), hex(substring(bin, off, 1))),
      16, 10).cast("long")

  // magic compares touch only the first bytes (substring BEFORE hex:
  // hexing the full payload would allocate 2x the image per predicate)
  private def hexAt(bin: Column, off: Int, nBytes: Int): Column =
    hex(substring(bin, off, nBytes))

  /** Container sniffing by magic number: png / gif / jpeg / wav / unknown.
    * Row-local, codegen'd, shuffle-free — the first pass any multimodal
    * lake runs over an untrusted payload column.
    */
  def sniffFormat(bin: Column): Column =
    when(hexAt(bin, 1, 8) === "89504E470D0A1A0A", "png")
      .when(hexAt(bin, 1, 6).isin("474946383961", "474946383761"), "gif")
      .when(hexAt(bin, 1, 3) === "FFD8FF", "jpeg")
      .when(hexAt(bin, 1, 4) === "52494646" &&
        hexAt(bin, 9, 4) === "57415645", "wav")
      .when(hexAt(bin, 5, 4) === "66747970", "mp4") // ISO BMFF: size|'ftyp'
      // ID3v2 tag or a bare MPEG frame sync (11 set bits); safely AFTER
      // the jpeg branch — FFD8's second byte fails the & E0 == E0 test
      .when(hexAt(bin, 1, 3) === "494433" ||
        (hexAt(bin, 1, 1) === "FF" &&
          conv(hexAt(bin, 2, 1), 16, 10).cast("long")
            .bitwiseAND(lit(224L)) === 224L), "mp3")
      .otherwise("unknown")

  /** Little-endian unsigned 32-bit int at 1-based byte offset `off`. */
  def leUint32(bin: Column, off: Int): Column =
    conv(concat(hex(substring(bin, off + 3, 1)), hex(substring(bin, off + 2, 1)),
      hex(substring(bin, off + 1, 1)), hex(substring(bin, off, 1))), 16, 10)
      .cast("long")

  /** Little-endian unsigned 32-bit int at a DYNAMIC 1-based offset —
    * byte-wise substrings so only the four addressed bytes are touched.
    */
  def leUint32At(bin: Column, off: Column): Column = {
    def b(i: Column): Column = hex(bin.substr(i.cast("int"), lit(1)))
    conv(concat(b(off + 3), b(off + 2), b(off + 1), b(off)), 16, 10).cast("long")
  }

  /** REAL audio sample rate for PCM WAV — a bounded TWO-chunk walk: RIFF
    * chunks after the 12-byte header are `id(4) | LE-u32 size | data`
    * (word-aligned: odd sizes pad one byte), and real files often lead
    * with LIST/JUNK before `fmt `. Chunk 1 at byte 13; if it isn't
    * `fmt `, hop its declared size to chunk 2 (a dynamic offset — one hop
    * keeps the expression flat and codegen'd; deeper walks belong in a
    * native expression like [[graft.functions.JpegDims]]). Sample rate =
    * LE-u32 at fmt-chunk offset + 12. Null for anything else, including
    * truncation before the field (parsing a partial field would report
    * garbage for exactly the malformed inputs this pass catches).
    */
  def wavSampleRate(bin: Column): Column = {
    val size1 = leUint32(bin, 17)
    // word alignment: chunks start on even boundaries, odd sizes pad 1
    val c2 = lit(21L) + size1 + pmod(size1, lit(2L))
    val c2Id = hex(bin.substr(c2.cast("int"), lit(4)))
    when(sniffFormat(bin) === "wav" && length(bin) >= 28 &&
      hexAt(bin, 13, 4) === "666D7420", leUint32(bin, 25))
      .when(sniffFormat(bin) === "wav" && length(bin) >= 20 &&
        length(bin) >= c2 + lit(15L) && c2Id === "666D7420",
        leUint32At(bin, c2 + lit(12L)))
      .otherwise(lit(null).cast("long"))
  }

  /** REAL image dimensions: PNG (IHDR big-endian u32 at bytes 17/21) and
    * GIF (logical screen little-endian u16 at bytes 7/9) at fixed header
    * offsets; JPEG via the native bounded SOF-marker walk
    * ([[graft.functions.JpegDims]] — dims sit at a variable offset after
    * any APPn/COM/DQT segments). Null struct for everything else —
    * INCLUDING payloads whose magic sniffs but whose header is truncated
    * before the dimension fields (parsing a partial field would report
    * garbage dims for exactly the malformed inputs this pass exists to
    * catch).
    */
  def imageDims(bin: Column): Column = {
    val f = sniffFormat(bin)
    when(f === "png" && length(bin) >= 24,
      struct(beUint32(bin, 17).as("width"), beUint32(bin, 21).as("height")))
      .when(f === "gif" && length(bin) >= 10,
        struct(leUint16(bin, 7).as("width"), leUint16(bin, 9).as("height")))
      .when(f === "jpeg", graft.functions.JpegDims.jpegDims(bin))
      .otherwise(lit(null).cast("struct<width:bigint,height:bigint>"))
  }

  /** REAL MP4/ISO-BMFF container metadata — brand from the `ftyp` box,
    * timescale + duration from the `mvhd` header, via the native bounded
    * box walk [[graft.functions.Mp4Meta]]: finds `moov` wherever it sits
    * at top level and `mvhd` wherever it sits among moov's children
    * (`udta`/`iods`-first muxer layouts included), reads both mvhd
    * versions (v0 32-bit and v1 64-bit times), and nulls anything
    * malformed or truncated before the fields it reads. Duration stays
    * (timescale, duration) — exact integers; milliseconds would be a
    * lossy division.
    */
  def mp4Meta(bin: Column): Column = graft.functions.Mp4Meta.mp4Meta(bin)

  /** REAL MP3 metadata — ID3v2 tag size (syncsafe u28: four 7-bit bytes at
    * offsets 7-10) and the first MPEG frame header's bitrate / sample rate.
    * The frame sits at a VARIABLE offset (right after the ID3 tag when one
    * is present, byte 1 otherwise). Commits to MPEG-1 Layer III — the
    * format's overwhelming majority — and nulls everything else (wrong
    * version/layer bits, free-format or invalid bitrate index, reserved
    * sample-rate index, truncation before the header) rather than
    * misparse, same policy as [[mp4Meta]]/[[wavSampleRate]]. Bit fields
    * come out of the header bytes with shift/mask on longs — codegen'd,
    * row-local, and mirrored operator-for-operator by the q_mp3_meta
    * DuckDB oracle.
    */
  def mp3Meta(bin: Column): Column = {
    def b(off: Column): Column =
      conv(hex(bin.substr(off.cast("int"), lit(1))), 16, 10).cast("long")
    val hasId3 = hexAt(bin, 1, 3) === "494433" && length(bin) >= 10
    val ss = b(lit(7)).bitwiseAND(lit(127L)) * 2097152L +
      b(lit(8)).bitwiseAND(lit(127L)) * 16384L +
      b(lit(9)).bitwiseAND(lit(127L)) * 128L +
      b(lit(10)).bitwiseAND(lit(127L))
    val id3Size = when(hasId3, ss).otherwise(lit(null).cast("long"))
    val f = when(hasId3, lit(11L) + ss).otherwise(lit(1L))
    val b1 = b(f)
    val b2 = b(f + lit(1L))
    val b3 = b(f + lit(2L))
    val brIdx = shiftright(b3, 4).bitwiseAND(lit(15L))
    val srIdx = shiftright(b3, 2).bitwiseAND(lit(3L))
    val ok = length(bin) >= f + lit(3L) &&
      b1 === 255L && b2.bitwiseAND(lit(224L)) === 224L && // frame sync
      b2.bitwiseAND(lit(24L)) === 24L && // version bits 11 = MPEG-1
      b2.bitwiseAND(lit(6L)) === 2L && // layer bits 01 = Layer III
      brIdx.between(1L, 14L) && srIdx <= 2L
    val bitrate = element_at(typedLit(Seq(32L, 40L, 48L, 56L, 64L, 80L,
      96L, 112L, 128L, 160L, 192L, 224L, 256L, 320L)), brIdx.cast("int"))
    val srate = element_at(typedLit(Seq(44100L, 48000L, 32000L)),
      (srIdx + 1L).cast("int"))
    when(ok, struct(id3Size.as("id3_size"), bitrate.as("bitrate_kbps"),
        srate.as("sample_rate")))
      .otherwise(lit(null)
        .cast("struct<id3_size:bigint,bitrate_kbps:bigint,sample_rate:bigint>"))
  }
}
