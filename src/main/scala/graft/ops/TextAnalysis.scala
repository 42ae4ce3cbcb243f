package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column builders over built-in functions — codegen-friendly, and the
  * simple ones are expressible in ANSI SQL for cross-engine oracles.
  */
object TextAnalysis {

  // ------------------------------------------------------------------
  // token counting
  // ------------------------------------------------------------------

  /** Whitespace token count (`\S+` runs). */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-space-non-alnum marks — a rough proxy for subword token budgets.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  // ------------------------------------------------------------------
  // language identification (stopword-voting heuristic)
  // ------------------------------------------------------------------

  /** Tiny built-in stopword inventories — enough for a deterministic
    * heuristic; NOT a real language model (by design: zero external data).
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "his", "this"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "un", "une", "que", "pour", "dans", "qui"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein", "eine", "auf", "sich"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "es", "que", "en", "un", "una", "por", "con")
  )

  /** Heuristic language id: argmax of per-language distinct stopword
    * hits; "und" when no language scores a hit. Ties break in fixed order
    * en>fr>de>es.
    *
    * Evaluated by the native single-pass [[graft.functions.LangIdExpr]]:
    * the Column formulation (kept with the tests as the parity oracle)
    * runs four `split(lower(text))` + `array_intersect` trees per row and
    * its generated code dominated the cold bench stage. Identical
    * verdicts (TextSignalsParitySpec + the q_langid/q_lang_group oracles).
    */
  def langId(text: Column): Column =
    graft.functions.TextSignalsCols.langId(text)

  // ------------------------------------------------------------------
  // script profile (mixed-script signal)
  // ------------------------------------------------------------------

  /** (script key, Java regex class, RE2 regex class): same character
    * class, two spellings — Java wants the `Is` prefix for Unicode
    * scripts, RE2 (DuckDB) the bare script name. Kept as ONE table so the
    * two engines' classes can never drift.
    */
  val Scripts: Seq[(String, String, String)] = Seq(
    ("latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("arabic", "\\p{IsArabic}", "\\p{Arabic}"),
    ("greek", "\\p{IsGreek}", "\\p{Greek}"))

  /** Per-script character counts + digits + total length, all exact
    * integers — the mixed-script signal (Cyrillic lookalikes inside Latin
    * prose, CJK boilerplate in an "English" crawl slice are classic spam /
    * mislabel tells). Row-local, codegen'd, oracle q_script_profile.
    */
  def scriptCounts(text: Column): Column = struct(
    Scripts.map { case (k, j, _) =>
      size(regexp_extract_all(text, lit(j), lit(0))).cast("long").as("n_" + k)
    } ++ Seq(
      size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("long").as("n_digit"),
      length(text).cast("long").as("n_total")): _*)

  /** Argmax script by character count; ties break in [[Scripts]] order
    * (latin first), "none" when no script character occurs — the same
    * deterministic tie discipline as [[langId]].
    */
  def dominantScript(text: Column): Column = {
    val counts = Scripts.map { case (k, j, _) =>
      (k, size(regexp_extract_all(text, lit(j), lit(0))))
    }
    val maxN = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("none")) { case ((k, n), acc) =>
      when(n === maxN && maxN > 0, lit(k)).otherwise(acc)
    }
  }

  // ------------------------------------------------------------------
  // quality scoring
  // ------------------------------------------------------------------

  /** Integer quality signals, all exactly reproducible cross-engine. */
  def nChars(text: Column): Column = length(text)
  def nPunct(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0)))
  def nUpper(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Z]"), lit(0)))

  /** Composite quality score in [0,1]: length band + punctuation sanity +
    * stopword presence + case sanity. Heuristic weights in the spirit of
    * C4/Gopher-style quality filters.
    *
    * Evaluated by the native single-pass
    * [[graft.functions.QualityScoreExpr]]; the Column formulation is kept
    * with the tests as the parity oracle. Identical doubles (same
    * operations in the same order).
    */
  def qualityScore(text: Column): Column =
    graft.functions.TextSignalsCols.qualityScore(text)

  // ------------------------------------------------------------------
  // repetition / diversity signals
  // ------------------------------------------------------------------

  /** Distinct-word ratio ×1e6 (BIGINT for exact cross-engine compare): low
    * values flag boilerplate/repetition — the Gopher-style "fraction of
    * unique words" filter. Empty/whitespace-only text → ratio 1.
    */
  def distinctWordRatioE6(text: Column): Column = {
    val w = regexp_extract_all(text, lit("\\S+"), lit(0))
    round(when(size(w) > 0,
      size(array_distinct(w)).cast("double") / size(w)).otherwise(lit(1.0)) * 1e6)
      .cast("bigint")
  }

  /** Gopher-style repetition signals over word n-grams (Rae et al. 2021,
    * Appendix A): characters covered by the single most frequent
    * `nTop`-gram (`top_gram_chars` = count × gram length; ties broken on
    * the lexicographically greatest gram, so fully deterministic) and
    * characters in all duplicated `nDup`-grams (`dup_gram_chars` = Σ
    * count × length over grams occurring ≥ 2× — every occurrence counted,
    * a documented simplification of Gopher's positional coverage, which
    * counts each character position once). Exact integers with the doc's
    * `n_chars`, so the downstream filter thresholds ratios itself.
    *
    * Scale shape: two explode + partial-agg corpus passes (one per n),
    * every stage keyed on the doc id — no corpus-wide state, map-side
    * combine on (id, gram). Gram tokenization is the native
    * [[graft.functions.WordNgrams]] multiplicity form, shared with
    * decontamination/Jaccard.
    */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame,
                        nTop: Int = 2, nDup: Int = 3,
                        id: String = "doc_id", text: String = "text")
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.WordNgrams.allWordNgrams
    def gramCounts(n: Int) = docs
      .select(col(id), explode(allWordNgrams(col(text), n)).as("gram"))
      .groupBy(col(id), col("gram")).agg(count(lit(1)).as("cnt"))
    val top = gramCounts(nTop)
      .groupBy(col(id))
      .agg(max(struct(col("cnt"), col("gram"))).as("m"))
      .select(col(id), col("m.gram").as("top_gram"),
        (col("m.cnt") * length(col("m.gram"))).as("top_gram_chars"))
    val dup = gramCounts(nDup)
      .groupBy(col(id))
      .agg(sum(when(col("cnt") >= 2, col("cnt") * length(col("gram")))
        .otherwise(lit(0L))).as("dup_gram_chars"))
    docs.select(col(id), length(col(text)).as("n_chars"))
      .join(top, Seq(id)).join(dup, Seq(id))
  }

  // ------------------------------------------------------------------
  // chunking (context-window preparation)
  // ------------------------------------------------------------------

  /** Fixed-size token chunks with overlap — the context-window preparation
    * pass (split long documents into n-token windows, stride = n −
    * overlap, so consecutive chunks share `overlap` tokens). Row-local,
    * shuffle-free, and codegen'd via the native
    * [[graft.functions.ChunkTokens]] expression (one pass over the text —
    * hot-loop-safe for a full-corpus chunk-prep job). Chunk starts are
    * 1, 1+stride, …, capped at max(len − overlap, 1) so the final
    * (possibly short) tail is emitted once and no pure-overlap tail
    * appears; zero-token documents yield NO chunks. Whitespace tokens
    * (`\S+`), rejoined with single spaces.
    */
  def chunkTokens(text: Column, n: Int, overlap: Int = 0): Column =
    graft.functions.ChunkTokens.chunkTokens(text, n, overlap)

  // ------------------------------------------------------------------
  // sentence segmentation + sentence-packed chunking
  // ------------------------------------------------------------------

  /** Sentence pattern, Java∩RE2 dialect (no lookaround): a sentence is a
    * maximal run of non-terminators plus its trailing `.!?` run. Leading
    * terminators with no preceding content are dropped by both engines'
    * regexp_extract_all identically.
    */
  val SentenceRx = "[^.!?]+[.!?]*"

  /** Trimmed non-empty sentences of a text column, in order. Row-local. */
  def sentenceArray(text: Column): Column =
    filter(transform(regexp_extract_all(text, lit(SentenceRx), lit(0)),
      s => trim(s)), s => length(s) > 0)

  /** (doc_id, sent_idx, sentence) — segmentation exploded to rows. */
  def sentences(docs: org.apache.spark.sql.DataFrame,
                idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
      posexplode(sentenceArray(col(textCol))).as(Seq("sent_idx", "sentence")))

  /** INTRA-document repeated-sentence removal: keep each sentence's FIRST
    * occurrence within the doc, in order, rejoined with single spaces —
    * the row-local boilerplate cleaner (nav crumbs, repeated CTAs) that
    * complements the corpus-global [[sentenceDedup]] (which drops
    * sentences repeated ACROSS ≥ minDocFreq docs). `array_distinct`
    * preserves first-occurrence order; the q_sentence_dedup_doc oracle
    * rebuilds that order in DuckDB via min-position re-aggregation.
    */
  def dedupSentencesInDoc(text: Column): Column =
    concat_ws(" ", array_distinct(sentenceArray(text)))

  /** Greedy sentence-packed chunking: pack consecutive sentences into
    * chunks of ≤ `maxTokens` whitespace tokens, never splitting a sentence
    * (an over-long sentence gets its own chunk) — the boundary-respecting
    * alternative to [[chunkTokens]] for context-window preparation.
    *
    * The greedy pack is inherently sequential WITHIN a document and
    * embarrassingly parallel ACROSS documents — exactly how it's
    * distributed here: ONE native codegen pass per doc
    * ([[graft.functions.SentencePack]] — segment, trim, count, pack,
    * re-join without touching the regex engine or an interpreted HOF),
    * then a posexplode; no shuffle at all. The packing rule — start a new
    * chunk when adding the sentence would exceed maxTokens and the current
    * chunk is non-empty — is exactly reproducible as a depth-bounded
    * recursive CTE, so it carries a cross-engine oracle.
    */
  def sentenceChunks(docs: org.apache.spark.sql.DataFrame, maxTokens: Int,
                     idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
        posexplode(graft.functions.SentencePack.sentencePack(col(textCol), maxTokens))
          .as(Seq("chunk_idx", "chunk")))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))

  /** Global sentence-level dedup (the RefinedWeb/C4 line-dedup stage):
    * drop every sentence whose canonical fingerprint appears in at least
    * `minDocFreq` DISTINCT documents (boilerplate, navigation chrome,
    * license blurbs), then reassemble each document from its surviving
    * sentences in order. Docs whose every sentence was boilerplate drop
    * out entirely (an empty text carries no training signal).
    *
    * Scale shape: explode → ONE fingerprint group-count (map-side combined,
    * keyed on fp) → anti-join back. The anti-join's build side is only the
    * ≥minDocFreq fingerprints — a tiny fraction of the fp universe at any
    * corpus size (boilerplate is by definition heavy-tailed), so AQE
    * broadcasts it — then one reassembly groupBy keyed on doc id. Nothing
    * is pairwise; every stage is a keyed shuffle that scales linearly.
    */
  def sentenceDedup(docs: org.apache.spark.sql.DataFrame, minDocFreq: Int,
                    idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(minDocFreq >= 2, s"need minDocFreq >= 2, got $minDocFreq")
    val sents = sentences(docs, idCol, textCol)
      .withColumn("fp", md5(trim(regexp_replace(lower(col("sentence")), "\\s+", " "))))
    val boilerplate = sents.groupBy("fp")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDocFreq)
      .select("fp")
    sents.join(boilerplate, Seq("fp"), "left_anti")
      .groupBy(idCol)
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("sent_idx"), col("sentence").as("s")))),
        p => p.getField("s"))).as("text"),
        count(lit(1)).as("n_sentences"))
  }

  // ------------------------------------------------------------------
  // PII redaction
  // ------------------------------------------------------------------

  /** Deliberately simple, dialect-portable patterns (no backreferences or
    * lookaround — valid in both Java regex and RE2, so the operator is
    * cross-engine checkable): emails; dotted-quad IPs; international-format
    * phone numbers (leading `+` required — keeps false positives off plain
    * digit runs).
    */
  val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Rx = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRx = "\\+[0-9][0-9()\\s.-]{6,}[0-9]"

  /** Scrub direct identifiers from training text: emails → `<EMAIL>`,
    * IPv4 → `<IP>`, +international phones → `<PHONE>`. Row-local,
    * shuffle-free, codegen'd — the shape of a 100 TB pre-training scrub
    * pass. Email runs first so its digits can't be half-eaten by the
    * phone pattern; IP before phone (phones require the `+`).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRx, "<EMAIL>"),
        Ipv4Rx, "<IP>"),
      PhoneRx, "<PHONE>")

  // ------------------------------------------------------------------
  // readability
  // ------------------------------------------------------------------

  /** Vowel-group count — the zero-external-data syllable proxy classic
    * readability formulas run on (a maximal `[aeiouy]+` run ≈ one
    * syllable nucleus). Row-local, exact integer.
    */
  def vowelGroupCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))

  // ------------------------------------------------------------------
  // encoding hygiene (NFC + control-char scrub)
  // ------------------------------------------------------------------

  /** Encoding-damage characters: C0 controls except tab/LF/CR, DEL, and
    * U+FFFD (the replacement char a lossy decode leaves behind). Java∩RE2
    * dialect (`\x{..}` escapes) — identical under DuckDB for the oracle.
    */
  val BadCharRx: String =
    "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]|\\x{FFFD}"

  /** Unicode NFC canonical composition (native codegen'd expression —
    * [[graft.functions.NfcNormalize]]); run BEFORE tokenizing or
    * fingerprinting so `é` and `e`+combining-acute can't fork dedup keys.
    */
  def nfc(text: Column): Column =
    graft.functions.NfcNormalize.nfcNormalize(text)

  /** Count of encoding-damage characters — the mojibake signal a quality
    * filter thresholds on. Row-local.
    */
  def badCharCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BadCharRx), lit(0)))

  /** Text with encoding-damage characters removed. Row-local, codegen'd. */
  def stripControlChars(text: Column): Column =
    regexp_replace(text, BadCharRx, "")

  // ------------------------------------------------------------------
  // residual-markup stripping (C4-style)
  // ------------------------------------------------------------------

  /** HTML/XML tag pattern, Java∩RE2: `<` + one non-space head char +
    * non-`>` run + `>`. The head-char guard keeps bare inequalities
    * ("a < b") out of the tag class.
    */
  val MarkupTagRx: String = "</?[a-zA-Z!][^>]*>"

  /** Count of residual markup tags — the signal a curation filter
    * thresholds on before paying for the strip pass. Row-local.
    */
  def markupTagCount(text: Column): Column =
    size(regexp_extract_all(text, lit(MarkupTagRx), lit(0)))

  /** Text with residual markup removed: tags → one space (so adjacent
    * words don't fuse), the five predefined XML entities decoded, runs of
    * whitespace collapsed. Row-local chain of codegen'd built-ins; the
    * q_strip_markup oracle applies the identical chain in DuckDB over
    * seeded markup. (A full HTML5 entity table would ride in as a
    * broadcast map; the predefined five cover XML and the vast majority
    * of web text.)
    */
  def stripMarkup(text: Column): Column = {
    val untagged = regexp_replace(text, MarkupTagRx, " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&") // &amp; LAST: "&amp;lt;" is "&lt;" text
      .foldLeft(untagged) { case (c, (e, ch)) => regexp_replace(c, e, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** The FULL entity decode ([[graft.functions.DecodeEntities]]): ~45
    * named entities plus decimal/hex numeric character references, in ONE
    * native codegen'd scan (the regexp-chain form re-scans the string once
    * per entity). Non-recursive with the same amp-last semantics as
    * [[stripMarkup]]'s five-entity chain — `&amp;lt;` stays the literal
    * text `&lt;` — and anything unrecognized passes through unchanged.
    * Compose as `decodeEntitiesExtended(regexp_replace(text, MarkupTagRx,
    * " "))` when a corpus needs more than the XML five; [[stripMarkup]]
    * itself keeps the minimal chain (its byte-for-byte oracle contract is
    * pinned by q_strip_markup / q_curate).
    */
  def decodeEntitiesExtended(text: Column): Column =
    graft.functions.DecodeEntities.decodeEntities(text)

  /** Code-point histogram signals + Shannon entropy in one native pass
    * ([[graft.functions.CharHist]]): struct(n_chars, n_distinct,
    * top_count, hist_md5, entropy). The character-level quality family —
    * threshold `entropy` to drop binary-ish / repetitive-glyph docs; the
    * integer fields and the sorted-histogram digest are the exact
    * cross-engine witnesses (q_char_hist), entropy is spec-pinned against
    * a driver reference.
    */
  def charHist(text: Column): Column = graft.functions.CharHist.charHist(text)

  // ------------------------------------------------------------------
  // fingerprinting
  // ------------------------------------------------------------------

  /** THE canonical text form (lowercase, whitespace collapsed, trimmed) —
    * shared by the dedup fingerprints and the LM features so the two can
    * never drift apart.
    */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Canonical-form document fingerprint: [[canonicalText]] then md5.
    * Identical in Spark and DuckDB — used as the dedup oracle key.
    */
  def fingerprint(text: Column): Column = md5(canonicalText(text))
}
