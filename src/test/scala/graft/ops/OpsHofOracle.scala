package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function formulations of three native
  * expressions — the parity oracles their specs assert against:
  * [[graft.functions.CharShingles]] ([[Dedup.shingles]]),
  * [[graft.functions.ChunkTokens]] ([[TextAnalysis.chunkTokens]]) and
  * [[graft.functions.SentencePack]] ([[TextAnalysis.sentenceChunks]]).
  */
object OpsHofOracle {

  /** Distinct character k-shingles, first-occurrence order. */
  def shinglesHof(text: Column, k: Int): Column = {
    val idx = sequence(lit(0), greatest(length(text) - k, lit(0)))
    array_distinct(transform(idx, i => text.substr(i + 1, lit(k))))
  }

  /** Fixed-size token chunks with overlap: windows of `n` whitespace
    * tokens advancing by `n - overlap`, starts capped at
    * max(len − overlap, 1); zero-token documents yield no chunks.
    */
  def chunkTokensHof(text: Column, n: Int, overlap: Int = 0): Column = {
    require(n > 0 && overlap >= 0 && overlap < n,
      s"need 0 <= overlap < n, got n=$n overlap=$overlap")
    val w = regexp_extract_all(text, lit("\\S+"), lit(0))
    val stride = n - overlap
    when(size(w) > 0,
      transform(
        sequence(lit(1), greatest(size(w) - overlap, lit(1)), lit(stride)),
        s => concat_ws(" ", slice(w, s, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Greedy sentence-packed chunks as a per-doc fold:
    * (doc id, chunk_idx, chunk).
    */
  def sentenceChunksHof(docs: DataFrame, maxTokens: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, s"need maxTokens > 0, got $maxTokens")
    // fold state: (cidx, acc tokens in current chunk, chunk idx per sentence)
    val sents = TextAnalysis.sentenceArray(col(textCol))
    val init = struct(lit(0L).as("cidx"), lit(0L).as("acc"),
      array().cast("array<bigint>").as("assign"))
    val folded = aggregate(sents, init, (st, s) => {
      val ntok = size(regexp_extract_all(s, lit("\\S+"), lit(0))).cast("long")
      val newChunk = st.getField("acc") > 0 && st.getField("acc") + ntok > maxTokens
      struct(
        when(newChunk, st.getField("cidx") + 1).otherwise(st.getField("cidx")).as("cidx"),
        when(newChunk, ntok).otherwise(st.getField("acc") + ntok).as("acc"),
        concat(st.getField("assign"),
          array(when(newChunk, st.getField("cidx") + 1).otherwise(st.getField("cidx"))))
          .as("assign"))
    })
    docs.select(col(idCol), sents.as("sents"), folded.getField("assign").as("assign"))
      .select(col(idCol), posexplode(arrays_zip(col("sents"), col("assign")))
        .as(Seq("pos", "z")))
      .groupBy(col(idCol), col("z.assign").as("chunk_idx"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("z.sents").as("s")))),
        p => p.getField("s"))).as("chunk"))
  }
}
