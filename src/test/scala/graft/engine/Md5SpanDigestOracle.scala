package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A Column-form span digest, the parity oracle of
  * [[graft.functions.SpanDigest]]: md5 of the offset-ordered
  * (kind, text, media_ref, offset) serialization, control-char separated
  * (0x00 null marker, 0x01 field, 0x02 span), with a NULL spans array
  * mapped to a non-hex sentinel. It is not injective when a field
  * contains a separator character, and its `array_sort` comparator
  * returns 0 whenever an offset is NULL, which is not a total order — so
  * it agrees with the native digest on spans with non-NULL offsets and no
  * control characters (SpanDigestSpec).
  */
object Md5SpanDigestOracle {

  def spanDigest(spans: Column): Column = {
    val ordered = array_sort(spans, (l, r) =>
      when(l.getField("offset") < r.getField("offset"), -1)
        .when(l.getField("offset") > r.getField("offset"), 1)
        .otherwise(0))
    when(spans.isNull, lit("\u0003nullspans"))
      .otherwise(md5(concat_ws("\u0002", transform(ordered, s => concat_ws("\u0001",
        coalesce(s.getField("kind"), lit("\u0000")),
        coalesce(s.getField("text"), lit("\u0000")),
        coalesce(s.getField("media_ref"), lit("\u0000")),
        s.getField("offset").cast("string"))))))
  }
}
