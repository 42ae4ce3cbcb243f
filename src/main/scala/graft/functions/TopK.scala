package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Bounded per-group top-k over Catalyst's `CollectTopK`: a ≤k-entry
  * priority queue per aggregation state, map-side combined. This is the
  * skew-immune replacement for `row_number() OVER (PARTITION BY g ORDER
  * BY …)` + `rank <= k`: the window form sorts a hot group's whole
  * partition in one task, while each scan task here contributes at most
  * k candidates per group to the one exchange.
  */
object TopK {

  /** `df.groupBy(g).agg(kSmallest($"id", k))` — ascending array of the k
    * smallest non-null longs.
    */
  def kSmallest(c: Column, k: Int): Column = {
    require(k > 0, s"k must be positive, got $k")
    shims.collectTopK(c.cast("long"), k, reverse = true)
  }

  /** `df.groupBy(g).agg(topKByScore($"score", $"id", k))` — the k
    * (id, score) pairs with the largest scores, ties broken on the smaller
    * id, as `array<struct<id: long, score: double>>` in that order. Rows
    * with a NULL id or a NULL/NaN score are dropped. `-0.0` and `0.0` tie,
    * as in a `score DESC, id` sort.
    */
  def topKByScore(score: Column, id: Column, k: Int): Column = {
    require(k > 0, s"k must be positive, got $k")
    val (s, i) = (score.cast("double"), id.cast("long"))
    // ascending (-score, id) is (score desc, id asc); NULL keys are skipped
    val key = when(s.isNotNull && i.isNotNull && !isnan(s),
      struct((-s).as("neg"), i.as("id")))
    transform(shims.collectTopK(key, k, reverse = true),
      x => struct(x("id").as("id"), (-x("neg")).as("score")))
  }
}
