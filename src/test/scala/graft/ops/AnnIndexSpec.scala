package graft.ops

import graft.SparkTestBase

/** Cluster-scoped embedding near-dup mining (SemDeDup). */
class AnnIndexSpec extends SparkTestBase {

  test("SemDeDup: cluster-scoped near-dup pairs find exactly the planted twins") {
    val session = spark
    import session.implicits._
    // two well-separated clusters with hash-noise spread (a sinusoid here
    // is a trap: sin(0.37·i) has period ≈17, producing unplanted
    // near-identical vector pairs); base-base cosines stay ≤ ~0.99, the
    // planted twin (one coordinate nudged) sits at ≈ 1 - 3e-8
    def noise(i: Int, d: Int): Float = {
      // splitmix64 of (i, d): a LINEAR blend of i and d is also a trap —
      // noise differences become constant across dims (parallel shift)
      var z = i * 8L + d + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (((z ^ (z >>> 31)) % 1000L + 1000L) % 1000L) / 1000.0f * 0.6f - 0.3f
    }
    val base = (0 until 300).map { i =>
      val b = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.tabulate(8)(d => b * (1.0f + d * 0.1f) + noise(i, d)))
    }
    val twins = base.filter(_._1 % 10 == 0).map { case (i, v) =>
      (i + 10000L, v.updated(0, v.head + 0.001f))
    }
    val vecs = (base ++ twins).toDF("vec_id", "embedding")
    val model = Ivf.train(vecs, c = 4, iters = 2)

    // 0.99999: the nudged twins sit at ≈ 1-3e-8; a chance base-base pair
    // this close would need all 8 noise dims to agree within ~6e-3
    val pairs = Similarity.semanticDupPairs(vecs, model, threshold = 0.99999)
      .collect()
    val got = pairs.map(r => (r.getLong(1), r.getLong(2))).toSet
    val expected = twins.map(t => (t._1 - 10000L, t._1)).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // every pair is intra-cluster by construction: the pair's cluster is
    // the assignment of both members
    val assigned = Ivf.assign(vecs, model).select("vec_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    pairs.foreach { r =>
      assert(assigned(r.getLong(1)) == r.getInt(0) && assigned(r.getLong(2)) == r.getInt(0))
    }
  }
}
