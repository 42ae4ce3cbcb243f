package graft.ops

import graft.SparkTestBase

class IvfSpec extends SparkTestBase {

  test("IVF: trains deterministic centroids, probe retrieves the exact match") {
    val session = spark
    import session.implicits._
    // two well-separated groups + noise dims
    val vecs = (0 until 300).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.tabulate(8)(d =>
        base * (1.0f + d * 0.1f) + (math.sin(i * 0.37 + d) * 0.05).toFloat))
    }.toDF("vec_id", "embedding")

    val model = Ivf.train(vecs, c = 4, iters = 3)
    assert(model.centroids.length == 4)
    // deterministic: retrain gives identical centroids
    val model2 = Ivf.train(vecs, c = 4, iters = 3)
    assert(model.centroids.map(_.toSeq).toSeq == model2.centroids.map(_.toSeq).toSeq)

    val query = vecs.filter($"vec_id" === 123).collect()(0).getSeq[Float](1)
    val top = Ivf.topK(vecs, model, query, k = 3, nProbe = 2).collect()
    assert(top(0).getLong(0) == 123L)
    assert(math.abs(top(0).getDouble(1) - 1.0) < 1e-6)

    // assignment separates the two groups (clusters not all identical)
    val clusters = Ivf.assign(vecs, model).groupBy("cluster").count().collect()
    assert(clusters.length >= 2)
  }

  test("IVF index: probe is a partition-pruned read of nProbe clusters") {
    val session = spark
    import session.implicits._
    val vecs = (0 until 300).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.tabulate(8)(d =>
        base * (1.0f + d * 0.1f) + (math.sin(i * 0.37 + d) * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    val model = Ivf.train(vecs, c = 4, iters = 2)
    val idx = tempDir("graft-ivf").toString + "/index"
    Ivf.buildIndex(vecs, model, idx)

    val query = vecs.filter($"vec_id" === 200).collect()(0).getSeq[Float](1)
    val probed = Ivf.topKIndexed(spark, idx, model, query, k = 3, nProbe = 2)
    // the scan must prune on the cluster partition column
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cluster"),
      s"no partition pruning in plan:\n$plan")
    val top = probed.collect()
    assert(top(0).getLong(0) == 200L && math.abs(top(0).getDouble(1) - 1.0) < 1e-6)
  }

  test("IVF train guards degenerate inputs") {
    val session = spark
    import session.implicits._
    intercept[IllegalArgumentException] {
      Ivf.train(Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), c = 4)
    }
    // fewer rows than c: trains on what exists instead of throwing
    val tiny = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val m = Ivf.train(tiny, c = 8, iters = 2)
    assert(m.centroids.nonEmpty)
  }
}
