package graft.stats

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Constraint suggestion: exact expected suggestion sets on a hand-built
  * frame exercising every rule and its negation.
  */
class SuggestSpec extends SparkTestBase {

  private def frame() = {
    val session = spark
    import session.implicits._
    // id: unique, not-null, numeric, categorical (4 ≤ max)
    // cat: not-null, 2 values (categorical, NOT unique)
    // leaky: has a null → no not_null; 3 distinct non-null = 3 rows' worth
    // score: numeric with nulls
    Seq(
      (1L, "a", Option("x"), Option(2.5)),
      (2L, "b", Option("y"), None),
      (3L, "a", None, Option(7.5)),
      (4L, "b", Option("z"), Option(2.5))
    ).toDF("id", "cat", "leaky", "score")
  }

  test("exact mode: every rule and its negation") {
    val got = Suggest.suggestConstraints(frame(), categoricalMax = 4,
        approx = false)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    val exp = Set(
      ("id", "not_null", ""), ("id", "unique", ""),
      ("id", "is_in", "1|2|3|4"), ("id", "range", "[1,4]"),
      ("cat", "not_null", ""), ("cat", "is_in", "a|b"),
      // leaky: null kills not_null; 3 distinct of 3 non-null → unique
      ("leaky", "unique", ""), ("leaky", "is_in", "x|y|z"),
      // score: null kills not_null; 2.5 repeats so not unique
      ("score", "is_in", "2.5|7.5"), ("score", "range", "[2.5,7.5]"))
    assert(got == exp)
  }

  test("categoricalMax gates is_in") {
    val got = Suggest.suggestConstraints(frame(), categoricalMax = 2,
        approx = false)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got.contains(("cat", "is_in")))       // 2 values ≤ 2
    assert(!got.contains(("id", "is_in")))       // 4 values > 2
    assert(!got.contains(("leaky", "is_in")))    // 3 values > 2
  }

  test("verifyConstraints: planted violations counted exactly; suggest→verify round-trips clean") {
    val df = frame()
    val got = Suggest.verifyConstraints(df, Seq(
        ("id", "not_null", ""), ("id", "unique", ""),
        ("cat", "is_in", "a"),            // 2 'b' rows violate
        ("leaky", "not_null", ""),        // 1 null violates
        ("score", "range", "[3,10]"),     // two 2.5s violate
        ("score", "unique", "")))         // duplicate 2.5 → 1 excess row
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(3), r.getString(4))))
      .toMap
    assert(got(("id", "not_null")) == ((0L, "pass")))
    assert(got(("id", "unique")) == ((0L, "pass")))
    assert(got(("cat", "is_in")) == ((2L, "fail")))
    assert(got(("leaky", "not_null")) == ((1L, "fail")))
    assert(got(("score", "range")) == ((2L, "fail")))
    assert(got(("score", "unique")) == ((1L, "fail")))
    // everything suggestConstraints proposes holds on the frame it saw
    val suggested = Suggest.suggestConstraints(df, 4, approx = false)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val verified = Suggest.verifyConstraints(df, suggested.toSeq)
    assert(verified.filter(org.apache.spark.sql.functions
      .col("status") === "fail").count() == 0L)
  }

  test("unknown constraint kind fails fast") {
    intercept[IllegalArgumentException] {
      Suggest.verifyConstraints(frame(), Seq(("id", "positive", "")))
    }
  }

  test("suggest is ONE scan / ONE query execution, even with categorical columns") {
    val tmp = tempDir("graft-suggest").toString
    frame().write.mode("overwrite").parquet(s"$tmp/t")
    val audit = new graft.ScanSweep.ScanAudit
    spark.listenerManager.register(audit)
    try {
      val df = spark.read.parquet(s"$tmp/t")
      audit.reset()
      // exact mode, 3 categorical columns — the old phase-2 shape paid one
      // extra corpus scan per categorical column here
      Suggest.suggestConstraints(df, 4, approx = false).collect()
      org.apache.spark.sql.graft.shims.waitForListeners(spark)
      // ≤2 executions: the wide aggregate + the scanless report-frame
      // materialization (a driver-local relation)
      assert(audit.execs.get() <= 2L,
        s"suggest ran ${audit.execs.get()} query executions, want ≤2")
      assert(audit.scans.get() == 1L,
        s"suggest ran ${audit.scans.get()} corpus scans, want 1")
      // verify is likewise one wide aggregate = one scan
      audit.reset()
      Suggest.verifyConstraints(df, Seq(("id", "not_null", ""),
        ("cat", "is_in", "a|b"), ("score", "range", "[0,10]"))).collect()
      org.apache.spark.sql.graft.shims.waitForListeners(spark)
      assert(audit.execs.get() <= 2L && audit.scans.get() == 1L,
        s"verify: ${audit.execs.get()} executions / ${audit.scans.get()} scans, want ≤2/1")
    } finally spark.listenerManager.unregister(audit)
  }

  test("bounded value-set agg: exact set under the cap, NULL over it, merge-safe") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.BoundedSetAgg.boundedSet
    // 100 rows, 10 distinct values, spread over 8 partitions so merges run
    val df = (1 to 100).map(i => s"v${i % 10}").toDF("c").repartition(8)
    val under = df.agg(boundedSet(col("c"), 10)).collect()(0).getSeq[String](0)
    assert(under.sorted == (0 to 9).map(i => s"v$i").sorted, under.toString)
    val over = df.agg(boundedSet(col("c"), 9)).collect()(0)
    assert(over.isNullAt(0), "11th distinct value must overflow to NULL")
    // nulls are skipped, not collected
    val withNulls = Seq(Some("a"), None, Some("b"), None).toDF("c")
    assert(withNulls.agg(boundedSet(col("c"), 5)).collect()(0)
      .getSeq[String](0).sorted == Seq("a", "b"))
  }

  test("a high-cardinality column never admits is_in (bounded regardless of the distinct estimate)") {
    val session = spark
    import session.implicits._
    val wide = (1 to 5000).map(i => (i.toLong, s"u$i")).toDF("id", "u")
    val got = Suggest.suggestConstraints(wide, categoricalMax = 20,
        approx = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!got.exists(_._2 == "is_in"), got.toString)
  }

  test("approx mode emits the same kinds on a tiny frame (HLL exact at low cardinality)") {
    val exact = Suggest.suggestConstraints(frame(), 4, approx = false)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val appr = Suggest.suggestConstraints(frame(), 4, approx = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(appr == exact)
  }

  test("approxUnique: sketch-sized unique check passes truly-unique keys and fails real duplication") {
    val session = spark
    import session.implicits._
    // 100k genuinely-unique keys: estimator noise must stay inside the
    // 3·rsd slack → pass (and no expand-based exact countDistinct planned)
    val unique = session.range(100000)
      .select(concat(lit("k"), col("id").cast("string")).as("k")).toDF()
    val pass = Suggest.verifyConstraints(unique, Seq(("k", "unique", "")),
      approxUnique = true).collect()(0)
    assert(pass.getString(4) == "pass", pass.toString)
    // 20% duplication: excess far beyond slack → fail, estimate near truth
    val dup = session.range(100000)
      .select(concat(lit("k"), (col("id") % 80000).cast("string")).as("k")).toDF()
    val fail = Suggest.verifyConstraints(dup, Seq(("k", "unique", "")),
      approxUnique = true).collect()(0)
    assert(fail.getString(4) == "fail", fail.toString)
    val est = fail.getLong(3)
    assert(math.abs(est - 20000L) < 5000L, s"excess estimate $est")
    // the scale signature: exact count-distinct re-aggregates on the KEY
    // (a full shuffle of every distinct value); the approx form shuffles
    // only fixed-size sketch states — no hashpartitioning on the column
    def verifyPlan(approxUnique: Boolean): String = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               ns: Long): Unit = plans.add(qe.executedPlan.toString)
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        Suggest.verifyConstraints(dup, Seq(("k", "unique", "")), approxUnique).collect()
        org.apache.spark.sql.graft.shims.waitForListeners(spark)
      } finally spark.listenerManager.unregister(listener)
      plans.toArray.mkString("\n")
    }
    val approxPlan = verifyPlan(approxUnique = true)
    val exactPlan = verifyPlan(approxUnique = false)
    assert(!approxPlan.contains("hashpartitioning(k"), approxPlan)
    assert(exactPlan.contains("hashpartitioning(k"), exactPlan)
  }
}
