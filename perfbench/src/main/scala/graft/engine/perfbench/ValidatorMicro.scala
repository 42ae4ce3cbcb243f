package graft.engine.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.SchemaDef
import graft.validators.ScalaValidators

/** Warm per-call cost of the lexical validators (`ScalaValidators.validatorFor`)
  * over literals sampled from the workload's own corpus: the corpus-weighted
  * mix, and each datatype the schema ranges over. `calls_per_doc` (datatype
  * spans per document) lets ns/call x calls be set against the row-local
  * core's executor CPU.
  */
object ValidatorMicro {

  val Sample = 50000
  val MinTimedNs = 300L * 1000 * 1000

  def suffix(dt: String): String = dt.split("[#:]").last match {
    case "score" => "dt_score"
    case s => s
  }

  /** Nanoseconds per call over `lits`, after warm-up, at least MinTimedNs timed. */
  private def nsPerCall(lits: Array[(String => Boolean, String)]): Double = {
    var sink = 0L
    def pass(): Unit = { var i = 0; while (i < lits.length) {
      if (lits(i)._1(lits(i)._2)) sink += 1; i += 1 } }
    (0 until 5).foreach(_ => pass())
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < MinTimedNs) { pass(); calls += lits.length }
    val ns = (System.nanoTime() - t0).toDouble / calls
    if (sink < 0) println(sink) // keeps the loop observable to the JIT
    ns
  }

  def run(spark: SparkSession, docsPath: String, schema: SchemaDef,
          nDocs: Long): Map[String, Double] = {
    val ranged = schema.kinds.filter(k => k.kindType == "datatype" && k.range != null)
      .map(k => k.kind -> k.range).toMap
    val spans = spark.read.parquet(docsPath)
      .select(explode(col("spans")).as("s"))
      .select(col("s.kind").as("kind"), col("s.text").as("text"))
      .where(col("kind").isin(ranged.keys.toSeq: _*) && col("text").isNotNull)
    val calls = spans.count()
    val fns = ranged.values.toSeq.distinct
      .map(dt => dt -> ScalaValidators.validatorFor(schema, dt)).toMap
    val lits = spans.limit(Sample).collect()
      .map(r => (ranged(r.getString(0)), r.getString(1)))
    val mix = lits.map { case (dt, t) => (fns(dt), t) }
    val perDt = Seq("http://www.w3.org/2001/XMLSchema#anyURI",
      "http://www.w3.org/2001/XMLSchema#dateTime",
      "http://www.w3.org/2001/XMLSchema#language",
      "http://www.w3.org/2001/XMLSchema#unsignedInt",
      "http://www.w3.org/2001/XMLSchema#boolean", "dt:score").map { dt =>
      s"validators.ns_per_call.${suffix(dt)}" ->
        nsPerCall(lits.filter(_._1 == dt).map { case (_, t) => (fns(dt), t) })
    }
    val mixNs = nsPerCall(mix)
    val perDoc = calls.toDouble / math.max(nDocs, 1L)
    (perDt ++ Seq(
      "validators.ns_per_call" -> mixNs,
      "validators.calls_per_doc" -> perDoc,
      "validators.est_cpu_ms" -> mixNs * calls / 1e6)).toMap
  }
}
