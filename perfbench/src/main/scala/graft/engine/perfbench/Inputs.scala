package graft.engine.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.datagen.DocGen
import graft.model.SchemaDef

/** The canonical, seed-free inputs the benchmark derives its seeded inputs
  * from: the n-doc `DocGen` corpus (so DocGen's plant table holds) and the
  * oracles that depend only on it. perfbench/run.py caches them per
  * (workload, size) and applies the seed itself: row order and file layout,
  * which docs change in snapshot N+1 and how, and stream arrival order.
  */
object Inputs {

  /** Per-checkId violation counts of the 10-check run over the unmodified
    * n-doc corpus, replayed from DocGen without the engine (the same plant
    * formulas PipelineGoldenSpec asserts as exact sets).
    */
  def expectedCounts(n: Long, schema: SchemaDef): Map[String, Long] = {
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def add(id: String, k: Long = 1L): Unit = if (k > 0) counts(id) += k
    val rootClosure = schema.subClosure("class:Root")
    val kindDefs = schema.kinds.map(k => k.kind -> k).toMap
    val usedKinds = scala.collection.mutable.Set.empty[String]
    val usedClasses = scala.collection.mutable.Set.empty[String]
    val badLinkTargets = scala.collection.mutable.Set.empty[String]
    val docIdPattern = "doc:(\\d{12})".r
    def targetClass(ref: String): String = ref match {
      case docIdPattern(digits) if digits.toLong < n => DocGen.cls(digits.toLong)
      case _ => SchemaDef.OWL_THING
    }
    var i = 0L
    while (i < n) {
      val d = DocGen.make(i, n)
      d.spans.foreach { s =>
        usedKinds += s.kind
        if (s.kind == "type") usedClasses += s.text
      }
      d.spans.filter(s => s.kind == "med:link" && s.media_ref != null).foreach { s =>
        if (!rootClosure.contains(targetClass(s.media_ref))) badLinkTargets += s.media_ref
      }
      if (i % 97 == 0) add("URI-EXISTENCE-100")
      if (!DocGen.isArticle(i) && i % 41 == 0 &&
        !Set("class:Article", "class:Page").contains(DocGen.cls(i)))
        add("OBJECT-DATATYPE-PROPERTIES-DOMAIN-100")
      add("DATATYPE-PROPERTIES-DATATYPE-101", Seq(
        i % 89 == 0, i % 53 == 0, i % 47 == 0, i % 59 == 0,
        i % 67 != 0 && i % 61 == 0, i % 29 == 0 && i % 83 != 0).count(identity))
      if (DocGen.isArticle(i)) {
        if (i % 73 == 0) add("OWL-RESTRICTION-MAX-101")
        if (i % 29 == 0 && i % 83 != 0) add("OWL-RESTRICTION-EXACT-104")
        if (i % 37 == 0) { add("OWL-RESTRICTION-SOME-101"); add("OWL-RESTRICTION-ONLY-101") }
        if (i % 79 == 0) add("OWL-RESTRICTION-MIN-102")
        if (i % 83 != 0 && i % 71 == 0) add("OWL-RESTRICTION-EXACT-100")
        if (i % 83 == 0) add("OWL-RESTRICTION-EXACT-102")
        if (i % 67 == 0) add("OWL-RESTRICTION-SOME-100")
        if (i % 67 != 0 && i % 61 == 0) add("OWL-RESTRICTION-SOME-102")
        if (i % 59 == 0) add("OWL-RESTRICTION-ONLY-100")
      }
      i += 1
    }
    add("OBJECT-PROPERTIES-RANGE-100", badLinkTargets.size.toLong)
    // dataset-level rows: one per undefined kind / class, one warning per
    // range-less datatype kind in use, one per used kind without a domain
    add("PROPERTIES-DEFINED-100", usedKinds.count(k => k != "type" && !kindDefs.contains(k)).toLong)
    add("CLASSES-DEFINED-100", usedClasses.count(c => !schema.classes.contains(c)).toLong)
    add("DATATYPE-PROPERTIES-DATATYPE-50", usedKinds.count(k =>
      kindDefs.get(k).exists(kd => kd.kindType == "datatype" && kd.range == null)).toLong)
    add("OBJECT-DATATYPE-PROPERTIES-DOMAIN-50", usedKinds.count(k =>
      k != "type" && kindDefs.get(k).forall(_.domain.isEmpty)).toLong)
    counts.toMap
  }

  final case class RawJson(json: String)

  def writeJson(path: String, fields: Map[String, Any]): Unit = {
    def value(v: Any): String = v match {
      case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => s""""$k":${value(x)}""" }.mkString("{", ",", "}")
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case RawJson(j) => j
      case x => x.toString
    }
    Files.writeString(Paths.get(path), value(fields) + "\n")
  }

  /** `canon <workload> <n> <dir> <config>`: the corpus under `dir/docs`,
    * plus per workload
    *   - full-snapshot: the replayed per-checkId counts (`expected.json`);
    *   - delta-snapshot: snapshot N's full app run with `config`
    *     (`prev_out`), whose core and profile every seeded delta run reads;
    *   - stream-microbatch: the row-local core of the corpus (`oracle`),
    *     which the streamed rows must equal whatever their arrival order.
    */
  def canon(spark: SparkSession, workload: String, n: Long, dir: String,
            config: String): Unit = {
    val cfg = graft.engine.ValidatorConfig.load(config)
    // compared as values: constraintHash reads the domain Seq's toString,
    // which differs between a loaded (ArraySeq) and a built (List) schema
    def parts(s: SchemaDef): Set[Any] =
      (s.kinds ++ s.classes ++ s.subClassOf ++ s.restrictions ++ s.facets).toSet
    val diff = (parts(cfg.schema) diff parts(DocGen.schema)) ++
      (parts(DocGen.schema) diff parts(cfg.schema))
    require(diff.isEmpty,
      s"$config must carry DocGen's fixture schema, or the plant table does not hold; differs in $diff")
    DocGen.documents(spark, n).toDF().write.mode("overwrite").parquet(s"$dir/docs")
    workload match {
      case "full-snapshot" =>
        writeJson(s"$dir/expected.json", Map("counts" -> expectedCounts(n, cfg.schema)))
      case "delta-snapshot" =>
        graft.engine.ValidatorApp.run(spark, cfg, s"$dir/prev_out")
        val core = Files.list(Paths.get(s"$dir/prev_out/core")).iterator().asScala.toSeq
        require(core.size == 1, s"expected one core run, found $core")
        writeJson(s"$dir/expected.json",
          Map("prev_core" -> core.head.toAbsolutePath.toString))
      case "stream-microbatch" =>
        graft.engine.Pipeline.rowLocalCore(spark, spark.read.parquet(s"$dir/docs"),
          cfg.schema, graft.streaming.StreamingValidator.StatelessChecks)
          .write.mode("overwrite").parquet(s"$dir/oracle")
        writeJson(s"$dir/expected.json", Map("docs" -> n))
    }
  }
}
