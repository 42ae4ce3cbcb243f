package graft.report

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** XML / JSON report writers mirroring the reference's envelopes:
  * `<checks><check>…` (dvt:126-129,174-177,194-197 + per-check outputXML,
  * e.g. CheckPropertiesDefined.php:94-160) and `{"checks":[…]}`
  * (dvt:131-135,179-191,199-202 + outputJSON, CheckPropertiesDefined.php:162-247).
  *
  * Differences by design (documented):
  *  - checks with zero findings are omitted, as in the reference (outputXML
  *    returns '' when errors is empty);
  *  - violation rows are sorted (checkId, docId, kind, value) for
  *    deterministic output — the reference inherits unspecified SPARQL
  *    result order (SURVEY.md §2.5);
  *  - we emit well-formed JSON; the reference's separator logic keys on a
  *    counter even for empty checks (dvt:183-190) and can emit dangling
  *    separators — not replicated;
  *  - large runs should use the distributed `violations.write.json`; these
  *    writers exist for the reference-shaped per-check envelope and cap the
  *    rows collected to the driver via `maxRowsPerCheck`.
  */
object Reports {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def jesc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** A report's driver-side rows, collected once and rendered to either
    * format: violations ordered (checkId, docId, kind, value) and capped
    * per check, and the fix log's (subject, predicate, object) triples.
    */
  final case class ReportRows(rows: Seq[Row], fixes: Seq[(String, String, String)])

  /** Collect a report's rows (see [[xml]] for `fixLog`; the triples are the
    * reference's deletedNTriples flattening, CheckURIExistence.php:190-211).
    */
  def collect(violations: DataFrame, maxRowsPerCheck: Int = 100000,
              fixLog: Option[DataFrame] = None): ReportRows = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("checkId")
      .orderBy(col("docId").asc_nulls_first, col("kind").asc_nulls_first,
        col("value").asc_nulls_first)
    val rows = violations
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxRowsPerCheck)
      .orderBy("checkId", "rn")
      .select("checkId", "severity", "docId", "kind", "value", "expected")
      .collect().toSeq
    val fixes = fixLog.toSeq.flatMap { log =>
      log.select(col("doc_id"), col("kind"), explode(col("deleted_refs")).as("ref"))
        .orderBy("doc_id", "kind", "ref").limit(maxRowsPerCheck).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    }
    ReportRows(rows, fixes)
  }

  /** (errors, warnings) of a violations frame from ONE aggregation. */
  def severityTotals(violations: DataFrame): (Long, Long) = {
    val n = violations.groupBy("severity").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (n.getOrElse("error", 0L), n.getOrElse("warning", 0L))
  }

  /** Reference-shaped XML report string. `fixLog` (the frame
    * [[graft.engine.Fix.uriFixLog]] returns) renders as the reference's
    * `<fixes><fix>` block under the URI-EXISTENCE check.
    */
  def xml(violations: DataFrame, datasets: Seq[String], ontologies: Seq[String],
          maxRowsPerCheck: Int = 100000,
          fixLog: Option[DataFrame] = None): String =
    renderXml(collect(violations, maxRowsPerCheck, fixLog), datasets, ontologies)

  /** [[xml]] over already-collected rows. */
  def renderXml(collected: ReportRows, datasets: Seq[String],
                ontologies: Seq[String]): String = {
    val ReportRows(rows, fixes) = collected
    val sb = new StringBuilder("<checks>\n")
    rows.groupBy(r => checkName(r.getString(0))).toSeq.sortBy(_._1).foreach {
      case (name, rs) =>
        sb ++= "  <check>\n"
        sb ++= s"    <name>${esc(name)}</name>\n"
        sb ++= s"    <description>${esc(name)} validation</description>\n"
        sb ++= "    <onDatasets>\n"
        datasets.foreach(d => sb ++= s"      <dataset>${esc(d)}</dataset>\n")
        sb ++= "    </onDatasets>\n"
        sb ++= "    <usingOntologies>\n"
        ontologies.foreach(o => sb ++= s"      <ontology>${esc(o)}</ontology>\n")
        sb ++= "    </usingOntologies>\n"
        sb ++= "    <validationWarnings>\n"
        rs.filter(_.getString(1) == "warning").foreach { r =>
          sb ++= "      <warning>\n"
          sb ++= s"        <id>${esc(r.getString(0))}</id>\n"
          Option(r.getString(3)).foreach(k => sb ++= s"        <property>${esc(k)}</property>\n")
          sb ++= "      </warning>\n"
        }
        sb ++= "    </validationWarnings>\n"
        sb ++= "    <validationErrors>\n"
        rs.filter(_.getString(1) == "error").foreach { r =>
          sb ++= "      <error>\n"
          sb ++= s"        <id>${esc(r.getString(0))}</id>\n"
          Option(r.getString(2)).foreach(d => sb ++= s"        <record>${esc(d)}</record>\n")
          Option(r.getString(3)).foreach(k => sb ++= s"        <property>${esc(k)}</property>\n")
          Option(r.getString(4)).foreach(v => sb ++= s"        <value>${esc(v)}</value>\n")
          Option(r.getString(5)).foreach(e => sb ++= s"        <expected>${esc(e)}</expected>\n")
          sb ++= "      </error>\n"
        }
        sb ++= "    </validationErrors>\n"
        if (name == "URI-EXISTENCE" && fixes.nonEmpty) {
          sb ++= "    <fixes>\n"
          fixes.foreach { case (subj, pred, obj) =>
            sb ++= "      <fix>\n"
            datasets.foreach(d => sb ++= s"        <dataset>${esc(d)}</dataset>\n")
            sb ++= s"        <subject>${esc(subj)}</subject>\n"
            sb ++= s"        <predicate>${esc(pred)}</predicate>\n"
            sb ++= s"        <object>${esc(obj)}</object>\n"
            sb ++= "      </fix>\n"
          }
          sb ++= "    </fixes>\n"
        }
        sb ++= "  </check>\n"
    }
    sb ++= "</checks>\n"
    sb.toString
  }

  /** Reference-shaped (but well-formed) JSON report string; `fixLog` as in
    * [[xml]].
    */
  def json(violations: DataFrame, datasets: Seq[String], ontologies: Seq[String],
           maxRowsPerCheck: Int = 100000,
           fixLog: Option[DataFrame] = None): String =
    renderJson(collect(violations, maxRowsPerCheck, fixLog), datasets, ontologies)

  /** [[json]] over already-collected rows. */
  def renderJson(collected: ReportRows, datasets: Seq[String],
                 ontologies: Seq[String]): String = {
    val ReportRows(rows, fixes) = collected
    val checks = rows.groupBy(r => checkName(r.getString(0))).toSeq.sortBy(_._1).map {
      case (name, rs) =>
        def entries(sev: String) = rs.filter(_.getString(1) == sev).map { r =>
          val fields = Seq(
            Some("id" -> r.getString(0)),
            Option(r.getString(2)).map("record" -> _),
            Option(r.getString(3)).map("property" -> _),
            Option(r.getString(4)).map("value" -> _),
            Option(r.getString(5)).map("expected" -> _)
          ).flatten
          fields.map { case (k, v) => s"""        "$k": "${jesc(v)}"""" }
            .mkString("      {\n", ",\n", "\n      }")
        }
        val ds = datasets.map(d => s"""      "${jesc(d)}"""").mkString(",\n")
        val os = ontologies.map(o => s"""      "${jesc(o)}"""").mkString(",\n")
        val fixBlock =
          if (name == "URI-EXISTENCE" && fixes.nonEmpty) {
            val fs = fixes.map { case (subj, pred, obj) =>
              val dsv = datasets.headOption.map(jesc).getOrElse("")
              s"""      {
                 |        "dataset": "$dsv",
                 |        "subject": "${jesc(subj)}",
                 |        "predicate": "${jesc(pred)}",
                 |        "object": "${jesc(obj)}"
                 |      }""".stripMargin
            }
            s""",
               |    "fixes": [
               |${fs.mkString(",\n")}
               |    ]""".stripMargin
          } else ""
        s"""  {
           |    "name": "${jesc(name)}",
           |    "description": "${jesc(name)} validation",
           |    "onDatasets": [
           |$ds
           |    ],
           |    "usingOntologies": [
           |$os
           |    ],
           |    "validationWarnings": [
           |${entries("warning").mkString(",\n")}
           |    ],
           |    "validationErrors": [
           |${entries("error").mkString(",\n")}
           |    ]$fixBlock
           |  }""".stripMargin
    }
    "{\n  \"checks\": [\n" + checks.mkString(",\n") + "\n  ]\n}\n"
  }

  /** CHECK family name from a violation id (`URI-EXISTENCE-100` → `URI-EXISTENCE`). */
  def checkName(checkId: String): String =
    checkId.reverse.dropWhile(_.isDigit).dropWhile(_ == '-').reverse
}
