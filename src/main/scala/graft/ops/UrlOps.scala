package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL / domain operators for web-corpus curation: extract URL mentions
  * from document text, parse hosts and naive registrable domains, and
  * filter the corpus against a domain blocklist — the RefinedWeb/C4-style
  * "URL filtering" stage (engine-native LLM-pipeline addition; the
  * reference's scope is validation-only).
  *
  * Everything is built from codegen'd built-ins (`regexp_extract_all`,
  * `regexp_extract`, `split`) in the Java∩RE2 regex dialect subset (no
  * lookaround, no backrefs) so the same patterns run identically in the
  * DuckDB oracle.
  *
  * Scale shape (the 100 TB plan):
  *  - extraction is row-local (one regex pass per doc, no shuffle);
  *  - [[urlMentions]] explodes to (doc, url) rows — output is bounded by
  *    mention count, and downstream aggregation by domain gets map-side
  *    combine before its one exchange;
  *  - [[filterBlockedDomains]] broadcasts the blocklist (blocklists are
  *    thousands-to-millions of rows — far under the broadcast threshold
  *    relative to a 10^12-doc corpus), derives blocked doc ids with a
  *    map-side broadcast semi-join, and anti-joins the corpus on doc_id;
  *    the only exchange is the doc_id anti-join, and AQE converts it to a
  *    broadcast anti-join whenever the blocked set is small.
  */
object UrlOps {

  /** URL pattern, Java∩RE2 dialect: scheme + non-space run, with trailing
    * sentence punctuation excluded so prose like "see https://x.com/p."
    * yields the URL without the final period.
    */
  val UrlRx = "https?://[^\\s]*[^\\s.,;:!?)\\]]"

  /** All URL mentions in a text column, in order. Row-local. */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlRx), lit(0))

  /** Host (authority minus port/userinfo is not modelled — crawl URLs in
    * practice carry neither; ports are excluded by the `:` stop class).
    * LOWERCASED and trailing-dot-stripped: DNS names are case-insensitive
    * and `host.` ≡ `host`, so a blocklist/cap keyed on the raw spelling
    * would be trivially bypassed by `Spam.BAD-ADS.net.`.
    */
  def hostOf(url: Column): Column =
    regexp_replace(
      lower(regexp_extract(url, "(?i)https?://([^/\\s:?#]+)", 1)),
      "\\.+$", "")

  /** Canonical URL form for mention-level dedup and frontier keys:
    * scheme + host lowercased (path/query case-significant, preserved),
    * `#fragment` dropped, default ports (`:80` http, `:443` https)
    * dropped (non-default ports preserved), a bare root path `/`
    * dropped. Row-local chain of codegen'd regexes in the Java∩RE2
    * subset — mirrored verbatim by the q_url_canon oracle.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "(?i)^(https?)://", 1))
    // trailing-dot strip matches hostOf: `example.com.` ≡ `example.com` in
    // DNS, and a canonical key that distinguishes them would give the same
    // page two dedup/frontier identities
    val host = regexp_replace(
      lower(regexp_extract(url, "(?i)^https?://([^/:?#]+)", 1)), "\\.+$", "")
    val port = regexp_extract(url, "(?i)^https?://[^/:?#]+:([0-9]+)", 1)
    val defaultPort = when(scheme === "https", "443").otherwise("80")
    // the host =!= "" guard keeps canon IDEMPOTENT on degenerate inputs
    // (fuzz-found: an all-dots host strips to empty, and an orphaned
    // `:port` after an empty host would re-parse differently next pass)
    val portPart = when(host =!= "" && port =!= "" && port =!= defaultPort,
      concat(lit(":"), port)).otherwise(lit(""))
    // path+query: from the first / or ? after the authority, fragment cut
    val pq = regexp_extract(url, "(?i)^https?://[^/?#]*([^#]*)", 1)
    val pqNorm = when(pq === "/", lit("")).otherwise(pq)
    concat(scheme, lit("://"), host, portPart, pqNorm)
  }

  /** Embedded snapshot of the COMMON two-part public suffixes (a subset of
    * the Mozilla Public Suffix List, which is public data): under these,
    * the registrable domain is the last THREE host labels, not two —
    * without this, `bbc.co.uk` and `spam.co.uk` both collapse to `co.uk`
    * and every per-domain cap / profile / blocklist decision is corrupted
    * for ccTLD hosts. The snapshot covers the second-level registries of
    * the major crawled ccTLDs; a deployment carrying the FULL list swaps
    * it in via the `twoPartSuffixes` parameter (a few thousand strings —
    * still literal-sized).
    */
  val TwoPartSuffixes: Seq[String] = Seq(
    // UK
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk", "me.uk",
    "ltd.uk", "plc.uk", "nhs.uk",
    // Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    // Japan / Korea / China / Taiwan / Hong Kong
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp", "gr.jp",
    "lg.jp",
    "co.kr", "or.kr", "ne.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    // Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe",
    "com.ve", "net.ve", "org.ve", "edu.ve", "gob.ve",
    "com.ec", "net.ec", "org.ec", "edu.ec", "gob.ec",
    // South / Southeast Asia
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in", "ac.in",
    "edu.in", "gov.in", "res.in",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "co.id", "or.id", "net.id", "web.id", "ac.id", "sch.id", "go.id",
    "co.th", "or.th", "net.th", "ac.th", "go.th", "in.th",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "ac.vn",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    // Middle East / Africa
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "gen.tr", "web.tr",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa", "sch.sa",
    "co.ae", "net.ae", "org.ae", "ac.ae", "gov.ae", "sch.ae",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "co.za", "org.za", "net.za", "gov.za", "ac.za", "web.za",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    // Europe (second-level registries)
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "com.pt", "edu.pt", "gov.pt", "org.pt", "net.pt")

  /** Registrable domain under the embedded public-suffix snapshot:
    * longest-matching public suffix + one label. `a.b.example.com` →
    * `example.com`; `news.bbc.co.uk` → `bbc.co.uk` (because `co.uk` is a
    * public suffix, NOT a registrable domain). A host that IS a suffix (or
    * has ≤ 2 labels) returns itself. The suffix set rides in the plan as a
    * literal array (`array_contains` — codegen'd, row-local, effectively a
    * broadcast).
    */
  def registrableDomain(host: Column,
                        twoPartSuffixes: Seq[String] = TwoPartSuffixes): Column = {
    val parts = split(host, "\\.")
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    when(size(parts) <= 2, host)
      .when(array_contains(typedLit(twoPartSuffixes), last2),
        concat_ws(".", element_at(parts, -3), last2))
      .otherwise(last2)
  }

  /** (id, url, host, domain) — one row per URL mention, document order
    * preserved by `url_idx`. One row-local regex pass, then posexplode.
    */
  def urlMentions(docs: DataFrame, id: String = "doc_id",
                  text: String = "text"): DataFrame =
    docs.select(col(id), posexplode(extractUrls(col(text))).as(Seq("url_idx", "url")))
      .withColumn("host", hostOf(col("url")))
      .withColumn("domain", registrableDomain(col("host")))

  /** Domain-diversity cap (the RefinedWeb-style guard against one domain
    * flooding the corpus): keep at most `k` docs per registrable domain —
    * deterministically the lowest doc ids — where a doc's domain is that
    * of its FIRST URL mention. Docs with no URL mentions pass untouched.
    * Requires a long-castable id (crawl doc ids are integers here).
    *
    * Scale shape — skew-immune: registrable domains are the canonical hot
    * key (wordpress.com), and a window rank would sort a mega-domain's
    * whole projection in ONE task. Instead the winners come from a bounded
    * k-smallest aggregate ([[graft.functions.TopK.kSmallest]], Catalyst's
    * `CollectTopK`): every map task contributes
    * ≤ k candidates per domain to the one domain-keyed exchange, the merged
    * state is ≤ k longs, and no per-domain sort of the full row set exists
    * anywhere in the plan (plan-asserted: no WindowExec). Losers (over-cap
    * docs) and the final filter join on the UNIQUE doc id — skew-free by
    * construction. Parity with a window-rank reference asserted in
    * UrlOpsSpec.
    */
  def capPerDomain(docs: DataFrame, k: Int, id: String = "doc_id",
                   text: String = "text"): DataFrame = {
    val dom = urlMentions(docs, id, text)
      .filter(col("url_idx") === 0).select(col(id), col("domain"))
    val winners = dom.groupBy(col("domain"))
      .agg(graft.functions.TopK.kSmallest(col(id), k).as("keep"))
      .select(explode(col("keep")).as(id))
    val losers = dom.select(col(id).cast("long").as(id))
      .join(winners, Seq(id), "left_anti")
    docs.join(losers, docs(id).cast("long") === losers(id), "left_anti")
  }

  /** Documents whose text mentions NO blocklisted domain. `blocklist` is a
    * one-column (`domain`) frame, broadcast; docs with at least one
    * blocked mention are derived by a map-only broadcast semi-join and
    * removed with a doc_id anti-join.
    */
  def filterBlockedDomains(docs: DataFrame, blocklist: DataFrame,
                           id: String = "doc_id",
                           text: String = "text"): DataFrame = {
    val blockedDocs = urlMentions(docs, id, text)
      .join(broadcast(blocklist), Seq("domain"), "left_semi")
      .select(col(id)).distinct()
    docs.join(blockedDocs, Seq(id), "left_anti")
  }
}
