package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class UrlOpsSpec extends SparkTestBase {

  test("extractUrls: multiple mentions in order, trailing punctuation stripped, none for plain text") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "see https://a.example.com/p/1, then http://b.net/x?q=2. done"),
      (2L, "no links here"),
      (3L, "bare https://c.org end")).toDF("doc_id", "text")
    val m = UrlOps.urlMentions(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(m == Map(
      (1L, 0) -> "https://a.example.com/p/1",
      (1L, 1) -> "http://b.net/x?q=2",
      (3L, 0) -> "https://c.org"), s"got $m")
  }

  test("hostOf + registrableDomain: subdomains collapse to last two labels; ports and paths excluded") {
    val session = spark
    import session.implicits._
    val urls = Seq(
      "https://x.y.news.example.com/a/1",
      "http://example.com/b",
      "http://single/x",
      "http://a.com:8080/p").toDF("url")
    val got = urls.select(
        UrlOps.hostOf(col("url")).as("h"),
        UrlOps.registrableDomain(UrlOps.hostOf(col("url"))).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      ("x.y.news.example.com", "example.com"),
      ("example.com", "example.com"),
      ("single", "single"),
      ("a.com", "a.com")), s"got $got")
  }

  test("registrableDomain: public-suffix hosts keep three labels; bbc.co.uk != spam.co.uk") {
    val session = spark
    import session.implicits._
    val hosts = Seq(
      "www.bbc.co.uk", "spam.co.uk", "news.bbc.co.uk", "bbc.co.uk",
      "co.uk",              // the bare suffix: ≤2 labels → itself
      "a.b.shop.com.au", "x.go.jp", "deep.sub.example.com", "example.com")
    val got = hosts.toDF("h")
      .select(col("h"), UrlOps.registrableDomain(col("h")).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("www.bbc.co.uk") == "bbc.co.uk")
    assert(got("news.bbc.co.uk") == "bbc.co.uk")
    assert(got("spam.co.uk") == "spam.co.uk")
    assert(got("bbc.co.uk") == "bbc.co.uk")
    assert(got("co.uk") == "co.uk")
    assert(got("a.b.shop.com.au") == "shop.com.au")
    assert(got("x.go.jp") == "x.go.jp")
    assert(got("deep.sub.example.com") == "example.com")
    assert(got("example.com") == "example.com")
    // the critical corruption the naive 2-label rule caused: two distinct
    // .co.uk sites must NOT share a registrable domain
    assert(got("www.bbc.co.uk") != got("spam.co.uk"))
  }

  test("canonicalizeUrl: case, fragments, default ports, bare root; non-defaults preserved") {
    val session = spark
    import session.implicits._
    val cases = Seq(
      ("HTTP://WWW.Example.COM:80/Path/1?q=A#frag", "http://www.example.com/Path/1?q=A"),
      ("https://Sub.Site.org:8443/", "https://sub.site.org:8443"),
      ("HTTPS://Host.NET:443/x/Y#z", "https://host.net/x/Y"),
      ("http://plain.io", "http://plain.io"),
      ("http://a.com/", "http://a.com"),
      ("http://a.com:8080/p/Q?x=1&y=2", "http://a.com:8080/p/Q?x=1&y=2"),
      ("https://b.io:80/k", "https://b.io:80/k"), // 80 is NOT https default
      // trailing-dot FQDN ≡ bare host (matches hostOf, so blocklist and
      // frontier keys agree), with and without a port
      ("https://Example.COM./p", "https://example.com/p"),
      ("http://h.io.:8080/x", "http://h.io:8080/x"))
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), UrlOps.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, exp) => assert(got(in) == exp, s"$in -> ${got(in)}") }
  }

  test("canonicalizeUrl is idempotent (stable frontier keys) and total on degenerate inputs") {
    val session = spark
    import session.implicits._
    val urls = Seq(
      "HTTP://WWW.Example.COM:80/Path/1?q=A#frag",
      "https://Sub.Site.org:8443/",
      "http://a.com/",
      "http://h",                    // host only
      "https://h:443",               // default port, no path
      "http://h:0/x",                // weird port preserved
      "not a url at all",            // no scheme → degenerate, must not throw
      "")
    val once = urls.toDF("u")
      .select(col("u"), UrlOps.canonicalizeUrl(col("u")).as("c1"))
    val twice = once.select(col("u"), col("c1"),
        UrlOps.canonicalizeUrl(col("c1")).as("c2"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    twice.filter(t => t._1.toLowerCase.startsWith("http")).foreach { case (u, c1, c2) =>
      assert(c1 == c2, s"not idempotent for [$u]: [$c1] -> [$c2]")
    }
    // non-URLs degrade to the empty-ish "://" skeleton, never an error
    val nonUrl = twice.find(_._1 == "not a url at all").get
    assert(nonUrl._2 == "://", s"degenerate: ${nonUrl._2}")
  }

  test("capPerDomain: keeps k lowest ids per first-mention domain; no-URL docs always pass") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (5L, "https://a.x.com/1"),
      (3L, "https://b.x.com/2"),
      (9L, "https://c.x.com/3"),
      (2L, "https://d.y.org/4"),
      (7L, "no urls in this one"),
      // second mention is x.com but the FIRST (y.org) decides the domain
      (8L, "http://y.org/5 then https://e.x.com/6")).toDF("doc_id", "text")
    val kept = UrlOps.capPerDomain(docs, k = 2)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // x.com keeps {3,5} (drops 9); y.org keeps {2,8}; 7 has no URL
    assert(kept == Seq(2L, 3L, 5L, 7L, 8L), s"got $kept")
  }

  test("capPerDomain: parity with the window form on a skewed corpus; no window in the plan") {
    val session = spark
    import session.implicits._
    // one mega-domain (800 docs of hot.com), a co.uk sibling pair, and a
    // tail of small domains — spread over many partitions so the bounded
    // aggregate's map-side partials actually merge
    val docs = ((0L until 800L).map(i => (i, s"https://s$i.hot.com/p")) ++
      (1000L until 1040L).map(i => (i, s"https://a.shop$i.co.uk/x")) ++
      (2000L until 2030L).map(i => (i, s"http://t${i % 3}.tail.org/y")) ++
      Seq((3000L, "no urls here")))
      .toDF("doc_id", "text").repartition(16)
    val viaAgg = UrlOps.capPerDomain(docs, k = 7)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // window-rank reference: the k lowest ids per first-mention domain
    val dom = UrlOps.urlMentions(docs).filter(col("url_idx") === 0)
      .select(col("doc_id"), col("domain"))
    val ranked = dom.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("domain")).orderBy(col("doc_id"))))
    val viaWin = docs.join(ranked.select(col("doc_id"), col("rk")), Seq("doc_id"), "left")
      .filter(col("rk").isNull || col("rk") <= 7)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaAgg == viaWin, s"agg=$viaAgg win=$viaWin")
    // hot.com capped to its 7 lowest ids; every 1-doc shopN.co.uk survives
    assert(viaAgg.count(_ < 800L) == 7 && viaAgg.take(7) == (0L until 7L).toSeq)
    assert((1000L until 1040L).forall(viaAgg.contains))
    assert(viaAgg.contains(3000L))
    // the skew guarantee is structural: no per-domain window sort anywhere
    val plan = UrlOps.capPerDomain(docs, k = 7).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window leaked into the capped plan:\n$plan")
    assert(plan.contains("k_smallest"), s"bounded aggregate missing:\n$plan")
  }

  test("filterBlockedDomains: drops docs with ANY blocked mention, keeps the rest; blocklist side broadcast") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "fine https://good.example.com/1"),
      (2L, "mixed https://good.example.com/2 and http://ads.bad.net/x"),
      (3L, "no urls at all"),
      (4L, "http://bad.net/direct"),
      (5L, "case dodge http://Spam.BAD.net/y"),     // DNS is case-insensitive
      (6L, "dot dodge http://x.bad.net./z")).toDF("doc_id", "text") // trailing-dot FQDN
    val block = Seq("bad.net", "never-seen.io").toDF("domain")
    val kept = UrlOps.filterBlockedDomains(docs, block)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
    val plan = kept.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"blocklist join not broadcast:\n$plan")
  }
}
