package graft.fixtures

import java.nio.charset.{Charset, StandardCharsets}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic web corpus (FIXTURES.md): the sandbox stand-in
  * for the live sites the reference's tests crawl. Seed-free — everything is
  * a pure function of page coordinates, so goldens are stable by
  * construction.
  *
  * Sites:
  *  - quotes.toscrape.com  — 10-page pagination chain, 10 quotes/page
  *    (mirrors geziyor_test.go:67-94)
  *  - books.toscrape.com   — category tree with relative/duplicate/fragment/
  *    cross-host links (mirrors geziyor_test.go:96-116)
  *  - mega.example.com     — one hub + 50 leaves on a single host (politeness
  *    / skew food)
  *  - redirect.example.com — 301 chains of length 1, 10, 11 (maxRedirect
  *    boundary, client/client.go:303-311)
  *  - flaky.example.com    — permanent 503 (retry exhaustion,
  *    client/client.go:94-121)
  *  - charset.example.com  — ISO-8859-9 page (charset decode,
  *    client/client_test.go:97-141)
  *  - robots on quotes host: Disallow: /deny (geziyor_test.go:331-339)
  */
object SiteFixtures {

  final case class Page(
      url: String,
      warcTs: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      status: Int,
      contentType: String,
      location: String,
      setCookie: String = null)

  private val T0 = Timestamp.valueOf("2023-06-01 00:00:00")
  private def ts(i: Int) = new Timestamp(T0.getTime + i * 3600L * 1000)

  val authors: Vector[String] = Vector(
    "Albert Einstein", "J.K. Rowling", "Jane Austen", "Marilyn Monroe",
    "André Gide", "Thomas A. Edison", "Eleanor Roosevelt")
  val tagNames: Vector[String] = Vector(
    "change", "deep-thoughts", "truth", "life", "books", "scale", "spark")

  /** Quote g's decoded text — authored here, asserted byte-identical after
    * html-encode → parse → extract round-trip.
    */
  def quoteText(g: Int): String =
    s"“Deterministic wisdom #$g — simplicity & scale.”"
  def quoteAuthor(g: Int): String = authors(g % authors.length)
  def quoteTags(g: Int): Seq[String] =
    (0 to g % 3).map(j => tagNames((g + j) % tagNames.length))

  private def enc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("“", "&ldquo;").replace("”", "&rdquo;")
      .replace("—", "&mdash;")

  val QuotesBase = "http://quotes.toscrape.com/"
  def quotesPageUrl(p: Int): String =
    if (p == 1) QuotesBase else s"http://quotes.toscrape.com/page/$p/"

  def quotesPageHtml(p: Int): String = {
    val quotes = (0 until 10).map { i =>
      val g = (p - 1) * 10 + i
      val tags = quoteTags(g).map(t =>
        s"""      <a class="tag" href="/tag/$t/page/1/">$t</a>""").mkString("\n")
      s"""  <div class="quote" itemscope itemtype="http://schema.org/CreativeWork">
         |    <span class="text" itemprop="text">${enc(quoteText(g))}</span>
         |    <span>by <small class="author" itemprop="author">${enc(quoteAuthor(g))}</small></span>
         |    <div class="tags">
         |      Tags:
         |$tags
         |    </div>
         |  </div>""".stripMargin
    }.mkString("\n")
    val pager =
      if (p < 10)
        s"""  <nav><ul class="pager">
           |    <li class="next"><a href="/page/${p + 1}/">Next <span aria-hidden="true">&rarr;</span></a></li>
           |  </ul></nav>""".stripMargin
      else "  <nav><ul class=\"pager\"></ul></nav>"
    s"""<!DOCTYPE html>
       |<html lang="en"><head><meta charset="utf-8"><title>Quotes to Scrape</title></head>
       |<body>
       |<div class="container">
       |$quotes
       |$pager
       |</div>
       |</body></html>""".stripMargin
  }

  def quotesPages: Seq[Page] = (1 to 10).map { p =>
    val html = quotesPageHtml(p)
    Page(quotesPageUrl(p), ts(p), html.getBytes(StandardCharsets.UTF_8),
      html, "en", 200, "text/html; charset=utf-8", null)
  } :+ Page(
    "http://quotes.toscrape.com/robots.txt", ts(0),
    "User-agent: *\nDisallow: /deny\n".getBytes(StandardCharsets.UTF_8),
    "User-agent: *\nDisallow: /deny\n", "en", 200,
    "text/plain; charset=utf-8", null) :+ {
    val html = "<html><body><p>should never be fetched</p></body></html>"
    Page("http://quotes.toscrape.com/deny/secret", ts(0),
      html.getBytes(StandardCharsets.UTF_8), html, "en", 200,
      "text/html; charset=utf-8", null)
  }

  val BooksBase = "http://books.toscrape.com/index.html"

  def booksPages: Seq[Page] = {
    def page(url: String, body: String, i: Int): Page = {
      val html = s"<!DOCTYPE html>\n<html><head><title>B</title></head><body>\n$body\n</body></html>"
      Page(url, ts(100 + i), html.getBytes(StandardCharsets.UTF_8), html,
        "en", 200, "text/html; charset=utf-8", null)
    }
    val index = page(BooksBase,
      (1 to 5).map(c =>
        s"""<a href="catalogue/cat_$c/index.html">Category $c</a>""").mkString("\n") +
        "\n<a href=\"catalogue/cat_1/index.html\">Category 1 again</a>" +
        "\n<a href=\"#promo\">Promo</a>" +
        "\n<a href=\"http://other-host.com/external\">elsewhere</a>", 0)
    val cats = (1 to 5).map { c =>
      page(s"http://books.toscrape.com/catalogue/cat_$c/index.html",
        (1 to 6).map(b =>
          s"""<a href="book_${c}_$b.html">Book $c-$b</a>""").mkString("\n") +
          "\n<a href=\"../../index.html\">Home</a>", c)
    }
    val books = for (c <- 1 to 5; b <- 1 to 6) yield
      page(s"http://books.toscrape.com/catalogue/cat_$c/book_${c}_$b.html",
        s"<p>Book $c-$b content</p>\n<a href=\"../../index.html\">Home</a>",
        10 + c * 10 + b)
    index +: cats :++ books
  }

  def megaPages: Seq[Page] = {
    val hub = {
      val body = (0 until 50).map(i =>
        s"""<a href="/m/$i">m$i</a>""").mkString("\n")
      val html = s"<html><body>$body</body></html>"
      Page("http://mega.example.com/", ts(200),
        html.getBytes(StandardCharsets.UTF_8), html, "en", 200,
        "text/html; charset=utf-8", null)
    }
    val leaves = (0 until 50).map { i =>
      val html = s"<html><body><p>leaf $i</p></body></html>"
      Page(s"http://mega.example.com/m/$i", ts(200 + i),
        html.getBytes(StandardCharsets.UTF_8), html, "en", 200,
        "text/html; charset=utf-8", null)
    }
    hub +: leaves
  }

  def redirectPages: Seq[Page] = {
    def chain(name: String, len: Int): Seq[Page] =
      (0 until len).map { i =>
        val nxt =
          if (i == len - 1) s"http://redirect.example.com/final_$name"
          else s"http://redirect.example.com/$name/${i + 1}"
        Page(s"http://redirect.example.com/$name/$i", ts(300),
          Array.emptyByteArray, "", "en", 301, "text/html", nxt)
      } :+ {
        val html = s"<html><body><p>end of $name</p></body></html>"
        Page(s"http://redirect.example.com/final_$name", ts(300),
          html.getBytes(StandardCharsets.UTF_8), html, "en", 200,
          "text/html; charset=utf-8", null)
      }
    chain("chain1", 1) ++ chain("chain10", 10) ++ chain("chain11", 11) ++ {
      // POST-through-redirect faces (Go http.Client semantics behind
      // client/client.go:303-311): 302 rewrites POST→GET + drops the body,
      // 307 preserves both.
      def target(name: String) = {
        val html = s"<html><body><p>$name</p></body></html>"
        Page(s"http://redirect.example.com/$name", ts(310),
          html.getBytes(StandardCharsets.UTF_8), html, "en", 200,
          "text/html; charset=utf-8", null)
      }
      Seq(
        Page("http://redirect.example.com/form302", ts(310),
          Array.emptyByteArray, "", "en", 302,
          "text/html", "http://redirect.example.com/submitted302"),
        target("submitted302"),
        Page("http://redirect.example.com/form307", ts(310),
          Array.emptyByteArray, "", "en", 307,
          "text/html", "http://redirect.example.com/submitted307"),
        target("submitted307"))
    }
  }

  def flakyPages: Seq[Page] = Seq(
    Page("http://flaky.example.com/always503", ts(400), Array.emptyByteArray,
      "", "en", 503, "text/html", null),
    {
      val html = "<html><body><p>ok</p></body></html>"
      Page("http://flaky.example.com/ok", ts(400),
        html.getBytes(StandardCharsets.UTF_8), html, "en", 200,
        "text/html; charset=utf-8", null)
    })

  /** ISO-8859-9 (Turkish) page — charset sniff from Content-Type. */
  val TurkishText = "Türkçe karakterler: ğüşıöç ĞÜŞİÖÇ"
  def charsetPages: Seq[Page] = {
    val html = s"<html><body><p>$TurkishText</p></body></html>"
    Seq(Page("http://charset.example.com/tr", ts(500),
      html.getBytes(Charset.forName("ISO-8859-9")), html, "tr", 200,
      "text/html; charset=iso-8859-9", null))
  }

  /** Cookie site (geziyor_test.go:269-288 / client/client.go:250-272):
    * /login responds with Set-Cookie and links to /private; the /private
    * request must carry the jar's cookie (visible as meta("cookie")).
    */
  def cookiePages: Seq[Page] = {
    val loginHtml = "<html><body><a href=\"/private\">private</a></body></html>"
    val privHtml = "<html><body><p>members only</p></body></html>"
    Seq(
      Page("http://cookie.example.com/login", ts(600),
        loginHtml.getBytes(StandardCharsets.UTF_8), loginHtml, "en", 200,
        "text/html; charset=utf-8", null, setCookie = "session=tok42"),
      Page("http://cookie.example.com/private", ts(601),
        privHtml.getBytes(StandardCharsets.UTF_8), privHtml, "en", 200,
        "text/html; charset=utf-8", null))
  }

  /** HTTPS site for robots scheme fidelity (middleware/robotstxt.go:40: the
    * robots URL carries the TRIGGERING REQUEST's scheme). The robots.txt
    * exists only under https:// — an engine that hardcodes
    * http://host/robots.txt misses it and incorrectly allow-alls.
    */
  def securePages: Seq[Page] = {
    def p(url: String, html: String, ct: String = "text/html; charset=utf-8") =
      Page(url, ts(800), html.getBytes(StandardCharsets.UTF_8), html, "en",
        200, ct, null)
    Seq(
      p("https://secure.example.com/",
        "<html><body><a href=\"/open\">open</a><a href=\"/hidden/x\">hidden</a></body></html>"),
      p("https://secure.example.com/robots.txt",
        "User-agent: *\nDisallow: /hidden\n", ct = "text/plain; charset=utf-8"),
      p("https://secure.example.com/open",
        "<html><body><p>open</p></body></html>"),
      p("https://secure.example.com/hidden/x",
        "<html><body><p>robots should block this</p></body></html>"))
  }

  /** Cookie-rotation site (net/http CookieJar REPLACEMENT semantics): /a
    * sets session=a and links /b; /b replaces it with session=b and links
    * /c; the /c request must carry ONLY session=b (an accumulate-only jar
    * would send "session=a; session=b").
    */
  def rotatePages: Seq[Page] = {
    def p(url: String, html: String, ck: String) =
      Page(url, ts(810), html.getBytes(StandardCharsets.UTF_8), html, "en",
        200, "text/html; charset=utf-8", null, setCookie = ck)
    Seq(
      p("http://rotate.example.com/a",
        "<html><body><a href=\"/b\">b</a></body></html>", "session=a"),
      p("http://rotate.example.com/b",
        "<html><body><a href=\"/c\">c</a></body></html>", "session=b"),
      p("http://rotate.example.com/c",
        "<html><body><p>end</p></body></html>", null))
  }

  /** RFC 6265 attribute site (net/http/cookiejar semantics the reference
    * inherits; round-3 verdict item 2): Path scoping, Max-Age expiry at the
    * wave clock, Max-Age=0 eviction.
    *  /start          sets scoped=s1; Path=/private → links a (private), b (public)
    *  /private/a      carries scoped; sets short=v; Max-Age=1 (dies in 1 wave-sec)
    *  /public/b       carries NOTHING (path-scoped out)
    *  /private/c      carries scoped only (short expired); Max-Age=0 EVICTS scoped
    *  /private/d      carries nothing (scoped evicted)
    */
  def rfc6265Pages: Seq[Page] = {
    def p(url: String, body: String, ck: String = null) = {
      val html = s"<html><body>$body</body></html>"
      Page(url, ts(820), html.getBytes(StandardCharsets.UTF_8), html, "en",
        200, "text/html; charset=utf-8", null, setCookie = ck)
    }
    Seq(
      p("http://ck.example.com/start",
        "<a href=\"/private/a\">a</a><a href=\"/public/b\">b</a>",
        "scoped=s1; Path=/private"),
      p("http://ck.example.com/private/a",
        "<a href=\"/private/c\">c</a>", "short=v; Max-Age=1"),
      p("http://ck.example.com/public/b", "<p>pub</p>"),
      p("http://ck.example.com/private/c",
        "<a href=\"/private/d\">d</a>", "scoped=x; Max-Age=0; Path=/private"),
      p("http://ck.example.com/private/d", "<p>end</p>"))
  }

  /** Crawl-delay site: robots.txt sets `Crawl-delay: 0.5` for `*` → with
    * waveIntervalMs=1000 and honorCrawlDelay, at most 2 grants/wave once
    * the rules are fetched (the seed wave runs uncapped — lazy fetch).
    */
  def crawlDelayPages: Seq[Page] = {
    def p(url: String, body: String, ct: String = "text/html; charset=utf-8") = {
      val html =
        if (ct.startsWith("text/html")) s"<html><body>$body</body></html>"
        else body
      Page(url, ts(840), html.getBytes(StandardCharsets.UTF_8), html, "en",
        200, ct, null)
    }
    val links = (1 to 5).map(i => s"""<a href="/p$i">$i</a>""").mkString
    Seq(
      p("http://cd.example.com/robots.txt",
        "User-agent: *\nCrawl-delay: 0.5\n", ct = "text/plain; charset=utf-8"),
      p("http://cd.example.com/start", links)) ++
      (1 to 5).map(i => p(s"http://cd.example.com/p$i", s"<p>page $i</p>"))
  }

  /** Domain-cookie site (RFC 6265 §5.1.3 via net/http/cookiejar):
    *  a.dom2.example.com/start  sets site=s; Domain=dom2.example.com
    *                            → links b.dom2…/x and dom2…/z
    *  b.dom2.example.com/x      carries site (subdomain match); sets
    *                            local=v (host-only) → links b.dom2…/y
    *  dom2.example.com/z        carries site (domain == host)
    *  b.dom2.example.com/y      carries local + site (name-sorted)
    */
  def domainCookiePages: Seq[Page] = {
    def p(url: String, body: String, ck: String = null) = {
      val html = s"<html><body>$body</body></html>"
      Page(url, ts(830), html.getBytes(StandardCharsets.UTF_8), html, "en",
        200, "text/html; charset=utf-8", null, setCookie = ck)
    }
    Seq(
      p("http://a.dom2.example.com/start",
        "<a href=\"http://b.dom2.example.com/x\">b</a>" +
          "<a href=\"http://dom2.example.com/z\">z</a>",
        "site=s; Domain=dom2.example.com"),
      p("http://b.dom2.example.com/x",
        "<a href=\"/y\">y</a>", "local=v"),
      p("http://dom2.example.com/z", "<p>apex</p>"),
      p("http://b.dom2.example.com/y", "<p>leaf</p>"))
  }

  /** JS-rendered site (client/client.go:171-247 GetRendered): the raw html
    * is an empty SPA shell with no links; the `text` column carries the
    * post-JS rendered DOM (link + content). Plain fetch sees the shell;
    * rendered fetch sees the DOM.
    */
  def jsPages: Seq[Page] = {
    val shell = "<html><body><div id=\"app\"></div></body></html>"
    val appDom =
      "<html><body><div id=\"app\"><a href=\"/detail\">detail</a><p>hydrated</p></div></body></html>"
    val detailDom =
      "<html><body><div id=\"app\"><p>detail hydrated</p></div></body></html>"
    Seq(
      Page("http://js.example.com/app", ts(700),
        shell.getBytes(StandardCharsets.UTF_8), appDom, "en", 200,
        "text/html; charset=utf-8", null),
      Page("http://js.example.com/detail", ts(701),
        shell.getBytes(StandardCharsets.UTF_8), detailDom, "en", 200,
        "text/html; charset=utf-8", null))
  }

  /** Sitemap-discovery site (sitemaps.org; `RobotsRules.sitemaps` →
    * `Sitemap.parse`): robots.txt carries TWO `Sitemap:` pointers (one
    * before the agent group, one after — file-wide semantics); the urlset
    * documents list pages NO page links to, so only sitemap discovery can
    * reach them. `/linked` is an ordinary link for the control run.
    */
  def sitemapPages: Seq[Page] = {
    def p(url: String, body: String, ct: String = "text/html; charset=utf-8") =
      Page(url, ts(850), body.getBytes(StandardCharsets.UTF_8), body, "en",
        200, ct, null)
    import graft.sitemap.Sitemap
    val sm1 = Sitemap.write(Seq(
      Sitemap.Entry("http://sm.example.com/sm/a", Some("2023-06-01")),
      Sitemap.Entry("http://sm.example.com/sm/b", None)))
    val sm2 = Sitemap.write(Seq(
      Sitemap.Entry("http://sm.example.com/sm/c", None)))
    Seq(
      p("http://sm.example.com/",
        "<html><body><a href=\"/linked\">l</a></body></html>"),
      p("http://sm.example.com/robots.txt",
        "Sitemap: http://sm.example.com/sitemap.xml\n" +
          "User-agent: *\nDisallow: /private\n" +
          "Sitemap: http://sm.example.com/sitemap2.xml\n",
        ct = "text/plain; charset=utf-8"),
      p("http://sm.example.com/sitemap.xml", sm1, ct = "application/xml"),
      p("http://sm.example.com/sitemap2.xml", sm2, ct = "application/xml"),
      p("http://sm.example.com/linked", "<html><body><p>linked</p></body></html>"),
      p("http://sm.example.com/sm/a", "<html><body><p>a</p></body></html>"),
      p("http://sm.example.com/sm/b", "<html><body><p>b</p></body></html>"),
      p("http://sm.example.com/sm/c", "<html><body><p>c</p></body></html>"))
  }

  /** trap.example.com — a calendar-trap site: the hub links 6 urls of one
    * digit-template family ('/cal/2024/N') plus a bounded '/about'; every
    * cal page links one MORE fresh cal url (the unbounded synthetic space).
    * Food for CrawlSpec.trapTemplateBudget (q76's engine-wired gate).
    */
  def trapPages: Seq[Page] = {
    def p(url: String, body: String) =
      Page(url, ts(900), body.getBytes(StandardCharsets.UTF_8), body, "en",
        200, "text/html; charset=utf-8", null)
    val hub = p("http://trap.example.com/",
      (1 to 6).map(i => s"""<a href="/cal/2024/$i">d$i</a>""")
        .mkString("<html><body>", "", """<a href="/about">a</a></body></html>"""))
    val cals = (1 to 6).map { i =>
      p(s"http://trap.example.com/cal/2024/$i",
        s"""<html><body><p>day $i</p><a href="/cal/2024/${i + 10}">next</a></body></html>""")
    }
    val deep = (11 to 16).map { i =>
      p(s"http://trap.example.com/cal/2024/$i",
        s"<html><body><p>day $i</p></body></html>")
    }
    val about = p("http://trap.example.com/about",
      "<html><body><p>about</p></body></html>")
    hub +: about +: (cals ++ deep)
  }

  /** Robots rules fetched in the wave a host is first GRANTED, not the wave
    * it first enters the frontier: the hub links three hosts in rank order
    * a (3 pages + a disallowed /secret), b (no robots.txt) and c (a page +
    * a disallowed /secret), so a wave cap defers b and c past the wave
    * their urls are discovered. Not part of `allPages`.
    */
  def deferredRobotsPages: Seq[Page] = {
    def p(url: String, body: String, ct: String = "text/html; charset=utf-8") = {
      val html =
        if (ct.startsWith("text/html")) s"<html><body>$body</body></html>"
        else body
      Page(url, ts(900), html.getBytes(StandardCharsets.UTF_8), html, "en",
        200, ct, null)
    }
    val targets = Seq("a.example.com/1", "a.example.com/2", "a.example.com/3",
      "a.example.com/secret", "b.example.com/1", "c.example.com/1",
      "c.example.com/secret").map("http://" + _)
    val deny = "User-agent: *\nDisallow: /secret\n"
    p("http://hub.example.com/",
      targets.map(u => s"""<a href="$u">x</a>""").mkString) +:
      p("http://a.example.com/robots.txt", deny, ct = "text/plain") +:
      p("http://c.example.com/robots.txt", deny, ct = "text/plain") +:
      targets.map(u => p(u, "<p>leaf</p>"))
  }

  def allPages: Seq[Page] =
    quotesPages ++ booksPages ++ megaPages ++ redirectPages ++ flakyPages ++
      charsetPages ++ cookiePages ++ jsPages ++ securePages ++ rotatePages ++
      rfc6265Pages ++ domainCookiePages ++ crawlDelayPages ++ sitemapPages ++
      trapPages

  /** The corpus as a DataFrame in the BASELINE input_hint shape
    * `pages(url, warc_ts, html, text, lang)` + fetch-semantics meta columns
    * (status, content_type, location — FIXTURES.md §1 page_meta).
    */
  def pagesDf(spark: SparkSession): DataFrame = pagesDf(spark, allPages)

  /** Any page list as a corpus DataFrame (randomized-parity tests build
    * synthetic graphs and need the same input shape).
    */
  def pagesDf(spark: SparkSession, pages: Seq[Page]): DataFrame = {
    import spark.implicits._
    pages.map(p => (p.url, p.warcTs, p.html, p.text, p.lang, p.status,
      p.contentType, Option(p.location), Option(p.setCookie)))
      .toDF("url", "warc_ts", "html", "text", "lang", "status",
        "content_type", "location", "set_cookie")
  }
}
