package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class HtmlOutlinksSpec extends AnyFunSuite {

  // ---- UrlResolve: RFC 3986 §5.4 worked examples, verbatim ----

  private val base = "http://a/b/c/d;p?q"

  test("RFC 3986 §5.4.1 normal examples") {
    val cases = Seq(
      "g:h" -> "g:h",
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y",
      "#s" -> "http://a/b/c/d;p?q#s",
      "g#s" -> "http://a/b/c/g#s",
      "g?y#s" -> "http://a/b/c/g?y#s",
      ";x" -> "http://a/b/c/;x",
      "g;x" -> "http://a/b/c/g;x",
      "g;x?y#s" -> "http://a/b/c/g;x?y#s",
      "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/",
      ".." -> "http://a/b/",
      "../" -> "http://a/b/",
      "../g" -> "http://a/b/g",
      "../.." -> "http://a/",
      "../../" -> "http://a/",
      "../../g" -> "http://a/g")
    for ((ref, want) <- cases)
      assert(UrlResolve.resolve(base, ref) == want, s"ref '$ref'")
  }

  test("RFC 3986 §5.4.2 abnormal examples") {
    val cases = Seq(
      "../../../g" -> "http://a/g",
      "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g",
      "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.",
      ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..",
      "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g",
      "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h",
      "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      // the strict-parser rows: a ref with a scheme is absolute
      "http:g" -> "http:g")
    for ((ref, want) <- cases)
      assert(UrlResolve.resolve(base, ref) == want, s"ref '$ref'")
  }

  test("resolve keeps authority-form and empty-path invariants") {
    assert(UrlResolve.resolve("http://h.invalid", "x.html") == "http://h.invalid/x.html")
    assert(UrlResolve.resolve("http://h.invalid/a/", "?q=1") == "http://h.invalid/a/?q=1")
    assert(UrlResolve.resolve("https://h.invalid/a/b", "//other.invalid/c")
      == "https://other.invalid/c")
    // scheme is lowercased on parse (RFC 3986 §3.1 schemes are ci)
    assert(UrlResolve.resolve("HTTP://h.invalid/a", "b") == "http://h.invalid/b")
  }

  // ---- HtmlOutlinks extraction rules ----

  private val pageBase = "http://h.invalid/dir/page.html"

  test("quoted, single-quoted, and unquoted hrefs extract in document order") {
    val html = """<a href="a.html">1</a> <a href='b.html'>2</a> <a href=c.html>3</a>"""
    assert(HtmlOutlinks.extract(html, pageBase) == Seq(
      "http://h.invalid/dir/a.html", "http://h.invalid/dir/b.html",
      "http://h.invalid/dir/c.html"))
  }

  test("attribute games: case, order, self-close slash, first href wins") {
    val html = """<A CLASS="x" HREF="up.html" href="ignored.html"/><a rel=nofollow href = "sp.html">s</a>"""
    assert(HtmlOutlinks.extract(html, pageBase) == Seq(
      "http://h.invalid/dir/up.html", "http://h.invalid/dir/sp.html"))
  }

  test("base href rebases LATER links only; first base wins") {
    val html = """<a href="before.html">b</a>
      <base href="/other/"><base href="/never/">
      <a href="after.html">a</a>"""
    assert(HtmlOutlinks.extract(html, pageBase) == Seq(
      "http://h.invalid/dir/before.html", "http://h.invalid/other/after.html"))
  }

  test("entity decode + whitespace strip in attribute values") {
    val html = "<a href=\"x?a=1&amp;b=2\">e</a><a href=\" \ty.html\n\">w</a>"
    assert(HtmlOutlinks.extract(html, pageBase) == Seq(
      "http://h.invalid/dir/x?a=1&b=2", "http://h.invalid/dir/y.html"))
  }

  test("comments, script/style bodies, fragments, and non-http schemes drop") {
    val html = """<!-- <a href="c.html">no</a> -->
      <script>var a = '<a href="s.html">no</a>';</script>
      <style>a[href="t.html"] {}</style>
      <a href="#frag">no</a> <a href="">no</a>
      <a href="mailto:a@b.c">no</a> <a href="javascript:void(0)">no</a>
      <a href="data:text/plain,x">no</a>
      <a href="real.html">yes</a>"""
    assert(HtmlOutlinks.extract(html, pageBase) == Seq("http://h.invalid/dir/real.html"))
  }

  test("anchor without href, and <area>/<link> tags, contribute nothing") {
    val html = """<a name="top">no</a><link href="l.css"><area href="m.html">"""
    assert(HtmlOutlinks.extract(html, pageBase) == Seq.empty)
  }

  test("protocol-relative and absolute links pass through resolution") {
    val html = """<a href="//cdn.invalid/x">p</a><a href="https://s.invalid/y">a</a>"""
    assert(HtmlOutlinks.extract(html, pageBase) == Seq(
      "http://cdn.invalid/x", "https://s.invalid/y"))
  }

  test("hostile input: unterminated tags and lone '<' terminate cleanly") {
    assert(HtmlOutlinks.extract("<a href=\"x.html\"", pageBase) == Seq.empty)
    assert(HtmlOutlinks.extract("text < more text", pageBase) == Seq.empty)
    assert(HtmlOutlinks.extract("<" * 100000, pageBase) == Seq.empty)
  }

  test("fuzz: resolve and extract are total on hostile junk (never throw, always terminate)") {
    val rnd = new scala.util.Random(99)
    val alphabet = "<>\"'=&#;/?:.%abAB09 \t\n-_@[]{}()!$+,~`|\\^*é中"
    def junk(n: Int): String =
      (0 until n).map(_ => alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 2000) {
      val s = junk(rnd.nextInt(200))
      val b = junk(rnd.nextInt(40))
      // total functions: any byte soup parses by the syntax rules
      UrlResolve.resolve(b, s)
      UrlResolve.resolve("http://h.invalid/a/b?q", s)
      val links = HtmlOutlinks.extract(s, "http://h.invalid/a/")
      links.foreach(l => assert(l.startsWith("http://") || l.startsWith("https://")))
    }
    // resolution against junk bases is total too
    assert(UrlResolve.resolve("", "x") == "x")
    assert(UrlResolve.resolve("not a url at all", "y.html") == "y.html")
  }

  test("SQL surface: html_outlinks and url_resolve registered") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val row = spark.sql(
        """SELECT html_outlinks('<a href="a.html">x</a>', 'http://h.invalid/d/') AS links,
          |       url_resolve('http://a/b/c/d;p?q', '../g') AS r""".stripMargin).head()
      assert(row.getSeq[String](0) == Seq("http://h.invalid/d/a.html"))
      assert(row.getString(1) == "http://a/b/g")
    } finally spark.stop()
  }
}
