package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class HtmlAnchorsSpec extends AnyFunSuite {

  private val base = "http://h.invalid/dir/page.html"

  test("urls match html_outlinks exactly; texts ride along") {
    val html =
      """<base href="/other/"><a href="a.html">first label</a>
        |<A HREF='b.html'>SECOND</A> <a href=c.html>third</a>
        |<a href="#frag">no</a> <a href="mailto:x@y">no</a>""".stripMargin
    val anchors = HtmlAnchors.extract(html, base)
    assert(anchors.map(_._1) == HtmlOutlinks.extract(html, base))
    assert(anchors.map(_._2) == Seq("first label", "SECOND", "third"))
  }

  test("markup inside the anchor is a word boundary; entities decode") {
    val html = """<a href="x">one&nbsp;<b>two</b>&amp;<i>three</i></a>"""
    assert(HtmlAnchors.extract(html, base).map(_._2) == Seq("one two & three"))
  }

  test("comments and script/style bodies inside the anchor vanish") {
    val html = """<a href="x">keep<!-- drop --><script>var n = 1;</script> this</a>"""
    assert(HtmlAnchors.extract(html, base).map(_._2) == Seq("keep this"))
  }

  test("a new <a> implicitly closes the current one (no nesting)") {
    val html = """<a href="x">outer <a href="y">inner</a> tail"""
    val anchors = HtmlAnchors.extract(html, base)
    assert(anchors.map(_._2) == Seq("outer", "inner"))
    assert(anchors.map(_._1) == Seq(
      "http://h.invalid/dir/x", "http://h.invalid/dir/y"))
  }

  test("unterminated anchor runs to EOF; uppercase close tag matches") {
    assert(HtmlAnchors.extract("""<a href="x">to the end""", base).map(_._2)
      == Seq("to the end"))
    assert(HtmlAnchors.extract("""<a href="x">cased</A>after""", base).map(_._2)
      == Seq("cased"))
  }

  test("anchor text caps at MaxTextChars code points") {
    val long = "w" * 1000
    val Seq((_, text)) = HtmlAnchors.extract(s"""<a href="x">$long</a>""", base)
    assert(text.length == HtmlAnchors.MaxTextChars)
    // the cap counts code points, not UTF-16 units
    val astral = "😀" * 300 // 300 emoji = 600 chars
    val Seq((_, t2)) = HtmlAnchors.extract(s"""<a href="x">$astral</a>""", base)
    assert(t2.codePointCount(0, t2.length) == HtmlAnchors.MaxTextChars)
  }

  test("anchors without a kept url contribute no text rows") {
    val html = """<a href="javascript:void(0)">js label</a><a name="t">plain</a>"""
    assert(HtmlAnchors.extract(html, base) == Seq.empty)
  }

  test("SQL surface: html_anchors and html_blocks registered") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val row = spark.sql(
        """SELECT html_anchors('<a href="a.html">lbl</a>', 'http://h.invalid/d/') AS a,
          |       html_blocks('<p><a href="/x">m</a> text</p>') AS b""".stripMargin).head()
      val a = row.getSeq[org.apache.spark.sql.Row](0)
      assert(a.map(r => (r.getString(0), r.getString(1)))
        == Seq(("http://h.invalid/d/a.html", "lbl")))
      val b = row.getSeq[org.apache.spark.sql.Row](1)
      assert(b.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3), r.getInt(4)))
        == Seq((0, "p", "m text", 6, 1)))
    } finally spark.stop()
  }

  test("total on hostile junk; urls always match html_outlinks") {
    val rnd = new scala.util.Random(417)
    val alphabet = "<>\"'=&#;/?:.%abAB09 \t\n-_@aAhref\u4e2d\ud83d\ude00"
    def junk(n: Int): String =
      (0 until n).map(_ => alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 2000) {
      val s = junk(rnd.nextInt(250))
      val anchors = HtmlAnchors.extract(s, base)
      // the url sequence is html_outlinks verbatim, on any input
      assert(anchors.map(_._1) == HtmlOutlinks.extract(s, base))
      anchors.foreach { case (u, t) =>
        assert(u.startsWith("http://") || u.startsWith("https://"))
        assert(t.codePointCount(0, t.length) <= HtmlAnchors.MaxTextChars)
      }
    }
  }
}
