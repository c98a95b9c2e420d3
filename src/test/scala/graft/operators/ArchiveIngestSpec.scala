package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** WARC + tar structural properties: spec-framing round-trips (plain and
  * per-record-gzipped), nested HTTP splitting, ustar checksum/padding
  * math, and the strict failure modes biting on truncation and
  * corruption — the archive siblings of FlacOggPropertiesSpec.
  */
class ArchiveIngestSpec extends AnyFunSuite {

  private def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def warcPair(id: Long, text: String): Seq[(Map[String, String], Array[Byte])] = Seq(
    Map("WARC-Type" -> "request", "WARC-Target-URI" -> s"http://x.invalid/$id",
      "WARC-Record-ID" -> s"<urn:t:req:$id>") ->
      utf8(s"GET /$id HTTP/1.1\r\nHost: x.invalid\r\n\r\n"),
    Map("WARC-Type" -> "response", "WARC-Target-URI" -> s"http://x.invalid/$id",
      "WARC-Record-ID" -> s"<urn:t:resp:$id>") ->
      Warc.httpResponse(200, "text/plain", utf8(text)))

  test("warc: plain and per-record-gzip round-trip, multi-member gunzip included") {
    val recs = (0L until 5L).flatMap(i => warcPair(i, s"body $i " * (i.toInt + 1)))
    for (gz <- Seq(false, true)) {
      val bytes = Warc.writeWarc(recs, gzipped = gz)
      assert(Warc.isWarc(bytes))
      val back = Warc.readRecords(bytes)
      assert(back.length == 10)
      assert(back.map(_.warcType) == recs.map(_._1("WARC-Type")))
      assert(back.map(_.targetUri) == recs.map(_._1("WARC-Target-URI")))
      back.zip(recs).foreach { case (b, (_, content)) =>
        assert(java.util.Arrays.equals(b.content, content))
      }
    }
  }

  test("warc: nested HTTP response splits status/headers/body exactly") {
    val body = utf8("hello \u00e9\u00e9 world") // multi-byte: length is BYTES
    val (status, headers, got) = Warc.parseHttpResponse(
      Warc.httpResponse(404, "text/html", body))
    assert(status == 404)
    assert(headers("content-type") == "text/html")
    assert(headers("content-length").toInt == body.length)
    assert(java.util.Arrays.equals(got, body))
  }

  test("warc: truncation and framing damage die loudly") {
    val bytes = Warc.writeWarc(warcPair(1L, "payload"))
    intercept[IllegalArgumentException](
      Warc.readRecords(java.util.Arrays.copyOf(bytes, bytes.length - 3)))
    val noLen = Warc.writeWarc(Seq(Map("WARC-Type" -> "metadata") -> utf8("x")))
    // strip the auto-written Content-Length line to prove the require fires
    val s = new String(noLen, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replaceFirst("Content-Length: \\d+\r\n", "")
    intercept[IllegalArgumentException](
      Warc.readRecords(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
    val bad = bytes.clone()
    bad(5) = 'X' // damage the version line
    intercept[IllegalArgumentException](Warc.readRecords(bad))
  }

  test("tar: round-trip across sizes incl. 0, block-boundary, and odd tails") {
    val entries = Seq(0, 1, 511, 512, 513, 2000).zipWithIndex.map { case (n, i) =>
      val payload = Array.tabulate(n)(j => ((i * 31 + j) % 251).toByte)
      Tar.TarEntry(s"dir$i/file$i.bin", n.toLong, '0', payload)
    }
    val bytes = Tar.writeTar(entries)
    assert(bytes.length % 512 == 0)
    assert(Tar.isTar(bytes))
    val back = Tar.readEntries(bytes)
    assert(back.map(e => (e.name, e.size, e.typeflag)) ==
      entries.map(e => (e.name, e.size, e.typeflag)))
    back.zip(entries).foreach { case (b, e) =>
      assert(java.util.Arrays.equals(b.payload, e.payload))
    }
  }

  test("tar: checksum damage, truncation, and GNU extensions die loudly") {
    val bytes = Tar.writeTar(Seq(Tar.TarEntry("a.txt", 4, '0', utf8("abcd"))))
    val bad = bytes.clone()
    bad(0) = 'z' // name change invalidates the stored checksum
    assert(intercept[IllegalArgumentException](
      Tar.readEntries(bad)).getMessage.contains("checksum"))
    assert(!Tar.isTar(bad))
    intercept[IllegalArgumentException](
      Tar.readEntries(java.util.Arrays.copyOf(bytes, 514))) // payload cut
    // a cut INSIDE the trailing padding leaves every entry complete — the
    // EOF-terminated walk accepts it with the full listing
    assert(Tar.readEntries(java.util.Arrays.copyOf(bytes, 700)).length == 1)
    val gnu = bytes.clone()
    gnu(156) = 'L'
    // fix up the checksum so ONLY the typeflag require can fire
    var sum = 0L
    for (i <- 0 until 512) sum += (if (i >= 148 && i < 156) 32 else gnu(i) & 0xff)
    val oct = ("000000" + java.lang.Long.toOctalString(sum)).takeRight(6)
    for (i <- 0 until 6) gnu(148 + i) = oct.charAt(i).toByte
    gnu(154) = 0; gnu(155) = ' '
    assert(intercept[IllegalArgumentException](
      Tar.readEntries(gnu)).getMessage.contains("extension"))
  }

  test("warc: located records tile the archive and every slice re-parses alone") {
    val recs = (0L until 6L).flatMap(i => warcPair(i, s"payload $i " * (i.toInt * 7 + 1)))
    for (gz <- Seq(false, true)) {
      val bytes = Warc.writeWarc(recs, gzipped = gz)
      val located = Warc.readRecordsLocated(bytes)
      assert(located.length == 12)
      // spans tile the archive exactly: start at 0, no gaps, end at EOF
      assert(located.head.offset == 0L)
      located.sliding(2).foreach { case Seq(a, b) =>
        assert(a.offset + a.length == b.offset)
      }
      assert(located.last.offset + located.last.length == bytes.length)
      // each span, cut out as a standalone buffer, re-parses to the record
      located.foreach { lr =>
        val slice = java.util.Arrays.copyOfRange(bytes,
          lr.offset.toInt, (lr.offset + lr.length).toInt)
        val back = Warc.readRecords(slice)
        assert(back.length == 1)
        assert(back.head.recordId == lr.record.recordId)
        assert(java.util.Arrays.equals(back.head.content, lr.record.content))
      }
    }
  }

  test("warc: gzip member damage and multi-record members reject loudly") {
    val recs = warcPair(9L, "abc " * 50)
    val gz = Warc.writeWarc(recs, gzipped = true)
    // flip a byte inside the first member's deflate data -> CRC or inflate dies
    val bad = gz.clone()
    bad(20) = (bad(20) ^ 0x5a).toByte
    intercept[Exception](Warc.readRecordsLocated(bad))
    // two records inside ONE gzip member: fine for readRecords (transparent
    // gunzip) but no per-record compressed span exists -> located walk rejects
    val plain = Warc.writeWarc(recs, gzipped = false)
    val buf = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(buf)
    g.write(plain); g.finish()
    val oneMember = buf.toByteArray
    assert(Warc.readRecords(oneMember).length == 2)
    assert(intercept[IllegalArgumentException](
      Warc.readRecordsLocated(oneMember)).getMessage.contains("one per member"))
  }

  test("wet: conversion records carry response text only, refers-to links back") {
    val info = Map("WARC-Type" -> "warcinfo", "WARC-Record-ID" -> "<urn:t:info>") ->
      utf8("software: t\r\n")
    val recs = info +: (0L until 4L).flatMap(i => warcPair(i, s"text $i " * 9))
    for (gz <- Seq(false, true)) {
      val warc = graft.operators.Multimodal.MediaRecord(7L, "t://a.warc",
        "application/warc", Warc.writeWarc(recs, gzipped = gz), Map.empty)
      val wet = Ingest.wetArchive(warc, gzipped = gz)
      assert(wet.media_id == 7L && wet.uri == "t://a.warc.wet")
      val back = Warc.readRecords(wet.content)
      // warcinfo + 4 requests dropped; 4 responses became conversions
      assert(back.length == 4)
      back.zipWithIndex.foreach { case (c, i) =>
        assert(c.warcType == "conversion")
        assert(c.targetUri == s"http://x.invalid/$i")
        assert(c.headers("warc-refers-to") == s"<urn:t:resp:$i>")
        assert(c.recordId == s"<urn:t:resp:$i:wet>")
        // payload is the EXTRACTED TEXT: http envelope gone
        assert(new String(c.content, "UTF-8") == s"text $i " * 9)
      }
    }
  }

  test("revisit: unchanged payloads dedup against the prior crawl's digest index") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      def crawl(suffixFor: Long => String): graft.operators.Multimodal.MediaRecord = {
        val recs = (0L until 4L).map { id =>
          Map("WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://h.invalid/p/$id",
            "WARC-Record-ID" -> s"<urn:t:rv:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(200, "text/plain", s"body $id${suffixFor(id)}".getBytes("UTF-8"))
        }
        graft.operators.Multimodal.MediaRecord(0L, "t://rv.warc", "application/warc",
          Warc.writeWarc(recs), Map.empty)
      }
      val prev = spark.createDataset(Seq(crawl(_ => "")))
      // epoch B: doc 1 changed; doc 3 dropped from the index (never crawled)
      val idx = Ingest.revisitIndex(prev)
        .filter(org.apache.spark.sql.functions.col("url") =!= "http://h.invalid/p/3")
      val cur = Ingest.ingestWarc(spark.createDataset(Seq(
        crawl(id => if (id == 1) " CHANGED" else ""))))
      val got = Ingest.revisitVerdicts(cur, idx).collect()
        .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)), r.getLong(3))))
        .toMap
      assert(got("http://h.invalid/p/0") == (("revisit", Some("<urn:t:rv:0>"), 0L)))
      assert(got("http://h.invalid/p/2") == (("revisit", Some("<urn:t:rv:2>"), 0L)))
      assert(got("http://h.invalid/p/1") == (("response", None, "body 1 CHANGED".length.toLong)))
      assert(got("http://h.invalid/p/3") == (("new", None, "body 3".length.toLong)))
    } finally spark.stop()
  }

  test("revisitVerdictsOverEpochs matches the pairwise union, gaps included") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      // 4 epochs over 5 urls: url 1 changes at epochs 1 and 3, url 2 at
      // epoch 2, url 4 is MISSING from epoch 1 entirely (coverage gap:
      // its epoch-2 verdict must be 'new', not a lag back to epoch 0)
      def crawl(epoch: Int): graft.operators.Multimodal.MediaRecord = {
        val recs = (0L until 5L)
          .filter(id => !(id == 4L && epoch == 1))
          .map { id =>
            val changes = Seq.tabulate(epoch + 1)(e =>
              (id == 1L && (e == 1 || e == 3)) || (id == 2L && e == 2))
              .count(identity)
            Map("WARC-Type" -> "response",
              "WARC-Target-URI" -> s"http://h.invalid/p/$id",
              "WARC-Record-ID" -> s"<urn:t:me:$epoch:$id>",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "Content-Type" -> "application/http;msgtype=response") ->
              Warc.httpResponse(200, "text/plain",
                s"body $id v$changes".getBytes("UTF-8"))
          }
        graft.operators.Multimodal.MediaRecord(epoch.toLong, s"t://e$epoch.warc",
          "application/warc", Warc.writeWarc(recs), Map.empty)
      }
      val epochs = (0 to 3).map(e => spark.createDataset(Seq(crawl(e))))
      val pairwise = (1 to 3).map { e =>
        Ingest.revisitVerdicts(Ingest.ingestWarc(epochs(e)),
            Ingest.revisitIndex(epochs(e - 1)))
          .select(col("url"),
            org.apache.spark.sql.functions.lit(e).as("epoch"), col("verdict"))
      }.reduce(_ unionByName _)
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
      val onepass = Ingest.revisitVerdictsOverEpochs(epochs)
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
      assert(onepass == pairwise)
      // the gap really exercised 'new'
      assert(onepass(("http://h.invalid/p/4", 2)) == "new")
      assert(onepass(("http://h.invalid/p/1", 1)) == "response")
      assert(onepass(("http://h.invalid/p/0", 3)) == "revisit")
    } finally spark.stop()
  }

  test("revisitVerdictsOverEpochs: two captures of a url in one epoch, any partitioning") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      def archive(epoch: Int, tag: String, body: String) = {
        val rec = Map("WARC-Type" -> "response",
          "WARC-Target-URI" -> "http://h.invalid/dup",
          "WARC-Record-ID" -> s"<urn:t:dup:$epoch:$tag>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "Content-Type" -> "application/http;msgtype=response") ->
          Warc.httpResponse(200, "text/plain", body.getBytes("UTF-8"))
        graft.operators.Multimodal.MediaRecord(epoch.toLong, s"t://e$epoch$tag.warc",
          "application/warc", Warc.writeWarc(Seq(rec)), Map.empty)
      }
      // epoch 1 captures the url twice: record 'a' keeps epoch 0's body,
      // record 'b' changes it, and 'b' arrives first
      val crawls = Seq(
        Seq(archive(0, "a", "v0")),
        Seq(archive(1, "b", "v1"), archive(1, "a", "v0")),
        Seq(archive(2, "a", "v1")))
      // 'a' (lower record_id) compares to epoch 0: revisit; 'b' follows a
      // capture of its own epoch: new; epoch 2 compares to 'b': revisit
      val want = Seq((1, "new"), (1, "revisit"), (2, "revisit"))
      for (parts <- Seq(1, 7); run <- 1 to 2) {
        val epochs = crawls.map(c => spark.createDataset(c).repartition(parts))
        val got = Ingest.revisitVerdictsOverEpochs(epochs).collect()
          .map(r => (r.getInt(1), r.getString(2))).sorted.toSeq
        assert(got == want, s"parts=$parts run=$run")
      }
    } finally spark.stop()
  }

  test("self-dedup rewrite: one stored body per digest, dups become revisit, order kept") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      // two archives; docs 0/2/4 share one payload, 1/3 share another,
      // 5 is unique; a warcinfo record must pass through untouched
      def resp(id: Long, body: String) =
        Map("WARC-Type" -> "response",
          "WARC-Target-URI" -> s"http://h.invalid/p/$id",
          "WARC-Record-ID" -> s"<urn:t:sd:$id>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "Content-Type" -> "application/http;msgtype=response") ->
          Warc.httpResponse(200, "text/plain", utf8(body))
      val info = Map("WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> "<urn:t:sd:info>",
        "Content-Type" -> "application/warc-fields") -> utf8("software: t\r\n")
      def arch(aid: Long, recs: Seq[(Map[String, String], Array[Byte])]) =
        graft.operators.Multimodal.MediaRecord(aid, s"t://$aid.warc",
          "application/warc", Warc.writeWarc(recs), Map.empty)
      val archives = spark.createDataset(Seq(
        arch(0L, Seq(info, resp(0, "AAA"), resp(1, "BB"), resp(2, "AAA"))),
        arch(1L, Seq(resp(3, "BB"), resp(4, "AAA"), resp(5, "unique")))))
      val deduped = Ingest.dedupWarcRewrite(archives,
        Ingest.selfDedupVerdicts(archives)).collect().sortBy(_.media_id)
      assert(deduped.map(_.uri).toSeq == Seq("t://0.warc.dedup", "t://1.warc.dedup"))
      val recs0 = Warc.readRecords(deduped(0).content)
      val recs1 = Warc.readRecords(deduped(1).content)
      // order preserved, warcinfo untouched
      assert(recs0.map(_.warcType) == Seq("warcinfo", "response", "response", "revisit"))
      assert(recs1.map(_.warcType) == Seq("revisit", "revisit", "response"))
      assert(java.util.Arrays.equals(recs0.head.content, utf8("software: t\r\n")))
      // canonical = string-least url of the digest group; dups point at it
      val byUrl = (recs0 ++ recs1).map(r => r.targetUri -> r).toMap
      assert(byUrl("http://h.invalid/p/2").headers("warc-refers-to") == "<urn:t:sd:0>")
      assert(byUrl("http://h.invalid/p/4").headers("warc-refers-to") == "<urn:t:sd:0>")
      assert(byUrl("http://h.invalid/p/3").headers("warc-refers-to") == "<urn:t:sd:1>")
      // revisit keeps the ORIGINAL HTTP header block (the declared
      // Content-Type promises a parseable HTTP block) but drops the payload
      val (st2, hdrs2, pay2) = Warc.parseHttpResponse(byUrl("http://h.invalid/p/2").content)
      assert(st2 == 200 && hdrs2("content-type") == "text/plain" && pay2.isEmpty)
      assert(byUrl("http://h.invalid/p/2").headers("warc-profile").contains("identical-payload-digest"))
      // stored bodies survive byte-identically
      val (_, _, b5) = Warc.parseHttpResponse(byUrl("http://h.invalid/p/5").content)
      assert(java.util.Arrays.equals(b5, utf8("unique")))
      // rewritten revisit records carry NEW ids derived from the original
      assert(byUrl("http://h.invalid/p/2").recordId == "<urn:t:sd:2:dedup>")
    } finally spark.stop()
  }

  test("self-dedup fuzz: every digest stores exactly once, dups all point at the canonical") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val rnd = new scala.util.Random(5150)
      for (_ <- 0 until 5) {
        // random corpus: 40 docs over 1-12 distinct payloads, 4 archives
        val nPayloads = 1 + rnd.nextInt(12)
        val docs = (0L until 40L).map(id => (id, rnd.nextInt(nPayloads)))
        val archives = spark.createDataset(
          docs.grouped(10).zipWithIndex.map { case (grp, aid) =>
            val recs = grp.map { case (id, p) =>
              Map("WARC-Type" -> "response",
                "WARC-Target-URI" -> f"http://h.invalid/p/$id%03d",
                "WARC-Record-ID" -> s"<urn:t:fz:$id>",
                "WARC-Date" -> "2026-01-01T00:00:00Z",
                "Content-Type" -> "application/http;msgtype=response") ->
                Warc.httpResponse(200, "text/plain", utf8(s"payload $p"))
            }
            graft.operators.Multimodal.MediaRecord(aid.toLong, s"t://$aid.warc",
              "application/warc", Warc.writeWarc(recs), Map.empty)
          }.toSeq)
        val verdicts = Ingest.selfDedupVerdicts(archives)
          .collect().map(r => (r.getAs[String]("url"), r.getAs[String]("verdict"),
            Option(r.getAs[String]("refers_to")))).toSeq
        val byPayload = docs.groupBy(_._2)
        // zero-padded ids make url order == id order: canonical = min id
        for ((p, members) <- byPayload) {
          val canonical = members.map(_._1).min
          val urls = members.map { case (id, _) => f"http://h.invalid/p/$id%03d" }.toSet
          val vs = verdicts.filter(v => urls.contains(v._1))
          assert(vs.count(_._2 == "response") == 1, s"payload $p stores once")
          val canonicalUrl = f"http://h.invalid/p/$canonical%03d"
          assert(vs.find(_._2 == "response").get._1 == canonicalUrl)
          vs.filter(_._2 == "revisit").foreach { v =>
            assert(v._3.contains(s"<urn:t:fz:$canonical>"), s"payload $p refers_to")
          }
        }
      }
    } finally spark.stop()
  }

  test("wat: metadata records carry resolved+normalized outlinks, refers-to links back") {
    val (url, html) = Ingest.watPage(42L)
    val resp = Map(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> url,
      "WARC-Record-ID" -> "<urn:graft:wat:42>",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "Content-Type" -> "application/http;msgtype=response") ->
      Warc.httpResponse(200, "text/html", utf8(html))
    val warc = graft.operators.Multimodal.MediaRecord(0L, "fake://w.warc",
      "application/warc", Warc.writeWarc(Seq(resp)), Map.empty)
    val wat = Ingest.watArchive(warc, gzipped = false)
    assert(wat.uri == "fake://w.warc.wat")
    val recs = Warc.readRecords(wat.content)
    assert(recs.length == 1 && recs.head.warcType == "metadata")
    assert(recs.head.targetUri == url)
    assert(recs.head.headers("warc-refers-to") == "<urn:graft:wat:42>")
    val json = new String(recs.head.content, "UTF-8")
    // doc 42 on host src2: links 43, 44.html, (131 on src11), 45?y=2&z=1,
    // (297 on src17), (53 on src13 https), 46/
    assert(json == """{"url":"http://src2.invalid/page/42","outlinks":[""" +
      """"http://src2.invalid/page/43","http://src2.invalid/page/44.html",""" +
      """"http://src11.invalid/page/131?a=1&b=2","http://src2.invalid/page/45?y=2&z=1",""" +
      """"http://src17.invalid/page/297","https://src13.invalid/page/53",""" +
      """"http://src2.invalid/page/46/"]}""")
  }

  test("tar: garbled size field under a valid checksum rejects, never a wrong slice") {
    // '12X45678' must NOT parse as octal prefix 10 — a non-octal byte
    // mid-field is -1, so readEntries' size require fires loudly
    val bytes = Tar.writeTar(Seq(Tar.TarEntry("a.txt", 4, '0', utf8("abcd")))).clone()
    bytes(126) = 'X' // third byte of the size field at offset 124
    var sum = 0L
    for (i <- 0 until 512) sum += (if (i >= 148 && i < 156) 32 else bytes(i) & 0xff)
    val oct = ("000000" + java.lang.Long.toOctalString(sum)).takeRight(6)
    for (i <- 0 until 6) bytes(148 + i) = oct.charAt(i).toByte
    bytes(154) = 0; bytes(155) = ' '
    val e = intercept[IllegalArgumentException](Tar.readEntries(bytes))
    assert(e.getMessage.contains("unparseable size"))
  }

  test("warc: a SECOND implementation's archive parses exactly (bsdtar golden)") {
    // committed golden written by libarchive's `bsdtar --format warc` —
    // cross-tool verification of the reader against bytes this repo's
    // writer never produced: warcinfo lead record + one resource record
    // per file, CRLF framing throughout
    def res(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/$name")
      require(in != null, s"missing test resource $name")
      try in.readAllBytes() finally in.close()
    }
    val recs = Warc.readRecords(res("warc_golden_bsdtar.warc"))
    assert(recs.map(_.warcType) == Seq("warcinfo", "resource", "resource"))
    assert(recs(0).content.containsSlice("libarchive".getBytes))
    assert(recs(1).targetUri == "file://r1.txt" && recs(2).targetUri == "file://r2.txt")
    assert(recs(1).content.sameElements(res("warc_member_r1.txt")))
    assert(recs(2).content.sameElements(res("warc_member_r2.txt")))
  }

  test("tar: a SECOND implementation's archive parses exactly (GNU tar golden)") {
    // committed golden from `tar --format=ustar` with a 170-char path, so
    // the prefix-field reassembly is exercised against REAL tool bytes
    def res(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/$name")
      require(in != null, s"missing test resource $name")
      try in.readAllBytes() finally in.close()
    }
    val es = Tar.readEntries(res("tar_golden_ustar.tar"))
    val files = es.filter(_.typeflag == '0')
    val longPath = ("component-eleven-bytes/" * 6) + "blob-with-a-fairly-long-name.bin"
    assert(files.map(_.name) == Seq("a.txt", longPath))
    assert(files(0).payload.sameElements(res("tar_member_a.txt")))
    assert(files(1).payload.sameElements(res("tar_member_blob.bin")))
  }

  test("tar: the system tar lists our writer's archives (live interop)") {
    val bin = new java.io.File("/usr/bin/tar")
    assume(bin.canExecute, "system tar not present")
    val bytes = Tar.writeTar(Seq(
      Tar.TarEntry("plain.txt", 4, '0', utf8("data")),
      Tar.TarEntry("dir/inner-member.bin", 3, '0', Array[Byte](1, 2, 3))))
    val tmp = java.nio.file.Files.createTempFile("tarspec", ".tar")
    java.nio.file.Files.write(tmp, bytes)
    val p = new ProcessBuilder("/usr/bin/tar", "-tf", tmp.toString).start()
    val listing = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, "tar -tf exit")
    assert(listing.linesIterator.toSeq == Seq("plain.txt", "dir/inner-member.bin"))
    java.nio.file.Files.delete(tmp)
  }

  test("tar: prefix field reassembles long paths on read") {
    // hand-build a header using the prefix field (writer keeps names <= 100)
    val e = Tar.TarEntry("x.txt", 2, '0', utf8("hi"))
    val bytes = Tar.writeTar(Seq(e)).clone()
    val prefix = utf8("some/deep/prefix")
    System.arraycopy(prefix, 0, bytes, 345, prefix.length)
    var sum = 0L
    for (i <- 0 until 512) sum += (if (i >= 148 && i < 156) 32 else bytes(i) & 0xff)
    val oct = ("000000" + java.lang.Long.toOctalString(sum)).takeRight(6)
    for (i <- 0 until 6) bytes(148 + i) = oct.charAt(i).toByte
    bytes(154) = 0; bytes(155) = ' '
    assert(Tar.readEntries(bytes).head.name == "some/deep/prefix/x.txt")
  }
}
