package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Archive ingest — the FIRST batch step of a crawl-derived training
  * pipeline: explode WARC / tar archives (opaque binary payloads) into
  * per-capture / per-member records. Map-only by construction: one
  * archive's bytes are consumed entirely inside its partition and only
  * the exploded fixed-shape rows (plus their text payloads) flow on —
  * at 100 TB the archive column never crosses a shuffle, and
  * `spark.sql.files.maxPartitionBytes` bounds how many archives one task
  * holds. The demo corpora below REBUILD archives from the documents
  * table first (one groupByKey shuffle) — a real crawl starts at the
  * archive files and skips that construction entirely.
  */
object Ingest {

  /** One capture out of a WARC archive. `http_status`/`content_length`
    * describe the nested HTTP response for `response` records; other
    * record types (warcinfo, request, metadata) carry their raw record
    * payload length and no status.
    */
  case class WarcCapture(
      archive_id: Long,
      url: String,
      warc_type: String,
      http_status: Option[Int],
      mime: String,
      http_content_type: String, // the nested HTTP Content-Type ("" off responses) — carries the charset= the decode seam needs
      http_content_encoding: String, // the nested HTTP Content-Encoding ("" when absent) — the transfer-decode seam's routing key
      content_length: Long,
      body: Array[Byte])

  /** Explode WARC archives (plain or per-record-gzipped) into captures.
    * Strict per archive — a truncated archive fails its task rather than
    * silently dropping records; route through a quarantine stage first
    * if the corpus is known-dirty.
    */
  def ingestWarc(archives: Dataset[Multimodal.MediaRecord]): Dataset[WarcCapture] = {
    import archives.sparkSession.implicits._
    archives.flatMap { r =>
      Warc.readRecords(r.content).map { rec =>
        if (rec.warcType == "response") {
          val (status, headers, body) = Warc.parseHttpResponse(rec.content)
          WarcCapture(r.media_id, rec.targetUri, rec.warcType, Some(status),
            rec.contentType, headers.getOrElse("content-type", ""),
            headers.getOrElse("content-encoding", ""),
            body.length.toLong, body)
        } else
          WarcCapture(r.media_id, rec.targetUri, rec.warcType, None,
            rec.contentType, "", "", rec.content.length.toLong, rec.content)
      }
    }
  }

  /** One member out of a tar archive. */
  case class TarMember(
      archive_id: Long,
      name: String,
      size: Long,
      typeflag: String,
      payload: Array[Byte])

  /** Explode tar archives into members — same strictness contract as
    * [[ingestWarc]].
    */
  def ingestTar(archives: Dataset[Multimodal.MediaRecord]): Dataset[TarMember] = {
    import archives.sparkSession.implicits._
    archives.flatMap { r =>
      Tar.readEntries(r.content).map(e =>
        TarMember(r.media_id, e.name, e.size, e.typeflag.toString, e.payload))
    }
  }

  /** One CDX index row: where a capture lives inside its archive, in
    * ARCHIVE byte space (compressed space for per-member-gzipped WARCs) —
    * the shape Common Crawl publishes so consumers fetch single captures
    * with ranged GETs instead of scanning archives. `digest` is the md5
    * of the record payload, the re-fetch integrity check.
    */
  case class CdxEntry(
      archive_id: Long,
      url: String,
      warc_type: String,
      offset: Long,
      length: Long,
      digest: String)

  private def md5hex(b: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(b)
    val sb = new StringBuilder(32)
    d.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }

  /** Build the CDX index for WARC archives — map-only, one flatMap over
    * the archive bytes; at 100 TB this is the one full pass that buys
    * every later consumer record-level random access.
    */
  def cdxWarc(archives: Dataset[Multimodal.MediaRecord]): Dataset[CdxEntry] = {
    import archives.sparkSession.implicits._
    archives.flatMap { r =>
      Warc.readRecordsLocated(r.content).map(lr =>
        CdxEntry(r.media_id, lr.record.targetUri, lr.record.warcType,
          lr.offset, lr.length, md5hex(lr.record.content)))
    }
  }

  /** Per-archive audit of [[cdxWarc]]'s core promise: every (offset,
    * length) span, re-parsed AS A STANDALONE BUFFER (exactly what a
    * ranged GET returns), yields one record whose payload digest matches
    * the index row. Map-only; run it after building an index the same way
    * checksums are run after a distcp.
    */
  case class CdxCheck(archive_id: Long, n_records: Long, n_responses: Long,
      slices_ok: Boolean)

  def verifyCdxSlices(archives: Dataset[Multimodal.MediaRecord]): Dataset[CdxCheck] = {
    import archives.sparkSession.implicits._
    archives.map { r =>
      val located = Warc.readRecordsLocated(r.content)
      val ok = located.forall { lr =>
        val slice = java.util.Arrays.copyOfRange(r.content,
          lr.offset.toInt, (lr.offset + lr.length).toInt)
        val back = Warc.readRecords(slice)
        back.length == 1 && md5hex(back.head.content) == md5hex(lr.record.content)
      }
      CdxCheck(r.media_id, located.length.toLong,
        located.count(_.record.warcType == "response").toLong, ok)
    }
  }

  /** One member out of a zip archive. `method` is the spec's compression
    * method name; `compressed_size` is what the member occupies in the
    * archive (equal to `size` for stored members).
    */
  case class ZipMemberRow(
      archive_id: Long,
      name: String,
      method: String,
      compressed_size: Long,
      size: Long,
      payload: Array[Byte])

  /** Explode zip archives into members — same strictness contract as
    * [[ingestWarc]]: every member CRC-verified on the way out, any
    * structural inconsistency fails the archive rather than shortening
    * its listing.
    */
  def ingestZip(archives: Dataset[Multimodal.MediaRecord]): Dataset[ZipMemberRow] = {
    import archives.sparkSession.implicits._
    archives.flatMap { r =>
      Zip.readMembers(r.content).map { m =>
        val method = m.method match {
          case 0 => "store"; case 8 => "deflate"; case other => other.toString
        }
        ZipMemberRow(r.media_id, m.name, method, m.compressedSize, m.size, m.payload)
      }
    }
  }

  /** Derive WET-style text-extraction archives from WARC crawl archives —
    * the Common-Crawl companion format: one `conversion` record per HTTP
    * response, carrying the extracted text and a `WARC-Refers-To` link to
    * the capture it came from; non-response records (warcinfo, request)
    * are dropped. Map-only, archive-in/archive-out on the same grain, so
    * WET derivation at 100 TB is one pass with zero shuffles and the WET
    * file layout mirrors the WARC layout (the property CDX consumers and
    * re-crawl joins rely on).
    *
    * The demo corpus carries plain text bodies; an HTML crawl runs the
    * bodies through `html_to_text` (its own oracled operator) in the same
    * map before writing.
    */
  def toWet(archives: Dataset[Multimodal.MediaRecord],
      gzipped: Boolean = false): Dataset[Multimodal.MediaRecord] = {
    import archives.sparkSession.implicits._
    archives.map(r => wetArchive(r, gzipped))
  }

  /** The per-archive WET build behind [[toWet]] (plain function so the
    * structural spec drives it without a session).
    */
  private[operators] def wetArchive(r: Multimodal.MediaRecord,
      gzipped: Boolean): Multimodal.MediaRecord = {
    val conversions = Warc.readRecords(r.content)
      .filter(_.warcType == "response")
      .map { rec =>
        val (_, _, body) = Warc.parseHttpResponse(rec.content)
        Map(
          "WARC-Type" -> "conversion",
          "WARC-Target-URI" -> rec.targetUri,
          "WARC-Record-ID" -> (rec.recordId.stripSuffix(">") + ":wet>"),
          "WARC-Refers-To" -> rec.recordId,
          "WARC-Date" -> rec.date,
          "Content-Type" -> "text/plain") -> body
      }
    Multimodal.MediaRecord(r.media_id, r.uri + ".wet", "application/warc",
      Warc.writeWarc(conversions, gzipped = gzipped), Map.empty)
  }

  /** Digest index of a crawl's response captures: (url, payload md5,
    * record id) — what the NEXT crawl joins against to emit `revisit`
    * records (see [[revisitVerdicts]]). Map-only over the archive scan,
    * URL-grain rows only; at 100 TB write it bucketed by url so the
    * cross-crawl join is Exchange-free.
    */
  def revisitIndex(archives: Dataset[Multimodal.MediaRecord]): org.apache.spark.sql.DataFrame = {
    import archives.sparkSession.implicits._
    archives.flatMap { r =>
      Warc.readRecords(r.content)
        .filter(_.warcType == "response")
        .map { rec =>
          val (_, _, body) = Warc.parseHttpResponse(rec.content)
          (rec.targetUri, md5hex(body), rec.recordId)
        }
    }.toDF("url", "digest", "record_id")
  }

  /** Per-url verdicts across `n` consecutive re-crawl epochs in ONE pass —
    * the multi-epoch shape of [[revisitVerdicts]] (r15, guide §2.4/§8):
    * each epoch's archives are fabricated/parsed exactly ONCE into an
    * epoch-stamped digest table (url, digest, record_id, epoch — a few
    * dozen bytes per capture), and each epoch compares to its predecessor
    * with a lag window over the url shuffle instead of n-1 separate index
    * joins, each of which re-derived its prev side from raw archives. Pairwise
    * `revisitVerdicts(ingestWarc(e), revisitIndex(e-1))` costs 2(n-1)
    * archive passes and n-1 joins; this costs n archive passes and one
    * exchange of digests. Row-identical to the pairwise union for
    * (url, verdict): a url absent from the immediately-preceding epoch is
    * 'new' (the epoch-continuity check below — lag alone would reach
    * further back), and rows exist exactly for captures present in
    * epochs 1..n-1, like the pairwise left join. Parity is asserted
    * against the pairwise path in ArchiveIngestSpec.
    *
    * Same-epoch rule: a url captured more than once in one epoch has its
    * captures ordered by `record_id` within the epoch, so the verdicts do
    * not depend on partitioning. The first capture compares to the
    * previous epoch's last one; each later capture follows a capture of
    * its own epoch and reads 'new'.
    */
  def revisitVerdictsOverEpochs(
      archivesByEpoch: Seq[Dataset[Multimodal.MediaRecord]]): org.apache.spark.sql.DataFrame = {
    require(archivesByEpoch.size >= 2,
      s"revisitVerdictsOverEpochs: need >= 2 epochs, got ${archivesByEpoch.size}")
    val digests = archivesByEpoch.zipWithIndex.map { case (a, e) =>
      revisitIndex(a).select(col("url"), col("digest"), col("record_id"), lit(e).as("epoch"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url")).orderBy(col("epoch"), col("record_id"))
    digests
      .withColumn("prev_digest", lag(col("digest"), 1).over(w))
      .withColumn("prev_epoch", lag(col("epoch"), 1).over(w))
      .filter(col("epoch") >= 1)
      .select(col("url"), col("epoch"),
        when(col("prev_epoch").isNull || col("prev_epoch") =!= col("epoch") - 1,
            lit("new"))
          .when(col("digest") === col("prev_digest"), lit("revisit"))
          .otherwise(lit("response")).as("verdict"))
  }

  /** Change-rate estimation from revisit history — the recrawl-priority
    * input (Cho & Garcia-Molina '03: pages change at wildly different
    * rates, and a fixed recrawl interval wastes most of a crawl's fetch
    * budget on static pages while letting news go stale). Input: the
    * UNION of per-epoch [[revisitVerdicts]] outputs (url, verdict) over
    * `epochs` consecutive re-crawls. Per url:
    *
    *   - `changed_count`: epochs whose digest differed (`response`)
    *   - `change_permille`: changed_count * 1000 div epochs — integer,
    *     engine-portable
    *   - `interval_days`: 28 div (changed_count + 1) — the demo policy
    *     (monthly budget split by observed volatility); callers map
    *     permille to their own schedule
    *
    * Host-grain politeness stays the scheduler's job (`tx_fetch_schedule`);
    * this produces the per-URL priority signal it orders by. One
    * url-grain aggregate — the verdict tables are tiny relative to the
    * crawls they summarize (no bodies, no digests).
    */
  def changeRate(verdicts: org.apache.spark.sql.DataFrame,
      epochs: Int): org.apache.spark.sql.DataFrame = {
    require(epochs >= 1, s"changeRate: epochs >= 1, got $epochs")
    verdicts
      .groupBy(col("url"))
      .agg(sum(when(col("verdict") === "response", 1L).otherwise(0L)).as("changed_count"))
      .select(col("url"), col("changed_count"),
        expr(s"changed_count * 1000 div $epochs").as("change_permille"),
        expr("28 div (changed_count + 1)").as("interval_days"))
  }

  /** Demo corpus for the recrawl loop: epoch `e` of the same site, where a
    * page's body mutates AT epoch e iff (doc_id + e) % 3 == 0 — so across
    * epochs 1..4 a doc with doc_id%3==2 changes twice (e=1,4) and the
    * rest change once. The body carries the cumulative change count, so
    * consecutive epochs differ exactly when the rule says.
    */
  def recrawlArchives(spark: SparkSession, dir: String, epoch: Int,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, source, text) =>
        val changes = (1 to epoch).count(e => (id + e) % 3 == 0)
        (id, source, s"$text|$changes")
      }
      // groupByKey (AQE-coalesced, effectively serial) ON PURPOSE: these
      // archives are ungzipped string concatenation — ~0.2 s of CPU for
      // the whole corpus. The r14 A/B measured the parallel repartition
      // variant SLOWER lane-wide (tx_recrawl_priority 1.50 -> 2.58 s):
      // 32-task stages of sub-ms work pay more in per-task fixed cost
      // than the serial fabrication costs outright. The gzip/parse-heavy
      // builders (warcArchivesFromDocuments etc.) use the parallel shape.
      .groupByKey(_._1 / docsPerArchive)
      .mapGroups { (aid, it) =>
        warcFromDocs(aid, it.toSeq.sortBy(_._1), gzipped = false)
      }
  }

  /** Cross-crawl deduplication — WARC `revisit` records (ISO 28500 §6.7.2,
    * the mechanism Common Crawl dedups re-crawls with): a capture whose
    * payload digest matches the PREVIOUS crawl's capture of the same URL
    * is stored as a body-less `revisit` record pointing at the prior
    * capture (`WARC-Refers-To`), instead of storing the bytes again. On a
    * monthly 100 TB crawl where most pages don't change, this is the
    * single biggest storage lever the format has.
    *
    * Verdict per current response capture:
    *   - `revisit`:  url in the prev index, digest UNCHANGED -> store 0
    *     payload bytes, refers_to = the prior record id
    *   - `response`: url in the prev index, digest CHANGED -> store fully
    *   - `new`:      url the previous crawl never captured -> store fully
    *
    * Scale shape: ONE url-keyed join of the current captures against the
    * prev digest index — exactly the sorted-merge Common Crawl's dedup
    * does; bucket both sides by url (the index writer and the capture
    * exploder share the grain) and the join is Exchange-free.
    */
  def revisitVerdicts(cur: Dataset[WarcCapture],
      prevIndex: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val prev = prevIndex.select(col("url"),
      col("digest").as("prev_digest"), col("record_id").as("prev_id"))
    cur.toDF()
      .filter(col("warc_type") === "response")
      .select(col("url"), md5(col("body")).as("digest"), col("content_length"))
      .join(prev, Seq("url"), "left")
      .select(col("url"),
        when(col("prev_digest").isNull, lit("new"))
          .when(col("digest") === col("prev_digest"), lit("revisit"))
          .otherwise(lit("response")).as("verdict"),
        when(col("digest") === col("prev_digest"), col("prev_id")).as("refers_to"),
        when(col("digest") === col("prev_digest"), lit(0L))
          .otherwise(col("content_length")).as("stored_bytes"))
  }

  /** Derive WAT-style metadata archives from WARC crawl archives — the
    * third Common-Crawl companion format (CDX ✓ index, WET ✓ text, WAT =
    * per-page metadata, here the OUTLINKS). One `metadata` record per HTTP
    * response: a JSON body `{"url": ..., "outlinks": [...]}` where the
    * outlinks are the page's `<a href>` targets extracted by
    * [[graft.functions.HtmlOutlinks]], resolved against the capture URL
    * (RFC 3986 §5, `<base href>` honored) and canonicalized through
    * `url_normalize`; `WARC-Refers-To` links back to the capture like WET.
    *
    * This is the crawl's frontier GROWTH input: everything else (robots,
    * sitemaps, the fetch scheduler) can only reorder URLs something
    * already discovered — outlinks are where new URLs come from. Map-only,
    * archive-in/archive-out on the same grain (the WET scaling argument
    * verbatim): at 100 TB this is one pass, zero shuffles, and the output
    * carries URLs only — page bodies never outlive the map.
    *
    * The demo corpus bodies are UTF-8; a wild crawl runs `Charsets.decode`
    * on the body (its own oracled operator) in the same map first.
    */
  def toWat(archives: Dataset[Multimodal.MediaRecord],
      gzipped: Boolean = false): Dataset[Multimodal.MediaRecord] = {
    import archives.sparkSession.implicits._
    archives.map(r => watArchive(r, gzipped))
  }

  /** The per-archive WAT build behind [[toWat]] (plain function so the
    * structural spec drives it without a session).
    */
  private[operators] def watArchive(r: Multimodal.MediaRecord,
      gzipped: Boolean): Multimodal.MediaRecord = {
    val metas = Warc.readRecords(r.content)
      .filter(_.warcType == "response")
      .map { rec =>
        val (_, _, body) = Warc.parseHttpResponse(rec.content)
        val html = new String(body, java.nio.charset.StandardCharsets.UTF_8)
        val links = graft.functions.HtmlOutlinks.extract(html, rec.targetUri)
          .map(graft.functions.UrlNormalize.normalize)
        Map(
          "WARC-Type" -> "metadata",
          "WARC-Target-URI" -> rec.targetUri,
          "WARC-Record-ID" -> (rec.recordId.stripSuffix(">") + ":wat>"),
          "WARC-Refers-To" -> rec.recordId,
          "WARC-Date" -> rec.date,
          "Content-Type" -> "application/json") ->
          watJson(rec.targetUri, links).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
    Multimodal.MediaRecord(r.media_id, r.uri + ".wat", "application/warc",
      Warc.writeWarc(metas, gzipped = gzipped), Map.empty)
  }

  private def watJson(url: String, outlinks: Seq[String]): String = {
    def esc(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length + 8)
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.toString
    }
    outlinks.map(l => "\"" + esc(l) + "\"")
      .mkString(s"""{"url":"${esc(url)}","outlinks":[""", ",", "]}")
  }

  /** One demo HTML page for the WAT / link-graph corpus: (url, html) for a
    * document. The page exercises every extraction rule with
    * oracle-predictable outcomes — in document order the KEPT links are:
    *
    *   1. `/page/{d+1}`                     absolute path, same host
    *   2. `{d+2}.html`                      relative, via `<base href>`
    *   3. `HTTP://Src{(3d+5)%20}.INVALID:80/page/{3d+5}?utm_source=wat&b=2&a=1#f`
    *                                        absolute cross-host, un-normalized
    *   4. `/page/{d+3}?z=1&amp;y=2`         unquoted attr + entity decode
    *   5. `http://src{(7d+3)%20}.invalid/page/{7d+3}`   cross-host
    *   6. `https://src{(d+11)%20}.invalid/page/{d+11}`  cross-host, https
    *   7. `../page/{d+4}/`                  dot segments via base merge
    *
    * and the DROPPED ones: a commented-out link, a fragment-only ref, a
    * `mailto:`, a `javascript:`, and a link inside a `<script>` body.
    */
  /** Demo page for the boilerplate family (`tx_boilerplate`,
    * `tx_warc_maintext`): six blocks whose jusText measurements are all
    * doc_id arithmetic — two all-link nav divs (bad), two headings
    * (short; promoted by a good neighbor), two k-word paragraphs (good;
    * k = 20 + id%7, the first with one linked word to exercise
    * sub-threshold link density). The comment and script bodies must
    * vanish without producing blocks.
    */
  def boilerplatePage(id: Long): String = {
    val k = (20 + id % 7).toInt
    val lorem = ("lorem " * k).trim
    val ipsum = ("ipsum " * k).trim
    s"""<html><body>
       |<!-- <p>comment ignored</p> -->
       |<div><a href="/m0">menu</a> <a href="/m1">links</a> <a href="/m2">here</a></div>
       |<h1>hdr $id 1</h1>
       |<p><a href="/x">lorem</a> ${lorem.substring(6)}</p>
       |<div><a href="/m3">more</a> <a href="/m4">menu</a> <a href="/m5">links</a></div>
       |<h2>hdr $id 4</h2>
       |<p>$ipsum</p>
       |<script>var a = "<p>never</p>";</script>
       |</body></html>""".stripMargin
  }

  /** Demo WARC corpus for the PDF-mining capstone (`tx_warc_pdf`): one
    * `application/pdf` response per document — pages and text from the
    * same doc_id arithmetic as `tx_pdf_text` (1 + id%3 pages, even ids
    * Flate-compressed) — with every fifth document ENCRYPTED in flight
    * (an /Encrypt key spliced into the trailer), so the extract stage
    * must divert mid-pipeline, not crash the archive scan. Odd archives
    * per-record-gzipped like the main corpus.
    */

  /** doc_ids grouped into archive-sized buckets WITHOUT an
    * AQE-coalescible exchange. The id shuffle under `groupByKey` is
    * KB-scale, so AQE coalesced its ENSURE_REQUIREMENTS exchange to ONE
    * partition and every expensive per-archive fabrication below ran
    * single-threaded (measured: the wiki fixture at 2.5 s wall for
    * 1.4 s of CPU). An explicit numPartitions repartition on the
    * archive key is USER-SPECIFIED partitioning AQE must respect, and
    * the groups assemble per partition. At production scale archive
    * records are MB-grain and coalescing is moot — this keeps the demo
    * corpora honest about parallel fabrication.
    */
  private def archiveGroups(spark: SparkSession, dir: String,
      perArchive: Int): Dataset[(Long, Seq[Long])] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .repartition(parts, (col("doc_id") / perArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_ / perArchive).iterator
          .map { case (aid, ids) => (aid, ids.sorted) }
      }
  }

  def pdfArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map { id =>
          val pages = (0 until (1 + id % 3).toInt).map(p =>
            s"Doc $id page $p ‘café’\ntokens ${id % 7} — (p$p)")
          // the encrypted lane carries a REAL standard-security file with a
          // user password, rotating ciphers — the honest password-gated
          // reject class (empty-password files decrypt, tx_pdf_encrypted)
          val body =
            if (id % 5 == 0) PdfCodec.writeEncrypted(pages,
              Seq("rc4-40", "rc4-128", "aes-128", "aes-256")(((id / 5) % 4).toInt),
              userPw = "locked")
            else PdfCodec.write(pages, compress = id % 2 == 0)
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://src${id % 20}.invalid/pdf/$id",
            "WARC-Record-ID" -> s"<urn:graft:pdf:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(200, "application/pdf", body)
        }
        Multimodal.MediaRecord(aid, s"fake://pdf/$aid.warc", "application/warc",
          Warc.writeWarc(recs, gzipped = aid % 2 == 1), Map.empty)
      }
  }

  /** Demo `.warc.zst` corpus (`tx_warc_zstd`): one `text/html` response
    * per document, archives in the IIPC layout — one zstd frame per
    * record, EVEN archives led by a trained-dictionary skippable frame
    * (every record frame compressed against it), odd archives dict-less
    * — so both read paths the wild corpus ships are exercised. Bodies
    * are the deterministic template the oracle replays.
    */
  def zstdArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map(zstdRecord)
        val dict = if (aid % 2 == 0) Some(zstdDemoDict) else None
        Multimodal.MediaRecord(aid, s"fake://zst/$aid.warc.zst",
          "application/warc", Warc.writeWarcZstd(recs, dict), Map.empty)
      }
  }

  /** One record of the zstd demo corpus (shared by the archive builder
    * and the dictionary trainer).
    */
  private def zstdRecord(id: Long): (Map[String, String], Array[Byte]) = {
    val text = s"<html>doc $id on src${id % 20} café ×${1 + id % 3}</html>"
    Map(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> s"http://src${id % 20}.invalid/zst/$id",
      "WARC-Record-ID" -> s"<urn:graft:zst:$id>",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "Content-Type" -> "application/http;msgtype=response") ->
      Warc.httpResponse(200, "text/html; charset=utf-8",
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The demo corpus' shared dictionary — trained ONCE per JVM from the
    * deterministic record templates (ids 0-15), the way a production
    * crawl trains ONE dict per crawl and ships it in every archive's
    * skippable frame (training per archive would invert the layout's
    * point). Deterministic: fixed samples -> fixed dict bytes. A silent
    * training failure would downgrade the contract's dict path to
    * dict-less, so failure is LOUD.
    */
  lazy val zstdDemoDict: Array[Byte] = {
    val samples = Seq.fill(8)((0L until 16L).map(id => zstdRecord(id)._2)).flatten
    val d = Zstandard.trainDict(samples, dictSize = 4 * 1024)
    require(d.nonEmpty, "zstdArchives: demo dict training failed")
    d.get
  }

  /** Demo corpus for the MODERN pdf capstone (`tx_pdf_modern`):
    * `.warc.zst` archives whose responses carry PDFs in the 1.5 profile
    * — even documents written with [[PdfCodec.write15]] (object stream +
    * predictor-coded xref stream), odd ones classic files whose content
    * streams go through a filter cascade picked by id%5 (LZW / ASCIIHex /
    * ASCII85 / RunLength / ASCII85+Flate) — and every FIFTH document
    * /Encrypt-spliced so the divert seam fires on the modern layout too.
    */
  def modernPdfArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map { id =>
          val pages = (0 until (1 + id % 3).toInt).map(p =>
            s"Doc $id v1.5 page $p ‘€${id % 9}’\nmodern ${id % 7} (p$p)")
          val clean =
            if (id % 2 == 0) PdfCodec.write15(pages)
            else PdfCodec.writeWithFilters(pages, modernCascade(id))
          val body =
            if (id % 5 == 0) PdfCodec.writeEncrypted(pages,
              Seq("rc4-40", "rc4-128", "aes-128", "aes-256")(((id / 5) % 4).toInt),
              userPw = "locked")
            else clean
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://src${id % 20}.invalid/mpdf/$id",
            "WARC-Record-ID" -> s"<urn:graft:mpdf:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(200, "application/pdf", body)
        }
        Multimodal.MediaRecord(aid, s"fake://mpdf/$aid.warc.zst",
          "application/warc", Warc.writeWarcZstd(recs), Map.empty)
      }
  }

  /** The filter cascade the modern-pdf corpus assigns to odd documents. */
  def modernCascade(id: Long): Seq[String] = (id % 5) match {
    case 0 => Seq("LZWDecode")
    case 1 => Seq("ASCIIHexDecode")
    case 2 => Seq("ASCII85Decode")
    case 3 => Seq("RunLengthDecode")
    case _ => Seq("ASCII85Decode", "FlateDecode")
  }

  /** Demo WARC corpus for the transfer-decode seam
    * (`tx_content_encoding`): one `text/plain` response per document,
    * body = a deterministic payload line repeated 1 + id%3 times, wire
    * bytes transfer-encoded by id%5 — gzip / zlib deflate / RAW deflate
    * under the `deflate` token (the wild-server bug) / identity (no
    * header) / a brotli token over raw bytes (the unsupported-encoding
    * divert). Odd archives per-record-gzipped like the main corpus, so
    * record-level Content-Encoding sits UNDER archive-level gzip — two
    * independent compression layers, both exercised.
    */
  def encodedArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16,
      modeOf: Long => String = defaultEncodingMode): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map { id =>
          val text = s"payload $id café\n" * (1 + id % 3).toInt
          val mode = modeOf(id)
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://src${id % 20}.invalid/enc/$id",
            "WARC-Record-ID" -> s"<urn:graft:enc:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponseEncoded(200, "text/plain; charset=utf-8",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8), mode)
        }
        Multimodal.MediaRecord(aid, s"fake://enc/$aid.warc", "application/warc",
          Warc.writeWarc(recs, gzipped = aid % 2 == 1), Map.empty)
      }
  }

  /** Demo mbox corpus (`tx_mail_mbox`): one message per document, 16 per
    * mailbox, exercising the MIME table — id%4 routes the body through
    * 7bit / quoted-printable / base64 / multipart-alternative (html +
    * plain), and id%3==0 subjects ride an RFC 2047 B encoded-word. The
    * doc id travels in Message-ID, never parsed from free text.
    */
  def mboxArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val msgs = ids.map(mailMessage)
        Multimodal.MediaRecord(aid, s"fake://mbox/$aid.mbox",
          "application/mbox", Mail.writeMbox(msgs), Map.empty)
      }
  }

  /** MediaWiki dump shards — the classic public-corpus source, in its
    * real shipping shape: bzip2-compressed export XML, one multistream
    * SHARD per record so readers explode shards in parallel. Pages are
    * deterministic wikitext exercising every [[MediaWiki.cleanWikitext]]
    * rule (bold/italic quotes, piped + plain links, a template, a ref,
    * a heading); the talk namespace rides every 10th page.
    */
  def wikiArchives(spark: SparkSession, dir: String,
      pagesPerShard: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, pagesPerShard)
      .map { case (aid, ids) =>
        val pages = ids.map(wikiPage)
        // GENUINELY multistream (header / 4-page batches / footer as
        // independent bz2 streams) — the layout the real dumps ship in
        // and the one a truncating decoder would silently corrupt.
        val (dump, _) = MediaWiki.writeMultistreamDump(pages)
        Multimodal.MediaRecord(aid, s"fake://wiki/shard$aid.xml.bz2",
          "application/x-bzip2", dump, Map.empty)
      }
  }

  /** Multistream shards WITH their `multistream-index.txt.bz2` twin —
    * the ranged-read contract (`tx_wiki_index`): metadata carries the
    * index text so the query can replay offset→page-batch access.
    */
  def wikiIndexedArchives(spark: SparkSession, dir: String,
      pagesPerShard: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, pagesPerShard)
      .map { case (aid, ids) =>
        val pages = ids.map(wikiPage)
        val (dump, index) = MediaWiki.writeMultistreamDump(pages)
        Multimodal.MediaRecord(aid, s"fake://wiki/shard$aid.xml.bz2",
          "application/x-bzip2", dump,
          Map("index_bz2_b64" -> java.util.Base64.getEncoder.encodeToString(
            Bzip2.compress(MediaWiki.writeIndexText(index)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
      }
  }

  /** Wiki shards where redirect PAGES ride the corpus the way the real
    * dumps ship them (`<redirect title=.../>` plus `#REDIRECT [[...]]`
    * wikitext): id%4==1 redirects to the preceding article (1 hop),
    * id%4==3 to the id-2 redirect (a genuine 2-hop chain), and
    * id%20==5 targets a title absent from the corpus (the dangling
    * lane — 5%4==1, so it replaces that redirect's target; via the
    * chain, id%20==7 dangles at hop 2).
    */
  def wikiRedirectArchives(spark: SparkSession, dir: String,
      pagesPerShard: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, pagesPerShard)
      .map { case (aid, ids) =>
        val (dump, _) = MediaWiki.writeMultistreamDump(ids.map(wikiRedirectPage))
        Multimodal.MediaRecord(aid, s"fake://wiki/rshard$aid.xml.bz2",
          "application/x-bzip2", dump, Map.empty)
      }
  }

  /** One page of the redirect corpus (see [[wikiRedirectArchives]]). */
  def wikiRedirectPage(id: Long): MediaWiki.WikiPage = {
    val target =
      if (id % 20 == 5) Some(s"Missing $id")
      else if (id % 4 == 1) Some(s"Article ${id - 1}")
      else if (id % 4 == 3) Some(s"Article ${id - 2}")
      else None
    target match {
      case Some(t) => MediaWiki.WikiPage(id, s"Article $id", 0,
        s"User${id % 7}", "2026-01-01T00:00:00Z",
        s"#REDIRECT [[$t]]", Some(t))
      case None => wikiPage(id)
    }
  }

  /** One fabricated export page — shared by the fixture and the oracle
    * comment: the cleaned text is four exact lines by id arithmetic.
    */
  def wikiPage(id: Long): MediaWiki.WikiPage = MediaWiki.WikiPage(
    pageId = id,
    title = s"Article $id",
    ns = if (id % 10 == 9) 1 else 0,
    username = s"User${id % 7}",
    timestamp = "2026-01-01T00:00:00Z",
    wikitext =
      s"'''Article $id''' is about [[Topic ${id % 7}|subject ${id % 7}]]." +
        s"{{Infobox|id=$id}}\n" +
        s"Body of article $id links [[Plain ${id % 5}]] and notes " +
        s"''café''.<ref>cite $id</ref>\n" +
        s"== Section ${id % 3} ==\n" +
        s"Final line $id — done.")

  /** Mailboxes whose messages CARRY DOCUMENTS — multipart/mixed with a
    * text/plain cover note and one base64 attachment rotating through
    * the document family (pdf / docx / rtf / xls by id%4), all
    * extracting the same template so one LENGTH expression oracles the
    * whole family. The attachment seam every real mail corpus needs:
    * list archives are where decades of documents actually live.
    */
  def attachmentArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val msgs = ids.map(attachmentMessage)
        Multimodal.MediaRecord(aid, s"fake://attmbox/$aid.mbox",
          "application/mbox", Mail.writeMbox(msgs), Map.empty)
      }
  }

  /** One multipart/mixed message with a document attachment (id%4
    * rotates pdf/docx/rtf/xls; the extracted text is the SAME template
    * for all four).
    */
  def attachmentMessage(id: Long): Array[Byte] = {
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    val template = s"Attached doc $id — café ${id % 9}"
    val (ext, bytes) = (id % 4) match {
      case 0 => ("pdf", PdfCodec.write(Seq(template), compress = id % 8 == 4))
      case 1 => ("docx", OfficeCodec.writeDocx(Seq(template)))
      case 2 => ("rtf", Rtf.write(Seq(template)))
      case _ => ("xls", MsXls.write(Seq("S0" -> Seq(Seq[Any](template)))))
    }
    val b64 = java.util.Base64.getMimeEncoder(76, Array('\n'.toByte))
      .encodeToString(bytes)
    val boundary = s"b$id"
    (s"From: User ${id % 7} <u${id % 7}@src${id % 20}.invalid>\n" +
      s"Subject: Document $id\n" +
      s"Date: Sat, 16 Aug 2026 00:00:00 +0000\n" +
      s"Message-ID: <graft:$id@attmbox>\n" +
      "MIME-Version: 1.0\n" +
      s"""Content-Type: multipart/mixed; boundary="$boundary"\n""" +
      "\n" +
      s"--$boundary\n" +
      "Content-Type: text/plain; charset=utf-8\n\n" +
      s"Cover note $id\n" +
      s"--$boundary\n" +
      s"""Content-Type: application/octet-stream; name="doc$id.$ext"\n""" +
      s"""Content-Disposition: attachment; filename="doc$id.$ext"\n""" +
      "Content-Transfer-Encoding: base64\n\n" +
      b64 + "\n" +
      s"--$boundary--\n").getBytes(iso)
  }

  /** One fabricated RFC 5322 message — shared by the fixture and the
    * oracle comment: body text is [[mailBodyText]], LF framing.
    */
  def mailMessage(id: Long): Array[Byte] = {
    val u = java.nio.charset.StandardCharsets.UTF_8
    val subject =
      if (id % 3 == 0)
        "=?UTF-8?B?" + java.util.Base64.getEncoder.encodeToString(
          s"Betreff $id ü".getBytes(u)) + "?="
      else s"Subject $id"
    val common =
      s"From: User ${id % 7} <u${id % 7}@src${id % 20}.invalid>\n" +
        s"Subject: $subject\n" +
        s"Date: Sat, 16 Aug 2026 00:00:00 +0000\n" +
        s"Message-ID: <graft:$id@mbox>\n"
    val text = mailBodyText(id)
    // the message is assembled as an ISO-8859-1 string (byte-transparent),
    // so UTF-8 body bytes must ride through it ISO-safely
    val textWire = new String(text.getBytes(u),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val body = (id % 4) match {
      case 0 => common +
        "Content-Type: text/plain; charset=utf-8\n" +
        "Content-Transfer-Encoding: 8bit\n\n" + textWire
      case 1 => common +
        "Content-Type: text/plain; charset=utf-8\n" +
        "Content-Transfer-Encoding: quoted-printable\n\n" +
        new String(Mail.qpEncode(text), java.nio.charset.StandardCharsets.ISO_8859_1)
      case 2 => common +
        "Content-Type: text/plain; charset=utf-8\n" +
        "Content-Transfer-Encoding: base64\n\n" +
        java.util.Base64.getMimeEncoder.encodeToString(text.getBytes(u))
      case _ => common +
        s"Content-Type: multipart/alternative; boundary=G$id\n\n" +
        s"--G$id\nContent-Type: text/html; charset=utf-8\n\n<b>doc $id</b>\n" +
        s"--G$id\nContent-Type: text/plain; charset=utf-8\n" +
        s"Content-Transfer-Encoding: 8bit\n\n$textWire\n" +
        s"--G$id--"
    }
    body.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** The per-message plain-text body template the oracle replays. */
  def mailBodyText(id: Long): String =
    s"Mail $id von Nutzer ${id % 7} — Grüße à ${1 + id % 3}€\nZeile zwei (§${id % 9})"

  /** Demo feed corpus (`tx_feed_discovery`): one feed per source host —
    * even hosts RSS 2.0, odd hosts Atom 1.0, odd ARCHIVES gzipped — each
    * announcing every known post of that host PLUS a brand-new URL for
    * docs with id%3==0 (the discovery signal: feeds see new content
    * before sitemaps do).
    */
  def feedArchives(spark: SparkSession, dir: String): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .as[Long]
      // groupByKey on purpose (r14 A/B): 20 small feeds, trivial CPU —
      // the parallel repartition variant measured slower
      .groupByKey(_ % 20)
      .mapGroups { (k, it) =>
        val entries = it.toSeq.sorted.flatMap { id =>
          val known = (s"http://src$k.invalid/post/$id", s"Post $id",
            s"2026-01-${1 + id % 28}", s"urn:post:$id")
          val fresh =
            if (id % 3 == 0) Seq((s"http://src$k.invalid/post/new-$id",
              s"New post $id", s"2026-01-${1 + id % 28}", s"urn:post:new-$id"))
            else Nil
          known +: fresh
        }
        val bytes =
          if (k % 2 == 0) Feeds.writeRss(s"src$k feed", entries, gzipped = k % 4 == 2)
          else Feeds.writeAtom(s"src$k feed", entries, gzipped = k % 4 == 3)
        Multimodal.MediaRecord(k, s"fake://feed/src$k.xml",
          "application/rss+xml", bytes, Map.empty)
      }
  }

  /** Demo corpus for the document-mining capstone (`tx_doc_mine`): WARC
    * archives whose responses carry EVERY document container the engine
    * extracts — pdf / docx / odt / xlsx / pptx / epub / rtf by id%8,
    * with the legacy .doc/.xls/.ppt lanes at 7-9 — under DELIBERATELY unreliable
    * HTTP Content-Types (every response claims octet-stream), because
    * wild servers lie: routing must come from magic bytes, not headers.
    */
  def docArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map { id =>
          val body = docBody(id)
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://src${id % 20}.invalid/doc/$id",
            "WARC-Record-ID" -> s"<urn:graft:doc:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(200, "application/octet-stream", body)
        }
        Multimodal.MediaRecord(aid, s"fake://doc/$aid.warc",
          "application/warc", Warc.writeWarc(recs, gzipped = aid % 2 == 1), Map.empty)
      }
  }

  /** One document-mining record: magic-byte triage + the routed
    * extraction — the STATELESS per-record core of `tx_doc_mine`,
    * shared verbatim by its streaming twin (a crawl tails the archive
    * stream with exactly the batch operator). Extraction failures
    * divert per-record with their named reason.
    */
  def docMineRecord(url: String, body: Array[Byte]): (Long, String, String, Long) = {
    val id = url.substring(url.lastIndexOf('/') + 1).toLong
    val probe = Multimodal.probeBytes(id, body)
    try {
      val text = probe.container match {
        case "pdf" => PdfCodec.extractText(body).pages.mkString("\n")
        case "docx" | "odt" | "xlsx" | "pptx" | "epub" | "doc" | "xls" | "ppt" =>
          OfficeCodec.extractText(body).text
        case "rtf" => Rtf.extractText(body)
        case other => throw new IllegalArgumentException(
          s"doc-mine: no text extractor for container '$other'")
      }
      (id, probe.container, "ok", text.length.toLong)
    } catch {
      case e: IllegalArgumentException => (id, probe.container, e.getMessage, 0L)
    }
  }

  /** The per-container body of the mixed-document corpus: the office
    * family shares ONE paragraph template (so the oracle is one LENGTH
    * expression), pdf has its own, and id%10 in 7-9 are the legacy binaries.
    */
  def docBody(id: Long): Array[Byte] = {
    val officeText = s"Mixed doc $id — café ${id % 9}"
    (id % 10) match {
      case 0 => PdfCodec.write(Seq(s"PDF doc $id — ‘§${id % 7}’"), compress = true)
      case 1 => OfficeCodec.writeDocx(Seq(officeText))
      case 2 => OfficeCodec.writeOdt(Seq(officeText))
      case 3 => OfficeCodec.writeXlsx(Seq(Seq(Seq(officeText))))
      case 4 => OfficeCodec.writePptx(Seq(Seq(officeText)))
      case 5 => OfficeCodec.writeEpub(Seq(Seq(officeText)))
      case 6 => Rtf.write(Seq(officeText))
      // lanes 7-9: the REAL legacy binaries over the [MS-CFB] walk —
      // Word piece table (every other .doc carries a wide char so both
      // PCD encodings ride the corpus; (id/10)%4==2 writes the Word-95
      // non-complex shape), Excel (BIFF8, with BIFF5 `Book` files on
      // alternating rounds), PowerPoint atoms. All three extract the
      // SAME template, so one LENGTH oracle covers the office family.
      case 7 =>
        if ((id / 10) % 2 == 1) MsDoc.write(Seq(officeText + " \u65e5"))
        else if ((id / 10) % 4 == 2) MsDoc.write95(Seq(officeText))
        else MsDoc.write(Seq(officeText))
      case 8 =>
        if ((id / 10) % 2 == 1) MsXls.write5(Seq("S0" -> Seq(Seq[Any](officeText))))
        else MsXls.write(Seq("S0" -> Seq(Seq[Any](officeText))))
      case _ => MsPpt.write(Seq(Seq(officeText)))
    }
  }

  /** The id%7 routing table [[encodedArchives]] uses by default. */
  def defaultEncodingMode(id: Long): String = (id % 9) match {
    case 0 => "gzip"
    case 1 => "deflate"
    case 2 => "deflate-raw"
    case 3 => ""
    case 4 => "bzip2"
    case 6 => "xz"
    case 7 => "lz4"
    case 8 => "compress"
    case _ => "br" // the documented deferral: diverts, bytes kept
  }

  /** Demo WARC corpus for the host-health seam (`tx_host_health`): one
    * response per document whose HTTP status follows
    * q = (id div 20 + id mod 20) % 10 — 0-5 → 200, 6 → 301, 7 → 404,
    * 8 → 500, 9 → 503. The key mixes the archive round WITH the host
    * residue: a pure id%10 rule would give every fetch on a host (id%20)
    * the same status, and a pure round rule the same MIX on every host —
    * this one rotates the mix per host, so error rates genuinely differ
    * and the backoff threshold splits the host set. Odd archives
    * per-record-gzipped like the main corpus.
    */
  def statusArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map { id =>
          val status = ((id / 20 + id % 20) % 10) match {
            case 6 => 301
            case 7 => 404
            case 8 => 500
            case 9 => 503
            case _ => 200
          }
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://src${id % 20}.invalid/page/$id",
            "WARC-Record-ID" -> s"<urn:graft:health:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(status, "text/plain",
              s"fetch $id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Multimodal.MediaRecord(aid, s"fake://health/$aid.warc",
          "application/warc",
          Warc.writeWarc(recs, gzipped = aid % 2 == 1), Map.empty)
      }
  }

  /** Demo page for the stopword-density boilerplate policy
    * (`tx_boilerplate_stop`): eight blocks exercising every branch the
    * stopword signal adds over link-density alone —
    *
    *  - a keyword-stuffed LONG paragraph ("buy cheap widget pills"...,
    *    stopword density 0‰) that the link-only policy calls `good` and
    *    full jusText correctly rejects;
    *  - two mid-density paragraphs ("green tea is fine here", 200‰ —
    *    `near_good`): one beside the high-density article (promoted),
    *    one stranded between bad blocks (demoted);
    *  - a stopword-free heading stub (`bad`, does not ride a neighbor)
    *    next to the h1 that DOES carry a stopword (short → promoted).
    *
    * Densities are exact word arithmetic over the "en" profile ("the",
    * "and", "is", "on" hit; everything else misses), so the oracle
    * replays classification and the reassembled text to the character.
    */
  def stopwordPage(id: Long): String = {
    val k = (10 + id % 5).toInt
    val k2 = (8 + id % 3).toInt
    val k3 = (9 + id % 4).toInt
    val article = ("the cat and the dog " * k).trim   // 600 permille
    val mid = ("green tea is fine here " * k2).trim   // 200 permille
    val stuffed = ("buy cheap widget pills " * k3).trim // 0 permille
    s"""<html><body>
       |<div><a href="/m0">menu</a> <a href="/m1">links</a> <a href="/m2">here</a></div>
       |<h1>On widget reviews</h1>
       |<p>$article</p>
       |<p>$mid</p>
       |<p>$stuffed</p>
       |<p>$mid</p>
       |<h2>Widget specs</h2>
       |<div><a href="/t">Terms</a> <a href="/p">Privacy</a></div>
       |</body></html>""".stripMargin
  }

  /** Demo page for NEAR-mirror detection (`tx_mirror_near`): host k's
    * page in a five-group mirror corpus (group g = k%5, role r = k/5).
    * Exact-digest grouping cannot catch these mirrors — every host's RAW
    * bytes differ (the nav banner names the host) — but after jusText
    * boilerplate removal the MAIN texts line up per role:
    *
    *  - roles 0/1: identical main text (banner-injected mirror pair —
    *    simhash hamming 0);
    *  - role 2: one word of paragraph 2 swapped for a per-group word
    *    CHOSEN so the token-simhash lands at hamming 1-3 of the base
    *    (the timestamp-in-content mirror; the pigeonhole guarantee finds
    *    hamming <= 3, and `DedupSpec` pins the planted distances so a
    *    tokenizer/hash change cannot silently invalidate the plant);
    *  - role 3: unique content — must NOT be flagged (hamming >> 3,
    *    also spec-pinned).
    *
    * All words are pure letters (the simhash tokenizer splits on
    * non-letters), so the token stream is exactly the literal word lists
    * and the flagged PAIR SET is pure k-arithmetic for the oracle.
    */
  def mirrorPage(k: Long): String = {
    val g = (k % 5).toInt
    val r = (k / 5).toInt
    def enc(i: Int) = s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val gl = ('a' + g).toChar
    val words: Seq[String] =
      if (r == 3) (0 until 60).map(i => s"u${('a' + k.toInt).toChar}${enc(i)}")
      else {
        val base = (0 until 60).map(i => s"w$gl${enc(i)}")
        // hamming-selected per-group replacements (see scaladoc): the
        // resulting distances 3/1/1/2/2 are pinned in DedupSpec
        if (r == 2) base.updated(45, Seq("zaaa", "zbaa", "zcaa", "zdab", "zeaa")(g))
        else base
      }
    val (p1, p2) = words.splitAt(30)
    s"""<html><body>
       |<div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a> <a href="/m">mirror ${('a' + k.toInt).toChar}</a></div>
       |<h1>Shared title group$gl</h1>
       |<p>${p1.mkString(" ")}</p>
       |<p>${p2.mkString(" ")}</p>
       |<div><a href="/t">Terms</a> <a href="/p">Privacy</a> <a href="/i">Imprint</a></div>
       |</body></html>""".stripMargin
  }

  /** Demo WARC corpus for the crawl→training-text capstone: one response
    * per document whose body is [[boilerplatePage]] with ` café` appended
    * to the h1 (a non-ASCII code point the charset stage must decode
    * correctly), encoded per doc_id % 3 — 0: UTF-8 with BOM, 1:
    * ISO-8859-1 with a declared `charset=` (é is the single byte 0xE9 —
    * a UTF-8 misread would mangle it), 2: bare UTF-8. Odd archives
    * per-record-gzipped like the main corpus.
    */
  def boilerplateArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map { id =>
          val url = s"http://src${id % 20}.invalid/doc/$id"
          val html = boilerplatePage(id).replace("</h1>", " café</h1>")
          val (body, ct) = (id % 3) match {
            case 0 => (Array(0xef, 0xbb, 0xbf).map(_.toByte) ++
              html.getBytes(java.nio.charset.StandardCharsets.UTF_8), "text/html")
            case 1 => (html.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
              "text/html; charset=ISO-8859-1")
            case _ => (html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              "text/html")
          }
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> url,
            "WARC-Record-ID" -> s"<urn:graft:bp:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(200, ct, body)
        }
        Multimodal.MediaRecord(aid, s"fake://bp/$aid.warc", "application/warc",
          Warc.writeWarc(recs, gzipped = aid % 2 == 1), Map.empty)
      }
  }

  /** Demo WARC corpus for cross-host MIRROR detection: pages whose content
    * repeats across hosts by rule — docs with `doc_id % 97 < 50` serve
    * [[boilerplatePage]] of their residue (so every group {r, r+97, ...}
    * is byte-identical content on DIFFERENT hosts, since gcd(97, 20) = 1
    * spreads residues across the 20 hosts), the rest serve their own page
    * (singletons the detector must NOT flag). Uniform UTF-8, no BOM games:
    * mirror detection is byte-digest equality, and the encodings are the
    * [[boilerplateArchives]] capstone's concern.
    */
  def mirrorArchives(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map { id =>
          val contentId = if (id % 97 < 50) id % 97 else id
          val html = boilerplatePage(contentId)
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://src${id % 20}.invalid/doc/$id",
            "WARC-Record-ID" -> s"<urn:graft:mir:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(200, "text/html",
              html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Multimodal.MediaRecord(aid, s"fake://mir/$aid.warc", "application/warc",
          Warc.writeWarc(recs, gzipped = aid % 2 == 1), Map.empty)
      }
  }

  /** Demo page for `tx_meta_gate`: deterministic on-page metadata — the
    * title carries an entity (&mdash;), robots directives rotate on
    * doc_id % 4 (noindex,follow / NOFOLLOW / none / absent), every third
    * doc declares a rel=canonical that the leading `<base href>` rebases,
    * and a commented-out canonical plus a script-embedded robots meta must
    * be ignored.
    */
  def metaPage(id: Long): (String, String) = {
    val url = s"http://src${id % 20}.invalid/page/$id"
    val robots = (id % 4) match {
      case 0 => """<meta name="robots" content="noindex, follow">"""
      case 1 => """<meta name="ROBOTS" content="NOFOLLOW">"""
      case 2 => """<meta name="robots" content="none">"""
      case _ => ""
    }
    val canonical =
      if (id % 3 == 0) s"""<link rel="alternate canonical" href="/canon/${id % 50}">"""
      else ""
    val html =
      s"""<html><head>
         |<base href="http://base${id % 10}.invalid/dir/">
         |<title>Doc $id &mdash; title</title>
         |<meta name="description" content="summary $id &amp; more">
         |$robots
         |$canonical
         |<!-- <link rel="canonical" href="/never"> -->
         |<script>var x = '<meta name="robots" content="noindex">';</script>
         |</head><body><p>body</p></body></html>""".stripMargin
    (url, html)
  }

  /** WITHIN-crawl digest-dedup verdicts — the companion of the
    * cross-crawl [[revisitVerdicts]]: inside ONE crawl, every payload
    * digest stores exactly one body (the capture with the string-least
    * (url, record_id) — deterministic in any engine) and every other
    * capture of that digest becomes a body-less `revisit` verdict with
    * `refers_to` naming the canonical record (ISO 28500 §6.7.2,
    * identical-payload-digest profile — what Common Crawl does to
    * mirrors within a monthly crawl).
    *
    * Scale shape: the window runs over (url, record_id, digest) rows off
    * a map-only archive scan — 16-byte digests shuffle ONCE, page bodies
    * never do. The write side ([[dedupWarcRewrite]]) joins these verdicts
    * back onto a second pruned pass of the archives.
    */
  def selfDedupVerdicts(archives: Dataset[Multimodal.MediaRecord]): DataFrame = {
    import archives.sparkSession.implicits._
    val recs = archives.flatMap { r =>
      Warc.readRecords(r.content)
        .filter(_.warcType == "response")
        .map { rec =>
          val (_, _, body) = Warc.parseHttpResponse(rec.content)
          (r.media_id, rec.targetUri, rec.recordId, md5hex(body))
        }
    }.toDF("archive_id", "url", "record_id", "digest")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("digest")).orderBy(col("url"), col("record_id"))
    recs
      .withColumn("_rn", row_number().over(w))
      .withColumn("refers_to",
        when(col("_rn") === 1, lit(null).cast("string"))
          .otherwise(first(col("record_id")).over(w)))
      .withColumn("verdict",
        when(col("_rn") === 1, lit("response")).otherwise(lit("revisit")))
      .drop("_rn")
  }

  /** Rewrite crawl archives with [[selfDedupVerdicts]] applied: canonical
    * captures keep their bytes, duplicate captures become body-less
    * `revisit` records (`WARC-Refers-To` + identical-payload-digest
    * `WARC-Profile`), non-response records pass through untouched.
    * Archive-in/archive-out on the archive grain — the dedup join carries
    * verdict rows (url + ids), never bodies; record order is preserved.
    */
  def dedupWarcRewrite(archives: Dataset[Multimodal.MediaRecord],
      verdicts: DataFrame): Dataset[Multimodal.MediaRecord] = {
    import archives.sparkSession.implicits._
    val rows = archives.flatMap { r =>
      Warc.readRecords(r.content).zipWithIndex.map { case (rec, pos) =>
        (r.media_id, r.uri, pos, rec.recordId, rec.headers, rec.content)
      }
    }.toDF("archive_id", "uri", "pos", "record_id", "headers", "content")
    rows
      .join(verdicts.select(col("record_id"), col("verdict"), col("refers_to")),
        Seq("record_id"), "left")
      .select(col("archive_id"), col("uri"), col("pos"), col("record_id"),
        col("headers"), col("content"), col("verdict"), col("refers_to"))
      .as[(Long, String, Int, String, Map[String, String], Array[Byte], String, String)]
      // archiveGroups discipline: explicit repartition so the per-archive
      // rewrite below runs across the executor threads, not on the one
      // AQE-coalesced partition
      .repartition(math.max(2,
          archives.sparkSession.sparkContext.defaultParallelism),
        col("archive_id"))
      .mapPartitions(partIt => partIt.toSeq.groupBy(_._1).iterator.map {
        case (aid, rsUnsorted) =>
        val rs = rsUnsorted.sortBy(_._3)
        val uri = rs.head._2
        val recs = rs.map { case (_, _, _, recordId, headers, content, verdict, refersTo) =>
          if (verdict == "revisit") {
            // keep the ORIGINAL HTTP header block (status line + headers +
            // blank line, payload dropped) as the revisit content — the
            // identical-payload-digest convention, and what the declared
            // Content-Type (application/http;msgtype=response) promises a
            // reader: at least a parseable HTTP block. A record with no
            // recognizable header block degrades to empty content.
            val blank = {
              var i = 0
              var at = -1
              while (at < 0 && i + 3 < content.length) {
                if (content(i) == '\r' && content(i + 1) == '\n' &&
                  content(i + 2) == '\r' && content(i + 3) == '\n') at = i + 4
                i += 1
              }
              at
            }
            val httpHeaders =
              if (blank > 0) java.util.Arrays.copyOf(content, blank)
              else Array.empty[Byte]
            Map(
              "WARC-Type" -> "revisit",
              "WARC-Target-URI" -> headers.getOrElse("warc-target-uri", ""),
              // a rewrite is a NEW record; derive its id from the original
              "WARC-Record-ID" -> (recordId.stripSuffix(">") + ":dedup>"),
              "WARC-Date" -> headers.getOrElse("warc-date", ""),
              "WARC-Refers-To" -> refersTo,
              "WARC-Profile" -> "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
              "Content-Type" -> headers.getOrElse("content-type", "")) ->
              httpHeaders
          } else {
            // pass through verbatim (headers came back lower-cased — WARC
            // names are case-insensitive; the writer adds Content-Length)
            (headers - "content-length") -> content
          }
        }
        Multimodal.MediaRecord(aid, uri + ".dedup", "application/warc",
          Warc.writeWarc(recs, gzipped = false), Map.empty)
      })
  }

  def watPage(id: Long): (String, String) = {
    val k = id % 20
    val url = s"http://src$k.invalid/page/$id"
    val c1 = 3 * id + 5
    val c2 = 7 * id + 3
    val c3 = id + 11
    val html =
      s"""<html><head><base href="http://src$k.invalid/page/"></head><body>
         |<!-- <a href="/page/999999">commented out</a> -->
         |<a href="/page/${id + 1}">next</a>
         |<a href='${id + 2}.html'>sibling</a>
         |<A HREF="HTTP://Src${c1 % 20}.INVALID:80/page/$c1?utm_source=wat&b=2&a=1#f">cross one</A>
         |<a class="m" href=/page/${id + 3}?z=1&amp;y=2>unquoted</a>
         |<a href="http://src${c2 % 20}.invalid/page/$c2">cross two</a>
         |<a href="https://src${c3 % 20}.invalid/page/$c3">cross three</a>
         |<a href="../page/${id + 4}/">dots</a>
         |<a href="#frag">fragment only</a>
         |<a href="mailto:x@y.invalid">mail</a>
         |<a href="javascript:void(0)">js</a>
         |<script>var x = '<a href="/page/888888">never</a>';</script>
         |</body></html>""".stripMargin
    (url, html)
  }

  /** Demo WARC corpus for WAT derivation: response-only archives (16 docs
    * each, odd archives per-record-gzipped like the main corpus) whose
    * bodies are the [[watPage]] HTML.
    */
  def watArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    archiveGroups(spark, dir, docsPerArchive)
      .map { case (aid, ids) =>
        val recs = ids.map { id =>
          val (url, html) = watPage(id)
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> url,
            "WARC-Record-ID" -> s"<urn:graft:wat:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(200, "text/html",
              html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Multimodal.MediaRecord(aid, s"fake://wat/$aid.warc", "application/warc",
          Warc.writeWarc(recs, gzipped = aid % 2 == 1), Map.empty)
      }
  }

  /** Demo WARC corpus: documents grouped 16-to-an-archive (archive count
    * scales WITH the corpus, like a real crawl's file count), each doc as
    * a request+response capture pair behind a warcinfo header record.
    * Every field an oracle needs derives from the doc columns: url
    * `http://corpus.invalid/<source>/<doc_id>`, status 404 iff
    * doc_id % 17 == 0 else 200, body = the UTF-8 text. Odd archives are
    * per-record-gzipped so the contract query exercises the multi-member
    * gunzip path too.
    */
  def warcArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16, bodyV2Every: Long = 0): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, source, text) =>
        // bodyV2Every > 0 builds the NEXT crawl epoch: every such doc's
        // body is amended, so its digest changes vs the prior epoch
        if (bodyV2Every > 0 && id % bodyV2Every == 0) (id, source, text + " v2")
        else (id, source, text)
      }
      // explicit-numPartitions repartition, not groupByKey (archiveGroups
      // discipline): the whole WARC family fabricated through here ran
      // single-threaded on the AQE-coalesced exchange (r14 profile:
      // tx_warc_cdx 0.97 s on one task of 1.99 s total CPU)
      .repartition(math.max(2, spark.sparkContext.defaultParallelism),
        (col("_1") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          warcFromDocs(aid, docs.sortBy(_._1), gzipped = aid % 2 == 1)
        }
      }
  }

  /** The shared per-archive construction behind the WARC demo corpora:
    * warcinfo header record + one request/response capture pair per doc
    * (status 404 iff doc_id % 17 == 0, else 200).
    */
  private def warcFromDocs(aid: Long, docs: Seq[(Long, String, String)],
      gzipped: Boolean): Multimodal.MediaRecord = {
    val info = Map(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:warcinfo:$aid>",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "Content-Type" -> "application/warc-fields") ->
      "software: graft-ingest/1.0\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val recs = info +: docs.flatMap { case (id, source, text) =>
      val url = s"http://corpus.invalid/$source/$id"
      val status = if (id % 17 == 0) 404 else 200
      val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Seq(
        Map(
          "WARC-Type" -> "request",
          "WARC-Target-URI" -> url,
          "WARC-Record-ID" -> s"<urn:graft:req:$id>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "Content-Type" -> "application/http;msgtype=request") ->
          s"GET /$source/$id HTTP/1.1\r\nHost: corpus.invalid\r\n\r\n"
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
        Map(
          "WARC-Type" -> "response",
          "WARC-Target-URI" -> url,
          "WARC-Record-ID" -> s"<urn:graft:resp:$id>",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "Content-Type" -> "application/http;msgtype=response") ->
          Warc.httpResponse(status, "text/html", body))
    }
    Multimodal.MediaRecord(aid,
      s"fake://warc/$aid.warc" + (if (gzipped) ".gz" else ""),
      "application/warc", Warc.writeWarc(recs, gzipped = gzipped), Map.empty)
  }

  /** Demo tar corpus: same 16-docs-per-archive grouping, one regular-file
    * member `<source>/<doc_id>.txt` per document with the UTF-8 text as
    * payload.
    */
  def tarArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      // groupByKey on purpose (r14 A/B): tar fabrication is pure byte
      // copying (~0.1 s CPU total) — the parallel repartition variant
      // measured slower (+0.2 s) from per-task fixed costs alone
      .groupByKey(_._1 / docsPerArchive)
      .mapGroups { (aid, it) =>
        val entries = it.toSeq.sortBy(_._1).map { case (id, source, text) =>
          val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Tar.TarEntry(s"$source/$id.txt", body.length.toLong, '0', body)
        }
        Multimodal.MediaRecord(aid, s"fake://tar/$aid.tar", "application/x-tar",
          Tar.writeTar(entries), Map.empty)
      }
  }

  /** `.tar.xz` source archives — the kernel/source-tarball corpus
    * shape: the tar corpus re-wrapped by the [[Xz]] writer, check
    * type rotating by archive id so none/crc32/crc64/sha256 all ride
    * the contract lane.
    */
  def tarXzArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .repartition(parts, (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          val entries = docs.sortBy(_._1).map { case (id, source, text) =>
            val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            Tar.TarEntry(s"$source/$id.txt", body.length.toLong, '0', body)
          }
          val check = Seq("none", "crc32", "crc64", "sha256")((aid % 4).toInt)
          Multimodal.MediaRecord(aid, s"fake://tarxz/$aid.tar.xz",
            "application/x-xz", Xz.compress(Tar.writeTar(entries), check),
            Map.empty)
        }
      }
  }

  /** Demo `.tar.lz4` corpus: same 16-docs-per-archive grouping as the
    * tar.xz corpus, containers rotating by archive id between the modern
    * frame (even) and the kernel-flavor legacy frame (odd) so the
    * contract lane exercises both decoders — the Hadoop-ecosystem
    * sibling of the source-tarball lane.
    */
  def tarLz4ArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .repartition(parts, (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          val entries = docs.sortBy(_._1).map { case (id, source, text) =>
            val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            Tar.TarEntry(s"$source/$id.txt", body.length.toLong, '0', body)
          }
          val tar = Tar.writeTar(entries)
          val packed =
            if (aid % 2 == 0) Lz4.compress(tar) else Lz4.compressLegacy(tar)
          Multimodal.MediaRecord(aid, s"fake://tarlz4/$aid.tar.lz4",
            "application/x-lz4", packed, Map.empty)
        }
      }
  }

  /** Demo 7z corpus: same 16-docs-per-archive grouping; coders rotate by
    * archive id over copy/lzma/lzma2 (the wild population), solid layout
    * alternates by id%2 and every 5th archive ships the ENCODED
    * (LZMA2-compressed) header real 7z defaults to — so the contract
    * lane exercises the whole decode matrix.
    */
  def sevenzArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .repartition(parts, (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          val entries = docs.sortBy(_._1).map { case (id, source, text) =>
            (s"$source/$id.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          val coder = Seq("copy", "lzma", "lzma2")((aid % 3).toInt)
          val packed = Sevenz.write(entries, coder = coder,
            solid = aid % 2 == 0, encodedHeader = aid % 5 == 0)
          Multimodal.MediaRecord(aid, s"fake://7z/$aid.7z",
            "application/x-7z-compressed", packed, Map.empty)
        }
      }
  }

  /** Demo .deb corpus: same 16-docs-per-archive grouping; data.tar
    * compression rotates by package id over the four codecs deb(5)
    * allows and this repo decodes (xz/gzip/zstd/none), so the contract
    * lane exercises the whole matrix. Control fields derive from the
    * group so the oracle can replay them.
    */
  def debPackagesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .repartition(parts, (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          val files = docs.sortBy(_._1).map { case (id, source, text) =>
            (s"usr/share/doc/corpus-$aid/$source/$id.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          val comp = Seq("xz", "gzip", "zstd", "none")((aid % 4).toInt)
          val packed = Deb.write(
            Map("Package" -> s"corpus-$aid", "Version" -> s"1.$aid-1",
              "Architecture" -> "all",
              "Description" -> s"corpus shard $aid\n${docs.length} documents"),
            files, compression = comp)
          Multimodal.MediaRecord(aid, s"fake://deb/corpus-$aid.deb",
            "application/vnd.debian.binary-package", packed, Map.empty)
        }
      }
  }

  /** Demo cpio corpus: same 16-docs-per-archive grouping; formats rotate
    * by archive id over newc / crc / odc so the contract lane exercises
    * all three layouts (and the crc variant's verified data sums).
    */
  def cpioArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .repartition(parts, (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          val entries = docs.sortBy(_._1).map { case (id, source, text) =>
            (s"$source/$id.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          val fmt = Seq("newc", "crc", "odc")((aid % 3).toInt)
          Multimodal.MediaRecord(aid, s"fake://cpio/$aid.cpio",
            "application/x-cpio", Cpio.writeCpio(entries, format = fmt), Map.empty)
        }
      }
  }

  /** Demo ISO 9660 corpus: same 16-docs-per-archive grouping; each image
    * carries its documents as Rock-Ridge-named files under per-source
    * directories — the disc-image preservation shape.
    */
  def isoImagesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .repartition(parts, (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          val entries = docs.sortBy(_._1).map { case (id, source, text) =>
            (s"$source/$id.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          Multimodal.MediaRecord(aid, s"fake://iso/$aid.iso",
            "application/x-iso9660-image", Iso9660.write(entries), Map.empty)
        }
      }
  }

  /** Demo xar corpus: same 16-docs-per-archive grouping; documents ride
    * zlib-encoded under per-source directories — the macOS package
    * shape, both member checksums present.
    */
  def xarArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .repartition(parts, (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          val entries = docs.sortBy(_._1).map { case (id, source, text) =>
            (s"$source/$id.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          Multimodal.MediaRecord(aid, s"fake://xar/$aid.xar",
            "application/x-xar", Xar.write(entries), Map.empty)
        }
      }
  }

  /** Demo `.tar.Z` corpus: same 16-docs-per-archive grouping, LZW
    * block-mode compressed — the FTP-era source-archive flavor.
    */
  def tarZArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .repartition(parts, (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
          val entries = docs.sortBy(_._1).map { case (id, source, text) =>
            val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            Tar.TarEntry(s"$source/$id.txt", body.length.toLong, '0', body)
          }
          Multimodal.MediaRecord(aid, s"fake://tarz/$aid.tar.Z",
            "application/x-compress", Lzw.compressZ(Tar.writeTar(entries)), Map.empty)
        }
      }
  }

  /** Demo zip corpus: same 16-docs-per-archive grouping and member names
    * as the tar corpus; odd archives are deflate-compressed so the
    * contract query exercises both methods (and the CRC verify runs over
    * genuinely inflated payloads, not just stored slices).
    */
  def zipArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      // groupByKey on purpose (r14 A/B): the corpus deflates at most ~1 MB
      // total — parallel repartition measured slower (+0.12 s) than the
      // serial fabrication it replaces
      .groupByKey(_._1 / docsPerArchive)
      .mapGroups { (aid, it) =>
        val members = it.toSeq.sortBy(_._1).map { case (id, source, text) =>
          s"$source/$id.txt" -> text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        Multimodal.MediaRecord(aid, s"fake://zip/$aid.zip", "application/zip",
          Zip.writeZip(members, deflate = aid % 2 == 1), Map.empty)
      }
  }

  /** Demo corpus for the REFINE capstone: the messy front half of a real
    * crawl, deliberately un-normalized on every axis the pipeline must
    * fix. URLs arrive with case games, default ports, tracking params and
    * fragments; bodies arrive in five charset shapes (utf-8 BOM, utf-16le
    * BOM, declared latin-1, bare utf-8, INVALID utf-8) with the matching
    * (or absent) Content-Type charset declaration; paths hit every robots
    * precedence rule. Response-only archives, 16 docs each, odd archives
    * per-record-gzipped like the main WARC corpus.
    */
  def refineArchivesFromDocuments(spark: SparkSession, dir: String,
      docsPerArchive: Int = 16): Dataset[Multimodal.MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      // archiveGroups discipline: explicit repartition, parallel fabrication
      .repartition(math.max(2, spark.sparkContext.defaultParallelism),
        (col("doc_id") / docsPerArchive).cast("long"))
      .mapPartitions { partIt =>
        partIt.toSeq.groupBy(_._1 / docsPerArchive).iterator.map { case (aid, docs) =>
        val recs = docs.sortBy(_._1).map { case (id, text) =>
          val path = (id % 5) match {
            case 0 => s"/public/$id"
            case 1 => s"/private/$id"
            case 2 => s"/private/open/$id"
            case 3 => s"/files/$id.tmp"
            case _ => s"/files/$id.txt"
          }
          val url = s"HTTP://Src${id % 20}.INVALID:80$path?utm_source=crawl&b=2&a=1#frag"
          val (body, ct) = (id % 5) match {
            case 0 => (Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ text.getBytes("UTF-8"),
              "text/html")
            case 1 => (Array(0xff, 0xfe).map(_.toByte) ++ text.getBytes("UTF-16LE"),
              "text/html")
            case 2 => (text.getBytes("ISO-8859-1"), "text/html; charset=ISO-8859-1")
            case 3 => (text.getBytes("UTF-8"), "text/html")
            case _ => (text.getBytes("UTF-8") ++ Array(0x80, 0x81).map(_.toByte),
              "text/html")
          }
          Map(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> url,
            "WARC-Record-ID" -> s"<urn:graft:refine:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http;msgtype=response") ->
            Warc.httpResponse(200, ct, body)
        }
        Multimodal.MediaRecord(aid, s"fake://refine/$aid.warc", "application/warc",
          Warc.writeWarc(recs, gzipped = aid % 2 == 1), Map.empty)
        }
      }
  }
}
