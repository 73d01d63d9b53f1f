package graft.sources

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_16BE, UTF_16LE, UTF_8}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** WARC/WET ingest source (ISO 28500, the format web crawls actually
  * ship) — the record-boundary reader that lets the url/tx/dp web
  * pipelines run from crawl files instead of pre-extracted parquet,
  * plus the deterministic fixture muxer that writes one.
  *
  * Read path, Spark-first: records are NOT line-delimited, so the
  * reader rides Hadoop's TextInputFormat with
  * `textinputformat.record.delimiter = "WARC/1.0\r\n"` — the input
  * format splits large files at block boundaries and resynchronizes at
  * the next record header, so one multi-GB WARC file parallelizes
  * across tasks with NO driver-side parsing and no whole-file
  * buffering (the `binaryFile` trap). Parsing is BYTE-level end to end
  * (r16): the Text value's raw bytes are taken as-is (never toString,
  * which would U+FFFD-mangle any non-UTF-8 body before the charset is
  * even known), the header block decodes as ISO-8859-1 (the grammar is
  * ASCII; latin-1 is the lossless byte→char view), and the body is cut
  * by Content-Length BYTES. Truncated or malformed records degrade to
  * no row, never a throw.
  *
  * Compressed path: real crawls ship `.warc.gz` with ONE GZIP MEMBER
  * PER RECORD (the CommonCrawl convention, ISO 28500-2 annex) so that
  * readers can split inside a file. [[readWetGz]] reads that shape
  * through [[WarcGzInputFormat]] — a splittable FileInputFormat whose
  * record reader scans its byte range for gzip member magic, inflates,
  * and accepts only members that decompress to a "WARC/1.0\r\n" record
  * (false magic inside compressed payloads is rejected by that check
  * and scanning resumes one byte later). A member that STARTS in
  * [split.start, split.end) belongs to the split and may finish past
  * `end` — the same ownership rule Hadoop's line reader uses — so a
  * multi-GB .warc.gz parallelizes across tasks with no driver parsing.
  *
  * HTTP `response` records ([[readResponses]]) additionally split the
  * body's HTTP envelope at byte level, undo the payload's transfer and
  * content encodings (`Transfer-Encoding: chunked` de-chunks,
  * `Content-Encoding: gzip`/`deflate` inflate — BEFORE any charset
  * decode; unsupported codings, malformed streams, and any transfer
  * coding other than exactly chunked are a counted degrade,
  * `encoding_ok = false` + NULL payload), and decode the payload under
  * the full HTML5 charset precedence (r18): BOM > Content-Type header
  * charset > `<meta charset>` prescan of the first 1024 bytes > the
  * cp1252 legacy default — with `charset_src` reporting which channel
  * decided. Labels resolve WHATWG-style: utf-8 as itself; the whole
  * latin-1 family as WINDOWS-1252 (what browsers actually do —
  * 0x80–0x9F become real punctuation, not C1 controls); utf-16/LE/BE
  * natively; unknown labels fall back to cp1252 with
  * `charset_ok = false` — a COUNTED degrade, never a garble (the m9
  * convention). A body with no blank line or no parseable status line
  * keeps its record row with NULL http fields, so malformed-envelope
  * counts stay observable.
  *
  * Write path: the fixture muxer buckets docs `doc_id % nFiles`, one
  * file per bucket, records sorted by doc_id behind a leading
  * `warcinfo` record (readers must step over non-conversion types).
  * Writes stream the sorted iterator — partitions are sorted (bucket,
  * doc_id) and the writer switches files on bucket change, so memory
  * is O(1 record) at any scale factor. Local-FS writer — fixture
  * tooling; a production export writes the same bytes through the
  * cluster's DFS client. */
object WarcSource {

  private[graft] val Delim = "WARC/1.0\r\n"
  private[graft] val DelimBytes = Delim.getBytes(UTF_8)
  private val Crlf = "\r\n".getBytes(UTF_8)
  private val Crlf2 = "\r\n\r\n".getBytes(UTF_8)
  /** windows-1252 — the HTML5 decode for every latin-1-family label
    * and for unknown charsets: cp1252 is a superset of ISO-8859-1's
    * printable range that additionally maps 0x80–0x9F to the
    * punctuation real legacy pages actually use (€, curly quotes,
    * dashes), which latin-1 would turn into invisible C1 controls. */
  private val CP1252 = java.nio.charset.Charset.forName("windows-1252")
  /** Decoded/de-chunked payload cap — same zip-bomb stance as
    * WarcGzInputFormat's member cap. */
  private val MaxPayload = 1 << 28

  /** One record's bytes: version line, named headers, Content-Length,
    * blank line, body, record terminator (two CRLFs). */
  private def record(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(Delim)
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(body.length).append("\r\n\r\n")
    sb.toString.getBytes(UTF_8) ++ body ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** Write a deterministic WET fixture from (doc_id, uri, lang, text)
    * rows: `nFiles` files under `dir` (bucket = doc_id % nFiles, rows
    * sorted by doc_id, a warcinfo record leading each file). Each
    * bucket hash-routes to exactly one partition, so every file is
    * written by one task. */
  def writeWet(docs: DataFrame, dir: String, nFiles: Int): Unit =
    writeRecords(docs, dir, nFiles, "wet", ".warc", identity, wetRecord)

  /** [[writeWet]]'s per-record-gzip twin: the same records, each
    * compressed as its OWN gzip member (the `.warc.gz` convention),
    * concatenated per file. Byte-deterministic: fixed gzip header
    * (mtime 0, OS 255), fixed deflate level. */
  def writeWetGz(docs: DataFrame, dir: String, nFiles: Int): Unit =
    writeRecords(docs, dir, nFiles, "wet", ".warc.gz", gzipMember, wetRecord)

  /** Deterministic WARC-Date for the fixture: capture second
    * `doc_id % 86400` of 2026-01-01 UTC. String-built (no timezone
    * machinery), so both the muxer and the oracle state the identical
    * ISO-8601 value from doc_id arithmetic alone. */
  private[graft] def warcDate(docId: Long): String = {
    val s = docId % 86400
    f"2026-01-01T${s / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02dZ"
  }

  private def wetRecord(r: Row): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "conversion",
      "WARC-Target-URI" -> r.getString(1),
      "WARC-Record-ID" -> s"<urn:graft:doc:${r.getLong(0)}>",
      "WARC-Date" -> warcDate(r.getLong(0)),
      "WARC-Identified-Content-Language" -> r.getString(2),
      "Content-Type" -> "text/plain"),
      r.getString(3).getBytes(UTF_8))

  /** The accent fragment injected into every response fixture payload:
    * latin-1-representable non-ASCII chars, so the charset slices below
    * genuinely differ on disk (UTF-8 docs carry 2-byte sequences,
    * latin-1 docs 1-byte) and a reader that ignores the declared
    * charset garbles the hash. */
  private[graft] val AccentFragment = "<p>déjà vu à côté ®</p>"

  /** Write a deterministic FULL-WARC fixture of `response` records —
    * the shape a raw crawl ships BEFORE text extraction: each record's
    * body is a complete HTTP/1.1 response (status line, headers, blank
    * line, HTML payload wrapping the doc text plus [[AccentFragment]]).
    * Same file layout as [[writeWet]]. Charset slices: see
    * [[responseRecord]] (ISO-8859-1 truthful / `x-unknown` fallback /
    * windows-1252 with 0x80–0x9F bytes / UTF-8); transfer slices: see
    * [[httpWrap]] (chunked / gzip / gzip-then-chunked / unsupported br
    * / malformed chunking — the last two the counted degrade rows). */
  def writeResponses(docs: DataFrame, dir: String, nFiles: Int): Unit =
    writeRecords(docs, dir, nFiles, "warc", ".warc", identity, responseRecord)

  /** The windows-1252-only fragment (r17, the cp1252 fixture slice):
    * every char's cp1252 byte sits in 0x80–0x9F — the range ISO-8859-1
    * maps to invisible C1 controls — so a reader that decodes the
    * latin-1 family as actual latin-1 (instead of HTML5's cp1252 rule)
    * garbles these docs and hash-mismatches. */
  private[graft] val Cp1252Fragment = " €“q”–"

  /** Chunk `data` as a Transfer-Encoding: chunked body (RFC 9112
    * §7.1): 256-byte chunks, lowercase-hex size lines — the FIRST
    * carrying a chunk extension (`;x=graft`), which spec-correct
    * parsers must ignore — and the terminating 0-chunk. */
  private[graft] def chunkEncode(data: Array[Byte], chunkSize: Int = 256): Array[Byte] = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    val out = new java.io.ByteArrayOutputStream(data.length + 64)
    var i = 0
    var first = true
    while (i < data.length) {
      val n = math.min(chunkSize, data.length - i)
      val ext = if (first) ";x=graft" else ""
      out.write((Integer.toHexString(n) + ext + "\r\n").getBytes(ISO_8859_1))
      out.write(data, i, n)
      out.write('\r'); out.write('\n')
      i += n
      first = false
    }
    out.write("0\r\n\r\n".getBytes(ISO_8859_1))
    out.toByteArray
  }

  /** Wrap an encoded-HTML payload as a full HTTP/1.1 response with the
    * doc's TRANSFER slices (doc_id % 13): 2 = chunked, 4 = gzip then
    * chunked (the on-the-wire composition), 6 = gzip, 8 = zlib deflate
    * and 10 = RAW deflate (r18 — both real-world shapes of
    * `Content-Encoding: deflate`), and — only when `degradeSlices`
    * (warc2/warc4's fixture; the extraction fixture keeps every doc
    * decodable) — 9 = an unsupported `br` declaration and 11 = a
    * MALFORMED chunk stream, the two counted degrade rows. Chunked
    * responses omit Content-Length (RFC 9112 §6.2). `declaredCharset`
    * None = a Content-Type WITHOUT a charset parameter — the
    * header-silent shape the BOM/meta/default charset slices ride. */
  private[graft] def httpWrap(id: Long, payload: Array[Byte],
      declaredCharset: Option[String], degradeSlices: Boolean): Array[Byte] = {
    val m = math.floorMod(id, 13L)
    val (body, extraHdrs) = m match {
      case 2 => (chunkEncode(payload), Seq("Transfer-Encoding: chunked"))
      case 4 => (chunkEncode(gzipMember(payload)),
        Seq("Transfer-Encoding: chunked", "Content-Encoding: gzip"))
      case 6 => (gzipMember(payload), Seq("Content-Encoding: gzip"))
      case 8 => (deflateBytes(payload, raw = false), Seq("Content-Encoding: deflate"))
      case 9 if degradeSlices => (payload, Seq("Content-Encoding: br"))
      case 10 => (deflateBytes(payload, raw = true), Seq("Content-Encoding: deflate"))
      case 11 if degradeSlices =>
        ("zz;bogus\r\n".getBytes(ISO_8859_1) ++ payload,
          Seq("Transfer-Encoding: chunked"))
      case _ => (payload, Seq.empty[String])
    }
    val ct = "Content-Type: text/html" +
      declaredCharset.fold("")(c => s"; charset=$c")
    val lenHdr =
      if (extraHdrs.exists(_.startsWith("Transfer-Encoding"))) Seq.empty[String]
      else Seq(s"Content-Length: ${body.length}")
    ((s"HTTP/1.1 200 OK\r\n$ct" +:
      (extraHdrs ++ lenHdr)).mkString("", "\r\n", "\r\n\r\n"))
      .getBytes(ISO_8859_1) ++ body
  }

  /** The UTF-8 byte-order mark. */
  private[graft] val BomUtf8 = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** One `response` record's bytes from a (doc_id, uri, lang, text)
    * row — shared by [[writeResponses]] and the revisit fixture.
    * Charset slices (priority order, mirrored by the warc2/warc4
    * oracles): doc_id % 3 == 0 ISO-8859-1 truthfully declared; else
    * % 7 == 0 ISO-8859-1 under a bogus `x-unknown` label (the
    * cp1252-fallback degrade, charset_ok = false — same text either
    * way since every accent byte is ≥ 0xA0); else % 11 == 5
    * WINDOWS-1252 truthfully declared with [[Cp1252Fragment]] appended
    * (bytes in 0x80–0x9F — the slice that catches a latin-1 decoder).
    * The remaining docs split on doc_id % 17 (r18 — the charset-sniff
    * slices; suppressed on the % 13 ∈ {9, 11} encoding-degrade rows,
    * whose payload bytes never decode):
    *   1: META-ONLY UTF-8 — no header charset, `<meta charset="utf-8">`
    *      in the head; the UTF-8 accent bytes visibly break under
    *      cp1252, so skipping the prescan garbles the hash;
    *   3: BOM'd UTF-8, no header charset;
    *   5: BOM'd UTF-8 UNDER a wrong `iso-8859-1` header — BOM must win
    *      (the HTML5 precedence pin);
    *   7: UTF-16LE truthfully declared in the header;
    *   9: NOTHING declared anywhere — bytes written ISO-8859-1 (all
    *      accents ≥ 0xA0, so the cp1252 default decodes them exactly),
    *      reported ("none", charset_ok = false, charset_src = default);
    *   else: UTF-8 truthfully declared (the historical slice).
    * Transfer slices ride [[httpWrap]]. */
  private def responseRecord(r: Row): Array[Byte] = {
    val id = r.getLong(0)
    val frag = if (id % 3 != 0 && id % 7 != 0 && id % 11 == 5) Cp1252Fragment else ""
    val m17 = math.floorMod(id, 17L)
    val sniffSlices = id % 3 != 0 && id % 7 != 0 && id % 11 != 5 &&
      id % 13 != 9 && id % 13 != 11
    val metaHead =
      if (sniffSlices && m17 == 1) "<head><meta charset=\"utf-8\"/></head>" else ""
    val html = "<html>" + metaHead + "<body><p>" + r.getString(3) + "</p>" +
      AccentFragment + frag + "</body></html>"
    val (payload, declared: Option[String]) =
      if (id % 3 == 0) (html.getBytes(ISO_8859_1), Some("iso-8859-1"))
      else if (id % 7 == 0) (html.getBytes(ISO_8859_1), Some("x-unknown"))
      else if (id % 11 == 5) (html.getBytes(CP1252), Some("windows-1252"))
      else if (!sniffSlices) (html.getBytes(UTF_8), Some("utf-8"))
      else m17 match {
        case 1 => (html.getBytes(UTF_8), None)
        case 3 => (BomUtf8 ++ html.getBytes(UTF_8), None)
        case 5 => (BomUtf8 ++ html.getBytes(UTF_8), Some("iso-8859-1"))
        case 7 => (html.getBytes(UTF_16LE), Some("utf-16le"))
        case 9 => (html.getBytes(ISO_8859_1), None)
        case _ => (html.getBytes(UTF_8), Some("utf-8"))
      }
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> r.getString(1),
      "WARC-Record-ID" -> s"<urn:graft:doc:$id>",
      "WARC-Identified-Content-Language" -> r.getString(2),
      "Content-Type" -> "application/http; msgtype=response"),
      httpWrap(id, payload, declared, degradeSlices = true))
  }

  /** Write a WAT fixture (r18 — the THIRD CommonCrawl layer next to
    * raw WARC and WET): one `metadata` record per page, Content-Type
    * application/json, WARC-Refers-To naming the response record it
    * describes, body = the page's metadata JSON (title, description,
    * resolved outlinks — what warc6 composes from ext2 + ext3). Input
    * rows: (doc_id, uri, lang, json-as-text); same warcinfo-led
    * per-bucket file layout as [[writeWet]]. */
  def writeWat(pages: DataFrame, dir: String, nFiles: Int): Unit =
    writeRecords(pages, dir, nFiles, "wat", ".warc", identity, { r =>
      record(Seq(
        "WARC-Type" -> "metadata",
        "WARC-Target-URI" -> r.getString(1),
        "WARC-Record-ID" -> s"<urn:graft:wat:${r.getLong(0)}>",
        "WARC-Refers-To" -> s"<urn:graft:doc:${r.getLong(0)}>",
        "WARC-Identified-Content-Language" -> r.getString(2),
        "Content-Type" -> "application/json"),
        r.getString(3).getBytes(UTF_8))
    })

  /** Write the REALISTIC-HTML response fixture the extraction entries
    * (ext1/dp6r) run from: each record's payload is a full HTML page —
    * doctype, head with title/script/style (whose content includes
    * decoy markup like `"</p>"` in a script string), a comment, and the
    * doc's text split across two `<p>` blocks at the token midpoint —
    * so producing the doc's text back requires genuine body scoping,
    * comment/script/style dropping, tag stripping, block joining, and
    * entity decoding. Per-doc entity/charset slices (doc_id % 5):
    *   0: first token wrapped in `&quot;…&quot;` (named entities;
    *      decoded text gains literal quotes);
    *   1: first token wrapped in `&lt;…&gt;` (the decoded `<` must NOT
    *      re-trigger tag stripping — the double-decode hole);
    *   2: first token gains a raw `é` and the page encodes ISO-8859-1,
    *      truthfully declared (charset × extraction composition);
    *   3: every `a` written as `&#97;` (decimal numerics, invisible
    *      after decode);
    *   4: every `e` written as `&#x65;` (hex numerics, invisible).
    * The expected extracted text is therefore a CLOSED FORM on the
    * documents table: first-token transform + tokens joined ` ` within
    * blocks and `\n` between them. */
  def writeHtmlResponses(docs: DataFrame, dir: String, nFiles: Int): Unit =
    writeRecords(docs, dir, nFiles, "warc", ".warc", identity, htmlResponseRecord)

  /** [[writeHtmlResponses]] with one write per SESSION per dir (r18
    * opt, the BucketedStore `ensure` discipline): twelve catalog
    * entries produce the byte-identical raw-crawl fixture — same dir,
    * same docs projection, same record encoder, deterministic content
    * — and each re-muxed all 5000 pages on every bench rep. The first
    * consumer in a driver run pays the write (the ingest-side cost a
    * crawl deployment pays once); later consumers read the same bytes
    * they would have written. The memo is process state, cleared with
    * the session's cross-query caches, so every NEW driver invocation
    * still writes from the parquet inputs — nothing persists across
    * runs. */
  private val writtenHtmlDirs = new graft.SessionMemo[(String, Int, Int), Unit]
  def ensureHtmlResponses(docs: DataFrame, dir: String, nFiles: Int): Unit =
    writtenHtmlDirs(htmlResponsesKey(docs, dir, nFiles))(writeHtmlResponses(docs, dir, nFiles))

  /** Memo key of [[ensureHtmlResponses]]: (dir, nFiles, docs-plan
    * fingerprint). Keying on dir alone let the FIRST caller's projection
    * and layout silently win for the whole session; all call sites pass
    * byte-identical docs today, and this key fails safe (a different
    * projection or file count re-writes) instead of trusting that
    * invariant unchecked. The fingerprint is the canonicalized plan's
    * semantic hash, not its string: plan strings are truncated at
    * `spark.sql.debug.maxToStringFields`, so two projections that differ
    * only past that point would print, and key, the same.
    *
    * A re-write replaces the dir's files, so a frame planned over the
    * earlier write must not be scanned after a second fingerprint
    * targets the same dir; today every caller writes the same docs. */
  private[graft] def htmlResponsesKey(docs: DataFrame, dir: String,
      nFiles: Int): (String, Int, Int) =
    (dir, nFiles, docs.queryExecution.logical.semanticHash())

  /** The two entity-encoded blocks of a doc's fixture page — the
    * write-side twin of the oracle's closed form (see
    * [[writeHtmlResponses]]). */
  private[graft] def encodeBlocks(id: Long, text: String): (String, String) = {
    val toks = text.trim.split("\\s+")
    val h = (toks.length + 1) / 2
    val mark = math.floorMod(id, 5L)
    val enc = toks.zipWithIndex.map { case (t0, ix) =>
      val t = mark match {
        case 3 => t0.replace("a", "&#97;")
        case 4 => t0.replace("e", "&#x65;")
        case _ => t0
      }
      if (ix == 0) mark match {
        case 0 => "&quot;" + t + "&quot;"
        case 1 => "&lt;" + t + "&gt;"
        case 2 => t + "é"
        case _ => t
      } else t
    }
    (enc.take(h).mkString(" "), enc.drop(h).mkString(" "))
  }

  private def htmlResponseRecord(r: Row): Array[Byte] = {
    val id = r.getLong(0)
    val (b1, b2) = encodeBlocks(id, r.getString(3))
    // anchors for the link-extraction entries (ext2/url9): absolute,
    // root-relative (entity-encoded &amp; between query params, bare
    // single-quoted value), dotted-relative, a SELF link back to the
    // page's own URL (the already-crawled row url9's frontier anti-join
    // must remove), plus a javascript: and a pure-fragment href the
    // extractor must DROP. Image-only content — no visible text, so
    // ext1/dp6r's closed forms are untouched.
    val links =
      s"""<nav><a href="https://example${id % 7}.org/abs/${id % 50}"><img src="i.png"/></a>""" +
        s"""<a class="x" href='/rel/${id % 13}?a=1&amp;b=2'><img src="j.png"/></a>""" +
        s"""<a href="../up/${id % 5}"><img src="k.png"/></a>""" +
        s"""<a href="/doc/$id"><img src="n.png"/></a>""" +
        """<a href="javascript:void(0)"><img src="l.png"/></a>""" +
        """<a href="#top"><img src="m.png"/></a></nav>"""
    val html = "<!DOCTYPE html>\n<html><head>\n" +
      s"<title> graft   fixture\ndoc $id </title>\n" +
      s"""<meta name="viewport" content="width=device-width"/>\n""" +
      s"""<meta content="summary &amp; digest ${id % 97}" name="description"/>\n""" +
      "<script type=\"text/javascript\">var gate = 1 < 2; " +
      "var decoy = \"</p> not a closer\";</script>\n" +
      "<style>p > .main { quotes: '\\201C'; content: \"</span>\"; }</style>\n" +
      "</head>\n<body class=\"doc\">\n" +
      "<!-- crawler boilerplate: <p>not text</p> -->\n" +
      s"<div id=\"main\"><p> $b1 </p>\n<p>$b2</p></div>\n" +
      links + "\n</body></html>"
    val (cs, declared) =
      if (id % 5 == 2) (ISO_8859_1, "iso-8859-1") else (UTF_8, "utf-8")
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> r.getString(1),
      "WARC-Record-ID" -> s"<urn:graft:doc:$id>",
      "WARC-Identified-Content-Language" -> r.getString(2),
      "Content-Type" -> "application/http; msgtype=response"),
      // transfer slices ride too (chunked/gzip/deflate — every doc
      // stays decodable), so extraction composes with payload decodings
      httpWrap(id, html.getBytes(cs), Some(declared), degradeSlices = false))
  }

  private def writeRecords(docs: DataFrame, dir: String, nFiles: Int,
      stem: String, suffix: String, wrap: Array[Byte] => Array[Byte],
      mk: Row => Array[Byte],
      extra: Seq[org.apache.spark.sql.Column] = Seq.empty): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val d = new java.io.File(dir)
    d.mkdirs()
    // clean slate: stale files from a previous run would double-read
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(suffix)).foreach(_.delete())
    docs.select(Seq(col("doc_id").cast("long"), col("uri"), col("lang"),
        col("text")) ++ extra: _*)
      .repartition(nFiles, pmod(col("doc_id"), lit(nFiles)))
      // bucket-major, id-minor: a partition can hold several buckets
      // (hash(bucket) % nFiles collisions), so the streaming writer
      // below needs each bucket's rows contiguous to switch files on
      // bucket change without buffering the partition.
      .sortWithinPartitions(pmod(col("doc_id"), lit(nFiles)), col("doc_id"))
      .foreachPartition { rows: Iterator[Row] =>
        var cur = -1
        var out: java.io.BufferedOutputStream = null
        def close(): Unit = if (out != null) { out.close(); out = null }
        try {
          rows.foreach { r =>
            val f = (r.getLong(0) % nFiles).toInt
            if (f != cur) {
              close()
              out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(
                new java.io.File(dir, f"$stem-$f%05d$suffix")))
              out.write(wrap(record(Seq(
                "WARC-Type" -> "warcinfo",
                "WARC-Record-ID" -> s"<urn:graft:warcinfo:$f>",
                "Content-Type" -> "application/warc-fields"),
                "software: graft-wet-fixture\r\n".getBytes(UTF_8))))
              cur = f
            }
            out.write(wrap(mk(r)))
          }
        } finally close()
      }
  }

  /** One deterministic gzip member wrapping `data`: fixed 10-byte
    * header (no flags, MTIME 0, XFL 0, OS 255 = unknown), raw deflate,
    * CRC32 + ISIZE trailer (RFC 1952). */
  private[graft] def gzipMember(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 0x08, 0x00, 0, 0, 0, 0, 0x00, 0xff.toByte))
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput(data); defl.finish()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) bos.write(buf, 0, defl.deflate(buf))
    defl.end()
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    def le32(v: Long): Unit = (0 until 4).foreach(i => bos.write(((v >>> (8 * i)) & 0xff).toInt))
    le32(crc.getValue)
    le32(data.length.toLong)
    bos.toByteArray
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Parse one delimiter-split record chunk (everything AFTER a
    * "WARC/1.0\r\n" up to the next) at BYTE level: (warc_type,
    * target_uri, record_id, content_lang, refers_to, content_length,
    * bodyBytes), or None for the empty pre-first-record chunk and any
    * malformed / truncated record — degrade, never throw. Headers
    * decode as ISO-8859-1 and split on the FIRST ':' with value trim
    * (spec-legal 'Content-Length:42' / 'Content-Length:  42' both
    * parse); the body is the next Content-Length BYTES after the blank
    * line; `refers_to` carries WARC-Refers-To (the revisit-record
    * back-reference, empty on other types). */
  private[graft] def parseRecordBytes(chunk: Array[Byte]):
      Option[(String, String, String, String, String, Long, Array[Byte])] = {
    val hEnd = indexOf(chunk, Crlf2, 0)
    if (hEnd < 0) return None
    val headers = new String(chunk, 0, hEnd, ISO_8859_1).split("\r\n").iterator
      .map(_.split(":", 2)).collect { case Array(k, v) => (k.trim, v.trim) }.toMap
    val len = headers.get("Content-Length")
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(-1L)
    if (len < 0 || len > Int.MaxValue) return None
    if (chunk.length - (hEnd + 4) < len) return None // truncated record
    Some((
      headers.getOrElse("WARC-Type", ""),
      headers.getOrElse("WARC-Target-URI", ""),
      headers.getOrElse("WARC-Record-ID", ""),
      headers.getOrElse("WARC-Identified-Content-Language", ""),
      headers.getOrElse("WARC-Refers-To", ""),
      len,
      java.util.Arrays.copyOfRange(chunk, hEnd + 4, hEnd + 4 + len.toInt)))
  }

  /** Split one whole WARC file's bytes into record chunks (the bytes
    * AFTER each "WARC/1.0\r\n", up to the next) — the byte-level twin
    * of the Hadoop record-delimiter split, for sources that deliver
    * whole files (the streaming binaryFile source: response payloads
    * are NOT UTF-8-safe, so the text source's lineSep trick would
    * U+FFFD-mangle the latin-1/cp1252 slices before the charset is
    * even known). */
  private[graft] def splitChunks(b: Array[Byte]): Iterator[Array[Byte]] = {
    val starts = scala.collection.mutable.ArrayBuffer[Int]()
    var i = indexOf(b, DelimBytes, 0)
    while (i >= 0) {
      starts += i + DelimBytes.length
      i = indexOf(b, DelimBytes, i + DelimBytes.length)
    }
    starts.iterator.zipWithIndex.map { case (s, k) =>
      val e = if (k + 1 < starts.length) starts(k + 1) - DelimBytes.length
        else b.length
      java.util.Arrays.copyOfRange(b, s, e)
    }
  }

  /** String-input shim over [[parseRecordBytes]] (UTF-8 text records —
    * the WET shape; the streaming twin's kernel and the kernel tests'
    * surface): body returned as a UTF-8 string. */
  private[graft] def parseRecord(chunk: String):
      Option[(String, String, String, String, String, Long, String)] =
    parseRecordBytes(chunk.getBytes(UTF_8)).map { case (t, u, r, l, rt, n, b) =>
      (t, u, r, l, rt, n, new String(b, UTF_8))
    }

  /** De-chunk a `Transfer-Encoding: chunked` body starting at `from`
    * (RFC 9112 §7.1): hex chunk-size line (extensions after `;`
    * ignored), CRLF, chunk bytes, CRLF, repeated until the 0-chunk;
    * trailer fields after the last chunk are ignored. None on any
    * malformed size line, short chunk, or missing CRLF — WITHOUT
    * de-chunking, the size lines would enter the corpus as text. */
  private[graft] def dechunk(b: Array[Byte], from: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.max(b.length - from, 16))
    var i = from
    while (i <= b.length) {
      val lineEnd = indexOf(b, Crlf, i)
      if (lineEnd < 0) return None
      val sizeStr = new String(b, i, lineEnd - i, ISO_8859_1)
        .split(";", 2)(0).trim
      if (sizeStr.isEmpty || sizeStr.length > 7 ||
        !sizeStr.forall(c => Character.digit(c, 16) >= 0)) return None
      val size = Integer.parseInt(sizeStr, 16)
      i = lineEnd + 2
      if (size == 0) return Some(out.toByteArray) // trailers ignored
      if (i + size + 2 > b.length) return None // short chunk
      out.write(b, i, size)
      if (out.size > MaxPayload) return None
      i += size
      if (b(i) != '\r' || b(i + 1) != '\n') return None
      i += 2
    }
    None
  }

  /** Inflate a `Content-Encoding: deflate` body (bounded —
    * [[MaxPayload]] cap). RFC 9110 defines `deflate` as the ZLIB
    * container (RFC 1950), but real servers infamously send RAW
    * deflate streams under the same name — so zlib is tried first and
    * a raw-deflate pass second (the dual-decode every browser ships).
    * None on both failing — a counted degrade, never garble. */
  private[graft] def inflate(b: Array[Byte]): Option[Array[Byte]] = {
    def run(nowrap: Boolean): Option[Array[Byte]] =
      try {
        val inf = new java.util.zip.Inflater(nowrap)
        try {
          inf.setInput(b)
          val out = new java.io.ByteArrayOutputStream(b.length * 2 + 64)
          val buf = new Array[Byte](8192)
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
              return None // truncated stream or preset-dictionary ask
            out.write(buf, 0, n)
            if (out.size > MaxPayload) return None
          }
          Some(out.toByteArray)
        } finally inf.end()
      } catch { case _: java.util.zip.DataFormatException => None }
    run(false).orElse(run(true))
  }

  /** One deterministic zlib (RFC 1950) or raw deflate stream wrapping
    * `data` — the write-side twin of [[inflate]]'s two accepted
    * shapes (fixture slices only). */
  private[graft] def deflateBytes(data: Array[Byte], raw: Boolean): Array[Byte] = {
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
    defl.setInput(data); defl.finish()
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!defl.finished()) bos.write(buf, 0, defl.deflate(buf))
    defl.end()
    bos.toByteArray
  }

  /** Inflate a `Content-Encoding: gzip` body (bounded — [[MaxPayload]]
    * cap, the zip-bomb stance); None on any malformed stream. */
  private[graft] def gunzip(b: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val out = new java.io.ByteArrayOutputStream(b.length * 2 + 64)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > MaxPayload) return None
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch {
      case _: java.io.IOException => None
      case _: java.util.zip.ZipException => None
    }

  /** The encoding BOM of a payload, when present: (charset, canonical
    * label, bytes to strip before decode). UTF-8 / UTF-16BE / UTF-16LE
    * — the three BOMs the HTML5 sniff recognizes, checked in that
    * order (EF BB BF cannot be confused with the 16-bit marks). */
  private[graft] def bomOf(b: Array[Byte]): Option[(java.nio.charset.Charset, String, Int)] =
    if (b.length >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte)
      Some((UTF_8, "utf-8", 3))
    else if (b.length >= 2 && b(0) == 0xFE.toByte && b(1) == 0xFF.toByte)
      Some((UTF_16BE, "utf-16be", 2))
    else if (b.length >= 2 && b(0) == 0xFF.toByte && b(1) == 0xFE.toByte)
      Some((UTF_16LE, "utf-16le", 2))
    else None

  /** A charset LABEL resolved to its decode charset under the HTML5
    * (WHATWG encoding) rules: utf-8 as itself; the whole latin-1
    * family as WINDOWS-1252 (browsers map 0x80–0x9F to real
    * punctuation, not C1 controls); the bare `utf-16` label as
    * UTF-16LE (the WHATWG rule — BOM sniffing, which runs FIRST,
    * catches the BE shape); None for an unknown label. */
  private def resolveLabel(label: String): Option[java.nio.charset.Charset] = label match {
    case "utf-8" | "utf8" => Some(UTF_8)
    case "windows-1252" | "cp1252" | "x-cp1252" | "iso-8859-1" | "latin-1" |
        "latin1" | "us-ascii" | "ascii" => Some(CP1252)
    case "utf-16" | "utf-16le" => Some(UTF_16LE)
    case "utf-16be" => Some(UTF_16BE)
    case _ => None
  }

  /** HTML5-style prescan of the first 1024 payload BYTES for a
    * `<meta charset=…>` (or http-equiv Content-Type `…charset=…`)
    * declaration — the channel header-silent pages actually declare
    * their encoding through. The prescan reads the ASCII byte view
    * (every registered label is ASCII); a declaration past the 1024th
    * byte is not found, the spec's own cutoff. */
  private[graft] def metaCharsetPrescan(b: Array[Byte]): Option[String] = {
    val head = new String(b, 0, math.min(b.length, 1024), ISO_8859_1)
    "(?i)<meta[\\s/][^>]*?charset\\s*=\\s*[\"']?\\s*([a-zA-Z0-9._-]+)".r
      .findFirstMatchIn(head).map(_.group(1).toLowerCase)
  }

  /** Split an HTTP response envelope out of a record body at byte
    * level: (status, charset, charset_ok, charset_src, encoding,
    * encoding_ok, payload_text). None = no CRLFCRLF blank line or
    * unparseable status line — the caller degrades to NULL http
    * fields.
    *
    * Payload ENCODINGS run before any charset decode, on bytes:
    * `Transfer-Encoding: chunked` bodies de-chunk (size lines would
    * otherwise enter the corpus as text), then `Content-Encoding:
    * gzip` bodies inflate and `deflate` bodies (zlib or raw — both
    * real-world shapes) inflate (r18). `encoding` reports the declared
    * chain (`identity`, `chunked`, `gzip`, `chunked+gzip`, `deflate`,
    * or the unsupported coding's own name); `encoding_ok = false` with
    * a None payload for an unsupported content coding (br, zstd, …), a
    * malformed stream, or — r18, the r17 advice fix — any transfer
    * coding other than exactly `chunked`/`identity` (a
    * `Transfer-Encoding: gzip` previously slipped through the
    * contains-"chunked" test and decoded compressed bytes as charset
    * text). Counted degrades (the m9 convention), never garbled text.
    *
    * CHARSET resolution follows the HTML5 precedence (r18 — the r17
    * verdict's top ask): BOM > HTTP header > `<meta charset>` prescan
    * of the first 1024 bytes > the cp1252 legacy default, with
    * `charset_src` reporting which channel decided
    * (`bom`/`header`/`meta`/`default`). Labels resolve under
    * [[resolveLabel]]'s WHATWG rules; an unknown label falls back to
    * cp1252 with `charset_ok = false`, and a page declaring NOTHING
    * reports `("none", false, "default")` — absence is no longer
    * conflated with "declared and understood" (the accounting a corpus
    * owner reads to size the mojibake exposure). */
  private[graft] def parseHttp(body: Array[Byte]):
      Option[(Long, String, Boolean, String, String, Boolean, Option[String])] = {
    val hEnd = indexOf(body, Crlf2, 0)
    if (hEnd < 0) return None
    val lines = new String(body, 0, hEnd, ISO_8859_1).split("\r\n")
    // any HTTP-version status line: crawls store HTTP/1.x today but
    // "HTTP/2 200" captures exist — a version mismatch must not throw
    // away an otherwise-parseable record
    val status = "^HTTP/[0-9](?:\\.[0-9])? (\\d{3})".r.findFirstMatchIn(lines.head)
      .map(_.group(1).toLong)
    if (status.isEmpty) return None
    val hdrs = lines.iterator.drop(1)
      .map(_.split(":", 2)).collect { case Array(k, v) => (k.trim.toLowerCase, v.trim) }
      .toMap
    // transfer codings as a LIST; only exactly-'chunked' (after
    // dropping 'identity') is undoable here — 'gzip', 'gzip, chunked',
    // or anything else is an unsupported TRANSFER coding
    val teCodings = hdrs.get("transfer-encoding").toSeq
      .flatMap(_.toLowerCase.split(","))
      .map(_.trim).filter(c => c.nonEmpty && c != "identity")
    val chunked = teCodings == Seq("chunked")
    val teUnsupported = teCodings.nonEmpty && !chunked
    val ceName = hdrs.get("content-encoding").map(_.toLowerCase.trim)
      .filter(c => c.nonEmpty && c != "identity")
    val encoding = (teCodings ++ ceName).mkString("+") match {
      case "" => "identity"
      case e => e
    }
    val raw0: Option[Array[Byte]] =
      if (teUnsupported) None
      else if (chunked) dechunk(body, hEnd + 4)
      else Some(java.util.Arrays.copyOfRange(body, hEnd + 4, body.length))
    val rawBytes: Option[Array[Byte]] = ceName match {
      case None => raw0
      case Some("gzip") | Some("x-gzip") => raw0.flatMap(gunzip)
      case Some("deflate") => raw0.flatMap(inflate)
      case Some(_) => None // unsupported coding: counted degrade
    }
    val declared = hdrs.get("content-type")
      .flatMap(ct => "(?i)charset=\"?([^;\\s\"]+)".r.findFirstMatchIn(ct))
      .map(_.group(1).toLowerCase)
    // HTML5 precedence: BOM > header > meta prescan > default. BOM and
    // meta need decoded payload BYTES — on an encoding degrade (None
    // payload) the header channel, when declared, still accounts.
    val (cs, name, ok, src, skip) = rawBytes.flatMap(bomOf) match {
      case Some((c, n, k)) => (c, n, true, "bom", k)
      case None => declared match {
        case Some(label) => resolveLabel(label) match {
          case Some(c) => (c, label, true, "header", 0)
          case None => (CP1252, label, false, "header", 0)
        }
        case None => rawBytes.flatMap(metaCharsetPrescan) match {
          case Some(label) => resolveLabel(label) match {
            case Some(c) => (c, label, true, "meta", 0)
            case None => (CP1252, label, false, "meta", 0)
          }
          case None => (CP1252, "none", false, "default", 0)
        }
      }
    }
    Some((status.get, name, ok, src, encoding, rawBytes.nonEmpty,
      rawBytes.map(b => new String(b, skip, b.length - skip, cs))))
  }

  /** The `Location` header of an HTTP response envelope — the redirect
    * target a 3xx response names (RFC 9110 §10.2.2). Parsed from the
    * header block only (first CRLFCRLF), so it costs one small scan and
    * leaves [[parseHttp]]'s payload contract untouched; None when the
    * envelope is malformed or the header is absent/empty. The value is
    * returned VERBATIM (absolute or relative) — resolution against the
    * capture URL is the consumer's step (RFC 3986, the ext2 kernel). */
  private[graft] def parseLocation(body: Array[Byte]): Option[String] = {
    val hEnd = indexOf(body, Crlf2, 0)
    if (hEnd < 0) None
    else new String(body, 0, hEnd, ISO_8859_1).split("\r\n").iterator.drop(1)
      .map(_.split(":", 2)).collectFirst {
        case Array(k, v) if k.trim.equalsIgnoreCase("location") &&
          v.trim.nonEmpty => v.trim
      }
  }

  /** Raw record chunks (bytes AFTER each "WARC/1.0\r\n") from the
    * uncompressed files under `glob`, block-split parallel via the
    * Hadoop record-delimiter reader. Raw BYTES — Text.toString would
    * mangle non-UTF-8 bodies. */
  private def rawChunks(spark: SparkSession, glob: String) = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", Delim)
    spark.sparkContext
      .newAPIHadoopFile(glob, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map(_._2.copyBytes())
  }

  private def wetDf(spark: SparkSession,
      chunks: org.apache.spark.rdd.RDD[Array[Byte]]): DataFrame = {
    import spark.implicits._
    chunks.flatMap(parseRecordBytes)
      .map { case (t, u, r, l, rt, n, b) => (t, u, r, l, rt, n, new String(b, UTF_8)) }
      .toDF("warc_type", "target_uri", "record_id", "content_lang",
        "refers_to", "content_length", "body")
  }

  /** Distributed WET record scan over `glob`: one row per parseable
    * record — (warc_type, target_uri, record_id, content_lang,
    * content_length, body). Block-split parallel via the Hadoop
    * record-delimiter reader (see the object scaladoc). */
  def readWet(spark: SparkSession, glob: String): DataFrame =
    wetDf(spark, rawChunks(spark, glob))

  /** [[readWet]] for per-record-gzip `.warc.gz` files — the shape real
    * crawls ship. Same output schema; splittable member-resync read
    * via [[WarcGzInputFormat]]. */
  def readWetGz(spark: SparkSession, glob: String): DataFrame = {
    import org.apache.hadoop.io.{BytesWritable, LongWritable}
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val members = spark.sparkContext
      .newAPIHadoopFile(glob, classOf[WarcGzInputFormat],
        classOf[LongWritable], classOf[BytesWritable], conf)
      .map(_._2.copyBytes())
    wetDf(spark, members.flatMap { m =>
      // each member is one full record INCLUDING the version line
      if (m.length > DelimBytes.length)
        Some(java.util.Arrays.copyOfRange(m, DelimBytes.length, m.length))
      else None
    })
  }

  /** Record-LOCATION scan — the CDX indexing read (reference:
    * CommonCrawl's cluster.idx/CDXJ convention; pywb/OpenWayback
    * consume the same triple): one row per parseable record with the
    * byte coordinates a random-access consumer needs to fetch it
    * WITHOUT scanning the file — (filename, offset, length) plus the
    * header fields an index line carries (type, uri, record id,
    * WARC-Date, Content-Type, Content-Length, body). Offsets come
    * straight from the Hadoop reader's key (the absolute byte position
    * where each delimiter-split chunk starts): the record on disk
    * begins one delimiter earlier (`key - len("WARC/1.0\r\n")`) and
    * runs to the next version line, so `length = delim + chunk`. Same
    * block-split parallel scan as [[readWet]] — a multi-GB file
    * indexes across tasks, keys stay absolute across splits. */
  def readRecordIndex(spark: SparkSession, glob: String): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", Delim)
    val rdd = spark.sparkContext
      .newAPIHadoopFile(glob, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
    rdd.mapPartitionsWithInputSplit { (split, it) =>
      val file = split.asInstanceOf[FileSplit].getPath.getName
      it.flatMap { case (k, v) =>
        // Text is reused by the reader: copy bytes + key NOW.
        val chunk = v.copyBytes()
        val off = k.get - DelimBytes.length
        if (off < 0) None // the empty pre-first-record chunk
        else {
          val hEnd = indexOf(chunk, Crlf2, 0)
          if (hEnd < 0) None
          else {
            val hdrs = new String(chunk, 0, hEnd, ISO_8859_1).split("\r\n")
              .iterator.map(_.split(":", 2))
              .collect { case Array(hk, hv) => (hk.trim, hv.trim) }.toMap
            val len = hdrs.get("Content-Length")
              .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(-1L)
            if (len < 0 || len > Int.MaxValue ||
                chunk.length - (hEnd + 4) < len) None
            else Some((file, off, (DelimBytes.length + chunk.length).toLong,
              hdrs.getOrElse("WARC-Type", ""),
              hdrs.getOrElse("WARC-Target-URI", ""),
              hdrs.getOrElse("WARC-Record-ID", ""),
              hdrs.getOrElse("WARC-Date", ""),
              hdrs.getOrElse("Content-Type", ""), len,
              new String(chunk, hEnd + 4, len.toInt, UTF_8),
              hdrs.getOrElse("WARC-Concurrent-To", ""),
              hdrs.getOrElse("WARC-Refers-To", "")))
          }
        }
      }
    }.toDF("filename", "offset", "length", "warc_type", "target_uri",
      "record_id", "warc_date", "content_type", "content_length", "body",
      "concurrent_to", "refers_to")
  }

  /** Write the response fixture WITH each capture's `request` record
    * (ISO 28500: the request precedes its response in capture order
    * and `WARC-Concurrent-To` names the response it belongs to) —
    * completing the six core record types (warcinfo, request,
    * response, revisit, metadata, conversion). The request body is the
    * real HTTP/1.1 request line + Host + User-Agent (UA alternates by
    * doc parity so agent accounting has two classes). A doc_id % 19
    * == 0 capture writes the request ONLY — the dangling shape a fetch
    * that died mid-write leaves — so pairing genuinely varies. */
  def writeRequestResponses(docs: DataFrame, dir: String, nFiles: Int): Unit =
    writeRecords(docs, dir, nFiles, "warc", ".warc", identity, { r =>
      val id = r.getLong(0)
      val uri = r.getString(1)
      val host = uri.replaceFirst("^https?://", "").takeWhile(_ != '/')
      val path = uri.replaceFirst("^https?://[^/]+", "") match {
        case "" => "/"
        case p => p
      }
      val ua = if (id % 2 == 0) "graftbot/1.2" else "graftbot/1.3"
      val req = record(Seq(
        "WARC-Type" -> "request",
        "WARC-Target-URI" -> uri,
        "WARC-Record-ID" -> s"<urn:graft:req:$id>",
        "WARC-Concurrent-To" -> s"<urn:graft:doc:$id>",
        "Content-Type" -> "application/http;msgtype=request"),
        s"GET $path HTTP/1.1\r\nHost: $host\r\nUser-Agent: $ua\r\n\r\n"
          .getBytes(UTF_8))
      if (id % 19 == 0) req else req ++ responseRecord(r)
    })

  /** The index's CONSUMPTION side — dereference (filename, offset,
    * length) triples by RANGED reads (what a wayback/fetch service
    * does over HTTP Range or a DFS positioned read; here the local-FS
    * twin): rows repartition by filename and sort by offset so each
    * task walks each file once, forward-seeking — never a full scan —
    * and every fetched range must parse as a complete record
    * (version line + headers + Content-Length body) or it degrades to
    * no row. Output: (target_uri, record_id, body). */
  def fetchRanged(index: DataFrame, dir: String): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    index.select(col("filename"), col("offset").cast("long"),
        col("length").cast("long"))
      .repartition(col("filename"))
      .sortWithinPartitions(col("filename"), col("offset"))
      .as[(String, Long, Long)]
      .mapPartitions { rows =>
        var raf: java.io.RandomAccessFile = null
        var cur: String = null
        def close(): Unit = if (raf != null) { raf.close(); raf = null }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => close()))
        rows.flatMap { case (f, off, len) =>
          // an index is data, not code: a filename carrying a path
          // separator (../ escape or absolute path), naming a missing
          // file, or describing an impossible range degrades to no
          // row — never a throw, never a read outside `dir`
          if (f == null || f.contains('/') || f.contains('\\')) None
          else {
            if (f != cur) {
              close()
              cur = f
              raf = try new java.io.RandomAccessFile(new java.io.File(dir, f), "r")
              catch { case _: java.io.FileNotFoundException => null }
            }
            if (raf == null || off < 0 || len <= DelimBytes.length ||
                len > MaxPayload || off + len > raf.length()) None
            else {
              raf.seek(off)
              val buf = new Array[Byte](len.toInt)
              raf.readFully(buf)
              // the range starts at the version line; the parser takes
              // everything after it
              if (!buf.startsWith(DelimBytes)) None
              else parseRecordBytes(
                java.util.Arrays.copyOfRange(buf, DelimBytes.length, buf.length))
                .map { case (_, u, rid, _, _, _, body) =>
                  (u, rid, new String(body, UTF_8))
                }
            }
          }
        }
      }.toDF("target_uri", "record_id", "body")
  }

  /** Distributed `response`-record scan with the HTTP envelope split,
    * transfer/content decodings applied, and the payload
    * charset-decoded (see [[parseHttp]]): (warc_type, target_uri,
    * record_id, content_lang, refers_to, content_length, http_status,
    * charset, charset_ok, charset_src, encoding, encoding_ok, payload,
    * location). `location` is the raw Location header (r18 — the
    * redirect target a 3xx capture names; NULL when absent), and
    * `charset_src` reports which HTML5 channel decided the
    * decode — bom/header/meta/default. Records whose body is not a
    * parseable HTTP response keep their row with NULL http fields; an
    * unsupported or malformed payload encoding keeps the envelope
    * fields with `encoding_ok = false` and a NULL payload — degrade
    * buckets stay countable. */
  def readResponses(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    rawChunks(spark, glob).flatMap(parseRecordBytes)
      .map { case (t, u, r, l, rt, n, body) =>
        parseHttp(body) match {
          case Some((st, cs, ok, src, enc, encOk, payload)) =>
            (t, u, r, l, rt, n, Some(st), Some(cs), Some(ok), Some(src),
              Some(enc), Some(encOk), payload, parseLocation(body))
          case None =>
            (t, u, r, l, rt, n, None, None, None, None, None, None, None,
              None)
        }
      }
      .toDF("warc_type", "target_uri", "record_id", "content_lang",
        "refers_to", "content_length", "http_status", "charset",
        "charset_ok", "charset_src", "encoding", "encoding_ok", "payload",
        "location")
  }

  /** Write the [[writeResponses]] fixture WITH REVISIT records — the
    * crawl-side dedup shape CommonCrawl actually ships (a refetch whose
    * payload digest matches a prior capture writes a `revisit` record
    * pointing at it instead of re-storing the body): every doc_id % 5
    * == 4 record becomes WARC-Type `revisit` with `WARC-Refers-To` the
    * doc_id − 4 response (always a response: (d−4) % 5 == 0), an
    * identical-payload-digest profile header, and an EMPTY body; all
    * other records keep the response shape (charset slices included). */
  def writeResponsesWithRevisits(docs: DataFrame, dir: String, nFiles: Int): Unit =
    writeRecords(docs, dir, nFiles, "warc", ".warc", identity, { r =>
      val id = r.getLong(0)
      if (id % 5 == 4)
        record(Seq(
          "WARC-Type" -> "revisit",
          "WARC-Target-URI" -> r.getString(1),
          "WARC-Record-ID" -> s"<urn:graft:doc:$id>",
          "WARC-Refers-To" -> s"<urn:graft:doc:${id - 4}>",
          "WARC-Profile" -> "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"),
          Array.emptyByteArray)
      else responseRecord(r)
    })

  /** Write a REDIRECT-chain response fixture (r18 — the 3xx shapes a
    * real crawl is full of: servers answer moved URLs with a Location
    * header, and a consumer must FOLLOW the chain to know which capture
    * is the page): every doc gets its final 200 response at its own
    * URI, and doc_id % 4 adds the chain slices —
    *   1: `/old/<id>` 301 → the final URI (absolute Location); except
    *      doc_id % 5 == 0, where the Location names an UNCAPTURED
    *      `https://gone.example/<id>` (the dangling chain);
    *   2: `/old/<id>` 302 → `/mid/<id>` (ROOT-RELATIVE Location — RFC
    *      3986 resolution is part of following), and `/mid/<id>` 307 →
    *      the final URI (a two-hop chain);
    *   3: `/loopa/<id>` 301 ⇄ `/loopb/<id>` 301 (a redirect LOOP — the
    *      shape a follower must bound, never chase).
    * Redirect responses carry an empty body and Content-Length: 0, the
    * wire shape RFC 9110 §10.2.2 responses actually have. */
  def writeRedirectResponses(docs: DataFrame, dir: String, nFiles: Int): Unit =
    writeRecords(docs, dir, nFiles, "warc", ".warc", identity, { r =>
      val id = r.getLong(0)
      val u = r.getString(1)
      val origin = u.split("/").take(3).mkString("/")
      def http(status: Int, reason: String, loc: Option[String],
          body: String): Array[Byte] = {
        val b = body.getBytes(UTF_8)
        ((Seq(s"HTTP/1.1 $status $reason",
          "Content-Type: text/html; charset=utf-8") ++
          loc.map("Location: " + _) ++ Seq(s"Content-Length: ${b.length}"))
          .mkString("", "\r\n", "\r\n\r\n")).getBytes(ISO_8859_1) ++ b
      }
      def resp(uri: String, seq: Int, status: Int, reason: String,
          loc: Option[String], body: String): Array[Byte] =
        record(Seq(
          "WARC-Type" -> "response",
          "WARC-Target-URI" -> uri,
          "WARC-Record-ID" -> s"<urn:graft:rd:$id:$seq>",
          "Content-Type" -> "application/http; msgtype=response"),
          http(status, reason, loc, body))
      val fin = resp(u, 0, 200, "OK", None, s"<html><body>doc $id</body></html>")
      val extra = math.floorMod(id, 4L) match {
        case 1 =>
          val target = if (id % 5 == 0) s"https://gone.example/$id" else u
          resp(s"$origin/old/$id", 1, 301, "Moved Permanently", Some(target), "")
        case 2 =>
          resp(s"$origin/old/$id", 1, 302, "Found", Some(s"/mid/$id"), "") ++
            resp(s"$origin/mid/$id", 2, 307, "Temporary Redirect", Some(u), "")
        case 3 =>
          resp(s"$origin/loopa/$id", 1, 301, "Moved Permanently",
            Some(s"/loopb/$id"), "") ++
            resp(s"$origin/loopb/$id", 2, 301, "Moved Permanently",
              Some(s"/loopa/$id"), "")
        case _ => Array.emptyByteArray
      }
      fin ++ extra
    })

  /** warc8 — the revisit-PRODUCTION writer (the crawl-side dedup a
    * fetcher actually RUNS, where [[writeResponsesWithRevisits]] only
    * ships the result: after a refetch, the payload digest compares
    * against the prior capture of the SAME URL — the wayback/CDX lookup
    * order — and a match writes a `revisit` record naming it
    * (WARC-Refers-To + WARC-Payload-Digest + the
    * identical-payload-digest profile, EMPTY body: the storage saving
    * IS the point), while changed content writes a full capture).
    * Input rows: (doc_id, uri, lang, text, ref_id) — a non-null
    * `ref_id` means "digest matched this prior record id". Record ids
    * are `urn:graft:<idStem>:<doc_id>`, so a prior crawl and its
    * refetch can share a directory namespace without colliding.
    * Captures here are the SIMPLE body shape (Content-Type text/html,
    * raw payload — no HTTP envelope): the decision layer is what this
    * writer proves; envelope fidelity is warc2's gate. */
  def writeDedupedCrawl(decided: DataFrame, dir: String, nFiles: Int,
      idStem: String): Unit =
    writeRecords(decided, dir, nFiles, "warc", ".warc", identity, { r =>
      val id = r.getLong(0)
      val body = r.getString(3).getBytes(UTF_8)
      if (!r.isNullAt(4)) {
        val md = java.security.MessageDigest.getInstance("MD5").digest(body)
        record(Seq(
          "WARC-Type" -> "revisit",
          "WARC-Target-URI" -> r.getString(1),
          "WARC-Record-ID" -> s"<urn:graft:$idStem:$id>",
          "WARC-Refers-To" -> r.getString(4),
          "WARC-Payload-Digest" -> ("md5:" + md.map("%02x".format(_)).mkString),
          "WARC-Profile" -> "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
          "WARC-Identified-Content-Language" -> r.getString(2)),
          Array.emptyByteArray)
      } else
        record(Seq(
          "WARC-Type" -> "response",
          "WARC-Target-URI" -> r.getString(1),
          "WARC-Record-ID" -> s"<urn:graft:$idStem:$id>",
          "WARC-Identified-Content-Language" -> r.getString(2),
          "Content-Type" -> "text/html"),
          body)
    }, extra = Seq(col("ref_id")))

  /** Resolve revisit records against their referred responses — the
    * materialization step every consumer of a deduplicated crawl runs
    * before any text pipeline: each `revisit` row takes the payload,
    * status, and charset accounting of the response its WARC-Refers-To
    * names (one equi-join on record id — shuffles only the record-id
    * key space, never re-reads bodies twice); `response` rows pass
    * through. Output = [[readResponses]]'s columns minus `refers_to`
    * plus `was_revisit`. A revisit whose referent is missing (a
    * truncated or cross-file-set read) drops — degrade, never a
    * fabricated payload. */
  def resolveRevisits(recs: DataFrame): DataFrame = {
    val resp = recs.filter(col("warc_type") === "response")
    val direct = resp
      .select(col("target_uri"), col("record_id"), col("content_lang"),
        col("content_length"), col("http_status"), col("charset"),
        col("charset_ok"), col("payload"), lit(false).as("was_revisit"))
    val referred = resp.select(col("record_id").as("ref_id"),
      col("content_length").as("ref_len"), col("http_status").as("ref_status"),
      col("charset").as("ref_charset"), col("charset_ok").as("ref_ok"),
      col("payload").as("ref_payload"))
    val revisits = recs.filter(col("warc_type") === "revisit")
      .join(referred, col("refers_to") === col("ref_id"))
      .select(col("target_uri"), col("record_id"), col("content_lang"),
        col("ref_len").as("content_length"), col("ref_status").as("http_status"),
        col("ref_charset").as("charset"), col("ref_ok").as("charset_ok"),
        col("ref_payload").as("payload"), lit(true).as("was_revisit"))
    direct.unionByName(revisits)
  }
}
