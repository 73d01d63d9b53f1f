package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.WarcSource

/** Kernel pins for the WARC/WET record parser — the degrade paths the
  * oracle round trip (warc1/dp6w) can't see: malformed headers,
  * truncation, byte-vs-char Content-Length accounting. */
class WarcSourceSpec extends AnyFunSuite {

  private def rec(typ: String, uri: String, lang: String, body: String): String = {
    val bytes = body.getBytes("UTF-8")
    s"WARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Record-ID: <urn:graft:doc:7>\r\n" +
      s"WARC-Identified-Content-Language: $lang\r\n" +
      s"Content-Length: ${bytes.length}\r\n\r\n$body\r\n\r\n"
  }

  test("parseRecord: conversion record round-trips headers and byte-exact body") {
    val body = "héllo wörld — ünïcode body" // multi-byte: bytes > chars
    val out = WarcSource.parseRecord(rec("conversion", "https://x.org/1", "de", body))
    assert(out.isDefined)
    val (typ, uri, rid, lang, _, len, b) = out.get
    assert(typ == "conversion" && uri == "https://x.org/1" && lang == "de")
    assert(rid == "<urn:graft:doc:7>")
    assert(len == body.getBytes("UTF-8").length && len > body.length,
      "Content-Length must count UTF-8 BYTES, not chars")
    assert(b == body)
  }

  test("parseRecord degrades: empty pre-first chunk, no header end, bad/missing length, truncation") {
    assert(WarcSource.parseRecord("").isEmpty)
    assert(WarcSource.parseRecord("WARC-Type: conversion\r\n").isEmpty,
      "no blank line must degrade")
    assert(WarcSource.parseRecord(
      "WARC-Type: conversion\r\n\r\nbody").isEmpty, "missing Content-Length")
    assert(WarcSource.parseRecord(
      "WARC-Type: conversion\r\nContent-Length: nope\r\n\r\nbody").isEmpty)
    assert(WarcSource.parseRecord(
      "WARC-Type: conversion\r\nContent-Length: 99\r\n\r\nshort").isEmpty,
      "body shorter than declared must degrade (truncated record)")
    // body LONGER than declared is fine: the record terminator and any
    // trailing bytes before the next delimiter are cut by the length
    val long = WarcSource.parseRecord(
      "WARC-Type: x\r\nContent-Length: 4\r\n\r\nbodyTRAILER")
    assert(long.exists(_._7 == "body"))
  }

  test("parseRecord never throws on garbage chunks") {
    val rnd = new java.util.Random(3L)
    for (_ <- 1 to 200) {
      val s = new String(Array.fill(rnd.nextInt(120))(
        (32 + rnd.nextInt(90)).toChar)) + (if (rnd.nextBoolean()) "\r\n\r\n" else "")
      WarcSource.parseRecord(s)
    }
  }

  test("parseRecord accepts spec-legal header spacing (no/extra space after colon)") {
    // WARC/HTTP grammar allows 'Content-Length:42' and spaced variants;
    // the r15 parser split on the exact ': ' and silently dropped these.
    for (sep <- Seq(":", ": ", ":  ", ":\t")) {
      val out = WarcSource.parseRecord(
        s"WARC-Type${sep}conversion\r\nContent-Length${sep}4\r\n\r\nbody")
      assert(out.exists(r => r._1 == "conversion" && r._7 == "body"),
        s"separator '$sep' must parse")
    }
  }

  test("resolveRevisits: revisits take the referent payload, dangling referents drop") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val recs = Seq(
      // (warc_type, target_uri, record_id, content_lang, refers_to,
      //  content_length, http_status, charset, charset_ok, payload)
      ("response", "https://x.org/a", "<urn:r:1>", "en", "", 100L,
        Some(200L), Some("utf-8"), Some(true), Some("PAYLOAD-A")),
      ("revisit", "https://x.org/a2", "<urn:r:2>", "", "<urn:r:1>", 0L,
        None: Option[Long], None: Option[String], None: Option[Boolean], None: Option[String]),
      ("revisit", "https://x.org/a3", "<urn:r:3>", "", "<urn:r:999>", 0L,
        None, None, None, None) // dangling referent — must degrade to no row
    ).toDF("warc_type", "target_uri", "record_id", "content_lang", "refers_to",
      "content_length", "http_status", "charset", "charset_ok", "payload")
    val out = graft.sources.WarcSource.resolveRevisits(recs)
      .select("record_id", "payload", "was_revisit")
      .as[(String, String, Boolean)].collect().toSet
    assert(out == Set(
      ("<urn:r:1>", "PAYLOAD-A", false),
      ("<urn:r:2>", "PAYLOAD-A", true)),
      "revisit must inherit its referent's payload; dangling must drop")
  }

  test("parseHttp: charset dispatch (HTML5 cp1252 rules), fallback degrade, malformed envelope") {
    def http(charset: String, payload: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=$charset\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1") ++ payload
    val text = "déjà vu à côté ®"
    // utf-8 declared, utf-8 bytes
    val u = WarcSource.parseHttp(http("utf-8", text.getBytes("UTF-8")))
    assert(u.contains((200L, "utf-8", true, "header", "identity", true, Some(text))))
    // latin-1 declared, latin-1 bytes ≥ 0xA0 — cp1252 decodes them identically
    val l = WarcSource.parseHttp(http("iso-8859-1", text.getBytes("ISO-8859-1")))
    assert(l.contains((200L, "iso-8859-1", true, "header", "identity", true, Some(text))))
    // the HTML5 rule: a latin-1 LABEL with 0x80–0x9F bytes decodes as
    // cp1252 punctuation, not C1 controls
    val smart = "€ “q” – x"
    val w = WarcSource.parseHttp(http("iso-8859-1", smart.getBytes("windows-1252")))
    assert(w.contains((200L, "iso-8859-1", true, "header", "identity", true, Some(smart))))
    val w2 = WarcSource.parseHttp(http("windows-1252", smart.getBytes("windows-1252")))
    assert(w2.contains((200L, "windows-1252", true, "header", "identity", true, Some(smart))))
    // bogus declaration → cp1252 fallback recovers the bytes, counted NOT ok
    val b = WarcSource.parseHttp(http("x-klingon", text.getBytes("ISO-8859-1")))
    assert(b.contains((200L, "x-klingon", false, "header", "identity", true, Some(text))))
    // a UTF-8-only reader WOULD have garbled the latin-1 slice: the raw
    // bytes are not valid UTF-8
    assert(new String(text.getBytes("ISO-8859-1"), "UTF-8") != text)
    // nothing declared anywhere → ("none", NOT ok, default): absence is
    // not "declared and understood" (r18)
    val n = WarcSource.parseHttp(
      ("HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\nx").getBytes("ISO-8859-1"))
    assert(n.contains((404L, "none", false, "default", "identity", true, Some("x"))))
    // malformed: no blank line / no status line → None (caller degrades)
    assert(WarcSource.parseHttp("HTTP/1.1 200 OK\r\n".getBytes("ISO-8859-1")).isEmpty)
    assert(WarcSource.parseHttp("not-http\r\n\r\nbody".getBytes("ISO-8859-1")).isEmpty)
    // an HTTP/2 capture still parses (version mismatch must not drop the record)
    val h2 = WarcSource.parseHttp(
      "HTTP/2 204 No Content\r\nContent-Type: text/html\r\n\r\n".getBytes("ISO-8859-1"))
    assert(h2.exists(_._1 == 204L))
  }

  test("parseHttp r18: BOM > header > meta prescan > default precedence, UTF-16") {
    def http(ct: String, payload: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1") ++ payload
    val text = "déjà vu à côté ®"
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    // BOM with no header charset: src=bom, BOM stripped from the text
    val b1 = WarcSource.parseHttp(http("text/html", bom ++ text.getBytes("UTF-8")))
    assert(b1.contains((200L, "utf-8", true, "bom", "identity", true, Some(text))))
    // BOM BEATS a wrong header declaration (HTML5 precedence)
    val b2 = WarcSource.parseHttp(
      http("text/html; charset=iso-8859-1", bom ++ text.getBytes("UTF-8")))
    assert(b2.contains((200L, "utf-8", true, "bom", "identity", true, Some(text))))
    // UTF-16LE/BE BOMs
    val le = WarcSource.parseHttp(http("text/html",
      Array[Byte](0xFF.toByte, 0xFE.toByte) ++ text.getBytes("UTF-16LE")))
    assert(le.contains((200L, "utf-16le", true, "bom", "identity", true, Some(text))))
    val be = WarcSource.parseHttp(http("text/html",
      Array[Byte](0xFE.toByte, 0xFF.toByte) ++ text.getBytes("UTF-16BE")))
    assert(be.contains((200L, "utf-16be", true, "bom", "identity", true, Some(text))))
    // header-declared utf-16le decodes natively (no BOM needed)
    val hle = WarcSource.parseHttp(
      http("text/html; charset=utf-16le", text.getBytes("UTF-16LE")))
    assert(hle.contains((200L, "utf-16le", true, "header", "identity", true, Some(text))))
    // the bare utf-16 label is LE under the WHATWG rule
    val h16 = WarcSource.parseHttp(
      http("text/html; charset=utf-16", text.getBytes("UTF-16LE")))
    assert(h16.contains((200L, "utf-16", true, "header", "identity", true, Some(text))))
    // meta prescan: <meta charset=…> inside the first 1024 bytes decides
    val metaHtml = s"""<html><head><meta charset="utf-8"/></head><body>$text</body></html>"""
    val m1 = WarcSource.parseHttp(http("text/html", metaHtml.getBytes("UTF-8")))
    assert(m1.contains((200L, "utf-8", true, "meta", "identity", true, Some(metaHtml))))
    // …the http-equiv content= form too, case-insensitive
    val eqHtml = "<html><head><meta http-equiv=\"Content-Type\" " +
      s"""content="text/html; CHARSET=UTF-8"></head><body>$text</body></html>"""
    val m2 = WarcSource.parseHttp(http("text/html", eqHtml.getBytes("UTF-8")))
    assert(m2.contains((200L, "utf-8", true, "meta", "identity", true, Some(eqHtml))))
    // header BEATS meta when both declare
    val m3 = WarcSource.parseHttp(
      http("text/html; charset=iso-8859-1", metaHtml.getBytes("ISO-8859-1")))
    assert(m3.exists(t => t._2 == "iso-8859-1" && t._4 == "header"))
    // a meta declaration past the 1024-byte prescan window is not seen
    val far = "<html><body>" + ("x" * 1100) +
      s"""<meta charset="utf-8"/>$text</body></html>"""
    val m4 = WarcSource.parseHttp(http("text/html", far.getBytes("ISO-8859-1")))
    assert(m4.exists(t => t._2 == "none" && t._4 == "default" && !t._3))
    // <metadata charset=…> must NOT match the prescan (name boundary)
    assert(WarcSource.metaCharsetPrescan(
      "<html><metadata charset=\"utf-8\"/>".getBytes("ISO-8859-1")).isEmpty)
  }

  test("parseHttp r18: deflate (zlib and raw), TE strictness") {
    val text = "deflate me — déjà vu " * 30
    val payload = text.getBytes("UTF-8")
    def http(extra: Seq[String], body: Array[Byte]): Array[Byte] =
      (("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +: extra)
        .mkString("", "\r\n", "\r\n\r\n")).getBytes("ISO-8859-1") ++ body
    // zlib-wrapped deflate (the RFC 9110 shape)
    val z = WarcSource.parseHttp(http(Seq("Content-Encoding: deflate"),
      WarcSource.deflateBytes(payload, raw = false)))
    assert(z.contains((200L, "utf-8", true, "header", "deflate", true, Some(text))))
    // raw deflate (the broken-server shape browsers also accept)
    val r = WarcSource.parseHttp(http(Seq("Content-Encoding: deflate"),
      WarcSource.deflateBytes(payload, raw = true)))
    assert(r.contains((200L, "utf-8", true, "header", "deflate", true, Some(text))))
    // corrupt deflate: counted degrade, never garble or throw
    val bad = WarcSource.deflateBytes(payload, raw = false)
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x55).toByte
    val c = WarcSource.parseHttp(http(Seq("Content-Encoding: deflate"), bad))
    assert(c.exists(t => !t._6 && t._7.isEmpty))
    // TE other than exactly chunked is an unsupported TRANSFER coding
    // (r17 advice: 'gzip' / 'gzip, chunked' previously decoded the
    // compressed bytes as charset text under encoding_ok = true)
    val teG = WarcSource.parseHttp(http(Seq("Transfer-Encoding: gzip"),
      WarcSource.gzipMember(payload)))
    assert(teG.exists(t => t._5 == "gzip" && !t._6 && t._7.isEmpty))
    val teGC = WarcSource.parseHttp(http(Seq("Transfer-Encoding: gzip, chunked"),
      WarcSource.chunkEncode(WarcSource.gzipMember(payload))))
    assert(teGC.exists(t => t._5 == "gzip+chunked" && !t._6 && t._7.isEmpty))
    // 'chunked, identity' still de-chunks (identity drops from the list)
    val teCI = WarcSource.parseHttp(http(Seq("Transfer-Encoding: chunked, identity"),
      WarcSource.chunkEncode(payload)))
    assert(teCI.contains((200L, "utf-8", true, "header", "chunked", true, Some(text))))
  }

  test("parseHttp: chunked, gzip, chunked+gzip, unsupported and malformed encodings") {
    val text = "chunk me — déjà vu " * 40 // > one 256-byte chunk
    val payload = text.getBytes("UTF-8")
    def http(extra: Seq[String], body: Array[Byte]): Array[Byte] =
      (("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +: extra)
        .mkString("", "\r\n", "\r\n\r\n")).getBytes("ISO-8859-1") ++ body
    // chunked (multi-chunk, extension on the first size line)
    val c = WarcSource.parseHttp(http(Seq("Transfer-Encoding: chunked"),
      WarcSource.chunkEncode(payload)))
    assert(c.contains((200L, "utf-8", true, "header", "chunked", true, Some(text))),
      "de-chunk must reassemble the payload (size lines are NOT text)")
    // gzip
    val g = WarcSource.parseHttp(http(Seq("Content-Encoding: gzip"),
      WarcSource.gzipMember(payload)))
    assert(g.contains((200L, "utf-8", true, "header", "gzip", true, Some(text))))
    // gzip then chunked — the on-the-wire composition, undone in order
    val cg = WarcSource.parseHttp(http(
      Seq("Transfer-Encoding: chunked", "Content-Encoding: gzip"),
      WarcSource.chunkEncode(WarcSource.gzipMember(payload))))
    assert(cg.contains((200L, "utf-8", true, "header", "chunked+gzip", true, Some(text))))
    // unsupported coding: counted degrade, NULL payload, envelope kept
    val br = WarcSource.parseHttp(http(Seq("Content-Encoding: br"), payload))
    assert(br.contains((200L, "utf-8", true, "header", "br", false, None)))
    // malformed chunk stream: degrade, never size-lines-as-text
    val m = WarcSource.parseHttp(http(Seq("Transfer-Encoding: chunked"),
      "zz;bogus\r\n".getBytes("ISO-8859-1") ++ payload))
    assert(m.contains((200L, "utf-8", true, "header", "chunked", false, None)))
    // truncated chunk + corrupt gzip: degrade, never throw
    val tr = WarcSource.parseHttp(http(Seq("Transfer-Encoding: chunked"),
      WarcSource.chunkEncode(payload).dropRight(20)))
    assert(tr.exists(t => !t._6 && t._7.isEmpty))
    val cz = WarcSource.gzipMember(payload)
    cz(cz.length / 2) = (cz(cz.length / 2) ^ 0x55).toByte
    val bz = WarcSource.parseHttp(http(Seq("Content-Encoding: gzip"), cz))
    assert(bz.exists(t => !t._6 && t._7.isEmpty))
  }

  test("gzipMember emits a valid deterministic RFC 1952 member") {
    val data = "WARC/1.0\r\npayload bytes".getBytes("UTF-8")
    val m1 = WarcSource.gzipMember(data)
    val m2 = WarcSource.gzipMember(data)
    assert(java.util.Arrays.equals(m1, m2), "member bytes must be deterministic")
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(m1))
    val out = in.readAllBytes()
    assert(java.util.Arrays.equals(out, data))
  }

  private lazy val spark = TestSpark.spark

  private def docsDf(n: Int) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.range(n).select(col("id").as("doc_id"),
      concat(lit("https://example.org/"), col("id")).as("uri"),
      lit("en").as("lang"),
      concat(lit("text body of doc "), col("id"), lit(" with words")).as("text"))
  }

  test("readWetGz over the gzip twin equals readWet over the plain fixture") {
    val plain = "/tmp/graft_warcspec_plain"
    val gz = "/tmp/graft_warcspec_gz"
    WarcSource.writeWet(docsDf(97), plain, 3)
    WarcSource.writeWetGz(docsDf(97), gz, 3)
    val a = WarcSource.readWet(spark, plain + "/wet-*.warc").collect().toSet
    val b = WarcSource.readWetGz(spark, gz + "/wet-*.warc.gz").collect().toSet
    assert(a.nonEmpty && a == b,
      "gzip member read must be a drop-in for the uncompressed read")
  }

  test("readRecordIndex: offsets/lengths dereference byte-exactly, files tile completely") {
    val dir = "/tmp/graft_warcspec_idx"
    WarcSource.writeWet(docsDf(83), dir, 2)
    val rows = WarcSource.readRecordIndex(spark, dir + "/wet-*.warc")
      .select("filename", "offset", "length", "warc_type", "record_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    assert(rows.count(_._4 == "conversion") == 83)
    assert(rows.count(_._4 == "warcinfo") == 2)
    val byFile = rows.groupBy(_._1)
    for ((f, rs) <- byFile) {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, f))
      val sorted = rs.sortBy(_._2)
      // the records tile the file: first at 0, each starts where the
      // previous ended, last ends at EOF
      assert(sorted.head._2 == 0L, s"$f: first record not at offset 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._2 + a._3 == b._2,
          s"$f: gap/overlap between records at ${a._2} and ${b._2}")
        case _ =>
      }
      assert(sorted.last._2 + sorted.last._3 == bytes.length,
        s"$f: last record does not end at EOF")
      // every (offset, length) range is a complete record: version
      // line at the start, and the range alone re-parses to the same id
      for ((_, off, len, _, rid) <- sorted) {
        val range = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
        assert(new String(range, 0, 10, "ISO-8859-1") == "WARC/1.0\r\n",
          s"$f: offset $off does not start a record")
        val parsed = WarcSource.parseRecordBytes(
          java.util.Arrays.copyOfRange(range, 10, range.length))
        assert(parsed.exists(_._3 == rid), s"$f: range at $off fails to re-parse")
      }
    }
  }

  test("readRecordIndex: forced multi-split keeps offsets absolute and exactly-once") {
    val dir = "/tmp/graft_warcspec_idx_split"
    WarcSource.writeWet(docsDf(157), dir, 1)
    val read = () => WarcSource.readRecordIndex(spark, dir + "/wet-*.warc")
      .select("offset", "record_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toVector.sorted
    val single = read()
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val prev = Option(hc.get(key))
    try {
      hc.set(key, "2048")
      val multi = read()
      assert(multi == single,
        "multi-split index must equal the single-split index (absolute offsets)")
      assert(multi.map(_._2).distinct.size == 158, // 157 + warcinfo
        "lost or duplicated records across splits")
    } finally prev.fold(hc.unset(key))(v => hc.set(key, v))
  }

  test("fetchRanged: exact ranges fetch all records; corrupted offsets degrade to no row") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_warcspec_fetch"
    WarcSource.writeWet(docsDf(41), dir, 2)
    val idx = WarcSource.readRecordIndex(spark, dir + "/wet-*.warc")
      .filter(col("warc_type") === "conversion")
      .select("filename", "offset", "length")
    val got = WarcSource.fetchRanged(idx, dir).collect()
    assert(got.length == 41, s"exact ranges must fetch every record, got ${got.length}")
    // +1 offset misses the version line; the row drops instead of garbling
    val off1 = WarcSource.fetchRanged(
      idx.withColumn("offset", col("offset") + 1), dir).collect()
    assert(off1.isEmpty, "off-by-one offsets must degrade to no row")
    // short length truncates the body; Content-Length check drops it
    val short = WarcSource.fetchRanged(
      idx.withColumn("length", col("length") - 5), dir).collect()
    assert(short.isEmpty, "short ranges must degrade to no row")
    // out-of-file range must not throw
    val far = WarcSource.fetchRanged(
      idx.withColumn("offset", col("offset") + 1000000), dir).collect()
    assert(far.isEmpty)
    // an index is data: traversal filenames and missing files degrade
    val esc = WarcSource.fetchRanged(
      idx.withColumn("filename", concat(lit("../"), col("filename"))), dir).collect()
    assert(esc.isEmpty, "path-separator filenames must degrade, not escape dir")
    val missing = WarcSource.fetchRanged(
      idx.withColumn("filename", lit("nope.warc")), dir).collect()
    assert(missing.isEmpty, "missing files must degrade, not throw")
  }

  test("WarcGzInputFormat: forced multi-split read is exactly-once") {
    val gz = "/tmp/graft_warcspec_split"
    WarcSource.writeWetGz(docsDf(211), gz, 1) // one file → splits cut INSIDE it
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val prev = Option(hc.get(key))
    try {
      hc.set(key, "2048") // force many splits across the single file
      val rows = WarcSource.readWetGz(spark, gz + "/wet-*.warc.gz")
        .filter(org.apache.spark.sql.functions.col("warc_type") === "conversion")
        .select("record_id").collect().map(_.getString(0)).toVector
      assert(rows.size == 211, s"lost or duplicated records: got ${rows.size}")
      assert(rows.toSet.size == 211, "duplicate records across splits")
    } finally prev.fold(hc.unset(key))(v => hc.set(key, v))
  }

  test("WarcGzInputFormat bounds a crafted unterminated FNAME header") {
    // gzip magic + FLG=FNAME, then megabytes of name bytes with no
    // terminator (the r16 advice hole): the header scan must give up at
    // the allowance — not buffer toward EOF or overflow the doubling
    // window — and a real member AFTER the garbage must still read.
    val dir = new java.io.File("/tmp/graft_warcspec_fname")
    dir.mkdirs()
    val f = new java.io.File(dir, "crafted-00000.warc.gz")
    val crafted = Array[Byte](0x1f, 0x8b.toByte, 0x08, 0x08, 0, 0, 0, 0,
      0x00, 0xff.toByte) ++ Array.fill(3 << 20)('A'.toByte)
    val real = WarcSource.gzipMember(
      ("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:graft:doc:9>\r\n" +
        "Content-Length: 2\r\n\r\nok\r\n\r\n").getBytes("UTF-8"))
    val out = new java.io.FileOutputStream(f)
    try { out.write(crafted); out.write(real) } finally out.close()
    val got = WarcSource.readWetGz(spark, f.getPath)
      .select("record_id").collect().map(_.getString(0)).toSet
    assert(got == Set("<urn:graft:doc:9>"),
      "reader must degrade the crafted header and still read the real member")
    // crafted header running to EOF: zero records, no task kill
    val f2 = new java.io.File(dir, "crafted-eof-00000.warc.gz")
    val out2 = new java.io.FileOutputStream(f2)
    try out2.write(crafted) finally out2.close()
    assert(WarcSource.readWetGz(spark, f2.getPath).count() == 0L)
  }

  test("WarcGzInputFormat resyncs past garbage and false gzip magic") {
    val dir = new java.io.File("/tmp/graft_warcspec_resync")
    dir.mkdirs()
    val f = new java.io.File(dir, "junk-00000.warc.gz")
    val rec = (id: Int) => WarcSource.gzipMember(
      (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:graft:doc:$id>\r\n" +
        "Content-Length: 2\r\n\r\nok\r\n\r\n").getBytes("UTF-8"))
    val junk = Array[Byte](0x1f, 0x8b.toByte, 0x08, 0x42, 1, 2, 3) // fake magic, bad FLG
    val out = new java.io.FileOutputStream(f)
    try { out.write(junk); out.write(rec(1)); out.write(junk); out.write(rec(2)) }
    finally out.close()
    val got = WarcSource.readWetGz(spark, f.getPath)
      .select("record_id").collect().map(_.getString(0)).toSet
    assert(got == Set("<urn:graft:doc:1>", "<urn:graft:doc:2>"),
      "reader must resync past garbage between members")
  }

  test("parseLocation: header-block only, case-insensitive, absent/empty/malformed degrade") {
    def http(hdrs: Seq[String], body: String = ""): Array[Byte] =
      (("HTTP/1.1 301 Moved Permanently" +: hdrs)
        .mkString("", "\r\n", "\r\n\r\n") + body).getBytes("ISO-8859-1")
    assert(WarcSource.parseLocation(
      http(Seq("Location: https://x.org/new"))).contains("https://x.org/new"))
    assert(WarcSource.parseLocation(
      http(Seq("location:  /rel/path "))).contains("/rel/path"),
      "case-insensitive name, trimmed value")
    assert(WarcSource.parseLocation(http(Seq("Content-Type: text/html"))).isEmpty)
    assert(WarcSource.parseLocation(http(Seq("Location:"))).isEmpty,
      "empty value degrades")
    // a 'Location:' line in the BODY must not match — header block only
    assert(WarcSource.parseLocation(
      http(Seq("Content-Type: text/html"), "Location: https://evil/")).isEmpty)
    assert(WarcSource.parseLocation("no blank line".getBytes("ISO-8859-1")).isEmpty)
  }

  test("resolveChains: multi-hop follow, relative Location, dangling, bounded loop") {
    val spark = TestSpark.spark
    import spark.implicits._
    val recs = Seq(
      // terminal page
      ("https://x.org/final", Some(200L), None: Option[String]),
      // two-hop chain, first Location root-relative
      ("https://x.org/old", Some(302L), Some("/mid")),
      ("https://x.org/mid", Some(307L), Some("https://x.org/final")),
      // dangling: target never captured
      ("https://x.org/gonefrom", Some(301L), Some("https://gone.example/1")),
      // loop pair
      ("https://x.org/a", Some(301L), Some("/b")),
      ("https://x.org/b", Some(301L), Some("/a")),
      // a 200 with a (meaningless) Location header: not an edge
      ("https://x.org/ok", Some(200L), Some("/elsewhere"))
    ).toDF("target_uri", "http_status", "location")
    val out = graft.operators.Redirects.resolveChains(recs, maxHops = 4)
      .as[(String, Option[String], Option[Long], String)].collect().toSet
    assert(out == Set(
      ("https://x.org/final", Some("https://x.org/final"), Some(0L), "ok"),
      ("https://x.org/old", Some("https://x.org/final"), Some(2L), "ok"),
      ("https://x.org/mid", Some("https://x.org/final"), Some(1L), "ok"),
      ("https://x.org/gonefrom", Some("https://gone.example/1"), Some(1L), "dangling"),
      ("https://x.org/a", None, None, "loop"),
      ("https://x.org/b", None, None, "loop"),
      ("https://x.org/ok", Some("https://x.org/ok"), Some(0L), "ok")))
  }

  test("resolveChains: a chain longer than maxHops classifies as loop, shorter resolves") {
    val spark = TestSpark.spark
    import spark.implicits._
    // c0 → c1 → c2 → c3 → c4 → end : 5 hops
    val chain = (0 until 5).map(i =>
      (s"https://x.org/c$i", Some(301L), Some(s"/c${i + 1}"))) :+
      (("https://x.org/c5", Some(200L), None: Option[String]))
    val recs = chain.toDF("target_uri", "http_status", "location")
    val out = graft.operators.Redirects.resolveChains(recs, maxHops = 4)
      .as[(String, Option[String], Option[Long], String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out("https://x.org/c0") == "loop",
      "5 hops under maxHops=4 must bound, not resolve")
    assert(out("https://x.org/c1") == "ok" && out("https://x.org/c5") == "ok")
  }

  test("ensureHtmlResponses memo key: same docs plan hits, a difference past the plan-string cut misses") {
    import org.apache.spark.sql.functions._
    val parquet = java.nio.file.Files.createTempDirectory("warc_memo_key").toString + "/docs"
    docsDf(5).write.parquet(parquet)
    def docs(tail: Int) = spark.read.parquet(parquet)
      .select(Seq(col("doc_id"), col("lang"), col("text")) ++
        (0 until 30).map(i => lit(if (i == 29) tail else i).as(s"c$i")): _*)
    // the same projection built twice (a fresh file scan each time) keys the same
    assert(WarcSource.htmlResponsesKey(docs(29), "/d", 4) ==
      WarcSource.htmlResponsesKey(docs(29), "/d", 4))
    // 33 fields print truncated, so the plan strings cannot tell these apart
    val (a, b) = (docs(29), docs(-1))
    assert(a.queryExecution.logical.canonicalized.toString ==
      b.queryExecution.logical.canonicalized.toString)
    assert(WarcSource.htmlResponsesKey(a, "/d", 4) != WarcSource.htmlResponsesKey(b, "/d", 4))
    assert(WarcSource.htmlResponsesKey(a, "/d", 4) != WarcSource.htmlResponsesKey(a, "/d", 5))
  }
}
