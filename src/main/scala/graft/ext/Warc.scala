package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) container ingest — the step BEFORE
  * [[TextPipeline.extractText]] in a real crawl pipeline: Common-Crawl
  * style corpora arrive as WARC files of `warcinfo`/`request`/`response`
  * records, and the HTML that every text operator here consumes lives
  * inside the HTTP payload of the `response` records.
  *
  * Zero-dependency record walk, `Content-Length`-driven: record
  * boundaries come ONLY from the declared content length, never from
  * scanning for the next `WARC/` magic — a body that embeds a literal
  * `"WARC/1.1"` line (hostile or coincidental) cannot split a record.
  * On a malformed record (bad version line, missing/overrunning
  * Content-Length) parsing of THAT FILE stops at the last good record:
  * there is no safe resync point without magic-scanning, which is
  * exactly the hazard the length walk exists to avoid. Records parsed
  * before the corruption survive (spec-pinned).
  *
  * Shape at scale: WARC files are the unit of parallelism
  * (`spark.read.format("binaryFile")` → one row per file), the walk is
  * one linear pass per payload in the scan projection — per-row CPU,
  * no shuffle, no plan surface (the [[MediaCodec]] convention). Body
  * bytes flow to downstream projections (md5 / extractText) without
  * ever being shuffled whole. Boundary (documented, honest): a single
  * record's content block must fit an `Array[Byte]` (< 2 GiB) — real
  * crawl WARCs cap records far below this; a streaming per-record
  * reader is the escape hatch if one ever doesn't.
  */
object Warc {

  /** One parsed WARC record. `http_status = -1` marks a record whose
    * content is not an HTTP response (warcinfo, request, metadata…) or
    * whose HTTP head is malformed; `body` is then the raw content
    * block, so no bytes are ever silently dropped.
    */
  final case class WarcRecord(
      file_id: String,
      rec_offset: Long, // byte offset of the record's version line
      warc_type: String,
      record_id: String,
      target_uri: String, // null when the record carries none
      warc_date: String,
      content_length: Long,
      http_status: Int,
      http_content_type: String, // null when absent / not HTTP
      n_http_headers: Int,
      body: Array[Byte])

  private val Iso = java.nio.charset.StandardCharsets.ISO_8859_1
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** First index of `\r\n\r\n` at or after `from`, or -1. */
  private def blankLine(b: Array[Byte], from: Int): Int = {
    var i = from
    val n = b.length - 3
    while (i < n) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** `Name: value` header lines → lowercase-name map (header names are
    * case-insensitive per RFC 7230 / ISO 28500).
    */
  private def headerMap(lines: Array[String]): Map[String, String] =
    lines.iterator.flatMap { l =>
      val c = l.indexOf(':')
      if (c <= 0) None
      else Some(l.substring(0, c).trim.toLowerCase -> l.substring(c + 1).trim)
    }.toMap

  /** Parse one file payload into its records (see object doc for the
    * malformed-record contract).
    */
  def parseFile(fileId: String, bytes: Array[Byte]): Seq[WarcRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var i = 0
    var ok = true
    while (ok && i < bytes.length) {
      // inter-record CRLF CRLF separators (and any trailing ones)
      while (i + 1 < bytes.length && bytes(i) == '\r' && bytes(i + 1) == '\n') i += 2
      if (i >= bytes.length) ok = false
      else {
        val recOffset = i
        val hdrEnd = blankLine(bytes, i)
        ok = hdrEnd >= 0
        if (ok) {
          val lines = new String(bytes, i, hdrEnd - i, Iso).split("\r\n")
          ok = lines.nonEmpty && lines(0).startsWith("WARC/")
          if (ok) {
            val h = headerMap(lines.drop(1))
            val cl = h.get("content-length").flatMap(_.toLongOption)
            // content must fit the file AND an Array[Byte] (see object doc)
            ok = cl.exists(n =>
              n >= 0 && n <= Int.MaxValue && hdrEnd + 4 + n <= bytes.length)
            if (ok) {
              val n = cl.get.toInt
              val start = hdrEnd + 4
              val content = java.util.Arrays.copyOfRange(bytes, start, start + n)
              val (status, httpCt, nHdrs, body) = splitHttp(h, content)
              out += WarcRecord(
                file_id = fileId,
                rec_offset = recOffset.toLong,
                warc_type = h.getOrElse("warc-type", ""),
                record_id = h.getOrElse("warc-record-id", ""),
                target_uri = h.get("warc-target-uri").orNull,
                warc_date = h.getOrElse("warc-date", ""),
                content_length = n.toLong,
                http_status = status,
                http_content_type = httpCt.orNull,
                n_http_headers = nHdrs,
                body = body)
              i = start + n
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** HTTP head/body split for `application/http` content blocks;
    * anything else (or a malformed head) passes through whole as the
    * body with `status = -1`.
    */
  private def splitHttp(
      warcHeaders: Map[String, String],
      content: Array[Byte]): (Int, Option[String], Int, Array[Byte]) = {
    val isHttp =
      warcHeaders.get("content-type").exists(_.toLowerCase.startsWith("application/http"))
    if (!isHttp) return (-1, None, 0, content)
    val hdrEnd = blankLine(content, 0)
    if (hdrEnd < 0) return (-1, None, 0, content)
    val lines = new String(content, 0, hdrEnd, Iso).split("\r\n")
    val statusRe = "^HTTP/\\d(?:\\.\\d)? (\\d{3}).*".r
    lines(0) match {
      case statusRe(code) =>
        val h = headerMap(lines.drop(1))
        val body = java.util.Arrays.copyOfRange(content, hdrEnd + 4, content.length)
        (code.toInt, h.get("content-type"), lines.length - 1, body)
      case _ => (-1, None, 0, content)
    }
  }

  /** Records of every WARC file in `files` (`fileIdCol` string,
    * `payloadCol` binary). Typed flatMap — per-file linear CPU in the
    * scan projection, no shuffle (the [[Multimodal.decodeFeatures]]
    * class of operator).
    */
  def parseRecords(files: DataFrame, fileIdCol: String, payloadCol: String): Dataset[WarcRecord] = {
    val s = files.sparkSession
    import s.implicits._
    files
      .select(col(fileIdCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (id, payload) => parseFile(id, payload) }
  }

  /** Multi-member gzip decompression. Production WARCs (Common Crawl
    * among them) gzip EACH RECORD as its own member and concatenate,
    * so records stay independently seekable; `GZIPInputStream` walks
    * concatenated members natively, so one linear pass recovers the
    * full plain-text stream. Truncated/corrupt trailing bytes drop the
    * TAIL only — bytes decompressed before the corruption survive,
    * which composes with [[parseFile]]'s last-good-record contract.
    */
  def gunzipMembers(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 4))
    val buf = new Array[Byte](8192)
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    } catch {
      case _: java.io.IOException => // truncated/corrupt tail: keep prefix
    }
    out.toByteArray
  }

  /** [[parseRecords]] over gzipped WARC files (`.warc.gz`, member per
    * record or whole-file — both decompress identically here). Same
    * typed-flatMap shape; decompression is part of the per-file CPU.
    */
  def parseGzipRecords(files: DataFrame, fileIdCol: String, payloadCol: String): Dataset[WarcRecord] = {
    val s = files.sparkSession
    import s.implicits._
    files
      .select(col(fileIdCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (id, payload) => parseFile(id, gunzipMembers(payload)) }
  }

  // -------------------------------------------------------------------
  // Fixture builder — deterministic WARC response files from any keyed
  // body table, in pure column algebra (Content-Length via
  // octet_length, so the bytes are spec-exact). Used by q101 and the
  // round-trip specs; a production job replaces this with binaryFile
  // reads of real crawl output.
  // -------------------------------------------------------------------

  /** The HTTP response block for one row: fixed 200 head (two headers)
    * + the body. Content-Length inside the HTTP head is OMITTED
    * deliberately — the WARC walk must not need it (the WARC-level
    * length governs), and its absence pins that independence in specs.
    */
  private def httpBlock(id: org.apache.spark.sql.Column, body: org.apache.spark.sql.Column) =
    concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\nX-Doc: "), id,
      lit("\r\n\r\n"), body)

  /** One full response record (version line, five WARC headers, HTTP
    * payload, record terminator).
    */
  private def responseRecord(
      id: org.apache.spark.sql.Column,
      uri: org.apache.spark.sql.Column,
      body: org.apache.spark.sql.Column) = {
    val http = httpBlock(id, body)
    concat(
      lit("WARC/1.1\r\nWARC-Type: response\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
        "WARC-Record-ID: <urn:uuid:doc-"), id, lit(">\r\nWARC-Target-URI: "), uri,
      lit("\r\nContent-Type: application/http;msgtype=response\r\nContent-Length: "),
      octet_length(http).cast("string"), lit("\r\n\r\n"), http, lit("\r\n\r\n"))
  }

  // warcinfo record template, single source for the column-algebra and
  // Scala fixture spellings (the @FILE@ hole is the file id)
  private val InfoBody = "software: graft-warc-fixture\r\n"
  private val InfoPre =
    "WARC/1.1\r\nWARC-Type: warcinfo\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "WARC-Record-ID: <urn:uuid:info-"
  private val InfoPost =
    s">\r\nContent-Type: application/warc-fields\r\nContent-Length: ${InfoBody.length}\r\n\r\n$InfoBody\r\n\r\n"

  /** Deterministic WARC files from `(idCol, uriCol, bodyCol)` rows:
    * `numFiles` files keyed by `id % numFiles`, each a `warcinfo`
    * record followed by that file's response records in ascending id
    * order. Assembly is one hash aggregation (sort_array of
    * (id, record) structs, field-extracted without a lambda — the
    * extractText reassembly shape). Output: `(file_id string,
    * payload binary)`.
    */
  def responseFixture(
      df: DataFrame,
      idCol: String,
      uriCol: String,
      bodyCol: String,
      numFiles: Int): DataFrame = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    val infoRecord = concat(lit(InfoPre), col("file_id"), lit(InfoPost))
    df.select(
        pmod(col(idCol), lit(numFiles)).cast("string").as("file_id"),
        struct(
          col(idCol).as("id"),
          responseRecord(col(idCol).cast("string"), col(uriCol), col(bodyCol)).as("rec")).as("__r"))
      .groupBy(col("file_id"))
      .agg(array_join(sort_array(collect_list(col("__r"))).getField("rec"), "").as("__recs"))
      .select(col("file_id"),
        encode(concat(infoRecord, col("__recs")), "UTF-8").as("payload"))
  }

  /** [[responseFixture]] in production container form: `.warc.gz` with
    * EACH record its own gzip member (the Common-Crawl layout that
    * keeps records independently seekable). Record assembly is the
    * same hash aggregation; member compression runs in a typed map
    * over the grouped rows — per-file CPU, no extra shuffle. The
    * decompressed byte stream is IDENTICAL to [[responseFixture]]'s
    * payload, so the two paths share one oracle.
    */
  def responseFixtureGzip(
      df: DataFrame,
      idCol: String,
      uriCol: String,
      bodyCol: String,
      numFiles: Int): DataFrame = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    val s = df.sparkSession
    import s.implicits._
    def member(out: java.io.ByteArrayOutputStream, b: Array[Byte]): Unit = {
      // each member compresses into its own buffer so the stream — and
      // its native Deflater — is close()d deterministically; finish()
      // alone leaves Deflater reclamation to finalization, which a
      // large fixture build (one stream per record) can outpace
      val buf = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(buf)
      try g.write(b) finally g.close() // close() finishes the member
      buf.writeTo(out)
    }
    df.select(
        pmod(col(idCol), lit(numFiles)).cast("string").as("file_id"),
        struct(col(idCol).cast("long").as("_1"),
          responseRecord(col(idCol).cast("string"), col(uriCol), col(bodyCol)).as("_2")).as("__r"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(col("__r"))).as("__recs"))
      .as[(String, Seq[(Long, String)])]
      .map { case (fileId, recs) =>
        val out = new java.io.ByteArrayOutputStream()
        member(out, (InfoPre + fileId + InfoPost).getBytes(Utf8))
        recs.foreach { case (_, rec) => member(out, rec.getBytes(Utf8)) }
        (fileId, out.toByteArray)
      }
      .toDF("file_id", "payload")
  }
}
