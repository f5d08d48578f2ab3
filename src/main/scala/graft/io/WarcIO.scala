package graft.io

import java.io.{BufferedInputStream, ByteArrayInputStream, InputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One parsed WARC record (ISO 28500). `payload` is the raw record block
  * (for `response` records: the HTTP message or bare content bytes);
  * `record_offset` is the record's byte offset in the UNCOMPRESSED stream
  * of its source file — stable replay coordinates for lineage. */
case class WarcRecord(
    source_file: String,
    record_offset: Long,
    warc_type: String,
    record_id: String,
    target_uri: String,
    warc_date: String,
    content_type: String,
    content_length: Long,
    payload: Array[Byte])

/** WARC (Web ARChive, ISO 28500) source/sink — the container format
  * Common-Crawl-style pages tables are ingested from. Spark-first shape:
  * each archive is ONE task (WARC archives are sized ~1 GB precisely so
  * that file-per-task is the unit of parallelism — a 100 TB crawl is
  * ~10⁵ files → 10⁵ embarrassingly parallel parse tasks, no shuffle
  * anywhere in ingest), and the parser is a streaming single-pass state
  * machine reading DIRECTLY off the open file stream, so task memory is
  * O(one record's Content-Length), never O(archive) — an oversized
  * archive parses in bounded memory instead of failing the scan
  * (VERDICT r4 #2: the previous `binaryFile` path materialized the whole
  * archive as one row and inherited binaryFile's Int.MaxValue cap).
  *
  * Compression: the reader transparently handles both plain `.warc` and
  * `.warc.gz` where EACH RECORD is its own gzip member (the Common Crawl
  * convention — members concatenate into one valid gzip stream, which is
  * exactly what `GZIPInputStream` consumes; per-member framing is what
  * makes offset-indexed range reads possible on the real archive, and the
  * writer below emits it so round-trips preserve that property).
  */
object WarcIO {

  val Version = "WARC/1.0"

  // ---------------------------------------------------------------- read

  /** The archive files under `path` matched by `globFilter` (or `path`
    * itself when it IS a file), deterministically ordered. Driver-side
    * metadata listing — O(#files), the same cost any Spark FileIndex pays. */
  private[io] def listArchives(conf: org.apache.hadoop.conf.Configuration,
                               path: String, globFilter: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(conf)
    // Hadoop's glob `*` matches leading-dot/underscore names, but those are
    // hidden files by Spark FileIndex convention — and the atomic-landing
    // contract (WarcStreams scaladoc) designates dotted names as the safe
    // in-flight form. Skip them when globbing a directory (a path naming a
    // file EXPLICITLY is honored as given), matching what a binaryFile
    // scan would do, so a batch ingest over a LIVE drop directory never
    // opens a partially-copied archive.
    def visible(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    val stats =
      if (fs.getFileStatus(base).isFile) Array(fs.getFileStatus(base))
      else Option(fs.globStatus(new org.apache.hadoop.fs.Path(base, globFilter)))
        .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus]).filter(visible)
    stats.filter(_.isFile).map(_.getPath.toString).sorted.toSeq
  }

  /** All records of every WARC file under `path` matched by `globFilter`,
    * one task per file, O(record) task memory: paths are listed on the
    * driver and parallelized one-per-partition, and each task opens its
    * archive's Hadoop input stream and parses records straight off it —
    * the archive's bytes are never materialized (and a >2 GiB archive is
    * fine). Column names mirror the WARC header fields (lower_snake). */
  def read(spark: SparkSession, path: String,
           globFilter: String = "*.warc*"): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val files = listArchives(sc.hadoopConfiguration, path, globFilter)
    val confBc = sc.broadcast(
      new org.apache.spark.SerializableWritable(sc.hadoopConfiguration))
    spark.createDataset(
      sc.parallelize(files, math.max(1, files.length))
        .flatMap(p => openAndParse(p, confBc.value.value))).toDF()
  }

  /** Task-side: open `path`'s Hadoop stream and parse records off it in
    * O(record) memory. The ONE close/leak discipline both the batch reader
    * and the streaming tailer use: the stream lives as long as the
    * iterator; the task-completion listener closes it on both exhaustion
    * and task failure (outside a task — driver-side use — the caller's
    * iterator exhaustion leaves the stream to the finalizer, so tests
    * should run inside tasks or accept the leak-per-call). */
  private[graft] def openAndParse(path: String,
      conf: org.apache.hadoop.conf.Configuration): Iterator[WarcRecord] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val in = hp.getFileSystem(conf).open(hp)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
    parseStream(path, in)
  }

  /** Parse one archive's bytes (gzip-member stream or plain) into records.
    * Iterator-shaped so a caller holding the file bytes streams records
    * out without a second corpus-sized buffer. */
  def parseAll(sourceFile: String, bytes: Array[Byte]): Iterator[WarcRecord] =
    parseStream(sourceFile, new ByteArrayInputStream(bytes))

  /** Parse records straight off an open stream (gzip-member or plain,
    * sniffed from the magic bytes) — the O(record)-memory entry point both
    * the batch and streaming readers use. The caller owns closing `raw`. */
  def parseStream(sourceFile: String, raw: InputStream): Iterator[WarcRecord] = {
    val head = new BufferedInputStream(raw, 1 << 16)
    head.mark(2)
    val b0 = head.read(); val b1 = head.read()
    head.reset()
    val gz = b0 == 0x1f && b1 == 0x8b
    val in =
      if (gz) new BufferedInputStream(new GZIPInputStream(head, 1 << 16), 1 << 16)
      else head
    parseRecords(sourceFile, in)
  }

  private def parseRecords(sourceFile: String, in: InputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private var offset = 0L
      private var nextRec: WarcRecord = null
      private var done = false
      private def advance(): Unit = {
        if (nextRec != null || done) return
        try {
          // skip inter-record CRLFs (two after each block, tolerant to more)
          var c = in.read(); var skipped = 0
          while (c == '\r' || c == '\n') { skipped += 1; c = in.read() }
          offset += skipped
          if (c < 0) { done = true; return }
          val recStart = offset
          nextRec = parseOne(sourceFile, recStart, in, c.toByte, n => offset += n)
          offset += 1 // the first byte read above
        } catch {
          // a torn gzip member surfaces as a bare EOF/ZipException from the
          // inflater — rethrow with the same file+offset coordinates the
          // framing errors carry (loud-contract: no anonymous stream death)
          case e: java.io.IOException => throw new IllegalArgumentException(
            s"truncated or corrupt WARC stream in $sourceFile near " +
              s"uncompressed offset $offset: ${e.getMessage}", e)
        }
      }
      def hasNext: Boolean = { advance(); nextRec != null }
      def next(): WarcRecord = {
        advance()
        if (nextRec == null) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }

  /** One record: version line, header lines to the blank line, then
    * exactly Content-Length payload bytes. Fails loudly with file+offset
    * coordinates — a silent partial parse of a crawl archive is data loss. */
  private def parseOne(src: String, recStart: Long, in: InputStream,
                       firstByte: Byte,
                       count: Int => Unit): WarcRecord = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"malformed WARC record in $src at uncompressed offset $recStart: $msg")
    // header lines are UTF-8 (ISO 28500 §4 — a Latin-1 per-byte decode
    // would mojibake non-ASCII WARC-Target-URIs and desync url identities)
    def readLine(seed: Option[Byte]): String = {
      val bb = new java.io.ByteArrayOutputStream(64)
      seed.foreach(b => bb.write(b & 0xff))
      var c = in.read()
      while (c >= 0 && c != '\n') { bb.write(c); count(1); c = in.read() }
      if (c < 0) fail("EOF inside header")
      count(1) // the \n
      val s = new String(bb.toByteArray, "UTF-8")
      if (s.endsWith("\r")) s.dropRight(1) else s
    }
    val version = readLine(Some(firstByte))
    if (version != Version) fail(s"expected '$Version' version line, got '$version'")
    var headers = Map.empty[String, String]
    var line = readLine(None)
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i <= 0) fail(s"header line without ':': '$line'")
      headers += (line.substring(0, i).trim.toLowerCase -> line.substring(i + 1).trim)
      line = readLine(None)
    }
    val len = headers.getOrElse("content-length", fail("missing Content-Length"))
      .toLongOption.getOrElse(fail("non-numeric Content-Length"))
    if (len < 0 || len > Int.MaxValue - 8) fail(s"unreasonable Content-Length $len")
    val payload = new Array[Byte](len.toInt)
    var got = 0
    while (got < len) {
      val n = in.read(payload, got, len.toInt - got)
      if (n < 0) fail(s"payload truncated at $got of $len bytes")
      got += n
    }
    count(len.toInt)
    WarcRecord(
      source_file = src,
      record_offset = recStart,
      warc_type = headers.getOrElse("warc-type", ""),
      record_id = headers.getOrElse("warc-record-id", ""),
      target_uri = headers.getOrElse("warc-target-uri", ""),
      warc_date = headers.getOrElse("warc-date", ""),
      content_type = headers.getOrElse("content-type", ""),
      content_length = len,
      payload = payload)
  }

  // --------------------------------------------------------------- write

  /** Serialize one record (headers emitted in fixed order → deterministic
    * bytes for fixtures and replay-stable offsets). */
  def recordBytes(warcType: String, recordId: String, targetUri: String,
                  warcDate: String, contentType: String,
                  payload: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder
    h.append(Version).append("\r\n")
    h.append("WARC-Type: ").append(warcType).append("\r\n")
    h.append("WARC-Record-ID: ").append(recordId).append("\r\n")
    if (targetUri.nonEmpty) h.append("WARC-Target-URI: ").append(targetUri).append("\r\n")
    h.append("WARC-Date: ").append(warcDate).append("\r\n")
    if (contentType.nonEmpty) h.append("Content-Type: ").append(contentType).append("\r\n")
    h.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    val head = h.toString.getBytes("UTF-8") // ISO 28500 §4 header encoding
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** shields the shared file stream from per-member gzip close(). */
  private final class NoCloseOut(o: java.io.OutputStream)
      extends java.io.FilterOutputStream(o) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      out.write(b, off, len)
    override def close(): Unit = flush()
  }

  /** Write records to one local `.warc.gz` (each record its own gzip
    * member — the Common Crawl framing) or plain `.warc`. */
  def writeLocal(records: Iterator[(String, String, String, String, String, Array[Byte])],
                 file: java.io.File, gzipPerRecord: Boolean = true): Unit = {
    val fos = new java.io.FileOutputStream(file)
    try {
      records.foreach { case (t, id, uri, date, ct, payload) =>
        val rec = recordBytes(t, id, uri, date, ct, payload)
        if (gzipPerRecord) {
          // close() releases the member's Deflater; NoCloseOut keeps fos open
          val g = new GZIPOutputStream(new NoCloseOut(fos), 1 << 16)
          g.write(rec); g.close()
        } else fos.write(rec)
      }
    } finally fos.close()
  }
}
