package graft.xml

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader,
  TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}

/** Splittable Hadoop input format that emits one record per `rowTag` XML
  * element — the distributed realization of the reference's file-glob
  * dispatch (Parser.cs:175-187) for specs the native XML source cannot
  * express (wildcard / custom members need the raw element text).
  *
  * Each split scans its byte range for `<rowTag` starts; a record whose
  * start tag begins before the split end is owned by that split, and its
  * capture may read past the split boundary (the standard text-split
  * contract, so a 100 TB directory splits into independent tasks with no
  * coordination). Same-name nested elements are depth-counted within a
  * record. `<!--...-->` comments and `<![CDATA[...]]>` sections are
  * recognized in both scan phases: a commented-out `<rowTag` does not start
  * a record, and a close tag inside a comment/CDATA does not end one.
  *
  * Documented limits (shared with every byte-level rowTag splitter):
  *   - attribute values must not contain '>';
  *   - a DOCTYPE internal subset (`<!DOCTYPE x [ ... ]>`) is skipped only to
  *     its first '>';
  *   - a rowTag element nested inside ANOTHER rowTag element is only handled
  *     within one split — records should not nest across split boundaries;
  *   - a comment/CDATA span is only honored within the split that sees its
  *     opening (a split boundary inside the span re-syncs at the next real
  *     record start);
  *   - compressed files are read as a single split (not splittable).
  */
object XmlElementInputFormat {
  val RowTagKey = "graft.xml.read.rowtag"

  /** Guard against a missing close tag silently swallowing a whole file. */
  val MaxRecordBytes: Int = 128 * 1024 * 1024
}

/** The scan state machine, shared by the Hadoop record reader (byte-range
  * splits), the `graft-xml` FileFormat
  * ([[org.apache.spark.sql.graft.XmlRowTagFileFormat]] — batch AND
  * streaming reads) and [[XmlRecordSplit]] (whole strings).
  *
  * The scanner reads `in` a buffer at a time (64 KB; the caller closes
  * it) and `pos` is the absolute offset of the next unconsumed byte,
  * counted from `startPos`. Only `<` can change scan state, so the runs between tags are
  * skipped (looking for a record) or copied (capturing one) in bulk.
  *
  * [[nextRecord]] returns true when a record is ready; it is then
  * `recordBytes(0 until recordLength)`, starting at absolute offset
  * `recordStart`. The capture array is reused, so those bytes are valid
  * only until the next [[nextRecord]] call — callers copy what they keep. */
final class XmlRecordScanner(in: java.io.InputStream,
    rowTag: Array[Byte], startPos: Long) {

  private val buf = new Array[Byte](64 * 1024)
  private var bufPos = 0
  private var bufLen = 0
  private var bufBase = startPos // absolute offset of buf(0)

  private var capture = new Array[Byte](8192)
  private var capLen = 0
  private var capturing = false

  private var recStart = -1L

  /** `rowTag` as unsigned byte values, comparable with [[read1]]'s. */
  private val tag: Array[Int] = rowTag.map(_ & 0xff)

  def pos: Long = bufBase + bufPos
  def recordStart: Long = recStart
  def recordBytes: Array[Byte] = capture
  def recordLength: Int = capLen

  /** Refill `buf` from `in`; false at EOF. */
  private def fill(): Boolean = {
    bufBase += bufLen
    bufPos = 0
    bufLen = 0
    val n = in.read(buf, 0, buf.length)
    if (n <= 0) false else { bufLen = n; true }
  }

  private def put(b: Byte): Unit = {
    if (capLen == capture.length) grow(capLen + 1)
    capture(capLen) = b
    capLen += 1
  }

  private def append(src: Array[Byte], off: Int, len: Int): Unit = {
    if (capLen + len > capture.length) grow(capLen + len)
    System.arraycopy(src, off, capture, capLen, len)
    capLen += len
  }

  /** The capture never grows past [[XmlElementInputFormat.MaxRecordBytes]]:
    * a record that would is a missing close tag, not data. */
  private def grow(need: Int): Unit = {
    if (need > XmlElementInputFormat.MaxRecordBytes)
      throw new java.io.IOException(
        s"graft.xml: record at offset $recStart exceeds " +
          s"${XmlElementInputFormat.MaxRecordBytes} bytes — missing " +
          s"</${new String(rowTag, "UTF-8")}>?")
    capture = java.util.Arrays.copyOf(capture, math.min(
      math.max(capture.length.toLong * 2, need.toLong),
      XmlElementInputFormat.MaxRecordBytes.toLong).toInt)
  }

  /** One byte (-1 = EOF), captured while a record is being captured. */
  private def read1(): Int = {
    if (bufPos >= bufLen && !fill()) return -1
    val b = buf(bufPos)
    bufPos += 1
    if (capturing) put(b)
    b & 0xff
  }

  /** Consume through the next '<' (captured while capturing); false at EOF.
    * The bytes before it cannot change scan state, so they move in bulk. */
  private def throughLt(): Boolean = {
    while (true) {
      if (bufPos >= bufLen && !fill()) return false
      var i = bufPos
      while (i < bufLen && buf(i) != '<') i += 1
      val found = i < bufLen
      val stop = if (found) i + 1 else i
      if (capturing) append(buf, bufPos, stop - bufPos)
      bufPos = stop
      if (found) return true
    }
    false
  }

  /** Continue after byte `b` that ended a failed tag match: a '<' starts
    * the next candidate, anything else resumes the scan after it. */
  private def resumeAfter(b: Int): Boolean =
    if (b == '<') true else if (b == -1) false else throughLt()

  private def isDelim(c: Int): Boolean =
    c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\r' || c == '\n'

  /** Consume the rest of an open tag after `<rowTag` + `delim`; returns the
    * depth delta: +1 for an open element, 0 for self-closing
    * `<rowTag .../>`. */
  private def finishOpenTag(delim: Int): Int = {
    if (delim == '>') return 1
    var prev = delim
    var c = read1()
    while (c != -1 && c != '>') {
      prev = c
      c = read1()
    }
    if (prev == '/') 0 else 1
  }

  /** Match `rowTag` from index `from` against the next bytes; returns the
    * first non-matching byte (-1 at EOF), or Int.MinValue on a full match
    * (caller then reads the delimiter). */
  private def matchTag(from: Int): Int = {
    var i = from
    while (i < rowTag.length) {
      val c = read1()
      if (c != tag(i)) return c
      i += 1
    }
    Int.MinValue
  }

  /** Consume through `terminator` (already inside the construct). Returns
    * false on EOF. KMP failure links keep overlapping prefixes in sync (e.g.
    * CDATA content "]]]>" must still terminate on its trailing "]]>"). */
  private def skipUntil(terminator: Array[Byte]): Boolean = {
    val fail = new Array[Int](terminator.length)
    var k = 0
    var i = 1
    while (i < terminator.length) {
      while (k > 0 && terminator(i) != terminator(k)) k = fail(k - 1)
      if (terminator(i) == terminator(k)) k += 1
      fail(i) = k
      i += 1
    }
    var m = 0
    while (m < terminator.length) {
      val c = read1()
      if (c == -1) return false
      while (m > 0 && c != terminator(m)) m = fail(m - 1)
      if (c == terminator(m)) m += 1
    }
    true
  }

  private val CommentOpen = "!--".getBytes("US-ASCII")
  private val CdataOpen = "![CDATA[".getBytes("US-ASCII")
  private val CommentClose = "-->".getBytes("US-ASCII")
  private val CdataClose = "]]>".getBytes("US-ASCII")
  private val PiClose = "?>".getBytes("US-ASCII")
  private val TagClose = ">".getBytes("US-ASCII")

  /** After a consumed "<!", classify + skip a comment (`<!--...-->`), CDATA
    * (`<![CDATA[...]]>`), or other markup declaration (to its first '>').
    * Returns false on EOF. */
  private def skipBang(): Boolean = {
    // match as much of "!--" / "![CDATA[" as possible; fall back to '>'
    var i = 1 // caller consumed '!' (position 0 of both opener patterns)
    var isComment = true
    var isCdata = true
    while ((isComment && i < CommentOpen.length) ||
        (isCdata && i < CdataOpen.length)) {
      val c = read1()
      if (c == -1) return false
      if (c == '>') return true // e.g. "<!>" — degenerate, done
      isComment = isComment && i < CommentOpen.length && c == CommentOpen(i)
      isCdata = isCdata && i < CdataOpen.length && c == CdataOpen(i)
      if (!isComment && !isCdata) return skipUntil(TagClose) // DOCTYPE etc.
      i += 1
    }
    if (isComment && i == CommentOpen.length) skipUntil(CommentClose)
    else skipUntil(CdataClose)
  }

  /** Advance to the next record whose `<rowTag` start lies strictly before
    * `ownedEnd` (absolute position); false at EOF / ownership end /
    * truncation. */
  def nextRecord(ownedEnd: Long): Boolean = {
    // ---- phase 1: find a record start owned by this range ----
    capturing = false
    recStart = -1L
    var delim = -1
    var lt = throughLt()
    while (recStart < 0) {
      if (!lt) return false
      val ltPos = pos - 1
      if (ltPos >= ownedEnd) return false
      val first = read1()
      if (first == '!') {
        // commented-out / CDATA'd rowTag text must not start a record
        lt = skipBang() && throughLt()
      } else if (first == '?') {
        lt = skipUntil(PiClose) && throughLt()
      } else if (first == tag(0)) {
        val m = matchTag(1)
        if (m == Int.MinValue) {
          val d = read1()
          if (isDelim(d)) { recStart = ltPos; delim = d }
          else lt = resumeAfter(d) // e.g. <recs...> with rowTag rec
        } else lt = resumeAfter(m)
      } else lt = resumeAfter(first)
    }
    // ---- phase 2: capture through the matching close tag ----
    capLen = 0
    put('<'.toByte)
    append(rowTag, 0, rowTag.length)
    put(delim.toByte)
    capturing = true
    var depth = finishOpenTag(delim)
    while (depth > 0) {
      if (!throughLt()) return false // truncated trailing record
      val b2 = read1()
      if (b2 == -1) return false
      if (b2 == '!') {
        // comment/CDATA content rides along uninterpreted: tags inside
        // must not bump the depth counter
        if (!skipBang()) return false
      } else if (b2 == '/') {
        if (matchTag(0) == Int.MinValue) {
          val b3 = read1()
          if (b3 == -1) return false
          if (b3 == '>') depth -= 1
        }
      } else if (b2 == tag(0)) {
        // potential nested open tag; first byte already consumed
        val m = matchTag(1)
        if (m == -1) return false
        if (m == Int.MinValue) {
          val d = read1()
          if (d == -1) return false
          if (isDelim(d)) depth += finishOpenTag(d)
        }
      }
    }
    true
  }
}

/** Whole-string record splitting: [[XmlRecordScanner]] over one in-memory
  * document, for callers holding XML text rather than files (tests pin the
  * file reads against it). */
object XmlRecordSplit {
  def split(doc: String, rowTag: String): Seq[String] = {
    val sc = new XmlRecordScanner(
      new java.io.ByteArrayInputStream(doc.getBytes("UTF-8")),
      rowTag.getBytes("UTF-8"), 0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (sc.nextRecord(Long.MaxValue))
      out += new String(sc.recordBytes, 0, sc.recordLength, "UTF-8")
    out.toSeq
  }
}

final class XmlElementInputFormat extends FileInputFormat[LongWritable, Text] {
  override protected def isSplitable(ctx: JobContext, file: Path): Boolean =
    new CompressionCodecFactory(ctx.getConfiguration).getCodec(file) == null

  override def createRecordReader(split: InputSplit,
      ctx: TaskAttemptContext): RecordReader[LongWritable, Text] =
    new XmlElementRecordReader
}

final class XmlElementRecordReader extends RecordReader[LongWritable, Text] {

  private var in: java.io.InputStream = _
  private var scanner: XmlRecordScanner = _
  private var start: Long = 0L
  private var end: Long = 0L
  private val key = new LongWritable
  private val value = new Text
  private var done = false

  override def initialize(split: InputSplit, ctx: TaskAttemptContext): Unit = {
    val fsplit = split.asInstanceOf[FileSplit]
    start = fsplit.getStart
    end = start + fsplit.getLength
    val tag = ctx.getConfiguration.get(XmlElementInputFormat.RowTagKey)
    require(tag != null && tag.nonEmpty, "rowTag not set")
    val file = fsplit.getPath
    val fs = file.getFileSystem(ctx.getConfiguration)
    val fsin = fs.open(file)
    val codec = new CompressionCodecFactory(ctx.getConfiguration)
      .getCodec(file)
    if (codec != null) {
      // compressed file: isSplitable said no, so this single split covers
      // the whole file — scan the DECOMPRESSED stream from 0 to its end
      // (offsets/keys are decompressed-stream positions). Serial per file;
      // parallelism at scale comes from many files.
      start = 0L
      end = Long.MaxValue
      in = codec.createInputStream(fsin)
    } else {
      fsin.seek(start)
      in = fsin
    }
    scanner = new XmlRecordScanner(in, tag.getBytes("UTF-8"), start)
  }

  override def nextKeyValue(): Boolean = {
    if (done) return false
    if (scanner.nextRecord(end)) {
      key.set(scanner.recordStart)
      value.set(scanner.recordBytes, 0, scanner.recordLength)
      true
    } else {
      done = true
      false
    }
  }

  override def getCurrentKey: LongWritable = key
  override def getCurrentValue: Text = value
  override def getProgress: Float =
    if (end == start) 1.0f
    else math.min(1.0f, (scanner.pos - start).toFloat / (end - start))
  override def close(): Unit = if (in != null) in.close()
}
