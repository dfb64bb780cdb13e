package graft.xml

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[XmlRecordScanner]] reads its input a buffer at a time: records, start
  * offsets and the size guard must not depend on where the input's reads
  * happen to end, and the `graft-xml` FileFormat must return the same
  * records at any split size. */
class XmlRecordScannerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A seeded document of `tag` records between noise, with each record's
    * byte offset and text. `splitSafe` leaves out the shapes that are only
    * handled within one split (rowTag text inside a comment/CDATA/PI and
    * same-name nesting); `big` adds one record larger than the scanner's
    * 64 KB buffer. */
  private def corpus(rnd: Random, tag: String, n: Int, splitSafe: Boolean,
      big: Boolean): (Array[Byte], Seq[(Long, String)]) = {
    val out = new ByteArrayOutputStream
    val recs = Seq.newBuilder[(Long, String)]
    def put(s: String): Unit = out.write(s.getBytes(UTF_8))
    def rec(s: String): Unit = { recs += (out.size.toLong -> s); put(s) }
    val text = Seq("plain", "héllo ✓", "日本語",
      "😀 emoji", "a\r\nb", "x &amp; y")
    def t() = text(rnd.nextInt(text.length))
    put(s"""<?xml version="1.0" encoding="UTF-8"?>\r\n<!DOCTYPE ${tag}s>""")
    put(s"<${tag}s>\r\n")
    (0 until n).foreach { i =>
      val shapes = if (splitSafe) 7 else 9
      rnd.nextInt(shapes) match {
        case 0 => rec(s"""<$tag id="$i"/>""")
        case 1 => rec(s"""<$tag id="$i" k="${rnd.nextInt(100)}">${t()}</$tag>""")
        case 2 => rec(s"""<$tag id="$i"><a>${rnd.nextInt(1000)}</a><b/>""" +
          s"""\r\n<c x="y">${t()}</c><${tag}x>p</${tag}x></$tag>""")
        case 3 => rec(s"""<$tag id="$i"><!-- dead close </$tag> ${t()} ---->""" +
          s"""<v>b</v></$tag>""")
        case 4 => rec(s"""<$tag id="$i"><v><![CDATA[not a tag: </$tag> """ +
          s"""${t()} ]]]]></v></$tag>""")
        case 5 => rec(s"""<$tag\r\nid="$i"\tk="x" ><v>${t()}</v></$tag>""")
        case 6 => rec(s"""<$tag id="$i"><?pi keep?><$tag-like/>${t()}</$tag>""")
        case 7 => rec(s"""<$tag id="$i"><$tag id="n$i"><v>${t()}</v></$tag>""" +
          s"""<x>y</x></$tag>""")
        case _ => rec(s"""<$tag id="$i"><!-- <$tag id="x$i"> --></$tag>""")
      }
      rnd.nextInt(if (splitSafe) 4 else 7) match {
        case 0 => put("\r\n")
        case 1 => put(s"<!-- ${t()} --->")
        case 2 => put(s"<?pi ${t()}?><other a='1'/>")
        case 3 => put(s"<${tag}x>${t()}</${tag}x>")
        case 4 => put(s"""<!-- <$tag id="99"><v>dead</v></$tag> -->""")
        case 5 => put(s"""<![CDATA[<$tag id="98"/>]]>""")
        case _ => put(s"""<?pi <$tag id="97"/> ?>""")
      }
      if (big && i == n / 2)
        rec(s"""<$tag id="big"><v>${"0123456789" * 10000}</v></$tag>""")
    }
    put(s"</${tag}s>\r\n")
    (out.toByteArray, recs.result())
  }

  /** Returns 1 to 7 bytes per read and remembers where each read ended. */
  private final class DribbleStream(bytes: Array[Byte], rnd: Random)
      extends InputStream {
    private var off = 0
    val readEnds = scala.collection.mutable.ArrayBuffer.empty[Int]
    override def read(): Int =
      if (off >= bytes.length) -1 else { off += 1; bytes(off - 1) & 0xff }
    override def read(b: Array[Byte], o: Int, len: Int): Int =
      if (off >= bytes.length) -1
      else {
        val n = math.min(math.min(len, 1 + rnd.nextInt(7)), bytes.length - off)
        System.arraycopy(bytes, off, b, o, n)
        off += n
        readEnds += off
        n
      }
  }

  /** `head`, then `body` repeated, up to `total` bytes. */
  private final class RepeatStream(head: Array[Byte], body: Array[Byte],
      total: Long) extends InputStream {
    var off = 0L
    private def at(p: Long): Byte =
      if (p < head.length) head(p.toInt)
      else body(((p - head.length) % body.length).toInt)
    override def read(): Int =
      if (off >= total) -1 else { off += 1; at(off - 1) & 0xff }
    override def read(b: Array[Byte], o: Int, len: Int): Int =
      if (off >= total) -1
      else {
        val n = math.min(len.toLong, total - off).toInt
        var i = 0
        while (i < n) { b(o + i) = at(off + i); i += 1 }
        off += n
        n
      }
  }

  private def scanAll(in: InputStream, tag: String, total: Int) = {
    val sc = new XmlRecordScanner(in, tag.getBytes(UTF_8), 0L)
    val got = Seq.newBuilder[(Long, String)]
    while (sc.nextRecord(Long.MaxValue))
      got += (sc.recordStart ->
        new String(sc.recordBytes, 0, sc.recordLength, UTF_8))
    assert(sc.pos == total)
    got.result()
  }

  test("scanner: 1-7 byte reads give the same records and offsets as one " +
      "buffer, for ASCII and UTF-8 rowTags") {
    Seq("rec", "réc").foreach { tag =>
      val (doc, expected) = corpus(new Random(42), tag, 400,
        splitSafe = false, big = true)
      assert(expected.length == 401)
      assert(scanAll(new ByteArrayInputStream(doc), tag, doc.length) ==
        expected)
      val dribble = new DribbleStream(doc, new Random(7))
      assert(scanAll(dribble, tag, doc.length) == expected)
      // the terminators the scanner tracks across reads did straddle one
      val ends = dribble.readEnds.toSet
      Seq("-->", "]]>", s"</$tag>").foreach { t =>
        val tb = t.getBytes(UTF_8)
        val straddles = (0 to doc.length - tb.length).exists { o =>
          java.util.Arrays.equals(doc, o, o + tb.length, tb, 0, tb.length) &&
            (o + 1 until o + tb.length).exists(ends)
        }
        assert(straddles, s"no '$t' straddles a read for rowTag $tag")
      }
    }
  }

  test("scanner: an unterminated record fails at MaxRecordBytes, naming " +
      "its tag") {
    val limit = XmlElementInputFormat.MaxRecordBytes
    val head = """<x/><rec id="open">""".getBytes(UTF_8)
    val body = ("<v>" + "x" * 1000 + "</v>").getBytes(UTF_8)
    // generated as it is read: the unterminated record is never held whole
    val in = new RepeatStream(head, body, limit + 4L * 1024 * 1024)
    val sc = new XmlRecordScanner(in, "rec".getBytes(UTF_8), 0L)
    val e = intercept[java.io.IOException](sc.nextRecord(Long.MaxValue))
    assert(e.getMessage.contains("</rec>"))
    assert(e.getMessage.contains("offset 4 "))
    // stopped at the limit instead of reading the stream to its end
    assert(in.off < limit + 1024L * 1024)
  }

  test("graft-xml FileFormat: records equal XmlRecordSplit at every " +
      "maxPartitionBytes") {
    val dir = java.nio.file.Files.createTempDirectory("graftxmlsweep")
    def write(name: String, bytes: Array[Byte]): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, bytes)
      f.toString
    }
    val (safe, _) = corpus(new Random(5), "rec", 150, splitSafe = true,
      big = false)
    val (full, _) = corpus(new Random(6), "rec", 150, splitSafe = false,
      big = true)
    val gz = new ByteArrayOutputStream
    val gzOut = new java.util.zip.GZIPOutputStream(gz)
    gzOut.write(full)
    gzOut.close()
    val safePath = write("safe.xml", safe)
    val fullPath = write("full.xml", full)
    val gzPath = write("full.xml.gz", gz.toByteArray)
    def splitOf(doc: Array[Byte]) =
      XmlRecordSplit.split(new String(doc, UTF_8), "rec").sorted
    def load(path: String) =
      spark.read.format("graft-xml").option("rowTag", "rec").load(path)
    def read(path: String) = load(path).collect().map(_.getString(0)).toSeq
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    try {
      Seq(Some(64), Some(333), Some(4096), None).foreach { size =>
        size match {
          case Some(b) => spark.conf.set(key, b.toString)
          case None => spark.conf.unset(key)
        }
        assert(read(safePath).sorted == splitOf(safe), s"safe at $size")
        // a compressed file is one split at any size, so the shapes that
        // only hold within one split hold here too
        assert(read(gzPath).sorted == splitOf(full), s"gzip at $size")
        if (size.contains(64)) assert(load(safePath).rdd.getNumPartitions > 50)
      }
      assert(load(fullPath).rdd.getNumPartitions == 1)
      assert(read(fullPath).sorted == splitOf(full))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
