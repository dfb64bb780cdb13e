package graft.xml

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dispatch-rule semantics pinned by the reference (Parser.cs:166-187):
  * exact names take priority over globs; among several globs the LAST
  * registered match wins. Plus the container-attribute broadcast wrinkle
  * (Parser.cs:284-287, SURVEY §2.1 #7) and distributed multi-file reads.
  */
class XmlDispatchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def one(xml: String) = {
    import spark.implicits._
    Seq(xml).toDF("x")
  }

  test("exact name beats glob for the same child") {
    import spark.implicits._
    val parser = XmlParser.array { c =>
      struct(
        c.nullInt("sub1").as("exact"),
        c.obj("*")(z => z.tag).as("glob"))
    }
    val doc = "<r><sub1>5</sub1><other>x</other></r>"
    val got = one(doc).select(parser.parse(col("x")).as("r"))
      .as[Seq[(Option[Int], Option[String])]].head()
    // sub1 fills the exact slot only; other matches only the glob
    assert(got == Seq((Some(5), None), (None, Some("other"))))
  }

  test("among several globs the LAST registered match wins") {
    import spark.implicits._
    val parser = XmlParser.array { c =>
      struct(
        c.str("a*").as("g1"),
        c.str("*b").as("g2"))
    }
    // "ab" matches both -> g2 (registered later) wins; "ax" only g1;
    // "xb" only g2
    val doc = "<r><ab>1</ab><ax>2</ax><xb>3</xb></r>"
    val got = one(doc).select(parser.parse(col("x")).as("r"))
      .as[Seq[(Option[String], Option[String])]].head()
    assert(got == Seq((None, Some("1")), (Some("2"), None),
      (None, Some("3"))))
  }

  test("struct-parser wildcard binds (XmlFirstChildExpr): exact beats " +
      "glob, last glob wins, first match wins within a member") {
    import spark.implicits._
    // q_* and *_x both glob; q_x matches both -> *_x (later) claims it;
    // exact member "q_a" steals q_a from q_*; first q_* child wins
    val parser = XmlParser.struct("r") { a =>
      struct(
        a.str("q_a").as("exact"),
        a.str("q_*").as("g1"),
        a.str("*_x").as("g2"))
    }
    val doc = "<r><q_a>E</q_a><q_x>B</q_x><q_b>F1</q_b><q_c>F2</q_c></r>"
    val got = one(doc).select(parser.parse(col("x")).as("r"))
      .select("r.*").as[(String, String, String)].head()
    // exact=q_a; g1 = first q_* child NOT claimed by exact or the later
    // glob (*_x claims q_x) -> q_b; g2 = q_x
    assert(got == (("E", "F1", "B")))
    // no match -> null slot, and the expression survives malformed input
    val got2 = one("<r><zz>1</zz></r>")
      .select(parser.parse(col("x")).as("r"))
      .select("r.*").as[(Option[String], Option[String], Option[String])]
      .head()
    assert(got2 == ((None, None, None)))
  }

  test("container attributes broadcast to every array element") {
    import spark.implicits._
    val parser = XmlParser.struct("r") { a =>
      a.array("items") { c =>
        struct(c.attribute("batch").as("batch"),
          c.nullInt("item").as("v"))
      }
    }
    val doc = "<r><items batch='b7'><item>1</item><item>2</item></items></r>"
    val got = one(doc).select(parser.parse(col("x")).as("r"))
      .as[Seq[(String, Option[Int])]].head()
    assert(got == Seq(("b7", Some(1)), ("b7", Some(2))))
  }

  test("multi-file XML read distributes across partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftxmlmulti")
    (0 until 8).foreach { f =>
      val w = new java.io.PrintWriter(dir.resolve(s"part$f.xml").toFile)
      w.write((0 until 50).map(i => s"<rec><k>${f * 50 + i}</k></rec>")
        .mkString("<rows>\n", "\n", "\n</rows>"))
      w.close()
    }
    val parser = XmlParser.struct("rec")(a => a.nullInt("k"))
    val df = parser.read(spark, dir.toString + "/*.xml")
    assert(df.rdd.getNumPartitions > 1) // files split across tasks
    val got = df.select(col("parsed")).as[Option[Int]].collect().flatten
    assert(got.sorted.toSeq == (0 until 400))
  }

  test("file read with a wildcard spec routes through the rowTag splitter") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftxmlwild")
    (0 until 4).foreach { f =>
      val w = new java.io.PrintWriter(dir.resolve(s"part$f.xml").toFile)
      w.write((0 until 25).map { i =>
        val id = f * 25 + i
        val flag = if (id % 2 == 0) "A" else "B"
        s"<rec><id>$id</id><q_$flag>${id * 10}</q_$flag></rec>"
      }.mkString("<rows>\n", "\n", "\n</rows>"))
      w.close()
    }
    val parser = XmlParser.struct("rec") { a =>
      struct(
        a.int("id").as("id"),
        a.str("q_*").as("v"),
        a.tag.as("tag"))
    }
    assert(!parser.isFullyNative) // glob member → splitter + StAX path
    val got = parser.read(spark, dir.toString + "/*.xml")
      .select(col("parsed.id"), col("parsed.v"))
      .as[(Int, String)].collect().sortBy(_._1)
    assert(got.length == 100)
    assert(got.toSeq == (0 until 100).map(i => (i, (i * 10).toString)))
  }

  private def splitterRead(path: String, maxSplit: Option[Long]) = {
    import org.apache.hadoop.io.{LongWritable, Text}
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set(XmlElementInputFormat.RowTagKey, "rec")
    maxSplit.foreach(
      conf.setLong("mapreduce.input.fileinputformat.split.maxsize", _))
    spark.sparkContext.newAPIHadoopFile(path,
      classOf[XmlElementInputFormat], classOf[LongWritable], classOf[Text],
      conf)
  }

  test("rowTag splitter: records straddle split boundaries intact " +
      "(self-closing + attributed opens)") {
    val dir = java.nio.file.Files.createTempDirectory("graftxmlsplit")
    val recs = (0 until 120).map { i =>
      if (i % 3 == 2) s"""<rec id="$i"/>"""
      else s"""<rec id="$i"><v>plain $i padpadpadpad</v></rec>"""
    }
    val w = new java.io.PrintWriter(dir.resolve("one.xml").toFile)
    w.write(recs.mkString("<all>\n", "\n", "\n</all>"))
    w.close()
    val rdd = splitterRead(dir.toString + "/one.xml", Some(256L))
    assert(rdd.getNumPartitions > 4) // the tiny maxsize actually split it
    val got = rdd.map(_._2.toString).collect().toSeq
    assert(got.sorted == recs.sorted)
  }

  test("rowTag splitter property: random records round-trip at every " +
      "split size") {
    // deterministic pseudo-random corpus: varied record sizes, attributes,
    // self-closing forms, whitespace, container noise
    val rnd = new scala.util.Random(4242)
    val recs = (0 until 300).map { i =>
      rnd.nextInt(4) match {
        case 0 => s"""<rec id="$i"/>"""
        case 1 => s"""<rec id="$i" k="${rnd.nextInt(100)}">${
          "v" * (1 + rnd.nextInt(40))}</rec>"""
        case 2 => s"""<rec id="$i"><a>${rnd.nextInt(1000)}</a><b/></rec>"""
        case _ => s"""<rec id="$i"><c x="y">${
          "w " * rnd.nextInt(20)}</c></rec>"""
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graftxmlprop")
    val w = new java.io.PrintWriter(dir.resolve("one.xml").toFile)
    w.write(recs.mkString("<all>", "\n  ", "</all>"))
    w.close()
    // sweep split sizes from pathological (splits inside tags) to one-split
    Seq(64L, 128L, 333L, 1024L, 1000000L).foreach { maxSplit =>
      val got = splitterRead(dir.toString + "/one.xml", Some(maxSplit))
        .map(_._2.toString).collect().toSeq
      assert(got.sorted == recs.sorted,
        s"mismatch at split.maxsize=$maxSplit: got ${got.length}")
    }
  }

  test("rowTag splitter: commented-out and CDATA'd rowTags are not records") {
    val real = Seq(
      """<rec id="0"><v>a</v></rec>""",
      """<rec id="1"><!-- dead close </rec> and open <rec id="x"> -->""" +
        """<v>b</v></rec>""",
      """<rec id="2"><v><![CDATA[not a tag: <rec id="y"> nor </rec> ]]]]>""" +
        """</v></rec>""")
    val noise = Seq(
      """<!-- <rec id="99"><v>dead</v></rec> -->""",
      """<![CDATA[<rec id="98"/>]]>""",
      """<?pi <rec id="97"/> ?>""")
    val doc = (real ++ noise).mkString("<all>\n", "\n", "\n</all>")
    val dir = java.nio.file.Files.createTempDirectory("graftxmlcomment")
    val w = new java.io.PrintWriter(dir.resolve("one.xml").toFile)
    w.write(doc)
    w.close()
    val got = splitterRead(dir.toString + "/one.xml", None)
      .map(_._2.toString).collect().toSeq
    assert(got.sorted == real.sorted)
    // the whole-string splitter applies the same scan
    assert(XmlRecordSplit.split(doc, "rec").sorted == real.sorted)
  }

  test("rowTag splitter: same-name nested tags are depth-counted " +
      "within a split") {
    val dir = java.nio.file.Files.createTempDirectory("graftxmlnest")
    val recs = (0 until 10).map { i =>
      s"""<rec id="$i"><rec id="n$i"><v>inner</v></rec><t>x</t></rec>"""
    }
    val w = new java.io.PrintWriter(dir.resolve("one.xml").toFile)
    w.write(recs.mkString("<all>\n", "\n", "\n</all>"))
    w.close()
    // single split: nested same-name elements stay inside their record
    // (across split boundaries they are a documented limitation)
    val got = splitterRead(dir.toString + "/one.xml", None)
      .map(_._2.toString).collect().toSeq
    assert(got.sorted == recs.sorted)
  }
}
