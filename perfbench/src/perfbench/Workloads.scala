package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Ann, Dedup, Graph}
import graft.xml.{XPathMultiExpr, XmlFastScan, XmlParser, XmlStax}

/** Where a workload records spans; a no-op outside the traced run. */
trait Spans {
  def span[T](name: String)(body: => T): T
}
object NoSpans extends Spans {
  def span[T](name: String)(body: => T): T = body
}

/** One benchmark workload: seeded inputs loaded into a session, a pass the
  * closed loop times, and the check of each pass's output against what the
  * generator planted. A workload with several pass kinds runs them in
  * rotation; the loop always ends on a whole rotation. */
trait Workload {
  def name: String
  def kinds: Int = 1
  def kindName(kind: Int): String = name
  /** Generate the inputs and load them into `spark`. */
  def setup(spark: SparkSession, work: File): Unit
  /** Input facts for the environment record. */
  def describe: Seq[(String, Any)]
  /** Input rows and XML bytes one pass of `kind` consumes. */
  def rows(kind: Int): Long
  def bytes(kind: Int): Long
  /** The timed part of a pass: run it and collect its (small) output. */
  def run(kind: Int, spans: Spans): AnyRef
  /** None when `out` matches what was planted, else what differs. */
  def check(kind: Int, out: AnyRef): Option[String]
  /** Before each pass, untimed: restore the state the pass consumes. */
  def beforePass(): Unit = ()
  /** Checks made once per run, after the loop. */
  def finalCheck(): Option[String] = None
  /** Per-layer probes of the traced run: direct calls into the layers this
    * workload's inputs exercise. Every traced run probes all workloads'
    * layers, so every per-layer metric is measured on every workload. */
  def probes(spans: Spans): Seq[(String, Double)] = Nil
  def teardown(): Unit = ()
}

object Workload {
  val names = Seq("xml_ingest", "xml_nested", "iterative_ops")

  def apply(name: String, seed: Long): Workload = name match {
    case "xml_ingest"    => new XmlIngest(seed)
    case "xml_nested"    => new XmlNested(seed)
    case "iterative_ops" => new IterativeOps(seed)
  }

  /** Compare a collected checksum row with the generator's expectation. */
  def compare(expected: Gen.Checksums, got: Seq[Long]): Option[String] = {
    val bad = expected.zip(got).collect {
      case ((n, e), g) if e != g => s"$n: expected $e got $g"
    }
    if (got.size != expected.size) Some(s"${got.size} checksums, " +
      s"expected ${expected.size}")
    else if (bad.nonEmpty) Some(bad.mkString("; "))
    else None
  }

  def longs(r: Row): Seq[Long] =
    (0 until r.length).map(i => if (r.isNullAt(i)) Long.MinValue
      else r.getAs[Number](i).longValue)

  def crcOf(c: org.apache.spark.sql.Column) =
    coalesce(sum(crc32(c.cast("binary"))), lit(0L))

  /** Median ns per document of `f` over `docs`, over `reps` sweeps. */
  def nsPerDoc(docs: Array[UTF8String], reps: Int)(f: UTF8String => Unit)
      : Double = {
    val per = (1 to reps).map { _ =>
      val t0 = System.nanoTime
      var i = 0
      while (i < docs.length) { f(docs(i)); i += 1 }
      (System.nanoTime - t0).toDouble / docs.length
    }
    Stats.median(per)
  }

  /** Wall seconds of `body`, median over `reps` calls. */
  def secs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime
      body
      (System.nanoTime - t0) / 1e9
    })
}

import Workload._

/** The paper's own path: a rowTag file scan, then one typed row per record
  * from 6 registered scalars + 1 attribute out of ~24 children. Its traced
  * run also probes the graft-xml sink by writing the typed rows back. */
final class XmlIngest(seed: Long) extends Workload {
  val name = "xml_ingest"
  private var spark: SparkSession = _
  private var work: File = _
  private var dir: String = _
  private var gen: Gen.Ingest = _
  private var readBackError: Option[String] = None

  private val parser = XmlParser.struct("rec") { r =>
    struct(r.attribute("id").as("id"), r.nullInt("k").as("k"),
      r.nullInt("qty").as("qty"), r.nullDecimal("price").as("price"),
      r.nullBool("ok").as("ok"), r.nullDate("ts").as("ts"),
      r.str("name").as("name"))
  }

  def setup(sp: SparkSession, w: File): Unit = {
    spark = sp
    work = w
    gen = Gen.ingest(seed)
    val d = new File(work, "ingest")
    d.mkdirs()
    gen.files.zipWithIndex.foreach { case (s, i) =>
      Files.write(new File(d, s"part-$i.xml").toPath, s.getBytes(UTF_8))
    }
    dir = d.getPath
  }

  def describe = Seq("records" -> gen.records, "files" -> gen.files.size,
    "xml_bytes" -> gen.bytes, "amp_records" -> gen.ampRecords,
    "amp_share" -> gen.ampRecords.toDouble / gen.records)
  def rows(kind: Int) = gen.records
  def bytes(kind: Int) = gen.bytes

  def run(kind: Int, spans: Spans): AnyRef = checksums(dir)

  /** Read `path` with the parser and checksum every extracted field. */
  private def checksums(path: String): Row = {
    val p = parser.read(spark, path).select(col("parsed.*"))
    p.agg(count(lit(1)), crcOf(col("id")), sum("k"), count("qty"),
      sum("qty"), (sum(col("price")) * 100).cast("long"),
      count_if(col("ok")), sum(unix_seconds(col("ts"))), crcOf(col("name")),
      count_if(col("id").isNotNull && col("k").isNotNull &&
        col("price").isNotNull && col("ok").isNotNull &&
        col("ts").isNotNull && col("name").isNotNull))
      .head()
  }

  def check(kind: Int, out: AnyRef) =
    compare(gen.expected, longs(out.asInstanceOf[Row]))

  override def probes(spans: Spans): Seq[(String, Double)] = {
    val scanBytes = gen.bytes.toDouble
    val scanS = spans.span("probe.xml_scan") {
      secs(3) {
        spark.read.format("graft-xml").option("rowTag", "rec").load(dir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    val scan = spark.read.format("graft-xml").option("rowTag", "rec").load(dir)
    val records = scan.count()
    val tasks = scan.rdd.getNumPartitions
    val docs = gen.files.flatMap(_.split("\n")).map(UTF8String.fromString)
      .toArray
    val spec = XmlFastScan.FlatSpec.of(parser.readSchema).get
    var accepted = 0L
    val ns = spans.span("probe.xml_fastscan.flat") {
      nsPerDoc(docs, 3) { d =>
        if (!(XmlFastScan.flatStruct(d, spec) eq XmlFastScan.Bail))
          accepted += 1
      }
    }
    Seq("xml_scan.s" -> scanS, "xml_scan.mb_per_s" -> scanBytes / 1e6 / scanS,
      "xml_scan.records" -> records.toDouble,
      "xml_scan.tasks" -> tasks.toDouble,
      "xml_fastscan.flat_ns_per_doc" -> ns,
      "xml_fastscan.flat_accept_ratio" -> accepted / 3.0 / docs.length) ++
      writerProbe(spans)
  }

  /** The graft-xml sink (XmlOutputWriter): the typed rows, cached, written
    * to a fresh directory vs the same rows through `noop`. The written
    * files are read back and must give the generator's checksums. */
  private def writerProbe(spans: Spans): Seq[(String, Double)] = {
    val rows = new CachedInput(parser.read(spark, dir)
      .select(col("parsed.*")).withColumnRenamed("id", "_id"))
    val df = rows.load()
    val out = new File(work, "write-back").getPath
    val noop = spans.span("probe.xml_writer.noop") {
      secs(3)(df.write.format("noop").mode("overwrite").save())
    }
    val sink = spans.span("probe.xml_writer.sink") {
      secs(3)(df.write.format("graft-xml").option("rowTag", "rec")
        .mode("overwrite").save(out))
    }
    rows.release()
    val (records, bytes) = CachedInput.scanWritten(new File(out))
    readBackError =
      if (records != gen.records)
        Some(s"write-back: $records records written, expected ${gen.records}")
      else compare(gen.expected, longs(checksums(out)))
        .map("write-back read: " + _)
    Seq("xml_writer.s" -> sink, "xml_writer.noop_s" -> noop,
      "xml_writer.bytes_per_row" -> bytes.toDouble / gen.records)
  }

  override def finalCheck(): Option[String] = readBackError
}

/** Unique multi-KB order documents held in a cached string column: an array
  * parser over the root's children (attribute-only `item` objects and
  * `q_*` wildcard scalars) under posexplode, and a per-document parser with
  * a nested object, a wildcard, a custom member and xpath_multi. Each pass
  * stamps its number on every root element (an attribute no parser reads),
  * so documents are unique across passes too and no cache can carry work
  * from one pass to the next. */
final class XmlNested(seed: Long) extends Workload {
  val name = "xml_nested"
  private var spark: SparkSession = _
  private var gen: Gen.Nested = _
  private var docs: DataFrame = _
  private var cached: CachedInput = _
  private var passNo = 0L

  private val kidsParser = XmlParser.array { c =>
    struct(
      c.obj("item") { z =>
        struct(z.attribute("sku").as("sku"), z.attribute("n").cast("int")
          .as("n"), z.attribute("p").cast(DecimalType(12, 2)).as("p"))
      }.as("item"),
      c.str("q_*").as("q"))
  }
  private val docParser = XmlParser.fragment { r =>
    struct(r.attribute("id").cast("long").as("id"),
      r.obj("cust") { c =>
        struct(c.attribute("tier").as("tier"), c.str("name").as("name"),
          c.nullInt("since").as("since"))
      }.as("cust"),
      r.str("q_*").as("q"),
      r.custom("note")(x =>
        regexp_extract(x, "code=['\"]([0-9]+)", 1).cast("int")).as("note"))
  }
  private val xpaths = Seq("/order/@id", "/order/cust/name",
    "/order/item/@sku", "/order/note/@code")
  /** What kidsParser hands the children walkers: its alternative names,
    * and value-only capture (attribute-only objects need no outer XML, the
    * `q_*` scalar needs the value). */
  private val kidPatterns = Seq("item", "q_*")

  def setup(sp: SparkSession, work: File): Unit = {
    spark = sp
    gen = Gen.nested(seed)
    import sp.implicits._
    cached = new CachedInput(gen.docs.toDF("id", "xml"))
    docs = cached.load()
  }

  override def beforePass(): Unit = cached.ensure()

  def describe = Seq("docs" -> gen.docs.size.toLong, "xml_bytes" -> gen.bytes,
    "amp_docs" -> gen.ampDocs,
    "amp_share" -> gen.ampDocs.toDouble / gen.docs.size)
  def rows(kind: Int) = gen.docs.size.toLong
  def bytes(kind: Int) = gen.bytes

  def run(kind: Int, spans: Spans): AnyRef = {
    passNo += 1
    // "<order " is 7 characters
    val stamped = docs.select(concat(lit(s"<order pass='$passNo' "),
      expr("substring(xml, 8)")).as("xml"))
    val kids = spans.span("query.kids") {
      stamped.select(posexplode(kidsParser.parse(col("xml"))))
        .agg(count(lit(1)), sum("pos"), count("col.item"),
          crcOf(col("col.item.sku")), sum("col.item.n"),
          (sum(col("col.item.p")) * 100).cast("long"), count("col.q"),
          crcOf(col("col.q")))
        .head()
    }
    val doc = spans.span("query.doc") {
      stamped.select(docParser.parse(col("xml")).as("d"),
          XPathMultiExpr.xpath_multi(col("xml"), xpaths).as("x"))
        .agg(count(lit(1)), sum("d.id"), crcOf(col("d.cust.name")),
          count_if(col("d.cust.tier") === "gold"), sum("d.cust.since"),
          crcOf(col("d.q")), sum("d.note"),
          sum(get(col("x.p0"), lit(0)).cast("long")),
          crcOf(get(col("x.p1"), lit(0))),
          crcOf(concat_ws(",", col("x.p2"))),
          sum(get(col("x.p3"), lit(0)).cast("long")))
        .head()
    }
    (kids, doc)
  }

  def check(kind: Int, out: AnyRef) = {
    val (kids, doc) = out.asInstanceOf[(Row, Row)]
    compare(gen.expectedKids, longs(kids))
      .orElse(compare(gen.expectedDoc, longs(doc)))
  }

  override def probes(spans: Spans): Seq[(String, Double)] = {
    val utf = gen.docs.map(d => UTF8String.fromString(d._2)).toArray
    val strs = gen.docs.map(_._2).toArray
    val key = XmlStax.specKey(kidPatterns, fromRoot = true, needOuter = false,
      needValue = true)
    var accepted = 0L
    val fast = spans.span("probe.xml_fastscan.children") {
      nsPerDoc(utf, 3) { d =>
        if (!(XmlFastScan.children(d, kidPatterns, key, fromRoot = true,
            needOuter = false, needValue = true) eq XmlFastScan.Bail))
          accepted += 1
      }
    }
    // documents are unique and swept in order, so the per-thread memo
    // cannot serve a repeat: every call parses
    var i = 0
    val stax = spans.span("probe.xml_stax.children") {
      nsPerDoc(utf, 3) { _ =>
        XmlStax.children(strs(i % strs.length), kidPatterns, fromRoot = true,
          key, needOuter = false, needValue = true)
        i += 1
      }
    }
    val xp = XPathMultiExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(""), xpaths)
    val xpath = spans.span("probe.xml_xpath") {
      nsPerDoc(utf, 3)(d => xp.evalDoc(d))
    }
    Seq("xml_fastscan.children_ns_per_doc" -> fast,
      "xml_fastscan.children_accept_ratio" -> accepted / 3.0 / utf.length,
      "xml_stax.children_ns_per_doc" -> stax,
      "xml_xpath.ns_per_doc" -> xpath)
  }

  override def teardown(): Unit = cached.release()
}

/** The iterative operators, each with a fixed round count, over a seeded
  * graph of planted components, planted duplicate chains and a clustered
  * vector corpus. One pass runs one operator; the timed rotation covers
  * connected components, PageRank and duplicate clusters. Louvain and
  * nnDescent (several seconds a call) run only as checked probes of the
  * traced run, so the time budget of a run holds enough passes. */
final class IterativeOps(seed: Long) extends Workload {
  val name = "iterative_ops"
  private var spark: SparkSession = _
  private var gen: Gen.Iterative = _
  private var edges, dupIds, dupPairs, corpus: DataFrame = _
  private var prTruth: Map[Long, Long] = _
  private var knnTruth: Set[(Long, Long)] = _
  private var probeErrors = Seq.empty[String]

  val PrIters = 2
  val LouvainRounds = 2
  val DedupIters = Gen.DupMaxChain - 1
  val NndRounds = 2
  /** nnDescent recall@k floor: 14 seeds measured 0.921-0.979 at the commit
    * that defined this benchmark. */
  val RecallFloor = 0.85
  import IterativeOps.ops

  override def kinds = ops.size
  override def kindName(kind: Int) = ops(kind)

  def setup(sp: SparkSession, work: File): Unit = {
    spark = sp
    gen = Gen.iterative(seed)
    import sp.implicits._
    // local relations, never cached: Tables.releaseAll between passes
    // cannot take them away
    edges = gen.edges.toDF("src", "dst")
    dupIds = gen.dupIds.toDF("id")
    dupPairs = gen.dupPairs.toDF("id_a", "id_b")
    corpus = gen.vectors.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")
    prTruth = Gen.pageRank(gen.edges, PrIters)
    knnTruth = Gen.bruteForceKnn(gen.vectors, Gen.Knn)
  }

  def describe = Seq("nodes" -> gen.component.size.toLong,
    "edges" -> gen.edges.size.toLong, "dup_ids" -> gen.dupIds.size.toLong,
    "dup_pairs" -> gen.dupPairs.size.toLong,
    "vectors" -> gen.vectors.size.toLong, "vec_dim" -> Gen.VecDim)

  def rows(kind: Int): Long = ops(kind) match {
    case "dedup_clusters" => gen.dupIds.size + gen.dupPairs.size
    case _                => gen.edges.size
  }
  /** Raw input bytes: 16 per edge or pair, 8 per id. */
  def bytes(kind: Int): Long = ops(kind) match {
    case "dedup_clusters" => 8L * gen.dupIds.size + 16L * gen.dupPairs.size
    case _                => 16L * gen.edges.size
  }

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** One operator call, its result collected. */
  private def call(op: String, spans: Spans): AnyRef = spans.span("op." + op) {
    op match {
      case "cc" => pairs(Graph.connectedComponents(edges))
      case "pagerank" => pairs(Graph.pageRankCredits(edges, PrIters))
      case "dedup_clusters" =>
        pairs(Dedup.dedupClusters(dupIds, dupPairs, DedupIters))
      case "louvain" =>
        val (labels, log) = Graph.louvainAscent(edges, LouvainRounds)
        (pairs(labels), log)
      case "nn_descent" => Ann.nnDescent(corpus, Gen.Knn, NndRounds)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    }
  }

  def run(kind: Int, spans: Spans): AnyRef = call(ops(kind), spans)

  def check(kind: Int, out: AnyRef): Option[String] = checkOp(ops(kind), out)

  private def checkOp(op: String, out: AnyRef): Option[String] = op match {
    case "cc" => mapDiff("components", gen.component, out)
    case "pagerank" => mapDiff("pagerank credits", prTruth, out)
    case "dedup_clusters" => mapDiff("duplicate clusters", gen.dupCluster, out)
    case "louvain" =>
      val (labels, log) = out.asInstanceOf[(Map[Long, Long],
        Seq[Graph.LouvainRound])]
      // labels travel only along edges: a community never spans two
      // planted components, and the accept guard keeps Q non-decreasing
      val spanning = labels.groupBy(_._2).values
        .count(c => c.keys.map(gen.component).toSet.size > 1)
      val qs = log.map(_.qNum)
      if (labels.keySet != gen.component.keySet)
        Some(s"louvain labelled ${labels.size} of ${gen.component.size} nodes")
      else if (spanning > 0)
        Some(s"$spanning communities span planted components")
      else if (qs.zip(qs.drop(1)).exists { case (a, b) => b < a })
        Some(s"louvain Q decreased: $qs")
      else None
    case "nn_descent" =>
      val got = out.asInstanceOf[Set[(Long, Long)]]
      val recall = got.count(knnTruth.contains).toDouble / knnTruth.size
      if (recall < RecallFloor)
        Some(f"nnDescent recall $recall%.3f < $RecallFloor")
      else None
  }

  private def mapDiff(what: String, want: Map[Long, Long], out: AnyRef) = {
    val got = out.asInstanceOf[Map[Long, Long]]
    val bad = want.count { case (k, v) => !got.get(k).contains(v) }
    if (bad == 0 && got.size == want.size) None
    else Some(s"$what: $bad of ${want.size} wrong, ${got.size} returned")
  }

  /** Free the staged rounds the last pass left behind (dedupClusters also
    * persists its edge list); this workload caches nothing of its own. */
  override def beforePass(): Unit = {
    spark.catalog.clearCache()
    graft.Tables.releaseAll(spark)
  }

  /** Every operator: a warm-up call, then a traced one, each checked;
    * the operators.* metrics come from the spans. */
  override def probes(spans: Spans): Seq[(String, Double)] = {
    for (op <- IterativeOps.allOps; traced <- Seq(false, true)) {
      beforePass()
      val out = call(op, if (traced) spans else NoSpans)
      checkOp(op, out).foreach(e => probeErrors :+= s"$op: $e")
    }
    Nil
  }

  override def finalCheck(): Option[String] =
    probeErrors.headOption.map(_ => probeErrors.mkString("; "))
}

object IterativeOps {
  /** The timed rotation. */
  val ops = Seq("cc", "pagerank", "dedup_clusters")
  val allOps = Seq("cc", "louvain", "pagerank", "dedup_clusters", "nn_descent")
}

/** A cached workload input. Tables.releaseAll unpersists every persistent
  * RDD in the context, so before each pass the input is checked and, if its
  * RDDs were dropped, re-cached untimed: no pass reads an uncached input. */
final class CachedInput(df: DataFrame) {
  private val sc = df.sparkSession.sparkContext
  private var ids = Set.empty[Int]

  def load(): DataFrame = {
    val before = sc.getPersistentRDDs.keySet
    df.persist(StorageLevel.MEMORY_ONLY).count()
    ids = sc.getPersistentRDDs.keySet.toSet -- before
    df
  }

  def ensure(): Unit =
    if (ids.isEmpty || !ids.forall(sc.getPersistentRDDs.contains)) {
      df.unpersist(blocking = true)
      load()
      CachedInput.recached += 1
    }

  def release(): Unit = df.unpersist(blocking = true)
}

object CachedInput {
  /** Re-caches in this JVM; reported with the run environment. */
  var recached = 0

  /** (records, bytes) written under `dir`: one record per line. */
  def scanWritten(dir: File): (Long, Long) = {
    var records, bytes = 0L
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .foreach { f =>
        val b = Files.readAllBytes(f.toPath)
        bytes += b.length
        var i = 0
        var lineStart = true
        while (i < b.length) {
          if (lineStart && b(i) == '<' && i + 4 < b.length && b(i + 1) == 'r' &&
              b(i + 2) == 'e' && b(i + 3) == 'c' &&
              (b(i + 4) == ' ' || b(i + 4) == '>' || b(i + 4) == '/'))
            records += 1
          lineStart = b(i) == '\n'
          i += 1
        }
      }
    (records, bytes)
  }
}
