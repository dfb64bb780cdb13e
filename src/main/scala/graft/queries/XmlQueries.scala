package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.xml.XmlParser

/** Correctness-gate queries for the XML engine (SURVEY.md §2.1 ops 1-13).
  *
  * Pattern: each query builds XML strings FROM the parquet tables inside the
  * plan (deterministic, escapable-free columns), parses them back through the
  * graft.xml DSL, and projects typed results; the DuckDB oracle computes the
  * same output directly from the tables. A hash match therefore certifies the
  * full parse pipeline (build -> parse -> extract) end to end.
  *
  * Scale: XML construction + parsing is per-row and embarrassingly
  * parallel. The CPU-heavy queries insert one round-robin repartition
  * (Tables.spread) between the scan and the parse: the test parquet is
  * single-row-group, so without it the whole parse stage would pin to one
  * task — at production scale the barrier degenerates to a cheap rebalance.
  */
object XmlQueries {

  private def s(c: Column): Column = c.cast("string")
  private def d2s(c: Column): Column = dec(c).cast("string")

  /** Ops #1/#2/#6 (scan, single-record parse, scalar casts incl bool) and
    * #7 (attribute): per-order document, every scalar parser exercised. */
  def x1ScanCast(sp: SparkSession, dir: String): DataFrame = {
    val o = orders(sp, dir)
    val xml = concat(
      lit("<order status='"), col("o_orderstatus"), lit("'><id>"),
      s(col("o_orderkey")), lit("</id><total>"), d2s(col("o_totalprice")),
      lit("</total><odate>"), date_format(col("o_orderdate"), "yyyy-MM-dd"),
      lit("</odate><open>"), s(col("o_orderstatus") === "O"),
      lit("</open><yr>"), year(col("o_orderdate")).cast("string"),
      lit("</yr><prio>"), col("o_orderpriority"), lit("</prio></order>"))
    val parser = XmlParser.struct("order") { a =>
      struct(
        // ids read str->long: the strict Int parser (Convert.ToInt32
        // parity) overflows once orderkeys pass 2^31 (sf>~35, or a
        // key-shifted scale probe); strict-Int coverage stays on the
        // BOUNDED <yr> element below
        a.str("id").cast("long").as("id"),
        a.attribute("status").as("status"),
        a.nullDecimal("total").cast("double").as("total"),
        a.nullDate("odate").cast("date").as("odate"),
        a.nullBool("open").as("open"),
        a.int("yr").as("yr"),
        a.str("prio").as("prio"),
        a.nullInt("nope").as("missing_int"))
    }
    // materialize the built string ONCE: passing the concat Column straight
    // into parse() would duplicate it (and its date_format) into every
    // bound member's null guard in the single optimized Project
    // spread: the single-row-group source would otherwise pin the whole
    // parse stage to one task (see Tables.spread)
    spread(o.select(xml.as("__xml")))
      .select(parser.parse(col("__xml")).as("r"))
      .select("r.*").orderBy("id")
  }

  val x1Sql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS id, o_orderstatus AS status,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
      |  CAST(o_orderdate AS DATE) AS odate,
      |  (o_orderstatus = 'O') AS open,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |  o_orderpriority AS prio,
      |  CAST(NULL AS INT) AS missing_int
      |FROM orders ORDER BY id""".stripMargin

  /** Ops #3/#5 (array parse, per-child emit, document order) + nested obj +
    * child attributes: one doc per order with its lineitems as repeated
    * children, exploded back to rows with ordinals. */
  def x2ArrayOrder(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
    val docs = li
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber"), dec(col("l_quantity")).as("qty")))).as("items"))
      .select(col("l_orderkey"),
        concat(lit("<o>"),
          concat_ws("", transform(col("items"), x =>
            concat(lit("<item ln='"), s(x.getField("l_linenumber")),
              lit("'>"), s(x.getField("qty")), lit("</item>")))),
          lit("</o>")).as("xml"))
    val parser = XmlParser.array { c =>
      c.obj("item") { z =>
        struct(
          z.attribute("ln").cast("int").as("ln"),
          z.tag.as("tag"))
      }
    }
    docs.select(col("l_orderkey").as("okey"),
        parser.parse(col("xml")).as("items"))
      .select(col("okey"), posexplode(col("items")))
      .select(col("okey"), col("pos").cast("int").as("pos"),
        col("col.ln").as("ln"), col("col.tag").as("tag"))
      .orderBy("okey", "pos")
  }

  val x2Sql: String =
    """SELECT l_orderkey AS okey,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1 AS INT) AS pos,
      |  CAST(l_linenumber AS INT) AS ln,
      |  'item' AS tag
      |FROM lineitem
      |ORDER BY okey, pos""".stripMargin

  /** Ops #8/#9 (tag capture + wildcard glob dispatch): child names derived
    * from data (`q_<returnflag>`), recovered via `q_*` + Tag(). */
  def x3WildcardTag(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
    val xml = concat(
      lit("<r><id>"),
      s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("</id><vals><q_"), col("l_returnflag"), lit(">"),
      d2s(col("l_quantity")), lit("</q_"), col("l_returnflag"),
      lit("></vals></r>"))
    val parser = XmlParser.struct("r") { a =>
      struct(
        a.str("id").cast("long").as("id"),
        a.array("vals") { c =>
          struct(c.tag.as("tag"),
            c.nullDecimal("q_*").cast("double").as("qty"))
        }.as("vals"))
    }
    // single-element arrays: element 0 is the natural projection (x2
    // covers the explode path over parsed arrays)
    spread(li.select(xml.as("__xml"))) // build once + spread (see x1)
      .select(parser.parse(col("__xml")).as("r"))
      .select(col("r.id").as("id"), get(col("r.vals"), lit(0)).as("v"))
      .select(col("id"), col("v.tag").as("tag"), col("v.qty").as("qty"))
      .orderBy("id")
  }

  val x3Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  'q_' || l_returnflag AS tag,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty
      |FROM lineitem ORDER BY id""".stripMargin

  /** Ops #4/#12 (first-wins duplicate slots; computed-column alternatives
    * with coalesce + null arithmetic, Test1.cs:187-209). */
  def x4FirstWinsAlt(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
    val even = (col("l_linenumber") % 2) === 0
    val xml = concat(
      lit("<m><id>"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("</id><v>"), d2s(col("l_quantity")), lit("</v><v>"),
      d2s(col("l_extendedprice")), lit("</v>"),
      when(even, concat(lit("<item1>"), s(col("l_linenumber")),
        lit("</item1>")))
        .otherwise(concat(lit("<item2>"), s(col("l_linenumber")),
          lit("</item2>"))),
      lit("</m>"))
    val parser = XmlParser.struct("m") { a =>
      struct(
        a.str("id").cast("long").as("id"),
        a.nullDecimal("v").cast("double").as("first_v"),
        a.array("missing_arr")(c => c.nullInt("zz")).as("marr"))
    }
    // alternatives over the whole element's children, reference-style
    val altParser = XmlParser.array { c =>
      coalesce(c.nullInt("item1"), c.nullInt("item2") * 10)
    }
    spread(li.select(xml.as("__xml"))) // build once + spread (see x1)
      .select(parser.parse(col("__xml")).as("r"),
        altParser.parse(col("__xml")).as("alts"))
      .select(col("r.id").as("id"), col("r.first_v").as("first_v"),
        col("r.marr").as("marr"), get(col("alts"), lit(0)).as("alt"))
      .orderBy("id")
  }

  /** Micro-bench split halves of x4 (XmlMicroBench x4_struct_noop /
    * x4_alt_noop): same document, one parse each. Not gates. */
  def x4StructOnly(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
    val even = (col("l_linenumber") % 2) === 0
    val xml = concat(
      lit("<m><id>"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("</id><v>"), d2s(col("l_quantity")), lit("</v><v>"),
      d2s(col("l_extendedprice")), lit("</v>"),
      when(even, concat(lit("<item1>"), s(col("l_linenumber")),
        lit("</item1>")))
        .otherwise(concat(lit("<item2>"), s(col("l_linenumber")),
          lit("</item2>"))),
      lit("</m>"))
    val parser = XmlParser.struct("m") { a =>
      struct(
        a.str("id").cast("long").as("id"),
        a.nullDecimal("v").cast("double").as("first_v"),
        a.array("missing_arr")(c => c.nullInt("zz")).as("marr"))
    }
    spread(li.select(xml.as("__xml")))
      .select(parser.parse(col("__xml")).as("r"))
      .select(col("r.id").as("id"), col("r.first_v").as("first_v"),
        col("r.marr").as("marr"))
  }

  def x4AltOnly(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
    val even = (col("l_linenumber") % 2) === 0
    val xml = concat(
      lit("<m><id>"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("</id><v>"), d2s(col("l_quantity")), lit("</v><v>"),
      d2s(col("l_extendedprice")), lit("</v>"),
      when(even, concat(lit("<item1>"), s(col("l_linenumber")),
        lit("</item1>")))
        .otherwise(concat(lit("<item2>"), s(col("l_linenumber")),
          lit("</item2>"))),
      lit("</m>"))
    val altParser = XmlParser.array { c =>
      coalesce(c.nullInt("item1"), c.nullInt("item2") * 10)
    }
    spread(li.select(xml.as("__xml")))
      .select(altParser.parse(col("__xml")).as("alts"))
      .select(get(col("alts"), lit(0)).as("alt"))
  }

  val x4Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS first_v,
      |  CAST(NULL AS INT[]) AS marr,
      |  CAST(CASE WHEN l_linenumber % 2 = 0 THEN l_linenumber
      |            ELSE l_linenumber * 10 END AS INT) AS alt
      |FROM lineitem ORDER BY id""".stripMargin

  /** Op #11 (Custom UDF escape hatch / composite parser reuse,
    * Test1.cs:100-185): a standalone fragment parser embedded via custom. */
  def x5CustomComposite(sp: SparkSession, dir: String): DataFrame = {
    val o = orders(sp, dir)
    val custFragment = XmlParser.fragment { a =>
      struct(
        a.str("name").as("name"),
        a.nullInt("nk").as("nk"),
        a.tag.as("tag"))
    }
    val xml = concat(
      lit("<order><id>"), s(col("o_orderkey")), lit("</id><cust><name>C"),
      s(col("o_custkey")), lit("</name><nk>"), s(col("o_custkey") % 25),
      lit("</nk></cust></order>"))
    val parser = XmlParser.struct("order") { a =>
      struct(
        a.str("id").cast("long").as("id"),
        a.custom("cust")(custFragment.parse).as("c"))
    }
    spread(o.select(xml.as("__xml"))) // build once + spread (see x1)
      .select(parser.parse(col("__xml")).as("r"))
      .select(col("r.id").as("id"), col("r.c.name").as("name"),
        col("r.c.nk").as("nk"), col("r.c.tag").as("tag"))
      .orderBy("id")
  }

  val x5Sql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS id,
      |  'C' || CAST(o_custkey AS VARCHAR) AS name,
      |  CAST(o_custkey % 25 AS INT) AS nk,
      |  'cust' AS tag
      |FROM orders ORDER BY id""".stripMargin

  /** Op #13 + §1.2 String semantics: mixed content round-trips inline child
    * markup (native serialization `<b></b>`). */
  def x6MixedContent(sp: SparkSession, dir: String): DataFrame = {
    val docs = documents(sp, dir)
    val w1 = get(split(col("text"), " "), lit(0))
    val w2 = get(split(col("text"), " "), lit(1))
    val xml = concat(lit("<d><t>"), w1, lit("<b/>"), w2, lit("</t></d>"))
    val parser = XmlParser.struct("d")(a => a.str("t"))
    docs.select(col("doc_id"), xml.as("__xml")) // build the string once
      .select(col("doc_id"), parser.parse(col("__xml")).as("mixed"))
      .orderBy("doc_id")
  }

  val x6Sql: String =
    """SELECT doc_id,
      |  split_part(text, ' ', 1) || '<b></b>' || split_part(text, ' ', 2) AS mixed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Ops #1/#9 at the FILE level: a wildcard spec read from a multi-file
    * directory on disk through the `graft-xml` FileFormat (the splittable
    * rowTag scanner — the distributed form of the reference's glob
    * dispatch, Parser.cs:175-187). The XML is first materialized to
    * text files from `orders`, so the oracle can compute the same result
    * straight from the table. */
  def x7FileWildcard(sp: SparkSession, dir: String): DataFrame = {
    val o = orders(sp, dir)
    val xml = concat(
      lit("<rec><id>"), s(col("o_orderkey")), lit("</id><vals><st_"),
      col("o_orderstatus"), lit(">"), d2s(col("o_totalprice")),
      lit("</st_"), col("o_orderstatus"), lit("></vals></rec>"))
    val outDir = graft.Tables.scratchDir("graft-x7") // deleted on exit
    // spread the write: the 1-partition scan would otherwise serialize
    // both the file write and (single big file) the read-back
    spread(o.select(xml.as("value"))).write.mode("overwrite").text(outDir)
    val parser = XmlParser.struct("rec") { a =>
      struct(
        a.str("id").cast("long").as("id"),
        a.array("vals") { c =>
          struct(c.tag.as("tag"),
            c.nullDecimal("st_*").cast("double").as("tot"))
        }.as("vals"))
    }
    parser.read(sp, outDir)
      .select(col("parsed.id").as("id"),
        get(col("parsed.vals"), lit(0)).as("v"))
      .select(col("id"), col("v.tag").as("tag"), col("v.tot").as("tot"))
      .orderBy("id")
  }

  val x7Sql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS id,
      |  'st_' || o_orderstatus AS tag,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS tot
      |FROM orders ORDER BY id""".stripMargin

  /** x7's file-level read over GZIPPED shards: the text is written with
    * gzip compression (many `part-*.txt.gz` files), and the rowTag scanner
    * reads each through its codec as a single split
    * (the `graft-xml` FileFormat's `isSplitable` = false for
    * compressed paths — serial per file, parallel across files, the
    * standard Hadoop contract for non-splittable codecs). The oracle
    * computes the same result straight from `customer`, so a hash match
    * proves the decompressed byte stream fed the same scan. */
  def x9GzipWildcard(sp: SparkSession, dir: String): DataFrame = {
    val c = customer(sp, dir)
    val xml = concat(
      lit("<rec><id>"), s(col("c_custkey")), lit("</id><m><seg_"),
      col("c_mktsegment"), lit(">"), d2s(col("c_acctbal")),
      lit("</seg_"), col("c_mktsegment"), lit("></m></rec>"))
    val outDir = graft.Tables.scratchDir("graft-x9") // deleted on exit
    // spread -> many small .gz shards: a non-splittable codec's scale
    // story IS the file count
    spread(c.select(xml.as("value"))).write.mode("overwrite")
      .option("compression", "gzip").text(outDir)
    val parser = XmlParser.struct("rec") { a =>
      struct(
        a.str("id").cast("long").as("id"),
        a.array("m") { cc =>
          struct(cc.tag.as("tag"),
            cc.nullDecimal("seg_*").cast("double").as("bal"))
        }.as("m"))
    }
    parser.read(sp, outDir)
      .select(col("parsed.id").as("id"),
        get(col("parsed.m"), lit(0)).as("v"))
      .select(col("id"), col("v.tag").as("tag"), col("v.bal").as("bal"))
      .orderBy("id")
  }

  val x9Sql: String =
    """SELECT CAST(c_custkey AS BIGINT) AS id,
      |  'seg_' || c_mktsegment AS tag,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
      |FROM customer ORDER BY id""".stripMargin

  /** Op #5 through the UDTF surface (SURVEY §2.2 UDAF/UDTF row): the same
    * per-order documents as x2, exploded by the custom Catalyst `Generator`
    * XmlExplodeChildren — rows stream out of the Generate node without an
    * intermediate array value. */
  def x8Generator(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir)
    val docs = li
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber"), dec(col("l_quantity")).as("qty")))).as("items"))
      .select(col("l_orderkey").as("okey"),
        concat(lit("<o>"),
          concat_ws("", transform(col("items"), x =>
            concat(lit("<item ln='"), s(x.getField("l_linenumber")),
              lit("'>"), s(x.getField("qty")), lit("</item>")))),
          lit("</o>")).as("xml"))
    docs.select(col("okey"),
        graft.xml.XmlExplodeChildren.xml_explode_children(
          col("xml"), Seq("item"), fromRoot = true,
          needOuter = false)) // the query reads pos/tag/value, never xml
      .select(col("okey"), col("pos").cast("int").as("pos"), col("tag"),
        col("value").cast("double").as("qty"))
      .orderBy("okey", "pos")
  }

  // pos order = sort_array over (l_linenumber, qty) structs, so the oracle
  // must tie-break duplicate line numbers by quantity too
  val x8Sql: String =
    """SELECT l_orderkey AS okey,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber, CAST(l_quantity AS DECIMAL(18,2))) - 1 AS INT) AS pos,
      |  'item' AS tag,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty
      |FROM lineitem
      |ORDER BY okey, pos""".stripMargin

  /** Malformed-input robustness (PERMISSIVE posture): every 10th order's
    * document is truncated to the constant prefix "&lt;rec&gt;&lt;id&gt;"
    * (unclosed tags, no salvageable field). Both engine paths must turn
    * exactly those rows into nulls — the wildcard member runs the StAX
    * extractor (null children on parse error), the exact member runs
    * from_xml (PERMISSIVE null fields) — and no malformed document may
    * kill the job or leak a partial value. The oracle recomputes the
    * per-status parse/fail counts straight from the modulus. At 100 TB
    * some shards ARE corrupt; dropping-not-crashing is the production
    * contract. */
  def x10MalformedPermissive(sp: SparkSession, dir: String): DataFrame = {
    val o = orders(sp, dir)
    val good = concat(
      lit("<rec><id>"), s(col("o_orderkey")), lit("</id><t_"),
      col("o_orderstatus"), lit(">"), d2s(col("o_totalprice")),
      lit("</t_"), col("o_orderstatus"), lit("></rec>"))
    val xml = when(col("o_orderkey") % 10 === 0,
      good.substr(lit(1), lit(9))) // "<rec><id>" — definitely malformed
      .otherwise(good)
    val parser = XmlParser.struct("rec") { a =>
      struct(a.nullInt("id").as("id"), a.str("t_*").as("tot"))
    }
    spread(o.select(col("o_orderstatus").as("status"), xml.as("__xml")))
      .select(col("status"), parser.parse(col("__xml")).as("p"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("p.id")).as("n_id"),
        count(col("p.tot")).as("n_tot"))
      .orderBy(col("status"))
  }

  val x10Sql: String =
    """SELECT o_orderstatus AS status, count(*) AS n_docs,
      |  CAST(SUM(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_id,
      |  CAST(SUM(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tot
      |FROM orders GROUP BY status ORDER BY status""".stripMargin

  /** Write-path round trip through the `graft-xml` SINK
    * ([[org.apache.spark.sql.graft.XmlOutputWriter]]): orders + their
    * lineitem numbers are written as XML (attribute via `_status`, decimal
    * / date / free-text scalars, an array under a container element), read
    * back through the splittable rowTag scan, and re-extracted with the
    * DSL. The oracle computes the same result straight from the parquet
    * tables, so a hash match certifies write -> scan -> parse fidelity —
    * including XML escaping of the comment text and array order. The
    * reference has no sink (Parser.cs:207 materializes in-memory objects);
    * this closes the library's write side. */
  def x11WriteRoundtrip(sp: SparkSession, dir: String): DataFrame = {
    val o = orders(sp, dir)
    val lns = lineitem(sp, dir).groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber").cast("int"))).as("ln"))
    val toWrite = o.join(lns, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_orderkey").cast("long").as("id"),
        col("o_orderstatus").as("_status"), // -> status='..' attribute
        dec(col("o_totalprice")).as("total"),
        col("o_orderdate").cast("date").as("odate"),
        // free text with XML-special chars: exercises escaping round-trip
        concat(col("o_orderpriority"), lit(" <&> "),
          col("o_orderpriority")).as("comment"),
        struct(col("ln")).as("lns")) // container: <lns><ln>1</ln>..</lns>
    val outDir = graft.Tables.scratchDir("graft-x11") // deleted on exit
    spread(toWrite).write.mode("overwrite").format("graft-xml")
      .option("rowTag", "o").save(outDir)
    val parser = XmlParser.struct("o") { a =>
      struct(
        // str->long, not a.int: the strict Int parser (reference parity,
        // Convert.ToInt32) overflows once orderkeys pass 2^31 — at sf>~35
        // (or the key-shifted sf1 scale probe) real ids do
        a.str("id").cast("long").as("id"),
        a.attribute("status").as("status"),
        a.nullDecimal("total").cast("double").as("total"),
        a.nullDate("odate").cast("date").as("odate"),
        a.str("comment").as("comment"),
        a.array("lns")(c => c.nullInt("ln")).as("ln"))
    }
    parser.read(sp, outDir)
      .select(col("parsed.id").as("id"), col("parsed.status").as("status"),
        col("parsed.total").as("total"), col("parsed.odate").as("odate"),
        col("parsed.comment").as("comment"),
        size(col("parsed.ln")).as("n_items"),
        aggregate(col("parsed.ln"), lit(0), (acc, x) => acc + x).as("sum_ln"))
      .orderBy("id")
  }

  val x11Sql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS id, o_orderstatus AS status,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
      |  CAST(o_orderdate AS DATE) AS odate,
      |  o_orderpriority || ' <&> ' || o_orderpriority AS comment,
      |  CAST(count(*) AS INT) AS n_items,
      |  CAST(SUM(l_linenumber) AS INT) AS sum_ln
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY id, status, total, odate, comment
      |ORDER BY id""".stripMargin

  /** XSD-DRIVEN schema derivation: the record schema comes from an XML
    * Schema document via Spark's `XSDToSchema` (shipped with the native
    * XML source) instead of a hand-built StructType — the
    * contract-first integration path when a feed publishes an .xsd. The
    * derived schema drives `from_xml` over per-order documents built from
    * the tables; a type-sensitive aggregate (sum of xs:decimal totals by
    * priority) proves xs:int/xs:decimal/xs:string all bound with the
    * right Catalyst types. The derived StructType then drives a
    * SCHEMA-CONSTRUCTED `XmlParser` spec (field name + Catalyst type →
    * DSL member), so the parse runs on the engine's flat-record byte
    * fast path, not the interpreted `from_xml` evaluator — XSD as the
    * contract, graft as the executor. Per-row parse, zero shuffle before
    * the final group-by. */
  def x12XsdSchema(sp: SparkSession, dir: String): DataFrame = {
    val xsd =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="order">
        |    <xs:complexType>
        |      <xs:sequence>
        |        <xs:element name="id" type="xs:int"/>
        |        <xs:element name="total" type="xs:decimal"/>
        |        <xs:element name="prio" type="xs:string"/>
        |      </xs:sequence>
        |    </xs:complexType>
        |  </xs:element>
        |</xs:schema>""".stripMargin
    val derived = org.apache.spark.sql.execution.datasources.xml.XSDToSchema
      .read(xsd)
    val rowSchema = derived("order").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val o = orders(sp, dir)
    val xml = concat(
      lit("<order><id>"), s(col("o_orderkey")), lit("</id><total>"),
      d2s(col("o_totalprice")), lit("</total><prio>"),
      col("o_orderpriority"), lit("</prio></order>"))
    // schema-driven spec: one DSL member per derived field, typed by the
    // Catalyst type the XSD mapped to
    val parser = XmlParser.struct("order") { a =>
      struct(rowSchema.fields.map { f =>
        (f.dataType match {
          case org.apache.spark.sql.types.IntegerType => a.nullInt(f.name)
          case _: org.apache.spark.sql.types.DecimalType => a.nullDecimal(f.name)
          case _ => a.str(f.name)
        }).as(f.name)
      }.toSeq: _*)
    }
    spread(o.select(xml.as("__xml")))
      .select(parser.parse(col("__xml")).as("r"))
      .groupBy(col("r.prio").as("prio"))
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("r.total")))).as("sum_total"))
      .orderBy("prio")
  }

  val x12Sql: String =
    """SELECT o_orderpriority AS prio, count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_total
      |FROM orders GROUP BY prio ORDER BY prio""".stripMargin

  /** The XPath expression family (SURVEY §0: the reference's README
    * explicitly lists "no XPath selectors" as a non-feature — Spark
    * ships the whole `xpath_*` Catalyst family, so the engine exposes
    * ad-hoc XPath as a BONUS surface next to the compiled DSL). Same
    * generated document shape as x3.
    *
    * Extraction runs through `xpath_multi` ([[graft.xml.XPathMultiExpr]]):
    * Spark's own `xpath_int/string/double/xpath` each build a fresh DTM
    * per CALL (4 calls = 4 re-parses per row through allocation-heavy
    * evaluator machinery), which the round-10 driver bench measured
    * collapsing 30-200x under load — the scale-killer for any multi-field
    * XPath extraction. `xpath_multi` parses once per row and answers all
    * four paths from that single tree; value/positional/text() parity
    * with the built-in evaluator is pinned in XPathMultiSpec (which keeps
    * the genuine `xpath_*` calls, on spec-sized data where per-row DTM
    * churn cannot hurt). The oracle recomputes every value from the base
    * columns, so the gate certifies build -> single-parse -> multi-path
    * extraction end to end. The compiled-DSL path (x3) stays the
    * production form; this gate samples 1/16 of the rows (the semantics
    * pin needs coverage, not corpus throughput; x3 carries the
    * full-scan load). */
  def x13XpathFamily(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 0)
    val xml = concat(
      lit("<r><id>"),
      s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("</id><vals><q_"), col("l_returnflag"), lit(">"),
      d2s(col("l_quantity")), lit("</q_"), col("l_returnflag"),
      lit("></vals></r>"))
    // materialize the struct ONCE per row (alias referenced by several
    // members -> CollapseProject keeps the projections separate, same
    // pattern as x1's parse)
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"),
        Seq("/r/id", "/r/vals/*[1]", "/r/vals/*/text()")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).as("qty_s"),
        get(col("m.p1"), lit(0)).cast("double").as("qty"),
        size(col("m.p2")).as("n_vals"))
      .orderBy("id")
  }

  val x13Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS qty_s,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty,
      |  CAST(1 AS INT) AS n_vals
      |FROM lineitem WHERE l_orderkey % 16 = 0 ORDER BY id""".stripMargin

  /** The ATTRIBUTE axis of the bonus XPath surface — `@attr` terminal
    * steps through the same single-parse `xpath_multi` (x13's engine;
    * the built-in family re-parses per call). Attribute-heavy layouts
    * are the OTHER common XML shape (values in attributes, not child
    * text): one `<v>` carries `f`/`q`, a second carries only `t`, so
    * the gate pins that an element lacking the attribute contributes
    * NOTHING to the node-set (`n_f` = 1, `n_missing` = 0) while
    * positional steps compose with `@` ([2]/@t). Exact list parity
    * with the built-in `xpath()` holds for attribute paths (DOM Attr
    * nodes DO carry values, unlike its element-path NULL artifact) —
    * pinned in XPathMultiSpec. Oracle recomputes from base columns.
    * 1/16 sample, disjoint from x13's. */
  def x14XpathAttrs(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 1)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><v f='"), col("l_returnflag"),
      lit("' q='"), d2s(col("l_quantity")),
      lit("'/><v t='"), d2s(col("l_tax")), lit("'/></r>"))
    graft.Tables.spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"),
        Seq("/r/@id", "/r/v/@f", "/r/v/@q", "/r/v[2]/@t", "/r/v/@missing"))
        .as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).as("flag"),
        size(col("m.p1")).as("n_f"),
        get(col("m.p2"), lit(0)).cast("double").as("qty"),
        get(col("m.p3"), lit(0)).cast("double").as("tax"),
        size(col("m.p4")).as("n_missing"))
      .orderBy("id")
  }

  val x14Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  l_returnflag AS flag, CAST(1 AS INT) AS n_f,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty,
      |  CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) AS tax,
      |  CAST(0 AS INT) AS n_missing
      |FROM lineitem WHERE l_orderkey % 16 = 1 ORDER BY id""".stripMargin

  /** The DESCENDANT axis of the bonus XPath surface — `//name` steps
    * through the same single-parse `xpath_multi`. `//` is the most-used
    * XPath feature on documents whose nesting depth varies (the exact
    * reason users reach for XPath over a compiled projection): the gate
    * buries the same `<v>` element at THREE different depths plus a
    * two-sibling group, and pins that `//v` finds all five in document
    * order, `//v[2]` keeps XPath's per-parent sibling-position meaning
    * (the descendant-or-self expansion — NOT "2nd match in document
    * order"), and a mid-path `/r/d//v` scopes the walk to a subtree.
    * Built-in parity incl. node-set dedup is pinned in XPathMultiSpec;
    * the oracle recomputes every value from base columns. 1/16 sample,
    * disjoint from x13/x14's. */
  def x15XpathDescendant(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 2)
    val xml = concat(
      lit("<r><g><v>"), d2s(col("l_quantity")),
      lit("</v><v>"), col("l_returnflag"),
      lit("</v></g><d><e><v>"), d2s(col("l_extendedprice")),
      lit("</v></e></d><v>"), s(col("l_linenumber")),
      lit("</v><d><v>"), d2s(col("l_tax")), lit("</v></d><id>"),
      s(col("l_orderkey") * 10 + col("l_linenumber")), lit("</id></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"),
        Seq("/r/id", "//v", "//v[2]", "/r/d//v", "//e/v")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        size(col("m.p1")).as("n_all"),
        get(col("m.p1"), lit(0)).cast("double").as("qty"),
        get(col("m.p2"), lit(0)).as("flag"),
        size(col("m.p3")).as("n_under_d"),
        get(col("m.p3"), lit(0)).cast("double").as("price"),
        get(col("m.p3"), lit(1)).cast("double").as("tax"),
        get(col("m.p4"), lit(0)).cast("double").as("price_e"))
      .orderBy("id")
  }

  val x15Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(5 AS INT) AS n_all,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty,
      |  l_returnflag AS flag,
      |  CAST(2 AS INT) AS n_under_d,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |  CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) AS tax,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_e
      |FROM lineitem WHERE l_orderkey % 16 = 2 ORDER BY id""".stripMargin

  /** The UNION operator of the bonus XPath surface — `p1 | p2` through
    * the same single-parse `xpath_multi`: XPath 1.0 unions are NODE-SET
    * unions in DOCUMENT ORDER with duplicates removed, which is exactly
    * what this gate pins — two disjoint branches interleave by document
    * position (not branch order: `/r/t | /r/h` still leads with `h`),
    * overlapping branches (`//h | /r/h`) surface shared nodes ONCE, and
    * a branch mixing depths (`//h | /r/m`) emits the container's
    * string-value at its own document position between the h's. Union
    * branches are element-terminal in this subset (text()/@ unions need
    * inter-sibling doc-order the element tree doesn't track — rejected
    * driver-side, spec-pinned). Built-in `xpath()` parity is pinned in
    * XPathMultiSpec; the oracle recomputes every value and count from
    * base columns. 1/16 sample, disjoint from x13/x14/x15's. */
  def x16XpathUnion(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 3)
    val xml = concat(
      lit("<r><h>"), col("l_returnflag"),
      lit("</h><m><h>"), d2s(col("l_quantity")),
      lit("</h></m><t>"), col("l_linestatus"),
      lit("</t><id>"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("</id></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"),
        Seq("/r/id",
          "/r/h | /r/t",
          "//h | /r/m",
          "//h | /r/h",
          "/r/t | /r/h")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).as("flag"),
        get(col("m.p1"), lit(1)).as("status"),
        size(col("m.p1")).as("n_ht"),
        size(col("m.p2")).as("n_hm"),
        get(col("m.p2"), lit(1)).cast("double").as("qty_m"),
        size(col("m.p3")).as("n_dedup"),
        get(col("m.p4"), lit(0)).as("first_rev"))
      .orderBy("id")
  }

  val x16Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  l_returnflag AS flag, l_linestatus AS status,
      |  CAST(2 AS INT) AS n_ht,
      |  CAST(3 AS INT) AS n_hm,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty_m,
      |  CAST(2 AS INT) AS n_dedup,
      |  l_returnflag AS first_rev
      |FROM lineitem WHERE l_orderkey % 16 = 3 ORDER BY id""".stripMargin

  /** ATTRIBUTE-EQUALITY PREDICATES — `step[@a='v']` through the
    * single-parse `xpath_multi`: the select-by-attribute-value idiom
    * (`//item[@type='x']`) that makes XPath usable on attribute-keyed
    * layouts, where a positional predicate cannot express "the item
    * whose type says X" because element order varies. The gate's layout
    * keys three `<it>` elements by a `t` attribute — one keyed by the
    * row's OWN return flag, one by a constant, one nested a level down
    * and keyed by the line status — and pins: constant-key selection,
    * data-dependent presence (the `[@t='R']` match is empty unless the
    * flag IS R — get() on the empty node-set surfaces NULL, replayed by
    * the oracle's CASE), predicate composition with the descendant axis
    * and the `*` wildcard, and predicate+`@attr` emission. Grammar
    * enforces ONE predicate per step (positional OR attribute);
    * built-in xpath() parity is pinned in XPathMultiSpec. 1/16 sample
    * disjoint from x13-x16's. */
  def x17XpathAttrPredicate(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 4)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it t='"), col("l_returnflag"),
      lit("'><q>"), d2s(col("l_quantity")),
      lit("</q></it><it t='X'><q>"), d2s(col("l_extendedprice")),
      lit("</q></it><s><it t='"), col("l_linestatus"),
      lit("'><q>"), d2s(col("l_tax")), lit("</q></it></s></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[@t='X']/q",
        "/r/it[@t='R']/q",
        "//it[@t='O']/q",
        "/r/*[@t='X']/q",
        "/r/it[@t='X']/@t")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).cast("double").as("price"),
        size(col("m.p2")).as("n_r"),
        get(col("m.p2"), lit(0)).cast("double").as("q_r"),
        size(col("m.p3")).as("n_o"),
        get(col("m.p3"), lit(0)).cast("double").as("tax_o"),
        get(col("m.p4"), lit(0)).cast("double").as("price_wild"),
        get(col("m.p5"), lit(0)).as("t_back"))
      .orderBy("id")
  }

  val x17Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |  CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS INT)
      |    AS n_r,
      |  CASE WHEN l_returnflag = 'R'
      |    THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) END
      |    AS q_r,
      |  CAST(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS INT)
      |    AS n_o,
      |  CASE WHEN l_linestatus = 'O'
      |    THEN CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) END
      |    AS tax_o,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
      |    AS price_wild,
      |  'X' AS t_back
      |FROM lineitem WHERE l_orderkey % 16 = 4 ORDER BY id""".stripMargin

  /** CHILD-VALUE PREDICATES — XPath 1.0 `step[q='v']` through the
    * single-parse `xpath_multi`: the select-by-FIELD-value idiom
    * (`//order[status='shipped']`) for element-keyed layouts, where the
    * key lives in a child element's text rather than an attribute.
    * Semantics are the spec's EXISTENTIAL node-set comparison: the
    * predicate holds iff ANY child named `q` has that exact
    * string-value — pinned here by giving each `<it>` TWO `<k>`
    * children (flag and status) so one element satisfies two different
    * predicates at once; positional predicates cannot express either
    * selection because element order varies per row. Pins:
    * constant-value selection, data-dependent presence (empty node-set
    * → NULL through get(), CASE-replayed), existential multi-child
    * match, descendant-axis + wildcard composition, and string-value
    * nesting (the matched child's value includes nested element text).
    * Built-in xpath() parity is spec-pinned in XPathMultiSpec. 1/16
    * sample disjoint from x13-x17's. */
  def x18XpathChildPredicate(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 5)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it><k>"), col("l_returnflag"),
      lit("</k><k>"), col("l_linestatus"),
      lit("</k><q>"), d2s(col("l_quantity")),
      lit("</q></it><it><k>ZZ</k><q>"), d2s(col("l_extendedprice")),
      lit("</q></it><s><it><k><b>A</b>F</k><q>"), d2s(col("l_tax")),
      lit("</q></it></s></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[k='ZZ']/q",
        "/r/it[k='R']/q",
        "/r/it[k='O']/q",
        "//it[k='AF']/q",
        "/r/*[k='ZZ']/q")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).cast("double").as("price"),
        size(col("m.p2")).as("n_r"),
        get(col("m.p2"), lit(0)).cast("double").as("q_r"),
        size(col("m.p3")).as("n_o"),
        get(col("m.p3"), lit(0)).cast("double").as("q_o"),
        get(col("m.p4"), lit(0)).cast("double").as("tax_nested"),
        get(col("m.p5"), lit(0)).cast("double").as("price_wild"))
      .orderBy("id")
  }

  val x18Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |  CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS INT)
      |    AS n_r,
      |  CASE WHEN l_returnflag = 'R'
      |    THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) END
      |    AS q_r,
      |  CAST(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS INT)
      |    AS n_o,
      |  CASE WHEN l_linestatus = 'O'
      |    THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) END
      |    AS q_o,
      |  CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) AS tax_nested,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
      |    AS price_wild
      |FROM lineitem WHERE l_orderkey % 16 = 5 ORDER BY id""".stripMargin

  /** `[last()]` POSITIONAL PREDICATES — the final-sibling selector
    * (`/log/entry[last()]`, the latest-entry idiom) through the
    * single-parse evaluator: per XPath 1.0 the predicate binds to the
    * step's CONTEXT, so `//v[last()]` selects the last `v` child of
    * EACH parent, not the document's last `v` — pinned by a layout
    * with `<v>` runs at two depths. Each row's doc carries a variable-
    * length run of `<v>` children (1 + l_linenumber of them: the
    * run length is data, so a fixed `[k]` cannot express "the last
    * one") plus a nested `<s><v>…</v></s>` level; pins: last-of-run
    * selection, last-vs-first divergence, composition with a following
    * step (`it[last()]/q`), per-parent meaning under `//`, and
    * single-match collapse. Built-in parity in XPathMultiSpec. 1/16
    * sample disjoint from x13-x18's. */
  def x19XpathLastPredicate(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 6)
    // vs: l_linenumber+1 <v> children, values "<q>0".."<q>n" derived
    // from quantity+index so the LAST differs from the FIRST
    val run = concat_ws("",
      transform(sequence(lit(0), col("l_linenumber")), i =>
        concat(lit("<v>"), (col("l_quantity").cast("int") + i)
          .cast("string"), lit("</v>"))))
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'>"), run,
      lit("<it><q>a</q></it><it><q>b</q></it><s><v>"),
      d2s(col("l_tax")), lit("</v></s></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/v[last()]",
        "/r/v[1]",
        "/r/it[last()]/q",
        "//v[last()]",
        "/r/s/v[last()]")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).cast("int").as("last_v"),
        get(col("m.p2"), lit(0)).cast("int").as("first_v"),
        get(col("m.p3"), lit(0)).as("last_q"),
        size(col("m.p4")).as("n_last_per_parent"),
        get(col("m.p5"), lit(0)).cast("double").as("nested_last"))
      .orderBy("id")
  }

  val x19Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CAST(l_quantity AS INT) + l_linenumber AS INT) AS last_v,
      |  CAST(CAST(l_quantity AS INT) AS INT) AS first_v,
      |  'b' AS last_q,
      |  CAST(2 AS INT) AS n_last_per_parent,
      |  CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) AS nested_last
      |FROM lineitem WHERE l_orderkey % 16 = 6 ORDER BY id""".stripMargin

  /** NUMERIC ATTRIBUTE COMPARISONS — `step[@a>5]` (ops `> < >= <= =
    * !=`) through the single-parse `xpath_multi`: the threshold-select
    * idiom (`//item[@qty>25]`) that equality predicates cannot express.
    * Semantics are XPath 1.0 number() + IEEE: the attribute's
    * string-value converts to a double (whitespace-tolerant, decimals,
    * negatives; anything else NaN), an ABSENT attribute never matches
    * (empty node-set), and a present NON-numeric one is NaN — so `!=`
    * is TRUE for it and every other op false (probe-pinned against the
    * built-in evaluator in XPathMultiSpec). The layout gives each row a
    * quantity-keyed item, a NaN-keyed item, a nested negative-keyed
    * item, and an attribute-less element; pins: data-dependent
    * threshold match both directions, the NaN `!=` asymmetry, the
    * `>= 50` boundary hit exactly at the corpus max, descendant-axis +
    * negative-literal composition, wildcard composition, and
    * absent-attr emptiness. 1/16 sample disjoint from x13-x19's. */
  def x20XpathNumPredicate(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 7)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it v='"), d2s(col("l_quantity")),
      lit("'><q>"), d2s(col("l_extendedprice")),
      lit("</q></it><it v='x'><q>"), d2s(col("l_tax")),
      lit("</q></it><s><it v='-2'><q>"), d2s(col("l_discount")),
      lit("</q></it></s><w><q>z</q></w></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[@v>25]/q",
        "/r/it[@v<=25]/q",
        "/r/it[@v!=25]/q",
        "//it[@v<0]/q",
        "/r/*[@v>=50]/q",
        "/r/w[@v>0]/q")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        size(col("m.p1")).as("n_gt"),
        get(col("m.p1"), lit(0)).cast("double").as("price_gt"),
        get(col("m.p2"), lit(0)).cast("double").as("price_le"),
        size(col("m.p3")).as("n_ne"),
        get(col("m.p3"), lit(0)).cast("double").as("first_ne"),
        get(col("m.p4"), lit(0)).cast("double").as("disc_neg"),
        get(col("m.p5"), lit(0)).cast("double").as("price_b50"),
        size(col("m.p6")).as("n_absent"))
      .orderBy("id")
  }

  val x20Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) > 25
      |    THEN 1 ELSE 0 END AS INT) AS n_gt,
      |  CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) > 25
      |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) END
      |    AS price_gt,
      |  CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) <= 25
      |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) END
      |    AS price_le,
      |  CAST(CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) <> 25
      |    THEN 2 ELSE 1 END AS INT) AS n_ne,
      |  CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) <> 25
      |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
      |    ELSE CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) END
      |    AS first_ne,
      |  CAST(CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) AS disc_neg,
      |  CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) >= 50
      |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) END
      |    AS price_b50,
      |  CAST(0 AS INT) AS n_absent
      |FROM lineitem WHERE l_orderkey % 16 = 7 ORDER BY id""".stripMargin

  /** `position()` RANGE PREDICATES — `step[position() OP k]`
    * (`> < >= <=`) through the single-parse evaluator: the
    * skip-the-first / take-a-prefix idioms (`/log/entry[position()>1]`)
    * that exact `[k]` and `[last()]` cannot express. Rank is the
    * per-CONTEXT sibling rank (same contract as `[k]`, pinned under
    * `//` where each parent's run ranks independently — built-in
    * parity in XPathMultiSpec). The layout reuses x19's data-length
    * `<v>` run (1 + l_linenumber elements — the run length is data, so
    * the tail/prefix sizes prove real rank arithmetic), plus the
    * two-`<it>` pair and the nested single-`<v>` level that must
    * contribute NOTHING to a `>=2` rank. Pins: tail-after-first,
    * 2-prefix, per-parent `>=2` under `//`, second-of-pair via a
    * following step, and the just-past-the-run empty boundary
    * (`position()>7` is non-empty only for 8-long runs). 1/16 sample
    * disjoint from x13-x20's. */
  def x21XpathPosRange(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 8)
    val run = concat_ws("",
      transform(sequence(lit(0), col("l_linenumber")), i =>
        concat(lit("<v>"), (col("l_quantity").cast("int") + i)
          .cast("string"), lit("</v>"))))
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'>"), run,
      lit("<it><q>a</q></it><it><q>b</q></it><s><v>"),
      d2s(col("l_tax")), lit("</v></s></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/v[position()>1]",
        "/r/v[position()<=2]",
        "//v[position()>=2]",
        "/r/it[position()>1]/q",
        "/r/v[position()>7]")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        size(col("m.p1")).as("n_tail"),
        get(col("m.p1"), lit(0)).cast("int").as("first_tail"),
        get(col("m.p2"), lit(0)).cast("int").as("head_first"),
        size(col("m.p3")).as("n_ge2"),
        get(col("m.p4"), lit(0)).as("q2"),
        size(col("m.p5")).as("n_gt7"))
      .orderBy("id")
  }

  val x21Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(l_linenumber AS INT) AS n_tail,
      |  CAST(CAST(l_quantity AS INT) + 1 AS INT) AS first_tail,
      |  CAST(CAST(l_quantity AS INT) AS INT) AS head_first,
      |  CAST(l_linenumber AS INT) AS n_ge2,
      |  'b' AS q2,
      |  CAST(CASE WHEN l_linenumber >= 7 THEN l_linenumber - 6
      |    ELSE 0 END AS INT) AS n_gt7
      |FROM lineitem WHERE l_orderkey % 16 = 8 ORDER BY id""".stripMargin

  /** EXISTENCE PREDICATES — `step[@a]` / `step[q]` through the
    * single-parse evaluator: XPath 1.0's truthy-node-set test, the
    * "has the field at all" selector every schema-drift audit starts
    * with, which no value-comparing predicate can express (`[@k='']`
    * tests emptiness, not presence). Semantics pinned: a PRESENT but
    * EMPTY attribute satisfies `[@k]` (the node-set is non-empty —
    * and the `@k` terminal then extracts '' from it), an element with
    * the child but no attribute fails `[@k]`, `[q]` is satisfied by
    * any child element of that name regardless of value, and both
    * compose with the descendant axis and attribute/element terminals.
    * The layout gives each row an attributed+valued item, a bare item
    * (child only), an EMPTY-attributed item with a different child,
    * and a nested item — so every predicate discriminates. 1/16
    * sample disjoint from x13-x21's. */
  def x22XpathExists(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 9)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it k='"), d2s(col("l_quantity")),
      lit("'><q>"), d2s(col("l_extendedprice")),
      lit("</q></it><it><q>"), d2s(col("l_tax")),
      lit("</q></it><it k=''><n>"), s(col("l_linenumber")),
      lit("</n></it><s><it k='5'><q>"), d2s(col("l_discount")),
      lit("</q></it></s></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[@k]/q",
        "/r/it[q]/q",
        "/r/it[n]/@k",
        "//it[@k]/n",
        "//it[q]/q",
        "/r/s/it[@z]/q")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).cast("double").as("first_attr_q"),
        size(col("m.p2")).as("n_child_q"),
        get(col("m.p2"), lit(1)).cast("double").as("second_child_q"),
        get(col("m.p3"), lit(0)).as("empty_attr"),
        get(col("m.p4"), lit(0)).cast("int").as("note"),
        size(col("m.p5")).as("n_desc_q"),
        size(col("m.p6")).as("n_absent"))
      .orderBy("id")
  }

  val x22Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
      |    AS first_attr_q,
      |  CAST(2 AS INT) AS n_child_q,
      |  CAST(CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE) AS second_child_q,
      |  '' AS empty_attr,
      |  CAST(l_linenumber AS INT) AS note,
      |  CAST(3 AS INT) AS n_desc_q,
      |  CAST(0 AS INT) AS n_absent
      |FROM lineitem WHERE l_orderkey % 16 = 9 ORDER BY id""".stripMargin

  /** NUMERIC CHILD-VALUE COMPARISONS — `step[q>5]` through the
    * single-parse evaluator: the threshold-select over ELEMENT content
    * (`/order[total>100]` — the most common real-world filter shape)
    * that x18's string-equality `[q='v']` and x20's attribute form
    * `[@a>5]` each cover only half of. Existential over the child
    * node-set (ANY child q satisfying the comparison accepts the
    * element), with the same number()/IEEE rules as x20: a non-numeric
    * child is NaN — `!=` TRUE, every other op false — and an element
    * with no `q` children never matches. The layout gives each row a
    * quantity-valued item with a sibling label, a NaN item, a nested
    * negative item, and a q-less element; the multi-q item pins the
    * existential (one passing child accepts, despite a NaN sibling q).
    * 1/16 sample disjoint from x13-x22's. */
  def x23XpathChildNum(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 10)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it><q>"), d2s(col("l_quantity")),
      lit("</q><q>zz</q><n>first</n></it><it><q>x</q><n>nan</n></it>"),
      lit("<s><it><q>-2.5</q><n>neg</n></it></s><w><n>noq</n></w></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[q>25]/n",
        "/r/it[q<=25]/n",
        "/r/it[q!=25]/n",
        "//it[q<0]/n",
        "/r/*[q>=50]/n",
        "/r/w[q>0]/n")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        size(col("m.p1")).as("n_gt"),
        get(col("m.p1"), lit(0)).as("first_gt"),
        get(col("m.p2"), lit(0)).as("first_le"),
        size(col("m.p3")).as("n_ne"),
        get(col("m.p4"), lit(0)).as("neg_label"),
        size(col("m.p5")).as("n_b50"),
        size(col("m.p6")).as("n_noq"))
      .orderBy("id")
  }

  val x23Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) > 25
      |    THEN 1 ELSE 0 END AS INT) AS n_gt,
      |  CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) > 25
      |    THEN 'first' END AS first_gt,
      |  CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) <= 25
      |    THEN 'first' END AS first_le,
      |  CAST(2 AS INT) AS n_ne,
      |  'neg' AS neg_label,
      |  CAST(CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) >= 50
      |    THEN 1 ELSE 0 END AS INT) AS n_b50,
      |  CAST(0 AS INT) AS n_noq
      |FROM lineitem WHERE l_orderkey % 16 = 10 ORDER BY id""".stripMargin

  /** STRING-FUNCTION PREDICATES — `contains()` / `starts-with()`
    * through the single-parse evaluator: the substring-match selectors
    * (`/log/line[contains(@msg,'ERROR')]`) that no equality or numeric
    * predicate expresses. Semantics pinned (built-in parity in
    * XPathMultiSpec): arguments convert through XPath string(), so a
    * CHILD argument means the FIRST child's string-value — NOT the
    * existential reading `[q='v']` has (the multi-q items pin both
    * directions), and an ABSENT attribute converts to '', making
    * `contains(@t,'')` true on every element. The layout gives each
    * row a prefixed-attribute item (prefix + line number, so one path
    * is row-dependent), an empty-attributed item, an attribute-less
    * item, and two two-q items in opposite orders. 1/16 sample
    * disjoint from x13-x23's. */
  def x24XpathStrFn(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 11)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it t='pre-"), s(col("l_linenumber")),
      lit("'><n>first</n></it><it t=''><n>empty</n></it>"),
      lit("<it><n>noattr</n></it><it><q>"), d2s(col("l_quantity")),
      lit("</q><q>zz</q><n>multi</n></it>"),
      lit("<it><q>zz</q><q>"), d2s(col("l_quantity")),
      lit("</q><n>rev</n></it></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[contains(@t,'-')]/n",
        "/r/it[starts-with(@t,'pre')]/n",
        "/r/it[contains(@t,'')]/n",
        "/r/it[contains(q,'.')]/n",
        "/r/it[starts-with(q,'z')]/n",
        "//it[contains(@t,'pre-')]/n",
        "/r/it[contains(@t,'1')]/n")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).as("dash_label"),
        get(col("m.p2"), lit(0)).as("prefix_label"),
        size(col("m.p3")).as("n_empty_needle"),
        size(col("m.p4")).as("n_first_dot"),
        get(col("m.p4"), lit(0)).as("dot_label"),
        get(col("m.p5"), lit(0)).as("z_label"),
        get(col("m.p6"), lit(0)).as("desc_label"),
        size(col("m.p7")).as("n_has_1"))
      .orderBy("id")
  }

  val x24Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  'first' AS dash_label,
      |  'first' AS prefix_label,
      |  CAST(5 AS INT) AS n_empty_needle,
      |  CAST(1 AS INT) AS n_first_dot,
      |  'multi' AS dot_label,
      |  'rev' AS z_label,
      |  'first' AS desc_label,
      |  CAST(CASE WHEN l_linenumber = 1 THEN 1 ELSE 0 END AS INT)
      |    AS n_has_1
      |FROM lineitem WHERE l_orderkey % 16 = 11 ORDER BY id""".stripMargin

  /** BOOLEAN PREDICATE CONNECTIVES — `[p and q]` / `[p or q]` through
    * the single-parse evaluator, with XPath 1.0 precedence (`or`
    * binds loosest) and quote-aware tokenization (a literal `' and '`
    * inside a quoted value is a value, not a connective — both
    * spec-pinned against the built-in). Every atom form composes:
    * existence, equality, numeric comparison, contains(). One path is
    * row-dependent (`@k and q>25` — the conjunctive filter shape of
    * every real audit query); the precedence path `[@z and @k or n]`
    * matches everything under the correct parse and NOTHING under the
    * wrong associativity, so a precedence regression is hash-fatal.
    * 1/16 sample disjoint from x13-x24's. */
  def x25XpathBoolOps(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 12)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it k='"), s(col("l_linenumber")),
      lit("' v='9'><q>"), d2s(col("l_quantity")),
      lit("</q><n>both</n></it><it k='2'><n>konly</n></it>"),
      lit("<it v='3'><n>vonly</n></it><it><n>none</n></it>"),
      lit("<it t='a and b'><n>quoted</n></it></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[@k and @v]/n",
        "/r/it[@k or @v]/n",
        "/r/it[@k and @v and n]/n",
        "/r/it[@k and q>25]/n",
        "/r/it[@z and @k or n]/n",
        "/r/it[@t='a and b']/n",
        "/r/it[contains(@t,' and ') or @v>2]/n")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).as("and_label"),
        size(col("m.p2")).as("n_or"),
        get(col("m.p3"), lit(0)).as("chain_label"),
        size(col("m.p4")).as("n_heavy"),
        size(col("m.p5")).as("n_prec"),
        get(col("m.p6"), lit(0)).as("quoted_label"),
        size(col("m.p7")).as("n_mixed"))
      .orderBy("id")
  }

  val x25Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  'both' AS and_label,
      |  CAST(3 AS INT) AS n_or,
      |  'both' AS chain_label,
      |  CAST(CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) > 25
      |    THEN 1 ELSE 0 END AS INT) AS n_heavy,
      |  CAST(5 AS INT) AS n_prec,
      |  'quoted' AS quoted_label,
      |  CAST(3 AS INT) AS n_mixed
      |FROM lineitem WHERE l_orderkey % 16 = 12 ORDER BY id""".stripMargin

  /** NEGATION PREDICATES — `not(atom)` through the single-parse
    * evaluator: the complement selector every schema-drift audit needs
    * (`[not(@k)]` = "rows MISSING the field" — x22's existence test
    * cannot express absence). Semantics pinned against the built-in:
    * an EMPTY-but-present attribute is present (fails `not(@k)`), an
    * absent attribute makes the inner equality false so
    * `not(@k='v')` is TRUE, `not(contains(@t,'x'))` sees the absent
    * attribute as '' (true), double negation cancels, and not()
    * composes inside `and` chains and under the descendant axis. One
    * path is row-dependent (`not(@k='3')` against the line-number
    * attribute). 1/16 sample disjoint from x13-x25's. */
  def x26XpathNot(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 13)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it k='"), s(col("l_linenumber")),
      lit("' t='ax'><q>"), d2s(col("l_quantity")),
      lit("</q><n>full</n></it><it k='' t='b'><n>emptyk</n></it>"),
      lit("<it t='x1'><q>"), d2s(col("l_tax")),
      lit("</q><n>nok</n></it><it><n>bare</n></it>"),
      lit("<s><it k='9'><n>nested</n></it></s></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[not(@k)]/n",
        "/r/it[not(q)]/n",
        "/r/it[not(@k='3')]/n",
        "/r/it[not(contains(@t,'x'))]/n",
        "/r/it[@k and not(q)]/n",
        "/r/it[not(not(@k))]/n",
        "//it[not(@k)]/n")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        size(col("m.p1")).as("n_nok"),
        get(col("m.p1"), lit(0)).as("first_nok"),
        size(col("m.p2")).as("n_noq"),
        size(col("m.p3")).as("n_ne3"),
        size(col("m.p4")).as("n_nox"),
        get(col("m.p5"), lit(0)).as("and_label"),
        size(col("m.p6")).as("n_dneg"),
        size(col("m.p7")).as("n_desc"))
      .orderBy("id")
  }

  val x26Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(2 AS INT) AS n_nok,
      |  'nok' AS first_nok,
      |  CAST(2 AS INT) AS n_noq,
      |  CAST(CASE WHEN l_linenumber = 3 THEN 3 ELSE 4 END AS INT)
      |    AS n_ne3,
      |  CAST(2 AS INT) AS n_nox,
      |  'emptyk' AS and_label,
      |  CAST(2 AS INT) AS n_dneg,
      |  CAST(2 AS INT) AS n_desc
      |FROM lineitem WHERE l_orderkey % 16 = 13 ORDER BY id""".stripMargin

  /** SUCCESSIVE xpath predicates per step (x28 — XPath 1.0 §2.4: each
    * `[...]` filters the node-set the previous brackets produced, so
    * `[@k][2]` is the 2nd SURVIVOR of the attribute test while
    * `[2][@k]` tests the 2nd sibling — order-sensitive semantics the
    * old one-bracket grammar rejected). The fixture's four root items
    * plus a nested pair make every chain's survivor list predictable
    * (one quantity-dependent), `][` inside a quoted value stays a
    * value, and the spec separately pins built-in parity for every
    * form including the three-stage chain. */
  def x28XpathSuccessive(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 5)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it k='1' t='a'><q>"), d2s(col("l_quantity")),
      lit("</q><n>one</n></it>"),
      lit("<it t='b'><n>two</n></it>"),
      lit("<it k='2' t='a'><q>"), s(col("l_linenumber")),
      lit("</q><n>three</n></it>"),
      lit("<it k='3'><n>four</n></it>"),
      lit("<s><it k='9'><n>five</n></it><it k='8'><n>six</n></it></s>"),
      lit("</r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[@k][2]/n",
        "/r/it[2][@k]/n",
        "/r/it[@k][last()]/n",
        "/r/it[@k][q>25]/n",
        "/r/it[position()>1][@k]/n",
        "//it[@k][2]/n",
        "/r/it[@k][2][n='three']/n")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).as("second_keyed"),
        size(col("m.p2")).as("n_second_then_key"),
        get(col("m.p3"), lit(0)).as("last_keyed"),
        size(col("m.p4")).as("n_qty_chain"),
        size(col("m.p5")).as("n_range_then_key"),
        size(col("m.p6")).as("n_desc_chain"),
        get(col("m.p7"), lit(0)).as("three_stage"))
      .orderBy("id")
  }

  val x28Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  'three' AS second_keyed,
      |  CAST(0 AS INT) AS n_second_then_key,
      |  'four' AS last_keyed,
      |  CAST(CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) > 25
      |    THEN 1 ELSE 0 END AS INT) AS n_qty_chain,
      |  CAST(2 AS INT) AS n_range_then_key,
      |  CAST(2 AS INT) AS n_desc_chain,
      |  'three' AS three_stage
      |FROM lineitem WHERE l_orderkey % 16 = 5 ORDER BY id""".stripMargin

  /** Parenthesized boolean GROUPING in xpath value predicates (x27 —
    * the round-14 subset edge at the Pred ADT): `(a or b) and c`,
    * `not()` over connectives and nested groups, mixed with the
    * function atoms. The fixture plants four `<it>` children whose
    * attribute/child shapes make each grouped predicate's match set
    * exactly predictable per row — one (`p3`) data-dependent through
    * the quantity — and the oracle predicts every count and
    * first-match symbolically, while the property sweep separately
    * pins random grouped forms against the built-in evaluator. */
  def x27XpathGrouping(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 9)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it k='1' t='ax'><q>"), d2s(col("l_quantity")),
      lit("</q><n>one</n></it>"),
      lit("<it k='2' t='b' f='y'><n>two</n></it>"),
      lit("<it k='3' t='bx'><q>"), s(col("l_linenumber")),
      lit("</q><n>three</n></it>"),
      lit("<it t='c'><n>four</n></it></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[(@k='1' or @k='2') and @t='b']/n",
        "/r/it[not(@k='1' or @k='3')]/n",
        "/r/it[(q>25 and @k='1') or @f]/n",
        "/r/it[not((@k='2' or @k='3') and not(q))]/n",
        "/r/it[(contains(@t,'x') or @f) and not(@k='3')]/n",
        "//it[not(@f) and (q>=1 or @t='c')]/n")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        size(col("m.p1")).as("n_grp_and"),
        get(col("m.p1"), lit(0)).as("first_grp_and"),
        size(col("m.p2")).as("n_not_or"),
        size(col("m.p3")).as("n_qty_grp"),
        size(col("m.p4")).as("n_demorgan"),
        get(col("m.p4"), lit(0)).as("first_demorgan"),
        size(col("m.p5")).as("n_fn_grp"),
        get(col("m.p5"), lit(0)).as("first_fn_grp"),
        size(col("m.p6")).as("n_desc_grp"))
      .orderBy("id")
  }

  val x27Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(1 AS INT) AS n_grp_and,
      |  'two' AS first_grp_and,
      |  CAST(2 AS INT) AS n_not_or,
      |  CAST(CASE WHEN CAST(l_quantity AS DECIMAL(18,2)) > 25
      |    THEN 2 ELSE 1 END AS INT) AS n_qty_grp,
      |  CAST(3 AS INT) AS n_demorgan,
      |  'one' AS first_demorgan,
      |  CAST(2 AS INT) AS n_fn_grp,
      |  'one' AS first_fn_grp,
      |  CAST(3 AS INT) AS n_desc_grp
      |FROM lineitem WHERE l_orderkey % 16 = 9 ORDER BY id""".stripMargin

  /** DESCENDANT-AXIS TERMINALS (x29 — the last documented subset edge:
    * `p//text()` and `p//@attr`, the composition of x15's descendant
    * expansion with x14's terminals): `//text()` reads EVERY text node
    * of the matched subtrees in true document order — the fixture's
    * root has mixed content (text interleaved with elements) so a
    * group-by-owner-element shortcut would misorder it — and `//@u`
    * collects the attribute from the matched elements and all their
    * descendants. `//d//@u` reaches the nested `<d>` through TWO
    * overlapping contexts (the outer d and directly) and must emit its
    * attribute once: node-set dedup, spec-pinned against the built-in
    * with exact list parity. Two values are row-dependent (quantity
    * text, linenumber attribute), so the oracle predicts the joined
    * strings symbolically. 1/16 sample (mod 14) disjoint from
    * x13-x28's. */
  def x29XpathDescTerminals(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 14)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'>h<g u='a'>t1<d u='b'>x<d u='c'>y</d></d>t3</g>"),
      lit("<g><d u='"), s(col("l_linenumber")), lit("'>"),
      d2s(col("l_quantity")), lit("</d></g>z</r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "//text()",
        "/r/g//text()",
        "//@u",
        "/r/g//@u",
        "//d//@u",
        "//d//text()",
        "//nope//@u")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        array_join(col("m.p1"), "|").as("all_text"),
        size(col("m.p2")).as("n_gtext"),
        array_join(col("m.p3"), "|").as("u_all"),
        size(col("m.p4")).as("n_gu"),
        array_join(col("m.p5"), "|").as("d_u"),
        array_join(col("m.p6"), "|").as("d_text"),
        size(col("m.p7")).as("n_none"))
      .orderBy("id")
  }

  val x29Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  'h|t1|x|y|t3|' ||
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) || '|z'
      |    AS all_text,
      |  CAST(5 AS INT) AS n_gtext,
      |  'a|b|c|' || CAST(l_linenumber AS VARCHAR) AS u_all,
      |  CAST(4 AS INT) AS n_gu,
      |  'b|c|' || CAST(l_linenumber AS VARCHAR) AS d_u,
      |  'x|y|' || CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
      |    AS d_text,
      |  CAST(0 AS INT) AS n_none
      |FROM lineitem WHERE l_orderkey % 16 = 14 ORDER BY id""".stripMargin

  /** STRING-FUNCTION PREDICATES (x30 — `string-length(...) OP n` and
    * `normalize-space(...)='v'`, the two §4.2 string functions the
    * contains/starts-with atoms left out): both convert their node-set
    * argument through string() (FIRST node's string-value, '' when
    * absent — so `[string-length(@a)=0]` is the "attribute missing OR
    * empty" test, probe-pinned against the built-in), normalize-space
    * strips ends and collapses internal whitespace runs. Two
    * predicates are row-dependent (the quantity string's LENGTH
    * crosses 4 at qty 10; a padded child normalizes to 'L x' exactly
    * on line 3), and the atoms compose with `and`/`not`. 1/16 sample
    * (mod 15) — the last free modulus. */
  def x30XpathStrFns(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 16 === 15)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><it a='abcd'><n>one</n></it><it a='ab'><q>  "),
      s(col("l_linenumber")),
      lit("  x </q><n>two</n></it><it><q>"), d2s(col("l_quantity")),
      lit("</q><n>three</n></it><it a=' pad '><n>four</n></it></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/it[string-length(@a)>3]/n",
        "/r/it[string-length(@a)=0]/n",
        "/r/it[string-length(q)>4]/n",
        "/r/it[normalize-space(q)='3 x']/n",
        "/r/it[normalize-space(@a)='pad']/n",
        "//it[string-length(n)=3 and normalize-space(@a)='ab']/n",
        "/r/it[not(string-length(@a)>=1)]/n")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        size(col("m.p1")).as("n_len_a"),
        get(col("m.p1"), lit(0)).as("first_len_a"),
        get(col("m.p2"), lit(0)).as("first_zero"),
        size(col("m.p3")).as("n_qlen"),
        size(col("m.p4")).as("n_norm3"),
        get(col("m.p5"), lit(0)).as("first_pad"),
        get(col("m.p6"), lit(0)).as("first_comp"),
        get(col("m.p7"), lit(0)).as("first_notlen"))
      .orderBy("id")
  }

  val x30Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(2 AS INT) AS n_len_a,
      |  'one' AS first_len_a,
      |  'three' AS first_zero,
      |  CAST(CASE WHEN length(CAST(CAST(l_quantity AS DECIMAL(18,2))
      |    AS VARCHAR)) > 4 THEN 2 ELSE 1 END AS INT) AS n_qlen,
      |  CAST(CASE WHEN l_linenumber = 3 THEN 1 ELSE 0 END AS INT)
      |    AS n_norm3,
      |  'four' AS first_pad,
      |  'two' AS first_comp,
      |  'three' AS first_notlen
      |FROM lineitem WHERE l_orderkey % 16 = 15 ORDER BY id""".stripMargin

  /** ATTRIBUTE-TERMINAL UNIONS (x31 — the half of x16's element-only
    * union rule that IS closable: branches all ending in the SAME
    * `@attr`, descendant terminals included; one attribute per element
    * makes the merged node-set's document order the owner elements'
    * order, exact-list-parity-pinned against the built-in; `text()`
    * unions and mixed attr names stay out — documented, position-less
    * text nodes and implementation-defined same-element attr order).
    * Overlap dedup is live in every path (a branch pair reaching the
    * same element emits its attribute once); two values are
    * row-dependent. 1/17 sample — the 16 sixteenths are all taken. */
  def x31XpathAttrUnion(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 17 === 5)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><a x='1'><c x='9'/></a><b x='"), s(col("l_linenumber")),
      lit("'/><a x='3'/><c x='"), d2s(col("l_quantity")),
      lit("'/></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/a/@x | /r/b/@x",
        "//c/@x | /r/a/@x",
        "//@x | /r/b/@x",
        "/r/nope/@x | /r/c/@x")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        array_join(col("m.p1"), "|").as("u_ab"),
        array_join(col("m.p2"), "|").as("u_desc"),
        array_join(col("m.p3"), "|").as("u_all"),
        array_join(col("m.p4"), "|").as("u_nope"))
      .orderBy("id")
  }

  val x31Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  '1|' || CAST(l_linenumber AS VARCHAR) || '|3' AS u_ab,
      |  '1|9|3|' || CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
      |    AS u_desc,
      |  '1|9|' || CAST(l_linenumber AS VARCHAR) || '|3|' ||
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS u_all,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS u_nope
      |FROM lineitem WHERE l_orderkey % 17 = 5 ORDER BY id""".stripMargin

  /** PARENT AXIS (x32 — `..` through the node-set evaluator: a parent
    * is unique per context, so siblings stepping up CONVERGE and the
    * node-set dedup is the semantics; parse-time parent pointers make
    * the walk O(1) per step). The subset is compile-time-guarded to
    * paths whose minimum depth keeps `..` below the document element
    * (`/r/..`, rootless `//n/..` and `//..` are rejected — the
    * document node's string-value belongs to the builtin's DTM);
    * anchored descendant forms like `/r//n/..` stay in. Gate exercises
    * convergence dedup (two `it`s → one `g`), a double step-up through
    * a wildcard, attribute terminals after `..`, and the
    * descendant-then-parent "owner element" idiom, with two values
    * row-dependent; exact-parity pinned against the built-in in
    * XPathMultiSpec. 1/17 sample (the sixteenths are all taken). */
  def x32XpathParent(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 17 === 7)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><g><it k='1'><n>alpha</n></it><it><n>"),
      s(col("l_linenumber")),
      lit("</n></it></g><h><it k='"), d2s(col("l_quantity")),
      lit("'><n>gamma</n></it></h><d q='"), s(col("l_linenumber")),
      lit("'><x/></d></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/g/it/../it[2]/n",
        "/r/*/it/../../h/it/n",
        "/r/d/x/../@q",
        "/r//n/../@k",
        "/r/g/it[1]/../it[1]/n")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        get(col("m.p1"), lit(0)).as("conv_second"),
        size(col("m.p1")).as("n_conv"),
        get(col("m.p2"), lit(0)).as("up2"),
        get(col("m.p3"), lit(0)).as("q_attr"),
        array_join(col("m.p4"), "|").as("owner_ks"),
        get(col("m.p5"), lit(0)).as("round_trip"))
      .orderBy("id")
  }

  val x32Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(l_linenumber AS VARCHAR) AS conv_second,
      |  CAST(1 AS INT) AS n_conv,
      |  'gamma' AS up2,
      |  CAST(l_linenumber AS VARCHAR) AS q_attr,
      |  '1|' || CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
      |    AS owner_ks,
      |  'alpha' AS round_trip
      |FROM lineitem WHERE l_orderkey % 17 = 7 ORDER BY id""".stripMargin

  /** SIBLING AXES (x33 — `following-sibling::` / `preceding-sibling::`
    * through the node-set evaluator on x32's parent pointers: the
    * axis-ordered element siblings of each context, with positional
    * predicates counting IN AXIS ORDER per XPath §2.2 — so
    * `preceding-sibling::a[1]` is the NEAREST preceding `a` and
    * `[last()]` the axis far end — name tests, value predicates and
    * x28 stage chains all applied over that ordered list; chained
    * sibling steps and `..` compose, contexts converging on one
    * sibling dedup through the node-set semantics. `//` before a
    * sibling axis is rejected (the shorthand has no meaning there).
    * Exact built-in parity spec-pinned incl. both axis-order
    * positional cases. 1/17 sample. */
  def x33XpathSiblings(sp: SparkSession, dir: String): DataFrame = {
    val li = lineitem(sp, dir).filter(col("l_orderkey") % 17 === 9)
    val xml = concat(
      lit("<r id='"), s(col("l_orderkey") * 10 + col("l_linenumber")),
      lit("'><a k='1'>p</a><b>"), s(col("l_linenumber")),
      lit("</b><a k='"), d2s(col("l_quantity")),
      lit("'>q</a><c>end</c></r>"))
    spread(li.select(xml.as("__xml")))
      .select(graft.xml.XPathMultiExpr.xpath_multi(col("__xml"), Seq(
        "/r/@id",
        "/r/b/following-sibling::a/@k",
        "/r/c/preceding-sibling::a[1]/@k",
        "/r/c/preceding-sibling::a[last()]/@k",
        "/r/a[1]/following-sibling::*[1]",
        "/r/b/preceding-sibling::a/@k",
        "/r/b/following-sibling::c/preceding-sibling::b")).as("m"))
      .select(
        get(col("m.p0"), lit(0)).cast("long").as("id"),
        array_join(col("m.p1"), "|").as("fsib_k"),
        get(col("m.p2"), lit(0)).as("nearest_prec"),
        get(col("m.p3"), lit(0)).as("farthest_prec"),
        get(col("m.p4"), lit(0)).as("next_any"),
        array_join(col("m.p5"), "|").as("psib_k"),
        get(col("m.p6"), lit(0)).as("chained"))
      .orderBy("id")
  }

  val x33Sql: String =
    """SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS fsib_k,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
      |    AS nearest_prec,
      |  '1' AS farthest_prec,
      |  CAST(l_linenumber AS VARCHAR) AS next_any,
      |  '1' AS psib_k,
      |  CAST(l_linenumber AS VARCHAR) AS chained
      |FROM lineitem WHERE l_orderkey % 17 = 9 ORDER BY id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x33_xpath_siblings" -> (x33XpathSiblings _),
    "x32_xpath_parent" -> (x32XpathParent _),
    "x31_xpath_attr_union" -> (x31XpathAttrUnion _),
    "x30_xpath_str_fns" -> (x30XpathStrFns _),
    "x29_xpath_desc_terminals" -> (x29XpathDescTerminals _),
    "x26_xpath_not" -> (x26XpathNot _),
    "x27_xpath_grouping" -> (x27XpathGrouping _),
    "x28_xpath_successive" -> (x28XpathSuccessive _),
    "x24_xpath_str_fn" -> (x24XpathStrFn _),
    "x25_xpath_bool_ops" -> (x25XpathBoolOps _),
    "x23_xpath_child_num" -> (x23XpathChildNum _),
    "x22_xpath_exists" -> (x22XpathExists _),
    "x21_xpath_pos_range" -> (x21XpathPosRange _),
    "x20_xpath_num_pred" -> (x20XpathNumPredicate _),
    "x19_xpath_last_pred" -> (x19XpathLastPredicate _),
    "x18_xpath_child_pred" -> (x18XpathChildPredicate _),
    "x17_xpath_attr_pred" -> (x17XpathAttrPredicate _),
    "x16_xpath_union" -> (x16XpathUnion _),
    "x15_xpath_descendant" -> (x15XpathDescendant _),
    "x13_xpath_family" -> (x13XpathFamily _),
    "x14_xpath_attrs" -> (x14XpathAttrs _),
    "x12_xsd_schema" -> (x12XsdSchema _),
    "x11_xml_write_roundtrip" -> (x11WriteRoundtrip _),
    "x10_xml_malformed" -> (x10MalformedPermissive _),
    "x1_xml_scan_cast" -> (x1ScanCast _),
    "x2_xml_array_order" -> (x2ArrayOrder _),
    "x3_xml_wildcard_tag" -> (x3WildcardTag _),
    "x4_xml_firstwins_alt" -> (x4FirstWinsAlt _),
    "x5_xml_custom_composite" -> (x5CustomComposite _),
    "x6_xml_mixed_content" -> (x6MixedContent _),
    "x7_xml_file_wildcard" -> (x7FileWildcard _),
    "x8_xml_generator" -> (x8Generator _),
    "x9_xml_gzip" -> (x9GzipWildcard _))

  val oracles: Map[String, String] = Map(
    "x33_xpath_siblings" -> x33Sql,
    "x32_xpath_parent" -> x32Sql,
    "x31_xpath_attr_union" -> x31Sql,
    "x30_xpath_str_fns" -> x30Sql,
    "x29_xpath_desc_terminals" -> x29Sql,
    "x16_xpath_union" -> x16Sql,
    "x17_xpath_attr_pred" -> x17Sql,
    "x18_xpath_child_pred" -> x18Sql,
    "x19_xpath_last_pred" -> x19Sql,
    "x20_xpath_num_pred" -> x20Sql,
    "x21_xpath_pos_range" -> x21Sql,
    "x22_xpath_exists" -> x22Sql,
    "x23_xpath_child_num" -> x23Sql,
    "x24_xpath_str_fn" -> x24Sql,
    "x25_xpath_bool_ops" -> x25Sql,
    "x26_xpath_not" -> x26Sql,
    "x27_xpath_grouping" -> x27Sql,
    "x28_xpath_successive" -> x28Sql,
    "x15_xpath_descendant" -> x15Sql,
    "x13_xpath_family" -> x13Sql,
    "x14_xpath_attrs" -> x14Sql,
    "x12_xsd_schema" -> x12Sql,
    "x11_xml_write_roundtrip" -> x11Sql,
    "x10_xml_malformed" -> x10Sql,
    "x1_xml_scan_cast" -> x1Sql,
    "x2_xml_array_order" -> x2Sql,
    "x3_xml_wildcard_tag" -> x3Sql,
    "x4_xml_firstwins_alt" -> x4Sql,
    "x5_xml_custom_composite" -> x5Sql,
    "x6_xml_mixed_content" -> x6Sql,
    "x7_xml_file_wildcard" -> x7Sql,
    "x8_xml_generator" -> x8Sql,
    "x9_xml_gzip" -> x9Sql)
}
