package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Seeded input generators. Each is a pure function of the seed: the same
  * seed gives the same bytes and the same expected checksums, computed here
  * in plain Scala from what was planted, never from the program's output.
  *
  * Checksums are named Long vectors: counts, sums, and sums of CRC-32 over
  * UTF-8 strings (Spark's `crc32(cast(s as binary))` computes the same). */
object Gen {

  type Checksums = Seq[(String, Long)]

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  def rng(seed: Long, salt: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + salt)

  private def word(r: java.util.Random, lo: Int, hi: Int): String = {
    val n = lo + r.nextInt(hi - lo + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  private def pad2(x: Int): String = if (x < 10) "0" + x else x.toString

  /** `yyyy-MM-ddTHH:mm:ss`, UTC. */
  def isoSeconds(epoch: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(epoch, 0,
      java.time.ZoneOffset.UTC)
    s"${t.toLocalDate}T${pad2(t.getHour)}:${pad2(t.getMinute)}:" +
      pad2(t.getSecond)
  }

  private def cents(c: Long): String = {
    s"${c / 100}.${pad2((c % 100).toInt)}"
  }

  /** Every `AmpEvery`-th record/document carries `&amp;` in an extracted
    * field: a fixed 2% share, which the flat and children fast paths hand
    * to their fallbacks. */
  val AmpEvery = 50

  // ---------------------------------------------------------------------
  // xml_ingest: rootless <rec> files, 24 children, 6 scalars + 1 attribute
  // ---------------------------------------------------------------------

  final case class Ingest(files: IndexedSeq[String], records: Long,
      ampRecords: Long, bytes: Long, expected: Checksums)

  val IngestFiles = 2
  val IngestRecordsPerFile = 5000
  private val TsBase = 1577836800L // 2020-01-01T00:00:00Z
  private val FillerTags = (0 until 18).map(j => s"f${j / 10}${j % 10}")

  def ingest(seed: Long): Ingest = {
    val r = rng(seed, 1)
    var idCrc, kSum, qtyN, qtySum, priceCents, okTrue, tsSum, nameCrc = 0L
    var amp = 0L
    val files = (0 until IngestFiles).map { f =>
      val sb = new java.lang.StringBuilder(IngestRecordsPerFile * 700)
      var i = 0
      while (i < IngestRecordsPerFile) {
        val id = s"R${f * IngestRecordsPerFile + i}"
        val k = r.nextInt(2000001) - 1000000
        val qty = if (r.nextInt(20) == 0) -1 else r.nextInt(1000)
        val price = r.nextInt(1000000).toLong
        val ok = r.nextBoolean()
        val ts = TsBase + r.nextInt(5 * 365 * 86400)
        val hasAmp = i % AmpEvery == AmpEvery / 2
        val name = word(r, 3, 9) + (if (hasAmp) " & " else " ") + word(r, 3, 9)
        idCrc += crc(id); kSum += k; priceCents += price; tsSum += ts
        if (qty >= 0) { qtyN += 1; qtySum += qty }
        if (ok) okTrue += 1
        if (hasAmp) amp += 1
        nameCrc += crc(name)
        // 6 registered children among 18 unregistered ones
        val filler = (0 until 18).map(j =>
          if (j == 3) s"<f03><a>${word(r, 2, 6)}</a><b>${word(r, 2, 6)}</b></f03>"
          else s"<${FillerTags(j)}>${word(r, 4, 16)}</${FillerTags(j)}>")
        sb.append("<rec id='").append(id).append("'>")
        sb.append(filler(0)).append("<k>").append(k).append("</k>")
        sb.append(filler(1)).append(filler(2))
        if (qty >= 0) sb.append("<qty>").append(qty).append("</qty>")
        sb.append(filler(3)).append("<price>").append(cents(price))
          .append("</price>")
        sb.append(filler(4)).append(filler(5))
        sb.append("<ok>").append(ok).append("</ok>")
        sb.append(filler(6)).append(filler(7))
        sb.append("<ts>").append(isoSeconds(ts)).append("</ts>")
        sb.append(filler(8)).append(filler(9))
        sb.append("<name>").append(name.replace("&", "&amp;"))
          .append("</name>")
        (10 until 18).foreach(j => sb.append(filler(j)))
        sb.append("</rec>\n")
        i += 1
      }
      sb.toString
    }
    val n = IngestFiles.toLong * IngestRecordsPerFile
    Ingest(files, n, amp, files.map(_.getBytes(UTF_8).length.toLong).sum,
      Seq("rows" -> n, "id_crc" -> idCrc, "k_sum" -> kSum, "qty_n" -> qtyN,
        "qty_sum" -> qtySum, "price_cents" -> priceCents,
        "ok_true" -> okTrue, "ts_sum" -> tsSum, "name_crc" -> nameCrc,
        "complete" -> n))
  }

  // ---------------------------------------------------------------------
  // xml_nested: unique multi-KB order documents
  // ---------------------------------------------------------------------

  final case class Nested(docs: IndexedSeq[(Long, String)], ampDocs: Long,
      bytes: Long, expectedKids: Checksums, expectedDoc: Checksums)

  val NestedDocs = 3000
  private val QNames = Seq("q_color", "q_size", "q_fit", "q_origin")
  private val Tiers = Seq("gold", "silver", "bronze")

  /** `<order>`: a `cust` object, a skewed number of leaf `<item>`s with
    * attributes, 1-3 `q_*` siblings, a `note` and filler `pad`s. The kids
    * checksums cover the `item`/`q_*` children in document order; the doc
    * checksums cover one row per order. */
  def nested(seed: Long): Nested = {
    val r = rng(seed, 2)
    var kids, posSum, items, skuCrc, nSum, priceCents, qN, qCrc = 0L
    var idSum, custCrc, gold, sinceSum, qFirstCrc, noteSum, skuListCrc = 0L
    var amp = 0L
    // item counts: one fixed skewed multiset (1-41 per document), dealt
    // out in seeded order, so every seed parses the same number of items
    val itemCounts = shuffle(r, (0 until NestedDocs).map(d =>
      1 + (40 * math.pow((d * 0.6180339887) % 1.0, 3)).toInt))
    val docs = (0 until NestedDocs).map { d =>
      val id = 100000L + d * 7L + r.nextInt(7)
      val hasAmp = d % AmpEvery == AmpEvery / 2
      val cname = word(r, 3, 8) + (if (hasAmp) " & " else " ") + word(r, 3, 8)
      val tier = Tiers(r.nextInt(Tiers.size))
      val since = 2000 + r.nextInt(25)
      val nItems = itemCounts(d)
      val code = r.nextInt(1000)
      val sb = new java.lang.StringBuilder(4096)
      sb.append("<order id='").append(id).append("' region='")
        .append(word(r, 2, 2)).append("'>")
      sb.append("<cust tier='").append(tier).append("'><name>")
        .append(cname.replace("&", "&amp;")).append("</name><since>")
        .append(since).append("</since></cust>")
      var pos = 0L
      def matched(): Unit = { posSum += pos; pos += 1; kids += 1 }
      val skus = mutable.ArrayBuffer.empty[String]
      (0 until nItems).foreach { j =>
        val sku = "S" + (100000 + r.nextInt(100000)).toString.substring(1)
        val n = 1 + r.nextInt(9)
        val price = r.nextInt(100000).toLong
        sb.append("<item sku='").append(sku).append("' n='").append(n)
          .append("' p='").append(cents(price)).append("'>")
          .append(r.nextInt(50)).append("</item>")
        if (j % 4 == 3) sb.append("<pad>").append(word(r, 60, 200))
          .append("</pad>")
        matched(); items += 1
        skuCrc += crc(sku); nSum += n; priceCents += price
        skus += sku
      }
      val qs = shuffle(r, QNames.indices).take(1 + d % 3).sorted
        .map(q => QNames(q) -> word(r, 2, 6))
      qs.foreach { case (q, v) =>
        sb.append('<').append(q).append('>').append(v)
          .append("</").append(q).append('>')
        matched(); qN += 1; qCrc += crc(v)
      }
      sb.append("<pad>").append(word(r, 400, 1400)).append("</pad>")
      sb.append("<note code='").append(code).append("'>")
        .append(word(r, 5, 30)).append("</note>")
      sb.append("</order>")
      idSum += id; custCrc += crc(cname); sinceSum += since
      if (tier == "gold") gold += 1
      qFirstCrc += crc(qs.head._2); noteSum += code
      skuListCrc += crc(skus.mkString(","))
      if (hasAmp) amp += 1
      (id, sb.toString)
    }
    Nested(docs, amp, docs.map(_._2.getBytes(UTF_8).length.toLong).sum,
      Seq("kids" -> kids, "pos_sum" -> posSum, "items" -> items,
        "sku_crc" -> skuCrc, "n_sum" -> nSum, "price_cents" -> priceCents,
        "q_n" -> qN, "q_crc" -> qCrc),
      Seq("docs" -> NestedDocs.toLong, "id_sum" -> idSum,
        "cust_crc" -> custCrc, "gold" -> gold, "since_sum" -> sinceSum,
        "q_first_crc" -> qFirstCrc, "note_sum" -> noteSum,
        "x_id_sum" -> idSum, "x_cust_crc" -> custCrc,
        "x_sku_list_crc" -> skuListCrc, "x_code_sum" -> noteSum))
  }

  // ---------------------------------------------------------------------
  // iterative_ops: planted components, duplicate clusters, vector corpus
  // ---------------------------------------------------------------------

  final case class Iterative(
      edges: IndexedSeq[(Long, Long)], component: Map[Long, Long],
      dupIds: IndexedSeq[Long], dupPairs: IndexedSeq[(Long, Long)],
      dupCluster: Map[Long, Long],
      vectors: IndexedSeq[(Long, Array[Float])])

  val GraphComponents = 40
  val DupClusters = 120
  val DupMaxChain = 3
  val VecClusters = 12
  val VecDim = 16
  val Knn = 4

  def iterative(seed: Long): Iterative = {
    val r = rng(seed, 4)
    // components of diameter <= 2: cliques, and stars (plus a chord between
    // two leaves) whose centre holds the component's smallest id, so
    // connected components settles in one round and confirms in a second.
    // Node ids are a shuffled range, so components interleave in id space.
    // sizes are fixed, so every seed has the same graph up to relabelling
    val sizes = (0 until GraphComponents).map(c =>
      if (c % 2 == 0) 4 + c % 3 else 5 + c % 8)
    val ids = shuffle(r, (0L until sizes.sum.toLong).toIndexedSeq)
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    val component = mutable.HashMap.empty[Long, Long]
    var off = 0
    sizes.zipWithIndex.foreach { case (s, c) =>
      val nodes = ids.slice(off, off + s).sorted
      off += s
      val lo = nodes.head
      nodes.foreach(component(_) = lo)
      if (c % 2 == 0) {
        for (i <- 0 until s; j <- i + 1 until s) edges += (nodes(i) -> nodes(j))
      } else {
        (1 until s).foreach(i => edges += (nodes(0) -> nodes(i)))
        edges += (nodes(1) -> nodes(2))
      }
    }
    // duplicate clusters: chains of 1..DupMaxChain ids in shuffled order
    val dupSizes = (0 until DupClusters).map(c => 1 + c % DupMaxChain)
    val dupIds = shuffle(r, (0L until dupSizes.sum.toLong).toIndexedSeq)
    val dupPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    val dupCluster = mutable.HashMap.empty[Long, Long]
    off = 0
    dupSizes.foreach { s =>
      val chain = dupIds.slice(off, off + s)
      off += s
      chain.foreach(dupCluster(_) = chain.min)
      chain.sliding(2).filter(_.size == 2).foreach(p => dupPairs += (p(0) -> p(1)))
    }
    // vectors: tight clusters of Knn + 1 around distinct spike directions
    val vectors = (0 until VecClusters * (Knn + 1)).map { i =>
      val c = i % VecClusters
      val v = Array.fill(VecDim)((r.nextFloat() - 0.5f) * 0.4f)
      v(c % VecDim) += 8f + (c / VecDim) * 3f
      v((c + 1 + c / VecDim) % VecDim) += 4f
      (1000L + 3L * i, v)
    }
    Iterative(edges.toIndexedSeq, component.toMap, dupIds.sorted,
      dupPairs.toIndexedSeq, dupCluster.toMap, vectors)
  }

  private def shuffle[T](r: java.util.Random, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Integer-credit PageRank exactly as `Graph.pageRankCredits` defines it,
    * recomputed in plain Scala: outdegree counts multi-edges, each edge
    * carries `(cr * 85) div (100 * outdeg)`, every node gets 150000 base. */
  def pageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var cr: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    (0 until iters).foreach { _ =>
      val in = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) =>
        in(d) += (cr(s) * 85) / (100L * outdeg(s))
      }
      cr = nodes.map(n => n -> (150000L + in(n))).toMap
    }
    cr
  }

  /** Exact top-k cosine neighbours (ties to the smaller id), the truth
    * nnDescent's recall is measured against. */
  def bruteForceKnn(vectors: Seq[(Long, Array[Float])], k: Int)
      : Set[(Long, Long)] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val withNorm = vectors.map { case (id, v) => (id, v, norm(v)) }
    withNorm.flatMap { case (q, qv, qn) =>
      withNorm.filter(_._1 != q).map { case (c, cv, cn) =>
        var dot = 0.0
        var i = 0
        while (i < qv.length) { dot += qv(i).toDouble * cv(i); i += 1 }
        (c, dot / (qn * cn))
      }.sortBy { case (c, s) => (-s, c) }.take(k).map(p => (q, p._1))
    }.toSet
  }
}
