package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Two strategies:
  *   - `bruteForceTopK`: broadcast the (small) query set against the corpus
  *     — one corpus scan, cosine per (query, row), per-query top-k. Exact;
  *     the baseline and the verifier for the approximate path.
  *   - `lshTopK`: sign-bit hyperplane buckets computed per row (map-side);
  *     queries only meet corpus rows in their own bucket, so the join
  *     shuffles on the bucket key instead of cross-joining. With b planes the
  *     candidate set shrinks ~2^b-fold; recall lost to unlucky hyperplane
  *     splits is recovered with multi-probe (Hamming-1 bucket expansion on
  *     the query side), tracked by the a5 recall gate.
  *
  * Scale: at 100 TB the brute-force path is only for small query batches
  * (broadcast); the LSH path shuffles corpus once on int bucket keys and
  * scales linearly. Top-k uses a rank window per query — with k small this
  * is a partial TakeOrdered per partition after AQE.
  */
object Ann {

  /** Deterministic signed random projection (Achlioptas 2003 / JL):
    * out[j] = Σ_i s(j,i)·v[i] with s(j,i) = ±1 drawn from
    * md5("rp:j:i") — the same portable-hash family as the LSH planes, so
    * every engine (and the DuckDB oracle) derives the identical matrix
    * with no stored state. E‖Pv‖² = outDim·‖v‖², so squared distances
    * scale by outDim in expectation; a13 gates the empirical distortion.
    *
    * Scale: the projection is a zero-shuffle map-side expression —
    * outDim·inDim fused multiply-adds per row inside whole-stage codegen
    * (constant-folded ±1 literals, no matrix broadcast, no UDF). At
    * 100 TB this is the 4× (64→16) embedding-bandwidth lever applied
    * before any shuffle-heavy ANN stage. */
  def rpSign(j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$j:$i".getBytes("UTF-8"))
    val h32 = d.take(4).map(b => f"${b & 0xff}%02x").mkString
    if (java.lang.Long.parseLong(h32, 16) % 2 == 0) 1.0 else -1.0
  }

  def rpProject(v: Column, inDim: Int, outDim: Int): Column =
    array((0 until outDim).map { j =>
      (0 until inDim).map { i =>
        element_at(v, i + 1).cast("double") * lit(rpSign(j, i))
      }.reduce(_ + _)
    }: _*)

  /** Exact top-k neighbors (cosine) of each query vector.
    * `queries`: (qid, qvec); `corpus`: (id, vec). Excludes self-matches. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // norms materialize once per row (not per pair): per-pair work is a
    // single dot-product fold
    val cn = corpus.withColumn("__nv", Vectors.norm2(col("vec")))
    val qn = queries.withColumn("__nq", Vectors.norm2(col("qvec")))
    val joined = cn.crossJoin(broadcast(qn))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim",
        Vectors.dot(col("qvec"), col("vec")) / (col("__nq") * col("__nv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("sim"), 4).as("sim"))
  }

  /** The (config-sized) centroid table collected to the driver as
    * (cid, cvec-as-double), cid-ascending — like Spark MLlib's KMeans,
    * centroids live driver-side and ship to executors inside the plan;
    * the corpus is never joined against them. Double(float) is exact, so
    * collecting float embeddings as doubles changes no value. */
  private def centroidSeq(centroids: DataFrame): IndexedSeq[(Long, IndexedSeq[Double])] =
    centroids.select(col("cid").cast("long"),
        transform(col("cvec"), x => x.cast("double")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq

  /** Per-row array of (cosine-to-centroid, -cid) structs — the MAP-SIDE
    * replacement for crossJoin(broadcast(centroids)) + row_number window:
    * nearest cell = array_max (max cs; ties -> max -cid = min cid), probe
    * set = head of the descending sort. Zero shuffle, zero duplication of
    * corpus rows. Arithmetic is the exact join-form formula — dot/(|v||c|)
    * with left-to-right double folds (|c| pre-folded on the driver in the
    * same order) — so every cs is bit-identical to the old plan's. */
  private def centScores(vec: Column, vnorm: Column,
      cents: Seq[(Long, IndexedSeq[Double])]): Column =
    array(cents.map { case (cid, cv) =>
      val cnorm = math.sqrt(cv.foldLeft(0.0)((s, x) => s + x * x))
      struct(
        (Vectors.dot(vec, typedLit(cv.toArray)) / (vnorm * lit(cnorm))).as("cs"),
        lit(-cid).as("ncid"))
    }: _*)

  private def nearestCid(vec: Column, vnorm: Column,
      cents: Seq[(Long, IndexedSeq[Double])]): Column =
    // one compact argmax kernel (r17): the array_max-over-structs form
    // inlined one dot loop per centroid into a single generated method —
    // past the JVM huge-method JIT limit the corpus pass ran interpreted.
    // Ordering/arithmetic identical (see NearestCentroidExpr scaladoc).
    element_at(
      typedLit(cents.map(_._1).toArray),
      graft.functions.NearestCentroidExpr.nearest_centroid_cos(
        vec, vnorm, cents.map(_._2.toSeq)) + 1)

  /** IVF (inverted-file) index: every corpus vector is assigned to its
    * nearest centroid cell (cosine, ties to the lower centroid id).
    * `centroids`: (cid, cvec) — small, collected driver-side.
    *
    * Scale: with cells ~ sqrt(corpus), assignment is ONE map-side pass —
    * scan, project, done; no Exchange anywhere between the corpus scan and
    * the cell assignment (asserted by OperatorSpec). K-means refinement of
    * the centroids is an optional offline step — any fixed centroid set
    * (here: a deterministic stride sample) yields a correct index. */
  def ivfIndex(corpus: DataFrame, centroids: DataFrame): DataFrame =
    ivfIndexWith(corpus, centroidSeq(centroids))

  private def ivfIndexWith(corpus: DataFrame,
      cents: Seq[(Long, IndexedSeq[Double])]): DataFrame =
    corpus.withColumn("__nv", Vectors.norm2(col("vec")))
      .withColumn("cid", nearestCid(col("vec"), col("__nv"), cents))
      .select(col("id"), col("vec"), col("__nv"), col("cid"))

  /** IVF search: probe the `nprobe` nearest cells of each query, rank
    * candidates within them by exact cosine. Probe selection is the same
    * map-side scoring (sort the per-row score array descending, take
    * nprobe) — no query-side shuffle either. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val cents = centroidSeq(centroids)
    val index = ivfIndexWith(corpus, cents)
    val qn = queries.withColumn("__nq", Vectors.norm2(col("qvec")))
    // ascending struct sort orders by (cs, -cid); reversed = cs DESC with
    // ties cid ASC — exactly the old ORDER BY __cs DESC, cid
    val probes = qn
      .withColumn("__cell", explode(slice(reverse(array_sort(
        centScores(col("qvec"), col("__nq"), cents))), 1, nprobe)))
      .select(col("qid"), col("qvec"), col("__nq"),
        (-col("__cell.ncid")).as("cid"))
    val cand = index.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim",
        Vectors.dot(col("qvec"), col("vec")) / (col("__nq") * col("__nv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("sim"), 4).as("sim"))
  }

  /** GONZALEZ FARTHEST-POINT k-center seeding (the classic 2-approx for
    * k-center, and the principled IVF/k-means seed picker beside the
    * stride sample: seeds end up spread across the data instead of
    * wherever the ids landed): start from the minimum-id vector, then
    * k−1 rounds of "pick the corpus vector FARTHEST (max-min squared
    * L2) from the seeds chosen so far", ties to the smaller id. Every
    * distance is the [[graft.functions.Vectors.l2sq]] left-fold double
    * tree, so a SQL oracle replays each selection exactly.
    *
    * Scale shape: each round is ONE corpus scan — the chosen seeds ride
    * as literal vectors inside the plan (config-sized, k·dim doubles),
    * min-distance is a map-side expression, and the argmax is a 1-row
    * `max(struct(dist, -id))` partial agg + driver collect (the t18
    * argmax discipline: k collects of one row each, never a sort).
    * Returns (rank, id, sel_dist) — sel_dist is the max-min distance at
    * selection time (0.0 for the first seed), the monotone
    * non-increasing sequence whose last value bounds the k-center
    * radius. */
  def kcenterSeeds(corpus: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val sp = corpus.sparkSession
    import sp.implicits._
    val first = corpus.agg(min(col("id"))).head().getLong(0)
    var seeds = Seq((1, first, 0.0,
      corpus.filter(col("id") === first).select(col("vec"))
        .head().getSeq[Float](0).toArray))
    while (seeds.size < k) {
      val dists = seeds.map { case (_, _, _, v) =>
        Vectors.l2sq(col("vec"),
          array(v.toSeq.map(x => lit(x.toDouble)): _*))
      }
      // least() rejects a single argument; one seed needs no min
      val mind = if (dists.size == 1) dists.head else least(dists: _*)
      val pick = corpus
        .agg(max(struct(mind.as("md"), (-col("id")).as("nid"))))
        .head().getStruct(0)
      val id = -pick.getLong(1)
      seeds = seeds :+ ((seeds.size + 1, id, pick.getDouble(0),
        corpus.filter(col("id") === id).select(col("vec"))
          .head().getSeq[Float](0).toArray))
    }
    seeds.map { case (r, id, d0, _) => (r, id, d0) }
      .toDF("rank", "vec_id", "sel_dist")
  }

  /** MULTI-ASSIGNMENT IVF index: every corpus vector is posted to its
    * `na` nearest cells instead of one — the FAISS "spilled postings" /
    * multiple-assignment trick: a vector near a Voronoi boundary is
    * findable from EITHER side, so recall at a fixed nprobe rises
    * strictly (the candidate set is a superset of single-assignment's
    * by construction) at the cost of `na`× index storage and build
    * cost. Same map-side shape as [[ivfIndex]] — scan, score the
    * driver-held centroid seq, explode the top-na cells; no Exchange
    * between the corpus scan and the postings. Search composes through
    * [[ivfTopKOnIndex]] unchanged (cell equi-join on the probed cids;
    * at nprobe = 1 a vector meets a query at most once, and at higher
    * nprobe the rank window's (sim, id) order keeps duplicate
    * candidate rows adjacent and deterministic). */
  def ivfIndexMulti(corpus: DataFrame, centroids: DataFrame,
      na: Int): DataFrame = {
    require(na >= 1, "na must be >= 1")
    val cents = centroidSeq(centroids)
    corpus.withColumn("__nv", Vectors.norm2(col("vec")))
      .withColumn("__cell", explode(slice(reverse(array_sort(
        centScores(col("vec"), col("__nv"), cents))), 1, na)))
      .select(col("id"), col("vec"), col("__nv"),
        (-col("__cell.ncid")).as("cid"))
  }

  /** [[ivfTopK]] over a PRE-BUILT postings table (id, vec, __nv, cid) —
    * the persisted-index form: the index is built once ([[ivfIndex]]
    * written to storage partitioned by cell) and EXTENDED per increment
    * by assigning only the new vectors against the frozen centroids —
    * IVF assignment is per-row independent, so append-only maintenance
    * is lossless vs a full rebuild (gate a12 hash-proves it). Search
    * never re-assigns the corpus: probes select cells map-side and the
    * cell equi-join reads only probed partitions of the on-disk index. */
  def ivfTopKOnIndex(queries: DataFrame, postings: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = centroidSeq(centroids)
    val qn = queries.withColumn("__nq", Vectors.norm2(col("qvec")))
    val probes = qn
      .withColumn("__cell", explode(slice(reverse(array_sort(
        centScores(col("qvec"), col("__nq"), cents))), 1, nprobe)))
      .select(col("qid"), col("qvec"), col("__nq"),
        (-col("__cell.ncid")).as("cid"))
    val cand = postings.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim",
        Vectors.dot(col("qvec"), col("vec")) / (col("__nq") * col("__nv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("sim"), 4).as("sim"))
  }

  /** Query-TABLE form of [[ivfTopK]] — the "score 10M queries against the
    * corpus" RAG shape, IVF flavor (a6/`lshTopKJoin` is the LSH flavor):
    * probe-cell selection stays the zero-shuffle map-side argmax over the
    * driver-held centroid seq on BOTH sides, but the candidate join is a
    * shuffle hash equi-join on cid — the query side is a distributed
    * table end to end, never broadcast. Per-query top-k via the same
    * qid-partitioned rank window. */
  def ivfTopKJoin(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = centroidSeq(centroids)
    val index = ivfIndexWith(corpus, cents)
    val qn = queries.withColumn("__nq", Vectors.norm2(col("qvec")))
    val probes = qn
      .withColumn("__cell", explode(slice(reverse(array_sort(
        centScores(col("qvec"), col("__nq"), cents))), 1, nprobe)))
      .select(col("qid"), col("qvec"), col("__nq"),
        (-col("__cell.ncid")).as("cid"))
    val cand = index.hint("shuffle_hash").join(probes, Seq("cid"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim",
        Vectors.dot(col("qvec"), col("vec")) / (col("__nq") * col("__nv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("sim"), 4).as("sim"))
  }

  /** Seeded Lloyd (k-means) refinement of an IVF centroid set: `iters`
    * deterministic iterations over the corpus starting from `init`
    * (cid, cvec). Assignment = nearest centroid by cosine with ties to the
    * lower cid (the same rule as [[ivfIndex]]); update = per-component mean
    * ROUNDED to `scale` decimals — rounding absorbs the ulp-level noise of
    * float-summation order, which is what makes the refinement replayable
    * bit-for-bit in any engine (the correctness oracle unrolls the same
    * iterations in SQL). Cells that lose all members keep their previous
    * centroid.
    *
    * Scale: like Spark MLlib's KMeans, each iteration materializes only the
    * centroid set on the driver (O(cells x dim) — config-sized, never
    * corpus-sized), so the corpus-side work per iteration is one
    * broadcast-join assignment pass plus one (cid, pos) partial-agg shuffle
    * of component sums. */
  def kmeansRefine(corpus: DataFrame, init: DataFrame, iters: Int,
      scale: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = centroidSeq(init)
    for (_ <- 0 until iters) {
      // assignment: the same zero-shuffle map-side argmin as ivfIndex —
      // per iteration the corpus-side work is one scan-project pass plus
      // one (cid, pos) partial-agg shuffle of component sums
      val assigned = corpus
        .withColumn("__nv", Vectors.norm2(col("vec")))
        .withColumn("cid", nearestCid(col("vec"), col("__nv"), cents))
        .select(col("cid"), col("vec"))
      val means = assigned
        .select(col("cid"), posexplode(col("vec")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("col")), scale).as("m"))
        .groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mvec"))
      // driver-side merge of the (centroid-sized) means: cells that lose
      // all members keep their previous centroid — MLlib does the same
      val stepped = means.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
      cents = cents.map { case (cid, cv) =>
        (cid, stepped.getOrElse(cid, cv))
      }
    }
    cents.map { case (cid, cv) => (cid, cv: Seq[Double]) }
      .toDF("cid", "cvec")
  }

  /** LSH-bucketed top-k: candidates restricted to the query's sign-bit
    * bucket. `planes` are fixed hyperplanes (deterministic — e.g. the first
    * b corpus vectors), making the bucketing reproducible anywhere.
    *
    * `multiProbe` additionally probes every bucket at Hamming distance 1
    * from the query's (single-plane sign flips) — classic multi-probe LSH:
    * near neighbors that land just across one hyperplane are recovered, at
    * (1 + planes) x the candidate volume. Implemented by expanding the
    * QUERY side into its probe buckets, so the join stays a broadcast hash
    * equi-join on the bucket key — the corpus side is never replicated and
    * never shuffled differently than the exact-bucket form. */
  /** QUERY-TABLE form of [[lshTopK]] — the "score 10M queries against the
    * corpus" RAG shape, where the query set is itself a big DataFrame and
    * must never be broadcast. Both sides bucket MAP-SIDE, then meet in a
    * SHUFFLE hash equi-join on the bucket key (`shuffle_hash` hint — the
    * planner must not auto-broadcast whichever side happens to look
    * small), and the per-query top-k ranks inside a qid-partitioned
    * window — one shuffle on bucket, one on qid, both keys
    * high-cardinality and well-distributed, nothing driver- or
    * broadcast-sized anywhere. Same answer as [[lshTopK]] on the same
    * inputs (the a6 gate replays a2's oracle at a bigger query set). */
  def lshTopKJoin(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Seq[Seq[Double]], multiProbe: Boolean = false): DataFrame = {
    val cb = corpus.withColumn("bucket", Vectors.lshBucket(col("vec"), planes))
      .withColumn("__nv", Vectors.norm2(col("vec")))
    val qb0 = queries.withColumn("qbucket",
        Vectors.lshBucket(col("qvec"), planes))
      .withColumn("__nq", Vectors.norm2(col("qvec")))
    val qb =
      if (!multiProbe) qb0
      else qb0.withColumn("qbucket", explode(array(
        (col("qbucket") +: planes.indices.map(i =>
          col("qbucket").bitwiseXOR(lit(1L << i)))): _*)))
    val joined = cb.hint("shuffle_hash")
      .join(qb, col("bucket") === col("qbucket"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim",
        Vectors.dot(col("qvec"), col("vec")) / (col("__nq") * col("__nv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("sim"), 4).as("sim"))
  }

  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Seq[Seq[Double]], multiProbe: Boolean = false): DataFrame = {
    val cb = corpus.withColumn("bucket", Vectors.lshBucket(col("vec"), planes))
      .withColumn("__nv", Vectors.norm2(col("vec")))
    val qb0 = queries.withColumn("qbucket",
        Vectors.lshBucket(col("qvec"), planes))
      .withColumn("__nq", Vectors.norm2(col("qvec")))
    val qb =
      if (!multiProbe) qb0
      else qb0.withColumn("qbucket", explode(array(
        (col("qbucket") +: planes.indices.map(i =>
          col("qbucket").bitwiseXOR(lit(1L << i)))): _*)))
    val joined = cb.join(broadcast(qb), col("bucket") === col("qbucket"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim",
        Vectors.dot(col("qvec"), col("vec")) / (col("__nq") * col("__nv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("sim"), 4).as("sim"))
  }

  /** Maximum-inner-product search (MIPS) — retrieval by RAW dot product,
    * the ranking recommender models and learned retrievers actually
    * train for (cosine's normalization deliberately discards the
    * magnitude signal; under MIPS a long vector can out-rank a
    * better-aligned short one, so the two orders genuinely differ).
    * `queries`: (qid, qvec); `corpus`: (id, vec); excludes self-matches.
    * Per-pair work is one codegen'd dot fold; per-query top-k through
    * the k-capped [[graft.functions.TopKPairsAgg]] with the score
    * encoded as an order-reversed sortable long
    * ([[graft.functions.DoubleKeyExprs.doubleDescKey]], exact and
    * invertible) — map-side partial top-k, so the shuffle carries ≤ k
    * pairs per (partition, query) and NO corpus-sized window sort
    * exists anywhere (a rank window here would sort |corpus| rows
    * inside every query partition).
    *
    * Scale path: MIPS has no triangle inequality, so cosine/L2 indexes
    * don't apply DIRECTLY — the standard reduction (Bachrach et al.,
    * RecSys'14) augments corpus vectors to [x, √(M²−‖x‖²)] (M =
    * max corpus norm) and queries to [q, 0]: augmented cosine order ==
    * inner-product order, so every cosine index in this file
    * (lshTopK/ivfTopK/PQ) becomes a MIPS index unchanged.
    * [[augmentMips]] builds that embedding; the spec proves order
    * equivalence on real vectors. */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import graft.functions.DoubleKeyExprs.{doubleDescKey, doubleFromDescKey}
    val topk = graft.functions.TopKPairsAgg.topKPairs(k)
    corpus.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        doubleDescKey(Vectors.dot(col("qvec"), col("vec"))).as("__key"))
      .groupBy(col("qid"))
      .agg(topk(col("__key"), col("id")).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("qid"), (col("__pos") + 1).cast("int").as("rank"),
        col("__e._2").as("neighbor"),
        round(doubleFromDescKey(col("__e._1")), 4).as("ip"))
  }

  /** The MIPS→cosine reduction: append √(M²−‖x‖²) to every corpus
    * vector (`isQuery = false`) and a literal 0 to every query
    * (`isQuery = true`). With M ≥ max ‖x‖, augmented-cosine ranking
    * equals inner-product ranking for every query. M is ONE scalar —
    * computed in a single all-reduce and bound into the plan, never a
    * per-row join. */
  def augmentMips(vecs: DataFrame, vecCol: String, m2: Double,
      isQuery: Boolean): DataFrame = {
    val v = col(vecCol)
    // Clamp the radicand at 0: if a caller passes an m2 below the true max
    // squared norm (stale scalar, wrong corpus), sqrt of a negative would
    // NaN-tail the vector and silently corrupt the augmented-cosine
    // ranking. Clamped, a violating vector degrades to tail 0 (ranked by
    // raw dot among violators) instead of poisoning every comparison.
    val tail =
      if (isQuery) lit(0.0)
      else sqrt(greatest(lit(0.0), lit(m2) - Vectors.dot(v, v)))
    vecs.withColumn(vecCol,
      concat(transform(v, x => x.cast("double")), array(tail)))
  }

  // ==================== binary (sign) quantization ====================

  /** Binary-quantization code: bit i of ONE 64-bit long is set iff
    * vector component i+1 is strictly positive. 8 bytes per vector —
    * 32× smaller than 64 floats, the most aggressive compression tier
    * in this file (PQ stores M=4 ints): at 100 TB the whole embedding
    * working set reduces to a code column that scans at memory
    * bandwidth. The bit literals are constants (`1L << i`), the chain
    * of conditional ORs stays inside whole-stage codegen, and the same
    * formula replays in any engine as a conditional bit sum. */
  def bqCode(vec: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, s"dim must be in [1, 64], got $dim")
    (0 until dim).map { i =>
      when(element_at(vec, i + 1).cast("double") > 0d, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** Hamming shortlist over binary codes — the candidate stage of
    * binary-quantized search (the brute-scan path production BQ systems
    * ship: no bucketing, just xor+popcount over packed codes at memory
    * bandwidth). Codes both sides, scores every (query, corpus) pair by
    * `bit_count(xor)` — two instructions per 8-byte pair — and keeps
    * the `shortlist` closest ids per query through the k-capped
    * [[graft.functions.TopKPairsAgg]]: map-side partial top-k, the
    * shuffle carries ≤ shortlist pairs per (partition, query), and NO
    * corpus-sized window sort exists. Queries broadcast; the corpus
    * side streams only (id, code) — vectors are NOT carried here, the
    * re-rank fetches them by id for the result-sized shortlist only.
    * Ties break toward the lower id. Returns (qid, id, ham). */
  def bqHammingShortlist(queries: DataFrame, corpus: DataFrame,
      dim: Int, shortlist: Int): DataFrame = {
    val topk = graft.functions.TopKPairsAgg.topKPairs(shortlist)
    val codes = corpus.select(col("id"), bqCode(col("vec"), dim).as("ccode"))
    val qcodes = queries.select(col("qid"),
      bqCode(col("qvec"), dim).as("qcode"))
    codes.crossJoin(broadcast(qcodes))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        bit_count(col("ccode").bitwiseXOR(col("qcode")))
          .cast("long").as("ham"))
      .groupBy(col("qid"))
      .agg(topk(col("ham"), col("id")).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__e"))
      .select(col("qid"), col("__e._2").as("id"), col("__e._1").as("ham"))
  }

  /** Exact cosine re-rank of a Hamming shortlist: the shortlist is
    * result-sized, so it is the BROADCAST side of the vector fetch join
    * against the corpus; scoring and ranking then touch candidate rows
    * only. Quantization error affects shortlist MEMBERSHIP, never a
    * reported similarity — a10's two-stage contract on the BQ tier. */
  def bqRerankTopK(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val cn = corpus.withColumn("__nv", Vectors.norm2(col("vec")))
    val qn = broadcast(queries.withColumn("__nq", Vectors.norm2(col("qvec"))))
    val scored = cn.join(broadcast(shortlist.select("qid", "id")), Seq("id"))
      .join(qn, Seq("qid"))
      .withColumn("sim",
        Vectors.dot(col("qvec"), col("vec")) / (col("__nq") * col("__nv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"),
        round(col("sim"), 4).as("sim"))
  }

  /** Per-dimension quantization bounds for [[sq8Code]] — one corpus
    * pass through a posexplode partial agg to the DIM domain (64 rows):
    * (d, lo, hi) = min/max of dimension d. */
  def sq8Bounds(corpus: DataFrame, dim: Int): DataFrame =
    corpus.select(posexplode(col("vec")).as(Seq("d", "__v")))
      .filter(col("d") < dim)
      .groupBy(col("d"))
      .agg(min(col("__v").cast("double")).as("lo"),
        max(col("__v").cast("double")).as("hi"))

  /** SCALAR QUANTIZATION (SQ8) encode — the industry-standard int8
    * middle tier of the compression ladder (fp32 → SQ8 → PQ → binary:
    * 4× smaller than floats, 8× less aggressive than [[bqCode]]'s sign
    * bits): dimension d maps to code = min(255, ⌊(v − lo_d)·256 ∕
    * (hi_d − lo_d)⌋), a shared IEEE tree both engines evaluate
    * identically, with degenerate dimensions (hi = lo) pinned to 0.
    * Bounds ride as LITERALS (a 64-pair config-sized collect, the
    * kmeans-centroid discipline), so encoding is one codegen'd
    * projection — no join against the bounds table on the hot path. */
  def sq8Code(vec: Column, lo: IndexedSeq[Double],
      hi: IndexedSeq[Double]): Column =
    array(lo.indices.map { i =>
      if (hi(i) == lo(i)) lit(0)
      else least(lit(255), floor(
        (element_at(vec, i + 1).cast("double") - lit(lo(i))) * 256.0d /
          lit(hi(i) - lo(i))).cast("int"))
    }: _*)

  /** SQ8 shortlist — brute integer scan over codes, the [[
    * bqHammingShortlist]] shape one tier up the fidelity ladder:
    * distance is CODE-SPACE squared L2 (Σ_d (qc_d − cc_d)², a pure
    * integer per pair via one zip_with + aggregate fold — max value
    * 64·255² ≈ 4.2 M, nowhere near overflow). Code-space L2 equals
    * dequantized L2 only up to per-dimension scale, so it is a
    * SHORTLIST metric (membership, never a reported score) — the a10
    * two-stage contract; the exact re-rank ([[bqRerankTopK]], reused
    * verbatim) fixes everything inside the shortlist. Queries
    * broadcast; corpus side streams (id, codes) only; k-capped
    * [[graft.functions.TopKPairsAgg]] — no corpus-sized window. */
  def sq8Shortlist(queries: DataFrame, corpus: DataFrame,
      lo: IndexedSeq[Double], hi: IndexedSeq[Double], shortlist: Int)
      : DataFrame = {
    val topk = graft.functions.TopKPairsAgg.topKPairs(shortlist)
    val codes = corpus.select(col("id"),
      sq8Code(col("vec"), lo, hi).as("cc"))
    val qcodes = queries.select(col("qid"),
      sq8Code(col("qvec"), lo, hi).as("qc"))
    codes.crossJoin(broadcast(qcodes))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        // identical integer fold as aggregate(zip_with(...)), via the
        // codegen'd loop (r17) — (a−b)² in int (max 255², no overflow),
        // widened to long per element, accumulated in long
        graft.functions.VectorExprs.vec_l2sq_int(col("qc"), col("cc"))
          .as("d2"))
      .groupBy(col("qid"))
      .agg(topk(col("d2"), col("id")).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__e"))
      .select(col("qid"), col("__e._2").as("id"), col("__e._1").as("d2"))
  }

  /** MAXIMAL-MARGINAL-RELEVANCE re-rank (Carbonell & Goldstein 1998) over
    * an ANN shortlist — the RAG answer-diversity pass: greedily pick the
    * candidate maximizing λ·rel(q,d) − (1−λ)·max_{s∈selected} cos(d,s),
    * so each pick is relevant AND far from what is already selected
    * (pure top-k returns k near-duplicates when the corpus has them).
    *
    * Distributed shape: the greedy is inherently sequential PER QUERY but
    * embarrassingly parallel ACROSS queries — a groupByKey on qid and an
    * in-task greedy over that query's shortlist (shortlist-sized: N ≤ a
    * few hundred rows × the embedding dim). No driver collect, no
    * iterative anti-join re-shuffle per step; result-sized output.
    *
    * Determinism (oracle-replay contract): rel arrives rounded(4) from
    * the shortlist; every pairwise penalty cosine is rounded(4) before
    * entering a score; cosines use the same left-to-right double folds
    * as [[graft.functions.VectorExprs]] (bit-identical to the SQL
    * replica); score ties break to the smaller id.
    *
    * `shortlist`: (qid, id, rel, vec) — rel = rounded similarity to the
    * query, vec = the candidate's embedding. Emits (qid, mmr_rank,
    * neighbor, rel, mmr_score) with mmr_rank 1..k in selection order. */
  def mmrRerank(shortlist: DataFrame, lambda: Double, k: Int): DataFrame = {
    val sp = shortlist.sparkSession
    import sp.implicits._
    shortlist.select(col("qid").cast("long"), col("id").cast("long"),
        col("rel").cast("double"),
        transform(col("vec"), x => x.cast("double")).as("vec"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long,
          it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        // id-ascending base order + strict > in the argmax = smallest id
        // wins ties, mirroring the oracle's max(struct(score, -id))
        val cands = it.map { case (_, id, rel, v) => (id, rel, v.toArray) }
          .toArray.sortBy(_._1)
        val n = cands.length
        val active = Array.fill(n)(true)
        val pen = new Array[Double](n)
        def cos(a: Array[Double], b: Array[Double]): Double = {
          val m = math.min(a.length, b.length)
          var dot = 0.0
          var i = 0
          while (i < m) { dot += a(i) * b(i); i += 1 }
          def nrm(x: Array[Double]): Double = {
            var s = 0.0
            var j = 0
            while (j < x.length) { s += x(j) * x(j); j += 1 }
            math.sqrt(s)
          }
          val d = nrm(a) * nrm(b)
          // zero-norm candidates carry no direction: similarity 0, not
          // NaN (which would poison rnd()'s BigDecimal and the argmax)
          if (d == 0.0) 0.0 else dot / d
        }
        // Spark SQL round semantics (BigDecimal HALF_UP), same as the
        // shortlist's own sim rounding
        def rnd(v: Double): Double = BigDecimal(v)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val out = new scala.collection.mutable.ArrayBuffer[
          (Long, Int, Long, Double, Double)](math.min(k, n))
        var step = 1
        var exhausted = false
        while (step <= math.min(k, n) && !exhausted) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (active(i)) {
              val s = lambda * cands(i)._2 - (1 - lambda) * pen(i)
              // a NaN rel (degenerate public input) must never win the
              // argmax; if no finite-scored candidate remains, stop
              // emitting rather than index active(-1)
              if (java.lang.Double.isFinite(s) && s > bestScore) {
                bestScore = s; best = i
              }
            }
            i += 1
          }
          if (best == -1) exhausted = true
          else {
            active(best) = false
            val (id, rel, vec) = cands(best)
            var j = 0
            while (j < n) {
              if (active(j)) {
                val cv = cos(cands(j)._3, vec)
                if (java.lang.Double.isFinite(cv))
                  pen(j) = math.max(pen(j), rnd(cv))
              }
              j += 1
            }
            // the score is emitted RAW: λ·rel − (1−λ)·pen over 4-decimal
            // inputs lands exactly on round-half boundaries (0.7·0.3985 =
            // 0.27895), where engines' round() disagree; the unrounded
            // double is bit-identical in both (same IEEE ops, same inputs)
            out += ((qid, step, id, rel, bestScore))
            step += 1
          }
        }
        out.iterator
      }
      .toDF("qid", "mmr_rank", "neighbor", "rel", "mmr_score")
  }

  /** NN-DESCENT k-NN GRAPH CONSTRUCTION (Dong, Moses & Li, WWW 2011) —
    * the all-pairs companion of the query-time indexes in this file:
    * build the top-k cosine neighbor list of EVERY corpus vector
    * without the O(n²) brute pass, by iterating "a neighbor of my
    * neighbor is probably my neighbor". Each round runs the paper's
    * LOCAL JOIN: every node m's general neighborhood G(m) = N(m) ∪
    * R(m) (forward edges plus reverse edges CAPPED at k per node —
    * the paper's ρK sampling made deterministic by keeping the k
    * smallest reverse ids, so a hub's unbounded in-degree never
    * explodes a join) introduces all pairs (a, b) ∈ G(m)² to each
    * other; candidates = current edges ∪ those pairs, deduped — at
    * most 4k² + k per node, INDEPENDENT of corpus size —
    * scored by exact cosine and re-capped at k via the
    * [[graft.functions.TopKPairsAgg]] partial-agg top-k (score as the
    * exact order-reversed [[graft.functions.DoubleKeyExprs
    * .doubleDescKey]] long; no corpus-sized window anywhere).
    * Rescoring the current list every round makes improvement
    * monotone.
    *
    * Initialization is hash-DART seeding, not an RNG: every node gets
    * a position H32(r:id) mod n in a virtual cell space, and throws 2k
    * darts H32(id:j) mod n; each dart's seed partners are the nodes
    * positioned in the cell it lands in (~1 expected at B = n) — per-
    * node INDEPENDENT near-uniform seeds, like sampling k random
    * peers, but a pure function of the node ids: NO id-contiguity
    * assumption (the sf1 probe's shifted-id copies seed fine), fully
    * REPLAYABLE (the a31 oracle re-runs every round in SQL) and
    * stable across cluster sizes. ~1∕e of darts land in empty cells
    * (wasted, by design); a node all of whose darts miss AND whose
    * own cell no dart hits starts isolated and stays absent —
    * vanishingly rare, documented rather than patched.
    * Scale: per round, one self-join
    * on the edge list (shuffles on the node key), two vector joins
    * against the norm-carrying corpus, one bounded top-k agg; edges are
    * staged per round ([[graft.Tables.iterate]]; storage per
    * [[graft.Tables.stage]]) so the chain never re-executes.
    *
    * Returns (qid, rank, neighbor, sim) — rank 1..k by (sim desc,
    * id asc), sim rounded to 4 like [[bruteForceTopK]]. */
  def nnDescent(corpus: DataFrame, k: Int, rounds: Int): DataFrame = {
    import graft.functions.DoubleKeyExprs.{doubleDescKey, doubleFromDescKey}
    import graft.functions.Hashing
    require(rounds >= 1, "rounds must be >= 1")
    val topk = graft.functions.TopKPairsAgg.topKPairs(k)
    val cn = graft.Tables.stage(corpus.select(col("id"), col("vec"),
      Vectors.norm2(col("vec")).as("__n")), "nnd-cn")
    val n = cn.count()
    def score(cand: DataFrame): DataFrame = cand
      .join(cn.select(col("id").as("v"), col("vec").as("__va"),
        col("__n").as("__na")), Seq("v"))
      .join(cn.select(col("id").as("u"), col("vec").as("__vb"),
        col("__n").as("__nb")), Seq("u"))
      .select(col("v"), col("u"),
        doubleDescKey(Vectors.dot(col("__va"), col("__vb")) /
          (col("__na") * col("__nb"))).as("__key"))
      .groupBy(col("v"))
      .agg(topk(col("__key"), col("u")).as("__top"))
      .select(col("v"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("v"), (col("__pos") + 1).cast("int").as("rank"),
        col("__e._2").as("u"),
        doubleFromDescKey(col("__e._1")).as("__sim"))
    val pos = corpus.select(col("id").as("u"),
      pmod(Hashing.portableHash32(
        concat(lit("r:"), col("id").cast("string"))), lit(n)).as("__c"))
    val darts = corpus.select(col("id").as("v"),
      explode(array((1 to 2 * k).map(j => pmod(Hashing.portableHash32(
        concat_ws(":", col("id"), lit(j))), lit(n))): _*)).as("__c"))
    val seed = darts.join(pos, Seq("__c"))
      .filter(col("v") =!= col("u"))
      .select(col("v"), col("u")).distinct()
    val e0 = graft.Tables.stage(score(seed).select(col("v"), col("u")),
      "nnd-e0")
    val (last, _) = graft.Tables.iterate(e0, rounds, "nnd-e") { (prev, _) =>
      val edges = prev.select(col("v"), col("u"))
      val rcap = edges.select(col("u").as("m"), col("v").as("x"))
        .groupBy(col("m")).agg(topk(col("x"), col("x")).as("__t"))
        .select(col("m"), explode(col("__t")).as("__e"))
        .select(col("m"), col("__e._2").as("x"))
      val g = edges.select(col("v").as("m"), col("u").as("x"))
        .unionByName(rcap).distinct()
      val lj = g.select(col("m"), col("x").as("v"))
        .join(g.select(col("m"), col("x").as("u")), Seq("m"))
        .select(col("v"), col("u"))
      val cand = edges.unionByName(lj)
        .filter(col("v") =!= col("u")).distinct()
      score(cand)
    }
    last.select(col("v").as("qid"), col("rank"),
      col("u").as("neighbor"), round(col("__sim"), 4).as("sim"))
  }
}
