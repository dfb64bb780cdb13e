package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed graph analytics over an edge table — the link-graph half of
  * a web-scale training-data pipeline. Page quality at corpus scale is
  * usually a LINK signal (incoming links from high-rank hosts) fed into
  * the curation mix next to the text-quality scores (`Text`), so the
  * engine needs an iterative graph primitive that survives 100 TB:
  * per-iteration joins on a co-partitioned edge table, every round staged
  * through [[graft.Tables.iterate]] (storage per [[graft.Tables.stage]]:
  * executor blocks by default, durable parquet when configured), and NO
  * driver-side state beyond the loop counter.
  *
  * Arithmetic is INTEGER CREDITS, not floating-point rank: summing
  * doubles is order-dependent under distributed aggregation, so two runs
  * (or two engines) can disagree in the last ulp — poison for both the
  * correctness oracle and cross-run reproducibility of a curation
  * pipeline. Integer credit flow (`(cr * damp) div (scale * outdeg)`,
  * exact integer division) is associative, so the result is bit-identical
  * on any partitioning and replayable in any engine with 64-bit integers.
  */
object Graph {

  /** PageRank with integer credits. `edges`: (src: long, dst: long),
    * multi-edges and self-loops allowed. Every node starts with
    * `initCredits`; each iteration a node keeps nothing, sends each
    * out-edge `(cr * dampNum) div (dampDen * outdeg)` credits (exact
    * integer division — dangling remainders are burned, like the
    * standard formulation's dangling-mass drop), and every node receives
    * `teleport` base credits. Returns (id, cr) after `iters` rounds.
    *
    * Shape per iteration: one join credits⋈edges on src (both sides hash
    * on the node id, and the edge side's partitioning is reused across
    * all rounds), one aggregation by dst, one left join back to the node
    * universe. Credits are staged per round ([[graft.Tables.iterate]];
    * storage per [[graft.Tables.stage]]). */
  def pageRankCredits(edges: DataFrame, iters: Int,
      initCredits: Long = 1000000L, teleport: Long = 150000L,
      dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodes = Tables.stage(
      e0.select(col("src").as("id"))
        .union(e0.select(col("dst").as("id"))).distinct(),
      "graft-pr-nodes")
    // outdegree rides WITH each edge so the per-iteration join is a
    // single equi-join on src — no second join against a degree table
    val e = Tables.stage(
      e0.join(e0.groupBy("src").agg(count(lit(1)).as("__d")), "src"),
      "graft-pr-edges")
    Tables.iterate(nodes.select(col("id"), lit(initCredits).as("cr")),
        iters, "graft-pr") { (credits, _) =>
      val contrib = e.join(credits, e("src") === credits("id"))
        .select(col("dst"),
          // SQL `div`: exact integer quotient — floor(double-division)
          // could land one off when the true quotient sits on an integer
          expr(s"(cr * $dampNum) div (${dampDen}L * __d)").as("__c"))
        .groupBy("dst").agg(sum("__c").as("__in"))
      nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (lit(teleport) + coalesce(col("__in"), lit(0L))).as("cr"))
    }._1
  }

  /** PERSONALIZED PageRank with integer credits — the literal TrustRank
    * construction (Gyöngyi, Garcia-Molina, Pedersen, VLDB 2004): the
    * teleport mass lands ONLY on the curated seed set, so credit can
    * reach a page exclusively through link paths from trusted pages, and
    * a page's score is a propagated-trust prior for corpus curation
    * (g5's hop-distance is the cheap radius form; this is the mass-flow
    * form that also discounts many-hop, low-conductance paths).
    *
    * Identical shape and arithmetic to [[pageRankCredits]] — one
    * edge⋈credit equi-join, one dst aggregation, one node left-join per
    * round, credits staged per round — with the teleport term
    * `when(isSeed, teleport, 0)`; seed membership is stamped on the node
    * universe once, so rounds add no extra join. Exact integer ops:
    * replayable hash-for-hash in any engine. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      initCredits: Long = 1000000L, teleport: Long = 150000L,
      dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val s = seeds.select(col("id").cast("long").as("id")).distinct()
      .select(col("id"), lit(true).as("__seed"))
    val nodes = Tables.stage(
      e0.select(col("src").as("id"))
        .union(e0.select(col("dst").as("id"))).distinct()
        .join(s, Seq("id"), "left")
        .select(col("id"),
          when(coalesce(col("__seed"), lit(false)), lit(teleport))
            .otherwise(lit(0L)).as("__t")),
      "graft-ppr-nodes")
    val e = Tables.stage(
      e0.join(e0.groupBy("src").agg(count(lit(1)).as("__d")), "src"),
      "graft-ppr-edges")
    // start mass on the seeds only — the TrustRank initial vector
    Tables.iterate(nodes.select(col("id"),
        when(col("__t") > 0, lit(initCredits)).otherwise(lit(0L)).as("cr")),
        iters, "graft-ppr") { (credits, _) =>
      val contrib = e.join(credits, e("src") === credits("id"))
        .select(col("dst"),
          expr(s"(cr * $dampNum) div (${dampDen}L * __d)").as("__c"))
        .groupBy("dst").agg(sum("__c").as("__in"))
      nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (col("__t") + coalesce(col("__in"), lit(0L))).as("cr"))
    }._1
  }

  /** Connected components over an UNDIRECTED graph (input edge list is
    * symmetrized; self-loops irrelevant). Returns (id, comp) where comp is
    * the minimum node id reachable from id.
    *
    * Each round does hash-to-min THEN pointer doubling:
    *   1. neighbor-min: cand(v) = min over u in N(v) of comp(u) — one
    *      equi-join edges⋈labels on the edge source + one min-agg by dst
    *      (label values only ever travel along edges, so a round is one
    *      shuffle-join + one shuffle-agg on the node id);
    *   2. pointer doubling: comp'(v) = comp(comp(v)) — comp values ARE
    *      node ids, so one self-join of the label table chases one level
    *      of indirection per round, collapsing long chains in O(log
    *      diameter) rounds instead of the O(diameter) of plain label
    *      propagation (the classic trick; cf. large-star/small-star).
    * Convergence = a round changes no label (one count action per round);
    * labels are staged per round ([[graft.Tables.iterate]]; storage per
    * [[graft.Tables.stage]]). Driver state: the loop counter and the
    * change count. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    val sym0 = edges.select(col("src").cast("long").as("u"),
      col("dst").cast("long").as("v"))
    val und = Tables.stage(
      sym0.union(sym0.select(col("v").as("u"), col("u").as("v"))).distinct(),
      "graft-cc-und")
    val labels0 = Tables.stage(
      und.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("comp")),
      "graft-cc-0")
    val (labels, _) = Tables.iterate(labels0, maxIters, "graft-cc")({
        (prev, _) =>
      val labels = prev.select(col("id"), col("comp"))
      val nbrMin = und.join(labels, und("u") === labels("id"))
        .groupBy(und("v").as("id")).agg(min(col("comp")).as("__nm"))
      // carry the pre-round label through the materialized table so the
      // convergence check is a pruned scan of the round's own output —
      // not a separate next⋈prev join job per round
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("__prev"),
          least(col("comp"), coalesce(col("__nm"), col("comp"))).as("comp"))
      val parent = stepped.select(col("id").as("__pid"),
        col("comp").as("__pcomp"))
      stepped.join(parent, stepped("comp") === col("__pid"))
        .select(col("id"), col("__pcomp").as("comp"), col("__prev"))
    }, Tables.unchanged("comp"))
    labels.select(col("id"), col("comp"))
  }

  /** Synchronous label propagation (community detection) over an
    * UNDIRECTED graph, a FIXED number of rounds. Labels start as node
    * ids; each round every node adopts the most frequent label among its
    * neighbors, ties broken toward the SMALLEST label value. Fixed
    * deterministic rounds — not convergence — because synchronous LPA can
    * oscillate on bipartite-ish structures; a fixed horizon keeps the
    * result exact, replayable, and engine-independent (the asynchronous
    * variant is order-dependent and unreproducible by construction).
    *
    * Shape per round: one equi-join und⋈labels on the edge source (label
    * values only travel along edges), one (node, label) count
    * aggregation, one argmax-by-node aggregation — the majority vote is
    * `max(struct(count, -label))`, a single partial-aggregating shuffle,
    * never a per-node window. Labels are staged per round
    * ([[graft.Tables.iterate]]; storage per [[graft.Tables.stage]]). Node ids
    * must be >= 0 (the negation trick needs -lab exact; ids here are
    * pmod-derived).
    *
    * Returns (id, lab) — nodes sharing `lab` are one community. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val sym = edges.select(col("src").cast("long").as("u"),
      col("dst").cast("long").as("v"))
    val und = Tables.stage(
      sym.union(sym.select(col("v").as("u"), col("u").as("v"))).distinct(),
      "graft-lpa-und")
    val labels0 = Tables.stage(
      und.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("lab")),
      "graft-lpa-0")
    Tables.iterate(labels0, rounds, "graft-lpa") { (labels, _) =>
      val votes = und.join(labels, und("u") === labels("id"))
        .groupBy(und("v").as("nid"), col("lab"))
        .agg(count(lit(1)).as("__c"))
      // every node of the symmetrized graph has >= 1 neighbor, so the
      // vote table covers the node universe — no left join back needed
      votes
        .groupBy(col("nid").as("id"))
        .agg(max(struct(col("__c"), (-col("lab")).as("__nl"))).as("__m"))
        .select(col("id"), (-col("__m.__nl")).as("lab"))
    }._1
  }

  /** HITS hubs & authorities (Kleinberg 1999) with integer credits over
    * DIRECTED edges (de-duplicated to a simple graph; self-loops kept —
    * both sides of the gate replay the same universe). The float algorithm
    * L2-normalizes per half-round; here each half-round rescales by the
    * MAXIMUM instead — `x * scale div max(x)` in exact integer arithmetic —
    * an L-inf normalization that keeps every score in [0, scale], makes the
    * fixpoint iteration overflow-free (raw sums are bounded by
    * max-degree * scale, far under int64), and — because every operation is
    * integer — is bit-identical on any partitioning and in any engine.
    *
    * Shape per round: authority update = one equi-join edges⋈hub on src +
    * one sum-agg by dst + one left join back to the node universe (nodes
    * with no in-edges score 0) + one global-max broadcast (1 row); hub
    * update mirrors it across dst. Scores are staged per half-round
    * (storage per [[graft.Tables.stage]]).
    * Returns (id, auth, hub) for every node. */
  def hitsCredits(edges: DataFrame, rounds: Int,
      scale: Long = 1000000L): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val de = Tables.stage(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct(),
      "graft-hits-e")
    val nodes = Tables.stage(
      de.select(col("src").as("id"))
        .union(de.select(col("dst").as("id"))).distinct(),
      "graft-hits-n")
    // x -> x * scale div max(x); greatest(max,1) guards the no-edges case
    def rescale(raw: DataFrame, v: String): DataFrame = {
      val mx = raw.agg(greatest(max(col(v)), lit(1L)).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"), expr(s"($v * ${scale}L) div __mx").as(v))
    }
    def halfRound(scores: DataFrame, inCol: String, joinOn: String,
        groupOn: String, outCol: String, tag: String): DataFrame = {
      val s = de.join(scores, de(joinOn) === scores("id"))
        .groupBy(de(groupOn).as("nid")).agg(sum(inCol).as("__s"))
      val raw = nodes.join(s, nodes("id") === col("nid"), "left")
        .select(nodes("id"), coalesce(col("__s"), lit(0L)).as(outCol))
      Tables.stage(rescale(raw, outCol), tag)
    }
    var hub = nodes.select(col("id"), lit(scale).as("hub"))
    var auth: DataFrame = null
    var i = 0
    while (i < rounds) {
      val (oa, oh) = (auth, hub)
      auth = halfRound(hub, "hub", "src", "dst", "auth", s"graft-hits-a$i")
      if (oa != null) Tables.unstage(oa) // superseded
      hub = halfRound(auth, "auth", "dst", "src", "hub", s"graft-hits-h$i")
      if (i > 0) Tables.unstage(oh)
      i += 1
    }
    auth.join(hub, "id").select(col("id"), col("auth"), col("hub"))
  }

  /** Min hop-distance from a seed set over DIRECTED edges, bounded to
    * `maxHops` rounds — the TrustRank-style propagation shape: curated
    * trusted domains are the seeds, and a page's distance from the seed
    * set is a spam/quality prior for the curation mix. Bellman-Ford
    * relaxation on unit weights: each round every reached node offers
    * `dist+1` along its out-edges and the per-node MIN wins — pure
    * integer state, so any engine replays it exactly. Nodes not reached
    * within `maxHops` are absent from the output (at web scale the
    * reached set is the interesting one; densify against the node
    * universe with a left join if the unreached need a sentinel).
    *
    * Shape per round: one equi-join frontier⋈edges on the edge source +
    * one min aggregation; state is staged per round
    * ([[graft.Tables.iterate]]; storage per [[graft.Tables.stage]]).
    * Monotone: once a node's min distance is found, later rounds can only
    * confirm it, so a fixed horizon under-reaches but never mislabels. */
  def seededDistance(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = Tables.stage(
      edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v")).distinct(),
      "graft-dist-e")
    val dist0 = Tables.stage(
      seeds.select(col("id").cast("long").as("id"), lit(0L).as("dist"))
        .distinct(),
      "graft-dist-0")
    Tables.iterate(dist0, maxHops, "graft-dist") { (dist, _) =>
      e.join(dist, e("u") === dist("id"))
        .select(e("v").as("id"), (col("dist") + 1L).as("dist"))
        .union(dist)
        .groupBy("id").agg(min("dist").as("dist"))
    }._1
  }

  /** Bounded-round WEIGHTED single-source-set shortest distance
    * (Bellman–Ford relaxation) — g5's seeded hop distance with integer
    * edge COSTS: after `rounds` relaxations every node holds the exact
    * min-cost of any walk from the seed set using ≤ `rounds` edges
    * (monotone non-increasing in rounds, the g5 horizon contract; with
    * rounds ≥ |V|−1 and non-negative weights this is the true shortest
    * path). All-integer costs, so the oracle unrolls the same rounds as
    * UNION ALL + MIN stages with no float drift. Parallel edges keep
    * their min weight. Shape per round: one edges⋈frontier equi-join on
    * the node id (the edge side's partitioning reused every round) +
    * one min-agg; distances are staged per round ([[graft.Tables.iterate]];
    * storage per [[graft.Tables.stage]]). Returns (id, dist) for reached
    * nodes only. */
  def weightedSeededDistance(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = Tables.stage(
      edges.select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v"), col("w").cast("long").as("w"))
        .groupBy(col("u"), col("v")).agg(min(col("w")).as("w")),
      "graft-wdist-e")
    val dist0 = Tables.stage(
      seeds.select(col("id").cast("long").as("id"), lit(0L).as("dist"))
        .distinct(),
      "graft-wdist-0")
    Tables.iterate(dist0, rounds, "graft-wdist") { (dist, _) =>
      e.join(dist, e("u") === dist("id"))
        .select(e("v").as("id"), (col("dist") + col("w")).as("dist"))
        .union(dist)
        .groupBy("id").agg(min("dist").as("dist"))
    }._1
  }

  /** Bounded-horizon DIRECTED strongly-connected components: node w
    * belongs to v's class iff BOTH directed distances d(v→w) and d(w→v)
    * are ≤ `maxHops`; every node is labeled min(id) over its class. The
    * one directed classic g3 (undirected CC) and g5 (directed seeded
    * distance) leave open, with g5's bounded-round discipline instead of
    * a convergence loop.
    *
    * Horizon contract (the g5 rule, sharpened): mutual reachability
    * within h implies mutual reachability, so every class is a SUBSET of
    * the node's true SCC — the label never crosses an SCC boundary, and
    * per node it is monotone NON-INCREASING in h, reaching the true SCC
    * min exactly when h covers the largest pairwise directed distance
    * inside the SCC (a cycle of length L resolves fully at h = L−1).
    * Spec plants a 3-cycle ∪ dag and checks the h-sweep.
    *
    * Shape: h rounds of frontier⋈edges expansion build the ≤h-hop
    * forward-reachability PAIR table (bounded by n·outdeg^h — at 100 TB
    * this is the term to budget: keep h small on high-fanout graphs, the
    * same knob as g5's maxHops), each round staged ([[graft.Tables.iterate]]);
    * backward pairs are the transpose, so ONE closure table self-joins
    * (left_semi on the swapped key pair — never a second closure build)
    * and a groupBy(id).min picks the label. */
  def sccBounded(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val e = Tables.stage(
      edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v")).distinct(),
      "graft-scc-e")
    val reach0 = Tables.stage(
      e.select(col("u").as("id")).union(e.select(col("v").as("id")))
        .distinct().select(col("id"), col("id").as("w")),
      "graft-scc-0")
    val (reach, _) = Tables.iterate(reach0, maxHops, "graft-scc") {
        (reach, _) =>
      reach.join(e, reach("w") === e("u"))
        .select(reach("id"), e("v").as("w"))
        .union(reach).distinct()
    }
    reach.as("a")
      .join(reach.as("b"),
        col("b.id") === col("a.w") && col("b.w") === col("a.id"),
        "left_semi")
      .groupBy(col("id")).agg(min(col("w")).as("scc"))
  }

  /** k-core peeling over an UNDIRECTED simple graph (symmetrized,
    * self-loops dropped), a FIXED number of rounds: each round recomputes
    * degrees on the surviving induced subgraph and drops every node with
    * degree < k — the standard spam-farm / fringe-page screen (a link
    * farm's periphery peels away; the dense core stays). Fixed rounds keep
    * the result exact and replayable; peeling is monotone, so a fixed
    * horizon can only UNDER-peel (report a superset of the true k-core),
    * never drop a core member. Returns (id, deg) for survivors with their
    * final-round induced degree.
    *
    * Shape per round: two semi-joins (edge endpoints against the
    * survivor set — both shuffle on the node id) + one count-agg; the
    * survivor set is staged per round ([[graft.Tables.iterate]]). Total work
    * only shrinks round over round; no state beyond the survivor list. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = Tables.stage(
      sym.union(sym.select(col("v").as("u"), col("u").as("v"))).distinct(),
      "graft-kcore-und")
    def degOf(alive: DataFrame): DataFrame = und
      .join(alive.select(col("id").as("u")), "u")
      .join(alive.select(col("id").as("v")), "v")
      .groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    // round 0 peels the full graph's degrees; the state is the survivors
    val deg0 = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val (alive, _) = Tables.iterate(deg0, rounds, "graft-kcore") {
        (prev, i) =>
      (if (i == 0) prev else degOf(prev)).filter(col("deg") >= k)
        .select("id")
    }
    degOf(alive).filter(col("deg") >= k)
  }

  /** k-truss peeling over an UNDIRECTED simple graph (symmetrized,
    * self-loops dropped): repeatedly drop every edge whose SUPPORT — the
    * number of triangles it participates in within the surviving
    * subgraph — is below k−2, a fixed number of rounds. The k-truss is
    * the edge-level cohesion screen k-core cannot express: a star hub
    * has huge degree but zero support, so trusses isolate genuinely
    * clique-ish communities while cores keep hubs. Fixed rounds keep the
    * result exact and replayable; peeling is monotone, so a fixed
    * horizon can only UNDER-peel (a superset of the true k-truss), never
    * drop a truss edge.
    *
    * Shape per round: one [[triangleCounts]]-style degree-ordered wedge
    * join on the surviving edges (arboricity-bounded fan-out — the
    * orientation trick that keeps a power-law graph joinable), one
    * explode of each triangle to its 3 canonical edges, one count-agg,
    * one filter. Survivors are staged per round ([[graft.Tables.iterate]];
    * storage per [[graft.Tables.stage]]); work only shrinks. Returns
    * surviving canonical edges (u < v) with the support that justified
    * their survival in the final round. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, "k must be >= 3 and rounds >= 1")
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = Tables.stage(
      sym.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v")).distinct(),
      "graft-ktruss-und")
    // a round's oriented edge table is staged (three consumers) and dead
    // once the round's survivors are: the next round frees it
    var oriented: DataFrame = null
    val (out, _) = Tables.iterate(und, rounds, "graft-ktruss-r") {
        (cur, i) =>
      if (oriented != null) Tables.unstage(oriented)
      oriented = orient(cur.select("u", "v"), i)
      edgeSupport(oriented).filter(col("sup") >= k - 2)
    }
    Tables.unstage(oriented)
    out
  }

  /** Canonical (u < v) simple edges directed from lower to higher
    * (degree, id), each carrying its head's degree — the arboricity-bounded
    * orientation [[edgeSupport]] joins over; staged for its three
    * consumers. */
  private def orient(canon: DataFrame, round: Int): DataFrame = {
    val und = canon.select(col("u").as("x"), col("v").as("y"))
      .union(canon.select(col("v").as("x"), col("u").as("y")))
    val deg = und.groupBy("x").agg(count(lit(1)).as("d"))
    Tables.stage(
      und.join(deg, "x")
        .join(deg.select(col("x").as("y"), col("d").as("dy")), "y")
        .filter(col("d") < col("dy") ||
          (col("d") === col("dy") && col("x") < col("y")))
        .select(col("x").as("a"), col("y").as("b"), col("dy").as("db")),
      s"graft-ktruss-or$round")
  }

  /** Per-edge triangle support over an [[orient]]ed edge table, via the
    * same degree-ordered wedge join as [[triangleCounts]]; edges in no
    * triangle produce no row (support 0). */
  private def edgeSupport(oriented: DataFrame): DataFrame = {
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.a") === col("e2.a"))
      .filter(col("e1.db") < col("e2.db") ||
        (col("e1.db") === col("e2.db") && col("e1.b") < col("e2.b")))
      .select(col("e1.a").as("w0"), col("e1.b").as("w1"),
        col("e2.b").as("w2"))
    val tris = wedges.join(oriented.as("c"),
      col("w1") === col("c.a") && col("w2") === col("c.b"))
      .select(col("w0"), col("w1"), col("w2"))
    tris.select(explode(array(
        struct(least(col("w0"), col("w1")).as("u"),
          greatest(col("w0"), col("w1")).as("v")),
        struct(least(col("w0"), col("w2")).as("u"),
          greatest(col("w0"), col("w2")).as("v")),
        struct(least(col("w1"), col("w2")).as("u"),
          greatest(col("w1"), col("w2")).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
  }

  /** TOPOLOGICAL LAYERING by Kahn in-degree peeling over the DIRECTED
    * simple edge set (de-duplicated; self-loops KEPT — a self-loop is a
    * 1-cycle and pins its node in the residue by definition): round k
    * peels every node with no remaining incoming edge and assigns it
    * `layer` k, then removes the peeled nodes' out-edges; after
    * `rounds` rounds every unpeeled node reports layer −1 — the
    * RESIDUE, which is exactly the nodes on or downstream of a
    * directed cycle once the horizon covers the longest source-to-node
    * chain. This is the dependency-graph scheduler primitive (build
    * stages, DAG pipelines) and the cheap cycle DETECTOR beside g13's
    * SCC: a non-empty residue at a saturated horizon proves a cycle
    * without computing components. Peeling is monotone and a bounded
    * horizon can only UNDER-layer (leave a layerable node in the
    * residue) — never mis-number a peeled node, so layers 0..rounds−1
    * are exact and the residue is a superset of the cyclic part
    * (horizon-monotonicity spec-pinned, the g5/g13 contract).
    *
    * Shape per round: one distinct over the surviving edges' dst side,
    * two left-anti hash joins on the node id, one left-anti join
    * pruning peeled sources from the edge table; the peeled set and the
    * surviving EDGES are staged per round (storage per
    * [[graft.Tables.stage]]; each is consumed twice downstream), while the
    * alive-node set stays a lazy chain of anti-joins against the tiny
    * staged peel tables — one
    * node-domain scan per round, no extra write. Total work only
    * SHRINKS round over round; no driver-side state beyond the loop
    * counter — the 100 TB posture of every peeling kernel here
    * ([[kCore]], [[kTruss]]). */
  def topoLayers(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    var cur = Tables.stage(
      edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v")).distinct(),
      "graft-topo-e")
    var alive = Tables.stage(
      cur.select(col("u").as("id")).union(cur.select(col("v").as("id")))
        .distinct(), "graft-topo-nodes")
    var acc: DataFrame = null
    var i = 0
    while (i < rounds) {
      val peel = Tables.stage(
        alive.join(cur.select(col("v").as("id")).distinct(),
          Seq("id"), "left_anti"),
        s"graft-topo-p$i")
      val layer = peel.select(col("id"), lit(i).as("layer"))
      acc = if (acc == null) layer else acc.union(layer)
      alive = alive.join(peel, Seq("id"), "left_anti")
      val oldCur = cur
      cur = Tables.stage(
        cur.join(peel.select(col("id").as("u")), Seq("u"), "left_anti"),
        s"graft-topo-r$i")
      Tables.unstage(oldCur) // superseded round
      i += 1
    }
    acc.union(alive.select(col("id"), lit(-1).as("layer")))
  }

  /** k-HOP NEIGHBOR FEATURE AGGREGATION — the GraphSAGE/GNN-precursor
    * feature-engineering shape (Hamilton et al. NeurIPS 2017 reduced
    * to its data-plane): each round every node folds the MEAN of its
    * in-neighbors' current feature into its own,
    *   h_k(v) = h_{k−1}(v) + (Σ_{u→v} h_{k−1}(u)) div indeg(v),
    * so after k rounds a node's value summarizes its k-hop upstream
    * neighborhood — the "what does the linking context look like"
    * signal a page-quality model consumes beside the node's own
    * features. Exact integer arithmetic (sum then one integer
    * division per node per round — associative, partition-order-free,
    * replayable), rounds returned as columns h0..hk so every
    * intermediate is hash-pinned. Shape per round: one features⋈edges
    * equi-join on src (the edge table re-read from its materialized
    * scan each round), one dst aggregation computing sum AND indeg
    * together, one left join back — [[pageRankCredits]]'s proven
    * per-round plan with a feature payload; state is staged per round
    * ([[graft.Tables.iterate]]; storage per [[graft.Tables.stage]]).
    * Nodes with no in-edges keep their own value (coalesce 0
    * contribution). `feats`: (id, f) integer features;
    * nodes absent from `feats` start at 0. The node domain is derived
    * from EDGE ENDPOINTS (advisor note, round 14): a row in `feats`
    * whose id touches no edge is not a graph node here and is absent
    * from the output — callers needing isolated-node passthrough union
    * those ids in before calling. */
  def neighborAgg(edges: DataFrame, feats: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = Tables.stage(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")),
      "graft-nagg-e")
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val h0 = Tables.stage(
      nodes.join(feats.select(col("id"), col("f")), Seq("id"), "left")
        .select(col("id"), coalesce(col("f"), lit(0L)).as("h0")),
      "graft-nagg-0")
    Tables.iterate(h0, rounds, "graft-nagg") { (h, i) =>
      val prev = s"h$i"
      val contrib = e.join(h.select(col("id").as("src"),
          col(prev).as("__c")), "src")
        .groupBy(col("dst"))
        .agg(sum(col("__c")).as("__in"), count(lit(1)).as("__d"))
      h.join(contrib, h("id") === contrib("dst"), "left")
        .drop("dst")
        .withColumn(s"h${i + 1}",
          col(prev) + coalesce(expr("__in div __d"), lit(0L)))
        .drop("__in", "__d")
    }._1
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — how close each node's
    * neighborhood is to a clique: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    * reported in EXACT integer basis points (floor). The standard
    * community-tightness signal beside raw triangle counts: a crawl
    * graph's mutually-linking content farms score near 10000 while
    * organically-linked hubs sit low, so cc is the per-node feature a
    * link-spam screen thresholds where g2's absolute counts would just
    * measure degree. Degree-0/1 nodes (no possible wedge) report 0.
    *
    * Scale shape: [[triangleCounts]]'s arboricity-bounded wedge join
    * plus ONE node-domain degree join — nothing beyond g2's proven
    * plan; tri·2·10⁴ < 2⁶³ for any realistic per-node count. */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = sym.union(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val deg = und.groupBy("u").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(edges).withColumnRenamed("id", "u"),
        Seq("u"), "left")
      .select(col("u").as("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_bp", when(col("degree") >= 2,
        expr("triangles * 20000 div (degree * (degree - 1))"))
        .otherwise(lit(0L)))
  }

  /** Per-community MODULARITY decomposition (Newman 2004) over the
    * undirected SIMPLE graph (symmetrized, de-duplicated, self-loops
    * dropped): for communities `labels` = (id, lab), emits per community
    * c the node count, degree mass d_c, DIRECTED intra-edge count
    * intra2_c (= 2·l_c, both orientations of each intra edge), the
    * directed-edge total u_tot (= 2m), and the exact integer numerator
    *   q_num_c = intra2_c·u_tot − d_c²,
    * so global modularity Q = Σ_c q_num_c / u_tot² — one exact rational,
    * no float ever exists on either engine (the standard form
    * Q = Σ_c (l_c/m − (d_c/2m)²) multiplied through by u_tot² = 4m²).
    * This is the "are these communities real" acceptance number for any
    * community detector (labelPropagation here): Q near 0 means the
    * partition explains no more edges than a random graph with the same
    * degrees. Scale shape: degrees and the directed-edge total are one
    * partial agg each; intra counting is two hash equi-joins of the edge
    * list against the node-domain label table (never an all-pairs);
    * everything after is community-domain sized. Overflow envelope:
    * q_num needs intra2·u_tot < 2⁶³ — u_tot ≤ ~3·10⁹ directed edges is
    * safe; beyond that, scale the decomposition per community batch or
    * move to DECIMAL. */
  def modularityParts(edges: DataFrame, labels: DataFrame): DataFrame = {
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = Tables.stage(
      sym.union(sym.select(col("v").as("u"), col("u").as("v"))).distinct(),
      "graft-mod-und")
    val uTot = und.agg(count(lit(1)).as("u_tot"))
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("degree"))
    val degC = deg.join(labels, Seq("id"))
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("deg_sum"))
    val intra = und
      .join(labels.select(col("id").as("u"), col("lab").as("__lu")),
        Seq("u"))
      .join(labels.select(col("id").as("v"), col("lab").as("__lv")),
        Seq("v"))
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("lab")).agg(count(lit(1)).as("intra2"))
    degC.join(intra, Seq("lab"), "left")
      .na.fill(0L, Seq("intra2"))
      .crossJoin(broadcast(uTot))
      .select(col("lab").as("community"), col("n_nodes"), col("deg_sum"),
        col("intra2"), col("u_tot"),
        (col("intra2") * col("u_tot") -
          col("deg_sum") * col("deg_sum")).as("q_num"))
  }

  /** DEGREE ASSORTATIVITY (Newman, PRL 2002) over the UNDIRECTED simple
    * graph: the Pearson correlation of endpoint degrees across edges —
    * positive = hubs link to hubs (social-network shape), negative =
    * hubs link to leaves (web/biology shape, and the signature of a
    * spam farm's star). Computed over the symmetrized half-edge list,
    * where both marginals are identical by construction, so
    * r = (M·Σxy − (Σx)²) ∕ (M·Σx² − (Σx)²) with x, y the endpoint
    * degrees of each half-edge and M the half-edge count. All sums are
    * exact BIGINT integers (magnitudes ~M·deg² — far inside int64 for
    * any graph this suite bench-scales to; at true web scale the same
    * sums ride DECIMAL(38)); r is the ONE final float, both engines
    * dividing exactly-equal integers. Degenerate regular graphs
    * (den = 0) report r = NULL.
    *
    * Scale shape: degree agg (one shuffle), two degree joins onto the
    * half-edge list (hash equi-joins on node id), one global partial
    * agg to a single row. */
  def assortativity(edges: DataFrame): DataFrame = {
    val sym0 = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val sym = sym0.union(sym0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
    val xy = sym.join(deg, "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .select(col("d").as("x"), col("dv").as("y"))
    xy.agg(count(lit(1)).as("m2"),
        sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("x") * col("y")).as("sum_xy"))
      .select(col("m2"), col("sum_x"), col("sum_x2"), col("sum_xy"),
        (col("m2") * col("sum_xy") - col("sum_x") * col("sum_x"))
          .as("num"),
        (col("m2") * col("sum_x2") - col("sum_x") * col("sum_x"))
          .as("den"))
      .withColumn("r", when(col("den") =!= 0,
        col("num").cast("double") / col("den").cast("double")))
  }

  /** Triangle count per node over an UNDIRECTED simple graph (the input
    * edge list is symmetrized and de-duplicated; self-loops dropped).
    *
    * Uses the degree-ordered wedge join: each undirected edge {u,v} is
    * oriented from the lower (degree, id) endpoint to the higher, wedges
    * are built by joining oriented edges on their source, and a wedge
    * (a->b, a->c) closes iff oriented edge b->c exists. Orientation bounds
    * the wedge fan-out by the ARBORICITY bound (sum over nodes of
    * min(deg, sqrt(E))²-ish) instead of sum(deg²) — the standard trick
    * that keeps a power-law 100 TB web graph joinable: the million-degree
    * hub generates no wedges because every hub edge points INTO it.
    * Returns (id, triangles) for every node with at least one triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = Tables.stage(
      sym.union(sym.select(col("v").as("u"), col("u").as("v"))).distinct(),
      "graft-tri-und")
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    // orient by the TOTAL order (degree, id), small -> large; exactly one
    // row per {u,v}. The same order must drive the wedge pairing below,
    // or triangles whose two middle corners have inverted degree order
    // would look for a closing edge oriented the wrong way.
    val oriented = Tables.stage(
      und.join(deg, "u")
        .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
        .filter(col("d") < col("dv") ||
          (col("d") === col("dv") && col("u") < col("v")))
        .select(col("u").as("a"), col("v").as("b"), col("dv").as("db")),
      "graft-tri-oriented")
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.a") === col("e2.a"))
      .filter(col("e1.db") < col("e2.db") ||
        (col("e1.db") === col("e2.db") && col("e1.b") < col("e2.b")))
      .select(col("e1.a").as("w0"), col("e1.b").as("w1"),
        col("e2.b").as("w2"))
    // wedge (w1 ≺ w2 in orientation order) closes iff oriented edge
    // w1 -> w2 exists; each triangle closes exactly once, from its
    // minimum-order corner
    val tris = wedges.join(oriented.as("c"),
      col("w1") === col("c.a") && col("w2") === col("c.b"))
      .select(col("w0"), col("w1"), col("w2"))
    // every closed wedge is one distinct triangle; credit all 3 corners
    tris.select(explode(array(col("w0"), col("w1"), col("w2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }

  /** Link prediction by common neighbors: for every NON-adjacent node
    * pair {u,v} that shares at least one neighbor, count the shared
    * neighbors and derive the Jaccard overlap cn/(deg(u)+deg(v)-cn) —
    * the classic "who should link to whom" signal (friend-of-friend
    * recommendation, citation suggestion, link-spam fill-in detection).
    *
    * Candidate pairs come from a wedge self-join on the CENTER node, the
    * same shape as [[triangleCounts]] — but a hub center of degree d
    * emits d² pairs, so centers above `maxCenterDegree` are excluded
    * from wedge generation (their pairs, if real, also arise through
    * lower-degree shared neighbors; the cap trades recall on
    * hub-only-connected pairs for a hard bound on shuffle volume —
    * at web scale THE standard mitigation, cf. the d7/d15 bucket caps).
    * Degrees in the Jaccard stay the TRUE degrees (the cap only limits
    * which centers generate candidates). All counts are exact integers;
    * the one division is a single IEEE op, so any engine replays it
    * bit-for-bit. Adjacent pairs are removed with a left-anti join
    * against the (undirected, deduped) edge set. */
  def commonNeighbors(edges: DataFrame, maxCenterDegree: Int = 16)
      : DataFrame = {
    val sym0 = edges.select(col("src").cast("long").as("c"),
        col("dst").cast("long").as("n"))
      .filter(col("c") =!= col("n"))
    // undirected neighbor relation, deduped: one row per (node, neigh)
    val sym = Tables.stage(
      sym0.union(sym0.select(col("n").as("c"), col("c").as("n"))).distinct(),
      "graft-cn-sym")
    val deg = sym.groupBy(col("c")).agg(count(lit(1)).as("d"))
    val centers = sym.join(deg.filter(col("d") <= maxCenterDegree), "c")
    val pairs = centers.as("s1")
      .join(centers.as("s2"), col("s1.c") === col("s2.c"))
      .filter(col("s1.n") < col("s2.n"))
      .select(col("s1.n").as("u"), col("s2.n").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
    val nonAdj = pairs.join(sym.select(col("c").as("u"), col("n").as("v")),
      Seq("u", "v"), "left_anti")
    nonAdj
      .join(deg.select(col("c").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("c").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        (col("cn").cast("double") /
          (col("du") + col("dv") - col("cn")).cast("double")).as("jac"))
  }

  /** PIVOT-SAMPLED BETWEENNESS CENTRALITY (Brandes 2001, partial
    * dependencies from a fixed pivot set; sampling per Brandes–Pich
    * 2007) over the undirected simple graph, horizon-bounded like
    * g5/g13/g14. For each pivot s: a forward frontier-join BFS computes
    * EXACT INTEGER shortest-path counts σ_s(v) level by level
    * (σ(w) = Σ_{pred v} σ(v) — one equi-join + one sum agg per level,
    * never a global structure), then the Brandes backward accumulation
    *   δ_s(v) = Σ_{w ∈ succ(v)} σ(v)·(1 + δ_s(w)) ∕ σ(w)
    * runs level by level as EXACT RATIONALS: each successor contributes
    * the fraction (σ_v·(d_w + n_w)) / (σ_w·d_w) and the per-node sum
    * rides [[graft.functions.FractionSumExpr]] (BigInteger gcd-reduced
    * fold — order-independent, so collect_list's partition order is
    * sound; group size = out-degree, never the corpus). The returned
    * bc = Σ_pivots δ_s(v) keeps (bc_num, bc_den) in lowest terms with
    * the division into `bc` as the ONE final float.
    *
    * Horizon truncation (documented estimator, the g13 contract): pairs
    * (s, t) with d(s,t) > maxHops contribute nothing — nodes AT the
    * horizon carry δ = 0/1, so dependencies never flow from beyond it.
    * Pivots absent from the graph contribute nothing. Scale shape: all
    * joins are hash equi-joins on (s, node); per-level state is staged
    * (storage per [[graft.Tables.stage]]); the
    * driver holds only the literal pivot list. Overflow envelope: the
    * LOWEST-TERMS numerators/denominators must fit int64 (the
    * fraction-fold itself is BigInteger-exact and fails loudly past
    * the envelope — σ products at this corpus's σ ≤ ~10³ reduce to
    * single digits). */
  def betweennessPivots(edges: DataFrame, pivots: Seq[Long],
      maxHops: Int): DataFrame = {
    require(pivots.nonEmpty, "need at least one pivot")
    require(maxHops >= 1, "maxHops must be >= 1")
    val sp = edges.sparkSession
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = Tables.stage(
      sym.union(sym.select(col("v").as("u"), col("u").as("v"))).distinct(),
      "graft-btw-und")
    import sp.implicits._
    // distinct BEFORE the semi join (a duplicated pivot would inflate
    // every dependency through duplicate BFS roots)
    val p0 = pivots.distinct.toDF("s")
      .join(und.select(col("u").as("s")).distinct(), Seq("s"), "left_semi")
    var visited = Tables.stage(
      p0.select(col("s"), col("s").as("v"), lit(0).as("dist"),
        lit(1L).as("sigma")),
      "graft-btw-v0")
    var frontier = visited
    var l = 1
    while (l <= maxHops) {
      val nxt = frontier.join(und, frontier("v") === und("u"))
        .groupBy(frontier("s"), und("v").as("w"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited.select(col("s"), col("v").as("w")), Seq("s", "w"),
          "left_anti")
        .select(col("s"), col("w").as("v"), lit(l).as("dist"),
          col("sigma"))
      val (ov, of) = (visited, frontier)
      frontier = Tables.stage(nxt, s"graft-btw-f$l")
      visited = Tables.stage(visited.unionByName(frontier),
        s"graft-btw-v$l")
      Tables.unstage(ov) // superseded; of == ov at l=1
      if (l > 1) Tables.unstage(of)
      l += 1
    }
    val dag = Tables.stage(
      visited.join(und, visited("v") === und("u"))
        .select(visited("s"), visited("v"), visited("dist"),
          visited("sigma").as("sv"), und("v").as("w"))
        .join(visited.select(col("s"), col("v").as("w"),
          col("dist").as("__dw"), col("sigma").as("sw")), Seq("s", "w"))
        .filter(col("__dw") === col("dist") + 1)
        .select(col("s"), col("v"), col("dist"), col("sv"), col("w"),
          col("sw")),
      "graft-btw-dag")
    val delta0 = Tables.stage(
      visited.filter(col("dist") === maxHops)
        .select(col("s"), col("v"), lit(0L).as("n"), lit(1L).as("d")),
      "graft-btw-dh")
    // levels maxHops−1 down to 1
    val (delta, _) = Tables.iterate(delta0, maxHops - 1, "graft-btw-d") {
        (delta, j) =>
      val l = maxHops - 1 - j
      val lvl = dag.filter(col("dist") === l)
        .join(delta.select(col("s"), col("v").as("w"), col("n"),
          col("d")), Seq("s", "w"))
        .select(col("s"), col("v"),
          (col("sv") * (col("d") + col("n"))).as("fn"),
          (col("sw") * col("d")).as("fd"))
        .groupBy(col("s"), col("v"))
        .agg(collect_list(struct(col("fn").as("n"), col("fd").as("d")))
          .as("__cs"))
        .select(col("s"), col("v"),
          graft.functions.FractionSumExpr.fracSum(col("__cs")).as("__f"))
        .select(col("s"), col("v"), col("__f.n").as("n"),
          col("__f.d").as("d"))
      val zeros = visited.filter(col("dist") === l)
        .join(lvl.select(col("s"), col("v")), Seq("s", "v"), "left_anti")
        .select(col("s"), col("v"), lit(0L).as("n"), lit(1L).as("d"))
      delta.unionByName(lvl).unionByName(zeros)
    }
    delta.groupBy(col("v").as("id"))
      .agg(collect_list(struct(col("n"), col("d"))).as("__cs"))
      .select(col("id"),
        graft.functions.FractionSumExpr.fracSum(col("__cs")).as("__f"))
      .select(col("id"), col("__f.n").as("bc_num"),
        col("__f.d").as("bc_den"),
        (col("__f.n").cast("double") / col("__f.d").cast("double"))
          .as("bc"))
  }

  /** PIVOT-SAMPLED HARMONIC CLOSENESS (the Eppstein–Wang estimator
    * shape, bounded horizon) — the "how near is everything" centrality
    * beside g20's "how often is it between": hc(v) = Σ over pivots p
    * with 1 ≤ d(p, v) ≤ maxHops of 1∕d(p, v), on the undirected simple
    * graph. EXACT-INTEGER: every reciprocal rides the common
    * denominator L = lcm(1..maxHops), so the per-node sum is
    * Σ L∕d — plain BIGINT addition (L∕d exact because d | L), one
    * final float. Unreachable or all-pivot-distance-truncated nodes
    * report 0 over L with n_reached = 0, not absence.
    *
    * Scale shape: the g20 multi-source BFS — frontier (pivot, node)
    * rows through one edge equi-join + min-dedup anti-join per level,
    * state ≤ |pivots|·n staged per round — then ONE node-domain
    * agg and a left join onto the node universe. Pivot count is the
    * estimator's accuracy/cost knob, horizon its locality knob. */
  def harmonicPivots(edges: DataFrame, pivots: Seq[Long], maxHops: Int)
      : DataFrame = {
    require(pivots.nonEmpty, "need at least one pivot")
    require(maxHops >= 1, "maxHops must be >= 1")
    val sp = edges.sparkSession
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = Tables.stage(
      sym.union(sym.select(col("v").as("u"), col("u").as("v"))).distinct(),
      "graft-harm-und")
    import sp.implicits._
    // distinct BEFORE the semi join: a duplicated pivot id would ride
    // through left_semi twice and double-count every reciprocal
    val p0 = pivots.distinct.toDF("s")
      .join(und.select(col("u").as("s")).distinct(), Seq("s"), "left_semi")
    var visited = Tables.stage(
      p0.select(col("s"), col("s").as("v"), lit(0).as("dist")),
      "graft-harm-v0")
    var frontier = visited
    var l = 1
    while (l <= maxHops) {
      val nxt = frontier.join(und, frontier("v") === und("u"))
        .select(frontier("s"), und("v").as("w")).distinct()
        .join(visited.select(col("s"), col("v").as("w")), Seq("s", "w"),
          "left_anti")
        .select(col("s"), col("w").as("v"), lit(l).as("dist"))
      val (ov, of) = (visited, frontier)
      frontier = Tables.stage(nxt, s"graft-harm-f$l")
      visited = Tables.stage(visited.unionByName(frontier),
        s"graft-harm-v$l")
      Tables.unstage(ov) // superseded; of == ov at l=1
      if (l > 1) Tables.unstage(of)
      l += 1
    }
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmH = (1 to maxHops).foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val contrib = visited.filter(col("dist") >= 1)
      .groupBy(col("v").as("id"))
      .agg(sum(expr(s"$lcmH DIV dist")).as("h_num"),
        count(lit(1)).as("n_reached"))
    und.select(col("u").as("id")).distinct()
      .join(contrib, Seq("id"), "left")
      .na.fill(0L, Seq("h_num", "n_reached"))
      .select(col("id"), col("h_num"), lit(lcmH).as("h_den"),
        col("n_reached"),
        (col("h_num").cast("double") / lcmH.toDouble).as("hc"))
  }

  /** One round's log entry from [[louvainAscent]]: the exact integer
    * modularity numerator after the round (q_num, over u_tot² — the g11
    * rational), whether the proposed synchronous move set was ACCEPTED,
    * and how many nodes the proposal moved (counted against the
    * pre-round labels, reported even for a rejected round). */
  final case class LouvainRound(round: Int, qNum: Long, accepted: Boolean,
      nMoved: Long)

  /** LOUVAIN-STYLE MODULARITY ASCENT (the local-move phase of Blondel
    * et al. 2008), bounded synchronous rounds over the undirected SIMPLE
    * graph (symmetrized, de-duplicated, self-loops dropped — the g11
    * universe). Each round every node u evaluates, for every community C
    * among its neighbors' labels plus its own (the stay option), the
    * EXACT INTEGER cross-multiplied modularity gain score
    *   score(u→C) = e2(u,C)·u_tot − deg(u)·(Σtot(C) − [u∈C]·deg(u)),
    * where e2(u,C) counts u's neighbors labeled C, Σtot(C) the degree
    * mass of C and u_tot = 2m the directed half-edge total — the Blondel
    * ΔQ ranking multiplied through by u_tot (no float ever exists; ties
    * break to the SMALLEST community label via the max(struct(score,
    * −lab)) argmax, a single partial-aggregating shuffle, never a
    * per-node window).
    *
    * FULLY synchronous moves degrade Q from the singleton start on real
    * graphs (every node moves at once and adjacent movers chase each
    * other's vacated labels — measured on the bundled corpus: the
    * full-sync round-1 proposal scores BELOW the singleton baseline), so
    * two mechanisms make this a genuine ascent:
    *  - MOVE CLASSES: round i moves only the nodes with
    *    id % classes == (i−1) % classes; everyone else holds. One
    *    residue class per round cuts simultaneous adjacent moves enough
    *    that the sequential-sweep gain estimates stay valid in practice
    *    (classes = 3 ascends through every accepted round on the bundled
    *    corpus where full-sync is rejected immediately) — the
    *    distributed stand-in for Louvain's sequential sweep, and
    *    deterministic, unlike the randomized colorings of the
    *    distributed-Louvain literature.
    *  - ACCEPT GUARD: the proposal's exact q_num (Σ_c intra2_c·u_tot −
    *    deg_sum_c², the [[modularityParts]] total) is computed BEFORE
    *    adoption and a round that would decrease it keeps the previous
    *    labels — monotone non-decrease of Q holds by CONSTRUCTION, and
    *    a rejected round is a logged no-op, not a silent regression.
    *
    * Scale shape per round: one deg⋈labels community-mass agg, one
    * und⋈labels neighbor-label join + (node, lab) count agg, two hash
    * equi-joins to attach deg/own-label, one sigma equi-join on the
    * community key (community-domain sized — NOT broadcast: round 0's
    * community domain is the node domain), the argmax agg, and the g11
    * intra/deg-mass aggs for the guard. Labels are staged per round
    * (storage per [[graft.Tables.stage]]); driver-side state is the loop
    * counter plus two 1-row collects per round (q_num and the move
    * count — config-sized).
    * Overflow envelope (documented, same family as g11): deg·Σtot and
    * intra2·u_tot must stay under 2⁶³ — safe through u_tot ≈ 3·10⁹
    * directed half-edges; beyond that the same scores ride DECIMAL(38).
    *
    * Returns (labels (id, lab) after the last ACCEPTED state, per-round
    * log). Node ids must be ≥ 0 (the −lab tie-break negation). */
  def louvainAscent(edges: DataFrame, rounds: Int, classes: Int = 3)
      : (DataFrame, Seq[LouvainRound]) = {
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    // g19's published universe: symmetrize THEN dedup (multi-edges and
    // both-direction duplicates collapse to one simple edge, weight 1)
    val und = sym.union(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .withColumn("w", lit(1L))
    louvainAscentImpl(und, rounds, classes, "graft-louv")
  }

  /** EDGE-WEIGHTED [[louvainAscent]] (the standard Blondel form — link
    * strength, co-citation counts, interaction volume): `edges` carries
    * (src, dst, weight ≥ 1, integer); parallel edges SUM their weights
    * into one undirected simple edge (the natural weighted reading —
    * the unweighted entry point above instead DEDUPS multi-edges,
    * preserving g19's published semantics exactly). All masses
    * generalize verbatim: deg → strength Σw, e2(u,C) → Σ of u→C edge
    * weights, u_tot → total directed weight 2W, intra2 → directed
    * intra-edge weight; the gain score, the move classes, the accept
    * guard and the overflow envelope (now max_strength·w_tot < 2⁶³)
    * carry over unchanged because every quantity was already an
    * abstract integer mass. Weights can flip the argmax against the
    * topology — the spec plants a node whose TWO light edges lose to
    * ONE heavy edge. */
  def louvainAscentWeighted(edges: DataFrame, rounds: Int,
      classes: Int = 3): (DataFrame, Seq[LouvainRound]) = {
    val e = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"),
        col("weight").cast("long").as("w"))
      .filter(col("u") =!= col("v"))
    // canonicalize to the undirected simple edge (min,max), SUMMING
    // parallel and both-direction duplicates, then emit both directions
    val canon = e.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    val und = canon.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(canon.select(col("b").as("u"), col("a").as("v"), col("w")))
    louvainAscentImpl(und, rounds, classes, "graft-louvw")
  }

  /** Result of [[louvainTwoLevel]]: final labels (original node ids),
    * both levels' round logs, whether the coarse pass was adopted by the
    * OUTER guard, and the final exact modularity numerator on the
    * ORIGINAL graph (over u_tot², the g11 rational). */
  final case class LouvainTwoLevel(labels: DataFrame,
      level1: Seq[LouvainRound], level2: Seq[LouvainRound],
      coarseAccepted: Boolean, qNum: Long)

  /** TWO-LEVEL (multi-level) LOUVAIN — the aggregation phase Blondel
    * et al. stack on top of the local-move phase: run [[louvainAscent]]
    * to a first labeling, CONTRACT each community to a super-node
    * (inter-community edge weights SUM; intra mass becomes self-loops,
    * which the move phase drops — see below), run the WEIGHTED ascent
    * on the coarse graph, and map the coarse labels back through the
    * level-1 assignment. Escapes the local optima a single move phase
    * cannot: a merge of two whole communities is one coarse-node move
    * but would need a coordinated multi-node migration at level 1.
    *
    * The contraction is the EXACT Blondel coarsening: community c
    * becomes node c with a SELF-LOOP of weight intra2_c (its directed
    * internal mass), so coarse strength = the community's full degree
    * mass, coarse u_tot = the original u_tot, and every coarse-level
    * q_num IS the original graph's exact modularity numerator of the
    * induced fine partition — the level-2 round log continues level 1's
    * on the same scale, with coarse q0 equal to level 1's final q by
    * construction. The mapped-back labeling additionally passes an
    * OUTER ACCEPT GUARD recomputed on the original graph (belt over
    * the algebraic identity: level 2 is adopted only if true q_num did
    * not decrease), so the composition is monotone end to end.
    * Level-1 communities missing from the coarse result map back
    * through a LEFT join that keeps their level-1 label.
    *
    * Scale shape: level 1 as [[louvainAscent]]; the contraction is one
    * labels⋈und⋈labels double equi-join + a (community, community)
    * agg; level 2 runs on the community-domain graph (≤ nodes, usually
    * ≪); the outer guard is the same two aggs the inner guard runs.
    * Driver state: the two logs + three 1-row collects. */
  def louvainTwoLevel(edges: DataFrame, rounds: Int, classes: Int = 3)
      : LouvainTwoLevel = {
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = Tables.stage(
      sym.union(sym.select(col("v").as("u"), col("u").as("v")))
        .distinct().withColumn("w", lit(1L)),
      "graft-louv2-und")
    val (lab1, log1) = louvainAscentImpl(und, rounds, classes,
      "graft-louv2-l1", stageUnd = false)
    val q1 = log1.last.qNum
    // contract: one (cu, cv) edge per ordered community pair, weight =
    // count of underlying directed edges (symmetric because und is);
    // cu = cv rows land ONCE per community = the intra2_c self-loop
    val coarse = Tables.stage(
      und.join(lab1.select(col("id").as("u"), col("lab").as("__cu")),
          Seq("u"))
        .join(lab1.select(col("id").as("v"), col("lab").as("__cv")),
          Seq("v"))
        .groupBy(col("__cu").as("u"), col("__cv").as("v"))
        .agg(sum(col("w")).as("w")),
      "graft-louv2-coarse")
    if (coarse.limit(1).count() == 0L)
      return LouvainTwoLevel(lab1, log1, Seq.empty,
        coarseAccepted = false, q1)
    val (lab2, log2) = louvainAscentImpl(coarse, rounds, classes,
      "graft-louv2-l2", stageUnd = false)
    // map back; isolated level-1 communities keep their own label
    val l2m = lab2.select(col("id").as("__id2"), col("lab").as("__c2"))
    val mapped = Tables.stage(
      lab1.join(l2m, lab1("lab") === l2m("__id2"), "left")
        .select(lab1("id"),
          coalesce(col("__c2"), lab1("lab")).as("lab")),
      "graft-louv2-fin")
    // outer guard: exact q_num of the mapped labeling on the ORIGINAL
    // graph (one fused 1-row collect over ONE edge pass — Σ_c(Σdeg)²
    // and intra2 both derive from und⋈mapped⋈mapped, the r17 inner-
    // guard restructure; the former deg⋈mapped join is gone)
    val per2 = und
      .join(mapped.select(col("id").as("u"), col("lab").as("__lu")),
        Seq("u"))
      .join(mapped.select(col("id").as("v"), col("lab").as("__lv")),
        Seq("v"))
      .groupBy(col("__lu"))
      .agg(sum(col("w")).as("__ds"),
        sum(when(col("__lu") === col("__lv"), col("w"))).as("__iw"))
    val uTot = und.agg(coalesce(sum(col("w")), lit(0L)).as("__t"))
    val q2 = per2.agg(
        coalesce(sum(col("__iw")), lit(0L)).as("__i2"),
        coalesce(sum(col("__ds") * col("__ds")), lit(0L)).as("__dd"))
      .crossJoin(uTot)
      .select((col("__i2") * col("__t") - col("__dd")).as("q"))
      .collect()(0).getLong(0)
    Tables.unstage(coarse) // only the ascent read it
    if (q2 >= q1) LouvainTwoLevel(mapped, log1, log2,
      coarseAccepted = true, q2)
    else {
      Tables.unstage(mapped) // rejected — never read again
      LouvainTwoLevel(lab1, log1, log2, coarseAccepted = false, q1)
    }
  }

  /** One level's pin from [[louvainMultiLevel]]: the exact original-
    * graph modularity numerator AFTER the level's guarded adoption, the
    * outer-guard verdict, how many original nodes changed label at the
    * map-back, and the community count of the adopted labeling. */
  final case class LouvainLevelPin(level: Int, qNum: Long,
      accepted: Boolean, nChanged: Long, nComms: Long)

  /** Result of [[louvainMultiLevel]]: final labels (original ids),
    * per-level pins (always `levels` entries — post-convergence levels
    * are provable no-ops, see below), the final q numerator on the
    * original graph, and how many levels actually RAN before the
    * convergence short-circuit. */
  final case class LouvainMulti(labels: DataFrame,
      levels: Seq[LouvainLevelPin], qNum: Long, levelsRun: Int)

  /** MULTI-LEVEL LOUVAIN (g24) — [[louvainTwoLevel]]'s
    * coarsen-ascend-map-back recursed to `levels` depth: level 1 is the
    * plain ascent; every further level contracts the ORIGINAL graph by
    * the current fine labeling (composition of contractions — identical
    * to contracting the previous coarse graph), re-runs the weighted
    * ascent, maps back, and passes the outer accept guard recomputed on
    * the original graph. The exact-Blondel self-loop carrier keeps
    * every level's q_num on the ONE original-graph scale, so the pins
    * form a single monotone non-decreasing sequence by construction.
    *
    * CONVERGENCE SHORT-CIRCUIT, exactness preserved: the loop stops
    * early when a level's adoption CHANGED NO label (covers "ascent
    * accepted no round" — labels stay coarse singletons, the map-back
    * is the identity) or when the outer guard REJECTED. Both stops are
    * provable no-ops for every later level: the next contraction input
    * (original graph × unchanged mapping) is byte-identical to the
    * stopped level's, so the deterministic ascent reproduces the same
    * proposal and the same verdict forever. The remaining pins are
    * therefore synthesized (same q, same community count, nChanged 0,
    * accepted = the stopping level's verdict) — a fixed-depth replay
    * (the oracle) computes exactly these values by actually running
    * the no-op levels. A level that accepts rounds but whose map-back
    * is a nontrivial relabel-only permutation does NOT short-circuit
    * (coarse ids change residues mod `classes`, so a re-run is not
    * provably identical) — it just proceeds to the next level.
    *
    * Scale shape: level 1 as [[louvainAscent]]; each deeper level's
    * ascent runs on the community-domain graph (monotonically ≤ nodes),
    * so `coarseRounds` (default = `rounds`; pass more to give the coarse
    * argmax extra move-class visits — community-domain cheap) can exceed
    * the fine budget without touching the expensive level;
    * contraction and guard are the g22 joins/aggs over the original
    * edge table. Driver state: the pins + one 1-row collect per guard. */
  def louvainMultiLevel(edges: DataFrame, rounds: Int, levels: Int,
      classes: Int = 3, coarseRounds: Int = 0): LouvainMulti = {
    val cr = if (coarseRounds > 0) coarseRounds else rounds
    require(levels >= 1, "levels must be >= 1")
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = Tables.stage(
      sym.union(sym.select(col("v").as("u"), col("u").as("v")))
        .distinct().withColumn("w", lit(1L)),
      "graft-louvm-und")
    val (lab1, log1) = louvainAscentImpl(und, rounds, classes,
      "graft-louvm-l1", stageUnd = false)
    var mapping = lab1
    var q = log1.last.qNum
    // level-1 pin: inner guard makes it monotone, so accepted = true;
    // nChanged counts moves off the singleton identity
    val pin1 = mapping.agg(
        count(when(col("lab") =!= col("id"), 1)).as("__c"),
        countDistinct(col("lab")).as("__n")).collect()(0)
    val pins = scala.collection.mutable.ArrayBuffer(
      LouvainLevelPin(1, q, accepted = true, pin1.getLong(0),
        pin1.getLong(1)))
    var lvl = 2
    var stopped = false
    var stopAcc = true
    var levelsRun = 1
    while (lvl <= levels && !stopped) {
      levelsRun = lvl
      val coarse = Tables.stage(
        und.join(mapping.select(col("id").as("u"), col("lab").as("__cu")),
            Seq("u"))
          .join(mapping.select(col("id").as("v"), col("lab").as("__cv")),
            Seq("v"))
          .groupBy(col("__cu").as("u"), col("__cv").as("v"))
          .agg(sum(col("w")).as("w")),
        s"graft-louvm-c$lvl")
      val (labK, _) = louvainAscentImpl(coarse, cr, classes,
        s"graft-louvm-l$lvl", stageUnd = false)
      val l2m = labK.select(col("id").as("__id2"), col("lab").as("__c2"))
      val mapped = Tables.stage(
        mapping.join(l2m, mapping("lab") === l2m("__id2"), "left")
          .select(mapping("id"),
            coalesce(col("__c2"), mapping("lab")).as("lab")),
        s"graft-louvm-f$lvl")
      // ONE action per level (the g22 round-15 lesson) over ONE edge
      // pass (r17): Σ_c(Σdeg)² and intra2 both derive from
      // und⋈mapped⋈mapped — the former deg⋈mapped join is gone; the
      // accepted-branch pin stats ride the same cross-joined collect;
      // the rejected branch's stats are (0, previous community count)
      // without touching the cluster
      val perL = und
        .join(mapped.select(col("id").as("u"), col("lab").as("__lu")),
          Seq("u"))
        .join(mapped.select(col("id").as("v"), col("lab").as("__lv")),
          Seq("v"))
        .groupBy(col("__lu"))
        .agg(sum(col("w")).as("__ds"),
          sum(when(col("__lu") === col("__lv"), col("w"))).as("__iw"))
      val uTot = und.agg(coalesce(sum(col("w")), lit(0L)).as("__t"))
      val chgAgg = mapped
        .join(mapping.withColumnRenamed("lab", "__ol"), Seq("id"))
        .agg(count(when(col("lab") =!= col("__ol"), 1)).as("__c"),
          countDistinct(col("lab")).as("__n"))
      val row = perL.agg(
          coalesce(sum(col("__iw")), lit(0L)).as("__i2"),
          coalesce(sum(col("__ds") * col("__ds")), lit(0L)).as("__dd"))
        .crossJoin(uTot)
        .crossJoin(chgAgg)
        .select((col("__i2") * col("__t") - col("__dd")).as("q"),
          col("__c"), col("__n"))
        .collect()(0)
      val qK = row.getLong(0)
      val accepted = qK >= q
      val (nChanged, nComms) =
        if (accepted) (row.getLong(1), row.getLong(2))
        else (0L, pins.last.nComms)
      // level-local staged frames are dead once the guard resolved:
      // coarse fed only the ascent, and the loser of mapping-vs-mapped
      // is never read again (guide §5)
      Tables.unstage(coarse)
      if (accepted) {
        val old = mapping; mapping = mapped; q = qK
        Tables.unstage(old)
      } else Tables.unstage(mapped)
      pins += LouvainLevelPin(lvl, q, accepted, nChanged, nComms)
      if (!accepted || nChanged == 0L) { stopped = true; stopAcc = accepted }
      lvl += 1
    }
    // synthesize the provable no-op tail
    while (pins.length < levels) {
      val last = pins.last
      pins += LouvainLevelPin(pins.length + 1, last.qNum, stopAcc, 0L,
        last.nComms)
    }
    LouvainMulti(mapping, pins.toSeq, q, levelsRun)
  }

  /** Shared ascent loop. `und0` is the DIRECTED SYMMETRIC weighted edge
    * table (u, v, w) — each undirected edge present in both directions
    * with the same integer weight ≥ 1. All masses are Σw
    * generalizations of the unweighted counts (w ≡ 1 reproduces g19
    * verbatim). SELF-LOOP rows (u = v, present ONCE, weight = the
    * node's directed self mass) are the Blondel coarsening carrier:
    * they count in strength, u_tot and the guard's intra mass, but are
    * EXCLUDED from the e2 neighbor-label mass — a self-loop follows
    * its node into any community, adding the same intra everywhere, so
    * it cancels in the argmax; including it would spuriously favor
    * staying. With self-loops the per-round q_num is the EXACT original
    * -graph modularity numerator of the induced fine partition. */
  private def louvainAscentImpl(und0: DataFrame, rounds: Int,
      classes: Int, tag: String, stageUnd: Boolean = true)
      : (DataFrame, Seq[LouvainRound]) = {
    require(rounds >= 1, "rounds must be >= 1")
    require(classes >= 1, "classes must be >= 1")
    // callers that already staged their edge table (two-level / multi-
    // level pass the staged und/coarse straight in) skip the redundant
    // re-materialization — it cost two jobs and a duplicate cache copy
    // per ascent call (r17, guide §1.2 step 1)
    val und = if (stageUnd) Tables.stage(und0, s"$tag-und") else und0
    val undExt = und.filter(col("u") =!= col("v")) // e2's edge universe
    val deg = Tables.stage(
      und.groupBy(col("u").as("id")).agg(sum(col("w")).as("degree")),
      s"$tag-deg")
    var labels = Tables.stage(
      deg.select(col("id"), col("id").as("lab")), s"$tag-0")
    // ONE setup collect (r17 — uTot and q0 were two): total directed
    // weight 2W and the singleton-start q0 = selfΣ·u_tot − Σ deg²
    // (intra2 = Σ self mass, 0 without self-loops) ride one 1-row cross.
    val row0 = und.agg(coalesce(sum(col("w")), lit(0L)).as("__t"))
      .crossJoin(deg.agg(coalesce(sum(col("degree") * col("degree")),
        lit(0L)).as("__dd")))
      .crossJoin(und.filter(col("u") === col("v"))
        .agg(coalesce(sum(col("w")), lit(0L)).as("__sw")))
      .select(col("__t"), (col("__sw") * col("__t") - col("__dd")).as("q"))
      .collect()(0)
    val uTot = row0.getLong(0)
    var q = row0.getLong(1)
    val log = scala.collection.mutable.ArrayBuffer.empty[LouvainRound]
    var i = 1
    while (i <= rounds) {
      val sigma = deg.join(labels.select(col("id"), col("lab")), Seq("id"))
        .groupBy(col("lab").as("__cl")).agg(sum(col("degree")).as("__sig"))
      val e2 = undExt
        .join(labels.select(col("id").as("v"), col("lab").as("__cl")),
          Seq("v"))
        .groupBy(col("u").as("id"), col("__cl"))
        .agg(sum(col("w")).as("__e2"))
      // the stay option: zero-edge candidacy for u's own community (a
      // duplicate when u already has intra-neighbors — harmless, the
      // argmax sees the dominated zero row). Only this round's move
      // class evaluates candidates — the filter lands BEFORE the
      // deg/label/sigma joins, so held nodes cost nothing.
      val moverCls = (i - 1) % classes
      val cand = e2.unionByName(
          labels.select(col("id"), col("lab").as("__cl"),
            lit(0L).as("__e2")))
        .filter(col("id") % classes === moverCls)
      // own label rides the scored rows into the argmax, so the staged
      // proposal carries its own moved flag — the guard's former
      // prop⋈labels join (one broadcast + one exchange per round) is
      // gone (r17, guide §2.4)
      val scored = cand
        .join(deg, Seq("id"))
        .join(labels.select(col("id"), col("lab")), Seq("id"))
        .join(sigma, Seq("__cl"))
        .select(col("id"), col("__cl"), col("lab"),
          (col("__e2") * lit(uTot) - col("degree") *
            (col("__sig") - when(col("__cl") === col("lab"),
              col("degree")).otherwise(lit(0L)))).as("__sc"))
      val prop = Tables.stage(
        scored.groupBy(col("id"))
          .agg(max(struct(col("__sc"), (-col("__cl")).as("__nl")))
            .as("__m"), max(col("lab")).as("__ol")) // lab constant per id
          .select(col("id"), (-col("__m.__nl")).as("lab"),
            ((-col("__m.__nl")) =!= col("__ol")).as("__mv"))
          .unionByName(
            labels.filter(col("id") % classes =!= moverCls)
              .select(col("id"), col("lab"), lit(false).as("__mv"))),
        s"$tag-p$i")
      // ONE action per round, ONE edge pass (r17, guide §2.4): the
      // guard's Σ_c(Σdeg)² and intra2 both derive from the same
      // und⋈prop⋈prop join — Σ_{id∈c} deg(id) = Σ_{und rows from u}
      // w·[lab(u)=c] because deg(u) is itself Σw over u's rows, so the
      // former deg⋈prop join (a second broadcast + exchange) is gone.
      val per = und
        .join(prop.select(col("id").as("u"), col("lab").as("__lu")),
          Seq("u"))
        .join(prop.select(col("id").as("v"), col("lab").as("__lv")),
          Seq("v"))
        .groupBy(col("__lu"))
        .agg(sum(col("w")).as("__ds"),
          sum(when(col("__lu") === col("__lv"), col("w"))).as("__iw"))
      val moved = prop.agg(count(when(col("__mv"), 1)).as("__mv"))
      val row = per.agg(
          coalesce(sum(col("__iw")), lit(0L)).as("__i2"),
          coalesce(sum(col("__ds") * col("__ds")), lit(0L)).as("__dd"))
        .crossJoin(moved)
        .select((col("__i2") * lit(uTot) - col("__dd")).as("q"),
          col("__mv"))
        .collect()(0)
      val qProp = row.getLong(0)
      val nMoved = row.getLong(1)
      val accepted = qProp >= q
      // Pregel discipline (guide §5): the superseded round's staged
      // blocks are dead the moment the guard resolves — free them so a
      // long ascent holds two rounds of blocks, not all of them
      if (accepted) {
        val old = labels; labels = prop; q = qProp
        Tables.unstage(old)
      } else Tables.unstage(prop)
      log += LouvainRound(i, q, accepted, nMoved)
      i += 1
    }
    (labels.select(col("id"), col("lab")), log.toSeq)
  }

  /** FULL CORENESS DECOMPOSITION via iterated h-index (Lü, Chen,
    * Zhou, Stanley, PNAS 2016) — [[kCore]] answers one membership
    * question ("is v in the k-core?"); this computes EVERY node's
    * coreness number in one bounded iteration, no per-k re-peeling:
    * h₀(v) = deg(v), h_{t+1}(v) = H-index of {h_t(u) : u ∈ N(v)}, and
    * the (monotone non-increasing) sequence converges exactly to the
    * k-core number. Distributed shape per round: one edge join
    * against the current h table (shuffles on the node key), the
    * h-index under a window PARTITIONED by node (degree-bounded — the
    * h-index depends only on the sorted multiset, so the tie order
    * inside the window is unobservable), one agg; h staged per round
    * ([[graft.Tables.iterate]]) carrying the previous h, so the
    * changed count is one count over the staged rows. Early-stop on
    * changed = 0 is provably a no-op tail (the iteration is a
    * deterministic fixed point), so a fixed-round oracle replay computes
    * the identical table.
    *
    * Edges are symmetrized+deduped. Isolated targets (in-edges only
    * in the directed input) participate through the symmetric form.
    * Returns (id, degree, coreness, converged) — `converged` TRUE iff
    * some round changed nothing (global, same value on every row). */
  def coreness(edges: DataFrame, rounds: Int): DataFrame = {
    val und = Tables.stage(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"),
          col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct(), "cor-und")
    val deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("h"))
    val (h, converged) = Tables.iterate(Tables.stage(deg, "cor-h0"),
        rounds, "cor-h")({ (prev, _) =>
      val h = prev.select(col("id"), col("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("nh").desc, col("u"))
      // the previous h rides INTO the staged frame (r17): the changed
      // count is then one count over the staged rows — the former
      // nh⋈h guard join (one broadcast + exchange per round) is gone
      und
        .select(col("src").as("v"), col("dst").as("u"))
        .join(h.select(col("id").as("u"), col("h").as("nh")), Seq("u"))
        .withColumn("__rk", row_number().over(w).cast("long"))
        .groupBy(col("v"))
        .agg(coalesce(max(when(col("nh") >= col("__rk"), col("__rk"))),
          lit(0L)).as("h"))
        .select(col("v").as("id"), col("h"))
        .join(h.select(col("id"), col("h").as("__prev")), Seq("id"))
    }, Tables.unchanged("h"))
    deg.withColumnRenamed("h", "degree")
      .join(h.select(col("id"), col("h")), Seq("id"))
      .select(col("id"), col("degree"), col("h").as("coreness"),
        lit(converged).as("converged"))
  }

  /** DETERMINISTIC RANDOM WALKS — the DeepWalk/node2vec(p=q=1) corpus
    * generator (Perozzi et al., KDD 2014): `walksPerNode` truncated
    * random walks of ≤ `steps` hops from every node, emitted as
    * (root, wk, step, node) rows — the "sentences" a skip-gram
    * embedding trains on. Randomness is the portable md5 hash of
    * (root, wk, step), NOT an RNG: every hop is a pure function of the
    * walk's identity, so the corpus is reproducible across engines and
    * cluster sizes, a SQL oracle replays it hop for hop, and an
    * INCREMENTAL run over a grown graph regenerates only the walks
    * whose neighborhoods changed — properties java.util.Random cannot
    * give at 100 TB.
    *
    * Mechanics: the (deduped) adjacency gets a per-source neighbor
    * rank r ∈ [0, deg) under a window PARTITIONED by src ordered by
    * dst (degree-bounded partitions, unique order — never a global
    * window); hop i from node v follows rank H32(root:wk:i) mod
    * deg(v). A node with no out-edges ends the walk (truncation, live
    * in the synthetic link graph's sink nodes). Per-step state is one
    * equi-join on the current node + one on (node, rank) — shuffles on
    * the node key only; state is |nodes|·walksPerNode rows per step,
    * staged each hop (storage per [[graft.Tables.stage]]) so the step
    * chain never re-executes. */
  def deepWalks(edges: DataFrame, walksPerNode: Int, steps: Int)
      : DataFrame = {
    import graft.functions.Hashing
    val adj0 = Tables.stage(
      edges.select(col("src"), col("dst")).distinct(), "dw-adj")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = adj0.withColumn("r",
      (row_number().over(w) - 1).cast("long"))
    val deg = adj0.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
    val nodes = adj0.select(col("src").as("id"))
      .union(adj0.select(col("dst").as("id"))).distinct()
    var state = nodes
      .select(col("id").as("root"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("wk"),
        col("id").as("node"))
      .select(col("root"), col("wk").cast("long").as("wk"),
        col("node"))
    val out = scala.collection.mutable.ArrayBuffer[DataFrame](
      state.select(col("root"), col("wk"), lit(0L).as("step"),
        col("node")))
    for (i <- 1 to steps) {
      state = Tables.stage(state
        .join(deg.select(col("src").as("__ds"), col("deg")),
          col("node") === col("__ds"))
        .withColumn("__r", pmod(Hashing.portableHash32(
          concat_ws(":", col("root"), col("wk"), lit(i))),
          col("deg")))
        .join(adj.select(col("src").as("__as"), col("r").as("__ar"),
          col("dst").as("__ad")),
          col("node") === col("__as") && col("__r") === col("__ar"))
        .select(col("root"), col("wk"), col("__ad").as("node")),
        s"dw-s$i")
      out += state.select(col("root"), col("wk"),
        lit(i.toLong).as("step"), col("node"))
    }
    out.reduce(_.unionByName(_))
  }
}
