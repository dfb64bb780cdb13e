package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening — resolve every node of a parent-pointer forest
  * (org chart, bill-of-materials, category tree) to its ROOT and DEPTH.
  * Spark has no recursive CTE; the distributed form is an iterative
  * ancestor join, one shuffle per tree LEVEL (not per node), terminating
  * when a pass resolves no further ancestors. Depth of real hierarchies
  * is small (10-20), so the loop runs a handful of bounded passes over
  * ever-shrinking frontiers; d12's label propagation is the same shape
  * on undirected similarity graphs. For deep or unknown-depth trees use
  * [[flattenDoubling]], which finishes in O(log depth) passes.
  *
  * Every pass STAGES its frontier and its newly-resolved rows through
  * [[graft.Tables.stage]]: each level is computed exactly once (a lazy
  * formulation re-evaluates level k's join once per later level) and the
  * lineage stays one-join deep — the same discipline as [[Dedup]]'s
  * clustering loop and the Vocab builder.
  */
object Hierarchy {

  /** `edges`: (node, parent) — one row per non-root node; roots have no
    * row. Returns (node, root, depth) for EVERY node appearing in `nodes`
    * (depth 0 = root). `maxDepth` bounds the loop against cycles;
    * leftovers at maxDepth surface with their last-known ancestor. */
  def flatten(nodes: DataFrame, edges: DataFrame,
      maxDepth: Int = 50): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val sp = nodes.sparkSession
    val e = edges.select(col("node").as("__en"), col("parent").as("__ep"))
    var state = nodes.select(col("node"), col("node").as("root"),
      lit(0).as("depth"))
    val doneParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var depth = 0
    var remaining = 1L
    while (remaining > 0 && depth < maxDepth) {
      // one join per level: nodes whose current ancestor has a parent
      // climb; the rest are resolved and leave the frontier
      val joined = graft.Tables.stage(
        state.join(e, state("root") === e("__en"), "left")
          .select(col("node"),
            coalesce(col("__ep"), col("root")).as("root"),
            when(col("__ep").isNull, col("depth"))
              .otherwise(col("depth") + 1).as("depth"),
            col("__ep").isNotNull.as("__climbed")),
        s"graft-hier-$depth")
      doneParts += joined.filter(!col("__climbed"))
        .select(col("node"), col("root"), col("depth"))
      state = joined.filter(col("__climbed"))
        .select(col("node"), col("root"), col("depth"))
      depth += 1
      remaining = state.limit(1).count() // cheap emptiness probe on parquet
    }
    (doneParts :+ state).reduce(_.unionByName(_))
  }

  /** Pointer-doubling form — the DEEP-hierarchy scale path: each pass
    * composes the jump table with itself (`anc := anc's anc`,
    * `depth += anc's depth`), so a depth-D tree resolves in ⌈log₂ D⌉
    * passes instead of D. The per-pass join is over the FULL node set
    * (nothing shrinks) — worth it when depth, not width, is the problem;
    * [[flatten]] is the default for the shallow hierarchies real data
    * has. Same output contract as [[flatten]]. */
  def flattenDoubling(nodes: DataFrame, edges: DataFrame,
      maxPasses: Int = 20): DataFrame = {
    // jump(n) = (anc, d): the highest KNOWN ancestor and its distance
    val jump0 = graft.Tables.stage(
      nodes.select(col("node"))
        .join(edges.select(col("node"), col("parent")), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("parent"), col("node")).as("anc"),
          when(col("parent").isNull, 0).otherwise(1).as("depth"),
          col("parent").isNull.as("done")),
      "graft-hier2-0")
    def resolved(jump: DataFrame): Boolean =
      jump.filter(!col("done")).limit(1).count() == 0L
    val jump = if (resolved(jump0)) jump0
      else graft.Tables.iterate(jump0, maxPasses, "graft-hier2")({
          (jump, _) =>
        val j2 = jump.select(col("node").as("__n2"), col("anc").as("__a2"),
          col("depth").as("__d2"), col("done").as("__done2"))
        jump.join(j2, jump("anc") === j2("__n2"), "left")
          .select(col("node"),
            when(col("done") || col("__a2").isNull, col("anc"))
              .otherwise(col("__a2")).as("anc"),
            when(col("done") || col("__a2").isNull, col("depth"))
              .otherwise(col("depth") + col("__d2")).as("depth"),
            (col("done") || col("__a2").isNull || col("__done2"))
              .as("done"))
      }, resolved)._1
    jump.select(col("node"), col("anc").as("root"), col("depth"))
  }
}
