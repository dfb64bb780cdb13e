package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D SKYLINE (Pareto frontier) — the multi-criteria shortlist query
  * ("cheapest AND freshest", "smallest AND highest-quality"): the rows no
  * other row beats on both axes at once. The classic evaluation is a
  * sorted scan with a running best, but a bare global sort of the corpus
  * is exactly the single-partition WindowExec scale-killer the z3 probe
  * caught — so this is TWO-LEVEL:
  *
  *  1. GRID PRUNE (distributed): bucket both axes into an integer grid
  *     (width from one 1-row min/max collect). Cell B strictly dominates
  *     cell A iff cx_B < cx_A and cy_B > cy_A — then EVERY B point beats
  *     EVERY A point, so A drops whole. The survivor test is one window
  *     over the CELL DOMAIN (≤ grid² rows): a cell lives iff no nonempty
  *     strictly-lower-x cell has strictly-higher y. Survivors form the
  *     staircase band the skyline must inhabit; pruning is LOSSLESS (a
  *     pruned cell's points are dominated by any point of its dominator,
  *     which is nonempty by construction).
  *  2. EXACT SCAN (residual-sized): candidates = rows in surviving cells
  *     (broadcast semi join on the cell ids), grouped to the distinct
  *     (x, y) domain, then the sorted-scan window ONLY over that
  *     residue: ordered by (x asc, y desc), a group is skyline iff the
  *     running max of y over strictly-earlier groups is below its own y
  *     (earlier means better-x, or equal-x-better-y — either way a
  *     dominator; the grouping makes ties exact).
  *
  * At 100 TB the residue is ~2·grid cells of rows (a 1/grid fraction);
  * if still large, re-grid the residue recursively — same primitive.
  * Returns one row per skyline (x, y): multiplicity + min-id witness. */
object Skyline {

  /** Skyline of `df` MINIMIZING `x` and MAXIMIZING `y` (both cast to
    * long): (x, y, n_rows, witness = min id). Empty input → empty. */
  def skyline2d(df: DataFrame, id: Column, x: Column, y: Column,
      grid: Int = 64): DataFrame = {
    require(grid >= 1, "grid must be >= 1")
    val pts = df.select(id.cast("long").as("id"), x.cast("long").as("x"),
      y.cast("long").as("y"))
    val empty = pts.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_rows"), min(col("id")).as("witness"))
      .limit(0)
    val b = pts.agg(min(col("x")), max(col("x")), min(col("y")),
      max(col("y"))).collect()(0)
    if (b.isNullAt(0)) return empty
    val (xmin, xmax, ymin, ymax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val xw = Math.floorDiv(xmax - xmin, grid.toLong) + 1L
    val yw = Math.floorDiv(ymax - ymin, grid.toLong) + 1L
    val withCells = pts // nonneg operands → DIV = floor in both engines
      .withColumn("cx", expr(s"(x - ${xmin}L) DIV ${xw}L"))
      .withColumn("cy", expr(s"(y - ${ymin}L) DIV ${yw}L"))
    val cells = withCells.groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("__n"))
    // strictly-smaller-x frame via RANGE (excludes equal cx)
    val wc = Window.orderBy(col("cx"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val live = cells.withColumn("__mp", max(col("cy")).over(wc))
      .filter(col("__mp").isNull || col("__mp") <= col("cy"))
      .select(col("cx"), col("cy"))
    val cand = withCells.join(broadcast(live), Seq("cx", "cy"))
    val g = cand.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_rows"), min(col("id")).as("witness"))
    val ws = Window.orderBy(col("x").asc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("__m", max(col("y")).over(ws))
      .filter(col("__m").isNull || col("__m") < col("y"))
      .select(col("x"), col("y"), col("n_rows"), col("witness"))
  }

  /** Result of [[skyline2dBounded]]: the skyline plus the residue
    * trace — per-level candidate row counts, the grid each level used,
    * and the residue the final exact-scan window actually saw. */
  final case class SkylineBounded(result: DataFrame,
      residues: Seq[Long], grids: Seq[Int], finalResidue: Long)

  /** [[skyline2d]] with the documented RESIDUE RE-GRID made real: when
    * the surviving staircase band exceeds `maxResidue` rows, the grid
    * prune recurses on the residue with a 4× finer mesh — the same
    * lossless primitive (a pruned cell's points are dominated by a
    * point of its nonempty dominator cell, at every level), bounded by
    * `maxDepth`, so the final sorted-scan window is PROVABLY bounded
    * by the returned `finalResidue` (spec-asserted under the bound on
    * a planted anti-correlated worst case). Finer mesh is what makes
    * recursion converge: a dominated point whose dominator sat in the
    * SAME coarse cell separates into a strictly-dominated cell once
    * the cell width drops below their displacement. Two honest stops:
    * depth exhaustion and NO PROGRESS (an anti-correlated residue that
    * IS the skyline cannot shrink — rather than loop, the trace shows
    * the plateau and the exact scan runs on what remains). Driver
    * state: one 1-row bounds collect + one count per level, ≤
    * maxDepth of each; every level's candidate set lands in scratch so
    * the next prune scans residue-sized data, not the re-derived
    * corpus. */
  def skyline2dBounded(df: DataFrame, id: Column, x: Column, y: Column,
      grid: Int = 64, maxResidue: Long = 100000L,
      maxDepth: Int = 4): SkylineBounded = {
    require(grid >= 1 && maxDepth >= 1 && maxResidue >= 1)
    var pts = df.select(id.cast("long").as("id"), x.cast("long").as("x"),
      y.cast("long").as("y"))
    val residues = scala.collection.mutable.ArrayBuffer.empty[Long]
    val grids = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      val g = grid * (1 << (2 * depth)) // 4x finer per level
      val b = pts.agg(min(col("x")), max(col("x")), min(col("y")),
        max(col("y"))).collect()(0)
      if (b.isNullAt(0)) {
        val empty = pts.groupBy(col("x"), col("y"))
          .agg(count(lit(1)).as("n_rows"), min(col("id")).as("witness"))
          .limit(0)
        return SkylineBounded(empty, residues.toSeq, grids.toSeq, 0L)
      }
      val (xmin, xmax, ymin, ymax) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val xw = Math.floorDiv(xmax - xmin, g.toLong) + 1L
      val yw = Math.floorDiv(ymax - ymin, g.toLong) + 1L
      val withCells = pts
        .withColumn("cx", expr(s"(x - ${xmin}L) DIV ${xw}L"))
        .withColumn("cy", expr(s"(y - ${ymin}L) DIV ${yw}L"))
      val cells = withCells.groupBy(col("cx"), col("cy"))
        .agg(count(lit(1)).as("__n"))
      val wc = Window.orderBy(col("cx"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val live = cells.withColumn("__mp", max(col("cy")).over(wc))
        .filter(col("__mp").isNull || col("__mp") <= col("cy"))
        .select(col("cx"), col("cy"))
      val cand = graft.Tables.stage(
        withCells.join(broadcast(live), Seq("cx", "cy"))
          .select(col("id"), col("x"), col("y")),
        s"graft-skyb-$depth")
      val n = cand.count()
      grids += g
      residues += n
      val noProgress = residues.length >= 2 &&
        residues(residues.length - 2) == n
      done = n <= maxResidue || noProgress
      pts = cand
      depth += 1
    }
    val gd = pts.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_rows"), min(col("id")).as("witness"))
    val ws = Window.orderBy(col("x").asc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val res = gd.withColumn("__m", max(col("y")).over(ws))
      .filter(col("__m").isNull || col("__m") < col("y"))
      .select(col("x"), col("y"), col("n_rows"), col("witness"))
    SkylineBounded(res, residues.toSeq, grids.toSeq, residues.last)
  }
}
