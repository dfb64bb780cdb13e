package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass column profiling — the data-quality screen a pipeline runs
  * before committing 100 TB to a training mix: per column, row count,
  * null count, exact distinct count, min/max.
  *
  * All columns profile in a SINGLE aggregation: Spark plans the multiple
  * `count(DISTINCT ...)`s with one Expand (row multiplication map-side,
  * one shuffle total) rather than one job per column; min/max/counts ride
  * the same pass. Output is long-format via `stack`, one row per column.
  *
  * For a quick estimate-only profile at petabyte scale, swap the exact
  * distinct for [[Sketches.hllMergedDistinct]] partials; the exact form is
  * what the oracle can replay. */
object Profile {

  /** Profile numeric columns: (col_name, n, n_nulls, n_distinct, min_v,
    * max_v) with min/max cast to double. Long format via explode of
    * literal structs with index-based internal aliases — no SQL-string
    * splicing, so column names may contain quotes, spaces, or any other
    * character (same shape as [[Expect.rowChecks]]). */
  def describeNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(df(c)).as(s"__${i}_n"),
        sum(when(df(c).isNull, 1L).otherwise(0L)).as(s"__${i}_nulls"),
        countDistinct(df(c)).as(s"__${i}_nd"),
        min(df(c)).cast("double").as(s"__${i}_min"),
        max(df(c)).cast("double").as(s"__${i}_max"))
    }
    val rows = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("col_name"), col(s"__${i}_n").as("n"),
        col(s"__${i}_nulls").as("n_nulls"), col(s"__${i}_nd").as("n_distinct"),
        col(s"__${i}_min").as("min_v"), col(s"__${i}_max").as("max_v"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("kv"))
      .select(col("kv.col_name"), col("kv.n"), col("kv.n_nulls"),
        col("kv.n_distinct"), col("kv.min_v"), col("kv.max_v"))
  }

  /** Exact equi-width histogram of a numeric column — the distribution
    * profile behind drift screens and bin-boundary choices. Two passes,
    * both all-reduce shapes that hold at 100 TB: one min/max aggregation
    * (1 row, broadcast back), one partial-agg count by bin (`nBins`
    * groups). bin = floor((x − min)·nBins/(max − min)) clamped to the top
    * bin; bin edges ride along so the output is self-describing. The
    * arithmetic is one shared double expression tree, replayable exactly
    * in any engine. Empty bins are absent (densify with a sequence join
    * if needed); null values are skipped. */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 1, "nBins must be >= 1")
    val v = col(valueCol).cast("double")
    val stats = df.agg(min(v).as("__mn"), max(v).as("__mx"))
    val b = lit(nBins.toDouble)
    df.filter(v.isNotNull).crossJoin(broadcast(stats))
      .select(least(floor((v - col("__mn")) * b / (col("__mx") - col("__mn"))),
          lit(nBins - 1.0)).cast("int").as("bin"),
        col("__mn"), col("__mx"))
      .groupBy(col("bin"), col("__mn"), col("__mx"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), col("n"),
        round(col("__mn") +
          (col("bin").cast("double") * (col("__mx") - col("__mn"))) / b, 6)
          .as("lo"),
        round(col("__mn") +
          ((col("bin").cast("double") + 1.0) * (col("__mx") - col("__mn"))) / b,
          6).as("hi"))
  }

  /** TWO-SAMPLE chi-square DRIFT profile — the distribution-shift test
    * behind train/serve skew and week-over-week data-drift monitors
    * (p4 tracks count/null/distinct drift; this tracks the SHAPE of a
    * numeric column): rows split into samples A/B by `sampleA`, binned
    * on the SHARED [[histogram]] grid (global min/max, so both samples
    * use identical edges), then per (bin, sample) the standard
    * contingency term (O−E)²/E with E = rowTotal·colTotal/grand.
    * Exactness: counts stay in BIGINT; every FACTOR is cast to double
    * BEFORE multiplying and the term is the fixed IEEE tree
    * (O·grand − n·colTotal)² / ((grand·n)·colTotal) over those doubles —
    * products are exact up to 2⁵³ and round IDENTICALLY in both engines
    * beyond it (a BIGINT product would instead wrap silently in Spark
    * past 2⁶³ while DuckDB raises — the divergent failure mode the
    * Assoc/p18 guards exist for), so the gate emits RAW doubles at any
    * corpus size. Per-bin terms are emitted instead of the summed
    * statistic (a 20-term double sum has no cross-engine fold order);
    * the caller sums, or compares terms directly against a threshold.
    * Scale: two all-reduce passes (min/max, then bin×sample counts into
    * nBins groups) — nothing after the first shuffle scales with the
    * corpus. */
  def chi2Drift(df: DataFrame, valueCol: String, sampleA: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 1, "nBins must be >= 1")
    val v = col(valueCol).cast("double")
    val stats = df.agg(min(v).as("__mn"), max(v).as("__mx"))
    val b = lit(nBins.toDouble)
    val counts = df.filter(v.isNotNull).withColumn("__a", sampleA)
      .crossJoin(broadcast(stats))
      .select(least(floor((v - col("__mn")) * b /
          (col("__mx") - col("__mn"))), lit(nBins - 1.0)).cast("int")
          .as("bin"),
        col("__a"))
      .groupBy(col("bin"))
      .agg(count(when(col("__a"), 1)).as("o_a"),
        count(when(!col("__a"), 1)).as("o_b"))
    val tot = counts.agg(sum(col("o_a")).as("__na"),
      sum(col("o_b")).as("__nb"))
    def term(o: Column, n: Column): Column = {
      val colT = (col("o_a") + col("o_b")).cast("double")
      val grand = (col("__na") + col("__nb")).cast("double")
      val dd = o.cast("double") * grand - n.cast("double") * colT
      (dd * dd) / (grand * n.cast("double") * colT)
    }
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("o_a"), col("o_b"),
        term(col("o_a"), col("__na")).as("term_a"),
        term(col("o_b"), col("__nb")).as("term_b"))
  }

  /** Mann–Whitney U, INTEGER-EXACT: `isA` splits the rows into the two
    * samples; midranks over the combined sample ride DOUBLED so ties
    * stay integral (2·avgrank of a tied value = 2·preceding + count +
    * 1), yielding exact 2·R₁/2·U₁/2·U₂; `shifted` is the z² ≥ 3.8416
    * decision (α = 0.05 two-sided, plain normal approximation, NO tie
    * correction) cross-multiplied to 3·(2U−n₁n₂)²·10⁴ ≥
    * 38416·n₁n₂·(n₁+n₂+1) in DECIMAL(38) — exact for any n up to ~10⁸
    * per side. Shape: one corpus→domain partial agg, then the
    * cumulative window over the DISTINCT-VALUE domain only (the
    * p17/p19 two-level discipline). Returns one row
    * (n1, n2, r1_2, u1_2, u2_2, shifted). */
  def mannWhitney(df: DataFrame, isA: Column, value: Column): DataFrame = {
    val vals = df.select(isA.as("__a"), value.as("v"))
      .groupBy(col("v")).agg(
        count(when(col("__a"), 1)).as("c1"),
        count(when(!col("__a"), 1)).as("c2"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    vals.withColumn("before",
        coalesce(sum(col("c1") + col("c2")).over(w), lit(0L)))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * (col("before") * 2 + col("c1") + col("c2") + 1))
          .as("r1_2"))
      .select(col("n1"), col("n2"), col("r1_2"),
        (col("r1_2") - col("n1") * (col("n1") + 1)).as("u1_2"))
      .select(col("n1"), col("n2"), col("r1_2"), col("u1_2"),
        (col("n1") * col("n2") * 2 - col("u1_2")).as("u2_2"),
        expr("CAST(3 AS DECIMAL(38,0)) " +
          "* CAST(u1_2 - n1 * n2 AS DECIMAL(38,0)) " +
          "* CAST(u1_2 - n1 * n2 AS DECIMAL(38,0)) " +
          "* CAST(10000 AS DECIMAL(38,0)) " +
          ">= CAST(38416 AS DECIMAL(38,0)) " +
          "* CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0)) " +
          "* CAST(n1 + n2 + 1 AS DECIMAL(38,0))").as("shifted"))
  }

  /** ROC-AUC, INTEGER-EXACT — the threshold-free ranking quality of a
    * score against a binary label, via the AUC = U₁/(n₊·n₋) identity on
    * [[mannWhitney]]'s doubled rank sums: auc_num2 = 2·U₁ counts every
    * (pos, neg) pair 2 if the positive outranks, 1 on a tie, 0
    * otherwise, and auc_den2 = 2·n₊·n₋, so the one final float is the
    * division of two exact BIGINTs (DECIMAL(38) beyond ~10⁹ per side).
    * Same scale shape as the kernel: corpus → per-score-value counts,
    * cumulative window over the score DOMAIN only. Degenerate
    * single-class inputs report auc = NULL. */
  def rocAuc(df: DataFrame, isPos: Column, score: Column): DataFrame =
    mannWhitney(df, isPos, score)
      .select(col("n1").as("n_pos"), col("n2").as("n_neg"),
        col("u1_2").as("auc_num2"),
        (col("n1") * col("n2") * 2).as("auc_den2"),
        when(col("n1") === 0 || col("n2") === 0,
          lit(null).cast("double"))
          .otherwise(col("u1_2").cast("double") /
            (col("n1") * col("n2") * 2).cast("double")).as("auc"))

  /** MUTUAL INFORMATION between two categorical columns, Q16-exact —
    * the feature↔label LEAKAGE audit (does a metadata column predict
    * the label?) that p39's kappa cannot give when the two columns
    * range over different alphabets. MI(X;Y) = Σ_xy (n_xy/N)·
    * log2(N·n_xy/(n_x·n_y)) in BITS; every log2 rides the t60 Q16
    * integer kernel ([[graft.operators.NaiveBayes.logTable]]) so each
    * cell's numerator mi_num = n_xy·(L(N·n_xy) − L(n_x·n_y)) is an
    * exact BIGINT both engines reproduce, over the shared den =
    * N·2¹⁶. Entropies ride the same kernel on the marginal domains:
    * h_num(X) = Σ_x n_x·(L(N) − L(n_x)), same den, so the normalized
    * MI = mi_tot/min(hx, hy) is a ratio of exact integers and the
    * verdict is float-free cross-multiplication: `independent` iff
    * 20·mi_tot < min_h (NMI < 0.05), `leaking` iff 2·mi_tot ≥ min_h
    * (NMI ≥ 0.5), `correlated` between. Degenerate single-valued
    * axes (min_h = 0) report NULL nmi and `degenerate`.
    *
    * Scale: the corpus reduces to the |X|·|Y| cell domain in one
    * hash agg; marginals and the log recurrence run over that domain
    * only. Overflow envelope: N·n_xy ≤ N² and n_xy·ΔL ≤ N·63·2¹⁶,
    * both inside int64 through N ≈ 10⁹ (then DECIMAL(38), as p38).
    * Individual cell terms may be negative (cells rarer than
    * independence predicts) — only the total is sign-guaranteed
    * (≥ −|cells| quantization ulps); portability needs no sign,
    * both engines compute identical integers. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = graft.Tables.stage(df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x_val"), col(yCol).as("y_val"))
      .agg(count(lit(1)).as("n_xy")), "mi-cells")
    val mx = cells.groupBy(col("x_val")).agg(sum(col("n_xy")).as("n_x"))
    val my = cells.groupBy(col("y_val")).agg(sum(col("n_xy")).as("n_y"))
    val nn = cells.agg(sum(col("n_xy")).as("__n"))
    val m = cells.join(mx, Seq("x_val")).join(my, Seq("y_val"))
      .crossJoin(broadcast(nn))
      .select(col("x_val"), col("y_val"), col("n_xy"), col("n_x"),
        col("n_y"), col("__n"),
        (col("__n") * col("n_xy")).as("__pa"),
        (col("n_x") * col("n_y")).as("__pb"))
    val need = m.select(col("__pa").as("x"))
      .union(m.select(col("__pb").as("x")))
      .union(m.select(col("n_x").as("x")))
      .union(m.select(col("n_y").as("x")))
      .union(m.select(col("__n").as("x")))
    val ltab = graft.Tables.stage(NaiveBayes.logTable(need), "mi-ltab")
    def l(of: String, as: String) =
      ltab.select(col("x").as(of), col("l").as(as))
    val terms = m
      .join(l("__pa", "__la"), Seq("__pa"))
      .join(l("__pb", "__lb"), Seq("__pb"))
      .select(col("x_val"), col("y_val"), col("n_xy"), col("n_x"),
        col("n_y"), col("__n"),
        (col("n_xy") * (col("__la") - col("__lb"))).as("mi_num"))
    val hx = mx.join(l("n_x", "__lx"), Seq("n_x"))
      .crossJoin(broadcast(nn.join(l("__n", "__ln"), Seq("__n"))))
      .agg(sum(col("n_x") * (col("__ln") - col("__lx"))).as("hx_num"))
    val hy = my.join(l("n_y", "__ly"), Seq("n_y"))
      .crossJoin(broadcast(nn.join(l("__n", "__ln"), Seq("__n"))))
      .agg(sum(col("n_y") * (col("__ln") - col("__ly"))).as("hy_num"))
    val tot = terms.agg(sum(col("mi_num")).as("__mt"))
      .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("__mt"), col("hx_num"), col("hy_num"),
        least(col("hx_num"), col("hy_num")).as("__minh"))
    terms.crossJoin(broadcast(tot))
      .select(col("x_val"), col("y_val"), col("n_xy"), col("n_x"),
        col("n_y"), col("mi_num"),
        (col("__n") * lit(65536L)).as("mi_den"),
        (col("__mt").cast("double") /
          (col("__n") * lit(65536L)).cast("double")).as("mi_bits"),
        (col("hx_num").cast("double") /
          (col("__n") * lit(65536L)).cast("double")).as("h_x_bits"),
        (col("hy_num").cast("double") /
          (col("__n") * lit(65536L)).cast("double")).as("h_y_bits"),
        when(col("__minh") <= 0, lit(null).cast("double"))
          .otherwise(col("__mt").cast("double") /
            col("__minh").cast("double")).as("nmi"),
        when(col("__minh") <= 0, "degenerate")
          .when(col("__mt") * 20 < col("__minh"), "independent")
          .when(col("__mt") * 2 >= col("__minh"), "leaking")
          .otherwise("correlated").as("verdict"))
  }
}
