package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Loaders for the driver's parquet star schema (TESTDATA.md) plus shared
  * numeric-parity helpers.
  *
  * Scale notes (100 TB design): every loader returns a plain parquet scan, so
  * Catalyst's column pruning + predicate pushdown reach the file source
  * unimpeded. Nothing here caches or collects; fact tables stay distributed
  * and dimension tables are broadcast explicitly at the join sites.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  /** events.parquet's `ts` encoding has varied across fixture generations:
    * TIMESTAMP(NANOS) (bound as LongType via the nanosAsLong legacy conf)
    * and timestamp[us] without UTC adjustment (bound as TIMESTAMP_NTZ).
    * Hard-coding either breaks when the fixtures regenerate, so normalize
    * whatever the footer declares to a micros-precision instant
    * (TimestampType) — the reference's own scalar parsers tolerate input
    * variation per field (Parser.cs:69-84) and this is the same posture at
    * the table level. DuckDB's `make_timestamp(epoch_ns(ts) // 1000)` on
    * the oracle side is identity on micros timestamps and a truncation on
    * nanos, so the oracle SQL is valid for every encoding. Sessions pin
    * spark.sql.session.timeZone=UTC, making the NTZ→instant cast exact. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")

  /** Redistribute rows across the session's shuffle parallelism before
    * CPU-heavy per-row work (XML parse, sketching). The test parquet files
    * are single-row-group, so the scan — and everything pipelined into its
    * stage — runs as ONE task no matter how many cores exist; a round-robin
    * shuffle of the (narrow) input rows is orders of magnitude cheaper than
    * serializing the downstream compute. At production scale files split
    * naturally and this barrier degenerates to a cheap rebalance; it never
    * blocks scan-level column pruning or predicate pushdown, which happen
    * below it. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)

  /** Recursive delete that NEVER follows symlinks: a link inside a
    * scratch dir (planted or accidental — /tmp is world-writable) is
    * removed as a link, its target untouched. */
  private def rmTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
    }
    f.delete(): Unit
  }

  /** Newest mtime anywhere in the tree, never following symlinks: a
    * parquet part write bumps the PART FILE's mtime, not the scratch
    * root's, so staleness must be judged on the deep max — root-only
    * mtime would let [[sweepStale]] delete a >2h-old dir another live
    * run wrote into seconds ago. */
  private def maxMtime(f: java.io.File): Long = {
    var m = f.lastModified
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(k => m = math.max(m, maxMtime(k)))
    }
    m
  }

  /** One-time-per-JVM sweep of STALE scratch dirs: shutdown hooks don't
    * run on SIGKILL/OOM, so non-clean exits strand `/tmp/graft-*` dirs
    * (1.1 GB of them observed after a build round). Any graft-prefixed
    * dir whose ENTIRE tree ([[maxMtime]] — subdirectory writes don't
    * bump the root's mtime) is untouched for 2+ hours cannot belong to
    * a live run — every consumer reads its scratch back within the same
    * query, seconds after the write — so sweeping at the next JVM start
    * is safe even with concurrent long-lived harness invocations. */
  private lazy val sweepStale: Unit = {
    val cutoff = System.currentTimeMillis - 2L * 3600 * 1000
    val tmp = new java.io.File("/tmp").listFiles()
    if (tmp != null)
      tmp.filter(f => f.isDirectory && f.getName.startsWith("graft-") &&
          f.lastModified < cutoff)
        .filter(f => (try maxMtime(f) catch { case _: Exception => Long.MaxValue }) < cutoff)
        .foreach(f => try rmTree(f) catch { case _: Exception => () })
  }

  /** Unique /tmp scratch path (concurrent harness invocations over the
    * same sfDir must not overwrite each other's files mid-read), deleted
    * recursively on JVM exit — the bench harness runs every query 1+reps
    * times, and without cleanup each rep would leave a corpus copy behind. */
  def scratchDir(prefix: String): String = {
    sweepStale
    val dir = "/tmp/" + prefix + "-" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      rmTree(new java.io.File(dir))
    }))
    dir
  }

  /** Materialize an intermediate so downstream consumers and iterative
    * rounds never re-execute its lineage — the shared primitive behind
    * every operator's per-round scratch (`Graph`, `Ann.nnDescent`,
    * pipeline stages, ...). Two modes, switchable without code changes
    * (spark conf `spark.graft.scratch.mode`, env `SPARK_GRAFT_SCRATCH`):
    *
    *  - `local` (default): ONE eager `localCheckpoint` job. The checkpoint
    *    TRUNCATES the logical plan (iterative operators reference a
    *    round's output 2-3x — without a cut the plan tree doubles per
    *    round and analysis/plan-string work explodes) and stores the rows
    *    once as executor blocks; [[org.apache.spark.sql.graft
    *    .StagedStatsBridge.exactStats]] then swaps the LogicalRDD's
    *    inherited size ESTIMATE (post-join/agg estimates are wild
    *    overcounts that disable every downstream auto-broadcast; measured
    *    2x+ slower on the Louvain family in r16) for the EXACT stored
    *    size the block manager already knows — no second job, no second
    *    copy (r16 paid a persist+count, i.e. one extra job per round and
    *    a duplicate InMemoryRelation copy, for the same stats). NOT
    *    durable (guide §5): the truncated lineage cannot be recomputed,
    *    so on a multi-node cluster a lost executor fails the job and the
    *    caller must rerun the gate — local mode is for single-node /
    *    non-preemptible runs.
    *  - `parquet`: the original durable scratch write+read, REQUIRED for
    *    any multi-node or preemptible deployment: a lost executor re-reads
    *    the files instead of failing the run.
    *
    * Both modes compute the identical rows — the mode changes WHERE the
    * materialized bytes live, never their values. Round loops enter
    * through [[iterate]], which stages each round here and frees the
    * superseded one; harnesses bound gate lifetime with
    * `spark.catalog.clearCache()` plus [[releaseAll]]. */
  def stage(df: DataFrame, tag: String): DataFrame = {
    val mode = df.sparkSession.conf.getOption("spark.graft.scratch.mode")
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH")).getOrElse("local")
    if (mode == "parquet") {
      val dir = scratchDir(tag)
      df.write.mode("overwrite").parquet(dir)
      df.sparkSession.read.parquet(dir)
    } else {
      org.apache.spark.sql.graft.StagedStatsBridge.exactStats(
        df.localCheckpoint(true))
    }
  }

  /** Drop the blocks behind a LOCAL-mode staged frame (no-op for parquet
    * mode / unstaged frames). Call ONLY when the frame will never be read
    * again — its lineage is truncated, so the blocks are the data. */
  def unstage(df: DataFrame): Unit =
    org.apache.spark.sql.graft.StagedStatsBridge.release(df)

  /** The round loop of every iterative operator (the GraphX Pregel
    * discipline): round i stages `step(prev, i)` through [[stage]] as
    * `s"$tag-$i"`, then frees `prev` via [[unstage]] — a convergence loop
    * holds two rounds of blocks, never all of them — then evaluates `done`
    * on the staged round. `init` is released like any superseded round:
    * a staged `init` is handed over (its blocks go once round 0 is
    * staged), an unstaged view passes through untouched. Runs until
    * `maxRounds` rounds or `done`; returns the last staged round (`init`
    * when no round ran) and whether `done` fired. Spark actions: one
    * [[stage]] per round plus whatever `done` runs. */
  def iterate(init: DataFrame, maxRounds: Int, tag: String)(
      step: (DataFrame, Int) => DataFrame,
      done: DataFrame => Boolean = _ => false): (DataFrame, Boolean) = {
    var cur = init
    var finished = false
    var i = 0
    while (i < maxRounds && !finished) {
      val next = stage(step(cur, i), s"$tag-$i")
      unstage(cur)
      cur = next
      finished = done(cur)
      i += 1
    }
    (cur, finished)
  }

  /** [[iterate]]'s `done` for rounds that carry the pre-round value of
    * `c` as `__prev`: true once the staged round changed no row (one
    * count over the staged rows, never a recompute of the round). */
  def unchanged(c: String)(staged: DataFrame): Boolean =
    staged.filter(col(c) =!= col("__prev")).count() == 0L

  /** Harness-side block release BETWEEN queries: `catalog.clearCache()`
    * frees InMemoryRelations but NOT localCheckpoint block storage — a
    * staged frame's blocks otherwise linger until the driver GCs the RDD
    * object (ContextCleaner), so a long multi-gate run accumulates dead
    * blocks in the storage region and late gates execute under memory
    * pressure that has nothing to do with their own plan (guide §5:
    * unpersist when done). Only safe when NO staged frame will be read
    * again, i.e. after a gate's output is fully materialized. */
  def releaseAll(sp: SparkSession): Unit =
    sp.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))

  /** Exact money arithmetic: the source columns are doubles; both Spark and
    * DuckDB round-trip them through DECIMAL(18,2) to the same exact value, so
    * aggregates hash-match bit-for-bit once cast back to double.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Finalize an exact decimal aggregate as a portable double. */
  def asDouble(c: Column): Column = c.cast("double")
}
