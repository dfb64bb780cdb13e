package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one local[nproc] session.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--trace-dir <dir>]
  *
  * Set-up (session start, input generation, `WarmupPasses` checked
  * warm-up passes) runs `SetupReps` times and reports the median. Then a
  * closed loop with one client runs passes back to back for `--seconds`
  * (and at least `MinPasses` passes, ending on a whole rotation); every
  * pass's output is checked, and a wrong one counts as failed, never as a
  * fast one. With `--trace 1` a
  * traced loop and the layer probes follow the untraced loop and the
  * per-layer metrics are reported instead. The last stdout line is the
  * result object. */
object Main {
  val SetupReps = 3
  val WarmupPasses = 5
  val MinPasses = 25
  val MaxLoopSeconds = 60.0

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, traceDir: Option[File])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Workload.names.contains(w), s"unknown workload $w")
    Opts(w, need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")),
      m.get("--trace-dir").map(new File(_)))
  }

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def allocated(): Long = threads.getTotalThreadAllocatedBytes
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
  private def secsSince(t0: Long) = (System.nanoTime - t0) / 1e9

  def startSession(work: File, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // several splits per file, so the rowTag scan splits inside files
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Setup(session: Double, generate: Double, warmup: Double,
      cold: Double) {
    def total: Double = session + generate + warmup
  }

  final case class Loop(ok: Seq[Double], okKinds: Seq[Int], attempted: Int,
      failed: Int, timedS: Double, rowsOk: Long, rowsAll: Long,
      bytesOk: Long, allocBytes: Long, errors: Seq[String]) {
    def kindMedians: Seq[(Int, Double)] =
      ok.zip(okKinds).groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (k, ts) => k -> Stats.median(ts.map(_._1)) }
  }

  /** What the traced phase adds: the traced loop, the tracer, the layer
    * probes, GC seconds and peak heap of the loop, and probe failures. */
  final case class Traced(tr: Tracer, loop: Loop, probes: Seq[(String, Double)],
      gcS: Double, heapPeak: Long, errors: Seq[String])

  /** The closed loop: one client, each pass starts when the last ends. */
  def loop(w: Workload, seconds: Double, tr: Option[Tracer]): Loop = {
    val spans: Spans = tr.getOrElse(NoSpans)
    val ok = Seq.newBuilder[Double]
    val okKinds = Seq.newBuilder[Int]
    val errors = Seq.newBuilder[String]
    var attempted, failed = 0
    var timedNs, rowsOk, rowsAll, bytesOk, alloc = 0L
    val start = System.nanoTime
    var k = 0
    while (secsSince(start) < MaxLoopSeconds && (secsSince(start) < seconds ||
        k < MinPasses || k % w.kinds != 0)) {
      val kind = k % w.kinds
      w.beforePass()
      tr.foreach(_.startPass(k))
      val a0 = allocated()
      val t0 = System.nanoTime
      val out = try Right(spans.span("pass")(w.run(kind, spans)))
        catch { case NonFatal(e) => Left(e) }
      val dt = System.nanoTime - t0
      alloc += allocated() - a0
      tr.foreach(_.endPass())
      val err = out.fold(e => Some(s"threw $e"), o => w.check(kind, o))
      attempted += 1
      timedNs += dt
      rowsAll += w.rows(kind)
      err match {
        case None =>
          ok += dt / 1e9
          okKinds += kind
          rowsOk += w.rows(kind)
          bytesOk += w.bytes(kind)
        case Some(e) =>
          failed += 1
          errors += s"pass $k (${w.kindName(kind)}): $e"
      }
      k += 1
    }
    Loop(ok.result(), okKinds.result(), attempted, failed, timedNs / 1e9,
      rowsOk, rowsAll, bytesOk, alloc, errors.result())
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val startLoad = ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val cpus = Runtime.getRuntime.availableProcessors
    val w = Workload(o.workload, o.seed)
    val warmErrors = Seq.newBuilder[String]
    // at least WarmupPasses passes, in whole rotations
    val warmup = (WarmupPasses + w.kinds - 1) / w.kinds * w.kinds
    var spark: SparkSession = null

    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime
      spark = startSession(o.work, cpus)
      val t1 = System.nanoTime
      w.setup(spark, o.work)
      val t2 = System.nanoTime
      var cold = 0.0
      (0 until warmup).foreach { k =>
        val kind = k % w.kinds
        w.beforePass()
        val s = System.nanoTime
        val err =
          try {
            val out = w.run(kind, NoSpans)
            if (k == 0) cold = secsSince(s)
            w.check(kind, out)
          } catch { case NonFatal(e) => Some(s"threw $e") }
        err.foreach(e => warmErrors += s"set-up $rep ${w.kindName(kind)}: $e")
      }
      val t3 = System.nanoTime
      if (rep < SetupReps) { w.teardown(); spark.stop() }
      Setup((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, cold)
    }
    setups.zipWithIndex.foreach { case (s, i) =>
      println(f"[perfbench] set-up ${i + 1}: session ${s.session}%.3f s, " +
        f"generate ${s.generate}%.3f s, warm-up ${s.warmup}%.3f s " +
        f"(first pass ${s.cold}%.3f s)")
    }
    def setupMedian(f: Setup => Double) = Stats.median(setups.map(f))

    val plain = loop(w, o.seconds, None)
    val traced = if (!o.trace) None else Some {
      val tr = new Tracer(spark)
      org.apache.spark.PerfbenchBus.drain(spark)
      tr.attach()
      tr.inLoop = true
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val gc0 = gcMs()
      val l = loop(w, o.seconds, Some(tr))
      val gcS = (gcMs() - gc0) / 1e3
      org.apache.spark.PerfbenchBus.drain(spark)
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      tr.inLoop = false
      // every workload's layer probes, each on its own seeded inputs
      val others = Workload.names.filter(_ != o.workload).map { n =>
        val p = Workload(n, o.seed)
        p.setup(spark, o.work)
        p
      }
      val probes = (w +: others).flatMap(_.probes(tr))
      tr.detach()
      val probeErrors = others.flatMap { p =>
        val e = p.finalCheck().map(e => s"${p.name} probes: $e")
        p.teardown()
        e
      }
      Traced(tr, l, probes, gcS, heapPeak, probeErrors)
    }
    val finalErr = w.finalCheck()

    val loops = plain +: traced.map(_.loop).toSeq
    val attempted = loops.map(_.attempted).sum
    val failed = loops.map(_.failed).sum
    val errors = warmErrors.result() ++ loops.flatMap(_.errors) ++
      traced.toSeq.flatMap(_.errors) ++ finalErr.map("final check: " + _)
    errors.take(20).foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    val correct = errors.isEmpty

    val env = Seq[(String, Any)](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "cpus" -> cpus, "master" -> spark.sparkContext.master,
      "load_1m_at_start" -> startLoad,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "staging_mode" -> spark.conf.getOption("spark.graft.scratch.mode")
        .orElse(sys.env.get("SPARK_GRAFT_SCRATCH")).getOrElse("local"),
      "setup_reps" -> SetupReps, "warmup_passes" -> warmup,
      "input_recached" -> CachedInput.recached) ++ w.describe
    println("env " + Json.render(Json.obj(env)))

    def report(n: String, v: Double, unit: String, note: String = ""): Unit =
      println(f"[perfbench] ${o.workload} $n%-36s $v%16.6f $unit $note")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) endToEnd(plain, setupMedian(_.total))
      else {
        val Traced(tr, l, probes, gcS, heapPeak, _) = traced.get
        val n = math.max(1, l.attempted).toDouble
        val t = tr.loop
        val opMetrics = IterativeOps.allOps.flatMap { op =>
          val (calls, secs, jobs) = tr.spanStats("op." + op)
          val c = math.max(1, calls).toDouble
          Seq(s"operators.${op}_s" -> secs / c, s"operators.${op}_jobs" -> jobs / c)
        }
        val values: Map[String, Double] = (Seq(
          "plans.plan_s" -> t.planMs / 1e3 / n,
          "plans.xml_parse_nodes" -> t.xmlParseNodes / n,
          "tables.staged_mb" -> t.stagedBytes / 1e6 / n,
          "tables.staged_blocks" -> t.stagedBlocks / n,
          "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n,
          "spark.tasks" -> t.tasks / n,
          "spark.driver_gap_s" -> tr.driverGapNs / 1e9 / n,
          "spark.task_run_s" -> t.taskRunMs / 1e3 / n,
          "spark.task_cpu_s" -> t.taskCpuNs / 1e9 / n,
          "spark.task_wait_s" -> t.taskWaitMs / 1e3 / n,
          "spark.tasks_failed" -> t.tasksFailed / n,
          "spark.gc_s" -> t.gcMs / 1e3 / n,
          "spark.shuffle_write_mb" -> t.shuffleWrite / 1e6 / n,
          "spark.spill_mb" -> t.spill / 1e6 / n,
          "jvm.alloc_mb" -> l.allocBytes / 1e6 / n,
          "jvm.heap_peak_mb" -> heapPeak / 1e6,
          "jvm.gc_pause_s" -> gcS / n,
          "setup.session_s" -> setupMedian(_.session),
          "setup.generate_s" -> setupMedian(_.generate),
          "setup.warmup_s" -> setupMedian(_.warmup),
          "setup.cold_pass_s" -> setupMedian(_.cold),
          "trace.pass_s_p50" -> Stats.median(l.ok),
          "trace.overhead_s" -> (Stats.median(l.ok) - Stats.median(plain.ok))) ++
          probes ++ opMetrics).toMap
        tr.selfTimes.foreach { case (name, calls, total, self) =>
          println(f"[perfbench] self-time $name%-36s calls $calls%6d " +
            f"total $total%10.4f s self $self%10.4f s")
        }
        o.traceDir.foreach(d => writeTrace(d, o, env, tr))
        PerLayer.metrics.map { case (name, unit) =>
          (name, values(name), unit)
        }
      }
    metrics.foreach { case (n, v, u) => report(n, v, u) }
    report("passes", plain.attempted, "count", s"(failed ${plain.failed}; " +
      s"pass_s_tail is the ${tailPercentile(plain.ok)} percentile)")
    report("error_rate", plain.failed.toDouble / plain.attempted, "ratio")
    if (w.kinds > 1) plain.kindMedians.foreach { case (k, m) =>
      report(s"pass_s_p50[${w.kindName(k)}]", m, "s") }

    w.teardown()
    spark.stop()
    println(Json.render(Json.obj(Seq("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> v, "unit" -> u))
      })))))
  }

  private def tailPercentile(ok: Seq[Double]): String =
    if (ok.size > 10) f"p${Stats.tail(ok)._2}%.1f" else "max"


  /** The end-to-end metrics of an untraced loop. */
  def endToEnd(l: Loop, setupS: Double): Seq[(String, Double, String)] = {
    val times = if (l.ok.isEmpty) Seq(Double.NaN) else l.ok
    val tail = if (times.size > 10) Stats.tail(times)._1 else times.max
    Seq(("pass_s_p50", Stats.median(times), "s"),
      ("pass_s_tail", tail, "s"),
      ("rows_per_s", l.rowsOk / l.timedS, "rows/s"),
      ("mb_per_s", l.bytesOk / 1e6 / l.timedS, "MB/s"),
      ("alloc_bytes_per_row", l.allocBytes.toDouble / l.rowsAll, "B/row"),
      ("setup_s", setupS, "s"),
      ("success_rate", (l.attempted - l.failed).toDouble / l.attempted,
        "ratio"))
  }

  def writeTrace(dir: File, o: Opts, env: Seq[(String, Any)], tr: Tracer)
      : Unit = {
    dir.mkdirs()
    val f = new File(dir, s"${o.workload}-seed${o.seed}.json")
    val self = tr.selfTimes.map { case (n, c, total, s) =>
      n -> Json.obj(Seq("calls" -> c, "total_s" -> total, "self_s" -> s))
    }
    val doc = Json.obj(Seq("env" -> Json.obj(env),
      "self_times" -> Json.obj(self), "spans" -> tr.spanRecords.asJava))
    java.nio.file.Files.write(f.toPath, Json.render(doc).getBytes("UTF-8"))
    println(s"[perfbench] trace written to ${f.getPath}")
  }
}

/** The per-layer metrics, in the order BENCHMARK.json registers them. */
object PerLayer {
  val metrics: Seq[(String, String)] = Seq(
    "xml_scan.s" -> "s", "xml_scan.mb_per_s" -> "MB/s",
    "xml_scan.records" -> "count", "xml_scan.tasks" -> "count",
    "xml_fastscan.flat_ns_per_doc" -> "ns",
    "xml_fastscan.flat_accept_ratio" -> "ratio",
    "xml_fastscan.children_ns_per_doc" -> "ns",
    "xml_fastscan.children_accept_ratio" -> "ratio",
    "xml_stax.children_ns_per_doc" -> "ns",
    "xml_xpath.ns_per_doc" -> "ns",
    "xml_writer.s" -> "s", "xml_writer.noop_s" -> "s",
    "xml_writer.bytes_per_row" -> "B/row",
    "plans.plan_s" -> "s", "plans.xml_parse_nodes" -> "count",
    "tables.staged_mb" -> "MB", "tables.staged_blocks" -> "count") ++
    IterativeOps.allOps.flatMap(op =>
      Seq(s"operators.${op}_s" -> "s", s"operators.${op}_jobs" -> "count")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
      "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
      "spark.task_wait_s" -> "s", "spark.tasks_failed" -> "count",
      "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB",
      "jvm.alloc_mb" -> "MB", "jvm.heap_peak_mb" -> "MB",
      "jvm.gc_pause_s" -> "s",
      "setup.session_s" -> "s", "setup.generate_s" -> "s",
      "setup.warmup_s" -> "s", "setup.cold_pass_s" -> "s",
      "trace.pass_s_p50" -> "s", "trace.overhead_s" -> "s")
}

/** JSON for the result line and the trace file (Jackson, from Spark). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  /** An ordered object; NaN and infinities become null. */
  def obj(kv: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) =>
      m.put(k, v match {
        case d: Double if d.isNaN || d.isInfinite => null
        case other => other
      })
    }
    m
  }
  def render(v: Any): String = mapper.writeValueAsString(v)
}
