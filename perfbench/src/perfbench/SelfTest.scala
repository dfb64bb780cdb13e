package perfbench

import java.io.File

import org.apache.spark.sql.Row

/** The benchmark's own tests (`python3 perfbench/run.py --self-test`):
  *
  *   - every generator is deterministic per seed: the same seed gives the
  *     same bytes and the same expected checksums, another seed differs;
  *   - a corrupted output is rejected: each workload's real pass output
  *     passes its check, and the same output with one value changed fails;
  *   - the closed loop counts a wrong or throwing pass as failed, never
  *     as a timed success.
  *
  * Exits 1 if any test fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable =>
      println(s"  exception: $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  /** Change one value of a pass output, whatever its shape. */
  def corrupt(out: Any): Any = out match {
    case r: Row =>
      val v = r.toSeq.toArray
      v(v.length - 1) = r.getAs[Number](v.length - 1).longValue + 1
      Row.fromSeq(v.toSeq)
    case (a, b) => (corrupt(a), b)
    case m: Map[Long, Long] @unchecked =>
      val (k, v) = m.head
      m.updated(k, v + 1)
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args(0))

    test("ingest generator is deterministic per seed") {
      val (a, b, c) = (Gen.ingest(7), Gen.ingest(7), Gen.ingest(8))
      a == b && a.files != c.files && a.expected != c.expected
    }
    test("nested generator is deterministic per seed") {
      val (a, b, c) = (Gen.nested(7), Gen.nested(7), Gen.nested(8))
      a == b && a.docs != c.docs && a.expectedKids != c.expectedKids
    }
    test("iterative generator is deterministic per seed") {
      def bytes(g: Gen.Iterative) =
        (g.edges, g.dupPairs, g.vectors.map(v => (v._1, v._2.toSeq)))
      val (a, b, c) = (Gen.iterative(7), Gen.iterative(7), Gen.iterative(8))
      bytes(a) == bytes(b) && a.component == b.component &&
        a.dupCluster == b.dupCluster && bytes(a) != bytes(c) &&
        Gen.pageRank(a.edges, 2) == Gen.pageRank(b.edges, 2)
    }

    test("checksum comparison rejects one changed value") {
      val want = Seq("rows" -> 3L, "sum" -> 10L)
      Workload.compare(want, Seq(3L, 10L)).isEmpty &&
        Workload.compare(want, Seq(3L, 11L)).isDefined &&
        Workload.compare(want, Seq(3L)).isDefined
    }

    test("the loop counts wrong and throwing passes as failed") {
      final class Fake(mode: Int) extends Workload {
        val name = "fake"
        def setup(s: org.apache.spark.sql.SparkSession, w: File): Unit = ()
        def describe = Nil
        def rows(kind: Int) = 10L
        def bytes(kind: Int) = 100L
        def run(kind: Int, spans: Spans): AnyRef =
          if (mode == 2) sys.error("boom") else Integer.valueOf(mode)
        def check(kind: Int, out: AnyRef) =
          if (out == Integer.valueOf(0)) None else Some("wrong")
      }
      val good = Main.loop(new Fake(0), 0.0, None)
      val wrong = Main.loop(new Fake(1), 0.0, None)
      val threw = Main.loop(new Fake(2), 0.0, None)
      good.failed == 0 && good.ok.size == good.attempted &&
        wrong.failed == wrong.attempted && wrong.ok.isEmpty &&
        wrong.rowsOk == 0 && threw.failed == threw.attempted &&
        Main.endToEnd(wrong, 1.0).exists(m => m._1 == "success_rate" && m._2 == 0.0)
    }

    val spark = Main.startSession(work, 2)
    try {
      for (name <- Workload.names) {
        val w = Workload(name, 3)
        w.setup(spark, work)
        for (kind <- 0 until w.kinds) {
          w.beforePass()
          val out = w.run(kind, NoSpans)
          test(s"$name/${w.kindName(kind)}: real output passes its check") {
            w.check(kind, out).isEmpty
          }
          test(s"$name/${w.kindName(kind)}: corrupted output is rejected") {
            w.check(kind, corrupt(out).asInstanceOf[AnyRef]).isDefined
          }
        }
        w.teardown()
      }
    } finally spark.stop()

    println(if (failures == 0) "self-test passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
