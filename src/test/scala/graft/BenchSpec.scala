package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.slowerThanCommitted]] — a run displaces the committed record
  * unless it is >10% slower on the shared gates, and it is only ever
  * judged against a record taken at the same `cpus` and `sf`. */
class BenchSpec extends AnyFunSuite {

  private val committed =
    """{"queries":{"a":1.0,"b":2.0},"cpus":"4","sf":"/data/sf0.1"}"""
  private val slower = Seq("a" -> 2.0, "b" -> 3.0, "added" -> 9.0)

  test("slowerThanCommitted: sum over shared gates, 10% tolerance") {
    assert(Bench.slowerThanCommitted(committed, slower, "4", "/data/sf0.1"))
    assert(!Bench.slowerThanCommitted(committed,
      Seq("a" -> 1.1, "b" -> 2.1), "4", "/data/sf0.1"))
    assert(!Bench.slowerThanCommitted("not json", slower, "4",
      "/data/sf0.1"))
  }

  test("slowerThanCommitted: a record at another cpus or sf never " +
      "counts as faster") {
    assert(!Bench.slowerThanCommitted(committed, slower, "32", "/data/sf0.1"))
    assert(!Bench.slowerThanCommitted(committed, slower, "4", "/data/sf1"))
  }
}
