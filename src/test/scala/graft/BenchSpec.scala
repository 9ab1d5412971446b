package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s arithmetic and record format, without a Spark session. */
class BenchSpec extends AnyFunSuite {
  import Bench.{Stats, priorMedians, stats, summarize}

  // Three repetitions of two queries, the first one cold (times of d36 and
  // j2 at sf0.1), in the order Bench runs them: LPT, reverse, LPT.
  private val runs = Seq(
    Seq("d36" -> 15.3, "j2" -> 5.2),
    Seq("j2" -> 1.3, "d36" -> 8.6),
    Seq("d36" -> 6.4, "j2" -> 1.5))

  test("median, min and max of three repetitions with a cold first one") {
    assert(stats(Seq(15.3, 8.6, 6.4)) == Stats(8.6, 6.4, 15.3))
    assert(stats(Seq(5.2, 1.3, 1.5)) == Stats(1.5, 1.3, 5.2))
    assert(stats(Seq(3.0, 1.0)) == Stats(2.0, 1.0, 3.0))
    val r = summarize(runs, Set.empty)
    assert(r.stats == Seq("d36" -> Stats(8.6, 6.4, 15.3), "j2" -> Stats(1.5, 1.3, 5.2)))
    assert(r.total == 10.1)
    assert(r.failed.isEmpty)
  }

  test("a query that fails in one repetition leaves queries and value and is named in failed") {
    val r = summarize(runs, Set("j2"))
    assert(r.stats.map(_._1) == Seq("d36"))
    assert(r.total == 8.6)
    assert(r.failed == Seq("j2"))
    assert(r.record("sf") ==
      """{"metric":"total","value":8.6,"unit":"sec","reps":3,"queries":{"d36":8.6},""" +
        """"min":{"d36":6.4},"max":{"d36":15.3},"failed":["j2"],"sf":"sf"}""")
    assert(r.headline("sf", 2) ==
      """{"metric":"total","value":8.6,"unit":"sec","queries":{},"n_queries":2,"failed":["j2"],"sf":"sf"}""")
  }

  test("prior medians come only from the record's queries object") {
    val record = summarize(runs, Set.empty).record("/data/sf0.1")
    assert(priorMedians(record) == Map("d36" -> 8.6, "j2" -> 1.5))
    // the committed record format before medians: spaced, with fingerprints after
    assert(priorMedians("""{"metric":"total","value":3.5,"fpv":6,"queries": {"a1": 1.25, "b2": 2.25},""" +
      """"fps":{"a1":"h0123456789abcdef"},"failed":[]}""") == Map("a1" -> 1.25, "b2" -> 2.25))
    assert(priorMedians("""{"metric":"total"}""").isEmpty)
  }
}
