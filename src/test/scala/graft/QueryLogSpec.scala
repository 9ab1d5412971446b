package graft

import org.scalatest.funsuite.AnyFunSuite

/** The a12/a12b query-log rows: each run logs through a listener of its
  * own, so a second session logs as the first did. */
class QueryLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a12 and a12b answer all-true invariants on a new session after running on the first") {
    for (s <- Seq(spark, spark.newSession()); q <- Seq("a12_query_log", "a12b_quota_rollup")) {
      val row = ops.SystemTables.queries(q)(s, TestSpark.sf).collect().toSeq
      assert(row.size == 1, s"$q: $row")
      assert(row.head.toSeq.forall(v => v == true || v == "default"), s"$q on $s: ${row.head}")
    }
  }
}
