package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DistRank

/** DistRank.ntile is the repo's distributed replacement for the
  * single-task `Window.orderBy` global window (d34/d35/e15 — the
  * 100 TB scale fix of VERDICT r13). Its contract: with a UNIQUE
  * tiebreak in sortCols, the staged-offset rank plus the closed-form
  * remainder rule is bit-identical to the builtin ntile. This spec
  * pins that equality directly (the production users pin it only
  * end-to-end through their DuckDB oracles) across the hard corners:
  * heavy ties straddling range-partition boundaries, n % k remainders,
  * k > n, single rows, and adversarial INPUT partitionings. */
class DistRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(n: Int, k: Int, inputParts: Int, distinctVals: Int,
      width: Option[Int] = None): Unit = {
    import spark.implicits._
    val rnd = new java.util.Random(n * 1000 + k * 10 + inputParts)
    // few distinct values → long tie runs that MUST straddle the
    // range partitions; id is the unique tiebreak making a total order
    val rows = (0 until n).map(i => (i.toLong, rnd.nextInt(distinctVals).toLong))
    val df = rows.toDF("id", "v").repartition(inputParts)
    val got = DistRank
      .ntile(spark, TestSpark.sf, s"test_distrank_${n}_${k}_$inputParts",
        df, Seq(col("v"), col("id")), k, "b", width)
      .select("id", "b").as[(Long, Int)].collect().toMap
    val want = df
      .withColumn("b", ntile(k).over(Window.orderBy(col("v"), col("id"))))
      .select("id", "b").as[(Long, Int)].collect().toMap
    assert(got == want, s"n=$n k=$k parts=$inputParts distinct=$distinctVals")
  }

  test("distributed ntile equals builtin across sizes, bucket counts, remainders") {
    for {
      n <- Seq(1, 5, 33, 1000)
      k <- Seq(2, 7, 50)
    } check(n, k, inputParts = 4, distinctVals = 5)
  }

  test("distributed ntile is independent of input partitioning") {
    for (p <- Seq(1, 17, 64)) check(977, 4, inputParts = p, distinctVals = 3)
  }

  private def checkGrouped(n: Int, k: Int, nGroups: Int, inputParts: Int,
      distinctVals: Int, width: Option[Int] = None): Unit = {
    import spark.implicits._
    val rnd = new java.util.Random(n * 1000 + k * 100 + nGroups * 10 + inputParts)
    val rows = (0 until n).map(i =>
      (i.toLong, s"g${rnd.nextInt(nGroups)}", rnd.nextInt(distinctVals).toLong))
    val df = rows.toDF("id", "g", "v").repartition(inputParts)
    val got = DistRank
      .groupedNtile(spark, TestSpark.sf,
        s"test_gntile_${n}_${k}_${nGroups}_$inputParts",
        df, Seq("g"), Seq(col("v"), col("id")), k, "b", width)
      .select("id", "b").as[(Long, Int)].collect().toMap
    val want = df
      .withColumn("b", ntile(k).over(
        Window.partitionBy("g").orderBy(col("v"), col("id"))))
      .select("id", "b").as[(Long, Int)].collect().toMap
    assert(got == want, s"n=$n k=$k groups=$nGroups parts=$inputParts")
  }

  test("grouped ntile equals builtin partitioned ntile across group mixes") {
    // group sizes land all over the n%k remainder space; ties straddle
    // both range-partition AND group boundaries
    for {
      n <- Seq(1, 37, 1000)
      k <- Seq(2, 3, 50)
      g <- Seq(1, 4)
    } checkGrouped(n, k, nGroups = g, inputParts = 4, distinctVals = 3)
  }

  test("grouped ntile is independent of input partitioning") {
    for (p <- Seq(1, 17, 64))
      checkGrouped(977, 3, nGroups = 5, inputParts = p, distinctVals = 2)
  }

  test("ranks are independent of the staging width (cluster-shape knob)") {
    // VERDICT r17 #3: the range-exchange width is now
    // Engine.stagingWidth (defaultParallelism), not a literal 32. The
    // offset algebra must give the same total order at ANY width —
    // including width 1 (everything in one partition) and a width far
    // above the row count (most partitions empty).
    for (w <- Seq(1, 5, 61)) {
      check(997, 4, inputParts = 8, distinctVals = 3, width = Some(w))
      checkGrouped(490, 3, nGroups = 4, inputParts = 8, distinctVals = 2, width = Some(w))
    }
  }

  test("grouped ntile with descending sort matches builtin") {
    import spark.implicits._
    val rows = (0 until 500).map(i => (i.toLong, s"g${i % 3}", (i * 7 % 41).toLong))
    val df = rows.toDF("id", "g", "v")
    val got = DistRank
      .groupedNtile(spark, TestSpark.sf, "test_gntile_desc",
        df, Seq("g"), Seq(col("v").desc, col("id")), 3, "b")
      .select("id", "b").as[(Long, Int)].collect().toMap
    val want = df
      .withColumn("b", ntile(3).over(
        Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
      .select("id", "b").as[(Long, Int)].collect().toMap
    assert(got == want)
  }
}
