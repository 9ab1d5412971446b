package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine

/** Distributed exact ranking (i4b, e15 and l46 rank through it; d34–d36's
  * cumulative sums share its range prologue): a bare
  * global window (`Window.orderBy` with no partition) moves its WHOLE
  * input through one task, which is fine for a bounded rollup and a
  * 100 TB killer for anything that grows with the data. Equivalent
  * distributed form:
  *
  *   repartitionByRange(sortCols) → sortWithinPartitions → stage to
  *   scratch parquet (range-boundary sampling is not deterministic
  *   across jobs; staging pins ONE partition assignment for every
  *   downstream pass) → per-partition row counts (≤ one row per
  *   partition — KB driver state) → broadcast exclusive offsets →
  *   global rank = partition offset + per-partition row_number.
  *
  * With a unique tiebreak in `sortCols` the rank is a total order, so
  * every rank-derived quantity (ntile buckets here) is bit-identical
  * to the single-task builtin — DuckDB's flat window is the oracle
  * that pins the decomposition. */
object DistRank {

  /** The staged range prologue every rank ladder starts from
    * ([[groupedNtile]], `Aggregates.stagedCumOffsets`):
    * range-partition on `rangeCols` over `width` partitions (default
    * [[Engine.stagingWidth]]), sort within each, tag rows with `__pid`,
    * and stage.
    * The range boundaries come from sampling, which is not
    * deterministic across jobs, so the stage pins ONE partition
    * assignment for the per-partition collect and every later pass. */
  private[ops] def rangeStaged(spark: SparkSession, dir: String, name: String,
      df: DataFrame, rangeCols: Seq[Column], width: Option[Int] = None): DataFrame =
    Engine.stage(df.repartitionByRange(width.getOrElse(Engine.stagingWidth(spark)), rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .withColumn("__pid", spark_partition_id()), dir, name)

  /** Exact `ntile(k)` over the global `sortCols` order, appended as
    * integer column `out`: [[groupedNtile]] with no group. */
  def ntile(spark: SparkSession, dir: String, name: String,
      df: DataFrame, sortCols: Seq[Column], k: Int, out: String,
      width: Option[Int] = None): DataFrame =
    groupedNtile(spark, dir, name, df, Nil, sortCols, k, out, width)

  /** Exact `ntile(k) OVER (PARTITION BY groupCols ORDER BY sortCols)`
    * without per-group window partitions. A builtin partitioned window
    * puts each GROUP on one task — fine for high-cardinality groups,
    * a skew cliff when one group dominates (one language owning 60%
    * of a 100 TB corpus is a single-task sort). The range exchange
    * spreads each group across MANY partitions: range-partition by
    * (groupCols, sortCols) and stage ([[rangeStaged]]),
    * collect per-(group, partition) counts — driver state is
    * n_groups × stagingWidth rows, bounded when the group domain is (languages
    * here; the caller's contract) — then per-group exclusive offsets
    * broadcast back and ntile's remainder rule applied in closed form
    * from the per-group total, all in exact `div`/`%` arithmetic.
    * Group keys must be non-null (they ride an equi-join). */
  def groupedNtile(spark: SparkSession, dir: String, name: String,
      df: DataFrame, groupCols: Seq[String], sortCols: Seq[Column], k: Int,
      out: String, width: Option[Int] = None): DataFrame = {
    val keys = groupCols :+ "__pid"
    val staged = rangeStaged(spark, dir, name, df, groupCols.map(col) ++ sortCols, width)
    val cntRows = staged.groupBy(keys.map(col): _*).count().collect()
    val offRows = cntRows
      .groupBy(r => groupCols.map(c => r.get(r.fieldIndex(c))))
      .toSeq.flatMap { case (gkey, rows) =>
        val sorted = rows.sortBy(r => r.getInt(r.fieldIndex("__pid")))
        val total = sorted.map(r => r.getLong(r.fieldIndex("count"))).sum
        sorted.scanLeft(0L)(_ + _.getLong(sorted.head.fieldIndex("count")))
          .zip(sorted).map { case (off, r) =>
            // Seq[Any] annotation: a bare Seq(Int, Long, Long) would
            // numeric-widen the pid to Long and break the INT field
            org.apache.spark.sql.Row.fromSeq(
              gkey ++ Seq[Any](r.getInt(r.fieldIndex("__pid")), off, total))
          }
      }
    val schema = org.apache.spark.sql.types.StructType(
      groupCols.map(c => staged.schema(c)) ++ Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__n",
          org.apache.spark.sql.types.LongType, nullable = false)))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), schema)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(sortCols: _*)
    staged.join(broadcast(offDf), keys)
      .withColumn("__rk", col("__off") + row_number().over(wp))
      .withColumn(out, expr(
        s"""CAST(CASE
           |  WHEN __n div $k = 0 THEN __rk
           |  WHEN __rk <= (__n % $k) * (__n div $k + 1)
           |    THEN (__rk - 1) div (__n div $k + 1) + 1
           |  ELSE (__n % $k) + (__rk - (__n % $k) * (__n div $k + 1) - 1) div (__n div $k) + 1
           |END AS INT)""".stripMargin))
      .drop("__pid", "__off", "__n", "__rk")
  }
}
