package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    // 8 executor threads (was 4): the differential sweeps now submit
    // up to 12 concurrent seed-jobs (DifferentialSpec.inPool), and 4
    // threads capped throughput below the driver-side concurrency.
    // Shuffle partitions stay 4 — tiny sf0.001 data, plan shapes and
    // staging-width algebra are partition-count-independent (pinned by
    // DistRankSpec's width-override test).
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft_io/warehouse_test")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.sparkConf.toMap) // as Engine.session
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
