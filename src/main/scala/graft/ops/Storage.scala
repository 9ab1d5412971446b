package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CH, Engine}

/** Storage/DDL operator surface (SURVEY §2.K7, K10-K12).
  *
  * The reference's MergeTree table = partitioned + ordered parts
  * (PARTITION BY `toYYYYMM(event_date)`, reference `Dockerfile:228`);
  * the Spark-native equivalent is a Parquet dataset written with
  * `partitionBy(yyyymm)` directories (→ Catalyst partition pruning)
  * and `sortWithinPartitions` row ordering (→ row-group min/max
  * skipping). Mutations and OPTIMIZE are read→transform→atomic
  * overwrite jobs, not in-place edits — the scale-correct shape.
  */
object Storage {
  type Q = (SparkSession, String) => DataFrame

  /** Writer-parallelism salt for the partitioned writes (k10 / k10b /
    * k14): how many concurrent writer buckets each partition DIRECTORY
    * gets. r20 (guide §6 — size output files to 128 MB–1 GB, §2.2 —
    * derive partitioning from input size): the old fixed 4-way salt
    * quadrupled the file count at every scale (320 files for 5 MB of
    * sf0.1 orders — the write was 2× slower on pure file/commit
    * overhead) while at sf100 it CUT files to ~47 MB, under the band.
    * One bucket per 256 MB of per-directory bytes (source bytes from
    * the scan's own statistics, spread over the ~80 yyyymm directories
    * the 1992–1998 testdata spans — TESTDATA.md; a deployment sizes
    * the divisor to its real partition layout), capped at 32. Salt 1
    * until a directory would exceed 256 MB — exactly the guide's file
    * band — and hot-month writer parallelism past it. */
  private def writeSalt(df: DataFrame, key: Column, dirs: Long = 80L): Column = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val buckets = (bytes / dirs / (256L << 20)).toLong + 1L
    pmod(hash(key), lit(math.max(1L, math.min(32L, buckets)).toInt))
  }

  /** K10: partitioned + sorted DDL write, read back through partition
    * pruning (only 3 of ~80 yyyymm dirs are touched).
    *
    * The pre-shuffle key is (yyyymm, salt-of-orderkey), NOT yyyymm
    * alone: hashing by the partition key alone gives exactly one write
    * task per output directory, so a hot month serializes the whole
    * stage (the classic skewed-writer shape at 100 TB). The
    * [[writeSalt]] buckets keep rows for one month clustered into a
    * bounded number of sorted files per directory (min/max row-group
    * skipping intact) while letting multiple tasks write a hot month
    * in parallel once a directory exceeds the target file size. */
  private def k10PartitionedWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = Engine.scratch(spark, dir, "k10_parts")
    val orders = Engine.t(spark, dir, "orders")
    val toWrite = orders
      .withColumn("yyyymm", CH.toYYYYMM(col("o_orderdate")))
    toWrite
      .repartition(col("yyyymm"), writeSalt(orders, col("o_orderkey")))
      .sortWithinPartitions("yyyymm", "o_orderkey")
      .write.mode("overwrite").partitionBy("yyyymm").parquet(out)
    Engine.readBackPartitioned(spark, out, toWrite.schema, Seq("yyyymm"))
      .filter(col("yyyymm").between(199701, 199703))
      .groupBy("yyyymm")
      .agg(count(lit(1)).as("n"), sum(CH.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("yyyymm")
  }

  /** K10b: TTL expiry (SURVEY.md:332 — the reference's `TTL` clause
    * deletes rows past an age cutoff at merge time). Spark-native
    * mapping: a periodic cutoff-filter + atomic overwrite job. The TTL
    * column is the PARTITION key (as in the reference's
    * `toYYYYMM(event_date)` layout), so the filter prunes at the
    * directory level: live partitions are never read OR rewritten at
    * scale — expiry is a partition drop, not a 100 TB rewrite. The
    * fixed cutoff keeps the op deterministic (a deployment derives it
    * from now() - INTERVAL). */
  private def k10bTtlRewrite(spark: SparkSession, dir: String): DataFrame = {
    val base = Engine.scratch(spark, dir, "k10b_base")
    val live = Engine.scratch(spark, dir, "k10b_live")
    // Salted pre-shuffle for both writes, same rationale as k10: an
    // unshuffled partitionBy write has every input task touch every
    // yyyymm directory (tasks × ~80 small files), the small-files
    // shape that kills the downstream scan at 100 TB.
    val orders = Engine.t(spark, dir, "orders")
    val salt = writeSalt(orders, col("o_orderkey"))
    val toWrite = orders
      .withColumn("yyyymm", CH.toYYYYMM(col("o_orderdate")))
    toWrite
      .repartition(col("yyyymm"), salt)
      .write.mode("overwrite").partitionBy("yyyymm").parquet(base)
    val cutoff = 199601 // TTL: expire everything before 1996-01
    Engine.readBackPartitioned(spark, base, toWrite.schema, Seq("yyyymm"))
      .filter(col("yyyymm") >= cutoff) // partition-pruned: expired dirs untouched, live dirs stream through
      .write.mode("overwrite").partitionBy("yyyymm").parquet(live)
    Engine.readBackPartitioned(spark, live, toWrite.schema, Seq("yyyymm"))
      .agg(count(lit(1)).as("n_live"),
        min(col("yyyymm")).cast("int").as("oldest"),
        sum(CH.dec(col("o_totalprice"))).cast("double").as("sum_price"))
  }

  /** K11: mutations — ALTER DELETE + ALTER UPDATE as a rewrite into a
    * new table version, then read back. */
  private def k11Mutation(spark: SparkSession, dir: String): DataFrame = {
    val rewritten = Engine.t(spark, dir, "supplier")
      .filter(!(col("s_acctbal") < 0))                                    // ALTER TABLE ... DELETE WHERE s_acctbal < 0
      .withColumn("s_name",                                               // ALTER TABLE ... UPDATE s_name WHERE s_acctbal > 9000
        when(col("s_acctbal") > 9000, concat(col("s_name"), lit("*")))
          .otherwise(col("s_name")))
    Engine.stage(rewritten, dir, "k11_mutated")
      .agg(
        count(lit(1)).as("n"),
        CH.countIf(col("s_name").endsWith("*")).as("n_updated"),
        sum(CH.dec(col("s_acctbal"))).cast("double").as("sum_bal"))
  }

  /** K12: OPTIMIZE/compaction — rewrite many small files into few. */
  private def k12Compaction(spark: SparkSession, dir: String): DataFrame = {
    val src = Engine.t(spark, dir, "lineitem").filter(col("l_quantity") < 5)
    val before = Engine.stage(src.repartition(16), dir, "k12_frag")
    val after = Engine.stage(before.repartition(2), dir, "k12_compact")
    val filesBefore = before.inputFiles.length
    val filesAfter = after.inputFiles.length
    after.agg(count(lit(1)).as("n_rows"))
      .select(col("n_rows"), lit(filesBefore).as("files_before"), lit(filesAfter).as("files_after"))
  }

  /** K13 (beyond-survey scale demo): bucketed co-located join — both
    * sides written with `bucketBy` on the join key, so the sort-merge
    * join reads co-located buckets with ZERO exchanges (asserted in
    * `BucketedJoinSpec`). At 100 TB this is the shape that removes the
    * fact-fact shuffle entirely; the Spark-native analog of the
    * reference's co-sorted MergeTree parts. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val db = spark.catalog
    // gate on BOTH tables: a half-finished prior run must rebuild both
    if (!db.tableExists("b_orders") || !db.tableExists("b_customer")) {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val sfTag = new java.io.File(dir).getName
      def marker(t: String) = new org.apache.hadoop.fs.Path(s"$wh/$t/_BUCKETS_$sfTag")
      val reusable = Seq("b_orders", "b_customer").forall(t => fs.exists(marker(t)))
      if (reusable) {
        // the in-memory catalog forgets tables between sessions but the
        // bucketed files survive — re-register them as external bucketed
        // tables (CLUSTERED BY DDL over the existing LOCATION) instead
        // of rewriting; this is exactly how a production catalog would
        // mount a pre-bucketed dataset
        def register(t: String, key: String, src: String): Unit = {
          val schema = Engine.t(spark, dir, src).schema.toDDL
          spark.sql(s"""CREATE TABLE $t ($schema) USING parquet
            |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
            |LOCATION '$wh/$t'""".stripMargin)
        }
        register("b_orders", "o_custkey", "orders")
        register("b_customer", "c_custkey", "customer")
      } else {
        Seq("b_orders", "b_customer").foreach { t =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$wh/$t"), true)
        }
        Engine.t(spark, dir, "orders")
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .mode("overwrite").saveAsTable("b_orders")
        Engine.t(spark, dir, "customer")
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .mode("overwrite").saveAsTable("b_customer")
        Seq("b_orders", "b_customer").foreach(t => fs.create(marker(t)).close())
      }
    }
    spark.table("b_orders")
      .join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(CH.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** The un-aggregated bucketed join, for plan inspection. */
  def bucketedJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    bucketedJoin(spark, dir) // ensures tables exist
    spark.table("b_orders").join(spark.table("b_customer"),
      col("o_custkey") === col("c_custkey"))
  }

  /** K7: obfuscator — schema-preserving deterministic anonymization:
    * values remapped via xxhash64, null mask and per-value identity
    * (thus cardinality) preserved. Oracle checks the preserved
    * cardinalities against the original table. */
  def obfuscate(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).isNull, lit(null))
          .otherwise(lower(hex(xxhash64(col(c).cast("string"))))))
    }

  private def k7Obfuscator(spark: SparkSession, dir: String): DataFrame =
    obfuscate(Engine.t(spark, dir, "customer"), Seq("c_name", "c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        count_distinct(col("c_name")).as("n_names"),
        count_distinct(col("c_mktsegment")).as("n_segments"))

  /** K14: partition lifecycle — `ALTER TABLE … DROP PARTITION`:
    * removing a partition is a DIRECTORY delete against the
    * `partitionBy` layout, never a data rewrite — the property that
    * makes retention management O(1) in table size at 100 TB (same
    * mechanism k10b's TTL expiry rides; here it is the explicit
    * admin-op surface). Read-back proves the remaining partitions are
    * untouched. */
  private def k14DropPartition(spark: SparkSession, dir: String): DataFrame = {
    val out = Engine.scratch(spark, dir, "k14_parts")
    val orders = Engine.t(spark, dir, "orders")
    val toWrite = orders
      .withColumn("yyyymm", CH.toYYYYMM(col("o_orderdate")))
    toWrite
      .repartition(col("yyyymm"), writeSalt(orders, col("o_orderkey")))
      .write.mode("overwrite").partitionBy("yyyymm").parquet(out)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq(199701, 199702).foreach { m =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$out/yyyymm=$m"), true)
    }
    Engine.readBackPartitioned(spark, out, toWrite.schema, Seq("yyyymm"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        CH.countIf(col("yyyymm").between(199701, 199702)).as("n_dropped_range"),
        sum(CH.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** K15: `EXCHANGE TABLES` — atomic publish: rebuild into a staging
    * path, swap it into the live location with two directory renames
    * (rename is the atomic primitive on HDFS-like stores), keep the
    * old version for instant rollback. Readers see strictly old-or-new
    * data, never a half-written table — the only sane way to republish
    * a 100 TB derived table. */
  private def k15AtomicSwap(spark: SparkSession, dir: String): DataFrame = {
    val live = Engine.scratch(spark, dir, "k15_live")
    val staging = Engine.scratch(spark, dir, "k15_staging")
    val retired = Engine.scratch(spark, dir, "k15_retired")
    val o = Engine.t(spark, dir, "orders")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // v1 live: stale subset (pretend it predates this month's orders)
    o.filter(col("o_orderstatus") === "F").write.mode("overwrite").parquet(live)
    // v2 staged: full recompute, never touching the live path
    o.write.mode("overwrite").parquet(staging)
    // atomic swap: live → retired, staging → live. HDFS-like stores report
    // rename failure via `false`, not an exception — check it, or a failed
    // swap silently serves stale/missing data (ADVICE r7).
    fs.delete(p(retired), true)
    require(fs.rename(p(live), p(retired)), s"rename failed: $live -> $retired")
    require(fs.rename(p(staging), p(live)), s"rename failed: $staging -> $live")
    val now = Engine.readBack(spark, live, o.schema)
      .agg(count(lit(1)).as("n"), count_distinct(col("o_orderstatus")).as("n_status"))
      .withColumn("table_version", lit("live_v2"))
    val rollback = Engine.readBack(spark, retired, o.schema)
      .agg(count(lit(1)).as("n"), count_distinct(col("o_orderstatus")).as("n_status"))
      .withColumn("table_version", lit("retired_v1"))
    now.unionAll(rollback).select("table_version", "n", "n_status")
      .orderBy("table_version")
  }

  /** K16: stored-checksum integrity validation — the `check-marks` /
    * `checksum-for-compressed-block` tool surface (reference
    * `Dockerfile:154-176`): after a write, a MANIFEST of per-file
    * (row count, order-free content checksum) is persisted beside the
    * data; a later validation pass recomputes both from the files and
    * diffs against the manifest. Order-free checksum = per-row xxhash64
    * XOR-folded (`bit_xor`: commutative, overflow-free under ANSI), so
    * re-reads with different task orders still match; `_metadata.file_name` attributes rows to files without a
    * second listing. At 100 TB both passes are scan-bound and
    * embarrassingly parallel. */
  private def k16IntegrityCheck(spark: SparkSession, dir: String): DataFrame = {
    val data = Engine.stage(Engine.t(spark, dir, "customer").repartition(4), dir, "k16_data")
    val fileSummary = data
      .select(col("_metadata.file_name").as("f"),
        xxhash64(col("c_custkey"), col("c_name"), col("c_acctbal")).as("h"))
      .groupBy("f")
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("h")).as("content_sum"))
    val manifest = Engine.stage(fileSummary, dir, "k16_manifest")
      .select(col("f"), col("n_rows").as("m_rows"), col("content_sum").as("m_sum"))
    fileSummary.join(manifest, Seq("f"), "full")
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("total_rows"),
        (CH.countIf(col("n_rows") === col("m_rows") && col("content_sum") === col("m_sum")) ===
          count(lit(1))).as("all_match"))
  }

  /** K17: PROJECTIONs — CH tables can carry alternate sort-order
    * materializations; the optimizer routes each query to the copy
    * whose order matches its predicate. Spark-native: two parquet
    * materializations (sorted by date vs by custkey) + route-by-
    * predicate; the matching sort order turns the filter into
    * row-group min/max skipping on exactly the filtered column —
    * at 100 TB the projection pays for itself on the first scan.
    * Both routes are exercised and their results cross-checked
    * against the base table via the oracle. */
  private def k17ProjectionRoute(spark: SparkSession, dir: String): DataFrame = {
    val o = Engine.t(spark, dir, "orders")
    val byDate = Engine.stage(o.repartition(4).sortWithinPartitions("o_orderdate"), dir, "k17_by_date")
    val byCust = Engine.stage(o.repartition(4).sortWithinPartitions("o_custkey"), dir, "k17_by_cust")
    def route(filterCol: String): DataFrame =
      if (filterCol == "o_orderdate") byDate else byCust
    val dateSlice = route("o_orderdate")
      .filter(col("o_orderdate").between(lit("1997-01-01").cast("date"), lit("1997-03-31").cast("date")))
      .agg(count(lit(1)).as("n"), sum(CH.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .withColumn("route", lit("by_date"))
    val custSlice = route("o_custkey")
      .filter(col("o_custkey") <= 100)
      .agg(count(lit(1)).as("n"), sum(CH.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .withColumn("route", lit("by_custkey"))
    dateSlice.unionAll(custSlice).select("route", "n", "sum_price").orderBy("route")
  }

  /** K18: row policies — the reference's access-control surface
    * (readonly profile + per-user quotas, `Dockerfile:242-276`) maps
    * to policy VIEWS: the base table is never exposed, the catalog
    * entry carries the row filter, and every query through it is
    * automatically constrained — enforcement at plan time, zero
    * runtime cost beyond the filter itself. */
  private def k18RowPolicy(spark: SparkSession, dir: String): DataFrame = {
    Engine.t(spark, dir, "customer").createOrReplaceTempView("k18_customer_base")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW customer_analyst AS
        |SELECT * FROM k18_customer_base WHERE c_mktsegment = 'BUILDING'""".stripMargin)
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM customer_analyst GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** K19: data-skipping indexes — the reference's secondary skip
    * indexes map to Parquet-native structures, not a bolt-on: sorting
    * within partitions by the probe key gives tight row-group min/max
    * (the `minmax` index — the reader prunes whole row groups whose
    * range misses the predicate), and
    * `parquet.bloom.filter.enabled#col` writes a per-column bloom the
    * reader consults for point predicates (`bloom_filter` index). The
    * op writes orders sorted by custkey with a bloom on it, reads a
    * point lookup back through both structures, and the oracle checks
    * the answer; the predicate reaching the scan is what makes the
    * skipping real (`PushedFilters`, same machinery q1 pins). Small
    * row groups here so the test file has >1 pruning unit; a
    * deployment leaves the default 128 MB. */
  private def k19SkipIndex(spark: SparkSession, dir: String): DataFrame = {
    val out = Engine.scratch(spark, dir, "k19_skip")
    val orders = Engine.t(spark, dir, "orders")
    orders
      .repartition(4, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(out)
    Engine.readBack(spark, out, orders.schema)
      .filter(col("o_custkey").isin(101, 371))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(CH.dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_custkey")
  }

  /** Spread the low 16 bits of `x` onto the even bit positions of a
    * 32-bit word (classic magic-mask shifts) — one half of a Morton
    * interleave. Pure long bit math, stays in whole-stage codegen. */
  private def spread16(x: Column): Column = {
    val a = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton (z-order) value of two dimensions, each range-normalized
    * to 16 bits. The products stay < 2^53, so the double division is
    * exact before the truncating cast. */
  def zValue(x: Column, xlo: Column, xhi: Column,
             y: Column, ylo: Column, yhi: Column): Column = {
    def norm16(v: Column, lo: Column, hi: Column): Column =
      ((v - lo) * lit(65535L) / greatest(hi - lo, lit(1L))).cast("long")
    spread16(norm16(x, xlo, xhi))
      .bitwiseOR(shiftleft(spread16(norm16(y, ylo, yhi)), 1))
  }

  /** Write the events table as a z-ordered (Morton-clustered) copy on
    * (user_id, ts) and return its path. Exposed for `ZOrderSpec`,
    * which quantifies the per-file skipping. */
  /** Rewrite `ev` into a z-ordered cluster-width file layout (≥16
    * files so the skipping bound `ZOrderSpec` quantifies always has
    * granularity to work with) at `out` — shared by
    * the fresh k20 write and the compact-after-churn path: K12
    * compaction over a clustered table re-runs THIS rewrite, restoring
    * locality that append churn destroyed (`ZOrderSpec` proves the
    * round trip). */
  def zorderWrite(spark: SparkSession, ev: DataFrame, out: String): String =
    zorderWriteWithSchema(spark, ev, out)._1

  /** [[zorderWrite]] plus the written frame's schema, so read-backs can
    * skip footer inference (r21, `Engine.readBack` discipline). */
  def zorderWriteWithSchema(spark: SparkSession, ev: DataFrame, out: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    val stats = ev.agg(
      min("user_id").as("ulo"), max("user_id").as("uhi"),
      min(col("ts").cast("long")).as("tlo"), max(col("ts").cast("long")).as("thi"))
    val toWrite = ev.crossJoin(broadcast(stats)) // 1-row scalar attach (b-family precedent)
      .withColumn("z", zValue(col("user_id"), col("ulo"), col("uhi"),
        col("ts").cast("long"), col("tlo"), col("thi")))
      .drop("ulo", "uhi", "tlo", "thi")
    toWrite
      .repartitionByRange(math.max(16, Engine.stagingWidth(spark)), col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite").parquet(out)
    (out, toWrite.schema)
  }

  def k20Layout(spark: SparkSession, dir: String): String =
    zorderWrite(spark, Engine.t(spark, dir, "events"),
      Engine.scratch(spark, dir, "k20_zorder"))

  /** K20: multi-dimensional clustering — Morton (z-order) layout.
    *
    * The reference's compound primary key (MergeTree `ORDER BY (a, b)`,
    * the sparse index behind reference `Dockerfile:228`'s table DDL)
    * prunes well on `a` but degrades to a full scan for predicates on
    * `b` alone — lexicographic order preserves locality only in the
    * leading column. The z-curve interleaves the bit patterns of both
    * range-normalized dimensions, so files/row groups sorted by the
    * z-value stay range-bounded in BOTH dimensions at once: a band
    * predicate on either `user_id` OR `ts` overlaps a bounded fraction
    * of the sorted units instead of all of them. At 100 TB this is the
    * difference between an event-range query and a user-history query
    * each skipping ~¾ of the files versus one of them scanning
    * everything. Layout = pure codegen bit math + `repartitionByRange`
    * on z + sorted write — no custom writer; the skipping itself is
    * Parquet's ordinary min/max row-group pruning (k19's machinery).
    * The declared query answers one band predicate per dimension from
    * the z-ordered copy; the oracle runs the same bands on the raw
    * table. `ZOrderSpec` asserts the quantified overlap bounds vs a
    * single-dim sort. */
  private def k20ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val (zPath, zSchema) = zorderWriteWithSchema(spark,
      Engine.t(spark, dir, "events"), Engine.scratch(spark, dir, "k20_zorder"))
    val z = Engine.readBack(spark, zPath, zSchema)
    val tsBand = z
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
      .select(lit("ts_band").as("probe"), col("n"), col("id_sum"))
    val userBand = z.filter(col("user_id").between(40, 59))
      .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
      .select(lit("user_band").as("probe"), col("n"), col("id_sum"))
    tsBand.unionByName(userBand).orderBy("probe")
  }

  /** K21: CollapsingMergeTree semantics — the reference's sign-column
    * table engine: each state change is an INSERT with `sign = +1` and
    * cancellations re-insert the old row with `sign = −1`; background
    * merges cancel (+1, −1) pairs per key, leaving each key's latest
    * surviving state. The Spark-native collapse is ONE hash aggregate
    * on the key — `sum(sign)` decides survival, `max_by(field,
    * version IF sign=+1)` elects the latest insert's fields (the
    * VersionedCollapsing variant; nulls from cancel rows are ignored
    * by max_by, matching DuckDB arg_max) — with map-side partial
    * merge, so the exchange carries one (key, net, latest) buffer per
    * key per task. The ledger here stages every order as an insert and
    * every 'F' order as a later cancel, so the collapsed state is the
    * open orders — computed through the ledger algebra, which is what
    * the oracle replays. */
  private def k21CollapsingMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Engine.t(spark, dir, "orders")
    def row(sign: Int, version: Int)(df: DataFrame): DataFrame =
      df.select(col("o_orderkey"), col("o_orderstatus"),
        CH.dec(col("o_totalprice")).as("price"),
        lit(sign).as("sign"), lit(version).as("version"))
    val ledger = row(1, 1)(o)
      .unionByName(row(-1, 2)(o.filter(col("o_orderstatus") === "F")))
    val live = when(col("sign") === 1, col("version"))
    ledger.groupBy("o_orderkey")
      .agg(sum("sign").as("net"),
        max_by(col("o_orderstatus"), live).as("status"),
        max_by(col("price"), live).as("price"))
      .filter(col("net") > 0)
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .orderBy("status")
  }

  /** K22: SummingMergeTree — the reference engine that replaces, at
    * merge time, all rows sharing the sort key with ONE row holding
    * the sums of the numeric columns. The part lifecycle is staged
    * honestly: 4 ingest chunks each write a part whose rows are
    * already key-summed (the part-local background merge), then the
    * declared read is the cross-part final merge — a hash aggregate
    * on the sort key with map-side partials, so every exchange
    * carries per-key sum buffers, never raw rows. Because sum is
    * associative and commutative, NO part split, arrival order, or
    * merge schedule can change the answer — which is exactly what the
    * flat group-by oracle checks. At 100 TB the read-side merge cost
    * scales with distinct keys, not ingested rows. */
  private def k22SummingMerge(spark: SparkSession, dir: String): DataFrame = {
    val partsDir = Engine.scratch(spark, dir, "k22_parts")
    val l = Engine.t(spark, dir, "lineitem")
    // all 4 ingest chunks land in ONE partitionBy job — each part-N
    // directory is a part-local key-summed file, identical layout to 4
    // sequential writes at a quarter of the job-launch cost
    val parts = l.withColumn("part", pmod(col("l_orderkey"), lit(4)))
      .groupBy("part", "l_partkey")
      .agg(sum(CH.dec(col("l_quantity"))).as("s_qty"),
        sum(CH.dec(col("l_extendedprice"))).as("s_price"),
        count(lit(1)).as("s_rows"))
    parts.write.mode("overwrite").partitionBy("part").parquet(partsDir)
    val merged = Engine.readBackPartitioned(spark, partsDir, parts.schema, Seq("part"))
      .drop("part")
      .groupBy("l_partkey")
      .agg(sum("s_qty").as("qty"), sum("s_price").as("price"),
        sum("s_rows").as("nrows"))
    merged
      .groupBy(pmod(col("l_partkey"), lit(8)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("qty")).cast("double").as("sum_qty"),
        sum(col("price")).cast("double").as("sum_price"),
        sum(col("nrows")).as("n_source_rows"))
      .orderBy("bucket")
  }

  /** K23 (r17): `INTO OUTFILE … FORMAT …` — clickhouse-local's export
    * mode as CH SQL *text* ([[graft.ChSql.exec]]): the query streams
    * through the SAME FORMAT renderer the HTTP endpoint uses into a
    * local CSV, then the exported file is read BACK through Spark's
    * CSV reader and hash-certified against DuckDB — a full
    * write-format/read-format round trip through a second route. */
  private def k23IntoOutfile(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    // unique per invocation: INTO OUTFILE refuses to overwrite (CH
    // semantics), and the bench runs every query twice in one JVM —
    // a fixed name would fail the second pass on its own first export
    val path = Engine.scratch(spark, dir, "k23_outfile") +
      s"/orders_prio_${System.nanoTime}.csv"
    val summary = graft.ChSql.exec(spark,
      s"""SELECT o_orderpriority, count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
         |INTO OUTFILE '$path'
         |FORMAT CSVWithNames""".stripMargin)
    require(summary.collect().head.getLong(2) == 5L, "expected 5 exported rows")
    spark.read.option("header", "true").csv(path)
      .select(col("o_orderpriority"), col("n").cast("long").as("n"),
        col("sum_price").cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, Q] = Map(
    "k23_into_outfile" -> (k23IntoOutfile _),
    "k22_summing_merge" -> (k22SummingMerge _),
    "k21_collapsing_merge" -> (k21CollapsingMerge _),
    "k20_zorder_layout" -> (k20ZorderLayout _),
    "k19_skip_index" -> (k19SkipIndex _),
    "k17_projection_route" -> (k17ProjectionRoute _),
    "k18_row_policy" -> (k18RowPolicy _),
    "k16_integrity_check" -> (k16IntegrityCheck _),
    "k15_atomic_swap" -> (k15AtomicSwap _),
    "k14_drop_partition" -> (k14DropPartition _),
    "k13_bucketed_join" -> (bucketedJoin _),
    "k10_partitioned_write" -> (k10PartitionedWrite _),
    "k10b_ttl_rewrite" -> (k10bTtlRewrite _),
    "k11_mutation" -> (k11Mutation _),
    "k12_compaction" -> (k12Compaction _),
    "k7_obfuscator" -> (k7Obfuscator _))

  val oracles: Map[String, String] = Map(
    "k23_into_outfile" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // k22 is fully deterministic: decimal sums are exact and
    // associative, so the staged part-local sums re-summed across
    // parts equal a flat two-level GROUP BY — DuckDB replays it
    // without modeling the part lifecycle at all (that invariance is
    // the SummingMergeTree contract this row proves).
    "k22_summing_merge" ->
      """WITH merged AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price,
        |    count(*) AS nrows
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(l_partkey % 8 AS BIGINT) AS bucket,
        |  count(*) AS n_keys,
        |  CAST(CAST(sum(qty) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(price) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  CAST(sum(nrows) AS BIGINT) AS n_source_rows
        |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin,
    "k21_collapsing_merge" ->
      """WITH ledger AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price,
        |    1 AS sign, 1 AS version FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)), -1, 2
        |  FROM orders WHERE o_orderstatus = 'F'),
        |coll AS (
        |  SELECT o_orderkey, sum(sign) AS net,
        |    arg_max(o_orderstatus, CASE WHEN sign = 1 THEN version END) AS status,
        |    arg_max(price, CASE WHEN sign = 1 THEN version END) AS price
        |  FROM ledger GROUP BY 1)
        |SELECT status, count(*) AS n,
        |  CAST(CAST(sum(price) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM coll WHERE net > 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    "k20_zorder_layout" ->
      """SELECT * FROM (
        |  SELECT 'ts_band' AS probe, count(*) AS n,
        |    CAST(sum(event_id) AS BIGINT) AS id_sum
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |  UNION ALL
        |  SELECT 'user_band' AS probe, count(*) AS n,
        |    CAST(sum(event_id) AS BIGINT) AS id_sum
        |  FROM events WHERE user_id BETWEEN 40 AND 59)
        |ORDER BY probe""".stripMargin,
    "k19_skip_index" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_custkey IN (101, 371)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "k17_projection_route" ->
      """SELECT 'by_custkey' AS route, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_custkey <= 100
        |UNION ALL
        |SELECT 'by_date' AS route, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-03-31'
        |ORDER BY route""".stripMargin,
    "k18_row_policy" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // n_files is the deterministic repartition(4) file count (k12
    // precedent); total_rows and the all_match verdict carry the data.
    "k16_integrity_check" ->
      """SELECT CAST(4 AS BIGINT) AS n_files, count(*) AS total_rows,
        |  true AS all_match FROM customer""".stripMargin,
    "k15_atomic_swap" ->
      """SELECT 'live_v2' AS table_version, count(*) AS n,
        |  count(DISTINCT o_orderstatus) AS n_status FROM orders
        |UNION ALL
        |SELECT 'retired_v1' AS table_version, count(*) AS n,
        |  count(DISTINCT o_orderstatus) AS n_status FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY table_version""".stripMargin,
    "k14_drop_partition" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(0 AS BIGINT) AS n_dropped_range,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE (year(o_orderdate) * 100 + month(o_orderdate)) NOT IN (199701, 199702)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // k12's outputs are deterministic (round-robin repartition(16) and
    // repartition(2) write exactly that many non-empty files; row count
    // is the filter's), so the oracle is a real equality check.
    "k12_compaction" ->
      """SELECT count(*) AS n_rows, 16 AS files_before, 2 AS files_after
        |FROM lineitem WHERE l_quantity < 5""".stripMargin,
    "k13_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "k10_partitioned_write" ->
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) * 100 + month(o_orderdate) BETWEEN 199701 AND 199703
        |GROUP BY 1 ORDER BY yyyymm""".stripMargin,
    "k10b_ttl_rewrite" ->
      """SELECT count(*) AS n_live,
        |  CAST(min(year(o_orderdate) * 100 + month(o_orderdate)) AS INT) AS oldest,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) * 100 + month(o_orderdate) >= 199601""".stripMargin,
    "k11_mutation" ->
      """SELECT count(*) AS n,
        |  count(*) FILTER (WHERE s_acctbal > 9000) AS n_updated,
        |  CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM supplier WHERE NOT (s_acctbal < 0)""".stripMargin,
    "k7_obfuscator" ->
      """SELECT count(*) AS n,
        |  count(DISTINCT c_name) AS n_names,
        |  count(DISTINCT c_mktsegment) AS n_segments
        |FROM customer""".stripMargin)
}
