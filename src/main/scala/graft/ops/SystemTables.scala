package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{CH, Engine}

/** Observability surface (SURVEY §2.A11/A12/I5):
  * - `system.build_options` — the reference's only literal query
  *   (`SELECT * FROM system.build_options`, `Dockefile-ubuntu:52`)
  *   as a constant DataFrame of engine facts.
  * - `system.query_log` — the reference configures it as a MergeTree
  *   table partitioned by `toYYYYMM(event_date)` with periodic flush
  *   (`Dockerfile:225-230`); here a QueryExecutionListener feeds a
  *   Parquet table written `partitionBy(yyyymm)`.
  * - EXPLAIN — plan text through the SQL front door.
  */
/** Listener state: one record per completed query execution. Top-level
  * (not nested in the object) so the case-class Encoder's generated
  * UnsafeProjection compiles instead of falling back to interpretation. */
case class LogEntry(query: String, status: String, duration_ms: Long, out_rows: Long)

object SystemTables {
  type Q = (SparkSession, String) => DataFrame

  /** A11: build_options constant table. */
  private def a11BuildOptions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq(
      ("engine.name", "graft"),
      ("engine.version", "0.1.0"),
      ("reference", "DanielCasali/clickhouseocp (ClickHouse 25.7)"),
      ("session.timeZone", spark.conf.get("spark.sql.session.timeZone")),
      ("spark.version", spark.version))
      .toDF("name", "value")
      .orderBy("name")
  }

  private class Listener(buffer: ConcurrentLinkedQueue[LogEntry]) extends QueryExecutionListener {
    /** `result_rows` for the ledger: the root operator (AQE wrapper,
      * Project, …) often carries no `numOutputRows` metric — take the
      * root-most node that does (pre-order), -1 when none ran. */
    private def outRows(qe: QueryExecution): Long = {
      val plan = qe.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collectFirst {
        case n if n.metrics.contains("numOutputRows") =>
          n.metrics("numOutputRows").value
      }.getOrElse(-1L)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      buffer.add(LogEntry(funcName, "OK", durationNs / 1000000, outRows(qe)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      buffer.add(LogEntry(funcName, "FAIL", -1, -1))
  }

  /** Run `probe` under a listener of this call's own and return what it
    * logged once `n` entries have landed (delivery is async; waits at
    * most 5 s). The listener is unregistered on return, so every
    * session gets its own and no later query feeds it. */
  private def logged(spark: SparkSession, n: Int)(probe: => Unit): Seq[LogEntry] = {
    val buffer = new ConcurrentLinkedQueue[LogEntry]()
    val listener = new Listener(buffer)
    spark.listenerManager.register(listener)
    try {
      probe
      val deadline = System.nanoTime() + 5000000000L
      while (buffer.size < n && System.nanoTime() < deadline) Thread.sleep(50)
      buffer.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** A12: run a probe query under the listener, flush the log to a
    * Parquet table partitioned by yyyymm (the reference's partition
    * expression), read it back. Declared without oracle (timings are
    * nondeterministic); emits stable summary columns. */
  private def a12QueryLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // a probe query the listener will observe
    val entries = logged(spark, 1)(Engine.t(spark, dir, "nation").groupBy("n_regionkey").count().collect())
    // Namespaced per sf-dir + session so concurrent runs don't collide,
    // and overwritten rather than appended so the log can't grow
    // unboundedly across runs (ADVICE r2).
    val out = Engine.scratch(spark, dir, "a12_query_log")
    // Always write — an empty typed frame when the async listener
    // delivered nothing within the poll window — so the read-back
    // below never hits a never-written path (ADVICE r3); the empty
    // case then fails the oracle's has_entries invariant loudly
    // instead of throwing AnalysisException.
    val logDf = if (entries.nonEmpty) entries.toDF() else spark.emptyDataset[LogEntry].toDF()
    val toWrite = logDf
      .withColumn("event_date", current_date())
      .withColumn("yyyymm", CH.toYYYYMM(col("event_date")))
    toWrite.write.mode("overwrite").partitionBy("yyyymm").parquet(out)
    Engine.readBackPartitioned(spark, out, toWrite.schema, Seq("yyyymm"))
      .agg(
        count(lit(1)).as("n_logged"),
        CH.countIf(col("status") === "OK").as("n_ok"),
        count_distinct(col("yyyymm")).as("n_partitions"))
      .select((col("n_logged") > 0).as("has_entries"),
        (col("n_ok") > 0).as("has_ok"),
        (col("n_partitions") >= 1).as("partitioned"))
  }

  /** A12b: quota counters over the query log — the reference ships a
    * quotas config keyed by user and interval (queries / errors /
    * result_rows counters; `Dockerfile:264-275`), and its counter
    * source is the same query ledger a12 materializes. Here: run a
    * known probe workload under the listener, bill it to the session's
    * principal, and roll the log up into the quota counter row; the
    * declared output is the invariant form (a12's precedent — raw
    * timings are nondeterministic, the counter *predicates* are not).
    * `within_quota` is the enforcement predicate a gateway would
    * check before admitting the next query. */
  private def a12bQuotaRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // only this probe workload bills to the quota window
    val entries = logged(spark, 3) {
      Engine.t(spark, dir, "nation").groupBy("n_regionkey").count().collect()
      Engine.t(spark, dir, "region").select("r_name").collect()
      Engine.t(spark, dir, "nation").select("n_name").limit(3).collect()
    }
    val logDf = if (entries.nonEmpty) entries.toDF() else spark.emptyDataset[LogEntry].toDF()
    logDf
      .withColumn("quota_user", lit("default"))
      .groupBy("quota_user")
      .agg(
        count(lit(1)).as("n_queries"),
        CH.countIf(col("status") =!= "OK").as("n_errors"),
        sum(greatest(col("out_rows"), lit(0L))).as("result_rows"))
      .select(col("quota_user"),
        (col("n_queries") >= 3).as("quota_counted"),
        (col("n_errors") === 0).as("no_errors"),
        (col("result_rows") > 0).as("has_result_rows"),
        (col("n_queries") <= 1000).as("within_quota"))
  }

  /** A13: the SQL endpoint — `spark.sql(text)` is this engine's port
    * 8123/9000 (SURVEY §3.1): text queries resolve against the same
    * temp-view catalog (`Engine.registerAll`) the DataFrame API reads,
    * through the identical Catalyst pipeline. Declared with an oracle
    * to prove the front door end-to-end. */
  private def a13SqlEndpoint(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP'1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** I5: EXPLAIN through the SQL front door. */
  private def i5Explain(spark: SparkSession, dir: String): DataFrame = {
    Engine.t(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    val df = spark.sql(
      "EXPLAIN FORMATTED SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY l_returnflag")
    df.select((length(col("plan")) > 0).as("has_plan"),
      col("plan").contains("HashAggregate").as("has_hash_agg"))
  }

  /** A17: system.columns — table metadata as a queryable relation.
    * Spark's catalog IS the source (`df.schema`); the oracle is
    * DuckDB's own pragma_table_info over the same parquet, so the two
    * engines' independent schema readers must agree on order + names.
    * Types are engine-dialect strings and deliberately not compared. */
  private def a17Columns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Engine.t(spark, dir, "orders").schema.fields.zipWithIndex
      .map { case (f, i) => (i + 1, f.name) }.toSeq
      .toDF("ordinal", "column_name")
  }

  /** Register the CH `system.*` introspection relations against the
    * CURRENT catalog (VERDICT r19 next #7): a tab-completing client or
    * BI tool issues `SELECT … FROM system.columns WHERE table = '…'`
    * at the wire doors; [[graft.ChSql]] rewrites the `system.` prefix
    * onto these views and re-registers them per reference so they
    * always reflect the live catalog. Driver-side METADATA only —
    * bounded by catalog size, no data scan (the a17/a19 precedent).
    * Schemas follow the public CH system-table docs (the columns
    * clients actually filter on): tables(database, name, engine),
    * columns(database, table, name, type, position — 1-based like
    * CH), databases(name), one(dummy). */
  def registerSystemViews(spark: SparkSession): Unit = {
    import spark.implicits._
    val names = spark.catalog.listTables().collect().map(_.name)
      .filterNot(_.startsWith("__graft")).sorted.toSeq
    names.map(t => ("default", t, graft.ChDdl.engineName(t).getOrElse("View")))
      .toDF("database", "name", "engine")
      .createOrReplaceTempView("__graft_system_tables")
    names.flatMap { t =>
      val fields = scala.util.Try(spark.table(t).schema.fields.toSeq)
        .getOrElse(Seq.empty)
      fields.zipWithIndex.map { case (f, i) =>
        ("default", t, f.name,
          graft.server.HttpSqlEndpoint.chTypeName(f.dataType, f.nullable),
          (i + 1).toLong)
      }
    }.toDF("database", "table", "name", "type", "position")
      .createOrReplaceTempView("__graft_system_columns")
    Seq("default").toDF("name").createOrReplaceTempView("__graft_system_databases")
    Seq(0).toDF("dummy").createOrReplaceTempView("__graft_system_one")
  }

  /** POST to the HTTP door at `url` the way a CH client does: `stmt`
    * as the body, or, with `data` (an INSERT's block), `stmt` in the
    * `query` parameter and `data` as the body. A reply other than 200
    * fails with the server's error body. */
  private def httpPost(url: String, stmt: String, data: Option[Array[Byte]] = None): String = {
    val query = data.fold("")(_ => "?query=" + java.net.URLEncoder.encode(stmt, "UTF-8"))
    val conn = new java.net.URL(s"$url/$query").openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(data.getOrElse(stmt.getBytes("UTF-8")))
      require(conn.getResponseCode == 200, {
        val err = new String(conn.getErrorStream.readAllBytes(), "UTF-8")
        s"HTTP ${conn.getResponseCode}: $err (stmt: $stmt)"
      })
      new String(conn.getInputStream.readAllBytes(), "UTF-8")
    } finally conn.disconnect()
  }

  /** The rows of a `FORMAT TabSeparatedWithNames` reply, split into
    * fields, after checking that its header names `cols`. */
  private def tsvRows(body: String, cols: Seq[String]): Seq[Array[String]] = {
    val lines = body.split("\n").filter(_.nonEmpty)
    require(lines.head == cols.mkString("\t"), s"unexpected TSV header: ${lines.head}")
    lines.tail.toSeq.map(_.split("\t", -1))
  }

  /** A25 (VERDICT r19 next #7): `system.columns` interrogated over the
    * HTTP door the way a BI tool does — `WHERE database = … AND
    * table = …` (with `table`, an ANSI-reserved word in Spark, handled
    * by the ChSql scope-aware quoting). In-code requires pin
    * system.tables and system.one on the same session; the DuckDB
    * oracle is pragma_table_info over the same parquet, so the two
    * engines' independent schema readers must agree. */
  private def a25SystemColumns(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val running = graft.server.HttpSqlEndpoint.start(spark, 0)
    try {
      def post(stmt: String) = httpPost(running.url, stmt)
      // the probe queries a stock client opens with
      require(post("SELECT 1 FROM system.one FORMAT TabSeparated") == "1\n")
      val tabs = post(
        "SELECT name FROM system.tables WHERE database = 'default' ORDER BY name FORMAT TabSeparated")
      require(tabs.split("\n").contains("orders"), s"system.tables must list orders: $tabs")
      val cols = Seq("ordinal", "column_name")
      val body = post(
        """SELECT CAST(position AS INT) AS ordinal, name AS column_name
          |FROM system.columns
          |WHERE database = 'default' AND table = 'orders'
          |ORDER BY ordinal FORMAT TabSeparatedWithNames""".stripMargin)
      import spark.implicits._
      tsvRows(body, cols).map(f => (f(0).toInt, f(1))).toDF(cols: _*)
    } finally running.stop()
  }

  /** A19: `system.tables` — the catalog relation: every registered
    * table with its column count and row count. Proves registerAll
    * wires the whole sf directory into the catalog (the reference's
    * `metadata/` registry, Dockerfile:185). Row counts come from the
    * tables themselves, so this is a data-derived oracle, not a
    * constant list. */
  private def a19Tables(spark: SparkSession, dir: String): DataFrame = {
    graft.Engine.registerAll(spark, dir)
    // r21 (guide §1.2/§2.6): one UNION action instead of 10 sequential
    // per-table count() jobs — the 10 scans run inside a single job,
    // in parallel. Branch order is preserved by union, so the output
    // rows (and the oracle hash) are the sorted-name order the old
    // driver-side Seq produced; n_columns stays a catalog literal.
    graft.Engine.tableNames.sorted
      .map { t =>
        val df = graft.Engine.t(spark, dir, t)
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("table_name"),
            lit(df.schema.fields.length).as("n_columns"), col("n_rows"))
      }.reduce(_ unionByName _)
  }

  /** A20 (VERDICT r16 missing #1): the LONG-LIVED SQL SERVICE, round-
    * tripped and oracle-certified. The reference's primary operating
    * mode is `clickhouse-server` + HTTP 8123 (reference
    * `Dockerfile:203-206`); [[graft.server.HttpSqlEndpoint]] is the
    * Spark analog. This query boots the endpoint on an ephemeral port,
    * POSTs CH-dialect SQL text (with PREWHERE — proving the ChSql
    * dialect path works over the wire — and a FORMAT clause) exactly
    * like a curl client would, parses the TabSeparatedWithNames
    * response back, and the DuckDB oracle hash-certifies the whole
    * HTTP → dialect-rewrite → Catalyst → streaming-render loop. */
  private def a20HttpServer(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val running = graft.server.HttpSqlEndpoint.start(spark, 0)
    try {
      val q =
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
          |FROM orders
          |PREWHERE o_orderkey % 3 = 0
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus
          |FORMAT TabSeparatedWithNames""".stripMargin
      val cols = Seq("o_orderstatus", "n", "sum_price")
      import spark.implicits._
      tsvRows(httpPost(running.url, q), cols)
        .map(f => (f(0), f(1).toLong, f(2).toDouble)) // Double.toString round-trips exactly
        .toDF(cols: _*)
    } finally running.stop()
  }

  /** A21 (VERDICT r17 next #2): INSERT ingest over the HTTP front
    * door, round-tripped and oracle-certified. CH's port 8123 accepts
    * `INSERT INTO t FORMAT TabSeparated` with the data block in the
    * POST body (reference `Dockerfile:203` exposes it for both
    * directions); [[graft.server.HttpSqlEndpoint]] routes the parsed
    * block through the A9 parquet-append path and re-registers the
    * view as base ∪ ingested. This query stages a PRIVATE view (a
    * fresh name per invocation — Bench re-runs queries in one JVM and
    * ingest must never double up or leak into the shared catalog)
    * holding only the 'F'-status orders, renders the remaining rows
    * as CH TabSeparated with the server's own renderer (the exact
    * bytes a curl client pipes), POSTs the INSERT, then SELECTs the
    * union back over HTTP. The DuckDB oracle computes the same
    * aggregate over the FULL base table, so the hash certifies the
    * whole POST-body → format-parse → schema-cast → append →
    * re-register → SELECT loop restored every inserted row exactly. */
  private val a21Seq = new java.util.concurrent.atomic.AtomicInteger()
  private def a21HttpInsert(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val view = s"orders_http_${a21Seq.incrementAndGet()}"
    val o = Engine.t(spark, dir, "orders")
    o.filter(col("o_orderstatus") === "F").createOrReplaceTempView(view)
    val running = graft.server.HttpSqlEndpoint.start(spark, 0)
    try {
      // BOUNDED insert block: an HTTP INSERT body is driver-resident
      // by nature (CH's is too), so the inserted subset must not scale
      // with the table — orders keys are dense per replica, so the
      // key cut is a CONSTANT ~20k-row set at sf0.1 AND at every
      // replica scale (sf10/sf100 shift keys upward; only replica 0
      // holds keys < 30000). At the sf0.01 gate the cut covers every
      // non-'F' row, so the oracle exercises the full table anyway.
      val toInsert = o.filter(col("o_orderstatus") =!= "F" && col("o_orderkey") < 30000)
      val body = new java.io.ByteArrayOutputStream()
      graft.server.HttpSqlEndpoint.render(toInsert, "TabSeparated", body)
      httpPost(running.url, s"INSERT INTO $view FORMAT TabSeparated", Some(body.toByteArray))
      val q =
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
           |FROM $view
           |GROUP BY o_orderstatus
           |ORDER BY o_orderstatus
           |FORMAT TabSeparatedWithNames""".stripMargin
      val cols = Seq("o_orderstatus", "n", "sum_price")
      import spark.implicits._
      tsvRows(httpPost(running.url, q), cols)
        .map(f => (f(0), f(1).toLong, f(2).toDouble)) // Double.toString round-trips exactly
        .toDF(cols: _*)
    } finally running.stop()
  }

  /** A24 (VERDICT r18 next #1): a REAL ClickHouse query body — CH
    * function names (`toYYYYMM`, `uniqExact`, `countIf`) and the
    * parametric aggregate grammar (`quantile(0.5)(x)`) — POSTed at the
    * HTTP door exactly as a CH client would paste it. Resolution is
    * the [[graft.ChNames]] registry (name → Spark built-in
    * composition) plus [[graft.ChSql]]'s parametric rewrite; the
    * DuckDB oracle replays the standard-SQL spelling, so the hash
    * certifies the whole name-mapping layer cross-engine. This is the
    * row the r18 verdict called the first wall every HTTP/MySQL/PG
    * client hits ("fails at name resolution on their first aggregate
    * query"). */
  private def a24ChFunctionsHttp(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val running = graft.server.HttpSqlEndpoint.start(spark, 0)
    try {
      val q =
        """SELECT toYYYYMM(o_orderdate) AS ym,
          |  uniqExact(o_custkey) AS buyers,
          |  countIf(o_totalprice > 150000) AS big,
          |  CAST(round(quantile(0.5)(o_totalprice), 6) AS DOUBLE) AS med
          |FROM orders
          |PREWHERE toYear(o_orderdate) = 1995
          |GROUP BY ym
          |ORDER BY ym
          |FORMAT TabSeparatedWithNames""".stripMargin
      val cols = Seq("ym", "buyers", "big", "med")
      import spark.implicits._
      tsvRows(httpPost(running.url, q), cols)
        .map(f => (f(0).toInt, f(1).toLong, f(2).toLong, f(3).toDouble)).toDF(cols: _*)
    } finally running.stop()
  }

  /** K24 (VERDICT r18 next #3): TEXT DDL over the HTTP door — the
    * statement sequence a CH init script contains (the
    * `/docker-entrypoint-initdb.d` surface, reference
    * `Dockerfile:190`): `CREATE TABLE … ENGINE = MergeTree ORDER BY …
    * PARTITION BY toYYYYMM(…)` (the reference's own partition
    * expression, `Dockerfile:228`), a VALUES insert, a `CREATE
    * MATERIALIZED VIEW … AS SELECT`, a second insert in TabSeparated
    * form (which must flow into the MV — CH's insert-driven
    * maintenance), then a SELECT from the MV. The DuckDB oracle
    * replays the aggregate over the same literal rows, so the hash
    * certifies DDL parse → typed empty table → layout-aware ingest →
    * MV maintenance end-to-end. Names are sequence-suffixed: Bench
    * re-runs queries in one JVM and the ingest dirs accumulate per
    * table name. */
  private val k24Seq = new java.util.concurrent.atomic.AtomicInteger()
  private def k24DdlHttp(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val n = k24Seq.incrementAndGet()
    val tbl = s"k24_metrics_$n"
    val mv = s"k24_daily_$n"
    val running = graft.server.HttpSqlEndpoint.start(spark, 0)
    try {
      def post(stmt: String) = httpPost(running.url, stmt)
      post(s"""CREATE TABLE $tbl (
              |  ts DateTime, site String, clicks UInt32, price Decimal(18,2)
              |) ENGINE = MergeTree ORDER BY (site, ts) PARTITION BY toYYYYMM(ts)""".stripMargin)
      post(s"INSERT INTO $tbl VALUES " +
        "('2024-01-05 10:00:00', 'alpha', 3, 10.50)," +
        "('2024-01-05 14:00:00', 'alpha', 1, 4.25)," +
        "('2024-01-06 09:30:00', 'beta', 7, 99.99)," +
        "('2024-02-01 00:15:00', 'alpha', 2, 0.75)")
      post(s"""CREATE MATERIALIZED VIEW $mv AS
              |SELECT site, toStartOfDay(ts) AS d, count(*) AS hits,
              |  CAST(sum(price) AS DOUBLE) AS revenue
              |FROM $tbl GROUP BY site, d""".stripMargin)
      // second insert AFTER the MV exists — its rows must appear in
      // the MV (insert-driven maintenance), TabSeparated this time
      post(s"INSERT INTO $tbl FORMAT TabSeparated\n" +
        "2024-01-06 20:00:00\tbeta\t4\t15.00\n" +
        "2024-02-01 23:59:59\tgamma\t9\t1.05\n")
      val cols = Seq("site", "d", "hits", "revenue")
      val body = post(
        s"SELECT site, d, hits, revenue FROM $mv ORDER BY site, d FORMAT TabSeparatedWithNames")
      import spark.implicits._
      tsvRows(body, cols)
        .map(f => (f(0), java.sql.Timestamp.valueOf(f(1)), f(2).toLong, f(3).toDouble))
        .toDF(cols: _*)
    } finally running.stop()
  }

  /** K25 (VERDICT r19 next #1): the MATERIALIZED MV path,
    * oracle-certified end-to-end over HTTP. The MV here is the
    * re-aggregatable single-source GROUP BY shape, so maintenance is
    * INCREMENTAL: each insert's block aggregates alone and merges into
    * the stored Parquet target (reads only target + block — CH's
    * AggregatingMergeTree collapse; reference `Dockerfile:102-126`
    * insert-driven MVs). Three inserts drive two incremental merges;
    * the query then asserts the materialization plan property in-line
    * (every input file of the MV read is the MV's own target — zero
    * source scans) before returning the MV rows for the DuckDB oracle
    * to hash against a full recompute over the same literals. */
  private val k25Seq = new java.util.concurrent.atomic.AtomicInteger()
  private def k25MvMaterialized(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val n = k25Seq.incrementAndGet()
    val tbl = s"k25_src_$n"
    val mv = s"k25_rollup_$n"
    val running = graft.server.HttpSqlEndpoint.start(spark, 0)
    try {
      def post(stmt: String) = httpPost(running.url, stmt)
      post(s"CREATE TABLE $tbl (site String, v Int64) ENGINE = MergeTree ORDER BY site")
      post(s"""CREATE MATERIALIZED VIEW $mv AS
              |SELECT site, count(*) AS hits, sum(v) AS total,
              |  min(v) AS lo, max(v) AS hi
              |FROM $tbl GROUP BY site""".stripMargin)
      post(s"INSERT INTO $tbl VALUES ('alpha', 3), ('alpha', 5), ('beta', 7)")
      post(s"INSERT INTO $tbl FORMAT TabSeparated\nalpha\t2\ngamma\t9\n")
      post(s"INSERT INTO $tbl VALUES ('beta', 1), ('gamma', 6)")
      // the materialization proof, plan-pinned: the MV read scans its
      // own Parquet target and nothing else
      require(graft.ChDdl.mvModeFor(mv).exists(_.startsWith("AggInc")),
        "k25 MV must classify incremental")
      val files = spark.table(mv).inputFiles
      require(files.nonEmpty && files.forall(_.contains(s"/mv_${mv}_")),
        s"MV read must hit only its materialized target: ${files.mkString(", ")}")
      val cols = Seq("site", "hits", "total", "lo", "hi")
      val body = post(
        s"SELECT site, hits, total, lo, hi FROM $mv ORDER BY site FORMAT TabSeparatedWithNames")
      import spark.implicits._
      tsvRows(body, cols)
        .map(f => (f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong)).toDF(cols: _*)
    } finally running.stop()
  }

  /** K26 (VERDICT r19 next #2): an init script containing ALTER TABLE
    * replayed over the HTTP door — ADD COLUMN with a DEFAULT (the A15
    * schema-evolution semantics: existing rows read the default),
    * DELETE WHERE and UPDATE … WHERE (the K11 mutation-as-rewrite
    * semantics, all assignments against the original row). The DuckDB
    * oracle replays the same mutation chain over the same literals. */
  private val k26Seq = new java.util.concurrent.atomic.AtomicInteger()
  private def k26AlterHttp(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val n = k26Seq.incrementAndGet()
    val tbl = s"k26_t_$n"
    val running = graft.server.HttpSqlEndpoint.start(spark, 0)
    try {
      def post(stmt: String) = httpPost(running.url, stmt)
      post(s"CREATE TABLE $tbl (k Int64, v Int64) ENGINE = MergeTree ORDER BY k")
      post(s"INSERT INTO $tbl VALUES (1, 10), (2, 20), (3, 30)")
      post(s"ALTER TABLE $tbl ADD COLUMN tag String DEFAULT 'old'")
      post(s"INSERT INTO $tbl VALUES (4, 40, 'new'), (5, 55, 'new')")
      post(s"ALTER TABLE $tbl DELETE WHERE v >= 50")
      post(s"ALTER TABLE $tbl UPDATE v = v + 100 WHERE tag = 'old'")
      val cols = Seq("k", "v", "tag")
      val body = post(s"SELECT k, v, tag FROM $tbl ORDER BY k FORMAT TabSeparatedWithNames")
      import spark.implicits._
      tsvRows(body, cols).map(f => (f(0).toLong, f(1).toLong, f(2))).toDF(cols: _*)
    } finally running.stop()
  }

  /** A22 (VERDICT r17 missing #2): the MYSQL WIRE-PROTOCOL door,
    * round-tripped and oracle-certified. The reference exposes 9004
    * for ClickHouse's MySQL-compatible endpoint (`Dockerfile:205`);
    * [[graft.server.MySqlEndpoint]] speaks HandshakeV10 +
    * COM_QUERY text resultsets on raw sockets. This query boots the
    * endpoint, logs in and runs CH-dialect SQL through a minimal
    * inline client (written here against the public packet layout —
    * independent of both the server's encoder and the spec's client),
    * parses the text rows back, and the DuckDB oracle hash-certifies
    * the whole socket → handshake → dialect-rewrite → Catalyst →
    * lenenc-text loop. */
  private def a22MysqlWire(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val running = graft.server.MySqlEndpoint.start(spark, 0)
    val sock = new java.net.Socket("127.0.0.1", running.port)
    try {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      def readPkt(): Array[Byte] = {
        def b(): Int = { val v = in.read(); require(v >= 0, "eof"); v }
        val len = b() | (b() << 8) | (b() << 16); b()
        val buf = new Array[Byte](len)
        var off = 0
        while (off < len) { val r = in.read(buf, off, len - off); require(r >= 0); off += r }
        buf
      }
      def writePkt(seq: Int, p: Array[Byte]): Unit = {
        out.write(p.length & 0xff); out.write((p.length >> 8) & 0xff)
        out.write((p.length >> 16) & 0xff); out.write(seq & 0xff)
        out.write(p); out.flush()
      }
      def lenenc(p: Array[Byte], off: Int): (Long, Int) = (p(off) & 0xff) match {
        case 0xfc => ((p(off + 1) & 0xffL) | ((p(off + 2) & 0xffL) << 8), 3)
        case 0xfd => ((p(off + 1) & 0xffL) | ((p(off + 2) & 0xffL) << 8) | ((p(off + 3) & 0xffL) << 16), 4)
        case 0xfe => ((0 until 8).map(i => (p(off + 1 + i) & 0xffL) << (8 * i)).sum, 9)
        case v    => (v.toLong, 1)
      }
      require((readPkt()(0) & 0xff) == 0x0a, "expected HandshakeV10")
      val login = java.nio.ByteBuffer.allocate(96).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      login.putInt((0x0200L | 0x8000L | 0x80000L).toInt).putInt(1 << 24)
        .put(33.toByte).put(new Array[Byte](23))
        .put("default".getBytes("UTF-8")).put(0.toByte).put(0.toByte)
        .put("mysql_native_password".getBytes("UTF-8")).put(0.toByte)
      writePkt(1, java.util.Arrays.copyOf(login.array(), login.position()))
      require((readPkt()(0) & 0xff) == 0x00, "login rejected")
      val q =
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
          |FROM orders
          |PREWHERE o_orderkey % 5 = 0
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin
      writePkt(0, Array[Byte](0x03) ++ q.getBytes("UTF-8"))
      val head = readPkt()
      require((head(0) & 0xff) != 0xff, s"ERR: ${new String(head, "UTF-8")}")
      val nCols = lenenc(head, 0)._1.toInt
      (1 to nCols).foreach(_ => readPkt()) // column definitions
      require((readPkt()(0) & 0xff) == 0xfe, "expected EOF after columns")
      val rows = Seq.newBuilder[(String, Long, Double)]
      var done = false
      while (!done) {
        val p = readPkt()
        if ((p(0) & 0xff) == 0xfe && p.length < 9) done = true
        else {
          var off = 0
          val cells = (0 until nCols).map { _ =>
            val (n, c) = lenenc(p, off)
            val s = new String(p, off + c, n.toInt, "UTF-8")
            off += c + n.toInt
            s
          }
          rows += ((cells(0), cells(1).toLong, cells(2).toDouble))
        }
      }
      writePkt(0, Array[Byte](0x01)) // COM_QUIT
      import spark.implicits._
      rows.result().toDF("o_orderstatus", "n", "sum_price")
    } finally { sock.close(); running.stop() }
  }

  /** A23 (VERDICT r17 missing #2, second half): the POSTGRESQL
    * WIRE-PROTOCOL door (reference port 9005, `Dockerfile:206`),
    * round-tripped and oracle-certified the a22 way — a minimal
    * inline v3 client (startup → AuthenticationOk → simple Query →
    * RowDescription/DataRow parse) against
    * [[graft.server.PgEndpoint]]. */
  private def a23PgWire(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerAll(spark, dir)
    val running = graft.server.PgEndpoint.start(spark, 0)
    val sock = new java.net.Socket("127.0.0.1", running.port)
    try {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      def readN(n: Int): Array[Byte] = {
        val b = new Array[Byte](n); var off = 0
        while (off < n) { val r = in.read(b, off, n - off); require(r >= 0, "eof"); off += r }
        b
      }
      def i32(b: Array[Byte], off: Int = 0): Int =
        ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
          ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
      def readMsg(): (Char, Array[Byte]) = {
        val t = in.read(); require(t >= 0, "eof")
        val len = i32(readN(4))
        (t.toChar, readN(len - 4))
      }
      // StartupMessage(3.0) user=default
      val sb = new java.io.ByteArrayOutputStream()
      sb.write(Array[Byte](0, 3, 0, 0))
      sb.write("user".getBytes("UTF-8")); sb.write(0)
      sb.write("default".getBytes("UTF-8")); sb.write(0); sb.write(0)
      val sbb = sb.toByteArray
      val slen = sbb.length + 4
      out.write(Array[Byte](((slen >> 24) & 0xff).toByte, ((slen >> 16) & 0xff).toByte,
        ((slen >> 8) & 0xff).toByte, (slen & 0xff).toByte))
      out.write(sbb); out.flush()
      val (t0, b0) = readMsg()
      require(t0 == 'R' && i32(b0) == 0, "expected AuthenticationOk")
      var ready = false
      while (!ready) readMsg() match {
        case ('Z', _) => ready = true
        case _        => ()
      }
      val q =
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
          |FROM orders
          |PREWHERE o_orderkey % 7 = 0
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin
      val qb = q.getBytes("UTF-8")
      val qlen = qb.length + 1 + 4
      out.write('Q')
      out.write(Array[Byte](((qlen >> 24) & 0xff).toByte, ((qlen >> 16) & 0xff).toByte,
        ((qlen >> 8) & 0xff).toByte, (qlen & 0xff).toByte))
      out.write(qb); out.write(0); out.flush()
      val rows = Seq.newBuilder[(String, Long, Double)]
      var done = false
      while (!done) readMsg() match {
        case ('D', b) =>
          var off = 2
          val cells = (0 until 3).map { _ =>
            val len = i32(b, off); off += 4
            val s = new String(b, off, len, "UTF-8"); off += len; s
          }
          rows += ((cells(0), cells(1).toLong, cells(2).toDouble))
        case ('E', b) => sys.error("pg wire error: " + new String(b, "UTF-8"))
        case ('Z', _) => done = true
        case _        => ()
      }
      out.write('X'); out.write(Array[Byte](0, 0, 0, 4)); out.flush()
      import spark.implicits._
      rows.result().toDF("o_orderpriority", "n", "sum_price")
    } finally { sock.close(); running.stop() }
  }

  val queries: Map[String, Q] = Map(
    "a20_http_server" -> (a20HttpServer _),
    "a21_http_insert" -> (a21HttpInsert _),
    "a22_mysql_wire" -> (a22MysqlWire _),
    "a23_pg_wire" -> (a23PgWire _),
    "a24_ch_functions_http" -> (a24ChFunctionsHttp _),
    "k24_ddl_http" -> (k24DdlHttp _),
    "k25_mv_materialized" -> (k25MvMaterialized _),
    "k26_alter_http" -> (k26AlterHttp _),
    "a25_system_columns" -> (a25SystemColumns _),
    "a19_tables" -> (a19Tables _),
    "a17_columns" -> (a17Columns _),
    "a11_build_options" -> (a11BuildOptions _),
    "a12_query_log" -> (a12QueryLog _),
    "a12b_quota_rollup" -> (a12bQuotaRollup _),
    "a13_sql_endpoint" -> (a13SqlEndpoint _),
    "i5_explain" -> (i5Explain _))

  val oracles: Map[String, String] = Map(
    // The ingested view is base('F') ∪ inserted(non-'F', bounded key
    // cut); at the sf0.01 gate every key is < 30000 so this equals the
    // whole orders table — the oracle spells the same union predicate.
    "a21_http_insert" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |   OR (o_orderstatus != 'F' AND o_orderkey < 30000)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "k24_ddl_http" ->
      """SELECT site, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS d,
        |  count(*) AS hits,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM (VALUES
        |  ('2024-01-05 10:00:00', 'alpha', 3, '10.50'),
        |  ('2024-01-05 14:00:00', 'alpha', 1, '4.25'),
        |  ('2024-01-06 09:30:00', 'beta', 7, '99.99'),
        |  ('2024-02-01 00:15:00', 'alpha', 2, '0.75'),
        |  ('2024-01-06 20:00:00', 'beta', 4, '15.00'),
        |  ('2024-02-01 23:59:59', 'gamma', 9, '1.05')) t(ts, site, clicks, price)
        |GROUP BY 1, 2
        |ORDER BY site, d""".stripMargin,
    "k25_mv_materialized" ->
      """SELECT site, count(*) AS hits, CAST(sum(v) AS BIGINT) AS total,
        |  CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
        |FROM (VALUES
        |  ('alpha', 3), ('alpha', 5), ('beta', 7),
        |  ('alpha', 2), ('gamma', 9),
        |  ('beta', 1), ('gamma', 6)) t(site, v)
        |GROUP BY site
        |ORDER BY site""".stripMargin,
    "k26_alter_http" ->
      """SELECT CAST(k AS BIGINT) AS k,
        |  CAST(CASE WHEN tag = 'old' THEN v + 100 ELSE v END AS BIGINT) AS v,
        |  tag
        |FROM (SELECT * FROM (VALUES
        |    (1, 10, 'old'), (2, 20, 'old'), (3, 30, 'old'),
        |    (4, 40, 'new'), (5, 55, 'new')) t(k, v, tag)
        |  WHERE NOT (v >= 50))
        |ORDER BY k""".stripMargin,
    "a24_ch_functions_http" ->
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
        |  count(DISTINCT o_custkey) AS buyers,
        |  count(*) FILTER (WHERE o_totalprice > 150000) AS big,
        |  CAST(CAST(round(quantile_cont(o_totalprice, 0.5), 6) AS VARCHAR) AS DOUBLE) AS med
        |FROM orders
        |WHERE year(o_orderdate) = 1995
        |GROUP BY 1
        |ORDER BY ym""".stripMargin,
    "a23_pg_wire" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey % 7 = 0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "a22_mysql_wire" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey % 5 = 0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "a20_http_server" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "a19_tables" ->
      """SELECT t AS table_name, CAST(c AS INT) AS n_columns, n AS n_rows
        |FROM (
        |  SELECT 'customer' AS t, 5 AS c, count(*) AS n FROM customer
        |  UNION ALL SELECT 'documents', 5, count(*) FROM documents
        |  UNION ALL SELECT 'embeddings', 3, count(*) FROM embeddings
        |  UNION ALL SELECT 'events', 6, count(*) FROM events
        |  UNION ALL SELECT 'lineitem', 11, count(*) FROM lineitem
        |  UNION ALL SELECT 'nation', 3, count(*) FROM nation
        |  UNION ALL SELECT 'orders', 6, count(*) FROM orders
        |  UNION ALL SELECT 'part', 6, count(*) FROM part
        |  UNION ALL SELECT 'region', 2, count(*) FROM region
        |  UNION ALL SELECT 'supplier', 4, count(*) FROM supplier)
        |ORDER BY table_name""".stripMargin,
    "a17_columns" ->
      """SELECT CAST(cid + 1 AS INT) AS ordinal, name AS column_name
        |FROM pragma_table_info('orders') ORDER BY ordinal""".stripMargin,
    "a25_system_columns" ->
      """SELECT CAST(cid + 1 AS INT) AS ordinal, name AS column_name
        |FROM pragma_table_info('orders') ORDER BY ordinal""".stripMargin,
    // a12/i5 emit deterministic summary invariants, so the oracle is
    // the expected constant row — a real equality check (was no_oracle).
    "a12_query_log" ->
      "SELECT true AS has_entries, true AS has_ok, true AS partitioned",
    "a12b_quota_rollup" ->
      """SELECT 'default' AS quota_user, true AS quota_counted,
        |  true AS no_errors, true AS has_result_rows,
        |  true AS within_quota""".stripMargin,
    "i5_explain" ->
      "SELECT true AS has_plan, true AS has_hash_agg",
    "a13_sql_endpoint" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a11_build_options" ->
      """SELECT * FROM (VALUES
        |  ('engine.name', 'graft'),
        |  ('engine.version', '0.1.0'),
        |  ('reference', 'DanielCasali/clickhouseocp (ClickHouse 25.7)'),
        |  ('session.timeZone', 'UTC'),
        |  ('spark.version', '4.1.2')) t(name, value)
        |ORDER BY name""".stripMargin)
}
