package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The reference's primary surface is SQL text (clickhouse-local /
  * client); the engine's catalog must make the same queries runnable
  * through `spark.sql` with results identical to the declared
  * DataFrame plans. Parity here means byte-equal collected rows. */
class SqlParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("q1 flagship through the SQL front door equals the DataFrame plan") {
    Engine.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= DATE'1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    val df = ops.Basics.q1PricingSummary(spark, sf)
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
    assert(rows(sql) == rows(df))
  }

  test("engine-injected kernels and CH combinators resolve in SQL text") {
    Engine.registerAll(spark, sf)
    val r = spark.sql(
      """SELECT count(*) AS n FROM documents
        |WHERE dot_f(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) = 1.0""".stripMargin)
      .collect().head.getLong(0)
    val direct = Engine.t(spark, sf, "documents").count()
    assert(r == direct)
  }

  test("q5 flagship join spine through SQL equals the DataFrame plan") {
    Engine.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
        |  AND o_orderdate >= DATE'1996-01-01' AND o_orderdate < DATE'1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
    val df = SparkEntry.queries("q5_local_supplier")(spark, sf)
    assert(rows(sql) == rows(df))
  }

  test("round-8 hash expressions compose with table data in SQL text") {
    Engine.registerAll(spark, sf)
    // fingerprint a real column both ways: SQL front door vs DataFrame call
    val sql = spark.sql(
      "SELECT doc_id, farm_fingerprint64(text) AS f, sip_hash64(text) AS s " +
        "FROM documents WHERE doc_id < 20 ORDER BY doc_id")
    val df = Engine.t(spark, sf, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
        call_function("farm_fingerprint64", col("text")).as("f"),
        call_function("sip_hash64", col("text")).as("s"))
      .orderBy("doc_id")
    assert(rows(sql) == rows(df))
    assert(sql.count() > 0)
  }

  test("full oracle-SQL sweep: every Spark-parseable oracle equals its DataFrame plan") {
    // The sweep runs EVERY declared oracle whose DuckDB SQL text Spark
    // itself can parse, and value-compares it against the declared
    // DataFrame entry (SqlSweep's contract). Pinned here so the SQL
    // front door can't silently rot (ADVICE r13): zero value
    // mismatches, zero df-side errors, and a FLOOR on the parity count
    // so the parseable subset can only grow.
    val r = SqlSweep.sweep(spark, sf, verbose = false)
    assert(r.mismatch.isEmpty, s"SQL-vs-DataFrame parity breaks: ${r.mismatch.mkString(", ")}")
    assert(r.dfError.isEmpty, s"df-side errors during sweep: ${r.dfError.mkString(", ")}")
    assert(r.parity.size >= 116,
      s"parity count regressed: ${r.parity.size} < 116 (skipped=${r.skipped.size})")
  }

  test("ChSql dialect front door: PREWHERE text equals the b3 builder") {
    // VERDICT r16 #7 'done' criterion: one SqlParitySpec case per CH
    // clause, CH text ≡ declared builder result.
    Engine.registerAll(spark, sf)
    val ch = ChSql.sql(spark,
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        |PREWHERE l_quantity <= 2
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |ORDER BY l_orderkey, l_partkey, l_quantity""".stripMargin)
    assert(rows(ch) == rows(ops.Basics.queries("b3_prewhere")(spark, sf)))
    // PREWHERE with no WHERE at all → plain WHERE
    val solo = ChSql.sql(spark,
      "SELECT count(*) AS n FROM lineitem PREWHERE l_quantity <= 2")
    val direct = Engine.t(spark, sf, "lineitem").filter(col("l_quantity") <= 2)
    assert(solo.collect().head.getLong(0) == direct.count())
  }

  test("ChSql: PREWHERE rewrites inside subqueries (scope-aware scanner)") {
    Engine.registerAll(spark, sf)
    // VERDICT r17 #6: a user pasting a nested PREWHERE used to get a
    // parser error; the scope-aware scanner now merges each PREWHERE
    // with ITS OWN clause's WHERE, never across a subquery boundary.
    val ch = ChSql.sql(spark,
      """SELECT o_orderstatus, count(*) AS n FROM (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  PREWHERE o_orderkey % 2 = 0
        |  WHERE o_totalprice > 1000
        |) WHERE o_totalprice < 400000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    val direct = Engine.t(spark, sf, "orders")
      .filter("o_orderkey % 2 = 0 AND o_totalprice > 1000 AND o_totalprice < 400000")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
    assert(rows(ch) == rows(direct))
    // inner PREWHERE terminated by the closing paren (no WHERE in scope)
    assert(ChSql.rewrite(spark,
      "SELECT * FROM (SELECT a FROM t PREWHERE a > 1) x WHERE a < 9") ==
      "SELECT * FROM (SELECT a FROM t WHERE a > 1) x WHERE a < 9")
    // a 'PREWHERE' inside a string literal is data, not syntax
    assert(ChSql.rewrite(spark, "SELECT 'PREWHERE x' AS s FROM t") ==
      "SELECT 'PREWHERE x' AS s FROM t")
  }

  test("ChSql: FINAL rewrites inside subqueries; WITH TOTALS anchors to its own GROUP BY") {
    Engine.registerAll(spark, sf)
    // nested FROM t FINAL (the pattern is table-anchored, any depth);
    // b6b registers the orders_versioned view + its FINAL metadata
    val b6 = ops.Basics.queries("b6b_final_sql")(spark, sf)
    b6.collect()
    val nested = ChSql.sql(spark,
      """SELECT count(*) AS n FROM (
        |  SELECT * FROM orders_versioned FINAL
        |) WHERE o_orderkey >= 0""".stripMargin)
    // FINAL collapses base∪updates to one row per sorting key
    assert(nested.collect().head.getLong(0) ==
      Engine.t(spark, sf, "orders").count())
    // ADVICE r17: outer WITH TOTALS + a totals-less GROUP BY inside a
    // subquery — the match must anchor to the LAST GROUP BY, not the
    // first one in text order.
    val q = ChSql.rewrite(spark,
      """SELECT o_orderstatus, sum(n) AS total FROM (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders
        |  GROUP BY o_orderstatus, o_orderpriority
        |) GROUP BY o_orderstatus WITH TOTALS""".stripMargin)
    assert(q.contains("GROUP BY o_orderstatus, o_orderpriority"),
      s"inner GROUP BY must stay untouched:\n$q")
    assert(q.contains("GROUP BY GROUPING SETS ((o_orderstatus), ())"),
      s"outer WITH TOTALS must become the two-set lattice:\n$q")
    val got = ChSql.sql(spark, q)
    assert(got.count() == 4) // F, O, P + the all-NULL totals row
  }

  test("ChSql: SETTINGS suffix — perf knobs ignored, semantic ones fail loudly") {
    Engine.registerAll(spark, sf)
    // performance-only knobs strip away; the query runs as-is
    val ch = ChSql.sql(spark,
      "SELECT count(*) AS n FROM region SETTINGS max_threads = 8, max_memory_usage = 10000000000")
    assert(ch.collect().head.getLong(0) == 5)
    // SETTINGS composes with FORMAT (CH grammar order: SETTINGS then FORMAT)
    assert(ChSql.splitFormat("SELECT 1 SETTINGS max_threads = 4 FORMAT JSON")._2 ==
      Some("JSON"))
    assert(ChSql.rewrite(spark, "SELECT 1 SETTINGS max_threads = 4 FORMAT JSON") ==
      "SELECT 1")
    // a setting that could change semantics must not be silently dropped
    val e = intercept[IllegalArgumentException](
      ChSql.rewrite(spark, "SELECT 1 SETTINGS readonly = 1"))
    assert(e.getMessage.contains("readonly"))
    // a string literal CONTAINING the settings shape is data, not a
    // clause (ADVICE r18: the flat regex stripped/rejected it)
    assert(ChSql.rewrite(spark, "SELECT 'use SETTINGS max_threads = 8' AS s") ==
      "SELECT 'use SETTINGS max_threads = 8' AS s")
    assert(ChSql.sql(spark, "SELECT 'x SETTINGS readonly = 1' AS s")
      .collect().head.getString(0) == "x SETTINGS readonly = 1")
    // …and a real suffix AFTER such a literal still strips cleanly
    assert(ChSql.rewrite(spark,
      "SELECT 'see SETTINGS docs' AS s SETTINGS max_threads = 2") ==
      "SELECT 'see SETTINGS docs' AS s")
  }

  test("ChSql: count() rewrites to count(*), but not inside a string literal") {
    assert(ChSql.rewrite(spark, "SELECT 'count()' AS s, count( ) AS n FROM region") ==
      "SELECT 'count()' AS s, count(*) AS n FROM region")
    Engine.registerAll(spark, sf)
    val r = ChSql.sql(spark, "SELECT 'count()' AS s, count() AS n FROM region").collect().head
    assert(r.getString(0) == "count()" && r.getLong(1) == 5L)
  }

  test("ChSql: FORMAT tail split is quote-aware (VERDICT r19 next #4)") {
    // a FORMAT-lookalike inside a trailing string literal is DATA — the
    // same scanner fix SETTINGS got in r19, now shared by all three
    // trailing-clause locators
    assert(ChSql.splitFormat("SELECT 'append FORMAT JSON'") ==
      ("SELECT 'append FORMAT JSON'", None))
    assert(ChSql.sql(spark, "SELECT 'append FORMAT JSON' AS s")
      .collect().head.getString(0) == "append FORMAT JSON")
    assert(ChSql.splitFormat("SELECT `weird FORMAT CSV` FROM t")._2.isEmpty)
    // a REAL suffix after such a literal still splits
    assert(ChSql.splitFormat("SELECT 'x FORMAT CSV' AS s FORMAT JSONEachRow") ==
      ("SELECT 'x FORMAT CSV' AS s", Some("JSONEachRow")))
    // word boundaries: EXPLAIN FORMATTED / date_format untouched
    assert(ChSql.splitFormat("EXPLAIN FORMATTED SELECT 1")._2.isEmpty)
    assert(ChSql.splitFormat("SELECT date_format(now(), 'yyyy')")._2.isEmpty)
    // the plain suffix still works, case-insensitively, with semicolon
    assert(ChSql.splitFormat("SELECT 1 format Pretty;") == ("SELECT 1", Some("Pretty")))
  }

  test("ChSql dialect front door: FROM t FINAL text equals the b6 builder") {
    Engine.registerAll(spark, sf)
    val ch = ops.Basics.queries("b6b_final_sql")(spark, sf)
    assert(rows(ch) == rows(ops.Basics.queries("b6_final")(spark, sf)))
  }

  test("ChSql dialect front door: LIMIT n BY text equals the f4 builder") {
    Engine.registerAll(spark, sf)
    val ch = ChSql.sql(spark,
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
        |LIMIT 3 BY o_orderstatus""".stripMargin)
    assert(rows(ch) == rows(ops.SortsLimits.queries("f4_limit_by")(spark, sf)))
    // LIMIT BY without ORDER BY must fail loudly, not return storage order
    assertThrows[IllegalArgumentException] {
      ChSql.rewrite(spark, "SELECT o_orderkey FROM orders LIMIT 3 BY o_orderstatus")
    }
  }

  test("ChSql dialect front door: ORDER BY … WITH FILL text equals the f5 builder") {
    Engine.registerAll(spark, sf)
    // TO is exclusive per CH, hence 1997-02-01 for f5's January window;
    // f5 renders day as a string, so format the DATE-typed fill output
    // the same way before comparing.
    val ch = ops.SortsLimits.queries("f5b_with_fill_sql")(spark, sf)
    assert(rows(ch) == rows(ops.SortsLimits.queries("f5_with_fill")(spark, sf)))
    // fill rows outside the base's key range take the type default (0)
    val n = ch.collect().map(_.getLong(1))
    assert(n.contains(0L), "expected at least one filled (0) day in January")
  }

  test("ChSql dialect front door: SAMPLE k text equals the b5 builder") {
    Engine.registerAll(spark, sf)
    // 13/128 = 0x1a0000/16^6, the exact hash-space prefix b5's 2-hex
    // '1a' cut keeps — text and builder must agree row-for-row.
    val ch = SparkEntry.queries("b5b_sample_sql")(spark, sf)
    assert(rows(ch) == rows(SparkEntry.queries("b5_sample")(spark, sf)))
    // rejects the approximate-row-count form and unregistered tables
    ChSql.registerSample("lineitem",
      "concat(CAST(l_orderkey AS STRING), '-', CAST(l_linenumber AS STRING))")
    intercept[IllegalArgumentException](
      ChSql.rewrite(spark, "SELECT 1 FROM lineitem SAMPLE 1000"))
    intercept[IllegalArgumentException](
      ChSql.rewrite(spark, "SELECT 1 FROM region SAMPLE 0.5"))
  }

  test("ChSql dialect front door: ARRAY JOIN text equals the explode plan") {
    Engine.registerAll(spark, sf)
    val ch = SparkEntry.queries("h8d_array_join_sql")(spark, sf)
    val df = Engine.t(spark, sf, "part").filter(col("p_partkey") <= 200)
      .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("word"))
      .orderBy("p_partkey", "word")
    assert(rows(ch) == rows(df))
  }

  test("ChSql dialect front door: LEFT ARRAY JOIN text equals the h8c builder") {
    Engine.registerAll(spark, sf)
    val ch = ChSql.sql(spark,
      """SELECT p_partkey, long_word FROM part
        |LEFT ARRAY JOIN filter(split(p_name, ' '), w -> length(w) > 8) AS long_word
        |WHERE p_partkey <= 300
        |ORDER BY p_partkey, long_word NULLS FIRST""".stripMargin)
    assert(rows(ch) == rows(SparkEntry.queries("h8c_left_array_join")(spark, sf)))
  }

  test("ChSql dialect front door: bare-column ARRAY JOIN replaces the column") {
    import spark.implicits._
    Seq((1L, Seq("a", "b")), (2L, Seq("c")))
      .toDF("id", "tags").createOrReplaceTempView("aj_t")
    val ch = ChSql.sql(spark,
      "SELECT id, tags FROM aj_t ARRAY JOIN tags ORDER BY id, tags")
    // the array column is REPLACED by its element (CH semantics)
    assert(ch.schema("tags").dataType == org.apache.spark.sql.types.StringType)
    assert(rows(ch) == Seq("[1,a]", "[1,b]", "[2,c]"))
    // an expression without AS has no name to replace — loud failure
    intercept[IllegalArgumentException](
      ChSql.rewrite(spark, "SELECT 1 FROM aj_t ARRAY JOIN split('a b', ' ')"))
  }

  test("ChSql dialect front door: GLOBAL IN / GLOBAL JOIN strip to plain forms") {
    Engine.registerAll(spark, sf)
    assert(ChSql.rewrite(spark,
      "SELECT 1 FROM t WHERE a GLOBAL IN (SELECT b FROM u)") ==
      "SELECT 1 FROM t WHERE a IN (SELECT b FROM u)")
    assert(ChSql.rewrite(spark,
      "SELECT 1 FROM t GLOBAL LEFT JOIN u ON t.a = u.b") ==
      "SELECT 1 FROM t LEFT JOIN u ON t.a = u.b")
    // GLOBAL as an identifier substring stays untouched
    assert(ChSql.rewrite(spark, "SELECT global_id FROM t") ==
      "SELECT global_id FROM t")
    val ch = SparkEntry.queries("b4b_global_in_sql")(spark, sf)
    assert(rows(ch) == rows(SparkEntry.queries("b4_in_subquery")(spark, sf)))
  }

  test("ChSql dialect front door: WITH TOTALS text equals the d15 builder") {
    Engine.registerAll(spark, sf)
    assert(ChSql.rewrite(spark,
      "SELECT a, b, count(*) FROM t GROUP BY a, b WITH TOTALS ORDER BY a") ==
      "SELECT a, b, count(*) FROM t GROUP BY GROUPING SETS ((a, b), ()) ORDER BY a")
    val ch = SparkEntry.queries("d15b_with_totals_sql")(spark, sf)
    assert(rows(ch) == rows(SparkEntry.queries("d15_with_totals")(spark, sf)))
  }

  test("ChSql exec: INTO OUTFILE exports via the FORMAT renderer; plain text falls through") {
    Engine.registerAll(spark, sf)
    val path = s"/tmp/graft_io/outfile_spec_${System.nanoTime()}.tsv"
    val s1 = ChSql.exec(spark,
      s"SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey INTO OUTFILE '$path'")
      .collect().head
    assert(s1.getString(1) == "TabSeparated" && s1.getLong(2) == 5L)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.size == 5 && lines.get(0) == "0\tAFRICA")
    // CH refuses to overwrite an existing outfile
    intercept[IllegalArgumentException](ChSql.exec(spark,
      s"SELECT 1 INTO OUTFILE '$path'"))
    // no INTO OUTFILE → plain DataFrame result, nothing written
    assert(ChSql.exec(spark, "SELECT 41 + 1 AS v").collect().head.getInt(0) == 42)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))
  }

  test("window + LIMIT BY shape through SQL equals the declared f4 result") {
    Engine.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT * FROM (
        |  SELECT p_brand, p_partkey,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) WHERE rn <= 2
        |ORDER BY p_brand, rn""".stripMargin)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey"))
    val df = Engine.t(spark, sf, "part")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("p_brand", "p_partkey", "rn")
      .orderBy("p_brand", "rn")
    assert(rows(sql) == rows(df))
  }
}
