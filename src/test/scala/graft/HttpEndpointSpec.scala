package graft

import java.net.{HttpURLConnection, URL, URLEncoder}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.server.HttpSqlEndpoint

/** The long-lived SQL service (VERDICT r16 missing #1): boots
  * [[graft.server.HttpSqlEndpoint]] once on an ephemeral port and
  * drives it exactly like the reference's HTTP clients drive
  * `clickhouse-server:8123` — GET `?query=`, POST body, FORMAT
  * clauses, CH dialect over the wire, error codes. */
class HttpEndpointSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf
  private var running: HttpSqlEndpoint.Running = _

  override def beforeAll(): Unit = {
    Engine.registerAll(spark, sf)
    running = HttpSqlEndpoint.start(spark, 0)
  }
  override def afterAll(): Unit = if (running != null) running.stop()

  private def http(method: String, path: String, body: String = null): (Int, String, Map[String, String]) = {
    val conn = new URL(running.url + path).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) { conn.setDoOutput(true); conn.getOutputStream.write(body.getBytes("UTF-8")) }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = new String(in.readAllBytes(), "UTF-8")
    import scala.jdk.CollectionConverters._
    val headers = conn.getHeaderFields.asScala.collect {
      case (k, v) if k != null => k -> v.get(0)
    }.toMap
    conn.disconnect()
    (code, text, headers)
  }

  private def get(q: String): String =
    http("GET", "/?query=" + URLEncoder.encode(q, "UTF-8"))._2

  test("/ping and bare GET / answer Ok. (health surface)") {
    assert(http("GET", "/ping")._2 == "Ok.\n")
    assert(http("GET", "/")._2 == "Ok.\n")
  }

  test("GET ?query= returns TabSeparated by default, CH escaping and \\N nulls") {
    val out = get("SELECT 1 AS a, 'x\ty' AS b, CAST(NULL AS STRING) AS c")
    assert(out == "1\tx\\ty\t\\N\n")
  }

  test("POST body is the query; param + body concatenate like CH") {
    val (code, out, _) = http("POST", "/", "SELECT 41 + 1 AS v")
    assert(code == 200 && out == "42\n")
    val enc = URLEncoder.encode("SELECT r_name FROM region", "UTF-8")
    val (c2, o2, _) = http("POST", s"/?query=$enc", "ORDER BY r_name LIMIT 2")
    assert(c2 == 200 && o2 == "AFRICA\nAMERICA\n")
  }

  test("FORMAT TabSeparatedWithNames / CSVWithNames / Values") {
    assert(get("SELECT 1 AS a, 'b,c' AS s FORMAT TabSeparatedWithNames") ==
      "a\ts\n1\tb,c\n")
    assert(get("SELECT 1 AS a, 'b,c' AS s FORMAT CSVWithNames") ==
      "a,s\n1,\"b,c\"\n")
    assert(get("SELECT 1 AS a, 'it''s' AS s FORMAT Values") ==
      "(1,'it\\'s')\n")
  }

  test("FORMAT JSONEachRow: Int64 quoted per CH default, arrays/nulls native") {
    val out = get(
      "SELECT CAST(7 AS BIGINT) AS n, array(1, 2) AS a, CAST(NULL AS INT) AS z FORMAT JSONEachRow")
    assert(out == """{"n":"7","a":[1,2],"z":null}""" + "\n")
  }

  test("FORMAT JSON: meta carries CH type names, data rows are column-keyed OBJECTS") {
    val out = get(
      "SELECT CAST(1 AS INT) AS i, 'x' AS s, CAST(2.5 AS DOUBLE) AS d FORMAT JSON")
    assert(out.contains(""""name":"i","type":"Int32""""))
    assert(out.contains(""""name":"s","type":"String""""))
    assert(out.contains(""""name":"d","type":"Float64""""))
    assert(out.contains(""""rows":1"""))
    // CH's JSON format emits each data row as an object keyed by column
    // name (ADVICE r17); the positional-array shape is JSONCompact.
    assert(out.contains(""""data":[{"i":1,"s":"x","d":2.5}]"""))
  }

  test("FORMAT JSONCompact: same envelope, data rows as positional arrays") {
    val out = get(
      "SELECT CAST(1 AS INT) AS i, 'x' AS s FORMAT JSONCompact")
    assert(out.contains(""""data":[[1,"x"]]"""))
    assert(out.contains(""""rows":1"""))
    assert(get("SELECT CAST(1 AS INT) AS i, 'x' AS s FORMAT JSONCompactEachRow") ==
      "[1,\"x\"]\n")
  }

  test("default_format param applies when the query has no FORMAT clause") {
    val enc = URLEncoder.encode("SELECT 5 AS v", "UTF-8")
    val (_, out, _) = http("GET", s"/?query=$enc&default_format=JSONEachRow")
    assert(out == """{"v":5}""" + "\n")
  }

  test("CH dialect works over the wire: PREWHERE + LIMIT BY text") {
    val out = get(
      """SELECT n_regionkey, n_name FROM nation
        |PREWHERE n_regionkey < 2
        |ORDER BY n_regionkey, n_name LIMIT 1 BY n_regionkey""".stripMargin)
    val spark2 = spark
    import spark2.implicits._
    val expected = Engine.t(spark, sf, "nation")
      .filter("n_regionkey < 2").orderBy("n_regionkey", "n_name")
      .groupBy("n_regionkey").agg(org.apache.spark.sql.functions.min("n_name").as("n_name"))
      .orderBy("n_regionkey")
      .select("n_regionkey", "n_name")
      .as[(Long, String)].collect().map { case (k, n) => s"$k\t$n" }.mkString("", "\n", "\n")
    assert(out == expected)
  }

  test("aggregate over a registered table matches the direct plan") {
    val direct = Engine.t(spark, sf, "lineitem").filter("l_quantity < 10").count()
    // CH's count() is count(*)
    Seq("count(*)", "count()").foreach { agg =>
      val out = get(s"SELECT $agg AS n FROM lineitem WHERE l_quantity < 10")
      assert(out == s"$direct\n", agg)
    }
  }

  test("SET is a session no-op: the shared Spark session keeps its conf") {
    val before = spark.conf.get("spark.sql.session.timeZone")
    val (code, out, _) = http("POST", "/", "SET spark.sql.session.timeZone=Asia/Tokyo")
    assert(code == 200 && out.isEmpty)
    assert(spark.conf.get("spark.sql.session.timeZone") == before)
    assert(before == "UTC")
  }

  test("bad SQL → HTTP 400 with Code: 62 body and header (CH status mapping)") {
    val enc = URLEncoder.encode("SELEC 1 FRM dual", "UTF-8")
    val (code, out, headers) = http("GET", s"/?query=$enc")
    assert(code == 400) // CH maps SYNTAX_ERROR to 400, not 500
    assert(out.startsWith("Code: 62. DB::Exception:"))
    // unresolved identifiers get their own CH code (47), not 62
    val enc47 = URLEncoder.encode("SELECT no_such_col FROM region", "UTF-8")
    val (c47, o47, _) = http("GET", s"/?query=$enc47")
    assert(c47 == 400 && o47.startsWith("Code: 47."))
    // com.sun.net.httpserver.Headers normalizes header-name casing
    val exCode = headers.collectFirst {
      case (k, v) if k.equalsIgnoreCase("X-ClickHouse-Exception-Code") => v
    }
    assert(exCode.contains("62"))
  }

  test("unknown table → HTTP 404 with Code: 60 (UNKNOWN_TABLE)") {
    val enc = URLEncoder.encode("SELECT * FROM no_such_table_xyz", "UTF-8")
    val (code, out, _) = http("GET", s"/?query=$enc")
    assert(code == 404)
    assert(out.startsWith("Code: 60. DB::Exception:"))
  }

  test("unknown FORMAT → HTTP 400 with Code: 73, not a silent default") {
    val enc = URLEncoder.encode("SELECT 1 FORMAT NoSuchFormat", "UTF-8")
    val (code, out, _) = http("GET", s"/?query=$enc")
    assert(code == 400)
    assert(out.startsWith("Code: 73. DB::Exception:"))
  }

  test("INSERT VALUES + FORMAT TabSeparated/CSV/JSONEachRow round-trip") {
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, "one", 1.5)).toDF("k", "s", "v").createOrReplaceTempView("ins_spec")
    // inline VALUES, with a column subset (missing col → NULL)
    val enc1 = URLEncoder.encode("INSERT INTO ins_spec (k, s) VALUES (2, 'two')", "UTF-8")
    val (c1, _, h1) = http("POST", s"/?query=$enc1")
    assert(c1 == 200)
    assert(h1.exists { case (k, v) =>
      k.equalsIgnoreCase("X-ClickHouse-Summary") && v.contains("\"written_rows\":\"1\"") })
    // TSV block in the POST body, CH escaping (\t in a value, \N null)
    val enc2 = URLEncoder.encode("INSERT INTO ins_spec FORMAT TabSeparated", "UTF-8")
    assert(http("POST", s"/?query=$enc2", "3\tth\\tree\t\\N")._1 == 200)
    // JSONEachRow block
    val enc3 = URLEncoder.encode("INSERT INTO ins_spec FORMAT JSONEachRow", "UTF-8")
    assert(http("POST", s"/?query=$enc3", """{"k":4,"s":"four","v":4.25}""")._1 == 200)
    // CSV block with a quoted comma
    val enc4 = URLEncoder.encode("INSERT INTO ins_spec FORMAT CSV", "UTF-8")
    assert(http("POST", s"/?query=$enc4", "5,\"fi,ve\",5.5")._1 == 200)
    // FORMAT Values with the tuple list as the body (CH's other
    // inline form — the body goes through Spark's VALUES parser)
    val enc5 = URLEncoder.encode("INSERT INTO ins_spec FORMAT Values", "UTF-8")
    assert(http("POST", s"/?query=$enc5", "(6, 'six', 6.75)")._1 == 200)
    val out = get("SELECT k, s, v FROM ins_spec ORDER BY k")
    assert(out ==
      "1\tone\t1.5\n2\ttwo\t\\N\n3\tth\\tree\t\\N\n4\tfour\t4.25\n5\tfi,ve\t5.5\n6\tsix\t6.75\n")
  }

  test("INSERT INTO t SELECT routes the query side through the dialect rewriter") {
    val spark2 = spark
    import spark2.implicits._
    Seq((0L, "seed")).toDF("k", "s").createOrReplaceTempView("ins_sel")
    val enc = URLEncoder.encode(
      "INSERT INTO ins_sel SELECT r_regionkey + 10, r_name FROM region PREWHERE r_regionkey < 2",
      "UTF-8")
    val (c, _, h) = http("POST", s"/?query=$enc")
    assert(c == 200)
    assert(h.exists { case (k, v) =>
      k.equalsIgnoreCase("X-ClickHouse-Summary") && v.contains("\"written_rows\":\"2\"") })
    assert(get("SELECT k, s FROM ins_sel ORDER BY k") ==
      "0\tseed\n10\tAFRICA\n11\tAMERICA\n")
  }

  test("TSV data block keeps a leading empty field and single-column blank lines (ADVICE r18)") {
    val spark2 = spark
    import spark2.implicits._
    Seq(("seed", 0L)).toDF("s", "k").createOrReplaceTempView("ins_tab")
    // first row starts with an EMPTY first field — the old body-trim
    // ate the leading tab and broke a valid row with an arity error
    val enc = URLEncoder.encode("INSERT INTO ins_tab FORMAT TabSeparated", "UTF-8")
    assert(http("POST", s"/?query=$enc", "\t1\nx\t2\n")._1 == 200)
    assert(get("SELECT s, k FROM ins_tab ORDER BY k") == "seed\t0\n\t1\nx\t2\n")
    // single-column table: a mid-block blank line is one empty-string
    // row, not silently dropped
    Seq("a").toDF("s").createOrReplaceTempView("ins_one")
    val enc1 = URLEncoder.encode("INSERT INTO ins_one FORMAT TabSeparated", "UTF-8")
    assert(http("POST", s"/?query=$enc1", "b\n\nc\n")._1 == 200)
    assert(get("SELECT count(*) AS n FROM ins_one") == "4\n")
    assert(get("SELECT count(*) AS e FROM ins_one WHERE s = ''") == "1\n")
  }

  test("INSERT INTO t SELECT FROM t reads a pre-insert snapshot, counts what was written") {
    val spark2 = spark
    import spark2.implicits._
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("ins_self")
    // the source executes ONCE (write-then-count-files, ADVICE r18);
    // self-referencing INSERT must not re-read the dir it appends to
    val enc = URLEncoder.encode("INSERT INTO ins_self SELECT k + 10 FROM ins_self", "UTF-8")
    val (c, _, h) = http("POST", s"/?query=$enc")
    assert(c == 200)
    assert(h.exists { case (k, v) =>
      k.equalsIgnoreCase("X-ClickHouse-Summary") && v.contains("\"written_rows\":\"3\"") })
    assert(get("SELECT k FROM ins_self ORDER BY k") == "1\n2\n3\n11\n12\n13\n")
  }

  test("INSERT into an unknown table → 404 / Code: 60") {
    val enc = URLEncoder.encode("INSERT INTO no_such_ingest_tbl VALUES (1)", "UTF-8")
    val (code, out, _) = http("POST", s"/?query=$enc")
    assert(code == 404 && out.startsWith("Code: 60."))
  }

  test("settings params: max_result_rows break/throw, json int64 quoting, query_id echo") {
    val enc = URLEncoder.encode("SELECT explode(sequence(1, 100)) AS n", "UTF-8")
    // break truncates the stream at the cap, like CH
    val (cb, ob, _) = http("GET",
      s"/?query=$enc&max_result_rows=5&result_overflow_mode=break")
    assert(cb == 200 && ob == "1\n2\n3\n4\n5\n")
    // throw (the CH default) aborts with code 396 LIMIT_EXCEEDED —
    // mid-stream, so the marker is the in-body trailer
    val (_, ot, _) = http("GET", s"/?query=$enc&max_result_rows=5")
    assert(ot.contains("Code: 396"), s"expected 396 trailer, got: $ot")
    // output_format_json_quote_64bit_integers=0 → bare Int64
    val encJ = URLEncoder.encode("SELECT CAST(7 AS BIGINT) AS n FORMAT JSONEachRow", "UTF-8")
    assert(http("GET", s"/?query=$encJ&output_format_json_quote_64bit_integers=0")._2 ==
      """{"n":7}""" + "\n")
    // query_id echoes back as the CH header
    val enc1 = URLEncoder.encode("SELECT 1", "UTF-8")
    val (_, _, h) = http("GET", s"/?query=$enc1&query_id=qz42")
    assert(h.exists { case (k, v) =>
      k.equalsIgnoreCase("X-ClickHouse-Query-Id") && v == "qz42" })
  }

  test("Pretty caps at 10,000 rows like CH and notes the cut") {
    val out = get("SELECT explode(sequence(1, 10050)) AS n FORMAT Pretty")
    assert(out.endsWith("Showed first 10000.\n"))
    // 10000 data rows + header row + 3 bars + the cut note
    assert(out.linesIterator.count(_.startsWith("│")) == 10001)
  }

  test("Pretty renders a box table; Null executes and emits nothing") {
    val pretty = get("SELECT 1 AS a FORMAT Pretty")
    assert(pretty.contains("│ a │") && pretty.contains("│ 1 │"))
    assert(get("SELECT 1 AS a FORMAT Null") == "")
  }

  test("splitFormat keeps EXPLAIN FORMATTED and date_format intact") {
    assert(ChSql.splitFormat("EXPLAIN FORMATTED SELECT 1") ==
      ("EXPLAIN FORMATTED SELECT 1", None))
    assert(ChSql.splitFormat("SELECT date_format(now(), 'yyyy') AS y") ==
      ("SELECT date_format(now(), 'yyyy') AS y", None))
    assert(ChSql.splitFormat("SELECT 1 FORMAT JSON;") == ("SELECT 1", Some("JSON")))
  }

  test("concurrent clients: 8 parallel queries all answer correctly") {
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    val fs = (1 to 8).map(i => Future(get(s"SELECT ${i * 10} AS v")))
    val got = Await.result(Future.sequence(fs), 120.seconds)
    assert(got == (1 to 8).map(i => s"${i * 10}\n"))
  }
}
