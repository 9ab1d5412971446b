package graft

import java.net.{HttpURLConnection, URL, URLEncoder}

import org.scalatest.funsuite.AnyFunSuite

import graft.server.{Auth, HttpSqlEndpoint, MySqlEndpoint, PgEndpoint}

/** Round-19 wire-door surfaces: CH text DDL (CREATE TABLE/MV — VERDICT
  * r18 next #3), credentials + readonly profile on all three doors
  * (next #4), CH EXPLAIN modes (next #8), and INSERT over the
  * MySQL/PG doors. */
class DdlAuthSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def http(running: HttpSqlEndpoint.Running, q: String,
      headers: Map[String, String] = Map.empty): (Int, String) = {
    val conn = new URL(running.url + "/").openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    conn.setDoOutput(true)
    conn.getOutputStream.write(q.getBytes("UTF-8"))
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = new String(in.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, text)
  }

  // ---- DDL -------------------------------------------------------------

  test("CH type grammar maps per SURVEY §1.2") {
    import org.apache.spark.sql.types._
    assert(ChDdl.chType("UInt64") == (DecimalType(20, 0), false))
    assert(ChDdl.chType("Nullable(String)") == (StringType, true))
    assert(ChDdl.chType("LowCardinality(String)") == (StringType, false))
    assert(ChDdl.chType("Array(Nullable(Int32))") == (ArrayType(IntegerType, true), false))
    assert(ChDdl.chType("Decimal(18, 4)") == (DecimalType(18, 4), false))
    assert(ChDdl.chType("DateTime64(3)") == (TimestampType, false))
    assert(ChDdl.chType("Enum8('a' = 1, 'b' = 2)") == (StringType, false))
    intercept[IllegalArgumentException](ChDdl.chType("Tuple(Int32, Int32)"))
  }

  test("CREATE TABLE registers a typed empty view; SHOW CREATE TABLE round-trips") {
    val df = ChSql.sql(spark,
      """CREATE TABLE ddl_t1 (k UInt32, s Nullable(String), p Decimal(18,2))
        |ENGINE = MergeTree ORDER BY k PARTITION BY k % 10""".stripMargin)
    assert(df.columns.isEmpty) // DDL returns an empty result
    assert(spark.table("ddl_t1").count() == 0)
    assert(spark.table("ddl_t1").schema.fieldNames.toSeq == Seq("k", "s", "p"))
    val stmt = ChSql.sql(spark, "SHOW CREATE TABLE ddl_t1").collect().head.getString(0)
    assert(stmt.contains("ORDER BY (k)") && stmt.contains("PARTITION BY k % 10"))
    assert(ChSql.sql(spark, "DROP TABLE ddl_t1").collect().isEmpty)
    intercept[Exception](spark.table("ddl_t1").count())
    // IF EXISTS tolerates a missing table; bare DROP refuses
    ChSql.sql(spark, "DROP TABLE IF EXISTS ddl_t1")
    intercept[IllegalArgumentException](ChSql.sql(spark, "DROP TABLE ddl_t1"))
  }

  test("ReplacingMergeTree DDL wires FINAL; SAMPLE BY wires SAMPLE") {
    Engine.registerAll(spark, sf)
    val running = HttpSqlEndpoint.start(spark, 0, auth = None)
    try {
      http(running,
        """CREATE TABLE ddl_rmt (k Int64, v Int64, ver Int64)
          |ENGINE = ReplacingMergeTree(ver) ORDER BY k""".stripMargin)
      http(running, "INSERT INTO ddl_rmt VALUES (1, 10, 1), (1, 20, 2), (2, 5, 1)")
      val (c, body) = http(running,
        "SELECT k, v FROM ddl_rmt FINAL ORDER BY k FORMAT TabSeparated")
      assert(c == 200 && body == "1\t20\n2\t5\n")
    } finally running.stop()
  }

  test("SHOW CREATE TABLE keeps the engine and SAMPLE BY; replaying it restores FINAL") {
    def rows(q: String) = ChSql.sql(spark, q).collect().toSeq.map(_.toSeq)
    ChSql.sql(spark,
      "CREATE TABLE ddl_rt (k Int64, v Int64, ver Int64) ENGINE = ReplacingMergeTree(ver) ORDER BY k SAMPLE BY k")
    val stmt = rows("SHOW CREATE TABLE ddl_rt").head.head.toString
    assert(stmt.contains(" ENGINE = ReplacingMergeTree(ver) ") && stmt.endsWith(" SAMPLE BY k"), stmt)
    assert(rows("SELECT engine FROM system.tables WHERE name = 'ddl_rt'") ==
      Seq(Seq("ReplacingMergeTree")))
    ChSql.sql(spark, "DROP TABLE ddl_rt")
    ChSql.sql(spark, stmt)
    assert(rows("SHOW CREATE TABLE ddl_rt") == Seq(Seq(stmt)))
    ChDdl.ingest(spark, "INSERT INTO ddl_rt VALUES (1, 10, 1), (1, 20, 2), (2, 5, 1)")
    assert(rows("SELECT k, v FROM ddl_rt FINAL ORDER BY k") == Seq(Seq(1L, 20L), Seq(2L, 5L)))
    ChSql.sql(spark, "CREATE MATERIALIZED VIEW ddl_rt_mv AS SELECT k, max(v) AS m FROM ddl_rt GROUP BY k")
    assert(rows("SELECT engine FROM system.tables WHERE name = 'ddl_rt_mv'") ==
      Seq(Seq("MaterializedView")))
    ChSql.sql(spark, "DROP TABLE ddl_rt_mv")
    // a CREATE over the name replaces its engine: FINAL is refused, not collapsed by the old key
    ChSql.sql(spark, "CREATE TABLE ddl_rt (k Int64, v Int64, ver Int64) ENGINE = MergeTree ORDER BY k")
    ChDdl.ingest(spark, "INSERT INTO ddl_rt VALUES (1, 10, 1), (1, 20, 2)")
    val e = intercept[IllegalArgumentException](rows("SELECT k, v FROM ddl_rt FINAL"))
    assert(e.getMessage.contains("no ReplacingMergeTree metadata"), e.getMessage)
    ChSql.sql(spark, "DROP TABLE ddl_rt")
  }

  test("init-script sequence: CREATE TABLE + INSERTs + MV maintained across inserts") {
    Engine.registerAll(spark, sf)
    val running = HttpSqlEndpoint.start(spark, 0, auth = None)
    try {
      http(running,
        """CREATE TABLE ddl_ev (ts DateTime, site String, n UInt32)
          |ENGINE = MergeTree ORDER BY (site, ts) PARTITION BY toYYYYMM(ts)""".stripMargin)
      http(running, "INSERT INTO ddl_ev VALUES ('2024-01-05 10:00:00', 'a', 3)")
      http(running,
        "CREATE MATERIALIZED VIEW ddl_ev_mv AS SELECT site, sum(n) AS total FROM ddl_ev GROUP BY site")
      // MV sees pre-existing rows
      assert(http(running, "SELECT site, total FROM ddl_ev_mv ORDER BY site FORMAT TabSeparated")._2
        == "a\t3\n")
      // …and rows inserted AFTER its creation (insert-driven maintenance)
      val (ic, ib) = http(running,
        "INSERT INTO ddl_ev FORMAT TabSeparated\n2024-02-01 00:00:00\tb\t7\n2024-01-06 09:00:00\ta\t2\n")
      assert(ic == 200, s"second insert failed: $ib")
      assert(http(running, "SELECT site, total FROM ddl_ev_mv ORDER BY site FORMAT TabSeparated")._2
        == "a\t5\nb\t7\n")
      // the partition expression materialized directory partitions
      assert(http(running,
        "SELECT toYYYYMM(ts) AS ym, count(*) AS c FROM ddl_ev GROUP BY ym ORDER BY ym FORMAT TabSeparated")._2
        == "202401\t2\n202402\t1\n")
    } finally running.stop()
  }

  // ---- EXPLAIN modes ------------------------------------------------------

  test("CH EXPLAIN AST/SYNTAX/PLAN/PIPELINE map to Catalyst stages") {
    Engine.registerAll(spark, sf)
    def text(mode: String): String =
      ChSql.sql(spark, s"EXPLAIN $mode SELECT count(*) FROM region PREWHERE r_regionkey < 3")
        .collect().map(_.getString(0)).mkString("\n")
    assert(text("SYNTAX").contains("WHERE")) // the desugared text
    assert(!text("SYNTAX").toUpperCase.contains("PREWHERE"))
    assert(text("AST").contains("'UnresolvedRelation"))
    assert(text("PLAN").contains("Aggregate"))
    assert(text("PIPELINE").contains("HashAggregate"))
  }

  // ---- auth + readonly ------------------------------------------------------

  test("HTTP door: credentials via basic auth / CH headers / params; 516 on mismatch") {
    Engine.registerAll(spark, sf)
    val running = HttpSqlEndpoint.start(spark, 0,
      auth = Some(Auth("analyst", "s3cret")))
    try {
      // no credentials → 403 / Code: 516
      val (c0, b0) = http(running, "SELECT 1")
      assert(c0 == 403 && b0.startsWith("Code: 516."))
      // wrong password → rejected
      assert(http(running, "SELECT 1",
        Map("X-ClickHouse-User" -> "analyst", "X-ClickHouse-Key" -> "nope"))._1 == 403)
      // CH headers
      assert(http(running, "SELECT 41 + 1",
        Map("X-ClickHouse-User" -> "analyst", "X-ClickHouse-Key" -> "s3cret")) ==
        (200, "42\n"))
      // basic auth
      val basic = java.util.Base64.getEncoder.encodeToString("analyst:s3cret".getBytes)
      assert(http(running, "SELECT 2 + 2", Map("Authorization" -> s"Basic $basic")) ==
        (200, "4\n"))
      // URL params
      val conn = new URL(running.url + "/?user=analyst&password=s3cret&query=" +
        URLEncoder.encode("SELECT 7", "UTF-8")).openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(new String(conn.getInputStream.readAllBytes(), "UTF-8") == "7\n")
    } finally running.stop()
  }

  test("HTTP door: readonly profile rejects writes with Code: 164, allows reads") {
    Engine.registerAll(spark, sf)
    val running = HttpSqlEndpoint.start(spark, 0,
      auth = Some(Auth("ro", "", readonly = true)))
    try {
      val h = Map("X-ClickHouse-User" -> "ro", "X-ClickHouse-Key" -> "")
      assert(http(running, "SELECT count(*) FROM region", h)._1 == 200)
      val (c, b) = http(running, "INSERT INTO region VALUES (9, 'X')", h)
      assert(c == 403 && b.startsWith("Code: 164."))
      assert(http(running, "CREATE TABLE ro_t (k Int32) ENGINE = MergeTree ORDER BY k", h)._1 == 403)
    } finally running.stop()
  }

  test("readonly profile: comment-led DROP, EXECUTE IMMEDIATE and WITH … INSERT get Code: 164") {
    val dir = Engine.scratch(spark, "ddl_auth", "ro_pv")
    spark.range(3).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("ro_pv")
    spark.range(3).createOrReplaceTempView("ro_v")
    val running = HttpSqlEndpoint.start(spark, 0,
      auth = Some(Auth("ro", "", readonly = true)))
    try {
      val h = Map("X-ClickHouse-User" -> "ro", "X-ClickHouse-Key" -> "")
      Seq("/* c */ DROP TABLE ro_v",
        "EXECUTE IMMEDIATE 'DROP TABLE ro_v'",
        "WITH t AS (SELECT 7L id) INSERT INTO ro_pv SELECT * FROM t",
        s"INSERT OVERWRITE DIRECTORY '$dir' USING parquet SELECT 7L id").foreach { q =>
        val (c, b) = http(running, q, h)
        assert(c == 403 && b.startsWith("Code: 164."), s"$q answered $c: $b")
      }
      assert(spark.table("ro_v").count() == 3)
      assert(spark.read.parquet(dir).count() == 3, "no file may land in the view's dir")
      // reads, SHOW/DESCRIBE/EXPLAIN and session no-ops still run
      Seq("WITH t AS (SELECT id FROM ro_pv) SELECT count(*) FROM t", "SHOW TABLES",
        "DESCRIBE ro_pv", "EXPLAIN SELECT * FROM ro_v", "SET max_threads = 1")
        .foreach(q => assert(http(running, q, h)._1 == 200, q))
    } finally running.stop()
  }

  // ---- MySQL door: chatter + auth + insert -------------------------------------

  private class MyClient(port: Int) {
    val sock = new java.net.Socket("127.0.0.1", port)
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
    /** Auth-plugin nonce (part 1 + 2) parsed from the HandshakeV10
      * greeting — per-connection since r20, so the client must read it
      * off the wire like a real one. */
    private def parseNonce(greeting: Array[Byte]): Array[Byte] = {
      var off = 1
      while (greeting(off) != 0) off += 1 // server version
      off += 1 + 4                        // NUL + connection id
      val part1 = greeting.slice(off, off + 8)
      off += 8 + 1 + 2 + 1 + 2 + 2 + 1 + 10 // filler caps charset status caps2 alen reserved
      val part2 = greeting.slice(off, off + 12)
      part1 ++ part2
    }
    /** HandshakeResponse41 with optional mysql_native_password scramble
      * computed against the greeting's own nonce. */
    def login(user: String, password: Option[String]): Array[Byte] = {
      val greeting = readPkt()
      val scramble = password match {
        case Some(p) => Auth.mysqlNativeScramble(p, parseNonce(greeting))
        case None    => Array.emptyByteArray
      }
      val b = java.nio.ByteBuffer.allocate(160).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt((0x0200L | 0x8000L | 0x80000L).toInt).putInt(1 << 24)
        .put(33.toByte).put(new Array[Byte](23))
        .put(user.getBytes("UTF-8")).put(0.toByte)
        .put(scramble.length.toByte).put(scramble)
        .put("mysql_native_password".getBytes("UTF-8")).put(0.toByte)
      writePkt(1, java.util.Arrays.copyOf(b.array(), b.position()))
      readPkt()
    }
    def lenenc(p: Array[Byte], off: Int): (Long, Int) = (p(off) & 0xff) match {
      case 0xfc => ((p(off + 1) & 0xffL) | ((p(off + 2) & 0xffL) << 8), 3)
      case 0xfd => ((p(off + 1) & 0xffL) | ((p(off + 2) & 0xffL) << 8) | ((p(off + 3) & 0xffL) << 16), 4)
      case 0xfe => ((0 until 8).map(i => (p(off + 1 + i) & 0xffL) << (8 * i)).sum, 9)
      case v    => (v.toLong, 1)
    }
    /** COM_QUERY returning either Left(ok/err head packet) or
      * Right(column names, rows). */
    def query(sql: String): Either[Array[Byte], (Seq[String], Seq[Seq[Option[String]]])] = {
      writePkt(0, Array[Byte](0x03) ++ sql.getBytes("UTF-8"))
      val head = readPkt()
      if ((head(0) & 0xff) == 0x00 || (head(0) & 0xff) == 0xff) Left(head)
      else {
        val nCols = lenenc(head, 0)._1.toInt
        val names = (1 to nCols).map { _ =>
          val cd = readPkt()
          var off = 0
          for (_ <- 0 until 4) { val (n, c) = lenenc(cd, off); off += c + n.toInt }
          val (n, c) = lenenc(cd, off)
          new String(cd, off + c, n.toInt, "UTF-8")
        }
        require((readPkt()(0) & 0xff) == 0xfe)
        val rows = Seq.newBuilder[Seq[Option[String]]]
        var done = false
        while (!done) {
          val p = readPkt()
          if ((p(0) & 0xff) == 0xfe && p.length < 9) done = true
          else {
            var off = 0
            rows += names.indices.map { _ =>
              if ((p(off) & 0xff) == 0xfb) { off += 1; None }
              else {
                val (n, c) = lenenc(p, off)
                val s = new String(p, off + c, n.toInt, "UTF-8")
                off += c + n.toInt
                Some(s)
              }
            }
          }
        }
        Right((names, rows.result()))
      }
    }
    def close(): Unit = sock.close()
  }

  test("MySQL door: stock-client session chatter (SET NAMES, @@vars, SHOW VARIABLES/TABLES)") {
    Engine.registerAll(spark, sf)
    val running = MySqlEndpoint.start(spark, 0, auth = None)
    val c = new MyClient(running.port)
    try {
      assert((c.login("default", None)(0) & 0xff) == 0x00)
      // the exact opening sequence mysql/JDBC send
      assert(c.query("SET NAMES utf8mb4").left.exists(p => (p(0) & 0xff) == 0x00))
      assert(c.query("SET autocommit=1").left.exists(p => (p(0) & 0xff) == 0x00))
      val vc = c.query("SELECT @@version_comment").toOption.get
      assert(vc._1 == Seq("@@version_comment"))
      assert(vc._2.head.head.exists(_.contains("graft")))
      val multi = c.query(
        "SELECT @@session.auto_increment_increment AS inc, @@max_allowed_packet").toOption.get
      assert(multi._1 == Seq("inc", "@@max_allowed_packet"))
      assert(multi._2.head == Seq(Some("1"), Some("67108864")))
      val vars = c.query("SHOW VARIABLES LIKE 'char%'").toOption.get
      assert(vars._1 == Seq("Variable_name", "Value"))
      assert(vars._2.exists(_.head.contains("character_set_client")))
      val dbs = c.query("SHOW DATABASES").toOption.get
      assert(dbs._2 == Seq(Seq(Some("default"))))
      val tabs = c.query("SHOW TABLES").toOption.get
      assert(tabs._1 == Seq("Tables_in_default"))
      assert(tabs._2.flatten.flatten.contains("region"))
      // a real query still works after the chatter
      val r = c.query("SELECT count(*) AS n FROM region").toOption.get
      assert(r._2 == Seq(Seq(Some("5"))))
    } finally { c.close(); running.stop() }
  }

  test("MySQL door: INSERT over the wire answers OK with affected rows") {
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, "a")).toDF("k", "s").createOrReplaceTempView("my_ins")
    val running = MySqlEndpoint.start(spark, 0, auth = None)
    val c = new MyClient(running.port)
    try {
      c.login("default", None)
      val ok = c.query("INSERT INTO my_ins VALUES (2, 'b'), (3, 'c')").left.toOption.get
      assert((ok(0) & 0xff) == 0x00)
      assert(c.lenenc(ok, 1)._1 == 2L) // affected rows
      val r = c.query("SELECT k FROM my_ins ORDER BY k").toOption.get
      assert(r._2.flatten.flatten == Seq("1", "2", "3"))
    } finally { c.close(); running.stop() }
  }

  test("MySQL door: mysql_native_password accept + reject; readonly rejects writes") {
    val running = MySqlEndpoint.start(spark, 0,
      auth = Some(Auth("analyst", "s3cret", readonly = true)))
    val good = new MyClient(running.port)
    try {
      val ok = good.login("analyst", Some("s3cret"))
      assert((ok(0) & 0xff) == 0x00, "correct scramble must log in")
      val err = good.query("INSERT INTO region VALUES (9, 'X')").left.toOption.get
      assert((err(0) & 0xff) == 0xff && new String(err, "UTF-8").contains("readonly"))
      assert(good.query("SELECT 1").isRight) // reads still fine
    } finally good.close()
    val bad = new MyClient(running.port)
    try {
      val err = bad.login("analyst", Some("wrong"))
      assert((err(0) & 0xff) == 0xff, "wrong password must get ERR 1045")
      assert(new String(err, "UTF-8").contains("Access denied"))
    } finally { bad.close(); running.stop() }
  }

  // ---- PG door: chatter + extended protocol + auth -------------------------------

  private class PgClient(port: Int) {
    val sock = new java.net.Socket("127.0.0.1", port)
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
    def send(tag: Char, body: Array[Byte]): Unit = {
      out.write(tag)
      val n = body.length + 4
      out.write((n >> 24) & 0xff); out.write((n >> 16) & 0xff)
      out.write((n >> 8) & 0xff); out.write(n & 0xff)
      out.write(body); out.flush()
    }
    def startup(user: String): Unit = {
      val sb = new java.io.ByteArrayOutputStream()
      sb.write(Array[Byte](0, 3, 0, 0))
      sb.write("user".getBytes("UTF-8")); sb.write(0)
      sb.write(user.getBytes("UTF-8")); sb.write(0); sb.write(0)
      val b = sb.toByteArray
      val len = b.length + 4
      out.write(Array[Byte](((len >> 24) & 0xff).toByte, ((len >> 16) & 0xff).toByte,
        ((len >> 8) & 0xff).toByte, (len & 0xff).toByte))
      out.write(b); out.flush()
    }
    def cstr(s: String): Array[Byte] = s.getBytes("UTF-8") :+ 0.toByte
    def untilReady(): Seq[(Char, Array[Byte])] = {
      val msgs = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val m = readMsg()
        msgs += m
        if (m._1 == 'Z') done = true
      }
      msgs.result()
    }
    def close(): Unit = sock.close()
  }

  test("PG door: SET/BEGIN/DEALLOCATE chatter, empty query, INSERT tag") {
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, "a")).toDF("k", "s").createOrReplaceTempView("pg_ins")
    val running = PgEndpoint.start(spark, 0, auth = None)
    val c = new PgClient(running.port)
    try {
      c.startup("default")
      c.untilReady()
      def simple(sql: String): Seq[(Char, String)] = {
        c.send('Q', c.cstr(sql))
        c.untilReady().map { case (t, b) => (t, new String(b, "UTF-8")) }
      }
      assert(simple("SET extra_float_digits = 3").exists {
        case ('C', s) => s.startsWith("SET"); case _ => false })
      assert(simple("BEGIN").exists { case ('C', s) => s.startsWith("BEGIN"); case _ => false })
      assert(simple("DEALLOCATE ALL").exists {
        case ('C', s) => s.startsWith("DEALLOCATE"); case _ => false })
      assert(simple("").exists(_._1 == 'I')) // EmptyQueryResponse
      assert(simple("INSERT INTO pg_ins VALUES (2, 'b')").exists {
        case ('C', s) => s.startsWith("INSERT 0 1"); case _ => false })
      val sel = simple("SELECT k FROM pg_ins ORDER BY k")
      assert(sel.count(_._1 == 'D') == 2)
    } finally { c.close(); running.stop() }
  }

  test("PG door: extended protocol Parse/Bind/Describe/Execute/Sync (JDBC shape)") {
    Engine.registerAll(spark, sf)
    val running = PgEndpoint.start(spark, 0, auth = None)
    val c = new PgClient(running.port)
    try {
      c.startup("default")
      c.untilReady()
      // Parse unnamed statement, bind unnamed portal, describe, execute, sync
      c.send('P', c.cstr("") ++ c.cstr("SELECT r_regionkey FROM region ORDER BY r_regionkey") ++
        Array[Byte](0, 0))
      c.send('B', c.cstr("") ++ c.cstr("") ++
        Array[Byte](0, 0, 0, 0, 0, 0)) // no formats, no params, no result formats
      c.send('D', Array[Byte]('P'.toByte) ++ c.cstr(""))
      c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
      c.send('S', Array.emptyByteArray)
      val msgs = c.untilReady()
      val tags = msgs.map(_._1)
      assert(tags.containsSlice(Seq('1', '2', 'T'))) // Parse/Bind/RowDescription
      assert(msgs.count(_._1 == 'D') == 5)
      assert(msgs.exists { case ('C', b) => new String(b, "UTF-8").startsWith("SELECT 5")
        case _ => false })
      assert(tags.last == 'Z')
    } finally { c.close(); running.stop() }
  }

  test("PG door: Describe is metadata-only — P/B/D/E inserts ONCE, DROP drops at Execute") {
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, "a")).toDF("k", "s").createOrReplaceTempView("pg_dstate")
    val running = PgEndpoint.start(spark, 0, auth = None)
    val c = new PgClient(running.port)
    try {
      c.startup("default")
      c.untilReady()
      def extended(sql: String): Seq[(Char, Array[Byte])] = {
        c.send('P', c.cstr("") ++ c.cstr(sql) ++ Array[Byte](0, 0))
        c.send('B', c.cstr("") ++ c.cstr("") ++ Array[Byte](0, 0, 0, 0, 0, 0))
        c.send('D', Array[Byte]('P'.toByte) ++ c.cstr(""))
        c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
        c.send('S', Array.emptyByteArray)
        c.untilReady()
      }
      // the JDBC-shaped sequence must insert exactly ONE row (ADVICE
      // r19: Describe executed the INSERT too → rows landed twice)
      val ins = extended("INSERT INTO pg_dstate VALUES (2, 'b')")
      assert(ins.exists { case ('C', b) => new String(b, "UTF-8").startsWith("INSERT 0 1")
        case _ => false })
      assert(spark.table("pg_dstate").count() == 2, "Describe must not run the INSERT")
      // DDL: Describe answers NoData without executing; the drop
      // happens at Execute (ADVICE r19: DROP dropped at Describe then
      // errored at Execute)
      ChSql.sql(spark, "CREATE TABLE pg_ddl_t (k Int64) ENGINE = MergeTree ORDER BY k")
      val dr = extended("DROP TABLE pg_ddl_t")
      assert(dr.exists(_._1 == 'n'), "Describe(DROP) must answer NoData")
      assert(dr.exists { case ('C', b) => new String(b, "UTF-8").startsWith("DROP TABLE")
        case _ => false }, "Execute must complete the DROP cleanly")
      intercept[Exception](spark.table("pg_ddl_t").count())
    } finally { c.close(); running.stop() }
  }

  test("PG door: extended-protocol errors answer ErrorResponse + skip to Sync, session survives") {
    val running = PgEndpoint.start(spark, 0, auth = None)
    val c = new PgClient(running.port)
    try {
      c.startup("default")
      c.untilReady()
      // Bind to a statement that was never parsed → ErrorResponse (not
      // a dropped socket, ADVICE r19); Describe/Execute after the error
      // are discarded until Sync per the protocol's error state
      c.send('B', c.cstr("") ++ c.cstr("nope") ++ Array[Byte](0, 0, 0, 0, 0, 0))
      c.send('D', Array[Byte]('P'.toByte) ++ c.cstr(""))
      c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
      c.send('S', Array.emptyByteArray)
      val msgs = c.untilReady()
      assert(msgs.count(_._1 == 'E') == 1, "exactly one ErrorResponse, discarded follow-ups")
      assert(msgs.last._1 == 'Z', "Sync must still answer ReadyForQuery")
      // …and the SAME connection keeps working
      c.send('Q', c.cstr("SELECT 1"))
      assert(c.untilReady().count(_._1 == 'D') == 1)
      // an analysis error at Describe (unknown table) behaves the same
      c.send('P', c.cstr("") ++ c.cstr("SELECT * FROM no_such_table_xyz") ++ Array[Byte](0, 0))
      c.send('B', c.cstr("") ++ c.cstr("") ++ Array[Byte](0, 0, 0, 0, 0, 0))
      c.send('D', Array[Byte]('P'.toByte) ++ c.cstr(""))
      c.send('S', Array.emptyByteArray)
      val msgs2 = c.untilReady()
      assert(msgs2.count(_._1 == 'E') == 1 && msgs2.last._1 == 'Z')
      c.send('Q', c.cstr("SELECT 2"))
      assert(c.untilReady().count(_._1 == 'D') == 1)
    } finally { c.close(); running.stop() }
  }

  test("PG door: readonly profile guards the extended protocol too") {
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, "a")).toDF("k", "s").createOrReplaceTempView("pg_rozz")
    val running = PgEndpoint.start(spark, 0, auth = Some(Auth("ro", "", readonly = true)))
    val c = new PgClient(running.port)
    try {
      c.startup("ro")
      val (t, b) = c.readMsg()
      assert(t == 'R' && c.i32(b) == 3)
      c.send('p', c.cstr(""))
      c.untilReady()
      // INSERT via Parse/Bind/Execute must be rejected (ADVICE r19:
      // the check lived only in the simple-query path)
      c.send('P', c.cstr("") ++ c.cstr("INSERT INTO pg_rozz VALUES (9, 'x')") ++ Array[Byte](0, 0))
      c.send('B', c.cstr("") ++ c.cstr("") ++ Array[Byte](0, 0, 0, 0, 0, 0))
      c.send('D', Array[Byte]('P'.toByte) ++ c.cstr(""))
      c.send('E', c.cstr("") ++ Array[Byte](0, 0, 0, 0))
      c.send('S', Array.emptyByteArray)
      val msgs = c.untilReady()
      assert(msgs.exists { case ('E', bb) => new String(bb, "UTF-8").contains("read-only")
        case _ => false }, "extended-protocol INSERT must hit the readonly wall")
      assert(spark.table("pg_rozz").count() == 1, "no row may land")
    } finally { c.close(); running.stop() }
  }

  test("PG door: cleartext password accept + reject") {
    val running = PgEndpoint.start(spark, 0, auth = Some(Auth("analyst", "s3cret")))
    val good = new PgClient(running.port)
    try {
      good.startup("analyst")
      val (t, b) = good.readMsg()
      assert(t == 'R' && good.i32(b) == 3, "must request cleartext password")
      good.send('p', good.cstr("s3cret"))
      val msgs = good.untilReady()
      assert(msgs.exists { case ('R', bb) => good.i32(bb) == 0; case _ => false })
      good.send('Q', good.cstr("SELECT 1"))
      assert(good.untilReady().count(_._1 == 'D') == 1)
    } finally good.close()
    val bad = new PgClient(running.port)
    try {
      bad.startup("analyst")
      bad.readMsg() // password request
      bad.send('p', bad.cstr("wrong"))
      val (t, b) = bad.readMsg()
      assert(t == 'E' && new String(b, "UTF-8").contains("28P01"))
    } finally { bad.close(); running.stop() }
  }

  // ---- every door ----------------------------------------------------------------

  test("HTTP, MySQL and PG report the same CH error code") {
    Engine.registerAll(spark, sf)
    val httpDoor = HttpSqlEndpoint.start(spark, 0, auth = None)
    val myDoor = MySqlEndpoint.start(spark, 0, auth = None)
    val pgDoor = PgEndpoint.start(spark, 0, auth = None)
    val my = new MyClient(myDoor.port)
    val pg = new PgClient(pgDoor.port)
    try {
      my.login("default", None)
      pg.startup("default")
      pg.untilReady()
      Seq("SELECT * FROM no_such_table_xyz" -> 60, // UNKNOWN_TABLE
        "SELEC 1 FRM dual" -> 62,                  // SYNTAX_ERROR
        "SELECT no_such_col FROM region" -> 47     // UNKNOWN_IDENTIFIER
      ).foreach { case (q, code) =>
        val conn = new URL(httpDoor.url + "/?query=" + URLEncoder.encode(q, "UTF-8"))
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.getResponseCode
        assert(conn.getHeaderField("X-ClickHouse-Exception-Code") == code.toString, q)
        conn.disconnect()
        val err = my.query(q).left.toOption.get
        assert((err(0) & 0xff) == 0xff, q)
        assert(((err(1) & 0xff) | ((err(2) & 0xff) << 8)) == code, q) // errno
        assert(new String(err, 9, err.length - 9, "UTF-8").startsWith(s"Code: $code. DB::Exception:"), q)
        pg.send('Q', pg.cstr(q))
        val msg = pg.untilReady().collectFirst { case ('E', b) =>
          new String(b, "UTF-8").split("\u0000").collectFirst {
            case f if f.startsWith("M") => f.drop(1)
          }.get
        }
        assert(msg.exists(_.startsWith(s"Code: $code. DB::Exception:")), s"$q: $msg")
      }
    } finally { my.close(); pg.close(); httpDoor.stop(); myDoor.stop(); pgDoor.stop() }
  }
}
