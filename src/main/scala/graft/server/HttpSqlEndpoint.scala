package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The reference's primary operating mode is a LONG-LIVED SQL service:
  * `clickhouse-server` exposing HTTP on 8123 (reference
  * `Dockerfile:203-206` — `EXPOSE 8123 9000 …`; clients `curl
  * 'http://host:8123/?query=…'`). This is the Spark-native analog,
  * built entirely on the JDK's `com.sun.net.httpserver` (zero added
  * dependencies): an HTTP codec over the shared [[Statement]]
  * executor, so CH-specific clauses (PREWHERE / FINAL / LIMIT n BY /
  * WITH FILL), INSERT and DDL behave as at the MySQL and PG doors.
  *
  * Protocol surface (the subset of the public CH HTTP interface the
  * engine's batch scope can honor):
  *   - `GET /ping` → `Ok.` ; `GET /` with no query → `Ok.` (health).
  *   - query text = `?query=` param, POST body, or param + "\n" + body
  *     (CH concatenates both halves the same way).
  *   - trailing `FORMAT <name>` clause, or `?default_format=`;
  *     default TabSeparated, like CH over HTTP.
  *   - formats: TabSeparated(Raw/WithNames), CSV(WithNames),
  *     JSONEachRow, JSON (meta/data/rows envelope, data rows as
  *     column-keyed OBJECTS per CH's JSON format; Int64 quoted per
  *     output_format_json_quote_64bit_integers default), JSONCompact
  *     (same envelope, rows as positional arrays),
  *     JSONCompactEachRow, Values, Pretty (capped at 10,000 rows like
  *     CH's Pretty family), Null.
  *   - statements without a resultset (INSERT, DDL, session no-ops)
  *     answer an empty 200 with an `X-ClickHouse-Summary` header
  *     carrying `written_rows`. `INSERT INTO t [(cols)] FORMAT
  *     TabSeparated|CSV|JSONEachRow` takes its data block from the POST
  *     body, which [[Statement]] hands to the shared ingest path.
  *   - settings via URL params, the common CH knobs with real
  *     semantics: `max_result_rows` + `result_overflow_mode`
  *     (`break` truncates the stream at the cap like CH; `throw`,
  *     the CH default, aborts with code 396 LIMIT_EXCEEDED),
  *     `output_format_json_quote_64bit_integers` (0 emits bare JSON
  *     Int64), `query_id` (echoed as `X-ClickHouse-Query-Id`).
  *   - errors → [[Statement.chMessage]] text (`Code: N.
  *     DB::Exception: …`) with the `X-ClickHouse-Exception-Code`
  *     header and CH's exceptionCodeToHTTPStatus (60 → 404; 46/47/62/73
  *     → 400; 164/516 → 403; the rest → 500). A failure AFTER the 200
  *     header has streamed cannot change the status line (same as CH
  *     without wait_end_of_query); the handler appends the same text
  *     as a trailer to the truncated body instead.
  *
  * Scale notes: the handler pool serves queries concurrently (a
  * SparkSession is thread-safe; each request is an independent job),
  * and results STREAM — rows render from `toLocalIterator()` straight
  * into the chunked response, one partition resident at a time, so a
  * 100 TB-scale result never materializes on the driver. The terminal
  * collect-to-client is inherent to any wire protocol, not a plan
  * defect; everything upstream of the iterator is a normal distributed
  * plan. INSERT bodies are driver-resident by nature (they arrive on
  * the socket) — the same bounded "insert block" CH's HTTP ingest
  * holds; bulk loads at scale go through the A9 distributed writers.
  */
object HttpSqlEndpoint {

  final case class Running(server: HttpServer, port: Int) {
    def url: String = s"http://127.0.0.1:$port"
    def stop(): Unit = {
      server.stop(0)
      // shut the handler pool down too — HttpServer.stop() does not,
      // and a live pool would pin the JVM (batch mains must exit)
      server.getExecutor match {
        case e: java.util.concurrent.ExecutorService => e.shutdownNow(): Unit
        case _ =>
      }
    }
  }

  /** Start the endpoint on `port` (0 = ephemeral, for tests). Handler
    * threads are daemons: an abandoned endpoint (no stop()) must not
    * pin a batch JVM open — ServerMain pins itself via join().
    * `auth` defaults from CLICKHOUSE_USER/PASSWORD (reference
    * `Dockerfile:300-302`); None = the auth-less default user. */
  def start(spark: SparkSession, port: Int,
      auth: Option[Auth] = Auth.fromEnv): Running = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-http-handler")
      t.setDaemon(true)
      t
    }))
    server.createContext("/ping", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = respond(ex, 200, "Ok.\n", "text/plain")
    })
    server.createContext("/", new QueryHandler(spark, auth))
    server.start()
    Running(server, server.getAddress.getPort)
  }

  /** The three credential carriers CH's HTTP interface accepts:
    * X-ClickHouse-User/-Key headers, `user`/`password` URL params,
    * and HTTP Basic auth. */
  private def checkAuth(a: Auth, ex: HttpExchange, params: Map[String, String]): Unit = {
    val h = ex.getRequestHeaders
    val viaHeader = (Option(h.getFirst("X-ClickHouse-User")),
      Option(h.getFirst("X-ClickHouse-Key")))
    val viaParam = (params.get("user"), params.get("password"))
    val viaBasic = Option(h.getFirst("Authorization"))
      .filter(_.startsWith("Basic "))
      .map(b => new String(java.util.Base64.getDecoder.decode(b.substring(6)), UTF_8))
      .map(_.split(":", 2))
      .map(arr => (Some(arr(0)), Some(if (arr.length > 1) arr(1) else "")))
    val (u, p) = viaBasic.orElse(
      Some(viaHeader).filter(_._1.isDefined)).orElse(
      Some(viaParam).filter(_._1.isDefined))
      .getOrElse((None, None))
    if (!u.contains(a.user) || p.getOrElse("") != a.password)
      throw new Statement.ChError(516, // AUTHENTICATION_FAILED
        s"${a.user}: Authentication failed: password is incorrect, or there is no user with such name")
  }

  private final class QueryHandler(spark: SparkSession, auth: Option[Auth]) extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      // Once the 200 header is out the status line is immutable; a
      // later failure must degrade to an in-body trailer, not a second
      // sendResponseHeaders (which throws from inside the catch and
      // leaves the client a bare truncated body).
      var streamingOut: OutputStream = null
      try {
        val params = parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
        // The body is NOT trimmed (ADVICE r18): with the INSERT head in
        // the ?query= param the body is a raw data block, and trimming
        // ate a leading tab (an empty first TSV field on a valid row)
        // or the trailing newline. The SQL-only paths trim downstream
        // (splitFormat / the INSERT regex tolerate the whitespace).
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val fromParam = params.getOrElse("query", "").trim
        val text =
          if (fromParam.isEmpty) body
          else if (body.trim.isEmpty) fromParam
          else fromParam + "\n" + body // CH: param is the query head, body the tail
        auth.foreach(checkAuth(_, ex, params))
        if (text.trim.isEmpty) respond(ex, 200, "Ok.\n", "text/plain")
        else Statement.run(spark, auth.exists(_.readonly), text) match {
          case Statement.Done(_, written) =>
            // CH answers a statement without a resultset with an empty
            // 200 + summary header
            ex.getResponseHeaders.set("X-ClickHouse-Summary",
              s"""{"written_rows":"$written"}""")
            respond(ex, 200, "", "text/plain")
          case Statement.Rows(df) =>
            // Analysis (parse/resolve) happened BEFORE the 200 header
            // goes out so bad SQL still gets a clean 4xx/5xx; execution
            // errors after streaming starts truncate the body (CH has
            // the same split without wait_end_of_query).
            val fmt = graft.ChSql.splitFormat(text)._2
              .orElse(params.get("default_format")).getOrElse("TabSeparated")
            requireKnownFormat(fmt) // reject before the 200 goes out
            val opts = RenderOpts(
              quote64 = params.get("output_format_json_quote_64bit_integers")
                .forall(_ != "0"),
              maxRows = params.get("max_result_rows").map(_.toLong),
              overflowBreak = params.get("result_overflow_mode").contains("break"))
            val headers = ex.getResponseHeaders
            headers.set("Content-Type", contentType(fmt))
            headers.set("X-ClickHouse-Format", fmt)
            params.get("query_id").foreach(headers.set("X-ClickHouse-Query-Id", _))
            ex.sendResponseHeaders(200, 0) // chunked
            streamingOut = ex.getResponseBody
            // no finally-close here: a mid-stream failure must reach
            // the catch with the stream still OPEN so the error
            // trailer can go out in-band (ex.close() below closes the
            // exchange on every path)
            render(df, fmt, streamingOut, opts): Unit
            streamingOut.close()
        }
      } catch {
        case e: Throwable =>
          val msg = Statement.chMessage(e) + "\n"
          if (streamingOut == null) {
            val code = Statement.chCode(e)
            ex.getResponseHeaders.set("X-ClickHouse-Exception-Code", code.toString)
            respond(ex, httpStatus(code), msg, "text/plain")
          } else {
            // Mid-stream failure: the 200 already went out. Mark the
            // truncation in-band (CH appends the exception text too)
            // and swallow socket errors — the client may be gone.
            try { streamingOut.write(msg.getBytes(UTF_8)); streamingOut.close() }
            catch { case _: Throwable => }
          }
      } finally ex.close()
    }
  }

  /** CH's exceptionCodeToHTTPStatus, for the codes this endpoint emits:
    * UNKNOWN_TABLE → 404, client-side errors → 400, the rest → 500. */
  private def httpStatus(chCode: Int): Int = chCode match {
    case 60                => 404
    case 46 | 47 | 62 | 73 => 400
    case 516               => 403 // CH maps AUTHENTICATION_FAILED to Forbidden
    case 164               => 403 // … and READONLY
    case _                 => 500
  }

  private def respond(ex: HttpExchange, code: Int, bodyText: String, ct: String): Unit = {
    val bytes = bodyText.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$ct; charset=UTF-8")
    // sendResponseHeaders(code, 0) means CHUNKED; an empty fixed-length
    // body (the INSERT ack) must pass -1 per the JDK contract.
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
    val out = ex.getResponseBody
    try { if (bytes.nonEmpty) out.write(bytes) } finally out.close()
  }

  private def parseParams(raw: String): Map[String, String] =
    raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
        case Array(k)    => URLDecoder.decode(k, UTF_8) -> ""
      }
    }.toMap

  private def contentType(fmt: String): String = norm(fmt) match {
    case "json" | "jsoneachrow" | "jsoncompact" | "jsoncompacteachrow" =>
      "application/json; charset=UTF-8"
    case "csv" | "csvwithnames" => "text/csv; charset=UTF-8"
    case _                      => "text/tab-separated-values; charset=UTF-8"
  }

  private def norm(fmt: String): String = fmt.toLowerCase.replace("_", "")

  private val knownFormats = Set(
    "tabseparated", "tsv", "tabseparatedwithnames", "tsvwithnames",
    "tabseparatedraw", "tsvraw", "csv", "csvwithnames", "jsoneachrow",
    "json", "jsoncompact", "jsoncompacteachrow", "values", "pretty",
    "prettycompact", "null")
  private def requireKnownFormat(fmt: String): Unit =
    if (!knownFormats.contains(norm(fmt))) unknownFormat(fmt)
  private def unknownFormat(fmt: String): Nothing =
    throw new Statement.ChError(73, s"Unknown output format: $fmt") // UNKNOWN_FORMAT

  // ---- rendering ----------------------------------------------------

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Pretty is a human console format and buffers (column widths need
    * the data) — cap it like CH's Pretty family caps display rows. */
  private val prettyMaxRows = 10000

  /** Render-time settings (the CH URL-param knobs with real effect). */
  final case class RenderOpts(
      quote64: Boolean = true,
      maxRows: Option[Long] = None,
      overflowBreak: Boolean = false)

  def render(df: DataFrame, fmt: String, out: OutputStream): Long =
    render(df, fmt, out, RenderOpts())

  /** Stream `df` in CH output format `fmt` to `out` — one row at a
    * time off `toLocalIterator()`, never a full collect. Returns the
    * number of data rows emitted (INTO OUTFILE reports it). */
  def render(df: DataFrame, fmt: String, out: OutputStream, opts: RenderOpts): Long = {
    val schema = df.schema
    val names = schema.fieldNames
    var emitted = 0L
    def write(s: String): Unit = out.write(s.getBytes(UTF_8))
    def eachRow(d: DataFrame)(f: Row => Unit): Unit = {
      val it = d.toLocalIterator()
      var more = true
      while (more && it.hasNext) {
        opts.maxRows match {
          case Some(max) if emitted >= max =>
            if (opts.overflowBreak) more = false // CH break: truncate cleanly
            else throw new Statement.ChError(396, // LIMIT_EXCEEDED
              s"Limit for result rows exceeded: max_result_rows = $max")
          case _ =>
            f(it.next()); emitted += 1
        }
      }
    }
    // one JSON object per row, column-keyed — shared by JSONEachRow
    // and the JSON envelope (CH's JSON data rows are objects; the
    // positional-array shape is JSONCompact)
    def jsonObjRow(r: Row): String =
      names.indices.map(i =>
        jsonString(names(i)) + ":" + jsonValue(r, i, schema(i).dataType, opts.quote64))
        .mkString("{", ",", "}")
    def jsonArrRow(r: Row): String =
      names.indices.map(i => jsonValue(r, i, schema(i).dataType, opts.quote64)).mkString("[", ",", "]")
    def jsonEnvelope(rowText: Row => String): Unit = {
      val meta = schema.fields.map(f =>
        s"""{"name":${jsonString(f.name)},"type":${jsonString(chTypeName(f.dataType, f.nullable))}}""")
      write(s"""{"meta":[${meta.mkString(",")}],"data":[""")
      var n = 0L
      eachRow(df) { r =>
        if (n > 0) write(",")
        write(rowText(r))
        n += 1
      }
      write(s"""],"rows":$n}""" + "\n")
    }
    norm(fmt) match {
      case "tabseparated" | "tsv" =>
        eachRow(df)(r => write(tsvLine(r, schema)))
      case "tabseparatedwithnames" | "tsvwithnames" =>
        write(names.mkString("\t") + "\n")
        eachRow(df)(r => write(tsvLine(r, schema)))
      case "tabseparatedraw" | "tsvraw" =>
        eachRow(df)(r => write(names.indices.map(i => textValue(r, i, schema)).mkString("\t") + "\n"))
      case "csv" =>
        eachRow(df)(r => write(csvLine(r, schema)))
      case "csvwithnames" =>
        write(names.map(csvQuote).mkString(",") + "\n")
        eachRow(df)(r => write(csvLine(r, schema)))
      case "jsoneachrow" =>
        eachRow(df)(r => write(jsonObjRow(r) + "\n"))
      case "jsoncompacteachrow" =>
        eachRow(df)(r => write(jsonArrRow(r) + "\n"))
      case "json" =>
        jsonEnvelope(jsonObjRow)
      case "jsoncompact" =>
        jsonEnvelope(jsonArrRow)
      case "values" =>
        var first = true
        eachRow(df) { r =>
          if (!first) write(",")
          first = false
          write(names.indices.map(i => valuesValue(r, i, schema)).mkString("(", ",", ")"))
        }
        write("\n")
      case "pretty" | "prettycompact" =>
        // Buffers up to the cap (column widths need the data); CH's
        // Pretty caps at 10,000 rows the same way and notes the cut.
        val it = df.toLocalIterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (it.hasNext && buf.length < prettyMaxRows) buf += it.next()
        val truncated = it.hasNext
        emitted = buf.length.toLong
        val cells = buf.map(r => names.indices.map(i => textValue(r, i, schema)).toArray)
        val widths = names.indices.map(i =>
          math.max(names(i).length, if (cells.isEmpty) 0 else cells.map(_(i).length).max)).toArray
        def bar(l: String, m: String, r: String): String =
          widths.map(w => "─" * (w + 2)).mkString(l, m, r) + "\n"
        write(bar("┌", "┬", "┐"))
        write(names.indices.map(i => " " + names(i).padTo(widths(i), ' ') + " ").mkString("│", "│", "│") + "\n")
        write(bar("├", "┼", "┤"))
        cells.foreach(c =>
          write(names.indices.map(i => " " + c(i).padTo(widths(i), ' ') + " ").mkString("│", "│", "│") + "\n"))
        write(bar("└", "┴", "┘"))
        if (truncated) write(s"Showed first $prettyMaxRows.\n")
      case "null" =>
        eachRow(df)(_ => ()) // execute, emit nothing (CH's Null format)
      case _ => unknownFormat(fmt)
    }
    out.flush()
    emitted
  }

  private def tsvLine(r: Row, schema: StructType): String =
    schema.indices.map { i =>
      if (r.isNullAt(i)) "\\N" else tsvEscape(textValue(r, i, schema))
    }.mkString("\t") + "\n"

  private def tsvEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")

  private def csvLine(r: Row, schema: StructType): String =
    schema.indices.map { i =>
      if (r.isNullAt(i)) "\\N" else csvQuote(textValue(r, i, schema))
    }.mkString(",") + "\n"

  private def csvQuote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** One non-null value in CH text form — shared with the MySQL wire
    * door, whose text protocol ships every value as a string. */
  private[server] def textCell(r: Row, i: Int, schema: StructType): String =
    renderText(r.get(i), schema(i).dataType)

  /** CH text rendering of one value (TSV/CSV/Values/Pretty cell). */
  private def textValue(r: Row, i: Int, schema: StructType): String =
    if (r.isNullAt(i)) "\\N" else renderText(r.get(i), schema(i).dataType)

  private def renderText(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _)                      => "\\N"
    case (t: java.sql.Timestamp, _)     => tsFmt.format(t.toInstant)
    case (d: java.sql.Date, _)          => d.toString
    case (b: Array[Byte], _)            => b.map("%02x".format(_)).mkString
    case (d: java.math.BigDecimal, _)   => d.toPlainString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(e => if (e == null) "NULL" else quoteInArray(e, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, mv) =>
        quoteInArray(k, kt) + ":" + (if (mv == null) "NULL" else quoteInArray(mv, vt))
      }.mkString("{", ",", "}")
    case (row: Row, st: StructType) =>
      st.indices.map(j => if (row.isNullAt(j)) "NULL" else quoteInArray(row.get(j), st(j).dataType))
        .mkString("(", ",", ")")
    case (x, _) => x.toString
  }

  /** Inside arrays/maps/tuples CH quotes strings; scalars are bare. */
  private def quoteInArray(v: Any, dt: DataType): String = dt match {
    case StringType => "'" + v.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case _          => renderText(v, dt)
  }

  private def valuesValue(r: Row, i: Int, schema: StructType): String =
    if (r.isNullAt(i)) "NULL"
    else schema(i).dataType match {
      case StringType | DateType | TimestampType =>
        "'" + textValue(r, i, schema).replace("\\", "\\\\").replace("'", "\\'") + "'"
      case _ => textValue(r, i, schema)
    }

  // ---- JSON ----------------------------------------------------------

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c    => sb.append(c)
    }
    sb.append("\"").toString
  }

  private def jsonValue(r: Row, i: Int, dt: DataType, q64: Boolean = true): String =
    if (r.isNullAt(i)) "null" else jsonRender(r.get(i), dt, q64)

  private def jsonRender(v: Any, dt: DataType, q64: Boolean = true): String = (v, dt) match {
    case (null, _) => "null"
    // CH quotes 64-bit ints in JSON output by default
    // (output_format_json_quote_64bit_integers=1) — JS numbers lose
    // precision past 2^53; mirror that, togglable via the URL param.
    case (l: java.lang.Long, _)        => if (q64) "\"" + l + "\"" else l.toString
    case (n: java.lang.Number, _: DecimalType) => jsonString(
      n.asInstanceOf[java.math.BigDecimal].toPlainString)
    case (d: java.math.BigDecimal, _)  => jsonString(d.toPlainString)
    case (n: java.lang.Double, _)      =>
      if (n.isNaN || n.isInfinite) "null" else n.toString
    case (n: java.lang.Float, _)       =>
      if (n.isNaN || n.isInfinite) "null" else n.toString
    case (n: java.lang.Number, _)      => n.toString
    case (b: java.lang.Boolean, _)     => b.toString
    case (t: java.sql.Timestamp, _)    => jsonString(tsFmt.format(t.toInstant))
    case (d: java.sql.Date, _)         => jsonString(d.toString)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(e => if (e == null) "null" else jsonRender(e, et, q64)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      m.toSeq.map { case (k, mv) =>
        jsonString(k.toString) + ":" + (if (mv == null) "null" else jsonRender(mv, vt, q64))
      }.mkString("{", ",", "}")
    case (row: Row, st: StructType) =>
      st.indices.map { j =>
        jsonString(st(j).name) + ":" + (if (row.isNullAt(j)) "null" else jsonRender(row.get(j), st(j).dataType, q64))
      }.mkString("{", ",", "}")
    case (s, _) => jsonString(s.toString)
  }

  /** Spark type → the CH type name the reference's clients expect in
    * JSON `meta` (public CH docs, Data Types section). */
  def chTypeName(dt: DataType, nullable: Boolean): String = {
    val base = dt match {
      case ByteType          => "Int8"
      case ShortType         => "Int16"
      case IntegerType       => "Int32"
      case LongType          => "Int64"
      case FloatType         => "Float32"
      case DoubleType        => "Float64"
      case StringType        => "String"
      case BooleanType       => "Bool"
      case DateType          => "Date32"
      case TimestampType     => "DateTime"
      case BinaryType        => "String"
      case d: DecimalType    => s"Decimal(${d.precision}, ${d.scale})"
      case ArrayType(et, en) => s"Array(${chTypeName(et, en)})"
      case MapType(kt, vt, vn) => s"Map(${chTypeName(kt, nullable = false)}, ${chTypeName(vt, vn)})"
      case st: StructType =>
        "Tuple(" + st.fields.map(f => s"${f.name} ${chTypeName(f.dataType, f.nullable)}").mkString(", ") + ")"
      case other => other.sql
    }
    if (nullable && !dt.isInstanceOf[ArrayType] && !dt.isInstanceOf[MapType] &&
      !dt.isInstanceOf[StructType]) s"Nullable($base)" else base
  }
}

/** Long-lived server main — the `clickhouse-server` analog (K1/K2
  * surface, SURVEY §3): registers the scale-factor dir's tables and
  * serves CH-dialect SQL over HTTP until the process is killed.
  *
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 GRAFT_HTTP_PORT=8123 \
  *     java -cp … graft.server.ServerMain
  *   curl 'http://127.0.0.1:8123/?query=SELECT+1'
  * }}}
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val port = sys.env.getOrElse("GRAFT_HTTP_PORT", "8123").toInt
    val spark = graft.Engine.session()
    graft.Engine.registerAll(spark, dir)
    val running = HttpSqlEndpoint.start(spark, port)
    println(s"graft http endpoint listening on ${running.url} (tables from $dir)")
    // the reference also exposes the MySQL-compatible port (9004,
    // Dockerfile:205) — start it when asked
    sys.env.get("GRAFT_MYSQL_PORT").foreach { p =>
      val my = MySqlEndpoint.start(spark, p.toInt)
      println(s"graft mysql endpoint listening on 127.0.0.1:${my.port}")
    }
    // … and the PostgreSQL-compatible port (9005, Dockerfile:206)
    sys.env.get("GRAFT_PG_PORT").foreach { p =>
      val pg = PgEndpoint.start(spark, p.toInt)
      println(s"graft pg endpoint listening on 127.0.0.1:${pg.port}")
    }
    Thread.currentThread.join() // serve until killed
  }
}
