package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** PostgreSQL WIRE-PROTOCOL front door — the reference exposes port
  * 9005 for ClickHouse's PostgreSQL-compatible endpoint
  * (`Dockerfile:206`; `psql -h host -p 9005`), the second half of
  * VERDICT r17 "What's missing" #2. Implemented from the PUBLIC
  * PostgreSQL Frontend/Backend protocol v3 documentation on raw JDK
  * sockets — zero added dependencies.
  *
  * Protocol surface:
  *   - SSLRequest answered `N` (plaintext), StartupMessage(3.0)
  *     accepted for any user/database → AuthenticationOk,
  *     ParameterStatus (`server_version`, `client_encoding`,
  *     `DateStyle`), BackendKeyData, ReadyForQuery('I'). With
  *     CLICKHOUSE_USER/PASSWORD set (r19, [[Auth]]) the startup
  *     instead gets AuthenticationCleartextPassword and the 'p'
  *     response is validated (28P01 on mismatch); a readonly profile
  *     rejects writes.
  *   - Extended protocol: Parse/Bind/Describe/Execute/Close/Sync/
  *     Flush for parameterless statements — the sequence JDBC and
  *     npgsql drivers actually speak. Statements and portals are
  *     protocol state; Describe answers from [[Statement.describe]]
  *     without executing.
  *   - Simple Query ('Q') and Execute → the shared [[Statement]]
  *     executor. A resultset streams back as RowDescription (Spark
  *     type → PG type OID) + DataRow per row off `toLocalIterator()`
  *     (NULL = length -1) + CommandComplete ("SELECT n"); INSERT, DDL
  *     and session no-ops (SET/BEGIN/DEALLOCATE/DISCARD…) answer their
  *     CommandComplete tag (`INSERT 0 n`). Errors → ErrorResponse whose
  *     message is `Code: N. DB::Exception: …`, then ReadyForQuery (the
  *     session survives, like psql expects).
  *   - Terminate ('X') / hangup closes.
  *   - Values render through the same CH text formatter as the
  *     HTTP/MySQL doors (PG text protocol is all strings).
  *
  * Scale notes: identical to the other doors — daemon thread per
  * connection, one partition resident at a time, the terminal
  * stream-to-client inherent to any wire protocol.
  */
object PgEndpoint {

  final case class Running(server: ServerSocket, port: Int) {
    def stop(): Unit = server.close()
  }

  def start(spark: SparkSession, port: Int,
      auth: Option[Auth] = Auth.fromEnv): Running = {
    val server = Acceptor.start(port, "pg")(serve(spark, _, auth))
    Running(server, server.getLocalPort)
  }

  // ---- wire helpers ------------------------------------------------------

  private def readN(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException
      off += r
    }
    buf
  }
  private def i32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private final class M {
    private val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): M = { bos.write(v & 0xff); this }
    def u16(v: Int): M = { u8(v >> 8); u8(v) }
    def u32(v: Int): M = { u8(v >> 24); u8(v >> 16); u8(v >> 8); u8(v) }
    def raw(b: Array[Byte]): M = { bos.write(b); this }
    def cstr(s: String): M = { raw(s.getBytes(UTF_8)); u8(0) }
    def bytes: Array[Byte] = bos.toByteArray
  }

  /** Backend message: tag byte + int32 length (self-inclusive) + body. */
  private def send(out: OutputStream, tag: Char, body: Array[Byte]): Unit = {
    out.write(tag)
    val n = body.length + 4
    out.write((n >> 24) & 0xff); out.write((n >> 16) & 0xff)
    out.write((n >> 8) & 0xff); out.write(n & 0xff)
    out.write(body)
  }

  // ---- connection loop ---------------------------------------------------

  private val SslRequestCode = 80877103
  private val CancelRequestCode = 80877102

  private def serve(spark: SparkSession, sock: Socket, auth: Option[Auth]): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      // startup phase: length-prefixed untagged messages; SSLRequest
      // may precede the StartupMessage — answer 'N' (plaintext only)
      var started = false
      var startupUser = ""
      while (!started) {
        val len = i32(readN(in, 4), 0)
        val body = readN(in, len - 4)
        val code = i32(body, 0)
        if (code == SslRequestCode) { out.write('N'); out.flush() }
        else if (code == CancelRequestCode) return
        else { // StartupMessage(196608): read the user param
          var off = 4
          while (off < body.length && body(off) != 0) {
            var e = off
            while (body(e) != 0) e += 1
            val k = new String(body, off, e - off, UTF_8)
            var e2 = e + 1
            while (e2 < body.length && body(e2) != 0) e2 += 1
            val v = new String(body, e + 1, e2 - e - 1, UTF_8)
            if (k == "user") startupUser = v
            off = e2 + 1
          }
          started = true
        }
      }
      auth.foreach { a =>
        // AuthenticationCleartextPassword (R,3) → PasswordMessage 'p'
        send(out, 'R', new M().u32(3).bytes)
        out.flush()
        val tag = in.read()
        val ok = tag == 'p' && {
          val len = i32(readN(in, 4), 0)
          val body = readN(in, len - 4)
          val pass = new String(body, 0, body.length - 1, UTF_8)
          startupUser == a.user && pass == a.password
        }
        if (!ok) {
          send(out, 'E', new M()
            .u8('S').cstr("FATAL").u8('C').cstr("28P01")
            .u8('M').cstr(s"password authentication failed for user \"$startupUser\"")
            .u8(0).bytes)
          out.flush()
          return
        }
      }
      send(out, 'R', new M().u32(0).bytes) // AuthenticationOk
      send(out, 'S', new M().cstr("server_version").cstr("16.0 (graft-clickhouse)").bytes)
      send(out, 'S', new M().cstr("client_encoding").cstr("UTF8").bytes)
      send(out, 'S', new M().cstr("DateStyle").cstr("ISO").bytes)
      send(out, 'K', new M().u32(1).u32(0).bytes) // BackendKeyData
      send(out, 'Z', new M().u8('I').bytes)       // ReadyForQuery, idle
      out.flush()
      // extended-protocol state: prepared statements and portals
      // (named by the client; JDBC mostly uses the unnamed "" ones)
      val stmts = scala.collection.mutable.Map.empty[String, String]
      val portals = scala.collection.mutable.Map.empty[String, String]
      def cstrAt(b: Array[Byte], off: Int): (String, Int) = {
        var e = off
        while (b(e) != 0) e += 1
        (new String(b, off, e - off, UTF_8), e + 1)
      }
      def sendError(e: Throwable): Unit = {
        send(out, 'E', new M()
          .u8('S').cstr("ERROR").u8('C').cstr("42601")
          .u8('M').cstr(Statement.chMessage(e)).u8(0).bytes)
        out.flush()
      }
      val readonly = auth.exists(_.readonly)
      // Extended-protocol error state (ADVICE r19): after an error the
      // backend answers ErrorResponse and DISCARDS messages until Sync
      // (public FE/BE protocol §error handling) — a thrown Bind/
      // Describe must not fall through to the connection-level catch
      // and drop the socket (JDBC would see a connection reset).
      var skipUntilSync = false
      var open = true
      while (open) {
        val tag = in.read()
        if (tag < 0 || tag == 'X') open = false
        else {
          val len = i32(readN(in, 4), 0)
          val body = readN(in, len - 4)
          // extended-protocol handler wrapper: honor the error state,
          // convert any throw into ErrorResponse + skip-until-Sync
          def ext(f: => Unit): Unit =
            if (!skipUntilSync)
              try f catch { case e: Throwable => sendError(e); skipUntilSync = true }
          tag match {
            case 'Q' =>
              val sql = new String(body, 0, body.length - 1, UTF_8) // strip trailing \0
              try {
                if (sql.trim.stripSuffix(";").trim.isEmpty)
                  send(out, 'I', Array.emptyByteArray) // EmptyQueryResponse
                else complete(out, Statement.run(spark, readonly, sql), rowDescription = true)
              } catch { case e: Throwable => sendError(e) }
              send(out, 'Z', new M().u8('I').bytes)
              out.flush()

            // ---- extended protocol (what psql \prepare and every
            // JDBC/npgsql driver speaks) — parameterless scope --------
            case 'P' => ext { // Parse: name, query, param-type count
              val (name, o1) = cstrAt(body, 0)
              val (sql, _) = cstrAt(body, o1)
              stmts(name) = sql
              send(out, '1', Array.emptyByteArray) // ParseComplete
            }
            case 'B' => ext { // Bind: portal, statement, formats/params ignored
              val (portal, o1) = cstrAt(body, 0)
              val (stmt, o2) = cstrAt(body, o1)
              val nFmt = ((body(o2) & 0xff) << 8) | (body(o2 + 1) & 0xff)
              val nPar = ((body(o2 + 2 + 2 * nFmt) & 0xff) << 8) |
                (body(o2 + 3 + 2 * nFmt) & 0xff)
              require(nPar == 0,
                "extended protocol: bind parameters are not supported (inline literals)")
              portals(portal) = stmts.getOrElse(stmt,
                throw new IllegalStateException(s"unknown prepared statement '$stmt'"))
              send(out, '2', Array.emptyByteArray) // BindComplete
            }
            case 'D' => ext { // Describe ('S' statement | 'P' portal)
              val name = cstrAt(body, 1)._1
              val sql = (if (body(0) == 'S') stmts.get(name) else portals.get(name))
                .getOrElse(throw new IllegalStateException(s"unknown '$name'"))
              // Describe('S') answers ParameterDescription first (none
              // — the parameterless scope), per the protocol
              if (body(0) == 'S') send(out, 't', new M().u16(0).bytes)
              // metadata only, never execution (ADVICE r19: Describe
              // used to run the statement — a stock JDBC Parse/Bind/
              // Describe/Execute sequence inserted rows TWICE and DROP
              // dropped at Describe then errored at Execute)
              Statement.describe(spark, sql) match {
                case Some(schema) => sendRowDescription(out, schema)
                case None => send(out, 'n', Array.emptyByteArray) // NoData
              }
            }
            case 'E' => ext { // Execute: portal, row cap (cap ignored — full result)
              val (portal, _) = cstrAt(body, 0)
              val sql = portals.getOrElse(portal,
                throw new IllegalStateException(s"unknown portal '$portal'"))
              complete(out, Statement.run(spark, readonly, sql), rowDescription = false)
            }
            case 'C' => ext { // Close statement/portal
              val name = cstrAt(body, 1)._1
              if (body(0) == 'S') stmts.remove(name) else portals.remove(name)
              send(out, '3', Array.emptyByteArray) // CloseComplete
            }
            case 'S' => // Sync — end of extended batch, clears error state
              skipUntilSync = false
              send(out, 'Z', new M().u8('I').bytes)
              out.flush()
            case 'H' => // Flush
              out.flush()
            case _ =>
              send(out, 'E', new M()
                .u8('S').cstr("ERROR").u8('C').cstr("0A000")
                .u8('M').cstr(s"unsupported message '${tag.toChar}'")
                .u8(0).bytes)
              send(out, 'Z', new M().u8('I').bytes)
              out.flush()
          }
        }
      }
    } catch { case _: Throwable => () } finally {
      try sock.close() catch { case _: Throwable => }
    }
  }

  /** Spark type → PG type OID for RowDescription (public pg_type ids). */
  private def pgOid(dt: DataType): Int = dt match {
    case BooleanType    => 16   // bool
    case ByteType | ShortType => 21 // int2
    case IntegerType    => 23   // int4
    case LongType       => 20   // int8
    case FloatType      => 700  // float4
    case DoubleType     => 701  // float8
    case _: DecimalType => 1700 // numeric
    case DateType       => 1082 // date
    case TimestampType  => 1114 // timestamp
    case _              => 25   // text
  }

  private def sendRowDescription(out: OutputStream, schema: StructType): Unit = {
    val rd = new M().u16(schema.length)
    schema.fields.foreach { f =>
      rd.cstr(f.name).u32(0).u16(0).u32(pgOid(f.dataType)).u16(0xffff).u32(-1).u16(0)
    }
    send(out, 'T', rd.bytes)
  }

  private def writeDataRows(out: OutputStream, df: DataFrame): Long = {
    val schema = df.schema
    var n = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val m = new M().u16(schema.length)
      schema.indices.foreach { i =>
        if (r.isNullAt(i)) m.u32(-1)
        else {
          val b = HttpSqlEndpoint.textCell(r, i, schema).getBytes(UTF_8)
          m.u32(b.length).raw(b)
        }
      }
      send(out, 'D', m.bytes)
      n += 1
    }
    n
  }

  /** Encode an [[Statement.Outcome]]: a resultset as RowDescription
    * (simple protocol only — Execute's went out at Describe) + DataRows
    * + `SELECT n`; a statement without one as its command tag
    * (`INSERT 0 n` for INSERT). */
  private def complete(out: OutputStream, outcome: Statement.Outcome, rowDescription: Boolean): Unit =
    outcome match {
      case Statement.Rows(df) =>
        if (rowDescription) sendRowDescription(out, df.schema)
        val n = writeDataRows(out, df)
        send(out, 'C', new M().cstr(s"SELECT $n").bytes)
      case Statement.Done(kind, n) =>
        send(out, 'C', new M().cstr(if (kind == "INSERT") s"INSERT 0 $n" else kind).bytes)
    }
}
