package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, EOFException,
  FilterInputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** One reply as a client sees it: times of the first result byte and of
  * the last byte, bytes received, and the rows as text cells (null =
  * SQL NULL). `err` is null on success. */
final case class Resp(first: Long, end: Long, bytes: Long, cols: Seq[String],
    rows: Seq[Seq[String]], err: String)

/** Socket input that notes when the first byte after `arm()` arrived
  * and how many bytes came in. */
final class TimedIn(in: InputStream) extends FilterInputStream(in) {
  @volatile private var armed = false
  var first = 0L
  var bytes = 0L
  def arm(): Unit = { armed = true; first = 0L; bytes = 0L }
  private def got(n: Int): Unit = if (n > 0) {
    if (armed) { first = Clock.now(); armed = false }
    bytes += n
  }
  override def read(): Int = { val r = super.read(); if (r >= 0) got(1); r }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val r = super.read(b, off, len); got(r); r
  }
}

/** A minimal client for one wire door, written against the public
  * protocol, sharing no code with the server. */
abstract class DoorClient(port: Int) {
  protected val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  protected val tin = new TimedIn(sock.getInputStream)
  protected val in = new BufferedInputStream(tin, 1 << 16)
  protected val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

  /** Send one statement and read the whole reply. */
  def query(sql: String): Resp

  def close(): Unit = try sock.close() catch { case _: Throwable => () }

  protected def readN(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new EOFException
      off += r
    }
    b
  }
  protected def byte(): Int = { val v = in.read(); if (v < 0) throw new EOFException; v }
}

/** ClickHouse HTTP door: `POST /` with the statement as the body over a
  * keep-alive connection; reads chunked or sized bodies. Queries ask for
  * `FORMAT TabSeparated`. */
final class HttpClient(port: Int) extends DoorClient(port) {
  private def line(): String = {
    val b = new ByteArrayOutputStream()
    var c = byte()
    while (c != '\n') { if (c != '\r') b.write(c); c = byte() }
    b.toString(UTF_8)
  }

  def query(sql: String): Resp = request(s"$sql FORMAT TabSeparated")

  /** Send raw statement text (e.g. an INSERT with its data block). */
  def request(text: String): Resp = {
    val body = text.getBytes(UTF_8)
    tin.arm()
    out.write(("POST / HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8))
    out.write(body)
    out.flush()
    val status = line().split(" ")(1).toInt
    val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).map { h =>
      val i = h.indexOf(':')
      h.substring(0, i).trim.toLowerCase -> h.substring(i + 1).trim
    }.toMap
    // first RESULT byte: the body, not the status line
    var first = if (in.available() > 0) Clock.now() else { tin.arm(); 0L }
    val data = new ByteArrayOutputStream()
    if (headers.get("transfer-encoding").exists(_.equalsIgnoreCase("chunked"))) {
      var more = true
      while (more) {
        val n = Integer.parseInt(line().split(";")(0).trim, 16)
        if (n == 0) { while (line().nonEmpty) (); more = false }
        else { data.write(readN(n)); line() }
      }
    } else data.write(readN(headers.getOrElse("content-length", "0").toInt))
    val end = Clock.now()
    if (first == 0L) first = if (tin.first > 0) tin.first else end
    val reply = data.toString(UTF_8)
    val bytes = tin.bytes
    if (status != 200 || reply.contains("DB::Exception"))
      Resp(first, end, bytes, Nil, Nil, s"HTTP $status: ${reply.take(300)}")
    else {
      val rows = reply.split("\n", -1).toSeq.dropRight(1).map(_.split("\t", -1).toSeq.map(HttpClient.unTsv))
      Resp(first, end, bytes, Nil, rows, null)
    }
  }
}

object HttpClient {
  def unTsv(s: String): String =
    if (s == "\\N") null
    else s.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")
}

/** MySQL door (text protocol, COM_QUERY), per the public packet layout. */
final class MySqlClient(port: Int) extends DoorClient(port) {
  private def packet(): Array[Byte] = {
    val len = byte() | (byte() << 8) | (byte() << 16)
    byte() // sequence id
    val p = readN(len)
    if (len < 0xffffff) p else p ++ packet()
  }
  private def send(seq: Int, p: Array[Byte]): Unit = {
    val n = p.length
    out.write(n & 0xff); out.write((n >> 8) & 0xff); out.write((n >> 16) & 0xff)
    out.write(seq & 0xff); out.write(p); out.flush()
  }
  private def lenenc(p: Array[Byte], off: Int): (Long, Int) = (p(off) & 0xff) match {
    case 0xfc => ((p(off + 1) & 0xffL) | ((p(off + 2) & 0xffL) << 8), 3)
    case 0xfd => ((p(off + 1) & 0xffL) | ((p(off + 2) & 0xffL) << 8) | ((p(off + 3) & 0xffL) << 16), 4)
    case 0xfe => ((0 until 8).map(i => (p(off + 1 + i) & 0xffL) << (8 * i)).sum, 9)
    case v => (v.toLong, 1)
  }
  private def str(p: Array[Byte], off: Int): (String, Int) = {
    val (n, c) = lenenc(p, off)
    (new String(p, off + c, n.toInt, UTF_8), c + n.toInt)
  }

  // login: HandshakeV10 in, HandshakeResponse41 (user `default`, no password) out
  packet()
  locally {
    val caps = 0x0200 | 0x8000 | 0x80000 // PROTOCOL_41 | SECURE_CONNECTION | PLUGIN_AUTH
    val b = java.nio.ByteBuffer.allocate(128).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(caps).putInt(1 << 24).put(33.toByte).put(new Array[Byte](23))
    b.put("default".getBytes(UTF_8)).put(0.toByte).put(0.toByte)
    b.put("mysql_native_password".getBytes(UTF_8)).put(0.toByte)
    send(1, java.util.Arrays.copyOf(b.array(), b.position()))
    val ok = packet()
    require((ok(0) & 0xff) == 0, "mysql login refused")
  }

  def query(sql: String): Resp = {
    tin.arm()
    send(0, Array[Byte](0x03) ++ sql.getBytes(UTF_8))
    val head = packet()
    val first = tin.first
    if ((head(0) & 0xff) == 0xff)
      return Resp(first, Clock.now(), tin.bytes, Nil, Nil,
        "ERR " + new String(head, 9, math.max(0, head.length - 9), UTF_8).take(300))
    if ((head(0) & 0xff) == 0x00) return Resp(first, Clock.now(), tin.bytes, Nil, Nil, null)
    val n = lenenc(head, 0)._1.toInt
    val cols = (1 to n).map { _ =>
      val cd = packet()
      var off = 0
      for (_ <- 0 until 4) off += str(cd, off)._2 // catalog, schema, table, org_table
      str(cd, off)._1
    }
    packet() // EOF after the column definitions
    val rows = Seq.newBuilder[Seq[String]]
    var done = false
    while (!done) {
      val p = packet()
      if ((p(0) & 0xff) == 0xfe && p.length < 9) done = true
      else if ((p(0) & 0xff) == 0xff) {
        return Resp(first, Clock.now(), tin.bytes, cols, Nil, "ERR mid-stream")
      } else {
        var off = 0
        rows += cols.indices.map { _ =>
          if ((p(off) & 0xff) == 0xfb) { off += 1; null }
          else { val (s, c) = str(p, off); off += c; s }
        }
      }
    }
    Resp(first, Clock.now(), tin.bytes, cols, rows.result(), null)
  }
}

/** PostgreSQL door (v3 simple-query protocol). */
final class PgClient(port: Int) extends DoorClient(port) {
  private def i32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) | ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def msg(): (Char, Array[Byte]) = {
    val tag = byte()
    (tag.toChar, readN(i32(readN(4), 0) - 4))
  }
  private def int(n: Int): Array[Byte] =
    Array((n >> 24).toByte, (n >> 16).toByte, (n >> 8).toByte, n.toByte)

  locally {
    val body = new ByteArrayOutputStream()
    body.write(Array[Byte](0, 3, 0, 0))
    Seq("user", "default", "database", "default").foreach { s => body.write(s.getBytes(UTF_8)); body.write(0) }
    body.write(0)
    out.write(int(body.size + 4)); out.write(body.toByteArray); out.flush()
    while (msg()._1 != 'Z') ()
  }

  def query(sql: String): Resp = {
    tin.arm()
    val b = sql.getBytes(UTF_8)
    out.write('Q'); out.write(int(b.length + 5)); out.write(b); out.write(0); out.flush()
    var cols = Seq.empty[String]
    val rows = Seq.newBuilder[Seq[String]]
    var err: String = null
    var done = false
    var first = 0L
    while (!done) {
      val m = msg()
      if (first == 0L) first = tin.first
      m match {
        case ('T', p) =>
          var off = 2
          cols = (1 to (((p(0) & 0xff) << 8) | (p(1) & 0xff))).map { _ =>
            val end = p.indexOf(0.toByte, off)
            val s = new String(p, off, end - off, UTF_8)
            off = end + 1 + 18
            s
          }
        case ('D', p) =>
          var off = 2
          rows += (1 to (((p(0) & 0xff) << 8) | (p(1) & 0xff))).map { _ =>
            val len = i32(p, off); off += 4
            if (len == -1) null else { val s = new String(p, off, len, UTF_8); off += len; s }
          }
        case ('E', p) => err = "ERROR " + new String(p, UTF_8).replace('\u0000', ' ').take(300)
        case ('Z', _) => done = true
        case _ => ()
      }
    }
    Resp(first, Clock.now(), tin.bytes, cols, if (err == null) rows.result() else Nil, err)
  }
}
