package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.HttpSqlEndpoint

/** The table store served to concurrent clients over the HTTP door:
  * writers (INSERT, ALTER, CREATE MATERIALIZED VIEW) mix with MV reads,
  * and the store stays right. One writer runs at a time, so no MV takes
  * a block twice; reads take no lock, so a SELECT does not queue behind
  * a write. */
class ConcurrentWritersSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var running: HttpSqlEndpoint.Running = _

  override def beforeAll(): Unit = running = HttpSqlEndpoint.start(spark, 0, auth = None)
  override def afterAll(): Unit = if (running != null) running.stop()

  /** POST `q` as the body; a reply other than 200 fails. */
  private def post(q: String): String = {
    val conn = new java.net.URL(running.url + "/").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(q.getBytes("UTF-8"))
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = new String(in.readAllBytes(), "UTF-8")
    conn.disconnect()
    if (code != 200) throw new IllegalStateException(s"$code from '${q.take(80)}': $text")
    text
  }

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("a SELECT finishes while an INSERT … SELECT holds the writer lock; a DDL waits for it") {
    post("CREATE TABLE cw_slow (k Int64) ENGINE = MergeTree ORDER BY k")
    post("CREATE TABLE cw_other (k Int64) ENGINE = MergeTree ORDER BY k")
    post("INSERT INTO cw_other VALUES (1), (2)")
    val flag = "graft.cw.sleeping"
    System.clearProperty(flag)
    // the predicate runs inside the INSERT's write: it raises the flag,
    // then sleeps 3 s with the lock held
    val ins = thread(post(
      s"""INSERT INTO cw_slow SELECT 7 WHERE
         |reflect('java.lang.System', 'setProperty', '$flag', 'on') IS NOT NULL AND
         |reflect('java.lang.Thread', 'sleep', CAST(3000 AS BIGINT)) IS NOT NULL""".stripMargin): Unit)
    val deadline = System.nanoTime() + 60000000000L
    while (System.getProperty(flag) == null && System.nanoTime() < deadline) Thread.sleep(10)
    val seen = System.nanoTime()
    assert(System.getProperty(flag) != null, "the INSERT never reached its write")
    assert(post("SELECT count(*) FROM cw_other") == "2\n")
    val read = (System.nanoTime() - seen) / 1000000
    assert(read < 2500, s"the SELECT took $read ms: it waited for the INSERT's lock")
    post("CREATE TABLE cw_after (k Int64) ENGINE = MergeTree ORDER BY k")
    val ddl = (System.nanoTime() - seen) / 1000000
    assert(ddl >= 2500, s"the CREATE ended $ddl ms in: it ran beside the INSERT")
    ins.join(60000)
    assert(post("SELECT k FROM cw_slow") == "7\n")
    Seq("cw_slow", "cw_other", "cw_after").foreach(t => post(s"DROP TABLE $t"))
  }

  /** One seeded round: 20 INSERTs of 50 rows, 20 ALTERs that rewrite the
    * table and recompute its MVs, a third MV created partway, and a
    * reader of the first two MVs, all at once. The reader checks that
    * the AggInc MV never counts more rows than were sent and that the
    * AppendInc MV never holds a row twice. */
  private def round(seed: Int): Unit = {
    val (t, agg, app, late) = (s"cw_src_$seed", s"cw_agg_$seed", s"cw_app_$seed", s"cw_late_$seed")
    val aggSelect = s"SELECT g, count(*) AS n, sum(v) AS s FROM $t GROUP BY g"
    val appSelect = s"SELECT g, v FROM $t WHERE v % 2 = 0"
    post(s"CREATE TABLE $t (g Int64, v Int64) ENGINE = MergeTree ORDER BY g")
    post(s"CREATE MATERIALIZED VIEW $agg AS $aggSelect")
    post(s"CREATE MATERIALIZED VIEW $app AS $appSelect")
    val rnd = new scala.util.Random(seed)
    // every v is distinct, so a row the AppendInc MV holds twice shows
    val blocks = rnd.shuffle((0 until 1000).toVector).map(v => s"${rnd.nextInt(10)}\t$v")
      .grouped(50).map(_.mkString("\n")).toSeq
    val lateAfter = 50L * (5 + rnd.nextInt(10))
    val (sent, acked) = (new AtomicLong, new AtomicLong)
    val seen = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (total, sent after it, twice-held rows)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    def guarded(body: => Unit): Thread = thread(try body catch { case e: Throwable => errors.add(e): Unit })
    val inserter = guarded(blocks.foreach { b =>
      sent.addAndGet(50)
      post(s"INSERT INTO $t FORMAT TabSeparated\n$b\n")
      acked.addAndGet(50)
    })
    val alterer = guarded((1 to 20).foreach(_ => post(s"ALTER TABLE $t UPDATE v = v WHERE g < 0")))
    val creator = guarded {
      while (acked.get < lateAfter && inserter.isAlive) Thread.sleep(20)
      post(s"CREATE MATERIALIZED VIEW $late AS $aggSelect")
    }
    val reader = guarded(while (inserter.isAlive || alterer.isAlive) {
      val total = post(s"SELECT sum(n) FROM $agg").trim
      val sentThen = sent.get
      val twice = post(s"SELECT count(*) - count(DISTINCT v) FROM $app").trim.toLong
      seen.add((if (total == "\\N") 0L else total.toLong, sentThen, twice))
    })
    val writers = Seq(inserter, alterer, creator, reader)
    val end = System.nanoTime() + Budget * 1000000000L
    writers.foreach(w => w.join(math.max(1, (end - System.nanoTime()) / 1000000)))
    assert(!writers.exists(_.isAlive), s"round $seed ran past its $Budget s budget")
    info(s"round $seed: ${Budget - (end - System.nanoTime()) / 1000000000L} s, ${seen.size} reads")
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("\n"))
    val wrong = seen.asScala.filter { case (total, sentThen, twice) => total > sentThen || twice > 0 }
    assert(wrong.isEmpty, s"reads (total, sent, rows held twice): ${wrong.mkString(", ")}")
    assert(post(s"SELECT count(*) FROM $t") == s"${acked.get}\n")
    assert(acked.get == 1000)
    Seq(agg -> aggSelect, late -> aggSelect, app -> appSelect).foreach {
      case (mv, select) =>
        val order = if (mv == app) "g, v" else "g"
        assert(post(s"SELECT * FROM $mv ORDER BY $order") == post(s"$select ORDER BY $order"),
          s"$mv differs from its SELECT")
    }
    assert(ChDdl.mvModeFor(agg).exists(_.startsWith("AggInc")))
    assert(ChDdl.mvModeFor(late).exists(_.startsWith("AggInc")))
    assert(ChDdl.mvModeFor(app).exists(_.startsWith("AppendInc")))
    Seq(late, app, agg, t).foreach(n => post(s"DROP TABLE $n"))
  }

  /** Seconds a round may take, threads joined (about 27 s on a 4 vCPU
    * host). */
  private val Budget = 90

  test("INSERTs, ALTERs and a CREATE MATERIALIZED VIEW racing over the HTTP door leave every MV equal to its SELECT") {
    Seq(1, 2).foreach(round)
  }
}
