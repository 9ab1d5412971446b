package graft.perfbench

import java.io.{File, OutputStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.{ChSql, Engine, SparkEntry}
import graft.server.{HttpSqlEndpoint, MySqlEndpoint, PgEndpoint}

/** The process under test. Reads a plan written by `run.py` (every input
  * already generated from the workload seed), drives the engine through
  * its public entry points, and writes raw observations — operation
  * times, spans, listener events, answers — as JSON. All arithmetic on
  * them happens in `run.py`.
  *
  * Usage: `Harness <plan.json> <out.json>` */
object Harness {
  private val mapper = new ObjectMapper()
  private val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val tracer = new Tracer
  private var events: Events = _

  private def ms(t0: Long): Double = (Clock.now() - t0) / 1e6
  private def timed[T](key: String)(f: => T): T = {
    val t0 = Clock.now()
    try f finally phases(key) = ms(t0)
  }
  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private def pairs(n: JsonNode): Seq[(String, String)] =
    n.elements().asScala.map(p => (p.get(0).asText, p.get(1).asText)).toSeq

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    phases("main_ns") = Clock.now()
    val workload = plan.get("workload").asText
    val traced = plan.get("trace").asBoolean
    val dir = plan.get("data_dir").asText
    val spark = timed("session_ms")(Engine.session())
    timed("register_ms")(Engine.registerAll(spark, dir))
    if (traced) {
      events = new Events
      spark.sparkContext.addSparkListener(events)
      spark.listenerManager.register(events)
    }
    val w = workload match {
      case "olap_headline" => new Olap(spark, plan, dir)
      case "ingest_mixed" => new Ingest(spark, plan)
    }
    timed("doors_ms")(w.setUp())
    timed("warmup_ms")(w.warmUp())
    phases("ready_ns") = Clock.now()
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val t0 = Clock.now()
    if (traced) w.traced() else w.measure()
    phases("timed_start_ns") = t0
    phases("timed_end_ns") = Clock.now()
    phases("jvm_gc_ms") = gcMs() - gc0
    phases("jvm_heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    phases("vmhwm_mb") = vmHwmMb()
    w.check()
    val out = Map(
      "phases" -> phases.toMap, "ops" -> ops.asScala.toSeq,
      "spans" -> tracer.spans.asScala.toSeq,
      "events" -> (if (events == null) Nil else events.q.asScala.toSeq),
      "results" -> results.toMap,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""))
    w.tearDown()
    spark.stop()
    mapper.writeValue(new File(args(1)), toJava(out))
    sys.exit(0)
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Record one operation as its client saw it. */
  private def record(kind: String, stmt: String, client: Int, door: String, start: Long,
      r: Resp, extra: Map[String, Any] = Map.empty): Unit =
    ops.add(Map("kind" -> kind, "stmt" -> stmt, "client" -> client, "door" -> door,
      "start" -> start, "first" -> r.first, "end" -> r.end, "ok" -> (r.err == null),
      "err" -> r.err, "rows" -> r.rows.size, "bytes" -> r.bytes, "traced" -> tracer.on) ++ extra)

  /** In a traced run, after each operation wait until Spark has
    * delivered every event it caused, so none lands in the next one. */
  private def drain(spark: SparkSession): Unit =
    if (events != null) org.apache.spark.ListenerBusDrain(spark.sparkContext)

  private trait Workload {
    def setUp(): Unit = ()
    def warmUp(): Unit
    def measure(): Unit
    def traced(): Unit
    /** Untimed reads of the final state, after the timed region. */
    def check(): Unit = ()
    def tearDown(): Unit = ()
  }

  /** Analysts' batch queries: `SparkEntry.queries(name)(spark, dir)`
    * executed into the `noop` sink, pass after pass. */
  private final class Olap(spark: SparkSession, plan: JsonNode, dir: String) extends Workload {
    private val fns = SparkEntry.queries
    private val orders = plan.get("orders").elements().asScala.map(strs).toIndexedSeq

    private def run(name: String): Unit = {
      val t0 = Clock.now()
      val err = tracer.span(s"query:$name", newOp = true) {
        try {
          val df = tracer.span("ops.build")(fns(name)(spark, dir))
          tracer.span("exec.run")(df.write.format("noop").mode("overwrite").save())
          null
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      }
      val t1 = Clock.now()
      drain(spark)
      record("query", name, 0, "", t0, Resp(t1, t1, 0, Nil, Nil, err))
    }

    /** Untimed passes; the first writes each answer out for the
      * launcher's checks, so no extra execution follows the timed passes. */
    def warmUp(): Unit = {
      val out = plan.get("results_dir").asText
      val names = strs(plan.get("warmup_order"))
      phases("warmup_passes") = (0 until plan.get("warmup_passes").asInt).map { p =>
        names.map { q =>
          val t0 = Clock.now()
          try {
            val df = fns(q)(spark, dir)
            if (p == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
            else df.write.format("noop").mode("overwrite").save()
          } catch { case _: Throwable => () }
          q -> ms(t0)
        }.toMap
      }
      results("oracle_sql") = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    }

    /** One pass per planned order; every query runs the same number of times. */
    def measure(): Unit = orders.foreach(_.foreach(run))

    /** Three passes: untraced, traced, untraced. Every query is traced
      * once, and the untraced passes on both sides of the traced one
      * straddle its warm-up drift for the overhead comparison. */
    def traced(): Unit = {
      Seq(false, true, false).zipWithIndex.foreach { case (on, p) =>
        tracer.on = on
        orders(p % orders.size).foreach(run)
      }
      tracer.on = false
    }
  }

  /** The three wire doors, started in-process as `ServerMain` does, and
    * a fresh client of any of them by name. */
  private final class Doors(spark: SparkSession) {
    private val http = HttpSqlEndpoint.start(spark, 0, None)
    private val my = MySqlEndpoint.start(spark, 0, None)
    private val pg = PgEndpoint.start(spark, 0, None)
    def connect(door: String): DoorClient = door match {
      case "http_tsv" => new HttpClient(http.port)
      case "mysql" => new MySqlClient(my.port)
      case "pg" => new PgClient(pg.port)
    }
    def httpClient(): HttpClient = new HttpClient(http.port)
    def stop(): Unit = { http.stop(); my.stop(); pg.stop() }
  }

  /** Send `sql` through `door`'s client inside a `server.<door>` span;
    * when traced, run it again in-process through `ChSql` and
    * `HttpSqlEndpoint.render` (into a byte-counting sink) to split it
    * into layers. */
  private def sendTraced(spark: SparkSession, c: DoorClient, door: String, sql: String): Resp = {
    val r = tracer.span(s"server.${door.takeWhile(_ != '_')}") {
      try c.query(sql) catch { case e: Throwable =>
        val t = Clock.now(); Resp(t, t, 0, Nil, Nil, s"connection: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    if (tracer.on) {
      tracer.span("chsql.rewrite")(ChSql.rewrite(spark, sql))
      val df = tracer.span("chsql.sql")(ChSql.sql(spark, sql))
      tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
      events.q.add(Events.phases(df.queryExecution) ++
        Map("kind" -> "qe", "t" -> Clock.now(), "func" -> "door", "op" -> tracer.currentOp))
      val sink = new CountingSink
      tracer.span("server.render")(HttpSqlEndpoint.render(df, "TabSeparated", sink))
      events.q.add(Map("kind" -> "render", "t" -> Clock.now(), "bytes" -> sink.n,
        "op" -> tracer.currentOp))
    }
    r
  }


  private final class CountingSink extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  /** Writers INSERT while readers read: one writer sends a fixed list of
    * TSV blocks over HTTP into a MergeTree table with an aggregating MV;
    * the readers query the table and the MV until the writer is done,
    * each rotating over the listed doors. */
  private final class Ingest(spark: SparkSession, plan: JsonNode) extends Workload {
    private var doors: Doors = _
    private val table = plan.get("table").asText
    private val blocks = strs(plan.get("blocks"))
    private val reads = pairs(plan.get("reads"))
    private val readerDoors = strs(plan.get("reader_doors"))
    private val readers = plan.get("readers").asInt

    private def must(c: HttpClient, sql: String): Resp = {
      val r = c.request(sql)
      require(r.err == null, s"setup statement failed: ${r.err}: ${sql.take(200)}")
      r
    }

    override def setUp(): Unit = {
      doors = new Doors(spark)
      val c = doors.httpClient()
      strs(plan.get("setup_sql")).foreach(must(c, _))
      c.close()
    }
    override def tearDown(): Unit = doors.stop()

    def warmUp(): Unit = {
      val c = doors.httpClient()
      strs(plan.get("warmup_sql")).foreach(must(c, _))
      c.close()
      // one read per reader door, so each door's first connection is not timed
      readerDoors.foreach { d => val r = doors.connect(d); r.query(reads.head._2); r.close() }
    }

    private def insert(c: HttpClient, i: Int): Unit = {
      val t0 = Clock.now()
      val r = tracer.span("ingest.insert", newOp = true) {
        try c.request(blocks(i)) catch { case e: Throwable =>
          val t = Clock.now(); Resp(t, t, 0, Nil, Nil, e.toString) }
      }
      record("insert", "insert", 0, "http_tsv", t0, r,
        Map("block" -> i, "block_rows" -> (blocks(i).count(_ == '\n') - 1)))
    }
    /** Read number `k`: door `k` mod doors, statement `k / doors` mod statements. */
    private def read(cs: Seq[DoorClient], reader: Int, k: Int): Unit = {
      val d = k % readerDoors.size
      val (name, sql) = reads((k / readerDoors.size) % reads.size)
      val t0 = Clock.now()
      val r = tracer.span(s"read:$name", newOp = true)(sendTraced(spark, cs(d), readerDoors(d), sql))
      record("read", name, reader + 1, readerDoors(d), t0, r, Map("result" -> r.rows))
    }

    def measure(): Unit = {
      @volatile var writing = true
      val go = new CyclicBarrier(1 + readers)
      val writer = new Thread(() => {
        val c = doors.httpClient(); go.await()
        try blocks.indices.foreach(insert(c, _)) finally { writing = false; c.close() }
      })
      val threads = writer +: (0 until readers).map { j =>
        new Thread(() => {
          val cs = readerDoors.map(doors.connect); go.await()
          var k = j
          while (writing) { read(cs, j, k); k += readers }
          cs.foreach(_.close())
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }

    /** The same inserts one at a time, each followed by one read per
      * reader; every other operation traced, with the files and bytes
      * each traced insert adds. */
    def traced(): Unit = {
      val w = doors.httpClient()
      val rs = readerDoors.map(doors.connect)
      var k = 0
      var n = 0
      blocks.indices.foreach { i =>
        tracer.on = k % 2 == 1
        val before = storage()
        insert(w, i)
        drain(spark)
        if (tracer.on) {
          val after = storage()
          events.q.add(Map("kind" -> "ingest_files", "t" -> Clock.now(),
            "files" -> (after._1 - before._1), "bytes" -> (after._2 - before._2)))
        }
        k += 1
        (0 until readers).foreach { j =>
          tracer.on = k % 2 == 1; read(rs, j, n); drain(spark); k += 1; n += 1
        }
      }
      tracer.on = false
      (w +: rs).foreach(_.close())
    }

    private def ls(f: File): Seq[File] = Option(f.listFiles()).toSeq.flatten
    /** The engine's directories for the table's parts and the MV's versions. */
    private def dirs(): Seq[File] = {
      def under(area: String, prefix: String) =
        ls(new File(Engine.scratch(spark, area, "x")).getParentFile).filter(_.getName.startsWith(prefix))
      under("http", s"ingest_${table}_g") ++ under("ddl", s"mv_${plan.get("mv").asText}_g")
    }
    /** (files, bytes) the table's parts and the MV's versions hold on disk. */
    private def storage(): (Long, Long) = {
      def walk(f: File): Seq[File] = if (f.isDirectory) ls(f).flatMap(walk) else Seq(f)
      val files = dirs().flatMap(walk)
      (files.size.toLong, files.map(_.length).sum)
    }

    override def check(): Unit = {
      val c = doors.httpClient()
      results("final") = pairs(plan.get("final_reads")).map { case (name, sql) =>
        val r = c.query(sql)
        Map("name" -> name, "err" -> r.err, "result" -> r.rows)
      }
      c.close()
      val (files, bytes) = storage()
      results("stored_files") = files
      results("stored_bytes") = bytes
      results("scan_leaves") = spark.table(table).queryExecution.optimizedPlan.collectLeaves().size
      results("parts") = dirs().filter(_.getName.startsWith("ingest_"))
        .flatMap(ls).count(_.getName.matches("b\\d+"))
    }
  }
}
