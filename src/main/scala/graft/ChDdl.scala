package graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types._
import scala.util.matching.Regex

/** ClickHouse TEXT DDL for the wire doors: the statements a CH init
  * script (`/docker-entrypoint-initdb.d`, reference `Dockerfile:190`)
  * contains, over ONE record per table name ([[Table]]). As CH makes an
  * MV a trigger over an inner table, an MV here is a table with a
  * maintenance rule, so INSERT, TRUNCATE and ALTER on it act on its
  * stored parts.
  *
  *   - `CREATE TABLE [IF NOT EXISTS] t (cols…) ENGINE = MergeTree ORDER
  *     BY … [PARTITION BY …] [SAMPLE BY …]` → a record with the layout
  *     INSERTs honor (sort within partitions by the ORDER BY key,
  *     directory partitions by the PARTITION BY expression — the K10
  *     writer semantics, reference `Dockerfile:228`).
  *     `ReplacingMergeTree(ver)` also registers the FINAL metadata
  *     ([[ChSql]] b6).
  *   - `CREATE MATERIALIZED VIEW [IF NOT EXISTS] mv AS SELECT …` → a
  *     record whose parts hold the SELECT's result; every MV read scans
  *     THOSE, never the source. Maintenance is insert-driven like CH's
  *     incremental MVs (J1): a single-source `GROUP BY` of
  *     count/sum/min/max merges the inserted block's partial aggregate
  *     into the stored target (reads only target + block — the
  *     AggregatingMergeTree collapse shape); a single-source
  *     projection/filter appends the transformed block as a part (CH's
  *     exact per-block semantics); every other shape recomputes at
  *     write time, not per read. A merge or recompute replaces the MV's
  *     parts. All three equal a full recompute — the J1
  *     batch-equivalence property the k24/k25 oracle rows certify.
  *   - A CREATE replaces whatever record the name held, so a re-CREATE
  *     starts clean; with `IF NOT EXISTS` an existing name is kept.
  *     `DROP TABLE/VIEW [IF EXISTS] t` removes the record.
  *   - `ALTER TABLE … ADD COLUMN / DELETE WHERE / UPDATE … WHERE` (the
  *     A15 mergeSchema and K11 mutation-as-rewrite semantics) and
  *     `TRUNCATE TABLE t` rewrite the table's parts like CH's
  *     mutations: the new content becomes the only live part, so the
  *     view stays one scan however many ALTERs ran. Only the MVs that
  *     read the table recompute.
  *   - `INSERT INTO t …` ([[ingest]], every door's INSERT route) appends
  *     one part; the MVs that read the table take the block.
  *     `SHOW CREATE TABLE t` prints the record's CREATE.
  *
  * One writer at a time: each CREATE, DROP, TRUNCATE, ALTER and INSERT
  * runs whole under [[writer]], with every MV write it causes. Reads
  * never take it; they see the last published view. Every write ends
  * in the record's one `publish`: the view becomes base ∪ one scan over
  * the live parts, read as one partition while they fit in one
  * open-cost unit per core (`spark.sql.files.openCostInBytes` / cores),
  * so a read, merge or rewrite of a small table plans no Exchange.
  *
  * The CH type grammar maps per SURVEY §1.2 (unsigned widens, Nullable
  * is the nullability flag, LowCardinality is transparent). Statements
  * this scope doesn't cover (EXCHANGE, ALTER … MODIFY, …) return None
  * and fall through to Spark's parser to fail loudly.
  */
object ChDdl {

  final case class TableDef(schema: StructType, orderBy: Seq[String], partitionBy: Option[String],
      engine: String, engineArgs: String, sampleBy: Option[String])

  /** How an MV maintains itself when a source table takes an insert. */
  private sealed trait MvMode
  /** Merge the block's partial aggregate into the stored target:
    * target' = (target ∪ agg(block)) re-aggregated by the key columns.
    * `aggs` = (output column, merge function) — count merges by sum. */
  private final case class AggInc(source: String, keyCols: Seq[String],
      aggs: Seq[(String, String)]) extends MvMode
  /** Append the transformed block (pure projection/filter MV). */
  private final case class AppendInc(source: String) extends MvMode
  /** Recompute the full SELECT into the target (eager maintenance). */
  private case object Recompute extends MvMode

  /** An MV's rule: its SELECT, the tables it reads, its mode, and its
    * creation number, the order [[maintain]] visits MVs in so a chain
    * sees its upstream fresh. */
  private final case class MvRule(select: String, sources: Set[String], mode: MvMode, seq: Int)

  /** Every name this object holds, lower-cased, to its one record.
    * Concurrent, since reads (`engineName`, SHOW CREATE) take no lock. */
  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Table]()
  private val mvSeq = new java.util.concurrent.atomic.AtomicInteger()
  /** The one lock: held by a mutating statement from start to finish. */
  private val writer = new Object

  private def table(name: String): Option[Table] = Option(tables.get(name.toLowerCase))

  /** The record `name` holds; a view with none (an sf table at its
    * first write) gets one, with that view as its base. */
  private def record(spark: SparkSession, name: String): Table =
    tables.computeIfAbsent(name.toLowerCase,
      _ => new Table(spark, name, None, Some(spark.table(name)), None))

  private def exists(spark: SparkSession, name: String): Boolean =
    tables.containsKey(name.toLowerCase) || spark.catalog.tableExists(name)

  /** The engine `system.tables` reports: the declared one for a
    * CREATE TABLE, `MaterializedView` for an MV, None otherwise. */
  def engineName(name: String): Option[String] =
    table(name).flatMap(t => t.ddl.map(_.engine).orElse(t.mv.map(_ => "MaterializedView")))

  // ---- committed parts ----------------------------------------------------

  private val gens = new java.util.concurrent.atomic.AtomicInteger()

  /** A committed part: its dir and its data files' bytes. */
  private final case class Part(dir: String, bytes: Long)

  /** One table's or MV's committed parts (SURVEY §1.1's MergeTree
    * parts), `Engine.scratch(spark, area, "<name>_g<n>")/b<i>` — the
    * only code here that names, writes or reads a part dir. A part goes
    * live only after its write commits: a failed write does not advance
    * `i`, so nothing reads its dir and the next write overwrites it. No
    * write touches a live part, so a write may read them, and a part a
    * `replace` retired keeps its dir for readers that still scan it.
    * Every Parts takes a fresh `g<n>`, since after a re-CREATE the
    * current view may still read the previous record's files. */
  private final class Parts(spark: SparkSession, area: String, name: String) {
    private val dir = Engine.scratch(spark, area, s"${name}_g${gens.incrementAndGet()}")
    private var committed = 0
    private var live = Vector.empty[Part]

    /** Write `df` as the next part and add it to the live ones (`keep`)
      * or make it the only one; returns it with the data files its
      * commit listed. */
    def commit(df: DataFrame, partCols: Seq[String], keep: Boolean): (Part, Seq[FileStatus]) = {
      val path = s"$dir/b${committed + 1}"
      val w = df.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(path)
      val files = dataFiles(path)
      val part = Part(path, files.map(_.getLen).sum)
      committed += 1
      live = (if (keep) live else Vector.empty) :+ part
      (part, files)
    }

    /** ONE scan over `parts` (default: the live ones), the writer's
      * schema pinned. Recursive lookup turns partition discovery off, so
      * `PARTITION BY` parts share the scan and an empty part reads as
      * empty instead of failing schema inference. Parts that hold no
      * more than one `spark.sql.files.openCostInBytes` (Spark's cost of
      * opening a file) per core read as one partition without a
      * shuffle: that satisfies every required distribution, so an
      * aggregate, sort or merge over a small table or MV plans no
      * Exchange. Past about that size a CPU-heavy aggregate gains more
      * from the cores than the exchanges cost (measured on 4 cores:
      * break-even near 1 MB for an md5-per-row GROUP BY, near 2 MB
      * for an AggInc merge). No parts (a new table) read as no rows of
      * `schema` as declared. */
    def scan(schema: StructType, parts: Seq[Part] = live): DataFrame = if (parts.isEmpty) {
      empty(spark, schema)
    } else {
      val df = spark.read.schema(Engine.readBackSchema(schema))
        .option("recursiveFileLookup", "true").parquet(parts.map(_.dir): _*)
      val oneTask = spark.sessionState.conf.filesOpenCostInBytes / spark.sparkContext.defaultParallelism
      if (parts.map(_.bytes).sum <= oneTask) df.coalesce(1) else df
    }

    /** Rows in a part, summed from the footers of its data `files`. */
    def rows(files: Seq[FileStatus]): Long = {
      val conf = spark.sessionState.newHadoopConf()
      files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }

    /** The data files under `path` (in `k=v` partition dirs too,
      * `__graft_part=…`); skips the `_SUCCESS` and `.crc` files Spark's
      * listing skips. A committed part holds no hidden dirs.
      * Walks with `listStatus`, not `listFiles`: a `LocatedFileStatus`
      * loads each file's permission, a forked `ls -ld` without libhadoop. */
    private def dataFiles(path: String): Seq[FileStatus] = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      def walk(d: org.apache.hadoop.fs.Path): Seq[FileStatus] =
        fs.listStatus(d).toSeq.flatMap { f =>
          val name = f.getPath.getName
          if (f.isDirectory) walk(f.getPath)
          else if (name.startsWith("_") || name.startsWith(".")) Nil
          else Seq(f)
        }
      walk(root)
    }
  }

  /** What a name is: a table with its DDL if CREATE TABLE made it, its
    * `base` if it is a view that existed before its first write, its
    * parts (`Engine.scratch(spark, "http", "ingest_<t>_g<n>")`, an MV's
    * `(…, "ddl", "mv_<name>_g<n>")`), and an MV's rule. Every write
    * ends in [[publish]]. */
  private final class Table(spark: SparkSession, val name: String,
      @volatile var ddl: Option[TableDef], private var base: Option[DataFrame], val mv: Option[MvRule]) {
    val parts =
      if (mv.isDefined) new Parts(spark, "ddl", s"mv_${name.toLowerCase}")
      else new Parts(spark, "http", s"ingest_${name.toLowerCase}")

    /** Write `df` as the next part; returns it with its data files. */
    def append(df: DataFrame): (Part, Seq[FileStatus]) = write(df, keep = true)

    /** Make `df` the whole table: its only live part, over no base. A
      * failed write changes nothing. */
    def replace(df: DataFrame): Unit = write(df, keep = false): Unit

    private def write(df: DataFrame, keep: Boolean): (Part, Seq[FileStatus]) = {
      val (laid, partCols) = layout(df)
      val written = parts.commit(laid, partCols, keep)
      if (!keep) base = None
      publish(df.schema)
      written
    }

    /** Point the view at base ∪ ONE scan over the live parts. The
      * layout's shadow partition column lives only in the directory
      * names, which the scan does not read. */
    def publish(schema: StructType): Unit = {
      val scan = parts.scan(schema)
      base.fold(scan)(_.unionByName(scan)).createOrReplaceTempView(name)
    }

    /** The K10 layout of a DDL table: sort within partitions by the
      * ORDER BY key; directory-partition by the PARTITION BY expression
      * via a shadow column (CH's partition expression becomes the
      * directory key, reference `Dockerfile:228`). Returns the frame to
      * write and the partition columns to pass to the writer. */
    private def layout(df: DataFrame): (DataFrame, Seq[String]) = ddl match {
      case None => (df, Nil)
      case Some(d) =>
        val sorted = if (d.orderBy.nonEmpty) df.sortWithinPartitions(d.orderBy.map(col): _*) else df
        d.partitionBy match {
          // CH spellings (toYYYYMM…) resolve through the ChNames registry
          case Some(p) => (sorted.withColumn("__graft_part", expr(p)), Seq("__graft_part"))
          case None => (sorted, Nil)
        }
    }
  }

  /** The maintenance mode an MV classified into ("AggInc…",
    * "AppendInc…", "Recompute") — spec pinning only. */
  private[graft] def mvModeFor(name: String): Option[String] =
    table(name).flatMap(_.mv).map(_.mode.toString)

  /** CH type name → Spark type (SURVEY §1.2). Case matters in CH type
    * names, but accept any case; nullable via Nullable(…) wrapper. */
  private[graft] def chType(s0: String): (DataType, Boolean) = {
    val s = s0.trim
    val lower = s.toLowerCase
    def inner(prefix: String): String =
      s.substring(prefix.length + 1, s.length - 1) // strip name( … )
    if (lower.startsWith("nullable(")) (chType(inner("Nullable"))._1, true)
    else if (lower.startsWith("lowcardinality(")) chType(inner("LowCardinality"))
    else if (lower.startsWith("array(")) {
      val (et, en) = chType(inner("Array"))
      (ArrayType(et, en), false)
    }
    else if (lower.startsWith("decimal(")) {
      val Array(p, sc) = inner("Decimal").split(",").map(_.trim.toInt)
      (DecimalType(p, sc), false)
    }
    else if (lower.startsWith("decimal32(")) (DecimalType(9, inner("Decimal32").trim.toInt), false)
    else if (lower.startsWith("decimal64(")) (DecimalType(18, inner("Decimal64").trim.toInt), false)
    else if (lower.startsWith("datetime64(")) (TimestampType, false)
    else if (lower.startsWith("fixedstring(")) (StringType, false)
    else if (lower.startsWith("enum8(") || lower.startsWith("enum16(")) (StringType, false)
    else lower match {
      case "int8"            => (ByteType, false)
      case "int16"           => (ShortType, false)
      case "int32"           => (IntegerType, false)
      case "int64"           => (LongType, false)
      case "uint8"           => (ShortType, false)
      case "uint16"          => (IntegerType, false)
      case "uint32"          => (LongType, false)
      case "uint64"          => (DecimalType(20, 0), false)
      case "float32"         => (FloatType, false)
      case "float64"         => (DoubleType, false)
      case "string"          => (StringType, false)
      case "bool" | "boolean" => (BooleanType, false)
      case "date" | "date32" => (DateType, false)
      case "datetime"        => (TimestampType, false)
      case "uuid"            => (StringType, false)
      case other => throw new IllegalArgumentException(s"unsupported CH type: $other")
    }
  }

  /** Split `a, b(c, d), e` on top-level commas. */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '\'' =>
          i += 1
          while (i < s.length && s.charAt(i) != '\'') i += 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def stripParens(s: String): String = {
    val t = s.trim
    if (t.startsWith("(") && t.endsWith(")")) t.substring(1, t.length - 1).trim else t
  }

  private val CreateTableRe =
    ("(?is)^\\s*CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*" +
      "\\((.*)\\)\\s*ENGINE\\s*=\\s*([A-Za-z]+)(?:\\(([^)]*)\\))?\\s*(.*)$").r
  // decorations between the name and AS (ENGINE/ORDER BY/POPULATE/TO)
  // are storage hints in this model and skip via the lazy middle group
  private val CreateMvRe =
    ("(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "`?([A-Za-z_][A-Za-z0-9_]*)`?\\b.*?\\bAS\\s+((?:SELECT|WITH)\\b.*)$").r
  private val DropRe =
    "(?is)^\\s*DROP\\s+(?:TABLE|VIEW)\\s+(IF\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*$".r
  private val ShowCreateRe =
    "(?is)^\\s*SHOW\\s+CREATE\\s+TABLE\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*$".r
  private val TruncateRe =
    "(?is)^\\s*TRUNCATE\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*$".r
  private val AlterAddColRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+ADD\\s+COLUMN\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+" +
      "([A-Za-z][A-Za-z0-9_]*(?:\\(.*?\\))?)" +
      "(?:\\s+DEFAULT\\s+(.+?))?\\s*$").r
  private val AlterDeleteRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+DELETE\\s+WHERE\\s+(.+)$".r
  private val AlterUpdateRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+UPDATE\\s+(.+?)\\s+WHERE\\s+(.+)$".r

  /** Is `text` a MUTATING DDL statement this object would handle? Pure
    * classification for the wire doors' Describe paths (ADVICE r19:
    * PG Describe must not execute — DROP used to drop at Describe).
    * SHOW CREATE is deliberately excluded: it returns a resultset and
    * is side-effect-free, so Describe may analyze it normally. */
  def isDdl(text: String): Boolean = {
    val t = text.trim.stripSuffix(";")
    writes.exists(_._1.findFirstMatchIn(t).isDefined)
  }

  /** The mutating statements, in match order, each with its write. */
  private val writes: Seq[(Regex, (SparkSession, Regex.Match) => Unit)] = Seq(
    CreateTableRe -> createTable _, CreateMvRe -> createMv _, DropRe -> drop _,
    TruncateRe -> truncate _, AlterAddColRe -> addColumn _, AlterDeleteRe -> delete _,
    AlterUpdateRe -> update _)

  private val ClauseRe =
    "(?i)\\b(ORDER\\s+BY|PARTITION\\s+BY|PRIMARY\\s+KEY|SAMPLE\\s+BY|TTL|SETTINGS)\\b".r

  /** Clause scanner over the CREATE TABLE tail: ORDER BY / PARTITION
    * BY / PRIMARY KEY / SAMPLE BY / TTL / SETTINGS, in any order, keyed
    * by the upper-cased keyword. Keywords match as whole words only
    * (`TTL` inside `settled_at` is part of a name). */
  private def clauses(tail: String): Map[String, String] = {
    val ms = ClauseRe.findAllMatchIn(tail).toSeq
    ms.zip(ms.drop(1).map(_.start) :+ tail.length).map { case (m, end) =>
      m.group(1).toUpperCase.split("\\s+").mkString(" ") -> tail.substring(m.end, end).trim
    }.toMap
  }

  /** CH type default for a column added without DEFAULT (public CH
    * semantics: existing rows read the type's zero value; Nullable
    * columns read NULL). */
  private def typeDefault(dt: DataType, nullable: Boolean): String =
    if (nullable) s"CAST(NULL AS ${dt.sql})"
    else dt match {
      case _: NumericType => s"CAST(0 AS ${dt.sql})"
      case StringType     => "''"
      case BooleanType    => "false"
      case _              => s"CAST(NULL AS ${dt.sql})"
    }

  /** Try to execute `text` as CH DDL. Some(df) = handled (df is the
    * statement's result — empty for DDL proper); None = not DDL. A
    * mutating statement runs under [[writer]]; SHOW CREATE and every
    * statement that is not DDL pass without taking it. */
  def execute(spark: SparkSession, text: String): Option[DataFrame] = {
    val t = text.trim.stripSuffix(";")
    writes.iterator.flatMap { case (re, run) => re.findFirstMatchIn(t).map(run -> _) }.nextOption() match {
      case Some((run, m)) =>
        writer.synchronized(run(spark, m))
        Some(spark.emptyDataFrame)
      case None => ShowCreateRe.findFirstMatchIn(t).map(m => showCreate(spark, m.group(1)))
    }
  }

  private def createTable(spark: SparkSession, m: Regex.Match): Unit = {
    val name = m.group(2)
    if (m.group(1) == null || !exists(spark, name)) {
      val engine = m.group(4)
      val engineArgs = Option(m.group(5)).map(_.trim).getOrElse("")
      val fields = splitTop(m.group(3)).map { colDef =>
        // "name Type [DEFAULT …]" — take the first two tokens; CODEC/
        // DEFAULT/COMMENT decorations are storage hints, dropped
        val parts = colDef.trim.split("\\s+", 3)
        require(parts.length >= 2, s"CREATE TABLE: bad column def '$colDef'")
        val (dt, nullable) = chType(parts(1))
        StructField(parts(0).replace("`", ""), dt, nullable)
      }
      val schema = StructType(fields)
      val cl = clauses(m.group(6))
      val orderBy = cl.get("ORDER BY").map(stripParens).map(splitTop).getOrElse(Nil)
      val partitionBy = cl.get("PARTITION BY").map(stripParens).filter(_.nonEmpty)
      val sampleBy = cl.get("SAMPLE BY").map(stripParens)
      // the name's FINAL/SAMPLE metadata is the new engine's alone
      ChSql.forget(name)
      // ReplacingMergeTree(ver): FINAL reads collapse by the sorting key
      if (engine.equalsIgnoreCase("ReplacingMergeTree") && engineArgs.nonEmpty)
        ChSql.registerFinal(name, orderBy, engineArgs.split(",").head.trim)
      sampleBy.foreach(k => ChSql.registerSample(name, k))
      val rec = new Table(spark, name,
        Some(TableDef(schema, orderBy, partitionBy, engine, engineArgs, sampleBy)), None, None)
      tables.put(name.toLowerCase, rec)
      rec.publish(schema)
    }
  }

  private def drop(spark: SparkSession, m: Regex.Match): Unit = {
    val name = m.group(2)
    val existed = spark.catalog.dropTempView(name)
    require(existed || m.group(1) != null, s"DROP: no such table/view '$name'")
    tables.remove(name.toLowerCase)
    ChSql.forget(name)
  }

  /** TRUNCATE; with `IF EXISTS` a missing table is a no-op, as in CH. */
  private def truncate(spark: SparkSession, m: Regex.Match): Unit =
    if (m.group(1) == null || exists(spark, m.group(2)))
      rebase(spark, m.group(2))((_, cur) => Some(empty(spark, cur.schema)))

  private def addColumn(spark: SparkSession, m: Regex.Match): Unit = {
    val (tbl, colName, typeStr) = (m.group(1), m.group(3), m.group(4))
    rebase(spark, tbl) { (rec, cur) =>
      // an MV's rule writes the SELECT's columns: the new one would fail
      // an AggInc merge, or vanish at the next AppendInc/Recompute write
      if (rec.mv.nonEmpty) throw new graft.server.Statement.ChError(48, // NOT_IMPLEMENTED
        s"Alter of type 'ADD_COLUMN' is not supported by storage MaterializedView ($tbl)")
      if (cur.columns.contains(colName)) {
        require(m.group(2) != null, s"ALTER: column '$colName' already exists in '$tbl'")
        None
      } else {
        val (dt, nullable) = chType(typeStr)
        val d = Option(m.group(5)).map(_.trim).getOrElse(typeDefault(dt, nullable))
        rec.ddl = rec.ddl.map(td => td.copy(schema = td.schema.add(StructField(colName, dt, nullable))))
        // A15 mergeSchema semantics: existing rows read the default
        Some(cur.withColumn(colName, expr(d).cast(dt)))
      }
    }
  }

  /** K11 mutation-as-rewrite: keep rows where the predicate is false
    * OR NULL (CH deletes only rows where it evaluates true). */
  private def delete(spark: SparkSession, m: Regex.Match): Unit =
    rebase(spark, m.group(1))((_, cur) =>
      Some(cur.where(F.not(F.coalesce(expr(m.group(2).trim), F.lit(false))))))

  private def update(spark: SparkSession, m: Regex.Match): Unit = {
    val hit = F.coalesce(expr(m.group(3).trim), F.lit(false))
    val assigns = splitTop(m.group(2)).map { a =>
      val Array(c, e) = a.split("=", 2)
      c.trim.replace("`", "") -> e.trim
    }.toMap
    // ONE select: every assignment and the predicate evaluate against
    // the ORIGINAL row (CH mutation semantics) — sequential
    // withColumn would let `k = v, v = k` see each other's updates
    rebase(spark, m.group(1))((_, cur) => Some(cur.select(cur.columns.toIndexedSeq.map { c =>
      assigns.get(c) match {
        case Some(e) =>
          F.when(hit, expr(e).cast(cur.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)))
  }

  private def showCreate(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val rec = table(name).getOrElse(
      throw new IllegalArgumentException(s"SHOW CREATE TABLE: unknown table '$name'"))
    val stmt = rec.ddl.map { d =>
      val cols = d.schema.fields.map(f => s"`${f.name}` ${chTypeName(f)}").mkString(", ")
      s"CREATE TABLE $name ($cols) ENGINE = ${d.engine}" +
        (if (d.engineArgs.nonEmpty) s"(${d.engineArgs})" else "") +
        (if (d.orderBy.nonEmpty) s" ORDER BY (${d.orderBy.mkString(", ")})" else "") +
        d.partitionBy.map(p => s" PARTITION BY $p").getOrElse("") +
        d.sampleBy.map(k => s" SAMPLE BY $k").getOrElse("")
    }.orElse(rec.mv.map(r => s"CREATE MATERIALIZED VIEW $name AS ${r.select}")).getOrElse(
      throw new IllegalArgumentException(s"SHOW CREATE TABLE: '$name' has no CREATE statement"))
    Seq(stmt).toDF("statement")
  }

  /** Rewrite `name` (TRUNCATE, ALTER): `next` takes the record and the
    * table's rows, and its answer, if any, becomes the table's only
    * part; then the MVs that read the table recompute. */
  private def rebase(spark: SparkSession, name: String)(
      next: (Table, DataFrame) => Option[DataFrame]): Unit = {
    val rec = record(spark, name)
    next(rec, spark.table(name)).foreach { df =>
      rec.replace(df)
      maintain(spark, name, None)
    }
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  private def chTypeName(f: StructField): String = {
    val base = graft.server.HttpSqlEndpoint.chTypeName(f.dataType, nullable = false)
    if (f.nullable) s"Nullable($base)" else base
  }

  // ---- materialized views ------------------------------------------------

  /** Classify the MV's SELECT into a maintenance mode by its ANALYZED
    * plan (resolved aggregates — unresolved names can hide aggregate
    * functions) plus its PARSED plan (exact referenced table names,
    * subqueries included). */
  private def classify(sources: Set[String], df: DataFrame): MvMode = {
    if (sources.size != 1) return Recompute
    val src = sources.head
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    def hasSubquery(e: Expression): Boolean =
      e.exists(_.isInstanceOf[SubqueryExpression])
    // the chain below the top operator must be Filter* over the single
    // source's view boundary — anything else (joins, windows, sorts,
    // set ops, subqueries) recomputes
    def leafTable(p: LogicalPlan): Option[String] = p match {
      case s: SubqueryAlias => Some(s.identifier.name.toLowerCase)
      case Filter(cond, c) if cond.deterministic && !hasSubquery(cond) => leafTable(c)
      case _ => None
    }
    def hasAgg(e: Expression): Boolean =
      e.exists(_.isInstanceOf[AggregateExpression])
    df.queryExecution.analyzed match {
      case Aggregate(groupExprs, items, child, _) if leafTable(child).contains(src) =>
        val aggs = Seq.newBuilder[(String, String)]
        val keys = Seq.newBuilder[String]
        var ok = true
        items.foreach {
          case a @ Alias(ae: AggregateExpression, name) if a.deterministic =>
            // only re-aggregatable, unfiltered, non-distinct aggregates
            // merge; count merges by sum. Names must be plain
            // identifiers (the merge re-selects them by name).
            if (ae.isDistinct || ae.filter.isDefined || !name.matches(ident)) ok = false
            else ae.aggregateFunction match {
              case _: Count => aggs += name -> "sum"
              case _: Sum   =>
                // floating-point partial sums re-order under merge and
                // can drift a ulp off the full recompute — exact types
                // (integral, decimal) only
                df.schema(name).dataType match {
                  case DoubleType | FloatType => ok = false
                  case _ => aggs += name -> "sum"
                }
              case _: Min => aggs += name -> "min"
              case _: Max => aggs += name -> "max"
              case _ => ok = false
            }
          case item if !hasAgg(item) && item.deterministic &&
              item.name.matches(ident) =>
            // a non-aggregate output must BE one of the grouping
            // expressions — otherwise two groups distinct in a hidden
            // key could share every output value and the merge would
            // wrongly collapse them
            val childExpr = item match { case Alias(c, _) => c; case e => e }
            if (groupExprs.exists(g => g.semanticEquals(childExpr))) keys += item.name
            else ok = false
          case _ => ok = false
        }
        val (ks, as) = (keys.result(), aggs.result())
        if (ok && as.nonEmpty && groupExprs.length == ks.length) AggInc(src, ks, as)
        else Recompute
      case Project(items, child) if leafTable(child).contains(src) &&
          items.forall(i => i.deterministic && !hasAgg(i) && !hasSubquery(i)) =>
        AppendInc(src)
      case _ => Recompute
    }
  }

  /** Put a new MV record whose only part is the SELECT's result —
    * reads hit the parts, never the defining SELECT. A failed write
    * leaves the name as it was; with `IF NOT EXISTS` an existing name
    * is kept. */
  private def createMv(spark: SparkSession, m: Regex.Match): Unit = {
    val (name, select) = (m.group(2), m.group(3))
    if (m.group(1) == null || !exists(spark, name)) {
      val df = ChSql.sql(spark, select)
      val parsed = spark.sessionState.sqlParser.parsePlan(ChSql.rewrite(spark, select))
      val sources = parsed.collectWithSubqueries {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          u.multipartIdentifier.last.toLowerCase
      }.toSet
      val mv = new Table(spark, name, None, None,
        Some(MvRule(select, sources, classify(sources, df), mvSeq.incrementAndGet())))
      mv.replace(df)
      ChSql.forget(name)
      tables.put(name.toLowerCase, mv): Unit
    }
  }

  /** The view an INSERT's block is read through while its MVs take it. */
  private val DeltaView = "__graft_mv_delta"

  /** MV maintenance after `table` changed: only the MVs that read it,
    * directly or through an MV visited before (creation order, so a
    * chain sees its upstream fresh). `delta` = the block an INSERT just
    * committed, read back from its part: the table's AggInc and
    * AppendInc MVs take it (CH's incremental-MV contract), reading
    * their SELECT with the source replaced by [[DeltaView]]. Every
    * other MV visited, and every one after a TRUNCATE or ALTER (None),
    * recomputes its SELECT — a chain hop against the upstream MV's
    * materialized target. Both equal a full recompute (J1). */
  private def maintain(spark: SparkSession, table: String, delta: Option[DataFrame]): Unit = {
    import scala.jdk.CollectionConverters._
    val src = table.toLowerCase
    // classification guarantees a lone `FROM src`
    def block(select: String) = ChSql.sql(spark, select.replaceAll(
      "(?i)(\\bFROM\\s+)`?" + java.util.regex.Pattern.quote(src) + "`?\\b", "$1" + DeltaView))
    var changed = Set(src)
    delta.foreach(_.createOrReplaceTempView(DeltaView))
    try tables.values.asScala.toSeq.flatMap(t => t.mv.map(t -> _)).sortBy(_._2.seq).foreach {
      case (mv, rule) if rule.sources.intersect(changed).nonEmpty =>
        (rule.mode, delta) match {
          case (AggInc(`src`, keyCols, aggs), Some(_)) =>
            val old = spark.table(mv.name)
            val mergeExprs = aggs.map { case (alias, fn) =>
              expr(s"$fn(`$alias`)").cast(old.schema(alias).dataType).as(alias)
            }
            mv.replace(old.unionByName(block(rule.select))
              .groupBy(keyCols.map(col): _*)
              .agg(mergeExprs.head, mergeExprs.tail: _*)
              .select(old.columns.map(col).toIndexedSeq: _*)) // declared order
          case (AppendInc(`src`), Some(_)) => mv.append(block(rule.select)): Unit
          case _ => mv.replace(ChSql.sql(spark, rule.select))
        }
        changed += mv.name.toLowerCase
      case _ =>
    } finally if (delta.isDefined) spark.catalog.dropTempView(DeltaView): Unit
  }

  // ---- INSERT ingest ------------------------------------------------------

  /** `INSERT INTO t [(cols)] FORMAT fmt\ndata…`,
    * `INSERT INTO t [(cols)] VALUES (…),(…)`, or
    * `INSERT INTO t [(cols)] SELECT …` (CH's insert-select — the
    * query side goes through the full ChSql dialect rewriter).
    * Group 1 = table, 2 = column list, 3 = format name, 4 = data
    * block, 5 = VALUES tail, 6 = SELECT/WITH query. */
  private val InsertRe =
    ("(?is)^\\s*INSERT\\s+INTO\\s+(?:TABLE\\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*" +
      "(?:\\(([^)]*)\\)\\s*)?" +
      "(?:FORMAT\\s+([A-Za-z][A-Za-z0-9_]*)[ \\t]*\\r?\\n?(.*)|VALUES\\s+(.+)|((?:SELECT|WITH)\\b.+))$").r

  /** Pure classifier: is `text` an INSERT [[ingest]] takes? */
  def isInsert(text: String): Boolean = InsertRe.findFirstMatchIn(text).isDefined

  /** Run `text` as an INSERT; Some(written rows) when it is one. */
  def ingest(spark: SparkSession, text: String): Option[Long] =
    InsertRe.findFirstMatchIn(text).map(m => writer.synchronized(Ingest.insert(spark, m)))

  /** The INSERT path: the rows append as one part of the record the
    * name holds (an MV's too, as CH forwards an INSERT to an MV's inner
    * table), like a MergeTree part, and the view re-registers: a temp
    * view snapshots its file listing. A view without a record keeps
    * itself as its record's base; re-registering it externally
    * afterwards (e.g. `registerAll` with a different sf dir) resets
    * nothing here — one catalog per process. */
  private object Ingest {
    def insert(spark: SparkSession, m: Regex.Match): Long = {
      val table = m.group(1)
      val rec = record(spark, table) // unknown table → AnalysisException → CH code 60
      val schema = spark.table(table).schema
      val cols: Seq[String] = Option(m.group(2)) match {
        case Some(list) => list.split(",").map(_.trim.replace("`", "")).toSeq
        case None       => schema.fieldNames.toSeq
      }
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"INSERT column '$c' not in table '$table'"))
      val sub = StructType(cols.map(c => schema(schema.fieldIndex(c))))
      val parsed = (Option(m.group(3)), Option(m.group(5)), Option(m.group(6))) match {
        case (Some(fmt), _, _) => parseData(spark, sub, fmt, Option(m.group(4)).getOrElse(""))
        case (_, Some(tail), _) => castPositional(sub,
          spark.sql(s"SELECT * FROM VALUES ${tail.trim.stripSuffix(";")}"))
        case (_, _, Some(sel)) => castPositional(sub, ChSql.sql(spark, sel))
        case _ => throw new IllegalArgumentException("INSERT: no data clause")
      }
      // Missing columns fill with NULL, CH's input default for
      // Nullable columns; order realigns to the table schema.
      val aligned = parsed.select(schema.map { f =>
        if (cols.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      // ONE file per insert block (r20, guide §6 small-files): the
      // block is driver-resident by wire-protocol nature, but a
      // LocalRelation write otherwise fans out one task per slice
      // (3-5 near-empty files per insert). CH itself writes one part
      // per insert.
      val (part, files) = rec.append(aligned.coalesce(1))
      // the MVs take the part just written, never a re-execution of
      // the INSERT's source
      maintain(spark, table, Some(rec.parts.scan(aligned.schema, Seq(part))))
      // The written row count comes from the new files' footers:
      // metadata only, no second plan execution (a count() beside the
      // write re-ran a nondeterministic INSERT…SELECT source).
      rec.parts.rows(files)
    }

    /** Positional cast onto the target columns — shared by the VALUES
      * inline-table form and INSERT … SELECT (CH matches insert-select
      * columns by POSITION, not name). */
    private def castPositional(sub: StructType, df: DataFrame): DataFrame = {
      require(df.columns.length == sub.length,
        s"INSERT arity ${df.columns.length} != ${sub.length} target columns")
      df.toDF(sub.fieldNames.toIndexedSeq: _*)
        .select(sub.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    }

    /** Data-block formats. CSV/JSONEachRow parse through Spark's own
      * readers over an in-memory Dataset[String]; TabSeparated honors
      * CH's escaping ([[tsvUnescape]] and \N null) with a per-field unescape
      * then a schema cast. CH's text timestamp shape is
      * `yyyy-MM-dd HH:mm:ss` (the renderer's tsFmt), pinned on the
      * readers so ingest round-trips the doors' own output. */
    private def parseData(spark: SparkSession, sub: StructType, fmt: String, data: String): DataFrame = {
      // Split keeping interior empty lines; drop only LEADING blanks
      // (the head-of-body separator after the SQL line) and the
      // trailing artifact of a final newline. A mid-block empty line
      // is a real row for a single-column table (one empty field,
      // ADVICE r18) and an arity error — loud, like CH — otherwise.
      val rawLines = data.split("\n", -1).toSeq.map(_.stripSuffix("\r"))
      val allLines = rawLines.dropWhile(_.isEmpty).reverse.dropWhile(_.isEmpty).reverse
      def dropHeader(n: String) = if (n.endsWith("withnames")) allLines.drop(1) else allLines
      val n = fmt.toLowerCase.replace("_", "")
      n match {
        case "values" => // FORMAT Values with the tuple list as the body
          castPositional(sub,
            spark.sql(s"SELECT * FROM VALUES ${data.trim.stripSuffix(";")}"))
        case "csv" | "csvwithnames" =>
          val ds = spark.createDataset(dropHeader(n))(Encoders.STRING)
          spark.read.schema(sub)
            .option("nullValue", "\\N")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            .csv(ds)
        case "jsoneachrow" =>
          // blank lines between objects are separators, not rows (CH
          // tolerates inter-object whitespace in JSONEachRow)
          val ds = spark.createDataset(allLines.filter(_.nonEmpty))(Encoders.STRING)
          spark.read.schema(sub)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            .json(ds)
        case "tabseparated" | "tsv" | "tabseparatedwithnames" | "tsvwithnames" =>
          val strSchema = StructType(sub.map(f => StructField(f.name, StringType, nullable = true)))
          val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
          dropHeader(n).foreach { l =>
            val fields = l.split("\t", -1)
            require(fields.length == sub.length,
              s"TSV row has ${fields.length} fields, expected ${sub.length}: $l")
            rows.add(Row.fromSeq(fields.toIndexedSeq.map(f =>
              if (f == "\\N") null else tsvUnescape(f))))
          }
          spark.createDataFrame(rows, strSchema)
            .select(sub.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        case other =>
          throw new graft.server.Statement.ChError(73, s"Unknown input format: $other")
      }
    }

    /** CH's TabSeparated escapes: `\t \n \r \b \f \0` are their
      * characters, and any other `\c` (`\\`, `\'`) reads as c. */
    private def tsvUnescape(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          i += 1
          sb.append(s.charAt(i) match {
            case 't' => '\t'
            case 'n' => '\n'
            case 'r' => '\r'
            case 'b' => '\b'
            case 'f' => '\f'
            case '0' => '\u0000'
            case c   => c
          })
        } else sb.append(s.charAt(i))
        i += 1
      }
      sb.toString
    }
  }
}
