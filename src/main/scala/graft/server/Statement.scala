package graft.server

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedExecuteImmediate
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, InsertIntoStatement, LogicalPlan}
import org.apache.spark.sql.types.StructType

import graft.{ChDdl, ChSql}

/** The one statement executor behind the HTTP, MySQL and PG doors. A
  * door decodes its protocol's framing into statement text, calls
  * [[run]] (or [[describe]] for a metadata-only probe) and encodes the
  * [[Outcome]]; every failure it reports carries [[chCode]].
  *
  *   - [[classify]] sorts text into a session no-op (SET, USE,
  *     transaction control, RESET, DEALLOCATE, DISCARD — the shared
  *     Spark session has no per-client state for them to change), an
  *     INSERT (the [[graft.ChDdl]] ingest path), a CH DDL statement, or
  *     a query for [[graft.ChSql]].
  *   - A readonly profile runs only what CH's `readonly=1` permits:
  *     session no-ops, SHOW/DESCRIBE/EXPLAIN, and queries whose parsed
  *     plan holds no command, INSERT or EXECUTE IMMEDIATE anywhere (CTE
  *     bodies and subqueries included), so neither a leading comment
  *     nor a `WITH` head can hide a write.
  */
object Statement {

  sealed trait Kind
  /** Acknowledged without touching the session; `tag` is the command
    * tag PG reports for it. */
  final case class Session(tag: String) extends Kind
  case object Insert extends Kind
  case object Ddl extends Kind
  case object Query extends Kind

  sealed trait Outcome
  /** A resultset, already analyzed: a bad statement has failed before
    * a door sends its first byte. */
  final case class Rows(df: DataFrame) extends Outcome
  /** A statement without a resultset: `kind` is its command tag
    * ("INSERT", "SET", "CREATE TABLE", …), `affected` the rows written. */
  final case class Done(kind: String, affected: Long) extends Outcome

  /** A failure that carries its ClickHouse error code. */
  final class ChError(val code: Int, msg: String) extends RuntimeException(msg)

  private val SessionRe =
    "(?is)(SET|USE|BEGIN|START\\s+TRANSACTION|COMMIT|END|ROLLBACK|RESET|DEALLOCATE|DISCARD)\\b.*".r

  /** Leading whitespace and comments: `/* c */ DROP …` is still a DROP. */
  private val LeadRe = "(?s)^(?:\\s+|--[^\\n]*|/\\*.*?\\*/)*".r
  private def body(text: String): String = LeadRe.replaceFirstIn(text, "")

  def classify(text: String): Kind = body(text) match {
    case SessionRe(kw) => Session(kw.toUpperCase.split("\\s+").head match {
      case "START"   => "BEGIN"
      case "END"     => "COMMIT"
      case "DISCARD" => "DISCARD ALL"
      case k         => k
    })
    case t if ChDdl.isInsert(t) => Insert
    case t if ChDdl.isDdl(t)    => Ddl
    case _                      => Query
  }

  /** Run `text`; a readonly profile gets Code 164 for anything CH's
    * `readonly=1` refuses. */
  def run(spark: SparkSession, readonly: Boolean, text: String): Outcome = {
    val t = body(text)
    val kind = classify(t)
    if (readonly && !(kind.isInstanceOf[Session] || kind == Query && isRead(spark, t)))
      throw new ChError(164, "Cannot execute query in readonly mode: the user's profile is read-only")
    kind match {
      case Session(tag) => Done(tag, 0)
      case Insert       => Done("INSERT", ChDdl.ingest(spark, t).get)
      case _ =>
        val df = ChSql.sql(spark, t)
        if (df.schema.isEmpty) Done(t.trim.split("\\s+").take(2).mkString(" ").toUpperCase, 0)
        else Rows(df)
    }
  }

  /** The resultset schema of `text` without running it (PG Describe);
    * None when the statement has no resultset or would write. */
  def describe(spark: SparkSession, text: String): Option[StructType] = {
    val t = body(text)
    if (classify(t) == Query && isRead(spark, t)) Some(ChSql.sql(spark, t).schema).filter(_.nonEmpty)
    else None
  }

  /** Is `text` (classified a query) free of writes, by Spark's parsed
    * plan of the dialect rewrite? CH EXPLAIN modes judge their operand. */
  private def isRead(spark: SparkSession, text: String): Boolean =
    ChSql.ExplainRe.findFirstMatchIn(ChSql.splitFormat(text)._1) match {
      case Some(m) => classify(m.group(2)) == Query && isRead(spark, m.group(2))
      case None =>
        val plan = spark.sessionState.sqlParser.parsePlan(ChSql.rewrite(spark, text))
        plan match {
          case c: Command => Seq("Show", "Describe", "Explain").exists(c.nodeName.startsWith)
          case _          => !nodes(plan).exists(writes)
        }
    }

  /** Every plan node: children, CTE definitions and subquery plans. */
  private def nodes(p: LogicalPlan): Iterator[LogicalPlan] =
    Iterator.single(p) ++ (p.children ++ p.subqueries ++
      p.innerChildren.collect { case c: LogicalPlan => c }).iterator.flatMap(nodes)

  /** Parsed nodes that write or run another statement. INSERT
    * OVERWRITE DIRECTORY (InsertIntoDir) is no Command either. */
  private def writes(p: LogicalPlan): Boolean = p match {
    case _: Command | _: InsertIntoStatement | _: InsertIntoDir | _: UnresolvedExecuteImmediate => true
    case _ => false
  }

  /** Exception → the CH error code clients branch on (public CH
    * ErrorCodes.cpp names; anything unrecognized is 1002
    * UNKNOWN_EXCEPTION). */
  def chCode(e: Throwable): Int = e match {
    case c: ChError        => c.code
    case _: ParseException => 62 // SYNTAX_ERROR
    case a: AnalysisException =>
      val cond = Option(a.getCondition).getOrElse("")
      if (cond.contains("TABLE_OR_VIEW_NOT_FOUND")) 60            // UNKNOWN_TABLE
      else if (cond.contains("UNRESOLVED_COLUMN") ||
        cond.contains("UNRESOLVED_FIELD")) 47                     // UNKNOWN_IDENTIFIER
      else if (cond.contains("UNRESOLVED_ROUTINE")) 46            // UNKNOWN_FUNCTION
      else 62                                                     // reads as bad SQL
    case _: IllegalArgumentException => 62 // ChSql/ChDdl refusals read as bad SQL
    case _ => 1002
  }

  /** `Code: N. DB::Exception: …`, the text every door reports. */
  def chMessage(e: Throwable): String =
    s"Code: ${chCode(e)}. DB::Exception: ${Option(e.getMessage).getOrElse(e.toString)}"
}
