package graft.etl

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression

/** Multi-statement SQL script runner — the Spark-native replacement for the
  * reference's embedded-Beeline-to-HiveServer2 path
  * (reference: data-process/spark-process/src/main/scala/hive/HiveBeeLine.scala:94-122):
  * every statement runs in-process through `spark.sql`, no JDBC hop, no
  * second engine.
  */
object SqlScript {

  /** Split script text into statements, reimplementing the reference's
    * line-based rules (reference: hive/HiveBeeLine.scala:41-92):
    *  - lines whose first non-blank char starts `#` or `--` are comments;
    *  - a statement accumulates lines until one ends with `;`;
    *  - the trailing `;` is stripped; blank segments are dropped;
    *  - a trailing unterminated statement is kept (runnable scripts often
    *    omit the final `;`).
    */
  def split(text: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    text.linesIterator.foreach { line =>
      val t = line.trim
      if (t.nonEmpty && !t.startsWith("#") && !t.startsWith("--")) {
        if (cur.nonEmpty) cur.append('\n')
        if (t.endsWith(";")) {
          cur.append(line.substring(0, line.lastIndexOf(';')))
          val stmt = cur.toString.trim
          if (stmt.nonEmpty) out += stmt
          cur.clear()
        } else cur.append(line)
      }
    }
    val last = cur.toString.trim
    if (last.nonEmpty) out += last
    out.result()
  }
}

/** `CREATE TEMPORARY MACRO name(arg type, ...) body` support — HiveQL macros
  * (reference: README.md:177-179, the `TP()` / `strip()` macros) have no
  * Spark equivalent, so the runner rewrites them into FunctionRegistry
  * entries: the body is parsed once, and each call substitutes argument
  * expressions into the parsed tree (a RuntimeReplaceable-style inline, per
  * SURVEY §2B "Macros").
  */
object SqlMacro {

  private val MacroHead: Regex =
    """(?is)\s*CREATE\s+TEMPORARY\s+MACRO\s+(\w+)\s*\((.*)""".r

  /** Splits `rest` (everything after the opening paren) into the balanced
    * arg list and the body: a flat `[^)]*` regex would cut a parenthesized
    * type — `f(p DECIMAL(10,2))` — at the first ')' and leave the stray
    * paren in the body.
    */
  private def splitArgsBody(rest: String): Option[(String, String)] = {
    var depth = 1
    var i = 0
    while (i < rest.length && depth > 0) {
      rest.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    if (depth != 0) None else Some((rest.substring(0, i - 1), rest.substring(i).trim))
  }

  /** Top-level comma split (commas inside type parens don't separate args). */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur.append(c)
    }
    parts += cur.toString
    parts.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Returns true (and registers the macro) if `stmt` is a macro DDL. */
  def maybeRegister(spark: SparkSession, stmt: String): Boolean = stmt match {
    case MacroHead(name, rest) =>
      val (argList, body) = splitArgsBody(rest) match {
        case Some((a, b)) if b.nonEmpty => (a, b)
        case _ => return false
      }
      val argNames = splitTopLevel(argList)
        .map(_.split("\\s+").head.toLowerCase)
      val parsedBody = spark.sessionState.sqlParser.parseExpression(body)
      val argIdx = argNames.zipWithIndex.toMap
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name,
        (exprs: Seq[Expression]) => {
          require(exprs.length == argNames.length,
            s"macro $name expects ${argNames.length} args, got ${exprs.length}")
          parsedBody.transformUp {
            case a: UnresolvedAttribute if argIdx.contains(a.name.toLowerCase) =>
              exprs(argIdx(a.name.toLowerCase))
          }
        },
        "sql_udf") // registry's closest source tag for SQL-bodied functions
      true
    case _ => false
  }
}

final case class StatementResult(
    index: Int, sql: String, status: String, error: Option[String])

/** Statement `index` of a script threw `cause`; the statements after it
  * did not run.
  */
final class ScriptStatementException(val index: Int, val sql: String,
    cause: Exception)
    extends IllegalStateException(
      s"statement $index failed: ${String.valueOf(cause.getMessage)}\n$sql", cause)

/** Runs a script statement-by-statement; macro DDLs register functions, all
  * else goes to `spark.sql`. Like Beeline without `--force`, a script stops
  * at its first failing statement, so a later statement never reads what a
  * failed one should have created. Per-statement status mirrors the
  * reference's per-command Beeline result capture (HiveBeeLine.scala:124-166);
  * the last statement's DataFrame is returned for composition.
  */
class SqlRunner(spark: SparkSession) {

  /** Per-statement status up to and including the first failure (`ERROR`,
    * with its message); the last DataFrame only when every statement ran.
    */
  def runScript(text: String): (Seq[StatementResult], Option[DataFrame]) = {
    val stmts = SqlScript.split(text)
    def ok(n: Int) = stmts.take(n).zipWithIndex
      .map { case (sql, i) => StatementResult(i, sql, "OK", None) }
    try {
      val df = runScriptStrict(text)
      (ok(stmts.length), df)
    } catch {
      case e: ScriptStatementException =>
        (ok(e.index) :+ StatementResult(e.index, e.sql, "ERROR",
          Some(String.valueOf(e.getCause.getMessage))), None)
    }
  }

  /** Strict variant: throws [[ScriptStatementException]] (index, statement,
    * the original exception as cause) on the first failing statement.
    */
  def runScriptStrict(text: String): Option[DataFrame] = {
    var lastDf: Option[DataFrame] = None
    SqlScript.split(text).zipWithIndex.foreach { case (stmt, i) =>
      try {
        if (!SqlMacro.maybeRegister(spark, stmt)) lastDf = Some(spark.sql(stmt))
      } catch {
        case e: Exception => throw new ScriptStatementException(i, stmt, e)
      }
    }
    lastDf
  }
}
