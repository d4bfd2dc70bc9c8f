package graft.etl

import graft.SparkSpec

class SqlRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("splitter: comments, multi-line continuation, trailing unterminated") {
    val script =
      """-- leading comment
        |SELECT 1
        |  AS x;
        |# hash comment
        |SELECT 2 AS y;
        |SELECT 3 AS z
        |""".stripMargin
    assert(SqlScript.split(script) === Seq("SELECT 1\n  AS x", "SELECT 2 AS y", "SELECT 3 AS z"))
  }

  test("splitter: blank statements dropped, ; inside line terminates") {
    assert(SqlScript.split(";\n;\nSELECT 1;") === Seq("SELECT 1"))
    assert(SqlScript.split("") === Seq.empty)
    assert(SqlScript.split("-- only comments\n# more") === Seq.empty)
  }

  test("macro registration and expansion with argument substitution") {
    val r = new SqlRunner(spark)
    val (results, df) = r.runScript(
      """CREATE TEMPORARY MACRO add2(a INT, b INT) a + b + 0;
        |SELECT add2(3, 4) AS s;""".stripMargin)
    assert(results.forall(_.status == "OK"))
    assert(df.get.as[Int].head() === 7)
  }

  test("zero-arg macro (reference TP() pattern)") {
    val r = new SqlRunner(spark)
    val df = r.runScriptStrict(
      """CREATE TEMPORARY MACRO tp() 'yyyy-MM-dd';
        |SELECT tp() AS p;""".stripMargin)
    assert(df.get.as[String].head() === "yyyy-MM-dd")
  }

  test("macro args substitute by name, independent of case") {
    val r = new SqlRunner(spark)
    val df = r.runScriptStrict(
      """CREATE TEMPORARY MACRO disc(P DOUBLE, D DOUBLE) p * (1 - d);
        |SELECT CAST(disc(10.0, 0.25) AS DOUBLE) AS v;""".stripMargin)
    assert(df.get.as[Double].head() === 7.5)
  }

  test("macro with parenthesized arg types (DECIMAL(10,2)) parses the full arg list") {
    val r = new SqlRunner(spark)
    val df = r.runScriptStrict(
      """CREATE TEMPORARY MACRO takerate(p DECIMAL(10,2), r DECIMAL(10,2)) CAST(p * r AS DOUBLE);
        |SELECT takerate(CAST(10 AS DECIMAL(10,2)), CAST(0.5 AS DECIMAL(10,2))) AS v;""".stripMargin)
    assert(df.get.as[Double].head() === 5.0)
  }

  test("statements after a failed one do not run") {
    val r = new SqlRunner(spark)
    val (results, df) = r.runScript(
      """SELECT 1 AS a;
        |SELECT definitely_not_a_column FROM range(1);
        |CREATE OR REPLACE TEMPORARY VIEW sr_after_failure AS SELECT 2 AS b;""".stripMargin)
    assert(results.map(_.status) === Seq("OK", "ERROR"))
    assert(results(1).error.exists(_.contains("definitely_not_a_column")))
    assert(df.isEmpty)
    assert(!spark.catalog.tableExists("sr_after_failure"))
  }

  test("runScriptStrict throws on first failure") {
    val r = new SqlRunner(spark)
    val e = intercept[ScriptStatementException] {
      r.runScriptStrict("SELECT 1;\nSELECT nope FROM range(1);\nSELECT 2;")
    }
    assert(e.isInstanceOf[IllegalStateException])
    assert(e.index === 1 && e.sql === "SELECT nope FROM range(1)")
    assert(e.getCause.isInstanceOf[org.apache.spark.sql.AnalysisException])
  }
}
