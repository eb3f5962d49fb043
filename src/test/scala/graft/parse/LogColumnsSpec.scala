package graft.parse

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.analyze.SlowQueryPipeline
import graft.model.QueryPattern

/** Golden tests for the F1/F2/F3/F8 parsers and the processor
  * dispatch. Expected values were produced by exercising the
  * reference parser's semantics
  * (analyze_slow_queries.py:939-983,454-476,858-886) on each input,
  * pinning every quirk: trailing ';' kept in query text, the
  * "; [" vs "] [" bound-section fallback, strip-ALL-quotes values,
  * replace-ALL pattern normalization.
  */
class LogColumnsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "LogColumnsSpec")
  import spark.implicits._

  private def lexOne(msg: String): Row =
    Seq(msg).toDF("message")
      .select(LogColumns.lex(col("message")).as("lex"))
      .head().getAs[Row]("lex")

  test("lex: full SELECT with bound values") {
    val r = lexOne("WARN Query too slow, took 2500 ms: [1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'9a92990c']")
    assert(r.getAs[Long]("duration") == 2500L)
    assert(r.getAs[String]("counts") == "[1 bound values]")
    assert(r.getAs[String]("bound_values") == "[user_id:'9a92990c']")
    assert(r.getAs[String]("query") == "SELECT * FROM ks1.users WHERE user_id=?;")
  }

  test("lex: INSERT without counts or bound values") {
    val r = lexOne("WARN Query too slow, took 800 ms: INSERT INTO orders (id) VALUES (1)")
    assert(r.getAs[Long]("duration") == 800L)
    assert(r.getAs[String]("counts") == null)
    assert(r.getAs[String]("bound_values") == null)
    assert(r.getAs[String]("query") == "INSERT INTO orders (id) VALUES (1)")
  }

  test("lex: '] [' separator variant keeps ']' in query") {
    val r = lexOne("prefix Query too slow, took 12 ms: [2 bound values] SELECT a FROM t WHERE x=? AND y=?] [x:'1', y:'2']")
    assert(r.getAs[String]("query") == "SELECT a FROM t WHERE x=? AND y=?]")
    assert(r.getAs[String]("bound_values") == "[x:'1', y:'2']")
  }

  test("lex: counts without bound section") {
    val r = lexOne("Query too slow, took 99 ms: [3 bound values] UPDATE tbl SET v=? WHERE k=?")
    assert(r.getAs[String]("counts") == "[3 bound values]")
    assert(r.getAs[String]("bound_values") == null)
    assert(r.getAs[String]("query") == "UPDATE tbl SET v=? WHERE k=?")
  }

  test("lex: no counts means bound section is never probed") {
    val r = lexOne("Query too slow, took 1 ms: select * from ks.cf where id=?; [id:'a;b']")
    assert(r.getAs[String]("bound_values") == null)
    assert(r.getAs[String]("query") == "select * from ks.cf where id=?; [id:'a;b']")
  }

  test("lex: bound section runs to end of line") {
    val r = lexOne("Query too slow, took 7 ms: [1 bound values] DELETE FROM ks.t WHERE id=?; [id:'x'] trailing")
    assert(r.getAs[String]("query") == "DELETE FROM ks.t WHERE id=?;")
    assert(r.getAs[String]("bound_values") == "[id:'x'] trailing")
  }

  test("lex: non-marker line yields null struct (row-skip)") {
    assert(lexOne("no marker here") == null)
    assert(lexOne("Query too slow, took 5 ms") == null) // no " ms: "
    assert(lexOne("Query too slow, took 5 ms: ") == null) // IndexError parity
  }

  test("lex: non-numeric duration nulls the long (row-skip signal)") {
    val r = lexOne("Query too slow, took abc ms: SELECT 1")
    assert(r != null)
    assert(r.getAs[String]("duration_str") == "abc")
    assert(r.get(r.fieldIndex("duration")) == null)
  }

  private def bvOne(bv: String): Map[String, String] =
    Seq(bv).toDF("bv")
      .select(LogColumns.boundValuesMap(col("bv")).as("m"))
      .head().getAs[Map[String, String]]("m")

  test("bound values: basic map with key trim and quote strip") {
    assert(bvOne("[x:'1', y:'2']") == Map("x" -> "1", "y" -> "2"))
  }

  test("bound values: strip-ALL quotes (Python strip(\"'\"))") {
    assert(bvOne("[pk:'''quoted''']") == Map("pk" -> "quoted"))
  }

  test("bound values: trailing junk folds into the value") {
    assert(bvOne("[id:'x'] trailing") == Map("id" -> "x' trailing"))
  }

  test("bound values: fragment without colon is dropped") {
    assert(bvOne("[a:'1', junk, b:'2']") == Map("a" -> "1", "b" -> "2"))
  }

  test("bound values: duplicate key keeps last (dict semantics)") {
    assert(bvOne("[k:'1', k:'2']") == Map("k" -> "2"))
  }

  test("strSlice matches find/slice semantics") {
    val q = "SELECT a FROM tbl WHERE x=1;"
    assert(SlowQueryCatalog.strSlice(q, " FROM ", " ") == "tbl")
    assert(SlowQueryCatalog.strSlice(q, " FROM ", ";") == "tbl WHERE x=1")
    assert(SlowQueryCatalog.strSlice(q, "ZZZ", " ") == null)
  }

  test("classify: case pairs and precedence") {
    val empty = SlowQueryCatalog(Map.empty, Map.empty, Map.empty, Nil)
    val df = Seq("SELECT 1", "select 1", "Select 1", "BEGIN BATCH x",
      "begin batch x", "INSERT INTO t", "DELETE FROM t", "UPDATE t", "TRUNCATE t")
      .toDF("q").select(col("q"), SlowQueryPipeline.enrich(col("q"),
        lit(null).cast("string"), lit(null).cast("array<string>"), empty)
        .getField("type").as("t"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("SELECT 1") == "SELECT")
    assert(got("select 1") == "SELECT")
    assert(got("Select 1") == null) // mixed case does NOT match the reference
    assert(got("BEGIN BATCH x") == "BATCH")
    assert(got("begin batch x") == "BATCH")
    assert(got("INSERT INTO t") == "INSERT")
    assert(got("DELETE FROM t") == "DELETE")
    assert(got("UPDATE t") == "UPDATE")
    assert(got("TRUNCATE t") == null)
  }

  test("table extraction: SELECT four probes, INSERT two probes") {
    val rows = Seq(
      "SELECT * FROM ks.t WHERE x=1",
      "select * from ks2.t2 where x=1",
      "SELECT * FROM solo;",
      "INSERT INTO ks.t (a) VALUES (1)",
      "insert into plain (a) VALUES (1)").map(q =>
      q -> (SlowQueryCatalog.selectTable(q), SlowQueryCatalog.insertTable(q))).toMap
    assert(rows("SELECT * FROM ks.t WHERE x=1")._1 == "ks.t")
    assert(rows("select * from ks2.t2 where x=1")._1 == "ks2.t2")
    assert(rows("SELECT * FROM solo;")._1 == "solo")
    assert(rows("INSERT INTO ks.t (a) VALUES (1)")._2 == "ks.t")
    assert(rows("insert into plain (a) VALUES (1)")._2 == "plain")
  }

  test("normalize patterns: golden quirks incl. replace-ALL") {
    val patterns = Seq(
      QueryPattern("SELECT * FROM t", Seq("user_id", "day")),
      QueryPattern("SELECT x", Seq("a")))
    val f = LogColumns.normalizePatterns(patterns)
    val df = Seq(
      "SELECT * FROM t WHERE user_id='abc123' AND day='2024-01-01';",
      "SELECT x FROM t WHERE a=5 AND b=5 LIMIT 10;",
      "OTHER QUERY").toDF("q")
      .select(col("q"), f(col("q")).as("n")).select(col("q"), col("n._1").as("nq"), col("n._2").as("bv"))
    val rows = df.collect().map(r =>
      r.getString(0) -> (r.getString(1), r.getAs[Map[String, String]]("bv"))).toMap
    assert(rows("SELECT * FROM t WHERE user_id='abc123' AND day='2024-01-01';") ==
      ("SELECT * FROM t WHERE user_id=? AND day=?;",
        Map("user_id" -> "abc123", "day" -> "2024-01-01")))
    // the replace-ALL quirk: a=5 rewrites b=5 too
    assert(rows("SELECT x FROM t WHERE a=5 AND b=5 LIMIT 10;") ==
      ("SELECT x FROM t WHERE a=? AND b=? LIMIT 10;", Map("a" -> "5")))
    assert(rows("OTHER QUERY") == ("OTHER QUERY", Map.empty[String, String]))
  }
}
