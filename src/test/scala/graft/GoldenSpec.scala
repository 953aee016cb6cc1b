package graft

import graft.sql.GraftSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pipe-format golden harness — the Spark port of the reference's SQL
  * integration runner (/root/reference/tests/runner/mod.rs:10-80):
  * each row renders as `|v1|v2|…|` with NULL, TRUE/FALSE, scale-padded
  * decimals (datum.rs:288-344), compared line-by-line after trimming.
  */
object Golden {
  def render(df: DataFrame): Seq[String] = {
    df.collect().toSeq.map { row =>
      val cells = (0 until row.length).map { i =>
        if (row.isNullAt(i)) "NULL"
        else row.get(i) match {
          case b: Boolean => if (b) "TRUE" else "FALSE"
          case d: java.math.BigDecimal => d.toPlainString
          case other => other.toString
        }
      }
      cells.mkString("|", "|", "|")
    }
  }

  def check(gs: GraftSession, sql: String, expected: String): Unit = {
    val got = render(gs.sql(sql))
    val exp = expected.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    assert(got == exp,
      s"\nquery: $sql\nactual:\n${got.mkString("\n")}\nexpected:\n${exp.mkString("\n")}")
  }
}

/** Ports of the reference's golden integration tests (tests/building_blocks,
  * tests/group, tests/join), minus EXPLAIN-format and type_of-name goldens
  * (our plans/type names are Spark's — documented divergence).
  */
class GoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val gs = new GraftSession(spark)
  private def q(sql: String, expected: String): Unit = Golden.check(gs, sql, expected)

  // tests/building_blocks/literals.rs
  test("literals") {
    q("SELECT 123", "|123|")
    q("SELECT 9123123123", "|9123123123|")
    q("SELECT 12.34", "|12.34|")
    q("SELECT 1.00", "|1.00|")
    q("SELECT .12", "|0.12|")
    q("""SELECT "abc"""", "|abc|")
    q("SELECT NULL", "|NULL|")
  }

  // tests/building_blocks/boolean_logic.rs
  test("boolean logic 3VL") {
    q("SELECT null and true", "|NULL|")
    q("SELECT true and true", "|TRUE|")
    q("SELECT true and false", "|FALSE|")
    q("SELECT null or true", "|TRUE|") // Spark: NULL OR TRUE = TRUE (ANSI 3VL; reference printed NULL — MySQL quirk we do not reproduce)
    q("SELECT true or false", "|TRUE|")
    q("SELECT false or false", "|FALSE|")
    q("SELECT not true", "|FALSE|")
    q("SELECT not null", "|NULL|")
  }

  // tests/building_blocks/eq_ne.rs shapes
  test("comparisons with NULL propagation") {
    q("SELECT 1 = 1, 1 != 1, 1 < 2, 2 <= 2, 3 > 2, 2 >= 3", "|TRUE|FALSE|TRUE|TRUE|TRUE|FALSE|")
    q("SELECT NULL = 1, 1 != NULL", "|NULL|NULL|")
    q("""SELECT "a" = "a", "a" = "b"""", "|TRUE|FALSE|")
  }

  // tests/building_blocks/between.rs (overloads: int, decimal, text, date)
  test("between") {
    q("SELECT 2 BETWEEN 1 AND 3", "|TRUE|")
    q("SELECT 4 BETWEEN 1 AND 3", "|FALSE|")
    q("SELECT NULL BETWEEN 1 AND 3", "|NULL|")
    q("SELECT 2 NOT BETWEEN 1 AND 3", "|FALSE|")
    q("SELECT 2.5 BETWEEN 1.1 AND 3.9", "|TRUE|")
    q("""SELECT "b" BETWEEN "a" AND "c"""", "|TRUE|")
    q("SELECT DATE '2024-06-15' BETWEEN DATE '2024-01-01' AND DATE '2024-12-31'", "|TRUE|")
  }

  // tests/building_blocks/order_by.rs
  test("order by") {
    val src = "SELECT 1 as foo UNION ALL SELECT 4 UNION ALL SELECT 3 UNION ALL SELECT 2"
    q(s"SELECT foo FROM ($src) ORDER BY foo", "|1|\n|2|\n|3|\n|4|")
    q(s"SELECT foo FROM ($src) ORDER BY foo desc", "|4|\n|3|\n|2|\n|1|")
    q(s"SELECT foo FROM ($src) ORDER BY foo ASC LIMIT 2", "|1|\n|2|")
  }

  // tests/building_blocks/limit.rs (non-EXPLAIN cases)
  test("limit and offset incl. MySQL comma form") {
    val src = "SELECT 1 as foo UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4"
    q(s"SELECT foo FROM ($src ORDER BY foo) LIMIT 2", "|1|\n|2|")
    q(s"SELECT foo FROM ($src ORDER BY foo) LIMIT 1, 2", "|2|\n|3|")
    q(s"SELECT foo FROM ($src ORDER BY foo) LIMIT 2 OFFSET 1", "|2|\n|3|")
  }

  // tests/building_blocks/unions.rs
  test("union all") {
    q("""SELECT 1, "a" UNION ALL SELECT 2, "b"""", "|1|a|\n|2|b|")
    q("""SELECT c1, c2 FROM (SELECT 1 as c1, "a" as c2 UNION ALL SELECT 2, "b")""",
      "|1|a|\n|2|b|")
  }

  // tests/building_blocks/aliases.rs shapes
  test("aliases incl. backtick-qualified references (tests/building_blocks/aliases.rs)") {
    q("SELECT 1 as one, 2 two", "|1|2|")
    q("SELECT t.a FROM (SELECT 1 as a) t", "|1|")
    q("SELECT foo FROM (SELECT 1 as foo)", "|1|")
    q("SELECT foo FROM (SELECT 1 as foo) as bar", "|1|")
    q("SELECT bar.foo FROM (SELECT 1 as foo) bar", "|1|")
    q("SELECT `bar`.`foo` FROM (SELECT 1 as foo) bar", "|1|")
  }

  // tests/group/mod.rs:20-43 — the grouping fixture with NULLs
  test("group by with nulls and empty-input global aggregate") {
    gs.sql("create view golden_grp as " +
      """SELECT * FROM (VALUES ('a',1),('a',2),('b',3),('b',CAST(NULL AS INT)),('c',CAST(NULL AS INT))) AS t(c1, c2)""")
    q("SELECT count(*), count(c2), sum(c2) FROM golden_grp", "|5|3|6|")
    q("SELECT c1, count(*), count(c2), sum(c2) FROM golden_grp GROUP BY c1 ORDER BY c1",
      "|a|2|2|3|\n|b|2|1|3|\n|c|1|0|NULL|")
    q("SELECT count(*), sum(c2) FROM golden_grp WHERE false", "|0|NULL|")
    gs.sql("drop view golden_grp")
  }

  // tests/join/mod.rs shapes — inner/left/cross + NULL keys + residual
  test("joins: inner, left-outer null padding, null keys never match") {
    gs.sql("create view golden_l as " +
      """SELECT * FROM (VALUES ('a',1),('b',2),('b',3),('c',4),(CAST(NULL AS STRING),10)) AS t(k, lv)""")
    gs.sql("create view golden_r as " +
      """SELECT * FROM (VALUES ('a',100),('b',200),(CAST(NULL AS STRING),300)) AS t(k, rv)""")
    q("""SELECT l.k, lv, rv FROM golden_l l JOIN golden_r r ON l.k = r.k
        |ORDER BY lv""".stripMargin,
      "|a|1|100|\n|b|2|200|\n|b|3|200|")
    q("""SELECT l.k, lv, rv FROM golden_l l LEFT JOIN golden_r r ON l.k = r.k
        |ORDER BY lv""".stripMargin,
      "|a|1|100|\n|b|2|200|\n|b|3|200|\n|c|4|NULL|\n|NULL|10|NULL|")
    q("""SELECT l.k, lv, rv FROM golden_l l JOIN golden_r r
        |ON l.k = r.k AND lv + rv > 150 ORDER BY lv""".stripMargin,
      "|b|2|200|\n|b|3|200|")
    q("SELECT count(*) FROM golden_l, golden_r", "|15|")
    gs.sql("drop view golden_l")
    gs.sql("drop view golden_r")
  }

  // tests/casts shapes (value-level; type names are Spark's)
  test("cast failure semantics (to_int.rs: parse failure -> NULL, narrowing wraps)") {
    // reference: "abc".parse::<i32>() fails -> Datum::Null; Spark non-ANSI agrees
    q("""SELECT CAST("abc" AS INT)""", "|NULL|")
    // reference: bigint -> int is a wrapping `as i32`; Spark non-ANSI also wraps bits
    q("SELECT CAST(4294967298 AS INT)", "|2|")
    // DOCUMENTED DIVERGENCE: reference parses text via i32 ("12.9" -> NULL);
    // Spark accepts decimal text and truncates toward zero
    q("""SELECT CAST("12.9" AS INT)""", "|12|")
    // DOCUMENTED DIVERGENCE: reference NULLs an out-of-range decimal->int
    // (rust_decimal to_i32 -> None); Spark non-ANSI wraps the narrowed bits
    q("SELECT CAST(CAST(99999999999.5 AS DECIMAL(12,1)) AS INT)", "|1215752191|")
  }

  test("casts") {
    q("""SELECT CAST("123" AS INT)""", "|123|")
    q("""SELECT CAST("12.5" AS DECIMAL(10,2))""", "|12.50|")
    q("SELECT CAST(1 AS BOOLEAN), CAST(0 AS BOOLEAN)", "|TRUE|FALSE|")
    q("""SELECT CAST("2024-03-05" AS DATE)""", "|2024-03-05|")
    q("SELECT CAST(12.56 AS INT)", "|12|") // Spark truncates (MySQL rounds — divergence documented in Functions)
  }

  // tests/building_blocks/predicates.rs + star.rs (non-EXPLAIN)
  test("predicates and star expansion") {
    q("SELECT 1 where true", "|1|")
    q("SELECT foo from (select 1 as foo) where foo = 1", "|1|")
    q("SELECT * FROM (SELECT 1 as c1, 2 as c2) foo", "|1|2|")
    q("SELECT foo.* FROM (SELECT 1 as c1, 2 as c2) foo", "|1|2|")
  }

  // reference NULL ordering: first on ASC, last on DESC (datum.rs:132-190)
  test("null sort order matches reference defaults") {
    val src = "SELECT * FROM (VALUES (1),(CAST(NULL AS INT)),(2)) t(a)"
    q(s"SELECT a FROM ($src) ORDER BY a", "|NULL|\n|1|\n|2|")
    q(s"SELECT a FROM ($src) ORDER BY a DESC", "|2|\n|1|\n|NULL|")
  }

  // tests/insert/mod.rs + tests/delete/mod.rs through the dialect shim
  test("insert and delete statement round-trip (multiset semantics)") {
    gs.sql("drop table if exists golden_t1")
    gs.sql("CREATE TABLE golden_t1 (a INT, b TEXT)")
    try {
      gs.sql("""INSERT INTO golden_t1 SELECT 1, "abc"""")
      gs.sql("""INSERT INTO golden_t1 SELECT 1, "abc"""")
      gs.sql("""INSERT INTO golden_t1 SELECT 2, "def"""")
      gs.sql("""INSERT INTO golden_t1 SELECT 3, "ghi"""")
      q("SELECT * FROM golden_t1 ORDER BY a, b",
        "|1|abc|\n|1|abc|\n|2|def|\n|3|ghi|")
      gs.sql("""DELETE FROM golden_t1 WHERE golden_t1.b="def"""")
      q("SELECT * FROM golden_t1 ORDER BY a, b", "|1|abc|\n|1|abc|\n|3|ghi|")
      // freq-aware LIMIT: exactly one physical row goes
      gs.sql("DELETE FROM golden_t1 LIMIT 1")
      assert(gs.sql("SELECT count(*) c FROM golden_t1").collect()(0).getLong(0) == 2L)
      // INSERT ... VALUES form
      gs.sql("""INSERT INTO golden_t1 VALUES (7, "xyz"), (8, "zyx")""")
      assert(gs.sql("SELECT count(*) c FROM golden_t1").collect()(0).getLong(0) == 4L)
    } finally gs.sql("drop table if exists golden_t1")
  }

  // tests/insert/mod.rs + tests/delete/mod.rs through the MULTISET
  // storage path — the reference's ACTUAL write semantics: every INSERT
  // is a +1 freq delta (table_insert.rs:22-55), DELETE appends negated
  // frequencies (delete.rs:56-60), and the freq-aware LIMIT splits
  // within a freq>1 tuple (limit.rs:27-45).
  test("reference insert/delete goldens through the multiset storage path") {
    val gms = new GraftSession(spark,
      viewCatalogDir = java.nio.file.Files
        .createTempDirectory("golden_ms_views_").toString,
      multisetCatalogDir = java.nio.file.Files
        .createTempDirectory("golden_ms_cat_").toString)
    def qm(sql: String, expected: String): Unit = Golden.check(gms, sql, expected)
    try {
      // tests/insert/mod.rs test_insert_from_select (incl. the qualified
      // `default.t2` target) + test_insert_from_values
      gms.sql("CREATE MULTISET TABLE t1 (a INT, b TEXT)")
      gms.sql("""INSERT INTO t1 SELECT 1, "abc"""")
      gms.sql("""INSERT INTO t1 SELECT 2, "def"""")
      qm("SELECT * FROM t1 ORDER BY a", "|1|abc|\n|2|def|")
      gms.sql("CREATE MULTISET TABLE t2 (a INT, b TEXT)")
      gms.sql("INSERT INTO default.t2 SELECT * FROM t1")
      qm("SELECT * FROM t2 ORDER BY a", "|1|abc|\n|2|def|")
      gms.sql("""INSERT INTO t2 VALUES (7, "xyz"), (8, "zyx")""")
      qm("SELECT * FROM t2 ORDER BY a", "|1|abc|\n|2|def|\n|7|xyz|\n|8|zyx|")

      // tests/delete/mod.rs test_delete, replayed verbatim
      gms.sql("CREATE MULTISET TABLE t3 (a INT, b TEXT)")
      Seq("1, \"abc\"", "1, \"abc\"", "2, \"def\"", "3, \"ghi\"")
        .foreach(v => gms.sql(s"INSERT INTO t3 SELECT $v"))
      qm("SELECT * FROM t3 ORDER BY a", "|1|abc|\n|1|abc|\n|2|def|\n|3|ghi|")
      gms.sql("""DELETE FROM t3 WHERE t3.b="def"""")
      qm("SELECT * FROM t3 ORDER BY a", "|1|abc|\n|1|abc|\n|3|ghi|")
      // "Check to see that the limit will actually split within a
      // tuple/freq": exactly ONE of the two (1,abc) copies goes
      gms.sql("DELETE FROM t3 WHERE a = 1 LIMIT 1")
      qm("SELECT * FROM t3 ORDER BY a", "|1|abc|\n|3|ghi|")

      // storage shape: COMPACT folds the chain; AS OF replays history
      // (v0 create, v1..v4 inserts, v5 where-delete, v6 limit-delete)
      gms.sql("COMPACT TABLE t3")
      qm("SELECT * FROM t3 ORDER BY a", "|1|abc|\n|3|ghi|")
      qm("SELECT * FROM t3 AS OF VERSION 4 ORDER BY a",
        "|1|abc|\n|1|abc|\n|2|def|\n|3|ghi|")
      qm("SELECT count(*) FROM t3 AS OF VERSION 5", "|3|")

      // catalog surface: multiset tables list as tables
      qm("SELECT type FROM incresql.tables WHERE name = 't3'", "|table|")

      // CDF as a relation: net signed freq deltas between two versions.
      // v4 (all four inserts) → v6 (after both deletes): (2,def) lost
      // its copy to the WHERE delete, (1,abc) lost one of two to the
      // freq-splitting LIMIT delete.
      qm("""SELECT a, b, __freq FROM t3 CHANGES BETWEEN 4 AND 6 ORDER BY a""",
        "|1|abc|-1|\n|2|def|-1|")

      // VACUUM drops pre-snapshot versions: current state survives,
      // time travel into vacuumed history now fails
      gms.sql("VACUUM TABLE t3")
      qm("SELECT * FROM t3 ORDER BY a", "|1|abc|\n|3|ghi|")
      intercept[Exception](gms.sql("SELECT * FROM t3 AS OF VERSION 4").collect())
    } finally {
      // IF EXISTS must reach the multiset branch too (a silent Spark
      // no-op would leave the table resurrectable next session)
      Seq("t1", "t2", "t3").foreach(t => gms.sql(s"DROP TABLE IF EXISTS $t"))
      gms.sql("DROP TABLE IF EXISTS never_existed")
    }
  }

  // name resolution on the parsed plan: shapes NameResolutionSpec
  // generates, and the case it found (a correlated scalar subquery over
  // a view whose body is a UNION), pinned as goldens
  test("graft names resolve in every relation position") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val g = new GraftSession(spark, tmp("golden_res_views_"), tmp("golden_res_ms_"))
    def qg(sql: String, expected: String): Unit = Golden.check(g, sql, expected)
    g.sql("CREATE MULTISET TABLE gr_ms (k INT, s TEXT)")
    try {
      g.sql("INSERT INTO gr_ms VALUES (1, 'a'), (1, 'a'), (2, 'b')")
      g.sql("CREATE VIEW gr_v AS SELECT k, s FROM gr_ms UNION ALL SELECT 3, 'c'")
      // comma join of a view and a multiset table; db.view.col qualifiers
      qg("""SELECT default.gr_v.k, gr_ms.s FROM gr_v, default.gr_ms
           |WHERE gr_v.k = gr_ms.k ORDER BY 1, 2""".stripMargin,
        "|1|a|\n|1|a|\n|1|a|\n|1|a|\n|2|b|")
      // correlated scalar subquery over a view whose body is a UNION
      qg("SELECT s, (SELECT count(*) FROM gr_ms WHERE gr_ms.s = v.s) AS n FROM gr_v v ORDER BY s",
        "|a|2|\n|a|2|\n|b|1|\n|c|0|")
      // a CTE shadows the view's name; IN subquery over a multiset table
      qg("WITH gr_v AS (SELECT 9 AS k) SELECT k FROM gr_v WHERE k NOT IN (SELECT k FROM gr_ms)",
        "|9|")
      // time travel under a user alias; the change feed under the default one
      g.sql("DELETE FROM gr_ms WHERE k = 2")
      qg("SELECT count(*), count(h.k) FROM gr_ms AS OF VERSION 1 h", "|3|3|")
      qg("SELECT gr_ms.k, gr_ms.__freq FROM gr_ms CHANGES BETWEEN 1 AND 2", "|2|-1|")
      // Spark would re-parse a temp view's text where graft names don't resolve
      val tv = intercept[IllegalArgumentException](
        g.sql("CREATE TEMP VIEW gr_tv AS SELECT * FROM gr_ms"))
      assert(tv.getMessage.contains("CREATE VIEW"))
      // a definition that closes a view cycle is refused, naming the cycle
      g.sql("CREATE VIEW gr_a AS SELECT 1 AS k")
      g.sql("CREATE VIEW gr_b AS SELECT k FROM gr_a")
      val cyc = intercept[IllegalArgumentException](
        g.sql("CREATE OR REPLACE VIEW gr_a AS SELECT k FROM gr_b"))
      assert(cyc.getMessage.contains("default.gr_a -> default.gr_b -> default.gr_a"))
      qg("SELECT k FROM gr_b", "|1|") // the old definition stands
      Seq("gr_b", "gr_a", "gr_v").foreach(v => g.sql(s"DROP VIEW $v"))
    } finally g.sql("DROP TABLE IF EXISTS gr_ms")
  }

  // the reference's benchmark load path: DIRECTORY csv → ->> + CAST →
  // INSERT (benchmarking/_tpch/incresql_runner.rs:182-350)
  test("csv load path: directory scan, json extraction, typed insert") {
    val d = java.nio.file.Files.createTempDirectory("graft_load_")
    java.nio.file.Files.writeString(d.resolve("nation.tbl"),
      "0|ALGERIA|0\n1|ARGENTINA|1\n2|BRAZIL|1\n")
    gs.sql("drop table if exists golden_nation")
    gs.sql("CREATE TABLE golden_nation (n_nationkey INTEGER, n_name TEXT, n_regionkey INTEGER)")
    try {
      gs.sql(
        s"""INSERT INTO golden_nation
           |SELECT CAST(data ->> "$$[0]" AS INTEGER),
           |       data ->> "$$[1]",
           |       CAST(data ->> "$$[2]" AS INTEGER)
           |FROM DIRECTORY "$d" WITH(delimiter="|")""".stripMargin)
      q("SELECT * FROM golden_nation ORDER BY n_nationkey",
        "|0|ALGERIA|0|\n|1|ARGENTINA|1|\n|2|BRAZIL|1|")
    } finally gs.sql("drop table if exists golden_nation")
  }

  // tests/json/mod.rs via the dialect operators
  test("json operators golden") {
    q("""select cast("[1,2,3,4]" as string)->"$.1"""", "|2|")
    q("""select cast("[[1,2],[3,4],[5,6]]" as string)->"$.*.0"""", "|[1,3,5]|")
    q("""select json_unquote(cast("\"test\"" as string))""", "|test|")
    q("""select json_unquote(cast("123" as string))""", "|123|")
  }
}
