package graft

import graft.sql.GraftSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** Ports the reference's SQL-dialect integration shapes through the
  * front-door shim: DIRECTORY scans (tests/file_sources/mod.rs), SHOW
  * statements (tests/show/), DDL (tests/create/), LIMIT off,n and the
  * JSON operators (tests/json/, building_blocks/limit).
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val gs = new GraftSession(spark)

  test("""select * from directory "dir" emits JSON-array rows (file_sources)""") {
    val d = java.nio.file.Files.createTempDirectory("graft_dialect_csv_")
    java.nio.file.Files.writeString(d.resolve("simple.csv"),
      "123,abc,12.1\n456,\"d,ef\",13.2\n")
    val rows = gs.sql(s"""select * from directory "$d" with(delimiter=",")""")
      .collect().map(_.getString(0)).sorted
    assert(rows.sameElements(Array(
      """["123","abc","12.1"]""", """["456","d,ef","13.2"]""")))
  }

  test("LIMIT offset,n dialect") {
    Engine.registerAll(spark, "/root/testdata/sf0.001")
    val rows = gs.sql("select o_orderkey from orders order by o_orderkey limit 5, 7")
      .collect().map(_.getLong(0))
    val all = gs.sql("select o_orderkey from orders order by o_orderkey limit 12")
      .collect().map(_.getLong(0))
    assert(rows.sameElements(all.drop(5)))
  }

  test("-> and ->> operators rewrite to the MySQL-semantics expressions") {
    val r = gs.sql("""select '[[1,2],[3,4],[5,6]]' -> "$.*.0" as a,
                     |'{"k":"v"}' ->> "$.k" as b""".stripMargin).collect()(0)
    assert(r.getString(0) == "[1,3,5]")
    assert(r.getString(1) == "v")
  }

  test("-> on a table column (events.props)") {
    Engine.registerAll(spark, "/root/testdata/sf0.001")
    val r = gs.sql("""select event_id, props ->> "$.k" as k from events
                     |order by event_id limit 3""".stripMargin).collect()
    assert(r.length == 3 && r.forall(row => row.getString(1).forall(_.isDigit)))
  }

  test("-> inside a string literal is not rewritten") {
    val r = gs.sql("""select 'a->b' as s, '{"k":9}' ->> "$.k" as k""").collect()(0)
    assert(r.getString(0) == "a->b")
    assert(r.getString(1) == "9")
    // a backtick identifier is as opaque as a literal
    assert(gs.sql("SELECT 1 AS `a->b`").columns.toSeq == Seq("a->b"))
  }

  test("dialect rewrites never fire inside string literals") {
    // each of these literals matches a rewrite pattern; all must pass
    // through byte-identical
    val r = gs.sql("""select 'incresql.tables' as a, 'database()' as b,
                     |'@@max_allowed_packet' as c, 'limit 1, 2' as d,
                     |database() as e""".stripMargin).collect()(0)
    assert(r.getString(0) == "incresql.tables")
    assert(r.getString(1) == "database()")
    assert(r.getString(2) == "@@max_allowed_packet")
    assert(r.getString(3) == "limit 1, 2")
    assert(r.getString(4) == spark.catalog.currentDatabase) // real one still rewrites
    // a quote inside a backtick identifier opens no literal
    val ticked = gs.sql("SELECT 1 AS `it's`, name FROM incresql.databases")
    assert(ticked.columns.toSeq == Seq("it's", "name") && ticked.count() >= 3)
  }

  test("join/sample keywords after a system table are not eaten as its alias") {
    // NATURAL JOIN: without the stopword, `natural` becomes the alias and
    // the join degrades to an unconditioned cartesian product
    val nat = gs.sql("""select name from incresql.databases
                       |natural join (select 'default' as name) x""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(nat == Seq("default"))
    // TABLESAMPLE parses as the sample clause, not as the table's alias
    val ts = gs.sql(
      "select name from incresql.databases tablesample (100 percent)")
      .collect().map(_.getString(0)).toSet
    assert(Set("default", "incresql", "information_schema").subsetOf(ts))
  }

  test("SHOW FUNCTIONS lists registered functions including custom ones") {
    val fns = gs.sql("show functions").collect().map(_.getString(0))
    assert(fns.contains("json_extract_mysql") && fns.contains("rolling_hash64"))
  }

  test("every identifier in the reference SHOW FUNCTIONS golden is callable") {
    // tests/show/functions.rs lists the reference registry; operator
    // spellings (!=, *, ->, between, and/or/not, is-forms) are operators
    // here too — the identifier-shaped names must all resolve as calls
    val fns = gs.sql("show functions").collect().map(_.getString(0)).toSet
    val names = Seq("avg", "coalesce", "count", "database", "date_sub", "if",
      "isfalse", "isnull", "istrue", "json_extract_mysql", "json_unquote",
      "sum", "to_bigint", "to_bool", "to_date", "to_decimal", "to_int",
      "to_json", "to_jsonpath", "to_text", "to_timestamp", "type_of")
    val missing = names.filterNot(fns.contains)
    assert(missing.isEmpty, s"missing reference registry names: $missing")
    // cast semantics under ansi=false: parse failure -> NULL (to_int.rs)
    val r = gs.sql("""select to_int('12') a, to_int('abc') b, to_bigint('7') c,
                     |istrue(NULL) d, isfalse(false) e, isnull(NULL) f,
                     |to_text(42) g""".stripMargin).collect()(0)
    assert(r.getInt(0) == 12 && r.isNullAt(1) && r.getLong(2) == 7L)
    assert(!r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5))
    assert(r.getString(6) == "42")
  }

  test("DDL round-trip: create database/table, insert, delete-style, drop") {
    gs.sql("create database graft_test_db")
    try {
      gs.sql("use graft_test_db")
      gs.sql("create table t1 (a INTEGER, b TEXT, c DECIMAL(10,2))")
      gs.sql("insert into t1 values (1, 'x', 1.50), (2, 'y', 2.50), (1, 'x', 1.50)")
      // multiset: duplicate row survives
      assert(gs.sql("select count(*) as c from t1").collect()(0).getLong(0) == 3L)
      val schema = spark.table("t1").schema
      assert(schema("b").dataType.typeName == "string")
      assert(schema("c").dataType.typeName == "decimal(10,2)")
      gs.sql("compact table t1")
      assert(gs.sql("select count(*) as c from t1").collect()(0).getLong(0) == 3L)
      gs.sql("create view v1 as select a, count(*) as n from t1 group by a")
      val v = gs.sql("select * from v1 order by a").collect()
      assert(v.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 2L), (2, 1L)))
      gs.sql("drop view v1")
      gs.sql("drop table t1")
    } finally {
      gs.sql("use default")
      spark.sql("DROP DATABASE IF EXISTS graft_test_db CASCADE")
    }
  }

  test("SHOW DATABASES / SHOW TABLES shapes") {
    // reference golden (tests/show/databases.rs): the bootstrap rows
    // default / incresql / information_schema are always present
    val dbs = gs.sql("show databases").collect().map(_.getString(0))
    assert(Set("default", "incresql", "information_schema").subsetOf(dbs.toSet))
    assert(gs.sql("show tables").columns.sameElements(Array("table")))
  }

  test("QUALIFY filters on window functions, evaluated before ORDER BY/LIMIT") {
    Engine.registerAll(spark, "/root/testdata/sf0.001")
    val top = gs.sql(
      """select o_custkey, o_orderkey from orders
        |qualify row_number() over
        |  (partition by o_custkey order by o_totalprice desc, o_orderkey) = 1
        |order by o_custkey limit 5""".stripMargin).collect()
    assert(top.length == 5)
    assert(top.map(_.getLong(0)).distinct.length == 5) // one row per customer
    // no helper column leaks into the output schema
    assert(top.nonEmpty && !gs.sql(
      """select o_custkey from orders
        |qualify row_number() over (order by o_orderkey) <= 3""".stripMargin)
      .columns.contains("__qualify"))
  }

  test("QUALIFY composes with GROUP BY (windows over grouped rows)") {
    Engine.registerAll(spark, "/root/testdata/sf0.001")
    val r = gs.sql(
      """select o_orderstatus, count(*) as n from orders
        |group by o_orderstatus
        |qualify rank() over (order by count(*) desc) = 1""".stripMargin).collect()
    assert(r.length == 1)
    val byHand = spark.sql(
      "select o_orderstatus, count(*) as n from orders group by o_orderstatus")
      .collect().maxBy(_.getLong(1))
    assert(r(0).getString(0) == byHand.getString(0) && r(0).getLong(1) == byHand.getLong(1))
  }

  test("QUALIFY rewrites each set-operation arm independently") {
    Engine.registerAll(spark, "/root/testdata/sf0.001")
    val r = gs.sql(
      """select 'lo' as side, o_orderkey from orders
        |qualify row_number() over (order by o_totalprice, o_orderkey) = 1
        |union all
        |select 'hi' as side, o_orderkey from orders
        |qualify row_number() over (order by o_totalprice desc, o_orderkey) = 1
        |order by side""".stripMargin).collect()
    assert(r.length == 2 && r.map(_.getString(0)).toSeq == Seq("hi", "lo"))
    assert(r(0).getLong(1) != r(1).getLong(1))
  }

  test("QUALIFY composes with DISTINCT (filter evaluated before the dedup)") {
    Engine.registerAll(spark, "/root/testdata/sf0.001")
    // distinct statuses that own at least one top-3-priced order — the
    // extended-tuple rewrite dedups (sel, pred) then filters, which is
    // equivalent to filtering rows then DISTINCT over sel
    val r = gs.sql(
      """select distinct o_orderstatus from orders
        |qualify row_number() over (order by o_totalprice desc, o_orderkey) <= 3
        |order by o_orderstatus""".stripMargin).collect().map(_.getString(0))
    val expected = spark.sql(
      """select distinct o_orderstatus from (
        |  select o_orderstatus, row_number() over
        |    (order by o_totalprice desc, o_orderkey) as rn from orders) t
        |where rn <= 3 order by o_orderstatus""".stripMargin)
      .collect().map(_.getString(0))
    assert(r.sameElements(expected) && r.nonEmpty)
  }

  test("QUALIFY inside a string literal is untouched") {
    val r = gs.sql("select 'qualify me' as s").collect()(0)
    assert(r.getString(0) == "qualify me")
  }

  test("a backtick-quoted identifier named qualify is not a QUALIFY clause") {
    val r = gs.sql("select 5 as `qualify` order by `qualify`").collect()(0)
    assert(r.getInt(0) == 5)
  }

  test("script(): multi-statement execution, semicolons in literals survive") {
    val tbl = s"graft_script_${System.nanoTime()}"
    try {
      val out = gs.script(
        s"""CREATE TABLE $tbl (k INT, v TEXT);
           |INSERT INTO $tbl VALUES (1, 'a;b'), (2, 'c');
           |UPDATE $tbl SET v = upper(v) WHERE k = 1;
           |
           |SELECT k, v FROM $tbl ORDER BY k;""".stripMargin)
        .collect().map(r => (r.getInt(0), r.getString(1)))
      assert(out.toSeq == Seq((1, "A;B"), (2, "c")))
      // nor does a backtick identifier split the script
      assert(gs.script("SELECT 1 AS `a;b`").columns.toSeq == Seq("a;b"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("no statement leaves a temp view behind") {
    val s = spark.newSession()
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val g = new GraftSession(s, tmp("graft_tv_views_"), tmp("graft_tv_ms_"))
    val d = java.nio.file.Files.createTempDirectory("graft_tv_csv_")
    java.nio.file.Files.writeString(d.resolve("a.csv"), "1,x\n")
    def tempViews = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    Seq("CREATE MULTISET TABLE tv_t (k INT, v TEXT)",
      "INSERT INTO tv_t VALUES (1, 'a'), (2, 'b')",
      "DELETE FROM tv_t WHERE k = 2",
      "SELECT * FROM tv_t",
      "SELECT * FROM tv_t AS OF VERSION 1",
      "SELECT * FROM tv_t CHANGES BETWEEN 0 AND 2",
      s"""SELECT * FROM DIRECTORY "$d"""",
      "CREATE VIEW tv_v AS SELECT k FROM tv_t",
      "CREATE VIEW tv_vv AS SELECT k FROM tv_v",
      "SELECT * FROM tv_vv",
      "USE incresql",
      "SELECT name FROM tables",
      "USE default",
      "DROP VIEW tv_vv",
      "DROP VIEW tv_v",
      "DROP TABLE tv_t").foreach(stmt => g.sql(stmt).collect())
    assert(tempViews == before)
  }

  test("MERGE: upsert updates matches, inserts the rest, errors on multi-match") {
    val t = s"graft_merge_t_${System.nanoTime()}"
    val s = s"graft_merge_s_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $t (k INT, v STRING, n INT) USING PARQUET")
    spark.sql(s"INSERT INTO $t VALUES (1,'a',10), (2,'b',20), (3,'c',30)")
    spark.sql(s"CREATE TABLE $s (k INT, v STRING) USING PARQUET")
    spark.sql(s"INSERT INTO $s VALUES (2,'B'), (4,'D')")
    try {
      gs.sql(
        s"""MERGE INTO $t USING $s src ON $t.k = src.k
           |WHEN MATCHED THEN UPDATE SET v = upper(src.v), n = $t.n + 1
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)""".stripMargin)
      val rows = spark.table(t).orderBy("k").collect()
        .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2)))
      assert(rows.toSeq == Seq((1, "a", 10), (2, "B", 21), (3, "c", 30), (4, "D", -1)))

      // update-only form leaves unmatched source rows out
      gs.sql(s"MERGE INTO $t USING $s src ON $t.k = src.k " +
        s"WHEN MATCHED THEN UPDATE SET n = 0")
      assert(spark.table(t).filter("k = 2").collect()(0).getInt(2) == 0)
      assert(spark.table(t).count() == 4)

      // a clause graft does not implement is an error naming it, never
      // silently dropped; the table stays as it was
      val kept = spark.table(t).collect().map(_.toSeq).toSet
      val cnd = intercept[IllegalArgumentException](gs.sql(
        s"""MERGE INTO $t USING $s src ON $t.k = src.k
           |WHEN MATCHED AND src.v = 'B' THEN UPDATE SET n = 7
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      assert(cnd.getMessage.contains("WHEN MATCHED AND"), cnd.getMessage)
      val bySource = intercept[IllegalArgumentException](gs.sql(
        s"""MERGE INTO $t USING $s src ON $t.k = src.k
           |WHEN MATCHED THEN UPDATE SET n = 7
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
      assert(bySource.getMessage.contains("WHEN NOT MATCHED BY SOURCE"), bySource.getMessage)
      assert(spark.table(t).collect().map(_.toSeq).toSet == kept)

      // a second source row for k=2 must be rejected, table unchanged
      spark.sql(s"INSERT INTO $s VALUES (2,'dup')")
      val before = spark.table(t).collect().map(_.toSeq).toSet
      val err = intercept[Exception](gs.sql(
        s"MERGE INTO $t USING $s src ON $t.k = src.k WHEN MATCHED THEN UPDATE SET v = src.v"))
      assert(err.getMessage.contains("multiple"))
      assert(spark.table(t).collect().map(_.toSeq).toSet == before)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS $s")
    }
  }

  test("MERGE: WHEN MATCHED THEN DELETE removes matches, keeps the rest") {
    val t = s"graft_merge3_${System.nanoTime()}"
    val s = s"graft_merge3s_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $t (k INT, v STRING) USING PARQUET")
    spark.sql(s"INSERT INTO $t VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql(s"CREATE TABLE $s (k INT) USING PARQUET")
    spark.sql(s"INSERT INTO $s VALUES (2), (9)")
    try {
      gs.sql(s"MERGE INTO $t USING $s src ON $t.k = src.k WHEN MATCHED THEN DELETE")
      val rows = spark.table(t).orderBy("k").collect().map(_.getInt(0))
      assert(rows.toSeq == Seq(1, 3))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS $s")
    }
  }

  test("MERGE: INSERT * maps source columns by name; subquery source works") {
    val t = s"graft_merge2_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $t (k INT, v STRING) USING PARQUET")
    spark.sql(s"INSERT INTO $t VALUES (1,'a')")
    try {
      gs.sql(
        s"""MERGE INTO $t USING (SELECT 2 AS k, 'z' AS v) nw ON $t.k = nw.k
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val rows = spark.table(t).orderBy("k").collect()
        .map(r => (r.getInt(0), r.getString(1)))
      assert(rows.toSeq == Seq((1, "a"), (2, "z")))
      // a subquery source with a nested subquery of its own
      gs.sql(
        s"""MERGE INTO $t USING (SELECT k, concat(v, '!') AS v FROM $t
           |  WHERE k IN (SELECT max(k) FROM $t)) src ON $t.k = src.k
           |WHEN MATCHED THEN UPDATE SET v = src.v""".stripMargin)
      val after = spark.table(t).orderBy("k").collect()
        .map(r => (r.getInt(0), r.getString(1)))
      assert(after.toSeq == Seq((1, "a"), (2, "z!")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("UPDATE: multi-column SET, comma in a literal, NULL predicate skips") {
    val tbl = s"graft_upd_spec_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $tbl (k INT, a STRING, b INT) USING PARQUET")
    spark.sql(s"INSERT INTO $tbl VALUES (1,'x',10), (2,'y',20), (3,'z',NULL)")
    try {
      // k=3's predicate b < 15 is NULL (b is NULL) → row must stay put
      gs.sql(s"UPDATE $tbl SET a = 'p,q', b = b + 1 WHERE b < 15")
      val rows = spark.table(tbl).orderBy("k").collect()
        .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2)))
      assert(rows.toSeq == Seq((1, "p,q", 11), (2, "y", 20), (3, "z", -1)))
      // no WHERE: every row updates
      gs.sql(s"UPDATE $tbl SET b = 0")
      assert(spark.table(tbl).collect().forall(r => r.getInt(2) == 0))
      // a WHERE inside a string literal is not the statement's WHERE
      gs.sql(s"UPDATE $tbl SET a = concat(a, ' where ') WHERE k = 1")
      def as = spark.table(tbl).orderBy("k").collect().map(_.getString(1)).toSeq
      assert(as == Seq("p,q where ", "y", "z"))
      // a target alias qualifies the columns
      gs.sql(s"UPDATE $tbl AS x SET a = 'w', b = x.b + 5 WHERE x.k = 1")
      val r1 = spark.table(tbl).filter("k = 1").collect()(0)
      assert(r1.getString(1) == "w" && r1.getInt(2) == 5)
      assert(as == Seq("w", "y", "z"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("statement surface: every form, lower-cased, with backtick names, with a trailing ;") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val s = spark.newSession()
    val g = new GraftSession(s, tmp("graft_surface_views_"), tmp("graft_surface_ms_"))
    def rows(q: String): Seq[String] = g.sql(q).collect().map(_.mkString("|")).toSeq.sorted
    def ok(check: DataFrame => Unit): Try[DataFrame] => Unit = r => check(r.get)
    def fails(msg: String): Try[DataFrame] => Unit = r =>
      assert(r.failed.get.getMessage.contains(msg), r.failed.get.getMessage)
    // one spelling per run, each in its own database
    val spellings = Seq[String => String](_.toLowerCase, identity, _ + ";")
    spellings.zipWithIndex.foreach { case (spell, run) =>
      val d = s"graft_surface_$run"
      s.sql(s"DROP DATABASE IF EXISTS $d CASCADE")
      val q = if (run == 1) "`" else ""
      def named(stmt: String) = Seq("{d}" -> d, "{pt}" -> "pt", "{mt}" -> "mt", "{v}" -> "v")
        .foldLeft(stmt) { case (t, (k, n)) => t.replace(k, q + n + q) }
      val forms: Seq[(String, Try[DataFrame] => Unit)] = Seq(
        "SHOW FUNCTIONS" -> ok(df => assert(df.collect().map(_.getString(0)).contains("to_int"))),
        "CREATE DATABASE {d}" -> ok(_ => assert(s.catalog.databaseExists(d))),
        "SHOW DATABASES" -> ok(df => assert(df.columns.toSeq == Seq("database") &&
          df.collect().map(_.getString(0)).contains(d))),
        "USE {d}" -> ok(_ => assert(s.catalog.currentDatabase == d)),
        "SHOW TABLES" -> ok(df => assert(df.columns.toSeq == Seq("table") && df.isEmpty)),
        "CREATE TABLE {pt} (k INTEGER, note TEXT, amt DECIMAL)" -> ok(_ =>
          assert(s.table(s"$d.pt").schema("amt").dataType.sql == "DECIMAL(28,0)")),
        "CREATE MULTISET TABLE {mt} (k INTEGER, note TEXT)" -> ok(_ =>
          assert(rows("SELECT * FROM mt").isEmpty)),
        "INSERT INTO {pt} VALUES (1, 'a', 10), (2, 'b', 20)" -> ok(_ =>
          assert(rows("SELECT k, note, amt FROM pt") == Seq("1|a|10", "2|b|20"))),
        "INSERT INTO {pt} (k, note) SELECT 3, 'c'" -> ok(_ =>
          assert(rows("SELECT k, amt FROM pt WHERE k = 3") == Seq("3|null"))),
        "INSERT INTO {mt} VALUES (1, 'a'), (1, 'a'), (2, 'b')" -> ok(_ =>
          assert(rows("SELECT k, note FROM mt") == Seq("1|a", "1|a", "2|b"))),
        "INSERT INTO {mt} (note, k) SELECT 'c', 3" -> ok(_ =>
          assert(rows("SELECT k, note FROM mt WHERE k = 3") == Seq("3|c"))),
        "INSERT INTO {mt} SELECT k, note FROM {pt} WHERE k = 2" -> ok(_ =>
          assert(rows("SELECT k FROM mt WHERE k = 2") == Seq("2", "2"))),
        "SHOW TABLES" -> ok(df => assert(df.collect().map(_.getString(0)).toSeq == Seq("mt", "pt"))),
        "CREATE VIEW {v} AS SELECT k, count(*) AS n FROM {mt} GROUP BY k" -> ok(_ =>
          assert(rows("SELECT k, n FROM v") == Seq("1|2", "2|2", "3|1"))),
        "SHOW TABLES IN {d}" -> ok(df => assert(df.columns.toSeq == Seq("table") &&
          df.collect().map(_.getString(0)).toSeq == Seq("mt", "pt", "v"))),
        "SHOW TABLES LIKE 'm*|v'" -> ok(df => assert(df.columns.toSeq == Seq("table") &&
          df.collect().map(_.getString(0)).toSeq == Seq("mt", "v"))),
        "SHOW TABLES FROM {d} LIKE 'p*'" -> ok(df =>
          assert(df.collect().map(_.getString(0)).toSeq == Seq("pt"))),
        "SHOW TABLES IN incresql LIKE 't*'" -> ok(df =>
          assert(df.collect().map(_.getString(0)).toSeq == Seq("tables"))),
        "SHOW TABLES IN graft_surface_missing" -> fails("does not exist"),
        "CREATE OR REPLACE VIEW {v} AS SELECT k FROM {pt} WHERE k < 3" -> ok(_ =>
          assert(rows("SELECT * FROM v") == Seq("1", "2"))),
        "EXPLAIN SELECT k FROM {v}" -> ok(df =>
          assert(df.columns.toSeq == Seq("tree", "col_idx", "datatype", "expression") && !df.isEmpty)),
        "EXPLAIN FORMATTED SELECT k FROM {pt}" -> ok(df => assert(df.columns.toSeq == Seq("plan") &&
          df.collect().exists(_.getString(0).contains("Scan parquet")))),
        "UPDATE {pt} SET note = upper(note) WHERE k = 1" -> ok(_ =>
          assert(rows("SELECT k, note FROM pt") == Seq("1|A", "2|b", "3|c"))),
        """MERGE INTO {pt} AS t USING (SELECT DISTINCT k, note FROM {mt} WHERE k <> 2) src
          |ON t.k = src.k WHEN MATCHED THEN UPDATE SET note = concat(src.note, '!')
          |WHEN NOT MATCHED THEN INSERT (k, note) VALUES (src.k, src.note)""".stripMargin -> ok(_ =>
          assert(rows("SELECT k, note FROM pt") == Seq("1|a!", "2|b", "3|c!"))),
        "DELETE FROM {pt} WHERE k = 3" -> ok(_ => assert(rows("SELECT k FROM pt") == Seq("1", "2"))),
        "DELETE FROM {pt} LIMIT 1" -> ok(_ => assert(rows("SELECT k FROM pt").length == 1)),
        "DELETE FROM {mt} WHERE k = 1 LIMIT 1" -> ok(_ =>
          assert(rows("SELECT k FROM mt") == Seq("1", "2", "2", "3"))),
        "DELETE FROM {mt} WHERE k = 2" -> ok(_ => assert(rows("SELECT k FROM mt") == Seq("1", "3"))),
        "DELETE FROM {mt}" -> ok(_ => assert(rows("SELECT k FROM mt").isEmpty)),
        "INSERT INTO {mt} VALUES (4, 'd')" -> ok(_ => assert(rows("SELECT k FROM mt") == Seq("4"))),
        "COMPACT TABLE {mt}" -> ok(_ => assert(rows("SELECT k FROM mt") == Seq("4"))),
        "VACUUM TABLE {mt}" -> ok(_ => assert(rows("SELECT k FROM mt") == Seq("4") &&
          Try(rows("SELECT k FROM mt AS OF VERSION 1")).isFailure)),
        "COMPACT TABLE {pt}" -> ok(_ => assert(rows("SELECT k FROM pt").length == 1)),
        "DROP VIEW {v}" -> ok(_ => assert(Try(rows("SELECT * FROM v")).isFailure)),
        "DROP VIEW IF EXISTS {v}" -> ok(_ => ()),
        "DROP TABLE {mt}" -> ok(_ => assert(rows("SHOW TABLES") == Seq("pt"))),
        "DROP TABLE IF EXISTS {mt}" -> ok(_ => assert(rows("SHOW TABLES") == Seq("pt"))),
        "DROP TABLE IF EXISTS {pt}" -> ok(_ => assert(rows("SHOW TABLES").isEmpty)),
        "DROP TABLE IF EXISTS {pt}" -> ok(_ => ()),
        "CREATE VIEW {v} AS SELECT 1 AS one" -> ok(_ => assert(rows("SELECT * FROM v") == Seq("1"))),
        "USE default" -> ok(_ => assert(s.catalog.currentDatabase == "default")),
        "DROP DATABASE {d}" -> fails("not empty"),
        "DROP DATABASE IF EXISTS {d} CASCADE" -> ok(_ => assert(!s.catalog.databaseExists(d) &&
          Try(rows(s"SELECT * FROM $d.v")).isFailure)),
        "DROP DATABASE IF EXISTS {d}" -> ok(_ => ()))
      forms.foreach { case (form, check) =>
        val stmt = spell(named(form))
        withClue(s"$stmt: ")(check(Try(g.sql(stmt))))
      }
    }
  }
}
