package graft

import graft.sql.GraftSession
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Resolution ≡ inlining: a statement that names scoped views, a
  * multiset table and the system tables through GraftSession must return
  * the same multiset of rows as the same statement over test-owned temp
  * views that hold each relation's rows, run by plain Spark. The seeded
  * generator varies what name resolution depends on: the session
  * database (two user databases, incresql, default), bare and qualified
  * and backticked spellings, aliases with and without AS, comma joins,
  * JOIN … ON, IN / EXISTS / scalar subqueries, `db.view.col` qualifiers,
  * CTE names that shadow a view, and graft names inside string literals
  * and backtick identifiers.
  */
class NameResolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A graft relation: owning database, name, the columns templates use. */
  private case class Rel(db: String, name: String, cols: Seq[String]) {
    def inline: String = s"inl_$name"
  }

  test("seeded statements over graft names equal the same statements over inlined rows") {
    val graftSpark = spark.newSession()
    val inlineSpark = spark.newSession()
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val gs = new GraftSession(graftSpark, tmp("graft_res_views_"), tmp("graft_res_ms_"))
    Seq("res_a", "res_b").foreach(d => graftSpark.sql(s"DROP DATABASE IF EXISTS $d CASCADE"))
    try {
      gs.script(
        """CREATE DATABASE res_a; CREATE DATABASE res_b; USE res_a;
          |CREATE VIEW base AS SELECT * FROM VALUES (1, 'x'), (2, 'y'), (2, 'y'),
          |  (3, 'tables'), (CAST(NULL AS INT), 'z') AS t(k, s);
          |CREATE VIEW chain AS SELECT k + 1 AS k, s FROM base WHERE s <> 'z';
          |CREATE MULTISET TABLE ms (k INT, s TEXT);
          |INSERT INTO ms VALUES (2, 'y'), (2, 'y'), (4, 'w'), (5, 'x');
          |DELETE FROM ms WHERE k = 5;
          |USE res_b;
          |CREATE VIEW other AS SELECT k, s FROM res_a.chain UNION ALL SELECT k, s FROM res_a.ms;
          |CREATE VIEW pairs AS SELECT o.k, c.s FROM other o, res_a.base c WHERE o.k = c.k;
          |USE incresql;
          |CREATE VIEW res_a.dbs AS SELECT name FROM databases WHERE name LIKE 'res_%';
          |USE default""".stripMargin)
      val ks = Seq(Rel("res_a", "base", Seq("k", "s")), Rel("res_a", "chain", Seq("k", "s")),
        Rel("res_a", "ms", Seq("k", "s")), Rel("res_b", "other", Seq("k", "s")),
        Rel("res_b", "pairs", Seq("k", "s")))
      val named = Seq(Rel("res_a", "dbs", Seq("name")), Rel("incresql", "databases", Seq("name")))
      val tables = Rel("incresql", "tables", Seq("database_name", "name", "type"))
      (ks ++ named :+ tables).foreach { r =>
        val df = gs.sql(s"SELECT ${r.cols.mkString(", ")} FROM ${r.db}.${r.name}")
        inlineSpark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
          .createOrReplaceTempView(r.inline)
      }
      // the fixture is not vacuous: every relation has rows
      (ks ++ named :+ tables).foreach(r =>
        assert(inlineSpark.table(r.inline).count() > 0, s"${r.name} is empty"))

      val rnd = new scala.util.Random(20261019)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
      val databases = Seq("res_a", "res_b", "incresql", "default")

      /** One relation reference: its FROM text and its column qualifier,
        * each as (graft spelling, inlined spelling). */
      final case class Ref(from: (String, String), q: (String, String))
      def ref(r: Rel, cur: String, alias: Option[String]): Ref = {
        val graftName =
          if (r.db == cur && rnd.nextBoolean()) r.name
          else if (rnd.nextInt(4) == 0) s"`${r.db}`.`${r.name}`"
          else s"${r.db}.${r.name}"
        alias match {
          case Some(a) =>
            val as = if (rnd.nextBoolean()) " AS " else " "
            Ref((graftName + as + a, r.inline + as + a), (a, a))
          case None =>
            val q = if (rnd.nextBoolean()) r.name else s"${r.db}.${r.name}"
            Ref((graftName, r.inline), (q, r.inline))
        }
      }
      def maybe(a: String) = if (rnd.nextBoolean()) Some(a) else None
      // two references; the same relation twice always gets aliases
      def two(cur: String): (Ref, Ref) = {
        val (r0, r1) = (pick(ks), pick(ks))
        if (r0 == r1) (ref(r0, cur, Some("x")), ref(r1, cur, Some("y")))
        else (ref(r0, cur, maybe("x")), ref(r1, cur, maybe("y")))
      }

      /** (graft text, inlined text) of one generated statement. */
      def statement(cur: String): (String, String) = {
        val (x, y) = two(cur)
        val n = ref(pick(named), cur, maybe("n"))
        val t = ref(tables, cur, maybe("t"))
        val template = rnd.nextInt(11)
        def render(graft: Boolean): String = {
          def f(r: Ref) = if (graft) r.from._1 else r.from._2
          def q(r: Ref) = if (graft) r.q._1 else r.q._2
          template match {
            case 0 => s"SELECT ${q(x)}.k, ${q(x)}.s FROM ${f(x)} WHERE ${q(x)}.s <> 'res_a.chain'"
            case 1 => s"SELECT ${q(x)}.k, ${q(y)}.s FROM ${f(x)} JOIN ${f(y)} ON ${q(x)}.k = ${q(y)}.k"
            case 2 => s"SELECT count(*) AS n, sum(${q(x)}.k) AS sk FROM ${f(x)}, ${f(y)} " +
              s"WHERE ${q(x)}.s = ${q(y)}.s"
            case 3 => s"SELECT k, s FROM ${f(x)} WHERE k IN (SELECT k FROM ${f(y)})"
            case 4 => s"SELECT ${q(x)}.s, (SELECT count(*) FROM ${f(y)} " +
              s"WHERE ${q(y)}.s = ${q(x)}.s) AS n FROM ${f(x)}"
            case 5 => s"SELECT ${q(x)}.k FROM ${f(x)} WHERE EXISTS " +
              s"(SELECT 1 FROM ${f(y)} WHERE ${q(y)}.k = ${q(x)}.k)"
            case 6 => s"SELECT ${q(n)}.name FROM ${f(n)} WHERE ${q(n)}.name LIKE 'res_%'"
            case 7 => s"SELECT ${q(t)}.name, ${q(t)}.type FROM ${f(t)} JOIN ${f(x)} " +
              s"ON ${q(t)}.name = ${q(x)}.s"
            case 8 => s"SELECT 'FROM res_a.base JOIN tables' AS `it's`, " +
              s"count(*) AS `n;from pairs` FROM ${f(x)}"
            // a CTE named like a view shadows it in the main query
            case 9 => s"WITH chain AS (SELECT k FROM ${f(x)}) SELECT count(*) AS c, " +
              "sum(k) AS sk FROM chain"
            case _ => s"SELECT ${q(t)}.type, count(*) AS c FROM ${f(t)} " +
              s"WHERE ${q(t)}.database_name IN ('res_a', 'res_b') GROUP BY ${q(t)}.type"
          }
        }
        (render(graft = true), render(graft = false))
      }

      def bag(rows: Array[Row]) =
        rows.toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
      (1 to 100).foreach { i =>
        val cur = pick(databases)
        val (graftSql, inlineSql) = statement(cur)
        gs.sql(s"USE $cur")
        val got = bag(gs.sql(graftSql).collect())
        val want = bag(inlineSpark.sql(inlineSql).collect())
        assert(got == want, s"\nstatement $i under USE $cur:\n  $graftSql\ninlined:\n  $inlineSql")
      }
    } finally {
      gs.sql("USE default")
      graftSpark.sql("DROP DATABASE IF EXISTS res_a CASCADE")
      graftSpark.sql("DROP DATABASE IF EXISTS res_b CASCADE")
    }
  }
}
