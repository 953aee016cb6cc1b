package graft

import graft.sql.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins two statement-layer contracts:
  *
  *   - DELETE ... LIMIT n removes the first n matching rows in SCAN
  *     order — storage-layout-defined, like the reference's RocksDB-scan
  *     delete (delete.rs:12-62, limit.rs:27-45). At a fixed single-file
  *     layout that order is the insertion order, so the behavior here is
  *     fully deterministic and golden-pinned.
  *   - CREATE TABLE enforces the reference's decimal caps
  *     DECIMAL(p<=28, s<=14) (data/src/datatype.rs:22-23) and defaults
  *     bare DECIMAL to DECIMAL(28,0) (parser/src/literals.rs:48).
  *   - DELETE's target alias qualifies its columns, with or without
  *     LIMIT, on physical and multiset tables alike.
  */
class DeleteLimitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val gs = new GraftSession(spark)

  private def dropHard(name: String): Unit = {
    gs.sql(s"drop table if exists $name")
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) {
      loc.listFiles().foreach(_.delete())
      loc.delete()
    }
  }

  test("DELETE LIMIT removes the first n matching rows in scan order (fixed layout)") {
    dropHard("del_limit_t")
    gs.sql("create table del_limit_t (k INTEGER, v TEXT)")
    // REPARTITION(1) pins a single-file layout: scan order = row order.
    // (A plain multi-row INSERT at local[32] writes one file per task and
    // scan order then follows file listing — layout-defined, per the
    // documented contract.)
    spark.sql(
      """INSERT INTO del_limit_t
        |SELECT /*+ REPARTITION(1) */ * FROM VALUES
        |  (1,'a'), (2,'b'), (3,'c'), (4,'d'), (5,'e') t(k, v)""".stripMargin)
    gs.sql("delete from del_limit_t where k > 1 limit 2")
    val left = spark.sql("SELECT k FROM del_limit_t ORDER BY k")
      .collect().map(_.getInt(0)).toSeq
    // rows 2 and 3 are the first two matches in scan order; 1 never matched
    assert(left == Seq(1, 4, 5))
    // NULL-predicate rows stay (3VL): delete with a predicate NULL on v
    gs.sql("delete from del_limit_t where length(NULL) > 0")
    assert(spark.sql("SELECT count(*) FROM del_limit_t").collect()(0).getLong(0) == 3)
    gs.sql("drop table del_limit_t")
  }

  test("CREATE TABLE rejects DECIMAL beyond (28,14); bare DECIMAL is (28,0)") {
    val e = intercept[IllegalArgumentException](
      gs.sql("create table dec_reject_t (a DECIMAL(29,2))"))
    assert(e.getMessage.contains("DECIMAL(29,2) exceeds the supported maximum DECIMAL(28,14)"))
    val e2 = intercept[IllegalArgumentException](
      gs.sql("create table dec_reject_t (a DECIMAL(20,15))"))
    assert(e2.getMessage.contains("DECIMAL(20,15) exceeds"))

    dropHard("dec_ok_t")
    gs.sql("create table dec_ok_t (a DECIMAL(28,14), b DECIMAL, c DECIMAL(10))")
    val fields = spark.table("dec_ok_t").schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(fields("a") == "DECIMAL(28,14)")
    assert(fields("b") == "DECIMAL(28,0)")
    assert(fields("c") == "DECIMAL(10,0)")
    gs.sql("drop table dec_ok_t")
  }

  test("DELETE with a target alias, on a physical and a multiset table") {
    dropHard("del_alias_t")
    gs.sql("create table del_alias_t (k INTEGER, v TEXT)")
    spark.sql("INSERT INTO del_alias_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    gs.sql("DELETE FROM del_alias_t AS x WHERE x.k = 1")
    assert(spark.sql("SELECT k FROM del_alias_t ORDER BY k").collect().map(_.getInt(0)).toSeq ==
      Seq(2, 3))
    gs.sql("drop table del_alias_t")

    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val ms = new GraftSession(spark.newSession(), tmp("graft_del_alias_views_"),
      tmp("graft_del_alias_ms_"))
    ms.sql("CREATE MULTISET TABLE del_alias_m (k INTEGER, v TEXT)")
    ms.sql("INSERT INTO del_alias_m VALUES (1, 'a'), (1, 'a'), (2, 'b'), (3, 'c')")
    def left = ms.sql("SELECT k FROM del_alias_m ORDER BY k").collect().map(_.getInt(0)).toSeq
    ms.sql("DELETE FROM del_alias_m AS x WHERE x.k = 1")
    assert(left == Seq(2, 3))
    ms.sql("DELETE FROM del_alias_m x WHERE x.k > 1 LIMIT 1")
    assert(left.length == 1)
    ms.sql("DROP TABLE del_alias_m")
  }
}
