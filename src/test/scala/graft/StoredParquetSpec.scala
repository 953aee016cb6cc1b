package graft

import graft.ivm.IncrementalAggView
import graft.sources.StoredParquet
import graft.sql.GraftSession
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The stored-schema reader and the single-aggregation view refresh:
  *   - the footer schema plans the same relation inference would, for
  *     every type the dialect maps, the empty v0 of a new multiset table
  *     included, and for every input table;
  *   - a directory it cannot vouch for raises, naming the path;
  *   - an IncrementalAggView refresh has exactly one shuffle;
  *   - random signed-delta histories keep the view equal to a GROUP BY
  *     recompute; vacuum cuts retention with a clear error after. */
class StoredParquetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("footer schema equals the inferred one for every dialect type, empty v0 included") {
    val msDir = tmp("graft_sp_ms_")
    val gs = new GraftSession(spark.newSession(), tmp("graft_sp_views_"), msDir)
    gs.sql("CREATE MULTISET TABLE typed (i INT, b BIGINT, d DECIMAL(12,2), s TEXT, " +
      "f BOOLEAN, dt DATE, ts TIMESTAMP_NTZ, x DOUBLE, v ARRAY<DOUBLE>)")
    gs.spark.sql("SELECT 1 AS i, CAST(2 AS BIGINT) AS b, CAST(3.25 AS DECIMAL(12,2)) AS d, " +
      "'a' AS s, true AS f, DATE '2020-01-02' AS dt, " +
      "TIMESTAMP_NTZ '2020-01-02 03:04:05' AS ts, CAST(1.5 AS DOUBLE) AS x, " +
      "array(CAST(1 AS DOUBLE), CAST(2.5 AS DOUBLE)) AS v").createOrReplaceTempView("typed_src")
    gs.sql("INSERT INTO typed SELECT * FROM typed_src")
    val table = s"$msDir/default.typed"
    val v0 = s"$table/v0"
    val v1 = s"$table/v1"
    assert(rows(spark.read.parquet(v0)).isEmpty, "CREATE writes an empty v0")
    for (d <- Seq(v0, v1)) {
      val inferred = spark.read.parquet(d)
      val stored = StoredParquet.read(spark, d)
      assert(stored.schema == inferred.schema, d)
      assert(rows(stored) == rows(inferred), d)
    }
    val types = StoredParquet.schema(spark, v1).map(f => f.name -> f.dataType).toMap
    assert(types == Map("i" -> IntegerType, "b" -> LongType, "d" -> DecimalType(12, 2),
      "s" -> StringType, "f" -> BooleanType, "dt" -> DateType, "ts" -> TimestampNTZType,
      "x" -> DoubleType, "v" -> ArrayType(DoubleType), "__freq" -> LongType))
    // a chain read through the helper: v0 ∪ v1 as one scan
    assert(rows(StoredParquet.read(spark, v0, v1)) == rows(spark.read.parquet(v1)))
    gs.sql("DROP TABLE typed")
  }

  test("no part file, or a footer without Spark's row metadata, raises naming the path") {
    val empty = tmp("graft_sp_empty_")
    val e1 = intercept[IllegalStateException](StoredParquet.read(spark, empty))
    assert(e1.getMessage.contains(empty))

    val successOnly = tmp("graft_sp_success_")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(successOnly, "_SUCCESS"))
    val e2 = intercept[IllegalStateException](StoredParquet.read(spark, successOnly))
    assert(e2.getMessage.contains(successOnly))

    val missing = s"${tmp("graft_sp_missing_")}/nothing_here"
    val e3 = intercept[IllegalStateException](StoredParquet.read(spark, missing))
    assert(e3.getMessage.contains(missing))

    // a parquet file written by plain parquet-mr carries no Spark schema
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val foreign = tmp("graft_sp_foreign_")
    val file = new org.apache.hadoop.fs.Path(s"$foreign/part-00000.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val msg = MessageTypeParser.parseMessageType("message m { required int32 x; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(msg).withConf(conf).build()
    try w.write(new SimpleGroupFactory(msg).newGroup().append("x", 7))
    finally w.close()
    assert(spark.read.parquet(foreign).count() == 1, "the file itself is readable")
    val e4 = intercept[IllegalStateException](StoredParquet.read(spark, foreign))
    assert(e4.getMessage.contains(foreign) && e4.getMessage.contains(StoredParquet.rowMetadataKey))
  }

  test("input: the footer schema equals the inferred one for every input table, file or directory") {
    val tiers = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    for (sf <- tiers; t <- Engine.allTables) {
      val f = s"$sf/$t.parquet"
      assert(StoredParquet.input(spark, f).schema == spark.read.parquet(f).schema, f)
    }
    val parts = s"${tmp("graft_sp_parts_")}/orders.parquet"
    Engine.table(spark, tiers.head, "orders").repartition(3).write.parquet(parts)
    assert(StoredParquet.input(spark, parts).schema == spark.read.parquet(parts).schema)
    assert(StoredParquet.input(spark, parts).count() == spark.read.parquet(parts).count())
  }

  test("input: a footer without Spark's row metadata converts as inference does; a missing input raises") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val file = s"${tmp("graft_sp_input_")}/t.parquet"
    val conf = spark.sessionState.newHadoopConf()
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int32 x; optional int64 t (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
      .withType(msg).withConf(conf).build()
    try w.write(new SimpleGroupFactory(msg).newGroup().append("x", 7).append("t", 1234567L))
    finally w.close()
    val df = StoredParquet.input(spark, file)
    assert(df.schema == spark.read.parquet(file).schema)
    // required x plans nullable, as every file scan does; t is raw nanos
    // under nanosAsLong, which Engine.build sets
    assert(df.schema == StructType(Seq(
      StructField("x", IntegerType, nullable = true), StructField("t", LongType))))
    assert(rows(df) == Seq("[7,1234567]"))

    val missing = s"${tmp("graft_sp_noinput_")}/lineitem.parquet"
    val e = intercept[IllegalStateException](StoredParquet.input(spark, missing))
    assert(e.getMessage.contains(missing))
  }

  test("applyDelta's executed plan holds exactly one shuffle Exchange") {
    val view = new IncrementalAggView(spark, Seq("k"), Seq("v"), tmp("graft_sp_refresh_"))
    view.initialize(Seq(("a", 1.0), ("b", 2.0), ("a", 4.0)).toDF("k", "v"))
    val written = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val _ = written.add(qe)
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      view.applyDelta(Seq(("a", 1.0, -1L), ("c", 3.0, 2L)).toDF("k", "v", view.freqCol))
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val plans = written.asScala.toSeq.map(_.executedPlan)
    assert(plans.nonEmpty, "the refresh's write was not observed")
    val shuffles = plans.flatMap(collect(_) { case e: ShuffleExchangeExec => e })
    assert(shuffles.size == 1, plans.mkString("\n"))
    assert(rows(view.current().select("k", "cnt", "sum_v")) ==
      Seq("[a,1,4.00]", "[b,1,2.00]", "[c,2,6.00]"))
  }

  test("random signed-delta histories: the view equals a GROUP BY recompute after every batch") {
    val started = System.nanoTime()
    val schema = StructType(Seq(
      StructField("k1", StringType), StructField("k2", IntegerType),
      StructField("q", DecimalType(10, 2)), StructField("__freq", LongType)))
    val rnd = new scala.util.Random(20261018)
    val view = new IncrementalAggView(spark, Seq("k1", "k2"), Seq("q"), tmp("graft_sp_prop_"))
    type Key = (String, Int)
    // the change log applied so far: the recompute's input
    var log = Vector.empty[(Key, BigDecimal, Long)]
    def batch(n: Int): Seq[(Key, BigDecimal, Long)] = Seq.fill(n) {
      val k1 = Seq("x", "y", null)(rnd.nextInt(3))
      val f = Seq(-2L, -1L, 1L, 1L, 2L)(rnd.nextInt(5))
      ((k1, rnd.nextInt(3)), BigDecimal(rnd.nextInt(2000) - 500, 2), f)
    }
    def frame(b: Seq[(Key, BigDecimal, Long)]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(b.map { case ((k1, k2), q, f) =>
        Row(k1, k2, q.bigDecimal, f) }, 2), schema)
    def recompute(): Map[Key, (Long, BigDecimal)] =
      log.groupBy(_._1).view.mapValues { rs =>
        (rs.map(_._3).sum, rs.map { case (_, q, f) => q * f }.sum)
      }.toMap.filter(_._2._1 != 0)
    def viewState(): Map[Key, (Long, BigDecimal)] =
      view.current().collect().map { r =>
        (r.getString(0), r.getInt(1)) ->
          (r.getAs[Long]("cnt"), BigDecimal(r.getAs[java.math.BigDecimal]("sum_q")))
      }.toMap

    val base = batch(6).map { case (k, q, _) => (k, q, 1L) }
    view.initialize(frame(base).drop("__freq"))
    log ++= base
    var seenNegative, seenVanished, seenReturned = false
    var vanished = Set.empty[Key]
    for (i <- 1 to 30) {
      val b = batch(1 + rnd.nextInt(6))
      val before = recompute().keySet
      view.applyDelta(frame(b))
      log ++= b
      val expected = recompute()
      assert(viewState() == expected, s"batch $i diverged")
      seenNegative ||= expected.values.exists(_._1 < 0)
      val gone = before -- expected.keySet
      seenVanished ||= gone.nonEmpty
      seenReturned ||= (expected.keySet & vanished).nonEmpty
      vanished ++= gone
    }
    // the histories covered retract-before-insert, delete-to-zero and re-insert
    assert(seenNegative && seenVanished && seenReturned,
      s"negative=$seenNegative vanished=$seenVanished returned=$seenReturned")
    assert(System.nanoTime() - started < 60L * 1000 * 1000 * 1000, "property ran over 60 s")
  }

  test("vacuum keeps only the current snapshot; at(v) of a dropped one names the retained range") {
    val dir = tmp("graft_sp_vacuum_")
    val view = new IncrementalAggView(spark, Seq("k"), Seq("v"), dir)
    view.initialize(Seq(("a", 1.0)).toDF("k", "v"))
    view.applyDelta(Seq(("a", 2.0, 1L)).toDF("k", "v", view.freqCol))
    view.applyDelta(Seq(("b", 5.0, 1L)).toDF("k", "v", view.freqCol))
    val before = rows(view.current())
    view.vacuum()
    assert(new java.io.File(dir).list().sorted.toSeq == Seq("v2"))
    assert(rows(view.current()) == before)
    val e = intercept[IllegalArgumentException](view.at(1))
    assert(e.getMessage.contains("[2, 2]"), e.getMessage)
    // history resumes from the kept snapshot
    view.applyDelta(Seq(("a", 1.0, -1L)).toDF("k", "v", view.freqCol))
    assert(rows(view.at(2)) == before)
    assert(rows(view.current().select("k", "cnt")) == Seq("[a,1]", "[b,1]"))
    view.vacuum()
    assert(new java.io.File(dir).list().sorted.toSeq == Seq("v3"))
  }
}
