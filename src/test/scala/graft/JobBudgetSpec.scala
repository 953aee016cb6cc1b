package graft

import graft.ivm.{IncrementalAggView, IncrementalJoinView}
import graft.sources.MultisetStore
import graft.sql.GraftSession
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Building a plan over engine-written state launches no Spark job: the
  * scan schema comes from the stored footer, never from inference. A
  * schema-inference regression on any of these paths shows up here as a
  * job started while only a DataFrame was being built. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started by THIS thread while `build` runs — a thread-local
    * tag keeps jobs of any other thread (a stream left running by another
    * suite) out of the count. */
  private def jobsDuring[T](build: => T): Int = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobBudget"
    val id = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) == id) {
          val _ = seen.incrementAndGet()
        }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, id)
    try { build; ListenerBusDrain(sc); seen.get() }
    finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("the budget counts an inferred-schema read, so 0 below means none") {
    val p = tmp("graft_budget_probe_")
    Seq((1, "a")).toDF("k", "v").write.mode("overwrite").parquet(p)
    assert(jobsDuring(spark.read.parquet(p)) >= 1)
  }

  test("MultisetStore.snapshot over a 3-version chain plans with 0 jobs") {
    val p = tmp("graft_budget_ms_") + "/t"
    MultisetStore.append(spark, p, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    MultisetStore.appendDelta(spark, p, Seq((3, "c")).toDF("k", "v"))
    MultisetStore.appendDelta(spark, p, Seq((1, "a")).toDF("k", "v"), freq = -1L)
    assert(MultisetStore.versions(p) == Seq(0, 1, 2))
    assert(jobsDuring(MultisetStore.snapshot(spark, p)) == 0)
    assert(jobsDuring(MultisetStore.read(spark, p)) == 0)
  }

  test("MultisetStore.changes between adjacent delta versions plans with 0 jobs and reads only the delta") {
    val p = tmp("graft_budget_feed_") + "/t"
    MultisetStore.append(spark, p, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    MultisetStore.appendDelta(spark, p, Seq((3, "c")).toDF("k", "v"))
    val v = MultisetStore.appendDelta(spark, p, Seq((1, "a")).toDF("k", "v"), freq = -1L)
    assert(v == 2)
    assert(jobsDuring(MultisetStore.changes(spark, p, 1, 2)) == 0)
    val feed = MultisetStore.changes(spark, p, 1, 2)
    assert(feed.inputFiles.nonEmpty && feed.inputFiles.forall(_.contains("/t/v2/")),
      feed.inputFiles.mkString("\n"))
    assert(feed.collect().map(_.toString).toSeq == Seq("[1,a,-1]"))
  }

  test("IncrementalAggView.current() and IncrementalJoinView.current() plan with 0 jobs") {
    val agg = new IncrementalAggView(spark, Seq("k"), Seq("v"), tmp("graft_budget_agg_"))
    agg.initialize(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"))
    agg.applyDelta(Seq(("a", 3.0, 1L)).toDF("k", "v", agg.freqCol))
    assert(jobsDuring(agg.current()) == 0)

    val join = new IncrementalJoinView(spark, Seq("k"), tmp("graft_budget_join_"))
    join.initialize(Seq((1, "a")).toDF("k", "av"), Seq((1, "b")).toDF("k", "bv"))
    join.applyDelta(Some(Seq((1, "a2", 1L)).toDF("k", "av", join.freqCol)), None)
    assert(jobsDuring(join.current()) == 0)
  }

  test("GraftSession.sql(\"SELECT 1\") with a multiset table registered launches 0 jobs") {
    val gs = new GraftSession(spark.newSession(), tmp("graft_budget_views_"),
      tmp("graft_budget_ms_cat_"))
    gs.sql("CREATE MULTISET TABLE budget_t (k INT, v TEXT)")
    gs.sql("INSERT INTO budget_t VALUES (1, 'a'), (2, 'b')")
    gs.sql("INSERT INTO budget_t VALUES (1, 'a')")
    assert(jobsDuring(gs.sql("SELECT 1")) == 0)
    gs.sql("DROP TABLE budget_t")
  }
}
