package graft

import graft.ivm.{IncrementalAggView, IncrementalJoinView}
import graft.sources.MultisetStore
import graft.sql.GraftSession
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Building a plan over the input tables or engine-written state launches
  * no Spark job: the scan schema comes from a footer read in the driver,
  * never from inference. So does building every census key's DataFrame,
  * except the pinned builders that write, build an index or maintain a
  * view on the way. A schema-inference regression on any of these paths
  * shows up here as a job started while only a DataFrame was being built.
  * The multiset DML statements do run jobs; each is pinned at its measured
  * count, so an extra analysis or count on that path fails here too. */
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

  private val sf = "/root/testdata/sf0.001"

  test("Engine.registerAll plans all ten input tables with 0 jobs") {
    // a new session: Engine.table caches plans per session, and this one
    // has read no table yet
    val fresh = spark.newSession()
    assert(jobsDuring(Engine.registerAll(fresh, sf)) == 0)
    assert(Engine.allTables.forall(fresh.catalog.tableExists))
  }

  /** Builders that run Spark jobs while they build, by design; none of
    * them is built here. */
  private val buildsWithJobs: Set[String] = Set(
    // the statement writes a table, a file or multiset versions
    "op_update", "op_merge", "op_insert", "op_roundtrip_json", "op_roundtrip_orc",
    "op_multiset_freq", "op_multiset_compact", "op_multiset_changes",
    "op_multiset_sql", "op_multiset_asof",
    // it builds or appends to an index, trains a model, or collects to the driver
    "dedup_indexed", "dedup_ngram_jaccard", "dedup_containment",
    "dedup_embedding_cosine_wp", "dedup_clusters", "dedup_keep_best",
    "dedup_span_indexed", "dedup_semantic", "ta_bpe_merges", "ta_bpe_encode",
    "ta_bm25_indexed", "ta_bm25_append", "ann_ivf_indexed", "ann_ivf_append",
    "ann_ivf_trained", "ann_ivf_sq8_idx", "ann_ivf_pq_idx", "ann_kmeans_train",
    "ann_rproj_sq8", "layout_bucketed_join",
    // it maintains a view or index through its deltas before the final read
    "ivm_refresh", "ivm_extrema", "ivm_distinct", "ivm_topk", "ivm_join",
    "ivm_pipeline", "ivm_postings", "ivm_bm25", "ivm_nb", "ivm_lm", "ivm_ann",
    "ivm_dedup", "ivm_bm25_lsm", "ivm_ann_stream", "ivm_bm25_stream",
    "ivm_dedup_stream", "ivm_nb_stream", "ivm_lm_stream")

  test("every census builder off the pinned list plans with 0 jobs") {
    val names = SparkEntry.allDefs.map(_.name).toSet
    assert(buildsWithJobs.subsetOf(names),
      s"stale entries: ${(buildsWithJobs -- names).toSeq.sorted.mkString(", ")}")
    val offenders = SparkEntry.allDefs.filterNot(d => buildsWithJobs.contains(d.name)).flatMap { d =>
      val jobs = try jobsDuring(d.run(spark, sf)) finally Engine.clearSwapCaches(spark)
      if (jobs == 0) None else Some(s"${d.name}: $jobs")
    }
    assert(offenders.isEmpty, offenders.mkString("jobs while building:\n", "\n", ""))
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

  test("the multiset_dml statements through GraftSession.sql stay within their pinned job counts") {
    val s = spark.newSession()
    Engine.registerAll(s, sf)
    val gs = new GraftSession(s, tmp("graft_budget_dml_views_"), tmp("graft_budget_dml_ms_"))
    val cols = "l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, " +
      "l_returnflag, l_linestatus"
    // the counts measured at sf0.001; one more analysis, count or schema
    // inference on the DML path exceeds them
    val pinned = Seq(
      "CREATE MULTISET TABLE budget_dml (l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_returnflag TEXT, " +
        "l_linestatus TEXT)" -> 1,
      s"INSERT INTO budget_dml SELECT $cols FROM lineitem WHERE l_orderkey % 100 IN (3, 7)" -> 1,
      "DELETE FROM budget_dml WHERE l_orderkey % 100 = 3 AND l_quantity < 25" -> 2,
      "DROP TABLE IF EXISTS budget_dml" -> 0)
    val over = pinned.flatMap { case (stmt, budget) =>
      val jobs = jobsDuring(gs.sql(stmt))
      if (jobs <= budget) None else Some(s"$jobs jobs > $budget: $stmt")
    }
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("an IVF probe over an index already built plans with 0 jobs") {
    val idx = tmp("graft_budget_ivf_") + "/index"
    queries.Similarity.buildIvfIndex(spark, sf, idx)
    assert(jobsDuring(queries.Similarity.probeIvfIndex(spark, sf, idx)) == 0)
  }
}
