package graft.queries

import graft.{Engine, QueryDef, Timing}
import graft.ivm.IncrementalAggView
import graft.sources.{SegmentedIndex, StoredParquet}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** End-to-end incremental-view scenario, oracle-verified.
  *
  * Scenario (deterministic so DuckDB can recompute it from scratch):
  *   1. materialize orders-by-status (count, sum(totalprice));
  *   2. delta 1: retract every 'F' order with o_orderkey % 10 = 0;
  *   3. delta 2: insert copies of every 'O' order with o_orderkey % 7 = 0
  *      at double price.
  * The view is maintained incrementally (two applyDelta merges over
  * partial-aggregate state); the oracle recomputes the same multiset
  * from scratch with freq arithmetic. Hash-match ⟺ retraction and
  * merge semantics are exactly right.
  */
object Ivm {

  val refresh: QueryDef = QueryDef.sqlBacked(
    "ivm_refresh",
    """WITH changes AS (
      |  SELECT o_orderstatus, o_totalprice, 1 AS freq FROM orders
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice, -1 AS freq FROM orders
      |  WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice * 2, 1 AS freq FROM orders
      |  WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 0
      |)
      |SELECT o_orderstatus, CAST(sum(freq) AS BIGINT) AS cnt,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * freq) AS DOUBLE) AS sum_o_totalprice,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * freq) AS DOUBLE) / sum(freq) AS avg_o_totalprice
      |FROM changes GROUP BY o_orderstatus HAVING sum(freq) <> 0
      |ORDER BY o_orderstatus""".stripMargin
  ) { (spark, dir) =>
    val orders = Engine.table(spark, dir, "orders")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_ivm_").toString
    val view = new IncrementalAggView(
      spark, Seq("o_orderstatus"), Seq("o_totalprice"), statePath)
    view.initialize(orders.select(col("o_orderstatus"), col("o_totalprice")))

    val retractions = orders
      .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 0)
      .select(col("o_orderstatus"), col("o_totalprice"), lit(-1L).as(view.freqCol))
    view.applyDelta(retractions)

    val insertions = orders
      .filter(col("o_orderstatus") === "O" && col("o_orderkey") % 7 === 0)
      .select(col("o_orderstatus"), (col("o_totalprice") * 2).as("o_totalprice"),
        lit(1L).as(view.freqCol))
    view.applyDelta(insertions)

    // Exact decimal state, DOUBLE on the wire (see Tpch.discPrice note).
    view.current()
      .withColumn("sum_o_totalprice", col("sum_o_totalprice").cast(DoubleType))
      .orderBy(col("o_orderstatus"))
  }

  /** Retractable MIN/MAX view over the same deterministic change
    * scenario as [[refresh]] — the aggregate family the reference could
    * not retract (scalar partials can't uncover the next minimum); here
    * the state is the (key, value) freq-multiset, so retraction of an
    * extreme value exposes the next one. The oracle recomputes the
    * surviving multiset from scratch and takes min/max over freq > 0. */
  val extrema: QueryDef = QueryDef.sqlBacked(
    "ivm_extrema",
    """WITH changes AS (
      |  SELECT o_orderstatus, o_totalprice, 1 AS freq FROM orders
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice, -1 AS freq FROM orders
      |  WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice * 2, 1 AS freq FROM orders
      |  WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 0
      |),
      |ms AS (
      |  SELECT o_orderstatus, o_totalprice, sum(freq) AS f
      |  FROM changes GROUP BY o_orderstatus, o_totalprice
      |)
      |SELECT o_orderstatus,
      |  min(CASE WHEN f > 0 THEN o_totalprice END) AS min_o_totalprice,
      |  max(CASE WHEN f > 0 THEN o_totalprice END) AS max_o_totalprice
      |FROM ms GROUP BY o_orderstatus
      |HAVING sum(CASE WHEN f > 0 THEN 1 ELSE 0 END) > 0
      |ORDER BY o_orderstatus""".stripMargin
  ) { (spark, dir) =>
    val orders = Engine.table(spark, dir, "orders")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_ivm_ext_").resolve("state").toString
    val view = new graft.ivm.IncrementalExtremaView(
      spark, Seq("o_orderstatus"), "o_totalprice", statePath)
    view.initialize(orders.select(col("o_orderstatus"), col("o_totalprice")))

    view.applyDelta(orders
      .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 0)
      .select(col("o_orderstatus"), col("o_totalprice"), lit(-1L).as(view.freqCol)))

    view.applyDelta(orders
      .filter(col("o_orderstatus") === "O" && col("o_orderkey") % 7 === 0)
      .select(col("o_orderstatus"), (col("o_totalprice") * 2).as("o_totalprice"),
        lit(1L).as(view.freqCol)))

    view.current().orderBy(col("o_orderstatus"))
  }

  /** Retractable COUNT(DISTINCT) view over the same change scenario —
    * served from the same multiset state as [[extrema]] (a distinct
    * value counts while its merged freq is positive; retraction to zero
    * removes it). The oracle recomputes the surviving multiset from
    * scratch and counts distinct values with freq > 0. */
  val distinct: QueryDef = QueryDef.sqlBacked(
    "ivm_distinct",
    """WITH changes AS (
      |  SELECT o_orderstatus, o_totalprice, 1 AS freq FROM orders
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice, -1 AS freq FROM orders
      |  WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice * 2, 1 AS freq FROM orders
      |  WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 0
      |),
      |ms AS (
      |  SELECT o_orderstatus, o_totalprice, sum(freq) AS f
      |  FROM changes GROUP BY o_orderstatus, o_totalprice
      |)
      |SELECT o_orderstatus,
      |  CAST(count(CASE WHEN f > 0 THEN 1 END) AS BIGINT) AS n_distinct_o_totalprice
      |FROM ms GROUP BY o_orderstatus
      |HAVING count(CASE WHEN f > 0 THEN 1 END) > 0
      |ORDER BY o_orderstatus""".stripMargin
  ) { (spark, dir) =>
    val orders = Engine.table(spark, dir, "orders")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_ivm_dist_").resolve("state").toString
    val view = new graft.ivm.IncrementalExtremaView(
      spark, Seq("o_orderstatus"), "o_totalprice", statePath)
    view.initialize(orders.select(col("o_orderstatus"), col("o_totalprice")))

    view.applyDelta(orders
      .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 0)
      .select(col("o_orderstatus"), col("o_totalprice"), lit(-1L).as(view.freqCol)))

    view.applyDelta(orders
      .filter(col("o_orderstatus") === "O" && col("o_orderkey") % 7 === 0)
      .select(col("o_orderstatus"), (col("o_totalprice") * 2).as("o_totalprice"),
        lit(1L).as(view.freqCol)))

    view.distinctCounts().orderBy(col("o_orderstatus"))
  }

  /** Retractable TOP-K view over the same change scenario — the order
    * statistic the multiset state buys beyond min/max: retracting the
    * rank-1 value uncovers rank 2, with no rescan of the base table. The
    * oracle recomputes the surviving multiset from scratch and ranks the
    * freq-positive values per key. */
  val topk: QueryDef = QueryDef.sqlBacked(
    "ivm_topk",
    """WITH changes AS (
      |  SELECT o_orderstatus, o_totalprice, 1 AS freq FROM orders
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice, -1 AS freq FROM orders
      |  WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice * 2, 1 AS freq FROM orders
      |  WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 0
      |),
      |ms AS (
      |  SELECT o_orderstatus, o_totalprice, sum(freq) AS f
      |  FROM changes GROUP BY o_orderstatus, o_totalprice
      |)
      |SELECT o_orderstatus, o_totalprice, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT o_orderstatus, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice DESC) AS rnk
      |  FROM ms WHERE f > 0) t
      |WHERE rnk <= 3
      |ORDER BY o_orderstatus, rnk""".stripMargin
  ) { (spark, dir) =>
    val orders = Engine.table(spark, dir, "orders")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_ivm_topk_").resolve("state").toString
    val view = new graft.ivm.IncrementalExtremaView(
      spark, Seq("o_orderstatus"), "o_totalprice", statePath)
    view.initialize(orders.select(col("o_orderstatus"), col("o_totalprice")))

    view.applyDelta(orders
      .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 0)
      .select(col("o_orderstatus"), col("o_totalprice"), lit(-1L).as(view.freqCol)))

    view.applyDelta(orders
      .filter(col("o_orderstatus") === "O" && col("o_orderkey") % 7 === 0)
      .select(col("o_orderstatus"), (col("o_totalprice") * 2).as("o_totalprice"),
        lit(1L).as(view.freqCol)))

    view.topK(3).orderBy(col("o_orderstatus"), col("rnk"))
  }

  /** Incrementally maintained orders ⋈ customer view under the same
    * deterministic change scenario on the orders side plus a customer-side
    * insert wave (duplicate every c_custkey % 13 = 0 customer — the join
    * frequency for their orders becomes 2, exercising frequency
    * MULTIPLICATION, not just addition). Maintained via two delta-join
    * refreshes ([[graft.ivm.IncrementalJoinView]]); the oracle recomputes
    * the final freq-compacted join from scratch. */
  val join: QueryDef = QueryDef.sqlBacked(
    "ivm_join",
    """WITH a AS (
      |  SELECT o_custkey AS custkey, o_totalprice, 1 AS f FROM orders
      |  UNION ALL
      |  SELECT o_custkey, o_totalprice, -1 FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_custkey, o_totalprice * 2, 1 FROM orders WHERE o_orderkey % 7 = 0
      |),
      |am AS (
      |  SELECT custkey, o_totalprice, sum(f) AS f
      |  FROM a GROUP BY custkey, o_totalprice HAVING sum(f) <> 0
      |),
      |b AS (
      |  SELECT c_custkey AS custkey, c_mktsegment, 1 AS f FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, 1 FROM customer WHERE c_custkey % 13 = 0
      |),
      |bm AS (
      |  SELECT custkey, c_mktsegment, sum(f) AS f
      |  FROM b GROUP BY custkey, c_mktsegment HAVING sum(f) <> 0
      |)
      |SELECT am.custkey, CAST(am.o_totalprice AS DOUBLE) AS o_totalprice,
      |  bm.c_mktsegment, CAST(am.f * bm.f AS BIGINT) AS freq
      |FROM am JOIN bm ON am.custkey = bm.custkey
      |ORDER BY am.custkey, o_totalprice, c_mktsegment""".stripMargin
  ) { (spark, dir) =>
    val orders = Engine.table(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val customer = Engine.table(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_ivm_join_").resolve("state").toString
    val view = new graft.ivm.IncrementalJoinView(spark, Seq("custkey"), statePath)
    view.initialize(orders, customer)

    val ordersRaw = Engine.table(spark, dir, "orders")
    view.applyDelta(
      Some(ordersRaw.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"),
          lit(-1L).as(view.freqCol))),
      None)
    view.applyDelta(
      Some(ordersRaw.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey").as("custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"), lit(1L).as(view.freqCol))),
      Some(Engine.table(spark, dir, "customer")
        .filter(col("c_custkey") % 13 === 0)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"),
          lit(1L).as(view.freqCol))))

    view.current()
      .select(col("custkey"), col("o_totalprice").cast(DoubleType).as("o_totalprice"),
        col("c_mktsegment"), col(view.freqCol).as("freq"))
      .orderBy(col("custkey"), col("o_totalprice"), col("c_mktsegment"))
  }

  /** Composed IVM pipeline: an aggregate view (revenue by market segment)
    * maintained from the JOIN view's own delta stream — ΔV of
    * orders ⋈ customer feeds an [[IncrementalAggView]] keyed on
    * c_mktsegment. This is the uniform freq-delta contract paying off:
    * the agg view never sees the base tables, only the join view's
    * compacted change sets, so a chained refresh costs
    * |Δjoin| + |agg state| regardless of base size. Same change scenario
    * as [[join]]; the oracle recomputes the final segment totals from
    * scratch with freq-product weights. */
  val pipeline: QueryDef = QueryDef.sqlBacked(
    "ivm_pipeline",
    """WITH a AS (
      |  SELECT o_custkey AS custkey, o_totalprice, 1 AS f FROM orders
      |  UNION ALL
      |  SELECT o_custkey, o_totalprice, -1 FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_custkey, o_totalprice * 2, 1 FROM orders WHERE o_orderkey % 7 = 0
      |),
      |am AS (
      |  SELECT custkey, o_totalprice, sum(f) AS f
      |  FROM a GROUP BY custkey, o_totalprice HAVING sum(f) <> 0
      |),
      |b AS (
      |  SELECT c_custkey AS custkey, c_mktsegment, 1 AS f FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, 1 FROM customer WHERE c_custkey % 13 = 0
      |),
      |bm AS (
      |  SELECT custkey, c_mktsegment, sum(f) AS f
      |  FROM b GROUP BY custkey, c_mktsegment HAVING sum(f) <> 0
      |)
      |SELECT bm.c_mktsegment, CAST(sum(am.f * bm.f) AS BIGINT) AS cnt,
      |  CAST(sum(CAST(am.o_totalprice AS DECIMAL(18,2)) * am.f * bm.f) AS DOUBLE)
      |    AS sum_o_totalprice
      |FROM am JOIN bm ON am.custkey = bm.custkey
      |GROUP BY bm.c_mktsegment HAVING sum(am.f * bm.f) <> 0
      |ORDER BY bm.c_mktsegment""".stripMargin
  ) { (spark, dir) =>
    val orders = Engine.table(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val customer = Engine.table(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val base = java.nio.file.Files.createTempDirectory("graft_ivm_pipe_")
    val joinView = new graft.ivm.IncrementalJoinView(
      spark, Seq("custkey"), base.resolve("join").toString)
    joinView.initialize(orders, customer)

    val aggView = new IncrementalAggView(
      spark, Seq("c_mktsegment"), Seq("o_totalprice"),
      base.resolve("agg").toString)
    aggView.initialize(joinView.current()
      .select(col("c_mktsegment"), col("o_totalprice"),
        col(joinView.freqCol)))

    val ordersRaw = Engine.table(spark, dir, "orders")
    val d1 = joinView.applyDelta(
      Some(ordersRaw.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"),
          lit(-1L).as(joinView.freqCol))),
      None)
    aggView.applyDelta(d1.select(
      col("c_mktsegment"), col("o_totalprice"), col(joinView.freqCol)))

    val d2 = joinView.applyDelta(
      Some(ordersRaw.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey").as("custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"), lit(1L).as(joinView.freqCol))),
      Some(Engine.table(spark, dir, "customer")
        .filter(col("c_custkey") % 13 === 0)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"),
          lit(1L).as(joinView.freqCol))))
    aggView.applyDelta(d2.select(
      col("c_mktsegment"), col("o_totalprice"), col(joinView.freqCol)))

    aggView.current()
      .select(col("c_mktsegment"), col("cnt"),
        col("sum_o_totalprice").cast(DoubleType).as("sum_o_totalprice"))
      .orderBy(col("c_mktsegment"))
  }

  /** Incremental maintenance of the INVERTED-INDEX statistics — the
    * reference's retractable-aggregate identity applied to the text
    * domain the pipeline operators live in. The view key is the token,
    * the state one row per token: `cnt` = Σfreq over posting rows (each
    * document contributes one posting per distinct token, so this IS the
    * document frequency) and `sum_tf` = Σ tf·freq (the corpus term
    * frequency). Document DELETION is a freq −1 over the doc's postings —
    * df and cnt step down exactly, and a token whose last document leaves
    * vanishes from the view (full retraction, the thing a count-only
    * index cannot do); re-ingestion is freq +1. Every refresh shuffles
    * |vocabulary ∪ delta-partials| rows, never the corpus — the same
    * O(|delta|+|state|) bound `ivm_delta_refresh` measures.
    *
    * Scenario (deterministic, recomputable from scratch by the oracle):
    * initialize from all documents; delta 1 retracts every doc_id % 13 = 0
    * document; delta 2 re-ingests every doc_id % 17 = 0 document's
    * postings (doc 0 is in both — net one copy). Output: top-100 tokens
    * of the maintained view. */
  val postings: QueryDef = QueryDef.sqlBacked(
    "ivm_postings",
    """WITH dt AS (
      |  SELECT doc_id, token, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
      |    FROM documents) t
      |  GROUP BY doc_id, token),
      |changes AS (
      |  SELECT token, tf, 1 AS freq FROM dt
      |  UNION ALL
      |  SELECT token, tf, -1 AS freq FROM dt WHERE doc_id % 13 = 0
      |  UNION ALL
      |  SELECT token, tf, 1 AS freq FROM dt WHERE doc_id % 17 = 0)
      |SELECT token, CAST(sum(freq) AS BIGINT) AS df,
      |  CAST(sum(tf * freq) AS BIGINT) AS cnt
      |FROM changes GROUP BY token HAVING sum(freq) <> 0
      |ORDER BY cnt DESC, token LIMIT 100""".stripMargin
  ) { (spark, dir) =>
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    TextAnalysis.tokenPostings(spark, "documents")
    val dt = spark.table("tok_tf")
    val statePath = Engine.scratchDir("graft_ivm_post_")
    val view = new IncrementalAggView(spark, Seq("token"), Seq("tf"), statePath)
    view.initialize(dt.select(col("token"), col("tf")))
    view.applyDelta(dt.filter(col("doc_id") % 13 === 0)
      .select(col("token"), col("tf"), lit(-1L).as(view.freqCol)))
    view.applyDelta(dt.filter(col("doc_id") % 17 === 0)
      .select(col("token"), col("tf"), lit(1L).as(view.freqCol)))
    view.current()
      .select(col("token"), col("cnt").cast(LongType).as("df"),
        col("sum_tf").cast(LongType).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(100)
  }

  /** The retract→retrieve loop closed (VERDICT r12 #3): the retractable
    * posting state feeds BM25 scoring directly, so "delete documents,
    * refresh the index incrementally, probe" provably equals a one-shot
    * BM25 over the edited corpus — the reference's never-finished IVM
    * promise applied to the repo's flagship retrieval operator.
    *
    * State: an [[graft.ivm.IncrementalAggView]] keyed by (doc_id, token)
    * over the BIGRAM postings (the non-vacuous spelling — every query
    * bigram carries positive idf on the driver corpus). Deleting the
    * doc_id % 13 slice is ONE freq −1 delta over those docs' postings,
    * and the refresh never re-tokenizes the corpus — at sf100 the corpus
    * pass (the 26.7 s tokenize+aggregate) is exactly what it skips. BUT
    * the state it merges into is CORPUS-POSTING-sized, not
    * vocabulary-sized, and applyDelta rewrites the full snapshot, so the
    * refresh is O(|posting state|): at sf1 its own bench cell measures
    * refresh 1.79 s ≈ init 1.83 s (VERDICT r13 #1). This key stays as
    * the agg-view demonstration of exact posting retraction (cnt 0 rows
    * vanish, so the view IS the edited corpus's posting relation — dl,
    * N, avgdl, df, and the scores all re-derive from it and
    * [[TextAnalysis.bm25Sql]] runs verbatim); the O(|delta|) edit
    * economics live in its LSM successor [[bm25Lsm]], which never
    * rewrites the stored posting base. The oracle recomputes BM25 from
    * scratch in DuckDB over `documents WHERE doc_id % 13 <> 0`; hash
    * equality of the two rankings is the whole claim. (Queries are the
    * live docs < 8; doc 0 is itself deleted, so 7 queries survive —
    * also pinned.) */
  /** The ivm_bm25 loop with a per-phase timer hook (identity by default
    * — the census key IS this function; Bench passes a real timer so the
    * committed `ivm_bm25_refresh_sf1` section times the same code the
    * oracle gates, not a re-implementation). Phases: `init` = posting
    * state built from the corpus (paid once, the corpus pass);
    * `refresh` = the retract delta merged into state (|state ∪ delta|
    * rows, no re-tokenization — the cost an edit actually pays). The
    * returned probe plan is lazy; callers time its materialization. */
  def bm25RetractRun(spark: SparkSession, dir: String,
      timer: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    TextAnalysis.bigramPostings(spark, "documents")
    val dt = spark.table("btok_tf")
    val statePath = Engine.scratchDir("graft_ivm_bm25_")
    val view = new IncrementalAggView(spark, Seq("doc_id", "token"), Seq("tf"), statePath)
    Timing.timed(timer, "init") {
      view.initialize(dt.select(col("doc_id"), col("token"), col("tf")))
    }
    Timing.timed(timer, "refresh") {
      view.applyDelta(dt.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("token"), col("tf"), lit(-1L).as(view.freqCol)))
    }
    view.current()
      .select(col("doc_id"), col("token"), col("sum_tf").cast(LongType).as("tf"))
      .createOrReplaceTempView("ivm_bm25_post")
    spark.sql(TextAnalysis.bm25Sql(
      "SELECT DISTINCT doc_id AS query_id, token FROM ivm_bm25_post WHERE doc_id < 8",
      10, postRel = "ivm_bm25_post",
      dlRel = "SELECT doc_id, sum(tf) AS dl FROM ivm_bm25_post GROUP BY doc_id"))
  }

  val bm25Retract: QueryDef = QueryDef.sqlBacked(
    "ivm_bm25",
    TextAnalysis.bm25OracleOver(
      TextAnalysis.bigramDtDuck("(SELECT * FROM documents WHERE doc_id % 13 <> 0)"))
  )(bm25RetractRun(_, _))

  /** Retractable CLASSIFIER statistics — the retract→retrieve loop
    * (`ivm_bm25`) applied to the trained-model axis: the NB model is two
    * retractable aggregates (per-(token, class) term counts + per-class
    * document counts), so un-labeling / re-labeling documents is a freq
    * delta, the refresh shuffles |vocabulary ∪ delta-partials| rows
    * (never the corpus), and scoring from the maintained state provably
    * equals one-shot training on the edited slice — which is exactly
    * what the DuckDB oracle recomputes from scratch.
    *
    * Scenario: initialize from the labeled slice (the even docs);
    * retract every doc_id % 13 = 0 labeled doc (a labeling-audit
    * withdrawal); re-ingest the % 4 = 0 half of the retracted docs (the
    * audit cleared them). Net slice:
    * `doc_id % 2 = 0 AND (doc_id % 13 <> 0 OR doc_id % 4 = 0)`.
    * Both the model view and the prior view step exactly; a (token, pos)
    * cell whose last document leaves vanishes (full retraction), so the
    * smoothed vocabulary size v shrinks with it — the oracle's from-
    * scratch recompute only matches if retraction is exact in BOTH
    * aggregates. */
  private val nbEdit = " AND (doc_id % 13 <> 0 OR doc_id % 4 = 0)"

  val nbRetract: QueryDef = QueryDef.sqlBacked(
    "ivm_nb",
    Classify.classifyOracleEdited(nbEdit)
  ) { (spark, dir) =>
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    TextAnalysis.tokenPostings(spark, "documents")
    val trp = spark.sql(Classify.sparkTrainPostingsWithDoc())
    val trd = spark.sql(Classify.sparkTrainDocs())
    val retractP = trp.filter(col("doc_id") % 13 === 0)
    val retractD = trd.filter(col("doc_id") % 13 === 0)

    val model = new IncrementalAggView(spark, Seq("token", "pos"), Seq("tf"),
      Engine.scratchDir("graft_ivm_nb_m_"))
    model.initialize(trp.select(col("token"), col("pos"), col("tf")))
    model.applyDelta(retractP.select(col("token"), col("pos"), col("tf"),
      lit(-1L).as(model.freqCol)))
    model.applyDelta(retractP.filter(col("doc_id") % 4 === 0)
      .select(col("token"), col("pos"), col("tf"), lit(1L).as(model.freqCol)))
    model.current()
      .select(col("token"), col("pos"), col("sum_tf").cast(LongType).as("tf"))
      .createOrReplaceTempView("ivm_nb_model")

    val prior = new IncrementalAggView(spark, Seq("pos"), Seq.empty,
      Engine.scratchDir("graft_ivm_nb_p_"))
    prior.initialize(trd.select(col("pos")))
    prior.applyDelta(retractD.select(col("pos"), lit(-1L).as(prior.freqCol)))
    prior.applyDelta(retractD.filter(col("doc_id") % 4 === 0)
      .select(col("pos"), lit(1L).as(prior.freqCol)))
    prior.current()
      .select(col("pos"), col("cnt").cast(LongType).as("cnt"))
      .createOrReplaceTempView("ivm_nb_prior")

    spark.sql(Classify.nbScoreSql(
      "SELECT token, pos, tf FROM ivm_nb_model",
      """SELECT sum(CASE WHEN pos = 1 THEN cnt ELSE 0 END) AS n1,
        |       sum(CASE WHEN pos = 0 THEN cnt ELSE 0 END) AS n0
        |FROM ivm_nb_prior""".stripMargin,
      Classify.sparkScoreBody, Classify.flog2Spark))
  }

  /** Retractable LANGUAGE-MODEL statistics — `ivm_nb`'s loop applied to
    * the fifth axis, the trigram backoff LM (`pipeline_lm_ppl`): the
    * model is three freq-retractable count views (unigram / bigram /
    * trigram corpus counts over the train half), each keyed by its
    * n-gram string, so un-training documents is a freq delta and a
    * refresh shuffles |n-gram vocabulary ∪ delta partials| rows — never
    * the corpus. Scoring the held-out half from the maintained views
    * provably equals one-shot training on the edited slice, which is
    * what the oracle recomputes from scratch. Full retraction matters
    * three ways at once here: a trigram whose last train doc leaves
    * must VANISH from c3 (or the backoff arm selection itself — not
    * just a count — goes wrong: a dead trigram row would keep arm 1
    * alive where the edited model must back off to arm 2), same for
    * bigrams, and c1's row count IS the smoothing vocabulary V, so the
    * Laplace denominator must shrink with the edit.
    *
    * Scenario: the `ivm_nb` audit-withdrawal slice — initialize from
    * the even (train) half, retract doc_id % 13 = 0, re-ingest the
    * % 4 = 0 half of the retracted docs. */
  val lmRetract: QueryDef = QueryDef.sqlBacked(
    "ivm_lm",
    Curate.lmPplOracleOver("doc_id % 2 = 0 AND (doc_id % 13 <> 0 OR doc_id % 4 = 0)")
  ) { (spark, dir) =>
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    TextAnalysis.tokenPostings(spark, "documents")
    TextAnalysis.bigramPostings(spark, "documents")
    TextAnalysis.trigramPostings(spark, "documents")
    def countView(srcView: String, name: String): String = {
      val base = spark.table(srcView)
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("token"), col("tf"))
      val v = new IncrementalAggView(spark, Seq("token"), Seq("tf"),
        Engine.scratchDir(s"graft_ivm_lm_${name}_"))
      v.initialize(base.select(col("token"), col("tf")))
      val retract = base.filter(col("doc_id") % 13 === 0)
      v.applyDelta(retract.select(col("token"), col("tf"),
        lit(-1L).as(v.freqCol)))
      v.applyDelta(retract.filter(col("doc_id") % 4 === 0)
        .select(col("token"), col("tf"), lit(1L).as(v.freqCol)))
      v.current()
        .select(col("token"), col("sum_tf").cast(LongType).as("c"))
        .createOrReplaceTempView(s"ivm_lm_$name")
      s"SELECT token, c FROM ivm_lm_$name"
    }
    spark.sql(Curate.lmPplScoreSparkSql(
      countView("tok_tf", "c1"),
      countView("btok_tf", "c2"),
      countView("ttok_tf", "c3")))
  }

  /** Retractable ANN index — the retract→retrieve loop (`ivm_bm25`,
    * `ivm_nb`) applied to the vector axis. Unlike `ivm_nb`, whose
    * maintained state is vocabulary-sized (so a refresh may rewrite the
    * whole — small — state), the ANN index's state is CORPUS-sized
    * (~600 B/vector: floats + int8 codes + JL projection), so an honest
    * refresh must not rewrite it. Maintenance is a
    * [[graft.sources.SegmentedIndex]]: deletes land as a tombstone
    * relation of cand_ids, re-ingests as a delta segment written with the
    * index's own schema and cell layout, and the live index is composed
    * at probe time — the delta segment unions under the same cell
    * partitioning, and the base segment's files are NEVER rewritten
    * (IvmSpec pins byte-identical base files across the edit — the
    * O(|delta|) law the reference's freq-retraction storage aims at,
    * `storage/table.rs:309-347`).
    * Scenario: retract vec_id % 13 = 0 (an embedding-audit withdrawal),
    * re-ingest the % 26 = 0 half (the audit cleared them). The probe
    * over the composed index must equal a one-shot SQ8-IVF probe over
    * the edited corpus — exactly what the DuckDB oracle recomputes from
    * scratch, and what IvmSpec replays in-engine against an index built
    * directly from the edited slice. Slice constraint (ADVICE r13): the
    * oracle draws its queries from the edited corpus while the engine
    * probes with the full table's vec_id < 8, so the edit MUST keep ids
    * 0–7 alive — here 0 is retracted but re-added via % 26, 1–7 are
    * untouched; any future slice must preserve that property (see
    * [[Similarity.ivfSq8OracleOver]]). */
  def annRetractBuild(spark: SparkSession, dir: String,
      timer: (String, Double) => Unit = (_, _) => (),
      root: String = Engine.scratchDir("graft_ivm_ann_")): SegmentedIndex.State =
    SegmentedIndex.build(spark, root, timer, "build")(
      Similarity.writeIvfSq8Index(spark, dir, _),
      // writeIvfSq8Index registered the `embeddings` view
      "SELECT vec_id AS cand_id FROM embeddings WHERE vec_id % 13 = 0",
      Similarity.writeIvfSq8Index(spark, dir, _, slice = "vec_id % 26 = 0"))

  def annRetractProbe(spark: SparkSession, dir: String,
      st: SegmentedIndex.State): DataFrame = {
    SegmentedIndex.liveTable(spark, st, "", "cand_id").createOrReplaceTempView("sq8_index")
    Similarity.probeSq8View(spark, dir)
  }

  /** Compaction on the vector axis: the live index becomes a NEW
    * immutable base segment under the index's own cell layout. The
    * `ivm_compact_sf1` bench cell prices it against the one-shot rebuild
    * it replaces. */
  def annCompact(spark: SparkSession, st: SegmentedIndex.State,
      root: String = Engine.scratchDir("graft_ivm_ann_c_")): SegmentedIndex.State =
    SegmentedIndex.compact(spark, root, "cand_id", "") { nu =>
      SegmentedIndex.liveTable(spark, st, "", "cand_id").write.partitionBy("cell").parquet(nu.base)
    }

  /** The vector axis's signed-edit stream fold: re-ingests land through
    * the index's own writer, so delta segments keep the cell layout. */
  def annMaintain(edits: DataFrame, dir: String, st: SegmentedIndex.State): StreamingQuery =
    SegmentedIndex.maintain(edits, st, "vec_id", "cand_id")((s, pred) =>
      Similarity.writeIvfSq8Index(s, dir, st.delta, mode = "append", slice = pred))

  val annRetract: QueryDef = QueryDef.sqlBacked(
    "ivm_ann",
    Similarity.ivfSq8OracleOver(
      "(SELECT * FROM embeddings WHERE vec_id % 13 <> 0 OR vec_id % 26 = 0)")
  )((s, d) => annRetractProbe(s, d, annRetractBuild(s, d)))

  /** Retractable minhash-band dedup index — the same LSM shape on the
    * dedup axis, which closes the retract→serve loop across all four
    * index families (postings/BM25, classifier, ANN, dedup). The twist
    * the band index adds: its banded representatives are per exact-dup
    * GROUP (one rep per fp), so deleting the rep document must not
    * orphan the group's surviving members. Same-fp documents carry
    * IDENTICAL text, hence identical shingles, minhash, and bands — a
    * deleted rep's stored bands remain a valid banded signature for the
    * whole group, so:
    *   - tombstones filter the GROUP map (live membership, O(|deletes|));
    *   - the stored band relation is never touched — bands of
    *     fully-dead groups still produce candidates, which expand to
    *     zero rows through the live group map (dead weight a compaction
    *     GCs, never a wrong pair);
    *   - re-ingests land as a delta segment via writeBandIndex's own
    *     append contract (per-batch reps; the probe's DISTINCT fp-pair
    *     collapse already makes append ≡ rebuild).
    * Scenario: retract the EVEN index docs, re-ingest the % 4 = 0 half
    * (the ivm_nb slice — chosen so BOTH arms are differential at the
    * sf0.01 gate, not for realism; the near-dup pair (290, 98) exists
    * only while the tombstone filter is broken, and the pairs
    * (120, 332) / (450, 92) exist only while the delta union works —
    * a silently dead retraction OR a silently dropped delta flips the
    * hash). The probe must equal one against an index built directly
    * from the edited side — which is what the DuckDB oracle recomputes
    * from scratch, delta × edited-index exact Jaccard. */
  def dedupRetractBuild(spark: SparkSession, dir: String,
      timer: (String, Double) => Unit = (_, _) => (),
      root: String = Engine.scratchDir("graft_ivm_dedup_")): SegmentedIndex.State =
    SegmentedIndex.build(spark, root, timer, "build")(
      Dedup.writeBandIndex(spark, dir, _),
      // dedup_sh registered by writeBandIndex's cachedShingles above
      "SELECT doc_id FROM dedup_sh WHERE doc_id % 10 <> 0 AND doc_id % 2 = 0",
      Dedup.writeBandIndex(spark, dir, _, pred = "doc_id % 4 = 0"))

  /** Probe over the live group map (a doc streamed into several delta
    * segments owns ONE live membership row — duplicates would double
    * same-fp pairs) and every stored band. */
  def dedupRetractProbe(spark: SparkSession, dir: String,
      st: SegmentedIndex.State): DataFrame = {
    SegmentedIndex.liveTable(spark, st, "/groups", "doc_id")
      .createOrReplaceTempView("bidx_groups")
    SegmentedIndex.allSegments(spark, st, "/bands").createOrReplaceTempView("bidx_bands")
    Dedup.probeBandViews(spark, dir)
  }

  /** Compaction on the dedup axis — same law as [[annCompact]], plus the
    * GC this index actually needs: a band row is keyed by its segment's
    * REP doc, which may itself be tombstoned while its exact-dup group
    * lives (its bands stay a valid banded signature for the survivors),
    * so band liveness is per FP, not per doc. The new base keeps a band
    * iff its rep's fp still has a live member — dead groups' orphan
    * bands, the "dead weight" the composed probe expands to zero rows,
    * are dropped here. rep → fp resolves through the PRE-tombstone group
    * maps (a rep is a member of its own segment's map by construction). */
  def dedupCompact(spark: SparkSession, st: SegmentedIndex.State,
      root: String = Engine.scratchDir("graft_ivm_dedup_c_")): SegmentedIndex.State =
    SegmentedIndex.compact(spark, root, "doc_id", "/groups", "/bands") { nu =>
      SegmentedIndex.liveTable(spark, st, "/groups", "doc_id")
        .write.parquet(s"${nu.base}/groups")
      SegmentedIndex.allSegments(spark, st, "/bands").distinct()
        .join(SegmentedIndex.allSegments(spark, st, "/groups").distinct(), Seq("doc_id"))
        .join(spark.read.parquet(s"${nu.base}/groups").select("fp").distinct(),
          Seq("fp"), "left_semi")
        .select("doc_id", "band_idx", "band_sig")
        .write.parquet(s"${nu.base}/bands")
    }

  /** The dedup axis's signed-edit stream fold: deletes tombstone the
    * GROUP map; re-ingests land as appended band/group delta segments via
    * writeBandIndex's own per-batch-rep append contract (the probe's
    * DISTINCT fp-pair collapse plus the live map's dedup make replay and
    * multi-append idempotent). */
  def dedupMaintain(edits: DataFrame, dir: String, st: SegmentedIndex.State): StreamingQuery =
    SegmentedIndex.maintain(edits, st, "doc_id", "doc_id")((s, pred) =>
      Dedup.writeBandIndex(s, dir, st.delta, mode = "append", pred = pred))

  val dedupRetract: QueryDef = QueryDef.sqlBacked(
    "ivm_dedup",
    Dedup.incrementalOracleOver(
      "i.doc_id % 10 <> 0 AND (i.doc_id % 2 <> 0 OR i.doc_id % 4 = 0)")
  )((s, d) => dedupRetractProbe(s, d, dedupRetractBuild(s, d)))

  /** LSM-shaped retractable BM25 index (VERDICT r13 #1) — the text
    * axis's O(|delta|) edit economics, closing the gap [[bm25Retract]]'s
    * agg-view spelling leaves: that view keys on (doc_id, token), so
    * every applyDelta rewrites the corpus-sized posting snapshot (its
    * bench cell shows refresh ≈ init at sf1). Here the STORED
    * token-sorted posting index ([[TextAnalysis.writeBm25Index]]) is the
    * immutable base segment:
    *   - deletes land as a tombstone relation of doc_ids — O(|deletes|);
    *   - re-ingests tokenize ONLY their slice into a delta segment under
    *     the same token sort ([[TextAnalysis.writeBm25IndexSlice]]) —
    *     O(|adds|);
    *   - the live posting relation is composed at probe time
    *     ([[graft.sources.SegmentedIndex.live]]); doclen composes
    *     identically, and N/avgdl/df re-derive from the composed
    *     relations, so [[TextAnalysis.bm25Sql]] runs verbatim.
    * The base segment's files are never rewritten (IvmSpec pins the
    * inventory captured when the init phase completes), so an edit costs
    * the tombstone write plus |delta|'s tokenization — the
    * `ivm_bm25_lsm_refresh_sf1` bench cell measures retract+append ≪
    * init. Scenario: retract doc_id % 13 = 0, re-ingest the % 26 = 0
    * half; the probe must equal one-shot bigram BM25 over the edited
    * corpus — what the DuckDB oracle recomputes from scratch. (Query
    * docs < 8 must survive the edit for engine and oracle to agree on
    * the query set — doc 0 is retracted AND re-added, so all 8 do.) */
  def bm25LsmBuild(spark: SparkSession, dir: String,
      timer: (String, Double) => Unit = (_, _) => (),
      root: String = Engine.scratchDir("graft_ivm_bm25lsm_")): SegmentedIndex.State = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    SegmentedIndex.build(spark, root, timer, "init")(
      TextAnalysis.writeBm25Index(spark, dir, _),
      "SELECT doc_id FROM documents WHERE doc_id % 13 = 0",
      TextAnalysis.writeBm25IndexSlice(spark, dir, _, pred = "doc_id % 26 = 0"))
  }

  /** The live postings, keyed (doc_id, token): a doc streamed into
    * several delta segments must not double its postings' tf into the
    * scores. */
  private def bm25LivePostings(spark: SparkSession, st: SegmentedIndex.State): DataFrame =
    SegmentedIndex.liveTable(spark, st, "/postings", "doc_id", "token")

  /** Probe the composed text index. The probe PRUNES the live postings
    * to the query batch's vocabulary (the same bounded-collect →
    * pushed-filter shape as [[TextAnalysis.probeBm25Index]]; the token
    * predicate pushes through the composition into both posting segment
    * scans, riding the token sort's row-group pruning): the first cut
    * composed the full corpus-sized posting union and ran bm25Sql over
    * it — at the 1000× tier (5 M docs) that plan built corpus-sized hash
    * maps from a statistics-less union and died of executor memory, a
    * measured scale-killer. After pruning, everything downstream of the
    * anti-joins is proportional to the query tokens' postings; the one
    * corpus-sized input left is the composed doclen relation, which
    * feeds a 2-column aggregate (N, avgdl) and the per-candidate length
    * join — the same inputs the stored-index probe handles at 5 M docs.
    * df still comes exactly from the pruned slice (count over the live
    * postings per token). */
  def bm25LsmProbe(spark: SparkSession, dir: String,
      st: SegmentedIndex.State, k: Int = 10): DataFrame = {
    val post = bm25LivePostings(spark, st)
    // query tokens = the LIVE postings of the census query docs; the
    // doc_id predicate pushes through the union into both segment scans
    post.filter(col("doc_id") < 8).createOrReplaceTempView("ivm_bm25_lsm_qt")
    // bounded collect: the query batch's vocabulary (8 docs' bigrams —
    // the same bounded class as probeBm25Index's pushed filter)
    val toks = spark.sql("SELECT DISTINCT token FROM ivm_bm25_lsm_qt")
      .collect().map(_.getString(0))
    if (toks.isEmpty)
      return spark.sql(
        """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS cand_id,
          |  CAST(NULL AS BIGINT) AS score, CAST(NULL AS INT) AS rnk WHERE false""".stripMargin)
    // same 4096 In-list cap as probeBm25Index (ADVICE r12): a bigger
    // batch degrades to a broadcast left-semi join — still one scan
    val pruned =
      if (toks.length > 4096) post.join(broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(
          toks.toIndexedSeq.map(org.apache.spark.sql.Row(_)), 1),
        new org.apache.spark.sql.types.StructType()
          .add("token", org.apache.spark.sql.types.StringType, nullable = false))),
        Seq("token"), "left_semi")
      else post.filter(col("token").isin(toks.toIndexedSeq: _*))
    pruned.createOrReplaceTempView("ivm_bm25_lsm_post")
    SegmentedIndex.liveTable(spark, st, "/doclen", "doc_id")
      .createOrReplaceTempView("ivm_bm25_lsm_dl")
    spark.sql(TextAnalysis.bm25Sql(
      "SELECT DISTINCT doc_id AS query_id, token FROM ivm_bm25_lsm_qt",
      k, postRel = "ivm_bm25_lsm_post",
      dlRel = "SELECT doc_id, dl FROM ivm_bm25_lsm_dl"))
  }

  /** Compaction on the text axis — same law as [[annCompact]]: fold the
    * live posting and doclen relations into a new immutable base (under
    * the same token sort, so probe-side row-group pruning survives the
    * fold). */
  def bm25LsmCompact(spark: SparkSession, st: SegmentedIndex.State,
      root: String = Engine.scratchDir("graft_ivm_bm25lsm_c_")): SegmentedIndex.State =
    SegmentedIndex.compact(spark, root, "doc_id", "/postings", "/doclen") { nu =>
      bm25LivePostings(spark, st)
        .repartition(col("token")).sortWithinPartitions("token")
        .write.parquet(s"${nu.base}/postings")
      SegmentedIndex.liveTable(spark, st, "/doclen", "doc_id")
        .write.parquet(s"${nu.base}/doclen")
    }

  /** The text axis's signed-edit stream fold: re-ingests tokenize ONLY
    * the batch's docs into an appended delta posting segment (same token
    * sort, so probe-side row-group pruning covers every segment). */
  def bm25LsmMaintain(edits: DataFrame, dir: String, st: SegmentedIndex.State): StreamingQuery =
    SegmentedIndex.maintain(edits, st, "doc_id", "doc_id")((s, pred) =>
      TextAnalysis.writeBm25IndexSlice(s, dir, st.delta, pred = pred, mode = "append"))

  val bm25Lsm: QueryDef = QueryDef.sqlBacked(
    "ivm_bm25_lsm",
    TextAnalysis.bm25OracleOver(TextAnalysis.bigramDtDuck(
      "(SELECT * FROM documents WHERE doc_id % 13 <> 0 OR doc_id % 26 = 0)"))
  )((s, d) => bm25LsmProbe(s, d, bm25LsmBuild(s, d)))

  /** The ANN retract loop maintained by a STREAM of signed edits
    * (VERDICT r13 #4): the same (retract % 13, re-ingest % 26) scenario
    * as `ivm_ann`, but the edits arrive as micro-batches of (vec_id,
    * freq ±1) rows that [[annMaintain]] folds into tombstone appends and
    * delta segments via foreachBatch — the production serving loop for
    * the LSM indexes, probed live between batches (the probe's
    * segment-tolerant reads and delta-wins rule make it correct at every
    * stream point). Same edited-corpus oracle as `ivm_ann`:
    * stream-of-edits ≡ batch edit ≡ one-shot rebuild. */
  val annStream: QueryDef = QueryDef.sqlBacked(
    "ivm_ann_stream",
    Similarity.ivfSq8OracleOver(
      "(SELECT * FROM embeddings WHERE vec_id % 13 <> 0 OR vec_id % 26 = 0)")
  ) { (spark, dir) =>
    val st = SegmentedIndex.State.under(Engine.scratchDir("graft_ivm_annstr_"))
    Similarity.writeIvfSq8Index(spark, dir, st.base) // registers `embeddings`
    drain(spark, signedEdits(spark, "vec_id",
      "FROM embeddings WHERE vec_id % 13 = 0",
      "FROM embeddings WHERE vec_id % 26 = 0"), annMaintain(_, dir, st))
    annRetractProbe(spark, dir, st)
  }

  /** The signed-edit batches of a census stream key: (idCol, freq −1)
    * rows `FROM` the delete slice, then (idCol, +1) rows from the
    * re-ingest slice. */
  private def signedEdits(spark: SparkSession, idCol: String, delFrom: String,
      addFrom: String): Seq[DataFrame] =
    Seq(-1 -> delFrom, 1 -> addFrom).map { case (f, from) =>
      spark.sql(s"SELECT CAST($idCol AS BIGINT) AS $idCol, CAST($f AS BIGINT) AS freq $from")
    }

  /** Land `batches` as parquet under one scratch directory and drain
    * them through the streaming query `start` builds over it — the edit
    * feed of every census stream key. */
  private def drain(spark: SparkSession, batches: Seq[DataFrame],
      start: DataFrame => StreamingQuery): Unit = {
    val dir = Engine.scratchDir("graft_ivm_edits_")
    batches.zipWithIndex.foreach { case (b, i) => b.write.parquet(s"$dir/b$i") }
    val q = start(spark.readStream.schema(StoredParquet.schema(spark, s"$dir/b0"))
      .option("recursiveFileLookup", "true").parquet(dir))
    try q.processAllAvailable() finally q.stop()
  }

  /** The text axis's LSM state maintained by the SAME signed-edit stream
    * shape as `ivm_ann_stream` — deletes tombstone, re-ingests tokenize
    * only their micro-batch into appended delta segments; same
    * edited-corpus oracle as `ivm_bm25_lsm`. */
  val bm25Stream: QueryDef = QueryDef.sqlBacked(
    "ivm_bm25_stream",
    TextAnalysis.bm25OracleOver(TextAnalysis.bigramDtDuck(
      "(SELECT * FROM documents WHERE doc_id % 13 <> 0 OR doc_id % 26 = 0)"))
  ) { (spark, dir) =>
    val st = SegmentedIndex.State.under(Engine.scratchDir("graft_ivm_bm25str_"))
    TextAnalysis.writeBm25Index(spark, dir, st.base) // registers `documents`
    drain(spark, signedEdits(spark, "doc_id",
      "FROM documents WHERE doc_id % 13 = 0",
      "FROM documents WHERE doc_id % 26 = 0"), bm25LsmMaintain(_, dir, st))
    bm25LsmProbe(spark, dir, st)
  }

  /** The classifier axis's model state maintained by STREAMS — the
    * fourth axis of the streamed retract→serve loop, and the one whose
    * state is vocabulary-sized, so it rides the generic
    * [[IncrementalAggView.maintainFrom]] loop (each micro-batch of
    * freq-signed labeled-posting deltas becomes one applyDelta merge)
    * instead of LSM segments. Same edited-slice scenario and oracle as
    * `ivm_nb`: un-label the % 13 docs, re-label the % 4 half; scoring
    * from the stream-maintained model+prior views must equal one-shot
    * training on the edited slice. */
  val nbStream: QueryDef = QueryDef.sqlBacked(
    "ivm_nb_stream",
    Classify.classifyOracleEdited(nbEdit)
  ) { (spark, dir) =>
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    TextAnalysis.tokenPostings(spark, "documents")
    val trp = spark.sql(Classify.sparkTrainPostingsWithDoc())
    val trd = spark.sql(Classify.sparkTrainDocs())

    val model = new IncrementalAggView(spark, Seq("token", "pos"), Seq("tf"),
      Engine.scratchDir("graft_ivm_nbs_m_"))
    model.initialize(trp.select(col("token"), col("pos"), col("tf")))
    val prior = new IncrementalAggView(spark, Seq("pos"), Seq.empty,
      Engine.scratchDir("graft_ivm_nbs_p_"))
    prior.initialize(trd.select(col("pos")))

    val retractP = trp.filter(col("doc_id") % 13 === 0)
    drain(spark, Seq(
      retractP.select(col("token"), col("pos"), col("tf"),
        lit(-1L).as(model.freqCol)),
      retractP.filter(col("doc_id") % 4 === 0)
        .select(col("token"), col("pos"), col("tf"), lit(1L).as(model.freqCol))),
      model.maintainFrom)
    val retractD = trd.filter(col("doc_id") % 13 === 0)
    drain(spark, Seq(
      retractD.select(col("pos"), lit(-1L).as(prior.freqCol)),
      retractD.filter(col("doc_id") % 4 === 0)
        .select(col("pos"), lit(1L).as(prior.freqCol))),
      prior.maintainFrom)

    model.current()
      .select(col("token"), col("pos"), col("sum_tf").cast(LongType).as("tf"))
      .createOrReplaceTempView("ivm_nbs_model")
    prior.current()
      .select(col("pos"), col("cnt").cast(LongType).as("cnt"))
      .createOrReplaceTempView("ivm_nbs_prior")
    spark.sql(Classify.nbScoreSql(
      "SELECT token, pos, tf FROM ivm_nbs_model",
      """SELECT sum(CASE WHEN pos = 1 THEN cnt ELSE 0 END) AS n1,
        |       sum(CASE WHEN pos = 0 THEN cnt ELSE 0 END) AS n0
        |FROM ivm_nbs_prior""".stripMargin,
      Classify.sparkScoreBody, Classify.flog2Spark))
  }

  /** The LM axis's count views maintained by STREAMS — the fifth axis
    * of the streamed retract→serve loop. Like the classifier axis the
    * state is vocabulary-sized, so all three n-gram count views ride
    * the generic [[IncrementalAggView.maintainFrom]] loop (each
    * micro-batch of freq-signed posting deltas becomes one applyDelta
    * merge); same audit-withdrawal scenario and oracle as `ivm_lm` —
    * backoff scoring from the stream-maintained views must equal
    * one-shot training on the edited slice. */
  val lmStream: QueryDef = QueryDef.sqlBacked(
    "ivm_lm_stream",
    Curate.lmPplOracleOver("doc_id % 2 = 0 AND (doc_id % 13 <> 0 OR doc_id % 4 = 0)")
  ) { (spark, dir) =>
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    TextAnalysis.tokenPostings(spark, "documents")
    TextAnalysis.bigramPostings(spark, "documents")
    TextAnalysis.trigramPostings(spark, "documents")
    def countView(srcView: String, name: String): String = {
      val base = spark.table(srcView)
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("token"), col("tf"))
      val v = new IncrementalAggView(spark, Seq("token"), Seq("tf"),
        Engine.scratchDir(s"graft_ivm_lms_${name}_"))
      v.initialize(base.select(col("token"), col("tf")))
      val retract = base.filter(col("doc_id") % 13 === 0)
      drain(spark, Seq(
        retract.select(col("token"), col("tf"), lit(-1L).as(v.freqCol)),
        retract.filter(col("doc_id") % 4 === 0)
          .select(col("token"), col("tf"), lit(1L).as(v.freqCol))),
        v.maintainFrom)
      v.current()
        .select(col("token"), col("sum_tf").cast(LongType).as("c"))
        .createOrReplaceTempView(s"ivm_lms_$name")
      s"SELECT token, c FROM ivm_lms_$name"
    }
    spark.sql(Curate.lmPplScoreSparkSql(
      countView("tok_tf", "c1"),
      countView("btok_tf", "c2"),
      countView("ttok_tf", "c3")))
  }

  /** The dedup axis's LSM state maintained by the signed-edit stream —
    * same edited-index oracle as `ivm_dedup`. */
  val dedupStream: QueryDef = QueryDef.sqlBacked(
    "ivm_dedup_stream",
    Dedup.incrementalOracleOver(
      "i.doc_id % 10 <> 0 AND (i.doc_id % 2 <> 0 OR i.doc_id % 4 = 0)")
  ) { (spark, dir) =>
    val st = SegmentedIndex.State.under(Engine.scratchDir("graft_ivm_dedupstr_"))
    Dedup.writeBandIndex(spark, dir, st.base) // registers `dedup_sh`
    drain(spark, signedEdits(spark, "doc_id",
      "FROM dedup_sh WHERE doc_id % 10 <> 0 AND doc_id % 2 = 0",
      "FROM dedup_sh WHERE doc_id % 4 = 0"), dedupMaintain(_, dir, st))
    dedupRetractProbe(spark, dir, st)
  }

  val all: Seq[QueryDef] =
    Seq(refresh, extrema, distinct, topk, join, pipeline, postings, bm25Retract,
      nbRetract, lmRetract, annRetract, dedupRetract, bm25Lsm, annStream,
      bm25Stream, dedupStream, nbStream, lmStream)
}
