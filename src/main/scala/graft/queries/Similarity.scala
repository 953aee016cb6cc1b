package graft.queries

import graft.{Engine, QueryDef}
import graft.queries.Dedup.{dotDuck, planeDuck, planeSpark, portableHash60}
import graft.sources.StoredParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector search over the `embeddings` table (Array[Float], L2-normalized,
  * so dot product = cosine): exact brute-force top-k, the IVF probes that
  * [[Ivf]] assembles for the flat, SQ8, JL→SQ8 and PQ codecs, recall@k,
  * k-means centroid training, SQ8 statistics, semantic dedup, JL random
  * projection and lexical+vector rank fusion.
  *
  * Exactness: dot products run in the codegen'd `dot_product` kernel,
  * folding in array-index order from 0.0 — the IEEE sequence of the DuckDB
  * oracles' `list_reduce`; centroids and JL signs derive from the portable
  * 60-bit md5 hash ([[Dedup.portableHash60]]); every approximate score is
  * BIGINT arithmetic or one IEEE multiply, and every rank breaks ties on
  * ids. So each oracle replays its pipeline bit for bit.
  */
object Similarity {

  private[queries] def emb(spark: SparkSession, dir: String): Unit =
    Engine.table(spark, dir, "embeddings").createOrReplaceTempView("embeddings")

  /** Deterministic centroids, component (c, d) = hash60("c_d") % 1000 /
    * 1000, as C rows in SQL: the probe side derives its centroid relation
    * this way at any C. */
  private[graft] def centroidSqlAt(c: Int) =
    s"""SELECT c AS cid,
       |  transform(sequence(0, 63), d ->
       |    ${planeSpark("c", "d")}) AS cv
       |FROM (SELECT explode(sequence(0, ${c - 1})) AS c)""".stripMargin

  private[graft] val centroidSql = centroidSqlAt(16)

  /** The same centroids, computed on the driver: any C ships to executors
    * as a broadcast through [[assignCells]]. */
  def hashCentroids(c: Int, dims: Int = 64): Array[Array[Double]] =
    Array.tabulate(c, dims)((ci, d) => (portableHash60(s"${ci}_${d}") % 1000L).toDouble / 1000.0)

  /** The 16×64 matrix of [[hashCentroids]] as a foldable SQL literal
    * (`Double.toString` round-trips exactly), bit-identical to
    * [[centroidSql]] and the DuckDB oracle's ([[SimilarityKernelSpec]]
    * pins that). As a plan-time constant, cell assignment is a projection
    * instead of a join against a centroid relation. */
  private[graft] lazy val centroidMatrixSql: String =
    hashCentroids(16).map(_.map(v => s"${v}D").mkString("array(", ", ", ")"))
      .mkString("array(", ",\n  ", ")")

  /** Add `cellCol` = argmax-dot cell of `vecCol` against a BROADCAST
    * centroid matrix — assignment as a projection at any C, with no
    * Exchange before it (CentroidBroadcastSpec pins the plan at C=256). */
  def assignCells(vectors: DataFrame, vecCol: String, cellCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    vectors.withColumn(cellCol, ColumnBridge.column(
      graft.functions.ArgmaxDotBroadcast(
        ColumnBridge.expression(vectors.col(vecCol)), bc)))
  }

  private[queries] def centroidDuckAt(c: Int) =
    s"""SELECT c AS cid,
       |  list_transform(range(0, 64), d ->
       |    ${planeDuck("c", "d")}) AS cv
       |FROM range(0, $c) t(c)""".stripMargin

  private[queries] val centroidDuck = centroidDuckAt(16)

  // --- brute-force cosine top-k: the exactness baseline ---------------------
  // The query set is broadcast and the corpus scanned once, never
  // shuffled; the per-query top-k is the only exchange, carrying
  // (query, candidate, score) triples.
  def bruteForceTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    emb(spark, dir)
    spark.sql(
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < $nQueries
         |),
         |c AS (
         |  SELECT vec_id AS cand_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings
         |),
         |scored AS (
         |  SELECT query_id, cand_id, dot_product(qv, cv) AS score
         |  FROM q JOIN c ON query_id <> cand_id
         |)
         |${Ivf.topK("query_id", "cand_id", "score", "scored", k)}""".stripMargin)
  }

  private val bruteForceOracle =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id < 8
       |),
       |c AS (
       |  SELECT vec_id AS cand_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings
       |),
       |scored AS (
       |  SELECT query_id, cand_id, ${dotDuck("qv", "cv")} AS score
       |  FROM q JOIN c ON query_id <> cand_id
       |)
       |${Ivf.Duck.topK("query_id", "cand_id", "score", "scored")}""".stripMargin

  val bruteForce: QueryDef =
    QueryDef.sqlBacked("ann_bruteforce_topk", bruteForceOracle)(bruteForceTopK(_, _))

  // --- IVF probes (stages in Ivf) -------------------------------------------
  // Each query probes its nProbe nearest of C cells; only candidates in
  // those cells are scored. With a stored cell-partitioned index the
  // probe's broadcast join on the partition column plans dynamic
  // partition pruning, so a probe reads nProbe/C of the files (AnnIndexSpec
  // pins the dynamicpruningexpression). A stored index is a layout
  // change, invisible in the result: each *_idx / *_append key shares its
  // in-flight twin's oracle.

  def ivfTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(nQueries = nQueries, k = k, nProbe = nProbe))

  private val ivfOracle =
    s"""WITH cent AS ($centroidDuck),
       |${Ivf.Duck.flatCorpus()},
       |queries AS (
       |  SELECT vec_id AS query_id, v AS qv FROM (
       |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |    FROM embeddings WHERE vec_id < 8) e
       |),
       |${Ivf.Duck.flat(4)}""".stripMargin

  val ivf: QueryDef = QueryDef.sqlBacked("ann_ivf_topk", ivfOracle)(ivfTopK(_, _))

  /** Filtered vector search: each query keeps only candidates sharing its
    * own label (~10% of the corpus), applied in the candidate join before
    * ranking. The filter thins every probed cell 10×, so nProbe is 8
    * (FilteredAnnSpec pins labels and equality with filtered brute force
    * over the probed cells). */
  def ivfFilteredTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 8): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(labels = true, nQueries = nQueries, k = k, nProbe = nProbe))

  private val ivfFilteredOracle =
    s"""WITH cent AS ($centroidDuck),
       |${Ivf.Duck.flatCorpus(labels = true)},
       |queries AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |  FROM e WHERE vec_id < 8
       |),
       |${Ivf.Duck.flat(8, labels = true)}""".stripMargin

  val ivfFiltered: QueryDef =
    QueryDef.sqlBacked("ann_filtered", ivfFilteredOracle)(ivfFilteredTopK(_, _))

  /** The probe at C=256, past what a foldable literal should carry: cells
    * come from the broadcast matrix; the oracle re-derives all 256
    * centroids relationally. */
  def ivfC256TopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 16): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(Ivf.Hashed(256), nQueries = nQueries, k = k, nProbe = nProbe))

  private val ivfC256Oracle =
    s"""WITH cent AS (${centroidDuckAt(256)}),
       |${Ivf.Duck.flatCorpus()},
       |queries AS (
       |  SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id < 8
       |),
       |${Ivf.Duck.flat(16)}""".stripMargin

  val ivfC256: QueryDef =
    QueryDef.sqlBacked("ann_ivf_c256", ivfC256Oracle)(ivfC256TopK(_, _))

  /** Probed top-k under any C×d model (the fitted one from
    * [[trainCentroids]]): corpus cells from the broadcast matrix, probes
    * against the model as a C-row relation. */
  def ivfTopKWith(spark: SparkSession, dir: String,
      cents: Array[Array[Double]], nQueries: Int = 8, k: Int = 10,
      nProbe: Int = 4): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(Ivf.Fitted(cents), nQueries = nQueries, k = k, nProbe = nProbe))

  /** The probed search over ARBITRARY query/corpus relations —
    * `queries(query_id, qv)` against `corpus(cand_id, cv[, cell])` under
    * any centroid model; the streaming vector-search path
    * ([[graft.streaming.Streams.vectorSearch]]) runs it. A corpus already
    * carrying `cell` (read back from a [[writeIvfIndexAt]] index) is
    * probed as-is, partition pruning intact; otherwise assignment runs
    * through the broadcast kernel. */
  def searchVectors(queries: DataFrame, corpus: DataFrame,
      cents: Array[Array[Double]], k: Int = 10, nProbe: Int = 4): DataFrame = {
    // Pure DataFrame composition — no temp views: inside foreachBatch the
    // micro-batch runs in its own session whose view catalog does not see
    // registrations made through the static side's session.
    import org.apache.spark.sql.expressions.Window
    val s = queries.sparkSession
    import s.implicits._
    val assigned =
      if (corpus.columns.contains("cell")) corpus
      else assignCells(corpus, "cv", "cell", cents)
    val cent = cents.zipWithIndex.toSeq.map { case (cv, i) => (i, cv.toSeq) }
      .toDF("cid", "ccv")
    val probes = queries.crossJoin(cent)
      .withColumn("pdot", expr("dot_product(qv, ccv)"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("pdot").desc, col("cid").asc)))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("qcell"))
    broadcast(probes)
      .join(assigned, probes("qcell") === assigned("cell") &&
        probes("query_id") =!= assigned("cand_id"))
      .withColumn("score", expr("dot_product(qv, cv)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Write (or, with mode "append", extend) the flat cell-partitioned
    * index of `vectors(vec_id, v)` (AnnIndexSpec pins append ≡ rebuild). */
  def writeIvfIndex(vectors: DataFrame, indexPath: String,
      mode: String = "overwrite"): Unit =
    Ivf.corpus(vectors, Ivf.Hashed16).write.mode(mode).partitionBy("cell").parquet(indexPath)

  /** [[writeIvfIndex]] under any centroid matrix. */
  def writeIvfIndexAt(vectors: DataFrame, indexPath: String,
      centroids: Array[Array[Double]], mode: String = "overwrite"): Unit =
    Ivf.corpus(vectors, Ivf.Fitted(centroids)).write.mode(mode).partitionBy("cell").parquet(indexPath)

  /** Build the flat index over the full embeddings table. */
  def buildIvfIndex(spark: SparkSession, dir: String, indexPath: String): Unit =
    Ivf.write(spark, dir, Ivf.Flat, indexPath)

  private def stored(spark: SparkSession, indexPath: String) =
    Some(StoredParquet.read(spark, indexPath))

  def probeIvfIndex(spark: SparkSession, dir: String, indexPath: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(index = stored(spark, indexPath),
      nQueries = nQueries, k = k, nProbe = nProbe))

  /** [[probeIvfIndex]] for an index written under `cents`
    * ([[writeIvfIndexAt]]): probes run against the same model (KmeansSpec
    * pins the composition ≡ [[ivfTopKWith]] row for row). */
  def probeIvfIndexWith(spark: SparkSession, dir: String, indexPath: String,
      cents: Array[Array[Double]], nQueries: Int = 8, k: Int = 10,
      nProbe: Int = 4): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(Ivf.Fitted(cents), index = stored(spark, indexPath),
      nQueries = nQueries, k = k, nProbe = nProbe))

  def ivfIndexedTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4): DataFrame =
    Ivf.indexed(spark, dir, Ivf.Probe(nQueries = nQueries, k = k, nProbe = nProbe))

  val ivfIndexed: QueryDef =
    QueryDef.sqlBacked("ann_ivf_indexed", ivfOracle)(ivfIndexedTopK(_, _))

  /** Incremental index maintenance: 90% of the corpus written, the rest
    * appended into the cells' partitions, then the grown index probed —
    * against the full-corpus oracle, so append ≡ rebuild is what the
    * compare certifies. */
  def ivfAppendTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4): DataFrame =
    Ivf.indexed(spark, dir, Ivf.Probe(nQueries = nQueries, k = k, nProbe = nProbe), append = true)

  val ivfAppend: QueryDef =
    QueryDef.sqlBacked("ann_ivf_append", ivfOracle)(ivfAppendTopK(_, _))

  // --- recall@k --------------------------------------------------------------
  // |approximate top-k ∩ exact top-k| / k per query: the number that tunes
  // nProbe and C. Both inputs are top-k relations (queries × k rows), so
  // the evaluation join is negligible next to the searches it scores.

  /** Per query of `exact`: `hits`, its exact top-k found by `approx`,
    * and `recall` = hits / k. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = count(col("i.cand_id"))
    exact.as("b").join(approx.as("i"),
        col("b.query_id") === col("i.query_id") && col("b.cand_id") === col("i.cand_id"), "left")
      .groupBy(col("b.query_id"))
      .agg(hits.as("hits"), (hits.cast("double") / k.toDouble).as("recall"))
  }

  private def meanRecall(exact: DataFrame, approx: DataFrame, k: Int): Double =
    recallAtK(exact, approx, k).agg(avg("recall")).head().getDouble(0)

  def annRecall(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    recallAtK(bruteForceTopK(spark, dir), ivfTopK(spark, dir), k).orderBy("query_id")

  private val annRecallOracle =
    s"""SELECT b.query_id, count(i.cand_id) AS hits,
       |  CAST(count(i.cand_id) AS DOUBLE) / 10.0 AS recall
       |FROM ($bruteForceOracle) b LEFT JOIN ($ivfOracle) i
       |  ON b.query_id = i.query_id AND b.cand_id = i.cand_id
       |GROUP BY b.query_id
       |ORDER BY b.query_id""".stripMargin

  val recall: QueryDef =
    QueryDef.sqlBacked("ann_recall", annRecallOracle)(annRecall(_, _))

  /** Mean recall@k of the hashed-centroid probe at one nProbe: a point of
    * the recall-vs-latency sweep. */
  def meanRecallAtNProbe(spark: SparkSession, dir: String, nProbe: Int,
      k: Int = 10): Double =
    meanRecall(bruteForceTopK(spark, dir, k = k), ivfTopK(spark, dir, k = k, nProbe = nProbe), k)

  /** Mean recall@k of the probe under any centroid model. */
  def meanRecallWith(spark: SparkSession, dir: String,
      cents: Array[Array[Double]], nProbe: Int, k: Int = 10): Double =
    meanRecall(bruteForceTopK(spark, dir, k = k), ivfTopKWith(spark, dir, cents, k = k, nProbe = nProbe), k)

  // --- int8 symmetric quantization statistics --------------------------------
  // Per vector: scale = max|x| / 127, q = round(x / scale) clamped to
  // ±127, and the reconstruction error — a per-row projection with no
  // shuffle. Outputs are scalars (scale, max_err, mse) because the driver
  // compare holds no arrays; both engines fold errors in index order.
  private val quantizeOracle =
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), s AS (
       |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs
       |  FROM base
       |), q AS (
       |  SELECT vec_id, v, maxabs,
       |    list_transform(v, x -> ${Ivf.Duck.sq8Code}) AS qv
       |  FROM s WHERE maxabs > 0
       |), e AS (
       |  SELECT vec_id, maxabs,
       |    list_transform(range(1, len(v) + 1),
       |      i -> v[i] - qv[i] * maxabs / 127.0) AS err
       |  FROM q
       |)
       |SELECT vec_id, maxabs / 127.0 AS scale,
       |  list_max(list_transform(err, x -> abs(x))) AS max_err,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(err, x -> x * x)), (a, b) -> a + b) / len(err) AS mse
       |FROM e ORDER BY vec_id""".stripMargin

  def quantize(spark: SparkSession, dir: String): DataFrame = {
    emb(spark, dir)
    // one codegen loop per row (functions/SketchExpressions.QuantStats),
    // in the oracle's IEEE operation order, reading the float array
    spark.sql(
      """SELECT vec_id, st[0] AS scale, st[1] AS max_err, st[2] AS mse
        |FROM (SELECT vec_id, quant_stats(embedding) AS st FROM embeddings)
        |WHERE st IS NOT NULL
        |ORDER BY vec_id""".stripMargin)
  }

  val quantized: QueryDef =
    QueryDef.sqlBacked("emb_quantize", quantizeOracle)(quantize(_, _))

  // --- semantic deduplication (SemDeDup, Abbas et al. 2023) -----------------
  // Vectors are bucketed to their nearest of C hashed centroids (the
  // broadcast cell projection) and exact pairwise cosine runs only within
  // a cell: Σ|cell|²/2 pairs instead of N²/2, with C = [[semanticC]] ~ √N.
  // Keep rule: a vector is dropped iff a lower-id vector in its cell has
  // cosine ≥ τ (0.35, calibrated to this near-orthogonal corpus).
  // Cross-cell misses are the SemDeDup approximation, not a bug.

  /** Smallest power of two `c` with `c·c ≥ n`, floored at 16, in integer
    * arithmetic so the oracle ([[semanticCfgDuck]]) computes the same C. */
  private[graft] def semanticC(n: Long): Int = {
    var c = 1L
    while (c * c < n) c <<= 1L
    math.max(16L, c).toInt
  }

  private val semanticCfgDuck =
    """SELECT greatest(16, min(c)) AS c FROM (
      |    SELECT CAST(pow(2, i) AS BIGINT) AS c FROM range(0, 31) t(i)) p
      |  WHERE c * c >= (SELECT count(*) FROM embeddings)""".stripMargin

  def semanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    emb(spark, dir)
    val n = Engine.table(spark, dir, "embeddings").count()
    // the assignment is cached once: the query references it three times
    val corpus = Engine.cacheSwap("sem_corpus", assignCells(
      spark.sql(
        """SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |FROM embeddings""".stripMargin),
      "v", "cell", hashCentroids(semanticC(n))))
    corpus.createOrReplaceTempView("sem_corpus")
    spark.sql(
      s"""WITH losers AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM sem_corpus a JOIN sem_corpus b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE dot_product(a.v, b.v) >= $threshold
         |)
         |SELECT c.vec_id, CAST(c.cell AS INT) AS cell, l.vec_id IS NULL AS kept
         |FROM sem_corpus c LEFT JOIN losers l ON c.vec_id = l.vec_id
         |ORDER BY c.vec_id""".stripMargin)
  }

  private val semanticOracle =
    s"""WITH semcfg AS ($semanticCfgDuck),
       |cent AS (
       |  SELECT c AS cid,
       |    list_transform(range(0, 64), d ->
       |      ${planeDuck("c", "d")}) AS cv
       |  FROM (SELECT unnest(range(0, (SELECT c FROM semcfg))) AS c) ids
       |),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |corpus AS (
       |  SELECT e.vec_id, e.v, t.cid AS cell FROM e JOIN (
       |    ${Ivf.ranked("vec_id, cid", "e.vec_id, cent.cid", "e.vec_id",
      s"${dotDuck("e.v", "cent.cv")} DESC, cent.cid", "e CROSS JOIN cent", "rn", "= 1", t = "")}) t
       |  ON e.vec_id = t.vec_id
       |),
       |losers AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM corpus a JOIN corpus b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${dotDuck("a.v", "b.v")} >= 0.35
       |)
       |SELECT c.vec_id, CAST(c.cell AS INT) AS cell, l.vec_id IS NULL AS kept
       |FROM corpus c LEFT JOIN losers l ON c.vec_id = l.vec_id
       |ORDER BY c.vec_id""".stripMargin

  val semantic: QueryDef =
    QueryDef.sqlBacked("dedup_semantic", semanticOracle)(semanticDedup(_, _))

  // --- k-means centroid training (spherical Lloyd's iterations) -------------
  // Seeded from hashCentroids, so the pipeline stays RNG-free. Per round:
  // one projection pass (cells from the broadcast matrix) and a
  // partial-aggregated shuffle keyed (cell, dim) landing C×d rows on the
  // driver — state bounded by the model, never the corpus. Oracle-exact:
  // per-dim sums in fixed point (floor(x·1e7 + 0.5) as BIGINT, so sum
  // order cannot matter), the mean back to double as two IEEE divisions,
  // assignment ties to the lowest cid, and empty cells keep their
  // previous centroid — the same LEFT JOIN + coalesce on both engines.

  /** Unit-normalize in index-order IEEE arithmetic (the oracle's fold).
    * Zero-norm rows pass through unchanged — the keep-previous rule. */
  private def unitRow(row: Array[Double]): Array[Double] = {
    var s = 0.0
    var d = 0
    while (d < row.length) { s += row(d) * row(d); d += 1 }
    if (s > 0.0) { val n = math.sqrt(s); row.map(_ / n) } else row
  }

  /** Train C centroids with `iters` Lloyd rounds; returns the fitted
    * matrix and each cell's fixed-point component sum of the last round.
    * Every centroid is kept at unit norm, so argmax-dot IS argmax-cosine
    * and the normalized cell mean is the per-cell optimum — Lloyd's
    * monotone ascent holds (KmeansSpec pins it). Unnormalized means of
    * near-orthogonal unit vectors shrink toward 0 and let high-norm
    * centroids capture everything. Past `sampleCap` vectors the model is
    * fitted on a deterministic hash sample (FAISS/MLlib practice). */
  def trainCentroids(spark: SparkSession, dir: String, c: Int = 16,
      iters: Int = 2, sampleCap: Long = Long.MaxValue): (Array[Array[Double]], Array[Long]) = {
    emb(spark, dir)
    val n = spark.sql("SELECT count(*) FROM embeddings").head().getLong(0)
    val where =
      if (n <= sampleCap) ""
      else {
        val perMille = math.max(1L, sampleCap * 1000L / n)
        s"WHERE pmod(xxhash64(vec_id), 1000) < $perMille"
      }
    val vecs = Engine.cacheSwap(s"kmeans_vecs_$where", spark.sql(
      s"""SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |FROM embeddings $where""".stripMargin))
    var centroids = hashCentroids(c).map(unitRow)
    var lastSums = Array.fill(c)(0L)
    for (_ <- 1 to iters) {
      // ≤ C×64 rows cross the collect boundary — model-sized, not data-sized
      val agg = assignCells(vecs, "v", "cell", centroids)
        .selectExpr("cell", "posexplode(v) AS (d, x)")
        .selectExpr("cell", "d",
          "CAST(floor(x * 10000000.0D + 0.5D) AS BIGINT) AS sx")
        .groupBy("cell", "d")
        .agg(sum("sx").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone)
      val sums = Array.fill(c)(0L)
      val touched = Array.fill(c)(false)
      agg.foreach { r =>
        val cell = r.getAs[Int]("cell")
        val d = r.getAs[Int]("d")
        val s = r.getAs[Long]("s")
        val n = r.getAs[Long]("n")
        next(cell)(d) = s.toDouble / n.toDouble / 10000000.0
        sums(cell) += s
        touched(cell) = true
      }
      // untouched OR zero-norm-mean cells keep the previous (unit)
      // centroid — never re-normalized, so their bits are stable across
      // rounds on both engines
      centroids = Array.tabulate(c) { ci =>
        if (!touched(ci)) centroids(ci)
        else {
          val u = unitRow(next(ci))
          if (u eq next(ci)) centroids(ci) else u // zero norm → previous
        }
      }
      lastSums = sums
    }
    (centroids, lastSums)
  }

  /** The verifiable training summary: one row per centroid — final member
    * count, first fitted component, and the fixed-point component-sum
    * fingerprint of the last update (a bit-exact digest of the whole
    * centroid without shipping arrays through the compare). */
  def kmeansTrain(spark: SparkSession, dir: String, c: Int = 16,
      iters: Int = 2, sampleCap: Long = Long.MaxValue): DataFrame = {
    val (centroids, lastSums) = trainCentroids(spark, dir, c, iters, sampleCap)
    val vecs = spark.sql(
      """SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |FROM embeddings""".stripMargin)
    val counts = assignCells(vecs, "v", "cell", centroids)
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
    import spark.implicits._
    val trained = (0 until c).map(ci => (ci, centroids(ci)(0), lastSums(ci)))
      .toDF("cid", "c0", "ssum")
    trained.join(counts, trained("cid") === counts("cell"), "left")
      .selectExpr("cid", "CAST(coalesce(cnt, 0) AS BIGINT) AS cnt", "c0", "ssum")
      .orderBy("cid")
  }

  // DuckDB replay: aN = assignment round, uN = fixed-point update, cN =
  // fitted centroids after round N.
  private def kmAssignDuck(centRel: String, out: String): String =
    s"""$out AS (
       |  ${Ivf.ranked("vec_id, v, cid AS cell", "e.vec_id, e.v, c.cid", "e.vec_id",
      s"${dotDuck("e.v", "c.cv")} DESC, c.cid", s"e CROSS JOIN $centRel c", "rn", "= 1")})""".stripMargin

  private def kmUpdateDuck(assignRel: String, out: String): String =
    s"""$out AS (
       |  SELECT cell, d,
       |    CAST(sum(CAST(floor(v[d + 1] * 10000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
       |    count(*) AS n
       |  FROM $assignRel CROSS JOIN range(0, 64) t(d)
       |  GROUP BY cell, d)""".stripMargin

  // normalized mean, keep-previous on untouched or zero-norm cells
  private def kmNextDuck(prevCent: String, updRel: String, out: String): String =
    s"""$out AS (
       |  SELECT p.cid,
       |    CASE WHEN u.n2 IS NULL OR u.n2 <= 0 THEN p.cv
       |         ELSE list_transform(u.cv2, x -> x / sqrt(u.n2)) END AS cv
       |  FROM $prevCent p LEFT JOIN (
       |    SELECT cid, cv2, ${dotDuck("cv2", "cv2")} AS n2 FROM (
       |      SELECT cell AS cid,
       |        list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 10000000.0 ORDER BY d) AS cv2
       |      FROM $updRel GROUP BY cell) t0) u USING (cid))""".stripMargin

  /** The two Lloyd rounds of `kmeansTrain(c = 16, iters = 2)`: fitted
    * centroids `c2`, last update `u2`, final assignment `a3`. */
  private val kmChainDuck =
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |craw AS (${centroidDuckAt(16)}),
       |cseed AS (
       |  SELECT cid, CASE WHEN n2 <= 0 THEN cv
       |    ELSE list_transform(cv, x -> x / sqrt(n2)) END AS cv
       |  FROM (SELECT cid, cv, ${dotDuck("cv", "cv")} AS n2 FROM craw) t0
       |),
       |${kmAssignDuck("cseed", "a1")},
       |${kmUpdateDuck("a1", "u1")},
       |${kmNextDuck("cseed", "u1", "c1")},
       |${kmAssignDuck("c1", "a2")},
       |${kmUpdateDuck("a2", "u2")},
       |${kmNextDuck("c1", "u2", "c2")},
       |${kmAssignDuck("c2", "a3")}""".stripMargin

  private val kmeansOracle =
    s"""WITH $kmChainDuck
       |SELECT CAST(c2.cid AS INT) AS cid,
       |  CAST(coalesce(k.cnt, 0) AS BIGINT) AS cnt,
       |  CAST(c2.cv[1] AS DOUBLE) AS c0,
       |  CAST(coalesce(s2.ssum, 0) AS BIGINT) AS ssum
       |FROM c2
       |LEFT JOIN (SELECT cell, count(*) AS cnt FROM a3 GROUP BY cell) k
       |  ON c2.cid = k.cell
       |LEFT JOIN (SELECT cell, CAST(sum(s) AS BIGINT) AS ssum FROM u2 GROUP BY cell) s2
       |  ON c2.cid = s2.cell
       |ORDER BY cid""".stripMargin

  val kmeans: QueryDef =
    QueryDef.sqlBacked("ann_kmeans_train", kmeansOracle)(kmeansTrain(_, _))

  /** Trained IVF serving end to end: train (C=16, 2 rounds), write the
    * fitted cell-partitioned index, probe it with the fitted model. The
    * oracle replays both Lloyd rounds and then the probe, so one hash
    * compare covers the fitted model, the write/read roundtrip and the
    * probe arithmetic. */
  def ivfTrainedTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4): DataFrame = {
    val (fit, _) = trainCentroids(spark, dir, c = 16, iters = 2)
    Ivf.indexed(spark, dir, Ivf.Probe(Ivf.Fitted(fit), nQueries = nQueries, k = k, nProbe = nProbe))
  }

  private val ivfTrainedOracle =
    s"""WITH $kmChainDuck,
       |corpus AS (
       |  SELECT vec_id AS cand_id, v AS cv, cell FROM a3
       |),
       |queries AS (
       |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8
       |),
       |${Ivf.Duck.flat(4, cent = "c2 c")}""".stripMargin

  val ivfTrained: QueryDef =
    QueryDef.sqlBacked("ann_ivf_trained", ivfTrainedOracle)(ivfTrainedTopK(_, _))

  // --- hybrid retrieval: lexical ⊕ vector via reciprocal-rank fusion ------
  // The RAG retrieval shape (Cormack/Clarke/Buettcher RRF): a lexical arm
  // and a vector arm ranked independently, fused by Σ 1/(60 + rank) — no
  // score calibration between arms. Lexical arm: shared-distinct-token
  // count against the corpus tokens, the query side broadcast; vector
  // arm: the ann_ivf_topk probe. Fusion is a FULL OUTER JOIN of two
  // k·|queries|-row relations; 1/(60+r) is one IEEE division of the same
  // ints on both engines. A doc missing from one arm contributes 0 there.
  def hybridRrf(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    ivfTopK(spark, dir, nQueries = nQueries, k = k)
      .createOrReplaceTempView("hybrid_vec")
    spark.sql(
      s"""WITH tok AS (
         |  SELECT doc_id, explode(array_distinct(word_ngrams(lower(text), 1))) AS tk
         |  FROM documents),
         |qtok AS (SELECT doc_id AS query_id, tk FROM tok WHERE doc_id < $nQueries),
         |lex AS (
         |  SELECT query_id, cand_id, rnk FROM (
         |    SELECT /*+ BROADCAST(q) */ q.query_id, t.doc_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY count(*) DESC, t.doc_id) AS rnk
         |    FROM qtok q JOIN tok t ON q.tk = t.tk AND t.doc_id <> q.query_id
         |    GROUP BY q.query_id, t.doc_id) s
         |  WHERE rnk <= $k),
         |fused AS (
         |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |         coalesce(l.cand_id, v.cand_id) AS cand_id,
         |         coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rnk), CAST(0.0 AS DOUBLE))
         |           + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.rnk), CAST(0.0 AS DOUBLE)) AS rrf
         |  FROM lex l FULL OUTER JOIN hybrid_vec v
         |    ON l.query_id = v.query_id AND l.cand_id = v.cand_id)
         |SELECT query_id, cand_id, rrf, CAST(rn AS INT) AS rnk FROM (
         |  SELECT query_id, cand_id, rrf,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, cand_id) AS rn
         |  FROM fused) f
         |WHERE rn <= $k
         |ORDER BY query_id, rnk""".stripMargin)
  }

  private val hybridOracle =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS tk
       |  FROM documents),
       |qtok AS (SELECT doc_id AS query_id, tk FROM tok WHERE doc_id < 8),
       |lex AS (
       |  SELECT query_id, cand_id, rnk FROM (
       |    SELECT q.query_id, t.doc_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY count(*) DESC, t.doc_id) AS rnk
       |    FROM qtok q JOIN tok t ON q.tk = t.tk AND t.doc_id <> q.query_id
       |    GROUP BY q.query_id, t.doc_id) s
       |  WHERE rnk <= 10),
       |vec AS ($ivfOracle),
       |fused AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
       |         coalesce(l.cand_id, v.cand_id) AS cand_id,
       |         coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rnk), CAST(0.0 AS DOUBLE))
       |           + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.rnk), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON l.query_id = v.query_id AND l.cand_id = v.cand_id)
       |SELECT query_id, cand_id, rrf, CAST(rn AS INT) AS rnk FROM (
       |  SELECT query_id, cand_id, rrf,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, cand_id) AS rn
       |  FROM fused) f
       |WHERE rn <= 10
       |ORDER BY query_id, rnk""".stripMargin

  val hybrid: QueryDef =
    QueryDef.sqlBacked("ann_hybrid_rrf", hybridOracle)(hybridRrf(_, _))

  // --- IVF-SQ8: int8-coded scoring + exact re-rank ---------------------------
  // The FAISS IndexIVFScalarQuantizer shape: candidates in the probed
  // cells score with int8 codes (Σ q_a·q_b in BIGINT, times two scales),
  // and only the top `rerank` survivors are re-ranked by exact float dot.
  // Quantization is emb_quantize's convention. All-zero vectors are out of
  // both the query set and the corpus (their scale is 0), on both
  // engines; ivfTopK keeps them. The stored index persists the codes, the
  // scale and the JL projection once; its probe's scoring scan reads
  // (cand_id, cscale, cq) only (AnnIndexSpec pins the pruned schema and
  // the DPP), and the survivors fetch their floats back by cand_id.
  def ivfSq8TopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10, nProbe: Int = 4, rerank: Int = 50): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(codec = Ivf.Sq8, nQueries = nQueries, k = k,
      nProbe = nProbe, rerank = rerank))

  /** The SQ8 probe oracle over any DuckDB relation `src` with (vec_id,
    * embedding); the retractable-index keys (`ivm_ann`, `ivm_ann_stream`)
    * pass the edited corpus. Its query set (`vec_id < 8`) comes from
    * `src` while the engine's probe draws queries from the full table, so
    * an edit passed here MUST keep vec_ids 0–7 alive. */
  private[graft] def ivfSq8OracleOver(src: String): String =
    s"""WITH cent AS ($centroidDuck),
       |${Ivf.Duck.sq8(src)},
       |queries AS (
       |  SELECT vec_id AS query_id, v AS qv, scale AS qscale, q8 AS qq
       |  FROM qz WHERE vec_id < 8
       |),
       |probes AS (
       |  ${Ivf.Duck.probes(Seq("q.query_id", "q.qv", "q.qscale", "q.qq"), "q.query_id", "q.qv", "queries q", 4)}
       |),
       |approx AS (
       |  ${Ivf.rank("query_id, cand_id, qv, cv", "query_id", "ascore DESC, cand_id", "arnk")}
       |  FROM (
       |    SELECT p.query_id, c.cand_id, p.qv, c.cv,
       |      ${Ivf.Duck.sq8Dot("p.qq", "c.cq")} * p.qscale * c.cscale AS ascore
       |    FROM probes p JOIN corpus c
       |      ON p.cell = c.cell AND p.query_id <> c.cand_id) raw
       |)
       |${Ivf.Duck.topK("query_id", "cand_id", dotDuck("qv", "cv"), "approx WHERE arnk <= 50")}""".stripMargin

  private val ivfSq8Oracle = ivfSq8OracleOver("embeddings")

  val ivfSq8: QueryDef =
    QueryDef.sqlBacked("ann_ivf_sq8", ivfSq8Oracle)(ivfSq8TopK(_, _))

  def writeIvfSq8Index(spark: SparkSession, dir: String, indexPath: String,
      mode: String = "overwrite", slice: String = "TRUE"): Unit =
    Ivf.write(spark, dir, Ivf.Sq8, indexPath, mode, slice)

  def probeIvfSq8Index(spark: SparkSession, dir: String, indexPath: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4,
      rerank: Int = 50): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(codec = Ivf.Sq8, index = stored(spark, indexPath),
      nQueries = nQueries, k = k, nProbe = nProbe, rerank = rerank))

  def ivfSq8IndexedTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4,
      rerank: Int = 50): DataFrame =
    Ivf.indexed(spark, dir, Ivf.Probe(codec = Ivf.Sq8, nQueries = nQueries, k = k,
      nProbe = nProbe, rerank = rerank))

  val ivfSq8Indexed: QueryDef =
    QueryDef.sqlBacked("ann_ivf_sq8_idx", ivfSq8Oracle)(ivfSq8IndexedTopK(_, _))

  // --- JL ∘ SQ8: the three-stage probe of a stored SQ8 index -----------------
  // Within the probed cells, stage 1 ranks candidates by the INTEGER 16-d
  // projected dot, reading only (cand_id, pv); the `shortlist` survivors
  // per query fetch their int8 codes for SQ8 scoring; the top `rerank` of
  // those fetch float vectors for the exact re-rank. Every stage is
  // deterministic and tie-broken on cand_id, so DuckDB replays all three.
  def probeRprojSq8Index(spark: SparkSession, dir: String, indexPath: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4,
      shortlist: Int = 200, rerank: Int = 50): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(codec = Ivf.RprojSq8(shortlist), index = stored(spark, indexPath),
      nQueries = nQueries, k = k, nProbe = nProbe, rerank = rerank))

  def rprojSq8TopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4,
      shortlist: Int = 200, rerank: Int = 50): DataFrame =
    Ivf.indexed(spark, dir, Ivf.Probe(codec = Ivf.RprojSq8(shortlist), nQueries = nQueries,
      k = k, nProbe = nProbe, rerank = rerank))

  private val rprojSq8Oracle =
    s"""WITH cent AS ($centroidDuck),
       |${Ivf.Duck.sq8("embeddings", rprojDuck("qz", "qq", "sgn", "prj") + ",\n")},
       |probes AS (
       |  ${Ivf.Duck.probes(Seq("q.vec_id AS query_id"), "q.vec_id", "q.v", "(SELECT * FROM qz WHERE vec_id < 8) q", 4)}
       |),
       |s1 AS (
       |  ${Ivf.ranked("query_id, cand_id", "query_id, cand_id", "query_id", "iscore DESC, cand_id",
      """(
        |      SELECT pb.query_id, c.cand_id, CAST(sum(qp.p * cp.p) AS BIGINT) AS iscore
        |      FROM probes pb
        |      JOIN corpus c ON pb.cell = c.cell AND pb.query_id <> c.cand_id
        |      JOIN prj qp ON qp.vec_id = pb.query_id
        |      JOIN prj cp ON cp.vec_id = c.cand_id AND cp.k = qp.k
        |      GROUP BY pb.query_id, c.cand_id) g""".stripMargin, "rn", "<= 200")}
       |),
       |s2 AS (
       |  ${Ivf.ranked("query_id, cand_id", "query_id, cand_id", "query_id", "ascore DESC, cand_id",
      s"""(
         |      SELECT sl.query_id, sl.cand_id,
         |        ${Ivf.Duck.sq8Dot("q.q8", "c.cq")} * q.scale * c.cscale AS ascore
         |      FROM s1 sl JOIN qz q ON sl.query_id = q.vec_id
         |                 JOIN corpus c ON sl.cand_id = c.cand_id) raw""".stripMargin, "arnk", "<= 50")}
       |)
       |${Ivf.Duck.topK("s.query_id", "s.cand_id", dotDuck("q.v", "f.cv"),
      "s2 s\n  JOIN qz q ON s.query_id = q.vec_id\n  JOIN corpus f ON s.cand_id = f.cand_id")}""".stripMargin

  val rprojSq8: QueryDef =
    QueryDef.sqlBacked("ann_rproj_sq8", rprojSq8Oracle)(rprojSq8TopK(_, _))

  /** Bench-only k-means at C = [[semanticC]] of the corpus: C is a model
    * size, so the big-tier number trains what a production IVF would use.
    * Not in the census: the (16, 2) oracle is the correctness gate. */
  val kmeansScaled: QueryDef = QueryDef.rowsOnly("ann_kmeans_train_c") { (s, dir) =>
    emb(s, dir)
    val n = s.sql("SELECT count(*) FROM embeddings").head().getLong(0)
    val c = semanticC(n)
    kmeansTrain(s, dir, c = c, sampleCap = 256L * c)
  }

  // --- JL random projection: dimension reduction as the scale lever --------
  // Johnson-Lindenstrauss with Achlioptas's ±1 signs under the exactness
  // discipline (functions.RProjI64): components quantize to 2^20 fixed
  // point, so projection and scoring are BIGINT sums, order-independent.
  // A 64-d float scan reads 256 B per candidate; the 16-d projection reads
  // 128 B with a quarter of the multiplies. The sign matrix derives from
  // the portable hash and ships as a foldable literal (16×64 ints).
  // A def, not a val: oracle vals above render sign CTEs through it, and
  // a val would still be 0 when they initialize.
  private[graft] def rprojOutDims = 16

  /** ±1 sign matrix: sign(k,j) = +1 iff portableHash60("rp_k_j") is even. */
  def rprojSigns(out: Int = rprojOutDims, dims: Int = 64): Array[Array[Int]] =
    Array.tabulate(out, dims)((k, j) => if (portableHash60(s"rp_${k}_${j}") % 2 == 0) 1 else -1)

  /** The sign matrix as a foldable Spark SQL literal. */
  private[graft] lazy val rprojSignsSql: String =
    rprojSigns().map(_.mkString("array(", ", ", ")")).mkString("array(", ",\n  ", ")")

  /** DuckDB CTE body deriving the identical signs: (k, j, sgn). */
  private def rprojSignsDuck(out: Int = rprojOutDims, dims: Int = 64): String =
    s"""SELECT k, j,
       |  CASE WHEN CAST(concat('0x', substr(md5(
       |    concat('rp_', CAST(k AS VARCHAR), '_', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
       |    % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |FROM range(0, $out) a(k) CROSS JOIN range(0, $dims) b(j)""".stripMargin

  /** DuckDB JL projection of `src`(vec_id, v): fixed-point components
    * `q`, signs `s`, and the projection `pr`(vec_id, k, p). */
  private def rprojDuck(src: String, q: String, s: String, pr: String): String =
    s"""$q AS (
       |  SELECT vec_id, j, CAST(floor(v[j + 1] * 1048576.0 + 0.5) AS BIGINT) AS qv
       |  FROM $src CROSS JOIN range(0, 64) t(j)),
       |$s AS (${rprojSignsDuck()}),
       |$pr AS (
       |  SELECT vec_id, k, CAST(sum(sgn * qv) AS BIGINT) AS p
       |  FROM $q JOIN $s ON $q.j = $s.j
       |  GROUP BY vec_id, k)""".stripMargin

  def rproj(spark: SparkSession, dir: String): DataFrame = {
    emb(spark, dir)
    spark.sql(
      s"""WITH e AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pr AS (SELECT vec_id, rproj_i64(v, $rprojSignsSql) AS pv FROM e)
         |SELECT vec_id, CAST(d AS INT) AS d, p FROM (
         |  SELECT vec_id, posexplode(pv) AS (d, p) FROM pr) x
         |ORDER BY vec_id, d""".stripMargin)
  }

  private val rprojOracle =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, j, CAST(floor(v[j + 1] * 1048576.0 + 0.5) AS BIGINT) AS qv
       |  FROM e CROSS JOIN range(0, 64) t(j)),
       |s AS (${rprojSignsDuck()})
       |SELECT vec_id, CAST(k AS INT) AS d, CAST(sum(sgn * qv) AS BIGINT) AS p
       |FROM q JOIN s ON q.j = s.j
       |GROUP BY vec_id, k
       |ORDER BY vec_id, d""".stripMargin

  val rprojDef: QueryDef = QueryDef.sqlBacked("emb_rproj", rprojOracle)(rproj(_, _))

  /** Brute-force top-k in the projected space: the JL first stage as a
    * standalone ranking, 16 long multiplies per candidate. RProjSpec pins
    * its recall against the exact float ranking. */
  def rprojTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    emb(spark, dir)
    spark.sql(
      s"""WITH e AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pr AS (SELECT vec_id, rproj_i64(v, $rprojSignsSql) AS pv FROM e),
         |q AS (SELECT vec_id AS query_id, pv AS qv FROM pr WHERE vec_id < $nQueries),
         |scored AS (
         |  SELECT /*+ BROADCAST(q) */ query_id, c.vec_id AS cand_id,
         |    dot_i64(qv, c.pv) AS score
         |  FROM q JOIN pr c ON query_id <> c.vec_id)
         |${Ivf.topK("query_id", "cand_id", "score", "scored", k)}""".stripMargin)
  }

  private val rprojTopKOracle =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${rprojDuck("e", "qq", "s", "pr")},
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(sum(q.p * c.p) AS BIGINT) AS score
       |  FROM pr q JOIN pr c ON q.k = c.k AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 8
       |  GROUP BY q.vec_id, c.vec_id)
       |${Ivf.Duck.topK("query_id", "cand_id", "score", "scored")}""".stripMargin

  val rprojTopKDef: QueryDef =
    QueryDef.sqlBacked("ann_rproj_topk", rprojTopKOracle)(rprojTopK(_, _))

  /** Two-stage JL search: shortlist in the projected space, then exact
    * float re-rank of only the shortlist·|queries| survivors, which
    * re-fetch their floats through a broadcast join — the float vectors
    * never ride the ranking shuffle. */
  def rprojRerank(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, shortlist: Int = 100): DataFrame = {
    emb(spark, dir)
    spark.sql(
      s"""WITH e AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pr AS (SELECT vec_id, rproj_i64(v, $rprojSignsSql) AS pv FROM e),
         |q AS (SELECT vec_id AS query_id, pv AS qpv FROM pr WHERE vec_id < $nQueries),
         |cand AS (
         |  ${Ivf.ranked("query_id, cand_id", "/*+ BROADCAST(q) */ q.query_id, c.vec_id AS cand_id",
        "q.query_id", "dot_i64(q.qpv, c.pv) DESC, c.vec_id", "q JOIN pr c ON q.query_id <> c.vec_id",
        "rn", s"<= $shortlist")}),
         |scored AS (
         |  SELECT /*+ BROADCAST(cand) */ cand.query_id, cand.cand_id,
         |    dot_product(qe.v, ce.v) AS score
         |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
         |            JOIN e ce ON ce.vec_id = cand.cand_id)
         |${Ivf.topK("query_id", "cand_id", "score", "scored", k)}""".stripMargin)
  }

  private val rprojRerankOracle =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${rprojDuck("e", "qq", "s", "pr")},
       |approx AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(sum(q.p * c.p) AS BIGINT) AS ascore
       |  FROM pr q JOIN pr c ON q.k = c.k AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 8
       |  GROUP BY q.vec_id, c.vec_id),
       |cand AS (
       |  ${Ivf.ranked("query_id, cand_id", "query_id, cand_id", "query_id", "ascore DESC, cand_id",
      "approx", "rn", "<= 100")}),
       |scored AS (
       |  SELECT cand.query_id, cand.cand_id,
       |    ${dotDuck("qe.v", "ce.v")} AS score
       |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
       |            JOIN e ce ON ce.vec_id = cand.cand_id)
       |${Ivf.Duck.topK("query_id", "cand_id", "score", "scored")}""".stripMargin

  val rprojRerankDef: QueryDef =
    QueryDef.sqlBacked("ann_rproj_rerank", rprojRerankOracle)(rprojRerank(_, _))

  // --- IVF-PQ: product quantization + ADC (Jégou/Douze/Schmid 2011) --------
  // The 64 dims split into m=8 subspaces of 8, each coded against a
  // 16-entry codebook (4 bits), so a vector's whole code word packs into
  // one BIGINT — 8 bytes per candidate, 32× less than the floats.
  // Asymmetric Distance Computation: each query precomputes an 8×16 LUT
  // of fixed-point partial dots, and a candidate scores by 8 lookups and
  // BIGINT adds, so approximate ranks replay bit-exactly. Codebooks are
  // the subvectors of vec_id < 16 (sample-init without an RNG). Encoding
  // is argmin L2 in 2^20 fixed point, ties to the lowest codeword: the
  // composite key d2·16+j makes the argmin a plain MIN (the pq_encode
  // kernel computes it per row inside the scan's codegen span; PqSpec
  // pins kernel ≡ SQL ≡ oracle). Survivors re-rank by exact float dot.
  def ivfPqTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10, nProbe: Int = 4, rerank: Int = 50): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(codec = Ivf.Pq, nQueries = nQueries, k = k,
      nProbe = nProbe, rerank = rerank))

  /** DuckDB replay of the full PQ pipeline — codebook sampling,
    * fixed-point encode (the same composite-key argmin), packed code
    * words, ADC lookups, exact re-rank — over a (vec_id, embedding)
    * source. */
  private[graft] def ivfPqOracleOver(src: String): String =
    s"""WITH cent AS ($centroidDuck),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $src),
       |f AS (
       |  SELECT vec_id, v,
       |    list_transform(v, x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS vf
       |  FROM e),
       |cb AS (
       |  SELECT sub.s, f.vec_id AS j,
       |    list_slice(f.vf, sub.s * 8 + 1, sub.s * 8 + 8) AS cf
       |  FROM f CROSS JOIN range(0, 8) sub(s)
       |  WHERE f.vec_id < 16),
       |enc AS (
       |  SELECT vec_id, s, CAST(mk % 16 AS INT) AS code FROM (
       |    SELECT t.vec_id, t.s, min(t.d2 * 16 + t.j) AS mk FROM (
       |      SELECT f.vec_id, cb.s, cb.j,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(range(1, 9), i ->
       |            (f.vf[cb.s * 8 + i] - cb.cf[i]) * (f.vf[cb.s * 8 + i] - cb.cf[i]))),
       |          (x, y) -> x + y) AS d2
       |      FROM f CROSS JOIN cb) t
       |    GROUP BY t.vec_id, t.s)),
       |codes AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(code AS BIGINT) * (CAST(1 AS BIGINT) << (4 * s))) AS BIGINT) AS cw
       |  FROM enc GROUP BY vec_id),
       |${Ivf.Duck.assign("f", ")")},
       |corpus AS (
       |  SELECT f.vec_id AS cand_id, f.v AS cv, codes.cw, a.cell
       |  FROM f JOIN codes ON f.vec_id = codes.vec_id
       |         JOIN assign a ON f.vec_id = a.vec_id),
       |queries AS (
       |  SELECT vec_id AS query_id, v AS qv, vf AS qf
       |  FROM f WHERE vec_id < 8),
       |lut AS (
       |  SELECT query_id, list(dp ORDER BY idx) AS lutv FROM (
       |    SELECT q.query_id, cb.s * 16 + cb.j AS idx,
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, 9), i -> q.qf[cb.s * 8 + i] * cb.cf[i])),
       |        (x, y) -> x + y) AS dp
       |    FROM queries q CROSS JOIN cb) t
       |  GROUP BY query_id),
       |probes AS (
       |  ${Ivf.Duck.probes(Seq("q.query_id", "q.qv", "l.lutv"), "q.query_id", "q.qv",
      "queries q JOIN lut l ON q.query_id = l.query_id", 4, cellInside = true)}),
       |approx AS (
       |  ${Ivf.rank("query_id, cand_id, qv, cv", "query_id", "ascore DESC, cand_id", "arnk")}
       |  FROM (
       |    SELECT p.query_id, c.cand_id, p.qv, c.cv,
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(0, 8), s ->
       |          p.lutv[s * 16 + ((c.cw >> (4 * s)) & 15) + 1])),
       |        (x, y) -> x + y) AS ascore
       |    FROM probes p JOIN corpus c
       |      ON p.cell = c.cell AND p.query_id <> c.cand_id) raw)
       |${Ivf.Duck.topK("query_id", "cand_id", dotDuck("qv", "cv"), "approx WHERE arnk <= 50")}""".stripMargin

  private val ivfPqOracle = ivfPqOracleOver("embeddings")

  val ivfPq: QueryDef =
    QueryDef.sqlBacked("ann_ivf_pq", ivfPqOracle)(ivfPqTopK(_, _))

  /** The stored PQ index: the packed code word is written once, and a
    * probe's ADC stage reads (cand_id, cw) only — 16 bytes per candidate
    * against SQ8's ~72 and the floats' 256. */
  def writeIvfPqIndex(spark: SparkSession, dir: String, indexPath: String,
      mode: String = "overwrite"): Unit =
    Ivf.write(spark, dir, Ivf.Pq, indexPath, mode)

  def probeIvfPqIndex(spark: SparkSession, dir: String, indexPath: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4,
      rerank: Int = 50): DataFrame =
    Ivf.topK(spark, dir, Ivf.Probe(codec = Ivf.Pq, index = stored(spark, indexPath),
      nQueries = nQueries, k = k, nProbe = nProbe, rerank = rerank))

  def ivfPqIndexedTopK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4,
      rerank: Int = 50): DataFrame =
    Ivf.indexed(spark, dir, Ivf.Probe(codec = Ivf.Pq, nQueries = nQueries, k = k,
      nProbe = nProbe, rerank = rerank))

  val ivfPqIndexed: QueryDef =
    QueryDef.sqlBacked("ann_ivf_pq_idx", ivfPqOracle)(ivfPqIndexedTopK(_, _))

  val all: Seq[QueryDef] =
    Seq(bruteForce, ivf, ivfFiltered, ivfC256, ivfIndexed, ivfAppend,
      quantized, semantic, recall, kmeans, ivfTrained, hybrid, ivfSq8,
      ivfSq8Indexed, rprojDef, rprojTopKDef, rprojRerankDef, rprojSq8,
      ivfPq, ivfPqIndexed)
}
