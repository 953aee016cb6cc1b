package graft.queries

import graft.{Engine, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline — the composition proof
  * that the individual operators (language ID, quality scoring, token
  * counting, near-dup removal) chain as DataFrame→DataFrame transforms
  * into one curated corpus, the way a 100 TB preprocessing job would run:
  *
  *   documents
  *     → per-row scoring (one codegen span, no shuffle)
  *     → quality + language filter (pushed predicates)
  *     → anti-join against MinHash-LSH near-dup pairs (drops the
  *       higher-doc_id member of every detected pair)
  *     → curated corpus + stats.
  *
  * The DuckDB oracle recomputes the same pipeline with the near-dup set
  * expanded to the EXACT all-pairs Jaccard ≥ 0.8 relation — valid because
  * the LSH candidate set provably covers every Jaccard ≥ 0.5 pair on this
  * corpus (see Dedup.minhash's oracle), and 0.8-pairs ⊆ 0.5-pairs.
  */
object Curate {

  def curatedCorpus(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")

    // per-row analysis in ONE codegen kernel pass (functions/
    // SketchExpressions.TextStats) instead of three materialized
    // regexp_extract_all arrays — the array churn inverted core scaling
    // at sf10 (VERDICT r10 #3). The ratios divide the kernel's exact
    // integer counts with the same double-division operands as the regex
    // spelling (raw IEEE, no rounding — round() tie behavior is not
    // engine-portable), so the DuckDB oracle matches bit for bit;
    // TextStatsSpec pins kernel == regex over the sf0.01 corpus.
    val scored = spark.sql(
      """SELECT doc_id, lang,
        |  CAST(ts[0] AS INT) AS n_tokens,
        |  CAST(ts[1] AS DOUBLE) / ts[0] AS stopword_ratio,
        |  CAST(ts[3] AS DOUBLE) / ts[2] AS distinct_ratio
        |FROM (SELECT doc_id, lang, text_stats(text) AS ts FROM documents)""".stripMargin)

    val filtered = scored.filter(
      col("n_tokens") >= 5 && col("distinct_ratio") >= 0.2)

    // near-dup pairs from the LSH path; keep the lower doc_id of each pair
    val dupLosers = Dedup.minhashPairs(spark, dir, threshold = 0.8)
      .select(col("id_b").as("doc_id")).distinct()

    filtered
      .join(dupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("stopword_ratio"), col("distinct_ratio"))
      .orderBy(col("doc_id"))
  }

  private val curateOracle =
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tokens,
       |    CAST(len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b')) AS DOUBLE)
       |      / len(regexp_extract_all(text, '\\S+')) AS stopword_ratio,
       |    CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS DOUBLE)
       |      / len(regexp_extract_all(lower(text), '[a-z]+')) AS distinct_ratio
       |  FROM documents
       |),
       |sh AS (${Dedup.shingleDuck}),
       |dup_losers AS (
       |  SELECT DISTINCT b.doc_id AS doc_id
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE ${Dedup.jaccardDuck("a.shingles", "b.shingles")} >= 0.8
       |)
       |SELECT doc_id, lang, n_tokens, stopword_ratio, distinct_ratio
       |FROM scored
       |WHERE n_tokens >= 5 AND distinct_ratio >= 0.2
       |  AND doc_id NOT IN (SELECT doc_id FROM dup_losers)
       |ORDER BY doc_id""".stripMargin

  val curate: QueryDef = QueryDef.sqlBacked("pipeline_curate", curateOracle)(curatedCorpus(_, _))

  // --- deterministic stratified sampling ----------------------------------
  // Training-data downsampling the way a 100 TB job has to do it: a
  // per-row hash-Bernoulli decision, NOT rand() (not reproducible, breaks
  // retries/speculation) and NOT reservoir/exact-count (needs a global
  // pass). Stratum = document length class; each stratum keeps its own
  // per-mille rate via `portable_hash(doc_id) % 1000 < rate`. Shuffle-free
  // scan+filter — the plan scales at I/O speed, the sample is stable
  // across runs/engines, and the rate per stratum is exact in expectation
  // with variance O(1/√n). The DuckDB oracle replays the identical hash
  // arithmetic, so the sampled id set matches row for row.
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      s"""SELECT doc_id, bucket FROM (
         |  SELECT doc_id,
         |    CASE WHEN length(text) < 200 THEN 'short'
         |         WHEN length(text) < 1000 THEN 'medium'
         |         ELSE 'long' END AS bucket,
         |    ${Dedup.portableHash60Spark("CAST(doc_id AS STRING)")} % 1000 AS h
         |  FROM documents) t
         |WHERE (bucket = 'short' AND h < 100)
         |   OR (bucket = 'medium' AND h < 500)
         |   OR bucket = 'long'
         |ORDER BY doc_id""".stripMargin)
  }

  private val sampleOracle =
    s"""SELECT doc_id, bucket FROM (
       |  SELECT doc_id,
       |    CASE WHEN length(text) < 200 THEN 'short'
       |         WHEN length(text) < 1000 THEN 'medium'
       |         ELSE 'long' END AS bucket,
       |    ${Dedup.portableHash60Duck("CAST(doc_id AS VARCHAR)")} % 1000 AS h
       |  FROM documents) t
       |WHERE (bucket = 'short' AND h < 100)
       |   OR (bucket = 'medium' AND h < 500)
       |   OR bucket = 'long'
       |ORDER BY doc_id""".stripMargin

  val sample: QueryDef =
    QueryDef.sqlBacked("pipeline_sample", sampleOracle)(stratifiedSample(_, _))

  // --- exact-k per-stratum sampling ---------------------------------------
  // The fixed-budget twin of the Bernoulli sampler: exactly k documents
  // per stratum, chosen as the k smallest portable hashes (ties broken by
  // doc_id) — a deterministic reservoir. The `rn <= k` predicate over the
  // window triggers WindowGroupLimit: each map task forwards only its
  // local top-k per stratum, so the exchange carries O(k·strata) rows no
  // matter the corpus size — the same partial top-k shape as q3/q10 and
  // the ANN queries.
  private val sampleK = 25

  def sampleExactK(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      s"""SELECT doc_id, bucket, CAST(rn AS INT) AS rn FROM (
         |  SELECT doc_id, bucket,
         |    row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN length(text) < 200 THEN 'short'
         |           WHEN length(text) < 1000 THEN 'medium'
         |           ELSE 'long' END AS bucket,
         |      ${Dedup.portableHash60Spark("CAST(doc_id AS STRING)")} AS h
         |    FROM documents) t) w
         |WHERE rn <= $sampleK
         |ORDER BY bucket, rn""".stripMargin)
  }

  private val sampleKOracle =
    s"""SELECT doc_id, bucket, CAST(rn AS INT) AS rn FROM (
       |  SELECT doc_id, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN length(text) < 200 THEN 'short'
       |           WHEN length(text) < 1000 THEN 'medium'
       |           ELSE 'long' END AS bucket,
       |      ${Dedup.portableHash60Duck("CAST(doc_id AS VARCHAR)")} AS h
       |    FROM documents) t) w
       |WHERE rn <= $sampleK
       |ORDER BY bucket, rn""".stripMargin

  val sampleExact: QueryDef =
    QueryDef.sqlBacked("pipeline_sample_k", sampleKOracle)(sampleExactK(_, _))

  // --- benchmark decontamination ------------------------------------------
  // GPT-3-style eval-set decontamination (Brown et al. 2020 §C): a train
  // document is contaminated when it shares a word-5-gram with any held-out
  // eval document. The eval split here is the deterministic doc_id % 23
  // slice standing in for a benchmark table. Scale shape: the eval n-gram
  // set is tiny relative to the corpus (eval sets are KBs–MBs, the corpus
  // is TBs), so it is collected into a BROADCAST inner join — the corpus
  // side streams through scan→explode→broadcast-probe with no corpus-wide
  // exchange; the only shuffle carries the MATCHED (doc_id, gram) pairs
  // (near-zero on clean corpora) into the per-doc count. Every train doc
  // is reported with its overlap count, clean docs included (count 0).
  private def fiveGram(tokens: String, i: String): String =
    s"concat_ws(' ', $tokens[$i], $tokens[$i+1], $tokens[$i+2], $tokens[$i+3], $tokens[$i+4])"

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    // OPTIMIZATION r15: 5-grams through the word_ngrams kernel (one
    // codegen byte walk) instead of the interpreted transform/sequence/
    // concat_ws lambda chain — identical grams (WordNgramsSpec pins the
    // kernel against the transform spelling; the oracle tokenizes
    // independently), and size(word_ngrams(text, 5)) > 0 ⟺
    // size(tokens) >= 5, the original row predicate. NOTE no lower():
    // decontamination matches grams case-sensitively, as before.
    val grams = spark.sql(
      """SELECT doc_id, explode(array_distinct(word_ngrams(text, 5))) AS gram
        |FROM documents WHERE size(word_ngrams(text, 5)) > 0""".stripMargin)
    grams.createOrReplaceTempView("grams")
    spark.sql(
      """WITH eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0),
        |hits AS (
        |  SELECT /*+ BROADCAST(eval_g) */ g.doc_id, count(DISTINCT g.gram) AS n_overlap
        |  FROM grams g JOIN eval_g ON g.gram = eval_g.gram
        |  WHERE g.doc_id % 23 <> 0
        |  GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(h.n_overlap, 0) AS INT) AS n_overlap,
        |  coalesce(h.n_overlap, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 23 <> 0) d
        |LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin)
  }

  private val decontaminateOracle =
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(tokens)-3), i -> ${fiveGram("tokens", "i")}))) AS gram
       |  FROM tok WHERE len(tokens) >= 5),
       |eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0),
       |hits AS (
       |  SELECT g.doc_id, count(DISTINCT g.gram) AS n_overlap
       |  FROM grams g JOIN eval_g USING (gram)
       |  WHERE g.doc_id % 23 <> 0
       |  GROUP BY g.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(h.n_overlap, 0) AS INT) AS n_overlap,
       |  coalesce(h.n_overlap, 0) >= 1 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 23 <> 0) d
       |LEFT JOIN hits h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val decontam: QueryDef =
    QueryDef.sqlBacked("pipeline_decontaminate", decontaminateOracle)(decontaminate(_, _))

  // --- span-level decontamination -----------------------------------------
  // The exact-substring upgrade of [[decontaminate]] (Lee et al. 2021's
  // recommendation, the modern practice): word-5-gram overlap misses
  // contamination that crosses token boundaries or rides reformatted
  // whitespace, while a winnowed ≥79-char span anchor surfaces ANY long
  // verbatim region at any alignment (the dedup_span_exact guarantee —
  // same kernel, same parameters, so the decontamination gate and the
  // dedup pass share one anchor relation and its session cache). Scale
  // shape mirrors decontaminate: eval anchors are eval-set-sized →
  // BROADCAST; the corpus side is the cached (fp, doc_id) anchor
  // relation; the only shuffle carries matched pairs.
  def decontamSpan(spark: SparkSession, dir: String): DataFrame = {
    Dedup.cachedSpanGroups(spark, dir)
    spark.sql(
      """WITH eval_a AS (SELECT DISTINCT fp FROM span_grp WHERE doc_id % 23 = 0),
        |hits AS (
        |  SELECT /*+ BROADCAST(eval_a) */ g.doc_id, count(DISTINCT g.fp) AS n_overlap
        |  FROM span_grp g JOIN eval_a ON g.fp = eval_a.fp
        |  WHERE g.doc_id % 23 <> 0
        |  GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(h.n_overlap, 0) AS INT) AS n_overlap,
        |  coalesce(h.n_overlap, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 23 <> 0) d
        |LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin)
  }

  private lazy val decontamSpanOracle =
    s"""WITH ${Dedup.spanAnchorsDuck},
       |eval_a AS (SELECT DISTINCT fp FROM anchors WHERE doc_id % 23 = 0),
       |hits AS (
       |  SELECT a.doc_id, count(DISTINCT a.fp) AS n_overlap
       |  FROM anchors a JOIN eval_a USING (fp)
       |  WHERE a.doc_id % 23 <> 0
       |  GROUP BY a.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(h.n_overlap, 0) AS INT) AS n_overlap,
       |  coalesce(h.n_overlap, 0) >= 1 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 23 <> 0) d
       |LEFT JOIN hits h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val decontamSpanQ: QueryDef =
    QueryDef.sqlBacked("pipeline_decontam_span", decontamSpanOracle)(decontamSpan(_, _))

  // --- weighted source mixing ---------------------------------------------
  // Mixture construction for a training run: each source gets a sampling
  // weight (literature: up-weight curated sources, down-weight crawl —
  // e.g. The Pile, Gao et al. 2020 §2). rate > 1 means integer-copy
  // upsampling plus a hash-Bernoulli fractional copy; rate < 1 is a
  // hash-Bernoulli downsample — all decisions are per-row hash arithmetic
  // (reproducible across runs/retries/engines, unlike rand()), so the
  // output multiset is a pure deterministic function of the input. The
  // plan is scan → explode(≤⌈rate⌉ copies) → filter: shuffle-free, scales
  // at I/O speed. The oracle replays the identical arithmetic row for row.
  private val mixRate =
    """CASE WHEN source IN ('src0', 'src1', 'src2') THEN 2.5
      |     WHEN source IN ('src3', 'src4', 'src5') THEN 1.0
      |     ELSE 0.3 END""".stripMargin

  /** The mixing as a reusable STATELESS transform over a frame with
    * (doc_id, source): bounded explode + hash filter, no aggregation, no
    * state — runs unchanged on a streaming DataFrame (StreamingSpec pins
    * stream ≡ batch). */
  def mixTransform(df: DataFrame): DataFrame =
    df.selectExpr("doc_id", "source", s"$mixRate AS rate")
      .selectExpr("doc_id", "source", "rate",
        "explode(sequence(0, CAST(ceil(rate) AS INT) - 1)) AS copy")
      .selectExpr("doc_id", "source", "rate", "copy",
        s"${Dedup.portableHash60Spark("concat(CAST(doc_id AS STRING), ':', CAST(copy AS STRING))")} % 1000 AS h")
      .where("copy + 1 <= rate OR h < CAST((rate - floor(rate)) * 1000 AS BIGINT)")
      .selectExpr("doc_id", "source", "CAST(copy AS INT) AS copy")

  def mixSources(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(spark, dir, "documents")
    mixTransform(docs.select(col("doc_id"), col("source")))
      .orderBy(col("doc_id"), col("copy"))
  }

  private val mixOracle =
    s"""SELECT doc_id, source, CAST(copy AS INT) AS copy FROM (
       |  SELECT doc_id, source, rate,
       |    unnest(range(0, CAST(ceil(rate) AS BIGINT))) AS copy
       |  FROM (SELECT doc_id, source, $mixRate AS rate FROM documents)) t
       |WHERE copy + 1 <= rate
       |   OR ${Dedup.portableHash60Duck("concat(CAST(doc_id AS VARCHAR), ':', CAST(copy AS VARCHAR))")} % 1000
       |      < CAST((rate - floor(rate)) * 1000 AS BIGINT)
       |ORDER BY doc_id, copy""".stripMargin

  val mix: QueryDef = QueryDef.sqlBacked("pipeline_mix", mixOracle)(mixSources(_, _))

  // --- sequence packing ---------------------------------------------------
  // The last step before a training run: concatenate documents into
  // fixed-budget token sequences (contiguous fill, 512 tokens here). A
  // global greedy pack is inherently sequential, so the scale shape
  // shards first: docs land in a deterministic hash BUCKET (the unit of
  // parallelism — thousands on a real cluster, 8 here), and packing is a
  // running token total per bucket (one window cumsum over doc_id order)
  // from which each doc's starting sequence and offset are pure integer
  // arithmetic. One shuffle on bucket, then sequential only within a
  // bucket; every number is exact integer math so the oracle replays it
  // row for row. Docs longer than the budget simply span sequences
  // (contiguous fill, the standard GPT-style pre-training layout).
  private val packBudget = 512

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      s"""SELECT doc_id, bucket, n_tokens,
         |  CAST((cum - n_tokens) DIV $packBudget AS INT) AS seq_id,
         |  CAST((cum - n_tokens) % $packBudget AS INT) AS seq_offset
         |FROM (
         |  SELECT doc_id, bucket, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM (
         |    SELECT doc_id,
         |      ${Dedup.portableHash60Spark("CAST(doc_id AS STRING)")} % 8 AS bucket,
         |      CAST(size(word_ngrams(text, 1)) AS BIGINT) AS n_tokens
         |    FROM documents))
         |ORDER BY bucket, doc_id""".stripMargin)
  }

  private val packOracle =
    s"""SELECT doc_id, bucket, n_tokens,
       |  CAST((cum - n_tokens) // $packBudget AS INT) AS seq_id,
       |  CAST((cum - n_tokens) % $packBudget AS INT) AS seq_offset
       |FROM (
       |  SELECT doc_id, bucket, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM (
       |    SELECT doc_id,
       |      ${Dedup.portableHash60Duck("CAST(doc_id AS VARCHAR)")} % 8 AS bucket,
       |      CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
       |    FROM documents) t) t2
       |ORDER BY bucket, doc_id""".stripMargin

  val pack: QueryDef = QueryDef.sqlBacked("pipeline_pack", packOracle)(packSequences(_, _))

  // --- document chunking (fixed token window + overlap) -------------------
  // The retrieval/context-window twin of sequence packing: split each
  // document into 64-token chunks on a 48-token stride (16-token overlap),
  // the standard RAG/embedding-index layout. Pure per-row work: the chunk
  // index is a generated sequence (explode — no shuffle), the slice is
  // array arithmetic inside the same codegen span, and the only exchange
  // is the presentation sort — so chunking 100 TB costs one scan. A chunk
  // is emitted only when it adds tokens beyond the previous chunk's end
  // (`(k-1)·stride + size < n`), so short documents yield exactly one.
  private val chunkSize = 64
  private val chunkStride = 48

  def chunkDocuments(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      s"""SELECT doc_id, CAST(k AS INT) AS chunk_id,
         |  CAST(k * $chunkStride AS INT) AS start_tok,
         |  CAST(least(k * $chunkStride + $chunkSize, n) - k * $chunkStride AS INT) AS n_tok,
         |  array_join(slice(t, k * $chunkStride + 1,
         |    least($chunkSize, n - k * $chunkStride)), ' ') AS chunk_text
         |FROM (
         |  SELECT doc_id, t, n,
         |    explode(sequence(0, CAST(floor((n - 1) / $chunkStride) AS BIGINT))) AS k
         |  FROM (
         |    SELECT doc_id, regexp_extract_all(text, '\\\\S+', 0) AS t,
         |      size(regexp_extract_all(text, '\\\\S+', 0)) AS n
         |    FROM documents) base
         |  WHERE n > 0) idx
         |WHERE k = 0 OR (k - 1) * $chunkStride + $chunkSize < n
         |ORDER BY doc_id, chunk_id""".stripMargin)
  }

  private val chunkOracle =
    s"""SELECT doc_id, CAST(k AS INT) AS chunk_id,
       |  CAST(k * $chunkStride AS INT) AS start_tok,
       |  CAST(least(k * $chunkStride + $chunkSize, n) - k * $chunkStride AS INT) AS n_tok,
       |  array_to_string(list_slice(t, k * $chunkStride + 1,
       |    least(k * $chunkStride + $chunkSize, n)), ' ') AS chunk_text
       |FROM (
       |  SELECT doc_id, t, n,
       |    unnest(generate_series(0, CAST(floor((n - 1) / $chunkStride) AS BIGINT))) AS k
       |  FROM (
       |    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t,
       |      len(regexp_extract_all(text, '\\S+')) AS n
       |    FROM documents) base
       |  WHERE n > 0) idx
       |WHERE k = 0 OR (k - 1) * $chunkStride + $chunkSize < n
       |ORDER BY doc_id, chunk_id""".stripMargin

  val chunk: QueryDef = QueryDef.sqlBacked("pipeline_chunk", chunkOracle)(chunkDocuments(_, _))

  // --- corpus summary statistics (the "dataset card" aggregate) -----------
  // One pass, one global aggregation with map-side partial combine — the
  // numbers every curation run reports: document/token/char totals,
  // per-language share, and mean document length. Every ratio is a single
  // double division of exact integer totals, so the result is bit-stable
  // across engines and partitionings.
  private val statsSpark =
    """SELECT
      |  count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(count(DISTINCT lang) AS INT) AS n_langs,
      |  CAST(count(DISTINCT source) AS INT) AS n_sources,
      |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS en_share,
      |  CAST(sum(n_tok) AS DOUBLE) / count(*) AS mean_tokens,
      |  CAST(min(n_tok) AS BIGINT) AS min_tokens,
      |  CAST(max(n_tok) AS BIGINT) AS max_tokens
      |FROM (SELECT doc_id, lang, source, length(text) AS n_chars,
      |        size(regexp_extract_all(text, '\\S+', 0)) AS n_tok
      |      FROM documents)""".stripMargin

  private val statsOracle =
    """SELECT
      |  count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(count(DISTINCT lang) AS INT) AS n_langs,
      |  CAST(count(DISTINCT source) AS INT) AS n_sources,
      |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS en_share,
      |  CAST(sum(n_tok) AS DOUBLE) / count(*) AS mean_tokens,
      |  CAST(min(n_tok) AS BIGINT) AS min_tokens,
      |  CAST(max(n_tok) AS BIGINT) AS max_tokens
      |FROM (SELECT doc_id, lang, source, length(text) AS n_chars,
      |        len(regexp_extract_all(text, '\S+')) AS n_tok
      |      FROM documents) t""".stripMargin

  val stats: QueryDef = QueryDef.sqlBacked("pipeline_stats", statsOracle) {
    (spark, dir) =>
      Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
      spark.sql(statsSpark)
  }

  // --- composed RAG-index build -------------------------------------------
  // The round's operators chained into the second flagship pipeline: the
  // retrieval-index half of a training stack. documents → 64/48-token
  // chunks → quality gate (full-window chunks only) → exact chunk dedup
  // (16-byte fingerprint shuffle, keep-lowest) → deterministic embed stub
  // (portable-hash dims standing in for a model, as the centroids already
  // do) → shuffle-free IVF cell assignment (codegen argmax_dot against
  // the plan-time-constant centroid matrix) → int8 quantization scale
  // (codegen quant_stats). Everything after the dedup shuffle is a pure
  // projection, so the whole build costs one scan + one fingerprint
  // exchange; the write-time continuation is buildIvfIndex's
  // partitionBy(cell). The oracle replays every stage bit for bit.
  def ragIndex(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      s"""WITH chunks AS (
         |  SELECT doc_id, CAST(k AS INT) AS chunk_id,
         |    CAST(least(k * $chunkStride + $chunkSize, n) - k * $chunkStride AS INT) AS n_tok,
         |    array_join(slice(t, k * $chunkStride + 1,
         |      least($chunkSize, n - k * $chunkStride)), ' ') AS chunk_text
         |  FROM (
         |    SELECT doc_id, t, n,
         |      explode(sequence(0, CAST(floor((n - 1) / $chunkStride) AS BIGINT))) AS k
         |    FROM (
         |      SELECT doc_id, regexp_extract_all(text, '\\\\S+', 0) AS t,
         |        size(regexp_extract_all(text, '\\\\S+', 0)) AS n
         |      FROM documents) base
         |    WHERE n > 0) idx
         |  WHERE k = 0 OR (k - 1) * $chunkStride + $chunkSize < n
         |),
         |uniq AS (
         |  SELECT doc_id, chunk_id, fp FROM (
         |    SELECT doc_id, chunk_id, md5(chunk_text) AS fp,
         |      row_number() OVER (PARTITION BY md5(chunk_text)
         |        ORDER BY doc_id, chunk_id) AS rn
         |    FROM chunks WHERE n_tok >= 32) d
         |  WHERE rn = 1
         |),
         |emb AS (
         |  SELECT doc_id, chunk_id,
         |    transform(sequence(0, 63), d -> ${Dedup.planeSpark("fp", "d")}) AS v
         |  FROM uniq
         |)
         |SELECT doc_id, chunk_id,
         |  CAST(argmax_dot(v, ${Similarity.centroidMatrixSql}) AS INT) AS cell,
         |  quant_stats(v)[0] AS scale
         |FROM emb
         |ORDER BY doc_id, chunk_id""".stripMargin)
  }

  private val ragOracle =
    s"""WITH cent AS (${Similarity.centroidDuck}),
       |chunks AS (
       |  SELECT doc_id, CAST(k AS INT) AS chunk_id,
       |    CAST(least(k * $chunkStride + $chunkSize, n) - k * $chunkStride AS INT) AS n_tok,
       |    array_to_string(list_slice(t, k * $chunkStride + 1,
       |      least(k * $chunkStride + $chunkSize, n)), ' ') AS chunk_text
       |  FROM (
       |    SELECT doc_id, t, n,
       |      unnest(generate_series(0, CAST(floor((n - 1) / $chunkStride) AS BIGINT))) AS k
       |    FROM (
       |      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t,
       |        len(regexp_extract_all(text, '\\S+')) AS n
       |      FROM documents) base
       |    WHERE n > 0) idx
       |  WHERE k = 0 OR (k - 1) * $chunkStride + $chunkSize < n
       |),
       |uniq AS (
       |  SELECT doc_id, chunk_id, fp FROM (
       |    SELECT doc_id, chunk_id, md5(chunk_text) AS fp,
       |      row_number() OVER (PARTITION BY md5(chunk_text)
       |        ORDER BY doc_id, chunk_id) AS rn
       |    FROM chunks WHERE n_tok >= 32) d
       |  WHERE rn = 1
       |),
       |emb AS (
       |  SELECT doc_id, chunk_id,
       |    list_transform(range(0, 64), d -> ${Dedup.planeDuck("fp", "d")}) AS v
       |  FROM uniq
       |),
       |assigned AS (
       |  SELECT doc_id, chunk_id, v, cid AS cell FROM (
       |    SELECT e.doc_id, e.chunk_id, e.v, cent.cid,
       |      row_number() OVER (PARTITION BY e.doc_id, e.chunk_id ORDER BY
       |        ${Dedup.dotDuck("e.v", "cent.cv")} DESC, cent.cid) AS rn
       |    FROM emb e CROSS JOIN cent) t
       |  WHERE rn = 1
       |)
       |SELECT doc_id, chunk_id, CAST(cell AS INT) AS cell,
       |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |FROM assigned
       |ORDER BY doc_id, chunk_id""".stripMargin

  val rag: QueryDef = QueryDef.sqlBacked("pipeline_rag", ragOracle)(ragIndex(_, _))

  // --- deterministic train/val/test split ---------------------------------
  // The last assignment every dataset needs: a 98/1/1 split keyed on the
  // portable doc hash — stable across runs, engines, and partitionings,
  // so a re-run never leaks val docs into train. Pure scan+projection;
  // the summary proves the proportions, the per-doc rows pin the exact
  // assignment (both oracle-replayed row for row).
  private def splitCase(h: String): String =
    s"""CASE WHEN $h % 1000 < 980 THEN 'train'
       |     WHEN $h % 1000 < 990 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      s"""SELECT doc_id,
         |  ${splitCase(Dedup.portableHash60Spark("CAST(doc_id AS STRING)"))} AS split
         |FROM documents ORDER BY doc_id""".stripMargin)
  }

  private val splitOracle =
    s"""SELECT doc_id,
       |  ${splitCase(Dedup.portableHash60Duck("CAST(doc_id AS VARCHAR)"))} AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  val split: QueryDef =
    QueryDef.sqlBacked("pipeline_split", splitOracle)(datasetSplit(_, _))

  // --- deterministic training shuffle (shard + in-shard position) ---------
  // Global example order is load-bearing for training (curriculum leakage,
  // gradient correlation), but a single global permutation is exactly what
  // does NOT scale: row_number() over one global ORDER BY collapses the
  // corpus into one window partition. The shape that ships 100 TB is the
  // one every training stack reads anyway — SHARDS: shard = portable hash
  // of the doc (mod nShards), position = rank within the shard. The window
  // partitions by shard (nShards-way parallel), no stage sees more than
  // corpus/nShards rows, and the assignment is engine-stable: re-running
  // on different cluster shapes, or in DuckDB, yields byte-identical
  // (shard, pos) — the seed in the hash input gives a fresh permutation
  // per epoch without any RNG state.
  private def shardHash(idExpr: String, seed: Int, spark: Boolean): String =
    if (spark) Dedup.portableHash60Spark(s"concat('s${seed}_', CAST($idExpr AS STRING))")
    else Dedup.portableHash60Duck(s"concat('s${seed}_', CAST($idExpr AS VARCHAR))")

  def shuffleShards(spark: SparkSession, dir: String,
      seed: Int = 42, nShards: Int = 128): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      s"""SELECT doc_id, shard, pos FROM (
         |  SELECT doc_id, CAST(h % $nShards AS INT) AS shard,
         |    row_number() OVER (PARTITION BY h % $nShards
         |      ORDER BY h, doc_id) AS pos
         |  FROM (SELECT doc_id, ${shardHash("doc_id", seed, spark = true)} AS h
         |        FROM documents))
         |ORDER BY shard, pos""".stripMargin)
  }

  private val shuffleOracle =
    s"""SELECT doc_id, shard, pos FROM (
       |  SELECT doc_id, CAST(h % 128 AS INT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY h % 128
       |      ORDER BY h, doc_id) AS INT) AS pos
       |  FROM (SELECT doc_id, ${shardHash("doc_id", 42, spark = false)} AS h
       |        FROM documents) t) t2
       |ORDER BY shard, pos""".stripMargin

  val shuffle: QueryDef =
    QueryDef.sqlBacked("pipeline_shuffle", shuffleOracle)(shuffleShards(_, _))

  // --- per-source document cap --------------------------------------------
  // Web-scale corpora are dominated by a few giant hosts; the standard
  // counter (CCNet-style per-domain budgets, RefinedWeb's host-level
  // caps — Penedo et al. 2023 §3) keeps at most `cap` documents per
  // source, chosen as a DETERMINISTIC uniform sample: priority = portable
  // hash of the doc, keep the `cap` smallest. The naive spelling — one
  // row_number() window partitioned by source — is exactly what fails at
  // 100 TB: a single hot domain collapses into one window partition that
  // must sort host-sized data on one task. So the selection runs in two
  // exact phases: (1) a SALTED window over (source, salt-of-doc) — no
  // partition ever holds more than n_source/nSalts rows — keeps each
  // bucket's `cap` best, which provably covers the global per-source
  // best-`cap` (any doc in the global top-cap has < cap better docs in
  // the WHOLE source, a fortiori in its own bucket); (2) the true window
  // over the ≤ nSalts·cap survivors per source, a relation bounded by
  // #sources, not corpus size. The oracle needs no salt — one window is
  // fine at oracle scale and pins that the two-phase plan is lossless.
  private val srcCap = 10
  private val srcSalts = 8

  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      s"""WITH pri AS (
         |  SELECT doc_id, source,
         |    ${Dedup.portableHash60Spark("concat('p_', CAST(doc_id AS STRING))")} AS pri,
         |    ${Dedup.portableHash60Spark("concat('b_', CAST(doc_id AS STRING))")}
         |      % $srcSalts AS salt
         |  FROM documents),
         |local AS (
         |  SELECT doc_id, source, pri FROM (
         |    SELECT doc_id, source, pri,
         |      row_number() OVER (PARTITION BY source, salt
         |        ORDER BY pri, doc_id) AS lrn
         |    FROM pri) b
         |  WHERE lrn <= $srcCap)
         |SELECT doc_id, source, rn FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY pri, doc_id) AS rn
         |  FROM local) f
         |WHERE rn <= $srcCap
         |ORDER BY source, rn""".stripMargin)
  }

  private val sourceCapOracle =
    s"""SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ${Dedup.portableHash60Duck("concat('p_', CAST(doc_id AS VARCHAR))")},
       |               doc_id) AS rn
       |  FROM documents) t
       |WHERE rn <= $srcCap
       |ORDER BY source, rn""".stripMargin

  val srcCapQ: QueryDef =
    QueryDef.sqlBacked("pipeline_source_cap", sourceCapOracle)(sourceCap(_, _))

  // --- LM-based quality scoring (the CCNet shape, exactly replayable) -----
  // Model-based quality filtering à la CCNet (Wenzek et al. 2020): train a
  // language model on the corpus, score each document by its per-token
  // surprisal, drop the worst tail. The LM here is the corpus's own
  // unigram model, and surprisal is computed in EXACT integer arithmetic —
  // bitlen(total) - bitlen(cnt) = ceil(-log2(cnt/total)) up to the
  // fractional bit, via length(bin(x)), which both engines evaluate
  // identically — so the score, the ordering, and the keep decision are
  // all oracle-replayable without a single transcendental (the repo-wide
  // determinism discipline; see QueryDef's contract note).
  //
  // 100 TB shape: the corpus is exploded ONCE into the (doc_id, token)
  // aggregate — the swap-cached `tok_tf` posting relation ta_bm25 shares
  // (TextAnalysis.tokenPostings), so the corpus pass is paid once per
  // session across both operators. Token counts attach by a hash join
  // against the map-side-combined per-token aggregate — the r12 spelling:
  // the first cut rode `sum(tf) OVER (PARTITION BY token)`, and at sf100
  // that window SORTS the full posting relation (the same sort-exchange
  // class the ngram-jaccard rare-index rebuild removed); the join carries
  // the identical rows through hash exchanges only, and the corpus total
  // derives from the per-token aggregate, not a second corpus pass. The
  // per-doc roll-up is the last hash exchange. The keep predicate
  // compares sur·20 ≤ n_tok·101 (mean surprisal ≤ 5.05) in integers — no
  // division in the decision; the reported q is one IEEE division of two
  // exact integers, which is correctly rounded and therefore
  // bit-identical on both engines.
  private val lmNum = 101
  private val lmDen = 20

  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    TextAnalysis.tokenPostings(spark, "documents")
    // OPTIMIZATION r15 (VERDICT r14 #6 — the lm_ppl fix applied here):
    // the per-token count relation is referenced by the scoring join AND
    // by `tot`; CTE inlining re-aggregated the corpus per reference
    // (plans/r15/pipeline_lm_score_before.txt). The unigram LM is the
    // model — it rides the session swap-cache like lm_c1-3, computed
    // once per corpus epoch, and its exact cached size grounds the
    // planner's join decisions.
    val cnt = Engine.cacheSwap("lm_cnt", spark.sql(
      "SELECT token, sum(tf) AS cnt FROM tok_tf GROUP BY token"))
    cnt.createOrReplaceTempView("lm_cnt")
    spark.sql(
      s"""WITH cnt AS (SELECT token, cnt FROM lm_cnt),
         |tot AS (SELECT sum(cnt) AS total FROM cnt)
         |SELECT doc_id, n_tok, sur,
         |  CAST(sur AS DOUBLE) / n_tok AS q,
         |  CAST(CASE WHEN sur * $lmDen <= n_tok * $lmNum THEN 1 ELSE 0 END AS INT) AS keep
         |FROM (
         |  SELECT tf.doc_id, sum(tf.tf) AS n_tok,
         |    sum(tf.tf * (length(bin(tot.total)) - length(bin(cnt.cnt)))) AS sur
         |  FROM tok_tf tf JOIN cnt ON tf.token = cnt.token CROSS JOIN tot
         |  GROUP BY tf.doc_id) s
         |ORDER BY doc_id""".stripMargin)
  }

  private val lmScoreOracle =
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
       |    FROM documents) t
       |  GROUP BY doc_id, token),
       |cnt AS (SELECT token, sum(tf) AS cnt FROM tf GROUP BY token),
       |tot AS (SELECT sum(tf) AS total FROM tf)
       |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(sur AS BIGINT) AS sur,
       |  CAST(sur AS DOUBLE) / n_tok AS q,
       |  CAST(CASE WHEN sur * $lmDen <= n_tok * $lmNum THEN 1 ELSE 0 END AS INT) AS keep
       |FROM (
       |  SELECT tf.doc_id, sum(tf.tf) AS n_tok,
       |    sum(tf.tf * (length(bin(tot.total)) - length(bin(cnt.cnt)))) AS sur
       |  FROM tf JOIN cnt ON tf.token = cnt.token CROSS JOIN tot
       |  GROUP BY tf.doc_id) s
       |ORDER BY doc_id""".stripMargin

  val lmScoreQ: QueryDef =
    QueryDef.sqlBacked("pipeline_lm_score", lmScoreOracle)(lmScore(_, _))

  // --- Trigram backoff-LM perplexity filtering (the full CCNet shape) -----
  // pipeline_lm_score is the unigram demonstration; CCNet's actual filter
  // is an n-gram LM (KenLM 5-gram) trained on a REFERENCE corpus scoring a
  // TARGET corpus by perplexity (Wenzek et al. 2020 §3.3). This key is
  // that shape at order 3 with stupid backoff (Brants et al. 2007 — the
  // web-scale scoring rule: no discounting state, just count ratios and a
  // fixed backoff penalty α=0.4, which is what makes it expressible as
  // exact integer arithmetic):
  //
  //   S(u | x v) = c3(x v u)/c2(x v)          if the trigram was seen
  //              = α · c2(v u)/c1(v)           else if the bigram was seen
  //              = α² · (c1(u)+1)/(N+V)        else (Laplace floor, OOV-safe)
  //
  // Train/score split (doc_id parity, the NB classifier's slice
  // discipline): counts come from the EVEN half, scored docs are the ODD
  // half — self-scoring would make every trigram arm fire trivially (the
  // ta_bm25 vacuity lesson), while a held-out half exercises all three
  // arms on this corpus, and the per-doc arm tallies (n3/n2/n1) ride in
  // the hashed output so the non-vacuity is oracle-gated, not asserted.
  // All logs are Classify.flog2 (2^16 fixed point); log2(α) is the
  // flog2-consistent constant flog2(2) − flog2(5) = 65536 − 147456 =
  // −81920, so the per-context surprisal is an exact BIGINT and the
  // per-doc sum order-independent. The reported bits-per-context is one
  // IEEE division of exact integers; the keep decision compares
  // sur ≤ n_ctx · T in integers (T = 5.25 flog2-bits = 344064 — the
  // measured held-out median is ~5.24 at both gate tiers, so the filter
  // keeps the low-perplexity head, CCNet's head/middle cut).
  //
  // 100 TB shape: positions collapse into the per-doc trigram tf bag
  // BEFORE any join (ttok_tf, one corpus pass, swap-cached and shared),
  // so the scorer exchanges (doc, distinct-trigram) rows, never
  // positions. The count relations ARE the model — c3/c2 are
  // corpus-vocabulary-sized (in production you'd threshold rare n-grams
  // exactly like KenLM pruning; the join shape is unchanged) — and
  // attach by hash joins on the n-gram string keys with map-side
  // combine, the lmScore join spelling. No window, no global sort; the
  // per-doc roll-up is the last hash exchange.
  private val lmPplT = 344064L
  private val lmPplLog04 = -81920L

  def lmPpl(spark: SparkSession, dir: String): DataFrame = {
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")
    lmPplOver(spark)
  }

  /** [[lmPpl]] over whatever relation is registered as `documents` —
    * the spec's planted-corpus entry point (flog2 hand-checks need a
    * corpus whose counts fit in a comment). */
  private[graft] def lmPplOver(spark: SparkSession): DataFrame = {
    // OPTIMIZATION r15: only the TRIGRAM posting relation has two readers
    // here (c3 trains on its even half, scoring reads its odd half), so
    // only it rides the session cache. The uni/bigram relations were
    // materialized as full InMemoryRelations solely to be rolled up into
    // the vocabulary-sized c1/c2 models — the roll-ups now consume the
    // kernel posting stream directly and the two corpus-sized cache
    // materializations disappear from the one-shot cost.
    TextAnalysis.trigramPostings(spark, "documents")
    // OPTIMIZATION r14 (guide §2.4 / §7.2 "duplicated subtrees"): the
    // score SQL references c2 twice (bxv and bvu arms) and c1 three
    // times (uv, uu, tot) — CTE inlining re-AGGREGATED the train half
    // per reference (plans/r14/pipeline_lm_ppl_before.txt: five
    // Exchange+HashAggregate pairs + a sixth two-level pair under tot,
    // for three distinct relations). The count relations ARE the model
    // (vocabulary-sized, the same class as tok_tf itself), so they ride
    // the session swap-cache like every other posting relation: each is
    // computed once per corpus epoch, every reference reads the
    // InMemoryRelation, and — because cached relations carry EXACT size
    // statistics — the planner's broadcast decision for the five probe
    // joins is grounded at any tier instead of estimated.
    def model(key: String, n: Int): Unit = {
      val df = Engine.cacheSwap(key,
        TextAnalysis.ngramPostingsDf(spark,
          "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)", n)
          .groupBy("token")
          .agg(org.apache.spark.sql.functions.sum("tf").as("c")))
      df.createOrReplaceTempView(key)
    }
    model("lm_c1", 1)
    model("lm_c2", 2)
    val c3 = Engine.cacheSwap("lm_c3", spark.sql(
      "SELECT token, sum(tf) AS c FROM ttok_tf WHERE doc_id % 2 = 0 GROUP BY token"))
    c3.createOrReplaceTempView("lm_c3")
    spark.sql(lmPplScoreSparkSql(
      "SELECT token, c FROM lm_c1",
      "SELECT token, c FROM lm_c2",
      "SELECT token, c FROM lm_c3"))
  }

  /** The scorer over arbitrary count relations (token, c) — the plain
    * key passes the train-half aggregates; the retractable key
    * (`ivm_lm`, [[graft.queries.Ivm]]) passes its maintained views.
    * The score side always reads the held-out odd half of `ttok_tf`. */
  private[graft] def lmPplScoreSparkSql(c1Rel: String, c2Rel: String,
      c3Rel: String): String = {
    def f(x: String) = Classify.flog2Spark(x)
    s"""WITH c1 AS ($c1Rel),
         |c2 AS ($c2Rel),
         |c3 AS ($c3Rel),
         |tot AS (SELECT sum(c) AS n, count(*) AS v FROM c1),
         |keys AS (
         |  SELECT doc_id, tf, token,
         |    concat(p[0], ' ', p[1]) AS bxv,
         |    concat(p[1], ' ', p[2]) AS bvu,
         |    p[1] AS v, p[2] AS u
         |  FROM (SELECT doc_id, tf, token, split(token, ' ') AS p
         |        FROM ttok_tf WHERE doc_id % 2 = 1)),
         |scored AS (
         |  SELECT k.doc_id, k.tf,
         |    CASE WHEN t3.c IS NOT NULL THEN 1
         |         WHEN b2.c IS NOT NULL THEN 2 ELSE 3 END AS arm,
         |    CASE WHEN t3.c IS NOT NULL THEN -(${f("t3.c")} - ${f("bx.c")})
         |         WHEN b2.c IS NOT NULL THEN
         |           -($lmPplLog04 + ${f("b2.c")} - ${f("uv.c")})
         |         ELSE -(2 * $lmPplLog04 +
         |           ${f("(coalesce(uu.c, 0) + 1)")} - ${f("(tot.n + tot.v)")})
         |    END AS surp
         |  FROM keys k
         |  LEFT JOIN c3 t3 ON t3.token = k.token
         |  LEFT JOIN c2 bx ON bx.token = k.bxv
         |  LEFT JOIN c2 b2 ON b2.token = k.bvu
         |  LEFT JOIN c1 uv ON uv.token = k.v
         |  LEFT JOIN c1 uu ON uu.token = k.u
         |  CROSS JOIN tot)
         |SELECT doc_id, n_ctx, n3, n2, n1, sur,
         |  CAST(sur AS DOUBLE) / CAST(n_ctx * 65536 AS DOUBLE) AS bits,
         |  CAST(CASE WHEN sur <= n_ctx * $lmPplT THEN 1 ELSE 0 END AS INT) AS keep
         |FROM (
         |  SELECT doc_id, sum(tf) AS n_ctx,
         |    sum(CASE WHEN arm = 1 THEN tf ELSE 0 END) AS n3,
         |    sum(CASE WHEN arm = 2 THEN tf ELSE 0 END) AS n2,
         |    sum(CASE WHEN arm = 3 THEN tf ELSE 0 END) AS n1,
         |    sum(tf * surp) AS sur
         |  FROM scored GROUP BY doc_id) s
         |ORDER BY doc_id""".stripMargin
  }

  /** The oracle over an arbitrary train predicate — the plain key
    * trains on the even half; the retractable key (`ivm_lm`) passes the
    * edited-slice predicate so DuckDB recomputes the edited model from
    * scratch. The score side is always the held-out odd half. */
  private[graft] def lmPplOracleOver(trainPred: String): String = {
    def f(x: String) = Classify.flog2Duck(x)
    s"""WITH u1 AS (${TextAnalysis.unigramDtDuck("documents")}),
       |b1 AS (${TextAnalysis.bigramDtDuck("documents")}),
       |t1 AS (${TextAnalysis.trigramDtDuck("documents")}),
       |c1 AS (SELECT token, sum(tf) AS c FROM u1 WHERE $trainPred GROUP BY token),
       |c2 AS (SELECT token, sum(tf) AS c FROM b1 WHERE $trainPred GROUP BY token),
       |c3 AS (SELECT token, sum(tf) AS c FROM t1 WHERE $trainPred GROUP BY token),
       |tot AS (SELECT sum(c) AS n, count(*) AS v FROM c1),
       |keys AS (
       |  SELECT doc_id, tf, token,
       |    p[1] || ' ' || p[2] AS bxv,
       |    p[2] || ' ' || p[3] AS bvu,
       |    p[2] AS v, p[3] AS u
       |  FROM (SELECT doc_id, tf, token, string_split(token, ' ') AS p
       |        FROM t1 WHERE doc_id % 2 = 1)),
       |scored AS (
       |  SELECT k.doc_id, k.tf,
       |    CASE WHEN t3.c IS NOT NULL THEN 1
       |         WHEN b2.c IS NOT NULL THEN 2 ELSE 3 END AS arm,
       |    CASE WHEN t3.c IS NOT NULL THEN -(${f("t3.c")} - ${f("bx.c")})
       |         WHEN b2.c IS NOT NULL THEN
       |           -($lmPplLog04 + ${f("b2.c")} - ${f("uv.c")})
       |         ELSE -(2 * $lmPplLog04 +
       |           ${f("(coalesce(uu.c, 0) + 1)")} - ${f("(tot.n + tot.v)")})
       |    END AS surp
       |  FROM keys k
       |  LEFT JOIN c3 t3 ON t3.token = k.token
       |  LEFT JOIN c2 bx ON bx.token = k.bxv
       |  LEFT JOIN c2 b2 ON b2.token = k.bvu
       |  LEFT JOIN c1 uv ON uv.token = k.v
       |  LEFT JOIN c1 uu ON uu.token = k.u
       |  CROSS JOIN tot)
       |SELECT doc_id, CAST(n_ctx AS BIGINT) AS n_ctx,
       |  CAST(n3 AS BIGINT) AS n3, CAST(n2 AS BIGINT) AS n2,
       |  CAST(n1 AS BIGINT) AS n1, CAST(sur AS BIGINT) AS sur,
       |  CAST(sur AS DOUBLE) / CAST(n_ctx * 65536 AS DOUBLE) AS bits,
       |  CAST(CASE WHEN sur <= n_ctx * $lmPplT THEN 1 ELSE 0 END AS INT) AS keep
       |FROM (
       |  SELECT doc_id, sum(tf) AS n_ctx,
       |    sum(CASE WHEN arm = 1 THEN tf ELSE 0 END) AS n3,
       |    sum(CASE WHEN arm = 2 THEN tf ELSE 0 END) AS n2,
       |    sum(CASE WHEN arm = 3 THEN tf ELSE 0 END) AS n1,
       |    sum(tf * surp) AS sur
       |  FROM scored GROUP BY doc_id) s
       |ORDER BY doc_id""".stripMargin
  }

  private val lmPplOracle = lmPplOracleOver("doc_id % 2 = 0")

  val lmPplQ: QueryDef =
    QueryDef.sqlBacked("pipeline_lm_ppl", lmPplOracle)(lmPpl(_, _))

  val all: Seq[QueryDef] =
    Seq(curate, sample, sampleExact, decontam, decontamSpanQ, mix, pack, chunk,
      stats, rag, split, shuffle, srcCapQ, lmScoreQ, lmPplQ)
}
