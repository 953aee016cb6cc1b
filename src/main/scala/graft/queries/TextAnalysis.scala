package graft.queries

import graft.{Engine, QueryDef}
import graft.sources.StoredParquet
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text-analysis operators for training-data pipelines over `documents`:
  * token counting, quality scoring, marker-word language ID, and content
  * fingerprinting. All four are pure per-row projections — they pipeline
  * inside one whole-stage-codegen span over the scan, shuffle-free, which
  * is exactly the shape you want when scoring 100 TB of text.
  *
  * Every rule is expressed with engine-portable functions (regexp counts,
  * md5, scalar IEEE arithmetic with a fixed expression tree) so the DuckDB
  * oracle runs the identical logic.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): Unit =
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")

  /** Materialize the corpus token-posting aggregate (doc_id, token, tf)
    * ONCE per session+corpus as the swap-cached view `tok_tf` — the
    * in-session stand-in for a persisted inverted index. A CTE spelling
    * of the same relation gets RE-PLANNED per consumer (ta_bm25's first
    * cut scanned the corpus 12×: dt fed dl, st, qt, dfq and p, and
    * Catalyst inlines multi-referenced CTEs), which at sf100 tripled the
    * corpus pass. cacheSwap keys on the logical plan, so a different
    * corpus dir swaps the cache and the SAME dir — including every
    * micro-batch of a streaming probe — reuses it for free. */
  // OPTIMIZATION r14: the three posting builders tokenize through the
  // word_ngrams codegen kernel instead of the interpreted
  // filter/zip_with/transform lambda chains — identical token arrays
  // (WordNgramsSpec pins kernel ≡ each HOF spelling; every consumer's
  // DuckDB oracle re-tokenizes independently and stays hash-green), one
  // generated byte walk per document on what is THE corpus pass of the
  // whole text pipeline.
  // OPTIMIZATION r15 (guide §2.4): the `explode … GROUP BY doc_id, token`
  // aggregate is replaced by the word_ngram_tfs kernel — doc_id is unique
  // per corpus row, so no (doc_id, token) group ever spans rows and the
  // aggregate's corpus-wide Exchange only re-combined rows that were
  // already co-located. The posting relation is now a pure projection of
  // the corpus scan (zero exchanges before the cache materializes);
  // identical (doc_id, token, tf) rows by construction (WordNgramsSpec
  // pins kernel ≡ the GROUP BY spelling; the DuckDB oracles aggregate
  // independently). Measured at sf10: 2.5-3.2 s → ~1 s for the unigram
  // build pass.
  /** (doc_id, text) of `corpusRel` with scan parallelism restored when
    * the file layout under-splits (OPTIMIZATION r15, guide §8 "move the
    * light rows to parallelize the heavy work"): removing the posting
    * aggregate's Exchange (word_ngram_tfs) left the kernel + cache
    * materialization bound to the corpus scan's split count, and the
    * local tiers' documents.parquet packs into ONE 128 MB split — the
    * whole tokenize ran on one core (measured: ta_bm25_bigram sf1
    * one-shot 5.1 s). When the scan has fewer partitions than the
    // session's shuffle parallelism — by definition a small corpus,
    // under cores × maxPartitionBytes — ONE narrow exchange of the raw
    // text rows (~1/10 the exploded posting bytes) fans the per-row work
    // out; at 100 TB the scan has natural parallelism and this is a
    // no-op. hash(doc_id) placement (deterministic, no round-robin
    // sort), which downstream per-doc consumers (dl roll-up, the dsir
    // and NB label windows) can then reuse as their distribution. */
  private[queries] def parallelCorpus(spark: SparkSession, corpusRel: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val src = spark.sql(s"SELECT doc_id, text FROM $corpusRel t")
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (src.rdd.getNumPartitions < p) src.repartition(p, col("doc_id")) else src
  }

  /** The (doc_id, token, tf) posting stream of `corpusRel` — the kernel
    * projection, NOT cached: callers that read the relation once (model
    * roll-ups, index writes, the dsir bucket window) consume it directly
    * instead of paying an InMemoryRelation materialization nothing ever
    * re-reads (OPTIMIZATION r15); multi-reader paths go through the
    * tokenPostings/bigramPostings/trigramPostings caches. */
  private[graft] def ngramPostingsDf(spark: SparkSession, corpusRel: String,
      n: Int): org.apache.spark.sql.DataFrame =
    parallelCorpus(spark, corpusRel)
      .selectExpr("doc_id", s"inline(word_ngram_tfs(lower(text), $n))")

  private def ngramAggDf(spark: SparkSession, corpusRel: String, n: Int) =
    ngramPostingsDf(spark, corpusRel, n)

  private[queries] def tokenPostings(spark: SparkSession, corpusRel: String): Unit = {
    val tf = Engine.cacheSwap("tok_tf", ngramAggDf(spark, corpusRel, 1))
    tf.createOrReplaceTempView("tok_tf")
  }

  /** Word-BIGRAM posting aggregate (doc_id, "w_i w_i+1", tf) — swap-cached
    * view `btok_tf`; same one-corpus-pass discipline as [[tokenPostings]].
    * Bigrams are the retrieval-grade token unit on this corpus: the driver's
    * synthetic documents share a stopword-dense unigram vocabulary (every
    * unigram's df lands within a power of two of N, so bitlen-idf is 0 and
    * unigram BM25 ranks nothing — VERDICT r12 #1), while bigram df collapses
    * to double digits and every query bigram carries positive idf. A doc
    * with fewer than two tokens owns no bigrams and drops out of N/avgdl —
    * a declared contract the oracle replays. */
  /** The bigram posting aggregate as Spark SQL over `srcRel` — shared by
    * the session cache ([[bigramPostings]]) and the LSM delta-segment
    * writer ([[writeBm25IndexSlice]], which must tokenize only its slice
    * without evicting the session's full-corpus cache). */
  private[graft] def bigramPostings(spark: SparkSession, corpusRel: String): Unit = {
    val tf = Engine.cacheSwap("btok_tf", ngramAggDf(spark, corpusRel, 2))
    tf.createOrReplaceTempView("btok_tf")
  }

  /** Word-TRIGRAM posting aggregate (doc_id, "w_i w_i+1 w_i+2", tf) —
    * swap-cached view `ttok_tf`; same one-corpus-pass discipline as
    * [[tokenPostings]]/[[bigramPostings]]. The trigram relation is the
    * backoff LM's top order (`pipeline_lm_ppl`): its per-doc tf bag is
    * all the scorer needs (surprisal depends only on the context triple,
    * so positions collapse into counts before any join). Docs with fewer
    * than three tokens own no trigrams and drop out of scoring — a
    * declared contract the oracle replays. */
  private[queries] def trigramPostings(spark: SparkSession, corpusRel: String): Unit = {
    val tf = Engine.cacheSwap("ttok_tf", ngramAggDf(spark, corpusRel, 3))
    tf.createOrReplaceTempView("ttok_tf")
  }

  /** Oracle twin of [[trigramPostings]] (1-indexed list ops; the len<3
    * guard kept for parity with the Spark spelling, where a descending
    * sequence() would otherwise fire). */
  private[queries] def trigramDtDuck(srcRel: String): String =
    s"""SELECT doc_id, token, count(*) AS tf FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(tk) < 3 THEN []
       |    ELSE list_transform(generate_series(1, len(tk) - 2),
       |                        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) END) AS token
       |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
       |        FROM $srcRel))
       |GROUP BY doc_id, token""".stripMargin

  /** The bigram posting aggregate as DuckDB SQL over `srcRel` — the oracle
    * twin of [[bigramPostings]] (1-indexed list ops; generate_series(1, 0)
    * is empty so the len<2 guard only spares the lambda, kept for parity
    * with the Spark spelling where sequence(1, 0) would NOT be empty). */
  private[queries] def bigramDtDuck(srcRel: String): String =
    s"""SELECT doc_id, token, count(*) AS tf FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN []
       |    ELSE list_transform(generate_series(1, len(tk) - 1),
       |                        i -> tk[i] || ' ' || tk[i + 1]) END) AS token
       |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
       |        FROM $srcRel))
       |GROUP BY doc_id, token""".stripMargin

  // --- token counting: whitespace runs + a BPE-ish subword regex ----------
  private val tokenCountSpark =
    """SELECT doc_id,
      |  CAST(size(regexp_extract_all(text, '\\S+', 0)) AS INT) AS n_tokens,
      |  CAST(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS INT) AS n_subwords,
      |  CAST(length(text) AS INT) AS n_chars_measured
      |FROM documents ORDER BY doc_id""".stripMargin

  val tokenCount: QueryDef = QueryDef.sqlBacked(
    "ta_token_count",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_subwords,
      |  CAST(length(text) AS INT) AS n_chars_measured
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (spark, dir) => docs(spark, dir); spark.sql(tokenCountSpark) }

  // --- quality scoring: length / punctuation / stopword / repetition ------
  // Fixed-shape double arithmetic → bitwise-identical across engines.
  val quality: QueryDef = QueryDef.sqlBacked(
    "ta_quality",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) AS punct_ratio,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE)
      |    / len(regexp_extract_all(text, '\S+')) AS stopword_ratio,
      |  CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS DOUBLE)
      |    / len(regexp_extract_all(lower(text), '[a-z]+')) AS distinct_ratio
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    spark.sql(
      """SELECT doc_id,
        |  CAST(size(regexp_extract_all(text, '\\S+', 0)) AS INT) AS n_tokens,
        |  CAST(size(regexp_extract_all(text, '[.,;:!?]', 0)) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(size(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b', 0)) AS DOUBLE)
        |    / size(regexp_extract_all(text, '\\S+', 0)) AS stopword_ratio,
        |  CAST(size(array_distinct(regexp_extract_all(lower(text), '[a-z]+', 0))) AS DOUBLE)
        |    / size(regexp_extract_all(lower(text), '[a-z]+', 0)) AS distinct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)
  }

  // --- language ID: marker-word scoring heuristic -------------------------
  // Deterministic argmax over per-language marker hit counts, tie-broken
  // in a fixed language order; 'und' when nothing matches.
  private val langCase =
    """CASE
      |  WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
      |  WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
      |  WHEN fr >= de AND fr > 0 THEN 'fr'
      |  WHEN de > 0 THEN 'de'
      |  ELSE 'und' END""".stripMargin

  val langId: QueryDef = QueryDef.sqlBacked(
    "ta_langid",
    // NOTE this is an s-interpolated string, so escapes ARE processed even
    // in triple quotes: "\\b" here emits the two chars \b, which DuckDB's
    // raw string literal passes through to the regex as a word boundary.
    s"""SELECT doc_id, lang AS labeled_lang, $langCase AS predicted_lang FROM (
       |  SELECT doc_id, lang,
       |    len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS en,
       |    len(regexp_extract_all(lower(text), '\\b(el|la|de|que|y)\\b')) AS es,
       |    len(regexp_extract_all(lower(text), '\\b(le|les|des|et|une)\\b')) AS fr,
       |    len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS de
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    // Interpolated string + Spark SQL literal each strip one backslash
    // level, so the regex word boundary \b needs four here.
    spark.sql(
      s"""SELECT doc_id, lang AS labeled_lang, $langCase AS predicted_lang FROM (
         |  SELECT doc_id, lang,
         |    size(regexp_extract_all(lower(text), '\\\\b(the|and|of|to|is)\\\\b', 0)) AS en,
         |    size(regexp_extract_all(lower(text), '\\\\b(el|la|de|que|y)\\\\b', 0)) AS es,
         |    size(regexp_extract_all(lower(text), '\\\\b(le|les|des|et|une)\\\\b', 0)) AS fr,
         |    size(regexp_extract_all(lower(text), '\\\\b(der|die|und|das|ist)\\\\b', 0)) AS de
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin)
  }

  // --- document fingerprinting --------------------------------------------
  // Content fingerprint = md5 of whitespace-normalized lowercase text
  // (portable); plus a 64-bit rolling-style hash for bucketing (xxhash64,
  // Spark-side only — the oracle checks the md5).
  val fingerprint: QueryDef = QueryDef.sqlBacked(
    "ta_fingerprint",
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_fp
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    spark.sql(
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ')) AS content_fp
        |FROM documents ORDER BY doc_id""".stripMargin)
  }

  // --- winnowing fingerprints (Schleimer et al., SIGMOD 2003 — MOSS) ------
  // The robust-fingerprint upgrade over ta_fingerprint's whole-doc md5:
  // hash every k-gram, slide a window of w consecutive hashes, select the
  // MINIMUM per window (ties → rightmost). Guarantee: any shared substring
  // of length ≥ w+k-1 (here 11 chars) yields a shared fingerprint, with
  // expected density 2/(w+1) — the standard local-similarity detector for
  // plagiarism/near-dup forensics where banded LSH is too coarse.
  //
  // Determinism across engines comes from pure integer arithmetic: the
  // rightmost-min rule is encoded as min(h30·2³² + (2³²−1−pos)) — the
  // window minimum of that single BIGINT picks the smallest 30-bit gram
  // hash and, among equal hashes, the LARGEST position; fp and pos decode
  // back by div/mod. Field widths are chosen so the encoding can NEVER
  // overflow on representable input (ADVICE r9: the old 2²¹ position
  // field went negative past ~2.1 M gram positions — ~2 MB documents —
  // and borrowed into the hash bits, silently corrupting fingerprints on
  // both engines at once): positions are capped by the JVM/DuckDB string
  // limit (< 2³¹ chars) < 2³² field, and h30 < 2³⁰ keeps the sum under
  // 2⁶². 30-bit gram hashes are MOSS-scale (it uses 32-bit); the
  // fingerprint is a similarity heuristic, not an identity.
  //
  // 100 TB shape: explode is per-row (one row per gram position), the only
  // exchange is the doc-keyed window sort + the fingerprint-triple
  // DISTINCT — document bodies never shuffle, and selected triples are
  // ~2n/(w+1) per doc. Char-gram granularity is the demo parameter; the
  // plan shape is invariant under token-gram winnowing at larger k.
  private val winnowK = 8
  private val winnowW = 4
  private val winnowPosSpace = 1L << 32 // > max JVM/DuckDB string length
  private val winnowHashSpace = 1L << 30

  val winnow: QueryDef = QueryDef.sqlBacked(
    "ta_winnow",
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |),
       |g0 AS (
       |  SELECT doc_id, t, length(t) - $winnowK + 1 AS n
       |  FROM norm WHERE length(t) >= $winnowK
       |),
       |grams AS (
       |  SELECT doc_id, unnest(range(1, n + 1)) AS p, n, t FROM g0
       |),
       |h AS (
       |  SELECT doc_id, p, n,
       |    ${Dedup.portableHash60Duck(s"substr(t, CAST(p AS INT), $winnowK)")} % $winnowHashSpace AS h30
       |  FROM grams
       |),
       |sel AS (
       |  SELECT doc_id, p, n,
       |    min(h30 * $winnowPosSpace + (${winnowPosSpace - 1} - p)) OVER
       |      (PARTITION BY doc_id ORDER BY p
       |       ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS m
       |  FROM h
       |)
       |SELECT DISTINCT doc_id,
       |  CAST(${winnowPosSpace - 1} - (m % $winnowPosSpace) AS INT) AS pos,
       |  CAST(m // $winnowPosSpace AS BIGINT) AS fp
       |FROM sel WHERE p <= n - $winnowW + 1
       |ORDER BY doc_id, pos""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    spark.sql(
      s"""WITH norm AS (
         |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\\\s+', ' ') AS t
         |  FROM documents
         |),
         |g0 AS (
         |  SELECT doc_id, t, length(t) - $winnowK + 1 AS n
         |  FROM norm WHERE length(t) >= $winnowK
         |),
         |grams AS (
         |  SELECT doc_id, p, n, t
         |  FROM g0 LATERAL VIEW explode(sequence(1, n)) s AS p
         |),
         |h AS (
         |  SELECT doc_id, p, n,
         |    ${Dedup.portableHash60Spark(s"substring(t, p, $winnowK)")} % $winnowHashSpace AS h30
         |  FROM grams
         |),
         |sel AS (
         |  SELECT doc_id, p, n,
         |    min(h30 * $winnowPosSpace + (${winnowPosSpace - 1} - p)) OVER
         |      (PARTITION BY doc_id ORDER BY p
         |       ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS m
         |  FROM h
         |)
         |SELECT DISTINCT doc_id,
         |  CAST(${winnowPosSpace - 1} - (m % $winnowPosSpace) AS INT) AS pos,
         |  CAST(m div $winnowPosSpace AS BIGINT) AS fp
         |FROM sel WHERE p <= n - $winnowW + 1
         |ORDER BY doc_id, pos""".stripMargin)
  }

  // --- vocabulary building: corpus term + document frequencies ------------
  // The tokenizer stage of a training pipeline: explode tokens, aggregate
  // term frequency and document frequency, keep the top of the
  // distribution. The shuffle carries (token, partial counts) after
  // map-side combine — corpus bodies never move. df comes from
  // count(DISTINCT doc_id) per token: bounded per group, no expand blowup.
  val vocab: QueryDef = QueryDef.sqlBacked(
    "ta_vocab",
    """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
      |  FROM documents) t
      |GROUP BY token
      |ORDER BY tf DESC, token
      |LIMIT 100""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    // Pre-aggregate per (doc_id, token): tf is then a sum of counts and
    // df a plain row count — one explode, two map-side-combining hash
    // aggs, and no count-distinct expand. Same numbers as the oracle's
    // textbook spelling by definition.
    // OPTIMIZATION r15: the per-doc count comes from the word_ngram_tfs
    // kernel (doc_id unique per row — see tokenPostings), so the ONLY
    // exchange left is the token roll-up (plus parallelCorpus's
    // conditional text fan-out on under-split local layouts).
    ngramAggDf(spark, "documents", 1).createOrReplaceTempView("vocab_dt")
    spark.sql(
      """SELECT token, sum(tf) AS tf, count(*) AS df
        |FROM vocab_dt GROUP BY token
        |ORDER BY tf DESC, token
        |LIMIT 100""".stripMargin)
  }

  // --- TF-IDF term extraction: top-3 weighted terms per document ----------
  // idf is the *rational* form N/df (not log(N/df)): libm log() is not
  // bit-identical across engines, while tf·N/df is one exact integer
  // product and one correctly-rounded division on both. Ranking is
  // unaffected (log is monotonic). Per-doc top-k goes through a
  // row_number window — each partition contributes k rows, not its whole
  // term list.
  val tfidf: QueryDef = QueryDef.sqlBacked(
    "ta_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
      |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, token, score, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT tf.doc_id, tf.token,
      |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC, tf.token) AS rnk
      |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n) t
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    // tf first, then df OVER tf: a token's document frequency is its row
    // count in the (doc_id, token) aggregate, so the corpus is exploded
    // and shuffled ONCE, and df comes from a count window partitioned by
    // token over that aggregate — one exchange feeding a single-pass
    // unbounded frame, where a separate df aggregate + equi-join back on
    // token costs an extra aggregation branch and the join itself
    // (measured at sf10: 7.9 s → 5.2 s warm). Broadcasting df instead
    // also measured slower (7.7 s vs 6.6 s same-session) and is wrong at
    // scale anyway: vocabulary grows with the corpus, so the broadcast
    // side is unbounded. The oracle keeps the textbook two-pass
    // spelling; results are identical by definition of df.
    // OPTIMIZATION r15: tf comes from the word_ngram_tfs kernel (doc_id
    // unique per row — see tokenPostings), removing the (doc_id, token)
    // aggregate exchange; the df window's token exchange is now the
    // corpus pass's first shuffle (plus parallelCorpus's conditional
    // text fan-out on under-split local layouts).
    ngramAggDf(spark, "documents", 1).createOrReplaceTempView("tfidf_tf")
    spark.sql(
      s"""WITH tf AS (SELECT doc_id, token, tf FROM tfidf_tf),
        |tfdf AS (SELECT doc_id, token, tf,
        |  count(*) OVER (PARTITION BY token) AS df FROM tf),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, token, score, rnk FROM (
        |  SELECT tfdf.doc_id, tfdf.token,
        |    CAST(tfdf.tf * n.n AS DOUBLE) / tfdf.df AS score,
        |    row_number() OVER (PARTITION BY tfdf.doc_id
        |      ORDER BY CAST(tfdf.tf * n.n AS DOUBLE) / tfdf.df DESC, tfdf.token) AS rnk
        |  FROM tfdf CROSS JOIN n) t
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin)
  }

  // --- repetition filters (Gopher-style, Rae et al. 2021 §A1.1) -----------
  // Two standard training-data repetition signals per document:
  //   - dup_3gram_frac: fraction of word-3-grams that repeat an earlier
  //     occurrence (1 − distinct/total);
  //   - top_word_frac: share of the single most frequent token.
  // The Spark side is a pure per-row projection — the most-frequent-token
  // count folds over the SORTED token array (max multiplicity = longest
  // equal run), so no explode/groupBy shuffle touches the corpus; at
  // 100 TB this scores at scan speed like the other ta_* ops. The oracle
  // computes the same numbers the expensive way (unnest + GROUP BY) —
  // equality proves the fold. Thresholds sit inside the observed sf0.01
  // distribution (dup ≤ 0.02, top ≤ 0.12) so `keep` splits both ways.
  val repetition: QueryDef = QueryDef.sqlBacked(
    "ta_repetition",
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, len(tokens) AS nt, len(tokens) - 2 AS n3,
      |    len(list_distinct(list_transform(range(1, len(tokens)-1),
      |      i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))) AS n3d
      |  FROM toks WHERE len(tokens) >= 3
      |), wc AS (
      |  SELECT doc_id, max(c) AS topc FROM (
      |    SELECT doc_id, w, count(*) AS c
      |    FROM (SELECT doc_id, unnest(tokens) AS w FROM toks) GROUP BY doc_id, w
      |  ) GROUP BY doc_id
      |)
      |SELECT g.doc_id,
      |  CAST(nt AS INT) AS n_tokens,
      |  CAST(n3 - n3d AS DOUBLE) / n3 AS dup_3gram_frac,
      |  CAST(topc AS DOUBLE) / nt AS top_word_frac,
      |  (CAST(n3 - n3d AS DOUBLE) / n3 <= 0.02
      |    AND CAST(topc AS DOUBLE) / nt <= 0.12) AS keep
      |FROM g JOIN wc ON g.doc_id = wc.doc_id
      |ORDER BY g.doc_id""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    scoreRepetition(Engine.table(spark, dir, "documents"))
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
  }

  /** The repetition scoring as a reusable STATELESS transform over a
    * frame with (doc_id, text) — identical expressions to the
    * [[repetition]] oracle; works unchanged on a streaming DataFrame
    * (no aggregation, no state — StreamingSpec pins stream ≡ batch). */
  def scoreRepetition(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // the integer statistics come from the rep_stats codegen kernel
    // (functions/SketchExpressions.RepStats) — one generated loop instead
    // of three interpreted lambda passes; the fractions below divide the
    // same exact integers the SQL spelling produced, so the oracle is
    // unchanged (RepStatsSpec pins kernel ≡ HOF spelling)
    df.selectExpr("doc_id", "filter(split(text, ' '), x -> x <> '') AS tokens")
      .where("size(tokens) >= 3")
      .selectExpr("doc_id", "rep_stats(tokens) AS st")
      .selectExpr(
        "doc_id",
        "CAST(st[0] AS INT) AS n_tokens",
        "CAST(st[1] - st[2] AS DOUBLE) / st[1] AS dup_3gram_frac",
        "CAST(st[3] AS DOUBLE) / st[0] AS top_word_frac",
        """(CAST(st[1] - st[2] AS DOUBLE) / st[1] <= 0.02
          |  AND CAST(st[3] AS DOUBLE) / st[0] <= 0.12) AS keep""".stripMargin)

  // --- PII detection + redaction ------------------------------------------
  // Standard pre-training scrub (emails / IPv4 / phone-shaped strings —
  // the C4/Dolma rule family): per-doc match counts plus a redacted text
  // where each span is replaced by a type tag. The synthetic corpus
  // contains no organic PII, so both sides inject deterministic fake PII
  // into the doc_id % 5/7/11 slices first — the detector is exercised on
  // real positives AND real negatives, and redaction correctness is pinned
  // by the md5 of the redacted text. Pure per-row projection: one codegen
  // span, shuffle-free, scan-speed at 100 TB. The regexes stay inside the
  // RE2 ∩ java.util.regex common subset so both engines match identically.
  private val piiInjectSpark =
    """SELECT doc_id, concat(text,
      |  CASE WHEN doc_id % 5 = 0
      |       THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com now') ELSE '' END,
      |  CASE WHEN doc_id % 7 = 0
      |       THEN concat(' from 10.', CAST(doc_id % 256 AS STRING), '.0.1 host') ELSE '' END,
      |  CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199 today' ELSE '' END) AS text
      |FROM documents""".stripMargin
  private val piiInjectDuck =
    """SELECT doc_id, concat(text,
      |  CASE WHEN doc_id % 5 = 0
      |       THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com now') ELSE '' END,
      |  CASE WHEN doc_id % 7 = 0
      |       THEN concat(' from 10.', CAST(doc_id % 256 AS VARCHAR), '.0.1 host') ELSE '' END,
      |  CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199 today' ELSE '' END) AS text
      |FROM documents""".stripMargin

  val pii: QueryDef = QueryDef.sqlBacked(
    "ta_pii",
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS INT) AS n_ips,
       |  CAST(len(regexp_extract_all(text, '\\b555-[0-9]{4}\\b')) AS INT) AS n_phones,
       |  (len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
       |   + len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
       |   + len(regexp_extract_all(text, '\\b555-[0-9]{4}\\b'))) > 0 AS has_pii,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
       |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
       |    '\\b555-[0-9]{4}\\b', '<PHONE>', 'g')) AS redacted_fp
       |FROM ($piiInjectDuck) t
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    scrubPii(spark.sql(piiInjectSpark))
      .selectExpr("doc_id", "n_emails", "n_ips", "n_phones", "has_pii",
        "md5(redacted) AS redacted_fp")
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
  }

  /** The PII scrub as a reusable STATELESS transform over a frame with
    * (doc_id, text): per-row match counts plus the redacted text. No
    * aggregation, no state — it runs unchanged on a streaming DataFrame
    * (StreamingSpec pins stream ≡ batch). The [[pii]] QueryDef wraps this
    * with the fake-PII injection and folds `redacted` to its md5 for the
    * scalar-only driver compare. */
  def scrubPii(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.selectExpr(
      "doc_id",
      "CAST(size(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\\\.[a-z]{2,}', 0)) AS INT) AS n_emails",
      "CAST(size(regexp_extract_all(text, '\\\\b[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\b', 0)) AS INT) AS n_ips",
      "CAST(size(regexp_extract_all(text, '\\\\b555-[0-9]{4}\\\\b', 0)) AS INT) AS n_phones",
      """(size(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', 0))
        | + size(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', 0))
        | + size(regexp_extract_all(text, '\\b555-[0-9]{4}\\b', 0))) > 0 AS has_pii""".stripMargin,
      """regexp_replace(regexp_replace(regexp_replace(text,
        |  '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>'),
        |  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>'),
        |  '\\b555-[0-9]{4}\\b', '<PHONE>') AS redacted""".stripMargin)

  // --- corpus-level boilerplate fraction (RefinedWeb/CCNet rule family) ---
  // Cross-document repetition, the complement of ta_repetition's
  // within-document signals: the fraction of a doc's distinct word-5-grams
  // that also occur in OTHER documents (df ≥ 2) — headers, footers,
  // license blocks, near-dup cluster members all light up. Scale shape:
  // the df aggregation shuffles (gram, partial-count) pairs with map-side
  // combine; the qualifying boilerplate-gram set is the small head of the
  // distribution, so it BROADCASTS back against the doc grams and only
  // MATCHED (doc_id, gram) pairs shuffle into the per-doc count (same
  // pattern as pipeline_decontaminate; falls back to a hash join on the
  // gram hash if a pathological corpus makes the set large). keep
  // threshold 0.5 splits the sf0.01 corpus 453/47.
  val boilerplate: QueryDef = QueryDef.sqlBacked(
    "ta_boilerplate",
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
      |  FROM documents),
      |docg AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tokens)-3),
      |    i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2], tokens[i+3], tokens[i+4]))) AS grams
      |  FROM tok WHERE len(tokens) >= 5),
      |g AS (SELECT doc_id, unnest(grams) AS gram FROM docg),
      |df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
      |hits AS (
      |  SELECT g.doc_id, count(*) AS n_boiler
      |  FROM g JOIN df USING (gram) WHERE df.df >= 2 GROUP BY g.doc_id)
      |SELECT d.doc_id,
      |  CAST(len(d.grams) AS INT) AS n_grams,
      |  CAST(coalesce(h.n_boiler, 0) AS INT) AS n_boiler,
      |  CAST(coalesce(h.n_boiler, 0) AS DOUBLE) / len(d.grams) AS boiler_frac,
      |  CAST(coalesce(h.n_boiler, 0) AS DOUBLE) / len(d.grams) <= 0.5 AS keep
      |FROM docg d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |ORDER BY d.doc_id""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    // The exploded (doc_id, gram) relation feeds three consumers (df
    // aggregation, the hit join, and the per-doc gram count), so it is
    // materialized ONCE — the local .cache() stands in for writing the
    // gram table out, exactly like the LSH signature relation in
    // Dedup.embeddingCosinePairs.
    //
    // SPELLING MATTERS: explode() must sit directly over the tokens
    // projection. With an intermediate `grams` projection, Catalyst's
    // InferFiltersFromGenerate adds `size(grams) > 0`, pushes it below
    // BOTH projections, and inlines the whole gram construction into an
    // interpreted Filter that re-runs filter(split(text)) ~10× per row —
    // measured 6–8 s vs 0.5 s at sf0.1 for the same 250k grams.
    val g = spark.sql(
      """SELECT doc_id, explode(array_distinct(transform(
        |    sequence(0, size(tokens)-5),
        |    i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2], tokens[i+3], tokens[i+4])))) AS gram
        |FROM (SELECT doc_id, filter(split(text, ' '), x -> x <> '') AS tokens
        |      FROM documents)
        |WHERE size(tokens) >= 5""".stripMargin)
    g.cache()
    g.createOrReplaceTempView("bp_g")
    spark.sql(
      """WITH df AS (SELECT gram, count(*) AS df FROM bp_g GROUP BY gram),
        |boiler AS (SELECT gram FROM df WHERE df >= 2),
        |ng AS (SELECT doc_id, count(*) AS n_grams FROM bp_g GROUP BY doc_id),
        |hits AS (
        |  SELECT /*+ BROADCAST(boiler) */ g.doc_id, count(*) AS n_boiler
        |  FROM bp_g g JOIN boiler ON g.gram = boiler.gram GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |  CAST(d.n_grams AS INT) AS n_grams,
        |  CAST(coalesce(h.n_boiler, 0) AS INT) AS n_boiler,
        |  CAST(coalesce(h.n_boiler, 0) AS DOUBLE) / d.n_grams AS boiler_frac,
        |  CAST(coalesce(h.n_boiler, 0) AS DOUBLE) / d.n_grams <= 0.5 AS keep
        |FROM ng d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin)
  }

  // --- exact heavy hitters via Misra-Gries candidates + verify pass -------
  // Tokens with frequency ≥ N/200 (φ = 0.5%). The scale design is the
  // sketch-then-verify two-pass: a per-partition Misra-Gries summary of
  // capacity k = 400 emits candidate tokens, and only candidates are
  // exact-counted. Guarantee (so the result is EXACT, not approximate):
  // if f(t) ≥ N/200 > N/k then on at least one partition p the local count
  // exceeds N_p/k — otherwise f(t) = Σ_p f_p(t) ≤ Σ_p N_p/k = N/k, a
  // contradiction — and MG(k) never evicts an item whose remaining local
  // frequency exceeds N_p/k. So the candidate union is a superset of every
  // φ-heavy token, and the verify pass makes the final counts exact. At
  // 100 TB this means the groupBy shuffle carries only candidate tokens
  // (bounded by k × partitions), not the full long-tail vocabulary.
  // (Misra & Gries 1982; per-partition union bound as in SpaceSaving-
  // merge literature.)
  private def misraGriesCandidates(it: Iterator[String], k: Int): Iterator[String] = {
    val counts = new java.util.HashMap[String, Long](k * 2)
    while (it.hasNext) {
      val t = it.next()
      val c = counts.get(t)
      if (c != 0L || counts.containsKey(t)) counts.put(t, c + 1)
      else if (counts.size < k) counts.put(t, 1L)
      else {
        val entries = counts.entrySet().iterator()
        while (entries.hasNext) {
          val e = entries.next()
          if (e.getValue == 1L) entries.remove() else e.setValue(e.getValue - 1)
        }
      }
    }
    scala.jdk.CollectionConverters.SetHasAsScala(counts.keySet()).asScala.iterator
  }

  private val heavyHittersOracle =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |tot AS (SELECT count(*) AS n FROM toks)
      |SELECT tok, cnt
      |FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok) c
      |CROSS JOIN tot
      |WHERE cnt * 200 >= tot.n
      |ORDER BY cnt DESC, tok""".stripMargin

  val heavyHitters: QueryDef = QueryDef.sqlBacked("ta_heavy_hitters", heavyHittersOracle) {
    (spark, dir) =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val toks = Engine.table(spark, dir, "documents")
        .select(explode(filter(split(col("text"), " "), x => x =!= lit(""))).as("tok"))
      val candidates = toks.as[String]
        .mapPartitions(misraGriesCandidates(_, 400))
        .toDF("tok").distinct()
      val counted = toks.join(broadcast(candidates), Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = toks.agg(count(lit(1)).as("n"))
      counted.crossJoin(total)
        .where(col("cnt") * 200 >= col("n"))
        .select(col("tok"), col("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
  }

  // --- BPE merge-pair counting: the tokenizer-training inner loop ---------
  // One round of byte-pair-encoding training = "count every adjacent
  // symbol pair across the corpus, weighted by occurrence; the argmax is
  // the next merge" (Sennrich et al. 2016 — the algorithm behind
  // GPT-2/LLaMA tokenizers). The 100 TB shape is the same two-level
  // split real trainers use: ONE corpus-scale pass builds the DISTINCT
  // word table with frequencies (explode + map-side-combining hash agg —
  // the only shuffle that sees corpus-sized data), then pair extraction
  // and the merge ranking run entirely on the vocabulary relation, which
  // is corpus-size-independent (Heaps' law: ~10⁵-10⁶ rows at any scale).
  // Iterating T merge rounds re-enters at the word table, never the
  // corpus — each further round costs O(|vocab|), which is why BPE
  // training is feasible at all on web-scale text.
  val bpePairs: QueryDef = QueryDef.sqlBacked(
    "ta_bpe_pairs",
    """WITH words AS (
      |  SELECT w, count(*) AS wf FROM (
      |    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
      |    FROM documents) t
      |  GROUP BY w),
      |pairs AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> substr(w, CAST(i AS INT), 2))) AS pair, wf
      |  FROM words WHERE len(w) >= 2)
      |SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt
      |FROM pairs GROUP BY pair
      |ORDER BY cnt DESC, pair
      |LIMIT 100""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    spark.sql(
      """WITH words AS (
        |  SELECT w, count(*) AS wf FROM (
        |    SELECT explode(word_ngrams(lower(text), 1)) AS w
        |    FROM documents) t
        |  GROUP BY w),
        |pairs AS (
        |  SELECT substring(w, i, 2) AS pair, wf
        |  FROM words LATERAL VIEW explode(sequence(1, length(w) - 1)) t AS i
        |  WHERE length(w) >= 2)
        |SELECT pair, sum(wf) AS cnt
        |FROM pairs GROUP BY pair
        |ORDER BY cnt DESC, pair
        |LIMIT 100""".stripMargin)
  }

  // --- multi-round BPE training (VERDICT r11 #6) --------------------------
  // T merge rounds of Sennrich et al. 2016, re-entering at the WORD table
  // each round — the corpus is scanned exactly once (the word-frequency
  // aggregate, cached); every further round costs O(|vocab|), which is
  // Heaps'-law bounded and corpus-size-independent. The driver holds only
  // the model (one argmax pair per round — the same bounded, model-sized
  // collect discipline as k-means training in Similarity.scala).
  //
  // Symbol sequences are encoded as delimiter-bounded strings:
  // " s1 s2 ... sk " (a space BEFORE each symbol plus one trailing
  // space), over words restricted to ^[a-z0-9]+$ (the classic
  // pre-tokenization step — symbols then never contain the delimiter).
  // A merge of pair (a,b) is `replace(sym, ' a b ', ' ab ')` applied
  // TWICE: the bounded pattern can never match inside a longer symbol
  // (" a b " does not match " xa b " or " a bc "), and the second pass
  // catches occurrences whose leading space was consumed by an adjacent
  // first-pass match (" a b a b " → pass 1 merges the 1st/3rd/...,
  // pass 2 the survivors; unmatched occurrences are never adjacent after
  // a greedy pass, so two passes are exhaustive). For same-symbol runs
  // of length ≥ 4 (e.g. "aaaa" merging (a,a)) the grouping can differ
  // from strict leftmost pairing — that replace-order policy is part of
  // this operator's declared contract, and the ORACLE replays the
  // identical two-pass replace, so the census compare pins it.
  // Ties in the argmax break on the pair string (ASCII — both engines
  // compare binary). BpeMergeSpec pins the replace semantics against
  // planted adversarial words on both the Spark and policy level.
  private val bpeRounds = 8

  private def bpePairCountSql(from: String): String =
    s"""SELECT element_at(syms, i) || ' ' || element_at(syms, i + 1) AS pair,
       |       sum(wf) AS cnt
       |FROM (SELECT wf, syms FROM (
       |        SELECT wf, split(substring(sym, 2, length(sym) - 2), ' ') AS syms
       |        FROM $from) x
       |      WHERE size(syms) >= 2) s
       |LATERAL VIEW explode(sequence(1, size(syms) - 1)) e AS i
       |GROUP BY pair""".stripMargin

  /** Train the merge list and return it as the driver-side model —
    * `rounds` (pair, count) entries, the same bounded model-sized collect
    * discipline as k-means training in Similarity.scala. [[bpeMerges]]
    * publishes it as a relation; [[bpeEncode]] applies it back to the
    * vocabulary. */
  private def bpeTrainModel(spark: SparkSession, dir: String,
      rounds: Int): Seq[(Int, String, Long)] = {
    docs(spark, dir)
    val words = Engine.cacheSwap("bpe_words", spark.sql(
      """SELECT w, count(*) AS wf FROM (
        |  SELECT explode(word_ngrams(lower(text), 1)) AS w
        |  FROM documents) t
        |WHERE w rlike '^[a-z0-9]+$'
        |GROUP BY w""".stripMargin))
    words.createOrReplaceTempView("bpe_words")
    // v_r chains r map-only replaces over the cached word table; each
    // round's argmax job is one |vocab|-row scan + a small pair agg.
    var v = spark.sql(
      "SELECT wf, regexp_replace(w, '(.)', ' $1') || ' ' AS sym FROM bpe_words")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      v.createOrReplaceTempView("bpe_v")
      val top = spark.sql(
        s"""SELECT pair, cnt FROM (${bpePairCountSql("bpe_v")})
           |ORDER BY cnt DESC, pair LIMIT 1""".stripMargin).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        merges += ((r, pair, cnt))
        val merged = pair.replace(" ", "")
        // pair/merged are ^[a-z0-9 ]+$ by construction — safe to inline.
        v = v.selectExpr("wf",
          s"replace(replace(sym, ' $pair ', ' $merged '), ' $pair ', ' $merged ') AS sym")
        r += 1
      }
    }
    merges.toSeq
  }

  def bpeMerges(spark: SparkSession, dir: String, rounds: Int = bpeRounds): DataFrame = {
    val merges = bpeTrainModel(spark, dir, rounds)
    import spark.implicits._
    merges.toDF("round", "pair", "cnt").orderBy("round")
  }

  // --- BPE encoding: apply the trained merges back to the corpus ----------
  // The other half of the tokenizer loop (train → ENCODE): compose the
  // trained merge list, in training order, over the vocabulary relation —
  // each merge is the same bounded two-pass literal replace the trainer
  // used, so encode(w) is byte-identical to the trainer's final symbol
  // state for w. Like training, the corpus is scanned exactly once (the
  // cached word-frequency aggregate); encoding itself is ONE map-only
  // pass over the |vocab| relation with all `rounds` replaces fused into
  // a single projection — at 100 TB the encode cost is Heaps'-law
  // bounded, not corpus-bounded, and a per-document token count is a
  // broadcast-free hash join of the corpus against this vocab relation.
  // Output: the `topWords` most frequent words with their tokenization
  // and token count — the compression evidence a tokenizer report leads
  // with (n_tok vs length(w) is the per-word compression ratio).
  private val bpeTopWords = 100

  def bpeEncode(spark: SparkSession, dir: String, rounds: Int = bpeRounds): DataFrame = {
    val merges = bpeTrainModel(spark, dir, rounds)
    // bpe_words is registered (and cached) by the trainer.
    var sym = "regexp_replace(w, '(.)', ' $1') || ' '"
    merges.foreach { case (_, pair, _) =>
      val m = pair.replace(" ", "")
      // pair/m are ^[a-z0-9 ]+$ by construction — safe to inline.
      sym = s"replace(replace($sym, ' $pair ', ' $m '), ' $pair ', ' $m ')"
    }
    spark.sql(
      s"""SELECT w, wf, toks, size(split(toks, ' ')) AS n_tok FROM (
         |  SELECT w, wf, trim($sym) AS toks FROM bpe_words) t
         |ORDER BY wf DESC, w
         |LIMIT $bpeTopWords""".stripMargin)
  }

  /** Shared DuckDB replay of the training rounds. With `encode = false`
    * the final relation is the merge list (m1..mT); with `encode = true`
    * the chain also materializes the post-round-T symbol state vT — the
    * encoder's output — and selects the top-words report from it. The
    * word itself rides the whole chain so the encode select can emit it. */
  private def bpeOracle(rounds: Int, encode: Boolean): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH words AS (
        |  SELECT w, count(*) AS wf FROM (
        |    SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                              x -> regexp_full_match(x, '[a-z0-9]+'))) AS w
        |    FROM documents) t
        |  GROUP BY w),
        |v0 AS (SELECT w, wf, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS sym
        |       FROM words)""".stripMargin)
    def pairs(from: String): String =
      s"""SELECT syms[i] || ' ' || syms[i + 1] AS pair, sum(wf) AS cnt
         |    FROM (SELECT wf, syms, unnest(range(1, len(syms))) AS i
         |          FROM (SELECT wf,
         |                  string_split(substr(sym, 2, len(sym) - 2), ' ') AS syms
         |                FROM $from) x
         |          WHERE len(syms) >= 2) s
         |    GROUP BY pair""".stripMargin
    for (r <- 1 to rounds) {
      sb.append(s""",
        |m$r AS (
        |  SELECT $r AS round, pair, CAST(cnt AS BIGINT) AS cnt FROM (
        |    ${pairs(s"v${r - 1}")})
        |  ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin)
      if (r < rounds || encode) sb.append(s""",
        |v$r AS (
        |  SELECT w, wf, replace(replace(sym, ' ' || m.pair || ' ',
        |                                ' ' || replace(m.pair, ' ', '') || ' '),
        |                        ' ' || m.pair || ' ',
        |                        ' ' || replace(m.pair, ' ', '') || ' ') AS sym
        |  FROM v${r - 1} CROSS JOIN m$r m)""".stripMargin)
    }
    sb.append("\n")
    if (encode)
      sb.append(
        s"""SELECT w, wf, toks, CAST(len(string_split(toks, ' ')) AS INT) AS n_tok FROM (
           |  SELECT w, CAST(wf AS BIGINT) AS wf,
           |         trim(sym) AS toks FROM v$rounds) t
           |ORDER BY wf DESC, w
           |LIMIT $bpeTopWords""".stripMargin)
    else
      sb.append((1 to rounds).map(r => s"SELECT round, pair, cnt FROM m$r")
        .mkString("", "\nUNION ALL\n", "\nORDER BY round"))
    sb.toString
  }

  private def bpeMergesOracle(rounds: Int = bpeRounds): String =
    bpeOracle(rounds, encode = false)

  val bpeMergesDef: QueryDef =
    QueryDef.sqlBacked("ta_bpe_merges", bpeMergesOracle())(bpeMerges(_, _))

  val bpeEncodeDef: QueryDef =
    QueryDef.sqlBacked("ta_bpe_encode", bpeOracle(bpeRounds, encode = true))(bpeEncode(_, _))

  // --- BM25 lexical retrieval: inverted-index top-k -----------------------
  // The reference lexical ranking function (Robertson/Sparck Jones; the
  // Lucene/Elasticsearch default) under the repo's exactness discipline.
  // Classic BM25 needs ln() for idf and float division for the saturation
  // term — neither is bit-portable — so this variant keeps BM25's shape
  // with exact integer arithmetic throughout:
  //   idf     = bitlen(N) - bitlen(df)      (≈ log2(N/df); 0 for stopwords
  //             whose df is within a power of two of N — the same
  //             suppression classic idf's negative tail applies)
  //   dl/avgdl ≈ ndl/256 with ndl = (256·dl·N) div A   (one spec'd rounding)
  //   term    = (5632·tf·idf·2^20) div (2560·tf + 768 + 9·ndl)
  // which is k1 = 1.2, b = 0.75 cross-multiplied to integers (×2560) and
  // fixed-point-scaled (2^20) so the per-(query,cand) score is a SUM of
  // BIGINTs — order-independent, hence hash-identical on both engines
  // (a DOUBLE sum would depend on aggregation order).
  //
  // 100 TB shape: ONE corpus explode feeds the (doc_id, token, tf)
  // aggregate, materialized per session as the swap-cached `tok_tf`
  // relation (the in-session inverted index — [[tokenPostings]]; a CTE
  // spelling re-planned that corpus pass once per consumer, 12 scans in
  // the first cut). The query token set broadcasts against it twice:
  // once to count df per query token (a vocabulary-of-the-query-sized
  // aggregate, never a corpus-wide vocabulary shuffle), once — AFTER
  // zero-idf tokens are dropped — to fan out candidate postings, so the
  // expensive join never carries a stopword's posting list. Per-doc
  // length attaches co-partitioned on doc_id. Corpus-scale exchanges:
  // the posting aggregate (once per session) and the dl roll-up;
  // everything after is proportional to the positive-idf postings.
  private val bm25NQueries = 8
  private val bm25K = 10

  /** Shared Spark SQL body: score `qtRel` — an SQL relation producing
    * DISTINCT (query_id, token) pairs — against the cached `tok_tf`
    * posting relation ([[tokenPostings]] must have been called). One
    * source of truth for the formula: the census query, [[searchBm25]],
    * and the streaming probe all render from here, so they cannot drift.
    *
    * Zero-idf postings are dropped BEFORE the fan-out (`live`): a token
    * whose df is within a power of two of N has bitlen-idf exactly 0, so
    * it contributes 0 to every score — but its postings are by definition
    * the corpus's largest (stopwords), and carrying them only inflates
    * the probe join. Declared contract (oracle replays it): a candidate
    * reachable only through zero-idf terms does not rank.
    *
    * `excludeSelf` (ADVICE r12): the census keys rank corpus documents
    * against themselves-as-queries, so they drop the query's own row
    * (`cand_id <> query_id`); an ARBITRARY serving batch
    * ([[searchBm25]], [[probeBm25Index]], the streaming probe) has its
    * own query_id namespace, where a numeric collision with a doc_id
    * must NOT silently drop a candidate — those paths pass false. */
  private[queries] def bm25Sql(qtRel: String, k: Int, postRel: String = "tok_tf",
      dlRel: String = "SELECT doc_id, sum(tf) AS dl FROM tok_tf GROUP BY doc_id",
      excludeSelf: Boolean = true): String =
    s"""WITH dl AS ($dlRel),
       |st AS (SELECT count(*) AS n, sum(dl) AS a FROM dl),
       |qt AS ($qtRel),
       |dfq AS (
       |  SELECT /*+ BROADCAST(q) */ d.token, count(*) AS df
       |  FROM (SELECT DISTINCT token FROM qt) q
       |  JOIN $postRel d ON q.token = d.token
       |  GROUP BY d.token),
       |live AS (
       |  SELECT f.token, f.df FROM dfq f CROSS JOIN st s
       |  WHERE length(bin(s.n)) > length(bin(f.df))),
       |p AS (
       |  SELECT /*+ BROADCAST(q), BROADCAST(v) */
       |    q.query_id, d.doc_id AS cand_id, d.tf, v.df
       |  FROM qt q JOIN live v ON q.token = v.token
       |            JOIN $postRel d ON q.token = d.token),
       |scored AS (
       |  SELECT p.query_id, p.cand_id,
       |    sum((5632 * p.tf * (length(bin(s.n)) - length(bin(p.df))) * 1048576)
       |        div (2560 * p.tf + 768 + 9 * ((256 * l.dl * s.n) div s.a))) AS score
       |  FROM p JOIN dl l ON l.doc_id = p.cand_id
       |         CROSS JOIN st s
       |  ${if (excludeSelf) "WHERE p.cand_id <> p.query_id" else ""}
       |  GROUP BY p.query_id, p.cand_id)
       |SELECT query_id, cand_id, score, CAST(rn AS INT) AS rnk FROM (
       |  SELECT query_id, cand_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, cand_id) AS rn
       |  FROM scored) x
       |WHERE rn <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Swap-cached per-doc length relation over a cached posting view —
    * OPTIMIZATION r14 (guide §7.2 duplicated subtrees): [[bm25Sql]]
    * derives `st` (N, Σdl) from `dl` AND joins `dl` into the scoring
    * roll-up; CTE inlining aggregated the |docs|-sized relation twice
    * per invocation (plans/r14/ta_bm25_bigram_before.txt nodes 34–37 vs
    * 54–56). The dl roll-up is a per-doc fact of the same epoch class as
    * the posting relation itself, so it rides the same swap-cache; both
    * references read the InMemoryRelation, and the planner sees its
    * exact size for the scored-join build-side decision. */
  private def cachedDl(spark: SparkSession, postRel: String): String = {
    val key = s"${postRel}_dl"
    val df = graft.Engine.cacheSwap(key, spark.sql(
      s"SELECT doc_id, sum(tf) AS dl FROM $postRel GROUP BY doc_id"))
    df.createOrReplaceTempView(key)
    s"SELECT doc_id, dl FROM $key"
  }

  def bm25(spark: SparkSession, dir: String,
      nQueries: Int = bm25NQueries, k: Int = bm25K): DataFrame = {
    docs(spark, dir)
    tokenPostings(spark, "documents")
    spark.sql(bm25Sql(
      s"SELECT DISTINCT doc_id AS query_id, token FROM tok_tf WHERE doc_id < $nQueries", k,
      dlRel = cachedDl(spark, "tok_tf")))
  }

  /** BM25 for an ARBITRARY query batch (query_id, text) against the
    * corpus at `corpusDir` — the serving shape behind the streaming
    * probe ([[graft.streaming.Streams.bm25Probe]]). The corpus relation
    * is (re)read from storage on the session of the QUERY batch, so the
    * call is safe inside `foreachBatch` (every view lands on the
    * micro-batch session). Per-batch corpus statistics are exact; a
    * production deployment would persist dt/dl/st once (the inverted
    * index — same pattern as [[graft.queries.Dedup.writeBandIndex]])
    * and this function's plan reads them unchanged.
    *
    * `excludeSelf` defaults to FALSE here (ADVICE r12): an arbitrary
    * batch's query_ids are their own namespace, and a numeric collision
    * with a corpus doc_id must not silently drop that document from the
    * ranking. Pass true only when the queries ARE corpus documents
    * ranked against themselves (the census shape — what BM25Spec's
    * stream-equals-batch pin does). */
  def searchBm25(queries: DataFrame, corpusDir: String, k: Int = bm25K,
      excludeSelf: Boolean = false): DataFrame = {
    val s = queries.sparkSession
    graft.Engine.table(s, corpusDir, "documents").createOrReplaceTempView("bm25_corpus")
    // cacheSwap keys on the logical plan: every micro-batch of the same
    // corpus reuses the live posting cache — the index builds on the
    // FIRST batch and each later probe pays only its own join.
    tokenPostings(s, "bm25_corpus")
    queries.createOrReplaceTempView("bm25_queries")
    // word_ngram_tfs emits each of a row's tokens once, and query_id is
    // unique per batch row — the (query_id, token) pairs are distinct by
    // construction, no DISTINCT aggregate needed (OPTIMIZATION r15)
    s.sql(bm25Sql(
      """SELECT query_id, token FROM (
        |  SELECT query_id, inline(word_ngram_tfs(lower(text), 1))
        |  FROM bm25_queries)""".stripMargin, k, excludeSelf = excludeSelf))
  }

  /** DuckDB oracle body over an injected posting CTE — one source of
    * truth for every BM25-family oracle (unigram, bigram, and the
    * IVM-retraction key inject different `dt` bodies and query sets). */
  private[queries] def bm25OracleOver(dtBody: String,
      qtBody: String = s"SELECT DISTINCT doc_id AS query_id, token FROM dt WHERE doc_id < $bm25NQueries",
      k: Int = bm25K): String =
    s"""WITH dt AS ($dtBody),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM dt GROUP BY doc_id),
       |st AS (SELECT count(*) AS n, sum(dl) AS a FROM dl),
       |qt AS ($qtBody),
       |dfq AS (
       |  SELECT d.token, count(*) AS df
       |  FROM (SELECT DISTINCT token FROM qt) q
       |  JOIN dt d ON q.token = d.token
       |  GROUP BY d.token),
       |live AS (
       |  SELECT f.token, f.df FROM dfq f CROSS JOIN st s
       |  WHERE length(bin(s.n)) > length(bin(f.df))),
       |p AS (
       |  SELECT q.query_id, d.doc_id AS cand_id, d.tf, v.df
       |  FROM qt q JOIN live v ON q.token = v.token
       |            JOIN dt d ON q.token = d.token),
       |scored AS (
       |  SELECT p.query_id, p.cand_id,
       |    CAST(sum((5632 * p.tf * (length(bin(s.n)) - length(bin(p.df))) * 1048576)
       |        // (2560 * p.tf + 768 + 9 * ((256 * l.dl * s.n) // s.a))) AS BIGINT) AS score
       |  FROM p JOIN dl l ON l.doc_id = p.cand_id
       |         CROSS JOIN st s
       |  WHERE p.cand_id <> p.query_id
       |  GROUP BY p.query_id, p.cand_id)
       |SELECT query_id, cand_id, score, CAST(rn AS INT) AS rnk FROM (
       |  SELECT query_id, cand_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, cand_id) AS rn
       |  FROM scored) x
       |WHERE rn <= $k
       |ORDER BY query_id, rnk""".stripMargin

  private[queries] def unigramDtDuck(srcRel: String = "documents"): String =
    s"""SELECT doc_id, token, count(*) AS tf FROM (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
       |  FROM $srcRel) t
       |GROUP BY doc_id, token""".stripMargin

  /** Unigram census key. ALLOWLISTED EMPTINESS CONTRACT at the gate
    * tiers: the driver's synthetic corpus is stopword-dense — every
    * unigram's df lands within a power of two of N, bitlen-idf is 0 for
    * the whole vocabulary, and BOTH engines agree nothing ranks (the
    * zero-idf suppression clause, proven as such). The non-vacuous
    * rankings live in `ta_bm25_bigram` (+ `_indexed`/`_append`), which
    * exercise real multi-term sums on this same corpus; BM25Spec replays
    * the unigram formula on planted data where it does rank. */
  val bm25Def: QueryDef =
    QueryDef.sqlBackedEmptyOk("ta_bm25", bm25OracleOver(unigramDtDuck()))(bm25(_, _))

  /** Bigram census key — the non-vacuous BM25 spelling (VERDICT r12 #1):
    * identical integer formula, word-bigram posting unit. Every query
    * bigram carries positive idf on the driver corpus (df 16–44 of
    * N=500 at sf0.01), so the oracle exercises multi-term score sums,
    * saturation, and tie-breaks for real. */
  def bm25Bigram(spark: SparkSession, dir: String,
      nQueries: Int = bm25NQueries, k: Int = bm25K): DataFrame = {
    docs(spark, dir)
    bigramPostings(spark, "documents")
    spark.sql(bm25Sql(
      s"SELECT DISTINCT doc_id AS query_id, token FROM btok_tf WHERE doc_id < $nQueries", k,
      postRel = "btok_tf",
      dlRel = cachedDl(spark, "btok_tf")))
  }

  private val bm25BigramOracle = bm25OracleOver(bigramDtDuck("documents"))

  val bm25BigramDef: QueryDef =
    QueryDef.sqlBacked("ta_bm25_bigram", bm25BigramOracle)(bm25Bigram(_, _))

  // --- BM25 over a PERSISTED index: the cold-start production shape --------
  // The swap-cached tok_tf relation is the in-SESSION index; at 100 TB a
  // new session must not re-tokenize the corpus to serve a query. The
  // stored index is the posting relation repartitioned+sorted on token
  // (so a probe's token predicate prunes row groups — the storage analog
  // of an inverted-index bucket lookup) plus the per-doc length relation
  // (corpus totals derive from it in O(|docs|)). The probe collects the
  // query batch's distinct tokens (BOUNDED by the batch's vocabulary —
  // the same bounded-collect class as the k-means model aggregate) into
  // a pushed filter on the sorted postings, so the scan touches only the
  // query tokens' buckets; df comes exactly from that slice.
  /** Write one corpus slice's postings + doc lengths into the index.
    * `append` grows an existing index: postings and doclen are both
    * per-doc-partitioned facts, so the union of batch writes IS the
    * full-corpus index — df, dl, and the corpus totals all derive from
    * the union exactly (the reference's append-only TableInsert shape;
    * `ta_bm25_append` proves batch-built ≡ one-shot against the same
    * full-corpus oracle). */
  /** Write one corpus slice's postings + doc lengths into the index.
    * `bigram = true` (the default — the non-vacuous spelling the census
    * keys point at) indexes word-bigram postings; false, unigrams. */
  // OPTIMIZATION r15 (guide §2.4/§6): the write used to build the session
  // posting cache (tokenize → (doc_id, token) aggregate Exchange → cache
  // materialize), then pay a SECOND exchange repartitioning the cached
  // aggregate by token, then re-aggregate the cache per doc for doclen.
  // Three structural facts make most of that removable:
  //   1. the (doc_id, token, tf) aggregate is per-ROW work — doc_id is
  //      unique per corpus row, so the word_ngram_tfs kernel computes it
  //      with zero exchanges (see tokenPostings);
  //   2. the ONE exchange the stored layout genuinely needs is the
  //      token repartition itself — postings now flow scan → kernel →
  //      Exchange(token) → sort → write;
  //   3. dl ≡ Σtf per doc ≡ the doc's total n-gram occurrence count ≡
  //      size(word_ngrams(lower(text), n)) — a pure per-row projection
  //      of the corpus (docs with zero n-grams own no postings and no
  //      doclen row, exactly as before); measured at sf10 the per-row
  //      spelling is ~0.7-1.6 s vs 4.2-5.5 s for the posting re-aggregate.
  // Same rows in both files by construction; `ta_bm25_indexed`/`_append`
  // re-prove it against the full-corpus oracle, and BM25Spec pins
  // write+probe ≡ in-session ranking.
  private def writeBm25Slice(spark: SparkSession, corpusRel: String,
      path: String, mode: String, bigram: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    val n = if (bigram) 2 else 1
    ngramAggDf(spark, corpusRel, n)
      .repartition(col("token")).sortWithinPartitions("token")
      .write.mode(mode).parquet(s"$path/postings")
    spark.sql(
      s"""SELECT doc_id, CAST(size(word_ngrams(lower(text), $n)) AS BIGINT) AS dl
         |FROM $corpusRel t WHERE size(word_ngrams(lower(text), $n)) > 0""".stripMargin)
      .write.mode(mode).parquet(s"$path/doclen")
  }

  def writeBm25Index(spark: SparkSession, dir: String, path: String,
      bigram: Boolean = true): Unit = {
    docs(spark, dir)
    writeBm25Slice(spark, "documents", path, "overwrite", bigram)
  }

  /** Write ONE doc slice's bigram postings + lengths as an index segment
    * — the delta-segment writer of the LSM-shaped retractable text index
    * ([[graft.sources.SegmentedIndex]], `ivm_bm25_lsm`). Same layout as
    * [[writeBm25Index]] (token-sorted postings so a probe's token
    * predicate still prunes row groups, plus the per-doc length
    * relation), but the slice's postings are computed in one direct pass
    * and cached only for the duration of the two writes — a delta write
    * must never evict the session's full-corpus posting cache, and its
    * cost must ride |slice|, not the corpus. */
  def writeBm25IndexSlice(spark: SparkSession, dir: String, path: String,
      pred: String, mode: String = "overwrite"): Unit = {
    docs(spark, dir)
    // same two-pass shape as writeBm25Slice (r15): the slice's postings
    // fall out of the per-row kernel (no cache, no aggregate exchange)
    // and its doclen is a per-row projection — both passes ride |slice|
    writeBm25Slice(spark, s"(SELECT doc_id, text FROM documents WHERE $pred)",
      path, mode)
  }

  /** The query batch's (query_id, token) relation over `bm25_queries`,
    * tokenized to match the index's posting unit. */
  private def queryTokensRel(bigram: Boolean): String =
    // distinct by construction: word_ngram_tfs emits each token once per
    // row and query_id is unique per batch row (OPTIMIZATION r15 — the
    // DISTINCT aggregate exchange this replaces was pure recombination)
    s"""SELECT query_id, token FROM (
       |  SELECT query_id, inline(word_ngram_tfs(lower(text), ${if (bigram) 2 else 1}))
       |  FROM bm25_queries)""".stripMargin

  /** Probing the query vocabulary into the sorted postings: up to
    * `isinPushCap` distinct tokens ship as a pushed In-filter (row-group
    * pruning on the token-sorted parquet — the inverted-index bucket
    * lookup); a larger batch would bloat the plan/codegen with its own
    * vocabulary (ADVICE r12), so it degrades to a broadcast left-semi
    * join — still one scan, still no corpus-side shuffle. */
  private val isinPushCap = 4096

  def probeBm25Index(spark: SparkSession, path: String,
      queries: DataFrame, k: Int = bm25K, bigram: Boolean = true,
      excludeSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    queries.createOrReplaceTempView("bm25_queries")
    val qtRel = queryTokensRel(bigram)
    val toks = spark.sql(s"SELECT DISTINCT token FROM ($qtRel)")
      .collect().map(_.getString(0)) // bounded: the query batch's vocabulary
    if (toks.isEmpty)
      // empty batch (or no text long enough to own a token): a clean
      // empty ranking, not an `isin()` over zero values
      return spark.sql(
        """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS cand_id,
          |  CAST(NULL AS BIGINT) AS score, CAST(NULL AS INT) AS rnk WHERE false""".stripMargin)
    val post = StoredParquet.read(spark, s"$path/postings")
    val pruned =
      if (toks.length <= isinPushCap) post.filter(col("token").isin(toks.toIndexedSeq: _*))
      else post.join(
        broadcast(spark.createDataFrame(
          spark.sparkContext.parallelize(toks.toIndexedSeq.map(org.apache.spark.sql.Row(_)), 1),
          new org.apache.spark.sql.types.StructType()
            .add("token", org.apache.spark.sql.types.StringType, nullable = false))),
        Seq("token"), "left_semi")
    pruned.createOrReplaceTempView("bm25_idx_post")
    StoredParquet.read(spark, s"$path/doclen").createOrReplaceTempView("bm25_idx_dl")
    spark.sql(bm25Sql(qtRel, k, postRel = "bm25_idx_post",
      dlRel = "SELECT doc_id, dl FROM bm25_idx_dl", excludeSelf = excludeSelf))
  }

  /** Census key: write the (bigram) index, probe it with the census query
    * set — must equal `ta_bm25_bigram` row for row (same oracle). */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.Engine.scratchDir("graft_bm25_idx_") + "/index"
    writeBm25Index(spark, dir, idx)
    docs(spark, dir)
    probeBm25Index(spark, idx, spark.sql(
      s"SELECT doc_id AS query_id, text FROM documents WHERE doc_id < $bm25NQueries"),
      excludeSelf = true)
  }

  val bm25IndexedDef: QueryDef =
    QueryDef.sqlBacked("ta_bm25_indexed", bm25BigramOracle)(bm25Indexed(_, _))

  /** Census key: build the index on the 90% slice, APPEND the remaining
    * 10% as a later batch, probe the grown index — must equal the
    * one-shot full-corpus ranking (same oracle as `ta_bm25_bigram`). */
  def bm25Appended(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.Engine.scratchDir("graft_bm25_app_") + "/index"
    docs(spark, dir)
    spark.sql("SELECT * FROM documents WHERE doc_id % 10 <> 0")
      .createOrReplaceTempView("bm25_seed")
    writeBm25Slice(spark, "bm25_seed", idx, "overwrite")
    spark.sql("SELECT * FROM documents WHERE doc_id % 10 = 0")
      .createOrReplaceTempView("bm25_delta")
    writeBm25Slice(spark, "bm25_delta", idx, "append")
    probeBm25Index(spark, idx, spark.sql(
      s"SELECT doc_id AS query_id, text FROM documents WHERE doc_id < $bm25NQueries"),
      excludeSelf = true)
  }

  val bm25AppendDef: QueryDef =
    QueryDef.sqlBacked("ta_bm25_append", bm25BigramOracle)(bm25Appended(_, _))

  val all: Seq[QueryDef] =
    Seq(tokenCount, quality, langId, fingerprint, winnow, vocab, tfidf,
      repetition, pii, boilerplate, heavyHitters, bpePairs, bpeMergesDef,
      bpeEncodeDef, bm25Def, bm25BigramDef, bm25IndexedDef, bm25AppendDef)
}
