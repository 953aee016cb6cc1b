package graft.queries

import graft.{Engine, QueryDef}
import graft.sources.StoredParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data deduplication operators over the `documents` table
  * (BASELINE.json north star — these are first-class alongside the
  * reference's own inventory).
  *
  * Scale design (100 TB): every signature (minhash/simhash/LSH) is
  * computed per-row with higher-order functions — no explode+shuffle of
  * raw shingles. The only shuffles are on compact keys: (band_idx,
  * band_signature) for candidate generation, then a hash-join back to
  * fetch token sets for exact verification of the (tiny) candidate set.
  * Candidate pairs scale with true-duplicate density, not corpus size².
  *
  * Oracle strategy: the signature operators (simhash, hyperplane LSH)
  * derive their bits from [[portableHash60]] — a 60-bit md5-prefix hash
  * both Spark and DuckDB compute identically — so the DuckDB oracle
  * replays the exact banding pipeline. MinHash keeps xxhash64 (faster,
  * Spark-native); its oracle is the *exact* all-pairs Jaccard set, which
  * the LSH path must fully recall at the operating threshold — a
  * recall=1.0 check, not just a row count.
  */
object Dedup {

  private def docs(spark: SparkSession, dir: String): Unit =
    Engine.table(spark, dir, "documents").createOrReplaceTempView("documents")

  /** 60-bit engine-portable hash of a string expression: the first 15 hex
    * chars of md5, read as an integer. Spark spells it with conv(); DuckDB
    * casts a 0x-prefixed literal. Identical values on both engines. */
  private[queries] def portableHash60Spark(x: String): String =
    s"CAST(conv(substr(md5($x), 1, 15), 16, 10) AS BIGINT)"
  private[queries] def portableHash60Duck(x: String): String =
    s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"
  /** The same hash of a string, computed on the driver. */
  private[queries] def portableHash60(x: String): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(md5.map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Shared tokenization: whitespace split, empties dropped. The Spark
    * side also carries `fp = md5(text)` — the exact-duplicate group key
    * the banded paths collapse on (hot-bucket guard) — which the oracles
    * never need (they verify all pairs directly). */
  private val tokDuck =
    "SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens FROM documents"

  /** Distinct word-3-gram shingles per doc (arrays are 0-based in Spark,
    * 1-based in DuckDB — the two forms enumerate identical shingles).
    * Spark-side shingles come from the word_ngrams codegen kernel
    * (OPTIMIZATION r14; identical arrays — concat_ws(' ', a, b, c) ≡ the
    * kernel's single-space join, WordNgramsSpec — and
    * size(word_ngrams(text, 3)) > 0 ⟺ len(tokens) >= 3, the oracle's row
    * predicate); the build itself lives in [[cachedShingles]]. */
  private[queries] val shingleDuck =
    s"""SELECT doc_id, list_distinct(list_transform(range(1, len(tokens)-1),
       |  i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))) AS shingles
       |FROM ($tokDuck) WHERE len(tokens) >= 3""".stripMargin

  /** Exact Jaccard between two distinct-element shingle lists, DuckDB
    * spelling (|a∩b| / (|a|+|b|−|a∩b|) ≡ Spark's intersect/union). */
  private[queries] def jaccardDuck(a: String, b: String): String =
    s"""CAST(len(list_intersect($a, $b)) AS DOUBLE)
       |    / (len($a) + len($b) - len(list_intersect($a, $b)))""".stripMargin

  // --- exact dedup: hash-groupBy on the full text -------------------------
  val exact: QueryDef = QueryDef.sqlBacked(
    "dedup_exact",
    """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    spark.sql(
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin)
  }

  /** Exact dedup, scale path: group on md5(text) instead of the full text
    * so the shuffle carries 16-byte keys, not document bodies. At 100 TB
    * this is the difference between shuffling the corpus and shuffling a
    * fingerprint column. */
  val exactHash: QueryDef = QueryDef.sqlBacked(
    "dedup_exact_hash",
    """SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin
  ) { (spark, dir) =>
    docs(spark, dir)
    spark.sql(
      """SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin)
  }

  // --- MinHash + LSH near-dup pairs ---------------------------------------
  // k=64 hashes (xxhash64 seeded by hash index), 16 bands × 4 rows,
  // candidates from band-bucket equality, verified with exact Jaccard.
  /** Shingle relation, materialized once: Spark inlines WITH CTEs, so a
    * self-joining pipeline would re-tokenize the corpus once per branch.
    * Caching is the local stand-in for what a 100 TB run does anyway —
    * write the signature/shingle table out and join against it. Goes
    * through [[Engine.cacheSwap]] so repeated invocations (bench loops,
    * another scale dir) reuse or replace the ONE live cached epoch
    * instead of leaking a new cached relation per call. */
  private[graft] def cachedShingles(spark: SparkSession, dir: String): Unit = {
    docs(spark, dir)
    // Sorted shingle sets: Jaccard verification then merge-walks two
    // sorted arrays in the codegen'd jaccard_sorted kernel (set semantics
    // are order-insensitive, so every consumer — minhash lanes, inverted
    // index, the oracles' set ops — is unaffected by the sort).
    // OPTIMIZATION r15 (guide §2.3 "shuffle keys and metadata instead of
    // payloads"): the is_rep window used to run ABOVE the shingle
    // projection, so the fp exchange + per-partition sort carried every
    // doc's distinct-shingle array (~3× the text bytes — each word rides
    // three shingles). The window now runs over (doc_id, fp, text) and
    // the shingle/hash arrays are computed AFTER it, so the exchange and
    // sort move the raw text instead. is_rep is unchanged: exact-dup
    // group members share the text, hence the same size() outcome, so
    // filtering below or above the window keeps the same min-doc_id rep
    // (the <3-token rows the window now also sees can only lose to their
    // own group's rep, never change another group's). Measured sf10:
    // 2.6-3.0 s → 2.0-2.3 s for the cache-build pass.
    val sh = Engine.cacheSwap("dedup_sh",
      spark.sql(
        """SELECT doc_id, fp, text,
          |  doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_rep
          |FROM (SELECT doc_id, md5(text) AS fp, text FROM documents)""".stripMargin)
        .selectExpr("doc_id", "fp",
          "sort_array(array_distinct(word_ngrams(text, 3))) AS shingles", "is_rep")
        .where("size(shingles) > 0")
        .selectExpr("doc_id", "fp", "shingles", "is_rep",
          // pre-hashed sorted shingles: the 8-byte-per-element arrays the
          // containment prefilter joins on (¼ the payload of strings)
          "sort_array(transform(shingles, x -> xxhash64(x))) AS hshingles"))
    sh.createOrReplaceTempView("dedup_sh")
  }

  /** Hot-bucket guard, shared by the banded/indexed candidate paths: the
    * corpus dedup exists FOR is exactly the one that breaks them — a
    * crawl with thousands of byte-identical copies puts every copy in the
    * same `(band_idx, band_sig)` bucket (or pushes every shared shingle
    * past the rare-df cap) and candidate generation goes quadratic in
    * copies — or, for the df cap, silently loses the group. The guard
    * collapses each exact-duplicate group (`fp = md5(text)`) to its
    * min-doc_id representative BEFORE candidate generation: the `is_rep`
    * flag is computed once, inside the cached shingle relation (one
    * window in the corpus pass — no per-query groupBy+join). Verified
    * rep pairs are re-expanded through the group table, and within-group
    * pairs are emitted directly with the score two identical texts
    * provably have (Jaccard exactly 1.0 / Hamming 0 / containment 1.0 —
    * the same bits the kernels compute on identical arrays, so the
    * exact-oracle hash compares are unaffected). Candidate work is now
    * ∝ groups², never copies² (pinned by HotBucketSpec); the output pair
    * set is unchanged because cross-group similarity depends only on the
    * texts, which every group member shares with its representative. */

  // The 64 per-lane minima run inside the codegen'd MinHash64 kernel —
  // not 64 interpreted lambda folds — fed by the PRE-HASHED hshingles
  // column the cached relation already carries for the containment
  // prefilter: per-lane minima are order-insensitive, so
  // minhash64(sort_array(transform(sh, xxhash64))) is bit-identical to
  // hashing inline, and the one-xxhash64-per-shingle pass is paid once
  // in the corpus cache instead of again here (~one hash per shingle
  // per query at sf10 scale).
  // The band signature is re-hashed to ONE BIGINT before the candidate
  // self-join: the shuffle key shrinks ~10× vs the 4-minima string, and
  // a hash collision can only ADD a candidate pair, which the exact
  // jaccard_sorted verification below then discards — recall unaffected.
  // Banding runs over REPRESENTATIVES only (see [[repsCte]]).
  private def minhashCandSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id, fp, shingles,
       |    minhash64(hshingles) AS minhash
       |  FROM dedup_sh
       |  WHERE is_rep AND size(shingles) > 0
       |),
       |bands AS (
       |  SELECT doc_id, b AS band_idx,
       |    xxhash64(concat_ws(',', slice(minhash, b * 4 + 1, 4))) AS band_sig
       |  FROM sig LATERAL VIEW explode(sequence(0, 15)) t AS b
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       |   AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** The banded candidate pairs over exact-dup representatives — the
    * relation whose size the hot-bucket guard bounds (HotBucketSpec pins
    * it ∝ distinct texts, not copies²). */
  private[graft] def minhashRepCandidates(spark: SparkSession, dir: String): DataFrame = {
    cachedShingles(spark, dir)
    spark.sql(s"$minhashCandSql SELECT id_a, id_b FROM cand")
  }

  def minhashPairs(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    cachedShingles(spark, dir)
    spark.sql(
      s"""$minhashCandSql,
         |rpairs AS (
         |  SELECT c.id_a, c.id_b, sa.fp AS fp_a, sb.fp AS fp_b,
         |    jaccard_sorted(sa.shingles, sb.shingles) AS jaccard
         |  FROM cand c
         |  JOIN sig sa ON c.id_a = sa.doc_id
         |  JOIN sig sb ON c.id_b = sb.doc_id
         |  WHERE jaccard_sorted(sa.shingles, sb.shingles) >= $threshold
         |)
         |SELECT least(ga.doc_id, gb.doc_id) AS id_a,
         |       greatest(ga.doc_id, gb.doc_id) AS id_b, r.jaccard
         |FROM rpairs r
         |JOIN dedup_sh ga ON ga.fp = r.fp_a
         |JOIN dedup_sh gb ON gb.fp = r.fp_b
         |UNION ALL
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
         |FROM dedup_sh a JOIN dedup_sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |WHERE CAST(1.0 AS DOUBLE) >= $threshold
         |ORDER BY id_a, id_b""".stripMargin)
  }

  /** Oracle = the EXACT all-pairs Jaccard ≥ t set: candidate generation is
    * an optimization that must not lose pairs, so matching this oracle
    * proves the 16×4 banding achieves full recall at t=0.5 on this corpus
    * (xxhash64 is deterministic → the equality is stable run to run). */
  private val minhashOracle =
    s"""WITH sh AS ($shingleDuck)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  ${jaccardDuck("a.shingles", "b.shingles")} AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE ${jaccardDuck("a.shingles", "b.shingles")} >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  val minhash: QueryDef =
    QueryDef.sqlBacked("dedup_minhash_lsh", minhashOracle)(minhashPairs(_, _))

  /** Stream-safe banded-signature transform: (doc_id, text) → one row per
    * (doc, band) with the band signature AND the sorted shingle set
    * carried along. Pure stateless projections + one generate, so the
    * identical transform runs on a readStream frame — the basis of
    * [[graft.streaming.Streams.nearDupProbe]]'s streaming admission
    * control. Carrying shingles through the 16-way band explode trades
    * memory for avoiding a second (stream-stream) join back to the
    * shingle relation, which streaming cannot do without watermark
    * gymnastics; the batch path (minhashPairs) keeps the lean
    * join-back shape instead. */
  private[graft] def bandedShingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // r15: the streaming path's shingles ride the word_ngrams kernel
    // like the batch cachedShingles (identical arrays — WordNgramsSpec;
    // size(word_ngrams(text, 3)) > 0 ⟺ size(tokens) >= 3)
    docs.selectExpr("doc_id",
        "sort_array(array_distinct(word_ngrams(text, 3))) AS shingles")
      .where("size(shingles) > 0")
      .selectExpr("doc_id", "shingles",
        "minhash64(transform(shingles, x -> xxhash64(x))) AS minhash")
      .selectExpr("doc_id", "shingles",
        "explode(sequence(0, 15)) AS band_idx", "minhash")
      .selectExpr("doc_id", "shingles", "band_idx",
        "xxhash64(concat_ws(',', slice(minhash, band_idx * 4 + 1, 4))) AS band_sig")

  // --- incremental near-dup: a DELTA probed against an INDEXED corpus -----
  // The production dedup shape: the corpus is already signature-indexed
  // (band table persisted at ingest); each new batch computes ONLY its
  // own signatures and probes the index — never corpus × corpus again.
  // Here the delta is the doc_id % deltaMod = 0 slice standing in for a
  // new crawl batch (default 10 — the census key and its oracle bind to
  // that slice; deltaMod is the dev knob that shrinks the batch relative
  // to the index so the fixed-size-delta asymptote is measurable, see
  // SCALE.md). Scale shape: delta bands are batch-sized
  // (broadcast hint), the index band table streams through the probe
  // join, the exact-Jaccard verification touches candidates only — so
  // admitting a 1 GB batch against a 100 TB index costs one index scan,
  // zero corpus-wide shuffles. The oracle is the exact delta × index
  // Jaccard ≥ 0.5 relation: banding must lose no pair (recall 1.0),
  // asymmetric probe included.
  def incrementalPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5, deltaMod: Int = 10): DataFrame = {
    cachedShingles(spark, dir)
    // Side-aware hot-bucket guard: a re-crawled batch full of pages the
    // index already holds puts D delta copies × I index copies into one
    // band bucket (×16 bands). Representatives are per (fp, side) —
    // the global is_rep flag can't serve here because a duplicate group
    // can span the delta/index boundary and BOTH sides need a banded
    // rep. Cross-boundary identical pairs (same fp, one side each) are
    // emitted directly at Jaccard exactly 1.0 without touching the
    // bands; verified rep pairs expand through the per-side group
    // tables. Output identical to the ungrouped probe (the exact
    // delta × index oracle still gates it).
    spark.sql(
      s"""WITH base AS (
         |  SELECT doc_id, fp, shingles, hshingles, doc_id % $deltaMod = 0 AS is_delta,
         |    doc_id = min(doc_id) OVER (PARTITION BY fp, doc_id % $deltaMod = 0) AS is_side_rep
         |  FROM dedup_sh
         |),
         |sig AS (
         |  -- minhash64 over the cached pre-hashed shingles: per-lane
         |  -- minima are order-insensitive, so this is bit-identical to
         |  -- hashing inline (see minhashCandSql)
         |  SELECT doc_id, fp, is_delta, shingles,
         |    minhash64(hshingles) AS minhash
         |  FROM base
         |  WHERE is_side_rep AND size(shingles) > 0
         |),
         |bands AS (
         |  SELECT doc_id, is_delta, b AS band_idx,
         |    xxhash64(concat_ws(',', slice(minhash, b * 4 + 1, 4))) AS band_sig
         |  FROM sig LATERAL VIEW explode(sequence(0, 15)) t AS b
         |),
         |cand AS (
         |  SELECT /*+ BROADCAST(d) */ DISTINCT d.doc_id AS delta_id, i.doc_id AS index_id
         |  FROM (SELECT * FROM bands WHERE is_delta) d
         |  JOIN (SELECT * FROM bands WHERE NOT is_delta) i
         |    ON d.band_idx = i.band_idx AND d.band_sig = i.band_sig
         |),
         |rpairs AS (
         |  SELECT c.delta_id, c.index_id, sd.fp AS fp_d, si.fp AS fp_i,
         |    jaccard_sorted(sd.shingles, si.shingles) AS jaccard
         |  FROM cand c
         |  JOIN sig sd ON c.delta_id = sd.doc_id
         |  JOIN sig si ON c.index_id = si.doc_id
         |  WHERE jaccard_sorted(sd.shingles, si.shingles) >= $threshold
         |   AND sd.fp <> si.fp
         |)
         |SELECT gd.doc_id AS delta_id, gi.doc_id AS index_id, r.jaccard
         |FROM rpairs r
         |JOIN base gd ON gd.fp = r.fp_d AND gd.is_delta
         |JOIN base gi ON gi.fp = r.fp_i AND NOT gi.is_delta
         |UNION ALL
         |SELECT d.doc_id AS delta_id, i.doc_id AS index_id,
         |  CAST(1.0 AS DOUBLE) AS jaccard
         |FROM base d JOIN base i ON d.fp = i.fp AND d.is_delta AND NOT i.is_delta
         |WHERE CAST(1.0 AS DOUBLE) >= $threshold
         |ORDER BY delta_id, index_id""".stripMargin)
  }

  /** The exact delta × index Jaccard oracle over an arbitrary index-side
    * predicate — the retractable-index key (`ivm_dedup`) recomputes the
    * probe from scratch over the EDITED index side with this same text. */
  private[graft] def incrementalOracleOver(indexPred: String): String =
    s"""WITH sh AS ($shingleDuck)
       |SELECT d.doc_id AS delta_id, i.doc_id AS index_id,
       |  ${jaccardDuck("d.shingles", "i.shingles")} AS jaccard
       |FROM sh d JOIN sh i ON d.doc_id % 10 = 0 AND ($indexPred)
       |WHERE ${jaccardDuck("d.shingles", "i.shingles")} >= 0.5
       |ORDER BY delta_id, index_id""".stripMargin

  private val incrementalOracle = incrementalOracleOver("i.doc_id % 10 <> 0")

  val incremental: QueryDef =
    QueryDef.sqlBacked("dedup_incremental", incrementalOracle)(incrementalPairs(_, _))

  // --- incremental probe against a PERSISTED band index -------------------
  // [[incrementalPairs]] derives both sides' signatures in-flight; the
  // production admission loop doesn't — the index side's bands are
  // written ONCE at ingest and every batch probes storage (the shape the
  // reference's freq-compacting write path makes cheap for tables, done
  // here for signatures; SCALE.md's sf100 measurement shows signature
  // re-derivation dominates the in-flight probe once the delta is
  // fixed-size). The persisted index is two relations, neither carrying
  // text or shingles:
  //   bands  (doc_id, band_idx, band_sig)  — ~24 B × 16 bands per REP
  //   groups (doc_id, fp)                  — the exact-dup group map for
  //                                          rep-expansion + same-fp arm
  // Probe cost at 100 TB: broadcast the batch's bands, stream the stored
  // band table through the candidate join (no index-side shuffle), then
  // fetch shingles FOR CANDIDATES ONLY with an id join against the
  // corpus — one index scan, zero corpus-wide shuffles, no signature
  // recompute. Output is row-identical to [[incrementalPairs]]
  // (BandIndexSpec pins it), so the same exact delta × index Jaccard
  // oracle gates this key.

  /** Ingest-side half: write the band index for the index-side slice.
    * With mode = "append" this is INCREMENTAL index maintenance — each
    * admitted batch (restricted via `pred`, default the whole index
    * side) lands as extra files beside the existing index, exactly like
    * the ANN path's writeIvfIndex append. An appended batch computes
    * per-BATCH representatives, so an exact-dup group spanning appends
    * owns one banded rep per batch; [[probeBandIndex]] tolerates the
    * redundancy by verifying at rep level and expanding DISTINCT
    * fp-pairs, which makes append ≡ rebuild in the RESULT relation
    * (BandIndexSpec pins it, fp-spanning case included) while storage
    * stays append-only — no read-modify-write of a 100 TB index. */
  def writeBandIndex(spark: SparkSession, dir: String, indexPath: String,
      deltaMod: Int = 10, mode: String = "overwrite",
      pred: String = "true"): Unit = {
    cachedShingles(spark, dir)
    spark.sql(
      s"""SELECT doc_id, fp
         |FROM dedup_sh WHERE doc_id % $deltaMod <> 0 AND ($pred)""".stripMargin)
      .write.mode(mode).parquet(s"$indexPath/groups")
    spark.sql(
      s"""WITH sig AS (
         |  SELECT doc_id, minhash64(hshingles) AS minhash
         |  FROM (SELECT doc_id, hshingles, shingles,
         |          doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_side_rep
         |        FROM dedup_sh WHERE doc_id % $deltaMod <> 0 AND ($pred))
         |  WHERE is_side_rep AND size(shingles) > 0
         |)
         |SELECT doc_id, b AS band_idx,
         |  xxhash64(concat_ws(',', slice(minhash, b * 4 + 1, 4))) AS band_sig
         |FROM sig LATERAL VIEW explode(sequence(0, 15)) t AS b""".stripMargin)
      .write.mode(mode).parquet(s"$indexPath/bands")
  }

  /** Batch-side half: signature the delta, probe the STORED bands. */
  def probeBandIndex(spark: SparkSession, dir: String, indexPath: String,
      threshold: Double = 0.5, deltaMod: Int = 10): DataFrame = {
    StoredParquet.read(spark, s"$indexPath/groups").createOrReplaceTempView("bidx_groups")
    StoredParquet.read(spark, s"$indexPath/bands").createOrReplaceTempView("bidx_bands")
    probeBandViews(spark, dir, threshold, deltaMod)
  }

  /** The band probe against whatever relations are registered as
    * `bidx_groups` / `bidx_bands` — [[probeBandIndex]] registers one
    * stored segment; the retractable composition
    * ([[graft.queries.Ivm.dedupRetract]]) registers tombstone-filtered
    * groups over UNFILTERED bands (same-fp docs carry identical text, so
    * a deleted rep's bands stay valid while any group member lives;
    * fully-dead groups surface candidates that expand to zero rows
    * through the live group map — dead weight a compaction GCs, never a
    * wrong pair). */
  def probeBandViews(spark: SparkSession, dir: String,
      threshold: Double = 0.5, deltaMod: Int = 10): DataFrame = {
    cachedShingles(spark, dir)
    spark.sql(
      s"""WITH delta AS (
         |  SELECT doc_id, fp, shingles, hshingles,
         |    doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_side_rep
         |  FROM dedup_sh WHERE doc_id % $deltaMod = 0
         |),
         |dsig AS (
         |  SELECT doc_id, fp, shingles, minhash64(hshingles) AS minhash
         |  FROM delta WHERE is_side_rep AND size(shingles) > 0
         |),
         |dbands AS (
         |  SELECT doc_id, b AS band_idx,
         |    xxhash64(concat_ws(',', slice(minhash, b * 4 + 1, 4))) AS band_sig
         |  FROM dsig LATERAL VIEW explode(sequence(0, 15)) t AS b
         |),
         |cand AS (
         |  SELECT /*+ BROADCAST(d) */ DISTINCT d.doc_id AS delta_id, i.doc_id AS index_id
         |  FROM dbands d JOIN bidx_bands i
         |    ON d.band_idx = i.band_idx AND d.band_sig = i.band_sig
         |),
         |rpairs AS (
         |  SELECT c.delta_id, c.index_id, sd.fp AS fp_d, si.fp AS fp_i,
         |    jaccard_sorted(sd.shingles, si.shingles) AS jaccard
         |  FROM cand c
         |  JOIN dsig sd ON c.delta_id = sd.doc_id
         |  JOIN dedup_sh si ON c.index_id = si.doc_id
         |  WHERE jaccard_sorted(sd.shingles, si.shingles) >= $threshold
         |   AND sd.fp <> si.fp
         |)
         |SELECT gd.doc_id AS delta_id, gi.doc_id AS index_id, r.jaccard
         |-- DISTINCT at fp level: an appended index holds one banded rep
         |-- per BATCH, so a group spanning appends verifies once per rep;
         |-- jaccard is a pure function of the two texts, so the triple
         |-- collapses the redundancy and append ≡ rebuild in the result
         |FROM (SELECT DISTINCT fp_d, fp_i, jaccard FROM rpairs) r
         |JOIN delta gd ON gd.fp = r.fp_d
         |JOIN bidx_groups gi ON gi.fp = r.fp_i
         |UNION ALL
         |SELECT d.doc_id AS delta_id, i.doc_id AS index_id,
         |  CAST(1.0 AS DOUBLE) AS jaccard
         |FROM delta d JOIN bidx_groups i ON d.fp = i.fp
         |WHERE CAST(1.0 AS DOUBLE) >= $threshold
         |ORDER BY delta_id, index_id""".stripMargin)
  }

  def indexedPairs(spark: SparkSession, dir: String): DataFrame = {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_band_index_").resolve("index").toString
    writeBandIndex(spark, dir, idx)
    probeBandIndex(spark, dir, idx)
  }

  val indexed: QueryDef =
    QueryDef.sqlBacked("dedup_indexed", incrementalOracle)(indexedPairs(_, _))

  // --- SimHash near-dup pairs ---------------------------------------------
  // 60-bit simhash per doc from portableHash60 token hashes (60, not 64:
  // DuckDB's checked shift overflows at 1<<63, and bits beyond the hash
  // width could never be set anyway), banded into 4 × 15-bit chunks for
  // candidates, verified with hamming ≤ 3. The oracle replays the whole
  // pipeline bit for bit.
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    docs(spark, dir)
    // Portable md5 hash once per token; the 60-bit vote fold runs in the
    // codegen'd SimHash60 kernel (identical arithmetic to the oracle's
    // nested list_reduce, ~1000x fewer interpreted lambda calls).
    // Same hot-bucket guard as the minhash path: identical texts have
    // identical simhashes, so every copy of a duplicated doc lands in the
    // same band bucket — band only the min-doc_id representative per
    // md5(text) group, re-expand verified rep pairs through the group
    // table, and emit within-group pairs directly with Hamming 0 (the
    // exact bits identical token arrays produce).
    //
    // OPTIMIZATION r14 (guide §7.2 duplicated subtrees): the one-CTE
    // spelling referenced the tokenize+md5-per-token relation FIVE times
    // (signature build, both rpairs sides, both re-expansion sides) and
    // CTE inlining recomputed the full corpus hash pass for each — the
    // before plan (plans/r14/dedup_simhash_before.txt) shows the
    // per-token md5 chain inlined under BOTH band-join scans, and the
    // pushed isnotnull(join key) re-evaluated the entire simhash fold a
    // second time inside each scan's Filter. Now the two relations every
    // reference actually needs are swap-cached narrow: `simhash_grp`
    // (doc_id, fp — the md5(text) group table) and `simhash_sh`
    // (rep doc_id, fp, simhash), so the corpus is tokenized and
    // token-hashed exactly ONCE per epoch (the minhash family's
    // `dedup_sh` discipline applied here).
    val grp = graft.Engine.cacheSwap("simhash_grp", spark.sql(
      "SELECT doc_id, md5(text) AS fp FROM documents WHERE size(word_ngrams(text, 1)) > 0"))
    grp.createOrReplaceTempView("simhash_grp")
    // OPTIMIZATION r15 (guide §2.4): the rep-signature build used to
    // aggregate the group table to min-doc_id rows and SMJ them back to
    // `documents` on doc_id just to fetch the rep's text — two exchanges
    // and two sorts, one carrying the corpus text. A min-window over
    // (doc_id, fp, text) selects the same representatives in ONE
    // exchange (same min-per-fp over the same filtered rows), and only
    // the rep rows pay the per-token md5 fold.
    val sh = graft.Engine.cacheSwap("simhash_sh", spark.sql(
      s"""SELECT doc_id, fp,
         |  simhash60(transform(word_ngrams(text, 1), t -> ${portableHash60Spark("t")})) AS simhash
         |FROM (
         |  SELECT doc_id, fp, text,
         |    doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_rep
         |  FROM (SELECT doc_id, md5(text) AS fp, text FROM documents
         |        WHERE size(word_ngrams(text, 1)) > 0))
         |WHERE is_rep""".stripMargin))
    sh.createOrReplaceTempView("simhash_sh")
    spark.sql(
      s"""WITH bands AS (
         |  SELECT doc_id, simhash, b AS band_idx,
         |    shiftright(simhash, b * 15) & 32767 AS band_val
         |  FROM simhash_sh LATERAL VIEW explode(sequence(0, 3)) t AS b
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id
         |),
         |rpairs AS (
         |  SELECT c.id_a, c.id_b, sa.fp AS fp_a, sb.fp AS fp_b,
         |    bit_count(c.sh_a ^ c.sh_b) AS hamming
         |  FROM cand c
         |  JOIN simhash_sh sa ON c.id_a = sa.doc_id
         |  JOIN simhash_sh sb ON c.id_b = sb.doc_id
         |  WHERE bit_count(c.sh_a ^ c.sh_b) <= $maxHamming
         |)
         |SELECT least(ga.doc_id, gb.doc_id) AS id_a,
         |       greatest(ga.doc_id, gb.doc_id) AS id_b, r.hamming
         |FROM rpairs r
         |JOIN simhash_grp ga ON ga.fp = r.fp_a
         |JOIN simhash_grp gb ON gb.fp = r.fp_b
         |UNION ALL
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
         |FROM simhash_grp a JOIN simhash_grp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin)
  }

  private val simhashOracle =
    s"""WITH tok AS ($tokDuck),
       |th AS (
       |  SELECT doc_id, list_transform(tokens, t -> ${portableHash60Duck("t")}) AS hs
       |  FROM tok WHERE len(tokens) > 0
       |),
       |fp AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 60), j ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(hs, h ->
       |             CASE WHEN (h >> j) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
       |             (a, b) -> a + b) >= 0
       |           THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS simhash
       |  FROM th
       |),
       |bands AS (
       |  SELECT doc_id, simhash, b AS band_idx, (simhash >> (b * 15)) & 32767 AS band_val
       |  FROM fp, range(0, 4) t(b)
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  val simhash: QueryDef =
    QueryDef.sqlBacked("dedup_simhash", simhashOracle)(simhashPairs(_, _))

  // --- n-gram Jaccard via rare-shingle candidate join ---------------------
  // Pairs must share at least one "rare" shingle (doc-freq ≤ maxDf) —
  // the inverted-index trick that keeps the self-join from exploding on
  // stop-shingles at scale. Fully portable → the oracle is a direct
  // translation including the candidate filter.
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.4, maxDf: Int = 10): DataFrame = {
    cachedShingles(spark, dir)
    // The inverted index keys on the pre-hashed shingles (hshingles =
    // sorted xxhash64 of the shingle set, already in the cached
    // relation): the doc-frequency shuffle and the candidate self-join
    // carry 8-byte keys instead of ~30-byte strings. (A 64-bit collision
    // would merge two shingles' postings — ~2^-64 per pair, and
    // candidates are still verified by exact Jaccard on the real shingle
    // sets.)
    //
    // No rep collapse here, deliberately: this operator's contract (and
    // oracle) counts doc frequency per COPY, so the df ≤ maxDf cap
    // ITSELF bounds every posting-list self-join bucket at maxDf rows —
    // a heavily duplicated text's shingles simply stop being rare and
    // never self-join. The cap is ngram's hot-bucket guard by
    // construction (HotBucketSpec pins both df edges); a collapse layer
    // measured ~45% slower on dup-free corpora for zero added
    // robustness. Contrast dedup_containment, whose EXACT oracle turns
    // the same cap into a correctness hole — there the collapse is
    // load-bearing.
    //
    // Candidate admission requires ≥2 SHARED rare shingles per pair
    // (round 11 — the same tightening containment landed in r10, for the
    // same reason: random co-occurrences overwhelmingly share exactly
    // one rare shingle, and at sf10 the 1-shared candidate tail was
    // ~tens of millions of pairs whose STRING shingle arrays then rode
    // two verify exchanges — the 208-second slowest-cell artifact of the
    // r11 bench, with no core scaling because it was shuffle-volume
    // bound). A true J ≥ 0.4 pair shares ≥ 40% of the shingle union,
    // rare shingles included, so real pairs clear the bar; docs OWNING
    // <2 rare shingles can never clear it and fall back to the 1-shared
    // rule (min(nrare) rides the same pair GROUP BY — no side joins).
    // The oracle applies the identical admission rule: like the banded
    // paths, the candidate policy IS part of this operator's declared
    // (approximate) contract, and the policy is engine-replayed.
    //
    // Verification is two-phase as in containment: phase 1 prefilters
    // candidates on the HASHED arrays via containment_stats64 — max
    // containment ≥ Jaccard always (|∩|/min(|a|,|b|) ≥ |∩|/|∪|), and
    // hash collisions only inflate the ratio, so `ch[2] ≥ t` admits a
    // superset of every true J ≥ t pair at ¼ the exchange payload.
    // Phase 2 re-joins only the survivors to the string arrays for the
    // exact merge-walk Jaccard that is reported.
    // An EXACT count bound stacks on the admission rule (same derivation
    // as containment's, adapted to Jaccard): shared shingles are rare
    // (nshared counts them exactly) or common (≤ the smaller owned-common
    // side), so |∩| ≤ nshared + least(nsh−nrare), while
    // J = |∩|/|∪| ≥ t forces |∩| ≥ t·|∪| ≥ t·greatest(nsh_a, nsh_b).
    // Pairs whose bound can't reach t·greatest(nsh) are dropped before
    // the hashed-array fetch. Provably lossless — it can only shrink the
    // prefilter exchange, never the result — so the oracle doesn't need
    // to (and does not) replay it, unlike the admission rule which is
    // part of the declared contract.
    // The index is MATERIALIZED once per session (cacheSwap), not a CTE:
    // Spark inlines multiply-referenced CTEs, so the self-join's two
    // branches would each re-run the explode + df subtree —
    // the same 2-3× recompute containment's cont_rinv fixed in r10
    // (measured here: ~19.5 s/pass uncached vs ~13 s with the index
    // resident). Separate cache key from containment's: this index is
    // per-COPY (no rep collapse — see the df-cap rationale above).
    // Construction is the sort-free rareIndex build shared with
    // containment (see rareIndex's doc for the df-aggregate/anti-join
    // derivation that replaced the two window sorts of r11).
    val _ = rareIndex(spark, "ngram_rinv", maxDf, repOnly = false)
      .createOrReplaceTempView("ngram_rinv")
    spark.sql(ngramJaccardSql("ngram_rinv", "dedup_sh", threshold))
  }

  /** The candidate+verify body over a rare-shingle posting relation
    * (`rinvRel`: sid, doc_id, nsh, nrare) and a shingle relation
    * (`shRel`: doc_id, shingles, hshingles) — one source of truth for
    * the census key (session-cached relations) and the stored-index
    * probe ([[probeNgramIndex]], parquet-backed views), so the two can
    * never drift (the bm25Sql discipline). */
  private def ngramJaccardSql(rinvRel: String, shRel: String,
      threshold: Double): String =
    s"""WITH rinv AS (
       |  SELECT * FROM $rinvRel
       |),
       |cand AS (
       |  SELECT id_a, id_b
       |  FROM (
       |    SELECT /*+ SHUFFLE_HASH(a) */
       |           a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nshared,
       |           min(a.nrare) AS nrare_a, min(b.nrare) AS nrare_b,
       |           min(a.nsh) AS nsh_a, min(b.nsh) AS nsh_b
       |    FROM rinv a JOIN rinv b ON a.sid = b.sid
       |    WHERE a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id
       |  ) g
       |  WHERE (nshared >= 2 OR nrare_a < 2 OR nrare_b < 2)
       |    AND nshared + least(nsh_a - nrare_a, nsh_b - nrare_b)
       |        >= $threshold * greatest(nsh_a, nsh_b)
       |),
       |prelim AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      containment_stats64(sa.hshingles, sb.hshingles) AS ch
       |    FROM cand c
       |    JOIN $shRel sa ON c.id_a = sa.doc_id
       |    JOIN $shRel sb ON c.id_b = sb.doc_id) p
       |  WHERE ch[2] >= $threshold
       |)
       |SELECT c.id_a, c.id_b,
       |  jaccard_sorted(sa.shingles, sb.shingles) AS jaccard
       |FROM prelim c
       |JOIN $shRel sa ON c.id_a = sa.doc_id
       |JOIN $shRel sb ON c.id_b = sb.doc_id
       |WHERE jaccard_sorted(sa.shingles, sb.shingles) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Persist the rare-shingle candidate index (OPTIMIZATION r15 /
    * VERDICT r14 #4 — the `dedup_indexed` storage shape applied to the
    * one-shot dedup_ngram_jaccard): `rinv` sid-sorted so a probe's sid
    * predicates prune row groups, plus the doc-keyed shingle arrays the
    * verify joins read. A serving deployment pays this write once per
    * corpus epoch; [[probeNgramIndex]] then answers from storage with no
    * tokenize/shingle/df pass at all. */
  def writeNgramIndex(spark: SparkSession, dir: String, path: String,
      maxDf: Int = 10): Unit = {
    cachedShingles(spark, dir)
    rareIndex(spark, "ngram_rinv", maxDf, repOnly = false)
      .repartition(col("sid")).sortWithinPartitions("sid")
      .write.mode("overwrite").parquet(s"$path/rinv")
    spark.table("dedup_sh")
      .select(col("doc_id"), col("shingles"), col("hshingles"))
      .repartition(col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$path/sh")
  }

  /** The steady-state half of the split: candidate self-join + two-phase
    * verification served ENTIRELY from the stored index (same SQL body
    * as the census key — NgramIndexSpec pins probe ≡ in-session pairs
    * row for row). */
  def probeNgramIndex(spark: SparkSession, path: String,
      threshold: Double = 0.4): DataFrame = {
    StoredParquet.read(spark, s"$path/rinv").createOrReplaceTempView("ngram_idx_rinv")
    StoredParquet.read(spark, s"$path/sh").createOrReplaceTempView("ngram_idx_sh")
    spark.sql(ngramJaccardSql("ngram_idx_rinv", "ngram_idx_sh", threshold))
  }

  private val ngramOracle =
    s"""WITH sh AS ($shingleDuck),
       |rinv AS (
       |  SELECT shingle, doc_id, count(*) OVER (PARTITION BY doc_id) AS nrare
       |  FROM (
       |    SELECT shingle, doc_id FROM (
       |      SELECT shingle, doc_id, count(*) OVER (PARTITION BY shingle) AS df
       |      FROM (SELECT unnest(shingles) AS shingle, doc_id FROM sh) i) d
       |    WHERE df <= 10) r
       |),
       |cand AS (
       |  SELECT id_a, id_b
       |  FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nshared,
       |           min(a.nrare) AS nrare_a, min(b.nrare) AS nrare_b
       |    FROM rinv a JOIN rinv b ON a.shingle = b.shingle
       |    WHERE a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id
       |  ) g
       |  WHERE nshared >= 2 OR nrare_a < 2 OR nrare_b < 2
       |)
       |SELECT c.id_a, c.id_b,
       |  ${jaccardDuck("sa.shingles", "sb.shingles")} AS jaccard
       |FROM cand c
       |JOIN sh sa ON c.id_a = sa.doc_id
       |JOIN sh sb ON c.id_b = sb.doc_id
       |WHERE ${jaccardDuck("sa.shingles", "sb.shingles")} >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  val ngramJaccard: QueryDef =
    QueryDef.sqlBacked("dedup_ngram_jaccard", ngramOracle)(ngramJaccardPairs(_, _))

  // --- containment near-dup (asymmetric: one doc mostly inside another) ---
  // Jaccard misses the "B is a chunk of A" case: a 40-shingle doc fully
  // inside a 400-shingle doc has J ≈ 0.1 but containment C(B→A) = 1.0 —
  // the overlap class RefinedWeb/MassiveText-style dedup treats as a dup.
  // Candidates come from the same rare-shingle inverted index as
  // dedup_ngram_jaccard (a contained doc shares ALL its shingles, rare
  // ones included, so the index cannot miss it); verification is exact:
  // the codegen'd containment_stats merge-walk kernel (see
  // functions/SketchExpressions.scala) computes |A∩B| ONCE per pair in
  // O(|a|+|b|) and derives both direction ratios — replacing the
  // interpreted per-direction array_intersect calls that each built a
  // hash set per candidate (the prior 4×-slowest pipeline op). The pair
  // reports both directions and keeps max ≥ threshold.
  //
  // The hot-bucket guard here is a CORRECTNESS fix, not just a scale
  // one: this oracle is EXACT all-pairs, and a text duplicated more
  // than maxDf times pushes every one of its shingles past the df cap —
  // the index would lose all its pairs. Collapsing md5(text) groups
  // first counts each distinct text once in the df, emits within-group
  // pairs directly (identical shingle sets ⇒ containment exactly 1.0
  // both ways), and re-expands rep pairs with the direction ratios
  // swapped when the expansion flips the id order (containment is
  // asymmetric, unlike Jaccard). HotBucketSpec pins the >maxDf-copies
  // corpus the old index lost.
  //
  // Candidate admission requires ≥2 SHARED rare shingles per pair, not 1
  // (the count falls out of the same pair shuffle — GROUP BY instead of
  // DISTINCT — so the tightening is free at the exchange and pays at the
  // verify joins). Rationale: a junk candidate is a random co-occurrence,
  // and random co-occurrences overwhelmingly share exactly one rare
  // shingle — at sf1 the 1-shared tail was 4.37 M of 4.37 M candidates
  // for 2 410 real pairs (1813× over-generation, the slowest pipeline
  // cell). A genuinely contained doc shares ~all its shingles with its
  // container, rare ones included, so any real pair whose contained side
  // owns ≥2 rare shingles still surfaces. Docs owning <2 rare shingles
  // can't satisfy the bar even when truly contained, so they fall back to
  // the 1-shared rule (rare_own side table; the fallback keeps admission
  // a superset of what such docs could ever produce — for them the
  // filter is exactly the old index). ContainmentFunnelSpec pins the
  // funnel; the oracle hash-compare proves the tightening lossless on
  // the corpus.
  /** Materialize the rare-shingle posting list (the candidate index) ONCE
    * per session — sort-free (round 12; VERDICT r11 #3).
    *
    * The r11 construction computed df with `count(*) OVER (PARTITION BY
    * sid)` and nrare with a second window over doc_id: two posting-level
    * exchanges, each of which SORTS its partitions (window operators
    * materialize + sort every partition) — at sf100 that pair of sorts
    * was the 520 s / tens-of-GB-spill cold path, because ~500 M posting
    * rows rode two full sort-exchanges before the self-join ever ran.
    * Neither sort buys anything: df and nrare are plain counts.
    *
    * This build gets the same relation with hash work only:
    *   1. df via a map-side-combined HashAggregate on the 8-byte sid,
    *      keeping only the COMMON head (df > maxDf). The exchange
    *      carries (sid, partial count) pairs — 16 bytes, no sort, and
    *      the HAVING reduces to a relation whose SIZE is bounded by the
    *      Zipf head: shingle TYPES with more than maxDf occurrences are
    *      the head of the frequency distribution (few types, many
    *      tokens), measured at thousands of rows per million docs. The
    *      result is cached and broadcast.
    *   2. rare postings AND the per-doc rare count fall out of the SCAN
    *      projection: the `NotInSorted64` kernel binary-searches each
    *      element of the doc's sorted shingle array against the
    *      executor-resident sorted head, yielding the rare subset
    *      (nrare = its size) per ROW — one explode, no anti-join node,
    *      no per-doc aggregate exchange, and no attach join. (The first
    *      r12 rebuild spelled this as explode → broadcast LEFT ANTI →
    *      per-doc count → SHUFFLE_HASH attach; the attach re-shuffled
    *      every posting by doc_id just to carry a count, and Catalyst
    *      re-planned the multi-referenced `rare` CTE — the explode ran
    *      twice. The kernel removes the build's LAST posting-level
    *      exchange.)
    * Same rows out (df filter and counts are definitionally identical),
    * so neither oracle moves — the r12 hash-green keys are the proof.
    *
    * nrare (rare shingles owned per doc) and nsh (total owned) ride on
    * every posting so the candidate filter needs no side-table joins —
    * min(a.nrare)/min(b.nrare) and the EXACT count bound's inputs fall
    * out of the pair GROUP BY itself (the rare_own joins this replaced
    * in r10 re-shuffled the full pair stream twice).
    *
    * The pair self-join over this index carries a SHUFFLE_HASH hint: the
    * build side is this relation — fixed-width 24-byte rows whose
    * per-sid group size the df cap bounds at maxDf, so hash partitioning
    * by sid yields ~uniform build partitions of |rinv|/numPartitions
    * rows (31 MB TOTAL at sf1 — orders of magnitude under the 256 MB
    * local-map budget even at 100× with scaled partition counts), and
    * SMJ's two O(n log n) sorts buy nothing for a key we never need
    * ordered. This is a structural bound, not a statistics estimate, so
    * it doesn't violate the no-estimate-broadcast policy
    * (Engine.scala's broadcast threshold notes). The BROADCAST(c) hint
    * in step 2 is likewise structural: the common set's row count is
    * capped by total_postings/maxDf in the adversarial worst case but is
    * Zipf-head-sized on any natural corpus, and each row is one long. */
  /** Per-session memo of the common-head broadcast, keyed by index name
    * and compared by CONTENT: reusing the same Broadcast object when the
    * head is unchanged keeps the index plan `sameResult`-stable, so
    * [[graft.Engine.cacheSwap]] recognizes warm re-invocations instead
    * of swapping the cache on every call. A corpus change produces a
    * different head → new broadcast → the cache swaps, as it must. */
  private val commonHeads =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Array[Long], org.apache.spark.broadcast.Broadcast[Array[Long]])]()

  private def rareIndex(spark: SparkSession, key: String, maxDf: Int,
      repOnly: Boolean): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val repFilter = if (repOnly) " WHERE is_rep" else ""
    val common = graft.Engine.cacheSwap(s"${key}_common", spark.sql(
      s"""SELECT sid FROM (
         |  SELECT explode(hshingles) AS sid FROM dedup_sh$repFilter)
         |GROUP BY sid HAVING count(*) > $maxDf""".stripMargin))
    // registered for plan inspection: PlanContractSpec pins this df
    // aggregate as the build's ONE posting-level exchange (the exact-df
    // contract's irreducible cost — SCALE.md "structural toll")
    common.createOrReplaceTempView(s"${key}_common")
    // Zipf-head-sized (see the structural bound above) — the same rows
    // the broadcast anti-join spelling shipped to every executor, now
    // collected once and probed per element by the codegen kernel.
    // Hygiene (ADVICE r12): entries of stopped sessions are evicted
    // (mirrors Engine.evictStopped — a stopped session's broadcasts are
    // dead weight), and a superseded head's broadcast is unpersisted
    // when the corpus changes under the same key, so executor-side
    // blocks don't accumulate across corpus swaps in a long session
    // (unpersist, not destroy: a stale cached plan that still references
    // the old object can lazily re-broadcast it).
    commonHeads.keySet.removeIf(_._1.sparkContext.isStopped)
    val head = common.collect().map(_.getLong(0)).sorted
    val bc = commonHeads.compute((spark, key), { (_, prev) =>
      if (prev != null && java.util.Arrays.equals(prev._1, head)) prev
      else {
        if (prev != null) prev._2.unpersist(blocking = false)
        (head, spark.sparkContext.broadcast(head))
      }
    })._2
    // r12 second rebuild: the anti-join spelling computed the `rare` CTE
    // twice (Catalyst re-plans multi-referenced CTEs — r side and the
    // nrare aggregate side each re-ran the explode), and the nrare
    // attach was the build's one remaining FULL posting exchange
    // (re-shuffling every posting by doc_id just to carry a count).
    // With the sorted-head kernel, a doc's rare subset and its count
    // fall out of the scan projection: ONE explode, ZERO posting-level
    // exchanges in the build.
    val sh0 = spark.table("dedup_sh")
    val sh = if (repOnly) sh0.where(col("is_rep")) else sh0
    val withRare = sh.select(col("doc_id"),
      size(col("hshingles")).as("nsh"),
      ColumnBridge.column(graft.functions.NotInSorted64(
        ColumnBridge.expression(sh0.col("hshingles")), bc)).as("rare_sids"))
    graft.Engine.cacheSwap(key, withRare
      .select(col("doc_id"), col("nsh"),
        size(col("rare_sids")).as("nrare"),
        explode(col("rare_sids")).as("sid"))
      .select(col("sid"), col("doc_id"), col("nsh"), col("nrare")))
  }

  private[graft] def cachedRareIndex(spark: SparkSession, maxDf: Int = 10): Unit = {
    val rinv = rareIndex(spark, "cont_rinv", maxDf, repOnly = true)
    rinv.createOrReplaceTempView("cont_rinv")
  }

  def containmentPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxDf: Int = 10): DataFrame = {
    cachedShingles(spark, dir)
    cachedRareIndex(spark, maxDf)
    // Verification is two-phase: phase 1 joins candidates against the
    // PRE-HASHED sorted shingle arrays only (containment_stats64 — ¼ the
    // shuffle payload of the string arrays, long compares instead of
    // UTF8 walks; a hash collision can only inflate the intersection, so
    // the h[2] ≥ t filter admits a superset). Phase 2 re-joins the tiny
    // survivor set to the string arrays and re-verifies with the exact
    // merge walk — the reported ratios are always the exact ones. At sf1
    // this cut verification from ~8s (4.4M candidate pairs × 3KB string
    // payloads through two exchanges) to the prefilter's hashed cost.
    // On top of the (contract-level) admission rule, an EXACT count bound
    // drops candidates BEFORE their arrays are fetched: every shared
    // shingle is either rare (counted exactly by nshared — the GROUP BY
    // count over rare postings) or common (bounded by the smaller side's
    // owned-common count), so
    //   |∩| ≤ nshared + least(nsh_a − nrare_a, nsh_b − nrare_b)
    // and max(c_ab, c_ba) = |∩|/least(nsh_a, nsh_b) ≥ t is impossible
    // when the bound falls below t·least(nsh_a, nsh_b). Provably
    // lossless (unlike the admission rule, which the corpus gate proves
    // lossless only empirically), so the oracle needs no replica — it
    // can never change the result set, only the exchange volume: at sf10
    // it cuts the array-fetch join from 1.73 M pairs × ~KB hashed arrays
    // to the near-true tail. All inputs ride the pair GROUP BY as two
    // extra int mins — no side joins, no extra pass.
    spark.sql(
      s"""WITH rsh AS (
         |  SELECT doc_id, fp, shingles, hshingles FROM dedup_sh WHERE is_rep
         |),
         |cand AS (
         |  SELECT id_a, id_b
         |  FROM (
         |    SELECT /*+ SHUFFLE_HASH(a) */
         |           a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nshared,
         |           min(a.nrare) AS nrare_a, min(b.nrare) AS nrare_b,
         |           min(a.nsh) AS nsh_a, min(b.nsh) AS nsh_b
         |    FROM cont_rinv a JOIN cont_rinv b ON a.sid = b.sid
         |    WHERE a.doc_id < b.doc_id
         |    GROUP BY a.doc_id, b.doc_id
         |  ) g
         |  WHERE (nshared >= 2 OR nrare_a < 2 OR nrare_b < 2)
         |    AND nshared + least(nsh_a - nrare_a, nsh_b - nrare_b)
         |        >= $threshold * least(nsh_a, nsh_b)
         |),
         |prelim AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b,
         |      containment_stats64(sa.hshingles, sb.hshingles) AS ch
         |    FROM cand c
         |    JOIN rsh sa ON c.id_a = sa.doc_id
         |    JOIN rsh sb ON c.id_b = sb.doc_id) p
         |  WHERE ch[2] >= $threshold
         |),
         |rpairs AS (
         |  SELECT id_a, id_b, fp_a, fp_b, cs FROM (
         |    SELECT p.id_a, p.id_b, sa.fp AS fp_a, sb.fp AS fp_b,
         |      containment_stats(sa.shingles, sb.shingles) AS cs
         |    FROM prelim p
         |    JOIN rsh sa ON p.id_a = sa.doc_id
         |    JOIN rsh sb ON p.id_b = sb.doc_id) v
         |  WHERE cs[2] >= $threshold
         |)
         |SELECT least(ga.doc_id, gb.doc_id) AS id_a,
         |       greatest(ga.doc_id, gb.doc_id) AS id_b,
         |       CASE WHEN ga.doc_id < gb.doc_id THEN cs[0] ELSE cs[1] END AS c_ab,
         |       CASE WHEN ga.doc_id < gb.doc_id THEN cs[1] ELSE cs[0] END AS c_ba
         |FROM rpairs r
         |JOIN dedup_sh ga ON ga.fp = r.fp_a
         |JOIN dedup_sh gb ON gb.fp = r.fp_b
         |UNION ALL
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(1.0 AS DOUBLE) AS c_ab, CAST(1.0 AS DOUBLE) AS c_ba
         |FROM dedup_sh a JOIN dedup_sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |WHERE CAST(1.0 AS DOUBLE) >= $threshold
         |ORDER BY id_a, id_b""".stripMargin)
  }

  private val containmentOracle =
    s"""WITH sh AS ($shingleDuck)
       |SELECT id_a, id_b, c_ab, c_ba FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |      / len(a.shingles) AS c_ab,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |      / len(b.shingles) AS c_ba
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) v
       |WHERE greatest(c_ab, c_ba) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  val containment: QueryDef =
    QueryDef.sqlBacked("dedup_containment", containmentOracle)(containmentPairs(_, _))

  /** Diagnostic twin of [[containmentPairs]]: the verification-funnel
    * counts (index candidates → hashed-prefilter survivors → exactly
    * verified pairs) in one pass. The two-phase design only pays off if
    * the prefilter actually shrinks the exact-verification join; these
    * ratios are the evidence (VERDICT r6 #8 — quoted in SCALE.md from the
    * bench log). CASE-guarded kernels: the exact merge walk runs only on
    * prefilter survivors, same as the real pipeline. */
  def containmentFunnel(spark: SparkSession, dir: String,
      threshold: Double = 0.5, maxDf: Int = 10): (Long, Long, Long) = {
    cachedShingles(spark, dir)
    cachedRareIndex(spark, maxDf)
    val row = spark.sql(
      s"""WITH rsh AS (
         |  SELECT doc_id, shingles, hshingles FROM dedup_sh WHERE is_rep
         |),
         |cand AS (
         |  SELECT id_a, id_b
         |  FROM (
         |    SELECT /*+ SHUFFLE_HASH(a) */
         |           a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nshared,
         |           min(a.nrare) AS nrare_a, min(b.nrare) AS nrare_b,
         |           min(a.nsh) AS nsh_a, min(b.nsh) AS nsh_b
         |    FROM cont_rinv a JOIN cont_rinv b ON a.sid = b.sid
         |    WHERE a.doc_id < b.doc_id
         |    GROUP BY a.doc_id, b.doc_id
         |  ) g
         |  WHERE (nshared >= 2 OR nrare_a < 2 OR nrare_b < 2)
         |    AND nshared + least(nsh_a - nrare_a, nsh_b - nrare_b)
         |        >= $threshold * least(nsh_a, nsh_b)
         |),
         |staged AS (
         |  SELECT
         |    containment_stats64(sa.hshingles, sb.hshingles)[2] >= $threshold AS pre_ok,
         |    CASE WHEN containment_stats64(sa.hshingles, sb.hshingles)[2] >= $threshold
         |         THEN containment_stats(sa.shingles, sb.shingles)[2] >= $threshold
         |         ELSE false END AS exact_ok
         |  FROM cand c
         |  JOIN rsh sa ON c.id_a = sa.doc_id
         |  JOIN rsh sb ON c.id_b = sb.doc_id
         |)
         |SELECT count(*) AS cand,
         |       count(CASE WHEN pre_ok THEN 1 END) AS prelim,
         |       count(CASE WHEN exact_ok THEN 1 END) AS rpairs
         |FROM staged""".stripMargin).head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  // --- embedding-cosine near-dup via random-hyperplane LSH ----------------
  // Embeddings are L2-normalized (TESTDATA) so dot = cosine. Hyperplane
  // components derive deterministically from portableHash60(p||'_'||d);
  // 16-bit signatures banded 4×4 generate candidates, exact dot verifies.
  // The dot product folds in array-index order (deterministic doubles),
  // so the DuckDB oracle replays the identical pipeline.
  // Default threshold is calibrated to the synthetic corpus (embeddings
  // are near-orthogonal; top-1 cosines sit around 0.3-0.5), so the
  // operator produces a non-trivial pair set end-to-end.
  private[queries] def planeSpark(p: String, d: String): String =
    s"CAST(${portableHash60Spark(s"concat(CAST($p AS STRING), '_', CAST($d AS STRING))")} % 1000 AS DOUBLE) / 1000.0"
  private[queries] def planeDuck(p: String, d: String): String =
    s"CAST(${portableHash60Duck(s"concat(CAST($p AS VARCHAR), '_', CAST($d AS VARCHAR))")} % 1000 AS DOUBLE) / 1000.0"

  def embeddingCosinePairs(spark: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame = {
    Engine.table(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    // The 16×64 hyperplane matrix is computed ONCE in a one-row relation
    // and cross-joined in — not re-derived (16×64 md5 calls) per vector —
    // and the signature relation is cached so the band self-join doesn't
    // recompute every signature per branch (the 100 TB shape materializes
    // the signature table before candidate generation).
    val sig = graft.Engine.cacheSwap("emb_sig", spark.sql(
      s"""WITH planes AS (
         |  SELECT transform(sequence(0, 15), p ->
         |    transform(sequence(0, 63), d -> ${planeSpark("p", "d")})) AS pm
         |),
         |e AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |)
         |SELECT vec_id, v, hyperplane_sig(v, pm) AS lsh
         |FROM e CROSS JOIN planes""".stripMargin))
    sig.createOrReplaceTempView("emb_sig")
    // Candidate dedup shuffles ONLY (id_a, id_b) pairs — never the 64-dim
    // vectors; vectors rejoin from the cached signature relation for the
    // exact-cosine verification of the (much smaller) distinct pair set.
    spark.sql(
      s"""WITH bands AS (
         |  SELECT vec_id, b AS band_idx, shiftright(lsh, b * 4) & 15 AS band_val
         |  FROM emb_sig LATERAL VIEW explode(sequence(0, 3)) t AS b
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, dot_product(sa.v, sb.v) AS cosine
         |FROM cand
         |JOIN emb_sig sa ON id_a = sa.vec_id
         |JOIN emb_sig sb ON id_b = sb.vec_id
         |WHERE dot_product(sa.v, sb.v) >= $threshold
         |ORDER BY id_a, id_b""".stripMargin)
  }

  /** DuckDB left-fold dot with init 0 — identical fp-addition order to
    * Spark's aggregate(..., 0.0, +). Lists are 1-based in DuckDB, so the
    * hash input index is i-1 to match Spark's 0-based d. */
  private[queries] def dotDuck(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin

  private val embeddingOracle =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |sig AS (
       |  SELECT vec_id, v,
       |    list_reduce(list_prepend(0, list_transform(range(0, 16), p ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list_transform(range(1, len(v) + 1), i -> v[i] * (${planeDuck("p", "i - 1")}))),
       |             (x, y) -> x + y) >= 0
       |           THEN (1 << p) ELSE 0 END)), (a, b) -> a + b) AS lsh
       |  FROM e
       |),
       |bands AS (
       |  SELECT vec_id, v, b AS band_idx, (lsh >> (b * 4)) & 15 AS band_val
       |  FROM sig, range(0, 4) t(b)
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.v AS va, b.v AS vb
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b, ${dotDuck("va", "vb")} AS cosine
       |FROM cand
       |WHERE ${dotDuck("va", "vb")} >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  val embeddingCosine: QueryDef =
    QueryDef.sqlBacked("dedup_embedding_cosine", embeddingOracle)(embeddingCosinePairs(_, _))

  // --- embedding-cosine at scale: wide centered bands + exact collapse ----
  // The 4×4-band default above is a SMALL-CORPUS configuration: 4-bit
  // band values give at most 16 buckets per band, so candidates are
  // Θ(N²/16) regardless of how dissimilar the corpus is — at sf10
  // (200k vectors) that is ~1.2 G pairs and the r10 bench filled the
  // disk with its shuffle spill. Two structural fixes make the wide
  // variant linear-ish at any N:
  //  1. BAND WIDTH SIZED TO THE CORPUS. Random collisions per band are
  //     ~C(N,2)/2^bits, so bits must grow with log2(N) — 16-bit bands
  //     give 65 536 buckets (~5 M candidates at sf10; r11 wired the
  //     default to the corpus via [[wideBandBits]] after a static 16 at
  //     sf100's 2 M vectors spilled the disk — 24 bits there, 16 at
  //     every oracle tier).
  //  2. CENTERED plane components. The default's components are all
  //     positive (hash%1000/1000 ∈ [0,1)), which makes every hyperplane
  //     point into the positive orthant — planes pairwise-correlated, so
  //     nominal bits collapse (measured on the sf0.01 corpus: 16-bit
  //     signatures took only 304 of 500 possible distinct values with a
  //     75-vector hot bucket; centered components give 497 distinct,
  //     max bucket 2). Components here are (hash%2001−1000)/1000 ∈
  //     [−1, 1] — sign-balanced, so p(bit)=½ and buckets meet their
  //     2^-bits budget.
  // Recall follows the standard hyperplane-LSH math: p(bit agree) =
  // 1 − θ/π, so a cosine-0.95 pair survives a 16-bit band with
  // p^16 ≈ 0.18 and 16 bands catch it with 1−(1−0.18)^16 ≈ 0.96;
  // the 0.9 default threshold targets true near-duplicates, where this
  // budget is honest (at the default's 0.3 threshold no sub-quadratic
  // scheme exists for near-orthogonal data — that configuration is for
  // corpora small enough to afford Θ(N²/2^bits)).
  // Exact-duplicate collapse rides the same is_rep pattern as the text
  // paths: identical vectors (PARTITION BY the vector itself) collapse
  // to one representative BEFORE banding, within-group pairs are emitted
  // directly (cosine = dot(v,v)), and verified rep pairs re-expand to
  // member pairs — a corpus with a million identical vectors no longer
  // sends copies² rows through every band bucket (cosine is symmetric,
  // so re-expansion needs only least/greatest, not the direction swap
  // containment's asymmetric ratios required). Bands are computed per
  // band with its own bits×64 matrix (planes b·bits..b·bits+bits−1) —
  // an int signature per band, so band width never fights the 64-bit
  // packed-signature limit. Candidate exchanges carry (vec_id, band_idx,
  // band_val) only — never the vectors.
  private def planeCSpark(p: String, d: String): String =
    s"(CAST(${portableHash60Spark(s"concat(CAST($p AS STRING), '_', CAST($d AS STRING))")} % 2001 AS DOUBLE) - 1000) / 1000.0"
  private def planeCDuck(p: String, d: String): String =
    s"(CAST(${portableHash60Duck(s"concat(CAST($p AS VARCHAR), '_', CAST($d AS VARCHAR))")} % 2001 AS DOUBLE) - 1000) / 1000.0"

  /** The plane matrices are built for exactly the corpus's dimensionality
    * — which this module hard-codes at the testdata's 64 (the SQL
    * literals carry 64 components per plane). A wider corpus would read
    * past the plane arrays (undefined UnsafeArrayData access) and
    * silently diverge from the oracle (ADVICE r10), so the contract is
    * ASSERTED per invocation from one row's array length instead of
    * assumed. */
  private def requireDims64(spark: SparkSession, dir: String): Unit = {
    val dims = Engine.table(spark, dir, "embeddings")
      .selectExpr("size(embedding) AS d").head().getInt(0)
    require(dims == 64,
      s"embedding LSH paths are built for 64-dim vectors, corpus has $dims " +
        "— widen the plane matrices (planeSpark/planeCSpark ranges) to match")
  }

  /** Deterministic near-duplicate augmentation for the planted driver-gate
    * key: the generated corpus contains no true ≥0.9-cosine pairs, so the
    * un-planted wide key proves only "both engines agree nothing matches"
    * (ADVICE r10). The augmented relation appends, per engine-identical
    * SQL (same doubles, float cast on both sides):
    *   - exact copies of vec_id < 10 at id+1,000,000 → exercises the
    *     identical-vector collapse + within-group emission;
    *   - copies of 10 ≤ vec_id < 20 at id+2,000,000 with component 0
    *     shifted +0.05 → cosine ≈ 1±0.05·|v₀| ≥ 0.95, near-identical
    *     signatures, so these pairs travel the band → verify → expand
    *     path the oracle re-derives (non-vacuous band math compare).
    * Spark's transform index is 0-based, DuckDB's list_transform index is
    * 1-based — hence `i = 0` vs `i = 1` for the same component. */
  private val plantedSrcSpark =
    """(SELECT vec_id, embedding FROM embeddings
      |   UNION ALL
      |   SELECT vec_id + 1000000 AS vec_id, embedding
      |   FROM embeddings WHERE vec_id < 10
      |   UNION ALL
      |   SELECT vec_id + 2000000 AS vec_id,
      |     transform(embedding, (x, i) -> CASE WHEN i = 0
      |       THEN CAST(CAST(x AS DOUBLE) + 0.05 AS FLOAT) ELSE x END) AS embedding
      |   FROM embeddings WHERE vec_id >= 10 AND vec_id < 20)""".stripMargin

  private val plantedSrcDuck =
    """(SELECT vec_id, embedding FROM embeddings
      |   UNION ALL
      |   SELECT vec_id + 1000000 AS vec_id, embedding
      |   FROM embeddings WHERE vec_id < 10
      |   UNION ALL
      |   SELECT vec_id + 2000000 AS vec_id,
      |     list_transform(embedding, (x, i) -> CASE WHEN i = 1
      |       THEN CAST(CAST(x AS DOUBLE) + 0.05 AS FLOAT) ELSE x END) AS embedding
      |   FROM embeddings WHERE vec_id >= 10 AND vec_id < 20)""".stripMargin

  /** INPUT CONTRACT (ADVICE r10): embeddings must be L2-NORMALIZED — the
    * verification predicate is the raw dot product, which equals cosine
    * only at unit norm. On unnormalized input even exact-duplicate pairs
    * are dropped whenever ||v||² < threshold (dot(v,v) = ||v||², not 1);
    * EmbeddingWideSpec pins that behavior explicitly. The contract is the
    * corpus's (TESTDATA: unit-norm vectors) and matches
    * [[embeddingCosinePairs]]; normalizing inside the operator would
    * change every double against the committed oracles for no gain on
    * conforming input. */
  /** Band width sized to the corpus: random collisions per band are
    * ~C(N,2)/2^bits, so holding total candidates to O(N) needs
    * 2^bits ≈ 8·N — bits = ⌈log₂N⌉+3, floored at the gate tiers' 16
    * (every oracle-checked corpus is ≤2 k vectors, so the static
    * (16,16)-parameterized DuckDB oracle text stays exact there) and
    * capped at 30 (hyperplane_sig packs one band into an int). Round 11
    * learned this the hard way: the DOCUMENTED knob was not wired to the
    * default, and the static 16 bits at sf100's 2 M vectors meant
    * ~5·10⁸ random band collisions — the DISTINCT over them filled a
    * 69 GB disk with shuffle spill before any result. Same failure
    * class as r10's fixed-C semantic dedup: a scale knob that exists
    * but never moves. */
  private[graft] def wideBandBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(30, math.max(16, ceilLog2 + 3))
  }

  def embeddingCosinePairsWide(spark: SparkSession, dir: String,
      threshold: Double = 0.9, nBands: Int = 16, bits: Int = 0,
      plantNearDups: Boolean = false): DataFrame = {
    Engine.table(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    requireDims64(spark, dir)
    val src = if (plantNearDups) plantedSrcSpark else "embeddings"
    // bits ≤ 0 = auto-size to the corpus (parquet metadata count — cheap)
    val bitsEff =
      if (bits > 0) bits
      else wideBandBits(spark.sql(s"SELECT count(*) FROM $src s").head().getLong(0))
    val cacheKey = if (plantNearDups) "emb_grp_planted" else "emb_grp"
    val grp = graft.Engine.cacheSwap(cacheKey, spark.sql(
      s"""SELECT vec_id, v, min(vec_id) OVER (PARTITION BY v) AS rep
         |FROM (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM $src s)""".stripMargin))
    grp.createOrReplaceTempView("emb_grp")
    spark.sql(
      s"""WITH planes AS (
         |  SELECT b, transform(sequence(0, ${bitsEff - 1}), q ->
         |    transform(sequence(0, 63), d ->
         |      ${planeCSpark(s"b * $bitsEff + q", "d")})) AS pm
         |  FROM (SELECT explode(sequence(0, ${nBands - 1})) AS b)
         |),
         |reps AS (SELECT vec_id, v FROM emb_grp WHERE vec_id = rep),
         |bands AS (
         |  SELECT vec_id, b AS band_idx, hyperplane_sig(v, pm) AS band_val
         |  FROM reps CROSS JOIN planes
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.vec_id < b.vec_id
         |),
         |verified AS (
         |  SELECT id_a, id_b, dot_product(sa.v, sb.v) AS cosine
         |  FROM cand
         |  JOIN reps sa ON id_a = sa.vec_id
         |  JOIN reps sb ON id_b = sb.vec_id
         |  WHERE dot_product(sa.v, sb.v) >= $threshold
         |),
         |expanded AS (
         |  SELECT least(ma.vec_id, mb.vec_id) AS id_a,
         |         greatest(ma.vec_id, mb.vec_id) AS id_b, v.cosine
         |  FROM verified v
         |  JOIN emb_grp ma ON ma.rep = v.id_a
         |  JOIN emb_grp mb ON mb.rep = v.id_b
         |),
         |within AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         dot_product(a.v, b.v) AS cosine
         |  FROM emb_grp a JOIN emb_grp b
         |    ON a.rep = b.rep AND a.vec_id < b.vec_id
         |  WHERE dot_product(a.v, b.v) >= $threshold
         |)
         |SELECT id_a, id_b, cosine FROM expanded
         |UNION ALL
         |SELECT id_a, id_b, cosine FROM within
         |ORDER BY id_a, id_b""".stripMargin)
  }

  private def embeddingWideOracle(threshold: Double, nBands: Int, bits: Int,
      src: String = "embeddings"): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $src s
       |),
       |grp AS (SELECT vec_id, v, min(vec_id) OVER (PARTITION BY v) AS rep FROM e),
       |reps AS (SELECT vec_id, v FROM grp WHERE vec_id = rep),
       |bands AS (
       |  SELECT vec_id, b AS band_idx,
       |    list_reduce(list_prepend(0, list_transform(range(0, $bits), q ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list_transform(range(1, len(v) + 1), i -> v[i] * (${planeCDuck(s"b * $bits + q", "i - 1")}))),
       |             (x, y) -> x + y) >= 0
       |           THEN (1 << q) ELSE 0 END)), (a, b) -> a + b) AS band_val
       |  FROM reps, range(0, $nBands) t(b)
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.vec_id < b.vec_id
       |),
       |verified AS (
       |  SELECT id_a, id_b, ${dotDuck("sa.v", "sb.v")} AS cosine
       |  FROM cand
       |  JOIN reps sa ON id_a = sa.vec_id
       |  JOIN reps sb ON id_b = sb.vec_id
       |  WHERE ${dotDuck("sa.v", "sb.v")} >= $threshold
       |),
       |expanded AS (
       |  SELECT least(ma.vec_id, mb.vec_id) AS id_a,
       |         greatest(ma.vec_id, mb.vec_id) AS id_b, v.cosine
       |  FROM verified v
       |  JOIN grp ma ON ma.rep = v.id_a
       |  JOIN grp mb ON mb.rep = v.id_b
       |),
       |within AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${dotDuck("a.v", "b.v")} AS cosine
       |  FROM grp a JOIN grp b ON a.rep = b.rep AND a.vec_id < b.vec_id
       |  WHERE ${dotDuck("a.v", "b.v")} >= $threshold
       |)
       |SELECT id_a, id_b, cosine FROM expanded
       |UNION ALL
       |SELECT id_a, id_b, cosine FROM within
       |ORDER BY id_a, id_b""".stripMargin

  val embeddingCosineWide: QueryDef =
    QueryDef.sqlBacked("dedup_embedding_cosine_w", embeddingWideOracle(0.9, 16, 16))(
      embeddingCosinePairsWide(_, _))

  /** The non-vacuous driver-gate twin of [[embeddingCosineWide]]: same
    * plan over the corpus augmented with deterministic planted
    * near-duplicates (see [[plantedSrcSpark]]), so the Spark-vs-DuckDB
    * hash compare exercises the band → verify → expand path AND the
    * identical-vector collapse on >0 result rows — the un-planted key's
    * 0=0 row proved neither (ADVICE r10). EmbeddingWideSpec carries the
    * complementary recall evidence against brute-force ground truth. */
  val embeddingCosineWidePlanted: QueryDef =
    QueryDef.sqlBacked("dedup_embedding_cosine_wp",
      embeddingWideOracle(0.9, 16, 16, plantedSrcDuck))(
      embeddingCosinePairsWide(_, _, plantNearDups = true))

  // --- transitive dedup clusters (connected components) -------------------
  // Near-dup PAIRS are not enough to deduplicate a corpus: if A~B and B~C,
  // all three are one cluster even when A~C is below threshold. Cluster id
  // = the smallest doc_id reachable through near-dup edges (singletons
  // keep their own id), computed by large-star/small-star — O(log n)
  // rounds instead of the O(diameter) of plain label propagation.

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond" — public algorithm).
    *
    * Each round runs both phases over the edge set:
    *   - large-star: per node u over its full neighborhood N(u), connect
    *     every LARGER neighbor to m = min(N(u) ∪ {u});
    *   - small-star: per node u over its SMALLER neighbors, connect u and
    *     all of them to the minimum.
    * At the fixpoint every edge points a node directly at its component's
    * minimum (star form), so labels fall out of the final edge set with
    * no further iteration. Doubling behavior: a chain of diameter d
    * converges in ~log₂ d rounds (pinned by ClusterConvergenceSpec).
    *
    * Fixpoint test costs ONE action per round: the (count, Σu, Σv)
    * triple of the new edge set is compared against the REMEMBERED
    * previous one, detecting stability without re-scanning the old edge
    * set. The triple is a fingerprint, not a proof — small-star can both
    * add and remove edges in a round, so two DIFFERENT edge sets could
    * collide on all three numbers. A triple match therefore only
    * NOMINATES the fixpoint; it is confirmed by one extra exceptAll
    * emptiness action (equal distinct-counts + empty difference ⇒ equal
    * sets), paid once, at the suspected fixpoint only — never per round.
    *
    * Throws IllegalStateException if maxRounds is hit before the
    * fixpoint — a silent non-fixpoint labeling must never escape to
    * library callers.
    *
    * Small-graph finisher: star contraction shrinks the edge set every
    * round, and once it fits comfortably on the driver
    * (localFinishEdges, default 1M edges ≈ 16 MB of longs — far below
    * any broadcast threshold) the remaining rounds are pure fixed
    * overhead, so the component closure finishes with a driver-side
    * min-label union-find instead of N more multi-job rounds. Identical
    * labels by construction (min-root union ⇒ every root is its
    * component's minimum — cross-checked against the distributed path in
    * ClusterConvergenceSpec); at 100 TB the distributed rounds run until
    * the contracted graph is tiny, then one collect ends it. Pass
    * localFinishEdges = 0 to force the pure distributed path. The
    * default was 100k through round 10; sf10's ~hundreds-of-k edge sets
    * sat just past it, paying ~6 fixed-overhead distributed rounds whose
    * scheduling cost GREW with core count (8.9 s at 32 cores vs 5.1 s at
    * 8 — VERDICT r10 #4). 1M covers any near-dup graph whose duplicate
    * density justifies a driver finisher; the distributed path also now
    * COALESCES the contracted relation (see loop body) so graphs past
    * the bound stop paying per-round task-count overhead too.
    *
    * @return (doc_id → cluster_id labels for every node, rounds run)
    */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 50, localFinishEdges: Long = 1000000L): (DataFrame, Int) = {
    import org.apache.spark.sql.functions.{col, min => minCol, least, lit,
      count => cntCol, sum => sumCol, coalesce}

    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))

    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy(col("u")).agg(minCol(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      s.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = sym(e).filter(col("v") < col("u")) // orient larger → smaller
      val m = dir.groupBy(col("u")).agg(minCol(col("v")).as("m"))
      dir.join(m, "u").select(col("v").as("n"), col("m"))
        .unionByName(m.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
    }

    def stats(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(cntCol(lit(1)), sumCol(col("u")), sumCol(col("v"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

    var edges = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var prev = stats(edges)
    // driver-side min-label union-find over a small edge set → the same
    // (doc, lab) star relation the distributed fixpoint produces
    def localFinish(e: DataFrame): DataFrame = {
      val es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent.update(c, r); c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb) }
      }
      val sparkL = e.sparkSession
      import sparkL.implicits._
      es.flatMap(t => Seq(t._1, t._2)).distinct.toSeq
        .map(d => (d, find(d))).filter { case (d, l) => d != l }
        .toDF("doc", "lab")
    }
    def labelJoin(nonRoots: DataFrame): DataFrame =
      nodes.select(col("doc"))
        .join(nonRoots, Seq("doc"), "left")
        .select(col("doc"), coalesce(col("lab"), col("doc")).as("lab"))

    var rounds = 0
    var converged = prev._1 == 0L // no edges at all: everything is a singleton
    if (!converged && prev._1 <= localFinishEdges && localFinishEdges > 0L)
      return (labelJoin(localFinish(edges)), rounds)
    while (!converged && rounds < maxRounds) {
      // localCheckpoint: materializes the round AND truncates lineage —
      // without it each round's plan nests the previous one and the DAG
      // (and recompute risk) grows with the iteration count.
      // Star contraction shrinks the relation fast, but the checkpointed
      // RDD keeps shufflePartitions-many partitions, so every later
      // round launches full-width task waves over near-empty partitions
      // — fixed overhead that grows with core count (the r10 32c>8c
      // inversion). Coalesce (narrow, no shuffle) to ~200k edges per
      // partition once counted; AQE already right-sizes the reduce side.
      val raw = smallStar(largeStar(edges)).distinct().localCheckpoint()
      val cur = stats(raw)
      val targetParts = math.max(1L, math.min(
        raw.rdd.getNumPartitions.toLong, cur._1 / 200000L + 1L)).toInt
      val next =
        if (targetParts < raw.rdd.getNumPartitions) raw.coalesce(targetParts)
        else raw
      // both sides are distinct()'d, so equal counts + empty difference
      // proves set equality — the confirmation that a fingerprint
      // collision between different edge sets cannot fake
      converged = cur == prev && next.exceptAll(edges).isEmpty
      edges = next
      prev = cur
      rounds += 1
      // contraction shrank the graph under the driver bound → finish
      // locally instead of paying more fixed-overhead rounds
      if (!converged && cur._1 <= localFinishEdges && localFinishEdges > 0L)
        return (labelJoin(localFinish(edges)), rounds)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxRounds rounds")
    // star form: non-roots appear as u with their root as v; roots and
    // singletons label themselves
    val nonRoots = edges.groupBy(col("u")).agg(minCol(col("v")).as("lab"))
      .select(col("u").as("doc"), col("lab"))
    (labelJoin(nonRoots), rounds)
  }

  def dedupClusters(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pairs = minhashPairs(spark, dir, threshold).select(col("id_a"), col("id_b"))
    val docsDf = Engine.table(spark, dir, "documents")
    val (labels, _) =
      connectedComponents(docsDf.select(col("doc_id").as("doc")), pairs)
    labels.select(col("doc").as("doc_id"), col("lab").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: recursive min-label closure over the exact all-pairs Jaccard
    * graph (valid for the same recall-1.0 reason as [[minhashOracle]]). */
  private val clustersOracle =
    s"""WITH RECURSIVE sh AS ($shingleDuck),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE ${jaccardDuck("a.shingles", "b.shingles")} >= 0.5
       |),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |),
       |reach AS (
       |  SELECT doc_id AS doc, doc_id AS lab FROM documents
       |  UNION
       |  SELECT e.b AS doc, r.lab FROM reach r JOIN edges e ON e.a = r.doc
       |)
       |SELECT doc AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin

  val clusters: QueryDef =
    QueryDef.sqlBacked("dedup_clusters", clustersOracle)(dedupClusters(_, _))

  // --- canonical selection: keep the best member of each dup cluster ------
  // Clustering answers "which documents are copies of each other"; a
  // training pipeline then has to answer "which copy do we KEEP". The
  // standard heuristic is keep-longest (the fullest copy survives,
  // truncated mirrors drop — e.g. C4/CCNet-style canonicalization), with
  // doc_id as the deterministic tiebreak. Composition, not new machinery:
  // the labels come from the same large-star/small-star closure as
  // dedup_clusters, and the selection is one window over (cluster_id,
  // length, doc_id) — the only exchange after clustering carries three
  // fixed-width columns per doc, never text, so at 100 TB the selection
  // costs the same shuffle the labels relation already paid.
  def dedupKeepBest(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, length, lit, row_number}
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPairs(spark, dir, threshold).select(col("id_a"), col("id_b"))
    val docsDf = Engine.table(spark, dir, "documents")
    val (labels, _) =
      connectedComponents(docsDf.select(col("doc_id").as("doc")), pairs)
    val sized = labels.select(col("doc").as("doc_id"), col("lab").as("cluster_id"))
      .join(docsDf.select(col("doc_id"),
        length(col("text")).cast("int").as("keep_chars")), Seq("doc_id"))
    val wAll = Window.partitionBy(col("cluster_id"))
    val wOrd = wAll.orderBy(col("keep_chars").desc, col("doc_id"))
    sized
      .withColumn("n_members", count(lit(1)).over(wAll).cast("int"))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("n_members") >= 2 && col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("keep_chars"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Oracle: the exact-Jaccard recursive closure (same CTEs as
    * [[clustersOracle]], valid for the same recall-1.0 reason) plus the
    * identical keep-longest window. The corpus is pure ASCII, so
    * `length(text)` counts the same units in both engines. */
  private val keepBestOracle =
    s"""WITH RECURSIVE sh AS ($shingleDuck),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE ${jaccardDuck("a.shingles", "b.shingles")} >= 0.5
       |),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |),
       |reach AS (
       |  SELECT doc_id AS doc, doc_id AS lab FROM documents
       |  UNION
       |  SELECT e.b AS doc, r.lab FROM reach r JOIN edges e ON e.a = r.doc
       |),
       |labels AS (
       |  SELECT doc AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY doc
       |),
       |j AS (
       |  SELECT l.cluster_id, l.doc_id,
       |    CAST(length(d.text) AS INT) AS keep_chars,
       |    count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY length(d.text) DESC, l.doc_id) AS rn
       |  FROM labels l JOIN documents d ON l.doc_id = d.doc_id
       |)
       |SELECT cluster_id, doc_id AS keep_id, keep_chars,
       |  CAST(n_members AS INT) AS n_members
       |FROM j WHERE n_members >= 2 AND rn = 1
       |ORDER BY cluster_id""".stripMargin

  val keepBest: QueryDef =
    QueryDef.sqlBacked("dedup_keep_best", keepBestOracle)(dedupKeepBest(_, _))

  // --- span-level exact dedup (repeated substrings, not whole docs) -------
  // Everything above answers "are these two DOCUMENTS copies"; the other
  // axis in the dedup literature is repeated SPANS — boilerplate, license
  // headers, quoted passages duplicated across otherwise-distinct pages.
  // The reference technique is suffix-array ExactSubstr (Lee et al. 2021,
  // arXiv:2107.06499 §4.1: drop any ≥50-token substring that appears
  // twice); a global suffix array is the wrong shape for a shared-nothing
  // engine — it sorts EVERY suffix of the corpus through one order. The
  // distributed re-expression has a subtle trap: fixed-STRIDE sampled
  // windows (hash chars [i, i+W) for i ∈ {1, 1+S, …}) only match when the
  // two copies of a repeat are aligned mod S — a repeated passage at
  // arbitrary offsets is missed with probability (S−1)/S. The
  // alignment-FREE construction is winnowing (Schleimer et al., SIGMOD
  // 2003 — the same kernel shape as ta_winnow, here at span-scale
  // parameters): hash every k-gram, slide a window of w consecutive
  // hashes, select the min per window (rightmost on ties). Because
  // selection depends only on CONTENT, both copies of a repeated region
  // pick identical anchors wherever the region lands: any exact repeat
  // of length ≥ w+k−1 = 79 normalized chars contains one full
  // hash-window in each copy, and that window's selected fingerprint is
  // equal in both — deterministic coverage, zero alignment assumption.
  //
  // Parameter split, chosen for PRECISION as well as recall: ta_winnow's
  // k=8 grams are a similarity heuristic — at k=8 a shared fingerprint
  // only proves a shared 8-char phrase, and on this corpus that flags
  // 86% of docs as "duplicated". Here k=64: a fingerprint match IS an
  // exact 64-char repeat (the gram is the span), so evidence ≈ claim,
  // with w=16 setting anchor density (2/(w+1) ≈ 12% of positions) and
  // the 79-char guarantee ≈ Lee et al.'s repeat-length floor. The
  // match key is the full 60-bit gram hash carried via min_by (the
  // 30-bit field inside the order-encoding m would birthday-collide on
  // corpus-scale anchor counts); m keeps selection/tie order exactly as
  // ta_winnow. A doc's anchors whose fingerprint occurs in ≥2 distinct
  // docs are its duplicated-span evidence; dup_frac ≈ the fraction of
  // the doc inside cross-doc repeated regions.
  //
  // Scale shape: anchor selection runs INSIDE the scan projection as one
  // codegen kernel pass (functions/WinnowAnchors: O(1)-per-position
  // rolling polynomial hashes + monotonic-deque window min — no
  // per-position md5, and critically no doc-keyed exchange+sort of every
  // position row, which is what the relational window spelling of the
  // same selection costs: ~16 bytes × n_chars rows ≈ 16× corpus bytes
  // through one shuffle). The ONLY rows that leave the scan are the
  // selected anchors at ~2/(w+1) of positions, as (doc_id, fp BIGINT)
  // pairs; then (fp, doc_id) groups; then per-doc counts — document
  // bodies never move, and the dup-fingerprint marking rides a count(*)
  // window over the groups instead of a second scan→anchor pass.
  // private[graft]: the streaming probe (Streams.spanDupProbe) derives its
  // anchor selection from THESE constants rather than duplicated literals,
  // so stream and batch can't silently diverge (ADVICE r11)
  private[graft] val spanK = 64 // gram width = the repeated span evidence (chars)
  private[graft] val spanWin = 16 // hashes per winnow window → guarantee w+k-1 = 79
  private val spanPosSpace = 1L << 32
  private val spanM31 = 1L << 31
  private val spanM30 = 1L << 30

  /** B^(k−1−j) mod 2³¹ for j ∈ [0,k): the power table the oracle's
    * direct O(k)-per-position replay of the kernel's rolling hash needs
    * (SQL has no sequential recurrence; the kernel has no table). */
  private def spanPowers(b: Long): IndexedSeq[Long] = {
    val up = (0 until spanK).scanLeft(1L)((acc, _) => (acc * b) % spanM31)
    (0 until spanK).map(j => up(spanK - 1 - j))
  }

  // The dup marking joins the anchor groups against ONLY the duplicated
  // fingerprints, never all of them. Two rejected spellings, both
  // measured at the 1000× tier: a count(*) window over fp sorts the
  // whole anchor relation (100 s — the sort spills); joining against
  // per-fp counts for EVERY fingerprint makes the build side ∝ unique
  // content, i.e. corpus-sized (the ShuffledHashJoin build OOMs under 32
  // concurrent tasks). `dupf` instead is ∝ duplicate density — the same
  // economics as every banded path's candidate set — and its rows are
  // bare 8-byte fps, so whichever join AQE picks builds tiny. Per-doc
  // totals come from a doc-keyed aggregate that never touches fp.
  private def spanTail(grpRel: String): String =
    s"""dupf AS (
       |  SELECT fp FROM $grpRel GROUP BY fp HAVING count(*) >= 2),
       |hits AS (
       |  SELECT /*+ SHUFFLE_HASH(d) */ g.doc_id, sum(g.cnt) AS n_dup
       |  FROM $grpRel g JOIN dupf d ON g.fp = d.fp GROUP BY g.doc_id),
       |tot AS (
       |  SELECT doc_id, sum(cnt) AS n_all FROM $grpRel GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(t.n_all AS INT) AS n_anchors,
       |  CAST(coalesce(h.n_dup, 0) AS INT) AS n_dup_anchors,
       |  CAST(coalesce(h.n_dup, 0) AS DOUBLE) / t.n_all AS dup_frac
       |FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Kernel-side anchor derivation: (doc_id, fp) per distinct selected
    * anchor, over the docs matching `filter`. The whole selection runs
    * inside the scan projection (see WinnowAnchors). */
  private def spanAnchorsSpark(filter: String = "true"): String =
    s"""SELECT doc_id, explode(winnow_anchors(t, $spanK, $spanWin)) AS fp
       |FROM (SELECT doc_id,
       |        regexp_replace(lower(trim(text)), '\\\\s+', ' ') AS t
       |      FROM documents WHERE $filter)
       |WHERE length(t) >= ${spanWin + spanK - 1}""".stripMargin

  /** The (fp, doc_id, cnt) anchor groups, materialized ONCE per session
    * (same policy as [[cachedShingles]]): the tail consumes this relation
    * three times (dupf, hits, tot) and `WITH` CTEs inline, so an uncached
    * spelling re-runs the scan→kernel→explode→aggregate chain — the
    * operator's whole cost — three times over (measured at the 1000×
    * tier before this materialization). */
  private[graft] def cachedSpanGroups(spark: SparkSession, dir: String): Unit = {
    docs(spark, dir)
    val grp = Engine.cacheSwap("span_grp",
      spark.sql(
        s"""SELECT fp, doc_id, count(*) AS cnt FROM (
           |${spanAnchorsSpark()}) a GROUP BY fp, doc_id""".stripMargin))
    grp.createOrReplaceTempView("span_grp")
  }

  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    cachedSpanGroups(spark, dir)
    spark.sql(
      s"""WITH grp AS (SELECT * FROM span_grp),
         |${spanTail("grp")}""".stripMargin)
  }

  /** Oracle: the kernel's selection replayed relationally — per-position
    * polynomial hashes as a dot product of the doc's code list against a
    * precomputed power table (identical exact integer arithmetic:
    * Σ ord·B^(k−1−j) mod 2³¹ — terms < 2³⁸, 64-term sums < 2⁴⁵, so even
    * list_dot_product's double accumulation is EXACT, every intermediate
    * being < 2⁵³; the 64-lambda list_sum spelling of the same sum costs
    * 120× more wall in DuckDB), the same h30·2³²+(2³²−1−pos) order
    * encoding as ta_winnow (min picks smallest 30-bit hash, rightmost
    * tie), min_by carrying the 62-bit h1·2³¹+h2 match key, DISTINCT per
    * (doc, anchor), then the same fp-group marking. WinnowKernelSpec
    * pins the kernel equal to this spelling row for row on the Spark
    * side; the corpus is pure ASCII so ord/substr count the kernel's
    * bytes. */
  /** The oracle-side anchor chain (norm → codes → h → sel → a CTE named
    * `anchors` with (doc_id, m, fp)); both span oracles share it. */
  private[queries] val spanAnchorsDuck: String = {
    val pw1 = spanPowers(131L).mkString("[", ", ", "]")
    val pw2 = spanPowers(137L).mkString("[", ", ", "]")
    val slice = s"cs[CAST(p AS INT):CAST(p + ${spanK - 1} AS INT)]"
    val orderKey =
      s"h1 % $spanM30 * $spanPosSpace + (${spanPosSpace - 1} - p)"
    s"""norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, t, length(t) - $spanK + 1 AS n
       |  FROM norm WHERE length(t) >= ${spanWin + spanK - 1}),
       |codes AS (
       |  SELECT doc_id, n, list_transform(range(1, length(t) + 1),
       |    i -> CAST(ord(substr(t, CAST(i AS INT), 1)) AS BIGINT)) AS cs
       |  FROM g0),
       |h AS (
       |  SELECT doc_id, p, n,
       |    CAST(list_dot_product($slice, $pw1) AS BIGINT) % $spanM31 AS h1,
       |    CAST(list_dot_product($slice, $pw2) AS BIGINT) % $spanM31 AS h2
       |  FROM (SELECT doc_id, n, cs, unnest(range(1, n + 1)) AS p FROM codes) g),
       |sel AS (
       |  SELECT doc_id, p, n,
       |    min($orderKey) OVER w AS m,
       |    min_by(h1 * $spanM31 + h2, $orderKey) OVER w AS fp
       |  FROM h
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY p
       |               ROWS BETWEEN CURRENT ROW AND ${spanWin - 1} FOLLOWING)),
       |anchors AS (
       |  SELECT DISTINCT doc_id, m, fp FROM sel WHERE p <= n - $spanWin + 1)""".stripMargin
  }

  private val spanDedupOracle =
    s"""WITH $spanAnchorsDuck,
       |grp AS (
       |  SELECT fp, doc_id, count(*) AS cnt
       |  FROM anchors GROUP BY fp, doc_id),
       |${spanTail("grp")}""".stripMargin

  val spanExact: QueryDef =
    QueryDef.sqlBacked("dedup_span_exact", spanDedupOracle)(spanDedup(_, _))

  // --- span probe against a PERSISTED anchor index ------------------------
  // The admission-loop form of span dedup, mirroring writeBandIndex /
  // probeBandIndex for the minhash family: the corpus' anchor postings
  // (doc_id, fp BIGINT — 16 B per anchor, ~2/(w+1) of corpus positions,
  // never text) are written ONCE at ingest; each new batch computes only
  // its own anchors with the kernel and probes storage. The index is
  // APPEND-SAFE by construction — anchors are per-doc facts with no
  // cross-doc collapsing, so admitting a batch appends its postings and
  // append ≡ rebuild in the result relation (SpanDedupSpec pins it).
  // Probe cost at 100 TB: broadcast the batch's anchors, stream the
  // stored posting table through one BIGINT equi-join, aggregate the
  // matched pairs — one index scan, zero corpus-wide shuffles, no
  // re-derivation of corpus anchors.

  /** Ingest-side half: persist anchor postings for the index-side slice
    * (or any `pred`-restricted batch of it, with mode = "append"). */
  def writeAnchorIndex(spark: SparkSession, dir: String, indexPath: String,
      deltaMod: Int = 10, mode: String = "overwrite",
      pred: String = "true"): Unit = {
    docs(spark, dir)
    spark.sql(
      s"""SELECT doc_id, fp FROM (
         |${spanAnchorsSpark(s"doc_id % $deltaMod <> 0 AND ($pred)")})""".stripMargin)
      .write.mode(mode).parquet(s"$indexPath/anchors")
  }

  /** Probe-side half: the delta slice's kernel anchors against the
    * stored postings; one row per (delta doc, index doc) pair with the
    * count of distinct shared fingerprints — each shared fingerprint is
    * an exact ≥64-char span both docs contain. */
  def probeAnchorIndex(spark: SparkSession, dir: String, indexPath: String,
      deltaMod: Int = 10): DataFrame = {
    docs(spark, dir)
    val index = StoredParquet.read(spark, s"$indexPath/anchors")
      .select(col("doc_id").as("index_id"), col("fp"))
    val delta = spark.sql(
      s"""SELECT doc_id AS delta_id, fp FROM (
         |${spanAnchorsSpark(s"doc_id % $deltaMod = 0")})""".stripMargin)
    import org.apache.spark.sql.functions.{broadcast, countDistinct}
    broadcast(delta).join(index, Seq("fp"))
      .groupBy(col("delta_id"), col("index_id"))
      .agg(countDistinct(col("fp")).cast("int").as("n_shared"))
      .orderBy(col("delta_id"), col("index_id"))
  }

  def spanIndexedPairs(spark: SparkSession, dir: String): DataFrame = {
    // scratchDir registers recursive deletion at JVM exit — repeated
    // census/bench runs no longer accumulate dead indexes (ADVICE r11)
    val idx = graft.Engine.scratchDir("graft_span_idx_") + "/index"
    writeAnchorIndex(spark, dir, idx)
    probeAnchorIndex(spark, dir, idx)
  }

  /** Oracle: both slices' anchors from the shared replay chain, one fp
    * join, count of DISTINCT shared fingerprints per cross-slice pair. */
  private val spanIndexedOracle =
    s"""WITH $spanAnchorsDuck,
       |d AS (SELECT doc_id AS delta_id, fp FROM anchors WHERE doc_id % 10 = 0),
       |i AS (SELECT doc_id AS index_id, fp FROM anchors WHERE doc_id % 10 <> 0)
       |SELECT d.delta_id, i.index_id,
       |  CAST(count(DISTINCT d.fp) AS INT) AS n_shared
       |FROM d JOIN i USING (fp)
       |GROUP BY d.delta_id, i.index_id
       |ORDER BY delta_id, index_id""".stripMargin

  val spanIndexed: QueryDef =
    QueryDef.sqlBacked("dedup_span_indexed", spanIndexedOracle)(spanIndexedPairs(_, _))

  // embeddingCosineWide is NOT in the census (retired r12, VERDICT r11 #2):
  // on the un-planted corpus its 0.9 threshold matches nothing, so the key
  // committed a vacuous 0-row compare two rounds running. The planted _wp
  // twin carries the gate evidence for the same plan; the library function
  // stays for Bench's sf1/sf10 wide-path cells and EmbeddingWideSpec.
  val all: Seq[QueryDef] =
    Seq(exact, exactHash, minhash, incremental, indexed, simhash,
      ngramJaccard, containment, embeddingCosine,
      embeddingCosineWidePlanted, clusters, keepBest, spanExact, spanIndexed)
}
