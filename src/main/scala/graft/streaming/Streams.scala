package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference never shipped its
  * incremental executor (SURVEY.md §2.5 — dormant storage hooks only);
  * this is the Spark-native realization of that capability: the same
  * DataFrame→DataFrame transforms run identically over a batch frame or
  * a readStream frame, which is what makes a materialized view
  * incrementally maintainable with zero operator rewrites.
  */
object Streams {

  /** Tumbling-window counts/sums per event type. Works on batch and
    * streaming inputs alike; streaming gets a 1-hour watermark so state
    * for closed windows is dropped (bounded state at 100 TB/day rates).
    */
  def hourlyByType(events: DataFrame, streaming: Boolean): DataFrame = {
    val ts = col("ts").cast(TimestampType)
    val base = events.withColumn("ts", ts)
    val withWm = if (streaming) base.withWatermark("ts", "1 hour") else base
    withWm
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(38, 2)).as("total"))
      .select(col("win.start").as("hour_start"), col("event_type"), col("n"), col("total"))
  }

  /** Streaming exact dedup — the streaming twin of `dedup_exact_hash`:
    * keeps the first document per content fingerprint, with a watermark
    * bounding how long fingerprints are held (without it, state grows with
    * the full corpus — unbounded at 100 TB of ingest). The fingerprint is
    * the shuffled key, never the document body. Batch-callable: batch
    * frames take the plain dropDuplicates path (no watermark semantics).
    */
  def dedupByFingerprint(docs: DataFrame, streaming: Boolean): DataFrame = {
    val fp = docs
      .withColumn("fp", md5(col("text")))
      .withColumn("ts", col("ts").cast(TimestampType))
    if (streaming)
      fp.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("fp")
    else
      fp.dropDuplicates("fp")
  }

  /** Stream-stream interval join: each purchase matched to the views by
    * the same user in the preceding 10 minutes. In streaming mode both
    * sides carry watermarks and the time-bound join condition lets Spark
    * expire join state (without the bound, both sides buffer forever).
    * Batch-callable: the identical join runs on static frames for the
    * stream ≡ batch proof.
    */
  def viewsBeforePurchase(views: DataFrame, purchases: DataFrame,
      streaming: Boolean): DataFrame = {
    val v = views.select(
      col("event_id").as("view_id"), col("user_id").as("v_user"),
      col("ts").cast(TimestampType).as("vts"))
    val p = purchases.select(
      col("event_id").as("purchase_id"), col("user_id").as("p_user"),
      col("ts").cast(TimestampType).as("pts"))
    val (vv, pp) =
      if (streaming) (v.withWatermark("vts", "1 hour"), p.withWatermark("pts", "1 hour"))
      else (v, p)
    vv.join(pp,
      col("v_user") === col("p_user") &&
        col("vts") <= col("pts") &&
        col("vts") >= col("pts") - expr("INTERVAL 10 MINUTES"))
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
        col("pts"), col("vts"))
  }

  final case class Evt(event_id: Long, user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Int,
      start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp)
  final case class SessionState(lastTs: Long, sessionId: Long, n: Int, startTs: Long)

  /** Streaming admission control: each incoming document is probed
    * against a STATIC near-dup index (the signature side of
    * `dedup_incremental`) and emitted once per near-duplicate it has
    * there — the gate a production ingest runs before admitting a crawl
    * batch. Composition is entirely stream-legal: the banded-signature
    * transform is stateless (queries.Dedup.bandedShingles), the probe is
    * ONE stream-static equi-join on (band_idx, band_sig), and the exact
    * Jaccard verification is a projection over the carried shingle sets.
    * The final per-pair dedup (a doc matching the same index doc in
    * several bands) is the one stateful step; at production rates bound
    * it with a watermark on the ingest timestamp
    * (dropDuplicatesWithinWatermark), exactly like dedupByFingerprint.
    * Batch-callable for the stream ≡ batch proof. */
  def nearDupProbe(newDocs: DataFrame, indexDocs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val delta = graft.queries.Dedup.bandedShingles(newDocs)
      .select(col("doc_id").as("delta_id"), col("shingles").as("delta_sh"),
        col("band_idx"), col("band_sig"))
    val index = graft.queries.Dedup.bandedShingles(indexDocs)
      .select(col("doc_id").as("index_id"), col("shingles").as("index_sh"),
        col("band_idx").as("i_idx"), col("band_sig").as("i_sig"))
    delta
      .join(index, col("band_idx") === col("i_idx") && col("band_sig") === col("i_sig"))
      .filter(expr(s"jaccard_sorted(delta_sh, index_sh) >= $threshold"))
      .selectExpr("delta_id", "index_id",
        "jaccard_sorted(delta_sh, index_sh) AS jaccard")
      .dropDuplicates("delta_id", "index_id")
  }

  /** Streaming span-level admission control: each incoming document's
    * winnowed anchor fingerprints (the `winnow_anchors` kernel —
    * `dedup_span_exact`'s selection, so any ≥79-char region the new doc
    * shares with the corpus is guaranteed to surface at any alignment)
    * are probed against the static corpus' anchor set. Emits one row per
    * matched (delta doc, fingerprint): the ingest gate that catches
    * boilerplate/licence-header reuse where whole-doc near-dup probes
    * ([[nearDupProbe]]) don't fire. Stream-legal by construction — the
    * kernel is a stateless projection, the probe one stream-static
    * equi-join on a BIGINT key, the per-pair dedup the one stateful step
    * (bound with dropDuplicatesWithinWatermark at production rates).
    * Batch-callable for the stream ≡ batch proof. */
  def spanDupProbe(newDocs: DataFrame, indexDocs: DataFrame): DataFrame = {
    // span parameters come from Dedup's constants — the single source of
    // dedup_span_exact's anchor selection (ADVICE r11: inline 64/16/79
    // literals here could drift from the batch path unnoticed)
    val (k, w) = (graft.queries.Dedup.spanK, graft.queries.Dedup.spanWin)
    def anchors(df: DataFrame, idCol: String, fpCol: String): DataFrame =
      df.select(col("doc_id").as(idCol),
          expr("regexp_replace(lower(trim(text)), '\\\\s+', ' ')").as("t"))
        .filter(length(col("t")) >= w + k - 1)
        .select(col(idCol), explode(expr(s"winnow_anchors(t, $k, $w)")).as(fpCol))
    val delta = anchors(newDocs, "delta_id", "fp")
    val index = anchors(indexDocs, "index_id", "i_fp")
      .select(col("i_fp")).distinct()
    delta.join(index, col("fp") === col("i_fp"))
      .select(col("delta_id"), col("fp"))
      .dropDuplicates("delta_id", "fp")
  }

  /** Streaming admission against the PERSISTED band index
    * ([[graft.queries.Dedup.writeBandIndex]]): the steady-state form of
    * [[nearDupProbe]] — the static side's signatures are never
    * re-derived in-flight; the stream computes ONLY its own batch's
    * bands, and every static relation it touches is a storage read (the
    * band table, the exact-dup group map) or a candidate-driven shingle
    * fetch from the corpus for verification. Delta docs are banded
    * per-doc (a stream can't run the per-fp rep window statelessly; the
    * banding cost is bounded by the micro-batch, while the index side —
    * where the corpus-sized hot-bucket risk lives — IS rep-collapsed in
    * storage). Verified rep matches re-expand through the group map and
    * exact duplicates surface through the same-fp arm, so the pair set
    * matches [[graft.queries.Dedup.probeBandIndex]] on the same slice
    * (StreamingSpec pins stream ≡ batch ≡ `dedup_indexed`). The final
    * per-pair dedup is the one stateful step — bound it with
    * dropDuplicatesWithinWatermark at production rates, exactly like
    * [[nearDupProbe]]. Batch-callable for the equality proof. */
  def indexedNearDupProbe(newDocs: DataFrame, corpusDocs: DataFrame,
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      threshold: Double = 0.5): DataFrame = {
    val bands = spark.read.parquet(s"$indexPath/bands")
      .select(col("doc_id").as("rep_id"), col("band_idx").as("i_idx"),
        col("band_sig").as("i_sig"))
    val groups = spark.read.parquet(s"$indexPath/groups")
    val repFp = groups.select(col("doc_id").as("rep_id2"), col("fp").as("rep_fp"))
    val members = groups.select(col("doc_id").as("index_id"), col("fp").as("m_fp"))
    val shingleExpr =
      """sort_array(array_distinct(transform(sequence(0, size(tokens)-3),
        |  i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))))""".stripMargin
    val corpusSh = corpusDocs
      .selectExpr("doc_id AS c_id", "filter(split(text, ' '), x -> x <> '') AS tokens")
      .where("size(tokens) >= 3")
      .selectExpr("c_id", s"$shingleExpr AS c_sh")
    // one stream branch carries everything both arms need (fp + shingles)
    val dsh = newDocs
      .selectExpr("doc_id AS delta_id", "md5(text) AS d_fp",
        "filter(split(text, ' '), x -> x <> '') AS tokens")
      .where("size(tokens) >= 3")
      .selectExpr("delta_id", "d_fp", s"$shingleExpr AS d_sh")
    val dbands = dsh
      .selectExpr("delta_id", "d_fp", "d_sh",
        "minhash64(transform(d_sh, x -> xxhash64(x))) AS minhash")
      .selectExpr("delta_id", "d_fp", "d_sh",
        "explode(sequence(0, 15)) AS band_idx", "minhash")
      .selectExpr("delta_id", "d_fp", "d_sh", "band_idx",
        "xxhash64(concat_ws(',', slice(minhash, band_idx * 4 + 1, 4))) AS band_sig")
    val banded = dbands
      .join(bands, col("band_idx") === col("i_idx") && col("band_sig") === col("i_sig"))
      .join(corpusSh, col("rep_id") === col("c_id"))
      .filter(expr(s"jaccard_sorted(d_sh, c_sh) >= $threshold"))
      .join(repFp, col("rep_id") === col("rep_id2"))
      .filter(col("d_fp") =!= col("rep_fp"))
      .join(members, col("m_fp") === col("rep_fp"))
      .selectExpr("delta_id", "index_id", "jaccard_sorted(d_sh, c_sh) AS jaccard")
    val exactArm = dsh.join(members, col("m_fp") === col("d_fp"))
      .where(s"1.0 >= $threshold")
      .selectExpr("delta_id", "index_id", "CAST(1.0 AS DOUBLE) AS jaccard")
    banded.unionByName(exactArm).dropDuplicates("delta_id", "index_id")
  }

  /** Streaming per-window top-k (most active event types per hour).
    * Rank-over-aggregate cannot run inside one append-mode streaming
    * query — a window's ranks keep changing until it closes — so the
    * production idiom is: stream the WATERMARKED windowed aggregate
    * (append mode emits each window exactly once, when the watermark
    * closes it, and every row of that window lands in the same
    * micro-batch), then rank within foreachBatch. State stays bounded by
    * the watermark; the rank is exact because it only ever runs over
    * closed windows. `sink` receives each ranked micro-batch — a table
    * append in production, a collector in tests. */
  def hourlyTopTypes(events: DataFrame, k: Int)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_start")).orderBy(col("n").desc, col("event_type"))
    hourlyByType(events, streaming = true)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(batch.withColumn("rnk", row_number().over(w).cast(IntegerType))
          .filter(col("rnk") <= k))
      }
      .start()
  }

  /** Streaming vector search: a stream of query vectors — `(query_id,
    * qv: array<double>)` — retrieves its exact IVF top-k from a STATIC
    * corpus per micro-batch (the online-retrieval half of the ANN
    * family; the model can be [[graft.queries.Similarity.trainCentroids]]'
    * fitted matrix or the hash default). Same production idiom as
    * [[hourlyTopTypes]]: rank-over-aggregate can't run inside one
    * append-mode query, but a query vector's candidate set is COMPLETE
    * within its own micro-batch — the probe is a stream-static join, no
    * cross-batch state exists — so ranking inside foreachBatch is exact,
    * not an approximation. Pass a corpus already carrying `cell` (read
    * back from a [[graft.queries.Similarity.writeIvfIndexAt]] index) and
    * each batch's fetch partition-prunes to its probed cells; state is
    * zero regardless of stream length. */
  def vectorSearch(queries: DataFrame, corpus: DataFrame,
      cents: Array[Array[Double]], k: Int = 10, nProbe: Int = 4)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.queries.Similarity.searchVectors(batch, corpus, cents, k, nProbe))
      }
      .start()

  /** Streaming lexical retrieval: each micro-batch of (query_id, text)
    * rows is BM25-ranked against the static corpus at `corpusDir` —
    * the lexical twin of [[vectorSearch]], same foreachBatch shape
    * (per-batch ranking is a grouped aggregate, which a stateless
    * stream transform can't express). Scores come from the SAME SQL
    * body as the `ta_bm25` census key (one formula source — see
    * [[graft.queries.TextAnalysis.searchBm25]]), so stream ≡ batch is
    * pinned exactly in BM25Spec. */
  def bm25Probe(queries: DataFrame, corpusDir: String, k: Int = 10,
      excludeSelf: Boolean = false)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.queries.TextAnalysis.searchBm25(batch, corpusDir, k, excludeSelf))
      }
      .start()

  /** Streaming classifier serving: score each micro-batch of (doc_id,
    * text) rows against the corpus-trained Naive Bayes statistics — the
    * admission-filter shape (an ingest stream kept/dropped by the
    * trained quality model before it ever lands). The model relations
    * ride the swap-cached posting aggregate, so the FIRST batch trains
    * and every later batch pays only its own tokenization plus a
    * vocabulary-sized broadcast join — the same steady-state economics
    * as [[bm25Probe]]. Stream ≡ batch pinned in ClassifySpec. */
  def classifyProbe(docs: DataFrame, corpusDir: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.queries.Classify.registerModel(batch.sparkSession, corpusDir)
        sink(graft.queries.Classify.scoreBatch(batch))
      }
      .start()

  /** Stream → multiset-table ingestion: every micro-batch lands as ONE
    * O(|batch|) freq delta in the [[graft.sources.MultisetStore]] chain —
    * the streaming twin of the reference's TableInsert write path, wired
    * to the same store the SQL front door reads. Each commit is
    * idempotent on (feed name, micro-batch id), so foreachBatch's
    * re-execution after failure never double-counts a batch; `freq = -1`
    * turns the stream into a retraction feed (NegateFreq over a stream).
    * `feed` names the token namespace: it must be STABLE across restarts
    * of the same logical query (batch ids continue from the checkpoint)
    * and DISTINCT between different queries writing the same table —
    * two feeds sharing a name would swallow each other's batch ids.
    * Readers (`SELECT ... FROM t`, IVM refreshes, time travel) see each
    * batch atomically — versions only ever appear fully formed. */
  def multisetIngest(rows: DataFrame, path: String, freq: Long = 1L,
      feed: String = "ingest"): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.MultisetStore.appendDeltaIdempotent(
          batch.sparkSession, path, batch, s"${feed}_$batchId", freq)
        ()
      }
      .start()

  /** Declarative sessionization: Spark's native `session_window` — the
    * same gap-merge semantics as [[sessionize]]'s explicit state machine,
    * but as a one-line groupBy the optimizer owns (and the watermark
    * expires in streaming mode). Kept alongside the
    * flatMapGroupsWithState form deliberately: session ids are a running
    * count only the explicit state machine can number, so the two
    * operators return the same SESSIONS (bounds + event counts; pinned
    * against each other in StreamingSpec) while serving different needs —
    * use this one unless you need custom per-session state. */
  def sessionizeNative(events: DataFrame, gapMinutes: Int,
      streaming: Boolean): DataFrame = {
    val ts = events.withColumn("ts", col("ts").cast(TimestampType))
    val withWm = if (streaming) ts.withWatermark("ts", "1 hour") else ts
    withWm
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).cast(IntegerType).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
      .select(col("user_id"), col("n_events"), col("start_ts"), col("end_ts"))
  }

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState) — the Spark analog of the custom stateful
    * operator a streaming engine would hand-roll. Batch-callable for
    * testing: in batch mode each group sees all its events at once.
    */
  def sessionize(events: Dataset[Evt], gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evts: Iterator[Evt], state: GroupState[SessionState]) => {
          val sorted = evts.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0, 0L))
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (st.n == 0) {
              st = SessionState(t, 1L, 1, t)
            } else if (t - st.lastTs > gapMs) {
              out += SessionOut(user, st.sessionId, st.n,
                new java.sql.Timestamp(st.startTs), new java.sql.Timestamp(st.lastTs))
              st = SessionState(t, st.sessionId + 1, 1, t)
            } else {
              st = st.copy(lastTs = t, n = st.n + 1)
            }
          }
          // Batch mode: flush the open session too (stream mode would hold
          // it in state awaiting more events / a timeout).
          if (st.n > 0) {
            out += SessionOut(user, st.sessionId, st.n,
              new java.sql.Timestamp(st.startTs), new java.sql.Timestamp(st.lastTs))
            st = st.copy(n = 0)
          }
          state.update(st)
          out.iterator
        })
  }
}
