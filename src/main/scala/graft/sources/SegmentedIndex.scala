package graft.sources

import graft.Timing
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

/** LSM-shaped retractable index — the reference's freq-retraction
  * storage (a delete is a negative-frequency append that merges later,
  * storage/table.rs:309-347) applied to a corpus-sized index, the FAISS
  * `remove_ids` + add-segment serving pattern. One index is three
  * relations:
  *   - an immutable BASE segment, written once and never rewritten;
  *   - a TOMBSTONE relation of deleted ids — O(|deletes|) per edit;
  *   - a DELTA segment of re-ingested rows, written by the index's own
  *     segment writer (same schema, same layout) — O(|adds|) per edit.
  * The live index is `(base ∖ tombstones ∖ delta-ids) ∪ delta`
  * ([[live]]), composed at probe time and folded into a new base by
  * [[compact]]. The ANN (`ivm_ann`), minhash-band (`ivm_dedup`) and
  * BM25-posting (`ivm_bm25_lsm`) indexes all build, compose, stream-
  * maintain and compact through this module; each axis keeps only its
  * segment writers and what it does with the live relation.
  *
  * An index may hold several tables (dedup: groups + bands; BM25:
  * postings + doclen). A `table` argument is the table's sub-path under
  * both the base and the delta segment (`"/groups"`), or `""` for a
  * single-table index stored at the segment root; the tombstone relation
  * is shared by every table. */
object SegmentedIndex {

  final case class State(base: String, tombstones: String, delta: String)

  object State {
    def under(root: String): State = State(s"$root/base", s"$root/tombstones", s"$root/delta")
  }

  /** Read a segment relation, or an empty relation of `like`'s schema
    * when the segment hasn't landed yet — a stream that has only seen
    * deletes has no delta segment, one that has only seen adds has no
    * tombstones, and the probe must serve correctly at every point of
    * the edit stream ([[maintain]]). `spark.read.parquet` raises
    * AnalysisException only for a missing directory or one without data
    * files; an unreadable part file raises SparkException, which is not
    * caught — a landed segment is never served as empty. */
  private def segment(spark: SparkSession, path: String, like: => DataFrame): DataFrame =
    try spark.read.parquet(path)
    catch { case _: AnalysisException => like.limit(0) }

  /** The live relation (base ∖ tombIds ∖ delta-ids) ∪ delta. DELTA
    * WINS: a re-ingested id replaces any base copy whether or not
    * the edit stream tombstoned it first, so correctness never depends on
    * delta ⊆ tombstones and a re-add can never duplicate rows into a
    * probe. Both edit relations broadcast — edits are small next to the
    * corpus.
    *
    * The delta is deduplicated on `id +: dedupOn`: an edit STREAM may
    * land the same id in several appended delta segments, and the
    * segment model is content-addressed — delta rows for one key are
    * replicas of one deterministic derivation, so keep-any is exact. (An
    * id whose CONTENT changed must be tombstoned and re-added after a
    * [[compact]]; mutable re-derivation would need versioned segments,
    * which the reference's append-only storage doesn't model either.) */
  def live(base: DataFrame, tombIds: DataFrame, delta: DataFrame, id: String,
      dedupOn: String*): DataFrame = {
    val d = delta.dropDuplicates(id +: dedupOn)
    base
      .join(broadcast(tombIds.select(id)), Seq(id), "left_anti")
      .join(broadcast(d.select(id).distinct()), Seq(id), "left_anti")
      .unionByName(d)
  }

  /** [[live]] over one table of a stored index: its base segment, the
    * shared tombstones and its delta segment, the edit relations read
    * through [[segment]]. */
  def liveTable(spark: SparkSession, st: State, table: String, id: String,
      dedupOn: String*): DataFrame = {
    val base = spark.read.parquet(st.base + table)
    live(base, segment(spark, st.tombstones, base.select(id)),
      segment(spark, st.delta + table, base), id, dedupOn: _*)
  }

  /** Every stored row of one table, base ∪ delta, tombstones NOT
    * applied — for a table whose liveness the axis decides itself (the
    * dedup bands are live per exact-dup group, not per doc). */
  def allSegments(spark: SparkSession, st: State, table: String): DataFrame = {
    val base = spark.read.parquet(st.base + table)
    base.unionByName(segment(spark, st.delta + table, base))
  }

  /** Build an index under `root` and apply one batch edit, timing each
    * phase: `baseLabel` writes the base segment, `retract` writes
    * `tombstoneSql`'s ids as the tombstone relation, `append` writes the
    * re-ingested slice as the delta segment. `tombstoneSql` runs after
    * the base write, so it may read views the base writer registers. */
  def build(spark: SparkSession, root: String, timer: (String, Double) => Unit,
      baseLabel: String)(writeBase: String => Unit, tombstoneSql: String,
      writeDelta: String => Unit): State = {
    val st = State.under(root)
    Timing.timed(timer, baseLabel)(writeBase(st.base))
    Timing.timed(timer, "retract") {
      spark.sql(tombstoneSql).write.mode("overwrite").parquet(st.tombstones)
    }
    Timing.timed(timer, "append")(writeDelta(st.delta))
    st
  }

  /** Compaction — the GC an LSM promises: `writeBase`
    * folds the old index's live relations into the new state's base (the
    * axis owns the layout and any GC of its own), then the tombstone
    * relation and each of `tables`' delta segments are reset to empty,
    * schema kept. Composed and compacted probes are the same relation by
    * construction (IvmSpec pins composed ≡ compacted ≡ one-shot per
    * axis). Cost: one pass over the live state — pay it when the edit
    * history's probe overhead (tombstone anti-join input + dead delta
    * rows) outgrows a base rewrite. */
  def compact(spark: SparkSession, root: String, id: String, tables: String*)(
      writeBase: State => Unit): State = {
    val nu = State.under(root)
    writeBase(nu)
    // flat writes — a partitionBy write of zero rows would produce an
    // unreadable directory
    def empty(df: DataFrame, path: String): Unit = df.limit(0).coalesce(1).write.parquet(path)
    empty(spark.read.parquet(nu.base + tables.head).select(id), nu.tombstones)
    tables.foreach(t => empty(spark.read.parquet(nu.base + t), nu.delta + t))
    nu
  }

  /** Streamed maintenance: a micro-batch stream of SIGNED edits —
    * (`editId`, freq) rows, freq < 0 retract / freq > 0 re-ingest, the
    * reference's tuple model (storage.rs:34-63) applied to an index —
    * lands via foreachBatch against the same state the batch path
    * composes:
    *   - deletes append their ids to the tombstone relation (as
    *     `tombId`), O(|deletes|) per batch;
    *   - re-ingests collect the batch's ids (bounded by the micro-batch,
    *     the same bounded-collect class as the BM25 probe's query
    *     vocabulary) into an `editId IN (...)` predicate, and
    *     `appendSlice(spark, predicate)` appends that slice to the delta
    *     segment with the axis's own writer, O(|adds|);
    *   - the base segment is never touched, and [[live]] serves BETWEEN
    *     batches — [[segment]] covers the before-first-batch states, and
    *     the delta-wins anti-join makes a re-ingest authoritative whether
    *     or not its id was tombstoned first, so correctness never depends
    *     on batch boundaries or ordering. The delta's content-addressed
    *     dedup makes re-sending an id idempotent, so foreachBatch's
    *     at-least-once replay after failure is safe.
    * Stream-of-edits ≡ batch edit ≡ one-shot rebuild is pinned in IvmSpec
    * and gated by the `ivm_*_stream` census oracles. */
  def maintain(edits: DataFrame, st: State, editId: String, tombId: String)(
      appendSlice: (SparkSession, String) => Unit): StreamingQuery =
    edits.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.cache()
        try {
          val dels = b.filter(col("freq") < 0)
            .select(col(editId).cast(LongType).as(tombId))
          if (!dels.isEmpty) dels.write.mode("append").parquet(st.tombstones)
          val adds = b.filter(col("freq") > 0).select(col(editId))
            .collect().map(_.getLong(0)) // bounded: one micro-batch's ids
          if (adds.nonEmpty)
            appendSlice(batch.sparkSession, s"$editId IN (${adds.mkString(",")})")
        } finally { b.unpersist(blocking = false); () }
      }
      .start()
}
