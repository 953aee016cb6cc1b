package graft.ivm

import graft.sources.MultisetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental materialized aggregate view — the capability the reference
  * was built toward but never finished (SURVEY.md §1.1/§2.5: every tuple
  * carries an i64 frequency; aggregates declare supports_retract; the
  * storage layer merges freq deltas — /root/reference/src/storage/src/
  * storage.rs:34-63, functions/src/lib.rs:117-159 — yet no incremental
  * executor exists).
  *
  * A change stream is a DataFrame with a `__freq: Long` column (+n insert,
  * −n retract), exactly the reference's tuple model. View state is the
  * *partial aggregate* per key in a [[graft.sources.MultisetStore]]: the
  * key is the tuple, `__freq` (Σfreq) the count, and each `sum_c`
  * (Σ value×freq) a measure summed alongside it. A group goes once its
  * count and sums all reach zero (full retraction); a group whose count
  * nets to zero while a sum does not (a retraction ahead of its insert)
  * stays in state, hidden on read, so the insert still nets out.
  * avg = sum/count is derived on read, so state stays mergeable — the
  * initialize/apply/merge/finalize split of the reference's
  * AggregateFunction trait.
  *
  * Scale: one snapshot version `v<N>` per refresh, written by the store's
  * merge-on-write (`append`): stored partials ∪ one partial per delta row,
  * merged by ONE hash aggregation on the view key — one exchange of
  * |state| + |delta| rows, independent of base-table size, and no job to
  * plan it ([[graft.sources.StoredParquet]]). The view merges on write,
  * not with `appendDelta`, because it is read after every refresh: on the
  * traced `multiset_dml` benchmark (seed 1, a shared 4-vCPU machine) the
  * pending per-row partials grew its state from 8,693 B to 303,604 B and
  * the median `ivm_read` from 88–151 ms to 233–344 ms (seeds 1–5).
  * Bucketing the state by key on a real cluster co-partitions the merge
  * and the exchange disappears. [[vacuum]] is the retention cut.
  */
final class IncrementalAggView(
    spark: SparkSession,
    keyCols: Seq[String],
    sumCols: Seq[String],
    statePath: String) {

  val freqCol: String = MultisetStore.freqCol
  private def sumName(c: String) = s"sum_$c"
  private val measures = sumCols.map(sumName)

  /** Build v0 state from `base` (implicit freq = 1 per row) in an emptied `statePath`. */
  def initialize(base: DataFrame): Unit = {
    MultisetStore.deleteRecursively(java.nio.file.Paths.get(statePath))
    merge(if (base.columns.contains(freqCol)) base else base.withColumn(freqCol, lit(1L)))
  }

  /** Apply one freq-annotated delta batch → next snapshot version. */
  def applyDelta(delta: DataFrame): Unit = merge(checked(delta))

  /** [[applyDelta]] once per `batchId`: the id commits in the refresh's
    * version, and a batch whose id the store already holds is skipped
    * (returns false) — a replayed micro-batch is not counted twice. */
  def applyBatch(delta: DataFrame, batchId: String): Boolean =
    MultisetStore.appendIdempotent(spark, statePath, partials(checked(delta)), batchId, measures)

  private def checked(delta: DataFrame): DataFrame = {
    require(currentVersion >= 0, "view not initialized")
    require(delta.columns.contains(freqCol), s"delta needs $freqCol")
    delta
  }

  private def merge(delta: DataFrame): Unit =
    MultisetStore.append(spark, statePath, partials(delta), measures = measures)

  // each delta row is its own partial: cnt = freq, sum = value × freq
  private def partials(delta: DataFrame): DataFrame = delta.select(
    keyCols.map(col) ++ (col(freqCol).cast(LongType).as(freqCol) +:
      sumCols.map(c => (col(c).cast(DecimalType(18, 2)) * col(freqCol))
        .cast(DecimalType(38, 2)).as(sumName(c)))): _*)

  /** Drop every snapshot older than the current one; ends time travel into them. */
  def vacuum(): Unit = MultisetStore.vacuum(statePath)

  /** Finalized view: count, sums, and derived averages per key. */
  def current(): DataFrame = at(currentVersion)

  /** Time-travel read of any retained version — the analog of the
    * reference's MVCC read-at-LogicalTimestamp scans
    * (storage/src/table.rs:128-171). */
  def at(v: Int): DataFrame =
    ViewStore.at(spark, statePath, v).filter(col(freqCol) =!= 0).select(
      keyCols.map(col) ++ Seq(col(freqCol).as("cnt")) ++ measures.map(col) ++
        sumCols.map(c => (col(sumName(c)).cast(DoubleType) / col(freqCol)).as(s"avg_$c")): _*)

  def currentVersion: Int = ViewStore.latest(statePath)

  /** Continuous maintenance: one applyBatch per micro-batch. */
  def maintainFrom(deltaStream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    ViewStore.maintain(deltaStream) { (batch, id) => applyBatch(batch, id); () }
}
