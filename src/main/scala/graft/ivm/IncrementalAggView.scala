package graft.ivm

import graft.sources.{MultisetStore, StoredParquet}
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
  * Spark-native realization:
  *   - a change stream is a DataFrame with a `__freq: Long` column
  *     (+n insert, −n retract), exactly the reference's tuple model;
  *   - view state is the *partial aggregate* per key (count as Σfreq,
  *     sums as Σ value×freq) persisted as versioned parquet snapshots;
  *   - refresh = union(state-partials, delta-partials) → one hash
  *     aggregation on the view key → new snapshot. Groups whose count
  *     and sums all reach zero vanish, i.e. full retraction semantics; a
  *     group whose count nets to zero while a sum does not (a retraction
  *     that arrived before its insert) stays in state, hidden on read,
  *     so the insert still nets out;
  *   - finalized values (avg = sum/count) are derived on read, so state
  *     stays mergeable — the same initialize/apply/merge/finalize split
  *     as the reference's AggregateFunction trait.
  *
  * Scale: a refresh is ONE hash aggregation — each delta row is its own
  * partial, unioned with the stored state — so it has one exchange,
  * carrying |state| + |delta| rows pre-aggregated per map task and keyed
  * by the view key, independent of base-table size. Building a refresh
  * or read plan launches no Spark job: state is read with the schema its
  * writer stored ([[graft.sources.StoredParquet]]). With the state
  * bucketed by key on a real cluster the merge is co-partitioned and the
  * exchange disappears; at 100 TB the delta is the only new I/O. Every
  * refresh writes a full snapshot; [[vacuum]] is the retention cut.
  */
final class IncrementalAggView(
    spark: SparkSession,
    keyCols: Seq[String],
    sumCols: Seq[String],
    statePath: String) {

  val freqCol = "__freq"
  private def sumName(c: String) = s"sum_$c"
  private var version: Int = -1
  // oldest snapshot still on disk; [[vacuum]] moves it up to `version`
  private var oldest: Int = 0

  private def versionDir(v: Int) = s"$statePath/v$v"

  /** Partial-aggregate a freq-annotated change set. */
  private def partials(delta: DataFrame): DataFrame = {
    val aggs =
      sum(col(freqCol)).as("cnt") +:
        sumCols.map(c =>
          sum(col(c).cast(DecimalType(18, 2)) * col(freqCol))
            .cast(DecimalType(38, 2)).as(sumName(c)))
    delta.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Build v0 state from a base table (implicit freq = 1 per row). */
  def initialize(base: DataFrame): Unit = {
    val withFreq =
      if (base.columns.contains(freqCol)) base
      else base.withColumn(freqCol, lit(1L))
    partials(withFreq).write.mode("overwrite").parquet(versionDir(0))
    version = 0
    oldest = 0
  }

  /** Apply one freq-annotated delta batch → next snapshot version. Each
    * delta row is its own partial (cnt = freq, sum = value × freq),
    * unioned with the stored state and merged by ONE aggregation on the
    * view key. Groups whose count and sums all net to zero vanish. */
  def applyDelta(delta: DataFrame): Unit = {
    require(version >= 0, "view not initialized")
    require(delta.columns.contains(freqCol), s"delta needs $freqCol")
    val rowPartials = delta.select(
      keyCols.map(col) ++ (col(freqCol).cast(LongType).as("cnt") +:
        sumCols.map(c => (col(c).cast(DecimalType(18, 2)) * col(freqCol))
          .cast(DecimalType(38, 2)).as(sumName(c)))): _*)
    val merged = StoredParquet.read(spark, versionDir(version)).unionByName(rowPartials)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("cnt")).as("cnt"),
        sumCols.map(c => sum(col(sumName(c))).cast(DecimalType(38, 2)).as(sumName(c))): _*)
      .filter(sumCols.foldLeft(col("cnt") =!= 0)((keep, c) => keep || col(sumName(c)) =!= 0))
    merged.write.mode("overwrite").parquet(versionDir(version + 1))
    version += 1
  }

  /** Retention cut, mirroring [[graft.sources.MultisetStore.vacuum]]:
    * delete every snapshot older than the current version. Ends time
    * travel into them; safe once no reader holds a plan over them. */
  def vacuum(): Unit = {
    require(version >= 0, "view not initialized")
    (oldest until version).foreach(v =>
      MultisetStore.deleteRecursively(java.nio.file.Paths.get(versionDir(v))))
    oldest = version
  }

  /** Finalized view: count, sums, and derived averages per key. */
  def current(): DataFrame = at(version)

  /** Time-travel read of any retained snapshot version — the Spark-side
    * analog of the reference's MVCC read-at-LogicalTimestamp scans
    * (/root/reference/src/storage/src/table.rs:128-171): every applyDelta
    * produces an immutable version, so historical states stay queryable
    * until [[vacuum]] deletes them. */
  def at(v: Int): DataFrame = {
    require(version >= 0, "view not initialized")
    require(v >= oldest && v <= version,
      s"version $v out of the retained range [$oldest, $version]")
    val st = StoredParquet.read(spark, versionDir(v))
    val finalCols =
      keyCols.map(col) ++ Seq(col("cnt")) ++
        sumCols.map(c => col(sumName(c))) ++
        sumCols.map(c =>
          (col(sumName(c)).cast(DoubleType) / col("cnt")).as(s"avg_$c"))
    st.filter(col("cnt") =!= 0).select(finalCols: _*)
  }

  def currentVersion: Int = version

  /** Continuous maintenance: subscribe the view to a streaming source of
    * freq-annotated deltas. Each micro-batch becomes one applyDelta merge —
    * Structured Streaming's exactly-once foreachBatch gives the refresh
    * loop the reference's storage layer was being built for
    * (storage.rs:34-63 log-section design). */
  def maintainFrom(deltaStream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    deltaStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) applyDelta(batch)
      }
      .start()
}
