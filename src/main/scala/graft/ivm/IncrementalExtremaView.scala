package graft.ivm

import graft.sources.MultisetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retractable MIN/MAX materialized view — the aggregate family the
  * reference left out: its AggregateFunction trait marks only
  * count/sum/avg retractable (functions/src/aggregate/maths/sum.rs:42,
  * avg.rs:55, misc/count.rs:34) because extrema cannot be maintained
  * from a scalar partial state under retraction — deleting the current
  * minimum says nothing about the next one.
  *
  * The multiset storage model the reference DID build (freq-merged
  * tuples, storage/src/table.rs:309-347) is exactly the state that makes
  * retractable extrema possible, so this view keeps its state AS a
  * [[MultisetStore]]: the (key, value) multiset with merged frequencies.
  * min/max are read-time aggregations over values with freq > 0 — a
  * retraction of the current minimum simply uncovers the next.
  *
  * Scale: state is bounded by DISTINCT (key, value) pairs, not row
  * count; a delta merge is one hash aggregation keyed on (key, value)
  * (MultisetStore's contract), and the read is a keyed min/max over the
  * compacted snapshot. Bucketing the snapshot by key makes both
  * exchange-free on a real cluster.
  */
final class IncrementalExtremaView(
    spark: SparkSession,
    keyCols: Seq[String],
    valCol: String,
    statePath: String) {

  val freqCol: String = MultisetStore.freqCol
  private val stateCols = keyCols :+ valCol

  /** Build v0 state from a base table (implicit freq = 1 per row). */
  def initialize(base: DataFrame): Unit = applyDelta(
    if (base.columns.contains(freqCol)) base
    else base.withColumn(freqCol, lit(1L)))

  /** Merge a freq-annotated change set (+n insert, −n retract). */
  def applyDelta(delta: DataFrame): Unit =
    MultisetStore.append(spark, statePath,
      delta.select((stateCols :+ freqCol).map(col): _*))

  /** Current min/max per key. Keys whose multiset retracted to empty
    * vanish, like the reference's zero-freq groups. */
  def current(): DataFrame =
    MultisetStore.snapshot(spark, statePath)
      .filter(col(freqCol) > 0L)
      .groupBy(keyCols.map(col): _*)
      .agg(min(col(valCol)).as(s"min_$valCol"), max(col(valCol)).as(s"max_$valCol"))

  /** Current COUNT(DISTINCT value) per key — retractable for the same
    * reason the extrema are: the state is the value multiset, so a
    * value's distinct contribution disappears exactly when its merged
    * freq drops to ≤ 0. The compacted snapshot holds ONE row per
    * distinct (key, value) (MultisetStore's write contract), so the
    * read is a plain count — no distinct aggregation re-runs. */
  def distinctCounts(): DataFrame =
    MultisetStore.snapshot(spark, statePath)
      .filter(col(freqCol) > 0L)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as(s"n_distinct_$valCol"))

  /** Current top-k DISTINCT values per key, largest first — the natural
    * generalization of [[current]]: the same multiset state that makes
    * extrema retractable makes any order statistic retractable, because
    * retracting the rank-1 value simply uncovers rank 2. The state holds
    * one row per distinct (key, value), so ranks are well-defined and
    * the `rnk <= k` window predicate plans as WindowGroupLimit — each
    * scan task forwards k rows per key, O(k·keys) through the exchange
    * regardless of state size. */
  def topK(k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(valCol).desc)
    MultisetStore.snapshot(spark, statePath)
      .filter(col(freqCol) > 0L)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select((keyCols.map(col) :+ col(valCol) :+ col("rnk").cast("int").as("rnk")): _*)
  }

  /** Continuous maintenance: one applyDelta per micro-batch. */
  def maintainFrom(deltaStream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    ViewStore.maintain(deltaStream)(applyDelta)
}
