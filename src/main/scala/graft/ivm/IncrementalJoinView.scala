package graft.ivm

import graft.sources.MultisetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized equi-join view over freq-annotated relations —
  * the join half of the reference's unfinished IVM story (its tuple model
  * carries an i64 frequency everywhere — /root/reference/src/storage/src/
  * storage.rs:34-63 — and multiset join semantics multiply frequencies,
  * but no incremental join executor exists).
  *
  * Delta rule (classic bag-algebra view maintenance):
  *
  *   Δ(A ⋈ B) = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB
  *
  * where B_new = B_old ⊎ ΔB — the two-join form of the three-term rule
  * (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB), with joined frequencies multiplying
  * (freq(a⋈b) = freq(a)·freq(b)) and retractions just negative
  * frequencies flowing through the same arithmetic.
  *
  * Scale: state is three [[graft.sources.MultisetStore]]s under
  * `statePath` — `a/`, `b/` and the view `view/`. A batch writes ΔA, ΔB
  * and ΔV as one delta version each (`appendDelta`), so its I/O is
  * O(|Δ|); each store folds `autoCompactDeltas` pending deltas into a
  * snapshot, so state is bounded by distinct tuples, and [[vacuum]] drops
  * what precedes each store's latest snapshot. The refresh joins ONLY
  * the deltas against the other side's state, which it reads by merging
  * at most `autoCompactDeltas` pending deltas — per-batch cost is
  * |Δ| × matching-state, independent of history — and the ΔV it returns
  * is the view store's change feed, read from that delta alone. Bucketing
  * both side-stores by the join key on a real cluster co-partitions the
  * delta joins. Plans are built from stored footers, with no job
  * ([[graft.sources.StoredParquet]]). The three stores commit one after
  * another, not as one step. Measured cost: SCALE.md, "Streaming / IVM".
  */
final class IncrementalJoinView(
    spark: SparkSession,
    joinKeys: Seq[String],
    statePath: String) {

  val freqCol: String = MultisetStore.freqCol
  private val aPath = s"$statePath/a"
  private val bPath = s"$statePath/b"
  private val viewPath = s"$statePath/view"

  /** A ⋈ B with frequency product; disjoint non-key columns assumed. */
  private def joinFreq(a: DataFrame, b: DataFrame): DataFrame = {
    val af = a.withColumnRenamed(freqCol, "__fa")
    val bf = b.withColumnRenamed(freqCol, "__fb")
    af.join(bf, joinKeys)
      .withColumn(freqCol, col("__fa") * col("__fb"))
      .drop("__fa", "__fb")
  }

  /** Append `delta` to the store at `path`; returns the new version's feed. */
  private def record(path: String, delta: DataFrame): DataFrame = {
    val v = MultisetStore.appendDelta(spark, path, delta)
    MultisetStore.changes(spark, path, v - 1, v)
  }

  /** Build v0 of all three stores (implicit freq = 1 per row) in an emptied `statePath`. */
  def initialize(a: DataFrame, b: DataFrame): Unit = {
    MultisetStore.deleteRecursively(java.nio.file.Paths.get(statePath))
    MultisetStore.append(spark, aPath, a)
    MultisetStore.append(spark, bPath, b)
    MultisetStore.append(spark, viewPath, joinFreq(
      MultisetStore.snapshot(spark, aPath), MultisetStore.snapshot(spark, bPath)))
  }

  /** Apply one batch of freq-annotated deltas (either side may be empty).
    *
    * Returns ΔV, the view's own freq-compacted change set for this batch —
    * downstream freq-delta consumers (an [[IncrementalAggView]] keyed on
    * view columns, another join) compose by feeding on it, so view
    * maintenance pipelines chain without ever recomputing upstream state.
    * ΔV is a plan over the view store's newest version; consume it before
    * the next [[vacuum]], which may delete that version's files. */
  def applyDelta(deltaA: Option[DataFrame], deltaB: Option[DataFrame]): DataFrame = {
    require(currentVersion >= 0, "view not initialized")
    // planned before ΔA lands: a plan keeps the version dirs it listed
    val oldA = MultisetStore.snapshot(spark, aPath)
    val dB = deltaB.map(record(bPath, _))
    val dA = deltaA.map(record(aPath, _))
    val newB = MultisetStore.snapshot(spark, bPath)
    record(viewPath, (dA.map(joinFreq(_, newB)) ++ dB.map(joinFreq(oldA, _)))
      .reduceOption(_ unionByName _)
      .getOrElse(MultisetStore.snapshot(spark, viewPath).limit(0)))
  }

  /** Keep each store's latest snapshot and the deltas after it. */
  def vacuum(): Unit = Seq(aPath, bPath, viewPath).foreach(MultisetStore.vacuum)

  /** The maintained join view (freq-annotated) at the latest version. */
  def current(): DataFrame = at(currentVersion)

  /** Time-travel read of any retained version of the view. */
  def at(v: Int): DataFrame = ViewStore.at(spark, viewPath, v)

  def currentVersion: Int = ViewStore.latest(viewPath)

  /** Continuous maintenance from a stream of A-side deltas (a fact stream
    * joining a slowly-changing dimension whose own updates arrive via
    * explicit applyDelta calls): one refresh per micro-batch. */
  def maintainFrom(deltaAStream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    ViewStore.maintain(deltaAStream) { batch => applyDelta(Some(batch), None); () }
}
