package graft.ivm

import graft.sources.StoredParquet
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
  * State = the freq-compacted A and B multisets plus the compacted view,
  * all versioned parquet snapshots (immutable, time-travelable like
  * [[IncrementalAggView]]).
  *
  * Scale: one refresh joins ONLY the delta against the other side's
  * state — never state ⋈ state after v0 — so per-batch cost is
  * |Δ| × matching-state, independent of base-table history. All three
  * stores compact by tuple, so state is bounded by distinct tuples. On a
  * real cluster, bucket both side-stores by the join key: the delta
  * joins become co-partitioned and the only exchange left is the delta's
  * own repartition — at 100 TB the delta is the only new I/O per batch.
  * Every state read is planned from the schema its writer stored
  * ([[graft.sources.StoredParquet]]), so building a plan runs no job.
  */
final class IncrementalJoinView(
    spark: SparkSession,
    joinKeys: Seq[String],
    statePath: String) {

  val freqCol = "__freq"
  private var version: Int = -1
  private def dir(side: String, v: Int) = s"$statePath/$side/v$v"

  /** Merge a freq-annotated relation per distinct tuple; drop zeros. */
  private def compact(df: DataFrame): DataFrame = {
    val tupleCols = df.columns.filterNot(_ == freqCol).toSeq
    df.groupBy(tupleCols.map(col): _*)
      .agg(sum(col(freqCol)).as(freqCol))
      .filter(col(freqCol) =!= 0)
  }

  private def withFreq(df: DataFrame): DataFrame =
    if (df.columns.contains(freqCol)) df else df.withColumn(freqCol, lit(1L))

  /** A ⋈ B with frequency product; disjoint non-key columns assumed. */
  private def joinFreq(a: DataFrame, b: DataFrame): DataFrame = {
    val af = a.withColumnRenamed(freqCol, "__fa")
    val bf = b.withColumnRenamed(freqCol, "__fb")
    af.join(bf, joinKeys)
      .withColumn(freqCol, col("__fa") * col("__fb"))
      .drop("__fa", "__fb")
  }

  def initialize(a: DataFrame, b: DataFrame): Unit = {
    val a0 = compact(withFreq(a))
    val b0 = compact(withFreq(b))
    a0.write.mode("overwrite").parquet(dir("a", 0))
    b0.write.mode("overwrite").parquet(dir("b", 0))
    compact(joinFreq(StoredParquet.read(spark, dir("a", 0)),
      StoredParquet.read(spark, dir("b", 0))))
      .write.mode("overwrite").parquet(dir("view", 0))
    version = 0
  }

  /** Apply one batch of freq-annotated deltas (either side may be empty)
    * → next snapshot version of both side-states and the view.
    *
    * Returns ΔV, the view's own freq-compacted change set for this batch —
    * downstream freq-delta consumers (an [[IncrementalAggView]] keyed on
    * view columns, another join) compose by feeding on it, which is the
    * whole point of the uniform freq-annotated delta contract: view
    * maintenance pipelines chain without ever recomputing upstream state. */
  def applyDelta(deltaA: Option[DataFrame], deltaB: Option[DataFrame]): DataFrame = {
    require(version >= 0, "view not initialized")
    val oldA = StoredParquet.read(spark, dir("a", version))
    val oldB = StoredParquet.read(spark, dir("b", version))
    val da = deltaA.map(withFreq)
    val db = deltaB.map(withFreq)

    val newB = db.map(d => compact(oldB.unionByName(d))).getOrElse(oldB)
    newB.write.mode("overwrite").parquet(dir("b", version + 1))
    val newA = da.map(d => compact(oldA.unionByName(d))).getOrElse(oldA)
    newA.write.mode("overwrite").parquet(dir("a", version + 1))

    // ΔV = ΔA ⋈ B_new ∪ A_old ⋈ ΔB (read the just-written B_new back so
    // the delta joins run against compacted parquet, not a live plan)
    val bNewStored = StoredParquet.read(spark, dir("b", version + 1))
    val dViewParts =
      da.map(d => joinFreq(d, bNewStored)).toSeq ++
        db.map(d => joinFreq(oldA, d)).toSeq
    val oldView = StoredParquet.read(spark, dir("view", version))
    val newView = dViewParts.foldLeft(oldView)(_ unionByName _)
    compact(newView).write.mode("overwrite").parquet(dir("view", version + 1))
    // persist ΔV so the returned frame reads a snapshot, not a live plan
    // over state that the NEXT applyDelta will supersede (empty ΔV when
    // both deltas are absent)
    val dView = dViewParts.reduceOption(_ unionByName _)
      .map(compact).getOrElse(oldView.limit(0))
    dView.write.mode("overwrite").parquet(dir("dview", version + 1))
    version += 1
    StoredParquet.read(spark, dir("dview", version))
  }

  /** The maintained join view (freq-annotated) at the latest version. */
  def current(): DataFrame = at(version)

  /** Time-travel read of any retained snapshot version. */
  def at(v: Int): DataFrame = {
    require(version >= 0, "view not initialized")
    require(v >= 0 && v <= version, s"version $v out of range [0, $version]")
    StoredParquet.read(spark, dir("view", v))
  }

  def currentVersion: Int = version

  /** Continuous maintenance from a stream of A-side freq-annotated deltas
    * (the common shape: a fact stream joining a slowly-changing dimension
    * whose own updates arrive via explicit applyDelta calls). Each
    * micro-batch becomes one delta-join refresh — mirrors
    * [[IncrementalAggView.maintainFrom]]. */
  def maintainFrom(deltaAStream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    deltaAStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { applyDelta(Some(batch), None); () }
      }
      .start()
}
