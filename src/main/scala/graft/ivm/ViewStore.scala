package graft.ivm

import graft.sources.MultisetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** What the IVM views share: state in [[graft.sources.MultisetStore]]
  * directories, whose versions are the views' versions. */
private[ivm] object ViewStore {

  /** The latest version of the store at `path`; −1 before the first write. */
  def latest(path: String): Int = MultisetStore.versions(path).lastOption.getOrElse(-1)

  /** State as of retained version `v`, between the oldest and latest on disk. */
  def at(spark: SparkSession, path: String, v: Int): DataFrame = {
    val vs = MultisetStore.versions(path)
    require(vs.nonEmpty, "view not initialized")
    require(v >= vs.head && v <= vs.last,
      s"version $v out of the retained range [${vs.head}, ${vs.last}]")
    MultisetStore.snapshotAt(spark, path, v)
  }

  /** One `apply(batch, batchId)` per non-empty micro-batch of a
    * freq-annotated delta stream: the refresh loop of the reference's
    * storage.rs:34-63 log-section design. `batchId` is the streaming
    * query's id and the micro-batch number, so a micro-batch that
    * Structured Streaming re-executes after a restart from its checkpoint
    * carries the same id, while a new query over the same view starts
    * afresh at batch 0 under an id of its own. */
  def maintain(deltaStream: DataFrame)(apply: (DataFrame, String) => Unit): StreamingQuery =
    deltaStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // StreamExecution sets the query id on the thread that runs the batch
        val query = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        if (!batch.isEmpty) apply(batch, s"${query}_$batchId")
      }
      .start()
}
