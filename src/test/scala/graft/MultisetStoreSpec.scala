package graft

import graft.sources.MultisetStore
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the freq-compacting multiset store, mirroring the reference's
  * write-time freq merge (storage/src/table.rs:309-347):
  *   - repeated inserts of a tuple merge into ONE stored row with summed
  *     freq (never physical duplication);
  *   - delete (freq −1) nets against inserts; a tuple retracted to zero
  *     compacts away entirely;
  *   - a retraction arriving BEFORE its insert (negative freq in state)
  *     nets out once the insert lands;
  *   - read expands freq copies.
  */
class MultisetStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft_ms_spec_").resolve("t").toString

  test("inserts merge freq per tuple; snapshot holds one row per distinct tuple") {
    val p = tmp()
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    MultisetStore.append(spark, p, df)
    MultisetStore.append(spark, p, df)
    MultisetStore.append(spark, p, Seq((1, "a")).toDF("k", "v"))
    val snap = MultisetStore.snapshot(spark, p)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(snap == Map((1, "a") -> 3L, (2, "b") -> 2L))
    // read expands the freq
    assert(MultisetStore.read(spark, p).count() == 5)
  }

  test("retraction to zero compacts the tuple away") {
    val p = tmp()
    MultisetStore.append(spark, p, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    MultisetStore.append(spark, p, Seq((1, "a")).toDF("k", "v"), freq = -1L)
    val snap = MultisetStore.snapshot(spark, p)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(snap == Set((2, "b")), "freq-0 tuple must not persist")
  }

  test("concurrent appends both land — the version race retries, never drops a delta") {
    val p = tmp()
    MultisetStore.append(spark, p, Seq((0, "base")).toDF("k", "v"))
    // two writers race from the same observed base; optimistic rename +
    // re-merge must serialize them with neither delta lost
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 4).map { i =>
      Future(MultisetStore.append(spark, p, Seq((i, s"w$i")).toDF("k", "v")))
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val snap = MultisetStore.snapshot(spark, p)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(snap == Map((0, "base") -> 1L, (1, "w1") -> 1L, (2, "w2") -> 1L,
      (3, "w3") -> 1L, (4, "w4") -> 1L))
    // every version directory is fully formed; no staging debris survives
    val entries = new java.io.File(p).list().toSeq
    assert(entries.forall(_.matches("v\\d+")), s"unexpected entries: $entries")
  }

  test("retraction before insert nets out (negative freq retained in state)") {
    val p = tmp()
    MultisetStore.append(spark, p, Seq((9, "z")).toDF("k", "v"), freq = -1L)
    // negative-freq tuple is stored but yields no rows
    assert(MultisetStore.snapshot(spark, p).count() == 1)
    assert(MultisetStore.read(spark, p).count() == 0)
    MultisetStore.append(spark, p, Seq((9, "z")).toDF("k", "v"), freq = 2L)
    assert(MultisetStore.read(spark, p).count() == 1)
  }

  test("delta appends merge on read; compact + vacuum leave one snapshot with identical state") {
    val p = tmp()
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    MultisetStore.appendDelta(spark, p, df)
    MultisetStore.appendDelta(spark, p, df)
    MultisetStore.appendDelta(spark, p, Seq((1, "a")).toDF("k", "v"), freq = -1L)
    val before = MultisetStore.snapshot(spark, p)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(before == Map((1, "a") -> 1L, (2, "b") -> 2L))
    // three pending deltas on disk, no snapshot yet
    val versionsBefore = new java.io.File(p).list().count(_.matches("v\\d+"))
    assert(versionsBefore == 3)
    MultisetStore.compact(spark, p)
    MultisetStore.vacuum(p)
    val entries = new java.io.File(p).list().filter(_.matches("v\\d+")).toSeq
    assert(entries.size == 1, s"vacuum left extra versions: $entries")
    val after = MultisetStore.snapshot(spark, p)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(after == before, "compaction changed the logical state")
  }

  test("a delta append lands in O(delta): existing version dirs are not rewritten") {
    val p = tmp()
    MultisetStore.append(spark, p, Seq((1, "a")).toDF("k", "v"))
    val v0 = java.nio.file.Paths.get(p, "v0")
    val mtimes = java.nio.file.Files.list(v0).toArray.map(_.toString).sorted.toSeq
    MultisetStore.appendDelta(spark, p, Seq((2, "b")).toDF("k", "v"))
    val after = java.nio.file.Files.list(v0).toArray.map(_.toString).sorted.toSeq
    assert(after == mtimes, "delta append touched the existing snapshot")
    assert(MultisetStore.read(spark, p).count() == 2)
  }

  test("time travel: every retained version reconstructs its exact state") {
    val p = tmp()
    MultisetStore.append(spark, p, Seq((1, "a"), (2, "b")).toDF("k", "v")) // v0
    MultisetStore.appendDelta(spark, p, Seq((1, "a"), (3, "c")).toDF("k", "v")) // v1
    MultisetStore.appendDelta(spark, p,
      Seq((2, "b")).toDF("k", "v"), freq = -1L) // v2: delete b
    MultisetStore.compact(spark, p) // v3: snapshot
    val vs = MultisetStore.versions(p)
    assert(vs == Seq(0, 1, 2, 3))

    def stateAt(v: Int) = MultisetStore.snapshotAt(spark, p, v)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(stateAt(0) == Map((1, "a") -> 1L, (2, "b") -> 1L))
    assert(stateAt(1) == Map((1, "a") -> 2L, (2, "b") -> 1L, (3, "c") -> 1L))
    assert(stateAt(2) == Map((1, "a") -> 2L, (3, "c") -> 1L))
    // post-compaction state is identical to the pre-compaction merge
    assert(stateAt(3) == stateAt(2))
    assert(MultisetStore.readAt(spark, p, 1).count() == 4)
    // vacuum keeps only the latest snapshot: history before it is gone,
    // current state unchanged
    val current = stateAt(3)
    MultisetStore.vacuum(p)
    assert(MultisetStore.versions(p) == Seq(3))
    assert(stateAt(3) == current)
    intercept[IllegalStateException](MultisetStore.snapshotAt(spark, p, 2))
  }

  test("change feed: net deltas between versions; compaction contributes nothing") {
    val p = tmp()
    MultisetStore.append(spark, p, Seq((1, "a"), (2, "b")).toDF("k", "v")) // v0
    MultisetStore.appendDelta(spark, p, Seq((1, "a"), (3, "c")).toDF("k", "v")) // v1
    MultisetStore.compact(spark, p) // v2 — layout only
    MultisetStore.appendDelta(spark, p,
      Seq((2, "b")).toDF("k", "v"), freq = -1L) // v3

    def feed(from: Int, to: Int) = MultisetStore.changes(spark, p, from, to)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(feed(0, 1) == Map((1, "a") -> 1L, (3, "c") -> 1L))
    assert(feed(1, 2) == Map.empty, "compaction must be invisible in the feed")
    assert(feed(0, 3) == Map((1, "a") -> 1L, (2, "b") -> -1L, (3, "c") -> 1L))
    assert(feed(-1, 0) == Map((1, "a") -> 1L, (2, "b") -> 1L))
    // reconciliation law: state(from) ⊎ changes = state(to)
    val reconstructed = MultisetStore.snapshotAt(spark, p, 0)
      .unionByName(MultisetStore.changes(spark, p, 0, 3))
      .groupBy("k", "v").sum(MultisetStore.freqCol)
      .collect().filter(_.getLong(2) != 0L)
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val target = MultisetStore.snapshotAt(spark, p, 3)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(reconstructed == target)
    // once vacuum drops `from`, its state is gone: the feed raises an
    // error naming the retained range instead of returning all of state(to)
    MultisetStore.vacuum(p) // keeps v2 (the compaction snapshot) and v3
    val gone = intercept[IllegalArgumentException](feed(0, 3))
    assert(gone.getMessage.contains("[2, 3]"), gone.getMessage)
    assert(feed(2, 3) == Map((2, "b") -> -1L))
    assert(feed(-1, 3) == target, "fromVersion = -1 still reads from the start")
  }

  test("auto-compaction folds the chain once the delta trigger is reached") {
    val p = tmp()
    (1 to MultisetStore.autoCompactDeltas).foreach { i =>
      MultisetStore.appendDelta(spark, p, Seq((i, s"r$i")).toDF("k", "v"))
    }
    // the trigger fired on the last append: a snapshot now caps the chain
    // (old delta dirs remain on disk until vacuum — only the post-snapshot
    // chain counts as pending)
    val vs = new java.io.File(p).list().filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt).sorted.toSeq
    def delta(v: Int) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(p, s"v$v", "_DELTA"))
    val lastSnap = vs.filterNot(delta).lastOption
    assert(lastSnap.nonEmpty, "auto-compaction never wrote a snapshot")
    assert(vs.count(v => v > lastSnap.get && delta(v)) == 0,
      "deltas pending after the auto-compaction snapshot")
    assert(MultisetStore.read(spark, p).count() == MultisetStore.autoCompactDeltas)
  }
}
