package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._

/** Freq-compacting multiset table — the reference's storage model for
  * user tables re-expressed over parquet, with the reference's LSM write
  * shape: cheap delta appends, lazy compaction.
  *
  * In the reference every stored tuple carries an i64 frequency and the
  * write path MERGES freq per identical tuple at write time
  * (/root/reference/src/storage/src/table.rs:309-347: `freq += last_freq`
  * on key collision); INSERT appends +1 per row, DELETE appends −1 via
  * NegateFreq (delete.rs:56-60), and a read materializes `freq` copies of
  * each surviving tuple. The reference's RocksDB gets the per-key merge
  * for free from LSM compaction — writes are O(delta), merging is
  * deferred. This store keeps both contracts:
  *
  *   - state is a chain of versioned parquet dirs: a compacted SNAPSHOT
  *     (one row per distinct tuple, `__freq: Long`) plus zero or more
  *     DELTA dirs appended after it (marked by an empty `_DELTA` file —
  *     underscore-prefixed, so Spark's parquet reader ignores it);
  *   - [[appendDelta]] writes ONLY the delta — O(|delta|) I/O, the LSM
  *     write path; reads merge the chain on the fly; [[compact]] folds
  *     the chain into a fresh snapshot (triggered automatically once
  *     `autoCompactDeltas` deltas accumulate, like a size-tiered LSM);
  *   - [[append]] is the eager path — merge-on-write, one-version chain —
  *     for callers that read far more often than they write (IVM state);
  *   - an [[append]] may name `measures`: columns summed per tuple like
  *     `__freq` rather than part of the tuple's identity (an aggregate
  *     view's `sum_*` partials), so one store holds IVM state too;
  *   - `read` expands `__freq` copies per tuple (freq ≤ 0 rows yield
  *     nothing, matching the reference's read path; negative freq is
  *     retained in state, as the reference retains it, so a retraction
  *     arriving before its insert nets out correctly).
  *
  * Scale: building any read plan launches no Spark job — the scan's
  * schema comes from the footer the engine wrote ([[StoredParquet]]), not
  * from inference, so a statement pays only for the jobs it executes. The
  * compaction merge is ONE hash aggregation keyed on the tuple
  * — the same shuffle a distinct would cost — and its input is
  * |state| + Σ|delta| where |state| is bounded by distinct tuples, not
  * inserts. Delta appends never touch existing state, so ingest cost is
  * independent of table size — the property that matters when the table
  * is 100 TB and the delta is a few GB. On a real cluster, bucketing the
  * snapshot and deltas by the tuple hash makes the merge co-partitioned
  * and the exchange disappears from the compaction path.
  */
object MultisetStore {

  val freqCol = "__freq"

  /** appendDelta folds the chain into a new snapshot once this many
    * deltas are pending — bounds merge-on-read cost at a small constant
    * (the LSM level-0 file-count trigger, in spirit). */
  val autoCompactDeltas = 8

  private val deltaMarker = "_DELTA"

  private def versionsOf(path: String): Seq[Int] = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) Seq.empty
    else dir.list().filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted.toSeq
  }

  private def versionDir(path: String, v: Int) = s"$path/v$v"

  private def isDelta(path: String, v: Int): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(versionDir(path, v), deltaMarker))

  /** The snapshot-plus-deltas suffix of the version chain that defines
    * state as of version `upTo` (current state when unbounded): everything
    * from the last snapshot at-or-before `upTo` on (or every delta up to
    * it, if no snapshot precedes it). */
  private def chain(path: String, upTo: Int = Int.MaxValue): Seq[Int] = {
    val vs = versionsOf(path).filter(_ <= upTo)
    val lastSnap = vs.filterNot(isDelta(path, _)).lastOption
    lastSnap match {
      case Some(s) => vs.filter(_ >= s)
      case None    => vs
    }
  }

  /** Merge per tuple: a row's identity is its non-freq, non-measure
    * columns; `__freq` and every measure are summed (each measure keeps
    * its stored type). A row goes only once its freq AND every measure
    * net to zero, so a retraction that arrives before its insert with a
    * different measure value still nets out when the insert lands. */
  private def mergeFreq(parts: Seq[DataFrame], measures: Seq[String] = Nil): DataFrame = {
    val unioned = parts.reduce(_ unionByName _)
    val identity = unioned.columns.filterNot(c => c == freqCol || measures.contains(c)).toIndexedSeq
    unioned.groupBy(identity.map(col): _*)
      .agg(sum(col(freqCol)).as(freqCol),
        measures.map(m => sum(col(m)).cast(unioned.schema(m).dataType).as(m)): _*)
      .filter(measures.foldLeft(col(freqCol) =!= 0L)((keep, m) => keep || col(m) =!= 0))
  }

  /** Current logical state (one row per distinct tuple + freq), merging
    * pending deltas on the fly. Single-snapshot chains skip the merge —
    * the common shape after compaction — so steady-state reads are a
    * plain parquet scan. A longer chain is ONE multi-path scan (one
    * listing) rather than a union of per-version reads, so building the
    * read plan costs the same at every chain length. The scan is planned
    * from the schema stored in the oldest version's footer
    * ([[StoredParquet]]), so building it runs no Spark job. Every version
    * of a chain carries the same schema — [[appendDelta]] fits each delta
    * to it — since a multi-path scan does not widen types the way a union
    * does. */
  private def state(spark: SparkSession, path: String,
      upTo: Int = Int.MaxValue): Option[DataFrame] =
    chain(path, upTo) match {
      case Seq() => None
      case Seq(v) if !isDelta(path, v) =>
        Some(StoredParquet.read(spark, versionDir(path, v)))
      case vs =>
        Some(mergeFreq(Seq(StoredParquet.read(spark, vs.map(versionDir(path, _)): _*))))
    }

  private def normalize(df: DataFrame, freq: Long): DataFrame = {
    val dataCols = df.columns.filter(_ != freqCol).toIndexedSeq
    if (df.columns.contains(freqCol)) df.select(dataCols.map(col) :+ col(freqCol): _*)
    else df.select(dataCols.map(col): _*).withColumn(freqCol, lit(freq))
  }

  /** Claim the next version directory atomically: write `build(staging)`,
    * then rename staging → v<next>. The version dir only ever appears
    * fully formed, so a concurrent reader never observes a partial
    * snapshot; if another writer claimed the version first, the rename
    * fails, the staging output is discarded, and `retry` runs against the
    * NEW base — no delta is ever silently lost (the reference gets the
    * same guarantee from its single-writer storage engine,
    * table.rs:309-347). The commit step uses java.nio (local-filesystem
    * paths): on a distributed filesystem or object store, run
    * single-writer per path or port the claim to that store's
    * rename/conditional-put — the same discipline every file-commit
    * protocol needs there. Each of `markers` is created as an empty file
    * in the staged version before the rename, so it lands with the
    * version that commits.
    */
  private def claimNextVersion(path: String, markers: Seq[String] = Nil)(
      build: java.nio.file.Path => Unit): Int = {
    var committed = -1
    var attempts = 0
    while (committed < 0) {
      attempts += 1
      require(attempts <= 20, s"multiset write at $path lost the version race 20 times")
      val next = versionsOf(path).lastOption.map(_ + 1).getOrElse(0)
      val staging = java.nio.file.Paths.get(
        path, s"_staging_v${next}_${java.util.UUID.randomUUID().toString.take(8)}")
      build(staging)
      markers.foreach(m => java.nio.file.Files.createFile(staging.resolve(m)))
      val target = java.nio.file.Paths.get(versionDir(path, next))
      try {
        java.nio.file.Files.move(staging, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        committed = next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException
             | _: java.nio.file.FileSystemException =>
          if (java.nio.file.Files.exists(target)) deleteRecursively(staging)
          else throw new IllegalStateException(
            s"atomic rename to $target failed but the version is unclaimed")
      }
    }
    committed
  }

  /** Eager merge-on-write: folds `df` (each row weighted `freq`; +1 =
    * insert, −1 = single-copy delete — NegateFreq) and any pending deltas
    * into a fresh one-version snapshot, and returns that version.
    * O(|state|) per call; use [[appendDelta]] on write-heavy paths. The
    * merge is a union, so it widens the stored types to fit `df`'s.
    * `measures` are summed per tuple like `__freq` (see [[mergeFreq]]); a
    * store written with measures must be written only by `append`, which
    * keeps its chain one snapshot long — no other read or write merges
    * measures. */
  def append(spark: SparkSession, path: String, df: DataFrame, freq: Long = 1L,
      measures: Seq[String] = Nil): Int =
    merge(spark, path, normalize(df, freq), measures)

  private def merge(spark: SparkSession, path: String, delta: DataFrame,
      measures: Seq[String] = Nil, markers: Seq[String] = Nil): Int =
    claimNextVersion(path, markers) { staging =>
      // base re-read inside the claim loop: a lost race re-merges on the
      // winner's state, so no concurrent append is dropped
      val merged = state(spark, path) match {
        case None       => mergeFreq(Seq(delta), measures)
        case Some(base) => mergeFreq(Seq(base, delta), measures)
      }
      merged.write.mode("overwrite").parquet(staging.toString)
    }

  /** LSM write path: persist ONLY the delta — O(|delta|) I/O regardless
    * of table size — and return the version it committed. Reads merge
    * pending deltas on the fly; once [[autoCompactDeltas]] deltas
    * accumulate the chain is folded into a new snapshot (the version
    * after the returned one) so merge-on-read cost stays bounded.
    *
    * The delta is cast by name to the stored schema, which every version
    * of a chain shares. A delta whose types would narrow there (a bigint
    * against an int column, a wider decimal) is merged on write instead
    * ([[append]]), which widens the stored schema: that one write costs
    * O(|state|), and the version it returns is a snapshot. */
  def appendDelta(spark: SparkSession, path: String, df: DataFrame, freq: Long = 1L): Int =
    commitDelta(spark, path, normalize(df, freq), markers = Nil)

  /** The one delta commit: fit `delta` to the stored schema, or merge it
    * on write when that would narrow; `markers` land in whichever version
    * commits. Then auto-compact once enough deltas are pending. */
  private def commitDelta(spark: SparkSession, path: String, delta: DataFrame,
      markers: Seq[String]): Int =
    fitted(spark, path, delta) match {
      case None => merge(spark, path, delta, markers = markers)
      case Some(fit) =>
        val v = claimNextVersion(path, deltaMarker +: markers) { staging =>
          fit.write.mode("overwrite").parquet(staging.toString)
        }
        if (chain(path).count(isDelta(path, _)) >= autoCompactDeltas) compact(spark, path)
        v
    }

  /** `delta` cast by name to the schema of the latest version at `path`
    * (as is, on an empty store), or None if a column would narrow. */
  private def fitted(spark: SparkSession, path: String, delta: DataFrame): Option[DataFrame] =
    versionsOf(path).lastOption match {
      case None => Some(delta)
      case Some(v) =>
        val stored = StoredParquet.schema(spark, versionDir(path, v))
        require(stored.fieldNames.sorted.sameElements(delta.columns.sorted),
          s"delta columns [${delta.columns.mkString(", ")}] do not match " +
            s"[${stored.fieldNames.mkString(", ")}] stored at $path")
        if (stored.forall(f => Cast.canUpCast(delta.schema(f.name).dataType, f.dataType)))
          Some(delta.select(stored.map(f => col(f.name).cast(f.dataType)): _*))
        else None
    }

  private def tokenFile(token: String) =
    "_TOKEN_" + token.replaceAll("[^A-Za-z0-9._-]", "_")

  /** True iff some retained version carries `token` — the replay guard
    * for [[appendDeltaIdempotent]]. */
  def hasToken(path: String, token: String): Boolean =
    versionsOf(path).exists(v => java.nio.file.Files.exists(
      java.nio.file.Paths.get(versionDir(path, v), tokenFile(token))))

  /** [[appendDelta]] — the same schema fitting, merge-on-write fallback
    * and auto-compaction — guarded by an idempotence token: a delta already
    * committed under `token` is not applied again (returns false). This
    * is the streaming-sink contract — Structured Streaming's foreachBatch
    * re-executes a micro-batch after failure, and the batchId token makes
    * the re-execution a no-op instead of a double count (the same
    * txn-version idea Delta Lake uses for idempotent batch sinks).
    * Single writer per token namespace assumed (one streaming query);
    * [[vacuum]] drops old versions AND their tokens, so retention must
    * cover the stream's replay horizon. Auto-compaction is safe: tokens
    * survive until vacuum, not until compact. */
  def appendDeltaIdempotent(spark: SparkSession, path: String, df: DataFrame,
      token: String, freq: Long = 1L): Boolean =
    once(path, token)(marker => commitDelta(spark, path, normalize(df, freq), marker))

  /** [[append]] under the same idempotence token as
    * [[appendDeltaIdempotent]]: the token commits in the merged snapshot's
    * version, and a delta already committed under it is not applied again
    * (returns false). */
  def appendIdempotent(spark: SparkSession, path: String, df: DataFrame,
      token: String, measures: Seq[String] = Nil): Boolean =
    once(path, token)(marker => merge(spark, path, normalize(df, 1L), measures, marker))

  private def once(path: String, token: String)(commit: Seq[String] => Int): Boolean =
    !hasToken(path, token) && { commit(Seq(tokenFile(token))); true }

  /** Fold the snapshot-plus-deltas chain into a single fresh snapshot
    * version (the LSM compaction step). Older versions stay on disk for
    * in-flight readers until [[vacuum]]. */
  def compact(spark: SparkSession, path: String): Unit =
    state(spark, path).foreach { merged =>
      claimNextVersion(path) { staging =>
        merged.write.mode("overwrite").parquet(staging.toString)
      }
    }

  /** Drop every version older than the latest snapshot. Safe once no
    * reader holds a plan over the old versions. */
  def vacuum(path: String): Unit = {
    val vs = versionsOf(path)
    vs.filterNot(isDelta(path, _)).lastOption.foreach { snap =>
      vs.filter(_ < snap).foreach(v =>
        deleteRecursively(java.nio.file.Paths.get(versionDir(path, v))))
    }
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  /** The multiset expanded back to rows: `__freq` copies per tuple. */
  def read(spark: SparkSession, path: String): DataFrame =
    expand(snapshot(spark, path))

  private def expand(snap: DataFrame): DataFrame = {
    val dataCols = snap.columns.filter(_ != freqCol).toIndexedSeq
    snap.filter(col(freqCol) > 0L)
      .withColumn("__copy", explode(expr(s"sequence(1, $freqCol)")))
      .select(dataCols.map(col): _*)
  }

  /** The compacted logical state: one row per distinct tuple + freq
    * (pending deltas merged on the fly). */
  def snapshot(spark: SparkSession, path: String): DataFrame =
    state(spark, path).getOrElse(
      throw new IllegalStateException(s"no multiset snapshot at $path"))

  /** All version ids currently on disk, oldest first. */
  def versions(path: String): Seq[Int] = versionsOf(path)

  /** Time travel: the logical state AS OF `version` (inclusive) — every
    * write (append, appendDelta, compact) is one immutable version, and
    * the chain keeps old versions until [[vacuum]], so any retained
    * version reconstructs exactly. The LSM layout makes this free: state
    * at v = last snapshot ≤ v plus the deltas in between, the same merge
    * the current-state read does. (The reference's RocksDB storage holds
    * the analogous property internally via sequence numbers; here it is
    * surfaced as a first-class read API.) */
  def snapshotAt(spark: SparkSession, path: String, version: Int): DataFrame =
    state(spark, path, version).getOrElse(
      throw new IllegalStateException(s"no multiset version <= $version at $path"))

  /** [[read]] against the state as of `version`: `__freq` copies per
    * surviving tuple at that point in the history. */
  def readAt(spark: SparkSession, path: String, version: Int): DataFrame =
    expand(snapshotAt(spark, path, version))

  /** Change-data feed: the net per-tuple `__freq` delta between two
    * retained versions (positive = net inserts, negative = net deletes;
    * unchanged tuples are absent). Computed as state(to) ⊎ −state(from)
    * through the same single-aggregation merge every read uses, so it is
    * correct across BOTH write paths — a compaction version between the
    * two endpoints contributes nothing, because compaction changes layout,
    * not state (MultisetStoreSpec pins that, plus the reconciliation law
    * state(from) ⊎ changes = state(to)). `fromVersion = -1` reads the
    * feed from the beginning of history; a `fromVersion` that
    * [[vacuum]] has dropped raises IllegalArgumentException naming the
    * retained range, since its state can no longer be read. When every
    * version in (from, to] is a delta, the feed is just those deltas
    * merged: no state is read, so the feed of one delta append costs
    * O(|delta|). */
  def changes(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion < toVersion,
      s"changes needs fromVersion < toVersion, got [$fromVersion, $toVersion]")
    val between = (fromVersion + 1) to toVersion
    if (between.forall(isDelta(path, _)))
      mergeFreq(Seq(StoredParquet.read(spark, between.map(versionDir(path, _)): _*)))
    else {
      val to = state(spark, path, toVersion).getOrElse(
        throw new IllegalStateException(s"no multiset version <= $toVersion at $path"))
      state(spark, path, fromVersion) match {
        case None if fromVersion >= 0 =>
          val vs = versionsOf(path)
          throw new IllegalArgumentException(s"changes from version $fromVersion " +
            s"out of the retained range [${vs.head}, ${vs.last}] at $path")
        case None => to
        case Some(from) =>
          mergeFreq(Seq(to, from.withColumn(freqCol, -col(freqCol))))
      }
    }
  }
}
